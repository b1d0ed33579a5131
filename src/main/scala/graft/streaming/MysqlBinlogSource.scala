package graft.streaming

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** DataSourceV2 over REAL MySQL binlog files ([[MysqlBinlog]] wire
  * format) — the north-star St2 consumer: "Structured Streaming reading
  * the MySQL binlog" (BASELINE.json; the reference persists exactly
  * these log-file coordinates, mysql_to_clickhouse_sync.py:175-181).
  *
  * Two read modes off one format:
  *   - BATCH: `path` may be a file, directory, or glob — ONE input
  *     partition per binlog file. A binlog is a serial stream per
  *     source server, so the file is the parallelism unit (many
  *     servers → many files → many partitions), exactly the sharding a
  *     100 TB multi-source deployment has.
  *   - MICRO_BATCH: `path` is the head of a growing log CHAIN; the
  *     streaming offset is `(file, byte position of an event boundary)`
  *     — the same (File, Position) coordinate pair the reference
  *     snapshots from SHOW MASTER STATUS. `latestOffset` admits only
  *     whole events, never splits a TABLE_MAP from the rows events it
  *     describes, re-reads nothing (each trigger costs O(newly appended
  *     bytes)), and FOLLOWS ROTATION: when a file is drained and closed
  *     by a ROTATE event, the tail moves to the successor file exactly
  *     as a replication client does. An admitted range of 8 MiB or
  *     more is scanned as up to `defaultParallelism` contiguous input
  *     partitions of at least 4 MiB each, cut at transaction fences
  *     ([[MysqlBinlogSource.planRanges]]); a smaller range is one
  *     partition.
  *
  * Output schema = the engine's ChangeEvent shape plus `src`: op,
  * table, key, ts, seq, payload. In batch mode `src` is the file's
  * basename (one file per server there); in micro-batch mode it is the
  * CHAIN id — the configured head path — which stays constant across
  * rotation and distinguishes servers that all name their logs
  * `binlog.00000N` (the physical file is recoverable from seq's epoch
  * bits). Downstream is [[CdcPipeline]] unchanged — which is the
  * point: the bespoke TSV stand-in ([[BinlogSource]]) and this
  * real-format source feed the same apply path.
  */
class MysqlBinlogSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MysqlBinlogSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new MysqlBinlogTable(properties.asScala.toMap)
}

object MysqlBinlogSource {
  val schema: StructType = StructType(Seq(
    StructField("op", StringType, nullable = false),
    StructField("table", StringType, nullable = false),
    StructField("key", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("payload", StringType, nullable = true),
    StructField("src", StringType, nullable = false),
    // before-image JSON for updates/deletes (delta/IVM consumers);
    // appended LAST so positional readers of the original columns
    // never move
    StructField("payload_before", StringType, nullable = true)))

  /** Expand a path/dir/glob into the sorted list of binlog files. */
  def expand(path: String): Seq[String] = {
    val p = Paths.get(path)
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.map(_.toString)
        .filter(_.endsWith(".binlog")).toSeq.sorted
    else if (path.contains("*")) {
      val dir = p.getParent
      val matcher = java.nio.file.FileSystems.getDefault
        .getPathMatcher("glob:" + p.getFileName.toString)
      if (dir == null || !Files.isDirectory(dir)) Seq.empty
      else Files.list(dir).iterator().asScala
        .filter(f => matcher.matches(f.getFileName))
        .map(_.toString).toSeq.sorted
    } else Seq(path)
  }

  /** Tail MANY server log chains as one stream — the multi-source
    * deployment shape (a 100 TB estate is N servers × one serial log
    * chain each). One micro-batch source per head file, unioned:
    * Spark checkpoints each source's (file, byte) offset independently,
    * every trigger advances all tails, and rotation/admission behave
    * per chain exactly as for a single tail. Downstream keys on
    * (src, key), so per-server ordering survives the union.
    */
  def unionTails(spark: org.apache.spark.sql.SparkSession,
                 heads: Seq[String],
                 options: Map[String, String] = Map.empty): org.apache.spark.sql.DataFrame = {
    require(heads.nonEmpty, "unionTails needs at least one head file")
    heads.map { h =>
      var r = spark.readStream
        .format(classOf[MysqlBinlogSourceProvider].getName)
      options.foreach { case (k, v) => r = r.option(k, v) }
      r.option("path", h).load()
    }.reduce(_.unionByName(_))
  }

  /** GTID auto-position, BATCH form: read a recorded chain from the
    * first transaction NOT in `executedSet` — the same
    * [[positionAfterGtids]] scan the streaming tail runs at a
    * `startGtid` start (their equivalence is pinned in
    * MysqlBinlogStreamSpec), applied to the one-partition-per-file
    * batch scan. The chain is walked from `head` across trailing
    * ROTATEs; files wholly before the position are skipped entirely,
    * and the position file's already-executed prefix is dropped by a
    * `seq` lower bound (seq = epoch<<44 + bytePos*64 + row, so the
    * byte position IS the order). Row-image decode only happens for
    * files actually read — the skip costs one header+GTID pass.
    */
  def batchReadFromGtid(spark: org.apache.spark.sql.SparkSession,
                        head: String,
                        executedSet: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val off = positionAfterGtids(head, executedSet)
    // chain files from the position file onward (successors via the
    // same trailing-ROTATE walk the stream follows)
    var files = Vector(off.file)
    var cur = off.file
    var continue = true
    while (continue) trailingRotate(cur) match {
      case Some(n) if Files.exists(Paths.get(n)) => files :+= n; cur = n
      case _ => continue = false
    }
    val minSeq = (fileEpoch(off.file) << 44) + off.bytes * 64
    files.map { f =>
      val df = spark.read
        .format(classOf[MysqlBinlogSourceProvider].getName)
        .option("path", f).load()
      if (f == off.file) df.filter(col("seq") >= lit(minSeq)) else df
    }.reduce(_.unionByName(_))
  }

  /** Chain EPOCH of a log file: the value packed into seq's high bits —
    * 19 bits of epoch over 44 bits of (byte position × 64) — so the
    * (ts, seq) version collapse stays a total order ACROSS rotation:
    * byte positions reset in the successor file, and without the epoch
    * a same-second update early in the new log would lose to a stale
    * row late in the old one. Bounds: files to 256 GiB (MySQL caps at
    * 1 GiB), 524 287 epochs.
    *
    * Who assigns it: the MICRO-BATCH stream carries the epoch in its
    * offset and increments it at each rotation it follows — monotonic
    * BY CONSTRUCTION, immune to suffix wrap or a successor named
    * without a larger numeric tail. `fileEpoch` (the name's numeric
    * suffix, `bin.000042` → 42) only SEEDS a fresh stream's first
    * offset and serves the one-partition-per-file BATCH scan, where the
    * sorted file list is the chain order; on a sane server chain the
    * suffix increments by exactly 1 per rotation, so the two
    * assignments agree. Suffixes beyond 19 bits are masked in the seed
    * (the seed only needs to be SOME valid starting point; the stream's
    * own arithmetic never wraps below [[maxEpoch]], where it fails
    * loudly rather than reordering).
    */
  private[streaming] val maxEpoch = 0x7FFFFL

  private[streaming] def fileEpoch(file: String): Long = {
    val name = Paths.get(file).getFileName.toString
    val digits = name.reverse.takeWhile(_.isDigit).reverse
    if (digits.isEmpty) 0L
    else java.lang.Long.parseLong(digits.takeRight(18)) & maxEpoch
  }

  private[streaming] def seqBase(file: String): Long = fileEpoch(file) << 44

  private[streaming] def toRow(e: ChangeEvent, src: String): InternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(e.op), UTF8String.fromString(e.table), e.key,
      e.ts.getTime * 1000L + (e.ts.getNanos / 1000) % 1000,
      e.seq, if (e.payload == null) null else UTF8String.fromString(e.payload),
      UTF8String.fromString(src),
      if (e.payloadBefore == null) null
      else UTF8String.fromString(e.payloadBefore)))

  /** GTID auto-position, consumer side — what `CHANGE REPLICATION
    * SOURCE TO SOURCE_AUTO_POSITION=1` does with the replica's executed
    * set, run against a recorded chain: walk the chain from `head`,
    * skip every transaction whose GTID is already in `executedSet` (the
    * reference's metadata.txt third line / the fence's
    * `Executed_Gtid_Set`), and return the offset of the FIRST
    * unexecuted transaction's GTID event — `(file, byte, epoch)`, with
    * the epoch accumulated exactly as the stream's own rotation-follow
    * arithmetic would have. A chain whose every transaction is executed
    * positions at the live tail's EOF (the stream parks there and
    * follows growth).
    *
    * Refusals (all loud, never a silent wrong position):
    *   - a file whose PREVIOUS_GTIDS is NOT a subset of `executedSet`
    *     holds history from before the set was recorded that the chain
    *     no longer retains — the MySQL "required GTIDs purged" error;
    *   - a rows event before any GTID decision (anonymous transaction,
    *     gtid_mode=OFF) cannot be classified executed-or-not.
    *
    * Cost: one pass over the skipped prefix reading headers + GTID
    * bodies only (`decodeRows = false` — no row-image decode), ONCE per
    * stream start; committed checkpoints take over from there.
    */
  private[streaming] def positionAfterGtids(head: String,
                                            executedSet: String): MysqlBinlogOffset = {
    val executed = MysqlBinlog.parseGtidSet(executedSet)
    var file = head
    var epoch = fileEpoch(head)
    var result: MysqlBinlogOffset = null
    while (result == null) {
      val events = MysqlBinlog.parse(
        Files.readAllBytes(Paths.get(file)), decodeRows = false)
      var lastGtidExecuted: Option[Boolean] = None
      val it = events.iterator
      while (result == null && it.hasNext) it.next() match {
        case pg: MysqlBinlog.PreviousGtids =>
          if (!MysqlBinlog.gtidSubset(MysqlBinlog.parseGtidSet(pg.set), executed))
            throw new IllegalStateException(
              s"GTID auto-position: $file starts at executed set '${pg.set}' " +
                s"not contained in the requested start set '$executedSet' — " +
                "the chain no longer retains the history the set predates " +
                "(MySQL: required GTIDs have been purged)")
        case g: MysqlBinlog.Gtid =>
          if (!MysqlBinlog.gtidContains(executed, g.uuid, g.gno))
            result = MysqlBinlogOffset(file, g.startPos, epoch)
          else lastGtidExecuted = Some(true)
        // transaction end: the GTID's classification covers exactly ITS
        // transaction — without this reset, an ANONYMOUS transaction
        // following an executed one would inherit Some(true) and be
        // silently skipped instead of refused below. XID is the
        // transactional commit; a Query event OTHER than BEGIN (DDL, or
        // COMMIT for non-transactional engines) also ends its
        // transaction — BEGIN must NOT reset, it arrives between a GTID
        // and its rows
        case _: MysqlBinlog.Xid => lastGtidExecuted = None
        case q: MysqlBinlog.Query
            if !q.query.trim.equalsIgnoreCase("BEGIN") =>
          lastGtidExecuted = None
        case o: MysqlBinlog.Opaque
            if (o.header.eventType == MysqlBinlog.WRITE_ROWS_EVENT ||
                o.header.eventType == MysqlBinlog.UPDATE_ROWS_EVENT ||
                o.header.eventType == MysqlBinlog.DELETE_ROWS_EVENT) &&
              lastGtidExecuted.isEmpty =>
          throw new IllegalStateException(
            s"GTID auto-position: rows event at $file:${o.startPos} belongs " +
              "to a transaction with no GTID (gtid_mode=OFF?) — cannot " +
              "classify it against the start set")
        case _ => ()
      }
      // every transaction in this file is executed: follow a trailing
      // ROTATE into the successor, or park at the (live or
      // successor-not-yet-created) tail's EOF — the stream's own
      // rotate-follow takes over from there
      if (result == null) events.lastOption match {
        case Some(r: MysqlBinlog.Rotate) =>
          val parent = Paths.get(file).getParent
          val next = (if (parent == null) Paths.get(r.nextFile)
                      else parent.resolve(r.nextFile)).toString
          if (!Files.exists(Paths.get(next)))
            result = MysqlBinlogOffset(file, Files.size(Paths.get(file)), epoch)
          else {
            file = next
            epoch += 1
            if (epoch > maxEpoch) throw new IllegalStateException(
              s"binlog chain epoch $epoch exceeds the 19-bit seq field")
          }
        case _ =>
          result = MysqlBinlogOffset(file, Files.size(Paths.get(file)), epoch)
      }
    }
    result
  }

  /** Next safe event-boundary offset admitting up to `maxEvents` ROW
    * events from `startByte` (4 = just past the magic for a fresh
    * stream). Reads only headers — O(events), no payload decode (one
    * small pread per QUERY event to distinguish `BEGIN` from a
    * txn-closing statement) — and never stops directly after a
    * TABLE_MAP, so every admitted range is self-decoding (MySQL
    * guarantees a TABLE_MAP immediately precedes the rows events it
    * describes). A partial trailing event (writer mid-append) is never
    * admitted.
    *
    * With `txnAtomic` (the default), a boundary inside a transaction is
    * additionally unsafe: admission stops only after an XID commit, a
    * TRANSACTION_PAYLOAD wrapper (a whole compressed txn), or a
    * non-BEGIN QUERY statement (DDL, or COMMIT for non-transactional
    * engines). Without it, a byte/event cap could cut BETWEEN two
    * tables' rows events of one multi-table transaction, and every
    * downstream consumer of that micro-batch (state apply, a maintained
    * join view) would expose an intermediate state no MySQL reader can
    * see — torn, not just stale. Caps then bind at the first fence at
    * or past them (≥1 whole transaction per trigger, so a single
    * transaction larger than the cap still makes progress); a file
    * whose tail is a fence-less partial transaction (writer mid-commit,
    * or a crash the server would itself truncate on recovery) admits up
    * to the last fence and waits.
    *
    * Returns [[Advance]]: `safe` is the boundary; `scannedToEof` is
    * true when this call's scan covered the file through its last whole
    * event (so `rotate` is authoritative for the file AT THIS SIZE and
    * the caller may cache it); `rotate` carries a trailing ROTATE's
    * successor resolved against this file's directory (NOT
    * existence-checked — the stream decides whether to follow now or
    * park until the server creates it).
    */
  private[streaming] final case class Advance(safe: Long,
                                              scannedToEof: Boolean,
                                              rotate: Option[String])

  private[graft] def advance(path: String, startByte: Long,
                                 maxEvents: Long,
                                 maxBytes: Long = Long.MaxValue,
                                 txnAtomic: Boolean = true): Advance = {
    if (!Files.exists(Paths.get(path))) return Advance(startByte, false, None)
    val size = Files.size(Paths.get(path))
    val ch = java.nio.channels.FileChannel.open(
      Paths.get(path), java.nio.file.StandardOpenOption.READ)
    try {
      var pos = math.max(startByte, 4L)
      val first = pos
      var safe = pos
      var rowEvents = 0L
      var lastType = -1
      var lastStart = -1L
      var lastSize = 0
      var inTxn = false
      val hdr = java.nio.ByteBuffer.allocate(MysqlBinlog.CommonHeaderLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      // caps stop at the first SAFE boundary at or past them — whole
      // events (whole transactions under txnAtomic) only, and the loop
      // runs until at least ONE safe boundary exists so a single
      // event/transaction larger than the cap still makes progress
      while (pos + MysqlBinlog.CommonHeaderLen <= size &&
             (safe == first ||
               (rowEvents < maxEvents && safe - first < maxBytes))) {
        hdr.clear()
        var off = pos
        while (hdr.hasRemaining) {
          val n = ch.read(hdr, off)
          if (n < 0) return Advance(safe, false, None)
          off += n
        }
        val eventType = hdr.get(4) & 0xff
        val eventSize = hdr.getInt(9)
        if (eventSize < MysqlBinlog.CommonHeaderLen || pos + eventSize > size)
          return Advance(safe, false, None) // partial/corrupt tail
        lastType = eventType; lastStart = pos; lastSize = eventSize
        // transaction fences (header-only, except QUERY): GTID or
        // BEGIN opens; XID, a whole-txn payload wrapper, or a
        // non-BEGIN statement (DDL / COMMIT) closes. TABLE_MAP / rows
        // / ROWS_QUERY also open, for fixture logs with no GTID
        // preamble (gtid_mode=OFF).
        eventType match {
          case MysqlBinlog.GTID_EVENT | MysqlBinlog.ANONYMOUS_GTID_EVENT |
               MysqlBinlog.TABLE_MAP_EVENT | MysqlBinlog.ROWS_QUERY_EVENT |
               MysqlBinlog.WRITE_ROWS_EVENT | MysqlBinlog.UPDATE_ROWS_EVENT |
               MysqlBinlog.DELETE_ROWS_EVENT |
               MysqlBinlog.PARTIAL_UPDATE_ROWS_EVENT =>
            inTxn = true
          case MysqlBinlog.XID_EVENT | MysqlBinlog.TRANSACTION_PAYLOAD_EVENT =>
            inTxn = false
          case MysqlBinlog.QUERY_EVENT =>
            inTxn = queryIsBegin(ch, pos, eventSize)
          case _ => () // FDE / PREVIOUS_GTIDS / ROTATE / STOP: outside
        }
        pos += eventSize
        // a TRANSACTION_PAYLOAD wrapper counts as one row event for
        // pacing: its rows are invisible until decompression, and a
        // header-only scan must still bound per-trigger admission
        if (eventType == MysqlBinlog.WRITE_ROWS_EVENT ||
            eventType == MysqlBinlog.UPDATE_ROWS_EVENT ||
            eventType == MysqlBinlog.DELETE_ROWS_EVENT ||
            eventType == MysqlBinlog.PARTIAL_UPDATE_ROWS_EVENT ||
            eventType == MysqlBinlog.TRANSACTION_PAYLOAD_EVENT) rowEvents += 1
        // a boundary directly after TABLE_MAP would orphan its rows;
        // under txnAtomic a boundary inside a transaction would tear it
        if (eventType != MysqlBinlog.TABLE_MAP_EVENT &&
            !(txnAtomic && inTxn)) safe = pos
      }
      // authoritative for the file at this size only if this call's
      // scan actually reached the last whole event from below
      val coveredEof = first < size && pos == size
      val rotate =
        if (coveredEof && safe == size &&
            lastType == MysqlBinlog.ROTATE_EVENT)
          rotateSuccessor(ch, path, lastStart, lastSize)
        else None
      Advance(safe, coveredEof, rotate)
    } finally ch.close()
  }

  /** Smallest sub-range [[planRanges]] cuts: a range under twice this
    * stays one partition, so small, latency-bound triggers keep a
    * single task and pay no split scan.
    */
  private val MinSplitBytes = 4L << 20

  /** Cut one admitted micro-batch range into
    * `n = max(1, min(parts, ⌊bytes / minBytes⌋))` contiguous
    * sub-ranges in log order, one input partition each. Each interior
    * cut is the first transaction fence at or past an equal-bytes
    * target, found by the header-only [[advance]] scan (txnAtomic
    * fences even for an event-granular stream), so every sub-range
    * starts where a trigger could: outside any transaction, ahead of
    * its own TABLE_MAPs, decoding standalone with the FDE from
    * [[MysqlBinlog.readFde]]. `seq` derives from byte positions, so the
    * rows and their order are exactly those of the whole range. A
    * target inside a transaction that runs past the next target (or
    * the range end) yields fewer, larger sub-ranges — never a torn one.
    * `parts` and `minBytes` are parameters for tests; the stream passes
    * `defaultParallelism` and [[MinSplitBytes]].
    */
  private[streaming] def planRanges(r: MysqlBinlogRange, parts: Int,
                                    minBytes: Long = MinSplitBytes)
      : Array[MysqlBinlogRange] = {
    val bytes = r.endByte - r.startByte
    val n = math.max(1L, math.min(parts.toLong, bytes / minBytes)).toInt
    val bounds = Array.newBuilder[Long] += r.startByte
    var prev = r.startByte
    var i = 1
    while (i < n && prev < r.endByte) {
      val target = r.startByte + bytes * i / n
      if (prev < target) {
        val cut = advance(r.file, prev, Long.MaxValue, target - prev,
          txnAtomic = true).safe
        prev = if (cut > prev && cut < r.endByte) { bounds += cut; cut }
               else r.endByte
      }
      i += 1
    }
    (bounds += r.endByte).result().sliding(2)
      .map(b => r.copy(startByte = b(0), endByte = b(1))).toArray
  }

  /** Decode one micro-batch range standalone: an O(1) head read for the
    * FDE (checksum algorithm), then one seek — a range never re-reads
    * history before its start byte.
    */
  private[streaming] def rangeEvents(r: MysqlBinlogRange): Iterator[ChangeEvent] = {
    val fde = MysqlBinlog.readFde(r.file)
    val bytes = new Array[Byte]((r.endByte - r.startByte).toInt)
    val ch = java.nio.channels.FileChannel.open(
      Paths.get(r.file), java.nio.file.StandardOpenOption.READ)
    try {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      var off = r.startByte
      while (bb.hasRemaining) {
        val n = ch.read(bb, off)
        if (n < 0) throw new java.io.EOFException(
          s"binlog $r truncated below committed offset")
        off += n
      }
    } finally ch.close()
    MysqlBinlog.changeEventsIterator(
      MysqlBinlog.eventIterator(bytes, base = r.startByte, fde = Some(fde)),
      r.epoch << 44)
  }

  /** Does the QUERY event at `start` carry the statement `BEGIN` (a
    * transaction opener) rather than a DDL / COMMIT (closers)? One
    * bounded pread of the event prefix; checksum-agnostic — only the
    * text's first bytes are compared. Layout per the FDE's declared
    * 13-byte post-header: thread_id(4) exec_time(4) schema_len(1)
    * error_code(2) status_len(2), then status vars, schema, NUL, text.
    */
  private def queryIsBegin(ch: java.nio.channels.FileChannel,
                           start: Long, eventSize: Int): Boolean = {
    val want = math.min(eventSize, 512)
    val buf = java.nio.ByteBuffer.allocate(want)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var off = start
    while (buf.hasRemaining) {
      val n = ch.read(buf, off)
      if (n < 0) return false
      off += n
    }
    val h = MysqlBinlog.CommonHeaderLen
    if (want < h + 13) return false
    val schemaLen = buf.get(h + 8) & 0xff
    val statusLen = ((buf.get(h + 11) & 0xff) |
      ((buf.get(h + 12) & 0xff) << 8))
    val textAt = h + 13 + statusLen + schemaLen + 1
    textAt + 5 <= want &&
      buf.get(textAt) == 'B' && buf.get(textAt + 1) == 'E' &&
      buf.get(textAt + 2) == 'G' && buf.get(textAt + 3) == 'I' &&
      buf.get(textAt + 4) == 'N'
  }

  /** Header-scan the whole file to find whether its FINAL whole event
    * is a trailing ROTATE; returns the successor resolved beside
    * `path` (not existence-checked). Used for an offset already PARKED
    * at the EOF of a closed log whose scan verdict isn't memoized
    * (e.g. a fresh stream restarted at EOF) — one full pass of
    * [[advance]] from the head, which callers then cache.
    */
  private[streaming] def trailingRotate(path: String): Option[String] =
    advance(path, 4L, Long.MaxValue, Long.MaxValue).rotate

  /** Decode a ROTATE event's successor name (post-header: 8-byte
    * position, then the file name, minus the CRC32 trailer when the
    * log's FDE declares checksums) and resolve it beside `path` —
    * WITHOUT an existence check, so callers can cache the name while
    * waiting for the server to create the file.
    */
  private def rotateSuccessor(ch: java.nio.channels.FileChannel,
                              path: String, start: Long,
                              size: Int): Option[String] = {
    val bytes = new Array[Byte](size)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var off = start
    while (bb.hasRemaining) {
      val n = ch.read(bb, off)
      if (n < 0) return None
      off += n
    }
    val checksummed =
      MysqlBinlog.readFde(path).checksumAlg == MysqlBinlog.ChecksumCrc32
    val nameFrom = MysqlBinlog.CommonHeaderLen + 8
    val nameTo = size - (if (checksummed) 4 else 0)
    if (nameTo <= nameFrom) return None
    val name = new String(bytes, nameFrom, nameTo - nameFrom,
      java.nio.charset.StandardCharsets.UTF_8)
    val parent = Paths.get(path).getParent
    Some((if (parent == null) Paths.get(name)
          else parent.resolve(name)).toString)
  }
}

class MysqlBinlogTable(props: Map[String, String]) extends Table with SupportsRead {
  private val path = props.getOrElse("path",
    throw new IllegalArgumentException("mysql-binlog source requires 'path'"))
  override def name(): String = s"mysql-binlog($path)"
  override def schema(): StructType = MysqlBinlogSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = MysqlBinlogSource.schema
        override def toBatch: Batch = new MysqlBinlogBatch(path)
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new MysqlBinlogMicroBatchStream(path,
            options.getLong("maxEventsPerTrigger", Long.MaxValue),
            options.getLong("maxBytesPerTrigger", Long.MaxValue),
            Option(options.get("startFile")),
            Option(options.get("startPos")).map(_.toLong),
            Option(options.get("startGtid")),
            options.getBoolean("txnAtomic", true))
      }
    }
}

// -- batch: one partition per binlog file ------------------------------
case class MysqlBinlogFilePartition(file: String) extends InputPartition

class MysqlBinlogBatch(path: String) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    MysqlBinlogSource.expand(path)
      .map(MysqlBinlogFilePartition(_): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val file = p.asInstanceOf[MysqlBinlogFilePartition].file
        // stream bytes → events → rows: the reader holds the raw file
        // plus ONE in-flight event, never a file-sized Vector
        // (MysqlBinlog.eventIterator — the memory-scale path)
        val events = MysqlBinlog.changeEventsIterator(
          MysqlBinlog.eventIterator(
            Files.readAllBytes(Paths.get(file))),
          MysqlBinlogSource.seqBase(file))
        val src = Paths.get(file).getFileName.toString
        new PartitionReader[InternalRow] {
          private val it = events
          private var cur: InternalRow = _
          override def next(): Boolean =
            if (it.hasNext) { cur = MysqlBinlogSource.toRow(it.next(), src); true }
            else false
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
      }
    }
}

// -- micro-batch: (file, byte) offsets over a growing log chain --------
/** `epoch` is the chain's rotation count (seq's high bits) — tracked in
  * the offset so it is monotonic by construction across rotation
  * regardless of how the server names successors. `-1` marks an offset
  * deserialized from a pre-epoch checkpoint: the effective epoch then
  * falls back to the file name's numeric suffix, which is what those
  * checkpoints' seq values were built from.
  */
case class MysqlBinlogOffset(file: String, bytes: Long,
                             epoch: Long = -1L) extends Offset {
  def effectiveEpoch: Long =
    if (epoch >= 0L) epoch else MysqlBinlogSource.fileEpoch(file)
  override def json(): String = {
    val f = file.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"format":"mysql-binlog","file":"$f","bytes":$bytes,"epoch":$epoch}"""
  }
}

case class MysqlBinlogRange(file: String, startByte: Long, endByte: Long,
                            epoch: Long)
  extends InputPartition

class MysqlBinlogMicroBatchStream(path: String, maxEventsPerTrigger: Long,
                                  maxBytesPerTrigger: Long = Long.MaxValue,
                                  startFile: Option[String] = None,
                                  startPos: Option[Long] = None,
                                  startGtid: Option[String] = None,
                                  txnAtomic: Boolean = true)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  /** Where a FRESH stream (no checkpoint yet) begins. Default is
    * (head file, 4 = directly after the magic — the first admitted
    * range starts at the FORMAT_DESCRIPTION event, which the parser
    * requires anyway). `startFile`/`startPos` override it with a
    * recorded SHOW-MASTER-STATUS coordinate — the reference's
    * metadata.txt exists precisely so replication starts THERE, not at
    * the log head (mysql_to_clickhouse_sync.py:175-183). startPos must
    * be an event boundary (the server's reported position always is);
    * a mid-event position fails the first range's parse loudly rather
    * than mis-decoding. `startGtid` instead derives the start from the
    * executed-GTID set (metadata.txt's THIRD line) by scanning past
    * already-executed transactions ([[MysqlBinlogSource.positionAfterGtids]])
    * — MASTER_AUTO_POSITION, and the more robust coordinate: it stays
    * valid across a source failover that renumbers log files. Once a
    * checkpoint exists, its committed offset wins — the start options
    * only seed the very first run.
    */
  override def initialOffset(): Offset = startGtid match {
    case Some(g) =>
      require(startFile.isEmpty && startPos.isEmpty,
        "startGtid and startFile/startPos are mutually exclusive — " +
          "GTID auto-position derives the file and position itself")
      MysqlBinlogSource.positionAfterGtids(path, g)
    case None =>
      val f = startFile.getOrElse(path)
      startPos.foreach(p => require(p >= 4L,
        s"startPos $p is inside the magic; positions start at 4"))
      // seed the chain epoch from the start file's name ONCE; from here
      // on the offset's own rotation count carries it
      MysqlBinlogOffset(f, startPos.getOrElse(4L),
        MysqlBinlogSource.fileEpoch(f))
  }

  /** Advance within the offset's CURRENT file; when the file is drained
    * and closed by a ROTATE whose successor exists, the returned offset
    * jumps to `(successor, 4)` — the tail follows the server across log
    * rotation exactly as a replication client does, one file per
    * trigger. The rotated-away tail bytes stay billed to this trigger's
    * range ([[planInputPartitions]] reads start.file to its stable
    * closed-file end).
    */
  /** Memo of one parked-at-EOF trailing-rotate probe: a CLOSED file at
    * a given size never changes, so the header scan runs once per park;
    * only the successor's cheap existence stat repeats per idle trigger.
    */
  private var parkProbe: Option[(String, Long, Option[String])] = None

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[MysqlBinlogOffset]
    val a = MysqlBinlogSource.advance(s.file, s.bytes, maxEventsPerTrigger,
      maxBytesPerTrigger, txnAtomic)
    // a scan that covered the file's tail is authoritative at this
    // size — remember its verdict (rotate name OR no-rotate) so idle
    // triggers never rescan, and a rotate whose successor is still
    // missing isn't forgotten and rediscovered by a full-file pass
    if (a.scannedToEof) parkProbe = Some((s.file, a.safe, a.rotate))
    val rotate = a.rotate.orElse {
      // parked (no progress this trigger): the trailing-rotate verdict
      // comes from the memo when an earlier call scanned this size, and
      // from ONE header scan otherwise (e.g. a restart parked at EOF)
      if (a.safe != s.bytes || !Files.exists(Paths.get(s.file))) None
      else {
        val size = Files.size(Paths.get(s.file))
        if (a.safe < size) None
        else parkProbe match {
          case Some((f, sz, name)) if f == s.file && sz == size => name
          case _ =>
            val name = MysqlBinlogSource.trailingRotate(s.file)
            parkProbe = Some((s.file, size, name))
            name
        }
      }
    }
    rotate.filter(n => Files.exists(Paths.get(n))) match {
      case Some(next) =>
        // rotation increments the chain epoch — monotonic by
        // construction, whatever the successor's name (suffix wrap, a
        // renamed chain); past the 19-bit seq field, fail loudly
        // rather than let the version collapse reorder
        val e = s.effectiveEpoch + 1
        if (e > MysqlBinlogSource.maxEpoch) throw new IllegalStateException(
          s"binlog chain epoch $e exceeds the ${MysqlBinlogSource.maxEpoch} " +
            "rotations the 19-bit seq epoch field can order; " +
            "restart the chain from a fresh checkpoint")
        MysqlBinlogOffset(next, 4L, e)
      case None => MysqlBinlogOffset(s.file, a.safe, s.effectiveEpoch)
    }
  }

  /** Informational only (progress reporting): the size of the
    * CONFIGURED head file — after rotation the true backlog also spans
    * successors, which the committed offsets track precisely.
    */
  override def reportLatestOffset(): Offset =
    MysqlBinlogOffset(path,
      if (Files.exists(Paths.get(path))) Files.size(Paths.get(path)) else 4L)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used (SupportsAdmissionControl)")

  override def deserializeOffset(json: String): Offset = {
    if (!json.contains("mysql-binlog"))
      throw new IllegalStateException(
        s"incompatible checkpoint offset for mysql-binlog source: $json — " +
          "delete the checkpoint dir to restart from the log head")
    val bytes = """"bytes":(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(4L)
    // pre-rotation checkpoints carry no file field: they mean the
    // configured head file
    val file = """"file":"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(json)
      .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
      .getOrElse(path)
    // pre-epoch checkpoints carry no epoch field: -1 → effectiveEpoch
    // falls back to the file-name suffix those checkpoints encoded with
    val epoch = """"epoch":(-?\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(-1L)
    MysqlBinlogOffset(file, bytes, epoch)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[MysqlBinlogOffset]
    val e = end.asInstanceOf[MysqlBinlogOffset]
    // rotation boundary: the range is the remaining tail of the closed
    // predecessor (its size is stable — the server moved on); the
    // successor's bytes start accruing next trigger from e.bytes=4.
    // The epoch is the PREDECESSOR's (these rows physically live in
    // s.file); e.epoch = s.epoch + 1 applies from the next range on.
    val endByte =
      if (s.file == e.file) e.bytes else Files.size(Paths.get(s.file))
    if (endByte <= s.bytes) Array.empty
    else MysqlBinlogSource.planRanges(
      MysqlBinlogRange(s.file, s.bytes, endByte, s.effectiveEpoch),
      org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism)
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // local copy: the factory ships to executors, the stream does not
    val chainId = path
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val events =
          MysqlBinlogSource.rangeEvents(p.asInstanceOf[MysqlBinlogRange])
        // src is the CHAIN identity — the configured head path, stable
        // across rotation and unique across servers (a per-file
        // basename would flip at every rotation and collide between
        // servers that all name their logs binlog.00000N); the file a
        // row physically came from is recoverable from seq's epoch bits
        val src = chainId
        new PartitionReader[InternalRow] {
          private val it = events
          private var cur: InternalRow = _
          override def next(): Boolean =
            if (it.hasNext) { cur = MysqlBinlogSource.toRow(it.next(), src); true }
            else false
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
      }
    }
  }
}
