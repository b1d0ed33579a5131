package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** MySQL binlog v4 BINARY format — parser (St2 north star: "Structured
  * Streaming reading the MySQL binlog"). The reference records binlog
  * coordinates for a future consumer (mysql_to_clickhouse_sync.py:175-181);
  * this is that consumer's wire-format decoder, written from the
  * publicly documented format (MySQL Internals manual, "Binary Log
  * Versions" / "Row Based Replication"): 4-byte magic `FE 62 69 6E`,
  * 19-byte v4 common event header, FORMAT_DESCRIPTION with per-type
  * post-header lengths + CRC32 checksum algorithm flag, TABLE_MAP with
  * column types/metadata (+ MySQL 8.0 `binlog_row_metadata=FULL`
  * optional TLVs for column names/signedness), and v2 rows events
  * (WRITE/UPDATE/DELETE_ROWS, codes 30/31/32) with columns-present and
  * per-row null bitmaps.
  *
  * Scope: the row-image column types the sync surface carries (§1.2
  * type ladder): TINY/SHORT/INT24/LONG/LONGLONG, FLOAT/DOUBLE, YEAR,
  * DATE, DATETIME2/TIMESTAMP2 (big-endian packed, microsecond fsp),
  * NEWDECIMAL (base-10^9 packed, [[MysqlDecimalBinary]]), TIME2
  * (signed packed + fsp), ENUM/SET (resolved from the wire's
  * type-254 embedding, surfaced as declared labels when the 8.0
  * string-value TLVs are present), BIT (≤64 bits),
  * VARCHAR/VAR_STRING/STRING, BLOB, GEOMETRY (opaque SRID+WKB bytes),
  * JSON. Everything else surfaces as a decode error naming the type
  * code — never a silent wrong value.
  *
  * Pure JVM, no Spark dependency: shared by the DataSourceV2 scan
  * ([[MysqlBinlogSource]]), the fixture writer ([[MysqlBinlogWriter]]),
  * and the specs.
  */
object MysqlBinlog {

  val Magic: Array[Byte] = Array(0xfe.toByte, 'b'.toByte, 'i'.toByte, 'n'.toByte)

  // -- event type codes (enum_binlog_event_type, public) ---------------
  val QUERY_EVENT = 2
  val STOP_EVENT = 3
  val ROTATE_EVENT = 4
  val FORMAT_DESCRIPTION_EVENT = 15
  val XID_EVENT = 16
  val TABLE_MAP_EVENT = 19
  val WRITE_ROWS_V1 = 23
  val UPDATE_ROWS_V1 = 24
  val DELETE_ROWS_V1 = 25
  /** 8.0 `binlog_rows_query_log_events=ON`: the original statement
    * text logged immediately before its rows events — audit/provenance
    * (which SQL produced this change), ignored by appliers.
    */
  val ROWS_QUERY_EVENT = 29
  val WRITE_ROWS_EVENT = 30
  val UPDATE_ROWS_EVENT = 31
  val DELETE_ROWS_EVENT = 32
  val GTID_EVENT = 33
  val ANONYMOUS_GTID_EVENT = 34
  val PREVIOUS_GTIDS_EVENT = 35
  /** 8.0 `binlog_row_value_options=PARTIAL_JSON` update (WL#2955) —
    * like UPDATE_ROWS but each after image is preceded by a lenenc
    * `value_options` and, when its PARTIAL_JSON bit is set, a
    * `partial_bits` bitmap (one bit per JSON column INCLUDED IN THE
    * AFTER IMAGE — WL#2955; the distinction from per-table only bites
    * under binlog_row_image=MINIMAL and is spec-pinned byte-exactly); a
    * flagged column's value is a [[MysqlJsonDiff]] vector applied to
    * the before image, not a full document.
    */
  val PARTIAL_UPDATE_ROWS_EVENT = 39
  val TRANSACTION_PAYLOAD_EVENT = 40

  /** TRANSACTION_PAYLOAD field-type codes (8.0.20+ compressed
    * transactions; public libbinlogevents control_events.h): the event
    * body is a TLV stream — each field a lenenc type, lenenc length,
    * value — terminated by HEADER_END, after which the (compressed)
    * concatenation of the transaction's ordinary events follows.
    */
  private val TpHeaderEnd = 0
  private val TpPayloadSize = 1
  private val TpCompressionType = 2
  private val TpUncompressedSize = 3
  val TpCompressionZstd = 0
  val TpCompressionNone = 255

  // -- column type codes (enum_field_types, public) --------------------
  val T_DECIMAL = 0; val T_TINY = 1; val T_SHORT = 2; val T_LONG = 3
  val T_FLOAT = 4; val T_DOUBLE = 5; val T_NULL = 6; val T_TIMESTAMP = 7
  val T_LONGLONG = 8; val T_INT24 = 9; val T_DATE = 10; val T_TIME = 11
  val T_DATETIME = 12; val T_YEAR = 13; val T_VARCHAR = 15; val T_BIT = 16
  val T_TIMESTAMP2 = 17; val T_DATETIME2 = 18; val T_TIME2 = 19
  val T_JSON = 245; val T_NEWDECIMAL = 246; val T_ENUM = 247
  val T_SET = 248; val T_TINY_BLOB = 249; val T_MEDIUM_BLOB = 250
  val T_LONG_BLOB = 251; val T_BLOB = 252; val T_VAR_STRING = 253
  val T_STRING = 254; val T_GEOMETRY = 255

  val CommonHeaderLen = 19
  /** checksum algorithm codes (binlog_checksum_alg) */
  val ChecksumOff = 0
  val ChecksumCrc32 = 1

  final case class EventHeader(
      tsSec: Long,      // seconds since epoch, 4 bytes LE
      eventType: Int,   // 1 byte
      serverId: Long,   // 4 bytes LE
      eventSize: Int,   // 4 bytes LE, full event incl. header + checksum
      nextPos: Long,    // 4 bytes LE, file offset of the next event
      flags: Int)       // 2 bytes LE

  sealed trait Event { def header: EventHeader; def startPos: Long }

  final case class FormatDescription(header: EventHeader, startPos: Long,
      binlogVersion: Int, serverVersion: String, checksumAlg: Int,
      postHeaderLen: Array[Int]) extends Event

  /** `colTypes` holds EFFECTIVE types: on the wire ENUM/SET columns
    * are transmitted as type 254 (STRING) with the real type embedded
    * in the first metadata byte — the parser resolves that embedding,
    * so consumers dispatch on T_ENUM/T_SET directly. `enumSetLabels`
    * maps column index → the declared value list when the 8.0
    * ENUM_STR_VALUE / SET_STR_VALUE optional TLVs are present (empty
    * otherwise — decode then surfaces ordinals/bitmasks).
    */
  /** `colCharsets` maps column index → collation id for CHARACTER
    * columns (CHAR/VARCHAR/TEXT — the server's is_character_field set)
    * when the 8.0 DEFAULT_CHARSET / COLUMN_CHARSET TLVs are present;
    * absent, string decode defaults to UTF-8 (8.0's utf8mb4 default).
    */
  final case class TableMap(header: EventHeader, startPos: Long,
      tableId: Long, schemaName: String, tableName: String,
      colTypes: Array[Int], colMeta: Array[Int],
      nullable: Array[Boolean],
      colNames: Option[Array[String]],
      signedness: Option[Array[Boolean]],
      enumSetLabels: Map[Int, Array[String]] = Map.empty,
      colCharsets: Map[Int, Int] = Map.empty) extends Event

  /** One decoded row image: values for present columns (null where the
    * row's null bitmap says so), aligned to the table's column order —
    * absent columns (not in the columns-present bitmap) are None.
    */
  final case class RowImage(values: Array[Option[AnyRef]])

  final case class RowsEvent(header: EventHeader, startPos: Long,
      tableId: Long, eventType: Int,
      /** WRITE: (None, after); DELETE: (before, None); UPDATE: (before, after) */
      rows: Seq[(Option[RowImage], Option[RowImage])]) extends Event

  final case class Xid(header: EventHeader, startPos: Long, xid: Long) extends Event
  final case class Rotate(header: EventHeader, startPos: Long,
      position: Long, nextFile: String) extends Event
  /** GTID_LOG_EVENT: the transaction's global id `uuid:gno` — the third
    * coordinate of the reference's checkpoint (metadata.txt records
    * file, position AND gtid, mysql_to_clickhouse_sync.py:175-181).
    * The logical-clock block after gno (commit-parallelism hints) is
    * skipped: replication positioning needs only the id.
    */
  final case class Gtid(header: EventHeader, startPos: Long,
      flags: Int, uuid: String, gno: Long) extends Event
  /** PREVIOUS_GTIDS_EVENT: every 8.0 log's second event — the executed
    * set as of this log's start, i.e. what a consumer resuming from
    * this file may assume already applied. `set` is the canonical
    * interval rendering (same notation as [[gtidSet]]).
    */
  final case class PreviousGtids(header: EventHeader, startPos: Long,
      set: String) extends Event
  final case class Query(header: EventHeader, startPos: Long,
      schema: String, query: String) extends Event
  /** The ROWS_QUERY provenance text preceding a statement's rows
    * events (`binlog_rows_query_log_events=ON`).
    */
  final case class RowsQuery(header: EventHeader, startPos: Long,
      query: String) extends Event
  /** Recognized-but-not-decoded events (GTID, PREVIOUS_GTIDS, STOP…). */
  final case class Opaque(header: EventHeader, startPos: Long) extends Event

  final class BinlogFormatException(msg: String) extends RuntimeException(msg)

  // -- primitive readers over a byte array -----------------------------
  /** Little cursor over one event's bytes (events are KB-scale; the
    * per-event copy is what lets the scan hand out immutable rows).
    */
  private final class Cur(val b: Array[Byte], var p: Int) {
    def u1(): Int = {
      if (p >= b.length)
        throw new BinlogFormatException(
          s"read past the event buffer at offset $p")
      val v = b(p) & 0xff; p += 1; v
    }
    def u2(): Int = u1() | (u1() << 8)
    def u3(): Int = u1() | (u1() << 8) | (u1() << 16)
    def u4(): Long = (u2().toLong | (u2().toLong << 16)) & 0xffffffffL
    def u6(): Long = u4() | (u2().toLong << 32)
    def i8(): Long = u4() | (u4() << 32)
    /** big-endian unsigned, n bytes (temporal2 encodings) */
    def beUInt(n: Int): Long = {
      if (p + n > b.length)
        throw new BinlogFormatException(
          s"field of $n bytes overruns the event buffer at offset $p")
      var v = 0L; var i = 0
      while (i < n) { v = (v << 8) | (b(p + i) & 0xff); i += 1 }
      p += n; v
    }
    def bytes(n: Int): Array[Byte] = {
      // explicit bound: copyOfRange silently ZERO-PADS past the array
      // end, which on a corrupt length (checksum-off logs have no CRC
      // to catch it first) would surface fabricated zero bytes as data
      if (n < 0 || p + n > b.length)
        throw new BinlogFormatException(
          s"field of $n bytes overruns the event buffer at offset $p")
      val out = java.util.Arrays.copyOfRange(b, p, p + n); p += n; out
    }
    def str(n: Int): String = new String(bytes(n), StandardCharsets.UTF_8)
    /** length-encoded integer (mysql packet lenenc) */
    def lenenc(): Long = u1() match {
      case v if v < 0xfb => v
      case 0xfc => u2().toLong
      case 0xfd => u3().toLong
      case 0xfe => i8()
      case v => throw new BinlogFormatException(s"bad lenenc prefix 0x${v.toHexString}")
    }
    def bitmap(nBits: Int): Array[Boolean] = {
      val raw = bytes((nBits + 7) / 8)
      Array.tabulate(nBits)(i => ((raw(i / 8) >> (i % 8)) & 1) == 1)
    }
    def remaining: Int = b.length - p
  }

  private def parseHeader(c: Cur): EventHeader =
    EventHeader(tsSec = c.u4(), eventType = c.u1(), serverId = c.u4(),
      eventSize = c.u4().toInt, nextPos = c.u4(), flags = c.u2())

  // -- FORMAT_DESCRIPTION ----------------------------------------------
  /** `full` = the ENTIRE event, header included: the FDE both announces
    * the file's checksum algorithm and carries its own CRC32, and that
    * CRC is computed over header+body minus the trailing 4 bytes — so
    * detection and verification need the full event. Disambiguation is
    * what a real client does: if the 5th-from-last byte reads as
    * alg=CRC32 and the trailing 4 verify, the file is checksummed; a
    * claimed CRC32 that fails to verify is refused, never guessed
    * around (a post-header-len array byte of 1 cannot be mistaken for
    * the alg flag unless the CRC also matches by accident).
    */
  private def parseFde(full: Array[Byte], h: EventHeader,
                       start: Long): FormatDescription = {
    val c = new Cur(full, CommonHeaderLen)
    val ver = c.u2()
    if (ver != 4) throw new BinlogFormatException(s"unsupported binlog version $ver")
    val serverVersion = c.str(50).takeWhile(_ != 0.toChar)
    c.u4() // create_timestamp
    val headerLen = c.u1()
    if (headerLen != CommonHeaderLen)
      throw new BinlogFormatException(s"unsupported common header length $headerLen")
    // the post-header-length array runs to the end of the event; servers
    // >= 5.6.1 append checksum_alg (1 byte) + the FDE's own CRC32 (4)
    val rest = c.remaining
    val (nTypes, alg) =
      if (rest >= 5 && full(full.length - 5) == ChecksumCrc32.toByte &&
          crc32(full, full.length - 4) == readLe32(full, full.length - 4)) {
        (rest - 5, ChecksumCrc32)
      } else if (rest >= 5 && full(full.length - 5) == ChecksumCrc32.toByte) {
        throw new BinlogFormatException(
          "FORMAT_DESCRIPTION claims CRC32 but its own checksum fails")
      } else if (rest >= 1 && full(full.length - 1) == ChecksumOff.toByte)
        (rest - 1, ChecksumOff)
      else (rest, ChecksumOff)
    val phl = Array.fill(nTypes)(c.u1())
    FormatDescription(h, start, ver, serverVersion, alg, phl)
  }

  private def crc32(b: Array[Byte], len: Int): Long = {
    val crc = new java.util.zip.CRC32
    crc.update(b, 0, len)
    crc.getValue
  }

  private def readLe32(b: Array[Byte], off: Int): Long =
    java.lang.Integer.toUnsignedLong(java.nio.ByteBuffer.wrap(b, off, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt)

  // -- TABLE_MAP --------------------------------------------------------
  /** optional-metadata TLV type codes (8.0 binlog_row_metadata, public
    * Optional_metadata_field_type)
    */
  private val MetaSignedness = 1
  private val MetaDefaultCharset = 2
  private val MetaColumnCharset = 3
  private val MetaColumnName = 4
  private val MetaSetStrValue = 5
  private val MetaEnumStrValue = 6

  /** The server's is_character_field set — the columns the charset
    * TLVs describe, positionally, in table order. (ENUM/SET have their
    * own ENUM_AND_SET_* TLVs and are deliberately NOT in this set.)
    */
  private[streaming] def isCharacterType(t: Int): Boolean = t match {
    case T_VARCHAR | T_VAR_STRING | T_STRING | T_BLOB | T_TINY_BLOB |
         T_MEDIUM_BLOB | T_LONG_BLOB => true
    case _ => false
  }

  /** Collation id → decode charset. `None` = the `binary`
    * pseudo-charset (VARBINARY/BLOB — surface raw bytes). Unknown ids
    * REFUSE loudly: decoding latin2 bytes as UTF-8 is exactly the
    * silent wrong value this decoder promises never to produce. The
    * map covers the collation families a real 5.7/8.0 population runs
    * (public collation-id table, INFORMATION_SCHEMA.COLLATIONS).
    */
  def collationCharset(id: Int): Option[java.nio.charset.Charset] = id match {
    case 63 => None // binary
    case 5 | 8 | 15 | 31 | 47 | 48 | 49 | 94 => // latin1 family
      Some(java.nio.charset.StandardCharsets.ISO_8859_1)
    case 11 | 65 => Some(java.nio.charset.StandardCharsets.US_ASCII)
    case 33 | 76 | 83 | 223 => // utf8mb3 family
      Some(java.nio.charset.StandardCharsets.UTF_8)
    case x if x >= 192 && x <= 215 => // utf8mb3_unicode_* collations
      Some(java.nio.charset.StandardCharsets.UTF_8)
    case 45 | 46 | 255 => // utf8mb4 general/bin/0900_ai_ci
      Some(java.nio.charset.StandardCharsets.UTF_8)
    case x if x >= 224 && x <= 247 => // utf8mb4_unicode_* collations
      Some(java.nio.charset.StandardCharsets.UTF_8)
    case x if x >= 256 && x <= 323 => // utf8mb4_*_0900_* collations
      Some(java.nio.charset.StandardCharsets.UTF_8)
    case x => throw new BinlogFormatException(
      s"unmapped collation id $x (extend collationCharset for it)")
  }

  private def parseTableMap(c: Cur, h: EventHeader, start: Long,
                            payloadEnd: Int): TableMap = {
    val tableId = c.u6()
    c.u2() // flags
    val schemaLen = c.u1(); val schema = c.str(schemaLen); c.u1() // NUL
    val tableLen = c.u1(); val table = c.str(tableLen); c.u1()   // NUL
    val nCols = c.lenenc().toInt
    // allocation guard BEFORE Array.fill: each column costs ≥1 type
    // byte, so a corrupt count beyond the remaining payload must
    // refuse here rather than attempt a multi-GB allocation
    if (nCols < 0 || nCols > c.remaining)
      throw new BinlogFormatException(
        s"TABLE_MAP declares $nCols columns with ${c.remaining} bytes left")
    val types = Array.fill(nCols)(c.u1())
    val metaLen = c.lenenc().toInt
    val metaEnd = c.p + metaLen
    val meta = new Array[Int](nCols)
    var mi = 0
    while (mi < nCols) {
      types(mi) match {
        case T_VARCHAR | T_VAR_STRING | T_NEWDECIMAL | T_BIT =>
          meta(mi) = c.u2() // LE byte pair (per-type semantics)
        case T_STRING =>
          // the wire's famously-packed STRING metadata (public
          // log_event.cc / every replication client): byte0 carries the
          // REAL type — ENUM(247)/SET(248) transmit as type 254 with
          // their identity here — or, for CHAR, the max-length high
          // bits folded in as (T_STRING ^ ((len>>8)<<4)); byte1 is the
          // low length/pack-size byte
          val b0 = c.u1(); val b1 = c.u1()
          if (b0 == T_ENUM || b0 == T_SET) {
            types(mi) = b0 // resolve to the effective type
            meta(mi) = b1  // value pack size (1-2 enum, 1-8 set)
          } else meta(mi) = ((((b0 << 4) & 0x300) ^ 0x300) + b1)
        case T_ENUM | T_SET =>
          // direct type bytes (not what servers emit — they embed in
          // 254 — but tolerated on read): low byte = pack size
          meta(mi) = c.u2() & 0xff
        case T_BLOB | T_TINY_BLOB | T_MEDIUM_BLOB | T_LONG_BLOB | T_FLOAT |
             T_DOUBLE | T_TIMESTAMP2 | T_DATETIME2 | T_TIME2 | T_JSON |
             T_GEOMETRY => meta(mi) = c.u1()
        case _ => meta(mi) = 0
      }
      mi += 1
    }
    if (c.p != metaEnd)
      throw new BinlogFormatException(
        s"TABLE_MAP metadata length drift: read ${c.p - (metaEnd - metaLen)} of $metaLen")
    val nullable = c.bitmap(nCols)
    // 8.0 optional metadata: TLV stream until payload end
    var names: Option[Array[String]] = None
    var signed: Option[Array[Boolean]] = None
    var labels = Map.empty[Int, Array[String]]
    var charsets = Map.empty[Int, Int]
    val charIdxs = types.indices.filter(i => isCharacterType(types(i)))
    /** ENUM_STR_VALUE / SET_STR_VALUE payload: for each column of the
      * matching type IN TABLE ORDER, a lenenc value count then each
      * value length-prefixed — the parse is positional, so the k-th
      * entry binds to the k-th enum (resp. set) column.
      */
    def parseStrValues(end: Int, typ: Int): Unit = {
      val idxs = types.indices.filter(types(_) == typ)
      var k = 0
      while (c.p < end) {
        if (k >= idxs.length)
          throw new BinlogFormatException(
            s"more ${if (typ == T_ENUM) "ENUM" else "SET"}_STR_VALUE " +
              "entries than columns of that type")
        val n = c.lenenc().toInt
        // each value costs ≥1 length byte: allocation guard
        if (n < 0 || n > c.remaining)
          throw new BinlogFormatException(
            s"string-value TLV declares $n values with ${c.remaining} bytes left")
        val vals = Array.fill(n) { val l = c.lenenc().toInt; c.str(l) }
        labels += (idxs(k) -> vals)
        k += 1
      }
    }
    while (c.p < payloadEnd) {
      val t = c.u1(); val len = c.lenenc().toInt; val end = c.p + len
      t match {
        case MetaColumnName =>
          val buf = Array.newBuilder[String]
          while (c.p < end) { val l = c.lenenc().toInt; buf += c.str(l) }
          names = Some(buf.result())
        case MetaSignedness =>
          // one bit per NUMERIC column, MSB first within each byte
          val raw = c.bytes(len)
          val numericIdx = types.indices.filter(i => isNumeric(types(i)))
          val bits = numericIdx.indices.map { k =>
            ((raw(k / 8) >> (7 - (k % 8))) & 1) == 0 // bit set = unsigned
          }
          val all = Array.fill(nCols)(true)
          numericIdx.zip(bits).foreach { case (i, s) => all(i) = s }
          signed = Some(all)
        case MetaEnumStrValue => parseStrValues(end, T_ENUM)
        case MetaSetStrValue => parseStrValues(end, T_SET)
        case MetaDefaultCharset =>
          // lenenc default collation, then (char-col index, collation)
          // pairs for the columns that differ — indexes count only
          // CHARACTER columns, in table order
          val dflt = c.lenenc().toInt
          charsets = charIdxs.map(_ -> dflt).toMap
          while (c.p < end) {
            val k = c.lenenc().toInt
            val coll = c.lenenc().toInt
            if (k < 0 || k >= charIdxs.length)
              throw new BinlogFormatException(
                s"DEFAULT_CHARSET pair indexes character column $k of " +
                  s"${charIdxs.length}")
            charsets += (charIdxs(k) -> coll)
          }
        case MetaColumnCharset =>
          // one lenenc collation per character column, in table order
          var k = 0
          while (c.p < end) {
            if (k >= charIdxs.length)
              throw new BinlogFormatException(
                "more COLUMN_CHARSET entries than character columns")
            charsets += (charIdxs(k) -> c.lenenc().toInt)
            k += 1
          }
        case _ => c.p = end // unknown TLV: skip (PK info, geometry types…)
      }
    }
    TableMap(h, start, tableId, schema, table, types, meta, nullable,
      names, signed, labels, charsets)
  }

  private def isNumeric(t: Int): Boolean = t match {
    case T_TINY | T_SHORT | T_INT24 | T_LONG | T_LONGLONG | T_FLOAT |
         T_DOUBLE | T_NEWDECIMAL | T_YEAR => true
    case _ => false
  }

  // -- rows events ------------------------------------------------------
  private def parseRows(c: Cur, h: EventHeader, start: Long,
                        payloadEnd: Int,
                        tableMaps: scala.collection.Map[Long, TableMap])
      : RowsEvent = {
    val tableId = c.u6()
    c.u2() // flags
    val extraLen = c.u2() // v2: includes its own 2 bytes
    if (extraLen > 2) c.bytes(extraLen - 2)
    val nCols = c.lenenc().toInt
    if (nCols < 0 || nCols.toLong > 8L * c.remaining)
      throw new BinlogFormatException(
        s"rows event declares $nCols columns with ${c.remaining} bytes left")
    val present1 = c.bitmap(nCols)
    val present2 =
      if (h.eventType == UPDATE_ROWS_EVENT ||
        h.eventType == PARTIAL_UPDATE_ROWS_EVENT) c.bitmap(nCols)
      else present1
    val tm = tableMaps.getOrElse(tableId,
      throw new BinlogFormatException(
        s"rows event for table id $tableId with no preceding TABLE_MAP"))
    val rows = Seq.newBuilder[(Option[RowImage], Option[RowImage])]
    while (c.p < payloadEnd) {
      val rowStart = c.p
      h.eventType match {
        case WRITE_ROWS_EVENT =>
          rows += ((None, Some(parseRowImage(c, tm, present1))))
        case DELETE_ROWS_EVENT =>
          rows += ((Some(parseRowImage(c, tm, present1)), None))
        case UPDATE_ROWS_EVENT =>
          val before = parseRowImage(c, tm, present1)
          val after = parseRowImage(c, tm, present2)
          rows += ((Some(before), Some(after)))
        case PARTIAL_UPDATE_ROWS_EVENT =>
          val before = parseRowImage(c, tm, present1)
          // shared-image info precedes EACH after image (WL#2955):
          // value_options, then partial_bits when the PARTIAL_JSON bit
          // (bit 0) is set. The bitmap's domain is the JSON columns
          // INCLUDED IN THE AFTER IMAGE (WL#2955's low-level design:
          // "one bit per JSON column in the after-image"), not every
          // JSON column of the table — the distinction only bites when
          // binlog_row_image trims the after image (MINIMAL/NOBLOB),
          // and is pinned byte-exactly by the 9-JSON-column fixture
          // spec (a wrong domain desynchronizes the cursor and fails
          // the exact-consumption check loudly).
          val valueOptions = c.lenenc()
          if ((valueOptions & ~1L) != 0)
            throw new BinlogFormatException(
              s"unknown value_options bits 0x${valueOptions.toHexString} " +
                s"in PARTIAL_UPDATE_ROWS at offset $start")
          val nJson = tm.colTypes.indices
            .count(i => present2(i) && tm.colTypes(i) == T_JSON)
          val partialBits =
            if ((valueOptions & 1L) != 0) c.bitmap(nJson)
            else new Array[Boolean](nJson)
          val after = parsePartialAfterImage(c, tm, present2, partialBits,
            before, start)
          rows += ((Some(before), Some(after)))
        case t => throw new BinlogFormatException(s"unsupported rows event type $t")
      }
      // progress check: a corrupt columns-present bitmap can yield a
      // zero-byte row image (no columns, no null bitmap) — without
      // this the loop above never advances
      if (c.p == rowStart)
        throw new BinlogFormatException(
          s"row image at offset $start consumed no bytes — corrupt " +
            "columns-present bitmap")
    }
    // exact-consumption check: a corrupt per-value length that made an
    // image overrun the body would otherwise decode the NEXT image (or
    // on checksum-off logs, the next event's bytes) as silently wrong
    // values — the one thing this decoder promises never to do
    if (c.p != payloadEnd)
      throw new BinlogFormatException(
        s"row images overran the event body by ${c.p - payloadEnd} bytes " +
          s"at offset $start — corrupt length or wrong TABLE_MAP")
    RowsEvent(h, start, tableId, h.eventType, rows.result())
  }

  private def parseRowImage(c: Cur, tm: TableMap,
                            present: Array[Boolean]): RowImage = {
    val nPresent = present.count(identity)
    val nullBits = c.bitmap(nPresent)
    val out = Array.fill[Option[AnyRef]](tm.colTypes.length)(None)
    var k = 0
    var i = 0
    while (i < tm.colTypes.length) {
      if (present(i)) {
        out(i) =
          if (nullBits(k)) Some(null)
          else Some(decodeValue(c, tm.colTypes(i), tm.colMeta(i),
            tm.signedness.map(_(i)).getOrElse(true),
            tm.enumSetLabels.get(i), tm.colCharsets.get(i)))
        k += 1
      }
      i += 1
    }
    RowImage(out)
  }

  /** A PARTIAL_UPDATE_ROWS after image: identical to [[parseRowImage]]
    * except that JSON columns flagged in `partialBits` (indexed over
    * the table's JSON columns in declaration order) carry a
    * [[MysqlJsonDiff]] vector in place of a full document. The decoder
    * applies the diffs to the BEFORE image's value and surfaces the
    * reconstructed full text, so everything downstream (payload
    * rendering, [[CdcPipeline]] collapse) is format-agnostic. A
    * zero-length vector means "unchanged" (the statement touched other
    * columns). Missing/NULL before value for a flagged column is a
    * loud format error — the log and the image disagree, and applying
    * a patch to nothing would fabricate a row.
    */
  private def parsePartialAfterImage(c: Cur, tm: TableMap,
                                     present: Array[Boolean],
                                     partialBits: Array[Boolean],
                                     before: RowImage,
                                     start: Long): RowImage = {
    val nPresent = present.count(identity)
    val nullBits = c.bitmap(nPresent)
    val out = Array.fill[Option[AnyRef]](tm.colTypes.length)(None)
    var k = 0
    var j = 0 // ordinal among the AFTER-IMAGE-PRESENT JSON columns
    var i = 0
    while (i < tm.colTypes.length) {
      val isJson = tm.colTypes(i) == T_JSON
      if (present(i)) {
        out(i) =
          if (nullBits(k)) Some(null)
          else if (isJson && partialBits(j))
            Some(decodePartialJson(c, tm, i, before, start))
          else Some(decodeValue(c, tm.colTypes(i), tm.colMeta(i),
            tm.signedness.map(_(i)).getOrElse(true),
            tm.enumSetLabels.get(i), tm.colCharsets.get(i)))
        k += 1
        if (isJson) j += 1
      }
      i += 1
    }
    RowImage(out)
  }

  private def decodePartialJson(c: Cur, tm: TableMap, col: Int,
                                before: RowImage, start: Long): String = {
    val meta = tm.colMeta(col)
    val len = (meta match {
      case 1 => c.u1().toLong
      case 2 => c.u2().toLong
      case 3 => c.u3().toLong
      case 4 => c.u4()
      case m => throw new BinlogFormatException(s"JSON length-bytes $m")
    }).toInt
    val raw = c.bytes(len)
    val beforeText = before.values(col) match {
      case Some(s: String) => s
      case None =>
        // binlog_row_image=MINIMAL × PARTIAL_JSON: the before image
        // carries only the PK, so the diff CANNOT be applied here —
        // real 8.0 deployments run exactly this combination to
        // compound the wire saving (docs/SCALE.md). Surface the raw
        // vector as a DEFERRED-apply marker ({"__jsondiff":"<base64>"},
        // "" = unchanged); a stateful consumer holding keyed latest
        // state (CdcPipeline.applyDeferredJsonDiffs /
        // Kernels.applyJsonDiffB64) applies it downstream. Stateless
        // consumers see the marker, not a fabricated document.
        return "{\"__jsondiff\":\"" +
          java.util.Base64.getEncoder.encodeToString(raw) + "\"}"
      case Some(null) =>
        // present-but-NULL before: the log and the image disagree —
        // applying a patch to nothing would fabricate a row
        throw new BinlogFormatException(
          s"partial JSON for column $col at offset $start with a NULL " +
            "before-image value to apply the diffs to")
      case Some(other) =>
        throw new BinlogFormatException(
          s"partial JSON for column $col at offset $start over a " +
            s"non-JSON before value (${other.getClass.getSimpleName})")
    }
    if (len == 0) beforeText // zero-length vector: column unchanged
    else
      try MysqlJsonBinary.render(MysqlJsonDiff.apply(
        MysqlJsonBinary.parseText(beforeText), MysqlJsonDiff.decode(raw)))
      catch {
        case e: MysqlJsonDiff.JsonDiffException =>
          throw new BinlogFormatException(
            s"JSON diff at offset $start: ${e.getMessage}")
        case e: MysqlJsonBinary.JsonBinaryException =>
          throw new BinlogFormatException(
            s"JSON diff before-image parse at offset $start: ${e.getMessage}")
      }
  }

  /** Decode one column value. Integers surface as java.lang.Long (sign
    * per the TABLE_MAP signedness TLV, defaulting to signed), temporals
    * as epoch-micros Long (TIMESTAMP2/DATETIME2; DATE as "yyyy-MM-dd",
    * TIME2 as "[-]HH:MM:SS[.ffffff]" at the column's fsp), DECIMAL as
    * scale-exact BigDecimal, strings as String, BLOBs as Array[Byte].
    * ENUM/SET surface their declared LABELS when the TABLE_MAP carried
    * the 8.0 string-value TLVs (SET as the comma-joined list in
    * definition order, MySQL's own rendering), else the raw
    * ordinal/bitmask Long. GEOMETRY surfaces as its raw SRID+WKB bytes
    * (base64 in payload JSON) — deliberately OPAQUE: a spatial column
    * rides the tail as bytes rather than killing it, and interpreting
    * WKB is a consumer concern, not a replication one.
    */
  private def decodeValue(c: Cur, typ: Int, meta: Int, signed: Boolean,
                          labels: Option[Array[String]] = None,
                          collation: Option[Int] = None): AnyRef = typ match {
    case T_TINY =>
      val v = c.u1(); java.lang.Long.valueOf(if (signed) v.toByte.toLong else v.toLong)
    case T_SHORT =>
      val v = c.u2(); java.lang.Long.valueOf(if (signed) v.toShort.toLong else v.toLong)
    case T_INT24 =>
      val v = c.u3()
      java.lang.Long.valueOf(
        if (signed && (v & 0x800000) != 0) v - 0x1000000 else v.toLong)
    case T_LONG =>
      val v = c.u4(); java.lang.Long.valueOf(if (signed) v.toInt.toLong else v)
    case T_LONGLONG => java.lang.Long.valueOf(c.i8())
    case T_YEAR =>
      val v = c.u1(); java.lang.Long.valueOf(if (v == 0) 0L else 1900L + v)
    case T_FLOAT =>
      java.lang.Float.valueOf(java.lang.Float.intBitsToFloat(c.u4().toInt))
    case T_DOUBLE =>
      java.lang.Double.valueOf(java.lang.Double.longBitsToDouble(c.i8()))
    case T_DATE =>
      val v = c.u3()
      val d = v & 31; val m = (v >> 5) & 15; val y = v >> 9
      f"$y%04d-$m%02d-$d%02d"
    case T_TIMESTAMP2 =>
      val sec = c.beUInt(4)
      java.lang.Long.valueOf(sec * 1000000L + fracMicros(c, meta))
    case T_DATETIME2 =>
      // 5-byte big-endian packed: 1 sign, 17 year*13+month, 5 day,
      // 5 hour, 6 minute, 6 second (offset 0x8000000000)
      val packed = c.beUInt(5) - 0x8000000000L
      val ymd = packed >> 17; val hms = packed & ((1L << 17) - 1)
      val ym = ymd >> 5; val day = ymd & 31
      val year = ym / 13; val month = ym % 13
      val hour = hms >> 12; val minute = (hms >> 6) & 63; val sec = hms & 63
      val epochSec = java.time.LocalDateTime.of(year.toInt, month.toInt,
        day.toInt, hour.toInt, minute.toInt, sec.toInt)
        .toEpochSecond(java.time.ZoneOffset.UTC)
      java.lang.Long.valueOf(epochSec * 1000000L + fracMicros(c, meta))
    case T_TIME2 =>
      // 3-byte big-endian packed (1 sign, 1 reserved, 10 hour, 6 min,
      // 6 sec) + 0x800000 offset; fractional seconds per fsp. Negative
      // values follow the server's exact mixed floor/trunc layout: the
      // 3-byte int part is the arithmetic >>24 of the signed packed
      // value, separate frac bytes are the TRUNCATING remainder — the
      // (i3 < 0 && f > 0) adjustment below is the published
      // my_time_binary_to_packed reconstruction.
      val packed: Long = meta match {
        case 0 => (c.beUInt(3) - 0x800000L) << 24
        case 1 | 2 =>
          var i3 = c.beUInt(3) - 0x800000L
          var f = c.u1().toLong
          if (i3 < 0 && f > 0) { i3 += 1; f -= 256 }
          (i3 << 24) + f * 10000L
        case 3 | 4 =>
          var i3 = c.beUInt(3) - 0x800000L
          var f = c.beUInt(2)
          if (i3 < 0 && f > 0) { i3 += 1; f -= 0x10000 }
          (i3 << 24) + f * 100L
        case 5 | 6 => c.beUInt(6) - 0x800000000000L
        case m => throw new BinlogFormatException(s"bad TIME2 fsp $m")
      }
      renderTime(packed, meta)
    case T_ENUM =>
      val ord = meta match {
        case 1 => c.u1()
        case 2 => c.u2()
        case m => throw new BinlogFormatException(s"ENUM pack size $m")
      }
      labels match {
        case Some(ls) =>
          if (ord == 0) "" // MySQL's invalid-value sentinel: empty string
          else if (ord <= ls.length) ls(ord - 1)
          else throw new BinlogFormatException(
            s"ENUM ordinal $ord exceeds ${ls.length} declared values")
        case None => java.lang.Long.valueOf(ord.toLong)
      }
    case T_SET =>
      if (meta < 1 || meta > 8)
        throw new BinlogFormatException(s"SET pack size $meta")
      var mask = 0L
      var sb = 0
      while (sb < meta) { mask |= (c.u1().toLong << (8 * sb)); sb += 1 }
      labels match {
        case Some(ls) =>
          if (ls.length < 64 && (mask >>> ls.length) != 0)
            throw new BinlogFormatException(
              s"SET bitmask $mask has bits beyond ${ls.length} declared values")
          // MySQL's own rendering: members comma-joined in
          // definition order
          ls.indices.filter(i => (mask & (1L << i)) != 0)
            .map(ls).mkString(",")
        case None => java.lang.Long.valueOf(mask)
      }
    case T_BIT =>
      // metadata: low byte = leftover bits, high byte = whole bytes
      // (the server's Field_bit::save_field_metadata order); the value
      // is big-endian in ceil(bits/8) bytes
      val bits = (meta >> 8) * 8 + (meta & 0xff)
      if (bits < 1 || bits > 64)
        throw new BinlogFormatException(
          s"BIT($bits) outside this decoder's 64-bit value range")
      java.lang.Long.valueOf(c.beUInt((bits + 7) / 8))
    case T_VARCHAR | T_VAR_STRING =>
      val len = if (meta > 255) c.u2() else c.u1()
      charDecode(c.bytes(len), collation)
    case T_STRING =>
      // meta = resolved max byte length (the TABLE_MAP parse already
      // unpacked the wire's type-embedding); CHAR(n) with max < 256
      // uses a 1-byte length prefix
      val len = if (meta > 255) c.u2() else c.u1()
      charDecode(c.bytes(len), collation)
    case T_BLOB | T_GEOMETRY =>
      // GEOMETRY stores exactly like a BLOB whose content is the
      // little-endian SRID followed by WKB — surfaced opaque. A BLOB
      // column with a TEXT charset (the charset TLVs mark it) IS a
      // TEXT column and surfaces as its string.
      val len = (meta match {
        case 1 => c.u1().toLong
        case 2 => c.u2().toLong
        case 3 => c.u3().toLong
        case 4 => c.u4()
        case m => throw new BinlogFormatException(s"BLOB length-bytes $m")
      }).toInt
      val raw = c.bytes(len)
      if (typ == T_GEOMETRY) raw
      else collation.flatMap(collationCharset) match {
        case Some(cs) => new String(raw, cs)
        case None => raw
      }
    case T_NEWDECIMAL =>
      // TABLE_MAP metadata: precision byte then scale byte (LE u2 read
      // puts precision in the low byte); the wire length is a fixed
      // function of (P, S), so no length prefix precedes the value
      val precision = meta & 0xff; val scale = (meta >> 8) & 0xff
      val n =
        try MysqlDecimalBinary.binSize(precision, scale)
        catch { case e: MysqlDecimalBinary.DecimalBinaryException =>
          throw new BinlogFormatException(s"DECIMAL metadata: ${e.getMessage}")
        }
      try MysqlDecimalBinary.decode(c.bytes(n), precision, scale)
      catch { case e: MysqlDecimalBinary.DecimalBinaryException =>
        throw new BinlogFormatException(
          s"DECIMAL($precision,$scale) decode: ${e.getMessage}")
      }
    case T_JSON =>
      // stored like a BLOB (meta = length-prefix width, 8.0 writes 4),
      // containing a binary JSON document — decoded to canonical JSON
      // TEXT, so downstream payload rendering treats it exactly like a
      // JSON-shaped VARCHAR
      val len = (meta match {
        case 1 => c.u1().toLong
        case 2 => c.u2().toLong
        case 3 => c.u3().toLong
        case 4 => c.u4()
        case m => throw new BinlogFormatException(s"JSON length-bytes $m")
      }).toInt
      // truncation/corruption classification (incl. out-of-bounds
      // offsets) happens INSIDE decode — one wrapper covers every
      // caller of the JSON codec
      try MysqlJsonBinary.decode(c.bytes(len))
      catch { case e: MysqlJsonBinary.JsonBinaryException =>
        throw new BinlogFormatException(s"JSON column decode: ${e.getMessage}")
      }
    case t =>
      throw new BinlogFormatException(
        s"unsupported column type $t (extend decodeValue for it)")
  }

  /** CHAR/VARCHAR bytes → value under the column's collation: raw
    * bytes for the `binary` pseudo-charset (VARBINARY), the mapped
    * charset otherwise, UTF-8 when no charset TLV was present.
    */
  private def charDecode(raw: Array[Byte], collation: Option[Int]): AnyRef =
    collation match {
      case None => new String(raw, StandardCharsets.UTF_8)
      case Some(id) => collationCharset(id) match {
        case Some(cs) => new String(raw, cs)
        case None => raw // binary: surface bytes, not a fake string
      }
    }

  private val timePow10 = Array(1L, 10L, 100L, 1000L, 10000L, 100000L, 1000000L)

  /** Render a signed packed TIME ((hms << 24) + micros, negated for
    * negative times) as MySQL's text form at the column's fsp —
    * "HH:MM:SS", fraction digits appended and zero-padded to fsp.
    */
  private def renderTime(packed: Long, fsp: Int): String = {
    val neg = packed < 0
    val a = math.abs(packed)
    val micros = a & 0xffffffL
    val hms = a >> 24
    val h = (hms >> 12) & 0x3ff; val m = (hms >> 6) & 0x3f; val s = hms & 0x3f
    val sign = if (neg) "-" else ""
    val base = f"$sign$h%02d:$m%02d:$s%02d"
    if (fsp == 0) base
    else base + "." +
      ("%0" + fsp + "d").format(micros / timePow10(6 - fsp))
  }

  private def fracMicros(c: Cur, fsp: Int): Long = fsp match {
    case 0 => 0L
    case 1 | 2 => c.beUInt(1) * 10000L
    case 3 | 4 => c.beUInt(2) * 100L
    case 5 | 6 => c.beUInt(3)
    case m => throw new BinlogFormatException(s"bad temporal fsp $m")
  }

  /** Parse events in `bytes[from, until)` (file coordinates: `base` is
    * the file offset of bytes(0)). `fde` supplies the checksum algorithm
    * when resuming mid-file; pass None when the range starts at the file
    * head (offset 0 including magic, or 4 at the first event).
    *
    * MySQL guarantees a TABLE_MAP directly before each statement's rows
    * events, so any range that starts at an event-group boundary is
    * self-contained; resuming INSIDE a group is refused loudly (no
    * preceding TABLE_MAP) rather than mis-decoded.
    *
    * `decodeRows = false` surfaces WRITE/UPDATE/DELETE_ROWS as [[Opaque]]
    * (headers + CRC still verified) — the GTID auto-position scan walks
    * whole files deciding executed/not per transaction and must not pay
    * row-image decode for history it is about to skip.
    */
  def parse(bytes: Array[Byte], base: Long = 0L,
            fde: Option[FormatDescription] = None,
            decodeRows: Boolean = true): Vector[Event] =
    eventIterator(bytes, base, fde, decodeRows).toVector

  /** LAZY event stream over the same contract as [[parse]] — the
    * memory-scale form: a partition reader pulling rows through
    * [[changeEventsIterator]] holds the raw bytes plus ONE in-flight
    * event, never a file-sized event Vector (measured: the whole-file
    * materialization cost the 10× CdcBench row ~30% in GC, SCALE.md
    * round-10). The TABLE_MAP context lives in the iterator (no shared
    * thread-local state): interleaving two iterators on one thread is
    * safe, and a TRANSACTION_PAYLOAD's inner transaction gets its own
    * fresh context exactly as each statement re-emits its TABLE_MAP.
    * Errors (CRC mismatch, truncated declared sizes, unsupported
    * types) surface at the pull that reaches them — same task, same
    * loud refusal, just stream-shaped.
    */
  def eventIterator(bytes: Array[Byte], base: Long = 0L,
                    fde: Option[FormatDescription] = None,
                    decodeRows: Boolean = true): Iterator[Event] =
    new Iterator[Event] {
      private var p = 0
      if (base == 0L) {
        if (bytes.length < 4 || !java.util.Arrays.equals(
            java.util.Arrays.copyOfRange(bytes, 0, 4), Magic))
          throw new BinlogFormatException("bad binlog magic (want FE 62 69 6E)")
        p = 4
      }
      private var currentFde: Option[FormatDescription] = fde
      private val tableMaps =
        scala.collection.mutable.Map.empty[Long, TableMap]
      // a TRANSACTION_PAYLOAD unwraps to a (transaction-bounded) batch
      // of inner events, spliced in place of the wrapper
      private var pending: Iterator[Event] = Iterator.empty
      // one-event LOOKAHEAD so hasNext is exact (partial trailing
      // events and empty payload wrappers end the stream cleanly,
      // never break the Iterator contract)
      private var lookahead: Event = _
      advance()

      override def hasNext: Boolean = lookahead != null

      override def next(): Event = {
        if (lookahead == null)
          throw new NoSuchElementException("binlog event stream exhausted")
        val e = lookahead
        advance()
        e
      }

      private def advance(): Unit = {
        lookahead = null
        while (lookahead == null) {
          if (pending.hasNext) { lookahead = pending.next(); return }
          if (p + CommonHeaderLen > bytes.length) return
          if (!parseOne()) return
        }
      }

      /** Parse ONE raw event at `p`; sets `lookahead` (or `pending`
        * for a payload wrapper, leaving the loop to drain it). Returns
        * false when the raw stream ends on a partial trailing event.
        */
      private def parseOne(): Boolean = {
        val start = base + p
        val c = new Cur(bytes, p)
        val h = parseHeader(c)
        if (h.eventSize < CommonHeaderLen)
          throw new BinlogFormatException(s"event size ${h.eventSize} < header")
        if (p + h.eventSize > bytes.length) {
          // partial tail (writer mid-append): stop at the last whole
          // event — the stream simply ends here
          p = bytes.length
          return false
        }
        val checksummed = h.eventType match {
          case FORMAT_DESCRIPTION_EVENT => false // FDE verifies itself
          case _ => currentFde.exists(_.checksumAlg == ChecksumCrc32)
        }
        val bodyEnd = p + h.eventSize - (if (checksummed) 4 else 0)
        if (checksummed) {
          val want = java.lang.Integer.toUnsignedLong(
            java.nio.ByteBuffer.wrap(bytes, p + h.eventSize - 4, 4)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt)
          val crc = new java.util.zip.CRC32
          crc.update(bytes, p, h.eventSize - 4)
          if (crc.getValue != want)
            throw new BinlogFormatException(
              s"CRC32 mismatch in event type ${h.eventType} at offset $start")
        }
        if (h.eventType == TRANSACTION_PAYLOAD_EVENT) {
          // unwrap in place: the wrapped transaction's ordinary events
          // replace the wrapper in the returned stream
          pending = tpUnwrap(c, h, start, bodyEnd, decodeRows).iterator
          p += h.eventSize
          return true
        }
        val ev: Event = h.eventType match {
          case FORMAT_DESCRIPTION_EVENT =>
            val f = parseFde(java.util.Arrays.copyOfRange(
              bytes, p, p + h.eventSize), h, start)
            currentFde = Some(f); f
          case TABLE_MAP_EVENT =>
            val tm = parseTableMap(c, h, start, bodyEnd)
            tableMaps.update(tm.tableId, tm); tm
          case WRITE_ROWS_EVENT | UPDATE_ROWS_EVENT | DELETE_ROWS_EVENT |
               PARTIAL_UPDATE_ROWS_EVENT =>
            if (decodeRows) parseRows(c, h, start, bodyEnd, tableMaps)
            else Opaque(h, start)
          case WRITE_ROWS_V1 | UPDATE_ROWS_V1 | DELETE_ROWS_V1 =>
            throw new BinlogFormatException(
              "v1 rows events (5.1 format) not supported; use ROW v2")
          case XID_EVENT => Xid(h, start, c.i8())
          case ROTATE_EVENT =>
            val pos = c.i8()
            if (c.p > bodyEnd) throw new BinlogFormatException(
              s"ROTATE event at $start shorter than its post-header")
            Rotate(h, start, pos, new String(
              java.util.Arrays.copyOfRange(bytes, c.p, bodyEnd),
              StandardCharsets.UTF_8))
          case QUERY_EVENT =>
            // post-header: thread_id(4) exec_time(4) schema_len(1)
            // error_code(2) status_len(2); payload: status vars, schema,
            // NUL, query text
            c.u4(); c.u4()
            val schemaLen = c.u1(); c.u2()
            val statusLen = c.u2()
            c.bytes(statusLen)
            val schema = c.str(schemaLen); c.u1()
            if (c.p > bodyEnd) throw new BinlogFormatException(
              s"QUERY event at $start shorter than its declared parts")
            Query(h, start, schema, new String(
              java.util.Arrays.copyOfRange(bytes, c.p, bodyEnd),
              StandardCharsets.UTF_8))
          case ROWS_QUERY_EVENT =>
            // 1 legacy length byte (saturates at 255), then the FULL
            // statement text to the body end — 8.0 writes the whole
            // query regardless of the byte, so readers must too
            c.u1()
            if (c.p > bodyEnd) throw new BinlogFormatException(
              s"ROWS_QUERY event at $start shorter than its length byte")
            RowsQuery(h, start, new String(
              java.util.Arrays.copyOfRange(bytes, c.p, bodyEnd),
              StandardCharsets.UTF_8))
          case GTID_EVENT =>
            val flags = c.u1()
            val sid = c.bytes(16)
            val gno = c.i8()
            Gtid(h, start, flags, uuidString(sid), gno)
          case PREVIOUS_GTIDS_EVENT =>
            // n_sids, then per sid: uuid(16) + n_intervals +
            // (start, end)* with end EXCLUSIVE on the wire
            val nSids = c.i8()
            val parts = (0L until nSids).map { _ =>
              val uuid = uuidString(c.bytes(16))
              val nIv = c.i8()
              val ivs = (0L until nIv).map { _ =>
                val s0 = c.i8(); val e0 = c.i8()
                if (s0 == e0 - 1) s"$s0" else s"$s0-${e0 - 1}"
              }
              uuid + ":" + ivs.mkString(":")
            }
            PreviousGtids(h, start, parts.sorted.mkString(","))
          case _ => Opaque(h, start)
        }
        p += h.eventSize
        lookahead = ev
        true
      }
    }

  /** Unwrap one TRANSACTION_PAYLOAD_EVENT (8.0.20+ `binlog_transaction_
    * compression=ON`): decode the TLV header, decompress the payload
    * (zstd via the Spark-bundled zstd-jni, or NONE), and parse the
    * inner ordinary events — which carry NO checksums (the wrapper's
    * CRC, already verified by the caller, covers them).
    *
    * Position semantics: every inner event's `startPos` is REMAPPED to
    * the wrapper's — decompressed offsets can exceed the wrapper's
    * on-disk size, and a raw inner offset could then order a row of
    * this transaction AFTER the next transaction's rows in the
    * (ts, seq) collapse. With one shared position, [[changeEvents]]'
    * row counter (which runs ACROSS consecutive rows events at the
    * same position exactly for this case) keeps the intra-transaction
    * order, saturating at 64 rows like any single oversized statement.
    *
    * The inner TABLE_MAP context is scoped to the transaction: the
    * inner parse runs with its own fresh context (each statement
    * re-emits its TABLE_MAP, inside or outside a wrapper), so the
    * outer iterator's context is untouched.
    */
  private def tpUnwrap(c: Cur, h: EventHeader, start: Long, bodyEnd: Int,
                       decodeRows: Boolean): Vector[Event] = {
    var compression = TpCompressionNone
    var uncompressedSize = -1L
    var payloadSize = -1L
    var sawEnd = false
    while (!sawEnd) {
      if (c.p >= bodyEnd)
        throw new BinlogFormatException(
          "TRANSACTION_PAYLOAD header missing its end mark")
      c.lenenc().toInt match {
        case TpHeaderEnd => sawEnd = true
        case TpPayloadSize => c.lenenc(); payloadSize = c.lenenc()
        case TpCompressionType => c.lenenc(); compression = c.lenenc().toInt
        case TpUncompressedSize => c.lenenc(); uncompressedSize = c.lenenc()
        case t =>
          val len = c.lenenc().toInt // unknown field: skip by length
          c.bytes(len)
      }
    }
    val avail = bodyEnd - c.p
    val take = if (payloadSize >= 0) {
      if (payloadSize > avail) throw new BinlogFormatException(
        s"TRANSACTION_PAYLOAD declares $payloadSize bytes, $avail present")
      payloadSize.toInt
    } else avail
    val compressed = c.bytes(take)
    val inner = compression match {
      case TpCompressionNone => compressed
      case TpCompressionZstd =>
        if (uncompressedSize < 0) throw new BinlogFormatException(
          "zstd TRANSACTION_PAYLOAD without an uncompressed-size field")
        // sanity-bound the DECLARED size before allocating: past
        // Int.MaxValue, .toInt wraps negative and the JVM cannot hold
        // the decode in one array anyway. A wrapper's UNCOMPRESSED
        // payload is a whole transaction (many inner events), so no
        // tighter per-event cap applies — refuse only what this decoder
        // genuinely cannot represent, and say why
        if (uncompressedSize > Int.MaxValue - 16L)
          throw new BinlogFormatException(
            s"TRANSACTION_PAYLOAD declares $uncompressedSize uncompressed " +
              "bytes — beyond the JVM single-array decode limit; such " +
              "transactions need streamed decompression")
        // plausibility bound BEFORE allocating: zstd tops out around
        // three decimal orders of magnitude even on degenerate input,
        // so a declared size beyond 1024× the frame (+1 MB slack) is a
        // corrupt header — refuse it rather than attempt a multi-GB
        // allocation on a flipped byte
        if (uncompressedSize > 1024L * compressed.length + (1L << 20))
          throw new BinlogFormatException(
            s"TRANSACTION_PAYLOAD declares $uncompressedSize uncompressed " +
              s"bytes from a ${compressed.length}-byte frame — implausible " +
              "ratio, corrupt header")
        val out =
          try com.github.luben.zstd.Zstd.decompress(
            compressed, uncompressedSize.toInt)
          catch { case e: com.github.luben.zstd.ZstdException =>
            // corrupt frame on a checksum-off chain (a checksummed
            // wrapper is CRC-caught first): refuse in this decoder's
            // own vocabulary, not a native library's
            throw new BinlogFormatException(
              s"zstd payload decompression failed: ${e.getMessage}")
          }
        if (out.length != uncompressedSize) throw new BinlogFormatException(
          s"zstd payload decompressed to ${out.length}, " +
            s"declared $uncompressedSize")
        out
      case x => throw new BinlogFormatException(
        s"unsupported TRANSACTION_PAYLOAD compression type $x")
    }
    // inner events: v4 headers, no checksums; the recursive parse gets
    // its own fresh TABLE_MAP context (transaction-scoped by
    // construction). Materializing the inner Vector is fine — it is
    // ONE transaction, the bound a single statement already has
    val innerEvents =
      parse(inner, base = 1L,
        fde = Some(FormatDescription(h, start, 4, "tp-inner", ChecksumOff,
          Array.empty)),
        decodeRows = decodeRows)
    innerEvents.map {
      case re: RowsEvent => re.copy(startPos = start)
      case e: TableMap => e.copy(startPos = start)
      case e: Xid => e.copy(startPos = start)
      case e: Query => e.copy(startPos = start)
      case e: Opaque => e.copy(startPos = start)
      case e => e
    }
  }

  /** Parse a whole binlog file. */
  def parseFile(path: String): Vector[Event] =
    parse(Files.readAllBytes(Paths.get(path)))

  /** Read ONLY the format description from a file head — O(1), used by
    * the streaming scan to learn the checksum algorithm before seeking
    * to a mid-file offset.
    */
  def readFde(path: String): FormatDescription = {
    val ch = java.nio.channels.FileChannel.open(
      Paths.get(path), java.nio.file.StandardOpenOption.READ)
    try {
      val head = new Array[Byte](4 + CommonHeaderLen)
      readFully(ch, head, 0)
      if (!java.util.Arrays.equals(java.util.Arrays.copyOfRange(head, 0, 4), Magic))
        throw new BinlogFormatException("bad binlog magic")
      val c = new Cur(head, 4)
      val h = parseHeader(c)
      if (h.eventType != FORMAT_DESCRIPTION_EVENT)
        throw new BinlogFormatException(
          s"first event is type ${h.eventType}, want FORMAT_DESCRIPTION")
      val full = new Array[Byte](h.eventSize)
      readFully(ch, full, 4)
      parseFde(full, h, 4L)
    } finally ch.close()
  }

  private def readFully(ch: java.nio.channels.FileChannel,
                        buf: Array[Byte], pos: Long): Unit = {
    val bb = java.nio.ByteBuffer.wrap(buf)
    var off = pos
    while (bb.hasRemaining) {
      val n = ch.read(bb, off)
      if (n < 0) throw new BinlogFormatException("truncated binlog header")
      off += n
    }
  }

  private def uuidString(sid: Array[Byte]): String = {
    val hex = sid.map(b => f"${b & 0xff}%02x").mkString
    s"${hex.substring(0, 8)}-${hex.substring(8, 12)}-" +
      s"${hex.substring(12, 16)}-${hex.substring(16, 20)}-" +
      hex.substring(20)
  }

  // -- GTID set algebra -------------------------------------------------
  /** Parsed GTID set: uuid → disjoint CLOSED [start, end] intervals,
    * sorted ascending — the in-memory form of the canonical
    * `uuid:a-b:c,uuid2:d` notation ([[gtidSet]], the reference's
    * metadata.txt third line). Consumer side of GTID auto-position:
    * containment decides which transactions a resuming stream skips.
    */
  type GtidSet = Map[String, Vector[(Long, Long)]]

  /** Parse canonical interval notation; tolerates whitespace after the
    * commas MySQL prints. Empty/blank → empty set. Malformed input
    * throws [[BinlogFormatException]] naming the bad fragment — a
    * mistyped start set must refuse, not silently skip nothing.
    */
  def parseGtidSet(s: String): GtidSet = {
    if (s == null || s.trim.isEmpty) return Map.empty
    s.split(",").map(_.trim).filter(_.nonEmpty).map { part =>
      part.split(":").toList match {
        case uuid :: ivs if ivs.nonEmpty &&
            uuid.replace("-", "").length == 32 =>
          // toLongOption, not toLong: 'uuid:5-' or 'uuid:x' must refuse
          // with the fragment named, not leak a raw NumberFormatException
          def gno(s: String, iv: String): Long = s.toLongOption.getOrElse(
            throw new BinlogFormatException(
              s"bad gtid interval '$iv' in '$part'"))
          val parsed = ivs.map { iv =>
            iv.split("-", 2) match {
              case Array(a) => val g = gno(a, iv); (g, g)
              case Array(a, b) =>
                val (s0, e0) = (gno(a, iv), gno(b, iv))
                if (e0 < s0) throw new BinlogFormatException(
                  s"bad gtid interval '$iv' in '$part'")
                (s0, e0)
            }
          }.sortBy(_._1).toVector
          parsed.sliding(2).foreach {
            case Vector((_, e0), (s1, _)) if s1 <= e0 =>
              throw new BinlogFormatException(
                s"overlapping gtid intervals in '$part'")
            case _ => ()
          }
          uuid.toLowerCase -> parsed
        case _ => throw new BinlogFormatException(
          s"bad gtid set fragment '$part' (want uuid:a-b[:c-d...])")
      }
    }.toMap
  }

  /** Is `uuid:gno` in the set? */
  def gtidContains(set: GtidSet, uuid: String, gno: Long): Boolean =
    set.get(uuid.toLowerCase)
      .exists(_.exists { case (a, b) => gno >= a && gno <= b })

  /** Is every gtid of `sub` in `sup`? (Interval-wise: each sub-interval
    * must fit inside one sup-interval — intervals are disjoint+sorted.)
    * Drives the purged-history check: a file whose PREVIOUS_GTIDS is
    * NOT a subset of the requested start set contains history from
    * before the set was recorded that this chain no longer retains.
    */
  def gtidSubset(sub: GtidSet, sup: GtidSet): Boolean =
    sub.forall { case (uuid, ivs) =>
      val supIvs = sup.getOrElse(uuid, Vector.empty)
      ivs.forall { case (a, b) =>
        supIvs.exists { case (sa, sb) => sa <= a && b <= sb }
      }
    }

  /** Executed-GTID-set string of a parsed log, in MySQL's canonical
    * `uuid:a-b:c,uuid2:d` interval notation — the value a deployment
    * writes into the checkpoint's gtid line (the reference snapshots
    * the same string from SHOW MASTER STATUS). Consecutive gnos
    * collapse into ranges per source uuid; uuids sort lexically.
    */
  def gtidSet(events: Seq[Event]): String =
    events.collect { case g: Gtid => g }
      .groupBy(_.uuid).toSeq.sortBy(_._1)
      .map { case (uuid, gs) =>
        val nos = gs.map(_.gno).distinct.sorted
        val ranges = nos.foldLeft(List.empty[(Long, Long)]) {
          case ((a, b) :: tail, n) if n == b + 1 => (a, n) :: tail
          case (acc, n) => (n, n) :: acc
        }.reverse
        uuid + ":" + ranges.map { case (a, b) =>
          if (a == b) s"$a" else s"$a-$b"
        }.mkString(":")
      }.mkString(",")

  // -- ChangeEvent projection ------------------------------------------
  /** Flatten parsed events into the engine's [[ChangeEvent]] rows: one
    * per row-image, `op` insert/update/delete, `key` = first column of
    * the decisive image (after for write/update, before for delete),
    * `ts` = event-header timestamp (seconds — the binlog's own clock),
    * `seq` = `seqBase` + the event's file offset (the binlog position,
    * as the reference records from SHOW MASTER STATUS) with the row's
    * index within the event packed into the low bits so multi-row
    * events keep a total order. `seqBase` is the file's CHAIN EPOCH
    * ([[MysqlBinlogSource.seqBase]] derives it from the log name's
    * rotation suffix): within one file, byte position is a total
    * version order, but rotation resets byte positions — without the
    * epoch in the high bits, a same-second update early in the
    * successor log would LOSE the (ts, seq) collapse to a stale row
    * late in the predecessor. `payload` = JSON of the decisive image's
    * present columns, named by the TABLE_MAP's 8.0 optional column
    * names (`binlog_row_metadata=FULL`), else `col_<i>`.
    */
  def changeEvents(events: Seq[Event],
                   seqBase: Long = 0L): Seq[ChangeEvent] =
    changeEventsIterator(events.iterator, seqBase).toVector

  /** LAZY form of [[changeEvents]] — composes with [[eventIterator]]
    * so a partition reader streams binlog bytes → rows without ever
    * materializing a file-sized Event or ChangeEvent collection
    * (per-statement batches only, ≤ the rows of one statement).
    */
  def changeEventsIterator(events: Iterator[Event],
                           seqBase: Long = 0L): Iterator[ChangeEvent] = {
    val tableMaps = scala.collection.mutable.Map[Long, TableMap]()
    // row counter runs ACROSS consecutive rows events sharing one
    // startPos: unwrapped TRANSACTION_PAYLOAD statements all carry the
    // wrapper's position, and without the shared counter their rows
    // would collide at seq granularity (saturates at 64 rows, the same
    // bound a single oversized statement has always had)
    var lastPos = -1L
    var rowCounter = 0
    events.flatMap {
      case tm: TableMap => tableMaps(tm.tableId) = tm; Nil
      case re: RowsEvent =>
        val tm = tableMaps.getOrElse(re.tableId,
          throw new BinlogFormatException(
            s"rows event at ${re.startPos} references unknown table id ${re.tableId}"))
        val op = re.eventType match {
          case WRITE_ROWS_EVENT => ChangeEvent.Insert
          case UPDATE_ROWS_EVENT => ChangeEvent.Update
          // diffs are already applied at decode: a partial update IS an
          // update downstream
          case PARTIAL_UPDATE_ROWS_EVENT => ChangeEvent.Update
          case DELETE_ROWS_EVENT => ChangeEvent.Delete
        }
        if (re.startPos != lastPos) { lastPos = re.startPos; rowCounter = 0 }
        re.rows.map { case (before, after) =>
          val img = (if (op == ChangeEvent.Delete) before else after).get
          // key = first column of the decisive image; under
          // binlog_row_image=MINIMAL an UPDATE's after image carries
          // ONLY changed columns, so when the PK is absent there it
          // comes from the before image (PK-only by definition —
          // MINIMAL exists to keep exactly that much)
          val keyCol = img.values.headOption.flatten
            .orElse(if (op == ChangeEvent.Update)
              before.flatMap(_.values.headOption.flatten) else None)
          val key = keyCol match {
            case Some(l: java.lang.Long) => l.longValue()
            case v => throw new BinlogFormatException(
              s"first (key) column must be an integer type, got $v")
          }
          val ce = ChangeEvent(op, tm.tableName, key,
            new java.sql.Timestamp(re.header.tsSec * 1000L),
            seqBase + re.startPos * 64 + math.min(rowCounter, 63),
            if (op == ChangeEvent.Delete) null else imageJson(tm, img),
            payloadBefore = before.map(b => imageJson(tm, b)).orNull)
          rowCounter += 1
          ce
        }
      case _ => Nil
    }
  }

  /** JSON render of a row image (present columns only). Doubles via
    * Double.toString (round-trips exactly — the value survives
    * binlog → JSON → Spark bit-identically), BLOBs as base64.
    */
  def imageJson(tm: TableMap, img: RowImage): String = {
    val names = tm.colNames.getOrElse(
      Array.tabulate(tm.colTypes.length)(i => s"col_$i"))
    val sb = new java.lang.StringBuilder(64).append('{')
    img.values.indices.foreach { i =>
      img.values(i).foreach { v =>
        if (sb.length > 1) sb.append(',')
        MysqlJsonBinary.quoteTo(sb, names(i)).append(':')
        v match {
          case null => sb.append("null")
          case l: java.lang.Long => sb.append(l.longValue)
          case d: java.lang.Double =>
            if (d.isNaN || d.isInfinite) sb.append('"').append(d.toString).append('"')
            else sb.append(d.toString)
          case f: java.lang.Float =>
            if (f.isNaN || f.isInfinite) sb.append('"').append(f.toString).append('"')
            else sb.append(f.toString)
          case b: Array[Byte] =>
            sb.append('"').append(java.util.Base64.getEncoder.encodeToString(b))
              .append('"')
          case bd: java.math.BigDecimal =>
            // QUOTED, not a bare JSON number: toPlainString carries the
            // column's exact declared scale (trailing zeros — the
            // rendering the reference battles for, sync.py:77-83), and
            // a string survives any downstream JSON reparse that would
            // canonicalize 12.50 into 12.5
            sb.append('"').append(bd.toPlainString).append('"')
          case s: String => MysqlJsonBinary.quoteTo(sb, s)
          case other => MysqlJsonBinary.quoteTo(sb, other.toString)
        }
      }
    }
    sb.append('}').toString
  }
}
