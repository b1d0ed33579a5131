package syncbench

import java.nio.file.{Files, Path}

import graft.streaming.MysqlBinlogWriter.{Col, TableDef, Writer}

/** Seeded, deterministic inputs. The program only ever sees what this
  * produces: MySQL-format binlog bytes and Derby rows. The generator
  * also keeps the truth every run is checked against.
  */
object Gen {

  /** One whole transaction of the synthesized log: `[start, end)` in
    * bytes, `events` change rows.
    */
  final case class Txn(start: Long, end: Long, events: Int)

  /** Latest post-fence version of a key: `row == null` is a delete. */
  final case class Version(seq: Long, tsSec: Long, row: Array[AnyRef])

  /** Change mix of one phase, as shares of the rows written. */
  final case class Mix(insert: Double, update: Double, delete: Double)

  final case class LogSpec(
      table: TableDef,
      /** rows inserted before the fence position (pre-snapshot history) */
      historyRows: Int,
      backlogRows: Int,
      backlogMix: Mix,
      pacedRows: Int,
      pacedMix: Mix,
      rowsPerTxn: Int,
      makeRow: (scala.util.Random, Long, Long) => Array[AnyRef])

  /** The whole log, written once to `staged`; the live log is fed from
    * it by byte range, so every position, seq and checksum the program
    * sees is the writer's own.
    */
  final class Log(val staged: Path, val fence: Long,
                  val backlog: Vector[Txn], val paced: Vector[Txn],
                  val truth: Map[Long, Version],
                  /** the table's live rows once the backlog is applied */
                  val rowsAfterBacklog: Vector[Array[AnyRef]]) {
    def backlogEnd: Long = backlog.last.end
    def end: Long = paced.lastOption.fold(backlogEnd)(_.end)
    def backlogEvents: Long = backlog.map(_.events.toLong).sum
  }

  val LogName = "binlog.000001"
  val Uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"

  /** seq of row `i` of the rows event at byte `pos` in [[LogName]]:
    * the source's `epoch << 44 | pos * 64 + row` (epoch 1 from the name).
    */
  def seqOf(pos: Long, i: Int): Long = (1L << 44) + pos * 64 + math.min(i, 63)

  def writeLog(staged: Path, spec: LogSpec, seed: Long): Log = {
    val rng = new scala.util.Random(seed)
    val td = spec.table
    val w = new Writer(staged.toString, serverId = 1L)
    w.setClock(1700000000L)
    w.begin()
    w.previousGtids(Seq.empty)
    val current = scala.collection.mutable.HashMap.empty[Long, Array[AnyRef]]
    val live = new LiveKeys
    val truth = scala.collection.mutable.HashMap.empty[Long, Version]
    var nextKey = 1L
    var ver = 0L
    var gno = 0L
    var txnNo = 0L
    def txn(rows: Int, mix: Mix, recordTruth: Boolean): Txn = {
      gno += 1; txnNo += 1
      // commit clocks advance with the log, so (ts, seq) orders as the log
      w.setClock(1700000000L + txnNo / 50)
      val start = w.position
      w.gtid(Uuid, gno)
      w.query(td.schema, "BEGIN")
      // one rows event per op kind, ≤ 64 rows each (seq's row field)
      val ops = Vector.fill(rows) {
        val u = rng.nextDouble()
        if (live.size == 0 || u < mix.insert) 'i'
        else if (u < mix.insert + mix.update) 'u' else 'd'
      }
      ops.groupBy(identity).toSeq.sortBy(_._1).foreach { case (op, all) =>
        all.grouped(64).foreach { chunk =>
          w.tableMap(td)
          val pos = w.position
          val images = chunk.indices.map { _ =>
            ver += 1
            op match {
              case 'i' =>
                val k = nextKey; nextKey += 1
                val r = spec.makeRow(rng, k, ver)
                current(k) = r; live.add(k)
                (k, null, r)
              case 'u' =>
                val k = live.pick(rng)
                val r = spec.makeRow(rng, k, ver)
                val before = current(k)
                current(k) = r
                (k, before, r)
              case _ =>
                val k = live.pick(rng)
                val before = current.remove(k).get
                live.remove(k)
                (k, before, null)
            }
          }
          op match {
            case 'i' => w.writeRows(td, images.map(_._3))
            case 'u' => w.updateRows(td, images.map(i => (i._2, i._3)))
            case _ => w.deleteRows(td, images.map(_._2))
          }
          if (recordTruth) images.zipWithIndex.foreach { case ((k, _, r), i) =>
            truth(k) = Version(seqOf(pos, i), 1700000000L + txnNo / 50, r)
          }
        }
      }
      w.xid(gno)
      Txn(start, w.position, rows)
    }
    var left = spec.historyRows
    while (left > 0) {
      val n = math.min(left, spec.rowsPerTxn); txn(n, Mix(1, 0, 0), false); left -= n
    }
    val fence = w.position
    def phase(rows: Int, mix: Mix): Vector[Txn] =
      Vector.tabulate(rows / spec.rowsPerTxn)(_ => txn(spec.rowsPerTxn, mix, true))
    val backlog = phase(spec.backlogRows, spec.backlogMix)
    val rowsAfter = live.snapshot.sorted.map(current)
    val paced = phase(spec.pacedRows, spec.pacedMix)
    w.close()
    new Log(staged, fence, backlog, paced, truth.toMap, rowsAfter)
  }

  /** O(1) random pick and removal over the live key set. */
  private final class LiveKeys {
    private val keys = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val at = scala.collection.mutable.HashMap.empty[Long, Int]
    def size: Int = keys.size
    def add(k: Long): Unit = { at(k) = keys.size; keys += k }
    def pick(rng: scala.util.Random): Long = keys(rng.nextInt(keys.size))
    def remove(k: Long): Unit = {
      val i = at.remove(k).get
      val last = keys.remove(keys.size - 1)
      if (last != k) { keys(i) = last; at(last) = i }
    }
    def snapshot: Vector[Long] = keys.toVector
  }

  /** Appends byte ranges of the staged log to the live log the program
    * tails: one `write` per transaction, no fsync.
    */
  final class LiveLog(staged: Path, val path: Path) extends AutoCloseable {
    private val src = java.nio.channels.FileChannel.open(staged,
      java.nio.file.StandardOpenOption.READ)
    private val dst = java.nio.channels.FileChannel.open(path,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
      java.nio.file.StandardOpenOption.WRITE)
    @volatile private var size = 0L
    def end: Long = size
    /** Make the staged log visible up to byte `to`. */
    def appendTo(to: Long): Unit = {
      var pos = size
      while (pos < to) pos += src.transferTo(pos, to - pos, dst)
      size = to
    }
    override def close(): Unit = { src.close(); dst.close() }
  }

  // --- the two workloads' row shapes ---------------------------------------

  private val types = Array("click", "view", "purchase", "signup", "error")

  /** ~1 KB JSON documents, the full-update mix of the repo's CDC decode
    * stress: full before and after images of the whole document.
    */
  val docsTable: TableDef = TableDef(41L, "shop", "docs", Seq(
    Col.bigint("id"), Col.bigint("ver"), Col.bigint("user_id"),
    Col.timestamp6("ts"), Col.varchar("event_type", 64),
    Col.double("value"), Col.json("doc")))

  def docRow(rng: scala.util.Random, k: Long, ver: Long): Array[AnyRef] = {
    val n = rng.nextInt(7)
    val doc = s"""{"n":$ver,"pad":"${"x" * 900}","tags":[${
      (0 to n).map(i => s""""t$i"""").mkString(",")}]}"""
    Array[AnyRef](java.lang.Long.valueOf(k), java.lang.Long.valueOf(ver),
      java.lang.Long.valueOf(rng.nextInt(100000).toLong),
      java.lang.Long.valueOf(1700000000000000L + ver * 1000L),
      types(rng.nextInt(types.length)),
      java.lang.Double.valueOf(rng.nextInt(1000000) / 100.0), doc)
  }

  /** Small event rows, the events mix of the repo's CDC decode stress;
    * `value` is NULL on ~5% of rows so the profile's null counts move.
    */
  val eventsTable: TableDef = TableDef(23L, "shop", "events", Seq(
    Col.bigint("id"), Col.bigint("ver"), Col.bigint("user_id"),
    Col.timestamp6("ts"), Col.varchar("event_type", 64),
    Col.double("value"), Col.json("props")))

  def eventRow(rng: scala.util.Random, k: Long, ver: Long): Array[AnyRef] =
    Array[AnyRef](java.lang.Long.valueOf(k), java.lang.Long.valueOf(ver),
      java.lang.Long.valueOf(rng.nextInt(5000).toLong),
      java.lang.Long.valueOf(1700000000000000L + ver * 1000L),
      types(rng.nextInt(types.length)),
      if (rng.nextInt(20) == 0) null
      else java.lang.Double.valueOf(rng.nextInt(100000) / 100.0),
      s"""{"k": ${rng.nextInt(100)}, "tags": ["a", "b"]}""")

  // --- TPC-H-ish source tables for the snapshot -----------------------------

  /** One source table: DDL, and rows in column order. */
  final case class SrcTable(name: String, ddl: String, rows: Vector[Array[Any]])

  private def words(rng: scala.util.Random, n: Int): String =
    Seq.fill(n)(Seq("quick", "final", "regular", "ironic", "bold", "even",
      "silent", "pending", "express", "careful")(rng.nextInt(10))).mkString(" ")
  private def money(rng: scala.util.Random, max: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(rng.nextInt(max * 100).toLong, 2)
  private def date(rng: scala.util.Random): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.of(1992, 1, 1)
      .plusDays(rng.nextInt(2500).toLong))

  /** One-row table in every source: the SingleRow copy path. */
  def marker(seed: Long): SrcTable = SrcTable("sync_marker",
    "CREATE TABLE sync_marker (id BIGINT PRIMARY KEY, note VARCHAR(64))",
    Vector(Array[Any](1L, s"seed $seed")))

  /** TPC-H-shaped tables, sized so each copy strategy gets traffic:
    * [[marker]] is SingleRow, `region`/`nation` and
    * `supplier` are Paginated, the other single-integer-key tables are
    * RangeChunks, and `lineitem` (composite key) is SyntheticSplit.
    */
  def tpchTables(seed: Long, orders: Int): Seq[SrcTable] = {
    val rng = new scala.util.Random(seed ^ 0x5eed)
    val customers = orders / 5
    val parts = orders / 4
    val suppliers = 200
    Seq(
      SrcTable("region",
        "CREATE TABLE region (r_regionkey INT PRIMARY KEY, r_name VARCHAR(25), " +
          "r_comment VARCHAR(152))",
        Vector.tabulate(5)(i => Array[Any](i, s"REGION$i", words(rng, 6)))),
      SrcTable("nation",
        "CREATE TABLE nation (n_nationkey INT PRIMARY KEY, n_name VARCHAR(25), " +
          "n_regionkey INT, n_comment VARCHAR(152))",
        Vector.tabulate(25)(i => Array[Any](i, s"NATION$i", i % 5, words(rng, 6)))),
      SrcTable("supplier",
        "CREATE TABLE supplier (s_suppkey INT PRIMARY KEY, s_name VARCHAR(25), " +
          "s_nationkey INT, s_acctbal DECIMAL(15,2), s_comment VARCHAR(101))",
        Vector.tabulate(suppliers)(i => Array[Any](i + 1, f"Supplier#$i%09d",
          rng.nextInt(25), money(rng, 10000), words(rng, 5)))),
      SrcTable("customer",
        "CREATE TABLE customer (c_custkey INT PRIMARY KEY, c_name VARCHAR(25), " +
          "c_nationkey INT, c_acctbal DECIMAL(15,2), c_mktsegment CHAR(10), " +
          "c_comment VARCHAR(117))",
        Vector.tabulate(customers)(i => Array[Any](i + 1, f"Customer#$i%09d",
          rng.nextInt(25), money(rng, 10000),
          Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY")(rng.nextInt(4)),
          words(rng, 6)))),
      SrcTable("part",
        "CREATE TABLE part (p_partkey INT PRIMARY KEY, p_name VARCHAR(55), " +
          "p_size INT, p_retailprice DECIMAL(15,2), p_comment VARCHAR(23))",
        Vector.tabulate(parts)(i => Array[Any](i + 1, words(rng, 4),
          1 + rng.nextInt(50), money(rng, 2000), words(rng, 2)))),
      SrcTable("orders",
        "CREATE TABLE orders (o_orderkey BIGINT PRIMARY KEY, o_custkey INT, " +
          "o_orderstatus CHAR(1), o_totalprice DECIMAL(15,2), o_orderdate DATE, " +
          "o_comment VARCHAR(79))",
        Vector.tabulate(orders)(i => Array[Any](i + 1L, 1 + rng.nextInt(customers),
          "FOP".charAt(rng.nextInt(3)).toString, money(rng, 400000), date(rng),
          words(rng, 5)))),
      SrcTable("lineitem",
        "CREATE TABLE lineitem (l_orderkey BIGINT NOT NULL, l_linenumber INT NOT NULL, " +
          "l_partkey INT, l_suppkey INT, l_quantity DECIMAL(15,2), " +
          "l_extendedprice DECIMAL(15,2), l_discount DECIMAL(15,2), " +
          "l_shipdate DATE, l_shipmode CHAR(10), l_comment VARCHAR(44), " +
          "PRIMARY KEY (l_orderkey, l_linenumber))",
        (1 to orders).iterator.flatMap { o =>
          (1 to 1 + rng.nextInt(7)).map(l => Array[Any](o.toLong, l,
            1 + rng.nextInt(parts), 1 + rng.nextInt(suppliers),
            java.math.BigDecimal.valueOf(1L + rng.nextInt(50)),
            money(rng, 100000), java.math.BigDecimal.valueOf(rng.nextInt(11).toLong, 2),
            date(rng), Seq("AIR", "MAIL", "SHIP", "TRUCK")(rng.nextInt(4)),
            words(rng, 3)))
        }.toVector))
  }

  /** The log table's rows live once the backlog is applied, as a Derby
    * source table: the snapshot image at the backlog's end position.
    */
  def logTableSource(log: Log, td: TableDef): SrcTable = SrcTable(td.name,
    s"CREATE TABLE ${td.name} (id BIGINT PRIMARY KEY, ver BIGINT, " +
      "user_id BIGINT, ts TIMESTAMP, event_type VARCHAR(64), val DOUBLE, " +
      "body VARCHAR(2048))",
    log.rowsAfterBacklog.map(r => Array[Any](r(0), r(1), r(2),
      java.sql.Timestamp.from(java.time.Instant.EPOCH.plus(
        r(3).asInstanceOf[java.lang.Long], java.time.temporal.ChronoUnit.MICROS)),
      r(4), r(5), r(6))))

  /** Bulk-load `tables` into a fresh embedded Derby database. */
  def loadDerby(url: String, tables: Seq[SrcTable]): Long = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      var n = 0L
      tables.foreach { t =>
        conn.createStatement().execute(t.ddl)
        if (t.rows.nonEmpty) {
          val ps = conn.prepareStatement(s"INSERT INTO ${t.name} VALUES (${
            Seq.fill(t.rows.head.length)("?").mkString(",")})")
          t.rows.grouped(2000).foreach { chunk =>
            chunk.foreach { r =>
              r.indices.foreach(i => ps.setObject(i + 1, r(i)))
              ps.addBatch()
            }
            ps.executeBatch()
          }
          ps.close()
          n += t.rows.size
        }
        conn.commit()
      }
      n
    } finally conn.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
