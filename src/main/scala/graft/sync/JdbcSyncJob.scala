package graft.sync

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.sql.DriverManager
import java.util.Properties

/** The reference program, end to end, against real databases: discover
  * tables over JDBC metadata (`SHOW TABLES`, sync.py:155), regex-filter
  * (sync.py:143-144), probe PK bounds (`IFNULL(MIN/MAX)`, sync.py:163),
  * pick a strategy per table (ChunkPlanner), copy with range-partitioned
  * reads and batched PreparedStatement writes, and record the per-table
  * high-water offsets (the metadata.txt analog, sync.py:175-181).
  *
  * Differences from the reference, by design (SURVEY §3.4): half-open
  * chunks (no duplicate boundary rows), failures propagate, values never
  * pass through SQL strings. Works against any JDBC pair — exercised in
  * tests with embedded Derby on both sides; MySQL→ClickHouse is the same
  * code with different URLs/drivers.
  */
object JdbcSyncJob {

  final case class Endpoint(url: String, props: Properties = new Properties())

  /** `SHOW MASTER STATUS` row — the handoff coordinates a downstream
    * binlog consumer resumes from (sync.py:175-177).
    */
  final case class MasterStatus(file: String, position: Long, gtid: String)

  /** The reference's snapshot fence (sync.py:152-185), as injectable
    * probes so the ORDERING — acquire lock → read catalog + bounds →
    * record binlog coordinates → release — is testable without a MySQL
    * server. On a real MySQL source: `acquire` runs `FLUSH TABLES WITH
    * READ LOCK` + `START TRANSACTION WITH CONSISTENT SNAPSHOT`,
    * `masterStatus` runs `SHOW MASTER STATUS`, `release` runs
    * `UNLOCK TABLES` — all on ONE connection.
    */
  final case class SnapshotFence(
      acquire: () => Unit = () => (),
      masterStatus: () => Option[MasterStatus] = () => None,
      release: () => Unit = () => ())

  /** The real MySQL fence — the reference's statements verbatim
    * (sync.py:152-154,175,184), all on the ONE connection passed in.
    * Plugs into [[run]]'s `fence` parameter when the source is MySQL;
    * not exercised by tests (no MySQL server in the container), but the
    * ordering contract it fills is test-pinned with a recording fence.
    */
  def mysqlFence(conn: java.sql.Connection): SnapshotFence = SnapshotFence(
    acquire = () => {
      val st = conn.createStatement()
      try {
        st.execute("FLUSH TABLES WITH READ LOCK")
        st.execute("SET SESSION TRANSACTION ISOLATION LEVEL REPEATABLE READ")
        st.execute("START TRANSACTION WITH CONSISTENT SNAPSHOT")
      } finally st.close()
    },
    masterStatus = () => {
      val st = conn.createStatement()
      try {
        // MySQL 8.4 removed SHOW MASTER STATUS (replaced by SHOW BINARY
        // LOG STATUS); try the current form first, fall back to the
        // reference's statement on older servers
        val rs =
          try st.executeQuery("SHOW BINARY LOG STATUS")
          catch { case _: java.sql.SQLException =>
            st.executeQuery("SHOW MASTER STATUS")
          }
        if (rs.next())
          Some(MasterStatus(rs.getString("File"), rs.getLong("Position"),
            Option(rs.getString("Executed_Gtid_Set")).getOrElse("")))
        else None
      } finally st.close()
    },
    release = () => {
      val st = conn.createStatement()
      try { st.execute("UNLOCK TABLES"): Unit } finally st.close()
    })

  /** The reference's `metadata.txt` contract, byte for byte: three lines
    * `binlog_file \n position \n gtid`, no trailing newline
    * (sync.py:180-181). Written BEFORE any copy starts, while the fence
    * holds — the coordinates must predate every copied row for the CDC
    * consumer to observe each change at least once.
    */
  def writeMasterStatus(dir: String, st: MasterStatus): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/metadata.txt"),
      s"${st.file}\n${st.position}\n${st.gtid}")
  }

  /** Parse a metadata.txt back into coordinates (consumer side). */
  def readMasterStatus(dir: String): Option[MasterStatus] = {
    val p = java.nio.file.Paths.get(s"$dir/metadata.txt")
    if (!java.nio.file.Files.exists(p)) None
    else java.nio.file.Files.readString(p).split("\n", -1) match {
      case Array(f, pos, gtid) => Some(MasterStatus(f, pos.toLong, gtid))
      case _ => None
    }
  }

  /** S3 catalog scan via DatabaseMetaData (driver-side, metadata only). */
  def discoverTables(ep: Endpoint, schema: Option[String] = None): Seq[String] = {
    val conn = DriverManager.getConnection(ep.url, ep.props)
    try {
      val rs = conn.getMetaData.getTables(null, schema.orNull, "%",
        Array("TABLE"))
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      while (rs.next()) names += rs.getString("TABLE_NAME")
      names.sorted.toSeq
    } finally conn.close()
  }

  private val IntegerJdbcTypes: Set[Int] = Set(
    java.sql.Types.TINYINT, java.sql.Types.SMALLINT,
    java.sql.Types.INTEGER, java.sql.Types.BIGINT)

  /** The table's primary-key columns in key order, and its
    * integer-typed columns in ordinal order, from one metadata pass.
    */
  private def keyAndIntegerColumns(ep: Endpoint, table: String,
                                   schema: Option[String])
      : (Seq[String], Seq[String]) = {
    val conn = DriverManager.getConnection(ep.url, ep.props)
    try {
      val md = conn.getMetaData
      val rk = md.getPrimaryKeys(null, schema.orNull, table)
      val key = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      while (rk.next())
        key += rk.getInt("KEY_SEQ") -> rk.getString("COLUMN_NAME")
      // the table name is a LIKE pattern here ('_' matches any char)
      val rc = md.getColumns(null, schema.orNull, table, "%")
      val ints = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      while (rc.next())
        if (rc.getString("TABLE_NAME") == table &&
          IntegerJdbcTypes(rc.getInt("DATA_TYPE")))
          ints += rc.getInt("ORDINAL_POSITION") -> rc.getString("COLUMN_NAME")
      (key.sortBy(_._1).map(_._2).toSeq, ints.sortBy(_._1).map(_._2).toSeq)
    } finally conn.close()
  }

  /** S4 PK introspection from JDBC metadata — the engine's analog of the
    * reference's `SHOW COLUMNS ... Extra='auto_increment'` probe
    * (pagination.py:52-62): the table's single-column INTEGER primary
    * key, if it has one. Multi-column or non-integer PKs return None
    * (they can't drive range chunking).
    */
  def introspectPk(ep: Endpoint, table: String,
                   schema: Option[String] = None): Option[String] =
    keyAndIntegerColumns(ep, table, schema) match {
      case (Seq(pk), ints) if ints.contains(pk) => Some(pk)
      case _ => None
    }

  /** The range-split column of a parallel copy of a table without a
    * single integer PK: the leading primary-key column when it is an
    * integer (its index then serves every range predicate), else the
    * first integer-typed column. None: the table has no integer column.
    */
  def splitColumn(ep: Endpoint, table: String,
                  schema: Option[String] = None): Option[String] = {
    val (key, ints) = keyAndIntegerColumns(ep, table, schema)
    key.headOption.filter(ints.contains).orElse(ints.headOption)
  }

  /** A1 bounds + real count as ONE driver-side aggregate query on the
    * source — the reference's `SELECT IFNULL(MIN/MAX(_rowid),0)` plus
    * COUNT (sync.py:163-166) verbatim; never a row transfer. (A
    * `spark.read.jdbc(...).agg(...)` would fetch the whole table: DSv1
    * JDBC does not push aggregates.)
    */
  def boundsAndCount(ep: Endpoint, table: String, pk: String): (Long, Long, Long) = {
    val conn = DriverManager.getConnection(ep.url, ep.props)
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT COALESCE(MIN($pk), 0), COALESCE(MAX($pk), 0), COUNT(*) FROM $table")
      rs.next()
      (rs.getLong(1), rs.getLong(2), rs.getLong(3))
    } finally conn.close()
  }

  /** A1 bounds probe for one table: PK bounds + count when a PK exists,
    * count only otherwise.
    */
  def probeBounds(src: Endpoint, table: String,
                  pk: Option[String]): (Long, Long, Long) = pk match {
    case Some(k) => boundsAndCount(src, table, k)
    case None =>
      val conn = DriverManager.getConnection(src.url, src.props)
      try {
        val rs = conn.createStatement()
          .executeQuery(s"SELECT COUNT(*) FROM $table")
        rs.next(); (0L, 0L, rs.getLong(1))
      } finally conn.close()
  }

  /** `MIN`/`MAX` of a split column, NULLs ignored, `(0, 0)` when it
    * holds none — two index-end probes, no count and no row transfer.
    */
  private def columnBounds(ep: Endpoint, table: String,
                           c: String): (Long, Long) = {
    val conn = DriverManager.getConnection(ep.url, ep.props)
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT COALESCE(MIN($c), 0), COALESCE(MAX($c), 0) FROM $table")
      rs.next()
      (rs.getLong(1), rs.getLong(2))
    } finally conn.close()
  }

  /** A range-partitioned copy read of `[lo, hi]` on `c`, and its
    * partition count: one per `batchSize` of the table's `rows`, capped
    * by `maxPartitions` and by the cores Spark runs tasks on (more tasks
    * than cores only add connections, commits and, for a split without
    * an index, source scans; `batchSize` stays the insert batch inside
    * each task), then by the span as Spark caps it (one partition when
    * `lo == hi`, at most `hi - lo` otherwise). Spark's first range also
    * takes NULLs and both end ranges are open, so every row lands
    * exactly once whatever the bounds.
    */
  private def rangeRead(spark: SparkSession, src: Endpoint, table: String,
                        c: String, lo: Long, hi: Long, rows: Long,
                        cfg: SyncJob.SyncConfig): (DataFrame, Int) = {
    val n = math.min(
      ChunkPlanner.numPartitions(rows, cfg.batchSize, cfg.maxPartitions),
      spark.sparkContext.defaultParallelism)
    val span = hi - lo // negative on overflow: a span wider than any n
    val parts = if (span < 0) n else math.max(1L, math.min(n.toLong, span)).toInt
    (JdbcSource.rangePartitionedRead(spark, src.url, table, c, lo, hi, parts,
      src.props), parts)
  }

  /** Copy one table src→dst with the planned strategy, bounds already
    * probed (under the snapshot fence when [[run]] drives this). Tables
    * without a usable PK but above the small-table threshold split by
    * range on [[splitColumn]], its bounds probed here, after the fence;
    * tables without an integer column fall back to one partition. Each
    * copy task writes in one transaction ([[Sinks.jdbc]]). Empty tables
    * still create the destination table.
    */
  def copyTable(spark: SparkSession, src: Endpoint, dst: Endpoint,
                table: String, pk: Option[String], bounds: (Long, Long, Long),
                cfg: SyncJob.SyncConfig = SyncJob.SyncConfig(),
                schema: Option[String] = None,
                overwrite: Boolean = false): SyncJob.TableReport = {
    val (lo, hi, cnt) = bounds
    val strategy = ChunkPlanner.plan((lo, hi), cnt, hasAutoInc = pk.isDefined,
      cfg.batchSize, cfg.smallTableThreshold, cfg.maxPartitions)
    val (df, parts) = strategy match {
      case ChunkPlanner.Empty =>
        (JdbcSource.read(spark, src.url, table, src.props).limit(0), 1)
      case ChunkPlanner.SingleRow | ChunkPlanner.Paginated =>
        (JdbcSource.read(spark, src.url, table, src.props), 1)
      case ChunkPlanner.SyntheticSplit(_) =>
        splitColumn(src, table, schema) match {
          case Some(c) =>
            val (cLo, cHi) = columnBounds(src, table, c)
            rangeRead(spark, src, table, c, cLo, cHi, cnt, cfg)
          case None =>
            (JdbcSource.read(spark, src.url, table, src.props), 1)
        }
      case ChunkPlanner.RangeChunks(_) =>
        rangeRead(spark, src, table, pk.get, lo, hi, cnt, cfg)
    }
    // write even when empty so the destination table exists
    Sinks.jdbc(df, dst.url, table, dst.props, batchSize = cfg.batchSize.toInt,
      overwrite = overwrite)
    SyncJob.TableReport(table, cnt, lo, hi,
      strategy.getClass.getSimpleName.stripSuffix("$"), parts)
  }

  /** One-table convenience (probe + copy in one call, no fence). */
  def syncTable(spark: SparkSession, src: Endpoint, dst: Endpoint,
                table: String, pk: Option[String],
                cfg: SyncJob.SyncConfig = SyncJob.SyncConfig(),
                schema: Option[String] = None,
                overwrite: Boolean = false): SyncJob.TableReport =
    copyTable(spark, src, dst, table, pk, probeBounds(src, table, pk), cfg,
      schema, overwrite)

  /** Full run over the filtered catalog, in the reference's lifecycle
    * order (sync.py:148-199): acquire the snapshot fence → catalog scan
    * → per-table bounds probes → record the binlog coordinates
    * (metadata.txt, BEFORE any copy) → release the fence → parallel
    * copies from the fenced bounds. Writes the per-table offsets
    * checkpoint to `checkpointDir` and returns the report. `pkFor`
    * defaults to JDBC-metadata PK introspection ([[introspectPk]]).
    */
  def run(spark: SparkSession, src: Endpoint, dst: Endpoint,
          pkFor: String => Option[String], checkpointDir: String,
          cfg: SyncJob.SyncConfig = SyncJob.SyncConfig(),
          schema: Option[String] = None,
          fence: SnapshotFence = SnapshotFence()): DataFrame = {
    import spark.implicits._
    // fence held strictly across catalog + bounds + coordinate capture;
    // released on ANY exit so a probe failure can't leave the source
    // locked (FLUSH TABLES WITH READ LOCK held forever)
    fence.acquire()
    val planned =
      try {
        val tables = SyncJob.filterTables(discoverTables(src, schema),
          cfg.includeTables, cfg.excludeTables)
        val p = tables.map { t =>
          val pk = pkFor(t); (t, pk, probeBounds(src, t, pk))
        }
        fence.masterStatus().foreach(writeMasterStatus(checkpointDir, _))
        p
      } finally fence.release()
    // table-level fan-out (the reference's outer ThreadPoolExecutor with
    // --max_workers, sync.py:192-199): small-table jobs overlap while a
    // big table's partitioned copy saturates the executors. Copies are
    // SUBMITTED largest first (stable on the probed count), so the
    // longest copy starts on the first worker instead of queueing behind
    // small ones; reports keep catalog order. Failures PROPAGATE (the
    // reference logs and swallows, SURVEY §3.4-3), once every sibling
    // copy has stopped writing.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(cfg.maxWorkers, math.max(1, planned.size))))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val reports =
      try {
        val submitted = planned.indices.sortBy(i => -planned(i)._3._3)
          .map { i =>
            val (t, pk, b) = planned(i)
            i -> scala.concurrent.Future(
              copyTable(spark, src, dst, t, pk, b, cfg, schema))
          }
        graft.Overlap.results(submitted.sortBy(_._1).map(_._2))
      } finally pool.shutdown()
    SyncJob.writeCheckpoint(checkpointDir, reports)
    reports.toDF().orderBy("table")
  }

  /** Incremental resume — the consumer of the offsets checkpoint a
    * previous [[run]] recorded (St1): per table, copy ONLY the rows with
    * `pk > max_pk` from the checkpoint, APPEND them to the destination,
    * and roll the checkpoint forward. Tables without a recorded offset
    * (or without a PK) fall back to a full copy. The delta predicate
    * pushes down to the source and the delta itself is range-partitioned,
    * so resume cost is O(new rows) regardless of table size.
    */
  def resume(spark: SparkSession, src: Endpoint, dst: Endpoint,
             pkFor: String => Option[String], checkpointDir: String,
             cfg: SyncJob.SyncConfig = SyncJob.SyncConfig(),
             schema: Option[String] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val offsets = SyncJob.readCheckpoint(checkpointDir)
    val tables = SyncJob.filterTables(discoverTables(src, schema),
      cfg.includeTables, cfg.excludeTables)
    val reports = tables.map { t =>
      (pkFor(t), offsets.get(t)) match {
        case (Some(k), Some(lastMax)) =>
          val (lo, hi, cnt) = {
            val conn = DriverManager.getConnection(src.url, src.props)
            try {
              val st = conn.prepareStatement(
                s"SELECT COALESCE(MIN($k), 0), COALESCE(MAX($k), 0), COUNT(*) " +
                  s"FROM $t WHERE $k > ?")
              st.setLong(1, lastMax)
              val rs = st.executeQuery()
              rs.next()
              (rs.getLong(1), rs.getLong(2), rs.getLong(3))
            } finally conn.close()
          }
          if (cnt == 0L)
            // nothing new: keep the old high-water mark (bounds sentinel
            // would regress the checkpoint to 0)
            SyncJob.TableReport(t, 0L, lastMax, lastMax, "Resume", 0)
          else {
            // the explicit filter does the row selection (pushed down);
            // the read bounds only shape the partitions
            val (delta, n) = rangeRead(spark, src, t, k, lo, hi, cnt, cfg)
            Sinks.jdbc(delta.filter(col(k) > lastMax), dst.url, t, dst.props,
              batchSize = cfg.batchSize.toInt)
            SyncJob.TableReport(t, cnt, lo, hi, "Resume", n)
          }
        case (pk, _) =>
          // no incremental coordinate for this table: re-copy it WHOLE,
          // truncating the destination first — an append here would
          // duplicate every previously-copied row on each resume
          syncTable(spark, src, dst, t, pk, cfg, schema, overwrite = true)
      }
    }
    SyncJob.writeCheckpoint(checkpointDir, reports)
    reports.toDF().orderBy("table")
  }

  /** [[run]] with metadata-introspected PKs (S4) — the zero-config path. */
  def run(spark: SparkSession, src: Endpoint, dst: Endpoint,
          checkpointDir: String, cfg: SyncJob.SyncConfig,
          schema: Option[String], fence: SnapshotFence): DataFrame =
    run(spark, src, dst, t => introspectPk(src, t, schema), checkpointDir,
      cfg, schema, fence)
}
