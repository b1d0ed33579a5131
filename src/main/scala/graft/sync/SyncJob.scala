package graft.sync

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.util.matching.Regex

/** The reference's whole program — a one-shot, parallel, full-table
  * snapshot copy with a CDC checkpoint (mysql_to_clickhouse_sync.py:123-222)
  * — restated as one Spark job per table.
  *
  * Reference lifecycle (SURVEY §3.1) → Spark:
  *   Phase 1 (catalog + bounds + binlog checkpoint, sync.py:148-183)
  *     → driver-side: list tables, regex-filter, one `agg(min,max,count)`
  *       per table (aggregate pushdown on parquet footers), write the
  *       offsets file BEFORE copying (same ordering as the reference,
  *       which records `SHOW MASTER STATUS` under the read lock).
  *   Phase 2 (2-level thread pools copying chunks, sync.py:192-199,108-116)
  *     → one Catalyst-planned read→write job per table; chunk-level
  *       parallelism is Spark task parallelism over `numPartitions`
  *       (ChunkPlanner), not hand-rolled pools.
  *   Phase 3 (completion wait, sync.py:202-222) → Spark action blocking;
  *       insert failures propagate as task failures instead of being
  *       logged-and-swallowed (sync.py:87-89 — SURVEY §3.4-3).
  *
  * At 100 TB: each table copy is an embarrassingly parallel partitioned
  * scan→sink with NO shuffle (repartitionByRange is only applied when the
  * source partitioning is worse than the planned chunking); bounds come
  * from parquet footer stats, not a data scan.
  */
object SyncJob {

  /** CLI surface of the reference (sync.py:224-240, README.md:3-47).
    * `batchSize` is the JDBC insert batch (`--batch_size`, sync.py:236)
    * and the rows per chunk a copy plans; the JDBC copy then runs
    * `min(chunks, maxPartitions, defaultParallelism)` tasks, so a task
    * writes many batches, not one chunk each.
    * `maxWorkers` is the outer table-level concurrency (`--max_workers`,
    * default 10, sync.py:237) — here driver-side Futures each submitting
    * an independent Spark job, so small-table jobs overlap while a big
    * table's partitioned copy saturates the executors.
    */
  final case class SyncConfig(
      includeTables: Option[Regex] = None,
      excludeTables: Option[Regex] = None,
      batchSize: Long = 1000L,
      smallTableThreshold: Long = 1000L,
      maxPartitions: Int = 2048,
      maxWorkers: Int = 10)

  final case class TableReport(
      table: String, rows: Long, minId: Long, maxId: Long,
      strategy: String, partitions: Int)

  /** S3 catalog scan: `SHOW TABLES` (sync.py:155) → parquet files in dir.
    * Listed through the Hadoop FS API: the source dir IS an
    * object-store path in the deployment this models, and a java.io
    * listing there would return empty — a silent no-tables sync (the
    * JoinIvm r10 defect class). Pass the session's hadoopConfiguration
    * where one exists; the default resolves local and `file:` paths.
    */
  def discoverTables(srcDir: String,
                     conf: org.apache.hadoop.conf.Configuration =
                       new org.apache.hadoop.conf.Configuration()): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(srcDir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
      .sorted
  }

  /** P4 regex include/exclude filter (sync.py:143-144,158-159). The
    * reference applies exclude first, then include; a name must survive
    * both. (Its second, redundant re-filter at sync.py:196 is dropped —
    * SURVEY §3.4-6.)
    */
  def filterTables(names: Seq[String], include: Option[Regex],
                   exclude: Option[Regex]): Seq[String] =
    names
      .filterNot(n => exclude.exists(_.findFirstIn(n).isDefined))
      .filter(n => include.forall(_.findFirstIn(n).isDefined))

  /** A1 bounds probe: `SELECT IFNULL(MIN(pk),0), IFNULL(MAX(pk),0)`
    * (sync.py:163-166) plus a REAL count (the reference only estimates
    * `max-min+1`, sync.py:102 — SURVEY §2.4 A2).
    */
  def boundsAndCount(df: DataFrame, pk: String): (Long, Long, Long) = {
    val row = df.agg(
      coalesce(min(col(pk)), lit(0L)).cast("long").as("min_id"),
      coalesce(max(col(pk)), lit(0L)).cast("long").as("max_id"),
      count(lit(1)).as("cnt")).head()
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** Copy one table src→dest with the planned strategy. */
  def syncTable(spark: SparkSession, srcDir: String, destDir: String,
                table: String, pk: Option[String], cfg: SyncConfig): TableReport = {
    val df = spark.read.parquet(s"$srcDir/$table.parquet")
    val pkCol = pk.filter(df.columns.contains)
    val (minId, maxId, cnt) = pkCol match {
      case Some(k) => boundsAndCount(df, k)
      case None    => (0L, 0L, df.count())
    }
    val strategy = ChunkPlanner.plan((minId, maxId), cnt, pkCol.isDefined,
      cfg.batchSize, cfg.smallTableThreshold, cfg.maxPartitions)

    val (out, parts): (DataFrame, Int) = strategy match {
      case ChunkPlanner.Empty => (df.limit(0), 1)
      case ChunkPlanner.SingleRow | ChunkPlanner.Paginated =>
        // small table / no PK: single-partition ordered copy (the
        // deterministic replacement for the reference's ORDER-BY-less
        // LIMIT/OFFSET fallback, pagination.py:134-142)
        val ordered = pkCol.fold(df)(k => df.orderBy(col(k)))
        (ordered.coalesce(1), 1)
      case ChunkPlanner.RangeChunks(_) | ChunkPlanner.SyntheticSplit(_) =>
        val n = ChunkPlanner.numPartitions(cnt, cfg.batchSize, cfg.maxPartitions)
        // write AS SCANNED: the parquet source is already split by
        // file/row-group (`maxPartitionBytes` governs chunk size — the
        // role the reference's [lo, hi) chunk loop plays,
        // pagination.py:146-150), so the copy plan is scan→sink with NO
        // Exchange. A repartitionByRange here would insert a full
        // sort-shuffle of every row into a copy that needs none.
        (df, n)
    }
    out.write.mode(SaveMode.Overwrite).parquet(s"$destDir/$table.parquet")
    TableReport(table, cnt, minId, maxId, strategy.getClass.getSimpleName
      .stripSuffix("$"), parts)
  }

  /** St1: the CDC checkpoint the reference writes to `metadata.txt`
    * (sync.py:175-181) — here a JSON offsets file recording, per table,
    * the high-water PK at snapshot time. A downstream incremental
    * consumer starts strictly after these offsets.
    */
  def writeCheckpoint(destDir: String, reports: Seq[TableReport]): Unit = {
    Files.createDirectories(Paths.get(destDir))
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val entries = reports.map(r =>
      s"""    "${esc(r.table)}": {"max_pk": ${r.maxId}, "rows": ${r.rows}}""")
    val json = "{\n  \"offsets\": {\n" + entries.mkString(",\n") + "\n  }\n}\n"
    Files.writeString(Paths.get(s"$destDir/_sync_metadata.json"), json)
  }

  /** Read the per-table high-water offsets back (the consumer side of
    * [[writeCheckpoint]]): table → max_pk at snapshot time. Missing file
    * → empty (first run).
    */
  def readCheckpoint(destDir: String): Map[String, Long] = {
    val p = Paths.get(s"$destDir/_sync_metadata.json")
    if (!Files.exists(p)) return Map.empty
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(p))
    val off = root.get("offsets")
    if (off == null) Map.empty
    else {
      val out = scala.collection.mutable.Map.empty[String, Long]
      val it = off.fields()
      while (it.hasNext) {
        val e = it.next()
        out(e.getKey) = e.getValue.get("max_pk").asLong()
      }
      out.toMap
    }
  }

  /** Full run: Phase 1 catalog+bounds+checkpoint, Phase 2 parallel copy.
    * Returns the per-table report as a DataFrame (the flagship `entry`).
    */
  def run(spark: SparkSession, srcDir: String, destDir: String,
          pkFor: String => Option[String], cfg: SyncConfig = SyncConfig()): DataFrame = {
    import spark.implicits._
    graft.model.Tables.ensureNanosCompat(spark)
    val tables = filterTables(
      discoverTables(srcDir, spark.sparkContext.hadoopConfiguration),
      cfg.includeTables, cfg.excludeTables)
    // table-level fan-out (reference's outer ThreadPoolExecutor,
    // sync.py:192-199) — unlike the reference, failures PROPAGATE, once
    // every sibling copy has stopped writing
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(cfg.maxWorkers, math.max(1, tables.size))))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val reports = graft.Overlap.results(tables.map(t =>
        scala.concurrent.Future(
          syncTable(spark, srcDir, destDir, t, pkFor(t), cfg))))
      writeCheckpoint(destDir, reports)
      reports.toDF().orderBy("table")
    } finally pool.shutdown()
  }

  /** Harness PK mapping: dense integer key per TESTDATA table playing the
    * role of the reference's `_rowid` (FIXTURES.md).
    */
  val harnessPk: Map[String, String] = Map(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")
}
