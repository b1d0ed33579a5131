package graft.sync

import graft.SparkSpec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.SaveIntoDataSourceCommand
import org.apache.spark.sql.util.QueryExecutionListener

import java.sql.DriverManager
import java.util.Properties

/** The fenced JDBC copy sized by cores: range splits for tables without
  * a single integer key, at most `defaultParallelism` tasks a table, one
  * transaction per copy task, largest table submitted first, and no copy
  * outliving a failed run. Embedded Derby at both ends.
  */
class JdbcCopySpec extends SparkSpec {

  private def props: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  private def derby(prefix: String): JdbcSyncJob.Endpoint =
    JdbcSyncJob.Endpoint(s"jdbc:derby:${java.nio.file.Files
      .createTempDirectory(prefix)}/db;create=true", props)

  private lazy val src = derby("graft_copy_src_")

  private def exec(ep: JdbcSyncJob.Endpoint, sql: String*): Unit = {
    val conn = DriverManager.getConnection(ep.url)
    try { val st = conn.createStatement(); sql.foreach(st.execute); st.close() }
    finally conn.close()
  }

  /** Insert `rows` into `table` of `ep` in one prepared batch. */
  private def load(ep: JdbcSyncJob.Endpoint, table: String,
                   rows: Seq[Seq[Any]]): Unit = {
    val conn = DriverManager.getConnection(ep.url)
    try {
      val ins = conn.prepareStatement(s"INSERT INTO $table VALUES (" +
        rows.head.map(_ => "?").mkString(", ") + ")")
      rows.foreach { r =>
        r.zipWithIndex.foreach { case (v, i) => ins.setObject(i + 1, v) }
        ins.addBatch()
      }
      ins.executeBatch(); ins.close()
    } finally conn.close()
  }

  /** A table's rows as a sorted multiset (NULLs rendered). */
  private def rowsOf(ep: JdbcSyncJob.Endpoint, table: String): Seq[String] =
    JdbcSource.read(spark, ep.url, table, props).collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted

  private def count(ep: JdbcSyncJob.Endpoint, table: String): Long =
    JdbcSource.read(spark, ep.url, table, props).count()

  test("a key-less split copies NULLs, negatives, duplicates and a far " +
      "outlier exactly once") {
    exec(src, "CREATE TABLE odd_split (c BIGINT, label VARCHAR(32))")
    val rows = (0 until 3000).map { i =>
      val c: Any =
        if (i % 7 == 0) null
        else if (i == 1) 4000000000000000000L   // far outlier (high)
        else if (i == 2) -5000000000000000000L  // far outlier (low)
        else if (i % 3 == 0) -(i % 50).toLong   // negatives, duplicated
        else (i % 200).toLong                   // duplicates
      Seq(c, s"row_$i")
    }
    load(src, "odd_split", rows)
    val dst = derby("graft_copy_odd_")
    val rpt = JdbcSyncJob.syncTable(spark, src, dst, "ODD_SPLIT", pk = None,
      cfg = SyncJob.SyncConfig(batchSize = 500L))
    assert(rpt.strategy == "SyntheticSplit")
    assert(rpt.partitions == math.min(6, spark.sparkContext.defaultParallelism),
      rpt)
    assert(rowsOf(dst, "ODD_SPLIT") == rowsOf(src, "ODD_SPLIT"))
    assert(count(dst, "ODD_SPLIT") == 3000L)

    // a split column holding only NULLs copies in one partition
    exec(src, "CREATE TABLE null_split (c INT, label VARCHAR(32))")
    load(src, "null_split", (0 until 1500).map(i => Seq(null, s"n_$i")))
    val nulls = JdbcSyncJob.syncTable(spark, src, dst, "NULL_SPLIT",
      pk = None, cfg = SyncJob.SyncConfig(batchSize = 500L))
    assert(nulls.partitions == 1, nulls)
    assert(rowsOf(dst, "NULL_SPLIT") == rowsOf(src, "NULL_SPLIT"))
  }

  test("a composite-key table splits on its leading key column") {
    // the first integer column (Z) is not the key: the split must pick A
    exec(src,
      "CREATE TABLE cpk (z INT, a BIGINT NOT NULL, b INT NOT NULL, " +
        "v VARCHAR(16), PRIMARY KEY (a, b))",
      "CREATE TABLE cpk_str (name VARCHAR(8) NOT NULL, n INT NOT NULL, " +
        "v INT, PRIMARY KEY (name, n))")
    assert(JdbcSyncJob.splitColumn(src, "CPK").contains("A"))
    // a non-integer leading key falls back to the first integer column
    assert(JdbcSyncJob.splitColumn(src, "CPK_STR").contains("N"))
    assert(JdbcSyncJob.introspectPk(src, "CPK").isEmpty)

    load(src, "cpk", for (a <- 0 until 600; b <- 1 to 1 + a % 4)
      yield Seq(7, a.toLong, b, s"v$a.$b"))
    val dst = derby("graft_copy_cpk_")
    val rpt = JdbcSyncJob.syncTable(spark, src, dst, "CPK", pk = None)
    assert(rpt.strategy == "SyntheticSplit" && rpt.partitions > 1, rpt)
    assert(rowsOf(dst, "CPK") == rowsOf(src, "CPK"))
  }

  test("a 10k-row keyed table with a 100-row batch plans at most one " +
      "partition per core") {
    exec(src, "CREATE TABLE pk10k (id BIGINT NOT NULL PRIMARY KEY, v INT)")
    load(src, "pk10k", (0 until 10000).map(i => Seq(i.toLong, i % 13)))
    val dst = derby("graft_copy_pk10k_")
    val rpt = JdbcSyncJob.syncTable(spark, src, dst, "PK10K",
      pk = Some("ID"), cfg = SyncJob.SyncConfig(batchSize = 100L))
    val cores = spark.sparkContext.defaultParallelism
    assert(rpt.strategy == "RangeChunks")
    assert(rpt.partitions == math.min(100, cores), rpt)
    assert(rowsOf(dst, "PK10K") == rowsOf(src, "PK10K"))
  }

  test("a copy task commits once: a rejected row leaves none of its " +
      "task's rows") {
    exec(src, "CREATE TABLE chk (id BIGINT NOT NULL PRIMARY KEY, v INT)")
    // 900 rows: under the small-table threshold, so one copy task
    load(src, "chk", (0 until 900).map(i => Seq(i.toLong, i)))
    val dst = derby("graft_copy_chk_")
    exec(dst, "CREATE TABLE chk (id BIGINT NOT NULL PRIMARY KEY, " +
      "v INT CHECK (v <> 450))")
    val err = intercept[Exception] {
      JdbcSyncJob.syncTable(spark, src, dst, "CHK", pk = Some("ID"),
        cfg = SyncJob.SyncConfig(batchSize = 100L))
    }
    assert(err.toString.nonEmpty)
    assert(count(dst, "CHK") == 0L)
  }

  test("tables are submitted largest first; reports keep catalog order") {
    exec(src,
      "CREATE TABLE ord_a (id BIGINT NOT NULL PRIMARY KEY, v INT)",
      "CREATE TABLE ord_b (id BIGINT NOT NULL PRIMARY KEY, v INT)",
      "CREATE TABLE ord_c (id BIGINT NOT NULL PRIMARY KEY, v INT)",
      "CREATE TABLE ord_d (id BIGINT NOT NULL PRIMARY KEY, v INT)")
    Seq("ord_a" -> 3, "ord_b" -> 1200, "ord_c" -> 40, "ord_d" -> 40)
      .foreach { case (t, n) =>
        load(src, t, (0 until n).map(i => Seq(i.toLong, i)))
      }
    // one worker: copies run one after another, in submission order
    val saved = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.logical match {
          case s: SaveIntoDataSourceCommand =>
            s.options.collectFirst {
              case (k, v) if k.equalsIgnoreCase("dbtable") => v
            }.foreach(saved.add)
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_copy_ord_")
      .toString
    val report =
      try {
        val r = JdbcSyncJob.run(spark, src, derby("graft_copy_ord_dst_"),
          _ => Some("ID"), ckpt, SyncJob.SyncConfig(
            includeTables = Some("^ORD_".r), maxWorkers = 1))
          .collect().map(_.getAs[String]("table")).toSeq
        val deadline = System.currentTimeMillis() + 30000
        while (saved.size < 4 && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        r
      } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    // stable: the two 40-row tables keep their catalog order
    assert(saved.asScala.toSeq == Seq("ORD_B", "ORD_C", "ORD_D", "ORD_A"))
    assert(report == Seq("ORD_A", "ORD_B", "ORD_C", "ORD_D"))
    val meta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$ckpt/_sync_metadata.json"))
    assert(Seq("ORD_A", "ORD_B", "ORD_C", "ORD_D").map(meta.indexOf(_))
      .sliding(2).forall { case Seq(x, y) => 0 <= x && x < y })
  }

  test("a failed copy is rethrown only after its slow sibling finished") {
    exec(src,
      "CREATE TABLE orph_fail (id BIGINT NOT NULL PRIMARY KEY, v INT)",
      "CREATE TABLE orph_slow (id BIGINT NOT NULL PRIMARY KEY, v INT)")
    load(src, "orph_fail", (0 until 5).map(i => Seq(i.toLong, i)))
    load(src, "orph_slow", (0 until 300).map(i => Seq(i.toLong, i)))
    val dst = derby("graft_copy_orph_")
    // ORPH_FAIL's destination rejects every row; ORPH_SLOW's is locked
    // by another transaction until `releasedAt`
    exec(dst,
      "CREATE TABLE orph_fail (id BIGINT NOT NULL PRIMARY KEY, " +
        "v INT CHECK (v < 0))",
      "CREATE TABLE orph_slow (id BIGINT NOT NULL PRIMARY KEY, v INT)")
    val holder = DriverManager.getConnection(dst.url)
    holder.setAutoCommit(false)
    holder.createStatement().execute("LOCK TABLE orph_slow IN EXCLUSIVE MODE")
    @volatile var releasedAt = 0L
    val releaser = new Thread(() => {
      Thread.sleep(2000)
      releasedAt = System.nanoTime()
      holder.commit(); holder.close()
    })
    releaser.start()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_copy_orph_ck_")
      .toString
    try {
      intercept[Exception] {
        JdbcSyncJob.run(spark, src, dst, _ => Some("ID"), ckpt,
          SyncJob.SyncConfig(includeTables = Some("^ORPH_".r)))
      }
      val thrownAt = System.nanoTime()
      assert(releasedAt != 0L && releasedAt < thrownAt,
        "run threw while a sibling copy was still writing")
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
      assert(count(dst, "ORPH_SLOW") == 300L)
      assert(count(dst, "ORPH_FAIL") == 0L)
    } finally releaser.join()
  }
}
