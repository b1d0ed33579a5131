package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev smoke-runner: drives the driver-facing surface exactly as the
  * harness does — `SparkEntry.entry` on sf0.001 plus every registered
  * query — and prints row counts. Usage:
  *   sbt "runMain graft.tools.Smoke [sfDir]"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val report = graft.SparkEntry.entry(spark)
    println(s"[smoke] entry rows=${report.count()}")
    report.show(20, truncate = false)

    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      println(s"[smoke] $name rows=$n")
    }

    // Drive the CDC pipeline end-to-end over a MySQL binlog: snapshot
    // state → wire-format change log → checkpointed micro-batch upserts
    // → final state.
    import graft.streaming.{CdcPipeline, MysqlBinlogSource}
    import graft.streaming.MysqlBinlogWriter.{Col, TableDef, Writer}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_smoke_cdc_").toString
    val log = s"$base/binlog.000001"
    val snapshot = graft.model.Tables.customer(spark, sfDir)
      .limit(10).withColumn("updated_at",
        org.apache.spark.sql.functions.lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    val td = TableDef(1L, "tpch", "customer",
      Seq(Col.bigint("c_custkey"), Col.varchar("seg", 16)))
    val w = new Writer(log)
    w.setClock(1704153600L) // 2024-01-02 00:00:00 UTC, after the snapshot
    w.begin(); w.flush()
    val q = CdcPipeline.snapshotThenStream(spark, snapshot, "customer",
      "c_custkey", "updated_at", MysqlBinlogSource.tail(spark, log),
      stateDir = s"$base/state", checkpointDir = s"$base/ckpt")
    q.processAllAvailable()
    def img(k: Long, seg: String) = Array[AnyRef](java.lang.Long.valueOf(k), seg)
    w.tableMap(td)
    w.updateRows(td, Seq((img(1L, null), img(1L, "X"))),
      beforePresent = Some(Set(0)))
    w.xid(1L)
    w.tableMap(td)
    w.deleteRows(td, Seq(img(2L, null)), presentCols = Some(Set(0)))
    w.xid(2L)
    w.close()
    q.processAllAvailable()
    q.stop()
    val state = CdcPipeline.currentState(spark, s"$base/state")
    println(s"[smoke] cdc_state rows=${state.count()} " +
      s"updated=${state.filter($"key" === 1L && $"payload".contains("X")).count()}")

    // Drive the full DB→DB sync against live embedded Derby databases
    // (the reference's actual job: discover → filter → chunk → copy →
    // checkpoint).
    import graft.sync.{JdbcSource, JdbcSyncJob, SyncJob}
    val dbBase = java.nio.file.Files.createTempDirectory("graft_smoke_db_").toString
    val srcUrl = s"jdbc:derby:$dbBase/src;create=true"
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val conn = java.sql.DriverManager.getConnection(srcUrl)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE items (rowid BIGINT NOT NULL PRIMARY KEY, v VARCHAR(32))")
      val ins = conn.prepareStatement("INSERT INTO items VALUES (?, ?)")
      (0 until 2500).foreach { i =>
        ins.setLong(1, i.toLong); ins.setString(2, s"item_$i"); ins.addBatch()
      }
      ins.executeBatch(); st.close(); ins.close()
    } finally conn.close()
    val jdbcReport = JdbcSyncJob.run(spark,
      JdbcSyncJob.Endpoint(srcUrl, p),
      JdbcSyncJob.Endpoint(s"jdbc:derby:$dbBase/dst;create=true", p),
      pkFor = _ => Some("rowid"),
      checkpointDir = s"$dbBase/ckpt",
      cfg = SyncJob.SyncConfig(batchSize = 500L))
    jdbcReport.show(5, truncate = false)
    val copied = JdbcSource.read(spark,
      s"jdbc:derby:$dbBase/dst", "ITEMS", p).count()
    println(s"[smoke] jdbc_sync copied=$copied")

    // Drive the reference's CLI surface end-to-end (argv → parse →
    // introspected PKs → full sync), then the incremental resume path.
    import graft.sync.SyncCli
    val cliDst = s"jdbc:derby:$dbBase/cli_dst;create=true"
    val cliCkpt = s"$dbBase/cli_ckpt"
    SyncCli.parse(Array(
      "--src_url", srcUrl, "--dst_url", cliDst,
      "--batch_size", "500", "--checkpoint_dir", cliCkpt)) match {
      case Right(cfg) =>
        cfg.srcProps.putAll(p); cfg.dstProps.putAll(p)
        SyncCli.runWith(spark, cfg)
        val n = JdbcSource.read(spark, s"jdbc:derby:$dbBase/cli_dst", "ITEMS", p)
          .count()
        val resumed = JdbcSyncJob.resume(spark,
          JdbcSyncJob.Endpoint(srcUrl, p),
          JdbcSyncJob.Endpoint(cliDst, p),
          _ => Some("rowid"), cliCkpt).count()
        println(s"[smoke] cli_sync copied=$n resume_tables=$resumed")
      case Left(err) => println(s"[smoke] cli_sync PARSE FAILED: $err")
    }
    spark.stop()
  }
}
