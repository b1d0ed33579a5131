package graft.sync

import graft.SparkSpec
import graft.streaming.PartialState
import org.apache.spark.sql.functions._

import java.sql.DriverManager
import java.util.Properties

/** The reference's actual job — DB → DB copy — against a LIVE embedded
  * database (Derby ships with Spark): range-partitioned JDBC scan with
  * the reference's chunk semantics, predicate pushdown to the DB, and
  * the batched JDBC sink, round-tripped and compared row-for-row.
  */
class JdbcSyncSpec extends SparkSpec {

  private lazy val dbDir = java.nio.file.Files
    .createTempDirectory("graft_derby_").toString + "/db"
  private lazy val url = s"jdbc:derby:$dbDir;create=true"
  private def props: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  private lazy val seeded: Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE src_orders (rowid BIGINT NOT NULL PRIMARY KEY, " +
        "name VARCHAR(64), amount DOUBLE)")
      val ins = conn.prepareStatement(
        "INSERT INTO src_orders VALUES (?, ?, ?)")
      (0 until 500).foreach { i =>
        ins.setLong(1, i.toLong)
        ins.setString(2, s"order_$i")
        ins.setDouble(3, i * 1.25)
        ins.addBatch()
      }
      ins.executeBatch()
      st.close(); ins.close()
    } finally conn.close()
  }

  test("range-partitioned JDBC scan chunks like the reference and reads all rows") {
    seeded
    val df = JdbcSource.rangePartitionedRead(spark, url, "src_orders",
      "rowid", 0L, 499L, numPartitions = 5, props)
    assert(df.rdd.getNumPartitions == 5) // one task per chunk
    assert(df.count() == 500L)
    // chunk boundaries must not duplicate or drop rows (the closed-interval
    // bug class, SURVEY §3.4-1)
    assert(df.select(countDistinct(col("rowid"))).head().getLong(0) == 500L)
  }

  test("predicates and projections push down to the database") {
    seeded
    val df = JdbcSource.read(spark, url, "src_orders", props)
      .filter(col("rowid") >= 100 && col("rowid") < 200)
      .select("rowid", "amount")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("ROWID"),
      s"expected pushed filters in:\n$plan")
    assert(df.count() == 100L)
  }

  test("full DB-to-DB sync: discover, filter, chunk, copy, checkpoint") {
    seeded
    // second source table + one that the regex filter must exclude
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE src_small (rowid BIGINT NOT NULL PRIMARY KEY, v VARCHAR(8))")
      st.execute("INSERT INTO src_small VALUES (1, 'a'), (2, 'b')")
      st.execute("CREATE TABLE tmp_scratch (rowid BIGINT NOT NULL PRIMARY KEY)")
      st.close()
    } finally conn.close()

    val dstDir = java.nio.file.Files
      .createTempDirectory("graft_derby_dst_").toString + "/db"
    val dst = JdbcSyncJob.Endpoint(s"jdbc:derby:$dstDir;create=true", props)
    val srcEp = JdbcSyncJob.Endpoint(url, props)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_jdbc_ckpt_").toString

    val report = JdbcSyncJob.run(spark, srcEp, dst,
      pkFor = _ => Some("rowid"), checkpointDir = ckpt,
      cfg = SyncJob.SyncConfig(
        excludeTables = Some(new scala.util.matching.Regex("(?i)^tmp_")),
        includeTables = Some(new scala.util.matching.Regex("(?i)^src_")),
        batchSize = 100L))
      .collect().map(r => r.getAs[String]("table") -> r.getAs[Long]("rows")).toMap

    assert(report.keySet.map(_.toLowerCase) == Set("src_orders", "src_small"))
    assert(report.values.sum == 502L)
    val copied = JdbcSource.read(spark, dst.url, "SRC_ORDERS", props)
    assert(copied.count() == 500L)
    assert(JdbcSource.read(spark, dst.url, "SRC_SMALL", props).count() == 2L)
    val meta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$ckpt/_sync_metadata.json"))
    assert(meta.contains("\"max_pk\": 499"))
  }

  test("north star: live-DB snapshot then binlog CDC stream") {
    seeded
    import graft.streaming.{BinlogSource, CdcPipeline, ChangeEvent}
    import org.apache.spark.sql.functions.lit
    val base = java.nio.file.Files.createTempDirectory("graft_ns_").toString
    val log = s"$base/changes.binlog"
    // phase 1: snapshot the live table (bounds recorded by the sync job
    // are where the change stream starts)
    val snapshot = JdbcSource.read(spark, url, "src_orders", props)
      .withColumn("updated_at",
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    val q = CdcPipeline.snapshotThenStream(spark, snapshot, "rowid",
      "updated_at", changesDir = log, stateDir = s"$base/state",
      checkpointDir = s"$base/ckpt2", useBinlog = true)
    try {
      q.processAllAvailable()
      assert(CdcPipeline.currentState(spark, s"$base/state").count() == 500L)
      // phase 2: post-snapshot changes arrive on the binlog
      BinlogSource.append(log, Seq(
        ChangeEvent("insert", "snapshot", 500L,
          java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 1L, """{"v":"new"}"""),
        ChangeEvent("delete", "snapshot", 0L,
          java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 2L, null)))
      q.processAllAvailable()
      val state = CdcPipeline.currentState(spark, s"$base/state")
      assert(state.count() == 500L) // +1 insert, -1 delete
      import org.apache.spark.sql.functions.col
      assert(state.filter(col("key") === 500L).count() == 1L)
      assert(state.filter(col("key") === 0L).count() == 0L)
    } finally q.stop()
  }

  test("PK introspection from JDBC metadata finds single-column integer PKs only") {
    seeded
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE pk_str (name VARCHAR(10) NOT NULL PRIMARY KEY, v INT)")
      st.execute("CREATE TABLE pk_multi (a BIGINT NOT NULL, b BIGINT NOT NULL, " +
        "PRIMARY KEY (a, b))")
      st.close()
    } finally conn.close()
    val ep = JdbcSyncJob.Endpoint(url, props)
    assert(JdbcSyncJob.introspectPk(ep, "SRC_ORDERS").contains("ROWID"))
    assert(JdbcSyncJob.introspectPk(ep, "PK_STR").isEmpty)   // non-integer
    assert(JdbcSyncJob.introspectPk(ep, "PK_MULTI").isEmpty) // composite
  }

  test("PK-less large table copies in parallel via synthetic range split") {
    seeded
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE no_pk_big (grp INT, label VARCHAR(32))")
      val ins = conn.prepareStatement("INSERT INTO no_pk_big VALUES (?, ?)")
      (0 until 10000).foreach { i =>
        ins.setInt(1, i); ins.setString(2, s"row_$i"); ins.addBatch()
        if (i % 1000 == 999) { ins.executeBatch(): Unit }
      }
      ins.executeBatch()
      st.close(); ins.close()
    } finally conn.close()

    val dstDir = java.nio.file.Files
      .createTempDirectory("graft_derby_nopk_").toString + "/db"
    val dst = JdbcSyncJob.Endpoint(s"jdbc:derby:$dstDir;create=true", props)
    val srcEp = JdbcSyncJob.Endpoint(url, props)
    val rpt = JdbcSyncJob.syncTable(spark, srcEp, dst, "NO_PK_BIG",
      pk = None, cfg = SyncJob.SyncConfig(batchSize = 1000L))
    assert(rpt.strategy == "SyntheticSplit")
    // ten 1000-row batches, one task per core
    val cores = spark.sparkContext.defaultParallelism
    assert(rpt.partitions == math.min(10, cores),
      s"expected a ${math.min(10, cores)}-way parallel copy, got $rpt")
    // byte-exact contents
    val a = JdbcSource.read(spark, url, "NO_PK_BIG", props)
      .orderBy("grp").collect().map(_.toSeq)
    val b = JdbcSource.read(spark, dst.url, "NO_PK_BIG", props)
      .orderBy("grp").collect().map(_.toSeq)
    assert(b.length == 10000)
    assert(a.sameElements(b))
  }

  test("snapshot fence: lock -> bounds -> master status -> unlock -> copy, " +
    "metadata.txt in the reference's 3-line format") {
    seeded
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fence_").toString
    val dstDir = java.nio.file.Files
      .createTempDirectory("graft_derby_fence_dst_").toString + "/db"
    val fence = JdbcSyncJob.SnapshotFence(
      acquire = () => events += "acquire",
      masterStatus = () => {
        events += "status"
        Some(JdbcSyncJob.MasterStatus("mysql-bin.000042", 154L,
          "3E11FA47-71CA-11E1-9E33-C80AA9429562:1-5"))
      },
      release = () => events += "release")
    JdbcSyncJob.run(spark,
      JdbcSyncJob.Endpoint(url, props),
      JdbcSyncJob.Endpoint(s"jdbc:derby:$dstDir;create=true", props),
      pkFor = t => { events += s"pk:$t"; Some("rowid") },
      checkpointDir = ckpt,
      cfg = SyncJob.SyncConfig(
        includeTables = Some(new scala.util.matching.Regex("(?i)^src_orders$"))),
      fence = fence)

    // exact lifecycle order: the binlog coordinates are read AFTER the
    // fenced bounds probes and BEFORE release/copy (sync.py:148-185)
    assert(events.toSeq == Seq("acquire", "pk:SRC_ORDERS", "status", "release"))
    val meta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$ckpt/metadata.txt"))
    assert(meta == "mysql-bin.000042\n154\n3E11FA47-71CA-11E1-9E33-C80AA9429562:1-5")
    assert(JdbcSyncJob.readMasterStatus(ckpt)
      .contains(JdbcSyncJob.MasterStatus("mysql-bin.000042", 154L,
        "3E11FA47-71CA-11E1-9E33-C80AA9429562:1-5")))
  }

  test("CLI parses the reference's flag surface and drives a full Derby sync") {
    seeded
    // argv -> config mapping (reference flags, defaults, validation)
    val parsed = SyncCli.parse(Array(
      "--mysql_host", "db1", "--mysql_port", "3306",
      "--mysql_user", "u", "--mysql_password", "p", "--mysql_db", "shop",
      "--clickhouse_host", "ch1", "--clickhouse_port", "8123",
      "--clickhouse_user", "cu", "--clickhouse_password", "cp",
      "--clickhouse_database", "dwh",
      "--batch_size", "500", "--max_workers", "4",
      "--include_tables", "^orders", "--exclude_tables", "tmp"))
    parsed match {
      case Right(c) =>
        assert(c.srcUrl == "jdbc:mysql://db1:3306/shop")
        assert(c.dstUrl == "jdbc:clickhouse://ch1:8123/dwh")
        assert(c.srcProps.getProperty("user") == "u")
        assert(c.sync.batchSize == 500L && c.sync.maxWorkers == 4)
        assert(c.sync.includeTables.exists(_.findFirstIn("orders_x").isDefined))
        assert(c.sync.excludeTables.exists(_.findFirstIn("a_tmp_b").isDefined))
      case Left(e) => fail(e)
    }
    assert(SyncCli.parse(Array("--mysql_host", "h")).isLeft)  // missing required
    assert(SyncCli.parse(Array("--bogus", "x")).isLeft)       // unknown flag
    assert(SyncCli.parse(Array(
      "--src_url", "jdbc:derby:x", "--dst_url", "jdbc:derby:y",
      "--batch_size", "-3")).isLeft)                          // bad number

    // end-to-end through the CLI path against live Derby endpoints
    val dstDir = java.nio.file.Files
      .createTempDirectory("graft_derby_cli_dst_").toString + "/db"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cli_ckpt_").toString
    val Right(cli) = SyncCli.parse(Array(
      "--src_url", url, "--dst_url", s"jdbc:derby:$dstDir;create=true",
      "--include_tables", "(?i)^src_orders$",
      "--batch_size", "100", "--checkpoint_dir", ckpt)): @unchecked
    cli.srcProps.putAll(props); cli.dstProps.putAll(props)
    SyncCli.runWith(spark, cli)
    // PK came from metadata introspection (S4), chunked copy, full rows
    assert(JdbcSource.read(spark, s"jdbc:derby:$dstDir", "SRC_ORDERS", props)
      .count() == 500L)
    assert(new java.io.File(s"$ckpt/_sync_metadata.json").isFile)
  }

  test("snapshot-then-stream verb: CLI snapshot + binlog CDC upserts into the destination") {
    seeded
    import graft.streaming.{BinlogSource, ChangeEvent}
    val base = java.nio.file.Files.createTempDirectory("graft_sts_").toString
    val log = s"$base/changes.binlog"
    val dstDir = java.nio.file.Files
      .createTempDirectory("graft_derby_sts_dst_").toString + "/db"
    val dstUrl = s"jdbc:derby:$dstDir;create=true"
    // the engine never issues DDL (reference stance): the deployment
    // provides the change-state table
    locally {
      val conn = DriverManager.getConnection(dstUrl)
      try conn.createStatement().execute(
        "CREATE TABLE cdc_state (tbl VARCHAR(64) NOT NULL, k BIGINT NOT NULL, " +
          "ts TIMESTAMP, seq BIGINT, payload VARCHAR(1024), PRIMARY KEY (tbl, k))")
      finally conn.close()
    }
    // pre-snapshot change already in the log: stream start replays it
    BinlogSource.append(log, Seq(
      ChangeEvent("insert", "src_orders", 1000L,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, """{"v":"pre"}""")))

    // verb parse: --binlog required, defaults applied
    assert(SyncCli.parse(Array("snapshot-then-stream",
      "--src_url", url, "--dst_url", dstUrl)).isLeft)
    assert(SyncCli.parse(Array("bogus-verb", "--src_url", "x")).isLeft)
    val Right(cli) = SyncCli.parse(Array("snapshot-then-stream",
      "--src_url", url, "--dst_url", dstUrl,
      "--include_tables", "(?i)^src_orders$",
      "--checkpoint_dir", s"$base/ckpt", "--binlog", log)): @unchecked
    assert(cli.verb == "snapshot-then-stream" && cli.cdcTable == "cdc_state")
    cli.srcProps.putAll(props); cli.dstProps.putAll(props)

    val q = SyncCli.runSnapshotThenStream(spark, cli)
    try {
      // phase 1 (batch): snapshot copied, lifecycle checkpoint written
      assert(JdbcSource.read(spark, dstUrl, "SRC_ORDERS", props).count() == 500L)
      assert(new java.io.File(s"$base/ckpt/_sync_metadata.json").isFile)
      q.processAllAvailable()
      def stateRows(): Map[Long, (Long, Option[String])] =
        JdbcSource.read(spark, dstUrl, "cdc_state", props)
          .collect().map(r => r.getAs[Long]("K") ->
            (r.getAs[Long]("SEQ"), Option(r.getAs[String]("PAYLOAD")))).toMap
      assert(stateRows() == Map(1000L -> (1L, Some("""{"v":"pre"}"""))))
      // phase 2: post-snapshot changes stream into the same destination
      BinlogSource.append(log, Seq(
        ChangeEvent("update", "src_orders", 1000L,
          java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 2L, """{"v":"upd"}"""),
        ChangeEvent("insert", "src_orders", 1001L,
          java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 3L, """{"v":"new"}"""),
        ChangeEvent("delete", "src_orders", 1001L,
          java.sql.Timestamp.valueOf("2024-01-03 00:00:00"), 4L, null)))
      q.processAllAvailable()
      // update applied, insert+delete collapsed to the tombstone
      assert(stateRows() == Map(1000L -> (2L, Some("""{"v":"upd"}"""))))
    } finally q.stop()
  }

  test("snapshot-then-stream over the REAL wire format from the recorded fence") {
    seeded
    import graft.streaming.MysqlBinlogWriter.{Col, TableDef, Writer}
    val base = java.nio.file.Files.createTempDirectory("graft_sts_mysql_").toString
    val log = s"$base/bin.000001"
    val dstDir = java.nio.file.Files
      .createTempDirectory("graft_derby_stsm_dst_").toString + "/db"
    val dstUrl = s"jdbc:derby:$dstDir;create=true"
    locally {
      val conn = DriverManager.getConnection(dstUrl)
      try conn.createStatement().execute(
        "CREATE TABLE cdc_state (tbl VARCHAR(64) NOT NULL, k BIGINT NOT NULL, " +
          "ts TIMESTAMP, seq BIGINT, payload VARCHAR(1024), PRIMARY KEY (tbl, k))")
      finally conn.close()
    }
    val td = TableDef(31L, "shop", "src_orders",
      Seq(Col.bigint("k"), Col.varchar("v", 64)))
    def img(k: Long, v: String) = Array[AnyRef](
      java.lang.Long.valueOf(k), v: AnyRef)
    val w = new Writer(log, serverId = 7L)
    w.setClock(1700000000L); w.begin()
    // history BEFORE the snapshot: already inside the copied tables,
    // must never replay into the change state
    w.tableMap(td); w.writeRows(td, Seq(img(900L, "pre"))); w.xid(1L); w.flush()
    val fence = java.nio.file.Files.size(java.nio.file.Paths.get(log))

    assert(SyncCli.parse(Array("snapshot-then-stream",
      "--src_url", url, "--dst_url", dstUrl, "--binlog", log,
      "--binlog_format", "bogus")).isLeft)
    // a fence position without the mysql format would be silently
    // un-honored by the TSV stand-in — refused at parse time instead
    assert(SyncCli.parse(Array("snapshot-then-stream",
      "--src_url", url, "--dst_url", dstUrl, "--binlog", log,
      "--binlog_start_pos", "100")).isLeft)
    // the GTID auto-position flag mirrors the same guards: mysql format
    // only, valid set syntax, and exclusive with the position flag
    assert(SyncCli.parse(Array("snapshot-then-stream",
      "--src_url", url, "--dst_url", dstUrl, "--binlog", log,
      "--binlog_start_gtid", "3e11fa47-71ca-11e1-9e33-c80aa9429562:1-3"))
      .isLeft)
    assert(SyncCli.parse(Array("snapshot-then-stream",
      "--src_url", url, "--dst_url", dstUrl, "--binlog", log,
      "--binlog_format", "mysql",
      "--binlog_start_gtid", "not-a-gtid-set")).isLeft)
    assert(SyncCli.parse(Array("snapshot-then-stream",
      "--src_url", url, "--dst_url", dstUrl, "--binlog", log,
      "--binlog_format", "mysql", "--binlog_start_pos", "100",
      "--binlog_start_gtid", "3e11fa47-71ca-11e1-9e33-c80aa9429562:1-3"))
      .isLeft)
    assert(SyncCli.parse(Array("snapshot-then-stream",
      "--src_url", url, "--dst_url", dstUrl, "--binlog", log,
      "--binlog_format", "mysql",
      "--binlog_start_gtid", "3e11fa47-71ca-11e1-9e33-c80aa9429562:1-3"))
      .exists(_.binlogStartGtid.contains(
        "3e11fa47-71ca-11e1-9e33-c80aa9429562:1-3")))
    val Right(cli) = SyncCli.parse(Array("snapshot-then-stream",
      "--src_url", url, "--dst_url", dstUrl,
      "--include_tables", "(?i)^src_orders$",
      "--checkpoint_dir", s"$base/ckpt", "--binlog", log,
      "--binlog_format", "mysql",
      "--binlog_start_pos", fence.toString)): @unchecked
    assert(cli.binlogFormat == "mysql" && cli.binlogStartPos.contains(fence))
    cli.srcProps.putAll(props); cli.dstProps.putAll(props)

    val q = SyncCli.runSnapshotThenStream(spark, cli)
    try {
      assert(JdbcSource.read(spark, dstUrl, "SRC_ORDERS", props).count() == 500L)
      // post-fence wire changes: insert, update (after image wins),
      // MINIMAL-image delete
      w.setClock(1700000100L)
      w.tableMap(td); w.writeRows(td, Seq(img(1000L, "n1"), img(1001L, "n2")))
      w.xid(2L)
      w.tableMap(td); w.updateRows(td, Seq((img(1000L, "n1"), img(1000L, "n1b"))))
      w.xid(3L)
      w.tableMap(td)
      w.deleteRows(td, Seq(img(1001L, null)), presentCols = Some(Set(0)))
      w.xid(4L)
      w.flush()
      q.processAllAvailable()
      val state = JdbcSource.read(spark, dstUrl, "cdc_state", props)
        .collect().map(r => r.getAs[Long]("K") ->
          Option(r.getAs[String]("PAYLOAD"))).toMap
      assert(!state.contains(900L),
        "pre-fence history must not replay (it is in the snapshot)")
      assert(state(1000L).contains("""{"k":1000,"v":"n1b"}"""))
      assert(state.get(1001L).flatten.isEmpty,
        "deleted key survives only as a tombstone")
    } finally { q.stop(); w.close() }
  }

  test("snapshot-then-stream resumes by GTID auto-position (metadata.txt's third line)") {
    seeded
    import graft.streaming.MysqlBinlogWriter.{Col, TableDef, Writer}
    val base = java.nio.file.Files.createTempDirectory("graft_sts_gtid_").toString
    val log = s"$base/bin.000001"
    val dstDir = java.nio.file.Files
      .createTempDirectory("graft_derby_stsg_dst_").toString + "/db"
    val dstUrl = s"jdbc:derby:$dstDir;create=true"
    locally {
      val conn = DriverManager.getConnection(dstUrl)
      try conn.createStatement().execute(
        "CREATE TABLE cdc_state (tbl VARCHAR(64) NOT NULL, k BIGINT NOT NULL, " +
          "ts TIMESTAMP, seq BIGINT, payload VARCHAR(1024), PRIMARY KEY (tbl, k))")
      finally conn.close()
    }
    val u = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    val td = TableDef(33L, "shop", "src_orders",
      Seq(Col.bigint("k"), Col.varchar("v", 64)))
    def img(k: Long, v: String) = Array[AnyRef](
      java.lang.Long.valueOf(k), v: AnyRef)
    val w = new Writer(log, serverId = 9L)
    w.setClock(1700000000L); w.begin()
    w.previousGtids(Seq.empty)
    // pre-fence history: txn u:1, already inside the snapshot
    w.gtid(u, 1L); w.query("shop", "BEGIN")
    w.tableMap(td); w.writeRows(td, Seq(img(900L, "pre"))); w.xid(1L)
    w.flush()
    // --- fence: Executed_Gtid_Set = u:1 (the metadata.txt gtid line) ---
    val Right(cli) = SyncCli.parse(Array("snapshot-then-stream",
      "--src_url", url, "--dst_url", dstUrl,
      "--include_tables", "(?i)^src_orders$",
      "--checkpoint_dir", s"$base/ckpt", "--binlog", log,
      "--binlog_format", "mysql",
      "--binlog_start_gtid", s"$u:1")): @unchecked
    assert(cli.binlogStartGtid.contains(s"$u:1"))
    cli.srcProps.putAll(props); cli.dstProps.putAll(props)
    val q = SyncCli.runSnapshotThenStream(spark, cli)
    try {
      assert(JdbcSource.read(spark, dstUrl, "SRC_ORDERS", props).count() == 500L)
      // post-fence transactions carry their GTIDs; only they may apply
      w.setClock(1700000100L)
      w.gtid(u, 2L); w.query("shop", "BEGIN")
      w.tableMap(td); w.writeRows(td, Seq(img(1000L, "n1"))); w.xid(2L)
      w.gtid(u, 3L); w.query("shop", "BEGIN")
      w.tableMap(td); w.updateRows(td, Seq((img(1000L, "n1"), img(1000L, "n1b"))))
      w.xid(3L)
      w.flush()
      q.processAllAvailable()
      val state = JdbcSource.read(spark, dstUrl, "cdc_state", props)
        .collect().map(r => r.getAs[Long]("K") ->
          Option(r.getAs[String]("PAYLOAD"))).toMap
      assert(!state.contains(900L),
        "the executed set covers txn u:1 — it must not replay")
      assert(state(1000L).contains("""{"k":1000,"v":"n1b"}"""))
    } finally { q.stop(); w.close() }
  }

  test("drift-gate verb: snapshot + CDC upserts + per-batch KS gate and key sketch") {
    seeded
    import graft.streaming.{BinlogSource, ChangeEvent}
    val base = java.nio.file.Files.createTempDirectory("graft_dg_").toString
    val log = s"$base/changes.binlog"
    val dstDir = java.nio.file.Files
      .createTempDirectory("graft_derby_dg_dst_").toString + "/db"
    val dstUrl = s"jdbc:derby:$dstDir;create=true"
    locally {
      val conn = DriverManager.getConnection(dstUrl)
      try conn.createStatement().execute(
        "CREATE TABLE cdc_state (tbl VARCHAR(64) NOT NULL, k BIGINT NOT NULL, " +
          "ts TIMESTAMP, seq BIGINT, payload VARCHAR(1024), PRIMARY KEY (tbl, k))")
      finally conn.close()
    }
    def ev(key: Long, seq: Long, amount: Long) = ChangeEvent("insert",
      "src_orders", key, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
      seq, s"""{"name":"o$key","amount":$amount}""")

    // missing drift flags / bad threshold are parse errors
    assert(SyncCli.parse(Array("drift-gate", "--src_url", url,
      "--dst_url", dstUrl, "--binlog", log)).isLeft)
    assert(SyncCli.parse(Array("drift-gate", "--src_url", url,
      "--dst_url", dstUrl, "--binlog", log, "--drift_table", "t",
      "--drift_column", "c", "--drift_threshold", "7")).isLeft)
    val Right(cli) = SyncCli.parse(Array("drift-gate",
      "--src_url", url, "--dst_url", dstUrl,
      "--include_tables", "(?i)^src_orders$",
      "--checkpoint_dir", s"$base/ckpt", "--binlog", log,
      "--drift_table", "src_orders", "--drift_column", "amount",
      "--drift_threshold", "0.3")): @unchecked
    assert(cli.drift.contains(SyncCli.DriftGateConfig("src_orders", "amount", 0.3)))
    cli.srcProps.putAll(props); cli.dstProps.putAll(props)

    // batch 0: amounts spread like the snapshot (i*1.25 over 0..499) —
    // the gate must stay open
    BinlogSource.append(log, (0 until 6).map(i =>
      ev(2000L + i, i + 1L, 100L * (i + 1))))
    val q = SyncCli.runDriftGate(spark, cli)
    try {
      // phase 1: snapshot copied, baseline histogram written once
      assert(JdbcSource.read(spark, dstUrl, "SRC_ORDERS", props).count() == 500L)
      val baseline = spark.read.parquet(s"$base/ckpt/drift/baseline")
      assert(baseline.agg(sum("c")).head().getLong(0) == 500L)
      q.processAllAvailable()
      def gate(): Map[Long, (Boolean, Double)] =
        PartialState.read(spark, s"$base/ckpt/drift/gate").collect()
          .map(r => r.getAs[Number]("batch_id").longValue() ->
            (r.getAs[Boolean]("gated"), r.getAs[Double]("ks"))).toMap
      val g0 = gate()
      assert(g0.nonEmpty && !g0.values.exists(_._1),
        s"spread batch must not trip the gate: $g0")
      // upserts still applied by the same foreachBatch
      assert(JdbcSource.read(spark, dstUrl, "cdc_state", props).count() == 6L)

      // batch 1: every change at one value — merged stream CDF collapses
      // and the KS decision flips for the new batch only
      BinlogSource.append(log, (0 until 10).map(i =>
        ev(3000L + i, 100L + i, 5L)))
      q.processAllAvailable()
      val g1 = gate()
      val lastBatch = g1.keys.max
      assert(g1(lastBatch)._1,
        s"skewed batch must trip the gate: $g1")
      assert(g1.keys.size >= 2 && !g1(g1.keys.min)._1,
        "earlier batches' decisions are immutable state")
      // hot-key sketch partials: bounded cells per batch, never row-scale
      val sketch = PartialState.read(spark, s"$base/ckpt/drift/sketch")
      assert(sketch.groupBy("batch_id").count()
        .filter(col("count") > 256).count() == 0)
      assert(JdbcSource.read(spark, dstUrl, "cdc_state", props).count() == 16L)
    } finally q.stop()
  }

  test("drift-gate: a replayed batch leaves one entry per drift dir") {
    import spark.implicits._
    import graft.streaming.{BucketStore, ChangeEvent}
    val driftDir = java.nio.file.Files.createTempDirectory("graft_dg_replay_").toString
    Seq(("baseline", 1L, 5L), ("baseline", 2L, 5L)).toDF("source", "bkt", "c")
      .write.parquet(s"$driftDir/baseline")
    val dg = SyncCli.DriftGateConfig("src_orders", "amount", 0.3)
    val batch = (0 until 6).map(i => ChangeEvent("insert", "src_orders",
      100L + i, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), i + 1L,
      s"""{"name":"o$i","amount":${i % 2 + 1}}""")).toDF()
    def entries() = Seq("hist", "sketch", "gate").map(d =>
      BucketStore.current(spark, s"$driftDir/$d").get.live.keySet)
    def rows(d: String) = PartialState.read(spark, s"$driftDir/$d")
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted
    SyncCli.recordDrift(spark, driftDir, dg, batch, 0L)
    val first = Seq("hist", "sketch", "gate").map(rows)
    SyncCli.recordDrift(spark, driftDir, dg, batch, 0L)
    assert(entries() == Seq.fill(3)(Set(0L)))
    assert(Seq("hist", "sketch", "gate").map(rows) == first)
    assert(PartialState.read(spark, s"$driftDir/hist").agg(sum("c"))
      .head().getLong(0) == 6L)
  }

  test("drift-gate over the real wire format gates a skewed change stream") {
    seeded
    import graft.streaming.MysqlBinlogWriter.{Col, TableDef, Writer}
    val base = java.nio.file.Files.createTempDirectory("graft_dgm_").toString
    val log = s"$base/bin.000001"
    val dstDir = java.nio.file.Files
      .createTempDirectory("graft_derby_dgm_dst_").toString + "/db"
    val dstUrl = s"jdbc:derby:$dstDir;create=true"
    locally {
      val conn = DriverManager.getConnection(dstUrl)
      try conn.createStatement().execute(
        "CREATE TABLE cdc_state (tbl VARCHAR(64) NOT NULL, k BIGINT NOT NULL, " +
          "ts TIMESTAMP, seq BIGINT, payload VARCHAR(1024), PRIMARY KEY (tbl, k))")
      finally conn.close()
    }
    val td = TableDef(41L, "shop", "src_orders",
      Seq(Col.bigint("k"), Col.varchar("name", 64), Col.double("amount")))
    val w = new Writer(log, serverId = 9L)
    w.setClock(1700000000L); w.begin()
    def rows(ks: Seq[(Long, Double)]): Unit = {
      w.tableMap(td)
      w.writeRows(td, ks.map { case (k, a) => Array[AnyRef](
        java.lang.Long.valueOf(k), s"o$k": AnyRef,
        java.lang.Double.valueOf(a)) })
    }
    // batch 0 mirrors the snapshot spread (amounts i*1.25 over 0..499)
    rows(Seq(2000L -> 100.0, 2001L -> 200.0, 2002L -> 300.0,
      2003L -> 400.0, 2004L -> 500.0, 2005L -> 600.0))
    w.xid(1L); w.flush()
    val Right(cli) = SyncCli.parse(Array("drift-gate",
      "--src_url", url, "--dst_url", dstUrl,
      "--include_tables", "(?i)^src_orders$",
      "--checkpoint_dir", s"$base/ckpt", "--binlog", log,
      "--binlog_format", "mysql",
      "--drift_table", "src_orders", "--drift_column", "amount",
      "--drift_threshold", "0.3")): @unchecked
    cli.srcProps.putAll(props); cli.dstProps.putAll(props)
    val q = SyncCli.runDriftGate(spark, cli)
    try {
      q.processAllAvailable()
      def gate(): Map[Long, Boolean] =
        PartialState.read(spark, s"$base/ckpt/drift/gate").collect()
          .map(r => r.getAs[Number]("batch_id").longValue() ->
            r.getAs[Boolean]("gated")).toMap
      assert(gate().nonEmpty && !gate().values.exists(identity))
      assert(JdbcSource.read(spark, dstUrl, "cdc_state", props).count() == 6L)
      // a wire batch collapsed onto one value trips the gate
      w.setClock(1700000100L)
      rows((0 until 10).map(i => (3000L + i) -> 5.0))
      w.xid(2L); w.flush()
      q.processAllAvailable()
      val g = gate()
      assert(g(g.keys.max), s"skewed wire batch must gate: $g")
      // schema-shape drift: an ALTER adds a column mid-stream — the new
      // TABLE_MAP shape must flip the gate even though the KS column is
      // still present and could look statistically fine
      val td2 = TableDef(42L, "shop", "src_orders",
        Seq(Col.bigint("k"), Col.varchar("name", 64),
          Col.double("amount"), Col.varchar("region", 32)))
      w.setClock(1700000200L)
      w.tableMap(td2)
      w.writeRows(td2, (0 until 4).map(i => Array[AnyRef](
        java.lang.Long.valueOf(4000L + i), s"o$i": AnyRef,
        java.lang.Double.valueOf(100.0 * (i + 1)), s"r$i": AnyRef)))
      w.xid(3L); w.flush()
      q.processAllAvailable()
      val last = PartialState.read(spark, s"$base/ckpt/drift/gate")
        .orderBy(col("batch_id").desc).limit(1).collect().head
      assert(last.getAs[Boolean]("schema_changed"),
        "an ALTERed payload shape must be flagged")
      assert(last.getAs[Boolean]("gated"),
        "schema drift must flip the gate, not just the KS statistic")
      // earlier decisions keep their recorded shape verdict
      assert(PartialState.read(spark, s"$base/ckpt/drift/gate")
        .filter(col("schema_changed")).count() >= 1L)
    } finally { q.stop(); w.close() }
  }

  test("incremental resume copies only rows above the recorded high-water mark") {
    seeded
    // dedicated source table: this test grows it after the snapshot, so
    // it must not share src_orders with the other tests
    def insertInto(from: Int, until: Int): Unit = {
      val conn = DriverManager.getConnection(url)
      try {
        val ins = conn.prepareStatement("INSERT INTO res_orders VALUES (?, ?, ?)")
        (from until until).foreach { i =>
          ins.setLong(1, i.toLong); ins.setString(2, s"order_$i")
          ins.setDouble(3, i * 1.25); ins.addBatch()
        }
        ins.executeBatch(); ins.close()
      } finally conn.close()
    }
    locally {
      val conn = DriverManager.getConnection(url)
      try conn.createStatement().execute(
        "CREATE TABLE res_orders (rowid BIGINT NOT NULL PRIMARY KEY, " +
          "name VARCHAR(64), amount DOUBLE)")
      finally conn.close()
    }
    insertInto(0, 500)
    val dstDir = java.nio.file.Files
      .createTempDirectory("graft_derby_res_dst_").toString + "/db"
    val dst = JdbcSyncJob.Endpoint(s"jdbc:derby:$dstDir;create=true", props)
    val srcEp = JdbcSyncJob.Endpoint(url, props)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_res_ckpt_").toString
    val cfg = SyncJob.SyncConfig(
      includeTables = Some(new scala.util.matching.Regex("(?i)^res_orders$")),
      batchSize = 100L)
    JdbcSyncJob.run(spark, srcEp, dst, _ => Some("rowid"), ckpt, cfg)
    assert(JdbcSource.read(spark, dst.url, "RES_ORDERS", props).count() == 500L)
    assert(SyncJob.readCheckpoint(ckpt).values.toSeq == Seq(499L))

    // new rows land on the source after the snapshot
    insertInto(500, 600)

    val rpt = JdbcSyncJob.resume(spark, srcEp, dst, _ => Some("rowid"), ckpt, cfg)
      .collect().map(r => (r.getAs[String]("table"), r.getAs[Long]("rows"),
        r.getAs[String]("strategy"))).toSeq
    assert(rpt == Seq(("RES_ORDERS", 100L, "Resume")))
    val copied = JdbcSource.read(spark, dst.url, "RES_ORDERS", props)
    assert(copied.count() == 600L)                       // appended, not re-copied
    assert(copied.select(countDistinct(col("rowid"))).head().getLong(0) == 600L)
    assert(SyncJob.readCheckpoint(ckpt)("RES_ORDERS") == 599L) // rolled forward

    // idempotent when nothing is new; high-water mark never regresses
    JdbcSyncJob.resume(spark, srcEp, dst, _ => Some("rowid"), ckpt, cfg)
    assert(JdbcSource.read(spark, dst.url, "RES_ORDERS", props).count() == 600L)
    assert(SyncJob.readCheckpoint(ckpt)("RES_ORDERS") == 599L)
  }

  test("batched JDBC sink round-trips exactly (PreparedStatement, no SQL strings)") {
    seeded
    val src = JdbcSource.read(spark, url, "src_orders", props)
    Sinks.jdbc(src, url, "dst_orders", props, batchSize = 128,
      numPartitions = Some(4))
    val back = JdbcSource.read(spark, url, "dst_orders", props)
    assert(back.count() == 500L)
    val a = src.orderBy("rowid").collect().map(_.toSeq)
    val b = back.orderBy("rowid").collect().map(_.toSeq)
    assert(a.sameElements(b))
    // quote-bearing values survive (the reference's F1 escape hazard,
    // sync.py:63, is structurally absent with PreparedStatement)
    import spark.implicits._
    val tricky = Seq((9001L, "it's; DROP TABLE x--", 1.5))
      .toDF("rowid", "name", "amount")
    Sinks.jdbc(tricky, url, "dst_orders", props)
    val got = JdbcSource.read(spark, url, "dst_orders", props)
      .filter(col("rowid") === 9001L).select("name").head().getString(0)
    assert(got == "it's; DROP TABLE x--")
  }

  test("state verb: validation, stats, prune-tombstones, rebucket through the CLI") {
    // flag validation: its own surface, loud refusals
    assert(SyncCli.parse(Array("state")).isLeft)                 // no dir
    assert(SyncCli.parse(Array("state", "--state_dir", "d",
      "--mysql_host", "h")).isLeft)                              // sync flag
    assert(SyncCli.parse(Array("state", "--state_dir", "d",
      "--state_op", "bogus")).isLeft)
    assert(SyncCli.parse(Array("state", "--state_dir", "d",
      "--state_op", "prune-tombstones")).isLeft)                 // no watermark
    assert(SyncCli.parse(Array("state", "--state_dir", "d",
      "--state_op", "prune-tombstones",
      "--watermark", "not-a-ts")).isLeft)
    assert(SyncCli.parse(Array("state", "--state_dir", "d",
      "--state_op", "rebucket")).isLeft)                         // no buckets
    assert(SyncCli.parse(Array("state", "--state_dir", "d",
      "--state_op", "rebucket", "--buckets", "0")).isLeft)

    // end-to-end: seed a CDC state, then drive every op via the CLI
    import graft.streaming.{CdcPipeline, ChangeEvent}
    import spark.implicits._
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cli_state_").toString + "/state"
    def t(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    CdcPipeline.applyBatch(spark,
      (0 until 40).map(i => ChangeEvent("insert", "t", i.toLong, t(1),
        i.toLong, s"""{"v":$i}""")).toDF(), stateDir, numBuckets = 4)
    CdcPipeline.applyBatch(spark, Seq(
      ChangeEvent("delete", "t", 3L, t(2), 100L, null)).toDF(), stateDir)
    def run(args: String*): Seq[String] = {
      val Right(cfg) = SyncCli.parse(args.toArray): @unchecked
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        SyncCli.runState(spark, cfg)
      }
      out.toString("UTF-8").linesIterator.toSeq
    }
    val stats = run("state", "--state_dir", stateDir)
    assert(stats.size == 4 && stats.forall(_.contains("\"live_rows\"")))
    assert(stats.map(l =>
      "\"tombstones\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toInt).sum == 1)
    run("state", "--state_dir", stateDir, "--state_op", "prune-tombstones",
      "--watermark", "2024-01-01 03:00:00")
    assert(graft.streaming.BucketStore.readCurrent(spark, stateDir)
      .filter(col("op") === "delete").count() == 0L)
    val reb = run("state", "--state_dir", stateDir,
      "--state_op", "rebucket", "--buckets", "8")
    assert(reb.size > 4 && reb.size <= 8,
      s"expected up to 8 non-empty bucket stat lines, got ${reb.size}")
    assert(reb.map(l =>
      "\"live_rows\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toInt).sum == 39)
    assert(CdcPipeline.readBucketCount(spark, stateDir).contains(8))
    assert(CdcPipeline.currentState(spark, stateDir).count() == 39L)
  }

  test("reconcile verb: validation, diff lines and summary through the CLI") {
    // flag validation — its own surface, loud refusals
    assert(SyncCli.parse(Array("reconcile")).isLeft)             // no paths
    assert(SyncCli.parse(Array("reconcile", "--src_path", "a",
      "--dst_path", "b")).isLeft)                                // no pk
    assert(SyncCli.parse(Array("reconcile", "--src_path", "a",
      "--dst_path", "b", "--pk", "k", "--chunk_width", "0")).isLeft)
    assert(SyncCli.parse(Array("reconcile", "--src_path", "a",
      "--dst_path", "b", "--pk", "k", "--mysql_host", "h")).isLeft)

    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cli_reconcile_").toString
    val src = (0L until 50L).map(i => (i, s"v$i"))
    src.toDF("k", "v").write.parquet(s"$dir/src")
    // dst: key 7 missing, key 11 mutated, key 999 extra
    (src.filterNot(_._1 == 7L).map { case (k, v) =>
      (k, if (k == 11L) "CORRUPT" else v) } :+ ((999L, "phantom")))
      .toDF("k", "v").write.parquet(s"$dir/dst")
    val Right(cfg) = SyncCli.parse(Array("reconcile",
      "--src_path", s"$dir/src", "--dst_path", s"$dir/dst",
      "--pk", "k", "--chunk_width", "16")): @unchecked
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      SyncCli.runReconcile(spark, cfg)
    }
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(lines.init == Seq(
      """{"pk":7,"kind":"missing_in_dst"}""",
      """{"pk":11,"kind":"differs"}""",
      """{"pk":999,"kind":"extra_in_dst"}"""), lines.mkString("\n"))
    assert(lines.last == """{"diff_rows":3,"printed":3}""")
  }

  test("monitor verb: validation, gate pruning and summary compaction " +
      "keep a long stream's state bounded") {
    // flag validation — its own surface, loud refusals
    assert(SyncCli.parse(Array("monitor")).isLeft)               // no dir
    assert(SyncCli.parse(Array("monitor", "--state_dir", "d")).isLeft)
    assert(SyncCli.parse(Array("monitor", "--state_dir", "d",
      "--monitor_op", "bogus")).isLeft)
    assert(SyncCli.parse(Array("monitor", "--state_dir", "d",
      "--monitor_op", "prune-gates", "--kind", "reconcile")).isLeft)
    assert(SyncCli.parse(Array("monitor", "--state_dir", "d",
      "--monitor_op", "prune-gates", "--kind", "quality")).isLeft) // no wm
    assert(SyncCli.parse(Array("monitor", "--state_dir", "d",
      "--monitor_op", "compact", "--kind", "quality")).isLeft)
    assert(SyncCli.parse(Array("monitor", "--state_dir", "d",
      "--monitor_op", "compact", "--kind", "reconcile",
      "--mysql_host", "h")).isLeft)                              // sync flag
    // advise-reseed: needs the profile schema like every ranged op; a
    // factor at or below the balanced share is refused
    assert(SyncCli.parse(Array("monitor", "--state_dir", "d",
      "--monitor_op", "advise-reseed", "--kind", "profile")).isLeft)
    assert(SyncCli.parse(Array("monitor", "--state_dir", "d",
      "--monitor_op", "advise-reseed", "--kind", "profile",
      "--profile_schema", "a DOUBLE", "--factor", "0.5")).isLeft)
    assert(SyncCli.parse(Array("monitor", "--state_dir", "d",
      "--monitor_op", "advise-reseed", "--kind", "profile",
      "--profile_schema", "a DOUBLE", "--factor", "4.0")).isRight)

    import graft.streaming.{CdcQualityKeyed, KeyedChangeRow,
      ReconcileIngest}
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    import spark.implicits._
    def run(args: String*): Seq[String] = {
      val Right(cfg) = SyncCli.parse(args.toArray): @unchecked
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        SyncCli.runMonitor(spark, cfg)
      }
      out.toString("UTF-8").linesIterator.toSeq
    }

    // prune-gates/quality: keys 1..8 inserted then deleted (pure gate
    // tombstones), key 9 live — the CLI prune must drop the eight and
    // keep the report identical
    val fSchema = StructType(Seq(StructField("k", LongType),
      StructField("fk", LongType)))
    val dSchema = StructType(Seq(StructField("dk", LongType)))
    val kSpec = CdcQualityKeyed.KeyedSpec(
      "f", fSchema, rowChecks = Seq.empty,
      uniqueName = "pk_unique", uniqueKey = p => p("k"),
      refName = "fk_ref", refKey = p => p("fk"),
      dimTable = "dd", dimSchema = dSchema, dimKey = p => p("dk"))
    val qDir = java.nio.file.Files
      .createTempDirectory("graft_cli_mon_q_").toString + "/state"
    def fj(k: Long) = s"""{"k":$k,"fk":1}"""
    val hist = (1L to 8L).flatMap(k => Seq(
        KeyedChangeRow("f", "insert", fj(k), null, "s", k * 10),
        KeyedChangeRow("f", "delete", null, fj(k), "s", k * 10 + 1))) ++ Seq(
      KeyedChangeRow("f", "insert", fj(9), null, "s", 90),
      KeyedChangeRow("dd", "insert", """{"dk":1}""", null, "d", 1))
    CdcQualityKeyed.applyBatch(hist.toDF(), qDir, kSpec, numBuckets = 4)
    val before = CdcQualityKeyed.view(spark, qDir, kSpec)
      .collect().map(_.toSeq).toSeq
    def uRows() = graft.streaming.BucketStore.readCurrent(spark, s"$qDir/u")
      .filter(col("part") === "s").count()
    assert(uRows() == 9L)
    val pruned = run("monitor", "--state_dir", qDir,
      "--monitor_op", "prune-gates", "--kind", "quality",
      "--seq_watermark", "1000")
    assert(pruned.size == 1 && pruned.head.contains("\"files\":"),
      pruned.mkString("\n"))
    assert(uRows() == 1L)
    assert(CdcQualityKeyed.view(spark, qDir, kSpec)
      .collect().map(_.toSeq).toSeq == before)

    // compact/reconcile: 12 per-batch partials fold to merged + newest
    // with the maintained summary unchanged — the file count an
    // endless stream would otherwise grow without bound
    val rSpec = ReconcileIngest.SummarySpec("t", fSchema, "k",
      Seq("k", "fk"), chunkWidth = 4L)
    val rDir = java.nio.file.Files
      .createTempDirectory("graft_cli_mon_r_").toString + "/state"
    (0 until 12).foreach { b =>
      val rows = Seq(KeyedChangeRow("t", "insert",
        s"""{"k":${b * 4},"fk":$b}""", null, "s", b.toLong))
      ReconcileIngest.applyBatch(rows.toDF(), rDir, rSpec, b.toLong)
    }
    def partials() = graft.streaming.BucketStore.current(spark, rDir).get.live.size
    val sumBefore = ReconcileIngest.view(spark, rDir)
      .orderBy("chunk").collect().map(_.toSeq).toSeq
    assert(partials() == 12)
    val comp = run("monitor", "--state_dir", rDir,
      "--monitor_op", "compact", "--kind", "reconcile")
    assert(comp.size == 1 && comp.head.contains("\"monitor_op\":\"compact\""))
    assert(partials() <= 2, s"partials not bounded: ${partials()}")
    assert(ReconcileIngest.view(spark, rDir)
      .orderBy("chunk").collect().map(_.toSeq).toSeq == sumBefore)
  }

  test("monitor verb: the ranged profile's repartitioning DDL " +
      "(split-bucket, auto-split, reseed) through the CLI") {
    import graft.streaming.{CdcProfile, CdcProfileRanged, KeyedChangeRow}
    import spark.implicits._
    // flag validation: the DDL ops need the profiled types
    assert(SyncCli.parse(Array("monitor", "--state_dir", "d",
      "--monitor_op", "reseed", "--kind", "profile")).isLeft)
    assert(SyncCli.parse(Array("monitor", "--state_dir", "d",
      "--monitor_op", "reseed", "--kind", "quality",
      "--profile_schema", "a DOUBLE")).isLeft)
    assert(SyncCli.parse(Array("monitor", "--state_dir", "d",
      "--monitor_op", "split-bucket", "--kind", "profile",
      "--profile_schema", "a DOUBLE")).isLeft)           // no --bucket
    assert(SyncCli.parse(Array("monitor", "--state_dir", "d",
      "--monitor_op", "reseed", "--kind", "profile",
      "--profile_schema", "not a ddl ((")).isLeft)
    def run(args: String*): Seq[String] = {
      val Right(cfg) = SyncCli.parse(args.toArray): @unchecked
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        SyncCli.runMonitor(spark, cfg)
      }
      out.toString("UTF-8").linesIterator.toSeq
    }
    // a ranged profile state over one numeric column
    val pSpec = CdcProfile.ProfileSpec("m",
      org.apache.spark.sql.types.StructType.fromDDL("amt DOUBLE"),
      Seq("amt"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cli_ranged_").toString + "/state"
    val rows = (1 to 60).map(k => KeyedChangeRow("m", "insert",
      s"""{"amt":$k.0}""", null, "s", k.toLong))
    CdcProfileRanged.applyBatch(rows.toDF(), dir, pSpec, numBuckets = 4)
    val qs = Seq(0.25, 0.5, 0.75)
    def view() = CdcProfileRanged.profileView(spark, dir, pSpec, qs)
      .collect().map(_.toSeq).toSeq
    val want = view()
    val meta0 = CdcProfileRanged.readRanges(spark, dir).get
    // reseed to 8 buckets through the CLI: views identical, contract new
    run("monitor", "--state_dir", dir, "--monitor_op", "reseed",
      "--kind", "profile", "--profile_schema", "amt DOUBLE",
      "--buckets", "8")
    val meta1 = CdcProfileRanged.readRanges(spark, dir).get
    assert(meta1 != meta0 && meta1.col("amt").orderedIds.size <= 8)
    assert(view() == want)
    // split the median's bucket through the CLI
    val victim = CdcProfileRanged
      .quantileTargets(spark, dir, pSpec, Seq(0.5))("amt").head._2
    run("monitor", "--state_dir", dir, "--monitor_op", "split-bucket",
      "--kind", "profile", "--profile_schema", "amt DOUBLE",
      "--bucket", victim.toString)
    assert(CdcProfileRanged.readRanges(spark, dir).get.nextId ==
      meta1.nextId + 1)
    assert(view() == want)
    // auto-split under a default advisory on a balanced state: none
    val auto = run("monitor", "--state_dir", dir,
      "--monitor_op", "auto-split", "--kind", "profile",
      "--profile_schema", "amt DOUBLE")
    assert(auto.exists(_.contains("\"auto_split\"")), auto.mkString("|"))
    assert(view() == want)
  }
}
