package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import MysqlBinlogWriter.{Col, TableDef, Writer}

/** Drives [[MysqlBinlogSourceProvider]]'s MICRO_BATCH path end to end:
  * a Writer grows one real-wire-format log in place while a Structured
  * Streaming query tails it with byte-position offsets. Asserts the
  * three contract points of the offset design:
  *   - `maxEventsPerTrigger` paces row events into separate micro-batches
  *     whose ranges decode standalone (so no offset ever splits a
  *     TABLE_MAP from the rows events it describes — a split range would
  *     fail the parse loudly);
  *   - insert/update/delete images appended mid-query surface with the
  *     correct ops, keys, and after-image payloads;
  *   - a restart from the checkpoint re-reads NOTHING (offsets are
  *     committed byte positions, the reference's SHOW-MASTER-STATUS
  *     coordinate).
  */
class MysqlBinlogStreamSpec extends SparkSpec {

  private val td = TableDef(11L, "graft", "t",
    Seq(Col.bigint("k"), Col.varchar("v", 64)))
  private def img(k: Long, v: String) = Array[AnyRef](
    java.lang.Long.valueOf(k), v: AnyRef)

  test("micro-batch tail: pacing, live appends, checkpoint restart") {
    val base = Files.createTempDirectory("graft_mysql_binlog_stream_").toString
    val log = s"$base/server_0.binlog"
    val outDir = s"$base/out"; val ckpt = s"$base/ckpt"

    val w = new Writer(log, serverId = 1L)
    w.setClock(1700000000L)
    w.begin()
    w.tableMap(td); w.writeRows(td, Seq(img(1L, "a"), img(2L, "b"))); w.xid(1L)
    w.tableMap(td); w.writeRows(td, Seq(img(3L, "c"))); w.xid(2L)
    w.flush()

    def startQuery() = spark.readStream
      .format(classOf[MysqlBinlogSourceProvider].getName)
      .option("path", log)
      .option("maxEventsPerTrigger", "1")
      .load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).start()

    val q = startQuery()
    try {
      q.processAllAvailable()
      val first = spark.read.parquet(outDir)
      assert(first.count() == 3L)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "maxEventsPerTrigger=1 must spread the two rows events over " +
          "separate micro-batches, each range self-decoding past its TABLE_MAP")

      // live append while the query runs: update + minimal-image delete
      w.setClock(1700000100L)
      w.tableMap(td); w.updateRows(td, Seq((img(1L, "a"), img(1L, "a2")))); w.xid(3L)
      w.tableMap(td)
      w.deleteRows(td, Seq(img(2L, null)), presentCols = Some(Set(0))); w.xid(4L)
      w.flush()
      q.processAllAvailable()

      val rows = spark.read.parquet(outDir)
        .select("op", "key", "payload").orderBy("key", "op")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      assert(rows.length == 5)
      assert(rows.contains(("update", 1L, """{"k":1,"v":"a2"}""")),
        "update surfaces the after image under TABLE_MAP column names")
      assert(rows.contains(("delete", 2L, null)),
        "delete surfaces as a null-payload tombstone")
      assert(rows.count(_._1 == "insert") == 3)
    } finally q.stop()

    // restart on the same checkpoint: committed byte offsets survive, so
    // nothing before them is re-read and only NEW events produce rows
    val beforeRestart = spark.read.parquet(outDir).count()
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == beforeRestart,
        "restart from checkpoint must re-read nothing")
      w.setClock(1700000200L)
      w.tableMap(td); w.writeRows(td, Seq(img(4L, "d"))); w.xid(5L)
      w.flush()
      q2.processAllAvailable()
      val after = spark.read.parquet(outDir)
      assert(after.count() == beforeRestart + 1)
      assert(after.filter(col("key") === 4L && col("op") === "insert").count() == 1L)
      // every emitted row is unique by seq — no range overlapped another
      assert(after.select("seq").distinct().count() == after.count())
    } finally { q2.stop(); w.close() }
  }

  test("byte-capped admission stops at whole-event boundaries, always progresses") {
    val base = Files.createTempDirectory("graft_binlog_bytecap_").toString
    val log = s"$base/bin.000001"
    val w = new Writer(log, serverId = 1L)
    w.setClock(1700000000L)
    w.begin()
    (1L to 6L).foreach { i =>
      w.tableMap(td); w.writeRows(td, Seq(img(i, s"v$i"))); w.xid(i)
    }
    w.flush(); w.close()
    val size = Files.size(java.nio.file.Paths.get(log))
    // a 1-byte cap still admits one whole event group per call (progress
    // guarantee), and every stop is a real event boundary
    var off = 4L
    var steps = 0
    while (off < size && steps < 100) {
      val next = MysqlBinlogSource.advance(log, off, Long.MaxValue, 1L).safe
      assert(next > off, s"byte cap must not stall at $off")
      off = next; steps += 1
    }
    assert(off == size)
    assert(steps > 2, "a tiny cap must split the log across many triggers")
    // a generous cap drains in one call to exactly EOF
    assert(MysqlBinlogSource.advance(log, 4L, Long.MaxValue, 1L << 30).safe == size)
  }

  test("a file that is not a binlog fails the tail, naming the file") {
    val base = Files.createTempDirectory("graft_not_binlog_").toString
    val log = s"$base/changes.binlog"
    // a tab-separated change log, not a binlog
    Files.writeString(java.nio.file.Paths.get(log),
      "insert\tt\t1\t1700000000000000\t1\t{\"v\":1}\n")
    val q = MysqlBinlogSource.tail(spark, log)
      .writeStream.format("parquet").option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      assert(e.getMessage.contains(log), e.getMessage)
      assert(e.getCause.isInstanceOf[MysqlBinlog.BinlogFormatException], e.getCause)
    } finally q.stop()
  }

  test("an empty log file parks, then streams once the server writes it") {
    val base = Files.createTempDirectory("graft_empty_binlog_").toString
    val log = s"$base/server_0.binlog"
    Files.createFile(java.nio.file.Paths.get(log))
    val q = MysqlBinlogSource.tail(spark, log)
      .writeStream.format("parquet").option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      q.processAllAvailable()
      assert(q.exception.isEmpty && q.isActive)
      assert(q.recentProgress.map(_.numInputRows).sum == 0L)
      val w = new Writer(log, serverId = 1L)
      try {
        w.setClock(1700000000L); w.begin()
        w.tableMap(td); w.writeRows(td, Seq(img(1L, "a"), img(2L, "b")))
        w.xid(1L); w.flush()
        q.processAllAvailable()
      } finally w.close()
      assert(spark.read.parquet(s"$base/out").select("key").collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("expand closes its directory listings and keeps its sorted result") {
    val base = Files.createTempDirectory("graft_expand_")
    Seq("b.binlog", "a.binlog", "c.txt", "bin.000002", "bin.000001")
      .foreach(n => Files.createFile(base.resolve(n)))
    val dir = base.toString
    val glob = s"$dir/bin.*"
    assert(MysqlBinlogSource.expand(dir) == Seq(s"$dir/a.binlog", s"$dir/b.binlog"))
    assert(MysqlBinlogSource.expand(glob) ==
      Seq(s"$dir/bin.000001", s"$dir/bin.000002"))
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    val before = os.getOpenFileDescriptorCount
    (1 to 500).foreach { _ =>
      MysqlBinlogSource.expand(dir); MysqlBinlogSource.expand(glob)
    }
    val after = os.getOpenFileDescriptorCount
    // slack for descriptors other threads of the suite open meanwhile
    assert(after - before < 50, s"open descriptors $before -> $after")
  }

  test("txn-atomic admission never tears a multi-table transaction; event-granular does") {
    // each transaction double-writes t_a and t_b inside one BEGIN…XID
    // fence; the invariant at every transaction-consistent point is
    // per-batch balance (#t_a rows == #t_b rows). A 1-byte cap forces
    // the smallest admissible step: one whole TRANSACTION under the
    // default, one whole EVENT with txnAtomic=false — where a batch
    // carries t_a's insert without its t_b partner, proving the
    // default's balance is load-bearing, not vacuous.
    val base = Files.createTempDirectory("graft_binlog_txn_").toString
    val ta = TableDef(21L, "graft", "t_a",
      Seq(Col.bigint("k"), Col.varchar("v", 64)))
    val tb = TableDef(22L, "graft", "t_b",
      Seq(Col.bigint("k"), Col.varchar("v", 64)))
    val log = s"$base/server_0.binlog"
    val w = new Writer(log, serverId = 1L)
    w.setClock(1700000000L); w.begin()
    (1L to 12L).foreach { i =>
      w.query("graft", "BEGIN")
      w.tableMap(ta); w.writeRows(ta, Seq(img(i, s"a$i")))
      w.tableMap(tb); w.writeRows(tb, Seq(img(i, s"b$i")))
      w.xid(i)
    }
    w.flush(); w.close()

    def run(atomic: Boolean): (Long, Long, Long) = {
      val out = Files.createTempDirectory("graft_txn_run_").toString
      var batches = 0L; var torn = 0L
      val q = spark.readStream
        .format(classOf[MysqlBinlogSourceProvider].getName)
        .option("path", log)
        .option("maxBytesPerTrigger", "1")
        .option("txnAtomic", atomic.toString)
        .load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val c = b.groupBy("table").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          if (c.nonEmpty) {
            batches += 1
            if (c.getOrElse("t_a", 0L) != c.getOrElse("t_b", 0L)) torn += 1
          }
          ()
        }
        .option("checkpointLocation", s"$out/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      (batches, torn, 0L)
    }

    val (nAtomic, tornAtomic, _) = run(atomic = true)
    assert(nAtomic == 12L,
      s"a 1-byte cap admits exactly one transaction per trigger: $nAtomic")
    assert(tornAtomic == 0L, "no batch may tear a transaction")
    val (nRaw, tornRaw, _) = run(atomic = false)
    assert(tornRaw > 0L,
      s"event-granular admission under the same cap must tear " +
        s"(discriminating check), batches=$nRaw")
  }

  test("pre-rotation checkpoint offsets deserialize to the head file") {
    val s = new MysqlBinlogMicroBatchStream("/srv/bin.000007", 10L)
    // a round-7 checkpoint carries no file field: it means the head file
    assert(s.deserializeOffset("""{"format":"mysql-binlog","bytes":42}""")
      == MysqlBinlogOffset("/srv/bin.000007", 42L))
    // current offsets round-trip through their own json, quotes and all
    val cur = MysqlBinlogOffset("""/data/od d"x/bin.000009""", 9000L)
    assert(s.deserializeOffset(cur.json()) == cur)
    intercept[IllegalStateException] {
      s.deserializeOffset("""{"logOffset":3}""")
    }
  }

  test("tail follows ROTATE into the successor log, exactly once, across restart") {
    val base = Files.createTempDirectory("graft_binlog_rotate_").toString
    val log1 = s"$base/bin.000001"; val log2 = s"$base/bin.000002"
    val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val w1 = new Writer(log1, serverId = 1L)
    w1.setClock(1700000000L)
    w1.begin()
    w1.tableMap(td); w1.writeRows(td, Seq(img(1L, "a"), img(2L, "b"))); w1.xid(1L)
    // server closes the log: ROTATE is its final event — but the
    // successor does not exist yet, so the tail must park at EOF
    w1.rotate("bin.000002")
    w1.flush()
    def startQuery() = spark.readStream
      .format(classOf[MysqlBinlogSourceProvider].getName)
      .option("path", log1)
      .option("maxEventsPerTrigger", "1")
      .load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).start()
    val q = startQuery()
    var w2: Writer = null
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == 2L,
        "predecessor rows drain while the successor is still absent")
      // successor appears (its own magic + FDE, fresh byte positions)
      w2 = new Writer(log2, serverId = 1L)
      w2.setClock(1700000100L)
      w2.begin()
      w2.tableMap(td); w2.writeRows(td, Seq(img(3L, "c"))); w2.xid(1L)
      w2.flush()
      q.processAllAvailable()
      val rows = spark.read.parquet(outDir)
        .select("key", "src").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      // src is the CHAIN id (the configured head), stable across the
      // rotation; which physical file a row came from lives in seq's
      // epoch bits instead
      assert(rows == Set((1L, log1), (2L, log1), (3L, log1)),
        s"rotation must hand the tail to the successor, got $rows")
      // the successor's rows sort AFTER the predecessor's in seq even
      // though its byte positions restarted — the epoch bits carry the
      // chain order, keeping (ts, seq) collapses correct across files
      val seqs = spark.read.parquet(outDir).orderBy("key")
        .select("seq").collect().map(_.getLong(0))
      assert(seqs(2) > seqs(0) && seqs(2) > seqs(1),
        s"epoch bits must order the successor after the predecessor: ${seqs.toSeq}")
    } finally q.stop()
    // restart from checkpoint: the committed offset names the successor
    // file — nothing before it is re-read, and the still-live writer's
    // appends there keep flowing
    val before = spark.read.parquet(outDir).count()
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == before,
        "restart across a rotation must re-read nothing")
      w2.setClock(1700000200L)
      w2.tableMap(td); w2.writeRows(td, Seq(img(4L, "d"))); w2.xid(2L)
      w2.flush()
      q2.processAllAvailable()
      val after = spark.read.parquet(outDir)
      assert(after.count() == before + 1)
      assert(after.filter(col("key") === 4L).select("src").head().getString(0)
        == log1, "the chain id stays the head file after restart too")
    } finally { q2.stop(); w2.close() }
  }

  test("startPos seeds a fresh stream at the snapshot fence coordinate") {
    // the reference's lifecycle: copy the snapshot, record the master
    // coordinate, then replicate FROM THERE — history before the fence
    // must never be re-read, it is already in the snapshot
    val base = Files.createTempDirectory("graft_binlog_fence_").toString
    val log = s"$base/bin.000001"
    val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val w = new Writer(log, serverId = 1L)
    w.setClock(1700000000L); w.begin()
    w.tableMap(td); w.writeRows(td, Seq(img(1L, "pre"), img(2L, "pre")))
    w.xid(1L); w.flush()
    val fence = Files.size(java.nio.file.Paths.get(log)) // SHOW MASTER STATUS
    w.setClock(1700000100L)
    w.tableMap(td); w.writeRows(td, Seq(img(3L, "post"))); w.xid(2L); w.flush()
    def startQuery() = spark.readStream
      .format(classOf[MysqlBinlogSourceProvider].getName)
      .option("path", log)
      .option("startPos", fence.toString)
      .load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).start()
    val q = startQuery()
    try {
      q.processAllAvailable()
      val keys = spark.read.parquet(outDir).select("key").collect()
        .map(_.getLong(0)).toSet
      assert(keys == Set(3L),
        s"only post-fence events may stream, got $keys")
    } finally q.stop()
    // once a checkpoint exists it wins over the start option
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == 1L)
      w.setClock(1700000200L)
      w.tableMap(td); w.writeRows(td, Seq(img(4L, "post2"))); w.xid(3L); w.flush()
      q2.processAllAvailable()
      assert(spark.read.parquet(outDir).select("key").collect()
        .map(_.getLong(0)).toSet == Set(3L, 4L))
    } finally { q2.stop(); w.close() }
  }

  test("unionTails: two server chains in one query, per-source offsets survive restart") {
    val base = Files.createTempDirectory("graft_binlog_union_").toString
    val logA = s"$base/srvA.binlog"; val logB = s"$base/srvB.binlog"
    val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val wa = new Writer(logA, serverId = 1L)
    wa.setClock(1700000000L); wa.begin()
    wa.tableMap(td); wa.writeRows(td, Seq(img(1L, "a1"))); wa.xid(1L); wa.flush()
    val wb = new Writer(logB, serverId = 2L)
    wb.setClock(1700000000L); wb.begin()
    wb.tableMap(td); wb.writeRows(td, Seq(img(1L, "b1"), img(2L, "b2")))
    wb.xid(1L); wb.flush()
    def startQuery() = MysqlBinlogSource
      .unionTails(spark, Seq(logA, logB),
        maxEventsPerTrigger = Some(1L))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).start()
    val q = startQuery()
    try {
      q.processAllAvailable()
      val got = spark.read.parquet(outDir).select("src", "key").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == Set((logA, 1L), (logB, 1L), (logB, 2L)),
        "src carries each chain's head path — unique even when servers " +
          "name their logs identically")
    } finally q.stop()
    // restart: each chain resumes from ITS OWN committed (file, byte) —
    // nothing re-read; a single chain growing advances only that tail
    val before = spark.read.parquet(outDir).count()
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == before)
      wa.setClock(1700000100L)
      wa.tableMap(td); wa.writeRows(td, Seq(img(2L, "a2"))); wa.xid(2L); wa.flush()
      q2.processAllAvailable()
      val after = spark.read.parquet(outDir).select("src", "key").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(after.length == before + 1)
      assert(after.count(_ == ((logA, 2L))) == 1)
    } finally { q2.stop(); wa.close(); wb.close() }
  }

  test("binary wire to ReplacingMergeTree state through CdcPipeline") {
    // the north-star seam end to end in STREAMING mode: a real-format
    // binlog tailed by the micro-batch source, applied per batch to the
    // bucketed CDC state table — insert, update (after image wins),
    // delete (tombstone suppresses the key)
    val base = Files.createTempDirectory("graft_binlog_cdc_").toString
    val log = s"$base/server_0.binlog"
    val stateDir = s"$base/state"
    val w = new Writer(log, serverId = 1L)
    w.setClock(1700000000L)
    w.begin()
    w.tableMap(td); w.writeRows(td, Seq(img(1L, "a"), img(2L, "b"), img(3L, "c")))
    w.xid(1L)
    w.tableMap(td); w.updateRows(td, Seq((img(2L, "b"), img(2L, "b2")))); w.xid(2L)
    w.tableMap(td)
    w.deleteRows(td, Seq(img(3L, null)), presentCols = Some(Set(0))); w.xid(3L)
    w.flush()
    val q = spark.readStream
      .format(classOf[MysqlBinlogSourceProvider].getName)
      .option("path", log)
      .load()
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        CdcPipeline.applyBatch(spark, batch, stateDir)
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val state = CdcPipeline.currentState(spark, stateDir)
        .select("key", "payload").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(state == Map(
        1L -> """{"k":1,"v":"a"}""",
        2L -> """{"k":2,"v":"b2"}"""))
      // a LATE-arriving insert of key 3 whose server timestamp predates
      // the tombstone must not resurrect it (the binlog header clock is
      // the version column — commutativity held from the wire in), while
      // the normally-clocked key 4 lands
      w.setClock(1699999999L)
      w.tableMap(td); w.writeRows(td, Seq(img(3L, "stale"))); w.xid(4L)
      w.setClock(1700000300L)
      w.tableMap(td); w.writeRows(td, Seq(img(4L, "d"))); w.xid(5L)
      w.flush()
      q.processAllAvailable()
      val keys = CdcPipeline.currentState(spark, stateDir)
        .select("key").collect().map(_.getLong(0)).toSet
      assert(keys == Set(1L, 2L, 4L))
    } finally { q.stop(); w.close() }
  }
  test("startGtid auto-positions a fresh stream past the executed set, across rotation") {
    // the GTID leg of the reference's lifecycle: metadata.txt's THIRD
    // line is the fence's Executed_Gtid_Set — a consumer resuming by it
    // must skip every executed transaction and re-read nothing, even
    // when the skip crosses a log rotation (MASTER_AUTO_POSITION)
    val base = Files.createTempDirectory("graft_binlog_gtid_").toString
    val u = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    val log1 = s"$base/bin.000001"; val log2 = s"$base/bin.000002"
    val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val w1 = new Writer(log1, serverId = 1L)
    w1.setClock(1700000000L); w1.begin()
    w1.previousGtids(Seq.empty)
    Seq(1L, 2L).foreach { gno =>
      w1.gtid(u, gno); w1.query("graft", "BEGIN")
      w1.tableMap(td); w1.writeRows(td, Seq(img(gno, s"pre$gno"))); w1.xid(gno)
    }
    w1.rotate("bin.000002"); w1.close()
    val w2 = new Writer(log2, serverId = 1L)
    w2.setClock(1700000100L); w2.begin()
    w2.previousGtids(Seq(u -> Seq((1L, 2L))))
    w2.gtid(u, 3L); w2.query("graft", "BEGIN")
    w2.tableMap(td); w2.writeRows(td, Seq(img(3L, "pre3"))); w2.xid(3L)
    // --- snapshot fence here: executed set is u:1-3 ---
    w2.gtid(u, 4L); w2.query("graft", "BEGIN")
    w2.tableMap(td); w2.writeRows(td, Seq(img(4L, "post4"))); w2.xid(4L)
    w2.flush()
    def startQuery() = spark.readStream
      .format(classOf[MysqlBinlogSourceProvider].getName)
      .option("path", log1)
      .option("startGtid", s"$u:1-3")
      .load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).start()
    val q = startQuery()
    try {
      q.processAllAvailable()
      val keys = spark.read.parquet(outDir).select("key").collect()
        .map(_.getLong(0)).toSet
      assert(keys == Set(4L),
        s"only transactions past the executed set may stream, got $keys")
    } finally q.stop()
    // the checkpoint wins over startGtid on restart; appended txns flow
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == 1L,
        "restart must re-read nothing")
      w2.gtid(u, 5L); w2.query("graft", "BEGIN")
      w2.tableMap(td); w2.writeRows(td, Seq(img(5L, "post5"))); w2.xid(5L)
      w2.flush()
      q2.processAllAvailable()
      assert(spark.read.parquet(outDir).select("key").collect()
        .map(_.getLong(0)).toSet == Set(4L, 5L))
      // epoch bits: the successor-file rows order after predecessor ones
      val seqs = spark.read.parquet(outDir).orderBy("key")
        .select("seq").collect().map(_.getLong(0))
      assert(seqs.sorted.sameElements(seqs), "seq must ascend with key here")
    } finally { q2.stop(); w2.close() }
  }
  test("mid-chain schema drift: an ALTERed table decodes on both sides of a rotation") {
    // ALTER TABLE between rotations: the successor log's TABLE_MAP
    // describes a DIFFERENT column set under the same table name (and a
    // new table id, as the server assigns). Payload naming is per-event
    // — each rows event decodes against ITS OWN TABLE_MAP — so the tail
    // must surface pre-ALTER rows with the old fields and post-ALTER
    // rows with the new ones, no restart, no cross-talk.
    val base = Files.createTempDirectory("graft_binlog_alter_").toString
    val log1 = s"$base/bin.000001"; val log2 = s"$base/bin.000002"
    val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val w1 = new Writer(log1, serverId = 1L)
    w1.setClock(1700000000L); w1.begin()
    w1.tableMap(td); w1.writeRows(td, Seq(img(1L, "old"))); w1.xid(1L)
    w1.rotate("bin.000002"); w1.close()
    // post-ALTER shape: a third column appeared
    val td2 = TableDef(12L, "graft", "t",
      Seq(Col.bigint("k"), Col.varchar("v", 64), Col.bigint("n")))
    val w2 = new Writer(log2, serverId = 1L)
    w2.setClock(1700000100L); w2.begin()
    w2.tableMap(td2)
    w2.writeRows(td2, Seq(Array[AnyRef](java.lang.Long.valueOf(2L),
      "new": AnyRef, java.lang.Long.valueOf(42L))))
    w2.xid(1L); w2.flush()
    val q = spark.readStream
      .format(classOf[MysqlBinlogSourceProvider].getName)
      .option("path", log1)
      .load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val rows = spark.read.parquet(outDir)
        .select("key", "payload").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows == Map(
        1L -> """{"k":1,"v":"old"}""",
        2L -> """{"k":2,"v":"new","n":42}"""),
        s"each side of the ALTER must decode against its own TABLE_MAP, got $rows")
    } finally { q.stop(); w2.close() }
  }
  test("batchReadFromGtid positions like the streaming startGtid, across rotation") {
    // the BATCH leg of GTID auto-position (st_cdc_binlog_gtid's read):
    // same chain shape as the streaming startGtid test — two files, the
    // fence mid-file-2 — and the skip must behave identically: start
    // set u:1-3 reads ONLY txn 4; a set ending mid-file-1 (u:1) reads
    // the rest of file 1 AND follows the rotation into file 2
    val base = Files.createTempDirectory("graft_binlog_gtid_batch_").toString
    val u = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    val log1 = s"$base/bin.000001"; val log2 = s"$base/bin.000002"
    val w1 = new Writer(log1, serverId = 1L)
    w1.setClock(1700000000L); w1.begin()
    w1.previousGtids(Seq.empty)
    Seq(1L, 2L).foreach { gno =>
      w1.gtid(u, gno); w1.query("graft", "BEGIN")
      w1.tableMap(td); w1.writeRows(td, Seq(img(gno, s"pre$gno"))); w1.xid(gno)
    }
    w1.rotate("bin.000002"); w1.close()
    val w2 = new Writer(log2, serverId = 1L)
    w2.setClock(1700000100L); w2.begin()
    w2.previousGtids(Seq(u -> Seq((1L, 2L))))
    Seq(3L, 4L).foreach { gno =>
      w2.gtid(u, gno); w2.query("graft", "BEGIN")
      w2.tableMap(td); w2.writeRows(td, Seq(img(gno, s"v$gno"))); w2.xid(gno)
    }
    w2.close()
    def keysFrom(set: String): Set[Long] =
      MysqlBinlogSource.batchReadFromGtid(spark, log1, set)
        .select("key").collect().map(_.getLong(0)).toSet
    assert(keysFrom(s"$u:1-3") == Set(4L),
      "the executed set must skip txns 1-3 exactly")
    assert(keysFrom(s"$u:1") == Set(2L, 3L, 4L),
      "a mid-file-1 position must read file 1's tail AND the successor")
    assert(keysFrom(s"$u:1-4").isEmpty,
      "a fully-executed chain reads nothing")
    // seq ordering survives the chain walk: successor rows order last
    val seqs = MysqlBinlogSource.batchReadFromGtid(spark, log1, s"$u:1")
      .orderBy("key").select("seq").collect().map(_.getLong(0))
    assert(seqs.sorted.sameElements(seqs),
      "seq must ascend with key across the rotation")
  }

  test("interleaved multi-table transactions route by table with no cross-talk") {
    // one server log carrying TWO tables with different shapes inside
    // the SAME transaction (the normal production case — a binlog is
    // per-server, not per-table): every row must surface with its own
    // table name and its own TABLE_MAP's decode, and a per-table
    // latest-state collapse must see only its own keys.
    val base = Files.createTempDirectory("graft_binlog_multitable_").toString
    val log = s"$base/bin.000001"
    val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val ta = TableDef(21L, "graft", "users",
      Seq(Col.bigint("k"), Col.varchar("v", 64)))
    val tb = TableDef(22L, "graft", "orders",
      Seq(Col.bigint("k"), Col.varchar("v", 64), Col.bigint("amount")))
    def rowB(k: Long, v: String, amt: Long) = Array[AnyRef](
      java.lang.Long.valueOf(k), v: AnyRef, java.lang.Long.valueOf(amt))
    val w = new Writer(log, serverId = 1L)
    w.setClock(1700000000L); w.begin()
    // txn 1: both tables interleaved, same key VALUES on purpose —
    // key collision across tables must not collapse across them
    w.tableMap(ta); w.writeRows(ta, Seq(img(1L, "alice"), img(2L, "bob")))
    w.tableMap(tb); w.writeRows(tb, Seq(rowB(1L, "o-1", 100L)))
    w.xid(1L)
    // txn 2: update one table, delete from the other
    w.tableMap(ta)
    w.updateRows(ta, Seq((img(1L, "alice"), img(1L, "alicia"))))
    w.tableMap(tb)
    w.deleteRows(tb, Seq(rowB(1L, "o-1", 100L)))
    w.xid(2L)
    w.flush()
    val q = spark.readStream
      .format(classOf[MysqlBinlogSourceProvider].getName)
      .option("path", log)
      .load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val rows = spark.read.parquet(outDir)
      // routing: the orders rows never leak into the users table
      val byTable = rows.groupBy("table").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byTable == Map("users" -> 3L, "orders" -> 2L), s"got $byTable")
      // per-table latest state: same CdcPipeline collapse, keyed within
      // the table only — key 1 survives in users (updated) but is a
      // delete in orders
      import org.apache.spark.sql.expressions.Window
      val latest = rows
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          Window.partitionBy("table", "key")
            .orderBy(org.apache.spark.sql.functions.col("seq").desc)))
        .filter("rn = 1")
      val users = latest.filter("table = 'users' AND op <> 'delete'")
        .select("key", "payload").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(users == Map(
        1L -> """{"k":1,"v":"alicia"}""",
        2L -> """{"k":2,"v":"bob"}"""), s"got $users")
      val orders = latest.filter("table = 'orders'").collect()
      assert(orders.length == 1 && orders(0).getAs[String]("op") == "delete",
        "orders key 1 must end as a delete, untouched by the users update")
    } finally { q.stop(); w.close() }
  }

  test("startGtid skips a compressed executed prefix on headers alone") {
    // GTID events sit OUTSIDE the TRANSACTION_PAYLOAD wrapper, so the
    // auto-position scan can pass executed COMPRESSED transactions
    // without decompressing them, and the first unexecuted wrapped
    // transaction must still decode in full.
    val base = Files.createTempDirectory("graft_binlog_gtid_tp_").toString
    val u = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    val log = s"$base/bin.000001"
    val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val w = new Writer(log, serverId = 1L)
    w.setClock(1700000000L); w.begin()
    w.previousGtids(Seq.empty)
    Seq(1L, 2L).foreach { gno =>
      w.gtid(u, gno)
      w.transactionPayload() { inner =>
        inner.tableMap(td)
        inner.writeRows(td, Seq(img(gno, s"pre$gno")))
        inner.xid(gno)
      }
    }
    w.gtid(u, 3L)
    w.transactionPayload() { inner =>
      inner.tableMap(td)
      inner.writeRows(td, Seq(img(3L, "post3")))
      inner.xid(3L)
    }
    w.flush()
    val q = spark.readStream
      .format(classOf[MysqlBinlogSourceProvider].getName)
      .option("path", log)
      .option("startGtid", s"$u:1-2")
      .load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val rows = spark.read.parquet(outDir)
        .select("key", "payload").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows == Map(3L -> """{"k":3,"v":"post3"}"""),
        s"only the unexecuted wrapped transaction may stream, got $rows")
    } finally { q.stop(); w.close() }
  }

  test("MINIMAL row images decode inside a compressed transaction") {
    // binlog_row_image=MINIMAL and transaction compression are
    // independent server settings that co-occur in production: the
    // key must come from the present columns of the decisive image
    // even when the whole transaction arrives zstd-wrapped.
    val base = Files.createTempDirectory("graft_binlog_tpmin_").toString
    val log = s"$base/bin.000001"
    val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val w = new Writer(log, serverId = 1L)
    w.setClock(1700000000L); w.begin()
    w.transactionPayload() { inner =>
      inner.tableMap(td)
      inner.writeRows(td, Seq(img(1L, "a"), img(2L, "b")))
      inner.xid(1L)
    }
    w.transactionPayload() { inner =>
      inner.tableMap(td)
      // MINIMAL update: before image = PK only, after = changed col only
      inner.updateRows(td, Seq((img(1L, null), img(0L, "a2"))),
        beforePresent = Some(Set(0)), afterPresent = Some(Set(1)))
      // MINIMAL delete: PK-only image
      inner.deleteRows(td, Seq(img(2L, null)), presentCols = Some(Set(0)))
      inner.xid(2L)
    }
    w.flush()
    val q = spark.readStream
      .format(classOf[MysqlBinlogSourceProvider].getName)
      .option("path", log)
      .load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      import org.apache.spark.sql.expressions.Window
      val latest = spark.read.parquet(outDir)
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          Window.partitionBy("key")
            .orderBy(org.apache.spark.sql.functions.col("seq").desc)))
        .filter("rn = 1")
      val state = latest.filter("op <> 'delete'")
        .select("key", "payload").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(state == Map(1L -> """{"v":"a2"}"""),
        s"minimal-image collapse inside the wrapper must hold, got $state")
      val deleted = latest.filter("op = 'delete'").select("key").collect()
        .map(_.getLong(0)).toSet
      assert(deleted == Set(2L))
    } finally { q.stop(); w.close() }
  }

  test("an 8 MiB backlog scans as several fence-cut partitions into " +
      "CdcPipeline state equal to the truth") {
    // the drain-sized range is split (defaultParallelism = 4 here) and
    // every sub-range decodes standalone; the apply sees the same rows
    val base = Files.createTempDirectory("graft_binlog_split_").toString
    val log = s"$base/server_0.binlog"
    val stateDir = s"$base/state"
    val tw = TableDef(12L, "graft", "w",
      Seq(Col.bigint("k"), Col.varchar("v", 2048)))
    val w = new Writer(log, serverId = 1L)
    w.setClock(1700000000L); w.begin()
    val truth = scala.collection.mutable.Map.empty[Long, String]
    val rng = new scala.util.Random(5L)
    def v(k: Long) = s"$k-" + rng.alphanumeric.take(1000).mkString
    def row(k: Long, s: String) = Array[AnyRef](java.lang.Long.valueOf(k), s)
    var xid = 0L
    var k = 0L
    while (w.position < (9L << 20)) {
      xid += 1
      w.tableMap(tw)
      if (xid % 5 == 0 && truth.nonEmpty) {
        // a later transaction updates one key and deletes another
        val up = 1L + rng.nextInt(k.toInt)
        val del = 1L + rng.nextInt(k.toInt)
        val nv = v(up)
        w.updateRows(tw, Seq((row(up, "x"), row(up, nv))))
        truth(up) = nv
        if (del != up) {
          w.tableMap(tw)
          w.deleteRows(tw, Seq(row(del, null)), presentCols = Some(Set(0)))
          truth -= del
        }
      } else {
        val ins = (1 to 8).map { _ => k += 1; k -> v(k) }
        w.writeRows(tw, ins.map { case (kk, s) => row(kk, s) })
        truth ++= ins
      }
      w.xid(xid)
    }
    w.flush()
    val partitions = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q = spark.readStream
      .format(classOf[MysqlBinlogSourceProvider].getName)
      .option("path", log)
      .load()
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        partitions += batch.rdd.getNumPartitions
        CdcPipeline.applyBatch(spark, batch, stateDir)
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(partitions.nonEmpty && partitions.head > 1,
        s"the first micro-batch must scan several partitions, got $partitions")
      val state = CdcPipeline.currentState(spark, stateDir)
        .select("key", "payload").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(state == truth.map { case (kk, s) =>
        kk -> s"""{"k":$kk,"v":"$s"}""" }.toMap)
    } finally { q.stop(); w.close() }
  }
}
