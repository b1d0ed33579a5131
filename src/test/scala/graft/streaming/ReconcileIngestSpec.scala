package graft.streaming

import graft.SparkSpec
import graft.ops.Reconcile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incrementally-maintained reconcile summaries: the per-chunk
  * (count, xor) state fed by CDC deltas must equal
  * Reconcile.chunkSummary of the live table — including retraction
  * (count is ±1-linear, xor is its own inverse) — and stay equal under
  * batch replays and compaction.
  */
class ReconcileIngestSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("amt", DoubleType)))
  private val spec = ReconcileIngest.SummarySpec("t", schema, "id",
    Seq("id", "v", "amt"), chunkWidth = 8L)

  private def f(id: Long, v: String, amt: Double): String =
    s"""{"id":$id,"v":"$v","amt":$amt}"""

  /** insert 0..15 (two chunks), mutate id=3, delete id=9, and a chunk
    * that empties out entirely (id 20..21 inserted then deleted).
    */
  private def history: Seq[KeyedChangeRow] = {
    val inserts = (0L until 16L).map(i =>
      KeyedChangeRow("t", "insert", f(i, s"v$i", i * 1.5), null, "s", i))
    inserts ++ Seq(
      KeyedChangeRow("t", "insert", f(20, "x", 1.0), null, "s", 16),
      KeyedChangeRow("t", "insert", f(21, "y", 2.0), null, "s", 17),
      KeyedChangeRow("t", "update", f(3, "CHANGED", 4.5),
        f(3, "v3", 4.5), "s", 18),
      KeyedChangeRow("t", "delete", null, f(9, "v9", 13.5), "s", 19),
      KeyedChangeRow("t", "delete", null, f(20, "x", 1.0), "s", 20),
      KeyedChangeRow("t", "delete", null, f(21, "y", 2.0), "s", 21))
  }

  /** The live table the history nets to, as typed columns. */
  private def liveTable: DataFrame =
    (0L until 16L).filter(_ != 9L)
      .map(i => (i, if (i == 3L) "CHANGED" else s"v$i", i * 1.5))
      .toDF("id", "v", "amt")

  private def directSummary: Seq[(Long, Long, Long)] =
    Reconcile.chunkSummary(liveTable, "id",
        Seq(col("id"), col("v"), col("amt")), 8L)
      .orderBy("chunk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def viewOf(dir: String): Seq[(Long, Long, Long)] =
    ReconcileIngest.view(spark, dir).orderBy("chunk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("maintained summary equals the live table's direct chunk scan, " +
      "and a zero-net chunk drops out") {
    val dir = java.nio.file.Files
      .createTempDirectory("recingest_").toString + "/state"
    history.grouped(5).zipWithIndex.foreach { case (b, i) =>
      ReconcileIngest.applyBatch(b.toDF(), dir, spec, i.toLong)
    }
    val got = viewOf(dir)
    assert(got == directSummary, s"got $got\nwant $directSummary")
    // ids 20/21 (chunk 2) were inserted and fully deleted: no chunk-2
    // row on either side
    assert(!got.exists(_._1 == 2L))
  }

  test("an all-empty batch lands an empty partial; view stays readable") {
    val dir = java.nio.file.Files
      .createTempDirectory("recingest_empty_").toString + "/state"
    // a batch carrying only another table's rows is empty for this spec
    val other = Seq(KeyedChangeRow("elsewhere", "insert",
      f(1, "a", 1.0), null, "s", 1))
    ReconcileIngest.applyBatch(other.toDF(), dir, spec, 0L)
    assert(new java.io.File(s"$dir/batch_id=0").isDirectory)
    assert(viewOf(dir).isEmpty)
    ReconcileIngest.applyBatch(history.take(4).toDF(), dir, spec, 1L)
    assert(viewOf(dir).nonEmpty)
  }

  test("a replayed batch overwrites its own partition: view unchanged") {
    val dir = java.nio.file.Files
      .createTempDirectory("recingest_replay_").toString + "/state"
    val batches = history.grouped(5).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      ReconcileIngest.applyBatch(b.toDF(), dir, spec, i.toLong)
    }
    val before = viewOf(dir)
    // at-least-once redelivery of batch 1 (same batch_id)
    ReconcileIngest.applyBatch(batches(1).toDF(), dir, spec, 1L)
    assert(viewOf(dir) == before)
    assert(before == directSummary)
  }

  test("compaction bounds the partial count; view unchanged") {
    val dir = java.nio.file.Files
      .createTempDirectory("recingest_compact_").toString + "/state"
    history.grouped(3).zipWithIndex.foreach { case (b, i) =>
      ReconcileIngest.applyBatch(b.toDF(), dir, spec, i.toLong)
    }
    val before = viewOf(dir)
    ReconcileIngest.compact(spark, dir)
    def batchDirs() = new java.io.File(dir).listFiles()
      .map(_.getName).count(_.startsWith("batch_id="))
    assert(batchDirs() == 2)
    assert(viewOf(dir) == before)
    // the folded partial really merged: one row per chunk outside the
    // newest (replayable) partial
    val st = spark.read.parquet(dir)
      .withColumn("batch_id", col("batch_id").cast("long"))
    val newest = st.agg(max(col("batch_id"))).collect()(0).getLong(0)
    val perChunk = st.filter(col("batch_id") =!= newest)
      .groupBy("chunk").count().agg(max(col("count"))).collect()(0).getLong(0)
    assert(perChunk == 1L, s"compacted partial holds $perChunk rows/chunk")
  }

  test("image-recovery bridge: maintained doc summaries equal the " +
      "direct scan under MINIMAL x PARTIAL_JSON, replays change nothing") {
    // the wire carries NO full before images — the doc store recovers
    // them, and its net (before, after) pairs feed the summary
    val binDir = MysqlBinlogFixture.encodeEventsPartialMinimal(spark, sf)
    val rows = spark.read
      .format(classOf[MysqlBinlogSourceProvider].getName)
      .option("path", binDir).load()
      .filter(col("table") === "events")
      .select("src", "key", "seq", "payload")
      .orderBy("src", "seq").collect()
      .map(r => PartialRow(r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    val chunks = rows.grouped((rows.length + 2) / 3).toSeq
    val dir = java.nio.file.Files
      .createTempDirectory("recingest_bridge_").toString
    val (docs, sums) = (s"$dir/docs", s"$dir/sums")
    import spark.implicits._
    chunks.zipWithIndex.foreach { case (c, i) =>
      ReconcileIngest.applyDeferredJsonWithSummary(c.toIndexedSeq.toDF(),
        "props", docs, sums, i.toLong, chunkWidth = 4L, numBuckets = 8)
    }
    val live = CdcPipeline.deferredJsonStateBucketed(spark, docs)
    def direct() = Reconcile.chunkSummary(live, "key",
      Seq(col("src"), col("key"), col("doc")), 4L)
    def maintained() = viewOf(sums)
    val want = direct().orderBy("chunk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(want.nonEmpty && maintained() == want)
    assert(ReconcileIngest.diffAgainst(spark, sums, direct()).count() == 0L)
    // replay of the last batch under ITS OWN id: the committed
    // partition is skipped (at-most-once), the doc gates no-op
    ReconcileIngest.applyDeferredJsonWithSummary(
      chunks.last.toIndexedSeq.toDF(), "props", docs, sums,
      (chunks.size - 1).toLong, chunkWidth = 4L)
    assert(maintained() == want)
    // replay under a NEW id: the gates eat every event, the recomputed
    // pairs are empty, an empty partial lands
    ReconcileIngest.applyDeferredJsonWithSummary(
      chunks.last.toIndexedSeq.toDF(), "props", docs, sums, 99L,
      chunkWidth = 4L)
    assert(maintained() == want)
  }

  test("streaming form auto-compacts: partials bounded, summary intact") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("recingest_stream_").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[KeyedChangeRow]
    val q = ReconcileIngest.start(input.toDF(), s"$dir/state",
      s"$dir/ckpt", spec, compactEvery = 2)
    try {
      history.grouped(4).foreach { c =>
        input.addData(c.toIndexedSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val dirs = new java.io.File(s"$dir/state").listFiles()
      .map(_.getName).count(_.startsWith("batch_id="))
    assert(dirs <= 3, s"expected compacted partials, got $dirs")
    assert(viewOf(s"$dir/state") == directSummary)
  }

  test("diffAgainst localizes diverged chunks with zero sink I/O") {
    val dir = java.nio.file.Files
      .createTempDirectory("recingest_diff_").toString + "/state"
    history.grouped(5).zipWithIndex.foreach { case (b, i) =>
      ReconcileIngest.applyBatch(b.toDF(), dir, spec, i.toLong)
    }
    // a source snapshot that lost id=5 (chunk 0) and mutated id=12
    // (chunk 1): exactly those chunks must surface
    val srcCorrupt = liveTable.filter(col("id") =!= 5L)
      .withColumn("v", when(col("id") === 12L, "ROT").otherwise(col("v")))
    val srcSummary = Reconcile.chunkSummary(srcCorrupt, "id",
      Seq(col("id"), col("v"), col("amt")), 8L)
    val diverged = ReconcileIngest.diffAgainst(spark, dir, srcSummary)
      .orderBy("chunk").collect().map(_.getLong(0)).toSeq
    assert(diverged == Seq(0L, 1L))
    // and the clean source diffs to nothing
    val cleanSummary = Reconcile.chunkSummary(liveTable, "id",
      Seq(col("id"), col("v"), col("amt")), 8L)
    assert(ReconcileIngest.diffAgainst(spark, dir, cleanSummary)
      .count() == 0L)
  }
}
