package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The one partial-state protocol: empty partials read back, and
  * compaction is exactly-once at every crash point for a sum, a
  * distinct and a bucket-sub-partitioned state.
  */
class PartialStateSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def ev(id: Long, typ: String, v: Double): String =
    s"""{"user_id":1,"event_id":$id,"ts":1,"event_type":"$typ",""" +
      s""""value":$v,"props":"{}"}"""

  // ---- an empty first partial -------------------------------------

  test("an empty first partial keeps a sum monitor's view readable") {
    implicit val ctx = spark.sqlContext
    val dir = tmp("ps_empty_quality_")
    val input = MemoryStream[ChangeRow]
    // the caller's filter empties the first batch
    val kept = input.toDF().filter(col("op") =!= "noop")
    val q = CdcQuality.start(kept, CdcQuality.eventsChecks, s"$dir/state",
      s"$dir/ckpt")
    def view() = CdcQuality.view(spark, s"$dir/state",
      CdcQuality.eventsChecks).collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    val rows = Seq(
      ChangeRow("insert", ev(1, "error", 1.0), null),
      ChangeRow("insert", ev(2, "click", 500.0), null),
      ChangeRow("update", ev(2, "click", 5.0), ev(2, "click", 500.0)))
    try {
      input.addData(ChangeRow("noop", ev(0, "error", 900.0), null))
      q.processAllAvailable()
      assert(view().forall(_._2 == 0L), view())
      input.addData(rows)
      q.processAllAvailable()
    } finally q.stop()
    val twin = CdcQuality.batchTwin(rows.toDF(), CdcQuality.eventsChecks)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(view() == twin)
    assert(twin.toMap.apply("event_type_domain") == 1L)
  }

  test("an empty first partial keeps a distinct monitor's read working") {
    implicit val ctx = spark.sqlContext
    val dir = tmp("ps_empty_bloom_")
    val input = MemoryStream[DocRow]
    val q = BloomIngest.start(input.toDF(), s"$dir/state", s"$dir/ckpt")
    val docs = Seq(DocRow(2, "the quick brown fox jumps"),
      DocRow(3, "over the lazy dog again"))
    def bits() = BloomIngest.bloom(spark, s"$dir/state").collect()
      .map(_.getLong(0)).toSeq
    try {
      input.addData(DocRow(1, "")) // no shingles: an empty partial
      q.processAllAvailable()
      assert(bits().isEmpty)
      input.addData(docs)
      q.processAllAvailable()
    } finally q.stop()
    val twin = BloomIngest.batchTwin(docs.toDF()).collect().map(_.getLong(0))
      .toSeq
    assert(twin.nonEmpty && bits() == twin)
  }

  test("an empty first partial keeps NearDup's prior-state read working") {
    implicit val ctx = spark.sqlContext
    val dir = tmp("ps_empty_neardup_")
    val input = MemoryStream[DocRow]
    val q = NearDupIngest.start(input.toDF(), s"$dir/state", s"$dir/out",
      s"$dir/ckpt", threshold = 0.4)
    val docs = Seq(DocRow(1, ""),
      DocRow(2, "the quick brown fox jumps over the lazy dog"),
      DocRow(3, "the quick brown fox jumps over the lazy dog today"))
    try {
      input.addData(docs.head)
      q.processAllAvailable()
      input.addData(docs.tail)
      q.processAllAvailable()
    } finally q.stop()
    def triples(df: DataFrame) = df.select("doc_id", "is_dup", "dup_of")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val twin = triples(NearDupIngest.batchTwin(docs.toDF(), threshold = 0.4))
    assert(triples(PartialState.read(spark, s"$dir/out")) == twin)
    assert(twin.contains((3L, 1L, 2L)))
  }

  // ---- legacy partial states ---------------------------------------

  test("a pre-manifest partial state reads as version 0 and upgrades on " +
      "its first commit") {
    val dir = tmp("ps_legacy_")
    (0 until 3).foreach(i => Seq((0L, 1L, i.toLong + 1)).toDF("j", "b", "cnt")
      .write.parquet(s"$dir/batch_id=$i"))
    def sketch() = CmSketchIngest.sketch(spark, dir).collect().map(_.toSeq).toSeq
    assert(BucketStore.current(spark, dir).get.version == 0)
    val before = sketch()
    assert(before == Seq(Seq(0L, 1L, 6L)))
    CmSketchIngest.compactState(spark, dir)
    val m = BucketStore.current(spark, dir).get
    assert(m.version == 1 && m.live.keySet == Set(1L, 2L))
    // the newest partial stays in place; the merged ones are collected
    assert(m.live(2L) == "batch_id=2" && m.live(1L).startsWith("_v1_"))
    assert(!new java.io.File(s"$dir/batch_id=0").exists())
    assert(sketch() == before)
  }

  // ---- crash sweep of compaction ----------------------------------

  /** The landed batch ids: the newest version's entries. */
  private def entries(dir: String): Seq[Long] =
    BucketStore.current(spark, dir).toSeq.flatMap(_.live.keys).sorted

  /** Land `partials` as batches 0..n-1 and sweep `compact` over them
    * with the shared crash harness ([[CommitSweepSpec.sweep]]): after
    * every crash a reader sees the partials before or after, and a
    * re-run converges. The uncrashed compaction keeps two entries, and
    * `read` and the schema did not move. Returns the compacted dir.
    */
  private def sweep(name: String, partials: Seq[DataFrame], subDirs: Seq[String],
                    compact: String => Unit, read: String => Seq[_]): String = {
    def build(dir: String): Unit = partials.zipWithIndex.foreach { case (p, i) =>
      PartialState.land(p, dir, i.toLong, subDirs)
    }
    def rows(dir: String) = PartialState.read(spark, dir, None, subDirs)
    val (before, after) = CommitSweepSpec.sweep(spark, name, build, compact,
      d => rows(d).collect().map(_.toSeq.mkString("|")).toSeq.sorted)
    assert(entries(after) == Seq(2L, 3L), entries(after))
    assert(read(after) == read(before), "compaction changed the state")
    assert(rows(after).schema == rows(before).schema, "compaction changed the schema")
    after
  }

  test("compaction crash sweep: sum-merged state (CM sketch cells)") {
    val partials = (0 until 4).map(i =>
      Seq((0L, 1L, 2L + i), (1L, i.toLong, 1L), (2L, 3L, 5L)).toDF("j", "b", "cnt"))
    sweep("cm", partials, Nil, CmSketchIngest.compactState(spark, _),
      dir => CmSketchIngest.sketch(spark, dir).collect().toSeq.map(_.toSeq))
  }

  test("compaction crash sweep: distinct-merged state (bloom bits)") {
    val partials = (0 until 4).map(i => Seq(1L, 7L + i, 40L).toDF("bit"))
    sweep("bloom", partials, Nil, BloomIngest.compactState(spark, _),
      dir => BloomIngest.bloom(spark, dir).collect().toSeq.map(_.getLong(0)))
  }

  /** NearDup's signature partial of batch `i` in `bands` bands, as local
    * rows (the sweeps land it many times), landed in `bucket=B` sub-dirs.
    */
  private def neardupPartial(i: Int, bands: Int = 8): DataFrame = {
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "a stitch in time saves nine stitches", "the quick brown fox leaps")
    val docs = texts.zipWithIndex.map { case (t, j) =>
      DocRow(i * 10L + j, s"$t $i") }.toDF()
    val rows = NearDupIngest.bandRows(
      NearDupIngest.sigTable(docs, "text", "doc_id", 3, 16), 16, bands)
    spark.createDataFrame(java.util.Arrays.asList(rows.collect(): _*), rows.schema)
  }

  test("land crash sweep: NearDup's bucketed state, a land and a replayed land") {
    def landed(n: Int)(dir: String): Unit = (0 until n).foreach(i =>
      PartialState.land(neardupPartial(i, 2), dir, i.toLong, Seq("bucket")))
    def rows(dir: String) = PartialState.read(spark, dir, None, Seq("bucket"))
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val (p2, p5) = (neardupPartial(2, 2), neardupPartial(5, 2))
    CommitSweepSpec.sweep(spark, "neardup_land", landed(2),
      PartialState.land(p2, _, 2L, Seq("bucket")), rows)
    CommitSweepSpec.sweep(spark, "neardup_replayed_land", landed(3),
      PartialState.land(p5, _, 2L, Seq("bucket")), rows)
  }

  test("compaction crash sweep: NearDup's bucketed state keeps bucket dirs") {
    val partials = (0 until 4).map(neardupPartial(_))
    val clean = sweep("neardup", partials, Seq("bucket"),
      NearDupIngest.compactState(spark, _),
      dir => PartialState.read(spark, dir, None, Seq("bucket"))
        .select("doc_id", "band", "bucket")
        .collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
        .sorted)
    val merged = new java.io.File(clean, BucketStore.current(spark, clean).get.live(2L))
      .list().toSeq
    assert(merged.exists(_.startsWith("bucket=")), merged)
    assert(merged.forall(n => n.startsWith("bucket=") || n.startsWith("_") ||
      n.startsWith(".")), merged)
  }

  /** Land `partials` as batches 0..n-1, compact, and check that at most
    * two partials remain and `view` did not move.
    */
  private def compactsToTwo(partials: Seq[DataFrame], compact: String => Unit,
                            view: String => Seq[String]): Unit = {
    val dir = Files.createTempDirectory("ps_compact_").resolve("state").toString
    partials.zipWithIndex.foreach { case (p, i) =>
      PartialState.land(p, dir, i.toLong)
    }
    val before = view(dir)
    assert(entries(dir).length == partials.length)
    compact(dir)
    val left = entries(dir)
    assert(left.length <= 2, left)
    assert(view(dir) == before, "compaction moved the view")
  }

  test("KS drift compaction keeps two batch dirs and the drift read") {
    val partials = (0 until 6).map(i => KsDriftIngest.cellCounts(
      Seq(("a", 10L + i), ("a", 12L), ("b", 11L + 2 * i), ("b", 12L))
        .toDF("source", "n_chars")))
    compactsToTwo(partials, KsDriftIngest.compactState(spark, _),
      dir => KsDriftIngest.drift(spark, dir).collect().map(_.toSeq.mkString("|")).toSeq)
  }

  test("IVM compaction keeps two batch dirs and the maintained view") {
    def img(et: String, v: Double) =
      s"""{"user_id":1,"event_id":1,"ts":0,"event_type":"$et","value":$v}"""
    val partials = (0 until 6).map(i => IvmIngest.partial(Seq(
        ("insert", img("click", 1.5 + i), null),
        ("update", img("view", 2.25), img("click", 1.5 + i)),
        ("delete", null, img("view", 0.5 * i)))
      .toDF("op", "payload", "payload_before")))
    compactsToTwo(partials, IvmIngest.compactState(spark, _),
      dir => IvmIngest.view(spark, dir).orderBy("event_type").collect()
        .map(_.toSeq.mkString("|")).toSeq)
  }
}
