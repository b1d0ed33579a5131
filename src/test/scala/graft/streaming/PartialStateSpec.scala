package graft.streaming

import java.nio.file.{Files, Path => JPath}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The one `batch_id=N` partial-state protocol: empty partials read
  * back, and compaction is exactly-once at every crash point for a sum,
  * a distinct and a bucket-sub-partitioned state.
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
    assert(triples(spark.read.parquet(s"$dir/out")) == twin)
    assert(twin.contains((3L, 1L, 2L)))
  }

  // ---- crash sweep of compaction ----------------------------------

  private def copyTree(src: JPath, dst: JPath): Unit = {
    val walk = Files.walk(src)
    try walk.forEach(p => Files.copy(p, dst.resolve(src.relativize(p))))
    finally walk.close()
  }

  private def entries(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filterNot(_.startsWith(".")).sorted

  /** Land `partials` as batches 0..n-1, then crash `compact` at each
    * mutating op on the state dir in turn. After every crash,
    * [[PartialState.recover]] + `read` equals the uncrashed state, and
    * a re-run of `compact` converges to the uncrashed dirs.
    */
  private def sweep(partials: Seq[DataFrame], subDirs: Seq[String],
                    compact: String => Unit, read: String => Seq[_]): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.fault.impl", classOf[FaultFS].getName)
    val base = Files.createTempDirectory("ps_sweep_")
    val pristine = base.resolve("pristine")
    partials.zipWithIndex.foreach { case (p, i) =>
      PartialState.land(p, pristine.toString, i.toLong, subDirs)
    }
    val want = read(pristine.toString)
    def fault(p: JPath) = s"fault://${p.toAbsolutePath}"
    val clean = base.resolve("clean")
    copyTree(pristine, clean)
    compact(fault(clean))
    val wantDirs = entries(clean.toString)
    assert(wantDirs == Seq("batch_id=2", "batch_id=3"), wantDirs)
    assert(read(clean.toString) == want, "compaction changed the state")
    def schemaOf(id: Int) = spark.read.parquet(s"$clean/batch_id=$id").schema
    assert(schemaOf(2) == schemaOf(3), "compaction changed the schema")
    val MaxK = 12
    val crashes = (1 to MaxK).takeWhile { k =>
      val run = base.resolve(s"k$k")
      copyTree(pristine, run)
      FaultFS.arm(run.toString, k)
      val crashed =
        try { compact(fault(run)); false }
        catch { case _: FaultFS.Crash => true }
        finally FaultFS.disarm()
      if (crashed) {
        PartialState.recover(spark, fault(run))
        assert(read(run.toString) == want, s"crash at op $k: recovered state")
        compact(fault(run))
      }
      assert(entries(run.toString) == wantDirs, s"crash at op $k: dirs")
      assert(read(run.toString) == want, s"crash at op $k: compacted state")
      crashed
    }
    assert(crashes.length >= 5 && crashes.length < MaxK,
      s"${crashes.length} crash points")
    clean.toString
  }

  test("compaction crash sweep: sum-merged state (CM sketch cells)") {
    val partials = (0 until 4).map(i =>
      Seq((0L, 1L, 2L + i), (1L, i.toLong, 1L), (2L, 3L, 5L)).toDF("j", "b", "cnt"))
    sweep(partials, Nil, CmSketchIngest.compactState(spark, _),
      dir => CmSketchIngest.sketch(spark, dir).collect().toSeq.map(_.toSeq))
  }

  test("compaction crash sweep: distinct-merged state (bloom bits)") {
    val partials = (0 until 4).map(i => Seq(1L, 7L + i, 40L).toDF("bit"))
    sweep(partials, Nil, BloomIngest.compactState(spark, _),
      dir => BloomIngest.bloom(spark, dir).collect().toSeq.map(_.getLong(0)))
  }

  test("compaction crash sweep: NearDup's bucketed state keeps bucket dirs") {
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "a stitch in time saves nine stitches", "the quick brown fox leaps")
    val partials = (0 until 4).map { i =>
      val docs = texts.zipWithIndex.map { case (t, j) =>
        DocRow(i * 10L + j, s"$t $i") }.toDF()
      NearDupIngest.bandRows(
        NearDupIngest.sigTable(docs, "text", "doc_id", 3, 16), 16, 8)
    }
    val clean = sweep(partials, Seq("bucket"),
      NearDupIngest.compactState(spark, _),
      dir => PartialState.read(spark, dir).select("doc_id", "band", "bucket")
        .collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
        .sorted)
    assert(entries(s"$clean/batch_id=2").exists(_.startsWith("bucket=")))
    assert(entries(s"$clean/batch_id=2").forall(n =>
      n.startsWith("bucket=") || n.startsWith("_")))
  }

  /** Land `partials` as batches 0..n-1, compact, and check that at most
    * two batch dirs remain and `view` did not move.
    */
  private def compactsToTwo(partials: Seq[DataFrame], compact: String => Unit,
                            view: String => Seq[String]): Unit = {
    val dir = Files.createTempDirectory("ps_compact_").resolve("state").toString
    partials.zipWithIndex.foreach { case (p, i) =>
      PartialState.land(p, dir, i.toLong)
    }
    val before = view(dir)
    assert(entries(dir).count(_.startsWith("batch_id=")) == partials.length)
    compact(dir)
    val left = entries(dir).filter(_.startsWith("batch_id="))
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
