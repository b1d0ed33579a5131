package graft.streaming

import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Crash-point sweep of every state-dir mutation — bucketed states,
  * per-batch partials and join-view rounds all commit through the one
  * version log: each mutation runs on a copy of one small state with a
  * crash injected before its k-th create, rename, delete or mkdirs in
  * the state dir or its version log, for k = 1, 2, … until a run
  * completes. After every crash a fresh reader must see exactly the
  * state before or after the mutation, and running the mutation again
  * (when it did not land) must reach the uncrashed twin.
  */
class CommitSweepSpec extends SparkSpec {
  import spark.implicits._
  import CommitSweepSpec._

  private def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")

  private def events(keys: Seq[Long], h: Int, seq0: Long, op: String = "insert") =
    keys.map(k => ChangeEvent(op, "t", k, ts(h), seq0 + k,
      if (op == "delete") null else s"""{"v":$k}""")).toDF()

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("amt", DoubleType),
    StructField("cat", StringType)))
  private val hashSpec = CdcProfile.ProfileSpec("m", schema, Seq("amt", "cat"))
  private val rangedSpec = CdcProfile.ProfileSpec("m", schema, Seq("amt"))

  private def profileRows(keys: Seq[Long], seq0: Long) =
    keys.map(k => KeyedChangeRow("m", "insert",
      s"""{"k":$k,"amt":${k % 13}.5,"cat":"c${k % 5}"}""", null, "s",
      seq0 + k)).toDF()

  private def sweep(name: String, build: String => Unit,
                    mutate: String => Unit): (String, String) =
    CommitSweepSpec.sweep(spark, name, build, mutate, bucketSnapshot(spark, _))

  private def rowState(dir: String): Unit = {
    CdcPipeline.applyBatch(spark, events(0L until 40L, 1, 0L), dir, numBuckets = 4)
    CdcPipeline.applyBatch(spark, events(0L until 40L by 9, 2, 100L, "delete"), dir)
  }

  test("crash sweep: row apply") {
    sweep("apply", rowState, d =>
      CdcPipeline.applyBatch(spark, events(30L until 50L, 3, 200L), d))
  }

  // a crashed first commit leaves no state, not an unreadable one
  test("crash sweep: first row apply") {
    sweep("first_apply", _ => (), d => CdcPipeline.applyBatch(spark,
      events(0L until 20L, 1, 0L), d, numBuckets = 4))
  }

  test("crash sweep: ranged first seed") {
    sweep("ranged_seed", _ => (), d => CdcProfileRanged.applyBatch(
      profileRows(0L until 20L, 0L), d, rangedSpec, numBuckets = 2))
  }

  test("crash sweep: hash profile apply") {
    sweep("profile", d => CdcProfile.applyBatch(profileRows(0L until 30L, 0L),
        d, hashSpec, numBuckets = 4),
      d => CdcProfile.applyBatch(profileRows(30L until 45L, 100L), d, hashSpec))
  }

  test("crash sweep: hash split") {
    sweep("split", rowState, d => CdcPipeline.splitBucket(spark, d,
      BucketStore.bucketBytes(spark, d).maxBy(_._2)._1))
  }

  test("crash sweep: ranged split") {
    sweep("ranged_split", d => CdcProfileRanged.applyBatch(
        profileRows(0L until 30L, 0L), d, rangedSpec, numBuckets = 2),
      d => {
        val meta = CdcProfileRanged.readRanges(spark, d).get
        val tag = meta.col("amt").orderedIds.find(id =>
          BucketStore.current(spark, d).get.live.contains(id) &&
            !meta.allNullIds(id)).get
        CdcProfileRanged.splitBucket(spark, d, tag, rangedSpec)
      })
  }

  test("crash sweep: rebucket") {
    sweep("rebucket", rowState, CdcPipeline.rebucket(spark, _, 8))
  }

  test("crash sweep: prune") {
    sweep("prune", rowState, CdcPipeline.pruneTombstones(spark, _, ts(3)))
  }

  // ---- per-batch partials ------------------------------------------

  private def cells(i: Int): DataFrame =
    Seq((0L, 1L, 2L + i), (1L, i.toLong, 1L), (2L, 3L, 5L)).toDF("j", "b", "cnt")

  private def partialSweep(name: String, build: String => Unit,
                           mutate: String => Unit): (String, String) =
    CommitSweepSpec.sweep(spark, name, build, mutate, partialSnapshot(spark, _))

  private def landed(n: Int)(dir: String): Unit =
    (0 until n).foreach(i => PartialState.land(cells(i), dir, i.toLong))

  test("crash sweep: partial land, replayed land and landOnce") {
    partialSweep("land", landed(2), PartialState.land(cells(2), _, 2L))
    partialSweep("replayed_land", landed(3), PartialState.land(cells(7), _, 2L))
    partialSweep("land_once", landed(2), PartialState.landOnce(cells(2), _, 2L))
    partialSweep("first_land", _ => (), PartialState.land(cells(0), _, 0L))
  }

  test("crash sweep: partial compaction (sum state)") {
    partialSweep("compact", landed(4), CmSketchIngest.compactState(spark, _))
  }

  // ---- join-view rounds --------------------------------------------

  private def orderRound(i: Int): DataFrame = Seq[(String, String, String, String)](
    ("orders_cdc", "insert", s"""{"o_orderkey":$i,"o_orderpriority":"P${i % 2}"}""", null),
    ("lineitem_cdc", "insert",
      s"""{"l_id":${100 + i},"l_orderkey":$i,"l_extendedprice":"1.500000"}""", null),
    ("lineitem_cdc", "insert",
      s"""{"l_id":${200 + i},"l_orderkey":${i / 2},"l_extendedprice":"2.000000"}""", null))
    .toDF("table", "op", "payload", "payload_before")

  private def joinSnapshot(dir: String): Seq[String] =
    roundEntries(spark, dir) ++ JoinIvm.view(spark, dir).collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted

  test("crash sweep: join-view round that prunes, and one that folds a view base") {
    def rounds(n: Int, every: Int)(dir: String): Unit = (0 until n).foreach(i =>
      JoinIvm.applyBatch(orderRound(i), dir, i.toLong, compactEvery = every))
    // the swept mutations commit round 0 pruned to its view deltas, and
    // rounds 0 and 1 folded into one view base
    val (_, pruned) = CommitSweepSpec.sweep(spark, "join_prune", rounds(2, 32),
      JoinIvm.applyBatch(orderRound(2), _, 2L), joinSnapshot)
    assert(roundEntries(spark, pruned) == Seq("0 view_0", "1 round_1", "2 round_2"))
    val (_, folded) = CommitSweepSpec.sweep(spark, "join_fold", rounds(3, 1),
      JoinIvm.applyBatch(orderRound(3), _, 3L, compactEvery = 1), joinSnapshot)
    assert(roundEntries(spark, folded) ==
      Seq("1 viewbase_1", "2 round_2", "3 round_3"))
  }

  test("crash sweep: cascade round") {
    val spec = graft.Queries.chainSpec
    def round(i: Int) = Seq(
      KeyedChangeRow("cust_cdc", "insert", s"""{"c_custkey":$i,"c_mktsegment":"S${i % 2}"}""",
        null, "s", 3L * i),
      KeyedChangeRow("ord_cdc", "insert", s"""{"o_orderkey":${10 + i},"o_custkey":$i}""",
        null, "s", 3L * i + 1),
      KeyedChangeRow("line_cdc", "insert", s"""{"l_orderkey":${10 + i},"l_cents":${100 * i}}""",
        null, "s", 3L * i + 2)).toDF()
    def snapshot(dir: String) = roundEntries(spark, dir) ++
      JoinIvm.chainView(spark, dir, spec).collect().map(_.toSeq.mkString("|"))
        .toSeq.sorted
    CommitSweepSpec.sweep(spark, "cascade", d => (0 until 2).foreach(i =>
        JoinIvm.applyChainBatch(round(i), d, i.toLong, spec)),
      JoinIvm.applyChainBatch(round(2), _, 2L, spec), snapshot)
  }

  // ---- a throw inside one overlapped sibling -----------------------

  private val keyedSpec = CdcQualityKeyed.KeyedSpec(
    factTable = "fact", factSchema = StructType(Seq(
      StructField("k", LongType), StructField("fk", LongType))),
    rowChecks = Nil, uniqueName = "pk_unique", uniqueKey = p => p("k"),
    refName = "fk_ref", refKey = p => p("fk"),
    dimTable = "dim", dimSchema = StructType(Seq(StructField("dk", LongType))),
    dimKey = p => p("dk"))

  test("a crash in one side of the keyed monitor's overlapped apply is " +
      "rethrown after the other side finished, and a replay converges") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.fault.impl", classOf[FaultFS].getName)
    val rows = ((1L to 30L).map(k => KeyedChangeRow("fact", "insert",
        s"""{"k":${k % 25},"fk":${k % 7}}""", null, "s", k)) ++
      (1L to 4L).map(d => KeyedChangeRow("dim", "insert", s"""{"dk":$d}""",
        null, "d", 100 + d))).toDF()
    val deltas = CdcQualityKeyed.weightedDeltas(rows, keyedSpec)
    val root = Files.createTempDirectory("overlap_crash_")
    val twin = fault(root.resolve("twin"))
    CdcQualityKeyed.applyDeltas(deltas, twin, keyedSpec, 4)
    def viewOf(dir: String) = CdcQualityKeyed.view(spark, dir, keyedSpec)
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val crashed = root.resolve("crashed")
    val dir = fault(crashed)
    def versions() = Seq("u", "r").map(s =>
      BucketStore.current(spark, s"$dir/$s").map(_.version))
    FaultFS.arm(Seq(crashed.resolve("r").toString,
      crashed.resolve("r").resolve(BucketStore.LogName).toString), 1)
    try intercept[FaultFS.Crash](
      CdcQualityKeyed.applyDeltas(deltas, dir, keyedSpec, 4))
    finally FaultFS.disarm()
    val atReturn = versions()
    // the u side had committed before the r side's failure surfaced
    assert(atReturn == Seq(Some(1L), None), atReturn)
    Thread.sleep(1000)
    assert(versions() == atReturn, "a commit landed after the apply returned")
    CdcQualityKeyed.applyDeltas(deltas, dir, keyedSpec, 4)
    assert(viewOf(dir) == viewOf(twin))
  }
}

object CommitSweepSpec {

  private def copyTree(src: JPath, dst: JPath): Unit = if (Files.exists(src)) {
    val walk = Files.walk(src)
    try walk.forEach(p => Files.copy(p, dst.resolve(src.relativize(p))))
    finally walk.close()
  }

  private def fault(p: JPath) = s"fault://${p.toAbsolutePath}"

  /** What a fresh reader of a bucketed state sees: the contract plus
    * every row with its tag.
    */
  def bucketSnapshot(spark: SparkSession, dir: String): Seq[String] =
    BucketStore.current(spark, dir).fold(Seq("no state")) { m =>
      s"${m.buckets} ${m.levels.toSeq.sorted} ${m.ranges}" +:
        BucketStore.read(spark, dir, m).collect().map(_.toSeq.mkString("|"))
          .toSeq.sorted
    }

  /** What a fresh reader of a partial state sees: every row with its
    * `batch_id`.
    */
  def partialSnapshot(spark: SparkSession, dir: String): Seq[String] =
    if (BucketStore.current(spark, dir).isEmpty) Seq("no state")
    else PartialState.read(spark, dir).collect().map(_.toSeq.mkString("|"))
      .toSeq.sorted

  /** A join-view state's entries: round id and kind. */
  def roundEntries(spark: SparkSession, dir: String): Seq[String] =
    BucketStore.current(spark, dir).toSeq.flatMap(_.live).map { case (r, p) =>
      s"$r ${p.substring(p.lastIndexOf('/') + 1)}" }.sorted

  /** Sweep `mutate` over the state `build` leaves, comparing what
    * `snapshot` reads; returns the state dirs before and after the
    * uncrashed mutation.
    */
  def sweep(spark: SparkSession, name: String, build: String => Unit,
            mutate: String => Unit,
            snapshot: String => Seq[String]): (String, String) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.fault.impl", classOf[FaultFS].getName)
    val root = Files.createTempDirectory(s"commit_sweep_${name}_")
    val pristine = root.resolve("pristine")
    build(pristine.toString)
    val before = snapshot(pristine.toString)
    val twin = root.resolve("twin")
    copyTree(pristine, twin)
    mutate(fault(twin))
    val after = snapshot(twin.toString)
    assert(after != before, s"$name: the mutation changed nothing")
    val MaxK = 12
    val crashes = (1 to MaxK).takeWhile { k =>
      val run = root.resolve(s"k$k")
      copyTree(pristine, run)
      FaultFS.arm(Seq(run.toString, run.resolve(BucketStore.LogName).toString), k)
      val crashed =
        try { mutate(fault(run)); false }
        catch { case _: FaultFS.Crash => true }
        finally FaultFS.disarm()
      val seen = snapshot(fault(run))
      assert(seen == before || seen == after,
        s"$name: crash at op $k left a state that is neither before nor after")
      if (seen == before) mutate(fault(run))
      assert(snapshot(run.toString) == after, s"$name: replay after op $k")
      crashed
    }
    assert(crashes.nonEmpty && crashes.length < MaxK,
      s"$name: ${crashes.length} crash points")
    (pristine.toString, twin.toString)
  }
}
