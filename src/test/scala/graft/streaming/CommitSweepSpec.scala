package graft.streaming

import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Crash-point sweep of every bucketed-state mutation: each mutation
  * runs on a copy of one small state (4 buckets, tens of rows) with a
  * crash injected before its k-th create, rename, delete or mkdirs in
  * the state dir or its version log, for k = 1, 2, … until a run
  * completes. After every crash a fresh reader must see exactly the
  * state before or after the mutation, and running the mutation again
  * (when it did not land) must reach the uncrashed twin.
  */
class CommitSweepSpec extends SparkSpec {
  import spark.implicits._

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

  private def copyTree(src: JPath, dst: JPath): Unit = if (Files.exists(src)) {
    val walk = Files.walk(src)
    try walk.forEach(p => Files.copy(p, dst.resolve(src.relativize(p))))
    finally walk.close()
  }

  private def fault(p: JPath) = s"fault://${p.toAbsolutePath}"

  /** What a fresh reader sees: the contract plus every row with its tag. */
  private def snapshot(dir: String): Seq[String] =
    BucketStore.current(spark, dir).fold(Seq("no state")) { m =>
      s"${m.buckets} ${m.levels.toSeq.sorted} ${m.ranges}" +:
        BucketStore.read(spark, dir, m).collect().map(_.toSeq.mkString("|"))
          .toSeq.sorted
    }

  /** Sweep `mutate` over the state `build` leaves; returns the number of
    * crash points visited.
    */
  private def sweep(name: String, build: String => Unit,
                    mutate: String => Unit): Int = {
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
    crashes.length
  }

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
}
