package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The version log is the ONE commit point of every bucketed-state
  * mutation ([[BucketStore.commit]]): a writer whose base version was
  * superseded refuses instead of publishing rows tagged under a retired
  * contract, concurrent writers never lose a landed update, and a crashed
  * writer leaves nothing the next one must wait for or heal.
  */
class CommitProtocolSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("amt", DoubleType)))
  private val spec = CdcProfile.ProfileSpec("m", schema, Seq("amt"))

  private def f(k: Long, amt: Double) = s"""{"k":$k,"amt":$amt}"""

  private def changes(seq0: Long): Seq[KeyedChangeRow] =
    (1 to 10).map(k => KeyedChangeRow("m", "insert",
      f(k, k.toDouble), null, "s", seq0 + k))

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/state"

  private def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")

  private def rows(keys: Seq[Long], h: Int, seq0: Long, tag: String) =
    keys.map(k => ChangeEvent("insert", "t", k, ts(h), seq0 + k,
      s"""{"v":"$tag$k"}"""))

  private def version(dir: String) = BucketStore.current(spark, dir).get.version

  test("a writer whose base was superseded refuses, naming the newer version") {
    val dir = tmp("commit_stale_")
    CdcProfileRanged.applyBatch(changes(0).toDF(), dir, spec, numBuckets = 4)
    val stale = BucketStore.current(spark, dir)
    assert(stale.get.version == 1)
    CdcProfileRanged.applyBatch(changes(100).toDF(), dir, spec)
    val after = CdcProfileRanged.profileView(spark, dir, spec, Seq(0.5))
      .collect().map(_.toSeq).toSeq
    val live = BucketStore.readCurrent(spark, dir)
    val tags = BucketStore.current(spark, dir).get.live.keys.toArray.sorted
    def refused(mutation: => Any): Unit = {
      val e = intercept[java.io.IOException](mutation)
      assert(e.getMessage.contains("is at version 2") &&
        e.getMessage.contains("read version 1"), e.getMessage)
    }
    refused(BucketStore.writeBuckets(spark, live, dir, stale, tags, 4))
    refused(BucketStore.publishRebucket(spark, live, dir, stale, 4))
    refused(BucketStore.commit(spark, dir, stale, None, _ => true))
    // nothing moved under any refusal, and no refused data dir remains
    assert(version(dir) == 2)
    assert(CdcProfileRanged.profileView(spark, dir, spec, Seq(0.5))
      .collect().map(_.toSeq).toSeq == after)
    val referenced = BucketStore.current(spark, dir).get.live.values
      .map(_.takeWhile(_ != '/')).toSet
    assert(new java.io.File(dir).list().filter(_.startsWith("_v"))
      .forall(referenced), "a refused writer left its data dir behind")
  }

  test("a split and a rebucket committed between an apply's base read and " +
      "its commit make the apply refuse; every key keeps one version") {
    val dir = tmp("commit_race_")
    CdcPipeline.applyBatch(spark, rows(0L until 200L, 1, 0L, "a").toDF(), dir,
      numBuckets = 4)
    // phase 1 of an apply, as CdcPipeline.applyBatch runs it: resolve the
    // base, tag the batch under the base's contract, merge the touched
    // buckets' rows (materialized, as a long apply would still be
    // writing them)
    val batch = rows(0L until 200L by 7, 2, 1000L, "b").toDF()
    val base = BucketStore.current(spark, dir)
    val (b, levels) = BucketStore.contractOr(base, 4)
    val tagged = batch.select(CdcPipeline.changeEventSchema.fieldNames.map(col): _*)
      .withColumn("bucket",
      BucketStore.bucketTag(xxhash64(col("table"), col("key")), b, levels))
    val touched = tagged.select("bucket").distinct().collect()
      .map(_.getInt(0)).sorted
    val merged0 = CdcPipeline.latestState(BucketStore.read(spark, dir, base.get,
        CdcPipeline.changeEventSchema, Some(touched.toSeq)).unionByName(tagged))
    val merged = spark.createDataFrame(
      spark.sparkContext.parallelize(merged0.collect().toSeq), merged0.schema)
    // a CLI split-bucket and rebucket commit in between
    val hot = BucketStore.bucketBytes(spark, dir).maxBy(_._2)._1
    CdcPipeline.splitBucket(spark, dir, hot)
    CdcPipeline.rebucket(spark, dir, 8)
    assert(version(dir) == 3)
    // phase 2: the apply's commit refuses instead of landing rows tagged
    // for 4 buckets in an 8-bucket state
    val e = intercept[java.io.IOException](
      BucketStore.writeBuckets(spark, merged, dir, base, touched, b))
    assert(e.getMessage.contains("is at version 3") &&
      e.getMessage.contains("read version 1"), e.getMessage)
    def versionsPerKey() = CdcPipeline.currentState(spark, dir)
      .groupBy("table", "key").count().select("count").as[Long].collect()
    assert(versionsPerKey().length == 200 && versionsPerKey().forall(_ == 1L))
    // the stream's replay of the batch lands it under the new contract
    CdcPipeline.applyBatch(spark, batch, dir)
    assert(versionsPerKey().length == 200 && versionsPerKey().forall(_ == 1L))
    val payload = CdcPipeline.currentState(spark, dir)
      .filter(col("key") === 7L).select("payload").as[String].collect()
    assert(payload.toSeq == Seq("""{"v":"b7"}"""))
  }

  test("concurrent appliers on one state: each landed commit is its " +
      "base's successor, no landed update is lost, losers refuse") {
    val dir = tmp("commit_stress_")
    CdcPipeline.applyBatch(spark, rows(0L until 40L, 1, 0L, "a").toDF(), dir,
      numBuckets = 4)
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val lost = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Throwable)]()
    val threads = (0 until 4).map { t =>
      new Thread(() => (0 until 3).foreach { i =>
        val k = 1000L + 10 * t + i
        try {
          CdcPipeline.applyBatch(spark, rows(Seq(k), 2, 1000L, "w").toDF(), dir)
          landed.add(k)
        } catch { case e: Throwable => lost.add(k -> e) }
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    val keys = CdcPipeline.currentState(spark, dir).select("key").as[Long]
      .collect().toSet
    val landedKeys = landed.toArray.map(_.asInstanceOf[Long]).toSet
    val lostKeys = lost.toArray.map(_.asInstanceOf[(Long, Throwable)]._1).toSet
    assert(landedKeys.size + lostKeys.size == 12)
    assert(landedKeys.nonEmpty, "no apply landed")
    assert(landedKeys.subsetOf(keys), s"landed updates lost: ${landedKeys -- keys}")
    assert((lostKeys & keys).isEmpty, s"refused applies landed: ${lostKeys & keys}")
    lost.forEach { case (k, e) => assert(
      Option(e.getMessage).exists(_.contains("is at version")),
      s"apply of $k lost without the named refusal: $e") }
    assert(keys.size == 40 + landedKeys.size)
    // one version per landed apply: every commit was v+1 of its own base
    assert(version(dir) == 1 + landedKeys.size)
  }

  test("a writer more than KeepManifests commits stale refuses even when " +
      "its base manifest was left behind, and collects nothing live") {
    val dir = tmp("commit_far_stale_")
    def apply(keys: Seq[Long], h: Int, seq0: Long) =
      CdcPipeline.applyBatch(spark, rows(keys, h, seq0, s"h$h").toDF(), dir,
        numBuckets = 4)
    val log = java.nio.file.Paths.get(dir, BucketStore.LogName)
    def saved() = (BucketStore.current(spark, dir),
      java.nio.file.Files.readAllBytes(log.resolve(s"${version(dir)}.json")))
    apply(0L until 40L, 1, 0L)
    val (stale1, body1) = saved()
    apply(0L until 40L, 2, 100L)
    val (stale2, body2) = saved()
    // v3 rewrites every bucket; v4..v7 rewrite only key 0's, so the
    // newest version still lists dirs that v3 wrote
    apply(0L until 40L, 3, 200L)
    (4 to 7).foreach(h => apply(Seq(0L), h, 100L * h))
    assert(version(dir) == 7)
    def logged() = new java.io.File(log.toString).list().toSeq.sorted
    assert(logged() == (7 - BucketStore.KeepManifests + 1 to 7).map(v => s"$v.json"))
    val before = CdcPipeline.currentState(spark, dir).collect().toSet
    def write(base: Option[BucketStore.Manifest]) = {
      val batch = rows(Seq(999L), 9, 9000L, "z").toDF()
        .select(CdcPipeline.changeEventSchema.fieldNames.map(col): _*)
        .withColumn("bucket",
          BucketStore.bucketTag(xxhash64(col("table"), col("key")), 4, Map.empty))
      val touched = batch.select("bucket").as[Int].collect()
      intercept[java.io.IOException](
        BucketStore.writeBuckets(spark, batch, dir, base, touched, 4))
    }
    def restore(v: Int, body: Array[Byte]) =
      java.nio.file.Files.write(log.resolve(s"$v.json"), body)
    // what a crash between a commit and its prune leaves: an old manifest.
    // A writer based on it recreates the pruned 3.json; the 4.json it
    // finds names another parent, so it takes its manifest and dir back
    restore(2, body2)
    val e2 = write(stale2)
    assert(e2.getMessage.contains("is at version 7"), e2.getMessage)
    assert(!java.nio.file.Files.exists(log.resolve("3.json")))
    // one whose successor version is pruned as well cannot tell: it
    // refuses and leaves its leftovers to the next commit
    java.nio.file.Files.delete(log.resolve("2.json"))
    restore(1, body1)
    val e1 = write(stale1)
    assert(e1.getMessage.contains("is at version 7"), e1.getMessage)
    // neither moved the state nor collected a live dir
    assert(version(dir) == 7)
    assert(LegacyLayout.liveDirs(spark, dir).values.forall(_.exists))
    assert(CdcPipeline.currentState(spark, dir).collect().toSet == before)
    // the next commit prunes the old manifests and sweeps the leftovers
    apply(Seq(1L), 10, 1000L)
    assert(logged() == (8 - BucketStore.KeepManifests + 1 to 8).map(v => s"$v.json"))
    val referenced = BucketStore.current(spark, dir).get.live.values
      .map(_.takeWhile(_ != '/')).toSet
    assert(new java.io.File(dir).list().filter(_.startsWith("_v"))
      .forall(referenced), "a refused writer's data dir was not collected")
  }

  test("a writer crashed mid-mutation leaves nothing that blocks the next " +
      "writer") {
    val dir = tmp("commit_crash_")
    CdcPipeline.applyBatch(spark, rows(0L until 40L, 1, 0L, "a").toDF(), dir,
      numBuckets = 4)
    val before = CdcPipeline.currentState(spark, dir).collect().toSet
    // what a writer killed mid-mutation leaves: its half-written data dir
    // and the temp body of a manifest it never linked into place
    val orphan = new java.io.File(dir, "_v2_deaddeaddead/bucket=0")
    assert(orphan.mkdirs())
    java.nio.file.Files.write(orphan.toPath.resolve("part-0.parquet"),
      "torn".getBytes("UTF-8"))
    val tmpBody = new java.io.File(dir, ".2.json.x.tmp")
    java.nio.file.Files.write(tmpBody.toPath, "{".getBytes("UTF-8"))
    // and one killed AT the commit point, through the faulting FS
    spark.sparkContext.hadoopConfiguration
      .set("fs.fault.impl", classOf[FaultFS].getName)
    FaultFS.arm(Seq(s"$dir/${BucketStore.LogName}"), 1)
    try intercept[FaultFS.Crash](CdcPipeline.applyBatch(spark,
      rows(Seq(99L), 2, 500L, "x").toDF(), s"fault://$dir"))
    finally FaultFS.disarm()
    assert(CdcPipeline.currentState(spark, dir).collect().toSet == before)
    assert(version(dir) == 1)
    // no lease to wait out, no heal to run: the next writer commits
    CdcPipeline.applyBatch(spark, rows(Seq(77L), 2, 600L, "y").toDF(), dir)
    assert(version(dir) == 2)
    assert(CdcPipeline.currentState(spark, dir).count() == 41L)
    assert(!orphan.getParentFile.exists(), "the orphan data dir was not collected")
    assert(!tmpBody.exists(), "the orphan manifest body was not collected")
  }

  test("a DDL commits exactly one version and leaves no staging behind") {
    val dir = tmp("commit_ddl_")
    CdcProfileRanged.applyBatch(changes(0).toDF(), dir, spec, numBuckets = 4)
    val before = CdcProfileRanged.profileView(spark, dir, spec, Seq(0.5))
      .collect().map(_.toSeq).toSeq
    CdcProfileRanged.reseed(spark, dir, spec, numBuckets = 4)
    assert(version(dir) == 2)
    assert(CdcProfileRanged.profileView(spark, dir, spec, Seq(0.5))
      .collect().map(_.toSeq).toSeq == before)
    val names = new java.io.File(dir).list().toSeq
    assert(names.forall(n => n == BucketStore.LogName || n.startsWith("_v")),
      names.mkString(","))
    assert(!new java.io.File(dir + "__writer.lock").exists())
  }
}
