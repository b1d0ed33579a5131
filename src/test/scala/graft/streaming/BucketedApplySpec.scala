package graft.streaming

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The bucketed applies shuffle ONCE, on the bucket, and read their
  * state with its known schema. Parity: the one-shuffle row collapse
  * and profile merge equal the forms they replaced — the
  * `latestState`-based collapse and the null-safe full-outer-join merge,
  * both kept below as references — row for row on seeded batches. Shape:
  * the staged write plans exactly one exchange (hash on `bucket`), and a
  * point read or an apply runs no parquet schema-inference job.
  */
class BucketedApplySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString + "/state"

  // ---- row state: the one-shuffle collapse vs latestState ----

  /** Seeded change batches over two tables that share key values:
    * inserts, updates and deletes of the same keys with `ts` drawn out
    * of order (and tied, so `seq` breaks ties).
    */
  private def rowBatches(seed: Long): Seq[Seq[ChangeEvent]] = {
    val rnd = new scala.util.Random(seed)
    var seq = 0L
    (1 to 4).map { _ =>
      (1 to 60).map { _ =>
        seq += 1
        val op = Seq(ChangeEvent.Insert, ChangeEvent.Update,
          ChangeEvent.Delete)(rnd.nextInt(3))
        ChangeEvent(op, if (rnd.nextBoolean()) "a" else "b",
          rnd.nextInt(25).toLong, new Timestamp(1000L * rnd.nextInt(40)),
          seq, if (op == ChangeEvent.Delete) null else s"p$seq")
      }
    }
  }

  private val rowCols =
    Seq("op", "table", "key", "ts", "seq", "payload", "bucket").map(col)

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** The replaced collapse: latestState over the prior state rows plus
    * the batch tagged under the recorded meta.
    */
  private def refRowApply(dir: String, batch: DataFrame): Seq[String] = {
    val (b, levels) = BucketStore.readMeta(spark, dir).get
    val tagged = batch.withColumn("bucket", BucketStore.bucketTag(
      xxhash64(col("table"), col("key")), b, levels))
    sorted(CdcPipeline.latestState(
      BucketStore.readCurrent(spark, dir).select(rowCols: _*)
        .unionByName(tagged.select(rowCols: _*))).select(rowCols: _*))
  }

  test("row apply: the (bucket, table, key) collapse equals latestState " +
      "on seeded batches, a redelivery and a split state") {
    Seq(3L, 11L).foreach { seed =>
      val dir = tmp("bucketed_rows_")
      val batches = rowBatches(seed)
      CdcPipeline.applyBatch(spark, batches.head.toDF(), dir, numBuckets = 4)
      val hot = BucketStore.bucketBytes(spark, dir).maxBy(_._2)._1
      CdcPipeline.splitBucket(spark, dir, hot)
      assert(BucketStore.readMeta(spark, dir).get._2.nonEmpty)
      // batch 1 is redelivered after batch 2
      (batches.tail :+ batches(1)).foreach { b =>
        val want = refRowApply(dir, b.toDF())
        CdcPipeline.applyBatch(spark, b.toDF(), dir)
        assert(sorted(BucketStore.readCurrent(spark, dir).select(rowCols: _*)) == want,
          s"seed $seed")
      }
    }
  }

  // ---- profile state: the one-shuffle merge vs the full-outer merge ----

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("cat", StringType),
    StructField("amt", DoubleType), StructField("cnt", LongType)))
  private val hashSpec = CdcProfile.ProfileSpec("m", schema, Seq("cat", "amt"))
  private val rangedSpec =
    CdcProfile.ProfileSpec("m", schema, Seq("amt", "cnt"))

  /** Seeded profile batches with TRUE before images: values include
    * null and -0.0, and the only row holding "z"/99.0 is inserted in
    * batch 0 and deleted in batch 1, so those values net to a zero-count
    * tombstone.
    */
  private def profileBatches(seed: Long): Seq[Seq[KeyedChangeRow]] = {
    val rnd = new scala.util.Random(seed)
    val cats = Array("a", "b", "c", null)
    val amts = Array[java.lang.Double](1.0, 2.5, -0.0, 0.0, null, 7.0)
    def img(k: Long, r: (String, java.lang.Double, Long)): String = {
      val c = if (r._1 == null) "null" else s""""${r._1}""""
      s"""{"k":$k,"cat":$c,"amt":${r._2},"cnt":${r._3}}"""
    }
    val live = scala.collection.mutable.Map.empty[Long, (String, java.lang.Double, Long)]
    var seq = 0L
    def row(op: String, k: Long, after: (String, java.lang.Double, Long)) = {
      seq += 1
      val before = live.get(k).map(img(k, _)).orNull
      if (after == null) live.remove(k) else live(k) = after
      KeyedChangeRow("m", op, if (after == null) null else img(k, after),
        before, "s", seq)
    }
    val tomb = 1000L
    (0 until 4).map { i =>
      val fixed =
        if (i == 0) Seq(row("insert", tomb, ("z", 99.0, 5L)))
        else if (i == 1) Seq(row("delete", tomb, null))
        else Nil
      fixed ++ (1 to 40).map { _ =>
        val k = rnd.nextInt(20).toLong
        val v = (cats(rnd.nextInt(cats.length)),
          amts(rnd.nextInt(amts.length)), rnd.nextInt(4).toLong)
        if (!live.contains(k)) row("insert", k, v)
        else if (rnd.nextInt(4) == 0) row("delete", k, null)
        else row("update", k, v)
      }
    }
  }

  /** The replaced merge, verbatim: one null-safe full-outer join of the
    * events against the prior keyed rows, one aggregation on (c, v).
    */
  private def refMergeTouched(dir: String, ev: DataFrame,
                              touched: Array[Int]): DataFrame = {
    val priorS =
      if (!BucketStore.hasRows(BucketStore.current(spark, dir)))
        spark.range(0).select(lit(0).as("bucket"), lit("").as("c"),
          lit(null).cast("string").as("v"), lit(0L).as("n"),
          lit(0L).as("last_seq"))
      else BucketStore.readCurrent(spark, dir)
        .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
        .filter(col("part") === "s")
        .select(col("bucket"), col("c"), col("v"), col("n"), col("last_seq"))
    val e = ev.as("e"); val p = priorS.as("p")
    val joined = e.join(p,
      col("e.c") <=> col("p.c") && col("e.v") <=> col("p.v"), "full_outer")
    val freshW = when(
      col("e.seq") > coalesce(col("p.last_seq"), lit(Long.MinValue)),
      col("e.w"))
    joined
      .groupBy(coalesce(col("e.c"), col("p.c")).as("c"),
        coalesce(col("e.v"), col("p.v")).as("v"))
      .agg(
        coalesce(first(col("p.bucket"), ignoreNulls = true),
          first(col("e.bucket"), ignoreNulls = true)).as("bucket"),
        (coalesce(first(col("p.n"), ignoreNulls = true), lit(0L)) +
          coalesce(sum(freshW), lit(0L))).as("n"),
        greatest(first(col("p.last_seq"), ignoreNulls = true),
          max(when(freshW.isNotNull, col("e.seq")))).as("last_seq"))
      .select(col("bucket"), col("c"), col("v"), col("n"), col("last_seq"))
  }

  /** Compare both merges of `batch` against the state at `dir` (events
    * tagged by `tag`), then advance the state with `apply`.
    */
  private def checkMerge(dir: String, batch: DataFrame,
                         spec: CdcProfile.ProfileSpec,
                         tag: () => org.apache.spark.sql.Column)(
                         apply: DataFrame => Unit): Int = {
    val ev = CdcProfile.weightedDeltas(batch, spec)
      .withColumn("bucket", tag())
      .select(col("bucket"), col("c"), col("v"), col("seq"), col("w"))
    val touched = ev.select("bucket").distinct().collect()
      .map(_.getInt(0)).sorted
    val got = sorted(CdcProfile.mergeTouched(spark, dir,
      BucketStore.current(spark, dir), ev, touched))
    assert(got == sorted(refMergeTouched(dir, ev, touched)))
    apply(batch)
    got.length
  }

  test("profile merge (hash layout): equals the full-outer merge on " +
      "seeded batches — nulls, -0.0, a netted-to-zero value, a " +
      "redelivery and a split state") {
    Seq(5L, 17L).foreach { seed =>
      val dir = tmp("bucketed_prof_")
      val batches = profileBatches(seed).map(_.toDF())
      def hashTag() = {
        val (b, levels) = BucketStore.readMeta(spark, dir)
          .getOrElse((4, Map.empty[Int, Int]))
        BucketStore.bucketTag(xxhash64(col("c"), col("v")), b, levels)
      }
      def step(b: DataFrame) = checkMerge(dir, b, hashSpec, () => hashTag())(
        CdcProfile.applyBatch(_, dir, hashSpec, numBuckets = 4))
      step(batches(0)) // empty state: events only
      step(batches(1))
      val hot = BucketStore.bucketBytes(spark, dir).maxBy(_._2)._1
      CdcProfile.splitBucket(spark, dir, hot, hashSpec)
      assert(BucketStore.readMeta(spark, dir).get._2.nonEmpty)
      step(batches(2))
      step(batches(1)) // redelivered: the gate drops every event
      step(batches(3))
      // the tombstone: "z" nets to zero and stays as a gate row
      val z = BucketStore.readCurrent(spark, dir)
        .filter(col("part") === "s" && col("c") === "cat" && col("v") === "z")
        .select("n").as[Long].collect()
      assert(z.toSeq == Seq(0L), seed)
      assert(BucketStore.readCurrent(spark, dir).filter(col("part") === "s" &&
        col("c") === "amt" && col("v") === "-0.0").isEmpty)
    }
  }

  test("profile merge (ranged layout): equals the full-outer merge on " +
      "seeded batches, a redelivery and a split") {
    val dir = tmp("bucketed_ranged_")
    val batches = profileBatches(29L).map(_.toDF())
    // two buckets per column, so a bucket holds values to split between
    CdcProfileRanged.applyBatch(batches(0), dir, rangedSpec, numBuckets = 2)
    def rangedTag() = CdcProfileRanged.bucketOf(
      CdcProfileRanged.readRanges(spark, dir).get, rangedSpec)
    def step(b: DataFrame) = checkMerge(dir, b, rangedSpec, () => rangedTag())(
      CdcProfileRanged.applyBatch(_, dir, rangedSpec))
    step(batches(1))
    val hot = BucketStore.readCurrent(spark, dir)
      .filter(col("part") === "s" && col("c") === "amt" &&
        col("v").isNotNull && col("n") > 0L)
      .groupBy("bucket").agg(countDistinct("v").as("d"))
      .filter(col("d") > 1).orderBy(col("d").desc).head().getInt(0)
    CdcProfileRanged.splitBucket(spark, dir, hot, rangedSpec)
    step(batches(2))
    step(batches(1))
    assert(step(batches(3)) > 0)
  }

  // ---- plan shape and job counts ----

  private def captureWritePlan(body: => Unit): SparkPlan = {
    import org.apache.spark.sql.util.QueryExecutionListener
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = qes.add(qe): Unit
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener delivery is async — wait for the staged write's plan
      val deadline = System.nanoTime() + 30e9.toLong
      var write: Option[SparkPlan] = None
      while (write.isEmpty && System.nanoTime() < deadline) {
        write = qes.toArray(Array.empty[QueryExecution]).map(_.executedPlan)
          .find(p => flatten(p).exists(_.isInstanceOf[DataWritingCommandExec]))
        if (write.isEmpty) Thread.sleep(100)
      }
      write.getOrElse(fail("no staged write plan captured: " +
        qes.toArray(Array.empty[QueryExecution])
          .map(_.executedPlan.getClass.getSimpleName).mkString(", ")))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node the plan runs — through AQE stages and into each
    * cached relation's plan (once per relation).
    */
  private def flatten(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def go(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case i: InMemoryTableScanExec =>
        if (seen.add(i.relation.cachedPlan)) Seq(i.relation.cachedPlan)
        else Nil
      case other => other.children
    }).flatMap(go)
    go(root)
  }

  private def exchanges(root: SparkPlan): Seq[ShuffleExchangeExec] =
    flatten(root).collect { case e: ShuffleExchangeExec => e }

  private def keys(e: ShuffleExchangeExec): Seq[String] =
    e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.map {
        case a: AttributeReference => a.name
        case x => x.sql
      }
      case other => Seq(other.toString)
    }

  private def assertOneBucketShuffle(plan: SparkPlan): Unit = {
    val ex = exchanges(plan)
    assert(ex.map(keys) == Seq(Seq("bucket")),
      s"want one hash exchange on bucket, got ${ex.map(keys)}:\n$plan")
  }

  test("row apply plans one exchange, hash on bucket — none on " +
      "(table, key), and the staged write's repartition is planned away") {
    val dir = tmp("bucketed_rowplan_")
    val batches = rowBatches(7L)
    CdcPipeline.applyBatch(spark, batches(0).toDF(), dir, numBuckets = 4)
    assertOneBucketShuffle(captureWritePlan(
      CdcPipeline.applyBatch(spark, batches(1).toDF(), dir)))
  }

  test("hash profile apply plans one exchange, hash on bucket — none on " +
      "(c, v), including the merge and the summary recompute") {
    val dir = tmp("bucketed_profplan_")
    val batches = profileBatches(7L).map(_.toDF())
    CdcProfile.applyBatch(batches(0), dir, hashSpec, numBuckets = 4)
    assertOneBucketShuffle(captureWritePlan(
      CdcProfile.applyBatch(batches(1), dir, hashSpec)))
  }

  /** Jobs started while `body` ran, as (has an SQL execution id). A job
    * outside any SQL execution is planning-time work — the parquet
    * footer schema-inference job is one.
    */
  private def jobsOf(body: => Unit): Seq[Boolean] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        jobs.add((p.map(_.getProperty("spark.job.description")).orNull,
          p.exists(_.getProperty("spark.sql.execution.id") != null))): Unit
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      // events arrive in order: once the marker job shows, every job
      // the body started has been seen
      val marker = s"marker-${System.nanoTime()}"
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      def seen = jobs.toArray(Array.empty[(String, Boolean)]).toSeq
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.exists(_._1 == marker) && System.nanoTime() < deadline)
        Thread.sleep(50)
      seen.takeWhile(_._1 != marker).map(_._2)
    } finally sc.removeSparkListener(listener)
  }

  test("a point read of the row state runs ONE job and no schema " +
      "inference; a profile apply runs no schema inference") {
    val dir = tmp("bucketed_jobs_")
    val batches = rowBatches(13L)
    batches.foreach(b => CdcPipeline.applyBatch(spark, b.toDF(), dir,
      numBuckets = 4))
    val read = jobsOf(CdcPipeline.currentState(spark, dir)
      .filter(col("table") === "a" && col("key") === 3L).collect(): Unit)
    assert(read == Seq(true), s"point read jobs (in SQL execution?): $read")
    val rowApply = jobsOf(CdcPipeline.applyBatch(spark, batches(0).toDF(), dir))
    assert(rowApply.nonEmpty && rowApply.forall(identity), rowApply)
    val pdir = tmp("bucketed_profjobs_")
    val pb = profileBatches(13L).map(_.toDF())
    CdcProfile.applyBatch(pb(0), pdir, hashSpec, numBuckets = 4)
    val apply = jobsOf(CdcProfile.applyBatch(pb(1), pdir, hashSpec))
    assert(apply.nonEmpty && apply.forall(identity),
      s"profile apply jobs (in SQL execution?): $apply")
  }

  test("a clean legacy state reads with an int bucket column, then " +
      "upgrades to version 1 on its first apply") {
    val dir = tmp("bucketed_legacy_")
    val batches = rowBatches(19L)
    val seed = CdcPipeline.latestState(batches(0).toDF())
    LegacyLayout.rowState(spark, dir, seed, 4)
    def state() = sorted(CdcPipeline.currentState(spark, dir))
    val before = state()
    assert(before.nonEmpty)
    assert(BucketStore.current(spark, dir).get.version == 0)
    assert(BucketStore.readCurrent(spark, dir, CdcPipeline.changeEventSchema)
      .schema("bucket").dataType == IntegerType)
    // the first apply upgrades: version 1 references the untouched legacy
    // dirs in place and retires the meta file
    val want = refRowApply(dir, batches(1).toDF())
    CdcPipeline.applyBatch(spark, batches(1).toDF(), dir)
    val m = BucketStore.current(spark, dir).get
    assert(m.version == 1 && m.buckets == 4, m)
    assert(sorted(BucketStore.readCurrent(spark, dir).select(rowCols: _*)) == want)
    assert(!new java.io.File(dir, BucketStore.MetaName).exists())
    val names = new java.io.File(dir).list().toSet
    assert(m.live.values.map(_.takeWhile(_ != '/')).forall(names), names)
    assert(names.filter(_.startsWith("bucket=")).forall(n =>
      m.live.values.exists(_ == n)), s"a superseded legacy dir survived: $names")
    assert(CdcPipeline.currentState(spark, dir).columns.toSeq ==
      CdcPipeline.changeEventSchema.fieldNames.toSeq)
  }

  test("an in-flight write is invisible to readers and survives GC; a " +
      "lost writer's dir is collected") {
    import java.nio.file.{Files, Paths}
    val dir = tmp("bucketed_gc_")
    val batches = rowBatches(23L)
    CdcPipeline.applyBatch(spark, batches(0).toDF(), dir, numBuckets = 4)
    def state() = sorted(CdcPipeline.currentState(spark, dir))
    val before = state()
    val (b, src) = LegacyLayout.liveDirs(spark, dir).head
    def stage(name: String) = {
      val to = Paths.get(dir, name, s"bucket=$b")
      org.apache.commons.io.FileUtils.copyDirectory(src, to.toFile)
      to.getParent
    }
    // a writer still writing version 3 (above what the next apply
    // commits, 2), and one that lost version 1 (at or below the newest)
    val inFlight = stage("_v3_aaaaaaaaaaaa")
    val lost = stage("_v1_bbbbbbbbbbbb")
    assert(state() == before, "a reader saw an uncommitted version dir")
    CdcPipeline.applyBatch(spark, batches(1).toDF(), dir)
    assert(!Files.exists(lost), "a lost writer's dir was not collected")
    assert(BucketStore.current(spark, dir).get.version == 2)
    assert(Files.exists(inFlight), "GC removed a dir tagged above the newest")
    // once version 3 is committed by someone else, that writer has lost
    // its create, so its dir is garbage
    CdcPipeline.applyBatch(spark, batches(2).toDF(), dir)
    assert(!Files.exists(inFlight))
  }
}
