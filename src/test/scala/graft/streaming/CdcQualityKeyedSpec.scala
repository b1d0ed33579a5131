package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Keyed CDC quality: PK-uniqueness and referential violation counts
  * maintained from deltas must equal direct evaluation on the live
  * multiset, under ANY batching (the telescoping identity), including
  * through the streaming form's versioned state.
  */
final case class KeyedChangeRow(table: String, op: String, payload: String,
                                payload_before: String, src: String, seq: Long)

class CdcQualityKeyedSpec extends SparkSpec {
  import spark.implicits._

  private val factSchema = StructType(Seq(
    StructField("k", LongType), StructField("fk", LongType),
    StructField("amt", DoubleType)))
  private val dimSchema = StructType(Seq(StructField("dk", LongType)))

  private val spec = CdcQualityKeyed.KeyedSpec(
    factTable = "fact", factSchema = factSchema,
    rowChecks = Seq(CdcQuality.QCheck("amt_non_negative",
      c => c.getField("amt") < 0.0)),
    uniqueName = "pk_unique", uniqueKey = p => p("k"),
    refName = "fk_ref", refKey = p => p("fk"),
    dimTable = "dim", dimSchema = dimSchema, dimKey = p => p("dk"))

  private def f(k: Long, fk: Long, amt: Double): String =
    s"""{"k":$k,"fk":$fk,"amt":$amt}"""
  private def d(dk: Long): String = s"""{"dk":$dk}"""

  /** A change set exercising every keyed transition: duplicate keys
    * appearing and healing, orphans created by dim delete and healed by
    * fact delete, an update moving a fact between dims, row-local
    * violations arriving and retracting.
    *
    * Final live state: dims {1}, facts: k=1(fk=1), k=2(fk=2, orphan),
    * k=2 dup (fk=1), k=3(fk=9, orphan), amt of k=3 is -5 (violation).
    * Expected: pk_unique = 1 (k=2 twice), fk_ref = 2 (fk=2 and fk=9),
    * amt_non_negative = 1.
    */
  private def changes: Seq[KeyedChangeRow] = Seq(
    KeyedChangeRow("dim", "insert", d(1), null, "a", 1),
    KeyedChangeRow("dim", "insert", d(2), null, "a", 2),
    KeyedChangeRow("fact", "insert", f(1, 1, 10.0), null, "b", 3),
    KeyedChangeRow("fact", "insert", f(2, 2, 20.0), null, "b", 4),
    // duplicate PK arrives (k=2 now twice), referencing dim 1
    KeyedChangeRow("fact", "insert", f(2, 1, 21.0), null, "b", 5),
    // a second duplicate, then healed by a delete
    KeyedChangeRow("fact", "insert", f(1, 1, 11.0), null, "c", 6),
    KeyedChangeRow("fact", "delete", null, f(1, 1, 11.0), "c", 7),
    // orphan from birth (fk=9 never existed) with a row-local violation
    KeyedChangeRow("fact", "insert", f(3, 9, -5.0), null, "c", 8),
    // dim 2 deleted → fact k=2 (fk=2) becomes an orphan
    KeyedChangeRow("dim", "delete", null, d(2), "a", 9),
    // an update that moves a fact's fk and fixes nothing else:
    // fk 1 → 1 (no-op move, still exercises retract+add)
    KeyedChangeRow("fact", "update", f(1, 1, 12.0), f(1, 1, 10.0), "b", 10))

  private def asReport(df: DataFrame): Map[String, (Long, Boolean)] =
    df.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap

  test("hand-built transitions: dup keys, orphans, healing, retraction") {
    val out = asReport(
      CdcQualityKeyed.maintain(changes.toDF(), batches = 1, spec))
    assert(out("pk_unique") == (1L, false))
    assert(out("fk_ref") == (2L, false))
    assert(out("amt_non_negative") == (1L, false))
  }

  test("batching invariance: 1 == 3 == 5 batches (telescoping deltas)") {
    val r1 = asReport(CdcQualityKeyed.maintain(changes.toDF(), 1, spec))
    val r3 = asReport(CdcQualityKeyed.maintain(changes.toDF(), 3, spec))
    val r5 = asReport(CdcQualityKeyed.maintain(changes.toDF(), 5, spec))
    assert(r1 == r3)
    assert(r1 == r5)
  }

  test("streaming form: view equals the replay twin; total from batch zero") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cdcqk_").toString
    // batch zero: no state yet → all checks present, zero violations
    val empty = asReport(CdcQualityKeyed.view(spark, s"$dir/state", spec))
    assert(empty == spec.checkNames.map(n => n -> (0L, true)).toMap)
    val input = MemoryStream[KeyedChangeRow]
    val q = CdcQualityKeyed.start(input.toDF(), s"$dir/state",
      s"$dir/ckpt", spec, numBuckets = 8)
    try {
      changes.grouped(4).foreach { c =>
        input.addData(c.toIndexedSeq); q.processAllAvailable()
      }
      val streamed = asReport(CdcQualityKeyed.view(spark, s"$dir/state", spec))
      val twin = asReport(CdcQualityKeyed.maintain(changes.toDF(), 1, spec))
      assert(streamed == twin)
    } finally q.stop()
    // the streaming state is the BucketStore layout — both keyed
    // states recorded their bucket contract, no round dirs exist
    Seq("u", "r").foreach { side =>
      val names = new java.io.File(s"$dir/state/$side").listFiles()
        .map(_.getName)
      assert(names.contains(BucketStore.LogName), names.mkString(","))
      assert(BucketStore.current(spark, s"$dir/state/$side")
        .exists(_.live.nonEmpty), names.mkString(","))
      assert(!names.exists(_.startsWith("round_")), names.mkString(","))
    }
  }

  test("gate-tombstone retention: zero-count keys prune past the seq " +
      "watermark, report unchanged, live keys untouched") {
    val dir = java.nio.file.Files.createTempDirectory("cdcqk_gc_")
      .toString + "/state"
    CdcQualityKeyed.applyBatch(changes.toDF(), dir, spec, numBuckets = 8)
    // churn: a fact key and a dim key live briefly and die — their
    // zero-count rows exist only to gate a replay
    val churn = Seq(
      KeyedChangeRow("fact", "insert", f(50, 1, 1.0), null, "z", 50),
      KeyedChangeRow("fact", "delete", null, f(50, 1, 1.0), "z", 51),
      KeyedChangeRow("dim", "insert", d(7), null, "z", 52),
      KeyedChangeRow("dim", "delete", null, d(7), "z", 53))
    CdcQualityKeyed.applyBatch(churn.toDF(), dir, spec)
    val before = asReport(CdcQualityKeyed.view(spark, dir, spec))
    def zeros(side: String, pred: org.apache.spark.sql.Column): Long =
      BucketStore.readCurrent(spark, s"$dir/$side")
        .filter(col("part") === "s" && pred).count()
    assert(zeros("u", col("n") === 0L) >= 1L)
    assert(zeros("r", col("fn") === 0L && col("dn") === 0L) >= 1L)
    val liveU = zeros("u", col("n") =!= 0L)
    // a watermark below the churn's last events prunes NOTHING of it
    CdcQualityKeyed.pruneGateTombstones(spark, dir, seqWatermark = 51)
    assert(zeros("u", col("n") === 0L) >= 1L,
      "rows at or past the watermark must survive")
    // past the redelivery window: the gate rows go, the report does not
    // move, live keys are untouched
    CdcQualityKeyed.pruneGateTombstones(spark, dir, seqWatermark = 100)
    assert(zeros("u", col("n") === 0L) == 0L)
    assert(zeros("r", col("fn") === 0L && col("dn") === 0L) == 0L)
    assert(zeros("u", col("n") =!= 0L) == liveU)
    assert(asReport(CdcQualityKeyed.view(spark, dir, spec)) == before)
    // rebucket AFTER the prune (buckets may now hold only their summary
    // row): the cumulative totals must survive the rewrite
    CdcQualityKeyed.rebucket(spark, dir, 4, spec)
    assert(asReport(CdcQualityKeyed.view(spark, dir, spec)) == before)
  }

  test("single-bucket split on the monitor state: report identical, " +
      "totals and gates survive, later applies land in the children") {
    val dir = java.nio.file.Files.createTempDirectory("cdcqk_split_")
      .toString + "/state"
    CdcQualityKeyed.applyBatch(changes.toDF(), dir, spec, numBuckets = 2)
    val before = asReport(CdcQualityKeyed.view(spark, dir, spec))
    val hotU = BucketStore.bucketBytes(spark, s"$dir/u").maxBy(_._2)._1
    CdcQualityKeyed.splitUniqueBucket(spark, dir, hotU, spec)
    val (b, levels) = BucketStore.readMeta(spark, s"$dir/u").get
    assert(b == 2 && levels == Map(hotU + 2 -> 1, hotU + 4 -> 1), levels)
    assert(asReport(CdcQualityKeyed.view(spark, dir, spec)) == before,
      "the u split must preserve the report (incl. the parked totals)")
    val hotR = BucketStore.bucketBytes(spark, s"$dir/r").maxBy(_._2)._1
    CdcQualityKeyed.splitRefBucket(spark, dir, hotR)
    assert(asReport(CdcQualityKeyed.view(spark, dir, spec)) == before)
    // the seq gates crossed the refinement: a full replay is a no-op
    CdcQualityKeyed.applyBatch(changes.toDF(), dir, spec)
    assert(asReport(CdcQualityKeyed.view(spark, dir, spec)) == before)
    // new events land in the refined children: a fresh duplicate pair
    // raises pk_unique by exactly one
    CdcQualityKeyed.applyBatch(Seq(
      KeyedChangeRow("fact", "insert", f(77, 1, 1.0), null, "z", 90),
      KeyedChangeRow("fact", "insert", f(77, 1, 2.0), null, "z", 91))
      .toDF(), dir, spec)
    val after = asReport(CdcQualityKeyed.view(spark, dir, spec))
    assert(after("pk_unique")._1 == before("pk_unique")._1 + 1, after)
  }

  test("rebucket grows the monitor state mid-stream: report identical, " +
      "seq gates intact, later applies land under the new count") {
    val dir = java.nio.file.Files.createTempDirectory("cdcqk_rb_")
      .toString + "/state"
    val (a, b) = changes.splitAt(6)
    CdcQualityKeyed.applyBatch(a.toDF(), dir, spec, numBuckets = 4)
    val before = asReport(CdcQualityKeyed.view(spark, dir, spec))
    CdcQualityKeyed.rebucket(spark, dir, 16, spec)
    Seq("u", "r").foreach { side =>
      assert(graft.streaming.BucketStore
        .readMeta(spark, s"$dir/$side").map(_._1).contains(16))
    }
    assert(asReport(CdcQualityKeyed.view(spark, dir, spec)) == before,
      "rebucket must preserve the report exactly")
    // the gates survived the rewrite: a REPLAY of batch A changes
    // nothing, and the remaining batch applies under the new count
    CdcQualityKeyed.applyBatch(a.toDF(), dir, spec)
    assert(asReport(CdcQualityKeyed.view(spark, dir, spec)) == before)
    CdcQualityKeyed.applyBatch(b.toDF(), dir, spec)
    val full = asReport(CdcQualityKeyed.view(spark, dir, spec))
    assert(full == asReport(CdcQualityKeyed.maintain(changes.toDF(), 1, spec)))
  }

  test("bucketed streaming state carries composite struct keys " +
      "(xxhash64 bucket tag + null-safe state join)") {
    import org.apache.spark.sql.functions.struct
    val compSpec = spec.copy(
      uniqueName = "pk_pair_unique",
      uniqueKey = p => struct(p("k"), p("fk")))
    val dir = java.nio.file.Files.createTempDirectory("cdcqk_comp_")
      .toString + "/state"
    changes.grouped(3).foreach(c =>
      CdcQualityKeyed.applyBatch(c.toDF(), dir, compSpec, numBuckets = 8))
    val streamed = asReport(CdcQualityKeyed.view(spark, dir, compSpec))
    val twin = asReport(CdcQualityKeyed.maintain(changes.toDF(), 1, compSpec))
    assert(streamed == twin)
    // (k=2, fk=2) and (k=2, fk=1) are now DISTINCT pairs: no duplicate
    assert(streamed("pk_pair_unique") == (0L, true), streamed.toString)
  }

  /** Recursive (relative path → length) listing of a state side — the
    * discriminator for "this dir was rewritten": a rewrite stages new
    * part files under fresh UUID names, so an untouched bucket's
    * listing is byte-identical and a touched one's never is.
    */
  private def listing(dir: String): Map[String, Long] = {
    val base = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => base.relativize(p).toString -> java.nio.file.Files.size(p))
        .toMap
    } finally s.close()
  }

  test("a round's state writes touch only the batch's buckets; " +
      "a replayed batch changes nothing") {
    val dir = java.nio.file.Files.createTempDirectory("cdcqk_tb_")
      .toString + "/state"
    // batch A: a spread of keys; batch B: ONE fact key (k=42) — with 8
    // buckets B touches exactly one u bucket and one r bucket
    val batchA = changes.take(8)
    val batchB = Seq(
      KeyedChangeRow("fact", "insert", f(42, 1, 1.0), null, "z", 100))
    CdcQualityKeyed.applyBatch(batchA.toDF(), dir, spec, numBuckets = 8)
    val afterA = listing(dir)
    CdcQualityKeyed.applyBatch(batchB.toDF(), dir, spec, numBuckets = 8)
    val afterB = listing(dir)
    val reportB = asReport(CdcQualityKeyed.view(spark, dir, spec))
    // the batch-B rewrite touched SOME buckets but not all of batch A's:
    // every changed path sits under a bucket dir B's keys hash into
    // bucket identity = side + tag ("u/bucket=3"): the same tag exists
    // on both sides
    def bucketOf(p: String): Option[String] = {
      val parts = p.split("/")
      val i = parts.indexWhere(_.startsWith("bucket="))
      if (i < 0) None else Some(parts.take(i + 1).mkString("/"))
    }
    val changed = afterB.keySet.union(afterA.keySet)
      .filter(p => afterA.get(p) != afterB.get(p))
      .flatMap(bucketOf)
    assert(changed.nonEmpty)
    val allBuckets = afterB.keySet.flatMap(bucketOf)
    assert(changed.size < allBuckets.size,
      s"batch B rewrote every bucket: $changed")
    // untouched buckets byte-identical
    afterA.keySet
      .filter(p => bucketOf(p).exists(b => !changed(b)))
      .foreach(p => assert(afterA.get(p) == afterB.get(p), p))
    // replay of batch B: the per-key seq gate drops every event, the
    // rewrite is value-identical, and the report does not move
    CdcQualityKeyed.applyBatch(batchB.toDF(), dir, spec, numBuckets = 8)
    assert(asReport(CdcQualityKeyed.view(spark, dir, spec)) == reportB)
    // and a replay of the FULL prefix (crash-redelivery of an old
    // batch) also changes nothing
    CdcQualityKeyed.applyBatch(batchA.toDF(), dir, spec, numBuckets = 8)
    assert(asReport(CdcQualityKeyed.view(spark, dir, spec)) == reportB)
  }

  test("violatingKeys drills the pk_unique subtotal hot-bucket-only") {
    // many keys spread across buckets; exactly keys 100 and 200 are
    // duplicated. The drill must name them — and must not read clean
    // buckets' keyed rows, pinned by corrupting every bucket whose
    // summary holds no violations and asserting the answer (and the
    // report) cannot tell.
    val many = (1L to 64L).map(k => KeyedChangeRow("fact", "insert",
        f(k, 1, 1.0), null, "s", k)) ++ Seq(
      KeyedChangeRow("fact", "insert", f(100, 1, 1.0), null, "s", 100),
      KeyedChangeRow("fact", "insert", f(100, 1, 2.0), null, "s", 101),
      KeyedChangeRow("fact", "insert", f(200, 1, 1.0), null, "s", 200),
      KeyedChangeRow("fact", "insert", f(200, 1, 2.0), null, "s", 201),
      KeyedChangeRow("dim", "insert", d(1), null, "a", 1))
    val dir = java.nio.file.Files.createTempDirectory("cdcqk_viol_")
      .toString + "/state"
    CdcQualityKeyed.applyBatch(many.toDF(), dir, spec, numBuckets = 8)
    def viol() = CdcQualityKeyed.violatingKeys(spark, dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(viol() == Seq(100L, 200L))
    // hot buckets = the ones whose summary uv > 0; corrupt the REST
    val uDir = s"$dir/u"
    val hot = BucketStore.readCurrent(spark, uDir)
      .filter(col("part") === "t" && col("uv") > 0L)
      .select("bucket").collect().map(_.getInt(0)).toSet
    val fs = BucketStore.fs(spark, uDir)
    val clean = LegacyLayout.liveDirs(spark, uDir).toSeq.sortBy(_._1).map(_._2)
      .map(_.getName.stripPrefix("bucket=").toInt).toSet -- hot
    assert(clean.nonEmpty, s"fixture too small: hot=$hot")
    clean.foreach { b =>
      val p = LegacyLayout.liveDirs(spark, uDir)(b).getPath
      val rows = spark.read.parquet(p)
        .withColumn("n", when(col("part") === "s", col("n") + 5)
          .otherwise(col("n")))
        .collect()
      val schema0 = spark.read.parquet(p).schema
      val tmp = s"$uDir/.tmp_corrupt_$b"
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq), schema0)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
      assert(fs.rename(new org.apache.hadoop.fs.Path(tmp),
        new org.apache.hadoop.fs.Path(p)))
    }
    assert(viol() == Seq(100L, 200L),
      "the drill read clean buckets' keyed rows")
    // control: a full keyed read WOULD see the corruption
    val full = BucketStore.readCurrent(spark, uDir)
      .filter(col("part") === "s" && col("n") > 1L).count()
    assert(full > 2L,
      "perturbation was not observable — the pin proves nothing")
  }
}
