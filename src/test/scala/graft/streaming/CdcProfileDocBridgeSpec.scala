package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Profile maintenance under PARTIAL-image wire modes
  * (CdcProfileDocBridge.scala): the doc store recovers the before
  * images the wire never carried, and its net pairs drive the
  * range-bucketed profile through the two-phase land-then-apply
  * contract. Pinned here: maintained ≡ direct profile of the live
  * documents, replays (own id and new id) are no-ops, and the
  * crash window between land and apply heals — an apply driven by a
  * gate-eaten EMPTY pair set still lands the FULL batch, because the
  * landed file, not the recomputed pairs, is what applies.
  */
class CdcProfileDocBridgeSpec extends SparkSpec {
  import spark.implicits._

  private val docSchema = StructType(Seq(
    StructField("n", LongType), StructField("last", LongType)))
  private val pSpec = CdcProfile.ProfileSpec("events", docSchema,
    Seq("n", "last"))
  private val qs = Seq(0.25, 0.5, 0.75)

  private def partialRows(): Seq[PartialRow] = {
    val binDir = MysqlBinlogFixture.encodeEventsPartialMinimal(spark, sf)
    spark.read
      .format(classOf[MysqlBinlogSourceProvider].getName)
      .option("path", binDir).load()
      .filter(col("table") === "events")
      .select("src", "key", "seq", "payload")
      .orderBy("src", "seq").collect()
      .map(r => PartialRow(r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
  }

  private def directProfile(docs: DataFrame): Seq[Seq[Any]] = {
    // the O(distinct) twin: live docs re-inserted as a fresh change
    // stream through the batch maintainer
    val asChanges = docs.select(lit("events").as("table"),
      lit("insert").as("op"), col("doc").as("payload"),
      lit(null).cast("string").as("payload_before"),
      col("src"), col("key").as("seq"))
    CdcProfile.maintain(asChanges, 1, pSpec, minMax = true,
      quantiles = qs).collect().map(_.toSeq).toSeq
  }

  test("maintained profile equals the direct profile of the live docs " +
      "under MINIMAL x PARTIAL_JSON; replays are no-ops") {
    val rows = partialRows()
    val chunks = rows.grouped((rows.length + 2) / 3).toSeq
    val dir = java.nio.file.Files
      .createTempDirectory("profbridge_").toString
    val (docs, land, prof) = (s"$dir/docs", s"$dir/land", s"$dir/prof")
    chunks.zipWithIndex.foreach { case (c, i) =>
      CdcProfileDocBridge.applyDeferredJsonWithProfile(
        c.toIndexedSeq.toDF(), "props", docs, land, prof, pSpec,
        i.toLong, docBuckets = 8, profileBuckets = 8)
    }
    val live = CdcPipeline.deferredJsonStateBucketed(spark, docs)
    def maintained() = CdcProfileRanged
      .profileView(spark, prof, pSpec, qs).collect().map(_.toSeq).toSeq
    val want = directProfile(live)
    assert(want.nonEmpty && maintained() == want,
      s"maintained ${maintained()} vs direct $want")
    // replay of the last batch under ITS OWN id: the landed partition
    // is skipped and the profile gates drop every delta
    CdcProfileDocBridge.applyDeferredJsonWithProfile(
      chunks.last.toIndexedSeq.toDF(), "props", docs, land, prof, pSpec,
      (chunks.size - 1).toLong)
    assert(maintained() == want)
    // replay under a NEW id: the doc gates eat every event, the
    // recomputed pairs are empty, an empty batch lands and applies
    // nothing
    CdcProfileDocBridge.applyDeferredJsonWithProfile(
      chunks.last.toIndexedSeq.toDF(), "props", docs, land, prof, pSpec,
      99L)
    assert(maintained() == want)
  }

  test("the landing dir stays one entry long: ten batches end in the " +
      "three-batch run's profile") {
    val rows = partialRows()
    def run(batches: Int): (String, String) = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"profbridge_${batches}_").toString
      (0 until batches).foreach { i =>
        CdcProfileDocBridge.applyDeferredJsonWithProfile(rows.slice(
            i * rows.length / batches, (i + 1) * rows.length / batches)
            .toIndexedSeq.toDF(), "props", s"$dir/docs", s"$dir/land",
          s"$dir/prof", pSpec, i.toLong, docBuckets = 8, profileBuckets = 8)
      }
      (s"$dir/land", s"$dir/prof")
    }
    def profile(prof: String) = CdcProfileRanged
      .profileView(spark, prof, pSpec, qs).collect().map(_.toSeq).toSeq
    val (land10, prof10) = run(10)
    val entries = BucketStore.current(spark, land10).get.live.keySet
    assert(entries.size <= 2 && entries.contains(9L), entries)
    assert(profile(prof10) == profile(run(3)._2))
  }

  test("crash between land and apply heals: a gate-eaten empty replay " +
      "still applies the landed FULL batch") {
    val rows = partialRows()
    val (first, second) = rows.splitAt(rows.length / 2)
    val dir = java.nio.file.Files
      .createTempDirectory("profbridge_crash_").toString
    val (docs, land, prof) = (s"$dir/docs", s"$dir/land", s"$dir/prof")
    CdcProfileDocBridge.applyDeferredJsonWithProfile(
      first.toIndexedSeq.toDF(), "props", docs, land, prof, pSpec, 0L,
      docBuckets = 8, profileBuckets = 8)
    // batch 1 "crashes" between phases: the doc apply emitted pairs
    // and the LAND committed, but the profile apply never ran —
    // simulate by landing the true pairs directly and skipping apply
    val doc0 = CdcPipeline.deferredJsonStateBucketed(spark, docs)
      .select(col("src"), col("key"), col("doc"))
    CdcPipeline.applyDeferredJsonBucketed(
      second.toIndexedSeq.toDF()
        .select(col("src"), col("key"), col("seq"), col("payload")),
      "props", docs, 8,
      onNetPairs = Some(p =>
        CdcProfileDocBridge.landOnce(p, land, pSpec, 1L)))
    // the recovery path: the foreachBatch replay re-runs the batch;
    // the doc store's seq gates eat EVERY event, so the hook receives
    // ZERO pairs — yet the profile must still get the full batch
    // because the landed file is what applies
    CdcProfileDocBridge.applyDocPairsOnce(
      doc0.limit(0).select(col("src"), col("key"),
        col("doc").as("before"), col("doc").as("after")),
      land, prof, pSpec, 1L)
    val live = CdcPipeline.deferredJsonStateBucketed(spark, docs)
    val got = CdcProfileRanged.profileView(spark, prof, pSpec, qs)
      .collect().map(_.toSeq).toSeq
    assert(got == directProfile(live))
  }
}
