package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The keyed quality monitor under PARTIAL-image wire modes
  * (CdcQualityDocBridge.scala): doc-store-recovered befores drive the
  * full check suite — a field-level unique key, a row predicate over
  * the folded document, and a referential check whose dimension side
  * is an ordinary full-image stream with its own seq domain.
  */
class CdcQualityDocBridgeSpec extends SparkSpec {
  import spark.implicits._

  private val docSchema = StructType(Seq(
    StructField("n", LongType), StructField("last", LongType),
    StructField("types", ArrayType(StringType))))
  private val dimSchema = StructType(Seq(StructField("eid", LongType)))
  private val kSpec = CdcQualityKeyed.KeyedSpec(
    "events_doc", docSchema,
    rowChecks = Seq(CdcQuality.QCheck("doc_n_types_mismatch",
      p => size(p.getField("types")).cast("long") =!= p.getField("n"))),
    uniqueName = "doc_last_unique", uniqueKey = p => p.getField("last"),
    refName = "doc_last_eid_ref", refKey = p => p.getField("last"),
    dimTable = "eid_dim", dimSchema = dimSchema,
    dimKey = p => p.getField("eid"))

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

  /** Full-image dim stream: every event id NOT divisible by 3 — dense
    * enough that some users' last event is orphaned.
    */
  private def dimChanges(): DataFrame =
    graft.model.Tables.events(spark, sf)
      .select(col("event_id")).distinct()
      .filter(col("event_id") % 3 =!= 0)
      .select(lit("eid_dim").as("table"), lit("insert").as("op"),
        to_json(struct(col("event_id").as("eid"))).as("payload"),
        lit(null).cast("string").as("payload_before"),
        lit("d").as("src"), col("event_id").as("seq"))

  private def report(dir: String): Map[String, (Long, Boolean)] =
    CdcQualityKeyed.view(spark, dir, kSpec)
      .collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap

  test("full validate suite under MINIMAL x PARTIAL_JSON equals the " +
      "direct twin; replays on both sides are no-ops") {
    val rows = partialRows()
    val chunks = rows.grouped((rows.length + 2) / 3).toSeq
    val dir = java.nio.file.Files
      .createTempDirectory("qualbridge_").toString
    val (docs, land, qual) = (s"$dir/docs", s"$dir/land", s"$dir/qual")
    chunks.zipWithIndex.foreach { case (c, i) =>
      CdcQualityDocBridge.applyDeferredJsonWithQuality(
        c.toIndexedSeq.toDF(), "props", docs, land, qual, kSpec,
        i.toLong, docBuckets = 8, qualityBuckets = 8)
    }
    // each landing dropped the batches before it
    assert(BucketStore.current(spark, land).get.live.keySet ==
      Set(chunks.size - 1L))
    CdcQualityKeyed.applyBatch(dimChanges(), qual, kSpec, numBuckets = 8)
    val got = report(qual)
    // direct twin: the live documents re-inserted as one fresh stream
    val live = CdcPipeline.deferredJsonStateBucketed(spark, docs)
    val asChanges = live.select(lit("events_doc").as("table"),
        lit("insert").as("op"), col("doc").as("payload"),
        lit(null).cast("string").as("payload_before"),
        col("src"), col("key").as("seq"))
      .unionByName(dimChanges())
    val twin = CdcQualityKeyed.maintain(asChanges, 1, kSpec)
      .collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got == twin, s"got $got twin $twin")
    // the checks are load-bearing: unique and row checks genuinely 0,
    // the referential check genuinely violated
    assert(got("doc_last_unique") == (0L, true))
    assert(got("doc_n_types_mismatch") == (0L, true))
    assert(got("doc_last_eid_ref")._1 > 0L, got.toString)
    // fact-side replay under its own id: landed partition skipped,
    // gates drop everything
    CdcQualityDocBridge.applyDeferredJsonWithQuality(
      chunks.last.toIndexedSeq.toDF(), "props", docs, land, qual, kSpec,
      (chunks.size - 1).toLong)
    assert(report(qual) == got)
    // fact-side replay under a NEW id: doc gates eat every event,
    // empty pairs land an empty batch
    CdcQualityDocBridge.applyDeferredJsonWithQuality(
      chunks.last.toIndexedSeq.toDF(), "props", docs, land, qual, kSpec,
      99L)
    assert(report(qual) == got)
    // dim-side replay: real wire seqs gate it out
    CdcQualityKeyed.applyBatch(dimChanges(), qual, kSpec)
    assert(report(qual) == got)
  }
}
