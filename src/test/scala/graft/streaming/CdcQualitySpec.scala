package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The continuous quality monitor: signed 0/1 indicator deltas must
  * reproduce the live table's violation counts exactly — streamed in
  * batches, equal to the one-pass twin, equal to direct evaluation on
  * the replayed live state.
  */
class CdcQualitySpec extends SparkSpec {
  import spark.implicits._

  private def pay(id: Long, typ: String, v: java.lang.Double): String = {
    val vs = if (v == null) "null" else v.toString
    s"""{"user_id":${id % 7},"event_id":$id,"ts":$id,"event_type":"$typ","value":$vs,"props":"{}"}"""
  }

  test("hand-built change set: inserts, violating update, retracting delete") {
    val changes = Seq(
      ChangeRow("insert", pay(1, "click", 10.0), null),
      ChangeRow("insert", pay(2, "error", 500.0), null),  // 2 violations
      ChangeRow("insert", pay(3, "view", null), null),    // null value
      // fix the null, introduce a range violation
      ChangeRow("update", pay(3, "view", 450.0), pay(3, "view", null)),
      // delete the doubly-violating row entirely
      ChangeRow("delete", null, pay(2, "error", 500.0)))
    val out = CdcQuality.batchTwin(changes.toDF(),
      CdcQuality.eventsChecks).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // live rows: (1 click 10.0), (3 view 450.0)
    assert(out("event_type_domain") == (0L, true))
    assert(out("value_in_range") == (1L, false))
    assert(out("value_not_null") == (0L, true))
  }

  test("streamed batches merge to the batch twin over the binlog fixture") {
    implicit val ctx = spark.sqlContext
    val binDir = MysqlBinlogFixture.encodeEventsConsistent(spark, sf)
    val raw = spark.read
      .format(classOf[MysqlBinlogSourceProvider].getName)
      .option("path", binDir).load()
      .filter(col("table") === "events")
    val changes = raw.select("op", "payload", "payload_before", "seq")
      .orderBy("seq").collect()
      .map(r => ChangeRow(r.getString(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2)))
    val chunks = changes.grouped((changes.length + 2) / 3).toSeq
    val dir = java.nio.file.Files.createTempDirectory("cdc_quality_").toString
    val input = MemoryStream[ChangeRow]
    val q = CdcQuality.start(input.toDF(), CdcQuality.eventsChecks,
      s"$dir/state", s"$dir/ckpt")
    try {
      chunks.foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
      val streamed = CdcQuality
        .view(spark, s"$dir/state", CdcQuality.eventsChecks).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
      val twin = CdcQuality.batchTwin(raw, CdcQuality.eventsChecks)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(streamed == twin)
      // the IVM identity: delta-derived == live-state-derived
      val pSchema = IvmIngest.payloadSchema
      val live = raw
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("src"), col("key"))
            .orderBy(col("seq").desc)))
        .filter(col("rn") === 1 && col("op") =!= "delete")
        .select(from_json(col("payload"), pSchema).as("a"))
      val direct = CdcQuality.eventsChecks.map { k =>
        (k.name, live.filter(k.violation(col("a"))).count())
      }.toMap
      assert(twin.map(t => t._1 -> t._2).toMap == direct)
      // state stays checks-sized per batch
      val state = PartialState.read(spark, s"$dir/state")
      assert(state.groupBy("batch_id").count()
        .filter(col("count") > CdcQuality.eventsChecks.size).count() == 0)
    } finally q.stop()
  }

  test("view is total from batch zero: no state dir yet reads all-zero") {
    val dir = java.nio.file.Files.createTempDirectory("cdc_q0_").toString
    val out = CdcQuality.view(spark, s"$dir/never_written",
      CdcQuality.eventsChecks).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq ==
      CdcQuality.eventsChecks.map(_.name).sorted.map(n => (n, 0L, true)))
  }
}
