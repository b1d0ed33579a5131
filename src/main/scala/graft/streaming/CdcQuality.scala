package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous data-quality on a CDC stream (St2 × X5): keep a
  * constraint suite's violation counts correct over the LIVE table
  * without ever scanning it — the [[IvmIngest]] delta algebra applied
  * to [[graft.ops.TableStats.validate]]'s row-local checks. An insert
  * adds each check's 0/1 violation indicator for the new row, a
  * delete retracts the before image's indicators, an update
  * retracts-then-adds — so `Σ signed indicators` IS the live table's
  * violation count, maintained at O(changes) per refresh. The
  * reference's only way to re-validate a replicated table is another
  * full copy; at 100 TB this is the difference between a quality
  * gate per micro-batch and a quality gate per day.
  *
  * Indicators are exact 0/1 longs, so retraction cancels exactly (no
  * decimal machinery needed); a check whose predicate is NULL on a
  * row (SQL three-valued logic) contributes 0, same as `validate`'s
  * conditional-sum semantics. State shape follows [[IvmIngest]]:
  * per-batch [[PartialState]] partials of ≤ |checks| rows; the live
  * report merges |checks|×|batches| rows — never data volume.
  */
object CdcQuality {

  /** One row-local check over the decoded after/before payload
    * struct: name plus the violation predicate as a function of the
    * image struct column.
    */
  final case class QCheck(name: String, violation: Column => Column)

  /** The registered events-table suite (`st_cdc_quality`): a domain
    * check that genuinely fails on live data (the fixture's 'error'
    * events), a range check with live violations (values above 400),
    * and a null check that passes — so the report shows both
    * outcomes.
    */
  val eventsChecks: Seq[QCheck] = Seq(
    QCheck("event_type_domain", c => !c.getField("event_type")
      .isin("click", "view", "purchase", "signup")),
    QCheck("value_in_range", c =>
      c.getField("value") < 0.0 || c.getField("value") > 400.0),
    QCheck("value_not_null", c => c.getField("value").isNull))

  /** Signed per-check indicator deltas for one change batch. Input
    * needs `op`, `payload`, `payload_before` (the binlog source's
    * shape); payloads decode with `schema` (defaulting to the events
    * table's [[IvmIngest.payloadSchema]] — pass the right schema for
    * any other monitored table, e.g. [[CdcQualityKeyed]]'s fact).
    */
  def indicatorDeltas(changes: DataFrame, checks: Seq[QCheck],
      schema: org.apache.spark.sql.types.StructType = IvmIngest.payloadSchema)
      : DataFrame = {
    val ev = changes.select(col("op"),
      from_json(col("payload"), schema).as("a"),
      from_json(col("payload_before"), schema).as("b"))
    def img(c: Column, sign: Long): Column = struct(checks.map(k =>
      (lit(sign) * when(k.violation(c), 1L).otherwise(0L)).as(k.name)): _*)
    val add = img(col("a"), 1L); val retract = img(col("b"), -1L)
    val rows = ev.select(explode(
        when(col("op") === "insert", array(add))
          .when(col("op") === "update", array(retract, add))
          .otherwise(array(retract))).as("d"))
    // one output row per (change image, check): unpivot the struct
    rows.select(explode(array(checks.map(k =>
        struct(lit(k.name).as("check_name"), col(s"d.${k.name}").as("dvi")))
        : _*)).as("p"))
      .select(col("p.check_name"), col("p.dvi"))
  }

  /** Per-check sums of indicator deltas or of partials. */
  private def merge(rows: DataFrame): DataFrame =
    rows.groupBy("check_name").agg(sum(col("dvi")).as("dvi"))

  /** Per-batch partial: ≤ |checks| rows regardless of batch size. */
  def partial(changes: DataFrame, checks: Seq[QCheck],
      schema: org.apache.spark.sql.types.StructType = IvmIngest.payloadSchema)
      : DataFrame =
    merge(indicatorDeltas(changes, checks, schema))

  /** Start the monitor over a stream of change rows. */
  def start(changes: DataFrame, checks: Seq[QCheck], stateDir: String,
      checkpointDir: String): StreamingQuery =
    PartialState.stream(changes, stateDir, checkpointDir)(partial(_, checks))

  /** The live quality report at the current stream position. TOTAL
    * from batch zero: the report is seeded with the check list and the
    * state partials left-join onto it, so before the first batch lands
    * (no state dir yet) every check reads `violations = 0`, and a check
    * absent from every partial still surfaces — a dashboard that
    * silently drops rows is how a failing check goes unread.
    */
  def view(spark: SparkSession, stateDir: String,
           checks: Seq[QCheck]): DataFrame = {
    require(checks.nonEmpty, "quality view of zero checks")
    import spark.implicits._
    val seed = checks.map(_.name).toDF("check_name")
    val partials = merge(PartialState.read(spark, stateDir,
      Some(org.apache.spark.sql.types.StructType.fromDDL(
        "check_name string, dvi long"))))
    report(seed.join(partials, Seq("check_name"), "left")
      .select(col("check_name"), coalesce(col("dvi"), lit(0L)).as("violations")))
  }

  /** One-pass batch twin over the full change set — what the stream's
    * merged state must equal exactly (spec-pinned; oracled as
    * `st_cdc_quality`).
    */
  def batchTwin(changes: DataFrame, checks: Seq[QCheck]): DataFrame =
    report(partial(changes, checks)
      .select(col("check_name"), col("dvi").as("violations")))

  private def report(counts: DataFrame): DataFrame =
    counts.select(col("check_name"), col("violations"),
      (col("violations") === 0L).as("passed"))
      .orderBy("check_name")
}
