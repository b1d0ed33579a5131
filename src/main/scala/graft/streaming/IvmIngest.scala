package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** Streaming incremental view maintenance (St2 × §2.4): keep a grouped
  * aggregate continuously correct over an unbounded CDC stream by
  * applying DELTAS — insert adds a row's contribution, delete retracts
  * the before image's, update retracts-then-adds — without ever
  * touching the base table. The micro-batch twin of the oracled
  * `st_cdc_ivm` query, reading the binlog source's `payload` /
  * `payload_before` columns.
  *
  * State shape follows [[CmSketchIngest]]/[[KsDriftIngest]]: the delta
  * aggregate is MERGEABLE (sums of signed counts and signed exact
  * decimals), so each micro-batch lands one [[PartialState]] partial
  * of ≤ |groups| rows, and the live view is a groupBy over
  * |groups|×|batches| partial rows.
  * Retractions ride DECIMAL(28,6), so a row added in batch 3 and
  * retracted in batch 9 cancels BIT-EXACTLY regardless of merge order —
  * the property double sums cannot promise and IVM cannot live without.
  *
  * Reference tie-in: the reference re-copies whole tables to refresh
  * any downstream aggregate (sync.py:185-200, the snapshot loop); this
  * operator is the O(changes) alternative a 100 TB deployment needs —
  * per batch it does work proportional to the CHANGES, never the table.
  */
object IvmIngest {

  /** The events-table payload schema both JSON images decode with. */
  val payloadSchema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("event_id", LongType),
    StructField("ts", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(28,6)")

  /** Signed delta rows for one change batch: `(et, dc, dv)` per image
    * touched. Input needs `op`, `payload`, `payload_before` columns
    * (the binlog source's shape).
    */
  def deltas(changes: DataFrame): DataFrame = {
    val ev = changes.select(col("op"),
      from_json(col("payload"), payloadSchema).as("a"),
      from_json(col("payload_before"), payloadSchema).as("b"))
    val add = struct(col("a.event_type").as("et"), lit(1L).as("dc"),
      dec(col("a.value")).as("dv"))
    val retract = struct(col("b.event_type").as("et"), lit(-1L).as("dc"),
      (-dec(col("b.value"))).as("dv"))
    ev.select(explode(
        when(col("op") === "insert", array(add))
          .when(col("op") === "update", array(retract, add))
          .otherwise(array(retract))).as("d"))
      .select(col("d.et").as("event_type"), col("d.dc"), col("d.dv"))
  }

  /** Per-group sums of delta rows or of partials — the one merge. */
  private def merge(rows: DataFrame): DataFrame =
    rows.groupBy("event_type")
      .agg(sum(col("dc")).as("dc"), sum(col("dv")).as("dv"))

  /** Per-batch partial: the delta aggregate, ≤ |groups| rows no matter
    * how large the batch (map-side combined onto the group grid).
    */
  def partial(changes: DataFrame): DataFrame = merge(deltas(changes))

  /** Start the ingest over a stream of change rows. */
  def start(changes: DataFrame, stateDir: String,
            checkpointDir: String): StreamingQuery =
    PartialState.stream(changes, stateDir, checkpointDir)(partial)

  /** Bound the partial count: sum all but the newest partial
    * ([[PartialState.compact]]). Call between runs (stream stopped).
    */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    PartialState.compact(spark, stateDir, merge)

  /** The maintained view at the current stream position: merge all
    * batch partials, drop groups whose rows have all been retracted.
    * |groups|×|batches| input rows — never the data volume.
    */
  def view(spark: SparkSession, stateDir: String): DataFrame =
    report(merge(PartialState.read(spark, stateDir)))

  /** One-pass batch twin over the full change set — what the stream's
    * merged state must equal exactly (pinned in StreamingSpec and
    * oracled as `st_cdc_ivm`).
    */
  def batchTwin(changes: DataFrame): DataFrame = report(partial(changes))

  private def report(merged: DataFrame): DataFrame =
    merged.select(col("event_type"), col("dc").as("n_rows"),
        col("dv").cast("double").as("sum_value"))
      .filter(col("n_rows") > 0)
}
