package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming KS drift ([EXT] X4 × St2): maintain per-source binned
  * value histograms over an unbounded document stream and read the
  * pairwise two-sample Kolmogorov–Smirnov statistic off that state at
  * any micro-batch boundary — the "is source B drifting away from
  * source A?" alarm, continuously.
  *
  * The KS statistic itself is NOT mergeable (a max over CDF gaps), but
  * the binned histogram under it IS: cell-wise sums of per-batch
  * `(source, bkt, c)` partials equal the histogram of the concatenated
  * stream exactly. So — exactly like [[CmSketchIngest]] — the state is
  * one [[PartialState]] partial per micro-batch (≤ |sources|×|bins|
  * rows each, never corpus-scale), and the drift read is a groupBy over
  * |cells|×|batches| rows. At 100 TB only the per-batch aggregation
  * sees data volume, and it map-side combines onto the cell grid.
  *
  * The KS arithmetic is identical to the batch `x_ks_drift` query
  * (ExtQueries): exact integer cross-multiplied CDF numerators riding
  * DECIMAL(38,0) — `ks = ks_num / (n_a*n_b)` — surfaced as a
  * correctly-rounded double (see [[ksPairs]]), so the streamed state is
  * DuckDB-oracle-checkable via the registered batch twin
  * (`st_ks_drift`) and the stream is pinned to that twin in ScalaTest.
  *
  * Reference tie-in: the reference's sync loop re-copies whole tables
  * blind (mysql_to_clickhouse_sync.py:185-200); a drift gate over the
  * same stream is the minimal statistical guard a production pipeline
  * puts in front of that copy.
  */
object KsDriftIngest {

  /** Per-batch partial: binned per-source value counts — the mergeable
    * unit. Output is ≤ |sources|×|bins| rows regardless of batch size.
    */
  def cellCounts(docs: DataFrame, sourceCol: String = "source",
                 valueCol: String = "n_chars"): DataFrame =
    docs.groupBy(col(sourceCol).as("source"),
        col(valueCol).cast("long").as("bkt"))
      .agg(count(lit(1)).as("c"))

  /** Start the ingest: one histogram partial per micro-batch. */
  def start(docs: DataFrame, stateDir: String, checkpointDir: String,
            sourceCol: String = "source",
            valueCol: String = "n_chars"): StreamingQuery =
    PartialState.stream(docs, stateDir, checkpointDir)(
      cellCounts(_, sourceCol, valueCol))

  /** Cell-wise sum of histogram partials. */
  private def merge(partials: DataFrame): DataFrame =
    partials.groupBy("source", "bkt").agg(sum(col("c")).as("c"))

  /** The live merged histogram: cell-wise sum of every batch partial. */
  def histogram(spark: SparkSession, stateDir: String): DataFrame =
    merge(PartialState.read(spark, stateDir))

  /** Bound the partial count: sum all but the newest partial
    * ([[PartialState.compact]]). Call between runs (stream stopped).
    */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    PartialState.compact(spark, stateDir, merge)

  /** Pairwise two-sample KS over a `(source, bkt, c)` histogram — the
    * drift read, computable at any micro-batch boundary from state
    * alone. Identical arithmetic to the batch `x_ks_drift` query: the
    * CDF grid is the union of observed bins (a source absent from a bin
    * contributes its running cumulative), and the statistic's numerator
    * `max |cum_a*n_b - cum_b*n_a|` stays in exact integers
    * (DECIMAL(38,0) products — cum*n exceeds int64 past ~3e9 docs).
    * The max SURFACES as DOUBLE, never an integral cast: a BIGINT cast
    * of the decimal would silently wrap (non-ANSI) once the numerator
    * itself passes ~9.2e18, corrupting the statistic at exactly the
    * scale the decimal arithmetic exists for. The decimal→double
    * conversion is correctly rounded and engine-portable (exact below
    * 2^53; ~15 significant digits above — far more than the KS ratio
    * needs). Everything here is |sources|²×|bins|-scale, never
    * corpus-scale.
    */
  def ksPairs(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sg = hist.select("source").distinct()
      .crossJoin(hist.select("bkt").distinct())
      .join(hist, Seq("source", "bkt"), "left")
      .na.fill(0L, Seq("c"))
    val w = Window.partitionBy("source").orderBy("bkt")
    val cdf = sg.withColumn("cum", sum(col("c")).over(w))
    val tot = hist.groupBy("source").agg(sum(col("c")).as("n"))
    val a = cdf.join(tot, "source").select(col("source").as("src_a"),
      col("bkt"), col("cum").as("cum_a"), col("n").as("n_a"))
    val b = cdf.join(tot, "source").select(col("source").as("src_b"),
      col("bkt"), col("cum").as("cum_b"), col("n").as("n_b"))
    a.join(b, "bkt").filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        abs(col("cum_a").cast("decimal(38,0)") * col("n_b") -
            col("cum_b").cast("decimal(38,0)") * col("n_a")).as("diff"))
      .groupBy("src_a", "src_b", "n_a", "n_b")
      .agg(max(col("diff")).cast("double").as("ks_num"))
      .orderBy("src_a", "src_b")
  }

  /** Drift read off the streamed state. */
  def drift(spark: SparkSession, stateDir: String): DataFrame =
    ksPairs(histogram(spark, stateDir))

  /** Batch twin of the drift read: the same KS pairs computed from the
    * whole corpus in one pass (registered as `st_ks_drift` with the
    * `x_ks_drift` DuckDB oracle — bins on `n_chars` are the identity,
    * so the binned statistic IS the exact statistic there).
    */
  def batchTwin(docs: DataFrame, sourceCol: String = "source",
                valueCol: String = "n_chars"): DataFrame =
    ksPairs(cellCounts(docs, sourceCol, valueCol))
}
