package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sim.KMeansExact

/** Streaming k-means cluster profiles ([EXT] X2 × St2): accumulate
  * per-cluster per-dimension assignment sums over an unbounded
  * embedding stream, against FIXED reference centroids.
  *
  * Why fixed centroids: a streaming Lloyd that re-centers inside the
  * stream makes every row's assignment depend on arrival order — not
  * replayable, not oracle-checkable, and not what production mini-batch
  * pipelines do either (they assign against a periodically-published
  * model). Here the model is pinned per run; [[recenter]] computes the
  * next model from the accumulated profile BETWEEN runs (one exact
  * Lloyd step — KMeansExact's integer contract, so re-centering off
  * the streamed state equals re-centering off the corpus bit-for-bit).
  *
  * Mergeability: assignment under fixed centroids is per-row, so the
  * (cluster, d) sums/counts of a concatenated corpus are the cell-wise
  * sums of per-batch partials — the CM-sketch property with k×dim
  * cells. State is one ≤ k×dim-row [[PartialState]] partial per
  * micro-batch. At 100 TB only the per-batch assignment
  * pass sees data volume — map-only, centroid literals in the plan —
  * and it aggregates onto k×dim keys map-side.
  */
object ClusterProfileIngest {

  val K = 8

  /** Per-batch partial profile `(cluster, d, s, n)` under `cents` —
    * the mergeable unit, ≤ k×dim rows regardless of batch size.
    */
  def profileRows(vectors: DataFrame, cents: Array[Long],
                  k: Int = K): DataFrame =
    KMeansExact.assign(KMeansExact.quantized(vectors), cents, k)
      .select(col("cluster"), posexplode(col("qv")).as(Seq("d", "v")))
      .groupBy(col("cluster").cast("long").as("cluster"),
        col("d").cast("long").as("d"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))

  /** Cell-wise sums of partials. */
  private def merge(partials: DataFrame): DataFrame =
    partials.groupBy("cluster", "d")
      .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))

  /** The accumulated profile: cell-wise sums over every batch partial. */
  def profile(spark: SparkSession, stateDir: String): DataFrame =
    merge(PartialState.read(spark, stateDir)).orderBy("cluster", "d")

  /** One exact Lloyd recenter off the streamed profile: next centroid
    * = `s div n` per (cluster, d), toward-zero; clusters that saw no
    * member keep their previous centroid. Equals the recenter step of
    * [[KMeansExact.fit]] over the concatenated corpus, bit-for-bit.
    */
  def recenter(spark: SparkSession, stateDir: String, cents: Array[Long],
               k: Int = K): Array[Long] = {
    val dim = cents.length / k
    val next = cents.clone()
    profile(spark, stateDir).collect().foreach { r =>
      next(r.getLong(0).toInt * dim + r.getLong(1).toInt) =
        r.getLong(2) / r.getLong(3)
    }
    next
  }

  /** Batch twin of the final streamed state (registered as
    * `st_kmeans_profile` with a DuckDB oracle replaying the seed
    * assignment and the per-cell integer sums).
    */
  def batchTwin(vectors: DataFrame, cents: Array[Long],
                k: Int = K): DataFrame =
    profileRows(vectors, cents, k).orderBy("cluster", "d")

  /** Start the ingest: one partial profile per micro-batch. */
  def start(vectors: DataFrame, stateDir: String, checkpointDir: String,
            cents: Array[Long], k: Int = K): StreamingQuery =
    PartialState.stream(vectors, stateDir, checkpointDir)(
      profileRows(_, cents, k))

  /** Bound the partial count: sum all but the newest partial
    * ([[PartialState.compact]]). Call between runs (stream stopped).
    */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    PartialState.compact(spark, stateDir, merge)
}
