package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Kernels
import graft.sim.PortableHash.{P, permA, permB}

/** Streaming Count-Min sketch ingest ([EXT] X4 × St2): maintain a d×w
  * word-frequency sketch over an unbounded document stream.
  *
  * The property that makes this a STREAMING structure is mergeability:
  * cell-wise sums of per-batch partial sketches equal the sketch of the
  * concatenated corpus, exactly. So the state is one (j, b, cnt) partial
  * — at most d×w = 256 rows — per micro-batch in [[PartialState]], and
  * the live sketch is a sum over |cells|×|batches| rows, NEVER
  * corpus-scale.
  * At 100 TB the per-batch aggregation is the only stage that sees data
  * volume, and it map-side combines onto 256 keys.
  *
  * Hashing is the portable md5_48 + permutation family
  * ([[graft.sim.PortableHash]]), identical to the batch `x_cm_sketch`
  * query, so the final streamed state is DuckDB-oracle-checkable via the
  * registered batch twin (`st_cm_sketch`), and the stream is pinned to
  * that twin in ScalaTest.
  */
object CmSketchIngest {

  val D = 4
  val W = 64L

  /** Per-batch partial sketch: `(j, b, cnt)` cell counts of the batch's
    * word stream — the mergeable unit. Output is ≤ d×w rows regardless
    * of batch size.
    */
  def cellCounts(docs: DataFrame, textCol: String): DataFrame = {
    val hashed = docs
      .select(explode(graft.functions.TextFunctions.tokens(
        lower(col(textCol)))).as("w"))
      .select((Kernels.md5_48Col(col("w")) % P).as("h"))
    hashed
      .select(explode(array((0 until D).map { j =>
        struct(lit(j).cast("long").as("j"),
          (((lit(permA(j)) * col("h") + lit(permB(j))) % P) % W).as("b"))
      }: _*)).as("jb"))
      .select(col("jb.j").as("j"), col("jb.b").as("b"))
      .groupBy("j", "b").agg(count(lit(1)).as("cnt"))
  }

  /** Cell-wise sum of partials. */
  private def merge(partials: DataFrame): DataFrame =
    partials.groupBy("j", "b").agg(sum(col("cnt")).as("cnt"))

  /** The current sketch: cell-wise sum of every batch partial. */
  def sketch(spark: SparkSession, stateDir: String): DataFrame =
    merge(PartialState.read(spark, stateDir)).orderBy("j", "b")

  /** Bound the partial count: sum all but the newest partial
    * ([[PartialState.compact]]). Call between runs (stream stopped).
    */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    PartialState.compact(spark, stateDir, merge)

  /** Batch twin of the final streamed state: the sketch of the whole
    * corpus in one pass (registered as `st_cm_sketch` with a DuckDB
    * oracle replaying the identical hash arithmetic).
    */
  def batchTwin(docs: DataFrame, textCol: String = "text"): DataFrame =
    cellCounts(docs, textCol).orderBy("j", "b")

  /** Start the ingest: one partial sketch per micro-batch. */
  def start(docs: DataFrame, stateDir: String, checkpointDir: String,
            textCol: String = "text"): StreamingQuery =
    PartialState.stream(docs, stateDir, checkpointDir)(cellCounts(_, textCol))
}
