package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Kernels
import graft.sim.PortableHash.{P, permA, permB}

/** Streaming bloom-filter ingest ([EXT] X1 × St2): maintain a shingle-
  * membership bloom over an unbounded document stream — the incremental
  * form of the contamination/already-seen screen, where history is too
  * big to join but a bit table answers "probably seen" in one broadcast.
  *
  * Mergeability is even simpler than the CM sketch's: the bloom of a
  * concatenated corpus is the bitwise OR of the per-part blooms, i.e.
  * the DISTINCT union of their set-bit tables. So the state is one
  * `(bit)` [[PartialState]] partial — at most [[M]] rows — per
  * micro-batch, and the live bloom is a DISTINCT over ≤
  * |bits|×|batches| rows. At 100 TB only the per-batch shingle explode
  * sees data volume, and it aggregates onto ≤ M keys map-side.
  *
  * Hashing is the portable md5_48 + permutation family over the
  * kernel's distinct word 3-shingles, identical to the registered batch
  * twin (`st_bloom_ingest`), so the final streamed state is DuckDB-
  * oracle-checkable and the stream is pinned to the twin in ScalaTest.
  */
object BloomIngest {

  /** k: hashes per key; m: bloom width in bits. 2^17 bits at k=2 keeps
    * the fixture's history load around a third full — false positives
    * happen (and are replayed bit-for-bit by the oracle) without the
    * filter saturating.
    */
  val K = 2
  val M = 131072L

  /** Per-batch partial bloom: the DISTINCT set-bit ids of the batch's
    * shingle stream — the mergeable unit. Output ≤ [[M]] rows
    * regardless of batch size.
    */
  def bitRows(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(Kernels.shinglesCol(col(textCol), 3)).as("sh"))
      .select((Kernels.md5_48Col(col("sh")) % P).as("h"))
      .select(explode(array((0 until K).map { j =>
        (((lit(permA(j)) * col("h") + lit(permB(j))) % P) % M).as("bit")
      }: _*)).as("bit"))
      .distinct()

  /** DISTINCT union of partials. */
  private def merge(partials: DataFrame): DataFrame =
    partials.select("bit").distinct()

  /** The current bloom: DISTINCT over every batch partial. */
  def bloom(spark: SparkSession, stateDir: String): DataFrame =
    merge(PartialState.read(spark, stateDir)).orderBy("bit")

  /** Probe `docs` against the current bloom: per doc, its distinct
    * shingle count and how many of those shingles the bloom flags as
    * (probably) seen — a shingle is flagged ⟺ all [[K]] of its bits
    * are set. The bloom side is ≤ [[M]] rows → broadcast; no false
    * negatives by construction.
    */
  def probe(spark: SparkSession, stateDir: String, docs: DataFrame,
            textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val bits = broadcast(bloom(spark, stateDir))
    val probes = docs
      .select(col(idCol), explode(Kernels.shinglesCol(col(textCol), 3)).as("sh"))
      .select(col(idCol), (Kernels.md5_48Col(col("sh")) % P).as("h"))
      .distinct()
      .select(col(idCol), col("h"), explode(array((0 until K).map { j =>
        (((lit(permA(j)) * col("h") + lit(permB(j))) % P) % M).as("bit")
      }: _*)).as("bit"))
    probes.join(bits.withColumnRenamed("bit", "__set"),
        probes("bit") === col("__set"), "left")
      .groupBy(col(idCol), col("h"))
      .agg((count(col("__set")) === K).cast("long").as("flagged"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"), sum(col("flagged")).as("n_flagged"))
      .orderBy(idCol)
  }

  /** Batch twin of the final streamed state (registered as
    * `st_bloom_ingest` with a DuckDB oracle replaying the identical bit
    * arithmetic over the kernel's shingle semantics).
    */
  def batchTwin(docs: DataFrame, textCol: String = "text"): DataFrame =
    bitRows(docs, textCol).orderBy("bit")

  /** Start the ingest: one partial bloom per micro-batch. */
  def start(docs: DataFrame, stateDir: String, checkpointDir: String,
            textCol: String = "text"): StreamingQuery =
    PartialState.stream(docs, stateDir, checkpointDir)(bitRows(_, textCol))

  /** Bound the partial count: DISTINCT all but the newest partial
    * ([[PartialState.compact]]). Call between runs (stream stopped).
    */
  def compactState(spark: SparkSession, stateDir: String): Unit =
    PartialState.compact(spark, stateDir, merge)
}
