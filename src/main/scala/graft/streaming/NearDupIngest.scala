package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Kernels
import graft.sim.DedupOps

/** Streaming near-duplicate INGEST ([EXT] X1 × St2): the online form of
  * the MinHash-LSH batch dedup — each arriving document is judged
  * against everything already ingested, emitting
  * `(doc_id, is_dup, dup_of)` per micro-batch.
  *
  * Decision rule (identical in the stream and the batch twin): a doc is
  * a duplicate iff some EARLIER doc shares ≥1 LSH band AND the
  * signature-estimated Jaccard (fraction of equal MinHash components —
  * each matches with probability J) is ≥ `threshold`; `dup_of` is the
  * smallest such doc id. Signatures are the portable md5-derived kind
  * ([[graft.sim.PortableHash]]), so the batch twin is DuckDB-oracled and
  * the stream is pinned to the twin in ScalaTest.
  *
  * Scale shape: state is ONLY signatures+band keys (k longs per doc —
  * never text or shingles), laid out as a bucket-partitioned parquet
  * table (each partial's `bucket=B/` sub-dirs). A micro-batch prunes its state read
  * to the buckets its own band keys hash into — apply cost follows the
  * batch's key spread, not corpus size — and candidate joins are band
  * equi-joins, never all-pairs. Both the state and the verdicts land
  * through [[PartialState.land]], so foreachBatch replays
  * (at-least-once) are idempotent.
  */
object NearDupIngest {

  val StateBuckets = 64

  /** Per-doc portable MinHash signature as one array column. */
  def sigTable(docs: DataFrame, textCol: String, idCol: String,
               n: Int, k: Int): DataFrame =
    DedupOps.shingleArrays(docs, textCol, idCol, n)
      .select(col(idCol).as("doc_id"),
        Kernels.minhashPortableCol(col("sh"), k).as("sig"))

  /** Explode a signature table into band rows `(doc_id, sig, band, bh,
    * bucket)` — `bh` is the band's raw component values (the join key),
    * `bucket` its stable partition-pruning bucket. Band layout comes
    * from [[DedupOps.bandStructs]] — the same single source of truth the
    * batch candidates and the generated DuckDB band predicate use.
    */
  def bandRows(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val bandCols = DedupOps.bandStructs(i => col("sig").getItem(i), k, bands,
      portable = true)
    sigs.select(col("doc_id"), col("sig"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("sig"),
        col("b.band").as("band"), col("b.bh").as("bh"))
      .withColumn("bucket",
        pmod(xxhash64(col("band"), col("bh")), lit(StateBuckets)).cast("int"))
  }

  /** Candidate pairs between two band-row sets: band equi-join, then the
    * signature-match estimate. One row per (a_id, b_id) — a pair sharing
    * several bands is counted once. `ordered = true` (for self-joins)
    * keeps only a_id < b_id, BEFORE the estimate projection and the pair
    * dedup shuffle — half the orientations never cost anything.
    */
  private[graft] def estPairs(a: DataFrame, b: DataFrame,
                              ordered: Boolean = false): DataFrame =
    a.select(col("band"), col("bh"), col("doc_id").as("a_id"),
        col("sig").as("a_sig"))
      .join(b.select(col("band"), col("bh"), col("doc_id").as("b_id"),
        col("sig").as("b_sig")), Seq("band", "bh"))
      .filter(if (ordered) col("a_id") < col("b_id")
              else col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        Kernels.sigEqFracCol(col("a_sig"), col("b_sig")).as("est"))
      .dropDuplicates("a_id", "b_id")

  /** Per-doc verdict from est-filtered pairs: one row per id in `ids`
    * (docs too short to shingle are trivially novel — every arriving doc
    * gets a verdict), `is_dup` 0/1, `dup_of` the min matching earlier id
    * (−1 sentinel when novel — the reference's IFNULL convention, and it
    * keeps the column non-null for the oracle).
    */
  private def verdicts(ids: DataFrame, pairs: DataFrame,
                       threshold: Double): DataFrame = {
    val dups = pairs.filter(col("est") >= threshold)
      .groupBy(col("b_id").as("doc_id"))
      .agg(min(col("a_id")).as("dup_match"))
    ids.join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dup_match").isNotNull, 1L).otherwise(0L).as("is_dup"),
        coalesce(col("dup_match"), lit(-1L)).as("dup_of"))
  }

  /** Deterministic batch twin: the whole corpus in one "batch", earlier =
    * smaller doc id. This is the form the DuckDB oracle checks; the
    * streaming path equals it whenever arrival order follows doc id.
    */
  def batchTwin(docs: DataFrame, textCol: String = "text",
                idCol: String = "doc_id", n: Int = 3, k: Int = 16,
                bands: Int = 8, threshold: Double = 0.5): DataFrame = {
    val sigs = sigTable(docs, textCol, idCol, n, k)
    val br = bandRows(sigs, k, bands)
    verdicts(docs.select(col(idCol).as("doc_id")),
      estPairs(br, br, ordered = true), threshold)
      .orderBy("doc_id")
  }

  /** Bound the partial count: fold all but the newest partial into one
    * ([[PartialState.compact]]), keeping the `bucket=B` sub-dirs. Call
    * between runs (stream stopped).
    */
  def compactState(spark: org.apache.spark.sql.SparkSession,
                   stateDir: String): Unit =
    PartialState.compact(spark, stateDir, _.drop("batch_id"), Seq("bucket"))

  /** Start the streaming ingest: verdicts land as partial N of
    * `outDir`, signature state as partial N of `stateDir`, in `bucket=B`
    * sub-dirs ([[PartialState]]).
    */
  def start(docs: DataFrame, stateDir: String, outDir: String,
            checkpointDir: String, textCol: String = "text",
            idCol: String = "doc_id", n: Int = 3, k: Int = 16,
            bands: Int = 8, threshold: Double = 0.5): StreamingQuery =
    LocalCheckpointFileManager.writeStream(docs, checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val newBands = bandRows(sigTable(batch, textCol, idCol, n, k), k, bands)
          .persist()
        try {
          // bounded driver read: ≤ StateBuckets ints — which state
          // partitions this batch can possibly collide with
          val buckets = newBands.select("bucket").distinct()
            .collect().map(_.getInt(0)).toSeq
          // batch_id < batchId excludes THIS batch's own rows on a
          // replay; the bucket filter prunes directories, so the state
          // scan is proportional to the batch's key spread. The known
          // schema reads a missing state dir, or one of empty partials
          // only, as no rows.
          val prior = PartialState.read(spark, stateDir,
              Some(newBands.schema), Seq("bucket"))
            .filter(col("batch_id") < batchId && col("bucket").isin(buckets: _*))
            .select("doc_id", "sig", "band", "bh")
          val localPairs = estPairs(newBands, newBands, ordered = true)
          val out = verdicts(
            batch.select(col(idCol).as("doc_id")).distinct(),
            estPairs(prior, newBands).unionByName(localPairs), threshold)
          PartialState.land(out, outDir, batchId)
          PartialState.land(newBands, stateDir, batchId, Seq("bucket"))
        } finally { newBands.unpersist(); () }
      }
      .start()
}
