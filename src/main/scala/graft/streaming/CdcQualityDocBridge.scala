package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import CdcQualityKeyed.KeyedSpec

/** The FULL validate suite under PARTIAL-image wire modes — the
  * image-recovery bridge's third consumer, completing the family:
  * reconcile summaries (r13, [[ReconcileIngest]]), profiling (r14,
  * [[CdcProfileDocBridge]]), and now the keyed quality monitor.
  *
  * The uniqueness/referential/row-check algebra retracts before
  * images the MINIMAL / PARTIAL_JSON wire never carries; the bucketed
  * doc store recovers them, and each net (before, after) pair is one
  * synthetic insert/update over the parsed document — so the checks
  * run against DOCUMENT FIELDS (a field-level unique key, a field
  * referencing a dimension stream, row predicates over the folded
  * document), which is exactly the shape a doc-store table needs
  * validated. The dimension side needs no bridge: a full-image dim
  * stream applies directly through [[CdcQualityKeyed.applyDeltas]]
  * with its real seqs — the referential state's per-(key, stream)
  * gates keep the two seq domains (batch ids here, wire seqs there)
  * independent by construction.
  *
  * Exactly-once is [[CdcProfileDocBridge]]'s two-phase contract
  * verbatim: LAND the weighted deltas at most once per batch id
  * ([[PartialState.landOnce]], before-the-swap pairs), then APPLY from
  * the landed file with `seq = batchId` so the per-key gates converge
  * every crash point.
  */
object CdcQualityDocBridge {

  /** One micro-batch's net doc pairs through both phases into the
    * keyed monitor state. Safe to call again from any crash point; a
    * gate-eaten replay cannot shrink what applies (the landed file is
    * what applies). The landing records its own schema, so the spec's
    * key shapes (including struct keys) round-trip without a declared
    * read schema, and drops the older batches' entries, which only
    * their own applies read.
    */
  def applyDocPairsOnce(pairs: DataFrame, landDir: String,
                        stateDir: String, spec: KeyedSpec,
                        batchId: Long, numBuckets: Int = 16): Unit = {
    val spark = pairs.sparkSession
    PartialState.landOnce(CdcQualityKeyed.weightedDeltas(
        CdcProfileDocBridge.pairsToChanges(pairs, spec.factTable, batchId),
        spec), landDir, batchId, dropOlder = true)
    CdcQualityKeyed.applyDeltas(
      PartialState.readBatch(spark, landDir, batchId),
      stateDir, spec, numBuckets)
  }

  /** One micro-batch through the doc store AND the maintained quality
    * report: the deferred-JSON bucketed apply with its net-pair hook
    * wired to [[applyDocPairsOnce]]. After this,
    * [[CdcQualityKeyed.view]] of `qualityDir` equals running the full
    * check suite over the doc store's live documents directly.
    */
  def applyDeferredJsonWithQuality(batch: DataFrame, jsonField: String,
                                   docStateDir: String, landDir: String,
                                   qualityDir: String, spec: KeyedSpec,
                                   batchId: Long,
                                   docBuckets: Int = 64,
                                   qualityBuckets: Int = 16): Unit =
    CdcPipeline.applyDeferredJsonBucketed(batch, jsonField, docStateDir,
      docBuckets,
      onNetPairs = Some(applyDocPairsOnce(_, landDir, qualityDir, spec,
        batchId, qualityBuckets)))
}
