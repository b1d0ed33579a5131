package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import CdcProfile.ProfileSpec

/** Continuous PROFILING under PARTIAL-image wire modes — the
  * image-recovery bridge ([[ReconcileIngest]]'s reconcile-summary
  * pattern) applied to the profile algebra.
  *
  * The profile's retract-then-add algebra needs full before images,
  * which `binlog_row_image=MINIMAL` / `PARTIAL_JSON` streams never
  * carry. The bucketed doc store
  * ([[CdcPipeline.applyDeferredJsonBucketed]]) RECOVERS them: its
  * merge emits, per touched key, the stored document (the true
  * before) and the folded result (the true after) — and a net
  * (before, after) pair is exactly one synthetic insert/update for
  * [[CdcProfile.weightedDeltas]] (the store never deletes, so no
  * delete case arises).
  *
  * Exactly-once across the two states is a TWO-PHASE contract, one
  * notch stricter than the reconcile summary's because the profile
  * state is bucket-swapped, not batch-partitioned:
  *
  *   1. LAND the batch's weighted deltas at most once per batch id
  *      ([[PartialState.landOnce]], as the reconcile summary does):
  *      the pairs are emitted BEFORE the doc store's bucket swaps, so
  *      a replay after a mid-swap crash — whose recomputed pairs are
  *      a gate-eaten SUBSET — must not shrink what gets applied. The
  *      landed file is the durable full-batch record.
  *   2. APPLY from the LANDED file with `seq = batchId` on every
  *      delta: the profile state's per-(column, value) seq gates then
  *      make the apply idempotent bucket by bucket — a crash between
  *      land and apply, or mid-apply between bucket swaps, heals on
  *      replay because already-swapped buckets gate the batch out
  *      (last_seq = batchId) while missed buckets still admit it.
  *
  * Driven against the RANGE-bucketed profile state
  * ([[CdcProfileRanged]], the production layout) so the full panel —
  * counts, NDV, min/max, exact quantiles, histograms — stays
  * summaries-plus-touched-buckets readable even though the wire never
  * carried a before image.
  */
object CdcProfileDocBridge {

  /** Net per-key (src, key, before, after) document pairs rendered as
    * the synthetic change rows the profile algebra consumes: a pair
    * with no before is the key's first document (insert); otherwise an
    * update retracting the recovered before. `seq` rides the batch id
    * — the whole batch is one gate generation (see the two-phase
    * contract above).
    */
  def pairsToChanges(pairs: DataFrame, table: String,
                     batchId: Long): DataFrame =
    pairs.select(lit(table).as("table"),
      when(col("before").isNull, lit(ChangeEvent.Insert))
        .otherwise(lit(ChangeEvent.Update)).as("op"),
      col("after").as("payload"),
      col("before").as("payload_before"),
      col("src"), lit(batchId).as("seq"))

  /** Phase 1: land the batch's weighted deltas AT MOST ONCE per batch
    * id ([[PartialState.landOnce]]); only this batch's apply reads them,
    * so the landing drops the older batches' entries.
    */
  private[streaming] def landOnce(pairs: DataFrame, landDir: String,
                       spec: ProfileSpec, batchId: Long): Unit =
    PartialState.landOnce(CdcProfile.weightedDeltas(
      pairsToChanges(pairs, spec.table, batchId), spec), landDir, batchId,
      dropOlder = true)

  /** One micro-batch's net doc pairs through both phases: land once,
    * then apply the LANDED deltas to the range-bucketed profile state
    * (idempotent via the batch-id seq gates). Safe to call again from
    * any crash point.
    */
  def applyDocPairsOnce(pairs: DataFrame, landDir: String,
                        stateDir: String, spec: ProfileSpec,
                        batchId: Long, numBuckets: Int = 16): Unit = {
    val spark = pairs.sparkSession
    landOnce(pairs, landDir, spec, batchId)
    val landed = PartialState.readBatch(spark, landDir, batchId,
      Some(org.apache.spark.sql.types.StructType.fromDDL(
        "src string, seq long, c string, v string, w long")))
    CdcProfileRanged.applyDeltas(landed, stateDir, spec, numBuckets)
  }

  /** One micro-batch through the doc store AND the maintained profile:
    * the deferred-JSON bucketed apply with its net-pair hook wired to
    * [[applyDocPairsOnce]]. After this,
    * [[CdcProfileRanged.profileView]] of `profileDir` equals profiling
    * the doc store's live documents directly — the continuous profile
    * of a table whose wire carries no before images.
    */
  def applyDeferredJsonWithProfile(batch: DataFrame, jsonField: String,
                                   docStateDir: String, landDir: String,
                                   profileDir: String, spec: ProfileSpec,
                                   batchId: Long,
                                   docBuckets: Int = 64,
                                   profileBuckets: Int = 16): Unit =
    CdcPipeline.applyDeferredJsonBucketed(batch, jsonField, docStateDir,
      docBuckets,
      onNetPairs = Some(applyDocPairsOnce(_, landDir, profileDir, spec,
        batchId, profileBuckets)))
}
