package graft.sync

/** Pure chunk-planning logic for PK-range partitioned table copies.
  *
  * Re-expresses the reference's per-table worker strategy
  * (mysql_to_clickhouse_sync.py:93-116, pagination variant
  * mysql_to_clickhouse_sync_pagination.py:117-153) as a side-effect-free
  * planning function, so the strategy selection and the chunk arithmetic
  * are unit/property-testable in isolation (SURVEY §2.11 O1, §4.1).
  *
  * Deliberate divergences from the reference (SURVEY §3.4):
  *   - intervals are ALWAYS half-open `[lo, hi)`. The reference's basic
  *     variant uses closed intervals with stride == batch
  *     (mysql_to_clickhouse_sync.py:44,109-112), which re-reads every
  *     boundary row — the duplicate-row bug its own pagination variant
  *     fixes (mysql_to_clickhouse_sync_pagination.py:44). Spark's JDBC
  *     partitioner is half-open too, so the semantics line up.
  *   - the no-PK fallback is a deterministic sort-keyed pagination, not
  *     the reference's ORDER-BY-less LIMIT/OFFSET scan
  *     (mysql_to_clickhouse_sync_pagination.py:68).
  */
object ChunkPlanner {

  /** `(0, 0)` is the reference's sentinel for "empty table or no
    * auto-increment PK" (`IFNULL(MIN/MAX(_rowid), 0)`,
    * mysql_to_clickhouse_sync.py:163; pagination.py:204).
    */
  val EmptySentinel: (Long, Long) = (0L, 0L)

  /** How a table should be copied. */
  sealed trait ScanStrategy

  /** min==max (and min != 0, pagination.py:119): one direct read. */
  case object SingleRow extends ScanStrategy

  /** Range-chunked scan over half-open `[lo, hi)` intervals on the PK. */
  final case class RangeChunks(chunks: Vector[(Long, Long)]) extends ScanStrategy

  /** row-count ≤ smallTableThreshold or no usable PK: one ordered
    * paginated scan (reference threshold 1000, sync.py:103 / pag.py:130).
    */
  case object Paginated extends ScanStrategy

  /** No usable PK but too many rows for one task: a parallel copy
    * split by range on an integer column (the JDBC copy prefers the
    * leading key column, so its index serves each range; the first
    * range also takes NULLs and both end ranges are open). `numSplits`
    * is the batch-sized count; the JDBC copy caps it by cores. The
    * reference pages a PK-less table single-threaded
    * (pagination.py:134-142); at 100 TB one task per big table is the
    * difference between a copy finishing and not.
    */
  final case class SyntheticSplit(numSplits: Int) extends ScanStrategy

  /** Nothing to copy (bounds sentinel on an empty table). */
  case object Empty extends ScanStrategy

  /** Half-open chunks `[lo, hi)` covering `[minId, maxId]` with stride
    * `batch`. Union of chunks == the full id range; chunks are disjoint
    * (property-tested — kills the closed-interval duplicate bug class).
    */
  def halfOpenChunks(minId: Long, maxId: Long, batch: Long): Vector[(Long, Long)] = {
    require(batch > 0, s"batch must be positive, got $batch")
    if (maxId < minId) Vector.empty
    else Iterator
      .iterate(minId)(_ + batch)
      .takeWhile(_ <= maxId)
      .map(lo => (lo, math.min(lo + batch, maxId + 1)))
      .toVector
  }

  /** The reference basic variant's CLOSED intervals with stride `batch`
    * (mysql_to_clickhouse_sync.py:44,109-112). Kept ONLY to document /
    * test the duplicate-boundary-row bug; never used by the engine.
    */
  def closedChunksReferenceBug(minId: Long, maxId: Long, batch: Long): Vector[(Long, Long)] = {
    require(batch > 0)
    if (maxId < minId) Vector.empty
    else Iterator
      .iterate(minId)(_ + batch)
      .takeWhile(_ <= maxId)
      .map(lo => (lo, math.min(lo + batch, maxId)))
      .toVector
  }

  /** Strategy selection — the reference's worker dispatch
    * (mysql_to_clickhouse_sync.py:95-106; pagination.py:119-133) as a
    * pure function of the bounds probe.
    *
    * @param bounds      `(min, max)` of the auto-inc PK, `(0,0)` sentinel
    * @param rowCount    real row count (the reference only ESTIMATES this
    *                    as `max-min+1`, sync.py:102 — we use the real one)
    * @param hasAutoInc  result of the PK introspection probe (S4,
    *                    pagination.py:52-62)
    */
  def plan(bounds: (Long, Long), rowCount: Long, hasAutoInc: Boolean,
           batch: Long, smallTableThreshold: Long = 1000L,
           maxPartitions: Int = 2048): ScanStrategy = {
    val (minId, maxId) = bounds
    if (rowCount == 0L) Empty
    else if (!hasAutoInc && rowCount <= smallTableThreshold) Paginated
    else if (!hasAutoInc)
      SyntheticSplit(numPartitions(rowCount, batch, maxPartitions))
    else if (minId == maxId && rowCount == 1L) SingleRow
    else if (rowCount <= smallTableThreshold) Paginated
    else RangeChunks(halfOpenChunks(minId, maxId, batch))
  }

  /** Number of Spark partitions for a chunked read, capped so tiny
    * batches don't explode the task count (at 100 TB the cap is what
    * keeps the scheduler sane; per-partition size is governed by
    * `maxPartitionBytes` for file sources / `batch` for JDBC).
    */
  def numPartitions(rowCount: Long, batch: Long, maxPartitions: Int = 2048): Int = {
    require(batch > 0)
    val n = (rowCount + batch - 1) / batch
    math.max(1, math.min(n, maxPartitions.toLong).toInt)
  }
}
