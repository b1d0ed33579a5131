package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import BucketStore.Manifest

/** The one partial-state protocol: a state dir holding one partial per
  * micro-batch, merged at read time. Every per-batch monitor
  * ([[CmSketchIngest]], [[BloomIngest]], [[KsDriftIngest]],
  * [[ClusterProfileIngest]], [[IvmIngest]], [[NearDupIngest]],
  * [[CdcQuality]], [[ReconcileIngest]]) and both doc bridges' landing
  * dirs use it. A partial is one entry of the state's version log
  * ([[BucketStore]]'s contract), keyed by `batch_id`: its own leaf dir
  * `_v<v>_<id>/batch_id=N/`, so an empty partial still leaves a
  * schema-only file, and every operation below is ONE commit. Readers
  * see `batch_id` as a column. Exactly-once follows the offset-log
  * argument: the engine replays at most the newest batch, and every
  * write here is idempotent or at-most-once per batch id.
  *
  *   - [[land]] commits entry N, replacing a landed one, so a replay
  *     rebuilds exactly that partial.
  *   - [[landOnce]] is a no-op when entry N is listed, else one commit
  *     adding it; a landed partial is never rewritten, because a replay
  *     may recompute a smaller one. A landing dir whose partial only its
  *     own batch reads (the doc bridges') drops the older entries in the
  *     same commit, so its log stays one entry long.
  *   - [[compact]] commits one version in which every entry but the
  *     newest is replaced by their merge at the second-newest id. Why
  *     the second-newest: only the newest partial can be replayed (batch
  *     N starts only after N−1's checkpoint committed), and a replay
  *     both reads `batch_id < N` and replaces its own entry, so folding
  *     anything into N would hide it from the replay and let the replay
  *     destroy it. Entries below N are committed, so N−1 is always safe.
  *
  * Compaction runs on a stopped stream or on the stream's own thread (as
  * [[ReconcileIngest.start]] does); a compaction racing a landing
  * refuses with "is at version N", and a reader sees either version.
  */
object PartialState {

  private val BatchCol = StructField("batch_id", LongType)

  /** Land one batch's partial, replay-idempotently. `subDirs` partition
    * the partial inside its entry by integer columns (NearDup's
    * `bucket=B`).
    */
  def land(partial: DataFrame, stateDir: String, batchId: Long,
           subDirs: Seq[String] = Nil): Unit = {
    val spark = partial.sparkSession
    commit(spark, stateDir, BucketStore.current(spark, stateDir), partial,
      batchId, subDirs, _ == batchId,
      m => m.copy(schema = m.schema.orElse(Some(partial.schema))))
  }

  /** Land one batch's partial AT MOST ONCE: if entry N is listed the
    * call is a no-op, else one commit adds it, so the partial is either
    * landed complete or not at all. A writer that loses the create to
    * another landing of N returns quietly. An empty partial lands too,
    * so a later replay cannot land a subset. With `dropOlder` the commit
    * also drops every entry below N: only batch N can be replayed, and
    * its entry stays.
    */
  def landOnce(partial: DataFrame, stateDir: String, batchId: Long,
               dropOlder: Boolean = false): Unit = {
    val spark = partial.sparkSession
    def landed(m: Option[Manifest]) = m.exists(_.live.contains(batchId))
    val base = BucketStore.current(spark, stateDir)
    if (landed(base)) return
    try commit(spark, stateDir, base, partial, batchId, Nil,
      id => dropOlder && id < batchId,
      m => m.copy(schema = m.schema.orElse(Some(partial.schema))))
    catch {
      case _: BucketStore.Superseded
        if landed(BucketStore.current(spark, stateDir)) => ()
    }
  }

  private def commit(spark: SparkSession, stateDir: String,
                     base: Option[Manifest], partial: DataFrame, batchId: Long,
                     subDirs: Seq[String], drops: Long => Boolean,
                     meta: Manifest => Manifest): Unit = {
    BucketStore.commit(spark, stateDir, base, drops, meta) { out =>
      partial.write.partitionBy(subDirs: _*).parquet(s"$out/batch_id=$batchId")
      Map(batchId -> s"batch_id=$batchId")
    }
    ()
  }

  /** One partial per micro-batch of `input`, landed with [[land]];
    * `after` runs once the batch's partial has landed.
    */
  def stream(input: DataFrame, stateDir: String, checkpointDir: String,
             after: (SparkSession, Long) => Unit = (_, _) => ())(
      partial: DataFrame => DataFrame): StreamingQuery =
    LocalCheckpointFileManager.writeStream(input, checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        land(partial(batch), stateDir, batchId)
        after(batch.sparkSession, batchId)
      }
      .start()

  /** Every landed partial, with its `batch_id` (and `subDirs`) columns.
    * With a `schema` the read needs nothing landed — a missing state dir
    * reads as no rows; without one it uses the recorded schema.
    */
  def read(spark: SparkSession, stateDir: String,
           schema: Option[StructType] = None,
           subDirs: Seq[String] = Nil): DataFrame =
    scan(spark, stateDir, BucketStore.current(spark, stateDir), schema,
      subDirs, None)

  /** Batch `batchId`'s landed partial alone, without `batch_id`. */
  def readBatch(spark: SparkSession, stateDir: String, batchId: Long,
                schema: Option[StructType] = None): DataFrame =
    scan(spark, stateDir, BucketStore.current(spark, stateDir), schema, Nil,
      Some(batchId)).drop(BatchCol.name)

  /** The entries of version `base` (only `batchId`'s, if given), each
    * leaf dir a partition: `batch_id`, then the integer `subDirs` values
    * listed under the entry.
    */
  private def scan(spark: SparkSession, stateDir: String,
                   base: Option[Manifest], schema: Option[StructType],
                   subDirs: Seq[String], batchId: Option[Long]): DataFrame = {
    val m = base.getOrElse(Manifest(0, 0))
    val f = BucketStore.fs(spark, stateDir)
    def leaves(p: String, names: Seq[String]): Seq[(Seq[Any], String)] =
      names match {
        case Seq() => Seq(Nil -> p)
        case n +: rest =>
          val children =
            try f.listStatus(new org.apache.hadoop.fs.Path(stateDir, p)).toSeq
            catch { case _: java.io.FileNotFoundException =>
              throw BucketStore.collected(f, stateDir, m,
                new org.apache.hadoop.fs.Path(stateDir, p)) }
          children.map(_.getPath.getName).filter(_.startsWith(s"$n=")).sorted
            .flatMap(c => leaves(s"$p/$c", rest).map { case (vs, leaf) =>
              (c.stripPrefix(s"$n=").toInt +: vs) -> leaf })
      }
    val parts = m.live.toSeq.sortBy(_._1)
      .filter(e => batchId.forall(_ == e._1))
      .flatMap { case (id, p) =>
        leaves(p, subDirs).map { case (vs, leaf) => (id +: vs) -> leaf } }
    val partCols = BatchCol +: subDirs.map(StructField(_, IntegerType))
    val data = schema.orElse(m.schema).map(s => StructType(
      s.filterNot(c => partCols.exists(_.name == c.name))))
    if (data.isEmpty && parts.isEmpty)
      throw new java.io.FileNotFoundException(s"no partial state at $stateDir")
    BucketStore.scan(spark, stateDir, m, StructType(partCols), data.orNull, parts)
  }

  /** Merge every partial except the newest into one partial at the
    * second-newest id, in one commit that replaces them. `merge` reduces
    * the state (all columns incl. `batch_id`) to rows of the landed
    * partial's columns; `subDirs` are the ones the partials were landed
    * with. No-op below 3 partials.
    */
  def compact(spark: SparkSession, stateDir: String,
              merge: DataFrame => DataFrame,
              subDirs: Seq[String] = Nil): Unit = {
    val base = BucketStore.current(spark, stateDir)
    val ids = base.toSeq.flatMap(_.live.keys).sorted
    if (ids.length < 3) return
    val merged = merge(scan(spark, stateDir, base, None, subDirs, None)
      .filter(col(BatchCol.name) =!= ids.last))
    commit(spark, stateDir, base, merged, ids(ids.length - 2), subDirs,
      _ < ids.last, _.copy(schema = Some(merged.schema)))
  }
}
