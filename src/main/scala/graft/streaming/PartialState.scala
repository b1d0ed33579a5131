package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The one partial-state protocol: a state dir holding one partial per
  * micro-batch under `batch_id=N`, merged at read time. Every
  * per-batch monitor ([[CmSketchIngest]], [[BloomIngest]],
  * [[KsDriftIngest]], [[ClusterProfileIngest]], [[IvmIngest]],
  * [[NearDupIngest]], [[CdcQuality]], [[ReconcileIngest]]) and both
  * doc bridges' landing dirs use this layout, and only this object
  * knows it. Exactly-once follows the offset-log argument: the engine
  * replays at most the newest batch, and every write here is
  * idempotent or at-most-once per batch id.
  *
  *   - [[land]] overwrites the batch's own dir, so a replay rebuilds
  *     exactly that dir. The write is not partitioned by `batch_id`
  *     (partition discovery adds the column), so an empty partial still
  *     leaves a schema-only file and later reads can infer the schema.
  *   - [[landOnce]] stages under a dot-prefixed sibling (invisible to
  *     readers) and commits with ONE rename; a committed dir is never
  *     rewritten, because a replay may recompute a smaller partial.
  *   - [[compact]] merges every partial except the newest into the
  *     second-newest id. Why the second-newest: only the newest dir
  *     can be replayed (batch N starts only after N−1's checkpoint
  *     committed), and a replay both reads `batch_id < N` and
  *     overwrites its own dir, so folding anything into N would hide it
  *     from the replay and let the replay destroy it. Dirs below N are
  *     committed, so N−1 is always safe.
  *   - [[recover]] finishes an interrupted [[compact]]; [[read]] runs it
  *     first.
  *
  * The swap is exactly-once for every merge kind, duplicate-sensitive
  * sums and duplicate-tolerant OR/DISTINCT alike: (1) write staging,
  * (2) rename the target to `__old` (the marker), (3) delete the older
  * dirs, (4) install staging as the target, (5) drop the marker. The
  * marker appears only after staging is complete and the older dirs
  * go only while it stands, so at every crash point [[recover]] knows
  * whether the merged copy or the originals are authoritative.
  *
  * Compaction is for a stopped stream (or the stream's own thread, as
  * [[ReconcileIngest.start]] does): a reader racing the swap may
  * transiently see neither copy of the target.
  */
object PartialState {

  private val BatchDirRe = "^batch_id=(\\d+)$".r
  private val OldDirRe = "^batch_id=(\\d+)__old$".r
  private val Staging = "_compact_tmp"

  /** The dir holding batch `batchId`'s partial. */
  def batchDir(stateDir: String, batchId: Long): String =
    s"$stateDir/batch_id=$batchId"

  private def markerOf(stateDir: String, batchId: Long): Path =
    new Path(s"${batchDir(stateDir, batchId)}__old")

  private def fsOf(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")

  /** Land one batch's partial, replay-idempotently. `subDirs` partition
    * the partial inside its batch dir (NearDup's `bucket=B`).
    */
  def land(partial: DataFrame, stateDir: String, batchId: Long,
           subDirs: Seq[String] = Nil): Unit =
    partial.write.mode("overwrite").partitionBy(subDirs: _*)
      .parquet(batchDir(stateDir, batchId))

  /** Land one batch's partial AT MOST ONCE: if `batch_id=N` exists the
    * call is a no-op, else the partial stages and commits in one
    * rename, so the dir either exists complete or not at all. An empty
    * partial lands too, so a later replay cannot land a subset.
    */
  def landOnce(partial: DataFrame, stateDir: String, batchId: Long): Unit = {
    val target = new Path(batchDir(stateDir, batchId))
    val fs = fsOf(partial.sparkSession, target)
    if (fs.exists(target)) return
    val staging = new Path(stateDir, s".staging_$batchId")
    fs.delete(staging, true)
    partial.write.mode("overwrite").parquet(staging.toString)
    rename(fs, staging, target)
  }

  /** One partial per micro-batch of `input`, landed with [[land]];
    * `after` runs once the batch's partial has landed.
    */
  def stream(input: DataFrame, stateDir: String, checkpointDir: String,
             after: (SparkSession, Long) => Unit = (_, _) => ())(
      partial: DataFrame => DataFrame): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        land(partial(batch), stateDir, batchId)
        after(batch.sparkSession, batchId)
      }
      .start()

  /** Every landed partial (with its `batch_id`), after [[recover]].
    * With a `schema` the read needs no file to infer from — a missing
    * state dir, or one holding only empty sub-partitioned partials,
    * reads as no rows.
    */
  def read(spark: SparkSession, stateDir: String,
           schema: Option[StructType] = None): DataFrame = {
    recover(spark, stateDir)
    val root = new Path(stateDir)
    schema match {
      case Some(s) if !fsOf(spark, root).exists(root) =>
        spark.createDataFrame(java.util.List.of[Row](), s)
      case Some(s) => spark.read.schema(s).parquet(stateDir)
      case None => spark.read.parquet(stateDir)
    }
  }

  /** Merge every partial except the newest into one partial at the
    * second-newest id and drop the rest. `merge` reduces the state
    * (all columns incl. `batch_id`) to rows of the landed partial's
    * schema; `subDirs` are the ones the partials were landed with.
    * No-op below 3 batch dirs.
    */
  def compact(spark: SparkSession, stateDir: String,
              merge: DataFrame => DataFrame,
              subDirs: Seq[String] = Nil): Unit = {
    val root = new Path(stateDir)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return
    recover(spark, stateDir)
    val ids = fs.listStatus(root).map(_.getPath.getName).collect {
      case BatchDirRe(id) => id.toLong
    }.sorted
    if (ids.length < 3) return
    val target = ids(ids.length - 2)
    val live = new Path(batchDir(stateDir, target))
    val old = markerOf(stateDir, target)
    val staging = new Path(root, Staging)
    fs.delete(staging, true)
    merge(spark.read.parquet(stateDir).filter(col("batch_id") =!= ids.last))
      .write.mode("overwrite").partitionBy(subDirs: _*)
      .parquet(staging.toString)
    rename(fs, live, old)
    ids.dropRight(2).foreach(id =>
      fs.delete(new Path(batchDir(stateDir, id)), true))
    rename(fs, staging, live)
    fs.delete(old, true)
  }

  /** Finish an interrupted [[compact]]. With a `__old` marker the
    * merged copy is authoritative: delete the older dirs, install
    * staging if the target is missing, drop the marker. Without one, a
    * leftover staging dir was never cut over and is dropped. A marker
    * with neither the target nor staging is refused: no crash of
    * [[compact]] leaves it, and the older dirs are already gone, so
    * renaming the marker back would silently drop their rows.
    */
  def recover(spark: SparkSession, stateDir: String): Unit = {
    val root = new Path(stateDir)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return
    val names = fs.listStatus(root).map(_.getPath.getName)
    val staging = new Path(root, Staging)
    names.collectFirst { case OldDirRe(t) => t.toLong } match {
      case Some(target) =>
        names.collect { case BatchDirRe(id) if id.toLong < target => id.toLong }
          .foreach(id => fs.delete(new Path(batchDir(stateDir, id)), true))
        val live = new Path(batchDir(stateDir, target))
        if (!fs.exists(live)) {
          if (!fs.exists(staging))
            throw new java.io.IOException(
              s"recover: ${markerOf(stateDir, target)} has neither a live " +
                "nor a staged copy")
          rename(fs, staging, live)
        } else fs.delete(staging, true)
        fs.delete(markerOf(stateDir, target), true)
      case None =>
        fs.delete(staging, true)
    }
  }
}
