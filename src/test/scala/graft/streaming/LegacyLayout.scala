package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-only writer of the pre-manifest state layout: live `bucket=N`
  * dirs straight under the state dir, plus the `_graft_buckets.json`
  * meta — what engines before the version log left on disk, and what a
  * legacy spec hand-stages before checking that this engine reads,
  * upgrades or refuses it.
  */
object LegacyLayout {

  /** Write `rows` (carrying `bucket`) as a legacy state at `dir`; `meta`
    * is the `_graft_buckets.json` body, None for a pre-contract dir.
    */
  def write(spark: SparkSession, dir: String, rows: DataFrame,
            meta: Option[String]): Unit = {
    rows.write.partitionBy("bucket").parquet(dir)
    meta.foreach(body => java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, BucketStore.MetaName),
      body.getBytes("UTF-8")))
  }

  /** A legacy copy of the CDC row state `rows` (change events), tagged
    * under `buckets` hash buckets, with the recorded count.
    */
  def rowState(spark: SparkSession, dir: String, rows: DataFrame,
               buckets: Int): Unit =
    write(spark, dir, rows.withColumn("bucket", BucketStore.bucketTag(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("table"),
          org.apache.spark.sql.functions.col("key")), buckets, Map.empty)),
      Some(s"""{"buckets":$buckets,"layout":${BucketStore.LayoutVersion}}"""))

  /** The live bucket dirs of a state's newest version, as local files. */
  def liveDirs(spark: SparkSession, dir: String): Map[Int, java.io.File] =
    BucketStore.current(spark, dir).toSeq.flatMap(_.live).map { case (b, p) =>
      b -> new java.io.File(new org.apache.hadoop.fs.Path(dir, p).toUri.getPath)
    }.toMap

  /** Rewrite the body of a state's newest manifest in place — how a spec
    * simulates a state written by another engine generation.
    */
  def editManifest(spark: SparkSession, dir: String)(edit: String => String): Unit = {
    val log = java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(dir, BucketStore.LogName).toUri.getPath)
    val newest = java.nio.file.Files.list(log).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".json"))
      .maxBy(_.getFileName.toString.stripSuffix(".json").toLong)
    val body = new String(java.nio.file.Files.readAllBytes(newest), "UTF-8")
    java.nio.file.Files.write(newest, edit(body).getBytes("UTF-8"))
  }
}
