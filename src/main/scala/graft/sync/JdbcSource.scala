package graft.sync

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JDBC scan-side of the sync (S1, SURVEY §2.1): Spark's built-in
  * range-partitioned JDBC read IS the reference's chunked scan —
  * `columnName/lowerBound/upperBound/numPartitions` generate exactly the
  * half-open `pk >= lo AND pk < hi` predicates per partition that
  * `mysql_to_clickhouse_sync_pagination.py:44` issues per chunk. The
  * sync sizes a copy by cores, not by the chunk: each partition task
  * reads one range of many batches over one DB connection, where the
  * reference opens one per 1000-row chunk (sync.py:41). Filters and
  * projections push down to the database.
  */
object JdbcSource {

  /** Range-partitioned table read — the reference's whole scan strategy
    * as one call. `numPartitions` is the task count (the JDBC sync takes
    * ChunkPlanner.numPartitions capped by cores).
    */
  def rangePartitionedRead(spark: SparkSession, url: String, table: String,
                           pkCol: String, lowerBound: Long, upperBound: Long,
                           numPartitions: Int,
                           props: java.util.Properties = new java.util.Properties())
      : DataFrame =
    spark.read.jdbc(url, table, pkCol, lowerBound, upperBound, numPartitions, props)

  /** Single-partition read (the small-table strategy, sync.py:102-106). */
  def read(spark: SparkSession, url: String, table: String,
           props: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url, table, props)
}
