package graft.sync

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Batch sinks (S5, SURVEY §2.1). The reference string-builds one
  * `INSERT ... VALUES` per 1000-row batch over a fresh ClickHouse
  * connection (mysql_to_clickhouse_sync.py:52-91) and swallows insert
  * errors (sync.py:87-89). Spark's JDBC writer replaces all of it:
  * PreparedStatement batching (no SQL-injection surface — SURVEY §3.4-4),
  * one connection and (where the target has transactions) one commit
  * per partition task, failures propagate as task failures.
  */
object Sinks {

  /** JDBC append sink. `batchSize` mirrors the reference's `--batch_size`
    * (default 1000, sync.py:236); `numPartitions` caps concurrent
    * connections the way `--max_workers` capped insert threads
    * (sync.py:237). Works against any JDBC target incl. ClickHouse via
    * its JDBC driver (none is shipped in this container, so this path is
    * exercised only by code review; the parquet sink is the tested
    * stand-in).
    *
    * ClickHouse targets: PRE-CREATE the table (the CDC shape via
    * [[ClickHouseDialect.replacingMergeTreeDdl]]) rather than letting
    * Spark auto-create it — auto-creation cannot render `Nullable(...)`
    * wrapping (Spark's DDL builder only appends NOT NULL) and ClickHouse
    * refuses a CREATE TABLE without an ENGINE clause anyway, so the
    * missing-table path fails loudly unless `createTableOptions`
    * supplies one. The dialect's decimal output-format session setting
    * rides the connection properties (the drivers forward them as
    * server settings; Spark's write path executes no init SQL).
    */
  def jdbc(df: DataFrame, url: String, table: String,
           props: java.util.Properties = new java.util.Properties(),
           batchSize: Int = 1000, numPartitions: Option[Int] = None,
           overwrite: Boolean = false,
           createTableOptions: Option[String] = None): Unit = {
    // a ClickHouse URL gets the real dialect (type ladder, Nullable
    // wrapping, backquote quoting) instead of Spark's generic guesses
    val ch = ClickHouseDialect.canHandle(url)
    if (ch) ClickHouseDialect.register()
    // the reference's decimal rendering workaround (sync.py:77-83)
    // rides the CONNECTION PROPERTIES, which the ClickHouse drivers
    // forward as per-session server settings — Spark's write path
    // executes no init SQL (`sessionInitStatement` is a READ-path
    // option: only JDBCRDD runs it), so an option-based SET would be
    // a silent no-op here. Caller-supplied values win.
    val effProps =
      if (ch) {
        val p = new java.util.Properties()
        ClickHouseDialect.connectionSettings.foreach { case (k, v) =>
          p.setProperty(k, v) }
        p.putAll(props); p
      } else props
    val sized = numPartitions.fold(df)(n => df.coalesce(n))
    val write = sized.write
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      // on overwrite, TRUNCATE the existing table instead of dropping it
      // (preserves target DDL — the reference never issues DDL either)
      .option("truncate", overwrite.toString)
      .option("batchsize", batchSize)
    // ClickHouse has no transactions. Every other target keeps Spark's
    // default isolation: autocommit off and ONE commit per partition
    // task, so a failed task leaves none of its rows (Spark falls back
    // to autocommit itself when the driver reports no transactions).
    val base = if (ch) write.option("isolationLevel", "NONE") else write
    createTableOptions.fold(base)(o =>
        base.option("createTableOptions", o))
      .jdbc(url, table, effProps)
  }

  /** Parquet sink with bounded file sizes — the tested sink. */
  def parquet(df: DataFrame, path: String,
              maxRecordsPerFile: Long = 1000000L): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)
}
