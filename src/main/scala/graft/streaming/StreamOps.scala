package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operator surface (St2, SURVEY §2.9): watermarked
  * tumbling/sliding/session windows, stream dedup, custom keyed state.
  * All transforms are source-agnostic `DataFrame => DataFrame` — the same
  * code runs on MemoryStream (tests), file-fed CDC directories, or a
  * Kafka-fronted binlog feed; at scale the state store shards by
  * grouping key across executors.
  */
object StreamOps {

  /** Switch the session's streaming state store to RocksDB. The default
    * HDFS-backed provider keeps every key in executor heap — fine for
    * tests, an OOM at 100 TB where stream-dedup/window state is
    * key-cardinality-sized. RocksDB spills to local disk with changelog
    * checkpointing, the standard large-state choice. Affects queries
    * STARTED after the call (provider is read at query start).
    */
  def useRocksDbStateStore(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Stream enrichment against the LIVE CDC state table — the standard
    * consumer of [[CdcPipeline]]'s output: each micro-batch re-reads the
    * state dir and left-joins the events on `eventKey = key`, parsing
    * the dimension payload with `payloadSchema`. Done inside
    * `foreachBatch` (not a stream-static join) deliberately: a static
    * DataFrame's file listing is resolved once at query start, so
    * dimension updates the CDC apply lands BETWEEN batches would never
    * become visible; re-reading per batch guarantees freshness. At
    * scale the per-batch dim read is pruned to the joined buckets and
    * broadcast when small — the classic slowly-changing-dimension
    * lookup shape.
    */
  def enrichWithCdcState(events: DataFrame, stateDir: String, table: String,
                         eventKey: String,
                         payloadSchema: org.apache.spark.sql.types.StructType,
                         outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    LocalCheckpointFileManager.writeStream(events, checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the state table may not exist yet (enrichment started alongside
        // the CDC apply) — events then carry a null dim, same as any
        // unmatched key. FS-agnostic probe: java.io.File on a cluster
        // stateDir would report absent FOREVER and silently enrich
        // nothing (the JoinIvm r10 defect class)
        val statePath = new org.apache.hadoop.fs.Path(stateDir)
        val stateExists = statePath
          .getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
          .exists(statePath)
        val enriched =
          if (stateExists) {
            val dim = CdcPipeline.currentState(batch.sparkSession, stateDir)
              .filter(col("table") === table)
              .select(col("key").as("__dim_key"),
                from_json(col("payload"), payloadSchema).as("dim"))
            batch.join(dim, batch(eventKey) === col("__dim_key"), "left")
              .drop("__dim_key") // event columns + a `dim` struct (null = no match)
          } else batch.withColumn("dim",
            lit(null).cast(org.apache.spark.sql.types.StructType(
              payloadSchema.fields)))
        // foreachBatch is at-least-once: writing each batch into its own
        // batch_id partition with overwrite makes REPLAY idempotent —
        // a re-run batch replaces its earlier output instead of
        // appending duplicates
        enriched.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .start()

  /** Tumbling (or sliding, if `slide` differs) event-time window counts
    * with late-data drop after `watermark`.
    */
  def windowedCounts(events: DataFrame, window: String = "1 hour",
                     slide: Option[String] = None,
                     watermark: String = "2 hours"): DataFrame = {
    val w = slide.fold(org.apache.spark.sql.functions.window(col("ts"), window))(
      s => org.apache.spark.sql.functions.window(col("ts"), window, s))
    events
      .withWatermark("ts", watermark)
      .groupBy(w.as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("total_value"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
  }

  /** Session windows (gap-based) per user — the streaming twin of the
    * batch `st_sessionization` query.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("win"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("win.start").as("session_start"),
        col("win.end").as("session_end"), col("user_id"), col("n_events"))

  /** Streaming exact dedup by key within the watermark horizon —
    * the streaming analog of the batch exact-dedup operator (X1).
    */
  def dedupByKey(events: DataFrame, keyCols: Seq[String],
                 watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stream-stream interval join: left events matched to right events of
    * the same key within `[left.ts - lookback, left.ts]` — the streaming
    * form of the as-of/attribution lookup (e.g. click → purchase within
    * an hour). Watermarks on BOTH sides bound the join state Spark must
    * retain; the time-range predicate is what makes state eviction
    * possible at all, so it is mandatory here.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   lookback: String = "1 hour",
                   watermark: String = "2 hours",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(keyCol).as("l_key"), col("ts").as("l_ts"),
        col("event_id").as("l_event_id"))
    val r = right.withWatermark("ts", watermark)
      .select(col(keyCol).as("r_key"), col("ts").as("r_ts"),
        col("event_id").as("r_event_id"), col("value").as("r_value"))
    // leftOuter: an unmatched left row is emitted (null right columns)
    // only once the watermark passes its join window — i.e. when Spark
    // can PROVE no future right row can match. The same watermark +
    // range predicate that bounds the join state also bounds the outer
    // result's lateness; without them, outer emission (and state
    // eviction) would be impossible.
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $lookback") &&
        col("r_ts") <= col("l_ts"),
      joinType)
  }

  /** Custom keyed state via flatMapGroupsWithState: running per-user
    * count + total. Demonstrates the engine's stateful-processing surface
    * (the piece Catalyst can't express declaratively).
    */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserRunningOutput] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunningState, UserRunningOutput](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[UserRunningState]) =>
          val prev = state.getOption.getOrElse(UserRunningState(0L, 0.0))
          val batch = rows.toSeq
          val next = UserRunningState(
            prev.n + batch.size,
            prev.total + batch.map(_.value).sum)
          state.update(next)
          Iterator(UserRunningOutput(userId, next.n, next.total))
      }
  }
}
