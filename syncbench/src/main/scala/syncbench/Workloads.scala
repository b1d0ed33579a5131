package syncbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.streaming.{CdcPipeline, CdcProfile, MysqlBinlogSourceProvider}
import Ledger.{Span, quantile}

/** Expected payload fields of a truth row, as the decoder renders them. */
private object Payload {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Mismatch description, or None when `payload` carries `row`. */
  def diff(k: Long, payload: String, row: Array[AnyRef]): Option[String] = {
    val j = mapper.readTree(payload)
    def long(f: String) = Option(j.get(f)).filter(_.isNumber).map(_.asLong)
    val ok = long("id").contains(k) &&
      long("ver") == Some(row(1).asInstanceOf[java.lang.Long].longValue) &&
      long("user_id") == Some(row(2).asInstanceOf[java.lang.Long].longValue) &&
      long("ts") == Some(row(3).asInstanceOf[java.lang.Long].longValue) &&
      Option(j.get("event_type")).map(_.asText) == Some(row(4)) &&
      Option(j.get("value")).filterNot(_.isNull).map(_.asDouble) ==
        Option(row(5)).map(_.asInstanceOf[java.lang.Double].doubleValue)
    if (ok) None else Some(s"key $k: payload $payload")
  }
}

/** The CLI's snapshot-then-stream lifecycle, Derby at both ends: a fenced
  * TPC-H-ish snapshot, then the binlog from the recorded position into
  * the documented `(tbl, k, ts, seq, payload)` table through the JDBC
  * sink. The log carries inserts and full-image updates of ~1 KB JSON
  * documents, so decode and the JDBC upsert do most of the work.
  */
final class SnapshotStreamJdbc extends Workload {
  val rowsPerTxn = 8
  val backlogRows = 19200
  val orders = 6000
  def logSpec(pacedRows: Int): Gen.LogSpec = Gen.LogSpec(Gen.docsTable,
    historyRows = 2048, backlogRows, Gen.Mix(0.25, 0.75, 0), pacedRows,
    Gen.Mix(0.25, 0.75, 0), rowsPerTxn, Gen.docRow)
  def sourceTables(seed: Long, log: Gen.Log): Seq[Gen.SrcTable] = Gen.tpchTables(seed, orders)
  /** The change-state table the CLI documents, and its warm-up twin. */
  val dstDdl = Seq("cdc_state", "cdc_warm").map(t => s"CREATE TABLE $t " +
    "(tbl VARCHAR(64) NOT NULL, k BIGINT NOT NULL, ts TIMESTAMP, seq BIGINT, " +
    "payload VARCHAR(8192), PRIMARY KEY (tbl, k))")
  def fenceAt(log: Gen.Log): Long = log.fence
  // the CLI's handoff: the stream starts where the fence recorded
  def startPos(recorded: Long): Long = recorded
  // a first batch of a few thousand rows, so the sink's bulk path is warm
  // when the measured drain starts
  val warmRows = 4096
  // small paced triggers run on a path the drain does not warm: they
  // take about a third longer in the first seconds, until the JIT has
  // compiled it
  val leadInSeconds = 6.0

  private var sink: StreamingQuery = _
  def startConsumers(h: Harness, log: Path, startPos: Long, tag: String): Seq[StreamingQuery] = {
    val q = CdcPipeline.startFromMysqlBinlogJdbc(h.spark, log.toString, h.dstUrl,
      if (tag == "run") "cdc_state" else "cdc_warm", h.props,
      h.dir.resolve(s"ckpt_$tag").toString, startPos = Some(startPos))
    if (tag == "run") sink = q
    Seq(q)
  }

  // the reader thread's own connection to the destination
  private var readConn: java.sql.Connection = _
  private var readStmt: java.sql.PreparedStatement = _
  def readIntervalMs = 50L
  def readsPerVisit = 1
  def read(h: Harness, keys: Seq[Long]): Seq[Double] = {
    if (readConn == null) {
      readConn = java.sql.DriverManager.getConnection(h.dstUrl)
      readStmt = readConn.prepareStatement(
        "SELECT ts, seq, payload FROM cdc_state WHERE tbl = ? AND k = ?")
    }
    keys.map { k =>
      val t = System.nanoTime()
      readStmt.setString(1, "docs"); readStmt.setLong(2, k)
      val rs = readStmt.executeQuery()
      try while (rs.next()) rs.getString(3) finally rs.close()
      (System.nanoTime() - t) / 1e6
    }
  }

  private var cdcRows = 0L
  def check(h: Harness): (Long, Seq[String]) = {
    if (readConn != null) readConn.close()
    val got = scala.collection.mutable.HashMap.empty[Long, (String, Long, Long, String)]
    val c = java.sql.DriverManager.getConnection(h.dstUrl)
    try {
      val rs = c.createStatement().executeQuery("SELECT tbl, k, ts, seq, payload FROM cdc_state")
      while (rs.next()) got(rs.getLong(2)) =
        (rs.getString(1), rs.getTimestamp(3).getTime, rs.getLong(4), rs.getString(5))
    } finally c.close()
    cdcRows = got.size
    val bad = ArrayBuffer.empty[String]
    h.log.truth.foreach { case (k, v) =>
      (got.get(k), v.row) match {
        case (None, null) => ()
        case (Some(_), null) => bad += s"cdc_state key $k: deleted key present"
        case (None, _) => bad += s"cdc_state key $k: missing"
        case (Some((tbl, ts, seq, payload)), row) =>
          if (tbl != "docs" || seq != v.seq || ts != v.tsSec * 1000L)
            bad += s"cdc_state key $k: ($tbl, $ts, $seq), want (docs, ${v.tsSec * 1000L}, ${v.seq})"
          else bad ++= Payload.diff(k, payload, row)
      }
    }
    (got.keySet -- h.log.truth.keySet).foreach(k => bad += s"cdc_state key $k: not in the log")
    (h.log.truth.size.toLong, bad.toSeq)
  }

  def stateBytesAndRows(h: Harness): (Long, Long) = {
    (Result.treeBytes(h.dir.resolve("dst").resolve("seg0")), cdcRows + h.copiedRows)
  }

  def layers(h: Harness, spans: ArrayBuffer[Span]): Map[String, (Double, String)] = {
    val ts = h.progress.of(sink.id.toString)
    val tasks = h.jobs.get.all.filter(_.query == sink.id.toString).flatMap(_.taskDurations)
    Map(
      "sink.add_batch_ms_p50" -> (quantile(ts.map(_.durations.getOrElse("addBatch", 0L).toDouble), 0.5), "ms"),
      "sink.rows_per_batch" -> (quantile(ts.map(_.rows.toDouble), 0.5), "rows"),
      "sink.task_ms_max" -> (if (tasks.isEmpty) 0.0 else tasks.max, "ms"))
  }
}

/** A real-format binlog tailed into two consumers from its head: the
  * bucketed parquet row state (`CdcPipeline.applyBatch` inside the
  * benchmark's `foreachBatch`, the body of `startFromBinlog`) and the
  * profile monitor (`CdcProfile.start`), with point reads of the state
  * beside the applies. Rows are small, so per-apply fixed cost dominates.
  */
final class CdcStateMonitored extends Workload {
  val rowsPerTxn = 16
  val backlogRows = 40000
  def logSpec(pacedRows: Int): Gen.LogSpec = Gen.LogSpec(Gen.eventsTable,
    historyRows = 0, backlogRows, Gen.Mix(0.9, 0.1, 0), pacedRows,
    Gen.Mix(0.2, 0.6, 0.2), rowsPerTxn, Gen.eventRow)
  def sourceTables(seed: Long, log: Gen.Log): Seq[Gen.SrcTable] =
    Seq(Gen.logTableSource(log, Gen.eventsTable))
  val dstDdl: Seq[String] = Nil
  // the snapshot image is the table at the backlog's end, and the
  // consumers replay the whole log from its head
  def fenceAt(log: Gen.Log): Long = log.backlogEnd
  def startPos(recorded: Long): Long = 4L
  def warmRows: Int = 4 * rowsPerTxn
  val leadInSeconds = 0.0

  val spec = CdcProfile.ProfileSpec("events", StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType))), Seq("event_type", "user_id", "value"))

  /** Bucket count of both states at creation, sized to the ~36k live
    * rows (the program default of 64 leaves a few hundred rows a bucket).
    */
  val Buckets = 8

  private def stateDir(h: Harness, tag: String = "run") = h.dir.resolve(s"state_$tag").toString
  private def profileDir(h: Harness, tag: String = "run") = h.dir.resolve(s"profile_$tag").toString

  /** The benchmark's apply lock. The program gives a reader of the
    * bucketed state no isolation from a writer's bucket swap (and
    * `currentState` runs the swap-healing `recover` itself), so reads
    * interleave with the row-state applies rather than overlap them.
    */
  private val stateLock = new Object

  import CdcStateMonitored.Apply
  private val applies = new java.util.concurrent.ConcurrentLinkedQueue[Apply]()
  private var rowQ, profQ: StreamingQuery = _

  def startConsumers(h: Harness, log: Path, startPos: Long, tag: String): Seq[StreamingQuery] = {
    def tail(): DataFrame = h.spark.readStream
      .format(classOf[MysqlBinlogSourceProvider].getName)
      .option("path", log.toString).option("startPos", startPos.toString).load()
    val sd = stateDir(h, tag)
    val measured = tag == "run"
    if (h.args.trace && measured) CountingLocalFs.prefix = sd
    var listing = Map.empty[String, (Long, Int)]
    val row = tail().writeStream
      .option("checkpointLocation", h.dir.resolve(s"ckpt_state_$tag").toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        stateLock.synchronized {
          val fs0 = CountingLocalFs.counts
          val t0 = System.currentTimeMillis()
          CdcPipeline.applyBatch(batch.sparkSession, batch, sd, Buckets)
          val t1 = System.currentTimeMillis()
          val fs = CountingLocalFs.counts.zip(fs0).map { case (a, b) => a - b }
          // traced runs: bucket dirs this call changed, listed outside its timing
          val (touched, files) =
            if (!h.args.trace || !measured) (0, 0)
            else {
              val now = Result.bucketListing(Path.of(sd))
              val changed = now.filter { case (b, v) => !listing.get(b).contains(v) }
              val dropped = (listing.keySet -- now.keySet).size
              listing = now
              (changed.size + dropped, changed.values.map(_._2).sum)
            }
          if (measured) applies.add(Apply(id, t0, t1, fs, touched, files))
        }
        ()
      }
      .start()
    val prof = CdcProfile.start(tail(), profileDir(h, tag),
      h.dir.resolve(s"ckpt_profile_$tag").toString, spec, Buckets)
    if (measured) { rowQ = row; profQ = prof }
    Seq(row, prof)
  }

  // reads only get the state between applies, so a visit makes several
  def readIntervalMs = 250L
  def readsPerVisit = 4
  def read(h: Harness, keys: Seq[Long]): Seq[Double] = stateLock.synchronized {
    keys.map { k =>
      val t = System.nanoTime()
      CdcPipeline.currentState(h.spark, stateDir(h))
        .filter(col("table") === "events" && col("key") === k).collect()
      (System.nanoTime() - t) / 1e6
    }
  }

  def check(h: Harness): (Long, Seq[String]) = {
    val bad = ArrayBuffer.empty[String]
    val got = CdcPipeline.currentState(h.spark, stateDir(h))
      .select("table", "key", "seq", "payload").collect()
      .map(r => r.getLong(1) -> (r.getString(0), r.getLong(2), r.getString(3))).toMap
    val live = h.log.truth.filter(_._2.row != null)
    live.foreach { case (k, v) =>
      got.get(k) match {
        case None => bad += s"state key $k: missing"
        case Some((t, seq, p)) =>
          if (t != "events" || seq != v.seq) bad += s"state key $k: ($t, $seq), want (events, ${v.seq})"
          else bad ++= Payload.diff(k, p, v.row)
      }
    }
    (got.keySet -- live.keySet).foreach(k => bad += s"state key $k: deleted or unknown key present")
    // the monitor's live profile equals the profile of the truth's live rows
    val rows = live.values.map(_.row).toSeq
    def truthProfile(i: Int) = {
      val vals = rows.map(r => r(i))
      (rows.size.toLong, vals.count(_ == null).toLong, vals.filter(_ != null).distinct.size.toLong)
    }
    val want = Map("user_id" -> truthProfile(2), "event_type" -> truthProfile(4),
      "value" -> truthProfile(5))
    CdcProfile.view(h.spark, profileDir(h), spec).collect().foreach { r =>
      val c = r.getString(0)
      val have = (r.getLong(1), r.getLong(2), r.getLong(3))
      if (want.get(c) != Some(have)) bad += s"profile $c: $have, want ${want.get(c)}"
    }
    (live.size.toLong + spec.cols.size, bad.toSeq)
  }

  def stateBytesAndRows(h: Harness): (Long, Long) =
    (Result.treeBytes(Path.of(stateDir(h))), h.log.truth.count(_._2.row != null).toLong)

  def layers(h: Harness, spans: ArrayBuffer[Span]): Map[String, (Double, String)] = {
    val jr = h.jobs.get
    val rowId = rowQ.id.toString
    val profId = profQ.id.toString
    val data = h.progress.of(rowId).map(t => t.batchId -> t).toMap
    val as = applies.toArray(Array.empty[Apply]).filter(a => data.contains(a.batchId)).toSeq
    // the apply span sits under its batch's addBatch; jobs attach below it
    as.foreach { a =>
      val parent = spans.indices.find(i => spans(i).name == "stream.add_batch" &&
        spans(i).query == rowId && spans(i).batchId == a.batchId).getOrElse(-1)
      spans += Span("apply", a.startMs, a.endMs, parent, rowId, a.batchId)
    }
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else quantile(xs, 0.5)
    def per(xs: Seq[Double]) = if (as.isEmpty) 0.0 else xs.sum / as.size
    val gaps = as.map { a =>
      val js = jr.of(rowId, a.batchId)
      (a.endMs - a.startMs) - Ledger.covered(js.map(j => (j.startMs.toDouble, j.endMs.toDouble)),
        a.startMs, a.endMs)
    }
    val rowJobs = as.map(a => jr.of(rowId, a.batchId))
    val events = as.map(a => data(a.batchId).rows).sum
    val prof = h.progress.of(profId)
    val profGaps = prof.map { t =>
      t.durations.getOrElse("addBatch", 0L) - Ledger.covered(
        jr.of(profId, t.batchId).map(j => (j.startMs.toDouble, j.endMs.toDouble)),
        Double.MinValue, Double.MaxValue)
    }
    Map(
      "apply.ms_p50" -> (p50(as.map(a => (a.endMs - a.startMs).toDouble)), "ms"),
      "apply.ms_p99" -> (if (as.isEmpty) 0.0 else quantile(as.map(a => (a.endMs - a.startMs).toDouble), 0.99), "ms"),
      "apply.jobs_per_batch" -> (per(rowJobs.map(_.size.toDouble)), "jobs"),
      "apply.driver_gap_ms_p50" -> (p50(gaps), "ms"),
      "apply.rows_written_per_event" -> (rowJobs.flatten.map(_.recordsWritten.get).sum.toDouble / math.max(1L, events), "rows/event"),
      "apply.files_written_per_batch" -> (per(as.map(_.files.toDouble)), "files"),
      "apply.shuffle_bytes_per_batch" -> (per(rowJobs.flatten.map(_.shuffleBytes.get.toDouble)), "bytes"),
      "apply.touched_buckets_p50" -> (p50(as.map(_.touched.toDouble)), "buckets"),
      "store.fs_creates_per_batch" -> (per(as.map(_.fs(0).toDouble)), "calls"),
      "store.fs_renames_per_batch" -> (per(as.map(_.fs(1).toDouble)), "calls"),
      "store.fs_deletes_per_batch" -> (per(as.map(_.fs(2).toDouble)), "calls"),
      "store.fs_lists_per_batch" -> (per(as.map(_.fs(3).toDouble)), "calls"),
      "monitor.add_batch_ms_p50" -> (p50(prof.map(_.durations.getOrElse("addBatch", 0L).toDouble)), "ms"),
      "monitor.jobs_per_batch" -> (if (prof.isEmpty) 0.0 else prof.map(t => jr.of(profId, t.batchId).size).sum.toDouble / prof.size, "jobs"),
      "monitor.driver_gap_ms_p50" -> (p50(profGaps), "ms"))
  }
}

object CdcStateMonitored {
  /** One measured row-state apply: wall times, file-system call deltas
    * (creates, renames, deletes, lists), bucket dirs changed and their
    * data files.
    */
  final case class Apply(batchId: Long, startMs: Long, endMs: Long,
                         fs: Seq[Long], touched: Int, files: Int)
}
