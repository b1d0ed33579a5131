package syncbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sync.{JdbcSyncJob, SyncJob, Validate}
import Ledger.{Span, Trigger, median, quantile}

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE --rate EVENTS_PER_S [--untraced-drain X]`.
  *
  * Phases: set-up (session; seeded inputs and Derby load, repeated with
  * the median reported; one warm-up), fenced snapshots
  * (`JdbcSyncJob.run`, repeated with the medians reported), a
  * closed-loop drain of the log backlog, an open-loop paced phase at the
  * fixed rate, catch-up, then the correctness checks against the
  * generator's truth. Writes the result line to `--out`; exits 1 when a
  * check fails.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: Path, out: Path, rate: Double,
                        untracedDrain: Option[Double])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath, need("rate").toDouble,
      m.get("untraced-drain").map(_.toDouble))
  }

  /** Input repetitions inside set-up; the median is reported. */
  val SetupReps = 3

  /** Fenced snapshots per run; the medians are reported. */
  val SnapshotReps = 5

  /** Unmeasured snapshots in the warm-up, so the measured ones run on a
    * settled JIT and source page cache.
    */
  val WarmSnapshots = 3

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val w: Workload = args.workload match {
      case "snapshot_stream_jdbc" => new SnapshotStreamJdbc
      case "cdc_state_monitored" => new CdcStateMonitored
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (args.trace)
      // before any Hadoop file system exists: count the state dir's calls
      org.apache.hadoop.conf.Configuration.addDefaultResource("syncbench-countfs.xml")
    Files.createDirectories(args.work)
    System.setProperty("derby.system.home", args.work.resolve("derby").toString)
    System.setProperty("derby.stream.error.file", args.work.resolve("derby.log").toString)
    // no fsync at either end: the state dir is plain local FS too
    System.setProperty("derby.system.durability", "test")
    val code =
      try {
        val (correct, result) = new Harness(args, w).run()
        Files.writeString(args.out, result)
        if (correct) 0 else 1
      } catch { case e: Throwable => e.printStackTrace(); 1 }
    // Spark and Derby leave non-daemon threads behind
    sys.exit(code)
  }
}

/** What one workload plugs into the shared phase sequence. */
trait Workload {
  def logSpec(pacedRows: Int): Gen.LogSpec
  def rowsPerTxn: Int
  def sourceTables(seed: Long, log: Gen.Log): Seq[Gen.SrcTable]
  def dstDdl: Seq[String]
  /** Live log end at set-up, i.e. the fence position the snapshot
    * records; the rest of the backlog lands between snapshot and stream.
    */
  def fenceAt(log: Gen.Log): Long
  /** Where the measured consumers start, given the recorded fence position. */
  def startPos(recorded: Long): Long
  /** Rows in each half (backlog, then paced) of the set-up warm-up's log. */
  def warmRows: Int
  /** Seconds at the start of the paced phase (which lasts the run's
    * `seconds`) whose transactions are appended but not timed.
    */
  def leadInSeconds: Double
  /** The consumers, tailing `log` from `startPos`; `tag` keeps the
    * set-up warm-up's state and checkpoints apart from the measured run's.
    */
  def startConsumers(h: Harness, log: Path, startPos: Long, tag: String): Seq[StreamingQuery]
  /** Point reads of the applied state, one per key; their times in ms. */
  def read(h: Harness, keys: Seq[Long]): Seq[Double]
  def readIntervalMs: Long
  def readsPerVisit: Int
  /** Truth mismatches, with the number of checks made. */
  def check(h: Harness): (Long, Seq[String])
  /** Destination bytes on disk and the live rows they hold. */
  def stateBytesAndRows(h: Harness): (Long, Long)
  /** Per-layer numbers only this workload's consumers produce. */
  def layers(h: Harness, spans: ArrayBuffer[Span]): Map[String, (Double, String)]
}

final class Harness(val args: Main.Args, w: Workload) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val work: Path = args.work
  lazy val spark: SparkSession = SparkSession.builder()
    .master(s"local[$nproc]")
    .appName(s"syncbench-${args.workload}")
    .config("spark.sql.shuffle.partitions", nproc.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .getOrCreate()
  val props: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver"); p
  }
  val progress = new ProgressRecorder
  val jobs: Option[JobRecorder] = if (args.trace) Some(new JobRecorder) else None

  var log: Gen.Log = _
  var live: Gen.LiveLog = _
  var srcUrl: String = _
  var dstUrl: String = _
  var dir: Path = _
  var copiedRows = 0L
  val failures = ArrayBuffer.empty[String]
  var attempted, failed = 0L

  private def now: Long = System.currentTimeMillis()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One set-up of the seeded inputs into `d`: log synthesis, the live
    * log at its fence position, Derby source and destination.
    */
  private def prepare(d: Path): Unit = {
    Files.createDirectories(d)
    val pacedTxns = (args.rate * args.seconds / w.rowsPerTxn).toInt
    log = Gen.writeLog(d.resolve("staged.binlog"), w.logSpec(pacedTxns * w.rowsPerTxn),
      args.seed)
    live = new Gen.LiveLog(log.staged, d.resolve(Gen.LogName))
    live.appendTo(w.fenceAt(log))
    srcUrl = s"jdbc:derby:${d.resolve("src")};create=true"
    dstUrl = s"jdbc:derby:${d.resolve("dst")};create=true"
    Gen.loadDerby(srcUrl, Gen.marker(args.seed) +: w.sourceTables(args.seed, log))
    val c = java.sql.DriverManager.getConnection(dstUrl)
    try w.dstDdl.foreach(c.createStatement().execute) finally c.close()
  }

  /** The program's snapshot path a few times over the real source and
    * its stream path once over a small log, so the measured phases run with
    * classes loaded, JIT and codegen caches warm and the source
    * database's queries compiled, as a long-running deployment would.
    */
  private def warmUp(): Unit = {
    (1 to Main.WarmSnapshots).foreach { r =>
      JdbcSyncJob.run(spark, JdbcSyncJob.Endpoint(srcUrl, props),
        JdbcSyncJob.Endpoint(s"jdbc:derby:${dir.resolve(s"dst_warm$r")};create=true", props),
        dir.resolve(s"sync_warm$r").toString, SyncJob.SyncConfig(maxWorkers = nproc), None,
        JdbcSyncJob.SnapshotFence()).collect()
    }
    val warm = Gen.writeLog(dir.resolve("warm.binlog"),
      w.logSpec(w.warmRows).copy(historyRows = 0, backlogRows = w.warmRows),
      args.seed + 1)
    val qs = w.startConsumers(this, warm.staged, 4L, "warm")
    awaitCover(qs, warm.end, 150000L)
    qs.foreach(_.stop())
  }

  private def shutdownDerby(d: Path): Unit = {
    val dbs = Seq("src", "dst") ++ (1 to Main.WarmSnapshots).map(r => s"dst_warm$r") ++
      (1 until Main.SnapshotReps).map(r => s"dst_rep$r")
    dbs.foreach { db =>
      try java.sql.DriverManager.getConnection(s"jdbc:derby:${d.resolve(db)};shutdown=true")
      catch { case _: java.sql.SQLException => () } // a clean shutdown reports as one
    }
  }

  /** The run; returns whether every check passed, and the result line. */
  def run(): (Boolean, String) = {
    val t0 = System.nanoTime()
    spark.sparkContext.setLogLevel("WARN")
    spark.streams.addListener(progress)
    jobs.foreach(spark.sparkContext.addSparkListener)
    val sessionS = secs(t0)
    val prepS = (1 to Main.SetupReps).map { r =>
      val d = work.resolve(s"prep$r")
      val t = System.nanoTime()
      prepare(d)
      val s = secs(t)
      if (r < Main.SetupReps) { live.close(); shutdownDerby(d); Gen.deleteTree(d) }
      else dir = d
      s
    }
    val tWarm = System.nanoTime()
    warmUp()
    val warmS = secs(tWarm)
    val setupS = sessionS + median(prepS) + warmS
    System.err.println(f"[syncbench] setup session=$sessionS%.2fs inputs=${
      prepS.map(s => f"$s%.2f").mkString(",")} warm-up=$warmS%.2fs")

    val gc0 = gcMs()
    resetHeapPeaks()
    val spans = ArrayBuffer.empty[Span]
    def span(s: Span): Int = spans.synchronized { spans += s; spans.size - 1 }

    // --- snapshot: the reference program, under a timing fence, into
    // fresh destinations; the last one is the destination the stream
    // writes to, and the one checked
    // epoch ms place the spans; nanoTime gives the reported durations
    @volatile var tAcq, tMs, tRel, acqNs, relNs = 0L
    val fence = JdbcSyncJob.SnapshotFence(
      acquire = () => { tAcq = now; acqNs = System.nanoTime() },
      masterStatus = () => { tMs = now; Some(JdbcSyncJob.MasterStatus(Gen.LogName, live.end, "")) },
      release = () => { tRel = now; relNs = System.nanoTime() })
    val syncDir = dir.resolve("sync").toString
    val snaps = (1 to Main.SnapshotReps).map { r =>
      val dst = if (r == Main.SnapshotReps) dstUrl
                else s"jdbc:derby:${dir.resolve(s"dst_rep$r")};create=true"
      val reportDf = JdbcSyncJob.run(spark, JdbcSyncJob.Endpoint(srcUrl, props),
        JdbcSyncJob.Endpoint(dst, props), syncDir,
        SyncJob.SyncConfig(maxWorkers = nproc), None, fence)
      val (tSnapEnd, endNs) = (now, System.nanoTime())
      (reportDf.collect(), tSnapEnd, (endNs - acqNs) / 1e9, (relNs - acqNs) / 1e6)
    }
    System.err.println("[syncbench] snapshot reps " + snaps.map(x => f"${x._3}%.3fs/${x._4}%.1fms").mkString(" "))
    val (reports, tSnapEnd, _, _) = snaps.last
    copiedRows = reports.map(_.getAs[Long]("rows")).sum
    System.err.println("[syncbench] snapshot " + reports.map(r =>
      s"${r.getAs[String]("table")}:${r.getAs[String]("strategy")}/${r.getAs[Int]("partitions")}")
      .mkString(" "))
    checkSnapshot(reports.map(_.getAs[String]("table")).toSeq)

    // --- stream: drain the backlog (closed loop) ------------------------
    val startPos = w.startPos(JdbcSyncJob.readMasterStatus(syncDir).get.position)
    live.appendTo(log.backlogEnd)
    val tStart = now
    val queries = w.startConsumers(this, live.path, startPos, "run")
    val ids = queries.map(_.id.toString)
    val drainEnd = awaitCover(queries, log.backlogEnd, 150000L)
    val drainS = (drainEnd - tStart) / 1000.0
    System.err.println(f"[syncbench] drain ${log.backlogEvents} events in $drainS%.2fs")

    // --- paced (open loop): one generator, one reader ------------------
    val txns = log.paced
    val periodMs = w.rowsPerTxn * 1000.0 / args.rate
    val pacedStart = now + 100L
    val due = txns.indices.map(i => pacedStart + i * periodMs)
    val appends = new Array[Long](txns.size)
    val generator = new Thread(() => {
      txns.indices.foreach { i =>
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        live.appendTo(txns(i).end)
        appends(i) = System.currentTimeMillis()
      }
    }, "syncbench-generator")
    val readMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val readFail = new java.util.concurrent.atomic.AtomicLong()
    val readKeys = log.rowsAfterBacklog.map(_(0).asInstanceOf[java.lang.Long].longValue)
    val readRng = new scala.util.Random(args.seed * 31 + 7)
    @volatile var reading = true
    val reader = new Thread(() => {
      while (reading) {
        Thread.sleep(w.readIntervalMs)
        val ks = Seq.fill(w.readsPerVisit)(readKeys(readRng.nextInt(readKeys.size)))
        try w.read(this, ks).foreach(readMs.add(_))
        catch { case e: Exception =>
          readFail.incrementAndGet(); System.err.println(s"[syncbench] read failed: $e") }
      }
    }, "syncbench-reader")
    generator.start(); reader.start()
    generator.join()
    reading = false
    reader.join()
    awaitCover(queries, log.end, 150000L)
    val streamed = queries.map(q => q.id.toString -> progress.of(q.id.toString)).toMap
    queries.foreach(_.stop())

    // --- measures ------------------------------------------------------
    // only transactions due after the lead-in are timed
    val timedFrom = pacedStart + w.leadInSeconds * 1000
    val timed = txns.indices.filter(i => due(i) >= timedFrom)
    val visible = Ledger.visibleMs(txns.map(_.end), ids.map(streamed))
    val lat = Ledger.latenciesMs(timed.map(due), timed.map(visible)).flatten
    // timed events over the time from the first timed due until the last
    // became visible: the input rate while the consumers keep up, less
    // once the backlog grows
    val pacedRate = timed.map(i => txns(i).events.toLong).sum /
      ((timed.flatMap(visible).max - due(timed.head)) / 1000.0)
    val lateness = txns.indices.map(i => appends(i) - due(i))
    attempted += readMs.size + readFail.get
    if (readFail.get > 0) failures += s"${readFail.get} reads failed"
    failed += readFail.get
    val batches = ids.flatMap(streamed).size
    attempted += batches

    val (checks, mismatches) = w.check(this)
    attempted += checks
    failures ++= mismatches
    failed += mismatches.size
    val (stateBytes, liveRows) = w.stateBytesAndRows(this)

    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "snapshot_rows_per_s" -> (median(snaps.map(x => copiedRows / x._3)), "rows/s"),
      "drain_events_per_s" -> (log.backlogEvents / drainS, "events/s"),
      "paced_events_per_s" -> (pacedRate, "events/s"),
      "visible_latency_ms_p50" -> (quantile(lat, 0.5), "ms"),
      "visible_latency_ms_p99" -> (quantile(lat, 0.99), "ms"),
      "read_ms_p50" -> (median(readMs.toArray.map(_.asInstanceOf[java.lang.Double].doubleValue).toSeq), "ms"),
      "state_bytes_per_row" -> (stateBytes.toDouble / liveRows, "B/row"))
    System.err.println(f"[syncbench] latency samples=${lat.size} p90=${quantile(lat, 0.9)}%.0fms reads=${readMs.size} " +
      f"lateness_p99=${quantile(lateness, 0.99)}%.1fms " +
      f"triggers=$batches window=${args.seconds}s lead-in=${w.leadInSeconds}s")
    ids.foreach { q =>
      val ms = streamed(q).filter(_.startMs >= timedFrom).map(_.ms.toDouble)
      if (ms.nonEmpty) System.err.println(f"[syncbench] paced triggers n=${ms.size} " +
        f"ms p50=${quantile(ms, 0.5)}%.0f max=${ms.max}%.0f sum=${ms.sum}%.0f")
    }

    val metrics =
      if (!args.trace) e2e.toMap
      else {
        val drainRate = log.backlogEvents / drainS
        layerMetrics(spans, span, reports.toSeq, tAcq, tMs, tRel, tSnapEnd,
          streamed, ids, appends.toSeq, lateness, gc0, drainRate, copiedRows, lat.size) +
          ("sync.fence_hold_ms" -> (median(snaps.map(_._4)), "ms"))
      }
    val declared = if (args.trace) Result.perLayer else Result.endToEnd
    require(metrics.map { case (k, (_, u)) => k -> u }.toSet == declared.toSet,
      "reported metrics differ from the ones BENCHMARK.json declares")
    live.close()
    spark.stop()
    shutdownDerby(dir)
    failures.take(20).foreach(f => System.err.println(s"[syncbench] MISMATCH $f"))
    (failed == 0, Result.json(failed == 0, attempted, failed, metrics))
  }

  /** Counts and content digests of every copied table, source vs
    * destination.
    */
  private def checkSnapshot(tables: Seq[String]): Unit = {
    def digest(url: String, t: String) = {
      val df = graft.sync.JdbcSource.read(spark, url, t, props)
      val cols = df.columns.sorted.map(org.apache.spark.sql.functions.col).toSeq
      Validate.contentDigest(df, cols).collect().head
    }
    // untimed, so the tables' digest jobs run side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nproc)
    val digests =
      try tables.map { t =>
        pool.submit(new java.util.concurrent.Callable[(String, AnyRef, AnyRef)] {
          def call() = (t, digest(srcUrl, t), digest(dstUrl, t))
        })
      }.map(_.get)
      finally pool.shutdown()
    digests.foreach { case (t, s, d) =>
      attempted += 1
      if (s != d) { failures += s"snapshot $t: source $s, destination $d"; failed += 1 }
    }
  }

  /** Time (epoch ms) of the trigger, across all `queries`, by which each
    * has committed past `bytes`; fails the run if that takes longer than
    * `timeoutMs`.
    */
  private def awaitCover(queries: Seq[StreamingQuery], bytes: Long, timeoutMs: Long): Long = {
    val deadline = now + timeoutMs
    var done: Option[Long] = None
    while (done.isEmpty) {
      queries.foreach(q => q.exception.foreach(e => throw e))
      val hit = queries.map(q => progress.covering(q.id.toString, bytes))
      if (hit.forall(_.isDefined)) done = Some(hit.flatten.map(_.endMs).max)
      else if (now > deadline)
        throw new IllegalStateException(s"consumers did not reach byte $bytes in ${timeoutMs}ms")
      else Thread.sleep(20)
    }
    done.get
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
  private def heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }
  private def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** The traced run's ledger: spans from the snapshot fence, progress
    * events and attributed jobs, reduced to the per-layer metrics.
    */
  private def layerMetrics(spans: ArrayBuffer[Span], span: Span => Int,
                           reports: Seq[org.apache.spark.sql.Row],
                           tAcq: Long, tMs: Long, tRel: Long, tSnapEnd: Long,
                           streamed: Map[String, Seq[Trigger]], ids: Seq[String],
                           appends: Seq[Long], lateness: Seq[Double], gc0: Long,
                           drainRate: Double, copiedRows: Long,
                           samples: Int): Map[String, (Double, String)] = {
    val jr = jobs.get
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else quantile(xs, 0.5)
    def p99(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else quantile(xs, 0.99)
    def mx(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.max

    // snapshot: fence probes, copy, and the jobs inside the copy
    val snap = span(Span("sync", tAcq, tSnapEnd, -1))
    span(Span("sync.probe", tAcq, tMs, snap))
    span(Span("sync.fence_release", tMs, tRel, snap))
    val copy = span(Span("sync.copy", tRel, tSnapEnd, snap))
    val copyJobs = jr.within(tRel, tSnapEnd + 1)
    copyJobs.foreach(j => span(Span("sync.job", j.startMs, j.endMs, copy)))
    val copyTasks = copyJobs.flatMap(_.taskDurations)
    val snapCovered = Ledger.covered(Seq((tAcq.toDouble, tMs.toDouble),
      (tMs.toDouble, tRel.toDouble), (tRel.toDouble, tSnapEnd.toDouble)), tAcq, tSnapEnd)

    // every consumer trigger, its engine phases laid end to end
    val phases = Seq("latestOffset" -> "source.latest_offset",
      "walCommit" -> "stream.wal_commit", "getBatch" -> "source.get_batch",
      "queryPlanning" -> "stream.query_planning", "addBatch" -> "stream.add_batch",
      "commitOffsets" -> "stream.commit_offsets")
    val coverage = ArrayBuffer.empty[Double]
    val addBatchIdx = scala.collection.mutable.Map.empty[(String, Long), Int]
    ids.foreach { q =>
      streamed(q).foreach { t =>
        val ts = span(Span("trigger", t.startMs, t.endMs, -1, q, t.batchId))
        var at = t.startMs.toDouble
        phases.foreach { case (k, name) =>
          val d = t.durations.getOrElse(k, 0L)
          val i = span(Span(name, at, at + d, ts, q, t.batchId))
          if (k == "addBatch") addBatchIdx((q, t.batchId)) = i
          at += d
        }
        if (t.ms > 0) coverage += 100.0 * (at - t.startMs) / t.ms
      }
    }
    // the workload's own spans (the apply wrapper) go in before the jobs:
    // a batch's jobs hang under its apply span, else under its addBatch
    val layer = w.layers(this, spans)
    jr.all.filter(_.query.nonEmpty).foreach { j =>
      addBatchIdx.get((j.query, j.batchId)).foreach { parent =>
        val owner = spans.indices.reverse.find(i => spans(i).parent == parent &&
          spans(i).name == "apply").getOrElse(parent)
        span(Span("job", j.startMs, j.endMs, owner, j.query, j.batchId))
      }
    }

    val all = ids.flatMap(streamed)
    def dur(k: String) = all.map(_.durations.getOrElse(k, 0L).toDouble)
    val lags = ids.flatMap(q => Ledger.lagBytes(streamed(q),
      appends.zip(log.paced.map(_.end)), log.backlogEnd))
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    val base = Map(
      "sync.probe_ms" -> ((tMs - tAcq).toDouble, "ms"),
      "sync.copy_ms" -> ((tSnapEnd - tRel).toDouble, "ms"),
      "sync.driver_gap_ms" -> (tSnapEnd - tRel - Ledger.covered(
        copyJobs.map(j => (j.startMs.toDouble, j.endMs.toDouble)), tRel, tSnapEnd), "ms"),
      "sync.tasks" -> (copyTasks.size.toDouble, "count"),
      "sync.task_ms_p50" -> (p50(copyTasks), "ms"),
      "sync.task_ms_max" -> (mx(copyTasks), "ms"),
      "sync.partitions" -> (reports.map(_.getAs[Int]("partitions")).sum.toDouble, "count"),
      "sync.rows_written" -> (copiedRows.toDouble, "rows"),
      "source.latest_offset_ms_p50" -> (p50(dur("latestOffset")), "ms"),
      "source.events_per_trigger_p50" -> (p50(all.map(_.rows.toDouble)), "events"),
      "source.lag_bytes_max" -> (lags.maxOption.getOrElse(0L).toDouble, "bytes"),
      "source.triggers" -> (all.size.toDouble, "count"),
      "stream.add_batch_ms_p50" -> (p50(dur("addBatch")), "ms"),
      "stream.add_batch_ms_p99" -> (p99(dur("addBatch")), "ms"),
      "stream.wal_commit_ms_p50" -> (p50(dur("walCommit")), "ms"),
      "stream.commit_offsets_ms_p50" -> (p50(dur("commitOffsets")), "ms"),
      "stream.query_planning_ms_p50" -> (p50(dur("queryPlanning")), "ms"),
      "gen.lateness_ms_p99" -> (p99(lateness), "ms"),
      "jvm.gc_ms" -> ((gcMs() - gc0).toDouble, "ms"),
      "jvm.heap_peak_mb" -> (heapPeak, "MB"),
      "trace.overhead_pct" -> (args.untracedDrain.fold(0.0)(u => 100.0 * (u / drainRate - 1)), "%"),
      "trace.trigger_coverage_pct" -> (p50(coverage.toSeq), "%"),
      "trace.snapshot_coverage_pct" -> (100.0 * snapCovered / math.max(1L, tSnapEnd - tAcq), "%"),
      "latency.samples" -> (samples.toDouble, "count")) ++ decodeBaseline()
    val self = Ledger.selfMs(spans.toIndexedSeq)
    Result.writeSpans(work.getParent.resolve(s"spans-${args.workload}-${args.seed}.json"),
      spans.toIndexedSeq, self)
    Result.perLayer.map { case (n, u) => n -> (0.0, u) }.toMap ++ base ++ layer
  }

  /** Single-threaded decode of the run's own log: the program's
    * streamed bytes → events → change rows path, no Spark.
    */
  def decodeBaseline(): Map[String, (Double, String)] = {
    val bytes = Files.readAllBytes(live.path)
    val runs = (1 to 3).map { _ =>
      val t = System.nanoTime()
      var n = 0L
      val it = graft.streaming.MysqlBinlog.changeEventsIterator(
        graft.streaming.MysqlBinlog.eventIterator(bytes))
      while (it.hasNext) { it.next(); n += 1 }
      (n, (System.nanoTime() - t) / 1e9)
    }
    val s = median(runs.map(_._2))
    Map("decode.events_per_s" -> (runs.head._1 / s, "events/s"),
      "decode.mb_per_s" -> (bytes.length / 1e6 / s, "MB/s"))
  }
}
