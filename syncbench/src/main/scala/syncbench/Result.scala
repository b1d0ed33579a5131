package syncbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import Ledger.Span

/** The run's output: the result line, the span file, and the metric
  * names BENCHMARK.json declares.
  */
object Result {

  /** End-to-end metrics, reported by every untraced run. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "snapshot_rows_per_s" -> "rows/s",
    "drain_events_per_s" -> "events/s", "paced_events_per_s" -> "events/s",
    "visible_latency_ms_p50" -> "ms", "visible_latency_ms_p99" -> "ms",
    "read_ms_p50" -> "ms", "state_bytes_per_row" -> "B/row")

  /** Per-layer metrics, reported by every traced run; a layer the
    * workload does not exercise reports 0.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "sync.fence_hold_ms" -> "ms", "sync.probe_ms" -> "ms", "sync.copy_ms" -> "ms", "sync.driver_gap_ms" -> "ms",
    "sync.tasks" -> "count", "sync.task_ms_p50" -> "ms", "sync.task_ms_max" -> "ms",
    "sync.partitions" -> "count", "sync.rows_written" -> "rows",
    "source.latest_offset_ms_p50" -> "ms", "source.events_per_trigger_p50" -> "events",
    "source.lag_bytes_max" -> "bytes", "source.triggers" -> "count",
    "decode.events_per_s" -> "events/s", "decode.mb_per_s" -> "MB/s",
    "stream.add_batch_ms_p50" -> "ms", "stream.add_batch_ms_p99" -> "ms",
    "stream.wal_commit_ms_p50" -> "ms", "stream.commit_offsets_ms_p50" -> "ms",
    "stream.query_planning_ms_p50" -> "ms",
    "apply.ms_p50" -> "ms", "apply.ms_p99" -> "ms", "apply.jobs_per_batch" -> "jobs",
    "apply.driver_gap_ms_p50" -> "ms", "apply.rows_written_per_event" -> "rows/event",
    "apply.files_written_per_batch" -> "files", "apply.shuffle_bytes_per_batch" -> "bytes",
    "apply.touched_buckets_p50" -> "buckets",
    "store.fs_creates_per_batch" -> "calls", "store.fs_renames_per_batch" -> "calls",
    "store.fs_deletes_per_batch" -> "calls", "store.fs_lists_per_batch" -> "calls",
    "monitor.add_batch_ms_p50" -> "ms", "monitor.jobs_per_batch" -> "jobs",
    "monitor.driver_gap_ms_p50" -> "ms",
    "sink.add_batch_ms_p50" -> "ms", "sink.rows_per_batch" -> "rows",
    "sink.task_ms_max" -> "ms",
    "gen.lateness_ms_p99" -> "ms", "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_pct" -> "%", "trace.trigger_coverage_pct" -> "%",
    "trace.snapshot_coverage_pct" -> "%", "latency.samples" -> "count")

  /** The last line of a run's output. */
  def json(correct: Boolean, attempted: Long, failed: Long,
           metrics: Map[String, (Double, String)]): String = {
    def num(d: Double) =
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** Spans of the traced run with their self time, one JSON object a line. */
  def writeSpans(path: Path, spans: IndexedSeq[Span], self: IndexedSeq[Double]): Unit = {
    val lines = spans.indices.map { i =>
      val s = spans(i)
      f"""{"i": $i, "name": "${s.name}", "start_ms": ${s.startMs}%.0f, "end_ms": ${s.endMs}%.0f, "parent": ${s.parent}, "query": "${s.query}", "batch": ${s.batchId}, "self_ms": ${self(i)}%.1f}"""
    }
    Files.write(path, lines.asJava)
  }

  /** Bytes of every regular file under `root`. */
  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** `bucket=` dirs of a state dir → (modification time, data files). */
  def bucketListing(state: Path): Map[String, (Long, Int)] =
    if (!Files.isDirectory(state)) Map.empty
    else {
      val s = Files.list(state)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("bucket=") && Files.isDirectory(p))
        .map { b =>
          val fs = Files.list(b)
          val files = try fs.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
                      finally fs.close()
          b.getFileName.toString -> (Files.getLastModifiedTime(b).toMillis, files)
        }.toMap
      finally s.close()
    }
}
