package syncbench

/** The benchmark's pure arithmetic: quantiles, the transaction → trigger
  * latency join, log lag and span self time. Kept free of Spark so the
  * self-tests pin it on hand-built inputs.
  */
object Ledger {

  /** Quantile `q` of `xs` by linear interpolation between order
    * statistics (the `statistics.quantiles(method="inclusive")` rule).
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** One consumer trigger as the progress events report it. */
  final case class Trigger(query: String, batchId: Long, startMs: Long,
                           endMs: Long, startBytes: Long, endBytes: Long,
                           rows: Long, durations: Map[String, Long]) {
    def ms: Long = endMs - startMs
  }

  /** When each transaction became visible: the end of the first trigger,
    * per consumer, whose end offset covers the transaction's end byte,
    * and the latest of those across consumers. None when some consumer
    * never covered it.
    */
  def visibleMs(txnEnds: Seq[Long], consumers: Seq[Seq[Trigger]]): Seq[Option[Long]] = {
    // a consumer's offsets only grow, so its first trigger by end offset
    // that covers a byte is also its earliest in time
    val sorted = consumers.map(_.sortBy(t => (t.endBytes, t.endMs)).toIndexedSeq)
    txnEnds.map { end =>
      val per = sorted.map { ts =>
        var lo = 0; var hi = ts.size
        while (lo < hi) { val m = (lo + hi) >>> 1; if (ts(m).endBytes >= end) hi = m else lo = m + 1 }
        if (lo == ts.size) None else Some(ts(lo).endMs)
      }
      if (per.exists(_.isEmpty)) None else Some(per.flatten.max)
    }
  }

  /** Commit-to-visible latency per transaction, from its due time. */
  def latenciesMs(dueMs: Seq[Double], visible: Seq[Option[Long]]): Seq[Option[Double]] =
    dueMs.zip(visible).map { case (d, v) => v.map(_ - d) }

  /** Bytes the log end stood ahead of each trigger's committed start
    * offset, at the trigger's start. `appends` are (time, log end after
    * the append), in time order; `initialEnd` is the end before any.
    */
  def lagBytes(triggers: Seq[Trigger], appends: Seq[(Long, Long)],
               initialEnd: Long): Seq[Long] = {
    val times = appends.map(_._1).toIndexedSeq
    triggers.map { t =>
      // last append at or before the trigger's start
      var lo = 0; var hi = times.size
      while (lo < hi) { val m = (lo + hi) >>> 1; if (times(m) <= t.startMs) lo = m + 1 else hi = m }
      val end = if (lo == 0) initialEnd else appends(lo - 1)._2
      math.max(0L, end - t.startBytes)
    }
  }

  /** A span of the traced run. `parent` is the index of the span that
    * caused it in the run's span list, or -1.
    */
  final case class Span(name: String, startMs: Double, endMs: Double,
                        parent: Int, query: String = "", batchId: Long = -1L) {
    def ms: Double = endMs - startMs
  }

  /** Length of the union of `intervals` clipped to `[from, to]`. */
  def covered(intervals: Seq[(Double, Double)], from: Double, to: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part its children
    * cover.
    */
  def selfMs(spans: IndexedSeq[Span]): IndexedSeq[Double] = {
    val kids = spans.indices.groupBy(i => spans(i).parent)
    spans.indices.map { i =>
      val s = spans(i)
      s.ms - covered(kids.getOrElse(i, Nil).map(k => (spans(k).startMs, spans(k).endMs)),
        s.startMs, s.endMs)
    }
  }
}
