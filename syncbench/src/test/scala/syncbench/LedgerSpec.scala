package syncbench

import org.scalatest.funsuite.AnyFunSuite

import Ledger._

class LedgerSpec extends AnyFunSuite {

  private def t(q: String, b: Long, start: Long, end: Long, from: Long, to: Long) =
    Trigger(q, b, start, end, from, to, to - from, Map.empty)

  test("a transaction is visible when the last consumer's covering trigger ends") {
    // txns end at bytes 100, 200, 300, 400
    val a = Seq(t("a", 0, 0, 50, 0, 150), t("a", 1, 50, 120, 150, 400))
    val b = Seq(t("b", 0, 0, 80, 0, 100), t("b", 1, 80, 90, 100, 300),
      t("b", 2, 90, 200, 300, 400))
    val vis = visibleMs(Seq(100L, 200L, 300L, 400L), Seq(a, b))
    assert(vis == Seq(Some(80L), Some(120L), Some(120L), Some(200L)))
    // a byte no trigger covered yet is not visible
    assert(visibleMs(Seq(500L), Seq(a, b)) == Seq(None))
    // latency runs from the due time, not the append time
    assert(latenciesMs(Seq(10.0, 20.0, 30.0, 40.0), vis).flatten == Seq(70.0, 100.0, 90.0, 160.0))
  }

  test("trigger order in the input does not matter") {
    val a = Seq(t("a", 1, 50, 120, 150, 400), t("a", 0, 0, 50, 0, 150))
    assert(visibleMs(Seq(100L, 400L), Seq(a)) == Seq(Some(50L), Some(120L)))
  }

  test("lag is the log end at the trigger's start minus its committed offset") {
    // appends (time, log end after it); the log stood at 1000 before
    val appends = Seq((10L, 1100L), (20L, 1200L), (30L, 1300L))
    val ts = Seq(t("a", 0, 5, 9, 1000, 1000), t("a", 1, 20, 25, 1000, 1200),
      t("a", 2, 31, 40, 1200, 1300), t("a", 3, 41, 45, 1300, 1300))
    assert(lagBytes(ts, appends, 1000L) == Seq(0L, 200L, 100L, 0L))
  }

  test("quantiles interpolate between order statistics") {
    assert(quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)
    assert(quantile(Seq(5.0), 0.99) == 5.0)
    assert(quantile((1 to 101).map(_.toDouble), 0.99) == 100.0)
  }

  test("self time is a span's duration minus the union its children cover") {
    val spans = IndexedSeq(
      Span("apply", 0, 100, -1),
      Span("job", 10, 30, 0), Span("job", 20, 50, 0), Span("job", 90, 120, 0),
      Span("task", 10, 20, 1))
    // children cover [10, 50] and [90, 100] of the apply
    assert(selfMs(spans) == IndexedSeq(50.0, 10.0, 30.0, 30.0, 10.0))
    assert(covered(Seq((0.0, 1.0), (0.5, 2.0), (3.0, 4.0)), 0.0, 10.0) == 3.0)
  }
}
