package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.Future
import scala.concurrent.ExecutionContext.Implicits.global

/** [[Overlap.awaitAll]] joins every sibling before it rethrows. */
class OverlapSpec extends AnyFunSuite {

  test("a failing sibling is rethrown only after the slow one finished") {
    val slowDone = new AtomicBoolean(false)
    val slow = Future { Thread.sleep(500); slowDone.set(true) }
    val bad = Future[Unit](throw new IllegalStateException("boom"))
    val e = intercept[IllegalStateException](Overlap.awaitAll(bad, slow))
    assert(e.getMessage == "boom")
    assert(slowDone.get, "awaitAll returned before the slow sibling ended")
  }

  test("the first failure in argument order wins; all-success returns") {
    val late = Future[Unit] { Thread.sleep(200); throw new RuntimeException("first") }
    val early = Future[Unit](throw new IllegalArgumentException("second"))
    val e = intercept[RuntimeException](Overlap.awaitAll(late, early))
    assert(e.getMessage == "first")
    Overlap.awaitAll(Future.unit, Future(1))
  }

  test("overlaps nested on the bounded pool finish without deadlock") {
    // more outer tasks than the pool has threads, each joining its own
    // inner overlaps: with a queue, the inner tasks would wait behind
    // outer tasks that wait for them
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def overlap[T](body: => T) = Future(body)(Overlap.pool)
    val outer = (1 to 2 * Overlap.MaxThreads).map { i =>
      overlap {
        names.add(Thread.currentThread().getName)
        Overlap.results((1 to 3).map(j => overlap { Thread.sleep(20); i * j })).sum
      }
    }
    val done = Future(Overlap.results(outer))
    val sums = scala.concurrent.Await.result(done,
      scala.concurrent.duration.Duration(60, "s"))
    assert(sums == (1 to 2 * Overlap.MaxThreads).map(_ * 6))
    assert(names.toArray.exists(_.toString.startsWith("graft-overlap-")))
  }
}
