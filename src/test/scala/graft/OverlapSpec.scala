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
}
