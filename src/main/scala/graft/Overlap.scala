package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

/** Joining overlapped driver-side work. */
object Overlap {

  /** Wait for EVERY sibling, then rethrow the first failure (in argument
    * order). `Await.result` on each in turn — or on a `zip` — fails
    * fast and abandons the slower siblings, whose Spark jobs and writes
    * then outlive the caller that started them (and race its cleanup).
    */
  def awaitAll(siblings: Future[Any]*): Unit = {
    siblings.foreach(Await.ready(_, Duration.Inf))
    siblings.foreach(_.value.get.get)
  }
}
