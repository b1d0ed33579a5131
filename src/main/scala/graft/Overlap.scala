package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

/** Joining overlapped driver-side work. */
object Overlap {

  /** Wait for EVERY sibling, then rethrow the first failure (in argument
    * order), else return the results in argument order. `Await.result`
    * on each in turn — or on a `zip` or `Future.sequence` — fails fast
    * and abandons the slower siblings, whose Spark jobs and writes then
    * outlive the caller that started them (and race its cleanup).
    */
  def results[T](siblings: Seq[Future[T]]): Seq[T] = {
    siblings.foreach(Await.ready(_, Duration.Inf))
    siblings.map(_.value.get.get)
  }

  /** [[results]] for siblings of mixed types, their values dropped. */
  def awaitAll(siblings: Future[Any]*): Unit = { results(siblings); () }
}
