package graft

import java.util.concurrent.{SynchronousQueue, ThreadFactory, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Overlapped driver-side work: one bounded, named pool, and joins that
  * wait for every sibling.
  */
object Overlap {

  /** Most threads the pool ever runs at once. */
  val MaxThreads: Int = math.max(4, Runtime.getRuntime.availableProcessors)

  /** The pool every overlap runs on. Its threads are daemons named
    * `graft-overlap-<n>` and never exceed [[MaxThreads]]. It holds no
    * queue: a task that finds every thread busy runs on the thread that
    * submitted it. So an overlap nested inside another overlap's task
    * cannot wait behind its own parent and deadlock; it just runs
    * inline, as if it were not overlapped.
    */
  lazy val pool: ExecutionContext = {
    val n = new AtomicInteger(0)
    val factory: ThreadFactory = r => {
      val t = new Thread(r, s"graft-overlap-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
    ExecutionContext.fromExecutorService(new ThreadPoolExecutor(0, MaxThreads,
      60L, TimeUnit.SECONDS, new SynchronousQueue[Runnable](), factory,
      new ThreadPoolExecutor.CallerRunsPolicy()))
  }

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
