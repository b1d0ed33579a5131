package syncbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import Ledger.Trigger

/** Records every streaming progress event: the only listener an
  * untraced run registers, because the latency metric needs it.
  */
final class ProgressRecorder extends StreamingQueryListener {
  private val triggers = new ConcurrentLinkedQueue[Trigger]()
  private val bytesAt = """"bytes"\s*:\s*(\d+)""".r

  private def bytes(offsetJson: String): Option[Long] =
    Option(offsetJson).flatMap(j => bytesAt.findFirstMatchIn(j)).map(_.group(1).toLong)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val src = p.sources.headOption
    val end = src.flatMap(s => bytes(s.endOffset))
    end.foreach { eb =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      triggers.add(Trigger(p.id.toString, p.batchId, start,
        start + d.getOrElse("triggerExecution", 0L),
        src.flatMap(s => bytes(s.startOffset)).getOrElse(0L), eb,
        p.numInputRows, d))
    }
  }

  /** Triggers of one query that moved its offset, in batch order. */
  def of(query: String): Seq[Trigger] =
    triggers.asScala.filter(t => t.query == query && t.endBytes > t.startBytes)
      .toSeq.sortBy(_.batchId)

  /** The first trigger of `query` whose end offset reaches `bytes`. */
  def covering(query: String, bytes: Long): Option[Trigger] =
    of(query).find(_.endBytes >= bytes)
}

/** Traced runs only: Spark jobs and tasks, attributed to a streaming
  * query and batch through Spark's own job properties.
  */
final class JobRecorder extends SparkListener {
  import JobRecorder.Job
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val j = Job(e.jobId, e.time, prop("sql.streaming.queryId").getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L))
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.taskMs.add(e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
      }
    }

  def all: Seq[Job] = jobs.values.asScala.filter(_.endMs >= 0).toSeq.sortBy(_.id)
  def of(query: String, batchId: Long): Seq[Job] =
    all.filter(j => j.query == query && j.batchId == batchId)
  def within(fromMs: Double, toMs: Double): Seq[Job] =
    all.filter(j => j.startMs >= fromMs && j.endMs <= toMs)
}

object JobRecorder {
  final case class Job(id: Int, startMs: Long, query: String, batchId: Long) {
    @volatile var endMs: Long = -1L
    val taskMs = new ConcurrentLinkedQueue[java.lang.Long]()
    val shuffleBytes = new AtomicLong()
    val recordsWritten = new AtomicLong()
    def taskDurations: Seq[Double] = taskMs.toArray.map(_.asInstanceOf[java.lang.Long].toDouble).toSeq
  }
}

/** The local file system, counting the mutating and listing calls made
  * under one directory prefix. Registered as `fs.file.impl` in traced
  * runs only; every call goes on to the stock implementation.
  */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path, FSDataOutputStream}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  import CountingLocalFs._

  private def hit(p: Path, c: AtomicLong): Unit = {
    val pre = prefix
    if (pre != null && p != null && p.toUri.getPath.startsWith(pre)) c.incrementAndGet()
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    hit(f, creates)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { hit(src, renames); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { hit(f, deletes); super.delete(f, recursive) }
  override def listStatus(f: Path): Array[FileStatus] = { hit(f, lists); super.listStatus(f) }
}

object CountingLocalFs {
  @volatile var prefix: String = _
  val creates, renames, deletes, lists = new AtomicLong()
  def counts: Seq[Long] = Seq(creates.get, renames.get, deletes.get, lists.get)
}
