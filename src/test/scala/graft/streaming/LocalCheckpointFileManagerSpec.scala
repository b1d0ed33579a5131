package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}

/** [[LocalCheckpointFileManager]]: Spark's checkpoint-file contract over
  * a `file:` dir without OS process spawns, Spark's default manager for
  * every other scheme, and a session default that a user-set class
  * overrides.
  */
class LocalCheckpointFileManagerSpec extends SparkSpec {
  import LocalCheckpointFileManager.ManagerKey

  private val SparkDefault = classOf[FileContextBasedCheckpointFileManager].getName

  private def conf(manager: Option[String]): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.unset(ManagerKey)
    manager.foreach(c.set(ManagerKey, _))
    c
  }

  private def engineManager(dir: java.nio.file.Path) =
    CheckpointFileManager.create(new Path(dir.toUri),
      conf(Some(classOf[LocalCheckpointFileManager].getName)))
  private def defaultManager(dir: java.nio.file.Path) =
    CheckpointFileManager.create(new Path(dir.toUri), conf(None))

  private def write(m: CheckpointFileManager, p: Path, bytes: Array[Byte],
                    overwrite: Boolean = false): Unit = {
    val out = m.createAtomic(p, overwrite)
    try out.write(bytes) catch { case t: Throwable => out.cancel(); throw t }
    out.close()
  }

  /** Run `body` with the session's manager key set to `value` (or unset),
    * restoring it after.
    */
  private def withManager[T](value: Option[String])(body: => T): T = {
    val before = spark.conf.getOption(ManagerKey)
    value.fold(spark.conf.unset(ManagerKey))(spark.conf.set(ManagerKey, _))
    try body
    finally before.fold(spark.conf.unset(ManagerKey))(spark.conf.set(ManagerKey, _))
  }

  test("createAtomic without overwrite refuses an existing file and leaves it intact") {
    val dir = Files.createTempDirectory("ckpt_mgr_")
    val m = engineManager(dir)
    assert(m.isInstanceOf[LocalCheckpointFileManager])
    val p = new Path(dir.resolve("0").toUri)
    write(m, p, "first".getBytes)
    intercept[FileAlreadyExistsException](write(m, p, "second".getBytes))
    assert(Files.readAllBytes(dir.resolve("0")).sameElements("first".getBytes))
    write(m, p, "third".getBytes, overwrite = true)
    val in = m.open(p)
    try assert(new String(in.readAllBytes()) == "third") finally in.close()
  }

  test("cancel leaves neither the target nor a temp file") {
    val dir = Files.createTempDirectory("ckpt_cancel_")
    val out = engineManager(dir).createAtomic(new Path(dir.resolve("1").toUri), false)
    out.write("partial".getBytes)
    out.cancel()
    assert(Files.list(dir).count() == 0L)
  }

  test("a flipped byte fails the read with ChecksumException") {
    def flipped(m: java.nio.file.Path => CheckpointFileManager): Array[Byte] = {
      val dir = Files.createTempDirectory("ckpt_crc_")
      val p = new Path(dir.resolve("2").toUri)
      write(m(dir), p, Array.tabulate[Byte](100)(i => ('a' + i % 26).toByte))
      val raf = new java.io.RandomAccessFile(dir.resolve("2").toFile, "rw")
      try { raf.seek(40); raf.write('#'.toInt) } finally raf.close()
      val in = m(dir).open(p)
      try in.readAllBytes() finally in.close()
    }
    intercept[ChecksumException](flipped(engineManager))
    // stricter than Spark's default: its `FileContext` read of the same
    // file and `.crc` returns the flipped byte
    assert(flipped(defaultManager)(40) == '#'.toByte)
  }

  test("a non-file scheme gets Spark's default manager") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.fault.impl", classOf[FaultFS].getName)
    val dir = Files.createTempDirectory("ckpt_fault_")
    val p = new Path(s"fault://${dir.toAbsolutePath}/0")
    val m = new LocalCheckpointFileManager(p, conf(None))
    assert(m.delegate.getClass == CheckpointFileManager.create(p, conf(None)).getClass)
    // its writes go through the scheme's own FS
    FaultFS.arm(dir.toString, Int.MaxValue)
    try write(m, p, "x".getBytes) finally assert(FaultFS.disarm() > 0)
    assert(Files.exists(dir.resolve("0")))
  }

  private def inserts(keys: Range) =
    keys.map(k => WireLog.Insert(k.toLong, s"v$k"))

  /** Every key the partials of `stateDir` hold, one entry per landing. */
  private def landedKeys(stateDir: String): Seq[Long] =
    PartialState.read(spark, stateDir).select("key").collect().map(_.getLong(0))
      .toSeq.sorted

  /** One engine starter ([[PartialState.stream]]) over the binlog tail,
    * run until caught up.
    */
  private def runOnce(log: String, state: String, ckpt: String): Unit = {
    val tail: DataFrame = MysqlBinlogSource.tail(spark, log,
      maxEventsPerTrigger = Some(4L))
    val q = PartialState.stream(tail, state, ckpt)(_.select("seq", "key"))
    try q.processAllAvailable() finally q.stop()
  }

  test("a user-set checkpoint manager survives an engine starter") {
    val base = Files.createTempDirectory("ckpt_user_").toString
    WireLog.using(s"$base/log")(_.append(1700000000L, inserts(1 to 3): _*))
    CountingCheckpointFileManager.made.set(0)
    withManager(Some(classOf[CountingCheckpointFileManager].getName)) {
      runOnce(s"$base/log", s"$base/state", s"$base/ckpt")
      assert(spark.conf.get(ManagerKey) == classOf[CountingCheckpointFileManager].getName)
    }
    assert(CountingCheckpointFileManager.made.get > 0)
    assert(landedKeys(s"$base/state") == (1L to 3L))
  }

  test("a checkpoint resumes across Spark's default and the engine's manager, " +
      "both ways, with no gap and no duplicate") {
    for ((first, second) <- Seq(Some(SparkDefault) -> None, None -> Some(SparkDefault))) {
      val base = Files.createTempDirectory("ckpt_resume_").toString
      val (log, state, ckpt) = (s"$base/log", s"$base/state", s"$base/ckpt")
      WireLog.using(log) { wire =>
        wire.append(1700000000L, inserts(1 to 10): _*)
        withManager(first) { runOnce(log, state, ckpt) }
        wire.append(1700000100L, inserts(11 to 20): _*)
        withManager(second) {
          runOnce(log, state, ckpt)
          // unset means the engine starter installed its own
          assert(spark.conf.get(ManagerKey) ==
            second.getOrElse(classOf[LocalCheckpointFileManager].getName))
        }
      }
      assert(landedKeys(state) == (1L to 20L), s"$first then $second")
      val ids = PartialState.read(spark, state).select("batch_id").distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == ids.indices.map(_.toLong), s"batch ids $ids")
    }
  }

  test("checkpoint writes through the engine's manager start no OS process") {
    def spawns(m: CheckpointFileManager, dir: java.nio.file.Path): Int = {
      // one write first: class initialisation may probe the OS once per JVM
      write(m, new Path(dir.resolve("warm").toUri), Array[Byte](1))
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      (0 until 20).foreach(i =>
        write(m, new Path(dir.resolve(i.toString).toUri), s"batch $i".getBytes))
      rec.stop()
      val dump = Files.createTempFile("ckpt_spawns_", ".jfr")
      try {
        rec.dump(dump)
        val me = Thread.currentThread().getId
        jdk.jfr.consumer.RecordingFile.readAllEvents(dump).toArray
          .map(_.asInstanceOf[jdk.jfr.consumer.RecordedEvent])
          .count(e => e.getEventType.getName == "jdk.ProcessStart" &&
            Option(e.getThread).exists(_.getJavaThreadId == me))
      } finally { rec.close(); Files.deleteIfExists(dump) }
    }
    val engine = Files.createTempDirectory("ckpt_jfr_engine_")
    val sparkDefault = Files.createTempDirectory("ckpt_jfr_default_")
    assert(spawns(engineManager(engine), engine) == 0)
    // the recording does see the default manager's spawns
    assert(spawns(defaultManager(sparkDefault), sparkDefault) > 0)
  }
}

/** Spark's default manager, counting its instances. */
class CountingCheckpointFileManager(path: Path, conf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, conf) {
  CountingCheckpointFileManager.made.incrementAndGet()
}

object CountingCheckpointFileManager {
  val made = new java.util.concurrent.atomic.AtomicInteger()
}
