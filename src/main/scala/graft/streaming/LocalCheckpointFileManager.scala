package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.DataStreamWriter

/** The checkpoint manager of every stream the engine starts: offset-WAL
  * and commit-log writes that spawn no OS process.
  *
  * Without Hadoop's native library, the local FS runs `chmod` for every
  * file and dir it creates, and `FileContext`'s link resolution (Spark's
  * default manager renames through it) runs `readlink`: ~10 spawns, ~28 ms,
  * per checkpoint file. A `file:` checkpoint therefore gets Spark's own
  * [[FileSystemBasedCheckpointFileManager]] (temp file + rename, the
  * protocol Spark falls back to where `FileContext` is unsupported) over
  * Hadoop's checksummed [[LocalFileSystem]], whose raw FS sets permissions
  * through `java.nio` ([[NioPermissionsRawLocalFs]]); its `.crc`
  * sidecars are written and verified on read. Every other
  * scheme gets what [[CheckpointFileManager.create]] builds with this
  * class unset: Spark's default.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  private[streaming] val delegate: CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(LocalCheckpointFileManager.ManagerKey)
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme != "file") CheckpointFileManager.create(path, conf)
    else {
      // the FS cache is keyed by scheme, not conf: bypass it
      conf.setClass("fs.file.impl", classOf[NioPermissionsLocalFs], classOf[FileSystem])
      conf.setBoolean("fs.file.impl.disable.cache", true)
      new FileSystemBasedCheckpointFileManager(path, conf)
    }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** `df.writeStream` checkpointed in `checkpointDir`, with this manager
    * made the session's checkpoint manager when none is set. Like
    * `Tables.ensureNanosCompat`, that is a session-level default: later
    * queries of the session use it too, and a class the user set wins.
    */
  def writeStream[T](df: Dataset[T], checkpointDir: String): DataStreamWriter[T] = {
    val conf = df.sparkSession.conf
    if (conf.getOption(ManagerKey).isEmpty)
      conf.set(ManagerKey, classOf[LocalCheckpointFileManager].getName)
    df.writeStream.option("checkpointLocation", checkpointDir)
  }
}

/** Hadoop's raw local FS with `setPermission` through `java.nio` instead
  * of a `chmod` process; `super` where POSIX attributes are unsupported.
  */
class NioPermissionsRawLocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    // from the bits, not the string form, which carries the sticky flag;
    // PosixFilePermission lists owner r/w/x .. others r/w/x, bits 8..0
    val bits = permission.toShort
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
      if ((bits & (1 << (8 - i))) != 0) perms.add(pp)
    }
    try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}

/** Hadoop's checksummed local FS over [[NioPermissionsRawLocalFs]]. */
class NioPermissionsLocalFs extends LocalFileSystem(new NioPermissionsRawLocalFs)
