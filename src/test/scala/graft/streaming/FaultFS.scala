package graft.streaming

import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only local file system under the `fault:` scheme (register it
  * as `fs.fault.impl`). Once [[FaultFS.arm]]ed on some dirs, it counts
  * the creates, renames (from or into them), deletes and mkdirs of
  * those dirs' direct children and throws [[FaultFS.Crash]] in place of the k-th — a crash
  * just before that op. Sweeping k = 1, 2, … until a run completes
  * visits every crash point of a protocol that mutates the dirs'
  * entries. Deeper paths (Spark's `_temporary` committer ops inside a
  * data dir) are not counted: a crash there leaves an unreferenced data
  * dir, the same case as a crash before the commit. A rename onto an
  * existing file fails, as on HDFS.
  */
class FaultFS extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = FaultFS.Uri
}) {
  override def getScheme: String = FaultFS.Uri.getScheme
  override def create(p: Path, perm: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultFS.tick(p)
    super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress)
  }
  // a rename onto an existing file fails, as on HDFS (the local FS
  // overwrites); checked then renamed, so exclusive within one process
  override def rename(src: Path, dst: Path): Boolean = {
    FaultFS.tick(src, dst)
    if (exists(dst) && getFileStatus(dst).isFile) false
    else super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultFS.tick(p); super.delete(p, recursive)
  }
  override def mkdirs(p: Path, perm: FsPermission): Boolean = {
    FaultFS.tick(p); super.mkdirs(p, perm)
  }
}

object FaultFS {
  val Uri: URI = URI.create("fault:///")

  final class Crash(op: Int, p: Path)
      extends java.io.IOException(s"injected crash at op $op on $p")

  private var roots = Set.empty[String]
  private var k = 0
  private var seen = 0

  /** Throw at the `k`-th mutating op on a direct child of any of `dirs`. */
  def arm(dirs: Seq[String], k: Int): Unit = synchronized {
    roots = dirs.map(new Path(_).toUri.getPath).toSet; this.k = k; seen = 0
  }

  /** [[arm]] on one dir. */
  def arm(dir: String, k: Int): Unit = arm(Seq(dir), k)

  /** Stop injecting; returns how many ops were counted. */
  def disarm(): Int = synchronized { roots = Set.empty; seen }

  /** Count one op touching `ps` (a rename: its source and target). */
  private def tick(ps: Path*): Unit = synchronized {
    if (ps.exists(p => Option(p.getParent).exists(d => roots(d.toUri.getPath)))) {
      seen += 1
      if (seen == k) throw new Crash(seen, ps.last)
    }
  }
}
