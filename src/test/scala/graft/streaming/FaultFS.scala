package graft.streaming

import java.net.URI

import org.apache.hadoop.fs.{FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Test-only local file system under the `fault:` scheme (register it
  * as `fs.fault.impl`). Once [[FaultFS.arm]]ed on a dir, it counts the
  * renames, deletes and mkdirs of that dir's direct children and throws
  * [[FaultFS.Crash]] in place of the k-th — a crash just before that
  * op. Sweeping k = 1, 2, … until a run completes visits every crash
  * point of a protocol that mutates a state dir's entries.
  */
class FaultFS extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = FaultFS.Uri
}) {
  override def getScheme: String = FaultFS.Uri.getScheme
  override def rename(src: Path, dst: Path): Boolean = {
    FaultFS.tick(src); super.rename(src, dst)
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

  private var root: Option[String] = None
  private var k = 0
  private var seen = 0

  /** Throw at the `k`-th mutating op on a direct child of `dir`. */
  def arm(dir: String, k: Int): Unit = synchronized {
    root = Some(new Path(dir).toUri.getPath); this.k = k; seen = 0
  }

  /** Stop injecting; returns how many ops were counted. */
  def disarm(): Int = synchronized { root = None; seen }

  private def tick(p: Path): Unit = synchronized {
    if (root.exists(r => Option(p.getParent).exists(_.toUri.getPath == r))) {
      seen += 1
      if (seen == k) throw new Crash(seen, p)
    }
  }
}
