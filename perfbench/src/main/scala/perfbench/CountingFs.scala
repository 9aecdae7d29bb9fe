package perfbench

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, FileUtil, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Request counters of [[CountingFs]], shared by every instance (Spark
  * tasks open their own FileSystem objects on executor threads). */
object CountingFs {
  val Scheme = "pbfs"
  val Ops: Seq[String] = Seq("list", "open", "create", "stat", "delete", "rename")
  private val counters: Map[String, AtomicLong] =
    Ops.map(_ -> new AtomicLong).toMap

  def snapshot(): Map[String, Long] = counters.map { case (k, v) => k -> v.get }

  // a call made while another counted call runs on the same thread
  // (create delegating to create, rename's copy+delete) is part of the
  // outer request and is not counted again
  private val depth = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  private[perfbench] def counted[A](op: String)(body: => A): A = {
    if (depth.get == 0) counters(op).incrementAndGet()
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }

  /** `pbfs://` URI of a local directory. */
  def uri(localDir: String): String =
    s"$Scheme://" + new java.io.File(localDir).getAbsolutePath
}

/** Local disk under the `pbfs://` scheme, counting the requests an
  * object store would bill: list, open, create, stat (status and
  * existence probes), delete and rename. Rename is copy+delete, as on
  * an object store, so a rename-based protocol pays its real cost in
  * time. Register with `fs.pbfs.impl`. */
class CountingFs extends RawLocalFileSystem {
  import CountingFs.counted

  override def getScheme: String = CountingFs.Scheme
  override def getUri: URI = URI.create(s"${CountingFs.Scheme}:///")

  override def listStatus(f: Path): Array[FileStatus] =
    counted("list")(super.listStatus(f))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted("open")(super.open(f, bufferSize))

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted("create")(super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create")(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted("create")(super.createNonRecursive(f, permission, flags,
      bufferSize, replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted("create")(super.createNonRecursive(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))

  override def getFileStatus(f: Path): FileStatus =
    counted("stat")(super.getFileStatus(f))

  override def exists(f: Path): Boolean =
    counted("stat")(super.exists(f))

  override def delete(f: Path, recursive: Boolean): Boolean =
    counted("delete")(super.delete(f, recursive))

  override def rename(src: Path, dst: Path): Boolean =
    counted("rename")(FileUtil.copy(this, src, this, dst, true, getConf))
}
