package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The traced run's `file://` filesystem: counts every metadata call,
  * open, create, rename, delete and mkdirs, then delegates unchanged.
  * Both `mkdirs` overloads are counted: `ChecksumFileSystem` forwards the
  * one-argument `mkdirs(Path)` straight to the raw filesystem, so counting
  * only `mkdirs(Path, FsPermission)` misses most directory creations.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def getFileStatus(f: Path): FileStatus = {
    meta.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    meta.incrementAndGet(); super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = {
    mkdirsCount.incrementAndGet(); super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mkdirsCount.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingFs {
  val meta = new AtomicLong
  val opens = new AtomicLong
  val creates = new AtomicLong
  val renames = new AtomicLong
  val deletes = new AtomicLong
  val mkdirsCount = new AtomicLong

  /** (meta, open, create, rename, delete, mkdirs) so far. */
  def snapshot(): Seq[Long] = Seq(meta.get, opens.get, creates.get,
    renames.get, deletes.get, mkdirsCount.get)

  /** Bytes read and written through `file://` so far, from Hadoop's own
    * per-scheme statistics (kept with or without this class installed).
    */
  def bytesReadWritten(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}
