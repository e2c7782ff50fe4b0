package perfbench

import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with per-call counters, installed for traced
  * runs as the `file:` scheme implementation. Counts are kept globally
  * and per calling thread, so a span can read the filesystem calls its
  * own thread made (driver-side control-plane work: mutex and manifest
  * creates, listings, renames, journal appends), while task-side I/O
  * shows only in the totals.
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs.{read, write}

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { read(); super.open(f, bufferSize) }
  override def listStatus(f: Path): Array[FileStatus] = { read(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { read(); super.getFileStatus(f) }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    write(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    write(); super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { write(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { write(); super.delete(f, recursive) }
  override def mkdirs(f: Path): Boolean = { write(); super.mkdirs(f) }
}

object CountingLocalFs {
  val readOps = new AtomicLong
  val writeOps = new AtomicLong
  private val perThread = ThreadLocal.withInitial[Array[Long]](() => Array(0L))

  /** Filesystem calls made so far on the current thread. */
  def threadOps(): Long = perThread.get()(0)

  private def read(): Unit = { readOps.incrementAndGet(); perThread.get()(0) += 1 }
  private def write(): Unit = { writeOps.incrementAndGet(); perThread.get()(0) += 1 }

  /** Bytes written through every `file:` filesystem instance (Hadoop's
    * own per-scheme statistics, which the raw local filesystem keeps).
    */
  def bytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }
}
