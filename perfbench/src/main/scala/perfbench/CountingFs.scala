package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local `file:` file system with a count of its control- and
  * data-plane calls. Hadoop's storage statistics for `file:` carry bytes
  * but no operation counts, so the benchmark installs this class as the
  * `file` scheme (`spark.hadoop.fs.file.impl`) before the session starts;
  * it changes nothing but the counts.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs.count

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count("open"); super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    count("create"); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = { count("rename"); super.rename(src, dst) }

  override def delete(f: Path, recursive: Boolean): Boolean = { count("delete"); super.delete(f, recursive) }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    count("mkdirs"); super.mkdirs(f, permission)
  }

  override def listStatus(f: Path): Array[FileStatus] = { count("list_status"); super.listStatus(f) }

  override def getFileStatus(f: Path): FileStatus = { count("get_file_status"); super.getFileStatus(f) }
}

object CountingFs {
  val Ops: Seq[String] = Seq("open", "create", "rename", "delete", "mkdirs", "list_status", "get_file_status")
  private val counters: Map[String, AtomicLong] = Ops.map(_ -> new AtomicLong).toMap

  private def count(op: String): Unit = counters(op).incrementAndGet(): Unit

  /** The counts so far, keyed `op_<name>`. */
  def snapshot(): Map[String, Long] = counters.map { case (k, v) => s"op_$k" -> v.get }
}
