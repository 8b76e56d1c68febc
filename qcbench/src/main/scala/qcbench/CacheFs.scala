package qcbench

import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system under its own scheme, `qcfile`. The benchmark
  * roots every durable cache here, so Hadoop's per-scheme storage
  * statistics separate cache-layer I/O (`qcfile`) from source-table I/O
  * (`file`) without touching the program. File creations, renames,
  * deletions and directory creations count as write operations. */
final class CacheFs extends RawLocalFileSystem {
  override def getScheme: String = CacheFs.Scheme
  override def getUri: URI = URI.create(s"${CacheFs.Scheme}:///")

  private def op(): Unit = statistics.incrementWriteOps(1)

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    op()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { op(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { op(); super.delete(p, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    op()
    super.mkdirs(f, permission)
  }
}

object CacheFs {
  val Scheme = "qcfile"

  /** (bytes read, bytes written, write operations) so far, JVM-wide. */
  def counters(): (Long, Long, Long) = {
    val s = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get(Scheme)
    def g(k: String): Long =
      if (s == null) 0L else Option(s.getLong(k)).map(_.longValue).getOrElse(0L)
    (g("bytesRead"), g("bytesWritten"), g("writeOps"))
  }
}
