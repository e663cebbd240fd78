package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Hadoop's local filesystem, unchanged except that every call which
  * would be a round trip to a remote store — open, create, list, stat,
  * rename, delete, mkdirs — is counted as a read or a write operation
  * (the stock local filesystem's statistics count only bytes).
  * Installed for `file:` paths by the harness's `core-site.xml`. */
object CountingLocalFileSystem {
  val readOps = new java.util.concurrent.atomic.AtomicLong()
  val writeOps = new java.util.concurrent.atomic.AtomicLong()
}

class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  private def read(): Unit = readOps.incrementAndGet()
  private def write(): Unit = writeOps.incrementAndGet()

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { read(); super.open(f, bufferSize) }
  override def listStatus(f: Path): Array[FileStatus] = { read(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { read(); super.getFileStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    write(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { write(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { write(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { write(); super.mkdirs(f, permission) }
}
