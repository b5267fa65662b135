package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem,
  LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with call counters, installed as `fs.file.impl` so
  * every Hadoop `FileSystem` call the engine makes on `file:` paths is
  * counted. The local filesystem keeps no op counts of its own.
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    readOps.incrementAndGet(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    readOps.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    readOps.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    readOps.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writeOps.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writeOps.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writeOps.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = {
    writeOps.incrementAndGet(); super.mkdirs(f)
  }
}

object CountingLocalFs {
  val readOps = new AtomicLong()
  val writeOps = new AtomicLong()
}
