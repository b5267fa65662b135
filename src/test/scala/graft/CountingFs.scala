package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem,
  LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession

/** The local filesystem with counters for the metadata calls a spec pins:
  * creates, renames and mkdirs; listings of a `_staging` dir; parquet
  * opens outside any Spark task (footer reads on the driver); and opens of
  * manifest files. Installed on
  * a session by [[CountingFs.counting]].
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    // the checksummed local FS mkdirs the parent of every file it creates;
    // only a caller's own mkdirs count
    inCreate.set(true)
    try super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    finally inCreate.set(false)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet(); super.rename(src, dst)
  }
  override def mkdirs(f: Path): Boolean = { mkdir(); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mkdir(); super.mkdirs(f, permission)
  }
  private def mkdir(): Unit = if (!inCreate.get) { mkdirsN.incrementAndGet(); () }
  override def listStatus(f: Path): Array[FileStatus] = {
    listed(f); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    listed(f); super.listLocatedStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName.endsWith(".parquet") && TaskContext.get() == null)
      driverParquetOpens.incrementAndGet()
    if (f.getName.startsWith("manifest-")) manifestOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
  private def listed(f: Path): Unit =
    if (f.toUri.getPath.contains("/_staging")) stageListings.incrementAndGet()
}

object CountingFs {
  private val creates, renames, mkdirsN, stageListings, driverParquetOpens, manifestOpens =
    new AtomicLong
  private val inCreate = ThreadLocal.withInitial[Boolean](() => false)

  final case class Counts(creates: Long, renames: Long, mkdirs: Long, stageListings: Long,
      driverParquetOpens: Long, manifestOpens: Long)

  /** Run `body` with `file:` paths resolved through this class on
    * `spark`'s Hadoop confs (uncached, so the session's own instances are
    * not reused), and return what it counted. Specs run one at a time, so
    * the counters are global.
    */
  def counting[T](spark: SparkSession)(body: => T): (T, Counts) = {
    Seq(creates, renames, mkdirsN, stageListings, driverParquetOpens, manifestOpens)
      .foreach(_.set(0))
    spark.conf.set("fs.file.impl", classOf[CountingFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try {
      val r = body
      (r, Counts(creates.get, renames.get, mkdirsN.get, stageListings.get,
        driverParquetOpens.get, manifestOpens.get))
    } finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }
}
