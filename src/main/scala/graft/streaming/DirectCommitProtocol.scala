package graft.streaming

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

import graft.sources.ZoneMaps

/** Direct-write commit protocol for Deliver's writes — the pattern of
  * Spark's streaming-sink `ManifestFileCommitProtocol`. Tasks write
  * final-named files straight into the output directory: no `_temporary`
  * attempt tree, no task or job commit renames, no `_SUCCESS`. Each task
  * returns the files it wrote, with their footer zone stats, in its
  * `TaskCommitMessage`, so the caller gets the job's file list from
  * [[DirectCommitProtocol.run]] without listing the output or opening a
  * footer on the driver. Files of a failed task attempt never reach a
  * commit message (and the attempt deletes them, best effort).
  *
  * Visibility and replay are the caller's: Deliver writes the lake's files
  * into a batch-scoped `_staging` dir and promotes them under a write-ahead
  * intent, and writes its DLQ/backup into a batch-scoped dir it clears
  * first, so a replay replaces a crashed attempt's output.
  *
  * Spark instantiates the class from the session conf
  * `spark.sql.sources.commitProtocolClass`, which [[DirectCommitProtocol.run]]
  * sets only around the write. A write that reaches this class without a
  * plan registered for its output path (a foreign writer on the same
  * session inside that window) runs Spark's default protocol unchanged.
  */
class DirectCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends FileCommitProtocol with Serializable {
  import DirectCommitProtocol._

  private val plan: Option[Plan] = Option(plans.get(path))
  private val default: FileCommitProtocol =
    if (plan.isEmpty) new SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite)
    else null

  @transient private var written: ArrayBuffer[(String, String)] = _ // (file, partition dir)

  override def setupJob(job: JobContext): Unit = if (default != null) default.setupJob(job)

  override def commitJob(job: JobContext, commits: Seq[TaskCommitMessage]): Unit =
    if (default != null) default.commitJob(job, commits)
    else { done.put(path, commits.flatMap(_.obj.asInstanceOf[Seq[Staged]])); () }

  override def abortJob(job: JobContext): Unit = if (default != null) default.abortJob(job)

  override def setupTask(task: TaskAttemptContext): Unit =
    if (default != null) default.setupTask(task) else written = ArrayBuffer.empty

  override def newTaskTempFile(task: TaskAttemptContext, dir: Option[String],
      spec: FileNameSpec): String =
    if (default != null) default.newTaskTempFile(task, dir, spec)
    else {
      // a fresh uuid per file: names stay unique in a flat dir (Spark's own
      // names repeat across partition dirs) and across task attempts
      val split = task.getTaskAttemptID.getTaskID.getId
      val name = f"${spec.prefix}part-$split%05d-${UUID.randomUUID}${spec.suffix}"
      val parent = if (plan.get.flat) new HPath(path) else dir.fold(new HPath(path))(new HPath(path, _))
      val file = new HPath(parent, name).toString
      written += file -> dir.getOrElse("")
      file
    }

  override def newTaskTempFileAbsPath(task: TaskAttemptContext, absoluteDir: String,
      spec: FileNameSpec): String =
    if (default != null) default.newTaskTempFileAbsPath(task, absoluteDir, spec)
    else throw new UnsupportedOperationException(
      "direct-write commits do not place files at custom partition locations")

  override def commitTask(task: TaskAttemptContext): TaskCommitMessage =
    if (default != null) default.commitTask(task)
    else new TaskCommitMessage(written.toSeq.map { case (f, d) =>
      Staged(f, d, harvest(task, f, plan.get.zoneCols))
    })

  override def abortTask(task: TaskAttemptContext): Unit =
    if (default != null) default.abortTask(task)
    else written.foreach { case (f, _) =>
      val p = new HPath(f)
      try p.getFileSystem(task.getConfiguration).delete(p, false)
      catch { case scala.util.control.NonFatal(_) => false }
    }

  override def onTaskCommit(msg: TaskCommitMessage): Unit =
    if (default != null) default.onTaskCommit(msg)
}

object DirectCommitProtocol {

  /** One file a task wrote: where it is, the partition dir (`k=v/…`, empty
    * when unpartitioned) it belongs under, and its footer zone stats.
    */
  final case class Staged(file: String, partDir: String,
      zones: Map[String, ZoneMaps.ColZone])

  /** `flat`: every file goes directly under the output dir (one directory
    * to create, however many partitions); the partition dir travels in
    * [[Staged.partDir]]. Otherwise files go under their partition dirs.
    */
  private final case class Plan(flat: Boolean, zoneCols: Seq[String])

  private val plans = new ConcurrentHashMap[String, Plan]
  private val done = new ConcurrentHashMap[String, Seq[Staged]]

  /** The session conf that selects this protocol. Deliver sets it only
    * around its own writes, under its session-conf lock, and restores it.
    */
  private[streaming] val SessionConf: (String, String) =
    "spark.sql.sources.commitProtocolClass" -> classOf[DirectCommitProtocol].getName

  /** Footer zone stats for one just-written file, read inside the task.
    * Advisory like every zone map: an unreadable footer leaves the file
    * without stats (never pruned), it never fails the write.
    */
  private def harvest(task: TaskAttemptContext, file: String,
      cols: Seq[String]): Map[String, ZoneMaps.ColZone] =
    if (cols.isEmpty) Map.empty
    else try ZoneMaps.fileStats(task.getConfiguration, file, cols)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft] WARNING: zone-map harvest skipped unreadable " +
        s"footer $file (${e.getMessage}) — the file is kept unpruned")
      Map.empty
    }

  /** Run `write` — a parquet write into the qualified dir `out`, with
    * [[SessionConf]] set — and return the files its tasks committed.
    */
  private[streaming] def run(out: HPath, flat: Boolean, zoneCols: Seq[String])(
      write: => Unit): Seq[Staged] = {
    val key = out.toString
    plans.put(key, Plan(flat, zoneCols))
    try {
      write
      Option(done.remove(key)).getOrElse(throw new IllegalStateException(
        s"the write to $key did not run the direct-write commit protocol"))
    } finally { plans.remove(key); done.remove(key); () }
  }
}
