package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

object Stats {
  /** Nearest-rank percentile; NaN on no samples. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val a = xs.toArray
    if (a.isEmpty) Double.NaN
    else {
      java.util.Arrays.sort(a)
      a(math.min(a.length - 1, math.max(0, math.ceil(p / 100.0 * a.length).toInt - 1)))
    }
  }
  def p50(xs: Iterable[Double]): Double = pct(xs, 50)
  def nowMs(): Long = System.currentTimeMillis()
  def nanoMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  private val t00 = System.nanoTime()
  /** A progress line on stderr (the run log), stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${nanoMs(t00) / 1000}%7.2f s] $msg")
}

/** Spans around the bench's own calls into each layer. Kept in memory,
  * written out at the end. A span's Spark jobs are attached through the
  * `perfbench.span` local property; streaming batches become spans of their
  * own (named by query), with their jobs attached through the batch id.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, trace: Long, parent: Long, name: String,
      startNs: Long, endNs: Long)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val mute = new ThreadLocal[Boolean] { override def initialValue(): Boolean = false }

  /** Run `f` on this thread with no spans recorded (to time tracing's own cost). */
  def muted[T](f: => T): T = {
    mute.set(true)
    try f finally mute.set(false)
  }

  def span[T](sc: SparkContext, name: String)(f: => T): T =
    if (!enabled || mute.get) f
    else {
      val id = ids.getAndIncrement()
      val outer = stack.get()
      val (parent, trace) = outer.headOption.getOrElse((0L, id))
      stack.set((id, trace) :: outer)
      val prevProp = sc.getLocalProperty(Tracer.Prop)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, trace, parent, name, t0, System.nanoTime()))
        sc.setLocalProperty(Tracer.Prop, prevProp)
        stack.set(outer)
      }
    }

  /** A span whose interval was measured elsewhere (a streaming batch). */
  def record(key: String, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      val id = batchSpanId(key)
      spans.add(Span(id, id, 0L, name, startNs, endNs))
      ()
    }
  private val batchIds = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def batchSpanId(key: String): Long =
    batchIds.computeIfAbsent(key, _ => ids.getAndIncrement())

  /** Per span name: (calls, mean self ms, mean Spark-job ms). Self time is
    * the span's duration minus the union of its child spans and jobs.
    */
  def selfTimes(jobs: Seq[(Long, Long, Long)]): Map[String, (Int, Double, Double)] = {
    val all = spans.asScala.toSeq
    val children: Map[Long, Seq[(Long, Long)]] =
      (all.filter(_.parent != 0).map(s => s.parent -> (s.startNs, s.endNs)) ++
        jobs.map { case (p, s, e) => p -> (s, e) }).groupMap(_._1)(_._2)
    val jobByParent = jobs.groupMap(_._1)(j => (j._2, j._3))
    all.groupBy(_.name).map { case (name, ss) =>
      val self = ss.map { s =>
        val covered = Tracer.union(children.getOrElse(s.id, Nil)
          .map { case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs)) }
          .filter { case (a, b) => b > a })
        (s.endNs - s.startNs - covered) / 1e6
      }
      val jobMs = ss.map(s => Tracer.union(jobByParent.getOrElse(s.id, Nil)) / 1e6)
      name -> (ss.size, self.sum / ss.size, jobMs.sum / ss.size)
    }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"trace":${s.trace},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Tracer {
  val Prop = "perfbench.span"
  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Engine counters from a SparkListener: jobs, stages, tasks, shuffle and
  * spill bytes and task busy time while `counting`, and every job's interval
  * (for driver gaps and spans), keyed to the streaming query (and batch) or
  * bench span that ran it.
  */
final class EngineListener extends SparkListener {
  final case class Job(id: Int, startNs: Long, var endNs: Long, query: String,
      batch: String, span: Long)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new AtomicLong()
  val tasks = new AtomicLong()
  val shuffleWrite = new AtomicLong()
  val shuffleRead = new AtomicLong()
  val spill = new AtomicLong()
  val taskRunMs = new AtomicLong()
  @volatile var counting = false

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, System.nanoTime(), 0L, prop("sql.streaming.queryId"),
      prop("streaming.sql.batchId"), scala.util.Try(prop(Tracer.Prop).toLong).getOrElse(0L)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endNs = System.nanoTime())
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (counting) { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (counting) {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      taskRunMs.addAndGet(m.executorRunTime)
    }
  }
  def allJobs: Seq[Job] = jobs.values().asScala.toSeq.filter(_.endNs > 0)
  def jobsBetween(t0Ns: Long, t1Ns: Long): Seq[Job] =
    allJobs.filter(j => j.startNs >= t0Ns && j.startNs <= t1Ns)
  def reset(): Unit = Seq(stages, tasks, shuffleWrite, shuffleRead, spill, taskRunMs).foreach(_.set(0))
}

/** Per-query StreamingQueryProgress records. */
final class StreamListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  @volatile var failure: Option[String] = None
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = { progress.add(e.progress); () }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    e.exception.foreach(x => failure = Some(x.take(2000)))
  def of(id: java.util.UUID): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.asScala.toSeq.filter(_.id == id)
}

/** Filesystem calls (counted by [[CountingLocalFs]]) and bytes (Hadoop's
  * global statistics, summed over schemes).
  */
object FsStats {
  final case class Snap(readOps: Long, writeOps: Long, bytesRead: Long, bytesWritten: Long) {
    def -(o: Snap): Snap = Snap(readOps - o.readOps, writeOps - o.writeOps,
      bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  }
  def snap(): Snap = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Snap(CountingLocalFs.readOps.get, CountingLocalFs.writeOps.get,
      all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }
}

object JvmStats {
  import java.lang.management.ManagementFactory
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
  def startMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
