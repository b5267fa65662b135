package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one run measured: metrics by name (value, unit), operation counts,
  * output checks and provenance. Written as one JSON object for `run.py`.
  */
final class Result {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val info = mutable.LinkedHashMap[String, String]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  def m(name: String, value: Double, unit: String): Unit = { metrics(name) = (value, unit); () }

  def json: String = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.map { case (k, (v, u)) => s"""${q(k)}:{"value":${num(v)},"unit":${q(u)}}""" }
    val cs = checks.map { case (k, ok, d) => s"""{"name":${q(k)},"ok":$ok,"detail":${q(d)}}""" }
    val in = info.map { case (k, v) => s"${q(k)}:${q(v)}" }
    s"""{"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}},""" +
      s""""checks":[${cs.mkString(",")}],"failures":[${failures.take(20).map(q).mkString(",")}],""" +
      s""""info":{${in.mkString(",")}}}"""
  }
}

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload cdc_live|lake_replay_read --seed N --seconds S --trace 0|1
  *      --work DIR --out FILE
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = Stats.nowMs()

    val engine = new EngineListener
    spark.sparkContext.addSparkListener(engine)
    val streams = new StreamListener
    spark.streams.addListener(streams)
    val tracer = new Tracer(trace)

    val res = new Result
    res.info("workload") = workload
    res.info("seed") = seed.toString
    res.info("seconds") = seconds.toString
    res.info("trace") = if (trace) "1" else "0"
    res.info("nproc") = cores.toString
    res.info("master") = s"local[$cores]"
    res.info("heap_max_mb") = (Runtime.getRuntime.maxMemory / 1048576).toString
    res.info("spark") = spark.version
    val jvmStartS = (sessionReadyMs - JvmStats.startMs()) / 1000.0

    try {
      val ctx = Ctx(spark, engine, streams, tracer, seed, seconds, work, res, jvmStartS)
      workload match {
        case "cdc_live" => Workloads.cdcLive(ctx)
        case "lake_replay_read" => Workloads.lakeReplayRead(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      if (trace) {
        val jobs = engine.allJobs.filter(_.span != 0).map(j => (j.span, j.startNs, j.endNs)) ++
          engine.allJobs.filter(_.query.nonEmpty).map(j =>
            (tracer.batchSpanId(s"${j.query}/${j.batch}"), j.startNs, j.endNs))
        tracer.selfTimes(jobs).toSeq.sortBy(_._1).foreach { case (name, (n, self, jobMs)) =>
          res.m(s"trace.$name.calls", n, "count")
          res.m(s"trace.$name.self_ms", self, "ms")
          res.m(s"trace.$name.jobs_ms", jobMs, "ms")
        }
        val spanFile = s"${opt("out")}.spans.jsonl"
        tracer.write(spanFile)
        res.info("spans_file") = spanFile
        res.info("spans") = tracer.spans.size.toString
      }
    } catch {
      case e: Throwable =>
        res.checks += (("workload_completed", false, s"${e.getClass.getName}: ${e.getMessage}".take(2000)))
        e.printStackTrace()
    }
    res.m("rss_peak_mb", JvmStats.vmHwmMb(), "MB")
    val w = new java.io.PrintWriter(opt("out"), "UTF-8")
    try w.println(res.json) finally w.close()
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    spark.stop()
  }
}

final case class Ctx(spark: SparkSession, engine: EngineListener, streams: StreamListener,
    tracer: Tracer, seed: Long, seconds: Int, work: String, res: Result, jvmStartS: Double) {
  def dirs(name: String): Dirs = Dirs(s"$work/$name")
  def pipeline(name: String, traced: Boolean = true): Pipeline =
    new Pipeline(spark, dirs(name), if (traced) tracer else new Tracer(false), engine, streams, seed)
}
