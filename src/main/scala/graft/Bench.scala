package graft
import org.apache.spark.sql.SparkSession
import graft.queries.Registry

/** Benchmark main: runs the headline query set (Registry entries flagged
  * `bench`) on SPARK_GRAFT_SF_DIR and prints one JSON metrics line.
  * Each query is forced end-to-end with a noop sink (so projections and
  * sorts are not pruned away by a count-only action).
  */
object Bench {

  /** One timed run. A run that throws is a failed sample, never a fast one. */
  private[graft] final case class Sample[M](sec: Double, metrics: M, error: Option[Throwable])

  /** Time `run` once, keeping what it threw. */
  private[graft] def timeOnce(run: () => Unit): (Double, Option[Throwable]) = {
    val t0 = System.nanoTime()
    val error = try { run(); None } catch { case e: Throwable => Some(e) }
    ((System.nanoTime() - t0) / 1e9, error)
  }

  /** What [[robust]] recorded: the median and the times of the runs that
    * succeeded (None when none did), their metrics, and the failures.
    */
  private[graft] final case class Robust[M](median: Option[Double], secs: Seq[Double],
      metrics: Seq[M], failures: Seq[Throwable])

  /** The robust-median policy: one unrecorded warm-up, then the median of 3
    * runs — one run can absorb sandbox contention (round 3 recorded a 7×
    * phantom regression); the median rejects one-sided outliers while still
    * reflecting real latency. 2 more runs when the 3 spread past 3× (a
    * contended box: rounds 3-4 both recorded >5× swings minutes after the
    * test suite; a quiet rerun is flat) or their median is under a second
    * (r11 variance gate: r10's q04 swung +45% median-to-median on
    * byte-identical shuffle profiles — sub-second medians of 3 are dominated
    * by scheduler jitter, and 5 samples reject it). Failed runs stay out of
    * the median and of the spread test: a query that throws fast must not
    * read as a fast query.
    */
  private[graft] def robust[M](timed: () => Sample[M]): Robust[M] = {
    // one UNRECORDED warmup at the target SF: the sf0.001 pass warms
    // codegen but not this SF's data/page-cache path — round 5's q47 runs
    // [7.5, 3.8, 3.2] show the first cold run inflating the spread the
    // outlier guard then has to reason about
    timed()
    def okSecs(xs: Seq[Sample[M]]) = xs.filter(_.error.isEmpty).map(_.sec).sorted
    val first = (1 to 3).map(_ => timed())
    val f = okSecs(first)
    val all = if (f.nonEmpty && (f.max / f.min > 3.0 || f(f.size / 2) < 1.0))
                first ++ (1 to 2).map(_ => timed())
              else first
    val ok = all.filter(_.error.isEmpty)
    val secs = okSecs(all)
    Robust(secs.lift(secs.size / 2), ok.map(_.sec), ok.map(_.metrics), all.flatMap(_.error))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // the sf tables are single small files; split them finer than the
      // 128 MB default so scans parallelize across local cores
      .config("spark.sql.files.maxPartitionBytes", "2097152")
      .config("spark.sql.files.openCostInBytes", "131072")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Per-query shuffle/spill attribution (r6 verdict ask: wall-time noise
    // has repeatedly masked plan questions — shuffle volume is the stable
    // signal). A task-end listener accumulates bytes; the bus is drained
    // after each run so deltas attribute to the right query.
    val accWrite = new java.util.concurrent.atomic.AtomicLong
    val accRead = new java.util.concurrent.atomic.AtomicLong
    val accSpill = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          accWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          accRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          accSpill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          ()
        }
      }
    })
    final case class RunMetrics(shuffleWrite: Long, shuffleRead: Long, spill: Long)
    def metricsSnapshot(): RunMetrics = {
      org.apache.spark.graftbridge.ListenerBridge.flushListeners(spark.sparkContext)
      RunMetrics(accWrite.get, accRead.get, accSpill.get)
    }

    // Fixed-work CALIBRATION probe (r12 verdict ask #3): three rounds of
    // phantom min-regressions (r10–r12) were box drift, not code — each
    // sandbox round runs on different hardware/contention and raw
    // wall-clock mins are incomparable across boxes. This deterministic
    // CPU+shuffle microbenchmark (codegen'd hash fold + a 32-way
    // repartition count — no I/O, no data dependence) measures THIS box's
    // speed; the min-regression gate below normalizes by the ratio to the
    // committed baseline's calibration, so a uniformly-slower box stays
    // quiet while a single-query code regression still fires.
    def calibrate(): Double = {
      import org.apache.spark.sql.functions.{col, sum, xxhash64, pmod, lit}
      def once(): Double = {
        val t0 = System.nanoTime()
        // pmod keeps the sum far from Long overflow — ANSI mode's addExact
        // throws on a raw sum of 20M full-range hashes
        spark.range(20000000L)
          .select(sum(pmod(xxhash64(col("id") * 7), lit(1000000L)))).collect()
        spark.range(2000000L)
          .repartition(32, pmod(col("id"), lit(4096)))
          .groupBy(pmod(col("id"), lit(4096))).count()
          .agg(sum(col("count"))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      once() // unrecorded JIT warm-up
      (1 to 3).map(_ => once()).min // min = least-contended estimate
    }

    // MICRO-calibration (r13 verdict ask #4): the r13 gate calibrated at
    // the suite's EDGES, so contention that varied DURING the suite (the
    // driver's r13 run: loadavg 7.5 mid-run, both edge probes fast)
    // produced phantom per-query flags. A 1/10-work probe interleaves
    // between headline queries; each query's min normalizes by its
    // NEAREST probe (min of the probes just before/after it), so the
    // gate sees the box speed AT THE TIME THE QUERY RAN.
    def microCal(): Double = {
      import org.apache.spark.sql.functions.{col, sum, xxhash64, pmod, lit}
      // HALF the edge probe's work, not 1/10: the first cut's 2M-row probe
      // was dominated by job-scheduling overhead and barely felt a 16-core
      // busy-loop that slowed the real queries ~10-15% — the probe must
      // saturate the cores long enough to feel what the queries feel
      val t0 = System.nanoTime()
      spark.range(10000000L)
        .select(sum(pmod(xxhash64(col("id") * 7), lit(1000000L)))).collect()
      spark.range(1000000L)
        .repartition(32, pmod(col("id"), lit(4096)))
        .groupBy(pmod(col("id"), lit(4096))).count()
        .agg(sum(col("count"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    def load1(): Double = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .trim.split("\\s+")(0).toDouble
    } catch { case _: Throwable => -1.0 }
    val probes = scala.collection.mutable.ArrayBuffer[Double]()
    val probeLoads = scala.collection.mutable.ArrayBuffer[Double]()
    // each probe sample: gc first (the query timings get the same
    // quiesce — without it a probe right after a heavy query absorbs its
    // garbage), then the min of TWO back-to-back runs (a one-off hiccup
    // is rejected; a genuine background load slows both)
    def probe(): Unit = {
      System.gc()
      probes += math.min(microCal(), microCal())
      probeLoads += load1()
      ()
    }

    // Optional name filter (comma-separated prefixes) for partial-table SF
    // instances — e.g. data/sf10 carries only documents+embeddings, so the
    // scale runs bench just the corpus/ANN family there. Unset = full set.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val headline = Registry.all.filter(_.bench)
      .filter(q => only.forall(_.exists(q.name.startsWith)))
    // JVM/codegen warm-up on the smallest SF so measured times reflect
    // steady-state execution, not first-query classloading.
    headline.foreach { q =>
      try q.run(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // calibration AFTER warm-up (JIT-steady) and again after the suite:
    // the min of the two is the box-speed estimate for the whole window
    val calBefore = calibrate()
    // report steady-state latency by the robust-median policy. All raw
    // runs ship in the JSON so noise stays visible, never silently folded.
    def timed(run: () => Unit): Sample[RunMetrics] = {
      System.gc() // quiesce: don't bill query N for query N-1's garbage
      val before = metricsSnapshot()
      val (sec, error) = timeOnce(run)
      val after = metricsSnapshot()
      Sample(sec, RunMetrics(after.shuffleWrite - before.shuffleWrite,
        after.shuffleRead - before.shuffleRead, after.spill - before.spill), error)
    }
    def medL(xs: Seq[Long]): Long = if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)
    def medMetrics(ms: Seq[RunMetrics]): RunMetrics =
      RunMetrics(medL(ms.map(_.shuffleWrite)), medL(ms.map(_.shuffleRead)), medL(ms.map(_.spill)))
    // failed runs per segment, for the detail record
    val failedRuns = scala.collection.mutable.LinkedHashMap[String, Int]()
    def noteFailures(name: String, r: Robust[RunMetrics]): Unit =
      r.failures.headOption.foreach { e =>
        failedRuns(name) = r.failures.size
        System.err.println(s"[bench] $name: ${r.failures.size} run(s) failed " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage})" +
          (if (r.median.isEmpty) " — recorded as failed (-1)" else " — left out of the median"))
      }
    // Per-query record: (name, median, raw runs, shuffle metrics, local
    // micro-cal = min(nearest probes), 1-min loadavg at completion).
    // local probe estimate = the MORE contended of the two adjacent probes
    // (max): the query's min is taken from runs BETWEEN them, and a short
    // probe that slips through a scheduling window must not under-report
    // the contention the query's longer tasks felt
    microCal() // unrecorded micro-probe JIT warm-up
    probe()
    val results = headline.map { q =>
      val before = probes.last
      val r = robust(() => timed(() =>
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()))
      probe()
      noteFailures(q.name, r)
      (q.name, r.median.getOrElse(-1.0), r.secs, medMetrics(r.metrics),
        math.max(before, probes.last), probeLoads.last)
    }
    // Streaming deliver segment at the reference's batch size: BASELINE.md
    // pins 2.1 s for transform+write of a 2.79 MB buffer (README.md:359);
    // measure our micro-batch transform → partitioned parquet write on a
    // wire-record batch of matched byte size.
    val dCalBefore = probes.last
    val deliverSec = if (only.exists(!_.exists("stream_deliver_2p79mb".startsWith(_))))
      (-2.0, Seq.empty[Double], RunMetrics(0, 0, 0))
    else try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      val base = java.nio.file.Files.createTempDirectory("graft-bench-dlv-").toString
      val events = Registry.tbl(spark, sfDir, "events")
      val sample = graft.sources.ShardedLog.fromEvents(events.limit(1000))
      val avgLen = sample.agg(avg(length(col("data")))).head().getDouble(0)
      val n = math.ceil(2.79e6 / avgLen).toLong
      graft.sources.ShardedLog.put(
        graft.sources.ShardedLog.fromEvents(events.limit(n.toInt)), s"$base/log")
      val payloadSchema = StructType(Seq(
        StructField("data", StructType(Seq(
          StructField("id", LongType), StructField("status", StringType),
          StructField("value", DoubleType), StructField("ts", TimestampType),
          StructField("event_id", LongType)))),
        StructField("metadata", StructType(Seq(StructField("op", StringType))))))
      def deliverOnce(log: String, out: String): Unit = {
        val q = graft.streaming.Deliver.start(
          graft.sources.ShardedLog.readStream(spark, log), payloadSchema,
          graft.streaming.Deliver.Config(s"$out/lake", s"$out/ck", compact = true,
            partitionByProcessingTime = true, // reference semantics: one hour folder per flush
            trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow()))
        q.awaitTermination()
      }
      // warm the streaming machinery (the managed-service baseline is
      // steady-state), then the same robust-median policy as the query
      // benchmarks (each run gets fresh lake/checkpoint dirs, so no run
      // sees another's state)
      graft.sources.ShardedLog.put(
        graft.sources.ShardedLog.fromEvents(events.limit(100)), s"$base/warmlog")
      deliverOnce(s"$base/warmlog", s"$base/warm")
      val ctr = new java.util.concurrent.atomic.AtomicInteger(0)
      val r = robust(() => timed(() =>
        deliverOnce(s"$base/log", s"$base/run${ctr.incrementAndGet()}")))
      // a FAILED delivery must not silently shrink the median's sample —
      // surface it as the segment's failure sentinel instead
      r.failures.headOption.foreach(e => throw new RuntimeException(
        s"${r.failures.size} of ${r.failures.size + r.secs.size} deliver runs failed", e))
      (r.median.get, r.secs, medMetrics(r.metrics))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] deliver segment failed: ${e.getMessage}")
      (-1.0, Seq(-1.0), RunMetrics(0, 0, 0))
    }
    if (deliverSec._1 != -2.0) probe()
    val dCal = math.max(dCalBefore, probes.last)
    val dLoad = probeLoads.last

    // PQ serving latency as an INDEX, not a pipeline (r7 verdict ask #7):
    // q105/q106 time build+fit+serve together; the serving claim (codes
    // scan memory-resident, m table lookups per pair, partition-pruned
    // cell reads) deserves its own number. Build the IVF-PQ index once
    // (setup, untimed), then apply the same robust-median policy to
    // repeated query batches against it.
    val pCalBefore = probes.last
    val pqServe = if (only.exists(!_.exists("pq_ivf_serve".startsWith(_))))
      (-2.0, Seq.empty[Double], RunMetrics(0, 0, 0))
    else try {
      import org.apache.spark.sql.functions.col
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val queries = emb.where(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding"))
      val corpus = emb.where(col("vec_id") >= 100)
        .select(col("vec_id").as("id"), col("embedding"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft-bench-pq-")
        .toString + "/index"
      graft.operators.PqIndex.buildPqIvfIndex(corpus, idxDir, dim = 64,
        nlist = 16, m = 8, ksub = 64)
      val r = robust(() => timed(() =>
        graft.operators.PqIndex.pqIvfQuery(queries, idxDir, k = 10, nprobe = 4)
          .write.format("noop").mode("overwrite").save()))
      noteFailures("pq_ivf_serve", r)
      (r.median.getOrElse(-1.0), r.secs, medMetrics(r.metrics))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] pq serve segment failed: ${e.getMessage}")
      (-1.0, Seq(-1.0), RunMetrics(0, 0, 0))
    }
    if (pqServe._1 != -2.0) probe()
    val pCal = math.max(pCalBefore, probes.last)
    val pLoad = probeLoads.last

    // SCALE TIER (r15, verdict ask #6): at sf0.1 the suite is fixed-cost
    // bound — the driver's 8-vs-32-core ratios were all ≤ 1.0, so parallel
    // scaling was unmeasurable. Scale documents+embeddings 10× (sf1) with
    // graft.tools.ScaleData — a PURE function of (source bytes, K): no RNG,
    // no clock, deterministic across runs and boxes — into a temp dir as
    // untimed setup (the pq-index-build precedent), then time two
    // representative CPU-parallel pipelines there (text/dedup: q47;
    // ANN/banding: q102). Results go in an ADDITIVE "sf1" block: the
    // headline "value"/"queries"/"mins" keep exactly their r14 meaning and
    // membership, so round-over-round totals stay comparable.
    // SPARK_GRAFT_SCALE_TIER=off skips the tier; partial-table SF dirs and
    // SPARK_GRAFT_BENCH_ONLY runs skip automatically.
    val sf1 = if (sys.env.get("SPARK_GRAFT_SCALE_TIER").contains("off") ||
        only.nonEmpty ||
        !new java.io.File(s"$sfDir/documents.parquet").exists() ||
        !new java.io.File(s"$sfDir/embeddings.parquet").exists()) None
      else try {
        val t0 = System.nanoTime()
        val dir = java.nio.file.Files.createTempDirectory("graft-bench-sf1-").toString
        graft.tools.ScaleData.scale(spark, sfDir, dir, 10,
          Some(Set("documents", "embeddings")))
        val genSec = (System.nanoTime() - t0) / 1e9
        val names = Seq("q47_corpus_pipeline", "q102_semantic_dedup_scale")
        val rs = names.flatMap(n => Registry.all.find(_.name == n)).map { q =>
          val before = probes.last
          val run = () => q.run(spark, dir).write.format("noop").mode("overwrite").save()
          timed(run) // unrecorded warm run at the tier's own data
          val samples = (1 to 3).map(_ => timed(run))
          samples.flatMap(_.error).headOption.foreach(e => throw new RuntimeException(
            s"${q.name} failed at sf1", e))
          val ts = samples.map(_.sec)
          probe()
          (q.name, ts.sorted.apply(ts.size / 2), ts, math.max(before, probes.last))
        }
        Some((genSec, rs))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] sf1 scale tier failed: ${e.getMessage}")
        None
      }

    val withDeliver = if (deliverSec._1 == -2.0) results
      else results :+ (("stream_deliver_2p79mb", deliverSec._1, deliverSec._2,
        deliverSec._3, dCal, dLoad))
    val all = if (pqServe._1 == -2.0) withDeliver
      else withDeliver :+ (("pq_ivf_serve", pqServe._1, pqServe._2,
        pqServe._3, pCal, pLoad))
    // 3-decimal fixed-point (Locale.ROOT: never a comma decimal separator) —
    // the 9-decimal Double.toString form grew the line past the harness's
    // 2000-char output-tail capture in round 8, truncating two queries out
    // of the committed artifact
    def d3(v: Double): String =
      java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = all.map { case (k, v, _, _, _, _) => "\"" + k + "\":" + d3(v) }
      .mkString("{", ",", "}")
    val mins = all.map { case (k, _, ts, _, _, _) =>
      "\"" + k + "\":" + d3(if (ts.isEmpty) -1.0 else ts.min) }
      .mkString("{", ",", "}")
    val runs = all.map { case (k, _, ts, _, _, _) =>
      "\"" + k + "\":" + ts.map(d3).mkString("[", ",", "]") }.mkString("{", ",", "}")
    // per-query micro-calibration + 1-min loadavg samples (the contention
    // provenance the per-query gate normalizes by)
    val microJson = all.map { case (k, _, _, _, qc, _) =>
      "\"" + k + "\":" + d3(qc) }.mkString("{", ",", "}")
    val loadJson = all.map { case (k, _, _, _, _, ql) =>
      "\"" + k + "\":" + d3(ql) }.mkString("{", ",", "}")
    // Per-query shuffle/spill (bytes, median run) — the round-over-round
    // regression signal: shuffle volume is deterministic where wall time is
    // not. Compared against the committed SHUFFLE_BASELINE.json: >2× growth
    // on a pinned query means a plan changed, not the machine.
    val shuffleJson = all.map { case (k, _, _, m, _, _) =>
      "\"" + k + s"""\":{"write":${m.shuffleWrite},"read":${m.shuffleRead},"spill":${m.spill}}"""
    }.mkString("{", ",", "}")
    val regressions: Seq[String] = {
      val f = new java.io.File("SHUFFLE_BASELINE.json")
      if (!f.exists()) Nil else {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        val entry = """"([^"]+)"\s*:\s*(\d+)""".r
        val baseline = entry.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toLong).toMap
        all.flatMap { case (k, _, _, m, _, _) =>
          baseline.get(k).collect {
            case b if b > 0 && m.shuffleWrite > 2 * b =>
              s""""$k: shuffle write ${m.shuffleWrite} vs baseline $b""""
          }
        }
      }
    }
    regressions.foreach(r => System.err.println(s"[bench] SHUFFLE REGRESSION $r"))
    // second calibration sample after the suite (the box may have heated
    // up or quieted down mid-run); min of the two estimates the window
    val calAfter = calibrate()
    val cal = math.min(calBefore, calAfter)
    // MIN-regression gate (r11, calibration-normalized r13): a query whose
    // best-of-n regresses >20% against the committed MINS_BASELINE.json
    // while its shuffle bytes are UNCHANGED is flagged — min is the
    // contention-free estimator, so a moved min with an identical plan is
    // a real executor-side change (codegen, data volume, decode work).
    // The baseline carries the RECORDING box's calibration under
    // "__calibration"; comparisons scale by this box's ratio to it
    // (clamped to [0.5, 4] so a degenerate calibration sample can't blow
    // the gate wide open or slam it shut), so box drift stays quiet while
    // a single-query code regression still fires.
    var calRatioOut = 1.0
    var calBaseOut = -1.0
    // a min measured under EXTREME load (1-min loadavg above half the
    // worker cores at the query's completion) is unadjudicable — a 16-core
    // busy-loop slows 32-way stages ~1.4× while probes can slip through
    // scheduling windows. Such over-bound mins are DEFERRED (reported
    // separately, not flagged): rerun on a quieter box to adjudicate.
    val contendedMins = scala.collection.mutable.ArrayBuffer[String]()
    val loadCeiling = cpus.toDouble / 2
    val minRegressions: Seq[String] = {
      val f = new java.io.File("MINS_BASELINE.json")
      if (!f.exists()) Nil else {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        val entry = """"([^"]+)"\s*:\s*([0-9.]+)""".r
        val baseline = entry.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
        val calRatio = baseline.get("__calibration") match {
          case Some(bc) if bc > 0 =>
            calBaseOut = bc
            math.min(4.0, math.max(0.5, cal / bc))
          case _ =>
            System.err.println("[bench] WARNING: MINS_BASELINE.json carries " +
              "no __calibration entry — the min-regression gate compares " +
              "RAW cross-box mins (the box-drift false-flag mode); refresh " +
              "the baseline from a bench run so it records this key")
            1.0
        }
        calRatioOut = calRatio
        // PER-QUERY ratio (r14): normalize each query's min by the
        // micro-probes NEAREST to its run against the baseline box's
        // recorded micro-cal — mid-suite contention then scales the
        // bound for exactly the queries it slowed. Falls back to the
        // suite-edge ratio when the baseline predates __microcal.
        val microBase = baseline.get("__microcal").filter(_ > 0)
        if (microBase.isEmpty)
          System.err.println("[bench] NOTE: MINS_BASELINE.json carries no " +
            "__microcal entry — per-query contention normalization falls " +
            "back to the suite-edge ratio; refresh the baseline to record it")
        val shuffleGrew = regressions.map(_.split(":")(0).stripPrefix("\"")).toSet
        all.flatMap { case (k, _, ts, _, qcal, qload) =>
          // floor at 1.0: a probe FASTER than the baseline's must never
          // TIGHTEN the gate below the raw 1.2× bound (probe noise under
          // load did exactly that and produced phantom flags) — contention
          // only ever widens the allowance, never narrows it
          val ratio = microBase match {
            case Some(mb) => math.min(4.0, math.max(1.0, qcal / mb))
            case None => math.max(1.0, calRatio)
          }
          baseline.get(k).flatMap {
            case b if ts.nonEmpty && b > 0 && ts.min > 1.2 * b * ratio && !shuffleGrew(k) =>
              val msg =
                f""""$k: min ${ts.min}%.3f vs baseline $b%.3f (shuffle unchanged, cal ratio $ratio%.2f, load $qload%.1f)""""
              if (qload > loadCeiling) { contendedMins += msg; None }
              else Some(msg)
            case _ => None
          }
        }
      }
    }
    minRegressions.foreach(r => System.err.println(s"[bench] MIN REGRESSION $r"))
    contendedMins.foreach(r => System.err.println(
      s"[bench] CONTENDED MIN (deferred, load > ${loadCeiling.toInt}) $r"))
    // a failed segment (-1) is reported as such, never summed as time
    val total = all.map(_._2).filter(_ >= 0).sum
    // the headline micro-cal (and the value a baseline refresh records as
    // __microcal) is the run's MEDIAN probe: per-query ratios compare a
    // conservative local max against a typical baseline sample — a
    // min-based reference made every ratio systematically > 1 and
    // deadened the gate
    val microMin =
      if (probes.isEmpty) -1.0 else probes.sorted.apply(probes.size / 2)
    // Provenance (r8 verdict #6): wall-time deltas across rounds are
    // unadjudicable without knowing machine load — record the 1/5/15-min
    // load averages and the kernel's running/total process counts sampled
    // at report time, so "median of 3, uncontended" is checkable from the
    // artifact itself.
    val (loadavg, procs) = try {
      val parts = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim.split("\\s+")
      (s"[${parts(0)},${parts(1)},${parts(2)}]", "\"" + parts(3) + "\"")
    } catch { case _: Throwable => ("[]", "\"unknown\"") }
    // Detail record (per-run times, per-query shuffle bytes, regression
    // list): a separate FILE + stderr, never the stdout headline — the
    // harness keeps only the tail of stdout, and round 8 proved the detail
    // inline pushes headline entries out of the capture window.
    // additive sf1 block (see the scale-tier comment above): medians,
    // per-query raw runs + nearest micro-probe, and the untimed gen cost
    val sf1Json = sf1.map { case (g, rs) =>
      val qs1 = rs.map { case (k, v, _, _) => "\"" + k + "\":" + d3(v) }
        .mkString("{", ",", "}")
      val mins1 = rs.map { case (k, _, ts, _) => "\"" + k + "\":" + d3(ts.min) }
        .mkString("{", ",", "}")
      s""","sf1":{"k":10,"gen_sec":${d3(g)},"queries":$qs1,"mins":$mins1}"""
    }.getOrElse("")
    val sf1Detail = sf1.map { case (_, rs) =>
      val runs1 = rs.map { case (k, _, ts, _) =>
        "\"" + k + "\":" + ts.map(d3).mkString("[", ",", "]") }.mkString("{", ",", "}")
      val cal1 = rs.map { case (k, _, _, qc) => "\"" + k + "\":" + d3(qc) }
        .mkString("{", ",", "}")
      s""","sf1_runs":$runs1,"sf1_microcal":$cal1"""
    }.getOrElse("")
    val failedJson = failedRuns.map { case (k, n) => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val detail = s"""{"runs":$runs,"failed_runs":$failedJson,"shuffle":$shuffleJson$sf1Detail,""" +
      s""""shuffle_regressions":[${regressions.mkString(",")}],""" +
      s""""min_regressions":[${minRegressions.mkString(",")}],""" +
      s""""contended_mins":[${contendedMins.mkString(",")}],""" +
      s""""calibration":{"before":${d3(calBefore)},"after":${d3(calAfter)},""" +
      s""""baseline":${d3(calBaseOut)},"ratio":${d3(calRatioOut)}},""" +
      s""""microcal":$microJson,"microcal_min":${d3(microMin)},""" +
      s""""load1":$loadJson,"sf":"$sfDir"}"""
    // cwd-relative by the same convention as the SHUFFLE_BASELINE.json read
    // above (the harness runs sbt from the repo root); the absolute path is
    // logged so a wrapper invoking from elsewhere can see where it landed
    val detailPath = java.nio.file.Paths.get("BENCH_DETAIL.json").toAbsolutePath
    try { java.nio.file.Files.write(detailPath, (detail + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] detail written to $detailPath") }
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $detailPath: ${e.getMessage}") }
    System.err.println(s"[bench-detail] $detail")
    val headlineLine = s"""{"metric":"total","value":${d3(total)},"unit":"sec",""" +
      s""""queries":$qs,"mins":$mins,"loadavg":$loadavg,"procs":$procs,""" +
      s""""calibration":${d3(cal)},"cal_ratio":${d3(calRatioOut)},""" +
      s""""microcal":${d3(microMin)},""" +
      s""""shuffle_regression_count":${regressions.size},""" +
      s""""min_regression_count":${minRegressions.size},""" +
      s""""contended_min_count":${contendedMins.size}$sf1Json,""" +
      s""""detail":"BENCH_DETAIL.json","sf":"$sfDir"}"""
    if (headlineLine.length > 1900)
      System.err.println(s"[bench] WARNING headline line ${headlineLine.length} chars " +
        "exceeds the 2000-char capture budget — trim it")
    // the headline is the LAST stdout line, inside the harness's tail capture
    println(headlineLine)
    spark.stop()
  }
}
