package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import Stats.{p50, pct}

object Workloads {
  /** The reference's delivery buffer (README.md:271-272). */
  val BufferBytes = 2790000L
  /** The reference's offered load, 0.39 MB/s of ~1.38 KB records (README.md:36, 172). */
  val RecordsPerSec: Double = 0.39e6 / Gen.WireBytes
  /** About twice the ~2.3 s a small flush takes on 4 cores. A trigger near
    * the flush time runs Deliver back to back whenever the host slows down:
    * a slow flush enlarges the next batch, Deliver keeps the cores busier and
    * Alert waits longer, so every latency swung by more than the host did.
    */
  val DeliverTriggerMs = 5000L
  /** Where the live schedule's calls fall after each Deliver trigger. The last
    * call before a trigger has 700 ms to finish (an append takes 300-600 ms),
    * so it never races the trigger, and at most two of a flush's five calls
    * meet a flush under 2.3 s, so the median alert never does.
    */
  val SchedulePhaseMs = 300L
  val TailPct = 90.0
  /** Lookups per strata cycle of a read phase, and seconds of --seconds per cycle. */
  val Strata: Seq[String] = Seq("cold", "hot", "absent", "cold", "hot", "cold")
  val SecondsPerCycle = 7
  /** Traced/muted call pairs behind each tracing-overhead figure. */
  val OverheadPairs = 3

  /** Wait until a just-started query has run its first (empty) trigger. */
  private def waitIdle(q: StreamingQuery): Unit = {
    val end = Stats.nowMs() + 20000
    while (!q.status.message.startsWith("Waiting for") && q.isActive && Stats.nowMs() < end)
      Thread.sleep(10)
  }

  /** Counters taken around the measured phase. */
  final class Window(c: Ctx) {
    c.engine.reset()
    JvmStats.resetHeapPeak()
    val fs0 = FsStats.snap()
    val gc0 = JvmStats.gcMs()
    val t0Ns = System.nanoTime()
    c.engine.counting = true
    var fs: FsStats.Snap = _
    var gcMs = 0L
    var wallMs = 0.0
    var heapPeakMb = 0.0
    var t1Ns = Long.MaxValue
    def close(): Unit = {
      c.engine.counting = false
      t1Ns = System.nanoTime()
      fs = FsStats.snap() - fs0
      gcMs = JvmStats.gcMs() - gc0
      wallMs = Stats.nanoMs(t0Ns)
      heapPeakMb = JvmStats.heapPeakMb()
    }
  }

  // ---- cdc_live ------------------------------------------------------------

  def cdcLive(c: Ctx): Unit = {
    val periodMs = 1000L
    val perCall = math.round(RecordsPerSec * periodMs / 1000.0).toInt
    def start(p: Pipeline): Unit = {
      p.startDeliver(Trigger.ProcessingTime(DeliverTriggerMs), None)
      p.startAlert(Trigger.ProcessingTime(0), None)
    }

    // the dashboard query of the read phase: its window holds the live hour
    // and every late record
    val dashboard = (Gen.BaseMicros - 8 * 3600000000L, Gen.BaseMicros + 3600000000L)

    // set-up, three times: one call goes into a fresh log, both consumers
    // start and take it in their first trigger, which fires at once (so no
    // pass waits for the trigger grid), and stop. Also warms the JIT for the
    // live phase.
    val passes = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      val w = c.pipeline(s"warm-$i", traced = false)
      val g = new Gen(c.seed + 1000 + i)
      val now = Stats.nowMs()
      w.append((0 until perCall).map(_ => g.next(Gen.BaseMicros, now)), now)
      w.startWatcher(0)
      start(w)
      val ok = w.waitCommitted(perCall, 60000) && w.waitNotified()
      w.stopStreams(); w.stopThreads()
      if (!ok || !w.failures.isEmpty)
        throw new IllegalStateException(s"set-up pass $i did not deliver: ${w.failures.asScala.mkString("; ")}")
      (w, Stats.nanoMs(t0) / 1000.0)
    }
    val reps = passes.map(_._2)
    // then one lookup and one scan on the last pass's lake, which warm the
    // JIT for the read phase
    val readWarmS = {
      val t0 = System.nanoTime()
      val w = passes.last._1
      w.registerView()
      w.lookup(new Gen(c.seed + 1000).zipfKey(), None, exact = true)
      w.scan(dashboard._1, dashboard._2)
      if (!w.failures.isEmpty) throw new IllegalStateException(s"set-up reads failed: ${w.failures.asScala.mkString("; ")}")
      Stats.nanoMs(t0) / 1000.0
    }

    Stats.log(f"set-up passes: ${reps.map(x => f"$x%.2f").mkString(" ")} s; reads $readWarmS%.2f s")
    val p = c.pipeline("live")
    val g = new Gen(c.seed)
    start(p)
    waitIdle(p.deliverQ); waitIdle(p.alertQ)
    // Spark fires a processing-time trigger at whole multiples of its interval
    // since the epoch. The schedule starts a fixed SchedulePhaseMs past such a
    // multiple, so every run sees the same calls fall into the same flush;
    // from a free start the wait for the next flush moved fresh_p50_ms by up
    // to a call period from run to run.
    val t0 = (Stats.nowMs() / DeliverTriggerMs + 1) * DeliverTriggerMs + SchedulePhaseMs
    while (Stats.nowMs() < t0 - 50) Thread.sleep(10)
    val win = new Window(c)
    p.startWatcher(samplesPerBatch = 1)
    p.startLagSampler()
    val lateMs = mutable.ArrayBuffer[Double]()
    val endMs = t0 + c.seconds * 1000L
    var call = 0
    while (t0 + call * periodMs < endMs) {
      val due = t0 + call * periodMs
      val wait = due - Stats.nowMs()
      if (wait > 0) Thread.sleep(wait)
      val sent = Stats.nowMs()
      lateMs += (sent - due).toDouble
      // event time follows the schedule from a fixed epoch, so inputs depend on the seed only
      val recs = (0 until perCall).map(_ => g.next(Gen.BaseMicros + (due - t0) * 1000L, due))
      p.append(recs, sent)
      call += 1
    }
    val liveMs = Stats.nowMs() - t0
    val total = p.ledger.lag()._1
    val drained = p.waitCommitted(total, 120000) && p.waitNotified()
    if (!drained) p.fail(s"consumers did not drain ${total} records within the limit")
    p.settle(p.deliverQ); p.settle(p.alertQ)
    p.stopStreams()
    p.stopThreads()
    val fsDeliver = FsStats.snap() - win.fs0
    Stats.log(s"live phase done: $call calls, drained=$drained")

    // readers over the settled small-flush lake: point lookups, and the
    // dashboard query, refreshed
    val registerMs = p.registerView()
    val rnd = new Gen(c.seed ^ 0x7eadL)
    readPhase(c, p, rnd)(_ => dashboard)
    win.close()
    if (c.tracer.enabled) traceOverhead(c, p, rnd, Seq.fill(OverheadPairs)(dashboard))

    // The lag must not grow over the live phase. It is a sawtooth with one tooth
    // per Deliver batch, so compare the peaks of the two halves, not samples.
    val lag = p.lagMs.asScala.toSeq.filter(_._1 < t0 + liveMs).map(_._3.toDouble)
    val (firstHalf, lastHalf) = lag.splitAt(lag.size / 2)
    val peak1 = firstHalf.maxOption.getOrElse(0.0)
    val peak2 = lastHalf.maxOption.getOrElse(0.0)
    val sustainable = peak2 <= 1.5 * peak1 + perCall
    p.attempted.incrementAndGet()
    if (!sustainable) p.fail(f"unsustainable: peak lag grew from $peak1%.0f to $peak2%.0f records " +
      "from the first half of the live phase to the second")
    c.res.info("sustainable") = sustainable.toString
    c.res.info("generator_late_ms_p99") = f"${pct(lateMs, 99)}%.1f"

    report(c, p, win, fsDeliver, p50(reps) + readWarmS, registerMs, p.appendMs.asScala.toSeq, t0)
  }

  // ---- lake_replay_read ------------------------------------------------------

  def lakeReplayRead(c: Ctx): Unit = {
    // two and a half buffers: three flushes, the first of them cold
    val nRecords = (2.5 * BufferBytes / 1380).toInt
    val spanHours = 30
    val usPerRecord = spanHours * 3600000000L / nRecords
    // the backlog is in log order: event time advances with the sequence
    // number, as a stalled consumer finds it, so each flush covers a few hours
    def stage(p: Pipeline): Unit = {
      val g = new Gen(c.seed)
      val at = Stats.nowMs()
      val recs = (0 until nRecords).map(i => g.next(Gen.BaseMicros + i * usPerRecord / 1000L * 1000L, at))
      p.append(recs, at, maxSegmentBytes = 256L << 10)
    }
    // set-up, three times: stage the seeded log (the first copy is replayed)
    val stagings = (0 until 3).map(i => if (i == 0) c.pipeline("replay") else c.pipeline(s"stage-$i", traced = false))
    val p = stagings.head
    val reps = stagings.map { s =>
      val t0 = System.nanoTime()
      stage(s)
      Stats.nanoMs(t0) / 1000.0
    }
    Stats.log(s"staged $nRecords records three times: ${reps.map(x => f"$x%.2f").mkString(" ")} s")
    if (!p.failures.isEmpty) throw new IllegalStateException(s"staging failed: ${p.failures.asScala.mkString("; ")}")
    // Set-up also runs the whole workload once over a one-buffer log: replay, a
    // lookup and a scan. Without it the first flush, the alert batch and the first reads
    // time class loading and the JIT, which swings from run to run.
    val warmS = {
      val t0 = System.nanoTime()
      val w = c.pipeline("warm", traced = false)
      val g = new Gen(c.seed + 1000)
      val at = Stats.nowMs()
      // one full buffer, laid out like the backlog: a smaller one left the
      // per-record paths of the first measured flush to the JIT, and how long
      // that flush took then swung from run to run
      val warmRecords = (BufferBytes / Gen.WireBytes).toInt
      w.append((0 until warmRecords).map(i => g.next(Gen.BaseMicros + i * usPerRecord / 1000L * 1000L, at)), at,
        maxSegmentBytes = 256L << 10)
      w.startAlert(Trigger.AvailableNow(), Some(BufferBytes))
      val alerted = w.alertQ.awaitTermination(60000)
      w.startDeliver(Trigger.AvailableNow(), Some(BufferBytes))
      val delivered = w.deliverQ.awaitTermination(60000)
      w.registerView()
      w.lookup(g.zipfKey(), None, exact = true)
      w.scan(Gen.BaseMicros, Gen.BaseMicros + 6 * 3600000000L)
      w.stopStreams()
      if (!alerted || !delivered || !w.failures.isEmpty)
        throw new IllegalStateException(s"warm-up pass failed: ${w.failures.asScala.mkString("; ")}")
      Stats.nanoMs(t0) / 1000.0
    }
    Stats.log(f"warm-up pass: $warmS%.2f s")
    val win = new Window(c)
    // the alert path catches up first, alone, in the same 2.79 MB triggers:
    // its latency counts from its start
    val alertStart = Stats.nowMs()
    p.startAlert(Trigger.AvailableNow(), Some(BufferBytes))
    if (!p.alertQ.awaitTermination(60000)) p.fail("alert replay did not finish")
    // then Deliver replays the backlog in 2.79 MB flushes; every record is due at its start
    val replayStart = Stats.nowMs()
    p.dueOverride = Some(replayStart)
    // no live confirmations: the read phase checks every lookup exactly
    p.startWatcher(samplesPerBatch = 0)
    p.startLagSampler()
    p.startDeliver(Trigger.AvailableNow(), Some(BufferBytes))
    if (!p.deliverQ.awaitTermination(150000)) p.fail("deliver replay did not finish")
    Seq(p.deliverQ, p.alertQ).foreach(q => q.exception.foreach(e => p.fail(s"${q.name}: $e")))
    val total = p.ledger.lag()._1
    if (!p.waitCommitted(total, 10000)) p.fail("replayed records never became visible")
    p.stopThreads()
    val fsDeliver = FsStats.snap() - win.fs0
    val replayMs = (p.ledger.committedAt.values.maxOption.getOrElse(Stats.nowMs()) - replayStart).toDouble

    Stats.log(f"replay done in $replayMs%.0f ms")
    // read phase: closed loop, one client
    val registerMs = p.registerView()
    val rnd = new Gen(c.seed ^ 0x7eadL)
    // Scan windows are fixed, not drawn, so that every seed scans the same
    // spread of hours: the j-th scan starts at hour 8 (j mod 3) + (j / 3 mod 8)
    // of the span, one window in each third of it per three scans.
    def range(j: Int): (Long, Long) = {
      val from = Gen.BaseMicros + (8 * (j % 3) + (j / 3) % 8) * 3600000000L
      (from, from + 6 * 3600000000L)
    }
    val lookups = readPhase(c, p, rnd)(range)
    win.close()
    Stats.log(s"read phase done: $lookups lookups and scans")
    if (c.tracer.enabled) traceOverhead(c, p, rnd, (0 until OverheadPairs).map(range))
    report(c, p, win, fsDeliver, p50(reps) + warmS, registerMs, stagings.flatMap(_.appendMs.asScala), replayStart,
      alertDueMs = Some(alertStart))
  }

  // ---- shared reporting -----------------------------------------------------

  /** Reads on a settled lake, a fixed number of them, so that every run and
    * every code version times the same mix: one strata cycle of six lookups
    * per SecondsPerCycle of --seconds, each lookup followed by a scan of
    * `range(j)`. The lookup strata
    * keep the Zipf mix in every cycle: two of the ten hottest ids, three other
    * ids the lake holds and one absent id. A hot id has rows in nearly every
    * file, while the blooms prune the files of the others, so the two cost
    * differently and an unstratified median of a few lookups flips between
    * them. A drawn cold id the lake does not hold is drawn again: it would
    * cost as little as an absent one, and how many of those a seed drew moved
    * the median. Returns the number of lookups.
    */
  private def readPhase(c: Ctx, p: Pipeline, rnd: Gen)(range: Int => (Long, Long)): Int = {
    val held = p.ledger.snapshot().iterator.filter(_.valid).map(_.id).toSet
    val n = math.max(1, c.seconds / SecondsPerCycle) * Strata.size
    (0 until n).foreach { i =>
      val k = Strata(i % Strata.size) match {
        case "absent" => rnd.absentKey()
        case "hot" => rnd.zipfKey(hot = true)
        case _ => Iterator.continually(rnd.zipfKey(hot = false)).find(held).get
      }
      p.lookup(k, None, exact = true)
      if (i % Strata.size == 0) p.probeManifest(k)
      val (from, to) = range(i)
      p.scan(from, to)
    }
    n
  }

  /** Tracing's own cost on the client's calls, outside the measured window:
    * lookups of cold keys and scans of `ranges`, each run once traced and once
    * muted. Reported as the median paired difference, traced minus muted.
    */
  private def traceOverhead(c: Ctx, p: Pipeline, g: Gen, ranges: Seq[(Long, Long)]): Unit = {
    val keys = Seq.fill(OverheadPairs)(g.zipfKey(hot = false))
    val (lookupMs, scanMs) = p.traceOverhead(keys, ranges)
    c.res.m("trace.overhead.lookup_p50_ms", lookupMs, "ms")
    c.res.m("trace.overhead.scan_p50_ms", scanMs, "ms")
  }

  private def report(c: Ctx, p: Pipeline, win: Window, fsDeliver: FsStats.Snap, setupS: Double,
      registerMs: Double, appendMs: Seq[Double], startMs: Long,
      alertDueMs: Option[Long] = None): Unit = {
    val r = c.res
    val recs = p.ledger.snapshot()
    val alertLat = p.ledger.synchronized(recs.filter(_.flagged)
      .flatMap(x => p.ledger.notifiedAt.get(x.seq).map(t => (t - alertDueMs.getOrElse(x.dueMs)).toDouble)))
    val fresh = p.freshMs.asScala.toSeq
    val dProg = p.streams.of(p.deliverQ.id).filter(_.numInputRows > 0)
    val aProg = p.streams.of(p.alertQ.id).filter(_.numInputRows > 0)
    def dur(pr: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(Double.NaN)
    val flush = dProg.map(dur(_, "triggerExecution"))
    if (c.tracer.enabled) {
      val off = System.nanoTime() - Stats.nowMs() * 1000000L
      Seq(("streaming.deliver.batch", dProg), ("streaming.alert.batch", aProg)).foreach { case (name, ps) =>
        ps.foreach { pr =>
          val s = java.time.Instant.parse(pr.timestamp).toEpochMilli * 1000000L + off
          c.tracer.record(s"${pr.id}/${pr.batchId}", name, s, s + (dur(pr, "triggerExecution") * 1e6).toLong)
        }
      }
    }

    // end to end
    r.m("setup_s", c.jvmStartS + setupS, "s")
    r.m("alert_p50_ms", p50(alertLat), "ms")
    r.m("alert_p90_ms", pct(alertLat, TailPct), "ms")
    r.m("fresh_p50_ms", p50(fresh), "ms")
    r.m("fresh_p90_ms", pct(fresh, TailPct), "ms")
    r.m("flush_p50_ms", p50(flush), "ms")
    // wire MB committed ÷ time from the first record due to the last commit seen
    val lastCommit = p.ledger.synchronized(p.ledger.committedAt.values.maxOption).getOrElse(Stats.nowMs())
    val deliveredMs = math.max(1.0, (lastCommit - startMs).toDouble)
    r.m("deliver_mb_s", p.ledger.committedWireBytes() / 1e6 / (deliveredMs / 1000.0), "MB/s")
    r.m("lookup_p50_ms", p50(p.lookupMs.asScala), "ms")
    r.m("scan_p50_ms", p50(p.scanMs.asScala), "ms")

    // per layer: sources
    r.m("sources.graftlog.append_ms_p50", p50(appendMs), "ms")
    r.m("sources.graftlog.append_ms_p99", pct(appendMs, 99), "ms")
    r.m("sources.graftlog.appends", appendMs.size, "count")
    r.m("sources.graftlog.records", recs.size, "count")
    val segs = graft.sources.v2.GraftLog.listSegments(
      new org.apache.hadoop.fs.Path(p.dirs.log).getFileSystem(c.spark.sessionState.newHadoopConf()),
      p.dirs.log).values.map(_.size).sum
    r.m("sources.graftlog.segments", segs, "count")
    val lag = p.lagMs.asScala.toSeq
    r.m("sources.lag_ms_p50", p50(lag.map(_._2)), "ms")
    r.m("sources.lag_ms_p99", pct(lag.map(_._2), 99), "ms")
    r.m("sources.lag_records_max", lag.map(_._3.toDouble).maxOption.getOrElse(0.0), "count")

    // codec, on the settled log, outside the measured window; a per-layer
    // figure, so only the traced pass pays for it
    if (c.tracer.enabled) r.m("codec.decode_ms_per_mb", p.decodePass(), "ms/MB")

    // streaming.deliver
    val jobs = c.engine.jobsBetween(win.t0Ns, win.t1Ns)
    val deliverJobs = jobs.filter(_.query == p.deliverQ.id.toString)
    val alertJobs = jobs.filter(_.query == p.alertQ.id.toString)
    val nD = math.max(1, dProg.size)
    r.m("streaming.deliver.batches", dProg.size, "count")
    r.m("streaming.deliver.rows_per_batch_p50", p50(dProg.map(_.numInputRows.toDouble)), "count")
    r.m("streaming.deliver.batch_ms_p50", p50(flush), "ms")
    r.m("streaming.deliver.batch_ms_p99", pct(flush, 99), "ms")
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets").foreach { k =>
      r.m(s"streaming.deliver.phase.${k}_ms_p50", p50(dProg.map(dur(_, k)).filterNot(_.isNaN)), "ms")
    }
    r.m("streaming.deliver.busy_share", flush.sum / deliveredMs, "ratio")
    r.m("streaming.deliver.jobs_per_batch", deliverJobs.size.toDouble / nD, "count")
    r.m("streaming.deliver.fs_write_ops_per_batch", fsDeliver.writeOps.toDouble / nD, "count")
    r.m("streaming.deliver.fs_read_ops_per_batch", fsDeliver.readOps.toDouble / nD, "count")
    val (lakeFiles, mfFiles, zmFiles) = p.lakeFileCounts()
    r.m("streaming.deliver.lake_files", lakeFiles, "count")
    r.m("streaming.deliver.manifest_files", mfFiles, "count")
    r.m("streaming.deliver.zonemap_files", zmFiles, "count")

    // streaming.alert
    val aDur = aProg.map(dur(_, "triggerExecution"))
    val flagged = recs.count(_.flagged)
    r.m("streaming.alert.batches", aProg.size, "count")
    r.m("streaming.alert.batch_ms_p50", p50(aDur), "ms")
    r.m("streaming.alert.addBatch_ms_p50", p50(aProg.map(dur(_, "addBatch")).filterNot(_.isNaN)), "ms")
    r.m("streaming.alert.jobs_per_batch", alertJobs.size.toDouble / math.max(1, aProg.size), "count")
    r.m("streaming.alert.notified", p.ledger.notifiedRows.toDouble, "count")
    r.m("streaming.alert.dup_ratio", p.ledger.notifiedRows.toDouble / math.max(1, flagged), "ratio")

    // sources.manifest and catalog
    r.m("sources.manifest.prune_ms_p50", p50(p.pruneMs.asScala), "ms")
    r.m("sources.manifest.files_kept_ratio", p50(p.keptRatio.asScala), "ratio")
    r.m("sources.manifest.latest_files_ms_p50", p50(p.latestFilesMs.asScala), "ms")
    r.m("sources.manifest.fs_read_ops_per_lookup", p50(p.lookupFsReads.asScala), "count")
    r.m("catalog.register_ms", registerMs, "ms")

    // engine and platform, over the measured window
    val busyNs = Tracer.union(jobs.map(j => (j.startNs, j.endNs)))
    r.m("spark.jobs", jobs.size, "count")
    r.m("spark.stages", c.engine.stages.get, "count")
    r.m("spark.tasks", c.engine.tasks.get, "count")
    r.m("spark.shuffle_write_bytes", c.engine.shuffleWrite.get, "B")
    r.m("spark.shuffle_read_bytes", c.engine.shuffleRead.get, "B")
    r.m("spark.spill_bytes", c.engine.spill.get, "B")
    r.m("spark.task_busy_share", c.engine.taskRunMs.get / (win.wallMs * c.spark.sparkContext.defaultParallelism), "ratio")
    r.m("spark.driver_gap_ms", win.wallMs - busyNs / 1e6, "ms")
    r.m("fs.read_ops", win.fs.readOps, "count")
    r.m("fs.write_ops", win.fs.writeOps, "count")
    r.m("fs.bytes_read", win.fs.bytesRead, "B")
    r.m("fs.bytes_written", win.fs.bytesWritten, "B")
    r.m("jvm.gc_ms", win.gcMs, "ms")
    r.m("jvm.heap_peak_mb", win.heapPeakMb, "MB")

    // samples behind each percentile, and what the run was
    r.info("samples") = s"alert=${alertLat.size} fresh=${fresh.size} flush=${flush.size} " +
      s"lookup=${p.lookupMs.size} scan=${p.scanMs.size} deliver_batches=${dProg.size} alert_batches=${aProg.size}"
    r.info("measured_ms") = f"${win.wallMs}%.0f"

    // outputs and operation counts
    r.checks ++= p.checkOutputs()
    Stats.log("checks done")
    val mismatches = p.failures.asScala.count(f => f.contains(Pipeline.Mismatch))
    r.checks += (("lookups_and_scans_match", mismatches == 0,
      s"${p.lookupMs.size} lookups and ${p.scanMs.size} scans checked, $mismatches mismatched"))
    val streamFailures = p.streams.failure.toSeq
    r.attempted = p.attempted.get + dProg.size + aProg.size
    r.failed = p.failures.size + streamFailures.size
    r.failures ++= p.failures.asScala ++ streamFailures
  }
}
