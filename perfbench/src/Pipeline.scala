package perfbench

import java.io.File
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.catalog.LakeCatalog
import graft.sources.{ManifestReader, StreamIngest}
import graft.sources.v2.GraftLog
import graft.streaming.{Alert, Deliver}

/** Where one pipeline instance keeps its log, lake and checkpoints. */
final case class Dirs(root: String) {
  val log = s"$root/log"
  val lake = s"$root/lake"
  val manifest = s"$root/manifest"
  val dlq = s"$root/dlq"
  val ckptDeliver = s"$root/ckpt-deliver"
  val ckptAlert = s"$root/ckpt-alert"
}

/** What the producer sent, and when each record was committed to the lake
  * and notified by the alert path. One lock; all calls are short.
  */
final class Ledger {
  private val byShard = mutable.Map[String, mutable.ArrayBuffer[Rec]]()
  private val cursor = mutable.Map[String, Int]()
  val all = mutable.ArrayBuffer[Rec]()
  val committedAt = mutable.LongMap[Long]()
  val notifiedAt = mutable.LongMap[Long]()
  var notifiedRows = 0L
  private var committedCount = 0L

  def add(recs: Seq[Rec]): Unit = synchronized {
    recs.foreach { r => all += r; byShard.getOrElseUpdate(r.shard, mutable.ArrayBuffer()) += r }
  }

  /** Mark every record at or below the per-shard end offsets committed at `t`. */
  def commit(end: Map[String, String], t: Long): Seq[Rec] = synchronized {
    val out = mutable.ArrayBuffer[Rec]()
    end.foreach { case (shard, seq) =>
      val buf = byShard.getOrElse(shard, mutable.ArrayBuffer.empty[Rec])
      var i = cursor.getOrElse(shard, 0)
      while (i < buf.length && buf(i).seqStr <= seq) {
        val r = buf(i)
        if (!committedAt.contains(r.seq)) { committedAt(r.seq) = t; committedCount += 1; out += r }
        i += 1
      }
      cursor(shard) = i
    }
    out.toSeq
  }

  def notified(seqs: Seq[Long], t: Long): Unit = synchronized {
    notifiedRows += seqs.size
    seqs.foreach(s => if (!notifiedAt.contains(s)) notifiedAt(s) = t)
  }

  /** (records appended, records committed, due time of the oldest uncommitted). */
  def lag(): (Long, Long, Option[Long]) = synchronized {
    val oldest = byShard.iterator.flatMap { case (s, buf) =>
      val i = cursor.getOrElse(s, 0)
      if (i < buf.length) Some(buf(i).dueMs) else None
    }.minOption
    (all.size.toLong, committedCount, oldest)
  }

  def committedWireBytes(): Long = synchronized(all.filter(r => committedAt.contains(r.seq)).map(_.wire.length.toLong).sum)
  def snapshot(): Seq[Rec] = synchronized(all.toSeq)
  def committedSnapshot(): Set[Long] = synchronized(committedAt.keySet.toSet)
}

object Pipeline {
  /** Marks a wrong answer, as opposed to an operation that threw. */
  val Mismatch = "MISMATCH"
}

/** The streams, the commit watcher and the read-side clients one workload
  * drives, plus every sample they take. Both workloads share this, so a
  * metric means the same thing on both.
  */
final class Pipeline(val spark: SparkSession, val dirs: Dirs, val tracer: Tracer,
    val engine: EngineListener, val streams: StreamListener, seed: Long) {
  val sc = spark.sparkContext
  val ledger = new Ledger
  val appendMs = new ConcurrentLinkedQueue[Double]()
  val freshMs = new ConcurrentLinkedQueue[Double]()
  val lookupMs = new ConcurrentLinkedQueue[Double]()
  val pruneMs = new ConcurrentLinkedQueue[Double]()
  val keptRatio = new ConcurrentLinkedQueue[Double]()
  val latestFilesMs = new ConcurrentLinkedQueue[Double]()
  val scanMs = new ConcurrentLinkedQueue[Double]()
  val lookupFsReads = new ConcurrentLinkedQueue[Double]()
  val lagMs = new ConcurrentLinkedQueue[(Long, Double, Long)]() // (t, lag ms, lag records)
  val failures = new ConcurrentLinkedQueue[String]()
  val attempted = new java.util.concurrent.atomic.AtomicLong()
  @volatile var deliverQ: StreamingQuery = _
  @volatile var alertQ: StreamingQuery = _

  def fail(what: String): Unit = { failures.add(what); () }

  /** Count one attempted operation; an exception is a failure, never a sample. */
  def attempt[T](what: String)(f: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(f)
    catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  // ---- streams ---------------------------------------------------------

  def source(maxBytes: Option[Long]): DataFrame =
    StreamIngest.readStream(spark, StreamIngest.GraftLog(dirs.log, maxBytesPerTrigger = maxBytes))

  def startDeliver(trigger: Trigger, maxBytes: Option[Long]): Unit = {
    deliverQ = Deliver.start(source(maxBytes), Gen.payload, Deliver.Config(
      lakeDir = dirs.lake, checkpointDir = dirs.ckptDeliver, errorDir = Some(dirs.dlq),
      manifestDir = Some(dirs.manifest), trigger = trigger, compact = true,
      zoneMapCols = Seq("id", "ts"), bloomFilterCols = Seq("id")))
  }

  def startAlert(trigger: Trigger, maxBytes: Option[Long]): Unit = {
    alertQ = Alert.start(source(maxBytes), Gen.payload, col("env.data.status") === Gen.Flagged,
      dirs.ckptAlert, (batch: DataFrame) => tracer.span(sc, "alert.notify") {
        val rows = batch.select(col("sequence_number")).collect()
        val t = Stats.nowMs()
        ledger.notified(rows.map(_.getString(0).toLong).toSeq, t)
      }, trigger)
  }

  /** Wait until `q` is between triggers and the listener holds its last
    * progress. Stopped sooner, a query drops the progress of its final batch,
    * and a run's batch figures then missed it in some runs and not in others.
    */
  def settle(q: StreamingQuery): Unit = {
    val end = Stats.nowMs() + 10000
    def idle = !q.status.isTriggerActive && q.status.message.startsWith("Waiting for")
    def posted = Option(q.lastProgress).forall(lp => streams.of(q.id).exists(_.batchId == lp.batchId))
    while (!(idle && posted) && q.isActive && Stats.nowMs() < end) Thread.sleep(10)
  }

  def stopStreams(): Unit = Seq(Option(alertQ), Option(deliverQ)).flatten.foreach { q =>
    try q.stop() catch { case _: Throwable => () }
  }

  // ---- producer ----------------------------------------------------------

  /** One append (PutRecords-sized when live); records are in the ledger before the log. */
  def append(recs: Seq[Rec], arrivalMs: Long, maxSegmentBytes: Long = 8L << 20): Unit = {
    ledger.add(recs)
    attempt("graftlog.append") {
      val t0 = System.nanoTime()
      tracer.span(sc, "graftlog.append") {
        GraftLog.append(Gen.frame(spark, recs, arrivalMs), dirs.log, maxSegmentBytes)
      }
      appendMs.add(Stats.nanoMs(t0))
    }
  }

  // ---- commit watcher ----------------------------------------------------

  private val OffsetEntry = """"(shardId-[0-9]+)"\s*:\s*"([0-9]+)"""".r
  private def endOffsets(batch: Long): Map[String, String] = {
    val f = new File(s"${dirs.ckptDeliver}/offsets/$batch")
    val lines = java.nio.file.Files.readAllLines(f.toPath).asScala
    OffsetEntry.findAllMatchIn(lines.last).map(m => m.group(1) -> m.group(2)).toMap
  }

  @volatile private var running = true
  private val threads = mutable.ArrayBuffer[Thread]()
  private val confirmQ = new LinkedBlockingQueue[Rec]()
  private val pickRnd = new java.util.SplittableRandom(seed ^ 0x5eedL)
  @volatile var dueOverride: Option[Long] = None // replay: every record is due at once

  private def daemon(name: String)(body: => Unit): Unit = {
    val t = new Thread(() => try body catch {
      case _: InterruptedException => ()
      case e: Throwable => fail(s"$name thread: $e")
    }, name)
    t.setDaemon(true); t.start(); threads += t
  }

  /** Watch Deliver's commit markers from outside: a batch's records count as
    * readable once its marker exists (manifest and zone maps precede it);
    * `samplesPerBatch` of them per batch are then confirmed by `readWhere`.
    */
  def startWatcher(samplesPerBatch: Int): Unit = {
    val commits = new File(s"${dirs.lake}/_commits")
    var seen = -1L
    daemon("commit-watcher") {
      while (running) {
        val ids = Option(commits.list()).getOrElse(Array.empty[String])
          .filter(n => n.length == 10 && n.forall(_.isDigit)).map(_.toLong).filter(_ > seen).sorted
        ids.foreach { b =>
          val t = Stats.nowMs()
          val fresh = ledger.commit(endOffsets(b), t).filter(_.valid)
          fresh.foreach(r => freshMs.add((t - dueOverride.getOrElse(r.dueMs)).toDouble))
          if (fresh.nonEmpty) (0 until samplesPerBatch).foreach { _ =>
            confirmQ.put(fresh(pickRnd.nextInt(fresh.size)))
          }
          seen = b
        }
        Thread.sleep(10)
      }
    }
    daemon("confirmer") {
      while (running || !confirmQ.isEmpty) {
        val r = confirmQ.poll(20, TimeUnit.MILLISECONDS)
        if (r != null) lookup(r.id, Some(r), exact = false)
      }
    }
  }

  /** Consumer lag, sampled every 100 ms. */
  def startLagSampler(): Unit = daemon("lag-sampler") {
    while (running) {
      val t = Stats.nowMs()
      val (appended, committed, oldest) = ledger.lag()
      val lag = oldest.map(d => (t - dueOverride.fold(d)(math.max(d, _))).toDouble).getOrElse(0.0)
      lagMs.add((t, lag, appended - committed))
      Thread.sleep(100)
    }
  }

  def stopThreads(): Unit = {
    running = false
    threads.foreach(_.join(60000))
  }

  def waitCommitted(n: Long, timeoutMs: Long): Boolean = {
    val end = Stats.nowMs() + timeoutMs
    while (ledger.lag()._2 < n && Stats.nowMs() < end) Thread.sleep(10)
    ledger.lag()._2 >= n
  }

  def waitNotified(): Boolean = {
    val want = ledger.snapshot().filter(_.flagged).map(_.seq)
    val end = Stats.nowMs() + 60000
    def done = ledger.synchronized(want.forall(ledger.notifiedAt.contains))
    while (!done && Stats.nowMs() < end) Thread.sleep(10)
    done
  }

  // ---- read side ---------------------------------------------------------

  /** Point lookup through `readWhere(id = k, blooms = true)`, checked against
    * the producer's own records: exactly, on a settled lake; between what
    * was committed before the call and what was appended, on a live one.
    */
  def lookup(k: Long, mustHold: Option[Rec], exact: Boolean): Unit = {
    val before = if (exact) Set.empty[Long] else ledger.committedSnapshot()
    val fs0 = FsStats.snap()
    val t0 = System.nanoTime()
    attempt("manifest.readWhere") {
      val got = readKey(k)
      val ms = Stats.nanoMs(t0)
      val recs = ledger.snapshot().filter(r => r.valid && r.id == k)
      val appended = recs.map(_.seq).toSet
      val must = if (exact) appended else recs.map(_.seq).filter(before).toSet ++ mustHold.map(_.seq)
      if (got.size != got.toSet.size || !got.toSet.subsetOf(appended) || !must.subsetOf(got.toSet))
        throw new IllegalStateException(
          s"${Pipeline.Mismatch} lookup id=$k: got ${got.size} rows, expected ${must.size}..${appended.size}")
      // a live confirmation runs beside both streams and is only checked: its
      // time says more about the contention of the moment than about lookups
      if (exact) {
        lookupMs.add(ms)
        lookupFsReads.add((FsStats.snap() - fs0).readOps.toDouble)
      }
    }
  }

  /** The sequence numbers `readWhere(id = k, blooms = true)` returns. */
  private def readKey(k: Long): Seq[Long] = tracer.span(sc, "manifest.readWhere") {
    ManifestReader.readWhere(spark, dirs.manifest, col("id") === k, blooms = true)
      .select(col("partition_key"), col("sequence_number")).collect()
  }.map(r => r.getString(1).toLong).toSeq

  /** `pruneStats` alone (no scan) and the manifest listing, for the layer split. */
  def probeManifest(k: Long): Unit = {
    attempt("manifest.pruneStats") {
      val t0 = System.nanoTime()
      val (kept, total) = tracer.span(sc, "manifest.pruneStats") {
        ManifestReader.pruneStats(spark, dirs.manifest, col("id") === k, blooms = true)
      }
      pruneMs.add(Stats.nanoMs(t0))
      if (total > 0) keptRatio.add(kept.toDouble / total)
    }
    attempt("manifest.latestFiles") {
      val t0 = System.nanoTime()
      tracer.span(sc, "manifest.latestFiles") { ManifestReader.latestManifestFiles(spark, dirs.manifest) }
      latestFilesMs.add(Stats.nanoMs(t0))
    }
  }

  val view = "cdc_orders"
  def registerView(): Double = {
    val t0 = System.nanoTime()
    attempt("catalog.register") {
      tracer.span(sc, "catalog.register") {
        LakeCatalog.registerPrunedView(spark, view, dirs.manifest, blooms = false)
      }
    }
    Stats.nanoMs(t0)
  }

  /** Hourly aggregation over `[fromUs, toUs)` through the catalog view,
    * checked exactly against the producer's records (settled lake only).
    */
  def scan(fromUs: Long, toUs: Long): Unit = {
    val t0 = System.nanoTime()
    attempt("catalog.scan") {
      val got = hourly(fromUs, toUs)
      val ms = Stats.nanoMs(t0)
      val want = ledger.snapshot().filter(r => r.valid && r.tsMicros >= fromUs && r.tsMicros < toUs)
        .groupBy(r => (Math.floorDiv(r.tsMicros, 3600000000L) * 3600000000L, r.status))
        .map { case (k, rs) => k -> (rs.size.toLong, rs.map(_.id).distinct.size.toLong, rs.map(_.cents).sum) }
      if (got != want) throw new IllegalStateException(
        s"${Pipeline.Mismatch} scan [${Gen.isoMicros(fromUs)}, ${Gen.isoMicros(toUs)}): " +
          s"${got.size} groups vs ${want.size} expected; " +
          s"rows ${got.values.map(_._1).sum} vs ${want.values.map(_._1).sum}")
      scanMs.add(ms)
    }
  }

  /** (hour, status) -> (rows, distinct ids, cents) over `[fromUs, toUs)` of the view. */
  private def hourly(fromUs: Long, toUs: Long): Map[(Long, String), (Long, Long, Long)] = {
    val lit0 = Gen.isoMicros(fromUs).replace('T', ' ').stripSuffix("Z")
    val lit1 = Gen.isoMicros(toUs).replace('T', ' ').stripSuffix("Z")
    tracer.span(sc, "catalog.scan") {
      spark.sql(
        s"""SELECT unix_micros(date_trunc('hour', ts)) AS h, status, count(*) AS n,
           | count(DISTINCT id) AS ids, sum(CAST(round(value * 100) AS BIGINT)) AS cents
           |FROM $view WHERE ts >= TIMESTAMP '$lit0' AND ts < TIMESTAMP '$lit1'
           |GROUP BY 1, 2""".stripMargin).collect()
    }.map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
  }

  /** Each key's lookup and each range's scan, run once traced and once with the
    * tracer muted, the order alternating. Returns the median paired difference,
    * traced minus muted, in ms: (lookups, scans). The answers are not checked
    * here; the same calls were checked in the measured phase.
    */
  def traceOverhead(keys: Seq[Long], ranges: Seq[(Long, Long)]): (Double, Double) = {
    def paired(i: Int)(call: => Any): Option[Double] = attempt("trace.overhead") {
      def timed(muted: Boolean): Double = {
        val t0 = System.nanoTime()
        if (muted) tracer.muted(call) else call
        Stats.nanoMs(t0)
      }
      if (i % 2 == 0) { val t = timed(muted = false); t - timed(muted = true) }
      else { val m = timed(muted = true); timed(muted = false) - m }
    }
    (Stats.p50(keys.zipWithIndex.flatMap { case (k, i) => paired(i)(readKey(k)) }),
      Stats.p50(ranges.zipWithIndex.flatMap { case ((a, b), i) => paired(i)(hourly(a, b)) }))
  }

  // ---- end-of-run checks ---------------------------------------------------

  /** Exactly-once lake, every corrupt record in the DLQ, every matching record
    * notified and no other. Returns (check name, passed, detail).
    */
  def checkOutputs(): Seq[(String, Boolean, String)] = {
    val recs = ledger.snapshot()
    val valid = recs.filter(_.valid).map(r => (r.pk, r.seqStr))
    val lake = ManifestReader.read(spark, dirs.manifest)
      .select(col("partition_key"), col("sequence_number")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val lakeOk = lake.size == valid.size && lake.toSet == valid.toSet
    val corrupt = recs.filter(_.corrupt).map(r => (r.pk, r.seqStr)).toSet
    val dlq =
      if (!new File(dirs.dlq).exists) Seq.empty[(String, String)]
      else spark.read.parquet(dirs.dlq).select(col("partition_key"), col("sequence_number"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val dlqOk = dlq.toSet == corrupt
    val flagged = recs.filter(_.flagged).map(_.seq).toSet
    val notified = ledger.synchronized(ledger.notifiedAt.keySet.toSet)
    val alertOk = notified == flagged
    Seq(
      ("lake_exactly_once", lakeOk, s"lake ${lake.size} rows (${lake.toSet.size} distinct), ${valid.size} valid appended"),
      ("dlq_all_corrupt", dlqOk, s"dlq ${dlq.toSet.size} distinct, ${corrupt.size} corrupt appended"),
      ("alerts_match", alertOk,
        s"notified ${notified.size}, matching ${flagged.size}, missed ${(flagged -- notified).size}, " +
          s"false ${(notified -- flagged).size}"))
  }

  /** One timed `Envelope.decode` pass over the whole log: ms per wire MB. */
  def decodePass(): Double = {
    val wireMb = ledger.snapshot().map(_.wire.length.toLong).sum / 1e6
    val t0 = System.nanoTime()
    attempt("codec.decode") {
      tracer.span(sc, "codec.decode") {
        spark.read.format("graftlog").load(dirs.log)
          .select(graft.codec.Envelope.decode(col("data"), Gen.payload).as("env"))
          .write.format("noop").mode("overwrite").save()
      }
    }
    Stats.nanoMs(t0) / wireMb
  }

  def lakeFileCounts(): (Long, Long, Long) = {
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles()).map(_.iterator).getOrElse(Iterator.empty).flatMap(walk)
      else Iterator(f)
    def count(dir: String, p: File => Boolean) = walk(new File(dir)).count(p).toLong
    val lakeFiles = count(dirs.lake, f => f.getName.endsWith(".parquet") && !f.getPath.contains("/_"))
    val zm = count(dirs.manifest, f => f.getPath.contains("_zonemaps") && !f.getName.startsWith("."))
    val mf = count(dirs.manifest, f => !f.getPath.contains("_zonemaps") && !f.getName.startsWith("."))
    (lakeFiles, mf, zm)
  }
}
