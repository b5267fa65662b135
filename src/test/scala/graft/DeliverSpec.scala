package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.audit.AuditListener
import graft.sources.{ManifestReader, ShardedLog, ZoneMaps}
import graft.streaming.{Alert, Deliver}

/** End-to-end delivery-path invariants (SURVEY.md §5): exactly-once under
  * restart, manifest visibility, error routing, raw backup, replay, audit.
  */
class DeliverSpec extends SparkSuite {
  import spark.implicits._

  private val payloadSchema = StructType(Seq(
    StructField("data", StructType(Seq(
      StructField("id", LongType), StructField("status", StringType),
      StructField("value", DoubleType), StructField("ts", TimestampType),
      StructField("event_id", LongType)))),
    StructField("metadata", StructType(Seq(StructField("op", StringType))))))

  private val clock = Some(java.sql.Timestamp.valueOf("2025-11-07 14:32:09.13"))

  private def events = graft.queries.Registry.tbl(spark, sfDir, "events").limit(200)

  test("delivery is exactly-once: restart from checkpoint adds no duplicates (K2/K3)") {
    val base = tmpDir("graft-eo-")
    ShardedLog.put(ShardedLog.fromEvents(events), s"$base/log")
    val cfg = Deliver.Config(s"$base/lake", s"$base/ck",
      trigger = Trigger.AvailableNow(), clock = clock)
    val q1 = Deliver.start(ShardedLog.readStream(spark, s"$base/log"), payloadSchema, cfg)
    q1.awaitTermination()
    val n1 = spark.read.parquet(s"$base/lake").count()
    // restart with the same checkpoint: nothing new to process
    val q2 = Deliver.start(ShardedLog.readStream(spark, s"$base/log"), payloadSchema, cfg)
    q2.awaitTermination()
    val n2 = spark.read.parquet(s"$base/lake").count()
    assert(n1 == 200 && n2 == n1)
    // new records appended to the log are processed exactly once
    ShardedLog.put(ShardedLog.fromEvents(
      graft.queries.Registry.tbl(spark, sfDir, "events")
        .where($"event_id" >= 200 && $"event_id" < 250)), s"$base/log")
    val q3 = Deliver.start(ShardedLog.readStream(spark, s"$base/log"), payloadSchema, cfg)
    q3.awaitTermination()
    val lake = spark.read.parquet(s"$base/lake")
    assert(lake.count() == 250)
    assert(lake.select($"event_id").distinct().count() == 250)
  }

  test("uncommitted files are invisible through the sink manifest (K2)") {
    val base = tmpDir("graft-vis-")
    ShardedLog.put(ShardedLog.fromEvents(events), s"$base/log")
    val q = Deliver.start(ShardedLog.readStream(spark, s"$base/log"), payloadSchema,
      Deliver.Config(s"$base/lake", s"$base/ck", trigger = Trigger.AvailableNow(), clock = clock))
    q.awaitTermination()
    val before = spark.read.parquet(s"$base/lake").count()
    // simulate a torn write: copy a data file in place without a commit entry
    val part = Files.walk(Paths.get(s"$base/lake")).iterator()
    import scala.jdk.CollectionConverters._
    val dataFile = part.asScala.find(p =>
      p.toString.endsWith(".parquet") && !p.toString.contains("_spark_metadata")).get
    Files.copy(dataFile, dataFile.resolveSibling("part-99999-orphan.snappy.parquet"))
    val after = spark.read.parquet(s"$base/lake").count()
    assert(after == before, "reader must consult the commit log, not the directory listing")
  }

  test("failed records route to errors/, raw backup keeps everything (K4/K5)") {
    val base = tmpDir("graft-err-")
    val good = ShardedLog.fromEvents(events.limit(10))
    val bad = good.limit(3).withColumn("data", lit("%%%not-base64%%%"))
      .withColumn("sequence_number", concat(lit("bad-"), col("sequence_number")))
    ShardedLog.put(good.unionByName(bad), s"$base/log")
    val q = Deliver.start(ShardedLog.readStream(spark, s"$base/log"), payloadSchema,
      Deliver.Config(s"$base/lake", s"$base/ck",
        errorDir = Some(s"$base/errors"), backupDir = Some(s"$base/backup"),
        manifestDir = Some(s"$base/manifest"),
        trigger = Trigger.AvailableNow(), clock = clock))
    q.awaitTermination()
    assert(spark.read.parquet(s"$base/lake").count() == 10)
    assert(spark.read.parquet(s"$base/errors").count() == 3)
    assert(spark.read.parquet(s"$base/backup").count() == 13)
    val manifests = new java.io.File(s"$base/manifest").listFiles()
    assert(manifests.nonEmpty)
    val manifest = spark.read.option("multiLine", true).json(s"$base/manifest")
    assert(manifest.select(explode($"entries")).count() > 0)
  }

  test("replay from retained log reprocesses everything with a fresh checkpoint (S5)") {
    val base = tmpDir("graft-replay-")
    ShardedLog.put(ShardedLog.fromEvents(events), s"$base/log")
    val q1 = Deliver.start(ShardedLog.readStream(spark, s"$base/log"), payloadSchema,
      Deliver.Config(s"$base/lake1", s"$base/ck1", trigger = Trigger.AvailableNow(), clock = clock))
    q1.awaitTermination()
    // replay = new consumer position (fresh checkpoint, fresh sink)
    val q2 = Deliver.start(ShardedLog.readStream(spark, s"$base/log"), payloadSchema,
      Deliver.Config(s"$base/lake2", s"$base/ck2", trigger = Trigger.AvailableNow(), clock = clock))
    q2.awaitTermination()
    assert(spark.read.parquet(s"$base/lake1").count() ==
      spark.read.parquet(s"$base/lake2").count())
  }

  test("schema registry: per-table decode, unknown-table and poison records to DLQ (C1)") {
    val base = tmpDir("graft-reg-")
    val good = ShardedLog.fromEvents(events.limit(20))
    // an unregistered table's records: must land in the DLQ, not crash
    val ghost = good.limit(4)
      .withColumn("partition_key",
        concat(lit("ghost-"), substring_index($"partition_key", "-", -1)))
      .withColumn("sequence_number", concat(lit("g"), $"sequence_number"))
    // poison payloads of a REGISTERED table: decode fails, DLQ'd with reason
    val poison = good.limit(3)
      .withColumn("data", lit("%%%not-base64%%%"))
      .withColumn("sequence_number", concat(lit("p"), $"sequence_number"))
    // NULL partition key: derives a NULL table — must route to the DLQ,
    // never silently match no destination (three-valued-logic trap)
    val nullKey = good.limit(2)
      .withColumn("partition_key", lit(null).cast("string"))
      .withColumn("sequence_number", concat(lit("n"), $"sequence_number"))
    ShardedLog.put(good.unionByName(ghost).unionByName(poison).unionByName(nullKey),
      s"$base/log")

    val cfg = Deliver.Config(s"$base/lake", s"$base/ck",
      errorDir = Some(s"$base/dlq"),
      schemas = Map("events" -> payloadSchema),
      trigger = Trigger.AvailableNow(), clock = clock)
    val q = Deliver.startRegistry(ShardedLog.readStream(spark, s"$base/log"), cfg)
    q.awaitTermination()

    assert(spark.read.parquet(s"$base/lake/table=events").count() == 20)
    val dlq = spark.read.parquet(s"$base/dlq")
    assert(dlq.where($"reason" === "unknown_table").count() == 6)
    assert(dlq.where($"reason" === "unknown_table" && $"table".isNull).count() == 2)
    assert(dlq.where($"reason" === "decode_failed").count() == 3)
    assert(dlq.where($"reason" === "unknown_table" && $"table".isNotNull)
      .select($"table").distinct().as[String].collect().toSet == Set("ghost"))
    // nothing lost: lake + DLQ partition the batch
    assert(spark.read.parquet(s"$base/lake/table=events").count() + dlq.count() == 29)

    // restart with the same checkpoint: exactly-once holds on the registry path
    val q2 = Deliver.startRegistry(ShardedLog.readStream(spark, s"$base/log"), cfg)
    q2.awaitTermination()
    assert(spark.read.parquet(s"$base/lake/table=events").count() == 20)
  }

  test("replay after crash between promote and marker does not double-deliver (intent log)") {
    val base = tmpDir("graft-intent-")
    ShardedLog.put(ShardedLog.fromEvents(events.limit(50)), s"$base/log")
    val cfg = Deliver.Config(s"$base/lake", s"$base/ck",
      trigger = Trigger.AvailableNow(), clock = clock)
    // deliver batch 0 directly (the foreachBatch body), as the stream would
    def flatBatch = Deliver.flatten(
      spark.read.schema(ShardedLog.schema).parquet(s"$base/log"), payloadSchema, cfg)
    Deliver.deliverBatch(flatBatch, 0L, cfg)
    assert(spark.read.parquet(s"$base/lake").count() == 50)
    import scala.jdk.CollectionConverters._
    val delivered = Files.walk(Paths.get(s"$base/lake")).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).map(_.toString).toVector
    // reconstruct the crash state: files promoted, intent present, NO marker
    Files.delete(Paths.get(s"$base/lake/_commits/0000000000"))
    Files.write(Paths.get(s"$base/lake/_commits/.intent-0000000000"),
      delivered.map(p => s"file:$p").mkString("\n").getBytes("UTF-8"))
    // the replay must first remove the crashed attempt's files — count
    // stays exactly 50, no duplicates for plain directory readers
    Deliver.deliverBatch(flatBatch, 0L, cfg)
    val lake = spark.read.parquet(s"$base/lake")
    assert(lake.count() == 50, "replay must not double-deliver")
    assert(lake.select($"event_id").distinct().count() == 50)
  }

  test("a reset checkpoint reusing batch ids fails fast instead of dropping data") {
    val base = tmpDir("graft-lineage-")
    ShardedLog.put(ShardedLog.fromEvents(events.limit(20)), s"$base/log")
    val cfg1 = Deliver.Config(s"$base/lake", s"$base/ck1",
      manifestDir = Some(s"$base/manifest"), // the marker-protocol (foreachBatch) path
      trigger = Trigger.AvailableNow(), clock = clock)
    val q1 = Deliver.start(ShardedLog.readStream(spark, s"$base/log"), payloadSchema, cfg1)
    q1.awaitTermination()
    assert(spark.read.parquet(s"$base/lake").count() == 20)
    // same lake, FRESH checkpoint: batch ids restart at 0 — silently
    // skipping the existing marker would discard whatever those reused
    // ids now carry; the delivery must refuse loudly
    val cfg2 = cfg1.copy(checkpointDir = s"$base/ck2")
    val q2 = Deliver.start(ShardedLog.readStream(spark, s"$base/log"), payloadSchema, cfg2)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ rootMessages(x.getCause))
    assert(rootMessages(e).exists(_.contains("reset checkpoint")), e.getMessage)
    // genuine same-checkpoint restart still no-ops cleanly
    val q3 = Deliver.start(ShardedLog.readStream(spark, s"$base/log"), payloadSchema, cfg1)
    q3.awaitTermination()
    assert(spark.read.parquet(s"$base/lake").count() == 20)
  }

  /** `good` plus undecodable copies of its first `bad` records. */
  private def withCorrupt(good: org.apache.spark.sql.DataFrame, bad: Int) =
    good.unionByName(good.limit(bad).withColumn("data", lit("%%%not-base64%%%"))
      .withColumn("sequence_number", concat(lit("bad-"), col("sequence_number"))))

  test("one small flush: direct-write commit, no stage listing, no driver footer open") {
    val base = tmpDir("graft-count-")
    // processing-time partitions: the flush lands in one hour folder, so it
    // writes one lake file and one DLQ file
    val cfg = Deliver.Config(s"$base/lake", s"$base/ck", errorDir = Some(s"$base/dlq"),
      manifestDir = Some(s"$base/manifest"), compact = true, partitionByProcessingTime = true,
      zoneMapCols = Seq("id", "ts"), bloomFilterCols = Seq("id"), clock = clock)
    // a local relation: the source itself runs no job
    val recs = withCorrupt(ShardedLog.fromEvents(events.limit(40)), 3)
    val batch = Deliver.flatten(
      spark.createDataFrame(java.util.Arrays.asList(recs.collect(): _*), recs.schema),
      payloadSchema, cfg)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.add(e.stageInfos.map(_.name).mkString("+")); ()
      }
    }
    def drain() = org.apache.spark.graftbridge.ListenerBridge.flushListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val (_, c) =
      try CountingFs.counting(spark) {
        drain(); jobs.clear()
        Deliver.deliverBatch(batch, 0L, cfg)
        drain()
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(spark.read.parquet(s"$base/lake").count() == 40)
    assert(spark.read.parquet(s"$base/dlq").count() == 3)
    // creates: the lake file, the DLQ file, and four control files (intent,
    // zone sidecar, manifest, marker) — no _temporary tree, no _SUCCESS
    assert(c.creates == 6, c)
    // renames: one promote, and the four control files' installs
    assert(c.renames == 5, c)
    // mkdirs: the lake partition dir the file is promoted into
    assert(c.mkdirs == 1, c)
    // the stage's files come back in the tasks' commit messages, with their
    // zone stats: nothing lists the stage, the driver opens no footer
    assert(c.stageListings == 0, c)
    assert(c.driverParquetOpens == 0, c)
    // jobs: the parallel materialize (count), the lake write, the DLQ write
    assert(jobs.size == 3, jobs)
    // the counter is live: a driver-side footer harvest registers
    val files = ManifestReader.latestManifestFiles(spark, s"$base/manifest")
    assert(files.size == 1)
    val (zones, ctl) = CountingFs.counting(spark) {
      ZoneMaps.fromFooters(spark.sessionState.newHadoopConf(), files, Seq("id"))
    }
    assert(ctl.driverParquetOpens == 1, ctl)
    // and the sidecar the tasks' stats produced matches that harvest
    assert(ZoneMaps.load(spark.sessionState.newHadoopConf(), s"$base/manifest")(files.head)
      .keySet == Set("id", "ts"))
    assert(zones(files.head)("id") == ZoneMaps.load(spark.sessionState.newHadoopConf(),
      s"$base/manifest")(files.head)("id"))
  }

  test("bloom filters are sized to the flush: small files, blooms still prune") {
    val base = tmpDir("graft-bloom-")
    val cfg = Deliver.Config(s"$base/lake", s"$base/ck", manifestDir = Some(s"$base/manifest"),
      compact = true, partitionByProcessingTime = true,
      zoneMapCols = Seq("event_id"), bloomFilterCols = Seq("event_id"), clock = clock)
    // two flushes of 500 rows: even event ids, then odd ones
    val all = graft.queries.Registry.tbl(spark, sfDir, "events")
    Seq(0, 1).foreach { i =>
      Deliver.deliverBatch(Deliver.flatten(
        ShardedLog.fromEvents(all.where($"event_id" % 2 === i)), payloadSchema, cfg), i.toLong, cfg)
    }
    val files = ManifestReader.latestManifestFiles(spark, s"$base/manifest")
    assert(files.size == 2) // one hour folder, one file per flush
    // a default-sized bloom alone is 1 MB
    val fs = new org.apache.hadoop.fs.Path(files.head).getFileSystem(
      spark.sessionState.newHadoopConf())
    files.foreach { f =>
      val len = fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen
      assert(len < 64 * 1024, s"$f is $len bytes")
    }
    // an even id lies inside both files' [min, max]: zone maps keep both,
    // the odd file's bloom drops it
    val k = 500L
    assert(ManifestReader.pruneStats(spark, s"$base/manifest", $"event_id" === k) == ((2, 2)))
    assert(ManifestReader.pruneStats(spark, s"$base/manifest", $"event_id" === k,
      blooms = true) == ((1, 2)))
    assert(ManifestReader.readWhere(spark, s"$base/manifest", $"event_id" === k, blooms = true)
      .count() == 1)
  }

  /** Flushes into one hour folder, one file each. Flush `i` holds the
    * seven ids `≡ i (mod 6)` below 42, each repeated many times (the Zipf
    * shape of a real key), so every file's [min, max] straddles the ids
    * 2–36, and those `≡ 3, 4, 5 (mod 6)` are in no file.
    */
  private def repeatedIdFlushes(base: String, flushes: Seq[Int]): Unit = {
    val cfg = Deliver.Config(s"$base/lake", s"$base/ck", manifestDir = Some(s"$base/manifest"),
      compact = true, partitionByProcessingTime = true,
      zoneMapCols = Seq("id", "ts"), bloomFilterCols = Seq("id"), clock = clock)
    val all = graft.queries.Registry.tbl(spark, sfDir, "events").limit(600)
    flushes.foreach { i =>
      val ev = all.where($"event_id" % 3 === i)
        .withColumn("user_id", ($"event_id" % 7) * 6 + i)
      Deliver.deliverBatch(Deliver.flatten(ShardedLog.fromEvents(ev), payloadSchema, cfg),
        i.toLong, cfg)
    }
  }

  test("repeated ids: no bloom is written, the dictionary prunes the files") {
    val base = tmpDir("graft-dict-")
    repeatedIdFlushes(base, Seq(0, 1, 2))
    val mdir = s"$base/manifest"
    val files = ManifestReader.latestManifestFiles(spark, mdir)
    assert(files.size == 3)
    // parquet-java writes no bloom for a chunk whose data pages are all
    // dictionary-encoded: the case the membership stage must cover
    val hconf = spark.sessionState.newHadoopConf()
    files.foreach { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), hconf))
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.foreach { b =>
          val c = b.getColumns.asScala.find(_.getPath.toDotString == "id").get
          assert(r.getBloomFilterDataReader(b).readBloomFilter(c) == null, s"$f has an id bloom")
          assert(!c.getEncodingStats.hasNonDictionaryEncodedPages, s"$f: ${c.getEncodingStats}")
        }
      } finally r.close()
    }
    val lake = ManifestReader.read(spark, mdir)
    for (k <- Seq(12L, 13L, 14L, 15L)) {
      val holding = files.count(f => spark.read.parquet(f).where($"id" === k).count() > 0)
      assert(ManifestReader.pruneStats(spark, mdir, $"id" === k) == ((3, 3)))
      assert(ManifestReader.pruneStats(spark, mdir, $"id" === k, blooms = true) ==
        ((holding, 3)), s"id $k")
      assert(ManifestReader.readWhere(spark, mdir, $"id" === k, blooms = true)
        .select("sequence_number").as[String].collect().sorted.toSeq ==
        lake.where($"id" === k).select("sequence_number").as[String].collect().sorted.toSeq)
    }
  }

  test("an unchanged chain: readWhere runs one job, opens no manifest and no footer") {
    val base = tmpDir("graft-warm-")
    repeatedIdFlushes(base, Seq(0, 1))
    val mdir = s"$base/manifest"
    def lookup(k: Long) = ManifestReader.readWhere(spark, mdir, $"id" === k, blooms = true)
      .select("sequence_number").as[String].collect().sorted.toSeq
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def drain() = org.apache.spark.graftbridge.ListenerBridge.flushListeners(spark.sparkContext)
    import graft.operators.IndexMeta
    val cold = lookup(12L)
    assert(cold.nonEmpty)
    val (mfHits, mfMisses) = IndexMeta.hitsMisses("mf-urls")
    val (memHits, _) = IndexMeta.hitsMisses("membership")
    drain()
    spark.sparkContext.addSparkListener(listener)
    val (warm, c) =
      try CountingFs.counting(spark) {
        val r = lookup(12L)
        drain()
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(warm == cold)
    assert(jobs.get == 1, "the scan is the only job")
    assert(c.manifestOpens == 0, c)
    assert(c.driverParquetOpens == 0, c)
    assert(IndexMeta.hitsMisses("mf-urls") == ((mfHits + 1, mfMisses)))
    // two files, both zone-kept: each membership lookup hits
    assert(IndexMeta.hitsMisses("membership")._1 == memHits + 2)
    // one more flush holding id 14: the next lookup sees it
    assert(lookup(14L).isEmpty)
    repeatedIdFlushes(base, Seq(2))
    val fresh = lookup(14L)
    assert(fresh.nonEmpty && fresh == ManifestReader.read(spark, mdir).where($"id" === 14L)
      .select("sequence_number").as[String].collect().sorted.toSeq)
    assert(IndexMeta.hitsMisses("mf-urls")._2 == mfMisses + 1)
  }

  test("per-key ordering survives the shard layout (S2: same key ⇒ same shard)") {
    val recs = ShardedLog.fromEvents(events)
    val keyShards = recs.groupBy($"partition_key")
      .agg(countDistinct($"shard_id").as("n_shards"))
      .agg(max($"n_shards")).as[Long].head()
    assert(keyShards == 1L)
    // within a shard, sequence numbers are unique and lexically ordered == numerically ordered
    val seqs = recs.select($"shard_id", $"sequence_number").as[(String, String)].collect()
    assert(seqs.map(_._2).distinct.length == seqs.length)
  }

  test("audit listener records per-batch progress (O1-O4)") {
    val base = tmpDir("graft-audit-")
    val audit = new AuditListener
    spark.streams.addListener(audit)
    try {
      ShardedLog.put(ShardedLog.fromEvents(events), s"$base/log")
      val q = Deliver.start(ShardedLog.readStream(spark, s"$base/log"), payloadSchema,
        Deliver.Config(s"$base/lake", s"$base/ck", trigger = Trigger.AvailableNow(), clock = clock))
      q.awaitTermination()
      // listener delivery is async; wait briefly for the progress event
      val deadline = System.currentTimeMillis() + 10000
      while (audit.entries.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(audit.entries.nonEmpty)
      assert(audit.entries.map(_.numInputRows).sum == 200)
      assert(audit.entries.forall(_.batchDurationMs >= 0))
    } finally spark.streams.removeListener(audit)
  }

  test("delivery runs through the source-binding seam (config-selected backend)") {
    import graft.sources.StreamIngest
    val base = tmpDir("graft-seam-")
    ShardedLog.put(ShardedLog.fromEvents(events.limit(40)), s"$base/log")
    // the production swap is this one line: Emulated(dir) →
    // Kinesis(stream, region) / Kafka(bootstrap, topic); cfg and every
    // downstream stage stay untouched
    val q = Deliver.start(spark, StreamIngest.Emulated(s"$base/log"), payloadSchema,
      Deliver.Config(s"$base/lake", s"$base/ck", manifestDir = Some(s"$base/manifest"),
        trigger = Trigger.AvailableNow(), clock = clock))
    q.awaitTermination()
    assert(spark.read.parquet(s"$base/lake").count() == 40)
    // same for the alert path
    val hits = new java.util.concurrent.atomic.AtomicLong
    val qa = Alert.start(spark, StreamIngest.Emulated(s"$base/log"), payloadSchema,
      pred = $"env.data.value" > lit(0.0), s"$base/ack",
      notify = b => { hits.addAndGet(b.count()); () })
    qa.processAllAvailable(); qa.stop()
    assert(hits.get() > 0)
  }

  test("audit listener surfaces state-store metrics for stateful queries (O1 extended)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val audit = new AuditListener
    spark.streams.addListener(audit)
    try {
      val input = MemoryStream[(Long, Double)](spark)
      val counts = input.toDS()
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (key: Long, rows: Iterator[(Long, Double)], state: GroupState[Long]) =>
            val n = state.getOption.getOrElse(0L) + rows.size
            state.update(n)
            (key, n)
        }
      val q = counts.writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName("audit_stateful").start()
      input.addData((1L, 1.0), (2L, 2.0), (3L, 3.0))
      q.processAllAvailable()
      q.stop()
      val deadline = System.currentTimeMillis() + 10000
      def stateful = audit.entries.filter(_.stateOperators > 0)
      while (stateful.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      // the state store's size is monitorable: 3 keys resident, memory
      // attributed, updates counted — the unbounded-state-growth signature
      // (rows climbing batch over batch) is visible from this log
      assert(stateful.nonEmpty, audit.entries.toString)
      val s = stateful.maxBy(_.batchId)
      assert(s.stateRowsTotal == 3, s.toString)
      assert(s.stateMemoryBytes > 0, s.toString)
      assert(s.stateRowsUpdated == 3, s.toString)
    } finally spark.streams.removeListener(audit)
  }

  test("alert path fires the predicate exactly on matching records (T8/K6)") {
    val base = tmpDir("graft-alert-")
    ShardedLog.put(ShardedLog.fromEvents(events), s"$base/log")
    val hits = new java.util.concurrent.atomic.AtomicLong
    val q = Alert.start(ShardedLog.readStream(spark, s"$base/log"), payloadSchema,
      pred = $"env.metadata.op" === "D",
      checkpointDir = s"$base/ck",
      notify = b => hits.addAndGet(b.count()),
      trigger = Trigger.AvailableNow())
    q.awaitTermination()
    val expected = events.where($"event_type" === "error").count()
    assert(hits.get() == expected)
  }
}
