package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.codec.Envelope

/** The lake-delivery path (Firehose equivalent, SURVEY.md §7.1(4)):
  * micro-batch buffer → decode/enrich → Hive-partitioned parquet+snappy →
  * transactional visibility → portable manifest → error/DLQ + raw backup.
  *
  * Exactly-once: the checkpoint stores source offsets (README.md:305-309)
  * and the sink is idempotent per batch id, so an at-least-once read
  * delivers end-to-end exactly-once. With no side output configured, the
  * native parquet `FileStreamSink` commits each batch into
  * `_spark_metadata`. Otherwise (manifest, DLQ, backup or compact) each
  * batch runs [[deliverBatch]]'s protocol instead — the reference's
  * data-then-manifest flush (README.md:291-303): data files staged and
  * promoted under a write-ahead intent, then zone maps, the per-batch
  * manifest and a commit marker. That path writes no `_spark_metadata`.
  */
object Deliver {

  final case class Config(
      lakeDir: String,
      checkpointDir: String,
      errorDir: Option[String] = None,
      backupDir: Option[String] = None,
      manifestDir: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"), // README.md:117 IntervalInSeconds=60
      maxRecordsPerFile: Long = 5000000,
      compact: Boolean = false, // B2: one output file per flush (README.md:259, 379-380)
      // true = reference semantics (README.md:130: partitions from the
      // PROCESSING-time template — each flush lands in one hour folder);
      // false = event-time partitions (deterministic for oracle tests)
      partitionByProcessingTime: Boolean = false,
      // K9 dynamic partitioning by content (README.md:157, 433): route each
      // record to a per-table folder derived from its partition key
      // ("schema-table-id" → table prefix)
      routeByTable: Boolean = false,
      // every Nth batch the manifest is a full snapshot folding the chain
      // (Delta/Iceberg checkpoint pattern); batches in between write
      // incremental manifests listing ONLY that flush's files
      manifestCompactEvery: Int = 10,
      // C1 per-table dynamic schema registry (README.md:47, 75, 227): the
      // reference's PartitionKey is "schema-table-id" — one stream carries
      // MANY tables' CDC. When non-empty, [[startRegistry]] decodes each
      // record against ITS table's schema (table = partition_key prefix)
      // and lands it under lake/table=<t>/...; records whose table has no
      // registered schema route to the DLQ (errorDir), never crash the
      // stream.
      schemas: Map[String, StructType] = Map.empty,
      // file-level zone maps: harvest these columns' min/max from the
      // just-written parquet footers each flush (metadata-only, no data
      // re-scan) into a `_zonemaps` sidecar next to the manifest —
      // ManifestReader.readWhere then skips whole files a predicate can't
      // match. Keep the list small (stats size is files × cols); Nil = off.
      zoneMapCols: Seq[String] = Nil,
      // parquet bloom filters for these columns (written into each data
      // file): the point-lookup complement to zone maps — an equality
      // probe on a high-cardinality key spread across files has every
      // file's [min,max] straddling it, but readWhere(blooms = true)
      // disproves membership per row group. parquet-java writes the bloom
      // only for a chunk with plain-encoded data pages (mostly-unique
      // keys); a chunk that is all dictionary (repeated keys) gets none,
      // and the reader tests its dictionary page instead (exact). Costs
      // write CPU + a filter sized for the flush's row count at 1 % false
      // positives (~1.2 bytes a row, capped at parquet.bloom.filter.max.bytes).
      bloomFilterCols: Seq[String] = Nil,
      // the maintenance-lock seam (the Compact/Erase/Retention argument):
      // the sink's opportunistic parquet-tier manifest self-fold takes
      // this lock non-blockingly so it never races a locked retire fold —
      // object-store deployments swap the same provider here as on the
      // maintenance entry points
      lock: LockProvider = FsLeaseLock,
      // erased-key replay guard (r14): when set, each batch's ok rows are
      // probed against the lake's `_erased/key=<col>` tombstones
      // ([[ErasedKeys]] — written by Erase.eraseKeys) and matches are
      // DROPPED (recorded under `_erased/dropped/batch=<id>` for audit)
      // or, with erasedGuardFail = true, fail the batch loudly. This turns
      // a crash-replay resurrecting a GDPR-erased subject from a silent
      // violation into a drop-with-receipt (or a stop-the-line error).
      // Zero cost until a tombstone sidecar exists.
      erasedGuardCol: Option[String] = None,
      erasedGuardFail: Boolean = false,
      clock: Option[java.sql.Timestamp] = None) // fixed clock for deterministic tests

  /** Decode wire records and derive the delivered-lake columns:
    * payload fields + processed_at + year/month/day/hour partitions.
    * Partition values derive from the payload event time when present,
    * else the arrival timestamp (README.md:130's timestamp template).
    */
  def transform(records: DataFrame, payloadSchema: StructType,
      clock: Option[java.sql.Timestamp],
      partitionByProcessingTime: Boolean = false): DataFrame = {
    val decoded = records
      .withColumn("env", Envelope.decode(col("data"), payloadSchema))
      .withColumn("__ok", col("env").isNotNull && col("env.data").isNotNull)
    val withPt = Envelope.withProcessedAt(decoded, clock)
    // a registered table whose payload has no event-time field must fall
    // back to arrival time, not crash the stream with an unresolvable
    // env.data.ts (the registry contract: per-table problems never kill
    // the query)
    val hasTs = scala.util.Try(payloadSchema("data").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.contains("ts"))
      .getOrElse(false)
    val ts =
      if (partitionByProcessingTime) col("processed_at")
      else if (hasTs) coalesce(col("env.data.ts"), col("approx_arrival_ts"))
      else col("approx_arrival_ts")
    Envelope.withTimePartitions(withPt, ts)
  }

  /** Start the delivery query: transactional partitioned parquet sink with
    * snappy compression (F1/F2/K1/K2/K3), plus — via foreachBatch when any
    * side output is configured — the portable manifest (K2), the error
    * prefix (K4) and the raw backup (K5).
    */
  def start(records: DataFrame, payloadSchema: StructType, cfg: Config): StreamingQuery = {
    val flat = flatten(records, payloadSchema, cfg)

    // compact=true needs the foreachBatch path too: the native
    // FileStreamSink branch has no per-batch coalesce, so B2's
    // one-file-per-flush contract would silently not hold there
    val needForeach = cfg.errorDir.isDefined || cfg.backupDir.isDefined ||
      cfg.manifestDir.isDefined || cfg.compact
    if (!needForeach) {
      flat.where(col("__ok")).drop("__ok", "__raw")
        .writeStream
        .format("parquet")
        .option("path", cfg.lakeDir)
        .option("compression", "snappy")
        .option("maxRecordsPerFile", cfg.maxRecordsPerFile)
        .partitionBy(partCols(cfg): _*)
        .option("checkpointLocation", cfg.checkpointDir)
        .trigger(cfg.trigger)
        .start()
    } else {
      flat.writeStream
        .option("checkpointLocation", cfg.checkpointDir)
        .trigger(cfg.trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          deliverBatch(batch, batchId, cfg)
        }
        .start()
    }
  }

  /** The frame [[deliverBatch]] receives per batch: the lake's columns,
    * the partition columns, plus `__ok` (decoded) and `__raw` (the wire
    * payload, for the DLQ and backup).
    */
  private[graft] def flatten(records: DataFrame, payloadSchema: StructType,
      cfg: Config): DataFrame = {
    val frame = transform(records, payloadSchema, cfg.clock, cfg.partitionByProcessingTime)
    val baseCols = Seq(
      col("partition_key"), col("sequence_number"),
      col("env.data.*"), col("env.metadata.op").as("op"),
      col("processed_at"), col("year"), col("month"), col("day"), col("hour"),
      col("__ok"), col("data").as("__raw"))
    if (cfg.routeByTable)
      frame.select(substring_index(col("partition_key"), "-", 1).as("table") +: baseCols: _*)
    else frame.select(baseCols: _*)
  }

  private def partCols(cfg: Config): Seq[String] =
    (if (cfg.routeByTable) Seq("table") else Seq.empty) ++ Seq("year", "month", "day", "hour")

  /** Source-seam variant (README.md:46-53's source contract): the stream
    * backend is a CONFIG, not a call-site rewrite. Offline:
    * `StreamIngest.Emulated(dir)`. Production swaps ONE line —
    * `StreamIngest.Kinesis(stream, region)` (spark-sql-kinesis connector,
    * enhanced fan-out via `consumerArn`) or `StreamIngest.Kafka(...)` —
    * and every downstream stage (decode, partitions, manifest, DLQ,
    * backup) is unchanged, because all bindings yield the same
    * record-envelope columns.
    */
  def start(spark: SparkSession, source: graft.sources.StreamIngest.SourceConfig,
      payloadSchema: StructType, cfg: Config): StreamingQuery =
    start(graft.sources.StreamIngest.readStream(spark, source), payloadSchema, cfg)

  /** One buffer flush (README.md:282-303): stage this batch's data files
    * under a batch-scoped prefix (the DLQ and backup are written
    * alongside), promote them into the lake, then — strictly after — the
    * per-batch manifest listing exactly this flush's files (the
    * reference's manifests are per-flush too), then the batch commit
    * marker. Every step is O(this batch): no directory walk of the
    * lake, no cumulative manifest rewrite — the two O(history)
    * scale-killers of a long-running 60 s-flush stream.
    *
    * Replayed batches (crash between sink work and checkpoint commit) are
    * skipped via the marker; a replay after a crash mid-batch first removes
    * the crashed attempt's promoted files (recorded in a write-ahead intent
    * file before any promote — see [[promoteStage]]), then re-stages and
    * re-promotes, and OVERWRITES manifest-<batchId>. Exactly-once therefore
    * holds for manifest readers, checkpointed restarts, AND plain directory
    * readers — no orphan data files survive a replay.
    *
    * All marker/manifest/promotion I/O goes through Hadoop `FileSystem`, so
    * hdfs:// and s3a:// lake URIs use the right store, not the driver's
    * local disk. (On S3 the per-file promote rename is a copy; object-store
    * deployments at scale should prefer the native `_spark_metadata` sink
    * path, which commits without renames.)
    */
  /** Replay check with CHECKPOINT LINEAGE: the commit marker records which
    * checkpoint delivered the batch. Same checkpoint ⇒ genuine replay,
    * skip. A DIFFERENT checkpoint reusing the batch id means the
    * checkpoint was reset against a retained lake — silently skipping
    * would discard the new data those reused ids carry, so fail fast.
    * (Markers from older releases are empty; they can only be same-lineage
    * in a continuously-operated lake, so they skip as before.)
    */
  private def alreadyDelivered(fs: FileSystem, marker: HPath, batchId: Long,
      cfg: Config): Boolean = {
    if (!fs.exists(marker)) return false
    val by = FsOps.readString(fs, marker).trim
    // compare fully-qualified paths: a same-checkpoint restart that spells
    // the dir differently (relative vs absolute, trailing slash, file://
    // scheme) must not be mistaken for a reset checkpoint
    if (by.nonEmpty && qualifiedCkpt(by, fs) != qualifiedCkpt(cfg.checkpointDir, fs))
      throw new IllegalStateException(
        s"lake ${cfg.lakeDir} batch $batchId was delivered by checkpoint '$by' but this " +
          s"stream runs from '${cfg.checkpointDir}': a reset checkpoint reuses batch ids " +
          "and silently skipping would drop the new records behind them — deliver into a " +
          "fresh lake, or clear _commits/ after verifying the lake matches the log")
    // a crash between the marker and the intent's removal leaves the
    // intent behind; the replay that finds the marker removes it
    clearIntent(fs, new HPath(cfg.lakeDir), batchId)
    true
  }

  /** Canonical spelling of a checkpoint dir: qualified against its own
    * filesystem (scheme + authority + absolute path, no trailing slash).
    * `lakeFs` only supplies the Hadoop conf; the path's scheme wins.
    */
  private def qualifiedCkpt(dir: String, lakeFs: FileSystem): String = {
    val p = new HPath(dir)
    p.getFileSystem(lakeFs.getConf).makeQualified(p).toString
  }

  private def writeMarker(hconf: org.apache.hadoop.conf.Configuration, fs: FileSystem,
      marker: HPath, cfg: Config): Unit =
    FsOps.atomicWrite(hconf, fs, marker, qualifiedCkpt(cfg.checkpointDir, fs).getBytes("UTF-8"))

  private[graft] def deliverBatch(batch: DataFrame, batchId: Long, cfg: Config): Unit = {
    val spark = batch.sparkSession
    val hconf = spark.sessionState.newHadoopConf()
    val lake = new HPath(cfg.lakeDir)
    val fs = lake.getFileSystem(hconf)
    val marker = new HPath(lake, f"_commits/$batchId%010d")
    if (alreadyDelivered(fs, marker, batchId, cfg)) return

    // lake write, DLQ write, and raw backup all consume this batch —
    // persist so the source scan + decode run once, and processed_at
    // cannot drift between the destinations of one batch. The count
    // builds that cache with one task per source partition, so the decode
    // runs in parallel before compact's single-task write reads it; and
    // the batch's row count bounds every file's distinct keys, which sizes
    // the bloom filters. (An RDD count is one job; `Dataset.count` plans an
    // aggregate, which adaptive execution runs as two.)
    batch.persist()
    try {
    val rows = batch.rdd.count()
    val okRaw = batch.where(col("__ok")).drop("__ok", "__raw")
    val okAll = guardErased(okRaw, batchId, cfg)
    // B2 batch compaction: the reference's buffer flush emits ONE object per
    // flush (1000 records → 1 part file); coalesce(1) reproduces that.
    val ok = if (cfg.compact) okAll.coalesce(1) else okAll

    // 1. data files (PUT #1) → batch-scoped staging prefix, cleared first so
    // a replay never promotes a crashed attempt's files; alongside, the
    // side outputs. Failed records → errors/ prefix (README.md:426); raw
    // backup (S3BackupMode=AllData, README.md:605). The erased-key probe
    // (zero cost with no tombstones) keeps a replay from resurrecting a
    // GDPR-erased subject in either: the DLQ rows are undecodable but still
    // carry the subject's partition key, which is how they get erased
    // (Erase.LakeTarget keys override) and how the guard recognizes them;
    // the backup is a byte-copy of every record, and erasure that skipped
    // it would not be erasure.
    val stage = fs.makeQualified(new HPath(lake, f"_staging/batch-$batchId%010d"))
    FsOps.deleteOrThrow(fs, stage, recursive = true)
    val sides = cfg.errorDir.toSeq.map { edir =>
      SideOutput(ErasedKeys.dropErased(
        batch.where(!col("__ok"))
          .select(col("partition_key"), col("sequence_number"), col("__raw").as("raw"),
            col("processed_at"), col("year"), col("month"), col("day"), col("hour")),
        edir, "partition_key", "partition_key", "DLQ write"),
        s"$edir/batch=$batchId", Seq("year", "month", "day", "hour"))
    } ++ cfg.backupDir.toSeq.map { bdir =>
      SideOutput(ErasedKeys.dropErased(
        batch.select(col("partition_key"), col("sequence_number"), col("__raw").as("raw")),
        bdir, "partition_key", "partition_key", "raw backup write"),
        s"$bdir/batch=$batchId", Nil)
    }
    val staged = withSideOutputs(spark, hconf, sides) {
      stageWrite(ok, stage, partCols(cfg), rows, cfg)
    }

    // 2-3. promote, zone maps, manifest
    publish(fs, hconf, lake, stage, staged, batchId, cfg)

    // 4. commit marker — the batch is fully delivered; replays become no-ops
    writeMarker(hconf, fs, marker, cfg)
    clearIntent(fs, lake, batchId)
    } finally { batch.unpersist(); () }

    // 5. tombstone-sidecar self-fold at the manifest cadence: the
    // `_erased` listings must stay O(1) in erase-request count, like the
    // manifest chain and zone sidecars — on EVERY store this sink probes
    // (the lake's guard, and the backup/DLQ write guards). AFTER the
    // marker — folding retires set files this batch's guard frames may
    // still be lazily referencing. foldIfQuiet takes each store's
    // maintenance try-lock; busy or failed → skip, sets accumulate until
    // the next cadence.
    if (graft.sources.ZoneMaps.foldCadence(batchId, cfg.manifestCompactEvery)) {
      cfg.erasedGuardCol.foreach(k =>
        ErasedKeys.foldIfQuiet(spark, cfg.lakeDir, k, cfg.lock))
      (cfg.errorDir.toSeq ++ cfg.backupDir.toSeq).foreach(d =>
        ErasedKeys.foldIfQuiet(spark, d, "partition_key", cfg.lock))
    }
  }

  /** Steps 2-3 of a flush: promote the staged files into their lake
    * partition dirs ([[promoteStage]]), then zone maps (advisory, before
    * the manifest so a published manifest's files always have their stats
    * visible), then the manifest (PUT #2, only after data success —
    * README.md:419-430): an incremental per-batch listing; every Nth batch
    * folds the chain into a snapshot so reader/compaction work stays
    * O(batch + chain/N).
    */
  private def publish(fs: FileSystem, hconf: org.apache.hadoop.conf.Configuration, lake: HPath,
      stage: HPath, staged: Seq[DirectCommitProtocol.Staged], batchId: Long, cfg: Config): Unit = {
    val added = promoteStage(fs, hconf, lake, stage, staged, batchId, cfg)
    cfg.manifestDir.foreach { mdir =>
      writeZoneMaps(hconf, mdir, batchId, added, cfg)
      writeManifest(hconf, mdir, batchId, added.map(_.file), cfg.manifestCompactEvery,
        cfg.lakeDir, cfg.lock)
    }
  }

  /** Write one slice of the batch into the flat stage through
    * [[DirectCommitProtocol]]: one task per output partition of `df`, each
    * returning its files and, when zone maps are on, their footer stats.
    * Blooms are sized for `rows` distinct keys, the batch's row count, at
    * parquet's default 1 % false-positive rate — a fixed-size default
    * filter would spend ~1 MB per file on a flush of a few thousand rows.
    */
  private def stageWrite(df: DataFrame, stage: HPath, partitionBy: Seq[String], rows: Long,
      cfg: Config): Seq[DirectCommitProtocol.Staged] = {
    val w = cfg.bloomFilterCols.foldLeft(
      df.write.mode("append")
        .option("compression", "snappy")
        .option("maxRecordsPerFile", cfg.maxRecordsPerFile)) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", math.max(rows, 1L))
    }.partitionBy(partitionBy: _*)
    val zoneCols = if (cfg.manifestDir.isDefined) cfg.zoneMapCols else Nil
    DirectCommitProtocol.run(stage, flat = true, zoneCols)(w.parquet(stage.toString))
  }

  /** A batch-scoped side output (DLQ, raw backup): `df` goes to `dir`. */
  private final case class SideOutput(df: DataFrame, dir: String, partitionBy: Seq[String])

  /** Run `stage` (the lake's stage writes) with the session conf of
    * Deliver's writes set, and write `sides` alongside it: each side dir is
    * cleared first, here, so a replay replaces a crashed attempt's files;
    * then every side output is written in one task, in place, through
    * [[DirectCommitProtocol]], on a second thread — compact's single-task
    * stage write leaves the other cores idle. The thread is created here,
    * so it inherits this one's Spark local properties (the stream's job
    * group). Both finish before the conf is restored; a stage failure wins
    * over a side failure. Side files get the lake's INT64 timestamps too.
    */
  private def withSideOutputs[T](spark: SparkSession, hconf: org.apache.hadoop.conf.Configuration,
      sides: Seq[SideOutput])(stage: => T): T = {
    val outs = sides.map { o =>
      val p = new HPath(o.dir)
      val fs = p.getFileSystem(hconf)
      val out = fs.makeQualified(p)
      FsOps.deleteOrThrow(fs, out, recursive = true)
      (o, out)
    }
    withSessionConf(spark, Int64Timestamps, DirectCommitProtocol.SessionConf) {
      @volatile var failure: Option[Throwable] = None
      val side = new Thread(() =>
        try outs.foreach { case (o, out) =>
          DirectCommitProtocol.run(out, flat = false, Nil) {
            o.df.coalesce(1).write.mode("append").partitionBy(o.partitionBy: _*)
              .parquet(out.toString)
          }
        } catch { case e: Throwable => failure = Some(e) }, "graft-deliver-side-outputs")
      side.start()
      val r = try stage finally side.join()
      failure.foreach(e => throw e)
      r
    }
  }

  /** The erased-key replay guard (see Config.erasedGuardCol): drop rows
    * whose key is tombstoned, with a per-batch audit record of what was
    * dropped (idempotent — overwrite by batch id, like the DLQ). Returns
    * the frame unchanged when no guard is configured or no tombstones
    * exist. `erasedGuardFail = true` fails the batch instead of dropping —
    * the stop-the-line posture for pipelines where a resurrected id must
    * halt delivery rather than vanish.
    */
  private def guardErased(ok: DataFrame, batchId: Long, cfg: Config): DataFrame =
    cfg.erasedGuardCol match {
      case None => ok
      case Some(k) =>
        ErasedKeys.guardWithReceipt(ok, cfg.lakeDir, k,
          Seq(k, "sequence_number", "processed_at"), batchId,
          cfg.erasedGuardFail, "deliver")
    }

  private def intentPath(lake: HPath, batchId: Long) =
    new HPath(lake, f"_commits/.intent-$batchId%010d")

  private def clearIntent(fs: FileSystem, lake: HPath, batchId: Long): Unit =
    FsOps.deleteOrThrow(fs, intentPath(lake, batchId), recursive = false)

  /** Move every staged parquet into its lake partition dir. The staged
    * files are the ones the write's tasks committed ([[DirectCommitProtocol]]
    * returns them), so promote neither lists the stage nor walks the lake,
    * and a failed rename throws before the manifest could list a file that
    * does not exist. Returns the promoted files, their `file` now the
    * qualified lake url, sorted by url.
    *
    * Replay idempotence for DIRECTORY readers: before any promote, the full
    * destination list is recorded in a write-ahead intent file; a replay of
    * the same batch first deletes whatever the crashed attempt promoted
    * (O(batch) — exactly the listed paths), so a crash at ANY point between
    * first promote and the commit marker cannot double-deliver, even when
    * the replay's files land under different names or (with processing-time
    * partitioning) different partition dirs. MANIFEST readers stay
    * consistent through the cleanup: if the crashed attempt already
    * published manifest-<batchId> (it lists exactly the files about to be
    * deleted), the manifest is first neutralized to an empty listing, and
    * rewritten with the replay's files after promote — the chain never
    * names a deleted file.
    */
  private def promoteStage(fs: FileSystem, hconf: org.apache.hadoop.conf.Configuration,
      lake: HPath, stage: HPath, staged: Seq[DirectCommitProtocol.Staged], batchId: Long,
      cfg: Config): Seq[DirectCommitProtocol.Staged] = {
    // 0. crashed-attempt cleanup: remove files a previous attempt of THIS
    // batch already promoted (the intent file is the exact list), after
    // retracting any manifest that lists them
    val intent = intentPath(lake, batchId)
    if (fs.exists(intent)) {
      cfg.manifestDir.foreach { mdir =>
        writeManifest(hconf, mdir, batchId, Seq.empty, cfg.manifestCompactEvery, cfg.lakeDir, cfg.lock)
      }
      FsOps.readString(fs, intent).split("\n").filter(_.nonEmpty)
        .foreach(p => FsOps.deleteOrThrow(fs, new HPath(p), recursive = false))
    }
    val moves = staged.map { s =>
      val src = new HPath(s.file)
      (s, src, fs.makeQualified(new HPath(new HPath(lake, s.partDir), src.getName)))
    }
    if (moves.nonEmpty) {
      // 1. intent (write-ahead): the destination list is durable BEFORE the
      // first rename, so a crash mid-promote is recoverable
      FsOps.atomicWrite(hconf, fs, intent,
        moves.map(_._3.toString).mkString("\n").getBytes("UTF-8"))
      // 2. promote: one mkdirs per partition dir, one rename per file
      moves.map(_._3.getParent).distinct.foreach(FsOps.mkdirs(fs, _))
      moves.foreach { case (_, src, dest) => FsOps.renameOrThrow(fs, src, dest) }
    }
    FsOps.deleteOrThrow(fs, stage, recursive = true)
    moves.map { case (s, _, dest) => s.copy(file = dest.toString) }.sortBy(_.file)
  }

  /** Start the MULTI-TABLE delivery query (C1 dynamic schema registry):
    * one stream carrying many tables' CDC, each record decoded against its
    * own table's registered schema and delivered under `lake/table=<t>/…`.
    * Records of unregistered tables go to the DLQ (`errorDir`) with
    * `reason = 'unknown_table'`; decode failures of registered tables with
    * `reason = 'decode_failed'` — neither crashes the stream (K4).
    */
  def startRegistry(records: DataFrame, cfg: Config): StreamingQuery = {
    require(cfg.schemas.nonEmpty, "startRegistry needs at least one registered table schema")
    records.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(cfg.trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        deliverRegistryBatch(batch, batchId, cfg)
      }
      .start()
  }

  /** Source-seam variant of [[startRegistry]] — see [[start]]'s seam note. */
  def startRegistry(spark: SparkSession,
      source: graft.sources.StreamIngest.SourceConfig, cfg: Config): StreamingQuery =
    startRegistry(graft.sources.StreamIngest.readStream(spark, source), cfg)

  /** One registry flush: per registered table, decode that table's slice
    * with its own schema and stage it under `table=<t>/year=…`; then the
    * shared protocol of [[deliverBatch]] (DLQ alongside the stage writes,
    * promote, manifest, marker).
    * Work is O(batch × registered-tables-present): the per-table slices are
    * pruned from a single cached pass over the batch, and empty slices skip
    * the write entirely. All tables' files share one flat stage (their
    * names are unique); each carries its `table=<t>/` partition dir.
    */
  private[streaming] def deliverRegistryBatch(batch: DataFrame, batchId: Long,
      cfg: Config): Unit = {
    val spark = batch.sparkSession
    val hconf = spark.sessionState.newHadoopConf()
    val lake = new HPath(cfg.lakeDir)
    val fs = lake.getFileSystem(hconf)
    val marker = new HPath(lake, f"_commits/$batchId%010d")
    if (alreadyDelivered(fs, marker, batchId, cfg)) return

    val tabled = batch
      .withColumn("table", substring_index(col("partition_key"), "-", 1))
      .persist()
    try {
      // which registered tables actually appear in this batch, with each
      // one's row count (it sizes the table's bloom filters) — avoids one
      // no-op Spark job per registered-but-absent table (a 1000-table
      // registry must not cost 1000 jobs per flush)
      // restrict to REGISTERED tables before the grouped collect: the
      // table prefix is raw user data, and a feed of pathological keys
      // must not materialize millions of driver strings — unknown tables
      // take the DLQ path below without ever being enumerated here
      val present = tabled.select("table")
        .where(col("table").isin(cfg.schemas.keys.toSeq: _*))
        .groupBy("table").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // O(#registered tables)
      val stage = fs.makeQualified(new HPath(lake, f"_staging/batch-$batchId%010d"))
      FsOps.deleteOrThrow(fs, stage, recursive = true)
      val rawCols = Seq(col("table"), col("partition_key"), col("sequence_number"),
        col("data").as("raw"))

      // one transform() per present table drives BOTH destinations — the
      // lake write takes where(__ok), the DLQ takes where(!__ok) of the
      // SAME frame, so "landed ∪ DLQ = batch" holds by construction (no
      // second decode, no independently-maintained predicate to drift)
      val slices = cfg.schemas.toSeq.collect { case (t, tableSchema) if present.contains(t) =>
        val frame = transform(tabled.where(col("table") === t), tableSchema,
          cfg.clock, cfg.partitionByProcessingTime)
        val ok = frame.where(col("__ok")).select(
          col("partition_key"), col("sequence_number"), col("env.data.*"),
          col("env.metadata.op").as("op"), col("processed_at"),
          col("year"), col("month"), col("day"), col("hour"))
        // per-table erased-key replay guard: registry lakes erase per
        // table subdir (LakeTarget(s"$lake/table=<t>", key)), so each
        // table's tombstones live — and are probed — under its own root
        val okG = cfg.erasedGuardCol match {
          case Some(k) => ErasedKeys.guardWithReceipt(ok,
            s"${cfg.lakeDir}/table=$t", k,
            Seq(k, "sequence_number", "processed_at"), batchId,
            cfg.erasedGuardFail, s"deliver[$t]")
          case None => ok
        }
        (t, if (cfg.compact) okG.coalesce(1) else okG,
          frame.where(!col("__ok")).select(rawCols :+ lit("decode_failed").as("reason"): _*))
      }

      // DLQ: unknown tables + per-table decode failures, one idempotent
      // batch-scoped write (replay replaces, never appends). The unknown
      // filter is null-safe: a NULL partition_key derives a NULL table,
      // which must route here — not silently match no destination.
      val unknown = tabled
        .where(col("table").isNull || !col("table").isInCollection(cfg.schemas.keySet.toSeq))
        .select(rawCols :+ lit("unknown_table").as("reason"): _*)
      val sides = cfg.errorDir.toSeq.map { edir =>
        SideOutput((unknown +: slices.map(_._3)).reduce(_ unionByName _),
          s"$edir/batch=$batchId", Nil)
      } ++ cfg.backupDir.toSeq.map { bdir =>
        SideOutput(tabled.select(col("partition_key"), col("sequence_number"),
          col("data").as("raw")), s"$bdir/batch=$batchId", Nil)
      }
      val staged = withSideOutputs(spark, hconf, sides) {
        slices.flatMap { case (t, ok, _) =>
          stageWrite(ok, stage, Seq("year", "month", "day", "hour"), present(t), cfg)
            .map(f => f.copy(partDir = s"table=$t/${f.partDir}"))
        }
      }
      publish(fs, hconf, lake, stage, staged, batchId, cfg)

      writeMarker(hconf, fs, marker, cfg)
      clearIntent(fs, lake, batchId)
    } finally tabled.unpersist()
  }

  /** Lake writes use parquet-standard INT64 micros timestamps (scoped —
    * the session conf's INT96 default is deprecated in the parquet spec
    * and carries NO usable min/max statistics, which would silently
    * disable zone-map pruning on every timestamp column). Set/restore
    * around the write, SYNCHRONIZED: two concurrent writers on one
    * SparkSession (a Deliver stream beside Compact, or two streams)
    * would otherwise interleave the toggles — leaving INT96 active
    * during a lake write (silently stat-less files) or the override
    * leaked past the block. A per-write DataFrameWriter option is NOT an
    * alternative: Spark 4's ParquetUtils.prepareWrite unconditionally
    * re-sets the job conf key from the session SQLConf, so the session
    * toggle is the only control point — hence the lock. Lake writes of
    * one process serialize across this boundary; the toggle covers only
    * the write call, and per-stream writes are serial anyway. The same
    * lock scopes the commit-protocol class of Deliver's own writes
    * ([[DirectCommitProtocol.SessionConf]]), which is likewise read only
    * from the session conf.
    */
  private[graft] def withInt64Timestamps[T](spark: SparkSession)(body: => T): T =
    withSessionConf(spark, Int64Timestamps)(body)

  private val Int64Timestamps = "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"
  private val sessionConfLock = new Object

  /** Set `confs` on the session for the duration of `body` and restore the
    * previous values after, under one lock for every such writer.
    */
  private def withSessionConf[T](spark: SparkSession, confs: (String, String)*)(body: => T): T =
    sessionConfLock.synchronized {
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }

  /** Write this flush's footer stats into the `_zonemaps` sidecar (no-op
    * when zoneMapCols is empty). The stats were read by the tasks that
    * wrote the files and came back with them ([[DirectCommitProtocol]]), so
    * the driver opens no footer here. Idempotent per batchId like the
    * manifest; snapshot cadence mirrors manifestCompactEvery.
    */
  private def writeZoneMaps(hconf: org.apache.hadoop.conf.Configuration,
      mdir: String, batchId: Long, added: Seq[DirectCommitProtocol.Staged],
      cfg: Config): Unit =
    if (cfg.zoneMapCols.nonEmpty) {
      // the sidecar is ADVISORY: a failed write or fold must degrade to
      // no-pruning-for-this-batch, never fail the data flush (an
      // unreadable footer already degraded its own file in the task)
      try {
        graft.sources.ZoneMaps.write(hconf, mdir, batchId,
          added.map(f => f.file -> f.zones).toMap, cfg.manifestCompactEvery)
        // parquet-tier lakes SELF-MAINTAIN: at the cadence the JSON chain
        // would have folded, fold the parquet snapshot distributively
        // (write() emits only incrementals once the tier is parquet —
        // without this, overlay incrementals accumulate until external
        // maintenance). Idempotent per batchId like the incremental.
        if (graft.sources.ZoneMaps.foldCadence(batchId, cfg.manifestCompactEvery) &&
            graft.sources.ZoneMaps.isParquetTier(hconf, mdir))
          selfFold("sidecar", batchId, cfg.lakeDir, cfg.lock, hconf) { s =>
            graft.sources.ZoneMaps.foldToParquet(s, mdir, snapshotId = Some(batchId))
          }
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] WARNING: zone-map sidecar write failed for " +
            s"batch $batchId (${e.getMessage}) — files delivered fine, " +
            "readers just won't prune them; ManifestReader.refreshZoneMaps " +
            "rebuilds the sidecar")
      }
    }

  /** A parquet-tier chain's self-fold at cadence, under the maintenance
    * try-lock: an unlocked fold racing a LOCKED Compact/Retention/Erase
    * fold or zone repair could replace its result blind to its edits —
    * resurrecting just-retired files in the manifest, or swapping the zone
    * snapshot a repair's job is mid-reading (it died FILE_NOT_EXIST in the
    * double-graduated soak). A busy lock, no session or a failed fold skips
    * it, always safely: the chain is intact and its incrementals accumulate
    * until the next fold (or the lock holder's own).
    */
  private def selfFold(what: String, batchId: Long, lakeDir: String, lock: LockProvider,
      hconf: org.apache.hadoop.conf.Configuration)(fold: SparkSession => Unit): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(s) =>
        val lake = new HPath(lakeDir)
        try {
          if (lock.tryWithLock(lake.getFileSystem(hconf), lake, Compact.DefaultLeaseMs)(
              fold(s)).isEmpty)
            System.err.println(s"[graft] batch-$batchId $what self-fold skipped: a " +
              "maintenance writer holds the lake lock; incrementals accumulate until the next fold")
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] WARNING: batch-$batchId parquet-tier $what fold " +
            s"failed (${e.getMessage}) — the chain is intact; incrementals accumulate " +
            "until the next fold")
        }
      case None =>
        System.err.println(s"[graft] WARNING: no active SparkSession for the " +
          s"batch-$batchId parquet-tier $what fold — incrementals accumulate until the next fold")
    }

  /** Write manifest-<id>.json (incremental: exactly `added`) or, when id is
    * a multiple of `compactEvery`, manifest-<id>.snap.json (snapshot: the
    * folded chain ∪ `added`). Written via temp-file + rename so readers
    * never see a torn manifest. A crashed attempt's manifest for the SAME
    * batch id is simply overwritten — per-batch manifests cannot
    * double-list across attempts.
    */
  /** Test-only failpoint (the crashBeforeCommit discipline): runs inside
    * the JSON snapshot fold, after the cadence tier check but before
    * anything is installed — the exact window a concurrent graduation
    * must not be shadowed in. No-op in production.
    */
  @volatile private[graft] var mfFoldTestHook: () => Unit = () => ()

  private def writeManifest(hconf: org.apache.hadoop.conf.Configuration,
      mdir: String, batchId: Long, added: Seq[String], compactEvery: Int,
      lakeDir: String, lock: LockProvider = FsLeaseLock): Unit = {
    val dir = new HPath(mdir)
    val fs = dir.getFileSystem(hconf)
    val cadence = compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0
    // PARQUET tier: once a manifest-*.snap.pq leads the chain (a lake
    // graduated via ManifestReader.foldManifestToParquet), JSON folding
    // stops — a JSON render of the whole url history is the driver-sized
    // artifact the tier retires, and a JSON fold blind to the parquet
    // head would DROP its urls. Every write is a plain incremental; the
    // tier self-folds at the same cadence below (after the incremental is
    // durable, so a failed fold never loses the batch's urls).
    val pqTier = cadence && ManifestChain.hasParquetSnapshot(fs, dir)
    val snapshot = cadence && !pqTier
    val name = f"manifest-$batchId%010d" + (if (snapshot) ".snap.json" else ".json")
    val lakeRoot = new HPath(lakeDir)
    val base = lakeRoot.getFileSystem(hconf).makeQualified(lakeRoot).toString
    def put(n: String, urls: Seq[String]): Unit =
      // atomic replace: no delete-then-rename window where the manifest is
      // absent mid-chain, and a failed rename throws instead of returning false
      FsOps.atomicWrite(hconf, fs, new HPath(dir, n),
        ManifestChain.render(urls, Some(base)).getBytes("UTF-8"))
    // the incremental for this batch. A JSON snapshot of the same id — a
    // crashed attempt's, when this replay could not take the lock to fold —
    // would shadow it (the chain resolves a snapshot over an incremental of
    // its own id) and keep naming the files the replay just deleted, so it
    // goes once the incremental is in place
    def putIncremental(): Unit = {
      put(f"manifest-$batchId%010d.json", added)
      if (cadence)
        FsOps.deleteOrThrow(fs, new HPath(dir, f"manifest-$batchId%010d.snap.json"),
          recursive = false)
    }
    if (!snapshot) putIncremental()
    else {
      // Snapshot folds are a read-fold-write of the chain, which can race
      // a CONCURRENT maintenance fold (Compact/Retention under their
      // writer lock — this stream doesn't hold it): if their fold lands
      // between our chain read and our write, our snapshot would shadow
      // it with stale URLs, resurrecting files maintenance just retired.
      // Stabilize: after writing, re-resolve the chain below batchId; if
      // the fold result changed, refold and rewrite (our batchId is ours
      // alone, so overwriting manifest-<batchId>.snap.json is safe). The
      // maintenance side is single-writer (lease lock), so this settles
      // in one extra round; if it somehow doesn't, fall back to an
      // INCREMENTAL manifest — always safe, never shadows, only costs
      // readers a longer chain until the next snapshot batch.
      def fold(): Seq[String] =
        (ManifestChain.chainUrls(fs, dir, upToExclusive = batchId) ++ added)
          .distinct.sorted
      // A GRADUATION (foldManifestToParquet) landing since the tier check
      // above is invisible to the JSON-only fold() — and once graduation's
      // pruneManifestPieces empties the JSON chain, fold() would return
      // only THIS batch's urls, so installing the snapshot silently drops
      // every pre-graduation file from manifest reads. Detection must be
      // EXISTENCE of a parquet snapshot (hasParquetSnapshot), never
      // "leads the chain": after we put() our own higher-id JSON snapshot,
      // isParquetTier is false precisely because ours shadows the head.
      // Order of operations therefore: fold to stability and re-check
      // graduation BEFORE anything becomes visible (the put is a dot-temp
      // + rename inside atomicWrite, so a crash mid-decision never leaves
      // a shadowing snapshot), install once, then one post-install
      // existence check retracts the snapshot if a graduation slipped
      // inside the final window. A graduation landing after even that is
      // converged by foldManifestToParquet itself: its next fold resolves
      // the JSON chain (our snapshot included) into the parquet head.
      // The fold runs UNDER THE MAINTENANCE TRY-LOCK (same seam as the
      // pq-tier and zone self-folds): a locked Compact/Erase/Retention
      // fold landing between our chain read and our put would be shadowed
      // by our higher-id snapshot with STALE urls — resurrecting files the
      // maintenance pass then deletes, so manifest readers open missing
      // paths (caught by the maintenance soak). The in-lock stabilization
      // loop stays as belt-and-braces; busy lock → the always-safe
      // incremental (the chain just stays longer until the next cadence).
      val lakeRootPath = new HPath(lakeDir)
      val lakeFs = lakeRootPath.getFileSystem(hconf)
      val installed = lock.tryWithLock(lakeFs, lakeRootPath, Compact.DefaultLeaseMs) {
        mfFoldTestHook()
        var urls = fold()
        var stable = false
        var attempts = 0
        var graduated = ManifestChain.hasParquetSnapshot(fs, dir)
        while (!stable && !graduated && attempts < 3) {
          // re-fold until two reads agree, then re-check graduation one
          // last time pre-install
          val recheck = fold()
          stable = recheck == urls
          urls = recheck
          attempts += 1
          if (stable) graduated = ManifestChain.hasParquetSnapshot(fs, dir)
        }
        if (!stable || graduated) putIncremental()
        else {
          put(name, urls)
          if (ManifestChain.hasParquetSnapshot(fs, dir)) {
            // graduation slipped between the pre-install check and the put:
            // retract (our batchId is ours alone) and fall back to an
            // incremental — always safe on any tier
            putIncremental()
          }
        }
      }
      if (installed.isEmpty) {
        System.err.println(s"[graft] batch-$batchId manifest snapshot fold " +
          "skipped: a maintenance writer holds the lake lock — wrote an " +
          "incremental instead (folds at the next cadence)")
        putIncremental()
      }
    }
    // parquet-tier self-fold at cadence — AFTER the incremental above is
    // durable, so a failed fold never loses the batch's urls
    if (pqTier)
      selfFold("manifest", batchId, lakeDir, lock, hconf) { s =>
        graft.sources.ManifestReader.foldManifestToParquet(s, mdir, snapshotId = Some(batchId))
      }
  }
}

/** Manifest-chain bookkeeping shared by the writer ([[Deliver]]) and reader
  * ([[graft.sources.ManifestReader]]): per-batch incremental manifests plus
  * periodic snapshots, resolved as latest-snapshot ∪ later-incrementals.
  */
private[graft] object ManifestChain {

  // chain-entry kinds (the ZoneMaps sidecar discipline): plain
  // incremental, JSON snapshot, PARQUET snapshot (the r13 tier — a url
  // TABLE maintenance folds and pruning joins consume as Spark jobs, so
  // the manifest scales with the cluster instead of the driver heap)
  final val Inc = 0
  final val SnapJson = 1
  final val SnapPq = 2

  /** (batchId, isSnapshot, path) for every manifest file in `dir`. */
  def list(fs: FileSystem, dir: HPath): Seq[(Long, Boolean, HPath)] = {
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.map(_.getPath).flatMap { p =>
      p.getName match {
        case n if n.startsWith("manifest-") && n.endsWith(".snap.json") =>
          Some((n.stripPrefix("manifest-").stripSuffix(".snap.json").toLong, true, p))
        case n if n.startsWith("manifest-") && n.endsWith(".json") =>
          Some((n.stripPrefix("manifest-").stripSuffix(".json").toLong, false, p))
        case _ => None
      }
    }
  }

  /** Tier-aware listing: JSON incrementals/snapshots plus
    * `manifest-<id>.snap.pq` parquet snapshots. A fold's ASIDE copy
    * (`.old-manifest-<id>.snap.pq`, the previous live snapshot moved out
    * of the way mid-swap) substitutes for a MISSING live target of the
    * same id: a reader landing inside the two-rename swap window then
    * resolves the valid pre-fold view instead of a silently partial chain
    * — a manifest read, unlike the advisory zone maps, must never see a
    * wrong file set.
    */
  def listTiered(fs: FileSystem, dir: HPath): Seq[(Long, Int, HPath)] = {
    if (!fs.exists(dir)) return Seq.empty
    val names = fs.listStatus(dir).toSeq.map(_.getPath)
    val live = names.flatMap { p =>
      p.getName match {
        case n if n.startsWith("manifest-") && n.endsWith(".snap.pq") =>
          Some((n.stripPrefix("manifest-").stripSuffix(".snap.pq").toLong,
            SnapPq, p))
        case _ => None
      }
    }
    val liveIds = live.map(_._1).toSet
    val asides = names.flatMap { p =>
      p.getName match {
        case n if n.startsWith(".old-manifest-") && n.endsWith(".snap.pq") =>
          val id = n.stripPrefix(".old-manifest-").stripSuffix(".snap.pq").toLong
          if (liveIds.contains(id)) None else Some((id, SnapPq, p))
        case _ => None
      }
    }
    live ++ asides ++ list(fs, dir).map { case (id, snap, p) =>
      (id, if (snap) SnapJson else Inc, p)
    }
  }

  /** Tiered chain resolution: the newest snapshot (parquet preferred on an
    * id tie — the parquet fold subsumes an equal-id JSON snapshot) plus
    * the JSON incrementals after it, sorted by id.
    */
  def resolveTiered(fs: FileSystem, dir: HPath,
      upToExclusive: Long = Long.MaxValue): (Option[(Long, Int, HPath)], Seq[(Long, HPath)]) = {
    val all = listTiered(fs, dir).filter(_._1 < upToExclusive)
    val snap = all.filter(_._2 != Inc).sortBy(e => (e._1, e._2)).lastOption
    val incs = all.collect {
      case (id, Inc, p) if snap.forall(s => id > s._1) => (id, p)
    }.sortBy(_._1)
    (snap, incs)
  }

  /** True when a parquet snapshot leads the chain — the WRITER must then
    * stop folding to JSON (a JSON render of the full url history is the
    * driver-sized artifact the tier retires — and worse, a JSON fold that
    * cannot read the parquet head would DROP its urls).
    */
  def isParquetTier(fs: FileSystem, dir: HPath): Boolean =
    resolveTiered(fs, dir)._1.exists(_._2 == SnapPq)

  /** True when ANY parquet snapshot exists in the chain (live or mid-swap
    * aside) — position-INDEPENDENT, unlike [[isParquetTier]]'s "leads the
    * chain". This is the graduation test a JSON-snapshot WRITER must use:
    * once a lake has graduated, a JSON fold is forbidden forever, and a
    * writer that just installed its own higher-id JSON snapshot would see
    * `isParquetTier == false` precisely BECAUSE its snapshot is the one
    * shadowing the parquet head it needs to detect.
    */
  def hasParquetSnapshot(fs: FileSystem, dir: HPath): Boolean =
    listTiered(fs, dir).exists(_._2 == SnapPq)

  /** Resolve the chain `[latest snapshot] ∪ incrementals after it`,
    * restricted to batches `< upToExclusive` (Long.MaxValue = all). The
    * manifests READ is O(chain-since-snapshot), not O(history).
    * JSON-only view — callers on a parquet-tier chain must go through
    * [[resolveTiered]] (this is kept for the JSON tier's readers/folds).
    */
  def chainFiles(fs: FileSystem, dir: HPath,
      upToExclusive: Long = Long.MaxValue): Seq[HPath] = {
    val all = list(fs, dir).filter(_._1 < upToExclusive)
    val snapId = all.collect { case (id, true, _) => id }.maxOption
    all.filter { case (id, isSnap, _) =>
      snapId.forall(s => id > s || (id == s && isSnap))
    }.sortBy(_._1).map(_._3)
  }

  /** Union of entry URLs across the resolved chain (driver-side read —
    * bounded by chain length × batch size, used by writer-side compaction).
    */
  def chainUrls(fs: FileSystem, dir: HPath, upToExclusive: Long): Seq[String] =
    chainFiles(fs, dir, upToExclusive)
      .flatMap(p => parseUrls(FsOps.readString(fs, p))).distinct

  def parseUrls(json: String): Seq[String] =
    """"url"\s*:\s*"([^"]+)"""".r.findAllMatchIn(json).map(_.group(1)).toVector

  /** The `basePath` a manifest recorded (the writer's lake root), if any.
    * Foreign Redshift-style manifests carry no basePath → None, and the
    * reader falls back to its path heuristic.
    */
  def parseBasePath(json: String): Option[String] =
    """"basePath"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(json).map(_.group(1))

  /** Render a manifest document. `basePath` (the writer's lake root) makes
    * partition-column recovery exact for readers — without it an
    * unpartitioned lake whose root dir is named like `k=v` is
    * indistinguishable from a partition dir. The extra top-level key keeps
    * the `entries` shape Redshift-COPY-compatible.
    */
  def render(urls: Seq[String], basePath: Option[String]): String = {
    val entries = urls.map(f => s"""{"url": "$f", "mandatory": true}""").mkString("[", ",", "]")
    basePath match {
      case Some(b) => s"""{"basePath": "$b", "entries": $entries}"""
      case None    => s"""{"entries": $entries}"""
    }
  }
}
