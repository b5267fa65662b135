package graft.streaming

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.sources.ShardedLog

/** Crash-point matrix over Deliver's flush protocols: for EVERY filesystem
  * mutation a flush makes (each one an [[FsOps]] call), crash there, restart
  * the flush, and check what a reader sees — the lake multiset equals the
  * valid source records, the DLQ holds exactly the corrupt ones, no manifest
  * names a missing file, and no lake partition dir holds a file the
  * manifests do not list.
  */
class DeliverCrashSpec extends SparkSuite {
  import spark.implicits._

  private val payloadSchema = StructType(Seq(
    StructField("data", StructType(Seq(
      StructField("id", LongType), StructField("status", StringType),
      StructField("value", DoubleType), StructField("ts", TimestampType),
      StructField("event_id", LongType)))),
    StructField("metadata", StructType(Seq(StructField("op", StringType))))))

  /** `n` sf0.001 events from `from` as wire records, their event times
    * spread over three hours (so a flush promotes three files), plus two
    * undecodable records; as a local relation, so every run sees the same
    * batch.
    */
  private def records(from: Int, n: Int): DataFrame = {
    val ev = graft.queries.Registry.tbl(spark, sfDir, "events")
      .where($"event_id" >= from && $"event_id" < from + n)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + ($"event_id" % 3) * 3600 +
        $"event_id"))
    val good = ShardedLog.fromEvents(ev)
    val recs = good.unionByName(good.limit(2).withColumn("data", lit("%%%not-base64%%%"))
      .withColumn("sequence_number", concat(lit("bad-"), $"sequence_number")))
    spark.createDataFrame(java.util.Arrays.asList(recs.collect(): _*), recs.schema)
  }

  private def seqs(df: DataFrame): Seq[String] =
    df.select($"sequence_number").as[String].collect().toSeq.sorted

  private def check(cfg: Deliver.Config, valid: Seq[String], corrupt: Seq[String]): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val lake = new HPath(cfg.lakeDir)
    val fs = lake.getFileSystem(hconf)
    def path(u: String) = new HPath(u).toUri.getPath
    def read(files: Seq[HPath]) =
      if (files.isEmpty) Seq.empty else seqs(spark.read.parquet(files.map(_.toString): _*))
    val listed = ManifestChain.chainUrls(fs, new HPath(cfg.manifestDir.get), Long.MaxValue)
      .map(path).sorted
    val missing = listed.filterNot(u => fs.exists(new HPath(u)))
    assert(missing.isEmpty, "a manifest names a missing file")
    val onDisk = FsOps.walkParquet(fs, lake, skipHidden = true)
    assert(onDisk.map(p => path(p.toString)).sorted == listed, "orphan or unlisted lake files")
    assert(read(onDisk) == valid, "lake multiset != valid source records")
    assert(read(FsOps.walkParquet(fs, new HPath(cfg.errorDir.get), skipHidden = true)) ==
      corrupt, "DLQ != corrupt records")
  }

  /** Deliver batch 0 cleanly, then crash batch 1 at each of its mutations in
    * turn (from the same post-batch-0 state), restart it, and check.
    */
  private def matrix(name: String, cfgAt: String => Deliver.Config,
      deliver: (DataFrame, Long, Deliver.Config) => Unit, batches: Seq[DataFrame],
      valid: Seq[String], corrupt: Seq[String]): Unit = {
    val root = new java.io.File(tmpDir(s"graft-crash-$name-"))
    val live = new java.io.File(root, "live")
    val saved = new java.io.File(root, "after-batch-0")
    val cfg = cfgAt(live.getPath)
    deliver(batches(0), 0L, cfg)
    FileUtils.copyDirectory(live, saved)
    val (clean, n) = FsOps.injecting(Long.MaxValue)(deliver(batches(1), 1L, cfg))
    assert(clean.isSuccess, clean)
    check(cfg, valid, corrupt)
    assert(n >= 15, s"$name: only $n mutations — is the flush still routed through FsOps?")
    val marker = new java.io.File(live, "lake/_commits/0000000001")
    (1L to n).foreach { k =>
      FileUtils.deleteDirectory(live)
      FileUtils.copyDirectory(saved, live)
      val (crashed, reached) = FsOps.injecting(k)(deliver(batches(1), 1L, cfg))
      val at = crashed.failed.toOption.fold("")(e => s" (${e.getMessage})")
      withClue(s"$name, crash at mutation $k of $n$at: ") {
        assert(reached == k)
        // a crash the flush swallows (advisory steps) may only let it
        // report success once the batch is committed
        assert(crashed.isFailure || marker.exists())
        deliver(batches(1), 1L, cfg) // the restart replays the batch
        check(cfg, valid, corrupt)
      }
    }
  }

  test("deliverBatch: every crash point restarts to an exactly-once lake and DLQ") {
    val batches = Seq(records(0, 12), records(100, 12))
    val cfgAt = (base: String) => Deliver.Config(s"$base/lake", s"$base/ck",
      errorDir = Some(s"$base/dlq"), manifestDir = Some(s"$base/manifest"),
      compact = true, zoneMapCols = Seq("id", "ts"), bloomFilterCols = Seq("id"),
      manifestCompactEvery = 1, // batch 1 folds the manifest and sidecar chains
      clock = Some(java.sql.Timestamp.valueOf("2025-11-07 14:32:09.13")))
    val all = batches.reduce(_ unionByName _)
    matrix("flat", cfgAt,
      (b, id, cfg) => Deliver.deliverBatch(Deliver.flatten(b, payloadSchema, cfg), id, cfg),
      batches, seqs(all.where(!$"sequence_number".startsWith("bad-"))),
      seqs(all.where($"sequence_number".startsWith("bad-"))))
  }

  test("deliverRegistryBatch: every crash point restarts to an exactly-once lake and DLQ") {
    // one record of an unregistered table per batch joins the corrupt ones
    val batches = Seq(records(0, 12), records(100, 12)).map { b =>
      b.unionByName(b.limit(1).withColumn("partition_key", lit("ghost-1"))
        .withColumn("sequence_number", concat(lit("bad-ghost-"), $"sequence_number")))
    }
    val cfgAt = (base: String) => Deliver.Config(s"$base/lake", s"$base/ck",
      errorDir = Some(s"$base/dlq"), manifestDir = Some(s"$base/manifest"),
      compact = true, zoneMapCols = Seq("id", "ts"), bloomFilterCols = Seq("id"),
      manifestCompactEvery = 1, schemas = Map("events" -> payloadSchema),
      clock = Some(java.sql.Timestamp.valueOf("2025-11-07 14:32:09.13")))
    val all = batches.reduce(_ unionByName _)
    matrix("registry", cfgAt, (b, id, cfg) => Deliver.deliverRegistryBatch(b, id, cfg),
      batches, seqs(all.where(!$"sequence_number".startsWith("bad-"))),
      seqs(all.where($"sequence_number".startsWith("bad-"))))
  }
}
