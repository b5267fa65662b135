package graft

import java.sql.Timestamp

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.catalog.LakeCatalog
import graft.sources.{ManifestReader, ShardedLog, ZoneMaps}
import graft.streaming.Deliver

/** The r12 zone-map surfaces: the parquet sidecar tier (distributed folds
  * and prune verdicts, spec-pinned parity with the JSON chain), live
  * pruned views, signed-zero pruning safety, corrupt-footer degradation,
  * and the refresh-snapshot id discipline.
  */
class ZoneTierSpec extends SparkSuite {
  import spark.implicits._

  private def hconf = spark.sessionState.newHadoopConf()

  private val payloadSchema = StructType(Seq(
    StructField("data", StructType(Seq(
      StructField("id", LongType), StructField("status", StringType),
      StructField("value", DoubleType), StructField("ts", TimestampType),
      StructField("event_id", LongType)))),
    StructField("metadata", StructType(Seq(StructField("op", StringType))))))

  /** Deliver a small zone-mapped lake; returns its base dir. */
  private def deliverLake(prefix: String, nEvents: Int = 600): String = {
    val base = tmpDir(prefix)
    val events = graft.queries.Registry.tbl(spark, sfDir, "events").limit(nEvents)
    ShardedLog.put(ShardedLog.fromEvents(events), s"$base/log")
    val q = Deliver.start(ShardedLog.readStream(spark, s"$base/log"), payloadSchema,
      Deliver.Config(s"$base/lake", s"$base/ck", manifestDir = Some(s"$base/manifest"),
        zoneMapCols = Seq("ts", "event_id"),
        trigger = Trigger.AvailableNow(),
        clock = Some(Timestamp.valueOf("2025-11-07 14:32:09.13"))))
    q.awaitTermination()
    base
  }

  test("parquet fold: load() parity with the JSON chain, bit-exact") {
    val base = deliverLake("graft-zt-fold-")
    val mdir = s"$base/manifest"
    val jsonZones = ZoneMaps.load(hconf, mdir)
    assert(jsonZones.nonEmpty, "deliver should have produced a JSON sidecar")

    val id = ZoneMaps.foldToParquet(spark, mdir)
    assert(ZoneMaps.isParquetTier(hconf, mdir),
      s"fold at id $id should graduate the chain to the parquet tier")
    val pqZones = ZoneMaps.load(hconf, mdir)
    // ColZone equality is structural except byte-array bounds — compare those
    // via explicit deep-equality
    assert(pqZones.keySet == jsonZones.keySet)
    for ((url, cols) <- jsonZones; (c, zj) <- cols) {
      val zp = pqZones(url)(c)
      assert(zp.t == zj.t && zp.nulls == zj.nulls && zp.rows == zj.rows,
        s"$url/$c meta drifted: $zp vs $zj")
      def same(a: Option[Any], b: Option[Any]) = (a, b) match {
        case (Some(x: Array[Byte]), Some(y: Array[Byte])) => x.sameElements(y)
        case _ => a == b
      }
      assert(same(zp.lo, zj.lo) && same(zp.hi, zj.hi),
        s"$url/$c bounds drifted: $zp vs $zj")
    }
  }

  test("parquet tier: distributed prune ≡ driver prune; readWhere results unchanged") {
    val base = deliverLake("graft-zt-prune-")
    val mdir = s"$base/manifest"
    val events = graft.queries.Registry.tbl(spark, sfDir, "events").limit(600)
    val cut = events.agg(expr("percentile_approx(ts, 0.9)")).head.getTimestamp(0)
    val pred = col("ts") >= lit(cut)

    val (keptJson, totalJson) = ManifestReader.pruneStats(spark, mdir, pred)
    val fullRows = ManifestReader.read(spark, mdir).where(pred)
      .select("event_id").as[Long].collect().sorted.toSeq

    ZoneMaps.foldToParquet(spark, mdir)
    val (keptPq, totalPq) = ManifestReader.pruneStats(spark, mdir, pred)
    assert((keptPq, totalPq) == (keptJson, totalJson),
      s"tiers must prune identically: pq $keptPq/$totalPq vs json $keptJson/$totalJson")
    assert(keptPq < totalPq, "the ts cut should prune something")
    val viaPq = ManifestReader.readWhere(spark, mdir, pred)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(viaPq == fullRows)

    // post-fold flushes land as plain incrementals (write() must NOT render
    // a JSON fold over a parquet-tier chain) and stay visible to pruning
    val extraTs = Timestamp.valueOf("2030-01-01 00:00:00")
    val extra = Seq((9999901L, "click", 1.0, extraTs, 9999901L))
      .toDF("user_id", "event_type", "value", "ts", "event_id")
    ShardedLog.put(ShardedLog.fromEvents(extra), s"$base/log")
    val q2 = Deliver.start(ShardedLog.readStream(spark, s"$base/log"), payloadSchema,
      Deliver.Config(s"$base/lake", s"$base/ck", manifestDir = Some(mdir),
        zoneMapCols = Seq("ts", "event_id"),
        manifestCompactEvery = 1, // every batch hits cadence — the tier gate
        trigger = Trigger.AvailableNow(),
        clock = Some(Timestamp.valueOf("2025-11-07 14:40:00.0"))))
    q2.awaitTermination()
    val fs = new HPath(mdir).getFileSystem(hconf)
    val sidecarNames = fs.listStatus(new HPath(mdir, "_zonemaps"))
      .map(_.getPath.getName).toSeq
    val foldId = sidecarNames.filter(_.endsWith(".snap.pq")).map(
      _.stripPrefix("zm-").stripSuffix(".snap.pq").toLong).max
    assert(!sidecarNames.exists(n => n.endsWith(".snap.json") &&
        n.stripPrefix("zm-").stripSuffix(".snap.json").toLong > foldId),
      s"a JSON fold appeared after the parquet snapshot: $sidecarNames")
    // the appended row is served through the overlay path, and a probe for
    // its ts keeps only its file(s)
    val probe = col("ts") >= lit(Timestamp.valueOf("2029-12-31 00:00:00"))
    val (k3, t3) = ManifestReader.pruneStats(spark, mdir, probe)
    assert(k3 >= 1 && k3 < t3, s"overlay pruning ineffective: $k3/$t3")
    assert(ManifestReader.readWhere(spark, mdir, probe)
      .select("event_id").as[Long].collect().toSeq == Seq(9999901L))

    // a REGISTERED VIEW over the pq-tier lake must skip files through the
    // scan node's own listing: the FileIndex spells urls its own way
    // (file:/ vs file:///), so this pins the normalized semi-join in the
    // distributed prune — unnormalized, every snapshot row drops out and
    // pruning silently no-ops exactly here
    LakeCatalog.registerPrunedView(spark, "zt_pq_view", mdir)
    val vdf = spark.sql("SELECT count(*) c FROM zt_pq_view " +
      "WHERE ts >= TIMESTAMP '2029-12-31 00:00:00'")
    val scans = vdf.queryExecution.sparkPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }
    val listed = scans.headOption.map(sc => sc.relation.location
      .listFiles(sc.partitionFilters, sc.dataFilters).map(_.files.size).sum)
    val totalFiles = ManifestReader.latestManifestFiles(spark, mdir).size
    assert(listed.exists(l => l >= 1 && l < totalFiles),
      s"pq-tier view scan must list fewer files: $listed of $totalFiles")
    assert(vdf.head.getLong(0) == 1L)
  }

  test("registered pruned view is LIVE: a post-registration flush is visible") {
    val base = deliverLake("graft-zt-live-", nEvents = 300)
    val mdir = s"$base/manifest"
    LakeCatalog.registerPrunedView(spark, "zt_live_lake", mdir)
    val n1 = spark.sql("SELECT count(*) c FROM zt_live_lake").head.getLong(0)
    assert(n1 == 300L, s"registration-time rows: $n1")

    val extra = graft.queries.Registry.tbl(spark, sfDir, "events")
      .limit(360).filter(col("event_id") >= 300)
    ShardedLog.put(ShardedLog.fromEvents(extra), s"$base/log")
    val q2 = Deliver.start(ShardedLog.readStream(spark, s"$base/log"), payloadSchema,
      Deliver.Config(s"$base/lake", s"$base/ck", manifestDir = Some(mdir),
        zoneMapCols = Seq("ts", "event_id"),
        trigger = Trigger.AvailableNow(),
        clock = Some(Timestamp.valueOf("2025-11-07 14:45:00.0"))))
    q2.awaitTermination()

    val n2 = spark.sql("SELECT count(*) c FROM zt_live_lake").head.getLong(0)
    assert(n2 == 360L,
      s"the view must see the post-registration flush without re-registration: $n2")
    // and its scans still prune: a never-matching event_id keeps ≤ half
    val matches = spark.sql(
      "SELECT count(*) c FROM zt_live_lake WHERE event_id = 310").head.getLong(0)
    assert(matches == 1L)
  }

  test("signed zeros: pruning keeps both zero signs and matches Spark's own scan") {
    // a file holding ONLY -0.0 probed with +0.0 (and vice versa): the
    // FILE-pruning stages must keep both files — zone cmp normalizes the
    // signed zeros and the bloom probes BOTH bit patterns — and the final
    // rows must equal a plain spark scan bit-for-bit (Spark's own parquet
    // pushdown decides row-group semantics; our skipping may only ever be
    // more conservative than it)
    val dir = tmpDir("graft-zt-zero-")
    Seq((1L, -0.0), (2L, -0.0)).toDF("id", "d")
      .coalesce(1).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#d", "true")
      .parquet(s"$dir/neg")
    Seq((3L, 0.0), (4L, 0.0)).toDF("id", "d")
      .coalesce(1).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#d", "true")
      .parquet(s"$dir/pos")
    for (probe <- Seq(0.0, -0.0)) {
      val pred = col("d") === lit(probe)
      val (kept, total) = ZoneMaps.pruneStats(spark, dir, pred, blooms = true)
      assert((kept, total) == (2, 2),
        s"probe $probe must keep both zero-sign files, got $kept/$total")
      val viaZones = ZoneMaps.scanWhere(spark, dir, pred, blooms = true)
        .select("id").as[Long].collect().sorted.toSeq
      val plain = spark.read.parquet(s"$dir/neg", s"$dir/pos").where(pred)
        .select("id").as[Long].collect().sorted.toSeq
      assert(viaZones == plain,
        s"probe $probe: pruned scan $viaZones diverged from plain scan $plain")
    }
  }

  test("a corrupt footer degrades that file's pruning, never the scan") {
    val dir = tmpDir("graft-zt-corrupt-")
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/good")
    // a syntactically-parquet-named file with garbage bytes
    val bad = new HPath(s"$dir/bad/part-00000.parquet")
    val fs = bad.getFileSystem(hconf)
    fs.mkdirs(bad.getParent)
    val out = fs.create(bad, true)
    out.write("not a parquet file at all".getBytes("UTF-8")); out.close()
    val goodFile = graft.streaming.FsOps.walkParquet(fs, new HPath(s"$dir/good"),
      skipHidden = true).map(p => fs.makeQualified(p).toString).head
    val zones = ZoneMaps.fromFooters(hconf, Seq(goodFile, fs.makeQualified(bad).toString))
    assert(zones(goodFile).nonEmpty, "good file must still harvest")
    assert(zones(fs.makeQualified(bad).toString).isEmpty,
      "corrupt file must harvest as no-stats (kept, never pruned)")
  }

  test("distributed bloom probing: verdicts identical to the driver pool") {
    // unique keys: parquet falls back to plain encoding and writes blooms;
    // repeated keys, each in one file: dictionary-only chunks, no bloom
    for ((name, key, probe) <- Seq(("bloom", col("id") * 7, 7L * 1234L),
        ("dict", (col("id") % 50) * 7, 7L * 34L))) {
      val dir = tmpDir(s"graft-zt-d$name-")
      spark.range(0, 4000).toDF("id")
        .withColumn("k", key)
        .repartition(16, col(if (name == "bloom") "id" else "k"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#k", "true")
        .parquet(dir)
      val fs = new HPath(dir).getFileSystem(hconf)
      val files = graft.streaming.FsOps.walkParquet(fs, new HPath(dir),
        skipHidden = true).map(p => fs.makeQualified(p).toString)
      val pred = {
        val df = spark.read.parquet(dir)
        df.where(col("k") === probe)
          .queryExecution.optimizedPlan.collect {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
          }.reduce(org.apache.spark.sql.catalyst.expressions.And)
      }
      val (kDriver, pDriver) = ZoneMaps.bloomPrune(hconf, files, pred)
      // distributeOver = 1 forces the Spark-job path on the same file list
      val (kDist, pDist) = ZoneMaps.bloomPruneScaled(spark, files, pred,
        distributeOver = 1)
      assert(kDist.sorted == kDriver.sorted && pDist.sorted == pDriver.sorted,
        s"$name: distributed verdicts diverged: ${kDist.size}/${pDist.size} vs " +
          s"${kDriver.size}/${pDriver.size}")
      assert(pDriver.nonEmpty, s"$name: the probe should prune at least one file")
      // the kept files are exactly those holding the key (dictionaries
      // are exact; a bloom may keep a false positive)
      val holding = files.filter(f =>
        spark.read.parquet(f).where(col("k") === probe).count() > 0)
      assert(holding.toSet.subsetOf(kDriver.toSet), name)
      if (name == "dict") assert(kDriver.sorted == holding.sorted, name)
    }
  }

  test("decimal zones: harvest, prune, and mixed-scale refusal") {
    val dir = tmpDir("graft-zt-dec-")
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("price", (col("id") * 7 / lit(100.0)).cast("decimal(12,2)"))
    df.repartitionByRange(4, col("price")).write.mode("overwrite").parquet(dir)
    val fs = new HPath(dir).getFileSystem(hconf)
    val files = graft.streaming.FsOps.walkParquet(fs, new HPath(dir),
      skipHidden = true).map(p => fs.makeQualified(p).toString)
    val zones = ZoneMaps.fromFooters(hconf, files)
    // the decimal column harvested into its scale-tagged domain
    val priceZones = zones.values.flatMap(_.get("price")).toSeq
    assert(priceZones.nonEmpty && priceZones.forall(_.t == "dec2"),
      s"price zones: $priceZones")
    // JSON roundtrip preserves the BigInt bounds exactly
    val back = ZoneMaps.parse(ZoneMaps.render(zones))
    assert(back == zones, "decimal zones must roundtrip the sidecar encoding")
    // a selective range predicate prunes range-clustered files, results
    // identical to plain spark
    val pred = col("price") <= lit(new java.math.BigDecimal("5.00"))
    val (kept, total) = ZoneMaps.pruneStats(spark, dir, pred)
    assert(total == 4 && kept < total, s"decimal prune ineffective: $kept/$total")
    val viaZones = ZoneMaps.scanWhere(spark, dir, pred)
      .agg(count(lit(1)), sum(col("price"))).head
    val plain = spark.read.parquet(dir).where(pred)
      .agg(count(lit(1)), sum(col("price"))).head
    assert(viaZones == plain, s"$viaZones vs $plain")
    // a probe in a DIFFERENT scale must refuse (never prune): price has
    // scale 2; comparing against scale-3 values wraps the column in a cast,
    // which the pruner does not model — everything is kept
    val pred3 = col("price") === lit(new java.math.BigDecimal("5.005"))
    val (k3, t3) = ZoneMaps.pruneStats(spark, dir, pred3)
    assert(k3 == t3, s"mixed-scale probe must keep every file: $k3/$t3")
  }

  test("refreshZoneMaps on a parquet-tier lake stays in the tier") {
    val base = deliverLake("graft-zt-refreshpq-")
    val mdir = s"$base/manifest"
    ZoneMaps.foldToParquet(spark, mdir)
    assert(ZoneMaps.isParquetTier(hconf, mdir))
    ManifestReader.refreshZoneMaps(spark, mdir, Seq("ts", "event_id"))
    assert(ZoneMaps.isParquetTier(hconf, mdir),
      "a refresh must not degrade a graduated sidecar back to JSON")
    val fs = new HPath(mdir).getFileSystem(hconf)
    val names = fs.listStatus(new HPath(mdir, "_zonemaps"))
      .map(_.getPath.getName).toSeq
    assert(!names.exists(_.endsWith(".snap.json")),
      s"refresh rendered a JSON snapshot on a parquet-tier lake: $names")
    // cut at the data's own p90 so some rows (and their files) survive
    val cut = graft.queries.Registry.tbl(spark, sfDir, "events").limit(600)
      .agg(expr("percentile_approx(ts, 0.9)")).head.getTimestamp(0)
    val (kept, total) = ManifestReader.pruneStats(spark, mdir,
      col("ts") >= lit(cut))
    assert(kept > 0 && kept < total, s"post-refresh pruning lost: $kept/$total")
  }

  test("refreshZoneMaps snapshots at maxBatch: the NEXT batch's sidecar is not shadowed") {
    val base = deliverLake("graft-zt-refresh-")
    val mdir = s"$base/manifest"
    ManifestReader.refreshZoneMaps(spark, mdir, Seq("ts", "event_id"))
    // deliver one more batch — its incremental must stay visible through
    // the chain (a refresh at maxBatch+1 used to shadow it permanently)
    val extraTs = Timestamp.valueOf("2031-06-01 00:00:00")
    val extra = Seq((9999902L, "click", 1.0, extraTs, 9999902L))
      .toDF("user_id", "event_type", "value", "ts", "event_id")
    ShardedLog.put(ShardedLog.fromEvents(extra), s"$base/log")
    val q2 = Deliver.start(ShardedLog.readStream(spark, s"$base/log"), payloadSchema,
      Deliver.Config(s"$base/lake", s"$base/ck", manifestDir = Some(mdir),
        zoneMapCols = Seq("ts", "event_id"),
        trigger = Trigger.AvailableNow(),
        clock = Some(Timestamp.valueOf("2025-11-07 14:50:00.0"))))
    q2.awaitTermination()
    val probe = col("ts") >= lit(Timestamp.valueOf("2031-01-01 00:00:00"))
    val (kept, total) = ManifestReader.pruneStats(spark, mdir, probe)
    assert(kept >= 1 && kept < total,
      s"the new batch's zones must prune its probe to its own file(s): $kept/$total")
  }

  test("re-fold at the same id never deletes the live snapshot first; swap-window crash recovers") {
    val base = deliverLake("graft-zt-aside-")
    val mdir = s"$base/manifest"
    val id = ZoneMaps.foldToParquet(spark, mdir)
    val before = ZoneMaps.load(hconf, mdir)
    // re-fold at the SAME id (the retried-micro-batch self-fold): zones
    // must survive bit-identically (keys, bounds)
    val id2 = ZoneMaps.foldToParquet(spark, mdir, snapshotId = Some(id))
    assert(id2 == id)
    assert(ZoneMaps.load(hconf, mdir).keySet == before.keySet)
    // simulate a crash INSIDE the swap window: target renamed aside, the
    // rename-in never happened. The next fold must restore the aside copy
    // and proceed — zones are not lost.
    val fs = new HPath(mdir).getFileSystem(hconf)
    val sidecar = new HPath(mdir, "_zonemaps")
    val target = new HPath(sidecar, f"zm-$id%010d.snap.pq")
    val aside = new HPath(sidecar, f".old-zm-$id%010d.snap.pq")
    assert(fs.rename(target, aside))
    assert(ZoneMaps.load(hconf, mdir).isEmpty, "window: no snapshot visible")
    val id3 = ZoneMaps.foldToParquet(spark, mdir)
    assert(id3 == id)
    assert(ZoneMaps.load(hconf, mdir).keySet == before.keySet,
      "the interrupted swap's zones must be recovered by the next fold")
    assert(!fs.exists(aside), "the aside copy must be cleaned up")
  }

  test("an explicit fold id below the chain head is clamped, not self-pruned") {
    val base = deliverLake("graft-zt-clamp-")
    val mdir = s"$base/manifest"
    val headId = ZoneMaps.foldToParquet(spark, mdir)
    // a repair racing a later self-fold passes an OLDER foldId with fresh
    // zones for a rewritten file: the snapshot must not be written below
    // the chain head (its own pruneSidecar would delete it, discarding the
    // overlay)
    val extra: ZoneMaps.FileZones = Map(
      "file:/fake/rewritten.parquet" -> Map(
        "event_id" -> ZoneMaps.ColZone("long", Some(1L), Some(2L), Some(0L), 2L)))
    val written = ZoneMaps.foldToParquet(spark, mdir, extraOverlay = extra,
      snapshotId = Some(math.max(0L, headId - 5)))
    assert(written >= headId, s"fold id $written must clamp to >= chain head $headId")
    val zones = ZoneMaps.load(hconf, mdir)
    assert(zones.contains("file:/fake/rewritten.parquet"),
      "the repair overlay's zones must survive the clamped fold")
  }
}
