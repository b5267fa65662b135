package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.streaming.ManifestChain

/** S7 manifest-driven scan (README.md:291-303, 451-456): read ONLY the files
  * listed in the manifest chain — "never the folder" — so torn writes and
  * orphan files are invisible and re-delivered batches can't double-count.
  * The portable twin of the sink's `_spark_metadata` log for readers outside
  * Spark (the reference's Redshift `COPY ... FROM manifest`).
  *
  * Manifests are per-flush (incremental), with a periodic snapshot folding
  * the chain; the visible file set is latest-snapshot ∪ later-incrementals,
  * so a read lists O(chain-since-snapshot) manifest files, never the
  * stream's full history.
  */
object ManifestReader {

  /** Resolve the manifest chain and return the union of listed data files
    * (path-normalized, sorted — the same spelling on both tiers).
    */
  def latestManifestFiles(spark: SparkSession, manifestDir: String): Seq[String] =
    chain(spark, manifestDir).urls

  /** A resolved manifest chain: its listed urls, the scan basePath, and —
    * read once per chain, on first use — the lake schema.
    */
  private final class Chain(val urls: Seq[String], recordedBase: Option[String]) {
    /** The scan basePath: the writer-recorded lake root when the chain
      * agrees on one (exact, no guessing — an unpartitioned lake whose
      * root dir is named `run=7` is otherwise indistinguishable from a
      * partition dir), else the longest common parent of the listed files
      * with trailing `name=value` partition segments peeled (the foreign-
      * manifest heuristic; peeling from the END keeps an ancestor that
      * happens to contain '=' out of partition discovery). One
      * implementation for every read path.
      */
    lazy val base: String = recordedBase.getOrElse {
      val common = urls
        .map(_.split('/').dropRight(1).toSeq) // parent dir segments
        .reduce((a, b) => a.zip(b).takeWhile { case (x, y) => x == y }.map(_._1))
      common.reverse.dropWhile(seg =>
          seg.contains('=') && !seg.startsWith("=")).reverse
        .mkString("/")
    }
    @volatile private var schemaMemo: StructType = null
    /** The lake schema from the first listed file's footer and path. */
    def schema(spark: SparkSession): StructType = {
      if (schemaMemo == null) schemaMemo = ZoneMaps.probeSchema(spark, base, urls.head)
      schemaMemo
    }
  }

  /** The chain, cached by the manifest dir's listing signature through
    * [[graft.operators.IndexMeta]], so the manifests are read once per
    * CHAIN CHANGE, not per read. Both tiers parse their JSON pieces on the
    * driver (small: a JSON chain is folded every `manifestCompactEvery`
    * flushes); a PARQUET tier (a `manifest-<id>.snap.pq` snapshot leads
    * the chain — see [[foldManifestToParquet]]) adds its snapshot table,
    * collected by one Spark job. Distributed consumers (the zone-prune
    * semi-join) read that table itself and never collect.
    */
  private def chain(spark: SparkSession, manifestDir: String): Chain = {
    // a fold swapping the snapshot mid-read kills the read (FILE_NOT_EXIST);
    // unlike the advisory zones, a manifest read cannot degrade — RETRY
    // against the freshly-resolved chain (the new snapshot is in place by
    // the time the old one's files are gone). The retry is scoped to the
    // NOT-FOUND family only: a deterministic failure (corrupt snapshot
    // schema, permission denied) must surface on the first read, not after
    // two futile replays.
    var last: Throwable = null
    var attempt = 0
    while (attempt < 3) {
      attempt += 1
      try return chainOnce(spark, manifestDir)
      catch {
        case scala.util.control.NonFatal(e) if isNotFound(e) =>
          mfRetries.incrementAndGet()
          last = e
      }
    }
    throw last
  }

  /** Observability for tests: how many swap-window retries the parquet-tier
    * resolve has taken (a deterministic failure must take none).
    */
  private[graft] val mfRetries = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Is this failure (anywhere in its cause chain) the file-not-found /
    * stale-listing family a concurrent snapshot swap produces? Spark wraps
    * the executor-side FileNotFoundException in SparkException layers and
    * surfaces listing misses as `[PATH_NOT_FOUND]` / FILE_NOT_EXIST-coded
    * errors, so match both the class and the error-code markers.
    */
  private def isNotFound(t: Throwable): Boolean = {
    var e: Throwable = t
    var depth = 0
    while (e != null && depth < 10) {
      e match {
        case _: java.io.FileNotFoundException => return true
        case _ =>
          val m = e.getMessage
          if (m != null && (m.contains("FILE_NOT_EXIST") ||
              m.contains("PATH_NOT_FOUND") || m.contains("does not exist")))
            return true
      }
      e = if (e.getCause eq e) null else e.getCause
      depth += 1
    }
    false
  }

  private def chainOnce(spark: SparkSession, manifestDir: String): Chain = {
    val dir = new HPath(manifestDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    graft.operators.IndexMeta.cachedIf(spark, manifestDir, tag = "mf-urls") {
      // re-resolve INSIDE the load: the cached value must describe the
      // listing the signature was sampled from
      val (snap, incs) = ManifestChain.resolveTiered(fs, dir)
      val rows = snap.collect { case (_, ManifestChain.SnapPq, p) =>
        spark.read.schema(MfPqSchema).parquet(p.toString).collect().toSeq
      }.getOrElse(Seq.empty)
      val txt = (snap.collect { case (_, ManifestChain.SnapJson, p) => p }.toSeq ++
        incs.map(_._2)).map(graft.streaming.FsOps.readString(fs, _))
      val urls = (rows.map(_.getString(0)) ++
        txt.flatMap(ManifestChain.parseUrls).map(normUrl)).distinct.sorted
      // the lake root recorded by the writers, when all that record one
      // agree (disagreement means mixed producers: fall back to the heuristic)
      val bases = (rows.flatMap(r => Option(r.getString(1))) ++
        txt.flatMap(ManifestChain.parseBasePath).map(normUrl)).distinct
      new Chain(urls, if (bases.size == 1) Some(bases.head) else None)
      // cache bound is BYTES, not url count (r13 advice): at ~100-200 B per
      // pinned String, 2M urls is 200-400 MB of driver heap PER manifest
      // dir, and several registered lakes multiply it. Estimate each url at
      // 2 B/char + ~48 B String/array header overhead and keep listings
      // under ~64 MB; a bigger lake's listing reloads per read (and should
      // be consumed through the distributed manifest TABLE, not this list).
    }(c => c.urls.foldLeft(0L)((a, u) => a + 2L * u.length + 48L) <= (64L << 20))
  }

  /** Scan exactly the manifest-listed files (duplicate-proof, torn-write-proof). */
  def read(spark: SparkSession, manifestDir: String): DataFrame = {
    val c = chain(spark, manifestDir)
    require(c.urls.nonEmpty, s"no manifest in $manifestDir")
    // basePath preserves the Hive partition columns of the listed files
    spark.read.option("basePath", c.base).parquet(c.urls: _*)
  }

  /** Manifest scan with file-level zone-map pruning: resolve the visible
    * file set, drop every file whose persisted `_zonemaps` stats PROVE it
    * cannot satisfy `filter`, scan only the survivors, and re-apply the
    * filter (correctness never depends on pruning — files without stats,
    * unsupported predicate shapes, and domain mismatches are all kept).
    * At 100 TB this is the difference between opening every file so
    * parquet row-group stats can reject it and never scheduling the file
    * at all: the decision reads a manifest-sized sidecar, no data I/O.
    * The scan reads with the chain's cached schema, so it infers none.
    */
  def readWhere(spark: SparkSession, manifestDir: String,
      filter: org.apache.spark.sql.Column, blooms: Boolean = false): DataFrame = {
    val (kept, c) = pruned(spark, manifestDir, filter, blooms)
    val read = if (kept.nonEmpty) kept else c.urls.take(1)
    spark.read.schema(c.schema(spark)).option("basePath", c.base)
      .parquet(read: _*).where(filter)
  }

  /** (files kept, files total) under zone-map pruning — effectiveness
    * observability for tests and ops. `blooms` adds the membership
    * equality stage (see [[ZoneMaps.bloomPrune]]).
    */
  def pruneStats(spark: SparkSession, manifestDir: String,
      filter: org.apache.spark.sql.Column, blooms: Boolean = false): (Int, Int) = {
    val (kept, c) = pruned(spark, manifestDir, filter, blooms)
    (kept.size, c.urls.size)
  }

  private def pruned(spark: SparkSession, manifestDir: String,
      filter: org.apache.spark.sql.Column, blooms: Boolean): (Seq[String], Chain) = {
    val c = chain(spark, manifestDir)
    require(c.urls.nonEmpty, s"no manifest in $manifestDir")
    // tier-aware: a parquet-snapshot sidecar is pruned distributively (the
    // driver never materializes the zones map), a JSON chain through the
    // driver map — one decision point for readWhere/pruneStats/asTable
    val kept = ZoneMaps.resolvedPredicate(spark, c.schema(spark), filter) match {
      case None => c.urls
      case Some(pred) =>
        val zoneKept = ZoneMaps.pruneResolved(spark, manifestDir, pred, c.urls)
        if (!blooms) zoneKept
        else ZoneMaps.bloomPruneScaled(spark, zoneKept, pred)._1
    }
    (kept, c)
  }

  /** The manifest lake as a pruning TABLE: a DataFrame whose every scan —
    * `.where`, SQL over a temp view, join keys pushed by Catalyst — skips
    * files through the `_zonemaps` sidecar (and parquet blooms when
    * `blooms`) inside Spark's own planning, via a custom FileIndex (the
    * Delta TahoeFileIndex shape). Prefer this over [[readWhere]] when the
    * lake feeds arbitrary downstream query shapes: the pruning decision
    * re-evaluates per scan against whatever filters Catalyst derives.
    */
  def asTable(spark: SparkSession, manifestDir: String,
      blooms: Boolean = false): DataFrame = {
    val hconf = spark.sessionState.newHadoopConf()
    val dirPath = new HPath(manifestDir)
    val fs = dirPath.getFileSystem(hconf)
    // tier-aware signature over (name, length, mtime): a parquet fold or a
    // maintenance JSON fold can REPLACE a same-named chain head (Compact
    // folds at id = chain max), so names alone would miss the swap and pin
    // a view to retired files. ONE atomic listing — re-statting paths from
    // a prior listing races concurrent fold/prune deletions into
    // FileNotFoundException (and bills N extra RPCs per scan).
    def sig(): String =
      (if (!fs.exists(dirPath)) Array.empty[org.apache.hadoop.fs.FileStatus]
       else fs.listStatus(dirPath))
        .filter { st =>
          val n = st.getPath.getName
          n.startsWith("manifest-") || n.startsWith(".old-manifest-")
        }
        .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .sorted.mkString(";")
    // signature BEFORE the listing: a flush landing between the two is
    // then included in `files` AND still looks changed to the first scan
    // (a harmless extra refresh) — sampled after, it would be consumed
    // unseen and the view would miss it until the NEXT manifest change
    val sig0 = sig()
    val c = chain(spark, manifestDir)
    require(c.urls.nonEmpty, s"no manifest in $manifestDir")
    // zones resolve PER SCAN through ZoneMaps.pruneResolved (signature-
    // cached, tier-aware): a flush after registration is pruned with its
    // own fresh sidecar stats, not a registration-time snapshot
    val prune = (dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        urls: Seq[String]) => {
      val pred = dataFilters.reduce(
        org.apache.spark.sql.catalyst.expressions.And)
      val zoneKept = ZoneMaps.pruneResolved(spark, manifestDir, pred, urls)
      val kept =
        if (!blooms) zoneKept
        else ZoneMaps.bloomPruneScaled(spark, zoneKept, pred)._1
      kept.toSet
    }
    // LIVE file set (r11 verdict ask #3): re-resolve the manifest chain
    // when the manifest directory's listing changes — a view over a
    // delivering lake sees post-registration flushes without
    // re-registration. The chain signature is one FS listing per scan;
    // the manifest parse re-runs only on change, and the
    // change is consumed via the COMMIT callback only after the new index
    // installs — a failed parse/build/layout-check retries next scan
    // instead of silently pinning the stale file set.
    val lastSig = new java.util.concurrent.atomic.AtomicReference[String](sig0)
    val resolve: () => Option[(Seq[org.apache.hadoop.fs.Path], () => Unit)] =
      () => {
        val now = sig()
        if (now == lastSig.get()) None
        else {
          val fl = latestManifestFiles(spark, manifestDir)
            .map(new org.apache.hadoop.fs.Path(_))
          Some((fl, () => lastSig.set(now)))
        }
      }
    org.apache.spark.sql.graftbridge.ZoneMapFileIndex.table(spark,
      c.urls.map(new org.apache.hadoop.fs.Path(_)),
      new org.apache.hadoop.fs.Path(c.base), prune, Some(resolve))
  }

  /** Rebuild the zone-map sidecar from the CURRENT visible file set's
    * footers — the one-call refresh after maintenance (Compact/Retention)
    * rewrote files the incremental sidecars described. Written as a
    * snapshot past every live batch id so the next reader resolves only it.
    */
  def refreshZoneMaps(spark: SparkSession, manifestDir: String,
      cols: Seq[String] = Nil): Int = {
    val hconf = spark.sessionState.newHadoopConf()
    val files = latestManifestFiles(spark, manifestDir)
    // harvest distributes past ~2k files (a Spark job over the file list)
    val zones = ZoneMaps.fromFootersScaled(spark, files, cols)
    val dir = new HPath(manifestDir)
    val fs = dir.getFileSystem(hconf)
    val maxBatch = ManifestChain.listTiered(fs, dir).map(_._1).maxOption.getOrElse(0L)
    if (ZoneMaps.isParquetTier(hconf, manifestDir)) {
      // a graduated lake refreshes IN ITS TIER: fold the fresh harvest to
      // a parquet snapshot — ZoneMaps.write would emit the whole live
      // set's zones as one giant JSON incremental, the exact driver-sized
      // artifact the tier exists to retire
      ZoneMaps.foldToParquet(spark, manifestDir, extraOverlay = zones,
        snapshotId = Some(maxBatch))
    } else {
      // snapshot AT maxBatch, not maxBatch+1: an equal-id snapshot wins
      // over the incremental (whose zones this refresh already folded in
      // via the live file set), while maxBatch+1 would permanently SHADOW
      // the NEXT streaming batch's incremental sidecar — and if that batch
      // hit snapshot cadence, its fold (upToExclusive = batchId) would
      // silently discard this refresh's freshly-harvested stats for
      // compacted files
      ZoneMaps.write(hconf, manifestDir, maxBatch,
        zones, compactEvery = 1) // force a snapshot fold
    }
    files.size
  }

  // ------------------------------------------------ parquet manifest tier

  /** The parquet manifest snapshot's row shape: one row per data file,
    * `base` the writer-recorded lake root (constant across rows; null when
    * mixed producers disagree).
    */
  private[graft] val MfPqSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("url",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("base",
      org.apache.spark.sql.types.StringType, nullable = true)))

  private def normUrl(u: String): String = new HPath(u).toString

  /** The manifest table of a parquet-tier lake (url, base) as a DataFrame —
    * the distributed consumer surface (the zone-prune semi-join joins
    * against it instead of broadcasting a driver url list). None when the
    * chain has not graduated. Since-snapshot incrementals ride along as a
    * LocalRelation union (small by cadence).
    */
  private[graft] def manifestTable(spark: SparkSession,
      manifestDir: String): Option[DataFrame] = {
    val dir = new HPath(manifestDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    ManifestChain.resolveTiered(fs, dir) match {
      case (Some((_, ManifestChain.SnapPq, p)), incs) =>
        val snap = spark.read.schema(MfPqSchema).parquet(p.toString)
          .select(col("url"))
        val incUrls = incs.flatMap(e => ManifestChain.parseUrls(
          graft.streaming.FsOps.readString(fs, e._2))).map(normUrl).distinct
        Some(
          if (incUrls.isEmpty) snap
          else snap.unionByName(spark.createDataset(incUrls)(
            org.apache.spark.sql.Encoders.STRING).toDF("url")))
      case _ => None
    }
  }

  /** Fold the manifest chain into ONE parquet snapshot — the maintenance
    * move that graduates a lake's manifest past driver-rendered JSON (the
    * [[ZoneMaps.foldToParquet]] discipline applied to the chain itself):
    * the existing parquet snapshot streams through executors; only the
    * since-snapshot JSON pieces (small by the fold cadence) are
    * driver-parsed. Once a `manifest-<id>.snap.pq` leads the chain, the
    * deliver sink stops folding JSON snapshots (incrementals only) and
    * SELF-FOLDS here at its snapshot cadence; [[graft.streaming.Compact]]
    * maintenance folds its retire/promote edits through `drop`/`add`.
    *
    * Unlike the advisory zone sidecar, a manifest read must NEVER see a
    * partial chain, so the swap is belt-and-braces: the previous live
    * snapshot is renamed ASIDE (never deleted before the replacement is
    * in place), readers inside the two-rename window resolve the aside
    * copy as the snapshot ([[ManifestChain.listTiered]]), and after the
    * swap a STABILIZATION re-list catches a piece a concurrent writer
    * landed at ≤ our id (now shadowed but never folded) and refolds —
    * the same settle-or-retry discipline as the JSON snapshot fold.
    * Pieces provably folded into the head snapshot are then deleted
    * (the chain listing must not grow with uptime).
    *
    * An explicit `snapshotId` below the chain head is clamped up to it.
    * Returns the snapshot id.
    */
  def foldManifestToParquet(spark: SparkSession, manifestDir: String,
      snapshotId: Option[Long] = None,
      drop: Seq[String] = Nil, add: Seq[String] = Nil,
      addBase: Option[String] = None): Long = {
    val hconf = spark.sessionState.newHadoopConf()
    val dir = new HPath(manifestDir)
    val fs = dir.getFileSystem(hconf)
    fs.mkdirs(dir)
    recoverMfAside(fs, dir)
    val dropSet = drop.map(normUrl).toSet
    // part-file names carry the writing job's UUIDs — two folds can never
    // produce the same set, so the sorted part listing is a content tag
    def partSig(p: HPath): Seq[String] =
      fs.listStatus(p).map(_.getPath.getName).sorted.toSeq
    var id = snapshotId.getOrElse(0L)
    var attempts = 0
    var stable = false
    while (!stable && attempts < 5) {
      attempts += 1
      val listing = ManifestChain.listTiered(fs, dir)
      val snap = listing.filter(_._2 == ManifestChain.SnapPq)
        .sortBy(_._1).lastOption
      // JSON pieces fold by the JSON chain's OWN resolution (latest JSON
      // snapshot + incrementals after it), NOT every piece on disk: the
      // JSON tier never deletes shadowed pieces, and an incremental older
      // than a JSON maintenance fold may name files that fold RETIRED —
      // blindly folding it would resurrect deleted files into the parquet
      // snapshot and the post-fold prune would then destroy the one
      // correct artifact. Resolving INDEPENDENTLY of any pq snapshot keeps
      // convergence: a piece landed concurrently at ≤ a previous attempt's
      // pq id is shadowed by OUR OWN snapshot but still JSON-resolution-
      // visible (deliver incrementals are monotone past every JSON
      // snapshot), so the refold picks it up.
      val jsonAll = listing.filter(_._2 != ManifestChain.SnapPq)
      val lastJsonSnap = jsonAll.filter(_._2 == ManifestChain.SnapJson)
        .sortBy(_._1).lastOption
      val jsonPieces = (lastJsonSnap.toSeq ++ jsonAll.filter(e =>
          e._2 == ManifestChain.Inc &&
            lastJsonSnap.forall(s => e._1 > s._1)))
        .sortBy(_._1).map(_._3)
      val chainMax = listing.map(_._1).maxOption.getOrElse(0L)
      id = math.max(id, chainMax)
      val jsonTxt = jsonPieces.map(p => graft.streaming.FsOps.readString(fs, p))
      val extra = (jsonTxt.flatMap(ManifestChain.parseUrls).map(normUrl) ++
        add.map(normUrl)).distinct.filterNot(dropSet)
      val extraDf = spark.createDataset(extra)(
        org.apache.spark.sql.Encoders.STRING).toDF("url")
      // the compare-and-swap tag: the snapshot we are folding, by content
      val expectedSig = snap.map(s => partSig(s._3))
      val (outUrls, snapBases) = snap match {
        case Some((_, _, p)) =>
          val baseDf = spark.read.schema(MfPqSchema).parquet(p.toString)
          val kept =
            if (dropSet.isEmpty) baseDf.select(col("url"))
            else baseDf.select(col("url")).join(
              spark.createDataset(dropSet.toSeq)(
                org.apache.spark.sql.Encoders.STRING).toDF("url"),
              Seq("url"), "left_anti")
          // base values: a tiny column-pruned distinct over the snapshot
          val bases = baseDf.select(col("base")).where(col("base").isNotNull)
            .distinct().collect().map(_.getString(0)).toSeq
          (kept.unionByName(extraDf).distinct(), bases)
        case _ => (extraDf.distinct(), Seq.empty[String])
      }
      val baseOut = (snapBases ++
        jsonTxt.flatMap(ManifestChain.parseBasePath).map(normUrl) ++
        addBase.map(normUrl)).distinct match {
        case Seq(b) => Some(b)
        case _ => None
      }
      val outDf = outUrls.withColumn("base",
        baseOut.map(lit).getOrElse(lit(null).cast("string")))
      val tmp = new HPath(dir, s".tmp-manifest-$id.snap.pq")
      if (fs.exists(tmp)) graft.streaming.FsOps.deleteOrThrow(fs, tmp, recursive = true)
      outDf.write.mode("overwrite").parquet(tmp.toString)
      val target = new HPath(dir, f"manifest-$id%010d.snap.pq")
      val aside = new HPath(dir, f".old-manifest-$id%010d.snap.pq")
      // INSTALL = compare-and-swap: replace the target only if it is
      // (content-identical to) the snapshot this attempt folded. A
      // different snapshot appeared (a locked maintenance fold racing an
      // unlocked deliver self-fold, possibly at the SAME id) → discard our
      // tmp and refold on top of THEIRS — replacing it would silently drop
      // their retire/promote edits (files maintenance just deleted would
      // stay in the manifest). Each writer's refold includes the other's
      // content plus its own edits, so the race converges.
      val targetNow = if (fs.exists(target)) Some(partSig(target)) else None
      val casOk = (expectedSig, targetNow) match {
        case (_, None) => true // no live target: plain rename, no window
        case (Some(e), Some(t)) => e == t
        case (None, Some(_)) => false // a snapshot appeared we never read
      }
      if (!casOk) {
        graft.streaming.FsOps.deleteOrThrow(fs, tmp, recursive = true)
      } else {
        if (fs.exists(aside)) graft.streaming.FsOps.deleteOrThrow(fs, aside, recursive = true)
        if (fs.exists(target)) graft.streaming.FsOps.renameOrThrow(fs, target, aside)
        graft.streaming.FsOps.renameOrThrow(fs, tmp, target)
        if (fs.exists(aside)) graft.streaming.FsOps.deleteOrThrow(fs, aside, recursive = true)
        // stabilization: every piece at or below our snapshot id must be
        // accounted for by this attempt's LISTING (folded directly, or a
        // lower snapshot already subsumed by the one we folded) — a piece
        // that appeared between the listing and the swap was not; refold
        // (the next attempt's listing includes it)
        val foldedNames = listing.map(_._3.getName).toSet + target.getName
        stable = !ManifestChain.listTiered(fs, dir).exists { case (i, k, p) =>
          (i < id || (i == id && k < ManifestChain.SnapPq)) &&
            !foldedNames.contains(p.getName)
        }
      }
    }
    if (!stable) throw new IllegalStateException(
      s"manifest fold at $manifestDir did not stabilize after 5 attempts " +
        "(a concurrent writer keeps landing pieces at or below the fold " +
        "id) — retry when the chain settles; the chain itself is intact")
    pruneManifestPieces(fs, dir)
    id
  }

  /** Repair a fold interrupted inside its swap window (aside with no live
    * target → restore; stale aside → drop). Readers tolerate the window
    * via [[ManifestChain.listTiered]]'s aside substitution; this makes the
    * next maintenance pass converge.
    */
  private def recoverMfAside(fs: org.apache.hadoop.fs.FileSystem,
      dir: HPath): Unit = {
    if (!fs.exists(dir)) return
    fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith(".old-manifest-") &&
        p.getName.endsWith(".snap.pq"))
      .foreach { aside =>
        val target = new HPath(dir, aside.getName.stripPrefix(".old-"))
        if (!fs.exists(target)) graft.streaming.FsOps.renameOrThrow(fs, aside, target)
        else graft.streaming.FsOps.deleteOrThrow(fs, aside, recursive = true)
      }
  }

  /** Delete chain pieces strictly shadowed by the head parquet snapshot
    * (resolution never reads them again; the stabilization loop proved
    * they were folded). JSON-tier chains are never pruned here.
    */
  private def pruneManifestPieces(fs: org.apache.hadoop.fs.FileSystem,
      dir: HPath): Int = {
    ManifestChain.resolveTiered(fs, dir)._1 match {
      case Some((sid, ManifestChain.SnapPq, _)) =>
        val dead = ManifestChain.listTiered(fs, dir).filter { case (i, k, p) =>
          (i < sid || (i == sid && k < ManifestChain.SnapPq)) &&
            !p.getName.startsWith(".") // asides are the recovery path's job
        }
        dead.foreach(d => graft.streaming.FsOps.deleteOrThrow(fs, d._3,
          recursive = d._2 == ManifestChain.SnapPq))
        dead.size
      case _ => 0
    }
  }
}
