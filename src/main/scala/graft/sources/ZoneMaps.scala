package graft.sources

import java.util.Base64
import java.util.concurrent.{Callable, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import scala.collection.JavaConverters._
import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.column.page.DictionaryPageReadStore
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.streaming.FsOps

/** File-level zone maps (per-file column min/max/null-count), the data-
  * skipping layer the reference gets from Athena's partition pruning alone
  * (README.md:451-456 prunes on `day=`/`hour=` directories only). At 100 TB
  * a predicate on a NON-partition column still opens every file just to let
  * parquet row-group stats reject it — zone maps answer "can this file
  * match?" from a manifest-sized sidecar, so pruned files are never listed,
  * opened, or scheduled.
  *
  * Stats are harvested from parquet FOOTERS (exact, no data re-scan — the
  * bytes were just written and the footer already aggregates per-row-group
  * min/max; the deliver sink's write tasks read their own files' footers
  * and hand the stats back with the files), persisted under
  * `<manifestDir>/_zonemaps/zm-<batchId>.json` by the deliver sink, and folded into periodic snapshots like the
  * manifest chain. Zone maps are ADVISORY: a file with no stats is always
  * kept, the driving predicate is always re-applied after the scan, and a
  * stale entry for a retired file is harmless (readers intersect with the
  * manifest's live file list) — so unlike manifest snapshots, zone-map
  * folds need no anti-shadowing stabilization loop.
  */
object ZoneMaps {

  /** One column's zone in one file. `t` is the comparison domain:
    * "long" (integers), "days" (date), "micros" (timestamp), "double",
    * "bytes" (UTF-8 strings, byte-wise unsigned order — parquet's own
    * binary ordering), "bool". `lo`/`hi` are None when the file has no
    * non-null value (then `nulls == Some(rows)` prunes everything but
    * IS NULL). `nulls` is None when the writer didn't record null counts.
    */
  final case class ColZone(t: String, lo: Option[Any], hi: Option[Any],
      nulls: Option[Long], rows: Long)

  type FileZones = Map[String, Map[String, ColZone]] // url -> col -> zone

  // ---------------------------------------------------------------- harvest

  /** Exact per-file stats from parquet footers, restricted to `cols`
    * (Nil = every supported leaf column). Footer reads are metadata-only
    * (a few KB each) and run on the shared driver [[probePool]] — same cost
    * class as the file listing that preceded them.
    */
  def fromFooters(conf: Configuration, files: Seq[String],
      cols: Seq[String] = Nil): FileZones =
    onProbePool(files) { f =>
      // one unreadable/corrupt footer degrades THAT file to
      // no-stats-never-pruned (the advisory contract and the membership
      // stage's posture) instead of aborting the whole harvest —
      // fromFooters feeds query-time paths (scanWhere, pruneStats,
      // refreshZoneMaps, Compact's zone repair) where a single bad
      // foreign file must not kill the scan
      (f, try fileStats(conf, f, cols)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] WARNING: zone-map harvest skipped " +
            s"unreadable footer $f (${e.getMessage}) — the file is kept " +
            "unpruned")
          Map.empty[String, ColZone]
        })
    }.toMap

  /** The driver pool every footer, bloom and dictionary probe shares: 16
    * daemon threads, started on demand and retired after a minute idle, so
    * a probe call neither builds nor tears down threads. Tasks on it never
    * submit to it, so callers cannot deadlock it.
    */
  private lazy val probePool = {
    val p = new ThreadPoolExecutor(16, 16, 60L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, "graft-footer-probe"); t.setDaemon(true); t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }

  /** `f` over `xs` on [[probePool]], results in input order. */
  private def onProbePool[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    xs.map(x => probePool.submit(new Callable[B] { def call() = f(x) })).map(_.get())

  /** Cluster-scale [[fromFooters]]: above `distributeOver` files the
    * footer reads run as a Spark job (each file's harvest is independent;
    * the driver receives one small stats map per file) — refresh and
    * compaction-repair paths at ~10⁵⁺ files would otherwise serialize
    * through the 16-thread driver pool. Identical stats by construction:
    * both paths call [[fileStats]], with the same per-file degradation.
    */
  def fromFootersScaled(spark: SparkSession, files: Seq[String],
      cols: Seq[String] = Nil, distributeOver: Int = 2048): FileZones = {
    if (files.size < distributeOver)
      return fromFooters(spark.sessionState.newHadoopConf(), files, cols)
    val res = onCluster(spark, files) { (conf, f) =>
      try (f, fileStats(conf, f, cols), true)
      catch { case scala.util.control.NonFatal(_) =>
        (f, Map.empty[String, ColZone], false) // keep-unpruned degradation
      }
    }
    val skipped = res.collect { case (f, _, false) => f }
    if (skipped.nonEmpty)
      System.err.println(s"[graft] WARNING: zone-map harvest skipped " +
        s"${skipped.size} unreadable footer(s) (first: ${skipped.head}) — " +
        "those files are kept unpruned")
    res.map(r => r._1 -> r._2).toMap
  }

  /** `f` over `files` as one Spark job: the cluster-scale path of the
    * footer and membership probes (each file independent, one small answer
    * per file back to the driver).
    */
  private def onCluster[B: scala.reflect.ClassTag](spark: SparkSession, files: Seq[String])(
      f: (Configuration, String) => B): Seq[B] = {
    val serConf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val slices = math.min(files.size / 64 + 1,
      math.max(spark.sparkContext.defaultParallelism * 4, 32))
    spark.sparkContext.parallelize(files, slices).map(x => f(serConf.value, x)).collect().toSeq
  }

  /** Footer stats for one file. Columns whose physical/logical type has no
    * portable comparison domain (INT96, fixed-len, decimals, nested groups
    * below top level keep their dotted path) or whose stats any row group
    * omitted are simply absent — absent means "never prune on this column
    * in this file", never an error.
    */
  private[graft] def fileStats(conf: Configuration, file: String,
      cols: Seq[String]): Map[String, ColZone] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(file), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val acc = mutable.Map.empty[String, ColZone]
      val dropped = mutable.Set.empty[String]
      for (b <- blocks; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        if ((cols.isEmpty || cols.contains(name)) && !dropped(name)) {
          chunkZone(c) match {
            case None => dropped += name; acc.remove(name)
            case Some(z) =>
              acc(name) = acc.get(name).map(merge(_, z)).getOrElse(z)
          }
        }
      }
      acc.map { case (k, z) => k -> z.copy(rows = rows) }.toMap
    } finally reader.close()
  }

  /** Zone for one column chunk, or None when this chunk's stats are
    * unusable (whole column then drops — a file-level min/max missing one
    * row group's contribution would prune rows that exist).
    */
  private def chunkZone(
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Option[ColZone] =
    try chunkZoneUnsafe(c)
    catch { case _: ArithmeticException => None } // millis→micros overflow

  private def chunkZoneUnsafe(
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Option[ColZone] = {
    val st = c.getStatistics
    if (st == null) return None
    val nulls = if (st.isNumNullsSet) Some(st.getNumNulls) else None
    if (!st.hasNonNullValue) {
      // all-null chunk IF the null count confirms it; otherwise the writer
      // just omitted min/max (e.g. over-long binary) and we know nothing
      return nulls match {
        case Some(_) if st.getNumNulls == c.getValueCount =>
          Some(ColZone(tOf(c).getOrElse(return None), None, None, nulls, 0L))
        case _ => None
      }
    }
    val t = tOf(c).getOrElse(return None)
    val (lo, hi) =
      if (t.startsWith("dec")) (st.genericGetMin, st.genericGetMax) match {
        // decimal stats carry the UNSCALED value in the physical type:
        // INT32/INT64 directly, FIXED_LEN/BINARY as big-endian two's
        // complement — all land in one BigInt domain tagged with the scale
        case (mn: java.lang.Integer, mx: java.lang.Integer) =>
          (BigInt(mn.intValue): Any, BigInt(mx.intValue): Any)
        case (mn: java.lang.Long, mx: java.lang.Long) =>
          (BigInt(mn.longValue): Any, BigInt(mx.longValue): Any)
        case (mn: org.apache.parquet.io.api.Binary, mx: org.apache.parquet.io.api.Binary) =>
          (BigInt(new java.math.BigInteger(mn.getBytes)): Any,
            BigInt(new java.math.BigInteger(mx.getBytes)): Any)
        case _ => return None
      }
      else (st.genericGetMin, st.genericGetMax) match {
        case (mn: java.lang.Integer, mx: java.lang.Integer) =>
          (mn.toLong: Any, mx.toLong: Any)
        case (mn: java.lang.Long, mx: java.lang.Long) =>
          (normTs(c, mn): Any, normTs(c, mx): Any)
        case (mn: java.lang.Float, mx: java.lang.Float) =>
          (mn.toDouble: Any, mx.toDouble: Any)
        case (mn: java.lang.Double, mx: java.lang.Double) =>
          (mn.toDouble: Any, mx.toDouble: Any)
        case (mn: java.lang.Boolean, mx: java.lang.Boolean) =>
          (mn.booleanValue: Any, mx.booleanValue: Any)
        case (mn: org.apache.parquet.io.api.Binary, mx: org.apache.parquet.io.api.Binary) =>
          (mn.getBytes: Any, mx.getBytes: Any)
        case _ => return None
      }
    // NaN poisons float/double ordering (parquet writers disagree on
    // whether NaN participates in min/max) — drop the column's stats
    (lo, hi) match {
      case (d: Double, _) if d.isNaN => return None
      case (_, d: Double) if d.isNaN => return None
      case _ =>
    }
    Some(ColZone(t, Some(lo), Some(hi), nulls, 0L))
  }

  /** Comparison domain of a column chunk, None = unsupported. */
  private def tOf(
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Option[String] = {
    val pt = c.getPrimitiveType
    (pt.getPrimitiveTypeName, pt.getLogicalTypeAnnotation) match {
      // decimal(p,s): unscaled-value domain tagged with the scale — a
      // probe of a DIFFERENT scale lands in a different domain string, so
      // mixed-scale comparisons refuse (never prune) by the same rule as
      // any other domain mismatch
      case (INT32 | INT64 | FIXED_LEN_BYTE_ARRAY | BINARY,
          d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =>
        Some(s"dec${d.getScale}")
      case (_, _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) => None
      case (INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) => Some("days")
      case (INT32, _) => Some("long")
      case (INT64, ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
        ts.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MICROS |
               LogicalTypeAnnotation.TimeUnit.MILLIS => Some("micros")
          case _ => None // nanos don't fit micros losslessly
        }
      case (INT64, _) => Some("long")
      case (FLOAT | DOUBLE, _) => Some("double")
      case (BOOLEAN, _) => Some("bool")
      case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) => Some("bytes")
      case _ => None
    }
  }

  /** Millisecond-unit timestamps normalize to micros so one domain serves
    * both writer precisions.
    */
  /** Throws ArithmeticException on a millis value that overflows micros —
    * [[chunkZone]] catches it and drops the column's stats (a bound we
    * can't represent must never become a wrong bound).
    */
  private def normTs(
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData, v: Long): Long =
    c.getPrimitiveType.getLogicalTypeAnnotation match {
      case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
          if ts.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS =>
        Math.multiplyExact(v, 1000L)
      case _ => v
    }

  private def merge(a: ColZone, b: ColZone): ColZone = {
    def m(x: Option[Any], y: Option[Any], max: Boolean): Option[Any] = (x, y) match {
      case (Some(p), Some(q)) =>
        val c = cmp(p, q)
        Some(if ((c > 0) == max) p else q)
      case (p, q) => p.orElse(q)
    }
    ColZone(a.t, m(a.lo, b.lo, max = false), m(a.hi, b.hi, max = true),
      for (x <- a.nulls; y <- b.nulls) yield x + y, 0L)
  }

  /** Domain comparison: longs/doubles natively, byte arrays unsigned
    * lexicographic (parquet's UTF-8 binary order — Java String order
    * diverges on supplementary characters, so never compare as String).
    */
  private[graft] def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) =>
      // Spark comparisons treat -0.0 == 0.0 (IEEE ==); Double.compare
      // orders -0.0 < 0.0 — normalize signed zeros so a +0.0 literal
      // can't prune a file whose max is -0.0 (and vice versa). `x == 0.0`
      // is IEEE and matches both zeros; NaN never reaches cmp (dropped at
      // harvest and in literal conversion).
      java.lang.Double.compare(if (x == 0.0) 0.0 else x, if (y == 0.0) 0.0 else y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x: BigInt, y: BigInt) => x.compare(y) // decimal unscaled values
    case (x: Array[Byte], y: Array[Byte]) =>
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(x.length, y.length)
    case _ => throw new IllegalArgumentException(
      s"zone domain mismatch: ${a.getClass} vs ${b.getClass}")
  }

  // ------------------------------------------------------------ persistence

  /** Write `zm-<batchId>.json` (or a `.snap.json` fold every `compactEvery`
    * batches, mirroring the manifest chain's snapshot cadence so the
    * sidecar chain a reader resolves stays O(since-snapshot), not
    * O(history)). Idempotent per batchId: a crashed attempt's file is
    * overwritten whole via temp+rename.
    *
    * PARQUET tier: once a `zm-*.snap.pq` snapshot leads the chain (a lake
    * graduated past driver-sized sidecars via [[foldToParquet]]), cadence
    * folds stop here — a JSON render of the whole history is exactly the
    * driver-memory cliff the tier exists to avoid — and every write is a
    * plain incremental; maintenance owns folding from then on.
    */
  def write(conf: Configuration, manifestDir: String, batchId: Long,
      zones: FileZones, compactEvery: Int): Unit = {
    val dir = new HPath(manifestDir, SidecarDir)
    val fs = dir.getFileSystem(conf)
    val cadence = foldCadence(batchId, compactEvery)
    val pqTier = cadence &&
      resolveChain(fs, dir, upToExclusive = batchId)._1.exists(_._2 == SnapPq)
    val snapshot = cadence && !pqTier
    val all =
      if (!snapshot) zones
      // fold = plain map union (stale keys are harmless — see class doc),
      // newest batch wins on a re-delivered url
      else chainZones(fs, dir, upToExclusive = batchId) ++ zones
    val name = f"zm-$batchId%010d" + (if (snapshot) ".snap.json" else ".json")
    FsOps.atomicWrite(conf, fs, new HPath(dir, name), render(all).getBytes("UTF-8"))
  }

  /** All zones visible through the sidecar chain (latest snapshot ∪ later
    * incrementals) as ONE DRIVER MAP. Missing sidecar dir = no zone maps =
    * no pruning. This is the small-lake path: a parquet-tier snapshot is
    * readable here too (driver-side, for parity and maintenance), but
    * query paths on parquet-tier lakes should prune distributively via
    * [[pruneResolved]] instead of materializing the map.
    */
  def load(conf: Configuration, manifestDir: String): FileZones = {
    val dir = new HPath(manifestDir, SidecarDir)
    val fs = dir.getFileSystem(conf)
    chainZones(fs, dir, Long.MaxValue)
  }

  private val SidecarDir = "_zonemaps"

  /** The ONE fold-cadence rule: [[write]]'s snapshot points and the
    * deliver sink's parquet-tier self-folds must agree batch-for-batch —
    * a drifted copy would accumulate incrementals or double-fold.
    */
  def foldCadence(batchId: Long, compactEvery: Int): Boolean =
    compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0

  // chain-entry kinds: plain incremental, JSON snapshot, parquet snapshot
  private[sources] final val Inc = 0
  private[sources] final val SnapJson = 1
  private[sources] final val SnapPq = 2

  /** Sidecar chain resolution: the newest snapshot (parquet preferred on
    * an id tie — the parquet fold subsumes an equal-id JSON snapshot) plus
    * the incrementals after it, sorted by id.
    */
  private def listSidecar(fs: FileSystem, dir: HPath): Seq[(Long, Int, HPath)] = {
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.map(_.getPath).flatMap { p =>
      p.getName match {
        case n if n.startsWith("zm-") && n.endsWith(".snap.pq") =>
          Some((n.stripPrefix("zm-").stripSuffix(".snap.pq").toLong, SnapPq, p))
        case n if n.startsWith("zm-") && n.endsWith(".snap.json") =>
          Some((n.stripPrefix("zm-").stripSuffix(".snap.json").toLong, SnapJson, p))
        case n if n.startsWith("zm-") && n.endsWith(".json") =>
          Some((n.stripPrefix("zm-").stripSuffix(".json").toLong, Inc, p))
        case _ => None
      }
    }
  }

  private[sources] def resolveChain(fs: FileSystem, dir: HPath,
      upToExclusive: Long): (Option[(Long, Int, HPath)], Seq[(Long, HPath)]) = {
    val all = listSidecar(fs, dir).filter(_._1 < upToExclusive)
    val snap = all.filter(_._2 != Inc).sortBy(e => (e._1, e._2)).lastOption
    val incs = all.collect {
      case (id, Inc, p) if snap.forall(s => id > s._1) => (id, p)
    }.sortBy(_._1)
    (snap, incs)
  }

  /** One chain piece, degradation-safe: a piece deleted by a concurrent
    * [[pruneSidecar]] (it was shadowed anyway) or unreadable (transient
    * store error) yields NO zones — fewer zones can only mean less
    * pruning, never a wrong skip, by the advisory contract.
    */
  private[sources] def readZonesSafe(fs: FileSystem, p: HPath): FileZones =
    try parse(FsOps.readString(fs, p))
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] WARNING: sidecar piece $p unreadable " +
          s"(${e.getMessage}) — its zones degrade to no-pruning")
        Map.empty
    }

  private def chainZones(fs: FileSystem, dir: HPath,
      upToExclusive: Long): FileZones = {
    val (snap, incs) = resolveChain(fs, dir, upToExclusive)
    val head: FileZones = snap match {
      case Some((_, SnapPq, p)) => readPqSnapshotDriver(fs.getConf, p)
      case Some((_, _, p)) => readZonesSafe(fs, p)
      case None => Map.empty
    }
    incs.foldLeft(head) { (acc, e) =>
      acc ++ readZonesSafe(fs, e._2)
    }
  }

  /** Delete sidecar pieces strictly SHADOWED by the current snapshot
    * (lower-id files, and an equal-id piece of a lesser kind): chain
    * resolution never reads them again, they only grow the listing. Safe
    * under concurrency: a reader that already listed a deleted piece
    * degrades through [[readZonesSafe]] to fewer zones (advisory), and
    * zone entries describe immutable files. Returns pieces deleted.
    */
  def pruneSidecar(conf: Configuration, manifestDir: String): Int = {
    val dir = new HPath(manifestDir, SidecarDir)
    val fs = dir.getFileSystem(conf)
    resolveChain(fs, dir, Long.MaxValue)._1 match {
      case None => 0
      case Some((sid, skind, _)) =>
        val dead = listSidecar(fs, dir).filter { case (id, kind, _) =>
          id < sid || (id == sid && kind < skind)
        }
        dead.foreach(d => FsOps.deleteOrThrow(fs, d._3,
          recursive = d._2 == SnapPq))
        dead.size
    }
  }

  /** Bound value ↔ string, shared by every persisted form (JSON sidecars
    * and the parquet tier use the SAME encoding, so parity is by
    * construction): longs/bools as literals, doubles via Double.toString
    * (parses back exactly), bytes base64 (exact, escape-proof), decimal
    * unscaled values as big-integer decimal strings.
    */
  private[sources] def encodeVal(x: Any): String = x match {
    case l: Long => l.toString
    case d: Double => java.lang.Double.toString(d)
    case bl: Boolean => bl.toString
    case bs: Array[Byte] => Base64.getEncoder.encodeToString(bs)
    case bi: BigInt => bi.toString
  }

  private[sources] def decodeVal(t: String, s: String): Any = t match {
    case "long" | "days" | "micros" => s.toLong
    case "double" => java.lang.Double.parseDouble(s)
    case "bool" => s.toBoolean
    case "bytes" => Base64.getDecoder.decode(s)
    case d if d.startsWith("dec") => BigInt(s)
  }

  /** Flat JSON — one object per (file, column) with all-string values, so
    * loading needs no JSON library and no Spark job (the manifest parser's
    * regex style).
    */
  private[graft] def render(zones: FileZones): String = {
    val objs = zones.toSeq.sortBy(_._1).flatMap { case (url, cols) =>
      cols.toSeq.sortBy(_._1).map { case (col, z) =>
        val parts = Seq(
          s""""url":"$url"""", s""""col":"$col"""", s""""t":"${z.t}"""",
          s""""rows":"${z.rows}"""") ++
          z.lo.map(x => s""""lo":"${encodeVal(x)}"""") ++
          z.hi.map(x => s""""hi":"${encodeVal(x)}"""") ++
          z.nulls.map(n => s""""nulls":"$n"""")
        parts.mkString("{", ",", "}")
      }
    }
    objs.mkString("{\"zones\":[\n", ",\n", "\n]}")
  }

  private val Field = """"(\w+)":"([^"]*)"""".r

  private[graft] def parse(json: String): FileZones = {
    val acc = mutable.Map.empty[String, mutable.Map[String, ColZone]]
    // objects are single-level with no embedded quotes/braces by
    // construction (urls are paths, values are numbers/base64)
    for (obj <- """\{[^{}]*\}""".r.findAllIn(json)) {
      val f = Field.findAllMatchIn(obj).map(m => m.group(1) -> m.group(2)).toMap
      for (url <- f.get("url"); col <- f.get("col"); t <- f.get("t")) {
        acc.getOrElseUpdate(url, mutable.Map.empty)(col) = ColZone(
          t, f.get("lo").map(decodeVal(t, _)), f.get("hi").map(decodeVal(t, _)),
          f.get("nulls").map(_.toLong), f.get("rows").fold(0L)(_.toLong))
      }
    }
    acc.map { case (k, m) => k -> m.toMap }.toMap
  }

  // ------------------------------------------------- parquet sidecar tier

  /** The parquet snapshot's row shape: one row per (file, column), bounds
    * in the [[encodeVal]] string encoding. A TABLE, not a JSON blob —
    * folds, loads, and prune decisions over it run as Spark jobs, so the
    * sidecar scales with the cluster instead of the driver heap (the r11
    * verdict's driver-growth item #1: at ~10⁶ lake files the JSON sidecar
    * is GB-scale and `load()` is a GB driver parse).
    */
  private[sources] val PqSchema = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("col", StringType, nullable = false),
    StructField("t", StringType, nullable = false),
    StructField("lo", StringType, nullable = true),
    StructField("hi", StringType, nullable = true),
    StructField("nulls", LongType, nullable = true),
    StructField("rows", LongType, nullable = false)))

  private[sources] def zonesToDf(spark: SparkSession, z: FileZones): DataFrame = {
    val rows: Seq[org.apache.spark.sql.Row] = z.toSeq.flatMap { case (url, cols) =>
      cols.toSeq.map { case (c, zz) =>
        org.apache.spark.sql.Row(url, c, zz.t,
          zz.lo.map(encodeVal).orNull, zz.hi.map(encodeVal).orNull,
          zz.nulls.map(Long.box).orNull, zz.rows)
      }
    }
    // slice so a LARGE zones map (a first-time graduation folds the whole
    // JSON history through here) parallelizes the snapshot write and the
    // downstream scan; typical overlays are one flush and stay one slice
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size / 100000)),
      PqSchema)
  }

  private def rowZone(t: String, lo: String, hi: String, nulls: Any,
      rows: Long): ColZone =
    ColZone(t, Option(lo).map(decodeVal(t, _)), Option(hi).map(decodeVal(t, _)),
      Option(nulls).map { case l: java.lang.Long => l.longValue }, rows)

  /** Driver-side read of a parquet snapshot via parquet-mr (no Spark job):
    * keeps `load()` whole on parquet-tier lakes for parity checks and
    * small-map maintenance. Query paths at scale never call this — they
    * prune distributively.
    */
  private[sources] def readPqSnapshotDriver(conf: Configuration,
      dir: HPath): FileZones = {
    val fs = dir.getFileSystem(conf)
    val parts = fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet"))
    val acc = mutable.Map.empty[String, mutable.Map[String, ColZone]]
    parts.foreach { p =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
        .withConf(conf).build()
      try {
        var g = reader.read()
        while (g != null) {
          def opt(f: String): Option[String] =
            if (g.getType.containsField(f) &&
              g.getFieldRepetitionCount(f) > 0) Some(g.getValueToString(
                g.getType.getFieldIndex(f), 0))
            else None
          for (url <- opt("url"); c <- opt("col"); t <- opt("t")) {
            acc.getOrElseUpdate(url, mutable.Map.empty)(c) = ColZone(
              t, opt("lo").map(decodeVal(t, _)), opt("hi").map(decodeVal(t, _)),
              opt("nulls").map(_.toLong), opt("rows").fold(0L)(_.toLong))
          }
          g = reader.read()
        }
      } finally reader.close()
    }
    acc.map { case (k, m) => k -> m.toMap }.toMap
  }

  /** Fold the whole sidecar chain into ONE parquet snapshot, distributively
    * — the maintenance move that graduates a lake to the parquet tier (and
    * keeps it there: [[write]] stops JSON-folding once a `.snap.pq` leads
    * the chain). The existing parquet snapshot streams through executors
    * (never the driver); only the since-snapshot JSON incrementals (small
    * by the cadence invariant) and `extraOverlay` are driver-resident.
    * Newest-wins BY URL, like every fold. Returns the snapshot id.
    *
    * Crash-safe: written to a dot-temp dir, then swapped in with the live
    * snapshot renamed ASIDE first (never deleted before the replacement is
    * in place — a crash between a delete and the rename-in would leave NO
    * snapshot while pruneSidecar had already removed the shadowed pieces,
    * silently losing every zone until a manual refresh). A crash inside
    * the two-rename swap window leaves the aside copy, which the next
    * fold restores; readers in that window degrade to no-pruning, never a
    * wrong skip (zone entries describe IMMUTABLE files by url).
    *
    * An explicit `snapshotId` below the current chain head is CLAMPED up
    * to it: a lower-id snapshot would be deleted by this fold's own
    * pruneSidecar (id < max), silently discarding `extraOverlay` — the
    * Compact-repair-racing-a-Deliver-self-fold case.
    */
  def foldToParquet(spark: SparkSession, manifestDir: String,
      extraOverlay: FileZones = Map.empty,
      snapshotId: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions.{col => c}
    val hconf = spark.sessionState.newHadoopConf()
    val dir = new HPath(manifestDir, SidecarDir)
    val fs = dir.getFileSystem(hconf)
    fs.mkdirs(dir)
    recoverAside(fs, dir)
    val (snap, incs) = resolveChain(fs, dir, Long.MaxValue)
    val jsonHead: FileZones = snap match {
      case Some((_, SnapJson, p)) => readZonesSafe(fs, p)
      case _ => Map.empty
    }
    val overlay = incs.foldLeft(jsonHead) { (acc, e) =>
      acc ++ readZonesSafe(fs, e._2)
    } ++ extraOverlay
    val chainMax = math.max(
      snap.map(_._1).getOrElse(0L), incs.map(_._1).maxOption.getOrElse(0L))
    val id = math.max(snapshotId.getOrElse(chainMax), chainMax)
    val overlayDf = zonesToDf(spark, overlay)
    val outDf = snap match {
      case Some((_, SnapPq, p)) =>
        val base = spark.read.schema(PqSchema).parquet(p.toString)
        val survivors =
          if (overlay.isEmpty) base
          else base.join(
            org.apache.spark.sql.functions.broadcast(
              overlayDf.select(c("url")).distinct()),
            Seq("url"), "left_anti")
        survivors.unionByName(overlayDf)
      case _ => overlayDf
    }
    val tmp = new HPath(dir, s".tmp-zm-$id.snap.pq")
    if (fs.exists(tmp)) FsOps.deleteOrThrow(fs, tmp, recursive = true)
    // the tmp write CONSUMES the live snapshot (the base scan executes
    // here), so the swap below can safely move it aside
    outDf.write.mode("overwrite").parquet(tmp.toString)
    val target = new HPath(dir, f"zm-$id%010d.snap.pq")
    val aside = new HPath(dir, f".old-zm-$id%010d.snap.pq")
    if (fs.exists(aside)) FsOps.deleteOrThrow(fs, aside, recursive = true)
    if (fs.exists(target)) FsOps.renameOrThrow(fs, target, aside)
    FsOps.renameOrThrow(fs, tmp, target)
    if (fs.exists(aside)) FsOps.deleteOrThrow(fs, aside, recursive = true)
    // retire the pieces this fold shadowed — the listing must not grow
    // with fold count; racing readers degrade through readZonesSafe
    pruneSidecar(hconf, manifestDir)
    id
  }

  /** Repair a fold interrupted inside its swap window: an aside copy with
    * no live target means the crash hit between the two renames — restore
    * it; with a live target the aside is stale — drop it.
    */
  private def recoverAside(fs: FileSystem, dir: HPath): Unit = {
    if (!fs.exists(dir)) return
    fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith(".old-zm-") &&
        p.getName.endsWith(".snap.pq"))
      .foreach { aside =>
        val target = new HPath(dir, aside.getName.stripPrefix(".old-"))
        if (!fs.exists(target)) FsOps.renameOrThrow(fs, aside, target)
        else FsOps.deleteOrThrow(fs, aside, recursive = true)
      }
  }

  /** True when a parquet snapshot leads the sidecar chain — maintenance
    * (Compact's zone repair, cadence folds) must then stay distributed
    * and never render the history back into driver-sized JSON.
    */
  def isParquetTier(conf: Configuration, manifestDir: String): Boolean = {
    val dir = new HPath(manifestDir, SidecarDir)
    resolveChain(dir.getFileSystem(conf), dir, Long.MaxValue)
      ._1.exists(_._2 == SnapPq)
  }

  /** Columns the sidecar tracks (distinct `col`) — one column-pruned Spark
    * job over the parquet snapshot plus the driver-parsed incrementals;
    * lets maintenance harvest rewritten files for exactly the tracked set
    * without loading the zones map.
    */
  def trackedCols(spark: SparkSession, manifestDir: String): Seq[String] = {
    val hconf = spark.sessionState.newHadoopConf()
    val dir = new HPath(manifestDir, SidecarDir)
    val fs = dir.getFileSystem(hconf)
    val (snap, incs) = resolveChain(fs, dir, Long.MaxValue)
    val fromSnap: Seq[String] = snap match {
      case Some((_, SnapPq, p)) =>
        spark.read.schema(PqSchema).parquet(p.toString)
          .select("col").distinct().collect().map(_.getString(0)).toSeq
      case Some((_, _, p)) =>
        readZonesSafe(fs, p).valuesIterator
          .flatMap(_.keysIterator).toSeq
      case None => Seq.empty
    }
    val fromIncs = incs.flatMap(e =>
      readZonesSafe(fs, e._2).valuesIterator.flatMap(_.keysIterator))
    (fromSnap ++ fromIncs).distinct
  }

  /** Prune `urls` under an already-RESOLVED predicate through whichever
    * sidecar tier leads the chain: parquet snapshots evaluate
    * [[provesEmpty]] ON THE EXECUTORS (the driver sees only the pruned
    * url list, never the zones), JSON chains through the driver map. The
    * zones source re-resolves per call against the live sidecar (cached
    * by directory signature), so a view over a delivering lake prunes
    * with CURRENT stats.
    */
  def pruneResolved(spark: SparkSession, manifestDir: String,
      pred: Expression, urls: Seq[String]): Seq[String] = {
    val hconf = spark.sessionState.newHadoopConf()
    val dir = new HPath(manifestDir, SidecarDir)
    val fs = dir.getFileSystem(hconf)
    def norm(u: String) = new HPath(u).toString
    graft.operators.IndexMeta.cached(spark, dir.toString, tag = "zm-chain") {
      resolveChain(fs, dir, Long.MaxValue): (Option[(Long, Int, HPath)],
        Seq[(Long, HPath)])
    } match {
      case (Some((_, SnapPq, p)), incs) =>
        // overlay = since-snapshot incrementals (small by cadence), decided
        // driver-side; everything else decided in a Spark job over the
        // snapshot table. An overlay url's entry REPLACES its snapshot
        // entry whole (the JSON fold semantic), so overlay urls are
        // excluded from the distributed verdict.
        val overlay = graft.operators.IndexMeta.cached(spark, dir.toString,
          tag = "zm-overlay") {
          incs.foldLeft(Map.empty: FileZones) { (acc, e) =>
            acc ++ readZonesSafe(fs, e._2)
          }
        }
        val normOverlay = overlay.map { case (k, v) => norm(k) -> v }
        // the distributed verdict job reads the snapshot's parquet files:
        // a concurrent fold swapping the snapshot mid-job kills the read
        // (FILE_NOT_EXIST) — and zone pruning must NEVER fail a scan, so
        // that read degrades this scan to unpruned (the advisory posture;
        // the next scan resolves the fresh snapshot)
        val prunedSet =
          try pruneDistributed(spark, p, overlay, pred, urls, manifestDir)
            .map(norm).toSet
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graft] WARNING: distributed zone-prune " +
              s"verdict failed (${e.getMessage}) — this scan runs unpruned")
            Set.empty[String]
          }
        urls.filter { u =>
          val n = norm(u)
          normOverlay.get(n) match {
            case Some(z) => !provesEmpty(pred, z)
            case None => !prunedSet.contains(n)
          }
        }
      case _ =>
        // cache only driver-comfortable maps: the LRU is COUNT-bounded, so
        // pinning a huge un-graduated lake's whole map would reintroduce
        // the driver-heap cliff the parquet tier retires — big maps reload
        // per call (and the lake should run foldToParquet)
        val zones = graft.operators.IndexMeta.cachedIf(spark, dir.toString,
          tag = "zm-json") {
          chainZones(fs, dir, Long.MaxValue): FileZones
        }(z => z.valuesIterator.map(_.size.toLong).sum <= 50000L)
        val zByNorm = zones.map { case (k, v) => norm(k) -> v }
        urls.filter(u => !zByNorm.get(norm(u)).exists(z => provesEmpty(pred, z)))
    }
  }

  /** The distributed verdict: urls of snapshot rows whose zones PROVE the
    * predicate empty. Only the predicate's columns are read (column-pruned
    * scan of the sidecar table); rows of overlay urls are skipped (their
    * verdicts are driver-side).
    */
  private def pruneDistributed(spark: SparkSession, snapDir: HPath,
      overlay: FileZones, pred: Expression, candidates: Seq[String],
      manifestDir: String): Seq[String] = {
    import org.apache.spark.sql.functions.{broadcast, col => c, collect_list, struct, udf}
    val predCols = pred.collect { case Attr(a) => a }.distinct
    // nothing to prune (a fully partition-pruned scan passes no urls) —
    // never pay a sidecar job whose verdicts nobody reads
    if (predCols.isEmpty || candidates.isEmpty) return Seq.empty
    // scheme-spelling normalization on BOTH join sides (file:/ vs
    // file:/// — the FileIndex and the manifest writer may spell urls
    // differently): an unnormalized semi-join would silently drop every
    // snapshot row and disable pruning outright for registered views
    val normUdf = udf((u: String) => new HPath(u).toString)
    val z1 = spark.read.schema(PqSchema).parquet(snapDir.toString)
      .where(c("col").isin(predCols: _*))
      .withColumn("__nurl", normUdf(c("url")))
    // restrict the sidecar scan to the candidate urls (already partition-
    // pruned by the caller): a partition-selective query then reads only
    // its slice of the zones table. Above the broadcast cap, a lake whose
    // MANIFEST has graduated to its own parquet tier semi-joins the zones
    // table against the manifest url TABLE instead (a table-to-table join
    // — no driver list broadcast; correct because the live set is a
    // SUPERSET of the candidates, and extra verdicts are ignored by the
    // caller's candidate filter). Without a manifest table the scan stays
    // unrestricted, the pre-r13 behavior.
    val z0 =
      if (candidates.size <= 200000)
        z1.join(
          broadcast(spark.createDataset(
            candidates.map(u => new HPath(u).toString))(
            org.apache.spark.sql.Encoders.STRING).toDF("__nurl")),
          Seq("__nurl"), "left_semi")
      else graft.sources.ManifestReader.manifestTable(spark, manifestDir) match {
        case Some(mf) =>
          z1.join(mf.withColumn("__nurl", normUdf(c("url"))).select(c("__nurl")),
            Seq("__nurl"), "left_semi")
        case None => z1
      }
    // the overlay's urls are already known driver-side and normalized —
    // exclude them with a LocalRelation anti-join instead of re-
    // parallelizing the whole overlay map into a job just to distinct it
    val z =
      if (overlay.isEmpty) z0
      else z0.join(broadcast(spark.createDataset(
          overlay.keysIterator.map(u => new HPath(u).toString).toSeq.distinct)(
          org.apache.spark.sql.Encoders.STRING).toDF("__nurl")),
        Seq("__nurl"), "left_anti")
    val localPred = pred // serialized into the task closure (case classes)
    implicit val enc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    z.groupBy("url")
      .agg(collect_list(struct(c("col"), c("t"), c("lo"), c("hi"), c("nulls"),
        c("rows"))).as("zs"))
      .flatMap { r =>
        // per-(col) decode degradation, the advisory posture everywhere:
        // an undecodable entry (unknown future domain, corrupt value)
        // drops THAT column's zone — absent = never prune on it — instead
        // of failing the task and turning metadata damage into a scan
        // outage
        val zones = r.getSeq[org.apache.spark.sql.Row](1).flatMap { zr =>
          try Some(zr.getString(0) -> rowZone(zr.getString(1), zr.getString(2),
            zr.getString(3), if (zr.isNullAt(4)) null else Long.box(zr.getLong(4)),
            zr.getLong(5)))
          catch { case scala.util.control.NonFatal(_) => None }
        }.toMap
        if (provesEmpty(localPred, zones)) Some(r.getString(0)) else None
      }.collect().toSeq
  }

  // ---------------------------------------------------------------- pruning

  /** Resolve `filter` against the lake's real `schema` and return the
    * OPTIMIZED filter condition — literals cast-folded into the column's
    * type, implicit coercions applied, IsNotNull conjuncts inferred —
    * i.e. the exact semantics Spark will execute, which is the only thing
    * pruning may reason from. Planning is driver-only and reads no file:
    * the filter sits over an empty RDD of the schema (an empty LOCAL
    * relation would be optimized away with its filter). None = no Filter
    * survived optimization → no zone pruning.
    */
  private[sources] def resolvedPredicate(spark: SparkSession, schema: StructType,
      filter: Column): Option[Expression] =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .where(filter).queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.reduceOption(And)

  /** The lake schema as a scan of `file` under `basePath` sees it: the
    * file's footer plus the partition columns of its path.
    */
  private[sources] def probeSchema(spark: SparkSession, basePath: String,
      file: String): StructType =
    spark.read.option("basePath", basePath).parquet(file).schema

  /** True when `zones` PROVE no row of the file satisfies `pred` (a
    * RESOLVED, optimized condition from [[resolvedPredicate]]). False on
    * anything unknown — unsupported conjunct shape, missing column stats,
    * domain mismatch.
    */
  def provesEmpty(pred: Expression, zones: Map[String, ColZone]): Boolean = pred match {
    case And(l, r) => provesEmpty(l, zones) || provesEmpty(r, zones)
    case Or(l, r) => provesEmpty(l, zones) && provesEmpty(r, zones)
    case EqualTo(Attr(a), Lit(v, t)) => outside(zones.get(a), t, v, v)
    case EqualTo(Lit(v, t), Attr(a)) => outside(zones.get(a), t, v, v)
    case EqualNullSafe(Attr(a), Lit(v, t)) => outside(zones.get(a), t, v, v)
    case EqualNullSafe(Lit(v, t), Attr(a)) => outside(zones.get(a), t, v, v)
    case LessThan(Attr(a), Lit(v, t)) => noneBelow(zones.get(a), t, v, strict = true)
    case LessThan(Lit(v, t), Attr(a)) => noneAbove(zones.get(a), t, v, strict = true)
    case LessThanOrEqual(Attr(a), Lit(v, t)) => noneBelow(zones.get(a), t, v, strict = false)
    case LessThanOrEqual(Lit(v, t), Attr(a)) => noneAbove(zones.get(a), t, v, strict = false)
    case GreaterThan(Attr(a), Lit(v, t)) => noneAbove(zones.get(a), t, v, strict = true)
    case GreaterThan(Lit(v, t), Attr(a)) => noneBelow(zones.get(a), t, v, strict = true)
    case GreaterThanOrEqual(Attr(a), Lit(v, t)) => noneAbove(zones.get(a), t, v, strict = false)
    case GreaterThanOrEqual(Lit(v, t), Attr(a)) => noneBelow(zones.get(a), t, v, strict = false)
    case In(Attr(a), vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      vs.forall { case Lit(v, t) => outside(zones.get(a), t, v, v); case _ => false }
    case InSet(e @ Attr(a), vs) if vs.nonEmpty && e.resolved =>
      // the optimizer's large-IN form: values are internal representations
      // typed by the attribute (or struct-field extraction). `e.resolved`
      // gates the dataType access — an UnresolvedAttribute (a hand-built
      // predicate tree) throws there, and the conservative answer for a
      // shape we can't type is keep, never crash.
      vs.forall(v => internal(v, e.dataType)
        .exists { case (d, t) => outside(zones.get(a), t, d, d) })
    case IsNull(Attr(a)) =>
      zones.get(a).exists(z => z.nulls.contains(0L) && z.rows > 0)
    case IsNotNull(Attr(a)) =>
      zones.get(a).exists(z => z.lo.isEmpty && z.nulls.exists(_ == z.rows) && z.rows > 0)
    case StartsWith(Attr(a), Lit(p: Array[Byte], "bytes")) =>
      zones.get(a).exists { z =>
        z.lo.isDefined && {
          // file range entirely below the prefix, or at/above its successor
          cmp(z.hi.get, p) < 0 && !startsWith(z.hi.get.asInstanceOf[Array[Byte]], p) ||
          prefixSuccessor(p).exists(s => cmp(z.lo.get, s) >= 0)
        }
      }
    case _ => false
  }

  private def startsWith(v: Array[Byte], p: Array[Byte]): Boolean =
    v.length >= p.length && {
      var i = 0
      while (i < p.length) { if (v(i) != p(i)) return false; i += 1 }
      true
    }

  /** Smallest byte string greater than every string with prefix `p`
    * (increment last non-0xff byte); None when p is all 0xff.
    */
  private def prefixSuccessor(p: Array[Byte]): Option[Array[Byte]] = {
    val s = p.clone()
    var i = s.length - 1
    while (i >= 0) {
      if ((s(i) & 0xff) != 0xff) {
        s(i) = (s(i) + 1).toByte
        return Some(s.take(i + 1))
      }
      i -= 1
    }
    None
  }

  /** No value in [z.lo, z.hi] can equal a value in [vLo, vHi]. */
  private def outside(z: Option[ColZone], t: String, lo: Any, hi: Any): Boolean =
    z.exists { zz =>
      zz.t == t && (zz.lo match {
        case None => zz.nulls.exists(_ == zz.rows) && zz.rows > 0 // all-null file
        case Some(zlo) => cmp(hi, zlo) < 0 || cmp(lo, zz.hi.get) > 0
      })
    }

  /** No file value strictly-below / at-or-below `v`. */
  private def noneBelow(z: Option[ColZone], t: String, v: Any, strict: Boolean): Boolean =
    z.exists { zz =>
      zz.t == t && (zz.lo match {
        case None => zz.nulls.exists(_ == zz.rows) && zz.rows > 0
        case Some(zlo) => if (strict) cmp(zlo, v) >= 0 else cmp(zlo, v) > 0
      })
    }

  /** No file value strictly-above / at-or-above `v`. */
  private def noneAbove(z: Option[ColZone], t: String, v: Any, strict: Boolean): Boolean =
    z.exists { zz =>
      zz.t == t && (zz.hi match {
        case None => zz.nulls.exists(_ == zz.rows) && zz.rows > 0
        case Some(zhi) => if (strict) cmp(zhi, v) <= 0 else cmp(zhi, v) < 0
      })
    }

  /** Attribute name from either an unresolved user-built Column or a
    * resolved plan attribute (both shapes reach the pruner). A resolved
    * predicate on a STRUCT FIELD (`payload.data.id`, the CDC envelope
    * shape) arrives as a GetStructField chain over the root attribute —
    * flatten it to the dotted leaf path, which is exactly what the footer
    * harvest records (`getPath.toDotString`); before r13 these silently
    * never pruned (conservative, but the benefit was silently absent).
    */
  private object Attr {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case u: UnresolvedAttribute => Some(u.nameParts.mkString("."))
      case g: GetStructField =>
        def chain(x: Expression, suffix: List[String]): Option[String] = x match {
          case a: AttributeReference => Some((a.name :: suffix).mkString("."))
          case u: UnresolvedAttribute =>
            Some((u.nameParts.toList ++ suffix).mkString("."))
          case gs: GetStructField => chain(gs.child, gs.extractFieldName :: suffix)
          case _ => None // extraction off a non-column (function result): no zone
        }
        chain(g.child, List(g.extractFieldName))
      case _ => None
    }
  }

  /** An internal (post-analysis) value normalized into its zone comparison
    * domain. TIMESTAMP and TIMESTAMP_NTZ both land in "micros" — graft
    * sessions run UTC, where the two share an epoch scale.
    */
  private def internal(v: Any, dt: DataType): Option[(Any, String)] = v match {
    case null => None
    case b: Byte => Some((b.toLong, "long"))
    case s: Short => Some((s.toLong, "long"))
    case i: Int => Some((i.toLong, if (dt == DateType) "days" else "long"))
    case l: Long =>
      Some((l, if (dt == TimestampType || dt == TimestampNTZType) "micros" else "long"))
    case f: Float if !f.isNaN => Some((f.toDouble, "double"))
    case d: Double if !d.isNaN => Some((d, "double"))
    case b: Boolean => Some((b, "bool"))
    case u: UTF8String => Some((u.getBytes, "bytes"))
    case d: Decimal =>
      // a cast-folded decimal literal carries the COLUMN's scale after
      // Catalyst coercion; a literal whose scale still differs lands in a
      // different "dec<s>" domain and never prunes
      val jbd = d.toJavaBigDecimal
      Some((BigInt(jbd.unscaledValue), s"dec${jbd.scale}"))
    case _ => None
  }

  /** Literal normalized into its zone comparison domain. */
  private object Lit {
    def unapply(e: Expression): Option[(Any, String)] = e match {
      case l: Literal => internal(l.value, l.dataType)
      case _ => None
    }
  }

  // ----------------------------------------------------------- bloom prune

  /** Equality constraints a bloom filter can test: (column, candidate
    * values in the zone domain). Extracted from top-level conjuncts only —
    * an OR alternative could be satisfied elsewhere, so it never
    * constrains.
    */
  private def equalityConstraints(pred: Expression): Seq[(String, Seq[(Any, String)])] =
    pred match {
      case And(l, r) => equalityConstraints(l) ++ equalityConstraints(r)
      case EqualTo(Attr(a), Lit(v, t)) => Seq(a -> Seq((v, t)))
      case EqualTo(Lit(v, t), Attr(a)) => Seq(a -> Seq((v, t)))
      case In(Attr(a), vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        // STRICT: every value must convert, or the constraint is abandoned
        // — silently narrowing the candidate list would prune files that
        // match the dropped value (Spark's NaN = NaN is TRUE, so a NaN we
        // can't hash is a real candidate). The one exemption is a NULL
        // literal: `x IN (1, NULL)` matches exactly what `x IN (1)` does.
        val nonNull = vs.filterNot { case Literal(null, _) => true; case _ => false }
        val lits = nonNull.collect { case Lit(v, t) => (v, t) }
        if (lits.nonEmpty && lits.size == nonNull.size) Seq(a -> lits)
        else Seq.empty
      case InSet(e @ Attr(a), vs) if vs.nonEmpty && e.resolved =>
        val nonNull = vs.toSeq.filter(_ != null)
        val lits = nonNull.flatMap(v => internal(v, e.dataType))
        if (lits.nonEmpty && lits.size == nonNull.size) Seq(a -> lits)
        else Seq.empty
      case _ => Seq.empty
    }

  /** Second-stage pruning for point predicates: test each file's per-row-
    * group MEMBERSHIP structure for the equality conjuncts — the case zone
    * maps cannot help, a high-cardinality key spread uniformly across files
    * with every file's [min,max] straddling every probe. A row group answers
    * through its parquet bloom filter (written via
    * `parquet.bloom.filter.enabled#col`; may-contain), or, when it has none
    * and its `EncodingStats` show only dictionary-encoded data pages,
    * through its dictionary page (exact: parquet-java writes no bloom for
    * such a chunk, which is every repeated-key chunk). A file is pruned only
    * when EVERY row group answers and NO candidate value can be present;
    * missing stats, plain-encoded chunks without a bloom, unsupported
    * physical types and non-equality conjuncts keep the file. Structures
    * are read once per (file, length, mtime, column) and cached
    * ([[Members]]); each call stats every file to validate its entry.
    */
  def bloomPrune(conf: Configuration, files: Seq[String],
      pred: Expression): (Seq[String], Seq[String]) = {
    val constraints = equalityConstraints(pred)
    if (constraints.isEmpty || files.isEmpty) (files, Seq.empty)
    else split(onProbePool(files)(f => (f, membershipProvesEmpty(conf, f, constraints))))
  }

  /** Cluster-scale [[bloomPrune]]: above `distributeOver` candidate files
    * the probes run as a Spark job over the file list instead of the
    * driver [[probePool]] — at ~10⁵ files the probe I/O is the bottleneck
    * and it parallelizes embarrassingly. Below the threshold the driver
    * pool wins (no job-scheduling floor). Identical verdicts by
    * construction: both paths call [[membershipProvesEmpty]].
    */
  def bloomPruneScaled(spark: SparkSession, files: Seq[String],
      pred: Expression, distributeOver: Int = 2048): (Seq[String], Seq[String]) = {
    val constraints = equalityConstraints(pred)
    if (files.size < distributeOver || constraints.isEmpty)
      bloomPrune(spark.sessionState.newHadoopConf(), files, pred)
    else split(onCluster(spark, files)((conf, f) =>
      (f, membershipProvesEmpty(conf, f, constraints))))
  }

  /** (kept, pruned) from per-file "proves empty" verdicts. */
  private def split(verdicts: Seq[(String, Boolean)]): (Seq[String], Seq[String]) = {
    val (pruned, kept) = verdicts.partition(_._2)
    (kept.map(_._1), pruned.map(_._1))
  }

  /** True when some constraint's every candidate value is absent from
    * every row group of that column in `file`. Conservative like every
    * pruning stage: an unreadable footer/bloom/dictionary (transient store
    * error, corrupt foreign file) keeps the file — one bad file must
    * degrade that file's pruning, not abort the whole scan.
    */
  private def membershipProvesEmpty(conf: Configuration, file: String,
      constraints: Seq[(String, Seq[(Any, String)])]): Boolean = {
    var reader: ParquetFileReader = null
    try {
      val path = new HPath(file)
      val st = path.getFileSystem(conf).getFileStatus(path)
      def open() = {
        if (reader == null) reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        reader
      }
      constraints.exists { case (colName, candidates) =>
        Members.of(st, colName)(loadMembers(open(), colName)).exists(_.provesAbsent(candidates))
      }
    } catch { case scala.util.control.NonFatal(_) => false }
    finally if (reader != null) reader.close()
  }

  /** What one row group of one column can say about equality. */
  private sealed trait RowGroupMembers { def bytes: Long; def mayContain(x: Any): Boolean }
  private final case class BloomMembers(
      b: BloomFilter) extends RowGroupMembers {
    def bytes: Long = b.getBitsetSize + 64L
    def mayContain(x: Any): Boolean = b.findHash(b.hash(x.asInstanceOf[AnyRef]))
  }
  private final case class DictMembers(values: Set[Any], bytes: Long) extends RowGroupMembers {
    def mayContain(x: Any): Boolean = values.contains(x)
  }
  private case object NoMembers extends RowGroupMembers {
    def bytes: Long = 0L
    def mayContain(x: Any): Boolean = true
  }

  /** One column's membership structures in one file, one per row group. */
  private final case class ColMembers(pt: PrimitiveType, groups: Seq[RowGroupMembers]) {
    def bytes: Long = groups.map(_.bytes).sum + 128L
    // empty forms = untestable value → might be present; a value with
    // several physical forms (signed zeros) is absent only when EVERY form is
    def provesAbsent(candidates: Seq[(Any, String)]): Boolean =
      groups.nonEmpty && groups.forall(g => candidates.forall { case (v, t) =>
        val forms = physical(pt, v, t)
        forms.nonEmpty && !forms.exists(g.mayContain)
      })
  }

  /** `colName`'s membership structures in an open file: None when the file
    * lacks the column in some row group (then it is never pruned on it).
    */
  private def loadMembers(reader: ParquetFileReader, colName: String): Option[ColMembers] = {
    val blocks = reader.getFooter.getBlocks.asScala.toSeq
    val chunks = blocks.flatMap(_.getColumns.asScala.find(_.getPath.toDotString == colName))
    if (blocks.isEmpty || chunks.size != blocks.size) return None
    val desc = reader.getFileMetaData.getSchema.getColumnDescription(chunks.head.getPath.toArray)
    Some(ColMembers(chunks.head.getPrimitiveType, blocks.zip(chunks).map { case (b, c) =>
      Option(reader.getBloomFilterDataReader(b).readBloomFilter(c)).map(BloomMembers)
        .orElse(Option(c.getEncodingStats)
          .filter(es => es.hasDictionaryPages && !es.hasNonDictionaryEncodedPages)
          .flatMap(_ => Option((reader.getDictionaryReader(b): DictionaryPageReadStore)
            .readDictionaryPage(desc)))
          .flatMap { page =>
            val d = page.getEncoding.initDictionary(desc, page)
            val ids = 0 to d.getMaxId
            (c.getPrimitiveType.getPrimitiveTypeName match {
              case INT32 => Some(ids.map(d.decodeToInt))
              case INT64 => Some(ids.map(d.decodeToLong))
              case DOUBLE => Some(ids.map(d.decodeToDouble))
              case BINARY | FIXED_LEN_BYTE_ARRAY =>
                Some(ids.map(i => Binary.fromConstantByteArray(d.decodeToBinary(i).getBytes)))
              case _ => None
            }).map(vs => DictMembers(vs.toSet, 64L * vs.size + page.getUncompressedSize))
          })
        .getOrElse(NoMembers)
    }))
  }

  /** Per-file membership structures by (url, length, mtime, column): a pure
    * cache, since a listed lake file never changes under its name and a
    * rewritten one changes its length or mtime. LRU bounded in bytes by
    * [[graft.operators.DriverBudget]]; hits and misses count under the
    * `membership` tag of [[graft.operators.IndexMeta.hitsMisses]].
    */
  private object Members {
    private val lru = new java.util.LinkedHashMap[String, Option[ColMembers]](64, 0.75f, true)
    private var bytes = 0L
    private def size(v: Option[ColMembers]) = v.fold(128L)(_.bytes)

    def of(st: org.apache.hadoop.fs.FileStatus, col: String)(
        load: => Option[ColMembers]): Option[ColMembers] = {
      val key = s"${st.getPath}|${st.getLen}|${st.getModificationTime}|$col"
      val hit = synchronized(Option(lru.get(key)))
      graft.operators.IndexMeta.count("membership", hit.isDefined)
      hit.getOrElse {
        val v = load
        synchronized {
          Option(lru.put(key, v)).foreach(o => bytes -= size(o))
          bytes += size(v)
          val it = lru.values.iterator
          while (bytes > graft.operators.DriverBudget.budgetBytes && it.hasNext) {
            bytes -= size(it.next()); it.remove()
          }
        }
        v
      }
    }
  }

  /** Every physical value under which a zone-domain value could be stored
    * in a column of type `pt` — one helper for the bloom hash and the
    * dictionary compare. Empty when the domains can't meet (then the value
    * might still exist under some conversion we don't model — keep).
    * Usually one form; a zero-valued double yields BOTH signs, because
    * blooms and dictionaries store exact bit patterns while Spark's `===`
    * treats -0.0 and 0.0 as equal. A micros probe that doesn't divide
    * into a MILLIS column is representable nowhere, but that file-level
    * proof belongs to min/max — we stay conservative here.
    */
  private def physical(pt: PrimitiveType, v: Any, t: String): Seq[Any] =
    (pt.getPrimitiveTypeName, v, t) match {
      case (INT64, l: Long, "long") => Seq(l)
      case (INT64, l: Long, "micros") =>
        pt.getLogicalTypeAnnotation match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS => Seq(l)
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if ts.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS &&
                l % 1000L == 0 => Seq(l / 1000L)
          case _ => Seq.empty
        }
      case (INT32, l: Long, "long" | "days") if l.isValidInt => Seq(l.toInt)
      case (DOUBLE, d: Double, "double") => if (d == 0.0) Seq(0.0, -0.0) else Seq(d)
      case (BINARY, b: Array[Byte], "bytes") => Seq(Binary.fromConstantByteArray(b))
      // decimals: the probe carries the UNSCALED value tagged with its
      // scale; it maps onto the column's PHYSICAL representation only when
      // the scales agree (same refusal rule as the zone domains). Spark
      // writes precision ≤9 as INT32, ≤18 as INT64, larger as
      // FIXED_LEN_BYTE_ARRAY big-endian two's complement (sign-extended to
      // the declared length). Variable-length BINARY decimals stay
      // unprobed: their byte length is writer-dependent, and a wrong
      // representation would wrongly prune.
      case (pn, bi: BigInt, t) if decScale(pt).exists(s => s"dec$s" == t) =>
        pn match {
          case INT32 if bi.isValidInt => Seq(bi.toInt)
          case INT64 if bi.isValidLong => Seq(bi.toLong)
          case FIXED_LEN_BYTE_ARRAY if bi.toByteArray.length <= pt.getTypeLength =>
            val len = pt.getTypeLength
            val raw = bi.toByteArray // minimal big-endian two's complement
            val out = Array.fill[Byte](len)(if (bi.signum < 0) 0xff.toByte else 0x00)
            System.arraycopy(raw, 0, out, len - raw.length, raw.length)
            Seq(Binary.fromConstantByteArray(out))
          case _ => Seq.empty // unrepresentable → min/max's job
        }
      case _ => Seq.empty
    }

  /** The scale of a decimal-annotated physical type, None otherwise. */
  private def decScale(pt: PrimitiveType): Option[Int] =
    pt.getLogicalTypeAnnotation match {
      case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => Some(d.getScale)
      case _ => None
    }

  /** Standalone zone-map scan of a plain parquet directory (no manifest):
    * harvest footers at query time, prune, scan only survivors, re-apply
    * the filter. For repeated queries against a delivered lake, prefer
    * [[ManifestReader.readWhere]] which reads persisted sidecars instead
    * of touching footers per query.
    */
  def scanWhere(spark: SparkSession, dir: String, filter: Column,
      blooms: Boolean = false): DataFrame = {
    val (kept, files, base) = scanPruned(spark, dir, filter, blooms)
    // an all-pruned scan still reads one file: .where() filters it to zero
    // rows and the schema (incl. partition columns) stays authentic
    val read = if (kept.nonEmpty) kept else files.take(1)
    spark.read.option("basePath", base).parquet(read: _*).where(filter)
  }

  /** File-count effect of pruning `dir` under `filter` — (kept, total),
    * for effectiveness assertions and ops visibility.
    */
  def pruneStats(spark: SparkSession, dir: String, filter: Column,
      blooms: Boolean = false): (Int, Int) = {
    val (kept, files, _) = scanPruned(spark, dir, filter, blooms)
    (kept.size, files.size)
  }

  private def scanPruned(spark: SparkSession, dir: String,
      filter: Column, blooms: Boolean): (Seq[String], Seq[String], String) = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = new HPath(dir)
    val fs = root.getFileSystem(hconf)
    val files = FsOps.walkParquet(fs, root, skipHidden = true)
      .map(p => fs.makeQualified(p).toString).sorted
    require(files.nonEmpty, s"no parquet files under $dir")
    val base = fs.makeQualified(root).toString
    // min/max zones always, the membership stage for equality conjuncts
    // when `blooms` is set (still no row-group I/O)
    val kept = resolvedPredicate(spark, probeSchema(spark, base, files.head), filter) match {
      case None => files
      case Some(pred) =>
        val zones = fromFooters(hconf, files)
        val zoneKept = files.filter(f => !zones.get(f).exists(z => provesEmpty(pred, z)))
        if (!blooms) zoneKept else bloomPruneScaled(spark, zoneKept, pred)._1
    }
    (kept, files, base)
  }
}

/** Java-serializable Hadoop Configuration carrier for the distributed
  * bloom/footer probes (Configuration itself is a Writable, not
  * Serializable; this is the standard write/readFields envelope).
  */
private[sources] final class SerializableHadoopConf(
    @transient private var conf: Configuration) extends Serializable {
  def value: Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}
