package graft.operators

import java.util.{LinkedHashMap => JLinkedHashMap, Map => JMap}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Process-local cache for persisted-index METADATA reads (geometry rows,
  * centroid tables, PQ codebooks, SQ grids, shard routers): a serving
  * process otherwise re-reads these tiny parquet dirs on EVERY query
  * batch — one to three driver-blocking jobs per serve that dwarf the
  * probe work once the index is warm. This is the fixed-cost floor the
  * r11 bench measured on pq_ivf_serve, and the dominant per-shard term
  * in the sharded/routed scatter serve (r11 verdict ask #5): amortizing
  * it is what lets the routed tier's O(routeShards/nShards) scan saving
  * show on the wall.
  *
  * Correctness: every access re-validates the entry against a directory
  * CONTENT SIGNATURE (each file's name, length, mtime — one FS listing,
  * no Spark job). Any rebuild, append, or compaction changes the listing
  * (the delete-first rebuild discipline never reuses part-file names), so
  * a stale entry cannot be served; a changed dir simply reloads. Bounded
  * LRU (64 dirs): centroid tables are ≤ nlist×dim doubles (≈25 MB at
  * nlist 4096 / dim 768), so the bound caps worst-case driver memory for
  * many-shard serving processes while keeping every realistic working set
  * resident. Hits and misses are counted per tag ([[hitsMisses]]), so a
  * spec or a report can tell whether a metadata cache is hitting.
  */
private[graft] object IndexMeta {
  private val maxEntries = 64
  private val cache = java.util.Collections.synchronizedMap(
    new JLinkedHashMap[String, (String, AnyRef)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: JMap.Entry[String, (String, AnyRef)]): Boolean =
        size() > maxEntries
    })

  private val counts =
    new java.util.concurrent.ConcurrentHashMap[String, Array[java.util.concurrent.atomic.AtomicLong]]

  /** Count one lookup of a cache under `tag`: also used by caches that
    * validate their entries by other means (the per-file membership cache).
    */
  def count(tag: String, hit: Boolean): Unit = {
    counts.computeIfAbsent(tag, _ => Array.fill(2)(new java.util.concurrent.atomic.AtomicLong))(
      if (hit) 0 else 1).incrementAndGet()
    ()
  }

  /** (hits, misses) under `tag` since the process started. */
  def hitsMisses(tag: String): (Long, Long) =
    Option(counts.get(tag)).fold((0L, 0L))(c => (c(0).get, c(1).get))

  private def signature(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else fs.listStatus(p).map(s =>
      s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(";")
  }

  /** Load-through: returns the cached value while `dir`'s listing is
    * unchanged, else recomputes via `load` (which sees the live dir).
    * `load` must produce a DRIVER-LOCAL value (rows, arrays, options) —
    * never a lazy plan over the files, which would outlive the signature
    * it was validated against. `tag` disambiguates callers that cache
    * DIFFERENT shapes of the same dir (e.g. a centroid dir as a row table
    * vs as a validated Seq) — same dir + different tag = separate entries.
    */
  def cached[A <: AnyRef](spark: SparkSession, dir: String, tag: String = "")(
      load: => A): A =
    cachedIf(spark, dir, tag)(load)(_ => true)

  /** [[cached]], but the loaded value is STORED only when `keep(v)` —
    * for loads whose worst case outgrows a COUNT-bounded LRU (e.g. a
    * JSON-tier zone map: cache the common small ones, reload a GB-scale
    * one per call rather than pinning it in driver heap).
    */
  def cachedIf[A <: AnyRef](spark: SparkSession, dir: String, tag: String)(
      load: => A)(keep: A => Boolean): A = {
    val key = s"$tag@$dir"
    val sig = signature(spark, dir)
    val hit = cache.get(key)
    count(tag, hit != null && hit._1 == sig)
    if (hit != null && hit._1 == sig) hit._2.asInstanceOf[A]
    else {
      val v = load
      if (keep(v)) cache.put(key, (sig, v)) else cache.remove(key)
      v
    }
  }

  /** A small parquet dir cached as collected rows and replayed as a
    * local-relation DataFrame — downstream broadcasts/joins see the same
    * schema and data as a fresh read, with no file scan in the serve plan.
    */
  def cachedTable(spark: SparkSession, dir: String): DataFrame = {
    val (schema, rows) = cachedRows(spark, dir)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The same cache entry as [[cachedTable]], exposed as raw driver rows —
    * for serve paths that consume the table ON the driver (probe-cell
    * ranking) instead of re-injecting it into a plan.
    */
  def cachedRows(spark: SparkSession, dir: String): (StructType, Array[Row]) =
    cached(spark, dir, tag = "table") {
      val df = spark.read.parquet(dir)
      (df.schema, df.collect()): (StructType, Array[Row])
    }

  /** Test hook: drop every entry (e.g. to measure cold-path behavior). */
  private[graft] def invalidateAll(): Unit = cache.clear()
}
