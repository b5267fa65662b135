package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sources.{ManifestReader, ShardedLog, ZoneMaps}
import graft.streaming.Deliver

/** File-level zone maps: exact footer harvest, sidecar persistence, and
  * predicate pruning that may only ever SKIP provably-empty files.
  */
class ZoneMapsSpec extends SparkSuite {
  import spark.implicits._

  private def hconf = spark.sessionState.newHadoopConf()

  private def writeOneFile(df: DataFrame, dir: String): String = {
    Deliver.withInt64Timestamps(spark) {
      df.coalesce(1).write.mode("overwrite").parquet(dir)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(hconf)
    graft.streaming.FsOps.walkParquet(fs, new org.apache.hadoop.fs.Path(dir),
      skipHidden = true).map(p => fs.makeQualified(p).toString).head
  }

  test("footer harvest is exact across types (long/double/string/ts/date/bool/nulls)") {
    val dir = tmpDir("graft-zm-types-")
    val df = Seq(
      (3L, 1.5, "apple", Timestamp.valueOf("2024-01-01 00:00:00"),
        Date.valueOf("2024-01-01"), true, Option(7L)),
      (9L, -2.25, "pear", Timestamp.valueOf("2024-06-15 12:30:00"),
        Date.valueOf("2024-03-05"), false, None),
      (5L, 0.0, "banana", Timestamp.valueOf("2024-03-01 06:00:00"),
        Date.valueOf("2024-02-02"), true, Option(2L))
    ).toDF("l", "d", "s", "ts", "dt", "b", "opt")
    val f = writeOneFile(df, dir)
    val z = ZoneMaps.fromFooters(hconf, Seq(f))(f)

    assert(z("l") == ZoneMaps.ColZone("long", Some(3L), Some(9L), Some(0L), 3L))
    assert(z("d") == ZoneMaps.ColZone("double", Some(-2.25), Some(1.5), Some(0L), 3L))
    assert(z("s").t == "bytes")
    assert(new String(z("s").lo.get.asInstanceOf[Array[Byte]], "UTF-8") == "apple")
    assert(new String(z("s").hi.get.asInstanceOf[Array[Byte]], "UTF-8") == "pear")
    // timestamps must land in the micros domain — this pins that the lake
    // writer produces INT64 timestamp stats zone maps can use (INT96 would
    // harvest nothing and silently disable ts pruning)
    assert(z.contains("ts"), s"no ts stats harvested — writer emitted a " +
      s"non-INT64 timestamp physical type; cols seen: ${z.keySet}")
    assert(z("ts") == ZoneMaps.ColZone("micros",
      Some(Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L),
      Some(Timestamp.valueOf("2024-06-15 12:30:00").getTime * 1000L), Some(0L), 3L))
    assert(z("dt").t == "days")
    assert(z("dt").lo.get == Date.valueOf("2024-01-01").toLocalDate.toEpochDay)
    assert(z("b") == ZoneMaps.ColZone("bool", Some(false), Some(true), Some(0L), 3L))
    assert(z("opt") == ZoneMaps.ColZone("long", Some(2L), Some(7L), Some(1L), 3L))
  }

  test("render/parse roundtrip preserves every zone exactly") {
    val zones: ZoneMaps.FileZones = Map(
      "file:/a/p1.parquet" -> Map(
        "l" -> ZoneMaps.ColZone("long", Some(-5L), Some(10L), Some(2L), 100L),
        "d" -> ZoneMaps.ColZone("double", Some(-0.5), Some(1.25e300), None, 100L),
        "s" -> ZoneMaps.ColZone("bytes",
          Some("añ\"{}".getBytes("UTF-8")), Some("zz".getBytes("UTF-8")), Some(0L), 100L),
        "allnull" -> ZoneMaps.ColZone("micros", None, None, Some(100L), 100L)),
      "file:/a/p2.parquet" -> Map(
        "b" -> ZoneMaps.ColZone("bool", Some(true), Some(true), Some(0L), 7L)))
    val back = ZoneMaps.parse(ZoneMaps.render(zones))
    assert(back.keySet == zones.keySet)
    for ((url, cols) <- zones; (c, z) <- cols) {
      val bz = back(url)(c)
      assert(bz.t == z.t && bz.nulls == z.nulls && bz.rows == z.rows)
      (z.lo, bz.lo) match {
        case (Some(a: Array[Byte]), Some(b: Array[Byte])) => assert(a.sameElements(b))
        case (a, b) => assert(a == b)
      }
    }
  }

  test("pruning never changes results and skips provably-empty files") {
    val dir = tmpDir("graft-zm-prune-")
    // 8 files with disjoint known ranges of k, overlapping v
    (0 until 8).foreach { i =>
      writeOneFile(Seq.tabulate(100)(j =>
        (i * 100L + j, s"u${i * 100 + j}%04d", (j % 10).toDouble)).toDF("k", "u", "v"),
        s"$dir/f$i")
    }
    def parity(pred: Column): Unit = {
      val viaZones = ZoneMaps.scanWhere(spark, dir, pred)
        .select("k").as[Long].collect().sorted.toSeq
      val full = spark.read.parquet((0 until 8).map(i => s"$dir/f$i"): _*)
        .where(pred).select("k").as[Long].collect().sorted.toSeq
      assert(viaZones == full, s"zone-pruned scan diverged under $pred")
    }
    parity(col("k") === 250L)
    parity(col("k") < 150L)
    parity(col("k") >= 700L)
    parity(col("k").between(190L, 310L))
    parity(col("k") === 250L || col("k") === 650L)
    parity(col("k") > 100000L) // prunes everything
    parity(col("v") === 3.0) // unclustered column: keeps everything, still right
    parity(col("u").startsWith("u02"))
    parity(col("u") >= "u0700")

    // effectiveness: a point predicate on the clustered column keeps 1 of 8
    val (kept, total) = ZoneMaps.pruneStats(spark, dir, col("k") === 250L)
    assert(total == 8 && kept == 1, s"expected 1/8 kept, got $kept/$total")
    // and an impossible one keeps 0
    assert(ZoneMaps.pruneStats(spark, dir, col("k") > 100000L)._1 == 0)
    // unclustered point predicate keeps all 8 (v spans every file)
    assert(ZoneMaps.pruneStats(spark, dir, col("v") === 3.0)._1 == 8)
  }

  test("unknown shapes, domain mismatches, and all-null columns stay safe") {
    val dir = tmpDir("graft-zm-safe-")
    writeOneFile(Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("k", "dead"), s"$dir/f0")
    writeOneFile(Seq((10L, Option("alive"))).toDF("k", "dead"), s"$dir/f1")

    // unsupported conjunct (arithmetic) → no pruning, correct result
    assert(ZoneMaps.pruneStats(spark, dir, col("k") + 1 === 2L)._1 == 2)
    assert(ZoneMaps.scanWhere(spark, dir, col("k") + 1 === 2L).count() == 1)
    // string literal against a long column: whatever coercion the analyzer
    // picks, results must match the plain scan (pruning may or may not fire)
    assert(ZoneMaps.scanWhere(spark, dir, col("k") === "1").count() ==
      spark.read.parquet(s"$dir/f0", s"$dir/f1").where(col("k") === "1").count())
    // all-null column: equality prunes the all-null file, IS NULL keeps it
    assert(ZoneMaps.pruneStats(spark, dir, col("dead") === "alive")._1 == 1)
    assert(ZoneMaps.pruneStats(spark, dir, col("dead").isNull)._1 == 1)
    assert(ZoneMaps.scanWhere(spark, dir, col("dead").isNull).count() == 2)
    // IS NOT NULL prunes the all-null file
    assert(ZoneMaps.pruneStats(spark, dir, col("dead").isNotNull)._1 == 1)
    // NaN literal never prunes
    assert(ZoneMaps.pruneStats(spark, dir, col("k") === Double.NaN)._1 == 2)
    // an all-pruned scan still returns the right (empty) result and schema
    val none = ZoneMaps.scanWhere(spark, dir, col("k") > 999L)
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "dead"))
  }

  test("bloom pruning kills point probes min/max cannot (and never changes results)") {
    val dir = tmpDir("graft-zm-bloom-")
    // 8 files, ids SHUFFLED across files: every file's [min,max] straddles
    // every probe — the exact case where zone maps prune nothing
    val rnd = new scala.util.Random(13)
    val ids = rnd.shuffle((0L until 800L).toVector)
    ids.grouped(100).zipWithIndex.foreach { case (chunk, i) =>
      Deliver.withInt64Timestamps(spark) {
        chunk.map(id => (id, s"u$id", id * 2.5)).toDF("id", "u", "v").coalesce(1)
          .write.mode("overwrite")
          .option("parquet.bloom.filter.enabled#id", "true")
          .option("parquet.bloom.filter.enabled#u", "true")
          .parquet(s"$dir/f$i")
      }
    }
    val probe = ids(123)
    // min/max keeps all 8; blooms keep only the file(s) holding the id
    assert(ZoneMaps.pruneStats(spark, dir, col("id") === probe)._1 == 8)
    val (keptB, totalB) = ZoneMaps.pruneStats(spark, dir, col("id") === probe, blooms = true)
    assert(totalB == 8 && keptB <= 2, s"bloom should isolate the probe, kept $keptB/8")
    assert(keptB >= 1, "bloom must never prune the file that holds the value")
    // parity with and without blooms, hit and miss, long and string
    def parity(pred: org.apache.spark.sql.Column): Unit = {
      val a = ZoneMaps.scanWhere(spark, dir, pred, blooms = true)
        .select("id").as[Long].collect().sorted.toSeq
      val b = spark.read.parquet((0 until 8).map(i => s"$dir/f$i"): _*)
        .where(pred).select("id").as[Long].collect().sorted.toSeq
      assert(a == b, s"bloom scan diverged under $pred")
    }
    parity(col("id") === probe)
    parity(col("id") === 123456L) // absent everywhere → all pruned
    parity(col("u") === s"u$probe")
    parity(col("id").isin(ids(5), ids(700), 999999L))
    // a range conjunct alongside the equality still works
    parity(col("id") === probe && col("v") >= 0.0)
    // absent value prunes ALL files via blooms
    assert(ZoneMaps.pruneStats(spark, dir, col("id") === 123456L, blooms = true)._1 == 0)
    // a file written WITHOUT blooms is never pruned by the bloom stage
    // (its id range straddles the probe so the zone stage keeps it too)
    Deliver.withInt64Timestamps(spark) {
      Seq((0L, "u0", 1.0), (799L, "u799", 1.0)).toDF("id", "u", "v").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/f9")
    }
    val (k9, t9) = ZoneMaps.pruneStats(spark, dir, col("id") === probe, blooms = true)
    assert(t9 == 9 && k9 >= 2, "bloomless file must survive the bloom stage")

    // an IN list with a value the bloom can't hash (NaN — which Spark's
    // NaN = NaN semantics make a REAL match) must abandon the constraint,
    // not silently narrow it: the NaN rows live in a bloomed file that a
    // narrowed probe list would prune
    val dir2 = tmpDir("graft-zm-bloom-nan-")
    Deliver.withInt64Timestamps(spark) {
      Seq((1L, 2.5), (2L, 2.5)).toDF("id", "v").coalesce(1)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#v", "true").parquet(s"$dir2/f0")
      Seq((3L, Double.NaN), (4L, Double.NaN)).toDF("id", "v").coalesce(1)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#v", "true").parquet(s"$dir2/f1")
    }
    val nanPred = col("v").isin(1.5, Double.NaN)
    val got = ZoneMaps.scanWhere(spark, dir2, nanPred, blooms = true)
      .select("id").as[Long].collect().sorted.toSeq
    val want = spark.read.parquet(s"$dir2/f0", s"$dir2/f1")
      .where(nanPred).select("id").as[Long].collect().sorted.toSeq
    assert(got == want && want == Seq(3L, 4L),
      s"NaN IN-list candidates must not be bloom-pruned: got=$got want=$want")
  }

  test("decimal bloom probes: all three physical widths prune; wrong scale refuses") {
    // Spark's decimal physical layout by precision: ≤9 → INT32, ≤18 →
    // INT64, else FIXED_LEN_BYTE_ARRAY — each needs its own unscaled-value
    // mapping in the bloom probe. Values SHUFFLED across files so zone
    // min/max straddles every probe (the bloom-only case, like q125).
    val dir = tmpDir("graft-zm-bloom-dec-")
    val rnd = new scala.util.Random(7)
    val vals = rnd.shuffle((0 until 400).map(i => BigDecimal(i) + BigDecimal("0.25")).toVector)
    vals.grouped(100).zipWithIndex.foreach { case (chunk, i) =>
      Deliver.withInt64Timestamps(spark) {
        chunk.map(v => (v.toString.hashCode.toLong, v)).toDF("id", "p")
          .select(col("id"),
            col("p").cast("decimal(9,2)").as("p32"),
            col("p").cast("decimal(12,2)").as("p64"),
            col("p").cast("decimal(20,2)").as("pfx"))
          .coalesce(1).write.mode("overwrite")
          .option("parquet.bloom.filter.enabled#p32", "true")
          .option("parquet.bloom.filter.enabled#p64", "true")
          .option("parquet.bloom.filter.enabled#pfx", "true")
          .parquet(s"$dir/f$i")
      }
    }
    val probe = vals(42)
    for ((c, scale) <- Seq(("p32", "decimal(9,2)"), ("p64", "decimal(12,2)"),
        ("pfx", "decimal(20,2)"))) {
      val pred = col(c) === lit(probe.bigDecimal).cast(scale)
      // zones are blind (shuffled layout), the bloom isolates the value
      assert(ZoneMaps.pruneStats(spark, dir, pred)._1 == 4,
        s"$c zones should straddle")
      val (kept, total) = ZoneMaps.pruneStats(spark, dir, pred, blooms = true)
      // ≤2: a bloom false positive may keep one extra file; ≥1: the file
      // holding the value must never be pruned
      assert(total == 4 && kept >= 1 && kept <= 2,
        s"$c bloom should isolate: $kept/$total")
      // result parity, hit and miss
      val a = ZoneMaps.scanWhere(spark, dir, pred, blooms = true)
        .select("id").as[Long].collect().sorted.toSeq
      val b = spark.read.parquet((0 until 4).map(i => s"$dir/f$i"): _*)
        .where(pred).select("id").as[Long].collect().sorted.toSeq
      assert(a == b && a.nonEmpty, s"$c bloom scan diverged")
      val missPred = col(c) === lit(new java.math.BigDecimal("99999.99")).cast(scale)
      assert(ZoneMaps.pruneStats(spark, dir, missPred, blooms = true)._1 == 0,
        s"$c absent value must bloom-prune every file")
    }
    // a probe whose literal lands in a DIFFERENT scale after coercion must
    // refuse (never prune): scale-3 probe against the scale-2 column
    val pred3 = col("p64") === lit(new java.math.BigDecimal("42.255"))
    val (k3, t3) = ZoneMaps.pruneStats(spark, dir, pred3, blooms = true)
    assert(k3 == t3, s"mixed-scale decimal probe must keep every file: $k3/$t3")
  }

  /** Bloom and dictionary facts of every `col` chunk in `file`: (has a
    * bloom, has dictionary pages, has non-dictionary data pages).
    */
  private def chunkFacts(file: String, column: String): Seq[(Boolean, Boolean, Boolean)] = {
    import scala.jdk.CollectionConverters._
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), hconf))
    try r.getFooter.getBlocks.asScala.toSeq.map { b =>
      val c = b.getColumns.asScala.find(_.getPath.toDotString == column).get
      (r.getBloomFilterDataReader(b).readBloomFilter(c) != null,
        c.getEncodingStats.hasDictionaryPages, c.getEncodingStats.hasNonDictionaryEncodedPages)
    } finally r.close()
  }

  test("dictionary membership prunes repeated keys exactly when parquet wrote no bloom") {
    // file j holds k ∈ {j, j+8, …, j+72}, each 20 times: every file's
    // [min,max] straddles every probe, and the repeats make parquet
    // dictionary-encode every chunk — so it drops the requested blooms
    val epoch = java.time.LocalDate.of(2020, 1, 1)
    def x(k: Long): Double = if (k == 16) -0.0 else k - 16.0
    def dec(k: Long) = BigDecimal(k) + BigDecimal("0.25")
    val decCols = Seq("p32" -> "decimal(9,2)", "p64" -> "decimal(12,2)", "pfx" -> "decimal(20,2)")
    val cols = Seq("id", "i", "d", "s", "x") ++ decCols.map(_._1)
    // v1 pages (the lake's) never dictionary-encode FIXED_LEN_BYTE_ARRAY, so
    // v1's pfx chunks carry blooms; v2 pages dictionary-encode every column
    for (version <- Seq("PARQUET_1_0", "PARQUET_2_0")) {
      val dir = tmpDir("graft-zm-dict-")
      (0 until 4).foreach { j =>
        val ks = (0 until 10).map(i => j + 8L * i)
        val rows = (1 to 20).flatMap(_ => ks).map(k => (k, k.toInt,
          Date.valueOf(epoch.plusDays(k)), f"u$k%03d", x(k), dec(k)))
        // file 3 also holds NaN doubles
        val all = if (j == 3) rows ++ Seq.fill(5)(rows.head.copy(_5 = Double.NaN)) else rows
        all.toDF("id", "i", "d", "s", "x", "p").select(col("*") +: decCols.map { case (c, t) =>
            col("p").cast(t).as(c) }: _*).drop("p")
          .coalesce(1).write.mode("overwrite").option("parquet.writer.version", version)
          .options(cols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap)
          .parquet(s"$dir/f$j")
      }
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
      val files = graft.streaming.FsOps.walkParquet(fs, new org.apache.hadoop.fs.Path(dir),
        skipHidden = true).map(p => fs.makeQualified(p).toString)
      def bloomed(c: String) = version == "PARQUET_1_0" && c == "pfx"
      for (f <- files; c <- cols)
        assert(chunkFacts(f, c).forall(_ ==
          (if (bloomed(c)) (true, false, true) else (false, true, false))), s"$version $f $c")
      def parity(pred: Column): Unit = {
        val a = ZoneMaps.scanWhere(spark, dir, pred, blooms = true)
          .select("id").as[Long].collect().sorted.toSeq
        val b = spark.read.parquet((0 until 4).map(j => s"$dir/f$j"): _*).where(pred)
          .select("id").as[Long].collect().sorted.toSeq
        assert(a == b, s"$version: membership scan diverged under $pred")
      }
      def kept(pred: Column) = ZoneMaps.pruneStats(spark, dir, pred, blooms = true)
      val probes = Seq[(String, Long => Column)](
        ("id", k => lit(k)), ("i", k => lit(k.toInt)),
        ("d", k => lit(Date.valueOf(epoch.plusDays(k)))), ("s", k => lit(f"u$k%03d")),
        ("x", k => lit(x(k)))) ++
        decCols.map { case (c, t) => c -> ((k: Long) => lit(dec(k).bigDecimal).cast(t)) }
      for ((c, v) <- probes) {
        // a dictionary is exact; a bloom may keep one false positive
        def keeps(pred: Column, n: Int) = {
          val (k, total) = kept(pred)
          assert(total == 4 && k >= n && k <= (if (bloomed(c)) n + 1 else n),
            s"$version $c: $pred kept $k, want $n")
        }
        // k = 17 lives in f1 only, k = 13 nowhere, k = 26 in f2 only
        assert(ZoneMaps.pruneStats(spark, dir, col(c) === v(17))._1 == 4, s"$c zones straddle")
        keeps(col(c) === v(17), 1)
        keeps(col(c) === v(13), 0)
        keeps(col(c).isin(v(17), v(26), v(13)), 2)
        parity(col(c) === v(17)); parity(col(c) === v(13))
        parity(col(c).isin(v(17), v(26), v(13)))
      }
      // ±0.0: f0 holds -0.0, which Spark's `===` equates with 0.0
      assert(kept(col("x") === 0.0) == ((1, 4)) && kept(col("x") === -0.0) == ((1, 4)))
      parity(col("x") === 0.0); parity(col("x") === -0.0)
      // a NaN candidate is a real match (NaN = NaN): never pruned
      assert(kept(col("x").isin(1.0, Double.NaN)) == ((4, 4)))
      parity(col("x").isin(1.0, Double.NaN)); parity(col("x") === Double.NaN)
    }
  }

  test("dictionary membership stays conservative: part-way fallback, plain chunks") {
    val dir = tmpDir("graft-zm-dict-fallback-")
    // f0: 3000 rows of ten repeated ids, then 3000 unique ones, with a 4 KB
    // dictionary limit and 1 KB pages — the chunk starts dictionary-encoded
    // and falls back to plain part-way, so parquet writes its bloom
    val ids = (0 until 3000).map(i => (i % 10) * 1000L) ++ (0 until 3000).map(i => 1L + 3 * i)
    ids.toDF("id").coalesce(1).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#id", "true")
      .option("parquet.dictionary.page.size", "4096").option("parquet.page.size", "1024")
      .parquet(s"$dir/f0")
    // f1: repeated ids, dictionary encoding off, no bloom
    (0 until 3000).map(i => (i % 10) * 1000L + 2).toDF("id").coalesce(1).write
      .mode("overwrite").option("parquet.enable.dictionary", "false").parquet(s"$dir/f1")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    def file(d: String) = graft.streaming.FsOps.walkParquet(fs,
      new org.apache.hadoop.fs.Path(d), skipHidden = true).map(p => fs.makeQualified(p).toString).head
    val f0 = chunkFacts(file(s"$dir/f0"), "id")
    assert(f0.exists(f => f._2 && f._3) && f0.forall(_._1), s"f0 chunks: $f0")
    assert(chunkFacts(file(s"$dir/f1"), "id").forall(_ == ((false, false, true))))
    def scan(pred: Column) = ZoneMaps.scanWhere(spark, dir, pred, blooms = true)
      .select("id").as[Long].collect().sorted.toSeq
    def plain(pred: Column) = spark.read.parquet(s"$dir/f0", s"$dir/f1").where(pred)
      .select("id").as[Long].collect().sorted.toSeq
    // a dictionary-part key and a plain-part key of f0, and an f1 key
    for (k <- Seq(3000L, 1L + 3 * 2500, 5002L)) {
      assert(scan(col("id") === k) == plain(col("id") === k) && plain(col("id") === k).nonEmpty)
    }
    // an absent key inside both ranges: f1 has nothing to answer with
    val (kept, total) = ZoneMaps.pruneStats(spark, dir, col("id") === 5001L, blooms = true)
    assert(total == 2 && kept >= 1, s"the plain-encoded bloomless file must be kept: $kept")
    assert(scan(col("id") === 5001L).isEmpty)
  }

  test("nested struct-field predicates prune through dotted zone paths") {
    // the CDC envelope shape: payload.data.id range-clustered across files —
    // the harvest stores dotted leaf paths; the pruner must flatten the
    // resolved GetStructField chain onto them (before r13 it silently never
    // pruned nested columns)
    val dir = tmpDir("graft-zm-nested-")
    (0 until 4).foreach { i =>
      Deliver.withInt64Timestamps(spark) {
        (i * 100 until (i + 1) * 100).map { v =>
          (v.toLong, s"op$i")
        }.toDF("id", "op")
          .select(struct(struct(col("id"), (col("id") * 2).as("v")).as("data"),
            col("op")).as("payload"), col("id").as("event_id"))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/f$i")
      }
    }
    def parity(pred: org.apache.spark.sql.Column): Unit = {
      val a = ZoneMaps.scanWhere(spark, dir, pred)
        .select("event_id").as[Long].collect().sorted.toSeq
      val b = spark.read.parquet((0 until 4).map(i => s"$dir/f$i"): _*)
        .where(pred).select("event_id").as[Long].collect().sorted.toSeq
      assert(a == b, s"nested prune diverged under $pred: $a vs $b")
    }
    // point lookup: only the holding file survives
    val point = col("payload.data.id") === 150L
    val (kept, total) = ZoneMaps.pruneStats(spark, dir, point)
    assert(total == 4 && kept == 1, s"nested point prune: $kept/$total")
    parity(point)
    // range cut, two levels deep, and an IN list
    val range = col("payload.data.id") >= 300L
    assert(ZoneMaps.pruneStats(spark, dir, range)._1 == 1)
    parity(range)
    parity(col("payload.data.v") < 100L) // sibling leaf
    parity(col("payload.data.id").isin(5L, 350L))
    // a restricted harvest accepts the dotted leaf path as its column
    // filter (the Deliver zoneMapCols shape for envelope lakes)
    val hconf = spark.sessionState.newHadoopConf()
    val files = (0 until 4).flatMap { i =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/f$i")
      p.getFileSystem(hconf).listStatus(p).toSeq
        .map(_.getPath.toString).filter(_.endsWith(".parquet"))
    }
    val zones = ZoneMaps.fromFooters(hconf, files, cols = Seq("payload.data.id"))
    assert(zones.nonEmpty &&
      zones.valuesIterator.forall(_.keySet == Set("payload.data.id")),
      "restricted harvest must track exactly the requested dotted leaf")
  }

  test("asTable prunes inside Spark's own scan planning (FileIndex path)") {
    val dir = tmpDir("graft-zm-astable-")
    (0 until 8).foreach { i =>
      writeOneFile(Seq.tabulate(100)(j => (i * 100L + j, (j % 10).toDouble))
        .toDF("k", "v"), s"$dir/f$i")
    }
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    val files = graft.streaming.FsOps.walkParquet(fs,
      new org.apache.hadoop.fs.Path(dir), skipHidden = true)
      .map(p => fs.makeQualified(p).toString).sorted
    // hand-written manifest + sidecar (the deliver path is covered below)
    graft.streaming.FsOps.atomicWrite(hconf, fs,
      new org.apache.hadoop.fs.Path(s"$dir/_m/manifest-0000000001.json"),
      graft.streaming.ManifestChain.render(files,
        Some(fs.makeQualified(new org.apache.hadoop.fs.Path(dir)).toString))
        .getBytes("UTF-8"))
    ZoneMaps.write(hconf, s"$dir/_m", 1L,
      ZoneMaps.fromFooters(hconf, files, Seq("k")), 10)

    val t = ManifestReader.asTable(spark, s"$dir/_m")
    assert(t.count() == 800)
    val q = t.where(col("k").between(190L, 310L))
    assert(q.select(sum("k")).head.getLong(0) ==
      (190L to 310L).sum)
    // the SCAN itself lists fewer files — pruning happened inside planning
    val scans = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val listed = scans.head.relation.location
      .listFiles(scans.head.partitionFilters, scans.head.dataFilters)
      .map(_.files.size).sum
    assert(listed == 3, s"k in [190,310] spans exactly files f1,f2,f3; got $listed")
    // the custom FileIndex must not cost the ordinary parquet pushdown:
    // row-group stats still see the predicate inside the kept files
    assert(scans.head.metadata("PushedFilters").contains("k"),
      scans.head.metadata.toString)
    // SQL over a temp view rides the same index
    t.createOrReplaceTempView("zm_astable")
    assert(spark.sql("SELECT COUNT(*) AS n FROM zm_astable WHERE k = 250")
      .head.getLong(0) == 1L)
    // ... and the catalog registration path is the same machinery
    graft.catalog.LakeCatalog.registerPrunedView(spark, "zm_view", s"$dir/_m")
    assert(spark.sql("SELECT SUM(k) AS s FROM zm_view WHERE k BETWEEN 190 AND 310")
      .head.getLong(0) == (190L to 310L).sum)
    // an unfiltered scan is untouched
    assert(t.count() == 800)
  }

  test("deliver writes the sidecar; readWhere prunes by ts and matches read().where()") {
    val base = tmpDir("graft-zm-deliver-")
    val payloadSchema = StructType(Seq(
      StructField("data", StructType(Seq(
        StructField("id", LongType), StructField("status", StringType),
        StructField("value", DoubleType), StructField("ts", TimestampType),
        StructField("event_id", LongType)))),
      StructField("metadata", StructType(Seq(StructField("op", StringType))))))
    val events = graft.queries.Registry.tbl(spark, sfDir, "events").limit(600)
    ShardedLog.put(ShardedLog.fromEvents(events), s"$base/log")
    val q = Deliver.start(ShardedLog.readStream(spark, s"$base/log"), payloadSchema,
      Deliver.Config(s"$base/lake", s"$base/ck", manifestDir = Some(s"$base/manifest"),
        zoneMapCols = Seq("ts", "event_id"),
        trigger = Trigger.AvailableNow(),
        clock = Some(Timestamp.valueOf("2025-11-07 14:32:09.13"))))
    q.awaitTermination()

    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(hconf)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$base/manifest/_zonemaps")),
      "deliver must write the _zonemaps sidecar when zoneMapCols is set")

    val cut = events.agg(expr("percentile_approx(ts, 0.9)")).head.getTimestamp(0)
    val pred = col("ts") >= lit(cut)
    val viaZones = ManifestReader.readWhere(spark, s"$base/manifest", pred)
      .select("event_id").as[Long].collect().sorted.toSeq
    val full = ManifestReader.read(spark, s"$base/manifest").where(pred)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(viaZones == full && full.nonEmpty)

    // hour-partitioned lake + a top-decile ts cut ⇒ most files prune
    val (kept, total) = ManifestReader.pruneStats(spark, s"$base/manifest", pred)
    assert(total > 4, s"need a multi-file lake for this gate, got $total")
    assert(kept < total, s"ts predicate pruned nothing ($kept/$total)")
    assert(kept <= total / 2, s"top-decile ts cut should prune most files ($kept/$total)")

    // a lake without sidecars (pre-zone-map manifest) reads fine, prunes nothing
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/manifest/_zonemaps"), true)
    val (k2, t2) = ManifestReader.pruneStats(spark, s"$base/manifest", pred)
    assert(k2 == t2)
    assert(ManifestReader.readWhere(spark, s"$base/manifest", pred)
      .select("event_id").as[Long].collect().sorted.toSeq == full)

    // refreshZoneMaps rebuilds the sidecar from live footers (the
    // post-maintenance path) and pruning returns
    ManifestReader.refreshZoneMaps(spark, s"$base/manifest", Seq("ts", "event_id"))
    val (k3, t3) = ManifestReader.pruneStats(spark, s"$base/manifest", pred)
    assert(k3 == kept && t3 == total,
      s"refreshed sidecar should restore pruning: $k3/$t3 vs $kept/$total")
  }
}
