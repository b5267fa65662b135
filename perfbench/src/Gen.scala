package perfbench

import java.util.{Base64, SplittableRandom}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One generated CDC record, as the producer knows it. `dueMs` is when the
  * open-loop schedule wanted it sent (latency is measured from there).
  */
final case class Rec(seq: Long, id: Long, status: String, cents: Long, tsMicros: Long,
    op: String, corrupt: Boolean, wire: String, dueMs: Long) {
  def pk: String = s"orders-$id"
  def seqStr: String = Gen.seqStr(seq)
  def shard: String = Gen.shardOf(pk)
  def valid: Boolean = !corrupt
  def flagged: Boolean = !corrupt && status == Gen.Flagged
}

/** Seeded record generator: Zipf-skewed keys, a share of late (hours behind)
  * event times, a share of corrupt payloads, and wire records padded to the
  * reference's ~1.38 KB. Everything is a pure function of the seed and the
  * call sequence; wall-clock time never enters a payload.
  */
final class Gen(seed: Long) {
  import Gen._
  private val rnd = new SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(Keys)(i => 1.0 / math.pow(i + 1.0, ZipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private var nextSeq = 1L

  /** A key id in [1, Keys], Zipf-distributed (id 1 is the hottest). */
  def zipfKey(): Long = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    (if (i >= 0) i else -i - 1).toLong.min(Keys - 1L) + 1L
  }

  /** A Zipf key among the `HotRanks` most frequent ids (`hot`), or outside them. */
  def zipfKey(hot: Boolean): Long = {
    var k = zipfKey()
    while ((k <= HotRanks) != hot) k = zipfKey()
    k
  }

  /** A key id that is never generated. */
  def absentKey(): Long = Keys + 1L + rnd.nextInt(Keys)

  def nextDouble(): Double = rnd.nextDouble()
  def nextInt(n: Int): Int = rnd.nextInt(n)

  private val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 ".toCharArray

  /** The next record, with event time `tsMicros` unless it is drawn late. */
  def next(tsMicros: Long, dueMs: Long): Rec = {
    val seq = nextSeq; nextSeq += 1
    val id = zipfKey()
    val u = rnd.nextDouble()
    val status =
      if (u < FlaggedShare) Flagged
      else Statuses(rnd.nextInt(Statuses.length))
    val cents = 100L + rnd.nextInt(5000000)
    val ts = if (rnd.nextDouble() < LateShare)
      tsMicros - (1L + rnd.nextInt(6)) * 3600L * 1000000L - rnd.nextInt(3600) * 1000000L
    else tsMicros
    val op = Ops(rnd.nextInt(Ops.length))
    val corrupt = rnd.nextDouble() < CorruptShare
    val wire =
      if (!corrupt) encode(id, status, cents, ts, op)
      else if (rnd.nextBoolean()) Base64.getEncoder.encodeToString(
        s"""{"data":{"id":$id,"status":"$status"""".getBytes("UTF-8")) // truncated JSON
      else s"%%not-base64-$seq%%"
    Rec(seq, id, status, cents, ts, op, corrupt, wire, dueMs)
  }

  private def encode(id: Long, status: String, cents: Long, ts: Long, op: String): String = {
    val head = s"""{"data":{"id":$id,"status":"$status","value":${centsText(cents)},""" +
      s""""ts":"${isoMicros(ts)}","note":""""
    val tail = s""""},"metadata":{"op":"$op"}}"""
    // base64 grows 4/3: pad the JSON so the wire text is ~WireBytes
    val padLen = math.max(0, WireBytes * 3 / 4 - head.length - tail.length)
    val sb = new java.lang.StringBuilder(head.length + padLen + tail.length)
    sb.append(head)
    var i = 0
    while (i < padLen) { sb.append(alphabet(rnd.nextInt(alphabet.length))); i += 1 }
    sb.append(tail)
    Base64.getEncoder.encodeToString(sb.toString.getBytes("UTF-8"))
  }
}

object Gen {
  /** Distinct key ids, Zipf-skewed with exponent `ZipfS`. */
  val Keys = 50000
  val ZipfS = 1.1
  /** The ids that count as hot keys for the lookup strata. */
  val HotRanks = 10
  /** Shares of records that match the alert, run hours late, or are corrupt. */
  val FlaggedShare = 0.04
  val LateShare = 0.02
  val CorruptShare = 0.01
  /** The reference's ~1.38 KB record (README.md:172). */
  val WireBytes = 1380
  val Flagged = "flagged"
  val Statuses: Array[String] = Array("created", "paid", "packed", "shipped", "delivered")
  val Ops: Array[String] = Array("I", "U", "U", "U", "D")
  val Shards = 4
  val Stream = "rds-cdc-bench"

  def seqStr(seq: Long): String = f"$seq%030d"
  def shardOf(pk: String): String =
    f"shardId-${Math.floorMod(pk.hashCode, Shards)}%012d"
  def centsText(c: Long): String = f"${c / 100}.${c % 100}%02d"
  private val isoMillis = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)
  /** Event times are whole milliseconds, written in the JSON reader's default form. */
  def isoMicros(us: Long): String =
    isoMillis.format(java.time.Instant.ofEpochMilli(Math.floorDiv(us, 1000L)))

  /** 2025-11-07T00:00:00Z — the fixed epoch event times count from. */
  val BaseMicros: Long = 1762473600L * 1000000L

  /** The payload schema the consumers decode with. */
  val payload: StructType = StructType(Seq(
    StructField("data", StructType(Seq(
      StructField("id", LongType), StructField("status", StringType),
      StructField("value", DoubleType), StructField("ts", TimestampType),
      StructField("note", StringType)))),
    StructField("metadata", StructType(Seq(StructField("op", StringType))))))

  /** The record-envelope columns `GraftLog.append` takes. */
  val envelope: StructType = StructType(Seq(
    StructField("stream_name", StringType), StructField("shard_id", StringType),
    StructField("partition_key", StringType), StructField("sequence_number", StringType),
    StructField("approx_arrival_ts", TimestampType), StructField("data", StringType)))

  def frame(spark: SparkSession, recs: Seq[Rec], arrivalMs: Long): DataFrame = {
    val at = new java.sql.Timestamp(arrivalMs)
    val rows = recs.map(r => Row(Stream, r.shard, r.pk, r.seqStr, at, r.wire))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), envelope)
  }
}
