package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

import graft.codec.{AvroEnvelope, EnvelopeFormat}
import graft.codec.AvroEnvelope.WeatherReading

/** The shape of the envelope traffic. Every field is recorded in
  * BENCHMARK.json; the generator draws everything else from the seed. */
final case class TrafficSpec(
    devices: Int,
    zipfS: Double,
    eventSpanMs: Long,
    ttlMs: Long,
    outOfOrderShare: Double,
    maxLateMs: Long,
    poisonShare: Double,
    v1Share: Double,
    fileSizes: Seq[Int]) {
  def events: Int = fileSizes.sum
  def files: Int = fileSizes.size
}

object Traffic {
  val T0 = 1700000000000L
  // envelope kinds
  val V1: Byte = 1
  val V2: Byte = 2
  val UnknownId: Byte = 3
  val Alien: Byte = 4
  val Truncated: Byte = 5
  val ValueSchema = StructType(Seq(StructField("value", BinaryType)))
}

/** Seeded envelope traffic in arrival order.
  *
  *  - device popularity is Zipf(`zipfS`) over `devices` ids, so a long
  *    tail of devices sits idle for more than the TTL and their eviction
  *    timers fire;
  *  - event time advances evenly with arrival over `eventSpanMs`; a share
  *    `outOfOrderShare` of events carries a time up to `maxLateMs` older;
  *  - a share `poisonShare` of envelopes is poison, in equal parts an
  *    unknown schema id, an alien writer schema and a truncated body;
  *  - valid envelopes are written with the v1 schema at `v1Share`, else v2.
  */
final class Traffic(val spec: TrafficSpec, val seed: Long, val prefix: String = "dev-",
                    val t0: Long = Traffic.T0) {
  import Traffic._

  val device = new Array[Int](spec.events)
  val ts = new Array[Long](spec.events)
  val kind = new Array[Byte](spec.events)
  private val names: Array[String] = {
    val r = new SplittableRandom(seed * 31 + 7)
    val ids = Array.tabulate(spec.devices)(identity)
    for (i <- ids.indices.reverse) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    ids.map(i => prefix + i)
  }
  def deviceName(d: Int): String = names(d)

  locally {
    val r = new SplittableRandom(seed)
    val cdf = new Array[Double](spec.devices)
    var acc = 0.0
    for (k <- 0 until spec.devices) { acc += math.pow(k + 1.0, -spec.zipfS); cdf(k) = acc }
    for (k <- cdf.indices) cdf(k) /= acc
    val step = spec.eventSpanMs.toDouble / spec.events
    for (i <- 0 until spec.events) {
      val u = r.nextDouble()
      var d = java.util.Arrays.binarySearch(cdf, u)
      if (d < 0) d = -d - 1
      device(i) = math.min(d, spec.devices - 1)
      val nominal = t0 + (i * step).toLong
      ts(i) =
        if (r.nextDouble() < spec.outOfOrderShare) nominal - 1 - r.nextLong(spec.maxLateMs)
        else nominal
      val p = r.nextDouble()
      kind(i) =
        if (p < spec.poisonShare) (UnknownId + r.nextInt(3)).toByte
        else if (r.nextDouble() < spec.v1Share) V1
        else V2
    }
  }

  def valid(i: Int): Boolean = kind(i) == V1 || kind(i) == V2
  lazy val poisonCount: Long = (0 until spec.events).count(i => !valid(i)).toLong
  lazy val maxValidTs: Long = (0 until spec.events).filter(valid).map(ts).max

  private val fileStart = spec.fileSizes.scanLeft(0)(_ + _).toArray
  /** Files are contiguous runs of arrival order. */
  def fileRange(f: Int): Range = fileStart(f) until fileStart(f + 1)

  def reading(i: Int): WeatherReading = {
    val h = (i.toLong * 0x9E3779B97F4A7C15L) ^ seed
    def v(shift: Int, scale: Double, base: Double): Option[Double] = {
      val x = (h >>> shift) & 0x3ff
      if (x == 0) None else Some(base + x * scale)
    }
    WeatherReading(deviceName(device(i)), ts(i), v(0, 0.05, -20.0),
      v(10, 0.1, 0.0), v(20, 0.03, 0.0), v(30, 0.1, 950.0))
  }

  /** The envelope bytes of event i, through the program's public encoder. */
  def envelope(i: Int): Array[Byte] = {
    val r = reading(i)
    kind(i) match {
      case V1 => AvroEnvelope.encode(r, 1.toByte, AvroEnvelope.defaultRegistry)
      case V2 => AvroEnvelope.encode(r, 2.toByte, AvroEnvelope.defaultRegistry)
      case UnknownId =>
        AvroEnvelope.encode(r, 7, AvroEnvelope.v2SchemaJson, EnvelopeFormat.Magic1)
      case Alien => AvroEnvelope.encode(r, 9.toByte, AvroEnvelope.defaultRegistry)
      case _ => // cut inside the device id string: decoding must fail
        AvroEnvelope.encode(r, 2.toByte, AvroEnvelope.defaultRegistry).take(3)
    }
  }
}

/** The presence semantics of `graft.streaming.Presence`, computed in
  * plain Scala from the generated events: per device in event-time
  * order, ONLINE at the first event; a gap above the TTL emits OFFLINE at
  * last_seen + ttl and ONLINE at the next event; once the watermark
  * passes last_seen + ttl the trailing OFFLINE is emitted. */
object PresenceModel {
  type Row3 = (String, String, Long)

  /** Expected rows as a multiset, over the valid events in `events`,
    * with the stream's final watermark `finalWm`. */
  def expected(tr: Traffic, events: Iterable[Int], finalWm: Long): Map[Row3, Int] = {
    val ttl = tr.spec.ttlMs
    val keys = events.iterator.filter(tr.valid).map { i =>
      (tr.device(i).toLong << 40) | (tr.ts(i) - tr.t0 + (1L << 32))
    }.toArray
    java.util.Arrays.sort(keys)
    val out = mutable.HashMap.empty[Row3, Int]
    def emit(d: Int, s: String, t: Long): Unit = {
      val k = (tr.deviceName(d), s, t)
      out(k) = out.getOrElse(k, 0) + 1
    }
    var k = 0
    while (k < keys.length) {
      val d = (keys(k) >>> 40).toInt
      var prev = Long.MinValue
      while (k < keys.length && (keys(k) >>> 40).toInt == d) {
        val t = (keys(k) & ((1L << 40) - 1)) - (1L << 32) + tr.t0
        if (prev == Long.MinValue) emit(d, "online", t)
        else if (t - prev > ttl) { emit(d, "offline", prev + ttl); emit(d, "online", t) }
        prev = t
        k += 1
      }
      if (prev + ttl < finalWm) emit(d, "offline", prev + ttl)
    }
    out.toMap
  }

  /** (missing, extra) row counts of `actual` against `expected`. */
  def diff(expected: Map[Row3, Int], actual: Map[Row3, Int]): (Long, Long) = {
    var missing, extra = 0L
    expected.foreach { case (k, n) => missing += math.max(0, n - actual.getOrElse(k, 0)) }
    actual.foreach { case (k, n) => extra += math.max(0, n - expected.getOrElse(k, 0)) }
    (missing, extra)
  }
}
