package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}

/** Per-device presence detection — the reference's eponymous purpose
  * (`WeatherProcessingJob.java:93` `getDronePresenceProducer`, sink topic
  * `WeatherPresenceEvent` at `:87`): derive online/offline transition events
  * from a keyed telemetry stream with a TTL.
  *
  * Semantics: a device is ONLINE from its first event; if the gap to the
  * next event exceeds `ttlMillis`, it went OFFLINE at `last_seen + ttl` and
  * comes ONLINE again at the next event. Only data-derived transitions are
  * emitted (the trailing timeout needs a later watermark advance to be
  * observable — deterministic replay keeps to what the data proves).
  *
  * Scale: state is ONE long per device (last-seen), evicted by event-time
  * timeout on a cluster run; a flooding device costs O(its events in the
  * batch) sorted in memory — bounded by micro-batch size, spillable via
  * maxFilesPerTrigger/maxOffsetsPerTrigger admission control.
  */
object Presence {

  case class DeviceEvent(device_id: String, ts_ms: Long)
  case class PresenceEvent(device_id: String, state: String, ts_ms: Long)
  case class DeviceState(lastSeenMs: Long)

  def transitions(ttlMillis: Long)(
      deviceId: String,
      events: Iterator[DeviceEvent],
      state: GroupState[DeviceState]): Iterator[PresenceEvent] = {
    val seen = state.getOption.map(_.lastSeenMs)
    val (out, moved) = step(deviceId, events, seen, ttlMillis)
    moved.foreach(l => state.update(DeviceState(l)))
    out
  }

  /** The state machine all three operators share: walks one key's batch
    * in event-time order from the stored last-seen and returns the
    * transitions and the new last-seen if it moved.
    * Last-seen never moves backwards: an event older than it, arriving
    * in a later micro-batch, neither emits nor rewinds it (a rewind
    * would make the next event look like a gap past the TTL). */
  private def step(key: String, events: Iterator[DeviceEvent], seen: Option[Long],
                   ttlMillis: Long): (Iterator[PresenceEvent], Option[Long]) = {
    // micro-batch rows arrive unsorted: order by event time within the batch
    val sorted = events.toSeq.sortBy(_.ts_ms)
    if (sorted.isEmpty) return (Iterator.empty, None)
    val out = Seq.newBuilder[PresenceEvent]
    var last = seen
    for (e <- sorted) {
      last match {
        case None =>
          out += PresenceEvent(key, "online", e.ts_ms)
        case Some(prev) if e.ts_ms - prev > ttlMillis =>
          out += PresenceEvent(key, "offline", prev + ttlMillis)
          out += PresenceEvent(key, "online", e.ts_ms)
        case _ => () // still online
      }
      last = Some(last.fold(e.ts_ms)(math.max(_, e.ts_ms)))
    }
    (out.result().iterator, last.filterNot(seen.contains))
  }

  /** One state lookup: `ValueState.exists()` is itself a `get()`, and a
    * missing `Long` reads back as a null box. */
  private def read(s: ValueState[Long]): Option[Long] =
    Option(s.asInstanceOf[ValueState[java.lang.Long]].get()).map(_.longValue)

  /** Wire the stateful operator over a (device_id, ts) stream. */
  def detect(spark: SparkSession, events: DataFrame, ttlMillis: Long): Dataset[PresenceEvent] = {
    import spark.implicits._
    events
      .select(col("device_id"), col("ts_ms"))
      .as[DeviceEvent]
      .groupByKey(_.device_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(transitions(ttlMillis))
  }

  /** Same state machine on Spark 4's arbitrary-state v2 API
    * (`transformWithState` + typed `ValueState`). Requires the RocksDB
    * state store provider; equivalence with [[detect]] is asserted in
    * StreamingSpec. The v2 API is where per-key TTL (`TTLConfig`) and
    * event-time timers live — the scale path for fleet-sized state. */
  class PresenceProcessor(ttlMillis: Long)
      extends StatefulProcessor[String, DeviceEvent, PresenceEvent] {
    @transient private var lastSeen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastSeen = getHandle.getValueState[Long](
        "lastSeen", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: String, rows: Iterator[DeviceEvent],
        tv: TimerValues): Iterator[PresenceEvent] = {
      val seen = read(lastSeen)
      val (out, moved) = step(key, rows, seen, ttlMillis)
      moved.foreach(lastSeen.update)
      out
    }
  }

  /** [[PresenceProcessor]] with EVENT-TIME state eviction — the piece
    * that makes fleet-scale presence state BOUNDED by the open (recently
    * seen) key set instead of every device ever seen: each event (re)arms
    * a timer at last_seen + ttl; when the watermark passes it, the
    * trailing OFFLINE transition (the one [[detect]] can only emit on the
    * device's next event) is emitted and the device's state row is
    * CLEARED. A device reappearing later is a fresh key (online again).
    * Stale timers (device seen again before expiry) are guarded by
    * comparing the firing timer against the current last-seen. State ≈
    * |devices active within one TTL of the watermark| — asserted at 5M
    * planted devices in PresenceScaleSpec. */
  class PresenceEvictProcessor(ttlMillis: Long)
      extends StatefulProcessor[String, DeviceEvent, PresenceEvent] {
    @transient private var lastSeen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastSeen = getHandle.getValueState[Long](
        "lastSeen", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: String, rows: Iterator[DeviceEvent],
        tv: TimerValues): Iterator[PresenceEvent] = {
      val seen = read(lastSeen)
      val (out, moved) = step(key, rows, seen, ttlMillis)
      // the armed timer is always a pure function of state (lastSeen +
      // ttl), so re-arming can DELETE the superseded timer without a
      // second state variable — a chatty device would otherwise
      // accumulate one stale timer per batch it appears in (each a
      // guarded no-op, but timer state and expired-timer work growing
      // without bound at fleet scale)
      moved.foreach { l =>
        lastSeen.update(l)
        seen.foreach(s => getHandle.deleteTimer(s + ttlMillis))
        getHandle.registerTimer(l + ttlMillis)
      }
      out
    }

    override def handleExpiredTimer(
        key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[PresenceEvent] = {
      // re-arming deletes the superseded timer, so a firing timer is the
      // latest one; the guard stays as defense against a delete racing a
      // same-batch fire
      read(lastSeen) match {
        case Some(seen) if info.getExpiryTimeInMs() >= seen + ttlMillis =>
          lastSeen.clear()
          Iterator.single(PresenceEvent(key, "offline", seen + ttlMillis))
        case _ => Iterator.empty
      }
    }
  }

  /** [[detectTws]] with event-time TTL eviction: requires a watermark on
    * the stream's `ts` column (event-time timers fire off it). */
  def detectEvict(spark: SparkSession, events: DataFrame,
                  ttlMillis: Long): Dataset[PresenceEvent] = {
    import spark.implicits._
    events
      .select(col("device_id"), col("ts_ms"),
        timestamp_millis(col("ts_ms")).as("ts"))
      .withWatermark("ts", "0 milliseconds")
      .as[DeviceEvent]
      .groupByKey(_.device_id)
      .transformWithState(new PresenceEvictProcessor(ttlMillis),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** [[detect]] on the v2 state API. */
  def detectTws(spark: SparkSession, events: DataFrame, ttlMillis: Long): Dataset[PresenceEvent] = {
    import spark.implicits._
    events
      .select(col("device_id"), col("ts_ms"))
      .as[DeviceEvent]
      .groupByKey(_.device_id)
      .transformWithState(new PresenceProcessor(ttlMillis),
        TimeMode.None(), OutputMode.Append())
  }
}
