package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Per-device presence detection — the reference's eponymous purpose
  * (`WeatherProcessingJob.java:93` `getDronePresenceProducer`, sink topic
  * `WeatherPresenceEvent` at `:87`): derive online/offline transition events
  * from a keyed telemetry stream with a TTL.
  *
  * Semantics: a device is ONLINE from its first event; if the gap to the
  * next event exceeds `ttlMillis`, it went OFFLINE at `last_seen + ttl` and
  * comes ONLINE again at the next event. [[detect]] and [[detectTws]] emit
  * only data-derived transitions; [[detectEvict]] (the production plan)
  * also emits the trailing OFFLINE once the watermark proves it.
  *
  * Scale: state is ONE long per device (last-seen); [[detectEvict]] evicts
  * it by event-time timeout. A flooding device costs O(its events in the
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
    * StreamingSpec. */
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

  /** [[transitions]] with EVENT-TIME state eviction, which bounds
    * presence state by the open (recently seen) key set instead of every
    * device ever seen. Each data call re-arms the group's event-time
    * timeout; when the watermark passes last_seen + ttl, the trailing
    * OFFLINE (the one [[detect]] can only emit on the device's next
    * event) is emitted and the state row is removed. A device reappearing
    * later is a fresh key (online again).
    *
    * The timeout lives in the state row itself: one state lookup per
    * device per batch and no separate timer store. Spark fires a timeout
    * when it is strictly below the watermark, so arming it at
    * last_seen + ttl - 1 fires exactly when last_seen + ttl <= watermark. */
  private def evicting(ttlMillis: Long)(
      deviceId: String,
      events: Iterator[DeviceEvent],
      state: GroupState[DeviceState]): Iterator[PresenceEvent] =
    if (state.hasTimedOut) {
      val seen = state.get.lastSeenMs
      state.remove()
      Iterator.single(PresenceEvent(deviceId, "offline", seen + ttlMillis))
    } else {
      val out = transitions(ttlMillis)(deviceId, events, state)
      // Spark unsets the timeout on every call: re-arm it even when
      // last-seen did not move
      state.setTimeoutTimestamp(state.get.lastSeenMs + ttlMillis - 1)
      out
    }

  /** [[detect]] with event-time eviction ([[evicting]]). Runs on any state
    * store provider. The watermark on the stream's `ts` column drives the
    * timeouts and drops rows at or below it. */
  def detectEvict(spark: SparkSession, events: DataFrame,
                  ttlMillis: Long): Dataset[PresenceEvent] = {
    import spark.implicits._
    events
      .select(col("device_id"), col("ts_ms"),
        timestamp_millis(col("ts_ms")).as("ts"))
      .withWatermark("ts", "0 milliseconds")
      .as[DeviceEvent]
      .groupByKey(_.device_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(evicting(ttlMillis))
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
