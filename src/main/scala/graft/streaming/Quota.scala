package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-key ADMISSION QUOTA over an event stream — rate limiting as a
  * dataflow operator: at most `quota` events per (user, 10 s tumbling
  * window) are admitted, in strict (event time, event_id) order; the
  * rest drop. The ingestion-protection primitive (per-tenant caps,
  * abuse throttling, training-stream subsampling) expressed as
  * arbitrary state.
  *
  * Semantics are DETERMINISTIC under chunked arrival: micro-batch
  * iterators are unordered, so each batch's group is sorted by
  * (ts, event_id) before drawing from the remaining quota; because the
  * replay feeds time-ordered chunks, cross-batch arrival respects the
  * same total order and the admitted set equals the batch-mode
  * "row_number() <= quota" rendering — which is what the DuckDB oracle
  * checks (Q-str-26).
  *
  * Scale posture: state is ONE integer per open (user, window) key, and
  * an event-time timeout removes it once the watermark passes the
  * window end + the out-of-orderness bound — bounded state on an
  * unbounded stream, the same contract the windowed aggregates obey.
  *
  * Not on the v2 API (`transformWithState`): this operator is the case
  * the old API already serves — one state variable, one timeout that
  * `GroupStateTimeout.EventTimeTimeout` expresses directly, no
  * cross-variable state and no timer-vs-data races. The v2 API buys
  * per-variable TTLConfig and multiple typed variables; here it would
  * change no semantics, add the RocksDB-provider requirement, and pay
  * its separate timer store (Presence.detectEvict left it for the same
  * form as this operator; see the PresenceScaleSpec A/B). Revisit if
  * quota ever needs a second state variable (e.g. a token-bucket refill
  * timestamp).
  */
object Quota {

  /** One event in the quota stream; `ws_sec` is the 10 s tumbling window
    * start in epoch seconds (the key's time component). `ts` stays a
    * timestamp so the watermark survives into the typed Dataset (the
    * event-time timeout requires a watermarked column). */
  case class QuotaEvent(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, value: Double, ws_sec: Long)

  /** Stateful admission for one (user_id, ws_sec) group and one batch. */
  def admit(quota: Int, windowSec: Long, wmMs: Long)(
      key: (Long, Long),
      events: Iterator[QuotaEvent],
      state: GroupState[Int]): Iterator[QuotaEvent] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    if (sorted.isEmpty) return Iterator.empty
    val sofar = state.getOption.getOrElse(0)
    val take = sorted.take(math.max(0, quota - sofar))
    state.update(sofar + take.size)
    // the counter dies once the watermark passes window end + slack:
    // chunked arrival is time-ordered, so this timestamp is always
    // ahead of the watermark the batch opened with
    state.setTimeoutTimestamp((key._2 + windowSec) * 1000L + wmMs)
    take.iterator
  }

  /** Wire the quota over an event stream (needs `user_id`, `event_id`,
    * `ts`, `value` columns); the watermark is (re)applied AFTER the
    * projection so it rides the exact column the timeout reads. */
  def apply(spark: SparkSession, events: DataFrame, quota: Int,
            windowSec: Long = 10L, wmMs: Long = 3500L): Dataset[QuotaEvent] = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        (floor(unix_timestamp(col("ts")) / windowSec) * windowSec)
          .cast("long").as("ws_sec"))
      .withWatermark("ts", s"$wmMs milliseconds")
      .as[QuotaEvent]
      .groupByKey(e => (e.user_id, e.ws_sec))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(admit(quota, windowSec, wmMs))
  }
}
