package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{EngineSession, Tables}

/** Pins the two testdata-domain assumptions round-11 ADVICE named, so a
  * future driver-side testdata regeneration cannot silently turn either
  * into a hash mismatch:
  *
  *  1. EVICT BOUNDARY (Q-str-29/30): the evict oracle emits the trailing
  *     offline on the INCLUSIVE boundary (last_ms + TTL <= max_ms), while
  *     an engine-side event-time timer firing at EXACT watermark equality
  *     is a Spark-version-dependent strict/non-strict detail. The two
  *     renderings agree as long as no device's last event sits exactly
  *     one TTL before the global max event time — asserted here per SF.
  *
  *  2. VARIANT-ID OFFSET (Q-mm-13): the planted-drift variants use
  *     doc_id + 7,000,000 (and LlmOpsSpec's index-batch fixture 8,000,000),
  *     assuming the doc_id domain stays far below 7M. Oracle parity
  *     would survive a collision (both sides mirror the arithmetic) but
  *     cluster semantics would quietly degrade — asserted here per SF.
  *     (Q-mm-14 derives its offset from max(doc_id)+1 instead.)
  */
class TestDataDomainSpec extends AnyFunSuite {

  lazy val spark: SparkSession = EngineSession.getOrCreate("graft-test")

  private val ttlMs = 3600000L // Presence/evict TTL (1 h), Q-str-05/29/30

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
    val dir = s"/root/testdata/$sf"

    test(s"$sf: no device's last event sits exactly one TTL before the " +
        "global max event time (evict-boundary ambiguity is vacuous)") {
      val e = Tables.events(spark, dir)
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"))
      val collisions = e.groupBy("user_id").agg(max("ts_ms").as("last_ms"))
        .crossJoin(e.agg(max("ts_ms").as("max_ms")))
        .filter(col("last_ms") + ttlMs === col("max_ms"))
        .count()
      assert(collisions == 0L,
        s"$collisions device(s) collide with the evict boundary: the " +
          "inclusive-vs-strict timer detail is no longer unobservable")
    }

    test(s"$sf: doc_id domain stays far below the Q-mm-13 fixed variant " +
        "offset (7,000,000)") {
      val maxId = Tables.documents(spark, dir)
        .agg(max("doc_id")).head.getLong(0)
      assert(maxId < 3500000L, // 2*offsetable headroom: base + drift ids
        s"max(doc_id) = $maxId approaches the fixed 7M variant offset; " +
          "switch Q-mm-13 to Q-mm-14's data-derived offset")
    }
  }
}
