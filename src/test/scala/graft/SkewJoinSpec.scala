package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EngineSession
import graft.operators.SaltedJoin

/** The skew-kill contract (SURVEY §9 / round-5 verdict item #3): under a
  * PLANTED power-law key (one key = 30% of rows) the two mitigation
  * paths both hold —
  *  - explicit salting (Q-join-20's plan) returns exactly the plain
  *    join's rows while spreading the hot key over `buckets` reducers;
  *  - AQE's runtime skew-join detects the hot partition and splits it
  *    (OptimizeSkewedJoin), visible as `skew=true` in the final plan.
  */
class SkewJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = EngineSession.getOrCreate("graft-test")

  // 400k fact rows, key 0 planted on 30%; 1k-key dim
  private def fact = spark.range(0, 400000).select(
    when(col("id") % 10 < 3, 0L).otherwise(col("id") % 1000).as("k"),
    col("id").as("v"))
  private def dim = spark.range(0, 1000)
    .select(col("id").as("k"), (col("id") * 2).as("w"))

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, o) =>
      o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("salted join == plain join under a 30%-hot key (row-level parity)") {
    val plain = fact.join(dim, Seq("k"), "inner")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("w").as("sw"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val salted = SaltedJoin.inner(fact, dim, "k", col("v"), buckets = 16)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("w").as("sw"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == plain)
    // the hot key is really planted: key 0 carries ~30% of the fact
    val hot = plain.find(_._1 == 0L).get._2
    assert(hot > 100000L, s"hot key carries $hot rows — fixture broken")
    // per-task balance of the join stage: the unsalted join strands the
    // hot key on one reducer, the salted one spreads it. AQE off, so
    // coalescing cannot fold idle reducers and hide the imbalance
    JobCount.pinned(spark, aqe = false, partitions = 32,
        Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      def balance(j: DataFrame) = JobCount.counters(spark.sparkContext,
        "join balance")(j.write.format("noop").mode("overwrite").save())
      val unsalted = balance(fact.join(dim, Seq("k"), "inner"))
      val salted = balance(SaltedJoin.inner(fact, dim, "k", col("v"), buckets = 16))
      val (u, s) = (unsalted.readSkew, salted.readSkew)
      info(f"max/mean shuffle-read records per task: unsalted $u%.2f, salted $s%.2f")
      assert(u > 8.0 && s < 4.0, s"unsalted $u, salted $s")
    }
  }

  test("AQE skew-join splits the hot partition (skew=true in final plan)") {
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // the hot partition is ~2 MB at this row count; lower the skew
      // thresholds so the runtime split triggers at test scale (on a
      // real cluster the 256 MB default plays the same role)
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "131072",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = fact.join(dim.hint("MERGE"), Seq("k"), "inner")
      // collect() executes THIS queryExecution (count() would build a new
      // one and leave j's adaptive plan unfinalised)
      val n = j.collect().length
      assert(n == 400000) // every fact row matches exactly one dim row
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the hot partition:\n${plan.take(2000)}")
    }
  }
}
