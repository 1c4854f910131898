package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{EngineSession, Tables}

/** Dev tool: PER-TASK shuffle-read balance of the salted skew join
  * (Q-join-20's plan) vs its unsalted twin over the same planted
  * power-law key (one key = ~30% of fact rows). The number that matters
  * at 100 TB is max/mean shuffle-read rows across the join stage's
  * tasks: the unsalted join strands the hot key on ONE reducer
  * (max/mean ≈ nPartitions x 0.3), the salted join spreads it across
  * `buckets` reducers. Ledger: BASELINE.md (Q-join-20 row).
  */
object SkewBalance {

  def main(args: Array[String]): Unit = {
    val s = EngineSession.getOrCreate("graft-skew-balance")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def fact: DataFrame = Tables.lineitem(s, sf).select(
      when(pmod(col("l_partkey"), lit(10)) < 3, lit(1L))
        .otherwise(col("l_partkey")).cast("long").as("k"),
      col("l_orderkey"), col("l_extendedprice"))
    def dim: DataFrame = Tables.part(s, sf)
      .select(col("p_partkey").cast("long").as("k"), col("p_brand"))

    def agg(j: DataFrame): DataFrame = j.groupBy("p_brand")
      .agg(count(lit(1)).as("n"))

    // per-task shuffle-read records, all stages that actually read
    def measure(label: String)(df: => DataFrame): Unit = {
      val reads = ArrayBuffer.empty[Long]
      val listener = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null && m.shuffleReadMetrics.recordsRead > 0)
            reads.synchronized { reads += m.shuffleReadMetrics.recordsRead }
        }
      }
      s.sparkContext.addSparkListener(listener)
      try {
        df.write.format("noop").mode("overwrite").save()
        org.apache.spark.sql.graft.Bridge.drainListenerBus(s.sparkContext)
      } finally s.sparkContext.removeSparkListener(listener)
      val r = reads.synchronized(reads.toSeq).sorted
      val (mx, mean) = (r.last, r.sum.toDouble / r.size)
      println(f"[skew] $label%-10s tasks=${r.size}%4d " +
        f"max=$mx%9d mean=$mean%12.1f max/mean=${mx / mean}%6.2f")
    }

    // AQE coalescing folds the idle reducers into few tasks and hides
    // the imbalance ratio; fixed partitions show the true per-reducer
    // spread both plans would have on a static 100 TB cluster
    s.conf.set("spark.sql.adaptive.enabled", "false")
    measure("unsalted") {
      agg(fact.join(dim.hint("SHUFFLE_HASH"), Seq("k"), "inner"))
    }
    measure("salted") {
      agg(graft.operators.SaltedJoin.inner(
        fact, dim.hint("SHUFFLE_HASH"), key = "k",
        probeSaltExpr = col("l_orderkey"), buckets = 16))
    }
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.stop()
  }
}
