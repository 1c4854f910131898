package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.SparkEntry
import graft.core.EngineSession

/** Dev tool: per-query shuffle-volume accounting — the quantitative side
  * of the "minimize shuffles" design rule (SURVEY §9). For each batch
  * headline query it reports input bytes read vs shuffle bytes/records
  * written; a well-shaped plan shows shuffle volume bounded by GROUP/JOIN
  * cardinality, not input size (partial aggregation, broadcast dims,
  * pre-shuffle runtime filters). Ledger: BASELINE.md.
  */
object ShuffleCheck {

  private val batchHeadline = Seq(
    "Q-agg-01", "Q-agg-02", "Q-join-01", "Q-join-07", "Q-join-13",
    "Q-win-03", "Q-sort-02", "Q-llm-01", "Q-llm-02", "Q-llm-17",
    "Q-llm-19", "Q-llm-20", "Q-llm-21", "Q-sql-01", "Q-sub-03",
    "Q-evt-01", "Q-join-20", "Q-llm-23", "Q-llm-24", "Q-sql-09",
    "Q-llm-26", "Q-llm-27", "Q-llm-28", "Q-llm-30", "Q-agg-16", "Q-join-17",
    "Q-llm-32", "Q-llm-33", "Q-qual-05", "Q-sql-16",
    "Q-llm-38", "Q-qual-06", "Q-mm-07", "Q-mm-08", "Q-mm-09", "Q-qual-08",
    "Q-llm-40", "Q-graph-01", "Q-llm-41", "Q-llm-42", "Q-qual-09",
    "Q-llm-43", "Q-llm-44", "Q-llm-45", "Q-llm-46", "Q-llm-47",
    "Q-llm-48", "Q-graph-02", "Q-graph-03", "Q-graph-04", "Q-qual-10",
    "Q-qual-11", "Q-llm-49", "Q-graph-05", "Q-evt-09", "Q-mm-10",
    "Q-llm-50", "Q-sql-26", "Q-graph-06", "Q-join-19", "Q-qual-12",
    "Q-llm-51", "Q-qual-13", "Q-qual-14", "Q-llm-52",
    "Q-qual-15", "Q-qual-16", "Q-qual-17", "Q-scan-19", "Q-qual-18",
    "Q-llm-53", "Q-evt-10", "Q-qual-19", "Q-qual-20",
    "Q-llm-54", "Q-sql-27", "Q-qual-21", "Q-qual-22", "Q-qual-23",
    "Q-qual-24", "Q-str-27", "Q-qual-25", "Q-qual-26", "Q-llm-58",
    "Q-qual-27", "Q-qual-28", "Q-qual-29", "Q-qual-30", "Q-graph-07",
    "Q-graph-08", "Q-graph-09", "Q-str-29",
    "Q-scan-21", "Q-qual-31", "Q-qual-32", "Q-qual-33", "Q-llm-59", "Q-scan-22",
    "Q-llm-63", "Q-llm-64", "Q-llm-65", "Q-llm-66", "Q-llm-67", "Q-mm-13",
    "Q-mm-14")

  def main(args: Array[String]): Unit = {
    val s = EngineSession.getOrCreate("shuffle-check")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev knob (same as Bench): SPARK_GRAFT_ONLY="Q-a,Q-b" restricts the run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    println(f"${"query"}%-12s ${"input MB"}%10s ${"shuffle MB"}%11s ${"shuffle rows"}%13s")
    for (name <- batchHeadline if only.forall(_(name))) {
      val input = new AtomicLong; val sw = new AtomicLong; val srec = new AtomicLong
      val listener = new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val m = e.stageInfo.taskMetrics
          if (m != null) {
            input.addAndGet(m.inputMetrics.bytesRead)
            sw.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            srec.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          }
        }
      }
      s.sparkContext.addSparkListener(listener)
      try {
        // Q-join-13's bloom filter only injects when the dim CANNOT
        // broadcast (InjectRuntimeFilter assumes a broadcastable creation
        // side means a broadcast join, even against a SHUFFLE_MERGE hint);
        // measure it in the cluster shape the query is about
        val broadcastOff = name == "Q-join-13"
        val key = "spark.sql.autoBroadcastJoinThreshold"
        val prevB = s.conf.getOption(key)
        if (broadcastOff) s.conf.set(key, "-1")
        try SparkEntry.queries(name)(s, sf)
          .write.format("noop").mode("overwrite").save()
        finally if (broadcastOff) prevB.fold(s.conf.unset(key))(s.conf.set(key, _))
        // stage-completed events are posted asynchronously
        org.apache.spark.sql.graft.Bridge.drainListenerBus(s.sparkContext)
      } finally s.sparkContext.removeSparkListener(listener)
      s.catalog.clearCache()
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      println(f"$name%-12s ${input.get / 1e6}%10.2f ${sw.get / 1e6}%11.3f ${srec.get}%13d")
    }
    s.stop()
  }
}
