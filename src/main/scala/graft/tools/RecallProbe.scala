package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{EngineSession, Tables}
import graft.operators.IvfIndex

/** recall@10 of every approximate similarity path vs its exact brute
  * force — the measurement behind the scattered spec floors, consolidated
  * (r11 verdict task 6) so index QUALITY gates like index performance:
  * the BASELINE.md recall table is generated by this probe, and
  * RecallLedgerSpec asserts the probe still reproduces the ledgered
  * values (embeddings, planes, and codebook seeds are all deterministic,
  * so recall is a fixed number per SF, not a distribution).
  *
  * Paths (one JSON line each):
  *  - ivf   — IvfIndex.search nlist=16/nprobe=8 vs Q-llm-03 exact cosine
  *  - lsh   — Q-llm-14 (4 tables × 6 bits, Hamming-1 multi-probe) vs Q-llm-03
  *  - pq    — Q-llm-37 (8×16 codebooks + ADC + re-rank) vs Q-llm-36 exact L2
  *  - int8  — Q-llm-15 (symmetric int8 + exact re-rank) vs Q-llm-03
  *
  * Usage: runMain graft.tools.RecallProbe [sfDir ...] (default sf0.1).
  */
object RecallProbe {

  private def topSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Pooled recall@10 per path. Deterministic per (path, sfDir). */
  def measure(spark: SparkSession, d: String): Map[String, Double] = {
    val exactCos = topSet(SparkEntry.queries("Q-llm-03")(spark, d))
    val exactL2 = topSet(SparkEntry.queries("Q-llm-36")(spark, d))
    val emb = Tables.embeddings(spark, d)
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val ivf = topSet(IvfIndex.search(emb, qs, "vec_id", "embedding",
        "query_id", "q_emb", nlist = 16, nprobe = 8, k = 10)
      .filter(col("vec_id") =!= col("query_id")))
    def recall(approx: Set[(Long, Long)], exact: Set[(Long, Long)]): Double =
      (exact & approx).size.toDouble / exact.size
    Map(
      "ivf" -> recall(ivf, exactCos),
      "lsh" -> recall(topSet(SparkEntry.queries("Q-llm-14")(spark, d)), exactCos),
      "pq" -> recall(topSet(SparkEntry.queries("Q-llm-37")(spark, d)), exactL2),
      "int8" -> recall(topSet(SparkEntry.queries("Q-llm-15")(spark, d)), exactCos))
  }

  def main(args: Array[String]): Unit = {
    val spark = EngineSession.getOrCreate("graft-recall-probe")
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    for (d <- dirs) {
      graft.functions.CosineSim.register(spark)
      val m = measure(spark, d)
      for ((path, r) <- m.toSeq.sortBy(_._1))
        println(f"""{"name":"recall","path":"$path","sf":"$d","recall_at_10":$r%.3f}""")
    }
    spark.stop()
  }
}
