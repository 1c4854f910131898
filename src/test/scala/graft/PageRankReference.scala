package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.queries.Portable

/** The DataFrame form of [[graft.operators.PageRank]]: a per-round join of
  * ranks to the edges, a `Portable.dsum` aggregate by destination and a
  * `localCheckpoint`, about five Spark jobs a round. It is the operator's
  * bit-exact reference in PageRankSpec: the same op sequence as the
  * unrolled SQL oracle, written with the DataFrame operators the oracle
  * mirrors, so it checks the operator's hand-written decimal algebra
  * against Spark's own casts and sums. */
object PageRankReference {

  def run(edges: DataFrame, iterations: Int): DataFrame = {
    // materialize the caller's edge pipeline ONCE: deg and the attach
    // join below both scan `edges` (and callers pass a union of two
    // selects over a join+distinct), so without this the most expensive
    // pre-loop stage runs ~4x before the persisted e exists
    val ed = edges.localCheckpoint()
    val deg = ed.groupBy("src")
      .agg(count(lit(1)).cast("double").as("outdeg"))
    val e = ed.join(deg, "src")
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var ranks = nodes.withColumn("rank", lit(1.0))
    var prev: Option[DataFrame] = None
    for (_ <- 1 to iterations) {
      // the quotient is floor-rounded to 9 decimals BEFORE the decimal
      // sum: power-of-two out-degrees put rank/outdeg exactly on the
      // decimal(30,10) half-quantum, where engines' cast rounding modes
      // (HALF_UP vs HALF_EVEN) legitimately disagree — a 9-decimal value
      // casts exactly, so no engine ever rounds
      val contrib = e.join(ranks, e("src") === ranks("id"))
        .select(col("dst"),
          Portable.r(col("rank") / col("outdeg"), 9).as("c"))
        .groupBy("dst")
        .agg(Portable.dsum(col("c")).as("c"))
      // localCheckpoint (eager) both materializes the round AND truncates
      // the logical plan — with persist alone Catalyst re-analyzes an
      // ever-deepening plan each round, which turns quadratic past ~10
      // iterations. (A multi-executor deployment with executor loss
      // concerns would use reliable checkpoint() to a checkpoint dir
      // instead; same lineage-truncation shape.)
      val next = nodes.join(contrib, nodes("id") === contrib("dst"), "left")
        .select(col("id"),
          (lit(0.15) + lit(0.85) * coalesce(col("c"), lit(0.0))).as("rank"))
        .localCheckpoint(true)
      prev.foreach(_.unpersist())
      prev = Some(next)
      ranks = next
    }
    e.unpersist()
    nodes.unpersist()
    ranks
  }

  /** PERSONALIZED PageRank: identical iteration shape, but teleport mass
    * lands only on the seed set (`seeds`: a 1-column `id` DataFrame) —
    * rank = 0.15·isSeed + 0.85·Σ in-contributions, started from the seed
    * indicator. Same two bounded exchanges per round, same decimal
    * portability; the seed flag joins once into the node table (a
    * broadcast at typical seed-set sizes) and rides every round as a
    * column, never re-joined. */
  def runPersonalized(edges: DataFrame, iterations: Int,
                      seeds: DataFrame): DataFrame = {
    // same one-shot edge materialization as run()
    val ed = edges.localCheckpoint()
    val deg = ed.groupBy("src")
      .agg(count(lit(1)).cast("double").as("outdeg"))
    val e = ed.join(deg, "src")
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("id")).distinct()
      .join(broadcast(seeds.select(col("id").as("sid"), lit(1.0).as("t"))),
        col("id") === col("sid"), "left")
      .select(col("id"), coalesce(col("t"), lit(0.0)).as("t"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var ranks = nodes.select(col("id"), col("t").as("rank"))
    var prev: Option[DataFrame] = None
    for (_ <- 1 to iterations) {
      val contrib = e.join(ranks, e("src") === ranks("id"))
        .select(col("dst"),
          Portable.r(col("rank") / col("outdeg"), 9).as("c"))
        .groupBy("dst")
        .agg(Portable.dsum(col("c")).as("c"))
      val next = nodes.join(contrib, nodes("id") === contrib("dst"), "left")
        .select(col("id"),
          (lit(0.15) * col("t") +
            lit(0.85) * coalesce(col("c"), lit(0.0))).as("rank"))
        .localCheckpoint(true)
      prev.foreach(_.unpersist())
      prev = Some(next)
      ranks = next
    }
    e.unpersist()
    nodes.unpersist()
    ranks
  }
}
