package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The repo's ADVERSARIAL SKEW generators, unified (round-9 verdict #7):
  * every scale claim needs a fixture whose key distribution actually
  * breaks naive plans, and new operators should get those shapes for
  * free instead of re-inventing them per spec. All generators are pure
  * functions of (spark, scale) — deterministic, partition-independent,
  * oracle-replayable.
  *
  *  - [[powerLawEdges]]: Zipf-degree graph + celebrity clique
  *    (Q-graph-11/12, TriangleCount's hub-split evidence)
  *  - [[zipfKeyed]]: 40%-hot-key row set (TxTable merge/MoR skew specs,
  *    AQE skew-join pins)
  *  - [[megaDupVariants]]: the boilerplate mega-cluster — k near-identical
  *    variants of one document (Q-llm-63, BucketJoin's star/chunk armor)
  */
object SkewFixtures {

  /** Synthetic POWER-LAW graph (undirected edge list (a, b), no dups):
    *  - hubs: hub h has ⌊dmax/(h+1)⌋ spoke edges (400·m hubs, 2000·m max
    *    target at m=1), the classic power-law profile;
    *  - shared spokes: spoke ids stride a prime ring (20011·m, step 13)
    *    offset per hub, so hubs overlap on spokes and hub–spoke–hub
    *    wedges exist;
    *  - a celebrity clique over the top ⌊120·∛m⌋ hubs — the adversary
    *    for oriented triangle counting: its lowest-ordered member keeps
    *    outdeg ≈ clique size AFTER orientation, so the u-keyed wedge
    *    join emits k² rows from one key unless hubs are split
    *    ([[graft.operators.TriangleCount]]'s cap/chunk re-key).
    *
    * Scale m multiplies hubs/degrees/spokes (edges ≈ linear in m, the
    * clique grows ∛m so its wedge output also grows ~m). */
  def powerLawEdges(s: SparkSession, m: Int): DataFrame = {
    val hubs = 400L * m; val dmax = 2000L * m
    val spokes = 20011L * m; val soff = 1000000L
    val t = (120.0 * math.cbrt(m.toDouble)).round
    val hubSpoke = s.range(hubs)
      .select(col("id").as("h"),
        explode(sequence(lit(0L),
          expr(s"$dmax div (id + 1)") - 1)).as("j"))
      .select(col("h").as("a"),
        (lit(soff) + (col("h") * 37 + col("j") * 13) % spokes).as("b"))
    val tops = s.range(t)
    val clique = tops.as("x").join(tops.as("y"),
        col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
    hubSpoke.unionAll(clique)
  }

  /** Zipf-keyed rows (k, v): key 0 carries 40% of the rows (ids with
    * id % 5 < 2), every other key j ∈ [1, keys) holds the ids ≡ j mod
    * keys whose id % 5 ≥ 2 — the hot-key shape the TxTable merge/MoR
    * specs pin AQE skew-splitting on. */
  def zipfKeyed(s: SparkSession, rows: Long = 600000L,
                keys: Long = 50000L): DataFrame =
    s.range(rows).select(
      when(col("id") % 5 < 2, 0L).otherwise(col("id") % keys).as("k"),
      concat(lit("base-"), col("id")).as("v"))

  /** The BOILERPLATE MEGA-CLUSTER: k near-identical variants of a single
    * base document (three appended words each, so pairwise 3-shingle
    * Jaccard ≈ n/(n+4) ≈ 1 and all variants share LSH band buckets) —
    * the 10⁴–10⁶× duplicated page shape real web corpora have and
    * uniform synthetic documents never produce. `base` must be a single
    * (doc_id, text) row; variants get ids idOffset..idOffset+k-1. */
  def megaDupVariants(base: DataFrame, k: Long,
                      idOffset: Long = 9000000L): DataFrame =
    base
      .select(explode(sequence(lit(0L), lit(k - 1))).as("i"), col("text"))
      .select((lit(idOffset) + col("i")).as("doc_id"),
        concat(col("text"), lit(" megadup variant "),
          col("i").cast("string")).as("text"))

  /** Synthetic unique-text corpus for the dedup scale specs: `n`
    * documents of 24 distinct words each (no cross-doc shingle
    * collisions), ids 0..n-1. Union with [[megaDupVariants]] of row 0
    * for the planted cluster. */
  def uniqueDocs(s: SparkSession, n: Long): DataFrame =
    s.range(n).select(col("id").as("doc_id"),
      expr("array_join(transform(sequence(0, 23), " +
        "j -> concat('w', id, 'x', j)), ' ')").as("text"))
}
