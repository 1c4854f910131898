package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact triangle counting with DEGREE ORIENTATION plus HUB SPLITTING —
  * the skew armor the power-law fixture (Q-graph-11) exists to prove.
  *
  * Degree orientation (direct every edge from its lower-(deg,id)
  * endpoint to the higher) bounds ANY vertex's out-degree by O(√m), so
  * the wedge self-join costs Σ outdeg² ≤ O(m^1.5) total — but that
  * bound says nothing about PER-KEY balance: a "celebrity clique" of k
  * similar-degree vertices leaves its lowest-ordered member with
  * outdeg ≈ k, and the u-keyed wedge join then emits k² rows from ONE
  * join key — one straggler task at 100 TB no matter how many
  * executors exist (AQE can split a skewed partition, but a sort-merge
  * group for a single key is still consumed by one task per split of
  * the OTHER side only).
  *
  * The standard mitigation is high-degree VERTEX SPLITTING: number
  * each u's out-edges 0..d-1 (by the same ordv total order the wedge
  * condition uses), cut them into ⌈d/cap⌉ chunks, and re-key the
  * self-join by (u, leftChunk, rightChunk) — the lower wedge edge
  * replicates to its chunk-pairs upward, the higher edge downward, so
  * every join key now emits ≤ cap² rows and a mega-hub's k² wedges
  * spread over (k/cap)² keys. Replication overhead is Σ outdeg·⌈d/cap⌉
  * ≈ (Σ outdeg²)/cap — 1/cap of the wedge output itself, i.e. strictly
  * cheaper than the rows it load-balances. Result is EXACTLY the
  * unsplit wedge set (chunk pairs partition the idx₁<idx₂ pairs), so
  * the count stays oracle-exact — unlike sampling (DOULION,
  * Q-graph-08), this is the 100 TB path that keeps exactness.
  *
  * Input: undirected edges (a, b), one row per edge, a ≠ b, no
  * duplicates in either direction. The dedup-free contract is
  * LOAD-BEARING for the single-pass count below: the closing-edge
  * attach is a LEFT join whose multiplicity must be exactly 1 — a
  * duplicated input edge inflates n_triangles (and n_wedges), where the
  * older two-pass left_semi form was immune to right-side multiplicity.
  * Callers must dedup first (Q-graph-02 does `.distinct()`; the
  * power-law fixture is dup-free by construction). Output: one row
  * (n_nodes, n_edges, n_wedges, n_triangles, max_deg, max_outdeg).
  */
object TriangleCount {

  /** @param edges undirected edges (a, b), a ≠ b, each at most once in
    *              either direction: a duplicated edge inflates n_triangles
    *              and n_wedges (dedup first, as Q-graph-02 does)
    * @param cap max out-edges per wedge-join chunk (per-key work ≤ cap²) */
  def run(edges: DataFrame, cap: Int = 64): DataFrame = {
    // checkpoint the edge list: it feeds the degree table, the
    // orientation join, and the n_edges aggregate — without it each
    // consumer re-evaluates the caller's whole edge pipeline (e.g. a
    // fixture generator or an LSH candidate DAG)
    val pairs = edges.select(col("a"), col("b")).localCheckpoint()
    // total degrees → packed (deg, id) total order (exact while id < 1e8)
    val deg = pairs.select(col("a").as("v"))
      .unionAll(pairs.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .select(col("v"), col("deg"),
        (col("deg") * lit(100000000L) + col("v")).as("ord"))
    // the oriented edge set feeds the chunk numbering AND the
    // closing-edge attach — materialize it once
    val o = pairs
      .join(deg.select(col("v").as("a"), col("ord").as("ord_a")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("ord").as("ord_b")), Seq("b"))
      .select(
        when(col("ord_a") < col("ord_b"), col("a")).otherwise(col("b")).as("u"),
        when(col("ord_a") < col("ord_b"), col("b")).otherwise(col("a")).as("v"),
        greatest(col("ord_a"), col("ord_b")).as("ordv"))
      .localCheckpoint()
    // number u's out-edges in ordv order; chunk = idx / cap. BOTH the
    // rank and u's total out-degree come from ONE window pass (same
    // partitioning, same exchange+sort — the unbounded count rides the
    // row_number's Window exec), so chunk counts need no extra
    // aggregate+join: O(d log d) per hub, and the d² blow-up is what
    // the chunk re-key spreads out.
    // the numbered edge set feeds lo, hi, and the max_outdeg aggregate —
    // materialized once so the window pass runs once, not three times
    val byU = Window.partitionBy("u")
    val oi = o.withColumn("idx",
        row_number().over(byU.orderBy("ordv")).cast("long") - 1)
      .withColumn("nc",
        ((count(lit(1)).over(byU) - 1) / cap + 1).cast("int"))
      .withColumn("c", (col("idx") / cap).cast("int"))
      .localCheckpoint()
    // lower wedge edge → chunk pairs (c, c..nc-1); higher → (0..c, c)
    val lo = oi
      .select(col("u"), col("v").as("x"), col("idx").as("ix"),
        col("c").as("cl"), explode(sequence(col("c"), col("nc") - 1)).as("cr"))
    val hi = oi
      .select(col("u"), col("v").as("y"), col("idx").as("iy"),
        explode(sequence(lit(0), col("c"))).as("cl"), col("c").as("cr"))
    val w = lo.join(hi, Seq("u", "cl", "cr"))
      .where(col("ix") < col("iy"))
      .select(col("x"), col("y"))
    // closing edge is oriented x→y (ord(x) < ord(y) by construction).
    // ONE pass over the wedge set counts both wedges and triangles: the
    // closing-edge attach is a LEFT join against the (distinct) oriented
    // edge set — multiplicity is exactly 1, so count(flag) equals the
    // old left_semi count — where the earlier two-consumer form
    // (w.agg + w.join(...,"left_semi").agg) executed the Σoutdeg²-row
    // wedge join TWICE, the dominant cost of the whole operator.
    val wc = w.join(
      o.select(col("u").as("x"), col("v").as("y"), lit(1L).as("closed")),
      Seq("x", "y"), "left")
    deg.agg(count(lit(1)).cast("bigint").as("n_nodes"),
        max(col("deg")).cast("bigint").as("max_deg"))
      .crossJoin(pairs.agg(count(lit(1)).cast("bigint").as("n_edges")))
      .crossJoin(wc.agg(count(lit(1)).cast("bigint").as("n_wedges"),
        count(col("closed")).cast("bigint").as("n_triangles")))
      .crossJoin(oi.groupBy("u").agg(count(lit(1)).as("od"))
        .agg(max(col("od")).cast("bigint").as("max_outdeg")))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"), col("max_deg"), col("max_outdeg"))
  }
}
