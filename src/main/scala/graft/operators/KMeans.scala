package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lloyd's k-means over an embedding column — the trained-clustering
  * member of the model family (NB language classifier Q-llm-41, LR
  * quality gate Q-llm-42): centroids are LEARNED by alternating
  * assignment/update rounds, unlike [[IvfIndex]]'s one-shot
  * deterministic sample.
  *
  * Scale shape (the one that holds at 100 TB):
  *  - the MODEL is tiny (k × dim longs); it lives on the driver between
  *    rounds and enters each round as a broadcast literal — data never
  *    moves toward the model (the Q-llm-41/42 trained-model discipline);
  *  - assignment is one map-side pass: per-vector squared distances to
  *    all k centroids via codegen'd `zip_with`/`aggregate`, argmin by
  *    `array_position` on the min — zero shuffle;
  *  - the update is one partial-agg groupBy down to (k × dim) rows —
  *    the only exchange per round, bounded by MODEL size, not data size.
  *
  * Cross-engine exactness: vectors are quantized once to fixed-point
  * longs (`floor(x·scale)` in double math — IEEE-identical in any
  * engine); every distance/sum afterwards is integer arithmetic, and
  * centroid means use floor division — so a fixed iteration count is
  * bit-reproducible (the PageRank/BPE iterative discipline) and the
  * DuckDB oracle can replay the rounds as unrolled CTEs. Empty clusters
  * carry their previous centroid forward.
  */
object KMeans {

  /** Train `iters` rounds from the k lowest-id vectors and return the
    * final assignment: (vec_id, cluster, dist2), quantized-space squared
    * L2 distance to the learned centroid. */
  def run(emb: DataFrame, idCol: String, vecCol: String,
          k: Int, iters: Int, scale: Int = 1000): DataFrame =
    trained(emb, idCol, vecCol, k, iters, scale)
      .select(col("id").as("vec_id"),
        col("cluster").cast("bigint").as("cluster"), col("dist2"))

  /** Same training, but keep the quantized vector alongside the
    * assignment: (id, qv, cluster, dist2). Consumers that need the
    * vector in the learned-cluster space (SemDeDup's within-cluster
    * prune) read it here instead of re-joining the corpus on id. */
  def trained(emb: DataFrame, idCol: String, vecCol: String,
              k: Int, iters: Int, scale: Int = 1000): DataFrame =
    fit(emb, idCol, vecCol, k, iters, scale)._1

  /** Train and return the MODEL itself: k centroids in quantized space —
    * what a vector index persists to assign FUTURE vectors to cells
    * without retraining (see [[assignWith]]). */
  def centroids(emb: DataFrame, idCol: String, vecCol: String,
                k: Int, iters: Int, scale: Int = 1000): Array[Array[Long]] = {
    val (_, cents, q) = fit(emb, idCol, vecCol, k, iters, scale)
    // model-only training discards the assignment frame, so the cached
    // quantized corpus has no further consumer — free it here instead of
    // leaking it to the session's cache sweep (a long-lived maintainer
    // retrains many times; run()/trained() keep it for their downstream
    // materialization)
    q.unpersist(blocking = false)
    cents
  }

  /** The k per-cluster squared distances as ONE native codegen column
    * ([[graft.functions.KMeansDists]]): fused quantization + k primitive
    * distance loops over a driver-held model reference. Replaces the
    * interpreted `transform(model, c -> aggregate(zip_with(...)))`
    * composition (higher-order functions are CodegenFallback — k lambda
    * walks + k+1 array allocations per row) with bit-identical results,
    * pinned by KMeansSpec's parity case. */
  private def distsNative(cents: Array[Array[Long]],
      vec: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.KMeansDists(
        org.apache.spark.sql.graft.Bridge.expression(vec), cents, scale))

  /** Cell assignment of an arbitrary embedding column against FROZEN
    * centroids — the trained partitioner function of an IVF-shaped
    * index, as a pure codegen column (quantize, k squared distances,
    * argmin with lowest-cluster tie-break): new vectors never shuffle
    * toward the model. */
  def assignWith(cents: Array[Array[Long]], vec: org.apache.spark.sql.Column,
                 scale: Int = 1000): org.apache.spark.sql.Column = {
    val dists = distsNative(cents, vec, scale)
    (array_position(dists, array_min(dists)) - 1).cast("bigint")
  }

  /** Quantized-space squared distance to the NEAREST frozen centroid —
    * the per-vector quantization error. An index monitors the mean of
    * this over incoming vectors against the value recorded at train
    * time: re-embedding drift shows up as the ratio exploding. */
  def dist2With(cents: Array[Array[Long]], vec: org.apache.spark.sql.Column,
                scale: Int = 1000): org.apache.spark.sql.Column =
    array_min(distsNative(cents, vec, scale))

  private def fit(emb: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int,
                  scale: Int): (DataFrame, Array[Array[Long]], DataFrame) = {
    // fixed-point quantization: float -> exact double -> floor(x*scale)
    val q = emb.select(
        col(idCol).cast("long").as("id"),
        transform(col(vecCol),
          x => floor(x.cast("double") * scale).cast("long")).as("qv"))
      .persist()
    // init: the k lowest-id vectors — deterministic on any engine.
    // (Seeded via sort-limit, not `id < k`, so a corpus whose ids don't
    // start at 0 — an ACID table mid-life — still trains; when ids
    // 0..k-1 exist the two are identical, so every pinned oracle holds.)
    var cents: Array[Array[Long]] = q.orderBy("id").limit(k)
      .collect().map(_.getSeq[Long](1).toArray)
    require(cents.length == k,
      s"need at least $k vectors to seed $k centroids, got ${cents.length}")

    // assignment against the CURRENT model: distances to all k broadcast
    // centroids in one narrow projection (native codegen kernel),
    // first-minimum tie-break (lowest cluster id) via array_position
    def assigned: DataFrame =
      q.withColumn("dists", distsNative(cents, col("qv"), scale))
        .withColumn("dist2", array_min(col("dists")))
        .withColumn("cluster",
          (array_position(col("dists"), col("dist2")) - 1).cast("int"))

    for (_ <- 1 to iters) {
      // the round's only exchange: (cluster, dim) partial-agg sums —
      // k×dim rows to the driver, exactly the model update
      val next = cents.map(_.clone) // empty clusters keep their centroid
      assigned.select(col("cluster"), posexplode(col("qv")))
        .groupBy("cluster", "pos")
        .agg(sum("col").as("s"), count(lit(1)).as("n"))
        .collect()
        .foreach { r =>
          next(r.getInt(0))(r.getInt(1)) =
            Math.floorDiv(r.getLong(2), r.getLong(3))
        }
      cents = next
    }

    (assigned.select(col("id"), col("qv"), col("cluster"), col("dist2")),
      cents, q)
  }
}
