package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{EngineSession, Tables}
import graft.operators.KMeans

/** Pins the trained-clustering contract: partitioning-independent
  * determinism (the fixed-point discipline), exhaustive assignment,
  * exact quantized distances, and the empty-cluster carry-forward
  * path that real data never exercises. */
class KMeansSpec extends AnyFunSuite {

  lazy val spark: SparkSession = EngineSession.getOrCreate("graft-test")

  private val sf = "/root/testdata/sf0.001"

  test("deterministic across input partitioning; assignment exhaustive") {
    val emb = Tables.embeddings(spark, sf)
    val a = KMeans.run(emb.repartition(7), "vec_id", "embedding", 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = KMeans.run(emb.repartition(3), "vec_id", "embedding", 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b, "assignment must not depend on physical partitioning")
    assert(a.size == emb.count(), "every vector assigned exactly once")
    assert(a.map(_._2).forall(c => c >= 0 && c < 4))
    // Lloyd's on real data should actually use the model capacity
    assert(a.map(_._2).size > 1, "expected more than one populated cluster")
  }

  test("dist2 is the exact quantized squared L2 to the learned centroid") {
    import spark.implicits._
    // 1-d points; quantization goes through the FLOAT value's exact
    // double widening, so floor(x*1000) of 0.001f/0.002f is 1/2 but of
    // 0.010f/0.011f/0.012f is 9/10/12 — quantized clusters {0,1,2} and
    // {9,10,12}, centroids floor(3/3)=1 and floor(31/3)=10
    val pts = Seq(0L -> 0.000, 1L -> 0.001, 2L -> 0.002,
                  3L -> 0.010, 4L -> 0.011, 5L -> 0.012)
      .map { case (id, v) => (id, Seq(v.toFloat)) }
      .toDF("vec_id", "embedding")
    val out = KMeans.run(pts, "vec_id", "embedding", 2, 2)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(out(0L) == (0L, 1L) && out(1L) == (0L, 0L) && out(2L) == (0L, 1L))
    assert(out(3L) == (1L, 1L) && out(4L) == (1L, 0L) && out(5L) == (1L, 4L))
  }

  test("a cluster that loses every member keeps its previous centroid") {
    import spark.implicits._
    // seeds are ids 0 and 1 with IDENTICAL vectors: every point ties to
    // cluster 0 (lowest-id tie-break), cluster 1 is empty from round 1 —
    // the update must carry centroid 1 forward, not crash or shrink k
    val pts = (0L until 6L).map(id => (id, Seq(0.1f, 0.2f)))
      .toDF("vec_id", "embedding")
    val out = KMeans.run(pts, "vec_id", "embedding", 2, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 6)
    assert(out.forall(_._2 == 0L), "ties must break to the lowest cluster")
    assert(out.forall(_._3 == 0L), "identical vectors sit on the centroid")
  }

  test("trained partitioner >= sign quantizer on recall@10 at equal probe fraction") {
    import org.apache.spark.sql.functions._
    // the Q-llm-59 partitioner claim, measured: probing 25% of cells,
    // k-means cells (distance-ranked probes) must recall at least as
    // much of the exact top-10 as the frozen 4-bit sign quantizer
    // (Hamming-ranked probes) on the same corpus/queries
    val emb = Tables.embeddings(spark, sf)
    val all = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val queries = all.filter(_._1 < 5)
    val corpus = all.filter(_._1 >= 5)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def top10(q: Array[Float], ids: Iterable[Long]): Set[Long] =
      ids.toSeq.map(i => (i, cos(q, corpus(i))))
        .sortBy { case (i, s) => (-s, i) }.take(10).map(_._1).toSet
    val truth = queries.map { case (qid, qv) => qid -> top10(qv, corpus.keys) }
    def recall(cellOf: Map[Long, Long],
               probes: Array[Float] => Seq[Long]): Double =
      queries.iterator.map { case (qid, qv) =>
        val probed = probes(qv).toSet
        val cands = corpus.keys.filter(i => probed(cellOf(i)))
        (top10(qv, cands) & truth(qid)).size / 10.0
      }.sum / queries.size
    // k-means: 8 trained cells, probe the 2 nearest by centroid distance
    val corpusDf = emb.filter(col("vec_id") >= 5)
    val cents = KMeans.centroids(corpusDf, "vec_id", "embedding", 8, 2)
    val cellK = corpusDf.select(col("vec_id"),
        KMeans.assignWith(cents, col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def qd(q: Array[Float], c: Array[Long]): Long =
      q.indices.iterator.map { i =>
        val d = math.floor(q(i).toDouble * 1000).toLong - c(i); d * d
      }.sum
    val recallK = recall(cellK, qv =>
      cents.indices.sortBy(i => (qd(qv, cents(i)), i)).take(2).map(_.toLong))
    // sign quantizer: 16 cells from the first 4 dims, probe the 4
    // nearest by Hamming distance — the same 25% of cells
    def sign(v: Array[Float]): Long =
      (0 until 4).map(i => if (v(i) > 0f) 1L << i else 0L).sum
    val cellS = corpus.map { case (i, v) => i -> sign(v) }
    val recallS = recall(cellS, qv => {
      val qc = sign(qv)
      (0L until 16L).sortBy(c => (java.lang.Long.bitCount(c ^ qc), c)).take(4)
    })
    info(f"recall@10: kmeans(2/8 probes)=$recallK%.3f sign(4/16)=$recallS%.3f")
    assert(recallK >= recallS,
      f"trained cells recalled $recallK%.3f < sign cells $recallS%.3f")
    assert(recallK >= 0.2, f"kmeans recall floor: $recallK%.3f")
  }

  test("native kmeans_dists kernel ≡ the higher-order composition it replaced") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.Bridge
    val emb = Tables.embeddings(spark, sf)
    val cents = KMeans.centroids(emb, "vec_id", "embedding", 5, 2)
    // the exact Catalyst composition the r13 kernel replaced: quantize by
    // transform+cast, per-cluster distance by transform(aggregate(zip_with))
    def oldDists(vec: org.apache.spark.sql.Column, scale: Int) = {
      val model = typedLit(cents.map(_.toSeq).toSeq)
      val qv = transform(vec, x => floor(x.cast("double") * scale).cast("long"))
      transform(model, c =>
        aggregate(zip_with(qv, c, (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, v) => acc + v))
    }
    def newDists(vec: org.apache.spark.sql.Column, scale: Int) =
      Bridge.column(graft.functions.KMeansDists(
        Bridge.expression(vec), cents, scale))
    // float input path (fused quantization)
    val diffF = emb.select(
        oldDists(col("embedding"), 1000).as("o"),
        newDists(col("embedding"), 1000).as("n"))
      .filter(not(col("o") <=> col("n"))).count()
    assert(diffF == 0L, "float-path dists diverged from the composition")
    // pre-quantized long input path (fit()'s shape; scale must be ignored)
    val q = emb.select(transform(col("embedding"),
      x => floor(x.cast("double") * 1000).cast("long")).as("qv"))
    val diffL = q.select(
        transform(typedLit(cents.map(_.toSeq).toSeq), c =>
          aggregate(zip_with(col("qv"), c, (x, y) => (x - y) * (x - y)),
            lit(0L), (acc, v) => acc + v)).as("o"),
        newDists(col("qv"), 7).as("n"))
      .filter(not(col("o") <=> col("n"))).count()
    assert(diffL == 0L, "long-path dists diverged from the composition")
    // degenerate inputs against a tiny 2-dim model: a null element (right
    // length) and a length mismatch must both yield the all-null dists
    // the zip_with+aggregate null algebra produced
    import spark.implicits._
    val cents2 = Array(Array(1L, 2L), Array(3L, 4L))
    def old2(vec: org.apache.spark.sql.Column) = {
      val model = typedLit(cents2.map(_.toSeq).toSeq)
      val qv = transform(vec, x => floor(x.cast("double") * 1000).cast("long"))
      transform(model, c =>
        aggregate(zip_with(qv, c, (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, v) => acc + v))
    }
    def new2(vec: org.apache.spark.sql.Column) =
      Bridge.column(graft.functions.KMeansDists(
        Bridge.expression(vec), cents2, 1000))
    val weird = Seq(
      (1L, Seq[java.lang.Float](1.0f, null)), // null element, right length
      (2L, Seq[java.lang.Float](1.0f)),       // too short
      (3L, Seq[java.lang.Float](1.0f, 2.0f, 3.0f)), // too long
      (4L, Seq[java.lang.Float](1.0f, 2.0f))) // healthy control
      .toDF("id", "v")
      .select(col("id"), col("v").cast("array<float>").as("v"))
    val rows = weird.select(col("id"), old2(col("v")).as("o"),
        new2(col("v")).as("n")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2),
        s"degenerate-input parity broken for id=${r.getLong(0)}: " +
          s"${r.getSeq[Any](1)} vs ${r.getSeq[Any](2)}")
      if (r.getLong(0) != 4L) assert(r.getSeq[Any](2).forall(_ == null))
    }
  }

  test("refinement: trained centroids fit at least as well as the seeds") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    def totalDist(iters: Int): Long =
      KMeans.run(emb, "vec_id", "embedding", 4, iters)
        .agg(sum("dist2")).collect()(0).getLong(0)
    assert(totalDist(6) < totalDist(0),
      "6 Lloyd rounds must tighten total within-cluster distance vs the raw seeds")
  }
}
