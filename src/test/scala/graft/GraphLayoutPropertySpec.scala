package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EngineSession
import graft.operators.{ConnectedComponents, ZOrderLayout}

/** Property insurance for the round-2 operators.
  *
  * ConnectedComponents is checked against an in-memory union-find on
  * seeded random graphs — including a LONG CHAIN whose diameter far
  * exceeds the round budget an O(diameter) loop would need (the exact
  * failure mode round-1 advice flagged); pointer jumping must converge it
  * in O(log n) rounds or throw, never silently return partial labels.
  *
  * The z-value interleave is checked invertible: deinterleaving the even
  * and odd bits recovers (x, y) exactly for any 16-bit inputs.
  */
class GraphLayoutPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = EngineSession.getOrCreate("graft-test")
  import spark.implicits._

  /** reference union-find over the same edge list */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(a: Int): Int = {
      var r = a
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-label = min node id in the component; with union-by-min the root
    // IS the minimum after full path compression
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  private def checkGraph(n: Int, edges: Seq[(Long, Long)],
      driverMaxEdges: Long = 1000000L): Unit = {
    val nodes = (0L until n.toLong).toDF("id")
    val edgeDf = edges.toDF("a", "b")
    val got = ConnectedComponents
      .minLabel(nodes, edgeDf, driverMaxEdges = driverMaxEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFind(n, edges))
  }

  test("ConnectedComponents == union-find on seeded random graphs (driver path)") {
    for (seed <- 1L to 4L) {
      val n = 60
      val gen = Gen.listOfN(80, for {
        a <- Gen.chooseNum(0L, n - 1L); b <- Gen.chooseNum(0L, n - 1L)
        if a != b
      } yield (a, b))
      val edges = gen.apply(Gen.Parameters.default, Seed(seed)).get
      checkGraph(n, edges)
    }
  }

  test("ConnectedComponents == union-find on seeded random graphs (distributed path)") {
    // driverMaxEdges = 0 forces the min-label loop: both strategies must
    // be the same pure function of the edge set
    for (seed <- 1L to 4L) {
      val n = 60
      val gen = Gen.listOfN(80, for {
        a <- Gen.chooseNum(0L, n - 1L); b <- Gen.chooseNum(0L, n - 1L)
        if a != b
      } yield (a, b))
      val edges = gen.apply(Gen.Parameters.default, Seed(seed)).get
      checkGraph(n, edges, driverMaxEdges = 0L)
    }
  }

  test("ConnectedComponents converges on a chain with diameter >> 25") {
    // a 400-node path through the DISTRIBUTED loop: O(diameter)
    // propagation would need 400 rounds and previously exited silently at
    // 25; pointer jumping needs ~log2(400)
    val n = 400
    val edges = (0L until n - 1L).map(i => (i, i + 1))
    checkGraph(n, edges, driverMaxEdges = 0L)
  }

  test("ConnectedComponents runs one job per round on the distributed path") {
    // a 400-node chain: the cap check, the setup, one job per round and
    // the result's checkpoint. The round count is not visible, so the
    // bound jobs <= rounds + 4 is checked from the other side: the call
    // must not converge within jobs - 5 rounds.
    val n = 400
    val nodes = (0L until n.toLong).toDF("id")
    val edges = (0L until n - 1L).map(i => (i, i + 1)).toDF("a", "b")
    var out: DataFrame = null
    val jobs = JobCount(spark.sparkContext, "ConnectedComponents job count") {
      out = ConnectedComponents.minLabel(nodes, edges, driverMaxEdges = 0L)
    }
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0L until n.toLong).map(_ -> 0L).toMap)
    info(s"$jobs jobs")
    intercept[IllegalStateException] {
      ConnectedComponents.minLabel(nodes, edges, maxIter = jobs - 5, driverMaxEdges = 0L)
    }
  }

  test("ConnectedComponents drops an edge with a null endpoint on both paths") {
    val n = 8
    val edges = Seq[(Option[Long], Option[Long])](
      Some(0L) -> Some(1L), Some(1L) -> None, None -> Some(5L), None -> None,
      Some(5L) -> Some(6L), Some(2L) -> Some(3L), Some(3L) -> Some(4L))
    val want = unionFind(n, edges.collect { case (Some(a), Some(b)) => (a, b) })
    for (cap <- Seq(1000000L, 0L)) {
      val got = ConnectedComponents
        .minLabel((0L until n.toLong).toDF("id"), edges.toDF("a", "b"), driverMaxEdges = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"driverMaxEdges = $cap")
    }
  }

  test("ConnectedComponents keeps int-typed ids int on the distributed path") {
    val edges = Seq(0 -> 1, 2 -> 1, 4 -> 5).toDF("a", "b")
    val out = ConnectedComponents.minLabel((0 until 7).toDF("id"), edges, driverMaxEdges = 0L)
    assert(out.schema.map(_.dataType) == Seq(IntegerType, IntegerType))
    assert(out.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
      Map(0 -> 0, 1 -> 0, 2 -> 0, 3 -> 3, 4 -> 4, 5 -> 4, 6 -> 6))
  }

  test("ConnectedComponents contracted driver finish matches union-find") {
    // driverMaxEdges = 50 < the 399-edge chain: the loop must CONTRACT
    // distributively until the class graph fits the cap, then finish on
    // the driver — same answer as both pure paths
    val n = 400
    val edges = (0L until n - 1L).map(i => (i, i + 1))
    checkGraph(n, edges, driverMaxEdges = 50L)
  }

  test("ConnectedComponents non-convergence throws and frees its checkpoints") {
    // one round cannot converge a 400-node chain on the fully distributed
    // path: the loop must fail loudly AND release every localCheckpoint it
    // made — a caller that catches and retries would otherwise pin them
    val n = 400
    val nodes = (0L until n.toLong).toDF("id")
    val edges = (0L until n - 1L).map(i => (i, i + 1)).toDF("a", "b")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val err = intercept[IllegalStateException] {
      ConnectedComponents.minLabel(nodes, edges, maxIter = 1, driverMaxEdges = 0L)
    }
    assert(err.getMessage.contains("maxIter"), err.getMessage)
    val leaked = sc.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"RDDs still persisted after the throw: $leaked")
  }

  test("ConnectedComponents on dense cliques (distributed + contracted finish)") {
    // the Q-graph-10 shape at spec scale: LSH near-dup clusters are
    // cliques, where the contracting loop collapses everything in round
    // 1 — both the forced-distributed path and a mid-loop driver finish
    // must equal union-find
    val k = 8
    val cliques = 50
    val edges = for {
      c <- 0 until cliques
      i <- 0 until k; j <- (i + 1) until k
    } yield ((c * k + i).toLong, (c * k + j).toLong)
    checkGraph(cliques * k, edges, driverMaxEdges = 0L)
    checkGraph(cliques * k, edges, driverMaxEdges = 100L)
  }

  test("z-value interleave is invertible on 16-bit inputs") {
    def deinterleave(z: Long): (Long, Long) = {
      def compact(v0: Long): (Long) = {
        var v = v0 & 0x5555555555555555L
        v = (v | (v >> 1)) & 0x3333333333333333L
        v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0FL
        v = (v | (v >> 4)) & 0x00FF00FF00FF00FFL
        v = (v | (v >> 8)) & 0x0000FFFF0000FFFFL
        v
      }
      (compact(z), compact(z >> 1))
    }
    val pairs = Gen.listOfN(200, for {
      x <- Gen.chooseNum(0L, 65535L); y <- Gen.chooseNum(0L, 65535L)
    } yield (x, y)).apply(Gen.Parameters.default, Seed(7L)).get
    val zs = pairs.toDF("x", "y")
      .select(col("x"), col("y"),
        ZOrderLayout.zvalue(col("x"), col("y")).as("z"))
      .collect()
    for (r <- zs) {
      val (x, y) = deinterleave(r.getLong(2))
      assert((x, y) == (r.getLong(0), r.getLong(1)))
    }
  }

  test("Q-graph-08 DOULION estimate within 10% of exact triangles") {
    // measured ~3% relative error at sf0.001 and sf0.01 (p = 1/4 md5
    // sampling); the 10% bound is the contract with margin, the
    // hash-match vs the oracle pins the sampled count itself exactly
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val exact = SparkEntry.queries("Q-graph-02")(spark, sf)
        .select("n_triangles").collect()(0).getLong(0)
      val row = SparkEntry.queries("Q-graph-08")(spark, sf)
        .select("n_edges", "n_sampled", "est_triangles").collect()(0)
      val (nE, nS, est) = (row.getLong(0), row.getLong(1), row.getLong(2))
      // the sampler really keeps ~1/4 of edges (binomial, wide margin)
      assert(math.abs(nS.toDouble / nE - 0.25) < 0.05, s"$sf kept $nS/$nE")
      val rel = math.abs(est - exact).toDouble / exact
      info(s"$sf exact=$exact est=$est relerr=$rel")
      assert(rel <= 0.10, s"$sf: est=$est exact=$exact relerr=$rel")
    }
  }
}
