package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EngineSession
import graft.operators.PageRank

/** PageRank invariants on graphs with known fixed points, and bit-exact
  * agreement with the DataFrame reference loop ([[PageRankReference]]). */
class PageRankSpec extends AnyFunSuite {

  lazy val spark: SparkSession = EngineSession.getOrCreate("graft-test")
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] =
    PageRank.run(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("cycle graph: every node holds rank 1.0 at any iteration count") {
    val cycle = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L)
    for (iters <- Seq(1, 5)) {
      val r = ranks(cycle, iters)
      assert(r.size == 4)
      r.values.foreach(v => assert(math.abs(v - 1.0) < 1e-9))
    }
  }

  test("symmetrized star: hub rank matches the closed form and mass = |V|") {
    // hub 0 <-> leaves 1..4. Fixed point of h = 0.15 + 0.85*(4*l),
    // l = 0.15 + 0.85*h/4  =>  h = 88/37, l = 24.25/37 (mass h+4l = 5).
    val star = (1L to 4L).flatMap(l => Seq(0L -> l, l -> 0L))
    val r = ranks(star, 60) // geometric 0.85^k decay -> ~6e-5 left
    assert(math.abs(r(0L) - 88.0 / 37.0) < 1e-4)
    (1L to 4L).foreach(l => assert(math.abs(r(l) - 24.25 / 37.0) < 1e-4))
    assert(math.abs(r.values.sum - 5.0) < 1e-6) // mass is exact each round, not asymptotic
  }

  test("rank mass is conserved at |V| every iteration (no dangling nodes)") {
    // seeded pseudo-random symmetric graph on 50 nodes
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(200)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }.distinct
    val edges = (base ++ base.map(_.swap)).distinct
    val n = edges.map(_._1).distinct.size
    for (iters <- Seq(1, 4)) {
      val total = ranks(edges, iters).values.sum
      assert(math.abs(total - n) < 1e-6, s"mass $total != $n at $iters iters")
    }
  }

  test("result is invariant to input partitioning") {
    val rnd = new scala.util.Random(11)
    val base = Seq.fill(150)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }.distinct
    val edges = (base ++ base.map(_.swap)).distinct
    val df1 = edges.toDF("src", "dst").repartition(1)
    val df17 = edges.toDF("src", "dst").repartition(17)
    val r1 = PageRank.run(df1, 6).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val r17 = PageRank.run(df17, 6).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r1 == r17) // decimal sums make this EXACT, not approximate
  }

  /** id -> the rank's IEEE bits. */
  private def bits(df: DataFrame): Map[Long, Long] =
    df.collect().map(r =>
      r.getAs[Number](0).longValue -> java.lang.Double.doubleToLongBits(r.getDouble(1))).toMap

  /** The reference's ranks, run with AQE off and one shuffle partition,
    * which makes each of its rounds one job instead of about five; its
    * exact sums do not depend on the plan. */
  private def reference(run: => DataFrame): Map[Long, Long] = {
    val conf = Seq("spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "1")
    val prev = conf.map { case (k, _) => k -> spark.conf.get(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try bits(run) finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** A seeded random digraph: every node has an out-edge, destinations
    * are hub-skewed, some edges repeat, and some point outside the node
    * set. Ids are scattered and partly negative. */
  private def randomGraph(seed: Long, n: Int, extra: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def id(i: Int): Long = (i.toLong - n / 3) * 7919L
    def hub(): Int = math.min(n - 1, (n * math.pow(rnd.nextDouble(), 3)).toInt)
    val out = (0 until n).map(i => id(i) -> id(hub()))
    val more = Seq.fill(extra)(id(rnd.nextInt(n)) -> id(hub()))
    val outside = Seq.fill(n / 20)(id(rnd.nextInt(n)) -> ((1L << 40) + rnd.nextInt(100)))
    (out ++ more ++ outside ++ more.take(extra / 10)).toDF("src", "dst")
  }

  private def seedsOf(edges: DataFrame, every: Int): DataFrame =
    edges.select(col("src").as("id")).distinct().where(abs(col("id")) % (7919L * every) === 0)

  test("run and runPersonalized equal the DataFrame reference bit for bit, at 1 and 17 input partitions") {
    for (seed <- Seq(1L, 2L)) {
      val edges = randomGraph(seed, 400, 1200)
      val seeds = seedsOf(edges, 7)
      val want = reference(PageRankReference.run(edges, 8))
      val wantP = reference(PageRankReference.runPersonalized(edges, 8, seeds))
      assert(want.size == 400 && wantP.size == 400)
      for (parts <- Seq(1, 17)) {
        val in = edges.repartition(parts)
        assert(bits(PageRank.run(in, 8)) == want, s"run, seed $seed, $parts partitions")
        assert(bits(PageRank.runPersonalized(in, 8, seeds)) == wantP,
          s"runPersonalized, seed $seed, $parts partitions")
      }
    }
  }

  test("a 2,000-leaf star whose hub has out-degree 1 equals the reference bit for bit") {
    // every leaf points at the hub, the hub at leaf 1: the hub's rank,
    // and its single edge's contribution, grow past 500
    val star = ((1L to 2000L).map(_ -> 0L) :+ (0L -> 1L)).toDF("src", "dst")
    val seeds = Seq(0L, 5L).toDF("id")
    val got = bits(PageRank.run(star, 8))
    assert(got == reference(PageRankReference.run(star, 8)))
    assert(java.lang.Double.longBitsToDouble(got(0L)) > 500.0)
    assert(bits(PageRank.runPersonalized(star, 8, seeds)) ==
      reference(PageRankReference.runPersonalized(star, 8, seeds)))
  }

  test("60 rounds, across the lineage cut, equal the reference bit for bit") {
    val edges = randomGraph(3L, 60, 120)
    assert(60 > PageRank.RoundsPerJob)
    assert(bits(PageRank.run(edges, 60)) == reference(PageRankReference.run(edges, 60)))
  }

  test("run(edges, 8) submits at most 3 Spark jobs") {
    val edges = randomGraph(4L, 200, 400)
    val jobs = JobCount(spark.sparkContext, "PageRankSpec job count")(PageRank.run(edges, 8))
    assert(jobs >= 1 && jobs <= 3, s"$jobs jobs")
  }

  test("ids come back in their integral input type; other id types are rejected") {
    val edges = Seq(1 -> 2, 2 -> 1).toDF("src", "dst")
    val out = PageRank.run(edges, 2)
    assert(out.schema("id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(out.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    intercept[IllegalArgumentException] {
      PageRank.run(Seq("a" -> "b").toDF("src", "dst"), 2)
    }
  }
}
