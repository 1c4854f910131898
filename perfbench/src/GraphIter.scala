package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, PageRank}

/** graph-iter: `ConnectedComponents.minLabel` on chains whose edge count
  * is above the driver cap the call is given (so it takes the distributed
  * round loop; at the default 1 M-edge cap a call would outlast a run),
  * then `PageRank.run` for 8 rounds on a power-law graph. Both graphs
  * are drawn from the seed. */
final class GraphIter extends Workload {
  import GraphIter._

  private var chains: Chains = _
  private var pl: PowerLaw = _

  def prepare(ctx: Ctx): Unit = {
    chains = new Chains(ChainCount, ChainEdges, ctx.seed)
    pl = new PowerLaw(PrNodes, PrExtraEdges, ctx.seed)
  }

  def warmUp(ctx: Ctx): Unit = {
    // the same two calls on small graphs; the chain graph is forced onto
    // the distributed path with a zero driver cap
    val spark = ctx.spark
    val small = new Chains(4, 32, ctx.seed + 1)
    ConnectedComponents.minLabel(small.nodes(spark), small.edges(spark),
      driverMaxEdges = 0L).count()
    PageRank.run(new PowerLaw(200, 400, ctx.seed + 1).edges(spark), 1).count()
  }


  type Outcome = Seq[Pair]

  /** `seconds / 3` pairs of calls, each `minLabel` then `PageRank.run`;
    * a call's latency runs from its input frames to its checkpointed
    * result. */
  def pass(ctx: Ctx): Seq[Pair] = {
    val spark = ctx.spark
    (0 until math.max(1, ctx.seconds / 3)).map { _ =>
      val nodes = chains.nodes(spark)
      val edges = chains.edges(spark)
      val prEdges = pl.edges(spark)
      // the input frames are local relations; materialize nothing ahead
      // of the clock but the operators' own first job
      val t0 = ctx.tracer.nowMs
      val cc = ctx.tracer.span("graph.cc") {
        ConnectedComponents.minLabel(nodes, edges, driverMaxEdges = DriverMaxEdges)
          .localCheckpoint(true)
      }
      val t1 = ctx.tracer.nowMs
      val pr = ctx.tracer.span("graph.pagerank") {
        PageRank.run(prEdges, Rounds).localCheckpoint(true)
      }
      Pair(cc, pr, t1 - t0, ctx.tracer.nowMs - t1)
    }
  }

  def wallMs(o: Seq[Pair]): Double = o.map(p => p.ccMs + p.prMs).sum

  def check(ctx: Ctx, o: Seq[Pair]): Unit = o.foreach { p =>
    checkCc(ctx, p.cc)
    checkPr(ctx, p.pr)
  }

  def endToEnd(ctx: Ctx, o: Seq[Pair]): Unit = {
    val calls = o.flatMap(p => Seq(p.ccMs, p.prMs))
    ctx.notes("graph.cc_s") = o.map(_.ccMs / 1000)
    ctx.notes("graph.pagerank_s") = o.map(_.prMs / 1000)
    ctx.e2e.put("throughput_per_s",
      o.size * (chains.edgeCount + pl.edgeCount) / (calls.sum / 1000), "1/s")
    ctx.e2e.put("latency_p50_ms", Stats.quantile(calls, 0.5), "ms")
    ctx.e2e.put("latency_p90_ms", Stats.quantile(calls, 0.9), "ms")
  }

  /** Medians over the pass's calls of each operator. */
  def perLayer(ctx: Ctx, o: Seq[Pair]): Unit = {
    val L = ctx.layer
    L.put("graph.cc_s", Stats.median(o.map(_.ccMs)) / 1000, "s")
    L.put("graph.pagerank_s", Stats.median(o.map(_.prMs)) / 1000, "s")
    ctx.drainListeners()
    for (m <- ctx.sparkMetrics) {
      for ((name, key) <- Seq("graph.cc" -> "cc", "graph.pagerank" -> "pr")) {
        val spans = ctx.tracer.spans.filter(_.name == name)
        L.put(s"graph.${key}_jobs", Stats.median(spans.map(s => m.of(s.id).jobs.get.toDouble)),
          "count")
        L.put(s"graph.${key}_planning_ms",
          Stats.median(spans.map(s => m.planningMsBetween(s.startMs, s.endMs))), "ms")
      }
      // PageRank runs its rounds one job after another, so its job count
      // repeats exactly. minLabel runs two jobs a round concurrently (on
      // Futures), and its count varies by a job or so from call to call.
      ctx.tracer.spans.filter(_.name == "graph.pagerank")
        .foreach(s => ctx.exactCount("graph.pr_jobs", m.of(s.id).jobs.get))
      val graphSpans = ctx.tracer.spans.filter(_.name.startsWith("graph."))
      L.put("graph.shuffle_bytes",
        graphSpans.map(s => m.of(s.id).shuffleWrite.get).sum.toDouble / o.size, "bytes")
    }
  }

  /** Every node's label is the least id of its chain: id mod chains. */
  private def checkCc(ctx: Ctx, cc: DataFrame): Unit = {
    ctx.attempted += 1
    val n = cc.count()
    val wrong = cc.where(col("label") =!= col("id") % lit(chains.k.toLong)).count()
    ctx.exactCount("graph.cc_rows", n)
    val ok = n == chains.nodeCount && wrong == 0
    ctx.check("graph: components equal the chains", ok,
      s"$n labelled nodes of ${chains.nodeCount}, $wrong wrong labels")
    if (!ok) ctx.failed += 1
  }

  /** Rank mass is conserved (|V|) and every rank matches a driver-side
    * reference iteration to 1e-6. */
  private def checkPr(ctx: Ctx, pr: DataFrame): Unit = {
    ctx.attempted += 1
    val got = pr.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = pl.reference(Rounds)
    val mass = got.values.sum
    val worst = want.map { case (id, r) => got.get(id).map(g => math.abs(g - r)).getOrElse(1.0) }.max
    val ok = got.size == want.size && math.abs(mass - want.size) < 1e-3 && worst < 1e-6
    ctx.check("graph: pagerank conserves mass and matches the reference", ok,
      s"${got.size} ranks of ${want.size}, mass $mass, worst error $worst")
    if (!ok) ctx.failed += 1
  }
}

object GraphIter {
  final case class Pair(cc: DataFrame, pr: DataFrame, ccMs: Double, prMs: Double)

  val ChainCount = 32
  /** Edges over all chains, above the driver cap the call is given. */
  val ChainEdges = 100000
  val DriverMaxEdges = 50000L
  val PrNodes = 20000
  val PrExtraEdges = 40000
  val Rounds = 8

  /** `k` disjoint chains over ids 0 until nodes; chain c holds the ids
    * congruent to c mod k, in a seeded order. */
  final class Chains(val k: Int, edgesTotal: Int, seed: Long) {
    val perChain: Int = edgesTotal / k + 1
    val nodeCount: Long = k.toLong * perChain
    val edgeCount: Long = k.toLong * (perChain - 1)
    private val order: Array[Long] = {
      val r = new SplittableRandom(seed)
      val a = new Array[Long](nodeCount.toInt)
      for (c <- 0 until k) {
        val ids = Array.tabulate(perChain)(j => c.toLong + j.toLong * k)
        for (i <- ids.indices.reverse) {
          val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
        }
        System.arraycopy(ids, 0, a, c * perChain, perChain)
      }
      a
    }
    def nodes(spark: SparkSession): DataFrame = spark.range(nodeCount).select(col("id"))
    def edges(spark: SparkSession): DataFrame = {
      import spark.implicits._
      val pairs = ArrayBuffer.empty[(Long, Long)]
      for (c <- 0 until k; j <- 0 until perChain - 1)
        pairs += ((order(c * perChain + j), order(c * perChain + j + 1)))
      spark.sparkContext.parallelize(pairs.toSeq, spark.sparkContext.defaultParallelism)
        .toDF("a", "b")
    }
  }

  /** Every node has one out-edge to a Zipf-popular target, plus `extra`
    * edges from uniform sources to Zipf targets: in-degree follows a
    * power law, and no node dangles. */
  final class PowerLaw(n: Int, extra: Int, seed: Long) {
    val src = new Array[Int](n + extra)
    val dst = new Array[Int](n + extra)
    locally {
      val r = new SplittableRandom(seed)
      val cdf = new Array[Double](n)
      var acc = 0.0
      for (i <- 0 until n) { acc += 1.0 / (i + 1); cdf(i) = acc }
      def zipf(): Int = {
        var d = java.util.Arrays.binarySearch(cdf, r.nextDouble() * acc)
        if (d < 0) d = -d - 1
        math.min(d, n - 1)
      }
      for (e <- 0 until n + extra) {
        src(e) = if (e < n) e else r.nextInt(n)
        var d = zipf()
        while (d == src(e)) d = zipf()
        dst(e) = d
      }
    }
    val edgeCount: Long = src.length.toLong
    def edges(spark: SparkSession): DataFrame = {
      import spark.implicits._
      spark.sparkContext.parallelize(src.indices.map(e => (src(e).toLong, dst(e).toLong)),
        spark.sparkContext.defaultParallelism).toDF("src", "dst")
    }
    /** The operator's iteration in plain doubles: rank starts at 1, each
      * round rank = 0.15 + 0.85 * sum of in-contributions rank/outdeg. */
    def reference(rounds: Int): Map[Long, Double] = {
      val outdeg = new Array[Int](n)
      src.foreach(s => outdeg(s) += 1)
      var rank = Array.fill(n)(1.0)
      for (_ <- 0 until rounds) {
        val in = new Array[Double](n)
        for (e <- src.indices) in(dst(e)) += rank(src(e)) / outdeg(src(e))
        rank = in.map(c => 0.15 + 0.85 * c)
      }
      rank.indices.map(i => i.toLong -> rank(i)).toMap
    }
  }
}
