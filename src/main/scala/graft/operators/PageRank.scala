package graft.operators

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Iterative PageRank over an `(src, dst)` edge DataFrame of integral ids.
  *
  * Scaled formulation (GraphX-style): every node starts at its teleport
  * weight `t` (1.0 for plain PageRank) and each round computes
  * `rank = 0.15·t + 0.85·sum(in-contributions)`, so the total rank mass
  * of plain PageRank stays |V| and no global node count is needed.
  * Contribution magnitudes stay O(1), where the decimal(30,10) sum keeps
  * ~1e-8 relative resolution.
  *
  * Shape: one Spark job runs all rounds (a lineage cut every
  * [[RoundsPerJob]] rounds adds one job per cut).
  *  - Setup shuffles the edges once by `HashPartitioner(shuffle
  *    partitions)` on `src` into per-partition adjacency arrays
  *    ([[Part]]), persisted for the whole call.
  *  - Ranks are one `Array[Double]` per partition, aligned with the
  *    adjacency through `zipPartitions`, so no round joins.
  *  - A round is one shuffle: each map task sums its contributions per
  *    destination and sends one block of primitive arrays (sorted ids,
  *    sums) per target partition; the reduce side merges the blocks into
  *    its sources' rank array.
  *  - The `(id, rank)` result is materialized by one `localCheckpoint`.
  *
  * Numeric portability: a contribution is `rank/outdeg` floor-rounded to
  * 9 decimals (`Portable.r`) and cast to decimal(30,10) the way Spark's
  * cast does (`BigDecimal(d)`, HALF_UP to scale 10). Per-destination sums
  * add the unscaled longs exactly, so results do not depend on
  * partitioning and hash-match the unrolled SQL oracle (Graph.prRound).
  * The long sums limit a contribution, and a destination's sum, to
  * 9.2e8; beyond that the call throws `ArithmeticException`.
  *
  * The node set is the sources; edges to a non-source contribute
  * nothing. Every node is assumed to have at least one out-edge (true
  * for any symmetrized graph); a dangling node's mass otherwise leaks,
  * which is the standard simplified-PageRank behavior.
  */
object PageRank {

  /** Rounds per Spark job; a longer call cuts the rank lineage between
    * jobs so the DAG a job plans stays bounded. */
  private[graft] val RoundsPerJob = 32

  def run(edges: DataFrame, iterations: Int): DataFrame =
    iterate(edges, iterations, None)

  /** PERSONALIZED PageRank: identical iteration, but teleport mass lands
    * only on the seed set (`seeds`: a 1-column `id` DataFrame) —
    * rank = 0.15·isSeed + 0.85·Σ in-contributions, started from the seed
    * indicator. The seeds shuffle once, beside the edges. */
  def runPersonalized(edges: DataFrame, iterations: Int,
                      seeds: DataFrame): DataFrame =
    iterate(edges, iterations, Some(seeds))

  /** One partition's sources, sorted, with their adjacency.
    * `edgeStart` is a CSR index over `ids` into `edgeSlot`; a slot is one
    * distinct destination, and target partition `p`'s slots are
    * `slotStart(p) until slotStart(p + 1)`, destinations `dsts(p)`. */
  private final class Part(
      val ids: Array[Long],
      val outdeg: Array[Double],
      val teleport: Array[Double],
      val edgeStart: Array[Int],
      val edgeSlot: Array[Int],
      val slotStart: Array[Int],
      val dsts: Array[Array[Long]]) extends Serializable

  private def iterate(edges: DataFrame, iterations: Int,
                      seeds: Option[DataFrame]): DataFrame = {
    val spark = edges.sparkSession
    val idField = edges.schema("src")
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // every shuffle's key is its block's target partition id, which
    // HashPartitioner maps to itself
    val hash = new HashPartitioner(n)

    val edgeBlocks = IntegralIds.longs(edges, "PageRank", "src", "dst").mapPartitions { rows =>
      val src = Array.fill(n)(Array.newBuilder[Long])
      val dst = Array.fill(n)(Array.newBuilder[Long])
      val dangling = Array.fill(n)(Array.newBuilder[Long]) // null dst
      rows.foreach { r =>
        if (!r.isNullAt(0)) {
          val s = r.getLong(0); val p = hash.getPartition(s)
          if (r.isNullAt(1)) dangling(p) += s
          else { src(p) += s; dst(p) += r.getLong(1) }
        }
      }
      Iterator.tabulate(n)(p => p -> (src(p).result(), dst(p).result(), dangling(p).result()))
        .filter { case (_, (s, _, d)) => s.nonEmpty || d.nonEmpty }
    }.partitionBy(hash)
    val seedBlocks = seeds.map(s => IntegralIds.longs(s, "PageRank", "id").mapPartitions { rows =>
      val ids = Array.fill(n)(Array.newBuilder[Long])
      rows.foreach(r => if (!r.isNullAt(0)) ids(hash.getPartition(r.getLong(0))) += r.getLong(0))
      Iterator.tabulate(n)(p => p -> ids(p).result()).filter(_._2.nonEmpty)
    }.partitionBy(hash))
    val graph: RDD[Part] = (seedBlocks match {
      case Some(sb) => edgeBlocks.zipPartitions(sb) { (e, s) =>
        Iterator.single(build(e.map(_._2), Some(s.flatMap(_._2).toSet), hash)) }
      case None => edgeBlocks.mapPartitions(e => Iterator.single(build(e.map(_._2), None, hash)))
    }).persist(StorageLevel.MEMORY_AND_DISK)

    var ranks: RDD[Array[Double]] = graph.map(_.teleport)
    var cut: Option[RDD[Array[Double]]] = None
    for (round <- 1 to iterations) {
      val sent = graph.zipPartitions(ranks)((g, r) => contribute(g.next(), r.next()))
        .partitionBy(hash)
      ranks = graph.zipPartitions(sent)((g, b) => Iterator.single(receive(g.next(), b)))
      if (round % RoundsPerJob == 0 && round < iterations) {
        ranks.localCheckpoint().count()
        cut.foreach(_.unpersist(blocking = false))
        cut = Some(ranks)
      }
    }

    val toId = IntegralIds.toId(idField.dataType)
    val rows = graph.zipPartitions(ranks) { (g, r) =>
      val part = g.next(); val rank = r.next()
      Iterator.tabulate(part.ids.length)(i => Row(toId(part.ids(i)), rank(i)))
    }
    val schema = StructType(Seq(idField.copy(name = "id"),
      StructField("rank", DoubleType, nullable = false)))
    val out = spark.createDataFrame(rows, schema).localCheckpoint(true)
    cut.foreach(_.unpersist(blocking = false))
    graph.unpersist(blocking = false)
    out
  }

  /** Assembles one partition's [[Part]] from its edge blocks. */
  private def build(blocks: Iterator[(Array[Long], Array[Long], Array[Long])],
                    seeds: Option[Set[Long]], hash: HashPartitioner): Part = {
    val bs = blocks.toArray
    val src = bs.flatMap(_._1); val dst = bs.flatMap(_._2)
    val ids = (src ++ bs.flatMap(_._3)).distinct.sorted
    val outdeg = new Array[Double](ids.length)
    for (b <- bs; s <- b._1.iterator ++ b._3.iterator)
      outdeg(java.util.Arrays.binarySearch(ids, s)) += 1.0
    val teleport = seeds.fold(Array.fill(ids.length)(1.0))(
      s => ids.map(id => if (s.contains(id)) 1.0 else 0.0))
    // edges by source; slots are the distinct destinations, ordered by
    // (target partition, id) so each target's block is a sorted range
    val bySrc = src.indices.sortBy(e => src(e)).toArray
    val slotDst = dst.distinct.sortBy(d => (hash.getPartition(d), d))
    val slotOf = slotDst.zipWithIndex.toMap
    val edgeStart = new Array[Int](ids.length + 1)
    src.foreach(s => edgeStart(java.util.Arrays.binarySearch(ids, s) + 1) += 1)
    for (i <- ids.indices) edgeStart(i + 1) += edgeStart(i)
    val slotStart = new Array[Int](hash.numPartitions + 1)
    slotDst.foreach(d => slotStart(hash.getPartition(d) + 1) += 1)
    for (p <- 0 until hash.numPartitions) slotStart(p + 1) += slotStart(p)
    new Part(ids, outdeg, teleport, edgeStart, bySrc.map(e => slotOf(dst(e))), slotStart,
      Array.tabulate(hash.numPartitions)(p => slotDst.slice(slotStart(p), slotStart(p + 1))))
  }

  /** Map side of a round: per target partition, its destinations and
    * their exact contribution sums (decimal(30,10) unscaled longs). */
  private def contribute(g: Part, rank: Array[Double]): Iterator[(Int, (Array[Long], Array[Long]))] = {
    val sums = new Array[Long](g.slotStart.last)
    for (i <- g.ids.indices) {
      val c = unscaled(rank(i) / g.outdeg(i))
      var e = g.edgeStart(i)
      while (e < g.edgeStart(i + 1)) {
        val s = g.edgeSlot(e)
        sums(s) = Math.addExact(sums(s), c)
        e += 1
      }
    }
    g.dsts.indices.iterator.filter(p => g.dsts(p).nonEmpty).map(p =>
      p -> (g.dsts(p), java.util.Arrays.copyOfRange(sums, g.slotStart(p), g.slotStart(p + 1))))
  }

  /** Reduce side of a round: merges the sorted blocks into the sources'
    * sums, then `0.15·t + 0.85·c` — the op sequence of the SQL round. */
  private def receive(g: Part, blocks: Iterator[(Int, (Array[Long], Array[Long]))]): Array[Double] = {
    val sum = new Array[Long](g.ids.length)
    blocks.foreach { case (_, (dst, c)) =>
      var i = 0; var j = 0
      while (j < dst.length) {
        while (i < g.ids.length && g.ids(i) < dst(j)) i += 1
        if (i < g.ids.length && g.ids(i) == dst(j)) sum(i) = Math.addExact(sum(i), c(j))
        j += 1
      }
    }
    Array.tabulate(g.ids.length)(i =>
      0.15 * g.teleport(i) + 0.85 * JBigDecimal.valueOf(sum(i), 10).doubleValue)
  }

  /** `Portable.r(x, 9)` then Spark's double → decimal(30,10) cast, as the
    * unscaled long. */
  private def unscaled(x: Double): Long = {
    val r = math.floor(x * 1e9 + 0.5).toLong.toDouble / 1e9
    new JBigDecimal(java.lang.Double.toString(r)).setScale(10, RoundingMode.HALF_UP)
      .unscaledValue.longValueExact
  }
}
