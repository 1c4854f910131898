package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Synchronous label-propagation community detection (LPA) over an
  * `(src, dst)` edge DataFrame — the cheap communities-without-a-model
  * primitive (near-duplicate *neighborhoods* in a crawl graph, boards/
  * forums in a link graph) that complements ConnectedComponents (which
  * only finds reachability islands) and k-core (which only thresholds
  * density).
  *
  * Semantics (deterministic by construction, so a fixed round count is
  * hash-matchable cross-engine):
  *  - every node (src or dst of any edge) starts labeled with its own id;
  *  - each round, every node adopts the label carried by the PLURALITY
  *    of its in-neighbors (a node with no in-neighbors keeps its current
  *    label), ties broken toward the SMALLEST label —
  *    synchronous updates (all nodes step from the round-(i-1) state),
  *    not the randomized asynchronous sweep of the original paper,
  *    which is irreproducible by design.
  *
  * The plurality argmax with min-label tie-break is packed into one
  * int64 so it aggregates as a plain `max` (partial-agg combinable,
  * order-free): `packed = cnt * PACK - label` — maximizing packed
  * maximizes cnt and, within a count tie, minimizes label. Exact while
  * labels < PACK (1e8) and cnt * PACK fits int64 (cnt < 9e10) — far
  * beyond any per-node in-degree this engine will meet; a planet-scale
  * id space would widen to a (cnt, -label) struct max, same plan.
  *
  * Scale shape (the part that must survive 1000 executors): the edge
  * table is hash-partitioned by `src` once and persisted; each round is
  * (a) one join that re-shuffles ONLY the |V|-row label table onto the
  * stationary edges, (b) one partial-agg count keyed (dst, label) whose
  * exchange is bounded by distinct (dst, label) pairs ≤ |E|, and (c)
  * one |V|-bounded max. Per-round plans stay constant-size via eager
  * localCheckpoint.
  */
object LabelPropagation {

  /** Pack base: labels must be < PACK. */
  val PACK = 100000000L

  /** Returns `(id, label)` after `iterations` synchronous rounds.
    *
    * Directed-graph semantics: the node set is src UNION dst (a dst-only
    * node still gets a self-label), and a node with NO in-neighbors keeps
    * its previous label each round (its row never leaves the output and
    * its out-votes keep flowing) — the winners are left-joined back onto
    * the full label table, one extra |V|-vs-|V| keyed join per round.
    * On a symmetrized graph every node has in-neighbors, so this reduces
    * to the plain vote-winner table. */
  def run(edges: DataFrame, iterations: Int): DataFrame = {
    val e = edges.repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = nodes.withColumn("label", col("id"))
    var prev: Option[DataFrame] = None
    for (_ <- 1 to iterations) {
      val votes = e.join(labels, e("src") === labels("id"))
        .select(col("dst"), col("label"))
      val packed = votes.groupBy("dst", "label")
        .agg(count(lit(1)).as("cnt"))
        .select(col("dst"),
          (col("cnt") * lit(PACK) - col("label")).as("p"))
      // recover label from the winning packed value with pure integer
      // division ((p + PACK-1) div PACK == cnt because label ∈ [1, PACK))
      // — no float quotient anywhere, so engines can't disagree
      val winners = packed.groupBy("dst").agg(max(col("p")).as("m"))
        .select(col("dst").as("id"),
          (expr(s"(m + ${PACK - 1}) DIV $PACK") * lit(PACK) - col("m"))
            .as("win"))
      val next = labels.join(winners, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("win"), col("label")).as("label"))
        .localCheckpoint(true)
      prev.foreach(_.unpersist())
      prev = Some(next)
      labels = next
    }
    e.unpersist()
    nodes.unpersist()
    labels
  }
}
