package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation — the clustering
  * step a dedup pipeline needs between "near-dup PAIRS" (Q-llm-02's output)
  * and a keep/drop decision: duplicates are transitive, so pairs must be
  * folded into components and one representative kept per component.
  *
  * Algorithm: every node starts labeled with its own id; each round, a node
  * takes the min of its label and its neighbors' labels, then jumps the
  * result one pointer hop (label-of-label); converged when no label
  * changes. The jump squares propagation, so rounds needed =
  * O(log diameter), not O(diameter). Each round is one shuffled
  * equi-join + groupBy plus one label self-join — the same
  * driver-coordinated iterative shape GraphX/Pregel use, every step fully
  * distributed; nothing driver-side but the convergence counter.
  *
  * Deterministic: min-label is order-independent, so the result is a pure
  * function of the edge set (no RNG, no partition sensitivity) — which is
  * what lets a DuckDB recursive-closure oracle hash-match it.
  */
object ConnectedComponents {

  /** @param nodes one column `id`; @param edges columns `a`, `b`
    * (undirected, any orientation). Returns (id, label) with label = min
    * node id of the component.
    *
    * Adaptive strategy (the broadcast-join principle applied to graphs):
    * a dedup pipeline's candidate-pair graph is TINY relative to its
    * corpus — LSH emits pairs, not rows, so even a 100 TB corpus yields
    * edge sets in the millions. When the materialized edge count is at
    * most `driverMaxEdges`, the components are solved with a driver-side
    * union-find in one pass — no per-round shuffles at all. Driver-heap
    * budget, honestly: collected Row objects plus the LongMap-backed
    * union-find cost on the order of 100-200 BYTES per edge transiently
    * (boxed fields, map overhead — not the 16 raw bytes of two longs), so
    * the 1M default budgets ~100-200 MB of transient heap against a
    * driver sized in GBs. Larger graphs fall through to the distributed
    * min-label loop below.
    *
    * Iteration hygiene for the distributed path (what makes a DataFrame
    * loop scale): every round is `localCheckpoint`ed so the logical plan
    * stays constant-size instead of growing per iteration (planning time
    * would otherwise dominate); propagation runs only over edge-CONNECTED
    * nodes (isolated nodes are their own singleton component by
    * definition and are unioned back at the end); and convergence
    * piggybacks on the same action that materializes the round (one job
    * per iteration, not three). */
  def minLabel(nodes: DataFrame, edges: DataFrame, maxIter: Int = 25,
      driverMaxEdges: Long = 1000000L): DataFrame = {
    val sc = nodes.sparkSession.sparkContext
    // localCheckpoint blocks are only released by GC-driven cleanup, so an
    // iterative loop must free each round's intermediates itself — on a
    // long-running cluster app the accumulation (2 checkpoints x rounds x
    // runs) evicts useful cache and eventually spills every round.
    // Checkpoint via this helper to learn which persisted RDDs back each
    // DataFrame, and unpersist a round's intermediates as soon as the next
    // round's state is materialized.
    def ckpt(df: DataFrame): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
      val cp = df.localCheckpoint(true)
      // the checkpointed plan is a single LogicalRDD leaf over the
      // persisted internal RDD — take that handle DIRECTLY. (The earlier
      // global getPersistentRDDs before/after diff races when two ckpts
      // run concurrently: each claims the other's freshly persisted RDD,
      // and the round's cleanup then unpersists live loop state —
      // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on the next read.)
      val fresh = cp.queryExecution.logical.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }.toSeq
      // STRIP the inherited size estimate. localCheckpoint carries the
      // ORIGIN plan's estimated sizeInBytes into the LogicalRDD it
      // returns, and Catalyst estimates a join as the PRODUCT of its
      // children — so in a loop whose rounds join k checkpointed frames,
      // the carried estimate's bit-length grows k-fold per round. By
      // round ~8 join selection is multiplying million-bit BigIntegers
      // and planning dwarfs execution (observed: a 400-node chain spun
      // 30+ min inside SizeInBytesOnlyStatsPlanVisitor). The leaf is
      // rebuilt over the SAME materialized InternalRow RDD with
      // originStats dropped (CheckpointBridge) — constant-cost stats
      // every round with zero per-row conversion, and the checkpoint's
      // hash partitioning/ordering survive so same-keyed consumers skip
      // their exchange. (The earlier public-API form,
      // createDataFrame(cp.rdd, schema), paid an InternalRow->Row->
      // InternalRow round-trip per row per round and forgot the
      // partitioning.) Broadcast decisions inside the loop fall to AQE's
      // runtime shuffle sizes, which are the real ones anyway.
      val out = org.apache.spark.sql.graft.CheckpointBridge
        .resetStatsKeepLayout(cp)
      (out, fresh)
    }
    // materialize the edge list ONCE before symmetrizing: unioning two
    // selects of `edges` would otherwise evaluate the whole upstream edge
    // pipeline (e.g. the MinHash-LSH candidate+verify DAG) once per union
    // branch
    val (e1, e1Rdds) = ckpt(edges.select(col("a").as("x"), col("b").as("y")))
    if (e1.count() <= driverMaxEdges) {
      val out = driverPath(nodes, e1)
      e1Rdds.foreach(_.unpersist(blocking = false))
      return out
    }
    // CANONICAL orientation (lo, hi): half the rows/bytes of a
    // symmetrized edge list through every remap join and distinct below;
    // the neighbor-min aggregation reads both directions via a cheap
    // union of two scans of the same cached frame. A node whose only
    // edges are self-loops drops out here and lands in the isolated
    // union at the end with label = its own id — same answer.
    val (e0, e0Rdds) = ckpt(
      e1.select(least(col("x"), col("y")).as("x"),
          greatest(col("x"), col("y")).as("y"))
        .filter(col("x") =!= col("y")))
    e1Rdds.foreach(_.unpersist(blocking = false))
    var (labels, labelRdds) = ckpt(
      e0.select(col("x").as("id")).unionAll(e0.select(col("y").as("id")))
        .distinct().select(col("id"), col("id").as("label")))
    // POINTER JUMPING OVER A CONTRACTING EDGE SET. Two pieces of state:
    // the per-node label table (all connected nodes — this is the
    // pointer memory that makes propagation double each round, so the
    // round count stays O(log diameter)), and the ACTIVE class-edge set:
    // the original edges re-expressed over current labels, with
    // intra-component self-loops dropped and duplicates collapsed.
    // Messages flow over the class edges, so the per-round edge shuffle
    // DECREASES monotonically as components converge — a plain min-label
    // loop re-shuffles the full edge set every round just to confirm
    // labels that were final rounds ago. (Contraction ALONE is not
    // enough: the contracted graph of a path is again a path only two
    // shorter, so a pure super-graph loop needs O(diameter) rounds — the
    // per-node jump table is what compounds progress geometrically.)
    // Convergence is free: the class-edge set is empty ⟺ every
    // component has collapsed to one label. Determinism is unchanged —
    // min is order-independent and contraction preserves connectivity
    // between label classes, so the result stays a pure function of the
    // edge set.
    var e = e0
    var eRdds = e0Rdds
    var active = e.count()
    var i = 0
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // the loop only has to contract the class graph down to a SMALL
    // residue — one union-find pass + one broadcast remap then finish
    // it, instead of paying log(residual diameter) more distributed
    // rounds. The finish threshold sits well under the driver cap
    // (cap/8): at the cap itself the collect+broadcast costs about what
    // the rounds it replaces cost, so only a residue that is genuinely
    // small is worth pulling to the driver. (driverMaxEdges = 0 keeps
    // the loop fully distributed to absolute convergence — the
    // spec-pinned pure path.)
    val finishBelow = driverMaxEdges / 8
    // Contraction is the only distributed loop: a same-host A/B against
    // a constant-shuffle fixed-edge loop measured it faster even on a
    // 1.2 M-edge chain, its worst case (BASELINE.md, round 8), because its
    // late rounds shrink and its convergence test (class-edge set empty)
    // is free, while on cliques it exits after one round.
    while (active > finishBelow && i < maxIter) {
      // per-class candidate: min over the class and its neighbor classes
      // — one aggregation over the (shrinking) active edge set, reading
      // both directions of the canonical list. Classes whose component
      // already converged have no edges left and simply don't appear.
      def cand = e.select(col("x").as("cl"), col("y").as("nbr"))
        .unionAll(e.select(col("y").as("cl"), col("x").as("nbr")))
        .groupBy("cl").agg(min("nbr").as("nbr"))
        .select(col("cl"), least(col("cl"), col("nbr")).as("cm"))
      // CLASS remap with the pointer jump folded in: class cl steps to
      // min(cm(cl), cand(label(cm(cl)))) — the label lookup routes the
      // jump THROUGH THE NODE TABLE, whose pointers compound across
      // rounds, keeping the round count O(log diameter). (Jumping at
      // class level only — cand(cand(cl)) — is shift-by-two on a path:
      // the contracted graph of a path is again a path, so a pure
      // super-graph loop degrades to O(diameter) rounds. And remapping
      // edges through the node table directly is WRONG the other way:
      // node cl's own label can run ahead of class cl's members, so
      // edges would contract faster than labels converge and the loop
      // would exit with labels mid-flight.) The two cand occurrences
      // share one exchange (identical aggregation subtrees); rm is
      // class-sized and shrinking, so AQE broadcasts it in late rounds.
      // (measured: a second label-routed hop per round trades 6 rounds
      // for 4 but makes rm a 5-join chain whose critical path costs more
      // than the rounds it saves — one hop is the optimum here)
      val (rm, rmRdds) = ckpt(
        cand
          .join(labels.select(col("id").as("cm"), col("label").as("lcm")),
            Seq("cm"), "left")
          .join(cand.select(col("cl").as("lcm"), col("cm").as("jump")),
            Seq("lcm"), "left")
          .select(col("cl").as("old"),
            least(col("cm"),
              coalesce(col("jump"), col("lcm"), col("cm"))).as("new")))
      // the label fold and the edge contraction both depend only on rm —
      // run them as CONCURRENT jobs (independent plans over materialized
      // inputs; local[32] has idle cores in every stage tail).
      val stepF = Future(ckpt(
        labels.join(rm.withColumnRenamed("old", "label"), Seq("label"), "left")
          .select(col("id"), coalesce(col("new"), col("label")).as("label"))))
      // contract: re-express class edges over the remap, re-canonicalize,
      // drop intra-component edges, collapse duplicates. THIS is the
      // monotone shrink — an edge whose endpoints now agree never
      // shuffles again.
      val stepEF = Future {
        val r = ckpt(
          e.join(rm.select(col("old").as("x"), col("new").as("nx")), Seq("x"))
            .join(rm.select(col("old").as("y"), col("new").as("ny")), Seq("y"))
            .select(least(col("nx"), col("ny")).as("x"),
              greatest(col("nx"), col("ny")).as("y"))
            .filter(col("x") =!= col("y"))
            .distinct())
        (r._1, r._2, r._1.count())
      }
      val (step, stepRdds) = Await.result(stepF, Duration.Inf)
      val (stepE, stepERdds, stepActive) = Await.result(stepEF, Duration.Inf)
      active = stepActive
      (labelRdds ++ eRdds ++ rmRdds).foreach(_.unpersist(blocking = false))
      labels = step; labelRdds = stepRdds
      e = stepE; eRdds = stepERdds
      i += 1
    }
    // a silent non-converged result would diverge from the transitive
    // closure with no error — fail loudly instead
    if (active > finishBelow) {
      (labelRdds ++ eRdds).foreach(_.unpersist(blocking = false))
      throw new IllegalStateException(
        s"connected components did not converge after $maxIter rounds " +
          s"($active active edges remain); raise maxIter")
    }
    if (active > 0) {
      // CONTRACTED DRIVER FINISH: the class graph now fits the same
      // memory budget that gates the small-graph fast path — one
      // collect + union-find resolves every remaining merge, and ONE
      // broadcast left-join folds the final class remap into the node
      // labels. Classes outside the residue pass through (already
      // final). Same pure function of the edge set as looping to
      // absolute convergence (both compute min-per-component).
      val fin = unionFindPairs(e.collect().map(r =>
        (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)))
      val spark = nodes.sparkSession
      import spark.implicits._
      val xType = e.schema("x").dataType
      // distribute the remap before broadcasting — an N-hundred-k-row
      // LocalRelation would ride inside the plan itself
      val rmF = sc.parallelize(fin,
          math.max(1, fin.length / 250000)).toDF("label", "fl")
        .select(col("label").cast(xType).as("label"),
          col("fl").cast(xType).as("fl"))
      // ckpt: the final label table is consumed twice below (result +
      // isolated anti-join) — un-materialized, the broadcast join would
      // rebuild per consumer
      val (fl2, fl2Rdds) = ckpt(
        labels.join(broadcast(rmF), Seq("label"), "left")
          .select(col("id"), coalesce(col("fl"), col("label")).as("label")))
      labelRdds.foreach(_.unpersist(blocking = false))
      labels = fl2; labelRdds = fl2Rdds
    }
    eRdds.foreach(_.unpersist(blocking = false))
    // the final label table has exactly one row per edge-connected node,
    // so it doubles as the connected-id set for the isolated anti-join
    val isolated = nodes.join(labels, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    labels.unionAll(isolated)
  }

  /** (id -> min-root) for every id appearing in `pairs`: classic
    * union-find, max root always attached under the min root — so every
    * root IS its component's minimum. LongMap: open-addressed
    * primitive-long keys, no per-key boxing. */
  private def unionFindPairs(pairs: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(v: Long): Long = {
      var r = v
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = v // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.sorted.map(v => (v, find(v)))
  }

  /** Small-graph fast path: one collect, classic union-find with the max
    * root always attached under the min root — so every root IS its
    * component's minimum id and the result is the same pure function of
    * the edge set as the distributed loop (equality pinned per-seed in
    * GraphLayoutPropertySpec). */
  private def driverPath(nodes: DataFrame, e1: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // getAs[Number]: edge ids may be int-typed (the distributed loop is
    // type-agnostic, so this path must not be the one that throws)
    val labels = unionFindPairs(e1.collect().map(r =>
      (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)))
    val connectedIds = labels.map(_._1).toDF("id")
    val isolated = nodes.join(broadcast(connectedIds), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    labels.toDF("id", "label").unionAll(isolated)
  }
}
