package graft.operators

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder, LongMap}

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Connected components by min-label pointer jumping — the clustering
  * step a dedup pipeline needs between "near-dup PAIRS" (Q-llm-02's output)
  * and a keep/drop decision: duplicates are transitive, so pairs must be
  * folded into components and one representative kept per component.
  *
  * Algorithm: every node starts labeled with its own id; each round, a
  * label class takes the min of itself and its neighbor classes, then
  * jumps the result one pointer hop through the node table
  * (label-of-label). The jump squares propagation, so rounds needed =
  * O(log diameter), not O(diameter). The class edges contract as
  * components converge, and the loop ends when none are left.
  *
  * Shape of the distributed path: one Spark job per round.
  *  - All state is one block of primitive `Array[Long]` columns per
  *    partition, placed by `HashPartitioner(spark.sql.shuffle.partitions)`
  *    on its key: the label table (`id`, `label`) by `id`, the canonical
  *    deduplicated class edges (`x < y`) by `x`.
  *  - A shuffle is [[exchange]]: each map task sends one column block per
  *    target partition. A join is a `zipPartitions` with a local lookup:
  *    a primitive hash map, or a binary search of the sorted label ids.
  *  - A round is eight exchanges, which the scheduler runs as one job:
  *    one builds the candidates, three route the pointer jump, two fold
  *    the remap into the labels and two contract the edges. The new label
  *    and edge blocks are locally checkpointed by the job that also
  *    counts the edges left; the previous round's blocks are then freed.
  *  - The `(id, label)` result is one `localCheckpoint`, unioned with the
  *    isolated nodes.
  *
  * Deterministic: min-label is order-independent, so the result is a pure
  * function of the edge set (no RNG, no partition sensitivity) — which is
  * what lets a DuckDB recursive-closure oracle hash-match it.
  */
object ConnectedComponents {

  /** Equal-length primitive columns: one partition's piece of a loop
    * state, or the rows one map task sends one target partition. */
  private type Cols = Array[Array[Long]]

  /** @param nodes one column `id`; @param edges columns `a`, `b`
    * (undirected, any orientation; integral ids). Returns (id, label)
    * with label = min node id of the component. An edge with a null
    * endpoint is dropped.
    *
    * Adaptive strategy (the broadcast-join principle applied to graphs):
    * a dedup pipeline's candidate-pair graph is TINY relative to its
    * corpus — LSH emits pairs, not rows, so even a 100 TB corpus yields
    * edge sets in the millions. When the edge count is at most
    * `driverMaxEdges`, the components are solved with a driver-side
    * union-find ([[driverPath]]): one edge pass, one collect, no shuffle.
    * Larger graphs run the distributed loop, whose ids come back in the
    * edge columns' integral type. */
  def minLabel(nodes: DataFrame, edges: DataFrame, maxIter: Int = 25,
      driverMaxEdges: Long = 1000000L): DataFrame = {
    val spark = nodes.sparkSession
    val sc = spark.sparkContext
    val idType = Seq(edges.schema("a").dataType, edges.schema("b").dataType)
      .maxBy(_.defaultSize)
    val hash = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // every locally checkpointed block RDD not yet freed; the finally
    // frees them whether the call returns or throws
    val held = ArrayBuffer.empty[RDD[_]]
    def keep(rdd: RDD[Cols]): RDD[Cols] = { held += rdd; rdd.localCheckpoint() }
    // a round's lookup maps, built once for the stages that read them
    def share[T](rdd: RDD[T]): RDD[T] = { held += rdd; rdd.persist(StorageLevel.MEMORY_ONLY) }
    def free(rdd: RDD[_]): Unit = { held -= rdd; rdd.unpersist(blocking = false) }
    def sizes(rdd: RDD[Cols]): Long =
      sc.runJob(rdd, (it: Iterator[Cols]) => it.map(_(0).length.toLong).sum).sum
    // one job materializes a label table and an edge set, and counts the edges
    def store(labels: RDD[Cols], e: RDD[Cols]): Long =
      sizes(labels.zipPartitions(e)((l, x) => { l.foreach(_ => ()); x }))
    try {
      // the edge pipeline upstream (e.g. the MinHash-LSH candidate+verify
      // DAG) runs once: this job counts its output and keeps it
      val raw = keep(IntegralIds.longs(edges, "ConnectedComponents", "a", "b")
        .mapPartitions { it =>
          val a = new ArrayBuilder.ofLong; val b = new ArrayBuilder.ofLong
          it.foreach(r => if (!r.isNullAt(0) && !r.isNullAt(1)) {
            a.addOne(r.getLong(0)); b.addOne(r.getLong(1))
          })
          Iterator.single(Array(a.result(), b.result()))
        })
      if (sizes(raw) <= driverMaxEdges) return driverPath(nodes, raw.collect())

      // CANONICAL orientation (lo, hi), self-loops dropped: half the rows
      // of a symmetrized edge list through every exchange below. A node
      // whose only edges are self-loops drops out here and lands in the
      // isolated union at the end with label = its own id — same answer.
      var e = keep(exchange(raw.map(block => emit(Iterator.single(block), 2) { (b, r, out) =>
        val x = b(0)(r); val y = b(1)(r)
        if (x != y) out.add(math.min(x, y), math.max(x, y))
      }), hash).mapPartitions(bs => Iterator.single(distinctPairs(bs.toSeq))))
      // every edge-connected node, labeled with its own id: the x ends
      // are already in place, the y ends move to their partition
      var labels = keep(e.zipPartitions(exchange(e.map(b => Array(b(1))), hash)) {
        (own, ys) =>
          val ids = (own ++ ys).map(_(0)).toArray.flatten
          java.util.Arrays.sort(ids)
          val distinct = emit(Iterator.single(Array(ids)), 1) { (_, r, out) =>
            if (r == 0 || ids(r) != ids(r - 1)) out.add(ids(r))
          }
          Iterator.single(Array(distinct(0), distinct(0)))
      })
      var active = store(labels, e)
      free(raw)

      // POINTER JUMPING OVER A CONTRACTING EDGE SET. Two pieces of state:
      // the per-node label table (all connected nodes — this is the
      // pointer memory that makes propagation double each round, so the
      // round count stays O(log diameter)), and the ACTIVE class-edge set:
      // the original edges re-expressed over current labels, with
      // intra-component self-loops dropped and duplicates collapsed. The
      // per-round edge shuffle DECREASES monotonically as components
      // converge, and convergence is free: the class-edge set is empty
      // ⟺ every component has collapsed to one label. (Contraction ALONE
      // is not enough: the contracted graph of a path is again a path
      // only two shorter — the per-node jump table is what compounds
      // progress geometrically.)
      //
      // The loop only has to contract the class graph down to a SMALL
      // residue: one union-find pass then finishes it. The finish
      // threshold sits well under the driver cap (cap/8): at the cap
      // itself the collect costs about what the rounds it replaces cost.
      // (driverMaxEdges = 0 keeps the loop fully distributed to absolute
      // convergence — the spec-pinned pure path.)
      val finishBelow = driverMaxEdges / 8
      var i = 0
      while (active > finishBelow && i < maxIter) {
        // per-class candidate cm = min of the class and its neighbor
        // classes. In a canonical edge the x end is the smaller, so only
        // the y ends can lower a candidate: they arrive in one
        // reverse-direction exchange; a class seen only as an x keeps
        // itself. Converged classes have no edges and do not appear.
        val cand: RDD[LongLongMap] = share(
          e.zipPartitions(exchange(e.map(b => Array(b(1), b(0))), hash)) { (own, rev) =>
            val xs = own.next()(0); val ys = rev.toArray
            val m = new LongLongMap(xs.length + ys.map(_(0).length).sum)
            rows(Iterator.single(Array(xs)))((_, r) => m(xs(r)) = xs(r))
            rows(ys.iterator) { (b, r) =>
              val y = b(0)(r)
              m(y) = math.min(m.getOrElse(y, y), b(1)(r))
            }
            Iterator.single(m)
          })
        // CLASS remap with the pointer jump folded in: class cl steps to
        // min(cm, cand(label(cm))). The label lookup routes the jump
        // THROUGH THE NODE TABLE, whose pointers compound across rounds.
        // (Jumping at class level only — cand(cand(cl)) — is
        // shift-by-two on a path, and remapping edges through the node
        // table directly lets edges contract faster than labels converge,
        // so the loop would exit with labels mid-flight.)
        // (cm, cl) to cm's partition, which looks up label(cm); then
        // (label(cm), cl, cm) to label(cm)'s partition:
        val viaLabel = exchange(labels.zipPartitions(exchange(cand.map { m =>
          val out = new Out(2, m.size)
          m.foreach((c, v) => out.add(v, c))
          out.result
        }, hash)) { (l, q) =>
          val Array(ids, lab) = l.next()
          Iterator.single(emit(q, 3) { (b, r, out) =>
            val k = java.util.Arrays.binarySearch(ids, b(0)(r))
            out.add(if (k >= 0) lab(k) else b(0)(r), b(1)(r), b(0)(r))
          })
        }, hash)
        // there cand(label(cm)) completes the jump, and (cl, new) goes to
        // cl's partition; only classes that move are sent
        val rm: RDD[LongLongMap] = share(exchange(cand.zipPartitions(viaLabel) { (c, q) =>
          val m = c.next()
          Iterator.single(emit(q, 2) { (b, r, out) =>
            val lcm = b(0)(r); val cl = b(1)(r)
            val next = math.min(b(2)(r), m.getOrElse(lcm, lcm))
            if (next != cl) out.add(cl, next)
          })
        }, hash).mapPartitions(bs => Iterator.single(toMap(bs))))

        // fold the remap into the labels: (label, id) to the label's
        // partition, the changed (id, label) pairs back to the id's
        val moved = exchange(exchange(labels.map(b => Array(b(1), b(0))), hash)
          .zipPartitions(rm) { (q, r) =>
            val m = r.next()
            Iterator.single(emit(q, 2) { (b, i, out) =>
              val to = m.getOrElse(b(0)(i), b(0)(i))
              if (to != b(0)(i)) out.add(b(1)(i), to)
            })
          }, hash)
        val nextLabels = keep(labels.zipPartitions(moved) { (l, q) =>
          val Array(ids, lab) = l.next()
          val out = lab.clone()
          rows(q)((b, r) => out(java.util.Arrays.binarySearch(ids, b(0)(r))) = b(1)(r))
          Iterator.single(Array(ids, out))
        })
        // contract: re-express class edges over the remap (x here, then
        // (y, new x) at y's partition), re-canonicalize, drop
        // intra-component edges, collapse duplicates. THIS is the monotone shrink — an edge whose
        // endpoints now agree never shuffles again.
        val halfway = exchange(e.zipPartitions(rm) { (x, r) =>
          val m = r.next()
          Iterator.single(emit(x, 2)((b, i, out) => out.add(b(1)(i), m.getOrElse(b(0)(i), b(0)(i)))))
        }, hash)
        val nextE = keep(exchange(halfway.zipPartitions(rm) { (q, r) =>
          val m = r.next()
          Iterator.single(emit(q, 2) { (b, i, out) =>
            val ny = m.getOrElse(b(0)(i), b(0)(i)); val nx = b(1)(i)
            if (nx != ny) out.add(math.min(nx, ny), math.max(nx, ny))
          })
        }, hash).mapPartitions(bs => Iterator.single(distinctPairs(bs.toSeq))))

        active = store(nextLabels, nextE)
        Seq(labels, e, cand, rm).foreach(free)
        labels = nextLabels; e = nextE
        i += 1
      }
      // a silent non-converged result would diverge from the transitive
      // closure with no error — fail loudly instead
      if (active > finishBelow)
        throw new IllegalStateException(
          s"connected components did not converge after $maxIter rounds " +
            s"($active active edges remain); raise maxIter")
      // CONTRACTED DRIVER FINISH: the class graph now fits the memory
      // budget that gates the driver path — one collect + union-find
      // resolves every remaining merge, and the final class remap rides
      // the result's own job. Classes outside the residue pass through
      // (already final). Same pure function of the edge set as looping
      // to absolute convergence (both compute min-per-component).
      val fin = sc.broadcast(if (active > 0) unionFind(e.collect()) else LongMap.empty[Long])
      val toId = IntegralIds.toId(idType)
      val result = labels.mapPartitions { l =>
        val Array(ids, lab) = l.next(); val f = fin.value
        Iterator.tabulate(ids.length)(r => Row(toId(ids(r)), toId(f.getOrElse(lab(r), lab(r)))))
      }
      val out = spark.createDataFrame(result,
        StructType(Seq(StructField("id", idType), StructField("label", idType))))
        .localCheckpoint(true)
      fin.destroy()
      // the label table has exactly one row per edge-connected node, so
      // it doubles as the connected-id set for the isolated anti-join
      val isolated = nodes.join(out, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("label"))
      out.unionAll(isolated)
    } finally held.toList.foreach(free)
  }

  /** Sends every row of each block to the partition of its first column:
    * the map side counting-sorts a block's rows by target partition and
    * emits one column block per target, so no boxed tuple or `Row` is
    * shuffled. A partition receives one block per map task that had rows
    * for it. */
  private def exchange(blocks: RDD[Cols], hash: HashPartitioner): RDD[Cols] =
    blocks.mapPartitions(_.flatMap { b =>
      val key = b(0); val n = hash.numPartitions
      val target = new Array[Int](key.length)
      val start = new Array[Int](n + 1)
      var r = 0
      while (r < key.length) {
        target(r) = partition(key(r), n); start(target(r) + 1) += 1
        r += 1
      }
      for (p <- 0 until n) start(p + 1) += start(p)
      val at = start.clone()
      val sorted = b.map(_ => new Array[Long](key.length))
      r = 0
      while (r < key.length) {
        val to = at(target(r)); at(target(r)) += 1
        var c = 0
        while (c < b.length) { sorted(c)(to) = b(c)(r); c += 1 }
        r += 1
      }
      (0 until n).iterator.filter(p => start(p + 1) > start(p)).map(p =>
        p -> sorted.map(java.util.Arrays.copyOfRange(_, start(p), start(p + 1))))
    }).partitionBy(hash).values

  /** `HashPartitioner`'s placement of a long key, without boxing it. */
  private def partition(v: Long, n: Int): Int = {
    val h = java.lang.Long.hashCode(v) % n
    if (h < 0) h + n else h
  }

  /** Per-row callbacks; as SAM types the row number is not boxed. */
  private trait RowFn { def apply(b: Cols, r: Int): Unit }
  private trait EmitFn { def apply(b: Cols, r: Int, out: Out): Unit }

  /** Calls `f(block, row)` for every row of `blocks`. */
  private def rows(blocks: Iterator[Cols])(f: RowFn): Unit =
    blocks.foreach { b =>
      var r = 0
      while (r < b(0).length) { f(b, r); r += 1 }
    }

  /** A `width`-column block of the rows `f` adds, at most one for each
    * row of `blocks`. */
  private def emit(blocks: Iterator[Cols], width: Int)(f: EmitFn): Cols = {
    val bs = blocks.toArray
    val out = new Out(width, bs.map(_(0).length).sum)
    rows(bs.iterator)((b, r) => f(b, r, out))
    out.result
  }

  /** Up to `capacity` rows of `width` columns, added one at a time. */
  private final class Out(width: Int, capacity: Int) {
    private val cols = Array.fill(width)(new Array[Long](capacity))
    private var n = 0
    def add(a: Long): Unit = { cols(0)(n) = a; n += 1 }
    def add(a: Long, b: Long): Unit = { cols(0)(n) = a; cols(1)(n) = b; n += 1 }
    def add(a: Long, b: Long, c: Long): Unit = {
      cols(0)(n) = a; cols(1)(n) = b; cols(2)(n) = c; n += 1
    }
    def result: Cols = cols.map(java.util.Arrays.copyOf(_, n))
  }

  /** The first column of two-column blocks mapped to the second. */
  private def toMap(blocks: Iterator[Cols]): LongLongMap = {
    val bs = blocks.toArray
    val m = new LongLongMap(bs.map(_(0).length).sum)
    rows(bs.iterator)((b, r) => m(b(0)(r)) = b(1)(r))
    m
  }

  /** An open-addressing long → long map with room for `maxKeys` keys,
    * fixed at construction; no boxing. A key and its value share one
    * cache line: `slots` holds key, value pairs, [[Free]] marks an empty
    * slot, and the key equal to [[Free]] is kept beside the table. */
  private final class LongLongMap(maxKeys: Int) {
    private val mask = Integer.highestOneBit(math.max(2, maxKeys) * 2 - 1) * 2 - 1
    private val slots = new Array[Long](2 * (mask + 1))
    java.util.Arrays.fill(slots, Free)
    private var freeKeyValue: Option[Long] = None
    private var keys = 0
    def size: Int = keys
    private def slot(k: Long): Int = {
      var h = mix(k) & mask
      while (slots(2 * h) != Free && slots(2 * h) != k) h = (h + 1) & mask
      2 * h
    }
    def getOrElse(k: Long, default: Long): Long =
      if (k == Free) freeKeyValue.getOrElse(default)
      else {
        val h = slot(k)
        if (slots(h) == Free) default else slots(h + 1)
      }
    def update(k: Long, v: Long): Unit =
      if (k == Free) {
        if (freeKeyValue.isEmpty) keys += 1
        freeKeyValue = Some(v)
      } else {
        val h = slot(k)
        if (slots(h) == Free) keys += 1
        slots(h) = k; slots(h + 1) = v
      }
    def foreach(f: (Long, Long) => Unit): Unit = {
      freeKeyValue.foreach(v => f(Free, v))
      var h = 0
      while (h < slots.length) {
        if (slots(h) != Free) f(slots(h), slots(h + 1))
        h += 2
      }
    }
  }
  private final val Free = Long.MinValue

  /** A 64-bit hash finalizer (splitmix64), folded to an int. */
  private def mix(v: Long): Int = {
    var z = v
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)).toInt
  }

  /** The distinct rows of two-column blocks, by open addressing over row
    * numbers (no sort, no boxing). */
  private def distinctPairs(blocks: Seq[Cols]): Cols = {
    val xs = blocks.map(_(0)).toArray.flatten
    val ys = blocks.map(_(1)).toArray.flatten
    val mask = Integer.highestOneBit(math.max(2, xs.length) * 2 - 1) * 2 - 1
    val slot = new Array[Int](mask + 1)
    java.util.Arrays.fill(slot, -1)
    emit(Iterator.single(Array(xs, ys)), 2) { (_, r, out) =>
      var h = mix(xs(r) * 0x9E3779B97F4A7C15L + ys(r)) & mask
      while (slot(h) >= 0 && (xs(slot(h)) != xs(r) || ys(slot(h)) != ys(r))) h = (h + 1) & mask
      if (slot(h) < 0) { slot(h) = r; out.add(xs(r), ys(r)) }
    }
  }

  /** (id -> min-root) for every id appearing in the two-column edge
    * `blocks`: classic union-find, max root always attached under the min
    * root — so every root IS its component's minimum. LongMap:
    * open-addressed primitive-long keys. */
  private def unionFind(blocks: Array[Cols]): LongMap[Long] = {
    val parent = LongMap.empty[Long]
    def find(v: Long): Long = {
      var r = v
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = v // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows(blocks.iterator) { (b, i) =>
      val (a, c) = (b(0)(i), b(1)(i))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(c, c)
      val (ra, rc) = (find(a), find(c))
      if (ra != rc) parent(math.max(ra, rc)) = math.min(ra, rc)
    }
    parent.keys.toArray.foreach(v => parent(v) = find(v))
    parent
  }

  /** Small-graph fast path over the collected edge blocks: union-find
    * with the max root always attached under the min root, so every root
    * IS its component's minimum id and the result is the same pure
    * function of the edge set as the distributed loop (equality pinned
    * per-seed in GraphLayoutPropertySpec). */
  private def driverPath(nodes: DataFrame, blocks: Array[Cols]): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val roots = unionFind(blocks)
    val labels = roots.keys.toSeq.sorted.map(v => (v, roots(v)))
    val connectedIds = labels.map(_._1).toDF("id")
    val isolated = nodes.join(broadcast(connectedIds), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    labels.toDF("id", "label").unionAll(isolated)
  }
}
