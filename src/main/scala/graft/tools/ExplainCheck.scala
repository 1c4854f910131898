package graft.tools

import graft.SparkEntry
import graft.core.EngineSession

/** Dev tool: assert the physical plans have the scale-critical shapes —
  * filter/column pushdown into the parquet scan, broadcast joins for dims,
  * TakeOrderedAndProject for global top-k, whole-stage codegen coverage.
  * Prints PLAN-OK / PLAN-BAD lines and exits 1 when any check is bad, so
  * it can gate a script; run after plan-affecting changes.
  */
object ExplainCheck {

  def main(args: Array[String]): Unit = {
    val s = EngineSession.getOrCreate("explain-check")
    val d = "/root/testdata/sf0.001"

    def plan(name: String): String = {
      val df = SparkEntry.queries(name)(s, d)
      df.queryExecution.executedPlan.toString
    }

    var bad = 0
    def report(ok: Boolean, name: String, what: String, p: String): Unit = {
      println(s"${if (ok) "PLAN-OK " else "PLAN-BAD"} $name: $what")
      if (!ok) {
        bad += 1
        println(p.linesIterator.take(40).mkString("\n"))
      }
    }

    def check(name: String, what: String, pred: String => Boolean): Unit = {
      val p = plan(name)
      report(pred(p), name, what, p)
    }

    // restore whatever value was configured before (set or unset), rather
    // than clobbering a session/user override with the stock default
    def withBroadcastDisabled(body: => Unit): Unit = {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "-1")
      try body
      finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
    }

    // predicate pushdown reaches the parquet scan
    check("Q-filt-01", "PushedFilters on orders scan",
      _.contains("PushedFilters: [") )
    // column pruning: Q-proj-01 must not read all 11 lineitem columns
    check("Q-proj-01", "pruned ReadSchema (no l_shipdate in scan)",
      p => p.contains("ReadSchema") && !p.contains("l_shipdate"))
    // dim joins broadcast
    check("Q-join-04", "BroadcastHashJoin for nation/region",
      _.contains("BroadcastHashJoin"))
    check("Q-join-07", "BroadcastHashJoin present in 6-table join",
      _.contains("BroadcastHashJoin"))
    // global top-k plans as TakeOrderedAndProject
    check("Q-sort-02", "TakeOrderedAndProject",
      _.contains("TakeOrderedAndProject"))

    // A-ES weighted sampling: the k-smallest-keys selection must ALSO be
    // a TakeOrderedAndProject (per-partition top-k, O(k·partitions) moves)
    // and the weight filter must reach the scan
    check("Q-scan-21", "weighted sample via TakeOrderedAndProject + pushed filter",
      p => p.contains("TakeOrderedAndProject") && p.contains("PushedFilters"))

    // per-stratum weighted sampling: rank ≤ k must plan as a PARTIAL
    // WindowGroupLimit (each partition forwards ≤ k rows per stratum)
    check("Q-scan-22", "stratified weighted draw via partial WindowGroupLimit",
      p => p.contains("WindowGroupLimit") && p.contains("Partial"))

    // one-pass profiler: multi-distinct resolves through a single Expand
    // over ONE parquet scan (no per-column re-read)
    check("Q-qual-31", "profiler is one scan + Expand",
      p => p.contains("Expand") &&
        "Scan parquet".r.findAllIn(p).size == 1)
    // range join is an equi-join (shuffle/broadcast hash), NOT a BNLJ
    check("Q-join-05", "no BroadcastNestedLoopJoin",
      p => !p.contains("BroadcastNestedLoopJoin"))
    // cosine expression stays inside whole-stage codegen (execute first:
    // under AQE the final plan only materializes after an action)
    locally {
      val df = SparkEntry.queries("Q-llm-03")(s, d)
      df.collect() // finalize the AQE plan on THIS DataFrame's execution
      val p = df.queryExecution.executedPlan.toString
      // codegen stages render as "*(n) Project ..." in the simple plan
      val ok = p.linesIterator.exists(l => l.contains("*(") && l.contains("Project")) &&
        !p.contains("CodegenFallback")
      report(ok, "Q-llm-03",
        "cosine_sim projection inside a WholeStageCodegen stage", p)
      // the auto partial top-k is the 100 TB safeguard: only k rows per
      // partition reach the rank shuffle
      val gl = p.contains("WindowGroupLimit") && p.contains("Partial")
      report(gl, "Q-llm-03",
        "partial WindowGroupLimit before exchange", p)
    }
    // dynamic partition pruning: the fact scan must carry a runtime
    // partition filter fed by the dim side
    check("Q-join-12", "dynamicpruning on partitioned fact scan",
      _.toLowerCase.contains("dynamicpruning"))
    // static partition pruning: the Hive-layout read must push the
    // partition-key predicate into PartitionFilters (directory-level skip)
    check("Q-scan-11", "PartitionFilters prune o_orderstatus directories",
      p => p.contains("PartitionFilters: [") &&
           p.substring(p.indexOf("PartitionFilters: ["))
            .takeWhile(_ != ']').contains("o_orderstatus"))
    // runtime bloom-filter join: the selective dim filter becomes a bloom
    // filter applied to the fact side before its shuffle
    // injection is size-gated: a dim small enough to broadcast never gets
    // a bloom filter (the broadcast join already filters). Disable
    // broadcast to emulate the 100 TB shuffle-join shape the filter is for.
    withBroadcastDisabled {
      {
        val df = SparkEntry.queries("Q-join-13")(s, d)
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        // renders as might_contain(<bloom_filter_agg subquery>) on the fact
        // side's pre-shuffle Filter
        val ok = p.contains("might_contain") && p.contains("bloom_filter_agg")
        report(ok, "Q-join-13",
          "bloom might_contain on fact side before shuffle (broadcast disabled)", p)
      }
    }
    // correlated LATERAL top-1 decorrelates to a partial WindowGroupLimit
    // (only 1 row per group survives each partition before the shuffle)
    check("Q-sub-03", "LATERAL decorrelated to partial WindowGroupLimit",
      p => p.contains("WindowGroupLimit") && p.contains("Partial") &&
           !p.contains("CartesianProduct"))
    // LSH ANN: bucket probe must be an equi-join on (table, bucket) —
    // never a cartesian/BNLJ over the corpus
    check("Q-llm-14", "LSH probe is an equi-join (no cartesian/BNLJ)",
      p => !p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"))
    // partial aggregation before the shuffle (map-side combine)
    check("Q-agg-01", "partial HashAggregate before exchange",
      p => p.contains("HashAggregate") && p.contains("Exchange"))
    // SQL entry path plans like the DataFrame path: broadcast dims +
    // top-k as TakeOrderedAndProject (k rows per partition, no full sort)
    check("Q-sql-01", "SQL text plans broadcast join + TakeOrderedAndProject",
      p => p.contains("TakeOrderedAndProject") && p.contains("BroadcastHashJoin"))
    // TF-IDF's per-doc top-3 is a partial WindowGroupLimit (3 rows per
    // group survive each partition before the shuffle)
    check("Q-llm-17", "TF-IDF top-k via partial WindowGroupLimit",
      p => p.contains("WindowGroupLimit") && p.contains("Partial"))
    // bucketed co-located join: the SMJ consumes bucketed scans directly —
    // no hashpartitioning Exchange feeding the join (the only exchange in
    // the plan is the one for the final groupBy)
    // at tiny SF Catalyst prefers broadcast (also shuffle-free); disable
    // it to surface the bucketed sort-merge path this check is about
    withBroadcastDisabled {
      {
        val df = SparkEntry.queries("Q-join-11")(s, d)
        df.collect()
        // final AQE plan only (the printed "Initial Plan" section would
        // false-positive the exchange scan)
        val p = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        // everything upstream of the join must be exchange-free: the only
        // allowed hashpartitioning exchange is the post-join groupBy one
        val joinUp = p.substring(p.indexOf("SortMergeJoin"))
        val ok = p.contains("SortMergeJoin") &&
          p.contains("Bucketed: true") &&
          !joinUp.contains("Exchange hashpartitioning")
        report(ok, "Q-join-11",
          "bucketed SMJ, no join-side shuffle (broadcast disabled)", p)
      }
    }
    // fuzzy dedup: length-band blocking must make the pair space an
    // equi-join — the quadratic levenshtein never runs inside a
    // cartesian/BNLJ
    check("Q-llm-27", "blocked fuzzy dedup is an equi-join (no cartesian/BNLJ)",
      p => !p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"))
    // null-safe <=> join stays a hash join (EqualNullSafe is a hashable
    // join key), never a nested loop over the fact side
    check("Q-join-17", "null-safe join plans as hash join (no BNLJ)",
      p => !p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"))
    // approx_top_k sketches aggregate on the hash path (ObjectHashAggregate),
    // not the sort-based fallback
    check("Q-agg-16", "sketch aggregation on ObjectHashAggregate path",
      p => p.contains("ObjectHashAggregate") && !p.contains("SortAggregate"))
    // Q19 disjunctive predicate: the common equi-key keeps the join
    // hash-based, and the part-side disjunction is extracted and pushed
    // below the join (a Filter mentioning p_brand on the scan side)
    check("Q-sql-15", "disjunctive join stays hash join with part-side filter",
      p => !p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct") &&
           (p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")) &&
           p.linesIterator.exists(l => l.contains("Filter") && l.contains("p_brand")))
    // correlated MIN subquery decorrelates into a grouped-min join (one
    // partial-agg pass over the fact), never a per-row rescan
    check("Q-sql-16", "correlated MIN decorrelated to aggregate + hash join",
      p => !p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct") &&
           p.contains("HashAggregate") &&
           p.linesIterator.exists(l => l.contains("min(l_extendedprice")))
    // the MERGE hint must flip the nation join from its broadcast default
    // to a sort-merge join (the size-misestimate escape hatch works)
    check("Q-sql-24", "MERGE hint forces SortMergeJoin over broadcast default",
      p => p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"))
    // the IN-list on the bucket column must prune buckets at the scan
    // (SelectedBucketsCount < 8 of 8 — files outside those buckets are
    // never opened)
    check("Q-scan-18", "bucket pruning selects a subset of 8 buckets",
      p => p.contains("SelectedBucketsCount") &&
           !p.contains("SelectedBucketsCount: 8 out of 8"))
    // IN-subqueries in the projection plan as ExistenceJoin (row survives
    // either way and gains a boolean — not semi, not outer)
    check("Q-join-18", "projection IN-subquery plans as ExistenceJoin",
      _.contains("ExistenceJoin"))
    // similarity paths, all seven: the brute-force scorers must pin the
    // tiny query set as the BroadcastNestedLoopJoin build side (never a
    // CartesianProduct — a cartesian repartitions BOTH sides, so the
    // corpus would shuffle); the index paths (IVF/LSH/PQ) must reach
    // candidates via equi-joins, with the only BNLJ allowed being a
    // broadcast of the tiny centroid/query side.
    for (q <- Seq("Q-llm-03", "Q-llm-36", "Q-llm-15", "Q-llm-29", "Q-llm-48"))
      check(q, "brute-force scoring is a BNLJ with broadcast query side",
        p => p.contains("BroadcastNestedLoopJoin") &&
             !p.contains("CartesianProduct"))
    // the triangle counter's wedge and closing-edge steps must be keyed
    // joins — a planner fallback to a nested loop would turn the
    // degree-orientation bound into all-pairs. (The final four-way
    // single-row stat assembly IS a BNLJ by construction — 1×1 rows —
    // so the pin asserts no cartesian anywhere and that the data-sized
    // joins planned as hash/merge joins.)
    check("Q-graph-02", "wedge/closing joins are keyed (no cartesian)",
      p => !p.contains("CartesianProduct") &&
           (p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")))
    // importance resampling is scan → project → filter → sort: the only
    // exchange is the output ordering's range partition
    check("Q-llm-47", "selection has no hash exchange (pure per-row hash)",
      p => !p.contains("Exchange hashpartitioning"))
    // PMI's final top-25 must stay a TakeOrderedAndProject (k rows per
    // partition cross the wire, never the candidate set)
    check("Q-llm-45", "top-k collocations via TakeOrderedAndProject",
      p => p.contains("TakeOrderedAndProject"))
    for (q <- Seq("Q-llm-08", "Q-llm-37"))
      check(q, "index probe path has no CartesianProduct",
        p => !p.contains("CartesianProduct"))
    // the salted skew join must SHUFFLE on (k, __salt) through a shuffled
    // hash join — a broadcast would dissolve the planted hot key at toy
    // SF and prove nothing about 100 TB reducer balance
    check("Q-join-20", "salted join shuffles on (k, __salt), not broadcast",
      p => p.contains("__salt") && p.contains("ShuffledHashJoin") &&
           !p.contains("BroadcastHashJoin"))
    // the change feed's pre/post image comparison is a keyed full-outer
    // join — hash/merge-joinable on the table key, never a nested loop
    // (the sides are file subsets, but the join shape is what must hold
    // when an interval touches millions of rows)
    check("Q-qual-08", "change-feed image join is keyed (no BNLJ/cartesian)",
      p => !p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"))
    // BM25: document-at-a-time kernel — the corpus never joins anything
    // (term stats ride a broadcast variable into mapPartitions), and the
    // only corpus-scale exchange is cut to <= 10 rows per query per
    // partition by the partial WindowGroupLimit before it
    check("Q-llm-53", "DAAT kernel: partial top-k bounds the one exchange",
      p => p.contains("WindowGroupLimit") && p.contains("Partial") &&
           p.contains("MapPartitions") && !p.contains("CartesianProduct"))
    // gap-fill: the user-subset predicate reaches the events parquet scan
    check("Q-evt-10", "user subset filter pushed to events scan",
      _.contains("PushedFilters: ["))
    // RRF hybrid: BM25 keeps its DAAT envelope (partial top-k before the
    // exchange), the vec side's BNLJ build is the broadcast query set
    // (Q-llm-03's audited envelope), no unpinned cartesian
    check("Q-llm-54", "retriever envelopes intact; no cartesian product",
      p => p.contains("WindowGroupLimit") && p.contains("MapPartitions") &&
           !p.contains("CartesianProduct"))
    // exact-k per-stratum sample: rank<=k must plan as a partial
    // WindowGroupLimit — each partition forwards at most k rows per
    // stratum, so the shuffle never carries the corpus
    check("Q-scan-20", "stratified exact-k via partial WindowGroupLimit",
      p => p.contains("WindowGroupLimit") && p.contains("Partial"))
    // mixture planner: the plan/offset tables broadcast back against the
    // corpus (no corpus-sized join shuffle beyond the two window sorts)
    check("Q-llm-55", "plan + shard offsets broadcast; no cartesian",
      p => p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"))
    // hard-negative mining: both retrievers keep their audited shapes
    // (BM25's DAAT kernel + partial top-k; the vec side's broadcast
    // BNLJ); the mining anti-join must not introduce a cartesian
    check("Q-llm-57", "retriever envelopes intact; no cartesian product",
      p => p.contains("WindowGroupLimit") && p.contains("MapPartitions") &&
           !p.contains("CartesianProduct"))
    // planner-integrated skipping: the format("graft") read keeps full
    // parquet pushdown under the custom FileIndex (file skipping happens
    // in listFiles; the scan itself must stay a stock pushed-filter scan)
    check("Q-qual-23", "format scan keeps PushedFilters under GraftFileIndex",
      _.contains("PushedFilters: ["))
    // log-driven join strategy: the dimension broadcasts from the
    // FileIndex-reported size alone — no hint anywhere in the query
    check("Q-qual-24", "graft dim auto-broadcasts from log size",
      _.contains("BroadcastHashJoin"))
    // metadata-aggregate rule: the count/min/max plan must be a
    // LocalTableScan — zero FileScans, zero exchanges
    check("Q-qual-25", "count/min/max folds to LocalTableScan (no FileScan)",
      p => p.contains("LocalTableScan") && !p.contains("FileScan"))
    // prefix-filtering similarity join: candidate generation and verify
    // are shingle equi-joins — the quadratic all-pairs comparison never
    // appears as a cartesian/BNLJ anywhere in the plan
    check("Q-llm-58", "prefix-filter join is equi-join only (no cartesian/BNLJ)",
      p => !p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"))
    // chunked bipartite band probe (incremental dedup): the hot-bucket
    // armor must stay a pure equi-join — the chunk re-key adds join
    // columns, never a nested-loop fallback
    check("Q-llm-24", "bipartite chunked band join is equi-join only",
      p => !p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"))
    // star-edge mega-cluster path: candidate generation is a window +
    // distinct, verification an equi-join — no pairwise comparison shape
    // anywhere even with a 2048-member hot bucket in the plan's input
    check("Q-llm-63", "star-edge dedup has no cartesian/BNLJ",
      p => !p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"))
    // index-lifecycle probe (round 11): the bucket prefilter must reach
    // the index side as a BROADCAST semi-join (the corpus-sized index
    // never shuffles per batch) and the whole probe stays equi-join
    check("Q-llm-67", "index probe: broadcast bucket prefilter, equi-join only",
      p => p.contains("BroadcastHashJoin") && p.contains("LeftSemi") &&
           !p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"))
    // image near-dup clusters (round 11): banded Hamming blocking +
    // star edges + bit_count verify — every hop keyed, no pairwise shape
    check("Q-mm-13", "banded Hamming dedup has no cartesian/BNLJ",
      p => !p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"))
    // real-decoded-pixel image dedup (round 12): same cluster algebra
    // fed by the decode+hash partition kernel — pixels must never enter
    // an exchange (the scan side carries only doc_id/fingerprints)
    check("Q-mm-14", "decoded-pixel Hamming dedup has no cartesian/BNLJ",
      p => !p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"))
    // string-axis skipping: beyond the log-level file pruning (asserted
    // in-query), the residual BETWEEN must still push into the parquet
    // scan of the kept files — two pruning layers, not one
    check("Q-qual-27", "string range residual pushed into the kept files' scan",
      p => p.contains("PushedFilters") && p.contains("p_name"))
    // LPA's vote join (labels onto stationary edges) and both agg layers
    // must stay keyed — a nested-loop fallback would be |E|×|V|
    check("Q-graph-07", "LPA vote join keyed; no cartesian/BNLJ",
      p => !p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"))
    // MoR read, BOTH delete-set plan forms: a small logged volume of
    // long keys resolves inside the scan (no join at all); over the
    // byte threshold the same read falls back to a shuffled sort-merge
    // anti-join — the form that survives a billion-key accumulation —
    // and both forms read the same rows
    locally {
      import s.implicits._
      val root = java.nio.file.Files
        .createTempDirectory("graft_explain_mor").toString + "/t"
      graft.operators.TxTable.create(
        (0L until 200L).map(i => (i, "base")).toDF("k", "v"),
        root, statsKey = Some("k"))
      graft.operators.TxTable.mergeMor(s, root,
        (0L until 50L).map(i => (i, "upd")).toDF("k", "v"), "k")
      val small = graft.operators.TxTable.read(s, root)
      val pb = small.queryExecution.executedPlan.toString
      val smallRows = small.collect().toSet
      report(!pb.contains("Join"), "mor-read",
        "small long-key delete set resolves in the scan, no join", pb)
      s.conf.set("spark.graft.mor.broadcastMaxBytes", "0")
      try {
        val big = graft.operators.TxTable.read(s, root)
        val ps = big.queryExecution.executedPlan.toString
        report(big.collect().toSet == smallRows, "mor-read",
          "in-scan and over-threshold forms read the same rows", ps)
        // line-wise regex: Spark prints the join type AFTER the key
        // lists ("BroadcastHashJoin [k], [k], LeftAnti, ..."), so a
        // plain substring "BroadcastHashJoin LeftAnti" can never match
        val okS = ps.contains("SortMergeJoin") && ps.contains("LeftAnti") &&
          !ps.linesIterator.exists(l =>
            l.contains("BroadcastHashJoin") && l.contains("LeftAnti"))
        report(okS, "mor-read",
          "over-threshold delete set falls back to shuffled anti-join", ps)
      } finally s.conf.unset("spark.graft.mor.broadcastMaxBytes")
    }
    s.stop()
    if (bad > 0) {
      System.err.println(s"[explain-check] $bad plan check(s) bad")
      sys.exit(1)
    }
  }
}
