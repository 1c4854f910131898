package graft

import org.apache.spark.sql.SparkSession

import graft.core.EngineSession

/** Benchmark main (driver contract): runs the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Methodology (BASELINE.md): per query, 1 warm-up + 3 timed runs, MIN
  * reported — the minimum estimates the plan's intrinsic cost; this VM
  * shares a host, and contention only ever ADDS time (observed 6-12x
  * inflation on long-DAG queries in one round-2 run whose medians were
  * otherwise stable), so min-of-3 is the noise-robust estimator. On a
  * quiet machine min and median agree within ~5%. Results are
  * materialized through the `noop` sink so the full plan executes
  * without driver-side collection skew. The headline set
  * covers every operator family: scan, codec, joins (multiway/range/as-of),
  * aggregation, window, top-k, set ops, dedup (exact + MinHash-LSH),
  * similarity (brute force + IVF), text analysis, and streaming replay.
  */
object Bench {

  val headline: Seq[String] = Seq(
    "Q-agg-01",   // TPC-H Q1 multi-agg scan
    "Q-agg-02",   // global agg + exact count distinct
    "Q-join-01",  // fact-dim equi-join
    "Q-join-05",  // banded time-range self-join
    "Q-join-06",  // as-of join
    "Q-join-07",  // 6-table multiway join
    "Q-win-03",   // window frames (running/range sums)
    "Q-sort-02",  // global top-k
    "Q-set-02",   // intersect/except incl. ALL
    "Q-fn-arr-01",// higher-order array functions
    "Q-llm-01",   // exact dedup
    "Q-llm-02",   // MinHash-LSH near-dup
    "Q-llm-03",   // brute-force cosine top-k (codegen expression)
    "Q-llm-08",   // IVF-ANN
    "Q-llm-11",   // token counting
    "Q-llm-13",   // embedding-cosine near-dup (IVF-blocked)
    "Q-sub-01",   // correlated scalar subquery (decorrelated)
    "Q-sub-03",   // correlated LATERAL top-1 (decorrelated window-rank)
    "Q-scan-04",  // Avro envelope encode+decode round-trip
    "Q-join-13",  // runtime bloom-filter join
    "Q-win-04",   // batch session windows
    "Q-llm-14",   // hyperplane-LSH ANN (4 tables, multi-probe)
    "Q-llm-16",   // dedup clusters (iterative connected components)
    "Q-sql-01",   // TPC-H Q3 via the SQL entry path
    "Q-llm-17",   // TF-IDF top-terms (two-agg + window top-k)
    "Q-llm-19",   // deterministic training shuffle (global hash sort)
    "Q-str-01",   // streaming tumbling-window replay
    "Q-str-05",   // streaming presence detection
    "Q-evt-01",   // funnel analysis (staged per-user groupBys)
    "Q-join-20",  // salted skew-kill join (planted 30% hot key)
    "Q-llm-23",   // context-window text chunking (narrow fan-out)
    "Q-llm-24",   // incremental dedup (asymmetric LSH band join)
    "Q-sql-09",   // TPC-H Q21 shape (single-scan per-order group-by form)
    "Q-llm-26",   // token-budget sequence packing (per-lang running sums)
    "Q-llm-27",   // fuzzy edit-distance dedup (blocked levenshtein)
    "Q-llm-28",   // unigram-LM quality scoring (pre-aggregated (doc,word,n))
    "Q-mm-06",    // perceptual average-hash fingerprint (64-pixel fan-out)
    "Q-agg-16",   // approx_top_k heavy hitters (direct + merged sketches)
    "Q-llm-32",   // per-domain cap (window rank over domain shuffle)
    "Q-llm-33",   // vocabulary build + OOV (two partial aggs + broadcast)
    "Q-qual-05",  // merge/upsert apply (one full outer join + routing)
    "Q-sql-16",   // correlated MIN decorrelated (grouped-min hash join)
    "Q-llm-36",   // brute-force L2 top-k (codegen expression)
    "Q-llm-37",   // PQ-ANN (codebook + encode + ADC join + re-rank)
    "Q-mm-07",    // real BMP encode + JDK ImageIO decode per doc
    "Q-qual-06",  // ACID table: create + 2 transactional merges + snapshot read
    "Q-mm-09",    // real AVI encode + RIFF-walker video decode + frame sampling
    "Q-qual-08",  // ACID table CDC: CoW delete + log-only change feed
    "Q-str-21",   // stream -> table -> incremental change-feed downstream
    "Q-llm-40",   // exact substring-span dedup (duplicated 10-token windows)
    "Q-graph-01", // PageRank, 8 rounds over the symmetrized trade graph
    "Q-llm-41",   // trained Naive-Bayes language classifier (train + score)
    "Q-llm-42",   // trained logistic-regression quality gate (12 GD rounds)
    "Q-qual-09",  // ACID table OPTIMIZE: epoch appends -> re-cluster -> pruned read
    "Q-llm-43",   // trained k-means (Lloyd's, 6 rounds over broadcast model)
    "Q-llm-44",   // SemDeDup: trained-cluster blocking + int64 cosine prune
    "Q-llm-45",   // PMI collocations (integer lift, vocab-scale joins)
    "Q-llm-46",   // trained depth-2 decision tree (0-1-loss split search)
    "Q-graph-02", // triangle counting (degree-oriented wedge join)
    "Q-graph-03", // multi-source BFS (frontier expansion, 4 hops)
    "Q-graph-04", // weighted shortest path (Bellman-Ford, 4 rounds)
    "Q-llm-47",   // importance resampling (key-hash acceptance)
    "Q-qual-10",  // ACID point read: log blooms prune residue-class files
    "Q-llm-48",   // binary-sign ANN (XOR+POPCOUNT ranking, cosine re-rank)
    "Q-qual-11",  // incremental materialized join from change feeds
    "Q-llm-49",   // late-interaction MaxSim retrieval (ColBERT shape)
    "Q-graph-05", // k-core peeling (4 rounds, alive semi-joins)
    "Q-evt-09",   // per-entity EWMA (sequential fold parity)
    "Q-mm-10",    // scene-cut detection over decoded frames
    "Q-llm-50",   // leave-one-out target encoding (integer-ratio exact)
    "Q-sql-26",   // named WINDOW clause (decimal-exact frames)
    "Q-graph-06", // personalized PageRank from the seed cohort
    "Q-join-19",  // point-in-time join against the SCD2 dimension
    "Q-qual-12",  // chi-square distribution-drift monitor
    "Q-llm-51",   // THE PIPELINE: clean->gate->dedup->decontam->shard
    "Q-qual-13",  // cross-table consistent snapshots (group commits)
    "Q-qual-14",  // RESTORE: metadata-only rollback of a bad epoch
    "Q-llm-52",   // embedding-centroid drift (label x period x dim cells)
    "Q-qual-15",  // table CHECK constraints (refusal + flow-through)
    "Q-qual-16",  // merge-on-read deletes (ledger commits, zero rewrites)
    "Q-qual-17",  // z-order OPTIMIZE + multi-column stats (2-dim pruning)
    "Q-scan-19",  // schema evolution: widen + rename, era-reconciled reads
    "Q-qual-18",  // history retention: expire + vacuum, retained range intact
    "Q-llm-53",   // BM25 ranked retrieval (postings x broadcast query terms)
    "Q-evt-10",   // time-grid resample + forward-fill gap-fill
    "Q-qual-19",  // metadata-only aggregates from the commit log
    "Q-qual-20",  // merge-on-read upserts vs the copy-on-write twin
    "Q-str-25",   // streaming MoR upsert sink (zero-rewrite epochs)
    "Q-llm-54",   // RRF hybrid retrieval (BM25 + cosine lists fused)
    "Q-sql-27",   // the Table-SQL command surface lifecycle
    "Q-scan-20",  // exact-k stratified sample (partial WindowGroupLimit)
    "Q-llm-55",   // training-mix epoch planner (two-phase prefix sum)
    "Q-llm-56",   // incremental inverted index from the change feed
    "Q-qual-21",  // verified erasure (MoR delete -> compact -> expire)
    "Q-mm-11",    // real image resize round trip (decode->NN->encode->decode)
    "Q-mm-12",    // frame-level audio features over decoded PCM
    "Q-sql-28",   // ALTER TABLE rename/widen through the SQL surface
    "Q-str-26",   // streaming per-key admission quota (stateful rate limit)
    "Q-llm-57",   // hard-negative mining (BM25 top-10 minus cosine top-10)
    "Q-qual-22",  // shallow clone: zero-copy branch + divergent writes
    "Q-qual-23",  // planner-integrated data skipping (format("graft"))
    "Q-qual-24",  // log-driven auto-broadcast join strategy
    "Q-str-27",   // native graft->graft streaming pipeline (no foreachBatch)
    "Q-qual-25",  // metadata aggregate as an injected Catalyst rule
    "Q-str-28",   // native CDC replication (readChangeFeed stream)
    "Q-qual-26",  // TIMESTAMP AS OF travel (binary-search log resolution)
    "Q-llm-58",   // prefix-filtering similarity join (PPJoin candidates)
    "Q-qual-27",  // string-axis skipping (prefix64 stats + hash64 blooms)
    "Q-qual-28",  // shingle-bloom phrase probes (file-level decontamination)
    "Q-qual-29",  // maintenance policy loop (binPack + tagged replays)
    "Q-qual-30",  // idempotent range backfill (replaceWhere)
    "Q-graph-07", // label-propagation communities (4 synchronous rounds)
    "Q-graph-08", // DOULION approx triangles (1/4 md5 edge sampling)
    "Q-graph-09", // distributed CC above the 1M-edge driver cap
    "Q-graph-10", // supra-cap CC on dense cliques (contraction win case)
    "Q-graph-11", // power-law hub census (hub-split exact triangles)
    "Q-str-30",   // reference pipeline e2e through the kafka column contract
    "Q-graph-12", // PageRank under Zipf in-degree (power-law fixture)
    "Q-llm-60",   // PII scan + redaction (codegen regex, narrow map)
    "Q-llm-61",   // data-mixture resample, fractional epochs (md5 coin)
    "Q-qual-36",  // write-audit-publish: branch, audit, zero-copy adopt
    "Q-llm-62",   // DSIR importance scoring (unigram LLR vs target)
    "Q-str-29",   // presence with event-time state eviction (timers)
    "Q-scan-21",  // A-ES weighted sampling (one-pass, TakeOrdered top-k)
    "Q-qual-31",  // one-pass table profiler (multi-distinct via Expand)
    "Q-qual-32",  // verified replication (bucket-digest anti-entropy diff)
    "Q-qual-33",  // 3-dim z-order OPTIMIZE (all three axes log-pruned)
    "Q-llm-59",   // vector index maintained from the change feed
    "Q-scan-22",  // per-stratum A-ES weighted sampling (WindowGroupLimit)
    "Q-qual-34",  // ledger-pressure fold bounds the MoR read chain
    "Q-qual-35",  // delete-set guard: in-scan and shuffled forms priced
    "Q-llm-63",   // mega-cluster dedup via star edges (hot-bucket armor)
    "Q-llm-64",   // Gopher repetition rules (map-side gram collapse)
    "Q-llm-65",   // dedup savings report over the star-edge clusters
    "Q-llm-66",   // incremental dedup against a persisted signature index
    "Q-llm-67",   // closed index lifecycle: probe -> admit -> probe
    "Q-mm-13",    // image near-dup clusters via banded Hamming + star edges
    "Q-mm-14"     // image dedup over REAL decoded pixels (decode+hash kernel)
  )

  /** The driver keeps the last 2000 bytes of stdout (measured: the r12
    * artifact's captured tail is exactly 2000 bytes, full-line tail +
    * newline + compact line + newline) and parses the FINAL line; the line
    * plus its newline must fit that tail whole. 1985 leaves 14 bytes of
    * margin on the hard 1999 while freeing the 49 bytes of round-11/12
    * over-caution that cost round 12 its whole per-query map. */
  val lineCap: Int = 1985

  /** The compact final-line render: exactly the driver-contract fields
    * (metric/value/unit/sf/queries), nothing else — round 12 lost the whole
    * per-query map because extra fields pushed this line past the cap.
    * Exposed so BenchLineBudgetSpec can price the live headline set. */
  def compactLine(total: String, sf: String, queries: Seq[(String, String)]): String = {
    val q = queries.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sf","queries":$q}"""
  }

  private def runOnce(spark: SparkSession, name: String, sfDir: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val dt = (System.nanoTime() - t0) / 1e9
    // each run builds a fresh DataFrame, so any persist() inside a query
    // creates a new cache entry per run — drop them so runs are independent
    // and later queries don't inherit this one's storage/GC pressure.
    // localCheckpoint blocks (iterative operators) are NOT covered by
    // clearCache — without the explicit unpersist sweep they accumulate
    // across runs until eviction pressure made Q-llm-16 10x slower in the
    // full suite than solo.
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    // SUITE HYGIENE (round-5 verdict #1: late queries ran up to 6x their
    // solo ledger in the 111-query driver run, min ≈ median — position-
    // correlated debris, not noise):
    // (a) streaming queries leave state-store providers loaded (RocksDB
    //     instances pin native memory and run maintenance threads);
    //     unload them so Q-str-* cost doesn't leak into what follows.
    try {
      val cls = Class.forName(
        "org.apache.spark.sql.execution.streaming.state.StateStore$")
      val inst = cls.getField("MODULE$").get(null)
      cls.getMethod("stop").invoke(inst)
    } catch { case _: Throwable => () }
    // (b) the ContextCleaner removes the previous query's shuffle files
    //     and broadcast blocks only when their references are GC'd; with
    //     a 32g heap collections are rare, so over 100+ queries the
    //     local dir grows by GBs, evicts page cache, and inflates every
    //     later query. One explicit GC per run is ~50 ms.
    System.gc()
    dt
  }

  def main(args: Array[String]): Unit = {
    // the media queries decode through javax.imageio, whose default
    // DISK cache writes a temp file per decode — 4 runs x thousands of
    // docs of debris in /tmp by the end of the suite (round-5's Q-mm-09
    // suite-position suspect); decode in memory instead
    javax.imageio.ImageIO.setUseCache(false)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev knob: SPARK_GRAFT_ONLY="Q-a,Q-b" benches a subset while iterating
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val spark = EngineSession.getOrCreate("graft-bench")

    // (min, median) of 3 timed runs: min is the intrinsic-cost estimator
    // the headline compares on; median is recorded alongside so the bench
    // artifact itself documents host contention (min ≈ median on a quiet
    // machine; a wide gap flags a noisy run without arguing from ledgers).
    // the dev knob may name queries outside the headline set (A/B timing
    // of alternate forms, e.g. Q-sql-09 vs Q-sql-09-exists)
    val names: Seq[String] = only match {
      case Some(set) => headline.filter(set) ++
        set.diff(headline.toSet).toSeq.sorted
      case None => headline
    }
    // CONTENTION CANARY (round-11 verdict #3): the driver's artifact ran
    // 1.27x the quiet session run on a contended host, and nothing in
    // the artifact said so. A fixed control query (Q-sort-02: short,
    // shuffle-light, cache-stable) is timed min-of-3 at suite START and
    // END; if the two disagree by more than the quiet-host agreement
    // band (~5%, round-1 ledger) times a safety factor, the host was
    // busy during the suite and the artifact flags ITSELF — the ledger
    // no longer has to argue environment from per-query archaeology.
    // max/min (not end/start) so a burst at either end trips it.
    def canaryTime(): Double =
      (1 to 3).map(_ => runOnce(spark, "Q-sort-02", sfDir)).min
    // 2 warm-ups before the start sample: the first executions also pay
    // JIT compilation, which would otherwise read as start-side
    // "contention" the end sample (after 100+ queries) never pays
    runOnce(spark, "Q-sort-02", sfDir); runOnce(spark, "Q-sort-02", sfDir)
    val canaryStart = canaryTime()
    val results: Seq[(String, (Double, Double, Int))] =
      names.map { name =>
        try {
          runOnce(spark, name, sfDir) // warm-up
          var times = (1 to 3).map(_ => runOnce(spark, name, sfDir)).sorted
          // NOISE-ADAPTIVE RETRY: this VM shares a host, and contention
          // arrives in BURSTS (vmstat: 0% steal idle, spikes to 13%
          // steal / 40-88% system time under load). A burst inside a
          // 3-run window shows up as the two best runs disagreeing —
          // when they do, the min is one lucky draw, so take up to two
          // more draws to firm it up. A quiet host never triggers this
          // (best two agree within ~5%), so the suite cost is unchanged
          // where the extra runs aren't needed. The retry count per query
          // lands in bench_out.json (queries_retries): min-of-5 is
          // stochastically lower than min-of-3, so a row where extras
          // fired is flagged as not directly comparable to a fixed-3-run
          // ledger value.
          var extra = 0
          while (extra < 2 && times(1) > times.head * 1.35) {
            times = (times :+ runOnce(spark, name, sfDir)).sorted
            extra += 1
          }
          name -> (times.head, times(times.length / 2), extra)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            name -> (-1.0, -1.0, 0)
        }
      }
    val canaryEnd = canaryTime()
    val canaryRatio =
      math.max(canaryStart, canaryEnd) / math.min(canaryStart, canaryEnd)
    // 1.4 = well above the ~5% quiet-host min-of-3 agreement band, well
    // below the documented 1.5-3x shared-host contention swing class.
    // The 0.15 s absolute-gap floor keeps residual JIT/GC jitter on a
    // sub-second control from tripping the flag (a real 1.5-3x burst on
    // the sf0.1 canary moves it by 0.3-0.5 s, comfortably above).
    val contended = canaryRatio > 1.4 &&
      math.abs(canaryStart - canaryEnd) > 0.15
    def jmap(f: ((String, (Double, Double, Int))) => Double): String =
      results.map { case (k, v) => "\"" + k + "\":" + f((k, v)) }
        .mkString("{", ",", "}")
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val totalMed = results.map(_._2._2).filter(_ >= 0).sum
    // noise-retry audit map: only rows where extras fired (sparse)
    val retries = results.collect {
      case (k, (_, _, e)) if e > 0 => "\"" + k + "\":" + e
    }.mkString("{", ",", "}")
    // full-precision JSON (incl. the median map) goes to bench_out.json and
    // an early stdout line; the driver's artifact keeps only the last ~2000
    // bytes of stdout and parses the FINAL line, so the last thing printed
    // is a compact min-only rendering (2 significant decimals, trailing
    // zeros trimmed) that fits the tail whole. build.sbt suppresses sbt's
    // "[success] Total time" epilogue (showSuccess := false) so nothing
    // follows it.
    val canaryJson = f""""contended":$contended,""" +
      f""""canary_ratio":${canaryRatio}%.3f,""" +
      f""""canary":{"query":"Q-sort-02","start_s":$canaryStart%.3f,"end_s":$canaryEnd%.3f},"""
    val json = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""value_median":$totalMed,"sf":"$sfDir",$canaryJson""" +
      s""""queries_retries":$retries,""" +
      s""""queries_median":${jmap(_._2._2)},"queries":${jmap(_._2._1)}}"""
    // only a FULL headline run may refresh the artifact — a dev-knob
    // subset run would silently clobber the round's complete map
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_out.json"), json)
      catch { case e: Throwable =>
        System.err.println(s"[bench] bench_out.json write failed: ${e.getMessage}")
      }
    println(json)
    def short(v: Double, dp: Int): String = {
      val s = s"%.${dp}f".format(v)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
      else s
    }
    // ROUND-12 POSTMORTEM: the canary fields pushed the 0-decimal render
    // from ~1938 to ~1988 bytes, past the 1950 cap, so the fallback fired
    // and the driver parsed an EMPTY per-query map — a whole round with no
    // per-query visibility. The compact line now carries ONLY the driver
    // contract (metric/value/unit/sf/queries); the canary, medians and
    // retry audit live in the full-precision line and bench_out.json. The
    // sf value is the directory basename here (full path in the
    // full-precision line) — 15 bytes the map needs more than the path
    // does. BenchLineBudgetSpec pins the worst-case render under the cap
    // so query growth can never silently trip the fallback again.
    val sfShort = java.nio.file.Paths.get(sfDir).getFileName.toString
    def render(dp: Int): String =
      compactLine(short(total, 2), sfShort,
        results.map { case (k, (mn, _, _)) => k -> short(mn, dp) })
    // degrade per-query precision before the line outgrows the driver's
    // 2000B stdout tail (the line itself + newline must fit whole); as a
    // last resort drop the map (it survives in bench_out.json and the
    // full-precision stdout line above)
    val compact = Seq(2, 1, 0).map(render).find(_.length <= lineCap).getOrElse(
      s"""{"metric":"total","value":${short(total, 2)},"unit":"sec",""" +
        s""""sf":"$sfShort","queries":{},""" +
        s""""note":"per-query map in bench_out.json"}""")
    println(compact)
    spark.stop()
  }
}
