package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{EngineSession, Tables}
import graft.operators.{ConnectedComponents, KMeans, TxTable}
import graft.queries.tempDir

/** SCALE-CURVE evidence for the suite's top cost centers (round-6
  * verdict #2): each operator's scalable CORE measured at 1× and ~10×
  * input, wall-clock + real shuffle bytes from stage metrics, so
  * "would it survive 100×" is a ledger row instead of an argument.
  * Setup (fixture staging, table creation, training) is untimed — the
  * claim under test is the steady-state epoch/query path:
  *
  *  - cc          (Q-graph-09): distributed components, input ×10
  *  - mor-drain   (Q-str-25/27): per-epoch windowed-agg MoR upserts,
  *                input ×8 → changed keys ×8
  *  - mv-repair   (Q-qual-11): incremental MV maintenance from change
  *                feeds, fact ×8 with delta fraction fixed
  *  - vec-repair  (Q-llm-59): change-feed index repair, corpus ×10
  *                with the SAME absolute delta — the O(changed
  *                vectors) claim is "this row stays flat"
  *
  *  - mor-read    (Q-qual-34): full-scan cost vs live LEDGER CHAIN
  *                length — the read-degradation claim foldLedgersOver
  *                exists to bound
  *  - mor-read-volume: full-scan cost vs live DELETE-SET VOLUME at
  *                fixed chain length — the axis the broadcast guard
  *                prices; the big volume is measured under BOTH plan
  *                forms (broadcast + shuffled fallback)
  *  - inv-repair  (Q-llm-56): change-feed inverted-index maintenance,
  *                corpus ×10 with the SAME 500-doc delta — flat claim
  *  - hist-expire (Q-qual-18): retention cost vs commit-history depth
  *                (×8 commits) — driver metadata I/O, never table data
  *  - shingle-stage / shingle-probe (Q-qual-28): per-commit shingle
  *                bloom staging cost vs batch rows (×8), and the
  *                log-only phrase probe (flat in rows, ∝ files)
  *  - zorder-n    (Q-qual-33): 3-axis z-order OPTIMIZE vs table size
  *                (×8) — one interleave + range sort + rewrite
  *  - dedup-star-hub (Q-llm-16/63/65): the jaccard verify join at 64×
  *                mega-cluster size, member-first vs hub-first order
  *  - mm-dedup-hub (Q-mm-13/14): the image dedup's exact-verify
  *                fingerprint attach at 64× re-encode-cluster size —
  *                deg(hub) rows on one SMJ key, AQE skew-split claim
  *
  * Usage: runMain graft.tools.ScaleCurve [sfDir] [curve,curve]
  * (default sf0.1, all curves). Prints one JSON line per measurement.
  */
object ScaleCurve {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = args.drop(1).headOption
      .map(_.split(",").map(_.trim).toSet)
    def want(curve: String): Boolean = only.forall(_.contains(curve))
    val spark = EngineSession.getOrCreate("graft-scale")
    val sc = spark.sparkContext
    val shuffleW = new java.util.concurrent.atomic.AtomicLong
    // per-stage task-time balance: (tasks, max single-task ms, Σ task ms)
    // — the straggler detector for the skew cells. maxShare = worst
    // stage's maxMs/sumMs: a plan that lands a hot key's whole output on
    // one task shows maxShare → 1 on its heaviest stage no matter how
    // many executors exist; a balanced plan keeps maxShare ≈ 1/tasks.
    val balance = new java.util.concurrent.ConcurrentHashMap[
      Int, (Int, Long, Long)]
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffleW.addAndGet(
          s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val d = e.taskInfo.duration
        balance.merge(e.stageId, (1, d, d),
          (a, b) => (a._1 + b._1, math.max(a._2, b._2), a._3 + b._3))
      }
    })
    def measure(name: String, scale: Int)(body: => Long): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      val s0 = shuffleW.get()
      val t0 = System.nanoTime()
      val rows = body
      val sec = (System.nanoTime() - t0) / 1e9
      val mb = (shuffleW.get() - s0) / 1e6
      println(f"""{"name":"$name","scale":$scale,"sec":$sec%.2f,""" +
        f""""shuffleMB":$mb%.1f,"rows":$rows}""")
    }

    // ---- cc: Q-graph-09's exact fixture shape, N and blocks ×scale
    for (m <- Seq(1, 10) if want("cc")) {
      val N = 1200000L * m
      val B = 100L
      measure("cc", m) {
        val nodes = spark.range(N).select(col("id"))
        val edges = spark.range(N).filter(col("id") % B =!= (B - 1))
          .select(col("id").as("a"), (col("id") + 1).as("b"))
        ConnectedComponents.minLabel(nodes, edges)
          .groupBy("label").agg(count(lit(1))).count()
      }
    }

    // ---- mor-drain: 6 epochs of windowed-agg upserts into one table.
    // Replicas get distinct event_type suffixes: changed keys scale ×m
    // while the window axis stays fixed — the Q-str-25/27 commit path.
    for (m <- Seq(1, 8) if want("mor-drain")) {
      val tmp = tempDir(s"graft_scale_mor$m").toString
      val src = s"$tmp/src"
      val ev = Tables.events(spark, d)
        .crossJoin(spark.range(m).select(col("id").as("rep")))
        .select(
          concat(col("event_type"), lit("#"), col("rep")).as("event_type"),
          col("ts"),
          (col("event_id") * m + col("rep")).as("event_id"))
      ev.withColumn("chunk", ntile(6).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("ts"), col("event_id"))))
        .write.parquet(src)                             // setup, untimed
      val root = s"$tmp/tbl"
      def agg(df: DataFrame) = df
        .groupBy(window(col("ts"), "10 seconds"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select((col("window.start").cast("long")).as("ws_sec"),
          col("event_type"), col("n"))
      TxTable.create(agg(spark.read.parquet(src)).limit(0).coalesce(1),
        root, statsKey = Some("ws_sec"))
      measure("mor-drain", m) {
        for (c <- 1 to 6) {
          TxTable.mergeMorKeys(spark, root,
            agg(spark.read.parquet(src).filter(col("chunk") === c)),
            Seq("ws_sec", "event_type"))
        }
        TxTable.read(spark, root).count()
      }
    }

    // ---- mv-repair: 2 epochs of CDC-driven materialized-join repair,
    // fact ×m (delta FRACTION fixed, so delta rows also ×m)
    for (m <- Seq(1, 8) if want("mv-repair")) {
      val tmp = tempDir(s"graft_scale_mv$m").toString
      val (fRoot, dRoot, mRoot) = (s"$tmp/fact", s"$tmp/dim", s"$tmp/mv")
      val dim0 = Tables.customer(spark, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val fact0 = Tables.orders(spark, d)
        .crossJoin(spark.range(m).select(col("id").as("rep")))
        .select((col("o_orderkey") * m + col("rep")).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      TxTable.create(fact0.coalesce(4), fRoot, Some("o_orderkey"))
      TxTable.create(dim0.coalesce(1), dRoot, Some("c_custkey"))
      val mvCols =
        Seq("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_acctbal")
      TxTable.create(
        TxTable.read(spark, fRoot)
          .join(TxTable.read(spark, dRoot),
            col("o_custkey") === col("c_custkey"))
          .select(mvCols.map(col): _*).coalesce(4),
        mRoot, Some("o_orderkey"))                      // setup, untimed
      measure("mv-repair", m) {
        for (e <- 1 to 2) {
          val fm = if (e == 1) 17 else 23
          val fDelta = TxTable.read(spark, fRoot)
            .filter(col("o_orderkey") % fm === 0)
            .withColumn("o_totalprice", col("o_totalprice") + e.toDouble)
          val fv = TxTable.snapshot(fRoot).version
          TxTable.mergeCow(spark, fRoot, fDelta, "o_orderkey")
          val fFeed =
            TxTable.changeFeed(spark, fRoot, fv, fv + 1, Seq("o_orderkey"))
          val fPost = fFeed.filter(col("change") =!= "delete")
            .select(col("o_orderkey"), col("post.o_custkey").as("o_custkey"),
              col("post.o_totalprice").as("o_totalprice"))
          TxTable.mergeCow(spark, mRoot,
            fPost.join(TxTable.read(spark, dRoot),
                col("o_custkey") === col("c_custkey"))
              .select(mvCols.map(col): _*),
            "o_orderkey")
        }
        TxTable.read(spark, mRoot).count()
      }
    }

    // ---- vec-repair: corpus ×m, SAME absolute delta (500 vectors
    // re-embedded via a MoR merge) — one change-feed index repair.
    // The O(changed vectors) claim: this row stays FLAT as the corpus
    // grows ×10.
    for (m <- Seq(1, 10) if want("vec-repair")) {
      val tmp = tempDir(s"graft_scale_vec$m").toString
      val (docs, idx) = (s"$tmp/docs", s"$tmp/idx")
      val corpus = Tables.embeddings(spark, d)
        .crossJoin(spark.range(m).select(col("id").as("rep")))
        .select((col("vec_id") * m + col("rep")).as("vec_id"),
          col("embedding"))
      TxTable.create(corpus.coalesce(4), docs, statsKey = Some("vec_id"))
      val model = KMeans.centroids(
        TxTable.read(spark, docs), "vec_id", "embedding", 8, iters = 1)
      def assign(df: DataFrame) = df.select(col("vec_id"),
        KMeans.assignWith(model, col("embedding")).as("cell"),
        col("embedding"))
      TxTable.create(assign(TxTable.read(spark, docs)), idx,
        statsKey = Some("cell"))
      val v0 = TxTable.snapshot(docs).version
      val delta = TxTable.read(spark, docs)
        .orderBy("vec_id").limit(500)
        .select(col("vec_id"),
          transform(col("embedding"), x => x * lit(4.0f)).as("embedding"))
      TxTable.mergeMor(spark, docs, delta, "vec_id")    // setup, untimed
      measure("vec-repair", m) {
        val cur = TxTable.snapshot(docs).version
        val feed = TxTable.changeFeed(spark, docs, v0, cur, Seq("vec_id"))
        TxTable.deleteMor(spark, idx,
          feed.select(col("vec_id")).distinct(), "vec_id")
        TxTable.append(spark, idx, assign(
          feed.filter(col("change") =!= "delete")
            .select(col("vec_id"), col("post.embedding").as("embedding"))))
        TxTable.read(spark, idx).count()
      }
    }

    // ---- mor-read: full-scan cost vs live LEDGER CHAIN length — the
    // degradation foldLedgersOver exists to bound: every live ledger
    // adds one anti-join to every read of the files it scopes, so a
    // streaming-upsert table that never folds pays O(chain) per read
    // forever. One table measured at chain 0, 6, and 12 during a MoR
    // drain, then at 4 after foldLedgersOver(4); the drain and the fold
    // are untimed setup/maintenance — the READ is the claim. Each
    // measurement scans 3× (sum+count over the merged content) so the
    // row is not one scheduler draw; "scale" = live chain length.
    // Two fixtures separate the two cost axes the read path could scale
    // on: mor-read drains 50 k-key epochs (delete volume grows WITH the
    // chain — half the table is doomed by chain 12), mor-read-sparse
    // drains 125-key epochs (chain grows, delete volume stays trivial).
    // The single-anti-join read should be ~flat on sparse and scale only
    // with doomed-key volume on dense — epoch COUNT itself is free.
    for ((curve, mod) <- Seq(("mor-read", 12), ("mor-read-sparse", 4800))
         if want(curve)) {
      val tmp = tempDir(s"graft_scale_morread$mod").toString
      val root = s"$tmp/tbl"
      val base = Tables.orders(spark, d)
        .crossJoin(spark.range(4).select(col("id").as("rep")))
        .select((col("o_orderkey") * 4 + col("rep")).as("k"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      TxTable.create(base.coalesce(4), root, statsKey = Some("k"))
      def drain(from: Int, to: Int): Unit =
        for (e <- from to to)
          TxTable.mergeMor(spark, root,
            base.filter(col("k") % mod === (e - 1))
              .select(col("k"), (col("cents") + e * 1000L).as("cents")),
            "k")
      def readAll(): Long = {
        var n = 0L
        for (_ <- 1 to 3)
          n = TxTable.read(spark, root)
            .agg(count(lit(1)).as("n"), sum("cents").as("s"))
            .collect()(0).getLong(0)
        n
      }
      measure(curve, 0)(readAll())
      drain(1, 6)
      measure(curve, 6)(readAll())
      drain(7, 12)
      measure(curve, 12)(readAll())
      TxTable.foldLedgersOver(spark, root, 4)
      val chain = TxTable.ledgerPressure(root)._1
      measure(curve, chain)(readAll())
    }

    // ---- mor-read-volume: full-scan cost vs live DELETE-SET VOLUME at
    // FIXED chain length (3 ledgers) — the axis the broadcast guard
    // prices from the log's drows. Doomed keys ~1.5 k vs ~300 k (×200);
    // at the big volume the read runs under BOTH plan forms (policy
    // default = broadcast build side; threshold 0 = shuffled left_anti
    // fallback), so the fallback's cost is a ledger row, not a hope.
    // scale = live doomed keys / 1000.
    if (want("mor-read-volume")) {
      val tmp = tempDir("graft_scale_morvol").toString
      for ((keys, tag) <- Seq(1500L -> "small", 300000L -> "big")) {
        val root = s"$tmp/tbl_$tag"
        val base = Tables.orders(spark, d)
          .crossJoin(spark.range(4).select(col("id").as("rep")))
          .select((col("o_orderkey") * 4 + col("rep")).as("k"),
            floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        TxTable.create(base.coalesce(4), root, statsKey = Some("k"))
        val n = TxTable.read(spark, root).count()
        val mod = math.max(2L, n * 3 / keys)
        for (e <- 1 to 3)                                 // setup, untimed
          TxTable.deleteMor(spark, root,
            base.filter(col("k") % mod === e).select("k"), "k")
        val vol = (TxTable.ledgerVolume(root) / 1000).toInt
        def readAll(): Long = {
          var x = 0L
          for (_ <- 1 to 3)
            x = TxTable.read(spark, root)
              .agg(count(lit(1)).as("n"), sum("cents").as("s"))
              .collect()(0).getLong(0)
          x
        }
        measure("mor-read-volume", vol)(readAll())
        if (tag == "big") {
          spark.conf.set("spark.graft.mor.broadcastMaxBytes", "0")
          try measure("mor-read-volume-shuffled", vol)(readAll())
          finally spark.conf.unset("spark.graft.mor.broadcastMaxBytes")
        }
      }
    }

    // ---- inv-repair: Q-llm-56's steady-state epoch — corpus ×m, SAME
    // 500-doc delta (MoR re-write of their text), ONE change-feed
    // maintenance epoch: postings die by a doc_id delete ledger, the
    // re-tokenized post-images append. Flat claim: O(changed docs),
    // never the corpus.
    for (m <- Seq(1, 10) if want("inv-repair")) {
      val tmp = tempDir(s"graft_scale_inv$m").toString
      val (rootD, rootP) = (s"$tmp/docs", s"$tmp/postings")
      val docs = Tables.documents(spark, d)
        .crossJoin(spark.range(m).select(col("id").as("rep")))
        .select((col("doc_id") * m + col("rep")).as("doc_id"), col("text"))
      def postings(df: DataFrame) = df
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      TxTable.create(docs.coalesce(4), rootD, statsKey = Some("doc_id"))
      TxTable.create(postings(TxTable.read(spark, rootD)).coalesce(4),
        rootP, statsKey = Some("doc_id"))
      val v0 = TxTable.snapshot(rootD).version
      TxTable.mergeMor(spark, rootD,
        TxTable.read(spark, rootD).orderBy("doc_id").limit(500)
          .withColumn("text", concat(col("text"), lit(" graftupd"))),
        "doc_id")                                         // setup, untimed
      measure("inv-repair", m) {
        val cur = TxTable.snapshot(rootD).version
        val feed = TxTable.changeFeed(spark, rootD, v0, cur, Seq("doc_id"))
          .localCheckpoint()
        TxTable.deleteMor(spark, rootP, feed.select("doc_id"), "doc_id")
        TxTable.append(spark, rootP, postings(
          feed.filter(col("change") =!= "delete")
            .select(col("doc_id"), col("post.text").as("text"))))
        TxTable.read(spark, rootP).count()
      }
    }

    // ---- hist-expire: Q-qual-18's retention core — commit history ×m
    // (12 vs 96 CoW merge commits), then expireHistory to the newest
    // checkpoint + vacuumOrphans, timed. Cost is driver metadata I/O
    // ∝ archived commits + doomed files, never table data. rows :=
    // commits archived.
    for (m <- Seq(1, 8) if want("hist-expire")) {
      val tmp = tempDir(s"graft_scale_hist$m").toString
      val root = s"$tmp/tbl"
      val base = Tables.customer(spark, d).select(
        col("c_custkey").as("k"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("cents"))
      TxTable.create(base.repartitionByRange(3, col("k"))
        .sortWithinPartitions("k"), root, statsKey = Some("k"))
      (1 to 12 * m).foreach { e =>                        // setup, untimed
        TxTable.mergeCow(spark, root,
          base.filter(col("k") % (23 * m) === (e % (23 * m)))
            .select(col("k"), (col("cents") + e * 100L).as("cents")),
          "k")
      }
      val head = TxTable.snapshot(root).version
      measure("hist-expire", m) {
        val (_, archived) = TxTable.expireHistory(root, head)
        TxTable.vacuumOrphans(root)
        archived
      }
    }

    // ---- shingle-stage / shingle-probe: Q-qual-28's two cost centers.
    // Staging: one append of a docs batch ×m into a shingle-declared
    // table — the extra per-commit shingle scan is the claim (linear in
    // batch rows, acceptable; super-linear would flag the window/agg).
    // Probe: one phrase probe against the log alone — flat in ROWS,
    // ∝ files. rows := files kept.
    for (m <- Seq(1, 8) if want("shingle-blooms")) {
      val tmp = tempDir(s"graft_scale_sh$m").toString
      val root = s"$tmp/tbl"
      val src = Tables.documents(spark, d).select(col("doc_id"), col("text"))
      val batchM = src
        .crossJoin(spark.range(m).select(col("id").as("rep")))
        .select((col("doc_id") * m + col("rep")).as("doc_id"), col("text"))
      TxTable.create(src.limit(0).coalesce(1), root, Some("doc_id"), None,
        Seq.empty, shingleCols = Seq("text"), shingleN = 5)
      measure("shingle-stage", m) {
        TxTable.append(spark, root, batchM.coalesce(4))
        TxTable.snapshot(root).files.size.toLong
      }
      val probe = src.filter(col("doc_id") === 0)
        .select(array_join(slice(org.apache.spark.sql.functions.filter(
          split(lower(col("text")), "[^a-z0-9]+"),
          x => x =!= lit("")), 1, 7), " "))
        .head().getString(0)
      measure("shingle-probe", m) {
        val (kept, _) = TxTable.shinglePruneAccounting(root, "text", probe)
        kept.toLong
      }
    }

    // ---- zorder-n: Q-qual-33's layout rewrite — one transactional
    // 3-axis z-order OPTIMIZE at table ×m: interleave + range sort +
    // rewrite + stats, expected ~linear in data (one sort shuffle of
    // the table). rows := post-optimize live files.
    for (m <- Seq(1, 8) if want("zorder-n")) {
      val tmp = tempDir(s"graft_scale_z$m").toString
      val root = s"$tmp/tbl"
      val src = Tables.lineitem(spark, d)
        .crossJoin(spark.range(m).select(col("id").as("rep")))
        .select((col("l_orderkey") * m + col("rep")).as("a"),
          col("l_partkey").as("b"), col("l_suppkey").as("c"),
          col("l_quantity").cast("long").as("qty"))
      TxTable.create(src.coalesce(8), root, Some("a"), None, Seq("b", "c"))
      measure("zorder-n", m) {
        TxTable.optimizeZN(spark, root, Seq("a", "b", "c"),
          targetFiles = 64 * m)
        TxTable.snapshot(root).files.size.toLong
      }
    }
    // ---- multi-writer (round-9): commit throughput + retry
    // amplification at 1/2/4/8 concurrent writers against ONE table.
    // TxTableSpec proves serialization SAFETY; this prices it: each
    // writer stages its data before racing for the log head, so a lost
    // race costs a rebase (re-read snapshot, re-publish) but never a
    // data rewrite — amplification should be ~attempts/commit, not
    // wall-time blowup. Batches are tiny (200 rows) so the cell
    // measures the COMMIT PATH, not data I/O.
    for (w <- Seq(1, 2, 4, 8) if want("multi-writer")) {
      val tmp = tempDir(s"graft_scale_mw$w").toString
      val root = s"$tmp/tbl"
      TxTable.create(
        spark.range(200).select(col("id").as("k"),
          lit("seed").as("v")), root, Some("k"))
      val perWriter = 6
      val attempts = new java.util.concurrent.atomic.AtomicLong
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val threads = (0 until w).map { wi =>
        new Thread(() => {
          for (b <- 0 until perWriter) {
            val r = TxTable.append(spark, root,
              spark.range(200).select(
                (col("id") + (wi * perWriter + b) * 1000L).as("k"),
                lit(s"w$wi-b$b").as("v")))
            attempts.addAndGet(r.attempts.toLong)
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val sec = (System.nanoTime() - t0) / 1e9
      val commits = (w * perWriter).toLong
      require(TxTable.snapshot(root).version == commits,
        "every commit must land at a distinct version")
      println(f"""{"name":"multi-writer","scale":$w,"sec":$sec%.2f,""" +
        f""""commits":$commits,"attempts":${attempts.get()},""" +
        f""""amplification":${attempts.get().toDouble / commits}%.2f,""" +
        f""""commitsPerSec":${commits / sec}%.2f}""")
    }

    // ---- merge-skew (round-9): CoW merge rewrite under a Zipf merge
    // key (40% of rows on ONE key), forced into its SHUFFLED form (the
    // plan a 100 TB batch takes — broadcast off) with AQE skew-split
    // thresholds scaled to the fixture. Pins that the rewrite's
    // anti-join survives hub keys: time tracks data volume, not the
    // hot key's single-partition residence.
    for (m <- Seq(1, 8) if want("merge-skew")) {
      val tmp = tempDir(s"graft_scale_mskew$m").toString
      val root = s"$tmp/tbl"
      val n = 600000L * m
      val base = spark.range(n).select(
        when(col("id") % 5 < 2, 0L)
          .otherwise(col("id") % (50000L * m)).as("k"),
        concat(lit("base-"), col("id")).as("v"))
      TxTable.create(base.repartition(8 * m), root, Some("k"))
      val changes = spark.range(1000L).select(
        when(col("id") === 0L, 0L).otherwise(col("id") * 5 + 2).as("k"),
        lit("new").as("v"))
      val skewConfs = Seq(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "131072",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1048576",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val prev = skewConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
      skewConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      try measure("merge-skew", m) {
        TxTable.mergeCow(spark, root, changes, "k")
        TxTable.snapshot(root).files.size.toLong
      } finally prev.foreach { case (k, o) =>
        o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }

    // ---- wap-adopt (round-9): write-audit-publish cost vs staged DATA
    // volume at fixed file count. The publish is links + footer-bounded
    // audit + one metadata commit, so the claim under test is "flat in
    // rows": a 100 TB table pays the same publish cost for a 4-file
    // branch whether those files hold 200 k or 1.6 M rows. Setup
    // (create, clone, staged append) untimed.
    for (m <- Seq(1, 8) if want("wap-adopt")) {
      val tmp = tempDir(s"graft_scale_wap$m").toString
      val main = s"$tmp/main"; val branch = s"$tmp/branch"
      TxTable.create(spark.range(100000L * m)
        .select(col("id").as("k"), lit("base").as("v")).coalesce(4),
        main, Some("k"))
      TxTable.cloneShallow(main, branch)
      TxTable.append(spark, branch,
        spark.range(100000L * m, 200000L * m)
          .select(col("id").as("k"), lit("staged").as("v")).coalesce(4))
      measure("wap-adopt", m) {
        TxTable.adoptFrom(spark, main, branch)
        TxTable.snapshot(main).files.size.toLong
      }
    }

    // ---- power-law graph family (round-9): the Zipf hub fixture
    // (graft.queries.Graph.powerLawEdges — max degree 2000m, celebrity
    // clique ∝ ∛m) at 1× vs 8× edges. Pins the claims the uniform/
    // chain/clique fixtures can't: hub-split triangle counting stays
    // ~linear despite a post-orientation mega-outdeg, PageRank's
    // per-round exchanges stay |V|-bounded under Zipf in-degree, and
    // the FULLY-distributed CC loop (driverMaxEdges=0, the 100 TB
    // path) contracts a hub graph in O(1) effective rounds.
    for (m <- Seq(1, 8) if want("pl-triangles")) {
      measure("pl-triangles", m) {
        graft.operators.TriangleCount
          .run(graft.queries.Graph.powerLawEdges(spark, m), cap = 64)
          .collect().head.getAs[Long]("n_wedges")
      }
    }
    for (m <- Seq(1, 8) if want("pl-pagerank")) {
      val e = graft.queries.Graph.powerLawEdges(spark, m)
      val edges = e.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      measure("pl-pagerank", m) {
        graft.operators.PageRank.run(edges, 8).count()
      }
    }
    for (m <- Seq(1, 8) if want("pl-cc")) {
      val e = graft.queries.Graph.powerLawEdges(spark, m)
      val nodes = e.select(col("a").as("id"))
        .unionAll(e.select(col("b").as("id"))).distinct()
      measure("pl-cc", m) {
        ConnectedComponents
          .minLabel(nodes, e.select(col("a"), col("b")),
            driverMaxEdges = 0L)
          .select("label").distinct().count()
      }
    }

    // ---- win-skew (round-10): per-key WINDOW ops under a Zipf key —
    // the round-9 verdict's windowed hot-key audit, priced. One user
    // holds 40% of all events (zipfKeyed's key 0); the running-sum +
    // lag + row_number window must degrade GRACEFULLY: a window key's
    // rows sort on one task (O(k log k) — semantic, the frame is the
    // user's own history), so time tracks VOLUME ×8, never k². The
    // audit itself: every Q-win-*/Q-evt-* Window.partitionBy site keys
    // by a high-cardinality id (user_id / o_custkey / doc_id /
    // asset_id / purchase_id) except Q-win-09's 5-key c_mktsegment
    // ranks — a DIMENSION-table op (customer), ledgered as such in
    // BASELINE.md.
    // untimed warm pass: a fresh JVM's first window job pays codegen +
    // page-cache warmup that would inflate the 1× cell (the ledger's
    // known cold-JVM-first-cell artifact)
    if (want("win-skew")) {
      val ev0 = spark.range(60000L).select(
        (col("id") % 5000L).as("user_id"), col("id").as("ts"))
      val w0 = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts")
      ev0.select(sum(col("ts")).over(w0).as("r"), lag("ts", 1).over(w0),
        row_number().over(w0)).count()
    }
    for (m <- Seq(1, 8) if want("win-skew")) {
      val n = 600000L * m
      measure("win-skew", m) {
        val ev = spark.range(n).select(
          when(col("id") % 5 < 2, 0L)
            .otherwise(col("id") % 50000L).as("user_id"),
          col("id").as("ts"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts")
        ev.select(col("user_id"), col("ts"),
            sum(col("ts")).over(w).as("run"),
            lag("ts", 1).over(w).as("prev"),
            row_number().over(w).as("rn"))
          .filter(col("rn") % 97 === 0).count()
      }
    }

    // ---- dedup-star (round-10): the STAR-EDGE dedup-cluster path
    // (Q-llm-16/63's algebra) on a corpus whose planted mega-cluster
    // grows WITH the volume — corpus 2000m docs + a 2048m-variant
    // boilerplate cluster. Claim: time tracks VOLUME (×8), not cluster
    // size² (×64) — star candidates are O(members·bands) where the
    // all-pairs band join is O(k²) in the hot bucket (at m=8, 16384²/2
    // ≈ 134M pairs from single keys vs ~200k star edges total). The CC
    // runs the fully-distributed loop (the 100 TB path).
    def megaCorpus(m: Int) = {
      val docs = SkewFixtures.uniqueDocs(spark, 2000L * m)
      docs.unionByName(SkewFixtures.megaDupVariants(
        docs.filter(col("doc_id") === 0), k = 2048L * m))
    }
    for (m <- Seq(1, 8) if want("dedup-star")) {
      // stage the corpus to parquet (generation untimed; measure() clears
      // every persisted/checkpointed block before the timed body)
      val dir = tempDir(s"graft_scale_dedupstar$m").toString
      megaCorpus(m).write.mode("overwrite").parquet(dir)
      val corpus = spark.read.parquet(dir)
      graft.functions.MinHashSig.register(spark)
      measure("dedup-star", m) {
        val sh = graft.functions.TextFunctions
          .shingleRows(corpus, "doc_id", "text", 3).distinct().persist()
        sh.count()
        val sigs = sh.groupBy("doc_id").agg(
          expr("minhash_sig(sh, 6)").as("sig"),
          count(lit(1)).as("n_sh"))
        val bands = sigs
          .select(col("doc_id"), posexplode(col("sig")))
          .select(col("doc_id"), col("pos").as("band_id"),
            col("col").as("key"))
        val star = graft.operators.BucketJoin
          .starEdges(bands, Seq("band_id", "key"), "doc_id")
        // the PRODUCTION verify algebra (Q-llm-16/63/65's exact code
        // path, incl. its b-first/(a, sh) hub-skew join order) — the
        // cell prices what the queries actually run
        val edges = graft.queries.LlmOps.jaccardOn(star, sh, sigs)
          .filter(col("jaccard") >= 0.5).select("a", "b")
        val n = ConnectedComponents
          .minLabel(corpus.select(col("doc_id").as("id")), edges,
            driverMaxEdges = 0L)
          .filter(col("id") =!= col("label")).count()
        sh.unpersist()
        n
      }
    }

    // ---- dedup-star-hub (round-11): the VERIFY stage alone at 64x
    // cluster size — the last unproven span in the dedup scale story.
    // Every star edge of a cluster carries the bucket-min hub as `a`,
    // so an a-keyed first hop would land deg(a) x |sh(hub)| intersect
    // rows on ONE join key (at 10⁶ members: one ~10⁸-row straggler
    // task no executor count fixes). jaccardOn's b-first/(a, sh)
    // re-key spreads that over the hub's |sh| distinct shingle keys
    // with ≤ deg(a) rows each. Claim pinned here: as the cluster grows
    // 64x (2048 → 131072 members, corpus fixed), the verify job's
    // worst-stage max-task TIME SHARE stays bounded (≪ 1, i.e. no
    // single task owns the stage) and the longest task grows ~with
    // volume/parallelism, not cluster². Shingle/signature staging is
    // untimed setup — the claim under test is the verify join.
    for (m <- Seq(1, 64) if want("dedup-star-hub")) {
      val dir = tempDir(s"graft_scale_deduphub$m").toString
      val base = SkewFixtures.uniqueDocs(spark, 2000L)
      base.unionByName(SkewFixtures.megaDupVariants(
          base.filter(col("doc_id") === 0), k = 2048L * m))
        .write.mode("overwrite").parquet(dir)
      val corpus = spark.read.parquet(dir)
      graft.functions.MinHashSig.register(spark)
      val sh = graft.functions.TextFunctions
        .shingleRows(corpus, "doc_id", "text", 3).distinct().persist()
      sh.count()                                       // setup, untimed
      val sigs = sh.groupBy("doc_id").agg(
        expr("minhash_sig(sh, 6)").as("sig"),
        count(lit(1)).as("n_sh")).persist()
      val bands = sigs
        .select(col("doc_id"), posexplode(col("sig")))
        .select(col("doc_id"), col("pos").as("band_id"),
          col("col").as("key"))
      val star = graft.operators.BucketJoin
        .starEdges(bands, Seq("band_id", "key"), "doc_id").persist()
      star.count()                                     // setup, untimed
      // the superseded hub-first order, inlined as the A/B comparator:
      // intersect's first hop keys on `a` ALONE, so the hub key holds
      // deg(hub) x |sh(hub)| rows — the straggler the re-key kills
      def hubFirst(): Long = {
        val inter = star
          .join(sh.select(col("doc_id").as("a"), col("sh")), "a")
          .join(sh.select(col("doc_id").as("b"), col("sh")), Seq("b", "sh"))
          .groupBy("a", "b").agg(count(lit(1)).as("n_inter"))
        val sizes = sigs.select(col("doc_id"), col("n_sh"))
        star.join(inter, Seq("a", "b"), "left").na.fill(0L, Seq("n_inter"))
          .join(sizes.select(col("doc_id").as("a"), col("n_sh").as("na")), "a")
          .join(sizes.select(col("doc_id").as("b"), col("n_sh").as("nb")), "b")
          .filter(col("n_inter") * 2 >=
            col("na") + col("nb") - col("n_inter")).count()
      }
      import scala.jdk.CollectionConverters._
      // at 100 TB NEITHER side of the intersect join is broadcastable
      // (corpus shingles and the edge set are both fact-sized), but at
      // this fixture the ~260k-row star side fits the 10 MB default
      // threshold and Spark would broadcast it — flattering the hub-key
      // claim with a plan a cluster can't run. Force the shuffle-join
      // path so the measured plan is the SMJ + AQE-skew-split a real
      // cluster would execute.
      val bcast0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      for ((order, run) <- Seq(
          "member-first" -> (() => graft.queries.LlmOps
            .jaccardOn(star, sh, sigs)
            .filter(col("jaccard") >= 0.5).count()),
          "hub-first" -> (() => hubFirst()))) {
        balance.clear()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val t0 = System.nanoTime()
        val nEdges = try run()
          finally spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", bcast0)
        val sec = (System.nanoTime() - t0) / 1e9
        // listener events post asynchronously — drain before reading the
        // balance map or the last stage's tasks may be missing from it
        org.apache.spark.sql.graft.Bridge.drainListenerBus(sc)
        // the HEAVIEST stage (largest Σ task time) is where the verify
        // join's shuffle work lands; a straggler plan shows its max
        // task owning ~the whole stage (share → 1 with tasks ≫ 1)
        val (hTasks, hMax, hSum) = balance.values.asScala
          .maxBy(_._3)
        // plus the single longest task anywhere in the job — a
        // straggler hiding in a lighter stage can't dodge this one
        val gMax = balance.values.asScala.map(_._2).max
        println(f"""{"name":"dedup-star-hub","scale":$m,""" +
          f""""order":"$order","sec":$sec%.2f,"rows":$nEdges,""" +
          f""""heavyStageTasks":$hTasks,""" +
          f""""maxTaskSec":${hMax / 1e3}%.2f,""" +
          f""""maxTaskShare":${hMax.toDouble / hSum}%.3f,""" +
          f""""globalMaxTaskSec":${gMax / 1e3}%.2f}""")
      }
      sh.unpersist(); sigs.unpersist(); star.unpersist()
    }

    // ---- mm-dedup-hub (round-12 verdict #4): the IMAGE dedup's exact-
    // verify fingerprint attach (Q-mm-13/14, Extras.hammingEdges) keys
    // its first hop on the bare hub id `a` — a viral asset re-encoded
    // k times puts deg(hub) = k rows on ONE join key. Unlike the
    // pre-fix jaccard path there is no ×|shingles| multiplier (the
    // build side is 1 row per key), so the claim is that AQE
    // skew-split keeps the SMJ flat as the cluster grows 64×
    // (2048 → 131072 re-encodes, base corpus fixed): worst-stage
    // max-task share stays ≪ 1 and the longest task grows ~with
    // volume, not cluster². Broadcast is forced OFF: at 100 TB the
    // fingerprint table is fact-sized, so the measured plan must be
    // the shuffled SMJ a real cluster runs. Fingerprints are staged
    // directly (the cell prices the cluster algebra; the decode+hash
    // kernel is embarrassingly parallel and priced by Q-mm-14's bench
    // row). Re-encodes: exact-dup fingerprints with every 5th drifted
    // 1 bit — all inside Hamming ≤ 3, so every edge survives verify.
    for (m <- Seq(1, 64) if want("mm-dedup-hub")) {
      val k = 2048L * m
      val dir = tempDir(s"graft_scale_mmhub$m").toString
      val baseFp = spark.range(1L, 2001L).select(
        col("id").as("asset_id"),
        xxhash64(col("id")).as("lo"),
        xxhash64(col("id"), lit(7)).as("hi"))
      val viralFp = spark.range(2000000L, 2000000L + k).select(
        col("id").as("asset_id"),
        when(col("id") % 5 === 0,
            expr("CAST(6148914691236517205 AS BIGINT) ^ " +
              "shiftleft(CAST(1 AS BIGINT), CAST(id % 32 AS INT))"))
          .otherwise(lit(6148914691236517205L)).as("lo"),
        lit(-7905747460161236407L).as("hi"))
      baseFp.unionByName(viralFp).write.mode("overwrite").parquet(dir)
      val fp = spark.read.parquet(dir).persist()
      fp.count()                                       // setup, untimed
      val bcast0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      balance.clear()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t0 = System.nanoTime()
      val nEdges = try graft.queries.Extras.hammingEdges(fp).count()
        finally spark.conf.set(
          "spark.sql.autoBroadcastJoinThreshold", bcast0)
      val sec = (System.nanoTime() - t0) / 1e9
      import scala.jdk.CollectionConverters._
      org.apache.spark.sql.graft.Bridge.drainListenerBus(sc)
      val (hTasks, hMax, hSum) = balance.values.asScala.maxBy(_._3)
      val gMax = balance.values.asScala.map(_._2).max
      println(f"""{"name":"mm-dedup-hub","scale":$m,"sec":$sec%.2f,""" +
        f""""rows":$nEdges,"heavyStageTasks":$hTasks,""" +
        f""""maxTaskSec":${hMax / 1e3}%.2f,""" +
        f""""maxTaskShare":${hMax.toDouble / hSum}%.3f,""" +
        f""""globalMaxTaskSec":${gMax / 1e3}%.2f}""")
      fp.unpersist()
    }

    // ---- dedup-chunk (round-10): the CHUNKED pairwise band join
    // (Q-llm-02's candidate stage, BucketJoin.selfPairs cap=256) on the
    // same mega-cluster corpus at cluster 1024m — the pairwise OUTPUT is
    // genuinely quadratic in cluster size (the user asked for every
    // pair), so the claim is per-KEY boundedness: time tracks the PAIR
    // VOLUME (×4 per cluster doubling), never a single-task straggler.
    for (m <- Seq(1, 2) if want("dedup-chunk")) {
      val docs = SkewFixtures.uniqueDocs(spark, 1000L)
      val dir = tempDir(s"graft_scale_dedupchunk$m").toString
      docs.unionByName(SkewFixtures.megaDupVariants(
          docs.filter(col("doc_id") === 0), k = 1024L * m))
        .write.mode("overwrite").parquet(dir)
      val corpus = spark.read.parquet(dir)
      graft.functions.MinHashSig.register(spark)
      measure("dedup-chunk", m) {
        val sh = graft.functions.TextFunctions
          .shingleRows(corpus, "doc_id", "text", 3).distinct()
        val bands = sh.groupBy("doc_id")
          .agg(expr("minhash_sig(sh, 6)").as("sig"))
          .select(col("doc_id"), posexplode(col("sig")))
          .select(col("doc_id"), col("pos").as("band_id"),
            col("col").as("key"))
        graft.operators.BucketJoin
          .selfPairs(bands, Seq("band_id", "key"), "doc_id", cap = 256)
          .select(col("a_doc_id"), col("b_doc_id")).distinct().count()
      }
    }

    // ---- dedup-index-batch (round-11): Q-llm-67's per-batch cost —
    // probe a FIXED 400-doc batch against a persisted signature index
    // whose corpus grows ×8 (50k → 400k docs), then admit the survivors
    // in one TxTable append. Claim: per-batch cost ∝ BATCH, not corpus —
    // probeSigIndex's broadcast bucket prefilter means the corpus-sized
    // index never shuffles (without it, the bipartite join's
    // bucket-count window would re-exchange ALL index rows every
    // batch: shuffleMB ×8 here); the corpus contributes only the
    // 2-column columnar scan. Ledger row: sec and shuffleMB ~flat at ×8.
    // Index build (corpus shingling + create) is untimed setup — a real
    // pipeline paid it once at ingest.
    for (m <- Seq(1, 8) if want("dedup-index-batch")) {
      import graft.operators.TxTable
      val root = tempDir(s"graft_scale_idxbatch$m").toString + "/sigidx"
      graft.functions.MinHashSig.register(spark)
      def bandsOf(docs: org.apache.spark.sql.DataFrame) = {
        val sh = graft.functions.TextFunctions
          .shingleRows(docs, "doc_id", "text", 3).distinct()
        sh.groupBy("doc_id").agg(expr("minhash_sig(sh, 6)").as("sig"))
          .select(col("doc_id"), posexplode(col("sig")))
          .select(col("doc_id"), col("pos").cast("long").as("band_id"),
            col("col").as("key"))
      }
      TxTable.create(                                  // setup, untimed
        bandsOf(SkewFixtures.uniqueDocs(spark, 50000L * m)).repartition(8),
        root, statsKey = Some("band_id"))
      // fixed batch: 200 exact dups of corpus docs 0..199 (match rows)
      // + 200 fresh docs (the survivors the admit commits)
      val batch = spark.range(400L).select(
        (lit(8000000L) + col("id")).as("doc_id"),
        expr("array_join(transform(sequence(0, 23), j -> concat(" +
          "'w', CASE WHEN id < 200 THEN id ELSE 8000000 + id END, " +
          "'x', j)), ' ')").as("text"))
      measure("dedup-index-batch", m) {
        val pb = bandsOf(batch).persist()
        val matched = graft.queries.LlmOps
          .probeSigIndex(spark.read.format("graft").load(root), pb)
          .persist()
        val nMatched = matched.count()
        TxTable.append(spark, root,
          pb.join(matched.select(col("new_doc").as("doc_id")),
            Seq("doc_id"), "left_anti").repartition(2))
        pb.unpersist(); matched.unpersist()
        nMatched
      }
    }
    spark.stop()
  }
}
