package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{EngineSession, Tables}
import graft.multimodal.Multimodal

/** Property-level checks for the LLM-pipeline operators (SURVEY.md §5.3):
  * approximate ops that have no SQL oracle (ANN recall), algebraic
  * invariants (MinHash permutation-invariance), and the multimodal
  * plumbing shape.
  */
class LlmOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = EngineSession.getOrCreate("graft-test")
  val sf = "/root/testdata/sf0.001"

  test("Q-llm-08 IVF-ANN: pooled recall@10 >= 0.4 vs exact brute force") {
    // Q-llm-08's rendering now emits per-query recall BOOLEANS (oracle-
    // checked); this spec keeps the pooled quantitative floor by driving
    // the index directly against the exact Q-llm-03 top-10.
    val exact = SparkEntry.queries("Q-llm-03")(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val emb = Tables.embeddings(spark, sf)
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val approx = graft.operators.IvfIndex
      .search(emb, qs, "vec_id", "embedding", "query_id", "q_emb",
        nlist = 16, nprobe = 8, k = 10)
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"IVF recall@10 = $recall")
    assert(recall >= 0.4, s"recall too low: $recall")
  }

  test("Q-llm-37 PQ-ANN: recall@10 vs exact L2 brute force") {
    val exact = SparkEntry.queries("Q-llm-36")(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SparkEntry.queries("Q-llm-37")(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"PQ recall@10 = $recall")
    // 32x compression + exact re-rank of 50 ADC survivors; the bound is
    // the measured floor on the synthetic embeddings, not a target
    assert(recall >= 0.3, s"recall too low: $recall")
  }

  test("Q-llm-14 hyperplane-LSH ANN: recall@10 vs exact brute force") {
    // sf0.01 (500 vectors): at sf0.001's 50 vectors the 64 buckets are
    // near-singletons and recall measures corpus sparsity, not the index
    val sfLsh = "/root/testdata/sf0.01"
    val exact = SparkEntry.queries("Q-llm-03")(spark, sfLsh)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SparkEntry.queries("Q-llm-14")(spark, sfLsh)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"LSH recall@10 = $recall")
    // 4 tables x 6 bits, Hamming-1 multi-probe (observed 0.68; planes are
    // fixed constants so recall is deterministic). Correctness of the
    // bucket algebra itself is hash-checked by the DuckDB oracle — this
    // asserts the approximation is useful, not just well-defined
    assert(recall >= 0.5, s"recall too low: $recall")
  }

  test("Q-llm-15 int8 quantized re-rank: recall@10 vs exact brute force") {
    val exact = SparkEntry.queries("Q-llm-03")(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SparkEntry.queries("Q-llm-15")(spark, sf)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"int8-rerank recall@10 = $recall")
    // int8 barely perturbs cosine ordering and the re-rank is exact over
    // the quantized top-50, so near-perfect recall is the expectation
    assert(recall >= 0.9, s"recall too low: $recall")
  }

  test("Q-llm-16 dedup clusters: pairs co-clustered, representatives are roots") {
    val pairs = SparkEntry.queries("Q-llm-02")(spark, sf)
      .filter(col("jaccard") >= 0.5).select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cl = SparkEntry.queries("Q-llm-16")(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) =>
      assert(cl(a) == cl(b), s"pair ($a,$b) split across clusters") }
    // a cluster's representative labels itself
    cl.values.toSet.foreach((c: Long) => assert(cl(c) == c))
    // the kept set is exactly one doc per cluster
    assert(cl.values.toSet.size == cl.count { case (id, c) => id == c })
  }

  test("MinHashSig aggregate == K separate min(md5) aggregates") {
    import graft.functions.TextFunctions._
    graft.functions.MinHashSig.register(spark)
    val sh = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(shingles(words(col("text")), 3)).as("sh"))
    val viaAgg = sh.groupBy("doc_id")
      .agg(expr("minhash_sig(sh, 6)").as("sig"))
      .select(col("doc_id"), col("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val sigCols = (0 until 6).map(b => min(seededHash(b, col("sh"))).as(s"s$b"))
    val viaCols = sh.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to 6).map(r.getString).toList).toMap
    assert(viaAgg == viaCols)
  }

  test("MinHash signatures are invariant under row permutation") {
    import graft.functions.TextFunctions._
    val docs = Tables.documents(spark, sf)
    def sigs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), explode(shingles(words(col("text")), 3)).as("sh"))
      .distinct()
      .groupBy("doc_id").agg(min(seededHash(0, col("sh"))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = sigs(docs)
    val b = sigs(docs.orderBy(rand(42))) // permuted input
    assert(a == b)
  }

  test("Multimodal: features are deterministic and partition-independent") {
    val docs = Tables.documents(spark, sf)
    val f1 = Multimodal.featuresFromDocuments(spark, docs.repartition(1))
      .orderBy("asset_id").collect()
    val f13 = Multimodal.featuresFromDocuments(spark, docs.repartition(13))
      .orderBy("asset_id").collect()
    assert(f1.sameElements(f13))
    assert(f1.length == docs.count())
  }

  test("Multimodal: media_type assignment covers all three modalities") {
    val types = Multimodal.assetsFromDocuments(Tables.documents(spark, sf))
      .groupBy("media_type").count().collect().map(_.getString(0)).toSet
    assert(types == Set("image", "audio", "video"))
  }

  test("Q-llm-02 LSH candidates include the highest-Jaccard consecutive pair") {
    // every LSH candidate with jaccard j is found with prob 1-(1-j)^BANDS;
    // sanity: candidates are symmetric-free (a < b) and jaccard in [0,1]
    val rows = SparkEntry.queries("Q-llm-02")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val j = r.getDouble(2)
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("Q-llm-27 fuzzy dedup: recall 1.0 on the planted single-edit pairs") {
    // every 50th doc has a planted variant (id + 1000000) one deletion
    // away; the blocked edit-distance pass must recover EVERY such pair
    val found = SparkEntry.queries("Q-llm-27")(spark, sf)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = Tables.documents(spark, sf)
      .filter(col("doc_id") % 50 === 0).select("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000)).toSet
    assert(planted.nonEmpty)
    val missed = planted -- found
    assert(missed.isEmpty, s"planted pairs missed: $missed")
  }

  test("Q-llm-30 decontamination: flags every planted leakage twin") {
    val rows = SparkEntry.queries("Q-llm-30")(spark, sf)
      .select("doc_id", "n_overlap_5grams", "contaminated").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    val planted = Tables.documents(spark, sf)
      .filter(col("doc_id") % 97 === 0).select("doc_id").collect()
      .map(r => r.getLong(0) + 2000000).toSet
    assert(planted.nonEmpty)
    planted.foreach { id =>
      assert(rows(id)._2, s"planted leaked doc $id not flagged")
    }
    // the flag must be exactly the >= 3 overlap rule (docs 50/82 at this
    // SF genuinely share >= 3 5-grams with a benchmark doc — the gate is
    // SUPPOSED to flag those, they're real contamination)
    rows.foreach { case (id, (n, flag)) =>
      assert(flag == (n >= 3), s"doc $id: flag $flag inconsistent with n=$n")
    }
  }

  test("Q-llm-40 substring-span dedup: planted twins carry the exact 28-token span") {
    val rows = SparkEntry.queries("Q-llm-40")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val twins = rows.keys.filter(_ >= 3000000L)
    assert(twins.nonEmpty)
    twins.foreach { id =>
      val (nTok, nDup) = rows(id)
      // twin text = 28 quoted tokens + "unique tail <id>"; windows fully
      // inside the quoted span cover exactly its 28 tokens
      assert(nTok == 31L, s"twin $id token count $nTok")
      assert(nDup == 28L, s"twin $id dup span $nDup")
      // the quoted ORIGINAL is flagged with at least the same 28 tokens
      // (more if it also duplicates naturally)
      val orig = rows(id - 3000000L)
      assert(orig._2 >= 28L, s"original ${id - 3000000L} dup span ${orig._2}")
    }
    // every reported span is within the doc's token count
    rows.foreach { case (id, (n, dup)) =>
      assert(dup <= n, s"doc $id: dup $dup > tokens $n")
    }
  }

  test("Q-llm-41 NB classifier: learns the planted signal on held-out docs") {
    val rows = SparkEntry.queries("Q-llm-41")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    // held-out only: ~20% of the corpus
    assert(rows.length < 200, s"test split too large: ${rows.length}")
    val acc = rows.count(_._4).toDouble / rows.length
    info(s"held-out accuracy = $acc over ${rows.length} docs")
    assert(acc >= 0.9, s"classifier failed to learn the planted marker: $acc")
    // correct flag is consistent with the lang/pred pair
    rows.foreach { case (id, lang, pred, ok) =>
      assert(ok == (lang == pred), s"doc $id inconsistent correct flag")
    }
  }

  test("Q-llm-42 LR quality classifier: beats the base rate on its target") {
    val rows = SparkEntry.queries("Q-llm-42")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(4)))
    assert(rows.nonEmpty)
    val acc = rows.count(_._4).toDouble / rows.length
    val baseRate = math.max(rows.count(_._2 == 1L), rows.count(_._2 == 0L))
      .toDouble / rows.length
    info(s"accuracy = $acc vs base rate $baseRate over ${rows.length} docs")
    assert(acc >= 0.9, s"GD failed to fit the separating plane: $acc")
    assert(acc > baseRate, "classifier no better than majority vote")
    // probabilities are calibrated into [0, 1]
    rows.foreach { case (id, _, p, _) =>
      assert(p >= 0.0 && p <= 1.0, s"doc $id probability $p out of range")
    }
  }

  test("Q-llm-58 prefix filter: complete vs naive join, candidates shrink") {
    import graft.functions.TextFunctions.shingleRows
    import org.apache.spark.sql.expressions.Window
    val sh = shingleRows(Tables.documents(spark, sf), "doc_id", "text", 3)
      .distinct().persist()
    // naive candidate generator: EVERY shared-shingle pair
    val naiveCand = sh.as("x").join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct().count()
    // the query's prefix-filtered candidate generator, same algebra
    val dfTab = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val prefix = sh.join(dfTab, "sh")
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))))
      .filter(expr("pos <= n - ((8 * n + 9) DIV 10) + 1"))
      .select("doc_id", "sh")
    val prefCand = prefix.as("x").join(prefix.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct().count()
    info(s"candidates: naive=$naiveCand prefix=$prefCand")
    assert(prefCand < naiveCand,
      "prefix filtering must shrink the candidate space")
    // completeness: the full query's pairs = the naive exact τ ≥ 0.8 join
    val got = SparkEntry.queries("Q-llm-58")(spark, sf)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val want = sh.as("x").join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("a"), col("n_sh").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n_sh").as("nb")), "b")
      .filter(col("i") * 9 >= (col("na") + col("nb")) * 4)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    sh.unpersist()
    assert(want.nonEmpty, "fixture must contain τ ≥ 0.8 pairs")
    assert(got == want,
      s"prefix join missed/invented pairs: missed=${want -- got} extra=${got -- want}")
  }

  // soak tier: plants the 2048-variant mega-cluster (~20 s); the star-edge
  // linearity contract itself is also exercised by Q-llm-63's oracle row
  test("Q-llm-63 mega-cluster: star candidates stay LINEAR where all-pairs is quadratic",
      SlowTest) {
    import graft.functions.TextFunctions.shingleRows
    // the Q-llm-63 corpus: 2048 near-identical variants of doc 0
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val corpus = docs.unionByName(graft.tools.SkewFixtures
      .megaDupVariants(docs.filter(col("doc_id") === 0), k = 2048L))
    val n = corpus.count()
    graft.functions.MinHashSig.register(spark)
    val sh = shingleRows(corpus, "doc_id", "text", 3).distinct().persist()
    sh.count()
    val bands = sh.groupBy("doc_id")
      .agg(expr("minhash_sig(sh, 6)").as("sig"))
      .select(col("doc_id"), posexplode(col("sig")))
      .select(col("doc_id"), col("pos").as("band_id"), col("col").as("key"))
    // star candidate edges: bounded by one edge per (member, band) —
    // linear in corpus size regardless of how hot any bucket is
    val starEdges = graft.operators.BucketJoin
      .starEdges(bands, Seq("band_id", "key"), "doc_id").count()
    // the all-pairs candidate join on the same bands: the mega bucket
    // alone contributes ~k²/2 pairs — quadratic in cluster size
    val pairEdges = bands.as("x").join(bands.as("y"),
        col("x.band_id") === col("y.band_id") &&
        col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
    sh.unpersist()
    info(s"corpus=$n starEdges=$starEdges allPairs=$pairEdges")
    assert(starEdges <= 6L * n,
      s"star candidates must stay ≤ bands × corpus: $starEdges vs ${6L * n}")
    assert(pairEdges >= 2048L * 2047L / 2,
      "fixture must actually produce the quadratic all-pairs blowup")
    // ...and the full query resolves the planted docs as ONE cluster
    val mega = SparkEntry.queries("Q-llm-63")(spark, sf)
      .orderBy(col("cluster_size").desc).limit(1)
      .select("cluster_size", "n_planted").collect()(0)
    // ≥: doc 0's NATURAL near-dups in the corpus legitimately join too
    assert(mega.getLong(0) >= 2049L && mega.getLong(1) == 2048L,
      s"mega cluster must hold base + all 2048 variants: $mega")
  }

  test("SignBits fused kernel == per-plane cosine-sign buckets, every table") {
    // the fused one-traversal signature (round-10) must reproduce the
    // per-plane reference algebra bit-for-bit — this is what lets
    // Q-llm-14 keep its oracle hash after the fusion
    val ps = graft.operators.LshIndex.planes(dim = 64, nBits = 6, nTables = 4)
    graft.functions.SignBits.register(spark, ps, nBits = 6)
    graft.functions.CosineSim.register(spark)
    val emb = Tables.embeddings(spark, sf)
    val perPlane = (0 until 4).map(t =>
      graft.operators.LshIndex.bucketCol(col("embedding"), ps, 6, t)
        .as(s"b$t"))
    val rows = emb.select(
        (col("vec_id") +: (call_udf("sign_bits", col("embedding")).as("sig") +:
          perPlane)): _*)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val fused = r.getSeq[Int](1)
      (0 until 4).foreach { t =>
        assert(fused(t) == r.getInt(2 + t),
          s"vec ${r.getLong(0)} table $t: fused=${fused(t)} ref=${r.getInt(2 + t)}")
      }
    }
  }

  test("LshIndex.search: a null embedding vector indexes under bucket 0, search survives") {
    // the round-11 advice fix: sign_bits(null) is null, and without the
    // coalesce a null-vector corpus row silently vanished at posexplode
    // (and a null-vector probe produced null buckets = no candidates).
    // Pin the documented behavior: nulls live under bucket 0 in every
    // table — exactly where the per-plane when() fall-through put them —
    // and search over a corpus containing a null row neither crashes nor
    // drops the row from the index.
    import spark.implicits._
    val ps = graft.operators.LshIndex.planes(dim = 4, nBits = 2, nTables = 2)
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f, 0f)),
      (2L, null.asInstanceOf[Array[Float]]),
      (3L, Array(0f, 0f, 0f, 0f))) // zero vector: defined sign bits, not null
      .toDF("vec_id", "embedding")
    val out = graft.operators.LshIndex
      .search(emb, "vec_id", "embedding", qPred = col("vec_id") === 0,
        ps, nBits = 2, k = 10)
      .collect()
    // the null row must still be REACHABLE: it sits in bucket 0 of every
    // table, so if the query probes bucket 0 (own or Hamming-1) the null
    // row appears as a candidate (its cosine is null → ranked last by
    // the desc ordering, but present in the index, not dropped)
    graft.functions.SignBits.register(spark, ps, nBits = 2)
    val nullSig = emb.filter(col("vec_id") === 2)
      .select(coalesce(call_udf("sign_bits", col("embedding")),
        array_repeat(lit(0), lit(2)))).collect()(0).getSeq[Int](0)
    assert(nullSig == Seq(0, 0), s"null vector must sign to bucket 0: $nullSig")
    // search returned the real neighbor and did not throw on the null row
    assert(out.exists(r => r.getLong(1) == 1L),
      s"true neighbor missing from ANN results: ${out.mkString(",")}")
  }

  test("prefix filter: a shared rare shingle does NOT quadratically explode candidates") {
    import graft.functions.TextFunctions.shingleRows
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // 100 docs, each mostly unique text plus ONE shared rare 3-shingle
    // ("xq zq wq"): the naive shared-token join emits 100·99/2 pairs from
    // that token alone; prefix filtering keeps each doc's RAREST ~20% of
    // shingles, and the doc's own df=1 shingles outrank the shared df=100
    // one, so the shared token never enters a prefix
    val docs = (0 until 100).map { i =>
      val unique = (0 until 30).map(j => s"w${i}x$j").mkString(" ")
      (i.toLong, s"$unique xq zq wq")
    }.toDF("doc_id", "text")
    val sh = shingleRows(docs, "doc_id", "text", 3).distinct().persist()
    sh.count()
    val dfTab = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val prefix = sh.join(dfTab, "sh")
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))))
      .filter(expr("pos <= n - ((8 * n + 9) DIV 10) + 1"))
      .select("doc_id", "sh")
    val naive = sh.as("x").join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
    val pref = graft.operators.BucketJoin
      .selfPairs(prefix, Seq("sh"), "doc_id", 256)
      .select(col("a_doc_id"), col("b_doc_id")).distinct().count()
    sh.unpersist()
    info(s"naive=$naive prefix=$pref")
    assert(naive >= 100L * 99L / 2, "fixture must share the rare shingle")
    assert(pref <= 100L,
      s"prefix candidates must stay sub-quadratic under a shared rare token: $pref")
  }

  private def shingleSet(docs: DataFrame): DataFrame = graft.functions.TextFunctions
    .shingleRows(docs, "doc_id", "text", 3).distinct()

  // (doc_id, band_id, key) MinHash bands over a distinct shingle set
  private def bandsOf(sh: DataFrame): DataFrame = {
    graft.functions.MinHashSig.register(spark)
    sh.groupBy("doc_id").agg(expr("minhash_sig(sh, 6)").as("sig"))
      .select(col("doc_id"), posexplode(col("sig")))
      .select(col("doc_id"), col("pos").cast("long").as("band_id"), col("col").as("key"))
  }

  test("Q-llm-67 index batch: probe + admit shuffle stays flat as the index grows 8x") {
    import graft.operators.TxTable
    import graft.tools.SkewFixtures
    // probeSigIndex's broadcast bucket prefilter keeps the corpus-sized
    // index from shuffling: one batch's probe and admit write the same
    // shuffle records at index x1 and x8. A fixed batch: 200 exact dups
    // of index docs 0..199 and 200 fresh docs
    val batch = spark.range(400L).select((lit(8000000L) + col("id")).as("doc_id"),
      expr("array_join(transform(sequence(0, 23), j -> concat('w', " +
        "CASE WHEN id < 200 THEN id ELSE 8000000 + id END, 'x', j)), ' ')").as("text"))
    def epoch(m: Int) = JobCount.pinned(spark, aqe = false) {
      val root = java.nio.file.Files.createTempDirectory("graft_idxbatch").toString + "/idx"
      TxTable.create(bandsOf(shingleSet(SkewFixtures.uniqueDocs(spark, 2000L * m))), root,
        statsKey = Some("band_id"))
      JobCount.counters(spark.sparkContext, s"index batch x$m") {
        val pb = bandsOf(shingleSet(batch)).persist()
        val matched = graft.queries.LlmOps
          .probeSigIndex(spark.read.format("graft").load(root), pb).persist()
        assert(matched.count() == 200L)
        TxTable.append(spark, root, pb.join(matched.select(col("new_doc").as("doc_id")),
          Seq("doc_id"), "left_anti").repartition(2))
        pb.unpersist(); matched.unpersist()
      }
    }
    val (c1, c8) = (epoch(1), epoch(8))
    info(s"index x1: $c1; x8: $c8")
    assert(c8.shuffleWritten == c1.shuffleWritten, s"x1: $c1; x8: $c8")
  }

  test("star-edge Jaccard verify: no task writes most of its heaviest stage as the cluster grows 8x") {
    import graft.tools.SkewFixtures
    // every star edge of the planted cluster carries the hub as `a`:
    // jaccardOn's b-first, then (a, sh) join order spreads the hub's
    // intersect rows over its shingle keys, where an a-keyed first hop
    // leaves one task writing deg(hub) x |sh(hub)| rows. AQE off: the
    // plan alone must spread them
    for (m <- Seq(1, 8)) {
      val c = JobCount.pinned(spark, aqe = false,
          confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
        val base = SkewFixtures.uniqueDocs(spark, 200L)
        val corpus = base.unionByName(SkewFixtures.megaDupVariants(
          base.filter(col("doc_id") === 0), k = 256L * m))
        val sh = shingleSet(corpus).persist()
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh")).persist()
        val star = graft.operators.BucketJoin
          .starEdges(bandsOf(sh), Seq("band_id", "key"), "doc_id").persist()
        star.count(); sizes.count()
        try JobCount.counters(spark.sparkContext, s"jaccard x$m") {
          graft.queries.LlmOps.jaccardOn(star, sh, sizes)
            .write.format("noop").mode("overwrite").save()
        } finally { sh.unpersist(); sizes.unpersist(); star.unpersist() }
      }
      val share = c.heaviestShare(_.written)
      info(f"cluster x$m: $c heaviestWriteShare=$share%.3f")
      assert(share < 0.25, s"cluster x$m: $share")
    }
  }
}
