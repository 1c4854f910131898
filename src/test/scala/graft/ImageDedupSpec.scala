package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.core.EngineSession
import graft.multimodal.{BmpCodec, Multimodal}

/** Q-mm-14: image near-dup dedup over REAL decoded pixels.
  *
  * The unit layer proves the perceptual-hash semantics THROUGH the real
  * codec (encode → JDK ImageIO decode → hash): uniform brightness shifts
  * leave aHash64 bit-identical (the re-encode invariance the +32 variant
  * banks on), localized cell edits drift it by a small positive distance,
  * and the all-integer threshold compare matches an independent
  * recomputation from the generator arithmetic. The e2e layer runs the
  * registered query at sf0.001 and checks the planted-variant cluster
  * structure the oracle hash-verifies in CI.
  */
class ImageDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = EngineSession.getOrCreate("graft-test")
  val sf = "/root/testdata/sf0.001"

  private def hashOf(gray: (Int, Int) => Int): (Long, Long) = {
    val payload = BmpCodec.encode(16, 16, gray)
    val (w, h, px) = Multimodal.decodeGray(payload).get
    assert(w == 16 && h == 16)
    Multimodal.aHashFromGray(w, h, px)
  }

  private def hamming(a: (Long, Long), b: (Long, Long)): Int =
    java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)

  // Q-mm-14's base-image generator (spatial pattern modulated by src
  // through three coprime residues — NOT a pure additive shift)
  private def gen(src: Long)(x: Int, y: Int): Int =
    (((src % 97 + 1) * (x + 1) * (x + 3) + (src % 89 + 1) * (y + 2) * (y + 5) +
      (src % 83 + 1) * (x + 1) * (y + 1) + src) % 192).toInt

  test("aHash64 over decoded pixels is invariant under uniform brightness " +
      "shift (the re-encode variant, through the real codec)") {
    for (src <- Seq(0L, 7L, 123L, 44497L)) {
      val base = hashOf(gen(src))
      // +32 never clamps (gen < 192), so the decoded raster shifts
      // uniformly and every cellSum moves with the threshold
      val bright = hashOf((x, y) => gen(src)(x, y) + 32)
      assert(base == bright, s"src=$src: brightness shift changed the hash")
    }
  }

  test("localized two-cell edit drifts the hash by a small positive distance") {
    var drifts = Vector.empty[Int]
    for (src <- 0L until 40L) {
      val c1 = ((src * 7) % 64).toInt
      val c2 = ((src * 13 + 5) % 64).toInt
      val base = hashOf(gen(src))
      val edited = hashOf { (x, y) =>
        val cell = (y / 2) * 8 + (x / 2)
        gen(src)(x, y) + (if (cell == c1 || cell == c2) 64 else 0)
      }
      drifts :+= hamming(base, edited)
    }
    // the edit must be visible (some drift) but localized (never far):
    // the two named cells flip toward 1 and only margin-crossing cells
    // can follow (+512 total-sum shift / 64 per cell-sum unit)
    assert(drifts.exists(_ > 0), "no image drifted at all")
    assert(drifts.forall(_ <= 8), s"drift not localized: $drifts")
    // and the intended near-dup band (<= 3) must be well-populated
    assert(drifts.count(d => d > 0 && d <= 3) >= 10,
      s"too few <=3-bit drifts for the fixture to exercise near-dups: $drifts")
  }

  test("aHashFromGray matches an independent recomputation of the " +
      "equal-area integer threshold") {
    val src = 31L
    val payload = BmpCodec.encode(16, 16, gen(src))
    val (w, h, px) = Multimodal.decodeGray(payload).get
    val (lo, hi) = Multimodal.aHashFromGray(w, h, px)
    val cells = Array.fill(64)(0L)
    var total = 0L
    for (y <- 0 until 16; x <- 0 until 16) {
      cells((y / 2) * 8 + (x / 2)) += px(y * 16 + x); total += px(y * 16 + x)
    }
    var elo = 0L; var ehi = 0L
    for (i <- 0 until 64 if cells(i) * 64 > total)
      if (i < 32) elo |= 1L << i else ehi |= 1L << (i - 32)
    assert((lo, hi) == (elo, ehi))
  }

  test("aHashFromGray rejects dims not divisible by 8") {
    intercept[IllegalArgumentException] {
      Multimodal.aHashFromGray(12, 8, new Array[Int](96))
    }
  }

  test("Q-mm-14 e2e: every +32 re-encode variant clusters with its base " +
      "at sf0.001") {
    val out = SparkEntry.queries("Q-mm-14")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val off = 500L // sf0.001: doc_ids 0..499 => off = max(doc_id)+1 = 500
    assert(out.keys.max == 2 * off + 490L, // last %70 variant: 490 + 2*off
      s"unexpected id domain: max=${out.keys.max}")
    val brightVariants = out.keys.filter(id => id >= off && id < 2 * off)
    assert(brightVariants.nonEmpty)
    for (v <- brightVariants)
      assert(out(v) == out(v - off),
        s"re-encode variant $v not clustered with base ${v - off}")
    // and the base population is NOT one giant component (the fixture
    // carries per-image identity): most bases are singleton clusters
    val bases = out.keys.filter(_ < off)
    val selfLabeled = bases.count(id => out(id) == id)
    assert(selfLabeled >= (bases.size * 9) / 10,
      s"only $selfLabeled/${bases.size} bases are cluster minima")
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  test("Hamming verify: AQE's skew split keeps the viral hub's attach off one task as the cluster grows 8x") {
    import org.apache.spark.sql.functions._
    // a viral asset re-encoded 256m times: its star edges all carry the
    // hub as `a`, so the first fingerprint attach holds deg(hub) rows on
    // one key until AQE splits that partition. Thresholds scaled to the
    // fixture; no stage may leave 30% of its shuffle reads to one task
    def verify(m: Int) = JobCount.pinned(spark, aqe = true, confs = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1024",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1024")) {
      val base = spark.range(1L, 501L).select(col("id").as("asset_id"),
        xxhash64(col("id")).as("lo"), xxhash64(col("id"), lit(7)).as("hi"))
      val viral = spark.range(2000000L, 2000000L + 256L * m).select(col("id").as("asset_id"),
        // every 5th re-encode drifts one bit: all stay within Hamming 3
        expr("6148914691236517205L ^ IF(id % 5 = 0, " +
          "shiftleft(1L, CAST(id % 32 AS INT)), 0L)").as("lo"),
        lit(-7905747460161236407L).as("hi"))
      val fp = base.unionByName(viral).persist()
      fp.count()
      try JobCount.counters(spark.sparkContext, s"hamming x$m") {
        graft.queries.Extras.hammingEdges(fp).write.format("noop").mode("overwrite").save()
      } finally fp.unpersist()
    }
    for (m <- Seq(1, 8)) {
      val c = verify(m)
      val share = c.worstShare(_.read)
      info(f"cluster x$m: $c worstReadShare=$share%.3f")
      assert(share < 0.3, s"cluster x$m: $share")
    }
  }
}
