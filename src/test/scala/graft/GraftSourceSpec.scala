package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EngineSession
import graft.operators.TxTable
import graft.sources.{GraftFileIndex, GraftSource}

/** The planner-integrated source: `format("graft")` scans resolve the
  * snapshot through a [[GraftFileIndex]], so log stats/blooms prune
  * files at planning time, conservative widening never drops a
  * matching row, and the log-backed relation size drives Catalyst's
  * broadcast decision without hints. */
class GraftSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = EngineSession.getOrCreate("graft-test")

  private def freshRoot(): String =
    Files.createTempDirectory("graft_src").toString + "/t"

  /** 4 range-clustered files over k = 0..399, v = "v<k>". */
  private def seed(root: String): Unit = {
    import spark.implicits._
    val df = (0L until 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(4, col("k"))
    TxTable.create(df, root, statsKey = Some("k"))
  }

  test("format scan matches TxTable.read, including time travel") {
    import spark.implicits._
    val root = freshRoot()
    seed(root)
    TxTable.append(spark, root,
      (400L until 500L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
    val got = spark.read.format("graft").load(root)
      .as[(Long, String)].collect().toSet
    val want = TxTable.read(spark, root).as[(Long, String)].collect().toSet
    assert(got == want && got.size == 500)
    val v0 = spark.read.format("graft").option("versionAsOf", "0")
      .load(root).count()
    assert(v0 == 400L)
  }

  test("range predicate on the stats key prunes files at planning time") {
    val root = freshRoot()
    seed(root)
    GraftFileIndex.resetListing(root)
    val n = GraftSource.scan(spark, root)
      .filter(col("k") >= 350L).count()
    assert(n == 50L)
    val (total, kept) = GraftFileIndex.lastListing(root).get
    assert(total == 4 && kept <= 2,
      s"expected range pruning to drop files, listed $kept/$total")
  }

  test("point predicate consults the bloom when ranges cannot exclude") {
    import spark.implicits._
    val root = freshRoot()
    // every file spans the whole key domain (streamed-append layout):
    // ranges exclude nothing, blooms must do the work
    val parts = (0 until 4).map { p =>
      (0L until 100L).map(i => (i * 4L + p, "x")).toDF("k", "v").coalesce(1)
    }
    TxTable.create(parts.head, root, statsKey = Some("k"))
    parts.tail.foreach(df => TxTable.append(spark, root, df))
    GraftFileIndex.resetListing(root)
    val hit = GraftSource.scan(spark, root).filter(col("k") === 13L).count()
    assert(hit == 1L)
    val (total, kept) = GraftFileIndex.lastListing(root).get
    assert(total == 4 && kept <= 2, // k=13 lives in one file; FP rate ~0.4%
      s"bloom should prune domain-overlapping files: listed $kept/$total")
  }

  test("fractional stats widen by 1: boundary predicates never drop rows") {
    import spark.implicits._
    val root = freshRoot()
    // long-normalized stats of [5.6, 5.9] truncate to [5, 5]; a naive
    // pruner would drop the file for pred > 5.5 (5 <= 5.5) and lose rows
    val df = Seq((1L, 5.6), (2L, 5.9)).toDF("k", "x").coalesce(1)
    TxTable.create(df, root, Some("k"), None, Seq("x"))
    assert(GraftSource.scan(spark, root).filter(col("x") > 5.5).count() == 2L)
    assert(GraftSource.scan(spark, root).filter(col("x") < 5.7).count() == 1L)
    // and far-off ranges still prune on the widened band
    GraftFileIndex.resetListing(root)
    assert(GraftSource.scan(spark, root).filter(col("x") > 8.0).count() == 0L)
    assert(GraftFileIndex.lastListing(root).exists(_._2 == 0))
  }

  test("secondary stats columns and IS NOT NULL prune; nulls stay correct") {
    import spark.implicits._
    val root = freshRoot()
    val withB = (0L until 100L).map(k => (k, Some(k * 10L), "a"))
    val nullB = (100L until 200L).map(k => (k, None: Option[Long], "b"))
    TxTable.create(withB.toDF("k", "b", "v").coalesce(1), root,
      Some("k"), None, Seq("b"))
    TxTable.append(spark, root, nullB.toDF("k", "b", "v").coalesce(1))
    // secondary range prune: b lives only in file 1
    GraftFileIndex.resetListing(root)
    assert(GraftSource.scan(spark, root).filter(col("b") === 500L).count() == 1L)
    assert(GraftFileIndex.lastListing(root).exists(_._2 == 1))
    // the all-NULL file's recorded empty range proves IS NOT NULL empty
    GraftFileIndex.resetListing(root)
    assert(GraftSource.scan(spark, root).filter(col("b").isNotNull).count() == 100L)
    assert(GraftFileIndex.lastListing(root).exists(_._2 == 1))
    // IS NULL must keep both files (stats say nothing about null presence)
    assert(GraftSource.scan(spark, root).filter(col("b").isNull).count() == 100L)
  }

  test("live MoR ledgers refuse the format scan; GraftSource.read falls back") {
    import spark.implicits._
    val root = freshRoot()
    seed(root)
    TxTable.deleteMor(spark, root, Seq(7L).toDF("k"), "k")
    val e = intercept[IllegalArgumentException] {
      GraftSource.scan(spark, root)
    }
    assert(e.getMessage.contains("merge-on-read"))
    val got = GraftSource.read(spark, root).as[(Long, String)].collect().toSet
    assert(got.size == 399 && !got.exists(_._1 == 7L))
    // compaction folds the ledger; the fast path returns (no anti-join)
    TxTable.compact(spark, root)
    val post = GraftSource.read(spark, root)
    assert(!post.queryExecution.executedPlan.toString.contains("Join"),
      "post-compact read should take the indexed path (no ledger anti-join)")
    assert(post.count() == 399L)
  }

  test("z-order OPTIMIZE composes: the format scan prunes on both dimensions") {
    import spark.implicits._
    val root = freshRoot()
    // 4 epochs each spanning BOTH domains: no single-key layout helps
    val rows = (0L until 4096L).map(i => (i % 64, (i * 37L) % 64, i))
    TxTable.create(rows.take(1024).toDF("x", "y", "p").coalesce(1), root,
      Some("x"), None, Seq("y"))
    (1 to 3).foreach(e => TxTable.append(spark, root,
      rows.slice(e * 1024, e * 1024 + 1024).toDF("x", "y", "p").coalesce(1)))
    TxTable.optimizeZ(spark, root, "x", "y", targetFiles = 16)
    def prunes(c: String): Unit = {
      GraftFileIndex.resetListing(root)
      val n = GraftSource.scan(spark, root)
        .filter(col(c) >= 0L && col(c) < 16L).count()
      assert(n == 1024L, s"quarter-domain read on $c lost rows: $n")
      val (total, kept) = GraftFileIndex.lastListing(root).get
      assert(total >= 8 && kept <= total / 2,
        s"z-order + log stats should prune a quarter-domain $c read: " +
          s"listed $kept/$total")
    }
    prunes("x")
    prunes("y")
  }

  test("pending schema evolutions refuse the fixed relation; read falls back") {
    import spark.implicits._
    val root = freshRoot()
    seed(root)
    TxTable.renameColumn(spark, root, "v", "val")
    val e = intercept[IllegalArgumentException] {
      GraftSource.scan(spark, root)
    }
    assert(e.getMessage.contains("evolutions pending"))
    val got = GraftSource.read(spark, root)
    assert(got.columns.toSeq == Seq("k", "val") && got.count() == 400L)
    // compaction rewrites into the current schema; the fast path returns
    TxTable.compact(spark, root)
    assert(GraftSource.scan(spark, root).columns.toSeq == Seq("k", "val"))
  }

  test("log-backed sizeInBytes auto-broadcasts a small graft table") {
    import spark.implicits._
    val root = freshRoot()
    seed(root)
    val big = spark.range(0, 100000L).select(
      (col("id") % 400L).as("k"), (col("id") * 3L).as("m"))
    val joined = big.join(GraftSource.scan(spark, root), Seq("k"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small graft side should broadcast from log size alone:\n$plan")
    assert(joined.count() == 100000L)
  }

  test("pushed parquet filters and column pruning survive the relation") {
    val root = freshRoot()
    seed(root)
    val filtered = GraftSource.scan(spark, root).filter(col("k") > 17L)
    val fScan = filtered.queryExecution.executedPlan.collectLeaves().head.toString
    assert(fScan.contains("PushedFilters") && fScan.contains("GreaterThan"),
      s"parquet-level pushdown missing:\n$fScan")
    val projected = GraftSource.scan(spark, root).select("v")
    val pScan = projected.queryExecution.executedPlan.collectLeaves().head.toString
    assert(pScan.contains("struct<v:string>"),
      s"column pruning missing (v-only projection reads more):\n$pScan")
  }

  test("string stats column: equality, prefix, and range predicates prune in the planner") {
    import spark.implicits._
    val root = freshRoot()
    // three files clustered on the string axis (a-h / i-p / q-x)
    def batch(b: Int) = (0 until 60).map { i =>
      val c = ('a' + b * 8 + i % 8).toChar
      (b * 100L + i, s"$c-word-$i")
    }.toDF("k", "s").coalesce(1)
    TxTable.create(batch(0), root, Some("k"), None, Seq("s"))
    (1 to 2).foreach(b => TxTable.append(spark, root, batch(b)))
    // equality: range narrows to one file, the hash bloom confirms
    GraftFileIndex.resetListing(root)
    assert(GraftSource.scan(spark, root)
      .filter(col("s") === "j-word-9").count() == 1L)
    assert(GraftFileIndex.lastListing(root).exists(_._2 == 1),
      s"equality kept ${GraftFileIndex.lastListing(root)}")
    // a value absent everywhere: the bloom proves every file empty
    GraftFileIndex.resetListing(root)
    assert(GraftSource.scan(spark, root)
      .filter(col("s") === "j-word-999").count() == 0L)
    assert(GraftFileIndex.lastListing(root).exists(_._2 == 0),
      s"absent key kept ${GraftFileIndex.lastListing(root)}")
    // prefix predicate: StartsWith prunes to the covering file
    GraftFileIndex.resetListing(root)
    assert(GraftSource.scan(spark, root)
      .filter(col("s").startsWith("q-")).count() == 8L)
    assert(GraftFileIndex.lastListing(root).exists(_._2 == 1),
      s"prefix kept ${GraftFileIndex.lastListing(root)}")
    // range: BETWEEN two strings spanning two of three files
    GraftFileIndex.resetListing(root)
    val n = GraftSource.scan(spark, root)
      .filter(col("s") >= "i" && col("s") < "r").count()
    assert(n == 60L + 8L) // i-p (60 rows) + q (8 rows)
    assert(GraftFileIndex.lastListing(root).exists(_._2 == 2),
      s"range kept ${GraftFileIndex.lastListing(root)}")
    // results stay exact vs the unpruned read on the same predicates
    val got = GraftSource.scan(spark, root)
      .filter(col("s").startsWith("b-")).as[(Long, String)].collect().toSet
    val want = TxTable.read(spark, root)
      .where(col("s").startsWith("b-")).as[(Long, String)].collect().toSet
    assert(got == want && want.nonEmpty)
  }

  /** Six append-only files: range-clustered and domain-spanning on the
    * long key k, with a long secondary b and a string s, both with
    * blooms. */
  private def parityTable(root: String, rnd: scala.util.Random): Unit = {
    import spark.implicits._
    def batch(i: Int) = (0 until 40).map { j =>
      val k = if (i % 2 == 0) i * 100L + rnd.nextInt(100) else rnd.nextInt(600).toLong
      (k, rnd.nextInt(1000).toLong,
        s"${('a' + (i + rnd.nextInt(2)) % 6).toChar}${rnd.nextInt(50)}")
    }.toDF("k", "b", "s").coalesce(1)
    TxTable.create(batch(0), root, Some("k"), None, Seq("b", "s"))
    (1 until 6).foreach(i => TxTable.append(spark, root, batch(i)))
  }

  /** Three rounds of random range and IN predicates on k and b, and
    * range, prefix and IN predicates on s, with values drawn from `rows`
    * and from outside them. */
  private def predicates(rnd: scala.util.Random,
                         rows: Array[(Long, Long, String)]): Seq[Column] = {
    def someS(): String =
      if (rnd.nextBoolean()) rows(rnd.nextInt(rows.length))._3
      else s"${('a' + rnd.nextInt(7)).toChar}${rnd.nextInt(60)}"
    (0 until 3).flatMap { _ =>
      Seq("k" -> rows.map(_._1), "b" -> rows.map(_._2)).flatMap { case (c, vs) =>
        val lo = rnd.nextInt(1000).toLong - 20
        val hi = lo + rnd.nextInt(150)
        val keys = Seq.fill(1 + rnd.nextInt(12))(
          if (rnd.nextBoolean()) rnd.nextInt(1100).toLong else vs(rnd.nextInt(vs.length)))
        Seq(col(c).between(lo, hi), col(c).isin(keys: _*))
      } ++ {
        val (lo, hi) = Seq(someS(), someS()).sorted match { case Seq(a, b) => (a, b) }
        val p = someS().take(1 + rnd.nextInt(2))
        Seq(col("s").between(lo, hi), col("s").startsWith(p),
          col("s").isin(Seq.fill(1 + rnd.nextInt(12))(someS()): _*))
      }
    }
  }

  test("TxTable's pruned reads and the planner keep the same files and rows") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261018L)
    val root = freshRoot()
    parityTable(root, rnd)
    val rows = TxTable.read(spark, root).as[(Long, Long, String)].collect()
    for (p <- predicates(rnd, rows)) {
      GraftFileIndex.resetListing(root)
      val got = spark.read.format("graft").load(root).where(p)
        .as[(Long, Long, String)].collect().sorted.toSeq
      val kept = TxTable.keptFiles(spark, root, p)._2
      assert(GraftFileIndex.lastListing(root).map(_._2).contains(kept),
        s"$p: readWhere kept $kept, planner ${GraftFileIndex.lastListing(root)}")
      assert(TxTable.readWhere(spark, root, p).as[(Long, Long, String)]
        .collect().sorted.toSeq == got, s"$p: rows differ")
    }
  }

  test("readWhere over live MoR ledgers keeps the rows read().where() keeps") {
    // the format scan refuses this table: readWhere is its pruned read
    import spark.implicits._
    val rnd = new scala.util.Random(20261020L)
    val root = freshRoot()
    parityTable(root, rnd)
    TxTable.deleteMorKeys(spark, root, (0L until 600L by 7).toDF("k"), Seq("k"))
    TxTable.mergeMor(spark, root, (0L until 600L by 11)
      .map(k => (k, k + 1000L, s"u$k")).toDF("k", "b", "s"), "k")
    assert(TxTable.snapshot(root).ledgers.size == 2)
    val all = TxTable.read(spark, root)
    for (p <- predicates(rnd, all.as[(Long, Long, String)].collect()))
      assert(TxTable.readWhere(spark, root, p).as[(Long, Long, String)]
        .collect().sorted.toSeq ==
        all.where(p).as[(Long, Long, String)].collect().sorted.toSeq, s"$p")
  }
}
