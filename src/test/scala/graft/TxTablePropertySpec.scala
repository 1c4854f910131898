package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EngineSession
import graft.operators.TxTable

/** Model-based property test for the ACID table: a seeded random sequence
  * of merge / CoW-merge / MoR-merge / CoW-delete / MoR-delete / compact
  * operations applied to a TxTable must equal the same sequence applied
  * to a plain in-memory Map — at EVERY intermediate version (time travel
  * replays the whole history), for every merge implementation, under
  * random batch sizes and key overlap, with the MoR delete sets resolved
  * in the scan (default bound) and by the shuffled anti-join (bound 0)
  * — and the log-only [[TxTable.changeFeed]] between any two versions
  * must equal the model states' brute-force diff. */
class TxTablePropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = EngineSession.getOrCreate("graft-test")

  private sealed trait Op
  private case class Merge(batch: Map[Long, String], cow: Boolean) extends Op
  private case class MergeMor(batch: Map[Long, String]) extends Op
  private case class Delete(keys: Set[Long]) extends Op
  private case class DeleteMor(keys: Set[Long]) extends Op
  private case object Compact extends Op
  private case object Optimize extends Op

  private def genOps(seed: Long, n: Int): List[Op] = {
    val batch = for {
      size <- Gen.chooseNum(1, 8)
      keys <- Gen.listOfN(size, Gen.chooseNum(0L, 30L))
      tagv <- Gen.chooseNum(0, 1000000)
    } yield keys.distinct.map(k => k -> s"v$tagv-$k").toMap
    val op: Gen[Op] = Gen.frequency(
      (6, for { b <- batch; c <- Gen.oneOf(true, false) } yield Merge(b, c)),
      // the zero-rewrite upsert interleaves with everything else: its
      // ledgers must fold correctly through later CoW rewrites, compact,
      // OPTIMIZE, time travel, and the change feed
      (3, batch.map(MergeMor(_))),
      // deletes never target the two init keys, so the table (like any
      // real one with a retained dimension row) never goes fully empty
      (2, Gen.listOfN(3, Gen.chooseNum(2L, 30L)).map(ks => Delete(ks.toSet))),
      (2, Gen.listOfN(3, Gen.chooseNum(2L, 30L)).map(ks => DeleteMor(ks.toSet))),
      (1, Gen.const(Compact)),
      // re-clustering is content-preserving like compact but also folds
      // live MoR ledgers and rewrites the whole layout
      (1, Gen.const(Optimize)))
    // the tail re-inserts a key a MoR ledger deleted: the newer file
    // escapes the older ledger
    Gen.listOfN(n, op).apply(Gen.Parameters.default, Seed(seed)).get ++
      List(DeleteMor(Set(5L, 6L)), MergeMor(Map(5L -> s"back$seed")))
  }

  // ~1 min soak; the per-op contracts have fast unit coverage in TxTableSpec
  test("random op sequences: table == in-memory model at every version",
      SlowTest) {
    import spark.implicits._
    val boundKey = "spark.graft.mor.broadcastMaxBytes"
    for (bound <- Seq(None, Some("0")); seed <- 1L to 3L) try {
      bound.foreach(spark.conf.set(boundKey, _))
      val at = s"seed=$seed bound=${bound.getOrElse("default")}"
      val root = Files.createTempDirectory(s"graft_txprop_$seed").toString
      val init = Map(0L -> "init0", 1L -> "init1")
      TxTable.create(init.toSeq.toDF("k", "v"), root, statsKey = Some("k"))
      // the model's state after each committed version
      val states = scala.collection.mutable.ArrayBuffer[Map[Long, String]](init)
      var model = init
      genOps(seed, 14).foreach {
        case Merge(batch, cow) =>
          val df = batch.toSeq.toDF("k", "v")
          if (cow) TxTable.mergeCow(spark, root, df, "k")
          else TxTable.merge(spark, root, df, Seq("k"))
          model = model ++ batch
          states += model
        case MergeMor(batch) =>
          TxTable.mergeMor(spark, root, batch.toSeq.toDF("k", "v"), "k")
          model = model ++ batch
          states += model
        case Delete(keys) =>
          TxTable.deleteCow(spark, root, keys.toSeq.toDF("k"), "k")
          model = model -- keys
          states += model
        case DeleteMor(keys) =>
          TxTable.deleteMorKeys(spark, root, keys.toSeq.toDF("k"), Seq("k"))
          model = model -- keys
          states += model
        case Compact =>
          TxTable.compact(spark, root, targetFiles = 1)
          states += model // compaction must not change content
        case Optimize =>
          TxTable.optimize(spark, root, targetFiles = 2)
          states += model // re-clustering must not change content
      }
      val snap = TxTable.snapshot(root)
      assert(snap.version == states.length - 1,
        s"$at: ${states.length - 1} ops committed, table at v${snap.version}")
      // every version (incl. across the v10 checkpoint) replays the model
      for (v <- states.indices) {
        val got = TxTable.read(spark, root, v)
          .as[(Long, String)].collect().toMap
        assert(got == states(v), s"$at version=$v diverged")
      }
      // log stats stay complete through arbitrary op interleavings
      assert(snap.files.forall(snap.live(_).range.isDefined), s"$at stats")
      // the pruned reads resolve the same ledgers at the final version
      val probe = Seq(0L, 5L, 6L, 17L, 30L, 99L)
      assert(TxTable.pointRead(spark, root, probe).as[(Long, String)]
        .collect().toMap == model.filter(e => probe.contains(e._1)),
        s"$at pointRead diverged")
      assert(TxTable.readPrunedOn(spark, root, "k", 4L, 20L)
        .as[(Long, String)].collect().toMap ==
        model.filter(e => e._1 >= 4L && e._1 <= 20L),
        s"$at readPrunedOn diverged")
      // the LOG-ONLY change feed between any two versions must equal the
      // brute-force diff of the model states (net semantics: intermediate
      // churn cancels; compact-only intervals are empty)
      val last = states.length - 1L
      for ((a, b) <- Seq((0L, last), (last / 2, last), (1L, last / 2))
           if a <= b) {
        val got = TxTable.changeFeed(spark, root, a, b, Seq("k"))
          .selectExpr("k", "change", "pre.v AS pv", "post.v AS nv")
          .as[(Long, String, Option[String], Option[String])]
          .collect().toSet
        val (sa, sb) = (states(a.toInt), states(b.toInt))
        val want = (sa.keySet ++ sb.keySet).collect {
          case k if sa.get(k) != sb.get(k) =>
            val change =
              if (!sa.contains(k)) "insert"
              else if (!sb.contains(k)) "delete"
              else "update"
            (k, change, sa.get(k), sb.get(k))
        }
        assert(got == want, s"$at feed [$a,$b] diverged from model")
      }
    } finally spark.conf.unset(boundKey)
  }
}
