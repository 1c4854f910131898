package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EngineSession
import graft.operators.TxTable
import graft.sources.GraftSource
import graft.streaming.Replay

/** The table log as a native streaming endpoint: `readStream.format
  * ("graft")` emits each commit's additions as micro-batches (offsets =
  * log versions), `writeStream.format("graft")` lands each batch as one
  * epoch-tagged exactly-once commit. */
class GraftStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = EngineSession.getOrCreate("graft-test")

  private def fresh(): String =
    Files.createTempDirectory("graft_stream").toString

  private def drain(src: String, dst: String, ckpt: String,
                    options: Map[String, String] = Map.empty): Unit = {
    var reader = spark.readStream.format("graft")
    options.foreach { case (k, v) => reader = reader.option(k, v) }
    Replay.drain(reader.load(src), checkpoint = Some(ckpt))(
      _.format("graft").option("path", dst).option("statsKey", "k"))
  }

  test("graft-to-graft drain: every commit's adds flow through, incrementally") {
    import spark.implicits._
    val dir = fresh()
    val (src, dst, ckpt) = (s"$dir/src", s"$dir/dst", s"$dir/ckpt")
    TxTable.create(
      (0L until 100L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
      src, statsKey = Some("k"))
    (1 to 3).foreach { e =>
      TxTable.append(spark, src,
        (e * 100L until e * 100L + 100L).map(k => (k, s"v$k"))
          .toDF("k", "v").coalesce(1))
    }
    drain(src, dst, ckpt, Map("maxVersionsPerTrigger" -> "1"))
    val got = TxTable.read(spark, dst).as[(Long, String)].collect().toSet
    val want = TxTable.read(spark, src).as[(Long, String)].collect().toSet
    assert(got == want && got.size == 400)
    // maxVersionsPerTrigger=1 chunks the backlog: initial snapshot batch
    // + one batch per remaining version, each one sink commit (+1 for
    // the sink's schema-only create at v0)
    val sinkV = TxTable.snapshot(dst).version
    assert(sinkV >= 3, s"backlog should drain in paced batches, sink at v$sinkV")

    // an idempotent re-drain: nothing new at the source, no new commits
    drain(src, dst, ckpt)
    assert(TxTable.snapshot(dst).version == sinkV,
      "re-drain with an unchanged source must commit nothing")

    // incremental: one more source epoch -> exactly its rows flow
    TxTable.append(spark, src,
      (400L until 450L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
    drain(src, dst, ckpt)
    assert(TxTable.read(spark, dst).count() == 450L)
    assert(TxTable.snapshot(dst).version == sinkV + 1,
      "the incremental epoch should land as exactly one sink commit")
  }

  test("mergeMode=mor sink: upsert epochs rewrite zero files, fold restores the fast path") {
    import spark.implicits._
    val dir = fresh()
    val (src, dst, ckpt) = (s"$dir/src", s"$dir/dst", s"$dir/ckpt")
    // 4 source epochs, overlapping keys: every epoch after the first is
    // a genuine upsert (the CoW sink would rewrite touched files)
    TxTable.create(
      (0L until 60L).map(k => (k, 0L)).toDF("k", "e").coalesce(1),
      src, statsKey = Some("k"))
    (1 to 3).foreach { e =>
      TxTable.append(spark, src,
        (e * 10L until e * 10L + 60L).map(k => (k, e.toLong))
          .toDF("k", "e").coalesce(1))
    }
    def drainMor(): Unit = Replay.drain(
      spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", "1")
        .option("ignoreChanges", "true")
        .load(src), checkpoint = Some(ckpt))(
      _.format("graft")
        .option("path", dst)
        .option("mergeKeys", "k")
        .option("mergeMode", "mor")
        .option("statsKey", "k"))
    drainMor()
    // the MoR contract: no upsert epoch rewrote or removed a data file
    val pv = TxTable.snapshot(dst).version
    (1L to pv).foreach { v =>
      val prev = TxTable.snapshot(dst, v - 1).files.toSet
      val cur = TxTable.snapshot(dst, v).files.toSet
      assert(prev.subsetOf(cur),
        s"mor sink epoch rewrote data files at v$v")
    }
    assert(TxTable.snapshot(dst).ledgers.nonEmpty,
      "upsert epochs should carry delete ledgers")
    // replay: unchanged source commits nothing
    drainMor()
    assert(TxTable.snapshot(dst).version == pv, "re-drain must no-op")
    // content = last-writer-wins per key, same as a CoW upsert drain
    val want = (0L until 90L).map { k =>
      val last = (0 to 3).filter(e =>
        (e == 0 && k < 60) || (e > 0 && k >= e * 10 && k < e * 10 + 60)).max
      (k, last.toLong)
    }.toSet
    assert(TxTable.read(spark, dst)
      .as[(Long, Long)].collect().toSet == want)
    // maintenance folds the ledgers away; content invariant
    TxTable.foldLedgersOver(spark, dst, 0)
    assert(TxTable.snapshot(dst).ledgers.isEmpty)
    assert(TxTable.read(spark, dst)
      .as[(Long, Long)].collect().toSet == want)
  }

  test("foldEvery: the mor sink maintains its own ledger pressure in-band") {
    import spark.implicits._
    val dir = fresh()
    val (src, dst, ckpt) = (s"$dir/src", s"$dir/dst", s"$dir/ckpt")
    // 9 source epochs, all upserting the same hot keys — unmaintained,
    // the sink table's chain would grow one per epoch
    TxTable.create(
      (0L until 50L).map(k => (k, 0L)).toDF("k", "e").coalesce(1),
      src, statsKey = Some("k"))
    (1 to 8).foreach { e =>
      TxTable.append(spark, src,
        (0L until 50L).map(k => (k, e.toLong)).toDF("k", "e").coalesce(1))
    }
    def drainMor(): Unit = Replay.drain(
      spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", "1")
        .option("ignoreChanges", "true")
        .load(src), checkpoint = Some(ckpt))(
      _.format("graft")
        .option("path", dst)
        .option("mergeKeys", "k")
        .option("mergeMode", "mor")
        .option("foldEvery", "3")
        .option("maxLedgers", "2")
        .option("statsKey", "k"))
    drainMor()
    val (chain, live) = TxTable.ledgerPressure(dst)
    assert(chain <= 2 + 3, // bound + at most foldEvery-1 epochs since
      s"in-band folds must bound the chain, got $chain")
    assert(live < 9, s"folds must retire ledgers, $live live")
    // content: last epoch wins on every key
    assert(TxTable.read(spark, dst).as[(Long, Long)].collect().toSet ==
      (0L until 50L).map(k => (k, 8L)).toSet)
    // replay: neither upserts nor folds re-run
    val v = TxTable.snapshot(dst).version
    drainMor()
    assert(TxTable.snapshot(dst).version == v,
      "replayed triggers must not re-upsert or re-fold")
  }

  test("a file-rewriting commit refuses; ignoreChanges emits its adds") {
    import spark.implicits._
    val dir = fresh()
    val (src, dst, ckpt) = (s"$dir/src", s"$dir/dst", s"$dir/ckpt")
    TxTable.create(
      (0L until 100L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
      src, statsKey = Some("k"))
    drain(src, dst, ckpt) // initial load
    TxTable.mergeCow(spark, src,
      Seq((7L, "V7"), (200L, "v200")).toDF("k", "v"), "k")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(src, dst, ckpt)
    }
    assert(e.getCause.getMessage.contains("appends-only"),
      s"expected the appends-only refusal, got: ${e.getCause.getMessage}")
    // ignoreChanges: the merge's rewritten file flows (at-least-once) —
    // the sink's mergeKeys turns that replay back into exactly-once rows
    Replay.drain(spark.readStream.format("graft")
        .option("ignoreChanges", "true").load(src), checkpoint = Some(ckpt))(
      _.format("graft").option("path", dst).option("mergeKeys", "k"))
    val got = TxTable.read(spark, dst).as[(Long, String)].collect().toSet
    assert(got.size == 101 && got.contains((7L, "V7")) && got.contains((200L, "v200")))
  }

  test("CDC stream: updates and deletes surface as change rows") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = fresh()
    val (src, ckpt) = (s"$dir/src", s"$dir/ckpt")
    TxTable.create(
      (0L until 100L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
      src, statsKey = Some("k"))
    val seen = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, String, Option[String], Option[String])]()
    def drainCdc(): Unit = Replay.drain(
      spark.readStream.format("graft")
        .option("readChangeFeed", "true").option("changeKeys", "k")
        .load(src), checkpoint = Some(ckpt))(
      _.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach { r =>
          seen.add((r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) None else Some(r.getStruct(2).getString(0)),
            if (r.isNullAt(3)) None else Some(r.getStruct(3).getString(0))))
        }
      })
    drainCdc() // initial snapshot: 100 inserts, pre = NULL
    assert(seen.size == 100 && seen.asScala.forall(c =>
      c._2 == "insert" && c._3.isEmpty && c._4.isDefined))
    seen.clear()
    TxTable.mergeCow(spark, src,
      Seq((7L, "V7"), (200L, "v200")).toDF("k", "v"), "k")
    TxTable.deleteMor(spark, src, Seq(9L).toDF("k"), "k")
    drainCdc() // incremental: exactly the three changes, nothing re-emitted
    val byKey = seen.asScala.groupBy(_._1)
    assert(seen.size == 3, s"expected 3 change rows, got $seen")
    assert(byKey(7L).head == ((7L, "update", Some("v7"), Some("V7"))))
    assert(byKey(200L).head == ((200L, "insert", None, Some("v200"))))
    assert(byKey(9L).head == ((9L, "delete", Some("v9"), None)))
  }

  test("MoR deletes pass the appends-only stream (ledger adds no files)") {
    import spark.implicits._
    val dir = fresh()
    val (src, dst, ckpt) = (s"$dir/src", s"$dir/dst", s"$dir/ckpt")
    TxTable.create(
      (0L until 100L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1),
      src, statsKey = Some("k"))
    drain(src, dst, ckpt)
    TxTable.deleteMor(spark, src, Seq(7L).toDF("k"), "k")
    TxTable.append(spark, src, Seq((500L, "v500")).toDF("k", "v").coalesce(1))
    drain(src, dst, ckpt) // no refusal: the ledger removed no files
    // the stream is append-history: already-emitted k=7 stays in the
    // sink (the documented tradeoff); the new append flowed
    assert(TxTable.read(spark, dst).count() == 101L)
    assert(GraftSource.read(spark, src).count() == 100L)
  }
}
