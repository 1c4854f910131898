package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EngineSession
import graft.operators.TxTable

/** The ACID table contract: atomic commits, snapshot isolation, time
  * travel, SERIALIZED concurrent upserts (the round-3 verdict's "upsert
  * into a table twice concurrently has no story" gap), and idempotent
  * epoch-tagged replays. */
class TxTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = EngineSession.getOrCreate("graft-test")

  private def freshRoot(): String =
    Files.createTempDirectory("graft_txtable").toString

  private def rows(root: String, v: Long = Long.MaxValue): Set[(Long, String)] = {
    import spark.implicits._
    TxTable.read(spark, root, v).as[(Long, String)].collect().toSet
  }

  test("create + merge: updates replace, inserts append, version advances") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    val r = TxTable.merge(spark, root,
      Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
    assert(r.version == 1L && !r.skipped)
    assert(rows(root) == Set((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("time travel: every historical snapshot stays readable") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(Seq((1L, "a")).toDF("k", "v"), root)
    TxTable.merge(spark, root, Seq((1L, "a2")).toDF("k", "v"), Seq("k"))
    TxTable.merge(spark, root, Seq((2L, "b")).toDF("k", "v"), Seq("k"))
    assert(rows(root, 0) == Set((1L, "a")))
    assert(rows(root, 1) == Set((1L, "a2")))
    assert(rows(root) == Set((1L, "a2"), (2L, "b")))
    assert(TxTable.snapshot(root).version == 2L)
  }

  test("concurrent merges SERIALIZE: both apply, losers rebase and retry") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create((0L until 20L).map(i => (i, "base")).toDF("k", "v"), root)
    // 4 writers race: disjoint key ranges, so the serialized result is
    // exactly all four applied regardless of commit order
    val writers = (0 until 4).map { w =>
      new Thread(() => {
        val changes = (0L until 5L)
          .map(i => (w * 5L + i, s"writer$w")).toDF("k", "v")
        TxTable.merge(spark, root, changes, Seq("k"))
      })
    }
    writers.foreach(_.start())
    writers.foreach(_.join(120000))
    val snap = TxTable.snapshot(root)
    assert(snap.version == 4L, s"expected 4 serialized commits, got $snap")
    val got = rows(root)
    val want = (0 until 4).flatMap(w =>
      (0L until 5L).map(i => (w * 5L + i, s"writer$w"))).toSet
    assert(got == want)
  }

  test("losing writers' orphaned data files are invisible to readers") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(Seq((1L, "a")).toDF("k", "v"), root)
    // stage a data directory that no commit references (a loser's leak)
    Seq((99L, "orphan")).toDF("k", "v")
      .write.parquet(s"$root/data/orphaned-files")
    assert(!rows(root).contains((99L, "orphan")))
  }

  test("epoch-tagged commits are replay-idempotent (exactly-once sink)") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(Seq((1L, "a")).toDF("k", "v"), root)
    val tag = Some("app=str20/epoch=7")
    val first = TxTable.merge(spark, root,
      Seq((2L, "b")).toDF("k", "v"), Seq("k"), tag)
    // foreachBatch replays the same epoch: must be a detected no-op
    val replay = TxTable.merge(spark, root,
      Seq((2L, "b")).toDF("k", "v"), Seq("k"), tag)
    assert(!first.skipped && first.version == 1L)
    assert(replay.skipped && replay.version == 1L)
    assert(rows(root).count(_._1 == 2L) == 1)
  }

  test("compact rewrites to fewer files; history stays time-travelable") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(Seq((1L, "a")).toDF("k", "v"), root)
    (2L to 5L).foreach(i =>
      TxTable.merge(spark, root, Seq((i, s"v$i")).toDF("k", "v"), Seq("k")))
    val before = TxTable.snapshot(root)
    val r = TxTable.compact(spark, root, targetFiles = 1)
    val after = TxTable.snapshot(root)
    assert(r.version == before.version + 1)
    assert(after.files.length < before.files.length)
    assert(rows(root) ==
      Set((1L, "a")) ++ (2L to 5L).map(i => (i, s"v$i")).toSet)
    // pre-compaction snapshots still resolve (immutable data files)
    assert(rows(root, before.version) == rows(root))
    assert(rows(root, 0) == Set((1L, "a")))
  }

  test("vacuumOrphans reclaims unreferenced files only; table + history intact") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(Seq((1L, "a")).toDF("k", "v"), root)
    TxTable.merge(spark, root, Seq((2L, "b")).toDF("k", "v"), Seq("k"))
    // fake a losing writer's leak: staged parquet no commit references
    Seq((99L, "orphan")).toDF("k", "v")
      .write.parquet(s"$root/data/loser-leak")
    val deleted = TxTable.vacuumOrphans(root)
    assert(deleted >= 1L, "the orphaned parquet file was not reclaimed")
    assert(rows(root) == Set((1L, "a"), (2L, "b")))
    assert(rows(root, 0) == Set((1L, "a"))) // history untouched
    assert(TxTable.vacuumOrphans(root) == 0L) // idempotent
  }

  test("mergeCow rewrites ONLY files whose key range contains a change") {
    import spark.implicits._
    val root = freshRoot()
    // 4 range-partitioned files: keys 0..99 in disjoint ranges
    TxTable.create(
      (0L until 100L).map(i => (i, "base")).toDF("k", "v")
        .repartitionByRange(4, col("k")),
      root)
    val v0 = TxTable.snapshot(root)
    assert(v0.files.length == 4)
    // change keys 0..9 live in exactly one range file
    val r = TxTable.mergeCow(spark, root,
      (0L until 10L).map(i => (i, "upd")).toDF("k", "v"), "k")
    assert(!r.skipped && r.version == 1L)
    val v1 = TxTable.snapshot(root)
    val carried = v0.files.toSet.intersect(v1.files.toSet)
    assert(carried.size == 3,
      s"expected 3 of 4 files untouched, carried=$carried")
    // semantics identical to the full-rewrite merge
    assert(rows(root) ==
      (0L until 100L).map(i => (i, if (i < 10) "upd" else "base")).toSet)
  }

  test("mergeCow with all-new keys touches ZERO existing files (pure insert)") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(
      (0L until 50L).map(i => (i, "base")).toDF("k", "v")
        .repartitionByRange(2, col("k")), root)
    val v0 = TxTable.snapshot(root)
    TxTable.mergeCow(spark, root,
      Seq((1000L, "new"), (1001L, "new")).toDF("k", "v"), "k")
    val v1 = TxTable.snapshot(root)
    assert(v0.files.toSet.subsetOf(v1.files.toSet),
      "an insert-only merge must not rewrite any existing file")
    assert(rows(root).count(_._2 == "new") == 2)
    assert(rows(root).size == 52)
  }

  test("mergeCow is replay-idempotent under an epoch tag like merge") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(Seq((1L, "a")).toDF("k", "v"), root)
    val tag = Some("app=cow/epoch=3")
    val first = TxTable.mergeCow(spark, root, Seq((1L, "b")).toDF("k", "v"), "k", tag)
    val replay = TxTable.mergeCow(spark, root, Seq((1L, "b")).toDF("k", "v"), "k", tag)
    assert(!first.skipped && replay.skipped)
    assert(rows(root) == Set((1L, "b")))
  }

  test("stats-keyed table: readPruned opens only overlapping files") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(
      (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")),
      root, statsKey = Some("k"))
    val snap = TxTable.snapshot(root)
    assert(snap.statsKey.contains("k"))
    assert(snap.fileStats.keySet == snap.files.toSet,
      "every committed file must carry log stats")
    // a range inside one file's span: the scan lists ONE file of 4
    val pruned = TxTable.readPruned(spark, root, 10L, 12L)
    assert(pruned.inputFiles.length == 1,
      s"expected 1 file scanned, got ${pruned.inputFiles.length}")
    assert(pruned.as[(Long, String)].collect().map(_._1).sorted.toSeq ==
      Seq(10L, 11L, 12L))
    // a range outside all stats: zero rows, nothing read beyond schema
    assert(TxTable.readPruned(spark, root, 5000L, 6000L).count() == 0L)
  }

  test("stats flow through merges; CoW file selection is log-only") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(
      (0L until 100L).map(i => (i, "base")).toDF("k", "v")
        .repartitionByRange(4, col("k")),
      root, statsKey = Some("k"))
    val v0 = TxTable.snapshot(root)
    TxTable.mergeCow(spark, root,
      (0L until 10L).map(i => (i, "upd")).toDF("k", "v"), "k")
    val v1 = TxTable.snapshot(root)
    // stats stay complete after the CoW commit (new files carry them)
    assert(v1.fileStats.keySet == v1.files.toSet)
    assert(v0.files.toSet.intersect(v1.files.toSet).size == 3)
    assert(rows(root) ==
      (0L until 100L).map(i => (i, if (i < 10) "upd" else "base")).toSet)
    // pruned read after the merge still resolves correctly
    val after = TxTable.readPruned(spark, root, 0L, 5L)
    assert(after.as[(Long, String)].collect().forall(_._2 == "upd"))
  }

  test("readPruned refuses a table without a stats key") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(Seq((1L, "a")).toDF("k", "v"), root)
    assertThrows[IllegalArgumentException] {
      TxTable.readPruned(spark, root, 0L, 10L)
    }
  }

  test("log checkpoints: resolve from the checkpoint, history stays travelable") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(Seq((0L, "v0")).toDF("k", "v"), root, statsKey = Some("k"))
    // one early epoch-tagged commit, then enough commits to cross two
    // checkpoint boundaries (interval 10)
    TxTable.merge(spark, root, Seq((1L, "tagged")).toDF("k", "v"), Seq("k"),
      Some("app=ckpt/epoch=1"))
    (2L to 21L).foreach(i =>
      TxTable.merge(spark, root, Seq((i, s"v$i")).toDF("k", "v"), Seq("k")))
    assert(Files.exists(java.nio.file.Paths.get(root, "_log",
      f"${10L}%020d.ckpt.json")))
    assert(Files.exists(java.nio.file.Paths.get(root, "_log",
      f"${20L}%020d.ckpt.json")))
    val snap = TxTable.snapshot(root)
    assert(snap.version == 21L)
    // the folded suffix is short: only commits above the base checkpoint
    assert(snap.commits.length == 1, s"suffix len ${snap.commits.length}")
    // stats + statsKey survive checkpoint consolidation
    assert(snap.statsKey.contains("k"))
    assert(snap.fileStats.keySet == snap.files.toSet)
    assert(rows(root).size == 22)
    // time travel below the checkpoint still folds from v0
    assert(rows(root, 1).toSet == Set((0L, "v0"), (1L, "tagged")))
    // an epoch tag OLDER than the checkpoint is still a detected replay
    val replay = TxTable.merge(spark, root,
      Seq((1L, "tagged")).toDF("k", "v"), Seq("k"), Some("app=ckpt/epoch=1"))
    assert(replay.skipped)
  }

  test("checkpointed table survives archival of pre-checkpoint commits") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(Seq((0L, "v0")).toDF("k", "v"), root)
    (1L to 12L).foreach(i =>
      TxTable.merge(spark, root, Seq((i, s"v$i")).toDF("k", "v"), Seq("k")))
    val before = rows(root)
    // archive (delete) commits 0..9 — the v10 checkpoint covers them
    (0L to 9L).foreach(i => Files.delete(
      java.nio.file.Paths.get(root, "_log", f"$i%020d.json")))
    assert(rows(root) == before, "resolve from checkpoint + suffix")
    assert(TxTable.snapshot(root).version == 12L)
    // but time travel below the checkpoint now fails LOUDLY, not wrongly
    assertThrows[IllegalStateException] {
      TxTable.snapshot(root, 5L)
    }
  }

  test("schema evolution: a merge can add a column; old rows read as NULL") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(
      (0L until 20L).map(i => (i, "base")).toDF("k", "v")
        .repartitionByRange(2, col("k")), root, statsKey = Some("k"))
    // CoW merge introduces column w — untouched files keep the old schema
    TxTable.mergeCow(spark, root,
      Seq((1L, "upd", 7L), (100L, "new", 9L)).toDF("k", "v", "w"), "k")
    val df = TxTable.read(spark, root)
    assert(df.columns.sorted.toSeq == Seq("k", "v", "w"))
    val byK = df.select("k", "v", "w").collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(byK(1L) == ("upd", Some(7L)))
    assert(byK(100L) == ("new", Some(9L)))
    assert(byK(5L) == ("base", None), "pre-evolution rows surface NULL w")
    assert(byK.size == 21)
    // pruned reads reconcile the evolved schema too
    val pruned = TxTable.readPruned(spark, root, 0L, 5L)
    assert(pruned.columns.contains("w") || pruned.columns.contains("v"))
  }

  test("composite-key CoW: files picked by the stats column, upsert on the full key") {
    import spark.implicits._
    val root = freshRoot()
    // (ws, typ, n): two range files by ws — early windows 0..4, late 5..9
    TxTable.create(
      (for { ws <- 0L until 10L; typ <- Seq("a", "b") } yield (ws, typ, 1L))
        .toDF("ws", "typ", "n").repartitionByRange(2, col("ws")),
      root, statsKey = Some("ws"))
    val v0 = TxTable.snapshot(root)
    assert(v0.files.length == 2)
    // an epoch updates only (late ws, type a) keys
    TxTable.mergeCow(spark, root,
      Seq((8L, "a", 42L), (9L, "a", 42L)).toDF("ws", "typ", "n"),
      "ws", None, Seq("ws", "typ"))
    val v1 = TxTable.snapshot(root)
    // the early-window file never rewrites
    assert(v0.files.toSet.intersect(v1.files.toSet).size == 1)
    val got = TxTable.read(spark, root).as[(Long, String, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got((8L, "a")) == 42L && got((9L, "a")) == 42L)
    // same-window OTHER-type rows survive the composite upsert
    assert(got((8L, "b")) == 1L && got((9L, "b")) == 1L)
    assert(got.size == 20)
    // a mergeKeys set that omits the selection key is refused
    assertThrows[IllegalArgumentException] {
      TxTable.mergeCow(spark, root,
        Seq((1L, "a", 5L)).toDF("ws", "typ", "n"), "ws", None, Seq("typ"))
    }
  }

  test("deleteCow removes matching rows and rewrites ONLY touched files") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(
      (0L until 40L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")), root, statsKey = Some("k"))
    val v0 = TxTable.snapshot(root)
    // doomed keys live in one 10-key range file only
    TxTable.deleteCow(spark, root, Seq(12L, 17L).toDF("k"), "k")
    val v1 = TxTable.snapshot(root)
    assert(v0.files.toSet.intersect(v1.files.toSet).size == 3,
      "deleteCow must carry untouched files by reference")
    assert(rows(root).map(_._1) == (0L until 40L).toSet -- Set(12L, 17L))
    // a doomed set matching nothing commits an empty rewrite, drops no rows
    TxTable.deleteCow(spark, root, Seq(999L).toDF("k"), "k")
    assert(rows(root).size == 38)
    // time travel still sees the pre-delete state
    assert(rows(root, 0).size == 40)
  }

  test("changeFeed: net insert/update/delete from touched files only") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(
      (0L until 20L).map(i => (i, "base")).toDF("k", "v")
        .repartitionByRange(4, col("k")), root, statsKey = Some("k"))
    TxTable.mergeCow(spark, root,
      Seq((3L, "upd"), (50L, "new")).toDF("k", "v"), "k") // v1
    TxTable.deleteCow(spark, root, Seq(7L).toDF("k"), "k") // v2
    val feed = TxTable.changeFeed(spark, root, 0L, 2L, Seq("k"))
      .select(col("k"), col("change"), col("pre.v").as("pv"),
        col("post.v").as("nv"))
      .as[(Long, String, Option[String], Option[String])].collect().toSet
    assert(feed == Set(
      (3L, "update", Some("base"), Some("upd")),
      (50L, "insert", None, Some("new")),
      (7L, "delete", Some("base"), None)))
    // update-then-delete nets to a plain delete of the FROM image
    TxTable.deleteCow(spark, root, Seq(3L).toDF("k"), "k") // v3
    val net = TxTable.changeFeed(spark, root, 0L, 3L, Seq("k"))
      .filter(col("k") === 3L)
      .select(col("change"), col("pre.v")).as[(String, String)].collect().toSeq
    assert(net == Seq(("delete", "base")))
    // compaction rewrites everything but changes no rows: empty feed
    TxTable.compact(spark, root, targetFiles = 1) // v4
    assert(TxTable.changeFeed(spark, root, 3L, 4L, Seq("k")).isEmpty)
    // unresolved endpoints are refused, not silently empty
    assertThrows[IllegalArgumentException] {
      TxTable.changeFeed(spark, root, 2L, 99L, Seq("k"))
    }
  }

  test("optimize: content-invariant, prunable layout, history travelable") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    // 3 epoch appends, each spanning the whole key domain 0..99
    def batch(b: Int) = (0L until 100L).map(k => (k, s"v$b-$k"))
      .toDF("k", "s").repartition(1)
    TxTable.create(batch(0), root, statsKey = Some("k"))
    TxTable.append(spark, root, batch(1))
    TxTable.append(spark, root, batch(2))
    val before = rows(root)
    val (kb, nb) = TxTable.pruneAccounting(root, 10L, 19L)
    assert(kb == nb && nb >= 3, s"epoch layout should be unprunable: $kb/$nb")
    val res = TxTable.optimize(spark, root, targetFiles = 5)
    assert(res.version == 3L)
    // identical content, now range-prunable
    assert(rows(root) == before)
    val (ka, na) = TxTable.pruneAccounting(root, 10L, 19L)
    assert(na >= 5 && ka <= 1, s"10% key range should open <=1 of $na files, opened $ka")
    val pruned = TxTable.readPruned(spark, root, 10L, 19L)
      .as[(Long, String)].collect().toSet
    assert(pruned == before.filter { case (k, _) => k >= 10 && k <= 19 })
    // the pre-optimize version still resolves exactly
    assert(rows(root, 2L) == before)
    // optimize without a stats key refuses loudly
    val root2 = freshRoot() + "/t2"
    TxTable.create(batch(0), root2)
    assertThrows[IllegalArgumentException](TxTable.optimize(spark, root2))
  }

  test("create refuses an existing table; read refuses a non-table") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(Seq((1L, "a")).toDF("k", "v"), root)
    assertThrows[IllegalStateException] {
      TxTable.create(Seq((9L, "x")).toDF("k", "v"), root)
    }
    assertThrows[IllegalArgumentException] {
      TxTable.read(spark, freshRoot()) // empty dir: no log
    }
  }

  test("CHECK constraints: violating batches refused atomically, everywhere") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    TxTable.create(Seq((1L, 5L), (2L, 7L)).toDF("k", "v"), root,
      Some("k"), Some("v >= 0"))
    // append and merge of violating batches refuse; version unchanged
    assertThrows[IllegalStateException] {
      TxTable.append(spark, root, Seq((3L, -1L)).toDF("k", "v"))
    }
    assertThrows[IllegalStateException] {
      TxTable.mergeCow(spark, root, Seq((1L, -9L)).toDF("k", "v"), "k")
    }
    assert(TxTable.snapshot(root).version == 0L)
    // the constraint survives the log (and a fresh resolve) — clean
    // batches still flow
    assert(TxTable.snapshot(root).check.contains("v >= 0"))
    TxTable.append(spark, root, Seq((3L, 9L)).toDF("k", "v"))
    assert(rows(root) == Set((1L, "5"), (2L, "7"), (3L, "9")))
    // create itself refuses a violating initial batch
    assertThrows[IllegalStateException] {
      TxTable.create(Seq((1L, -1L)).toDF("k", "v"), freshRoot() + "/t2",
        Some("k"), Some("v >= 0"))
    }
  }

  test("restore: metadata-only rollback; stats and blooms stay live") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    def batch(b: Int) = (0 until 200).map(i => (i.toLong * 4 + b, s"e$b"))
      .toDF("k", "v").coalesce(1)
    TxTable.create(batch(0), root, statsKey = Some("k"))
    (1 to 2).foreach(b => TxTable.append(spark, root, batch(b)))   // v1, v2
    val filesAtV2 = TxTable.snapshot(root).files.toSet
    TxTable.merge(spark, root,
      Seq((0L, "CORRUPT")).toDF("k", "v"), Seq("k"))               // v3
    val r = TxTable.restore(spark, root, 2L)                       // v4
    assert(r.version == 4L)
    // restore re-references the v2 files — nothing rewritten
    assert(TxTable.snapshot(root).files.toSet == filesAtV2)
    assert(rows(root) == rows(root, 2L))
    assert(rows(root, 3L).contains((0L, "CORRUPT")), "history intact")
    // log stats and blooms re-entered the live state: pruning still works
    val (rangeKept, bloomKept, total) =
      TxTable.pointPruneAccounting(root, Seq(1L, 5L)) // class 1 only
    assert(total == 3 && bloomKept <= 1,
      s"post-restore pruning: $rangeKept/$bloomKept/$total")
  }

  test("snapshot groups: concurrent publishes serialize; history resolves") {
    import graft.operators.SnapshotGroup
    val root = freshRoot() + "/grp"
    // 4 concurrent publishers race; all must land, at distinct versions
    val landed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val pubs = (1 to 4).map { i =>
      new Thread(() => {
        landed.add(SnapshotGroup.publish(root,
          Map("fact" -> i.toLong, "dim" -> (10L + i))))
      })
    }
    pubs.foreach(_.start())
    pubs.foreach(_.join(60000))
    import scala.jdk.CollectionConverters._
    assert(landed.asScala.toList.sorted == List(0L, 1L, 2L, 3L))
    assert(SnapshotGroup.currentVersion(root) == 3L)
    // every historical vector stays resolvable and self-consistent
    (0L to 3L).foreach { gv =>
      val vec = SnapshotGroup.resolve(root, gv)
      assert(vec.keySet == Set("fact", "dim"))
      assert(vec("dim") == vec("fact") + 10L)
    }
    // default = latest; an EXPLICIT version beyond the head is an error
    // (silent clamping would hand a pinned reader the wrong epoch), and
    // an empty group refuses
    assert(SnapshotGroup.resolve(root) == SnapshotGroup.resolve(root, 3L))
    assertThrows[IllegalArgumentException] {
      SnapshotGroup.resolve(root, 4L)
    }
    assertThrows[IllegalArgumentException] {
      SnapshotGroup.resolve(freshRoot() + "/none")
    }
    // names that would corrupt the JSON or collide with the version
    // header are refused at publish time
    assertThrows[IllegalArgumentException] {
      SnapshotGroup.publish(freshRoot(), Map("gv" -> 1L))
    }
    assertThrows[IllegalArgumentException] {
      SnapshotGroup.publish(freshRoot(), Map("a\"b" -> 1L))
    }
  }

  test("pointReadKeys: small deltas collect+prune, bulk deltas fall back to a semi-join") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(
      spark.range(150000).select(col("id").as("k"),
        (col("id") % 97).cast("string").as("v")).repartition(4),
      root, Some("k"))
    // small delta: under the driver cap — the bloom/stats pointRead path
    val small = TxTable.pointReadKeys(spark, root,
        spark.range(5).select((col("id") * 31).as("k")))
      .select("k").as[Long].collect().toSet
    assert(small == Set(0L, 31L, 62L, 93L, 124L))
    // bulk delta: 120k distinct keys blow past the cap — the distributed
    // semi-join fallback must produce the identical IN-filter semantics
    // with NO driver-side key list
    val bulk = TxTable.pointReadKeys(spark, root,
        spark.range(120000).select(col("id").as("k")))
      .agg(count(lit(1)).as("n"), sum("k").as("s")).collect()(0)
    assert(bulk.getLong(0) == 120000L)
    assert(bulk.getLong(1) == 119999L * 120000L / 2)
  }

  test("pointReadKeys: a NULL probe key matches nothing on both sides of the driver cap") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = freshRoot()
    TxTable.create((0L until 40L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(4, col("k")), root, Some("k"))
    val keys = Seq(Some(3L), None, Some(17L), Some(3L)).toDF("k")
    val want = TxTable.read(spark, root).where(col("k").isin(3L, 17L))
      .as[(Long, String)].collect().toSet
    assert(want == Set((3L, "v3"), (17L, "v17")))
    // maxDriverKeys = 10: collected and pruned; = 1: the semi-join
    for (cap <- Seq(10, 1))
      assert(TxTable.pointReadKeys(spark, root, keys, maxDriverKeys = cap)
        .as[(Long, String)].collect().toSet == want, s"maxDriverKeys = $cap")
  }

  test("changeFeed over a MoR ledger holding a NULL key: only the real delete surfaces") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(Seq((Some(1L), "a"), (None, "n"), (Some(3L), "c"))
      .toDF("k", "v").coalesce(1), root, Some("k"))
    // a NULL ledger key deletes nothing: the NULL-key row stays unchanged
    TxTable.deleteMor(spark, root, Seq(Some(1L), None).toDF("k"), "k")
    val feed = TxTable.changeFeed(spark, root, 0L, 1L, Seq("k"))
      .select("k", "change").as[(Option[Long], String)].collect().toSeq
    assert(feed == Seq((Some(1L), "delete")))
  }

  test("NULL keys on a long MoR ledger: a NULL data key survives, on both sides of the bound") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(Seq((Some(1L), "a"), (None, "n"), (Some(3L), "c"),
        (Some(4L), "d")).toDF("k", "v").coalesce(1), root, Some("k"))
    TxTable.deleteMorKeys(spark, root, Seq(Some(3L), None).toDF("k"), Seq("k"))
    assert(TxTable.snapshot(root).ledgers.map(_.sig) == Seq("k:bigint"))
    // in-scan filter (default bound) and shuffled anti-join (bound 0):
    // `===` never matches NULL, so the ledger's NULL dooms nothing
    for (bound <- Seq("104857600", "0"))
      withConf("spark.graft.mor.broadcastMaxBytes" -> bound) {
        def got(df: org.apache.spark.sql.DataFrame) =
          df.as[(Option[Long], String)].collect().toSet
        val all = TxTable.read(spark, root)
        assert(got(all) == Set((Some(1L), "a"), (None, "n"), (Some(4L), "d")),
          s"bound $bound")
        assert(got(TxTable.readPrunedOn(spark, root, "k", 0L, 10L)) ==
          got(all.where(col("k").between(0L, 10L))), s"bound $bound")
        assert(got(TxTable.pointRead(spark, root, Seq(1L, 3L))) ==
          got(all.where(col("k").isin(1L, 3L))), s"bound $bound")
        assert(got(all.where(col("k").isNull)) == Set((None, "n")),
          s"bound $bound")
      }
  }

  test("MoR reads over 1-4 live long-key ledgers: one Spark job once the ledger keys are loaded") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create((0L until 400L).map(i => (i, "base")).toDF("k", "v")
      .coalesce(2), root, Some("k"))
    var model = (0L until 400L).map(i => i -> "base").toMap
    val probe = Seq(5L, 12L, 31L, 399L, 1012L)
    def jobs(what: String): Int = {
      var reads = Seq.empty[Set[(Long, String)]]
      val n = JobCount(spark.sparkContext, what) {
        reads = Seq(TxTable.read(spark, root),
          TxTable.pointRead(spark, root, probe),
          TxTable.readPrunedOn(spark, root, "k", 10L, 40L))
          .map(_.as[(Long, String)].collect().toSet)
      }
      assert(reads == Seq(model.toSet,
        model.filter(e => probe.contains(e._1)).toSet,
        model.filter(e => e._1 >= 10L && e._1 <= 40L).toSet), what)
      n
    }
    jobs("before any ledger")
    // an append, then a mergeMor (aliased ledger) or a deleteMorKeys
    // (plain ledger) in turn: from 3 ledgers on the files fall into more
    // than 3 groups, so the full read takes the one-scan form. The
    // third upsert re-inserts a key the second ledger deleted.
    val changes = Seq(
      Left((10L until 20L).map(i => i -> "m1")),
      Right(Seq(5L, 12L, 13L, 300L)),
      Left(Seq(12L -> "back", 31L -> "m3")),
      Right(Seq(31L, 399L, 1012L)))
    for ((c, k) <- changes.zip(1 to 4)) {
      val fresh = (0 until 5).map(i => (1000L + 10 * k + i) -> s"a$k")
      TxTable.append(spark, root, fresh.toDF("k", "v"))
      model = model ++ fresh
      c match {
        case Left(rows) =>
          TxTable.mergeMor(spark, root, rows.toDF("k", "v"), "k")
          model = model ++ rows
        case Right(keys) =>
          TxTable.deleteMorKeys(spark, root, keys.toDF("k"), Seq("k"))
          model = model -- keys
      }
      assert(TxTable.snapshot(root).ledgers.size == k)
      // three reads; the first loads the new ledger's keys
      val first = jobs(s"first reads over $k ledgers")
      assert(first >= 3 && first <= 4, s"$k ledgers: $first jobs")
      assert(jobs(s"reads over $k loaded ledgers") == 3, s"$k ledgers")
    }
    // the in-scan filter is deterministic: the range still reaches
    // parquet through the one-scan form
    val plan = TxTable.readPrunedOn(spark, root, "k", 0L, 2000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(k,0)") && !plan.contains("Join"),
      plan)
  }

  test("change-feed index repair: one epoch's records follow the files it touches, not the corpus") {
    // one repair epoch (feed -> index delete ledger -> post-image append)
    // for the same 50-key upsert while the corpus grows x10 in 500-row
    // files: the feed reads whole touched files, so when the corpus grows
    // by file size instead, the epoch grows with it
    def epoch(m: Int) = JobCount.pinned(spark, aqe = false) {
      val base = freshRoot(); val (docs, idx) = (s"$base/docs", s"$base/idx")
      TxTable.create(spark.range(0L, 2000L * m, 1L, 4 * m)
        .select(col("id").as("k"), (col("id") % 97).as("v")), docs, Some("k"))
      TxTable.create(TxTable.read(spark, docs).select(col("k"), (col("v") % 8).as("cell")),
        idx, Some("cell"))
      val v0 = TxTable.snapshot(docs).version
      TxTable.mergeMor(spark, docs,
        spark.range(50L).select(col("id").as("k"), lit(-1L).as("v")), "k")
      JobCount.counters(spark.sparkContext, s"repair x$m") {
        val feed = TxTable.changeFeed(spark, docs, v0, v0 + 1, Seq("k")).localCheckpoint()
        TxTable.deleteMor(spark, idx, feed.select("k"), "k")
        TxTable.append(spark, idx, feed.filter(col("change") =!= "delete")
          .select(col("k"), (col("post.v") % 8).as("cell")))
      }
    }
    val (c1, c10) = (epoch(1), epoch(10))
    info(s"corpus x1: $c1; x10: $c10")
    assert(c10.inputRecords == c1.inputRecords && c10.shuffleWritten == c1.shuffleWritten,
      s"x1: $c1; x10: $c10")
  }

  test("MoR over evolved eras: rows tag their group by file through rename and widen") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create((0L until 20L).map(i => (i, i.toInt, s"v$i"))
      .toDF("k", "n", "v"), root, Some("k"))
    TxTable.renameColumn(spark, root, "v", "s")
    TxTable.widenColumn(spark, root, "n", "long")
    var model = (0L until 20L).map(i => i -> ((i, s"v$i"))).toMap
    // four ledgers, plain and aliased, each after an append: five
    // groups, so the reads take the one-scan form across two eras
    for (r <- 1 to 4) {
      val fresh = (0 until 3).map(j => 100L * r + j)
      TxTable.append(spark, root,
        fresh.map(k => (k, k, s"a$r")).toDF("k", "n", "s"))
      model = model ++ fresh.map(k => k -> ((k, s"a$r")))
      if (r % 2 == 1) {
        val keys = Seq(r.toLong, 100L * r)
        TxTable.deleteMorKeys(spark, root, keys.toDF("k"), Seq("k"))
        model = model -- keys
      } else {
        val up = Seq(r.toLong + 10, 100L * (r - 1) + 1)
        TxTable.mergeMor(spark, root,
          up.map(k => (k, k * 2, s"m$r")).toDF("k", "n", "s"), "k")
        model = model ++ up.map(k => k -> ((k * 2, s"m$r")))
      }
    }
    val want = model.map { case (k, (n, s)) => (k, n, s) }.toSet
    for (bound <- Seq("104857600", "0"))
      withConf("spark.graft.mor.broadcastMaxBytes" -> bound) {
        assert(TxTable.read(spark, root).as[(Long, Long, String)]
          .collect().toSet == want, s"bound $bound")
        assert(TxTable.readPrunedOn(spark, root, "k", 0L, 150L)
          .as[(Long, Long, String)].collect().toSet ==
          want.filter(_._1 <= 150L), s"bound $bound")
      }
  }

  test("merge-on-read delete: zero rewrites, scoped ledgers, folding, correct feed") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(
      (0L until 40L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(2),
      root, Some("k"))
    val filesBefore = TxTable.snapshot(root).files.toSet
    // v1: MoR-delete multiples of 5 — NO data file may be rewritten
    val r = TxTable.deleteMor(spark, root,
      Seq(0L, 5L, 10L, 15L, 20L, 25L, 30L, 35L).toDF("k"), "k")
    assert(r.version == 1L)
    val s1 = TxTable.snapshot(root)
    assert(s1.files.toSet == filesBefore, "a point delete rewrote data files")
    assert(s1.ledgers.size == 1)
    // reads subtract the ledger (full, pruned, and point paths)
    assert(rows(root).map(_._1).forall(_ % 5 != 0))
    assert(rows(root).size == 32)
    assert(TxTable.pointRead(spark, root, Seq(10L, 11L)).count() == 1L)
    assert(TxTable.readPruned(spark, root, 4L, 6L).count() == 2L) // 4, 6
    // time travel to v0 still sees everything
    assert(rows(root, 0L).size == 40)
    // the change feed nets the MoR delete as 'delete' rows, nothing else
    val feed = TxTable.changeFeed(spark, root, 0L, 1L, Seq("k"))
    val feedRows = feed.select("k", "change").as[(Long, String)].collect()
    assert(feedRows.forall(_._2 == "delete"))
    assert(feedRows.map(_._1).sorted.toSeq ==
      Seq(0L, 5L, 10L, 15L, 20L, 25L, 30L, 35L))
    // v2: re-insert key 10 via merge — newer files ESCAPE the older
    // ledger, so the key stays alive afterwards
    TxTable.mergeCow(spark, root, Seq((10L, "reborn")).toDF("k", "v"), "k")
    assert(rows(root).contains((10L, "reborn")))
    // the merge rewrote only files whose range admits key 10; deleted
    // keys in those files must NOT resurrect through the rewrite
    assert(rows(root).map(_._1).forall(k => k == 10L || k % 5 != 0))
    // v3: second MoR delete on current content (applies to the rewritten
    // files too — they predate THIS ledger)
    TxTable.deleteMor(spark, root, Seq(7L, 10L).toDF("k"), "k")
    assert(!rows(root).exists(r3 => r3._1 == 7L || r3._1 == 10L))
    // v4: compaction folds every live ledger into data and retires it
    val before = rows(root)
    TxTable.compact(spark, root, targetFiles = 1)
    val s4 = TxTable.snapshot(root)
    assert(s4.ledgers.isEmpty, "compaction left ledgers live")
    assert(rows(root) == before)
    // feed across the whole interval nets out: 0 -> head equals a
    // direct diff of the two effective contents
    val net = TxTable.changeFeed(spark, root, 0L, s4.version, Seq("k"))
    val deleted = net.filter(col("change") === "delete")
      .select("k").as[Long].collect().toSet
    val updated = net.filter(col("change") === "update")
      .select("k").as[Long].collect().toSet
    assert(deleted == ((0L until 40L).filter(_ % 5 == 0).toSet + 7L))
    assert(updated.isEmpty)
    // restore across live ledgers: to v3 (ledger live there) must give
    // v3's EFFECTIVE content even though the restore materializes it
    val v3rows = rows(root, 3L)
    TxTable.restore(spark, root, 3L)
    assert(rows(root) == v3rows)
  }

  test("stats key with NULLs: stats pass drops them, pruning stays sound") {
    import spark.implicits._
    val root = freshRoot()
    // k is the stats key and carries nulls — the bloom/min-max pass must
    // not fail, and null-key rows must still be readable in full scans
    val df = Seq(
      (java.lang.Long.valueOf(1L), "a"),
      (null.asInstanceOf[java.lang.Long], "n1"),
      (java.lang.Long.valueOf(5L), "b"),
      (null.asInstanceOf[java.lang.Long], "n2")).toDF("k", "v")
    TxTable.create(df, root, Some("k"))
    assert(TxTable.read(spark, root).count() == 4L) // nulls survive reads
    // point/range reads filter k IN/BETWEEN — nulls can never match, so
    // pruning on non-null stats alone is exact
    assert(TxTable.pointRead(spark, root, Seq(5L)).count() == 1L)
    import org.apache.spark.sql.functions.col
    val all = TxTable.read(spark, root).where(col("k").isin(1L, 5L)).count()
    assert(all == 2L)
    // an all-null batch appends without error and its file is prunable
    val nulls = Seq((null.asInstanceOf[java.lang.Long], "n3")).toDF("k", "v")
    TxTable.append(spark, root, nulls)
    assert(TxTable.read(spark, root).count() == 5L)
    assert(TxTable.pointRead(spark, root, Seq(1L)).count() == 1L)
  }

  test("point blooms: no false negatives, prune residue-class files") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    // 4 epoch files, each spanning the whole key domain (k % 4 classes)
    def batch(b: Int) = (0 until 400).map(i => (i.toLong * 4 + b, s"v$b-$i"))
      .toDF("k", "v").coalesce(1)
    TxTable.create(batch(0), root, statsKey = Some("k"))
    (1 to 3).foreach(b => TxTable.append(spark, root, batch(b)))
    // probes in classes {0, 2} only
    val keys = Seq(0L, 8L, 202L, 1046L)
    val (rangeKept, bloomKept, total) = TxTable.pointPruneAccounting(root, keys)
    assert(total == 4 && rangeKept == 4, "range stats must be powerless here")
    assert(bloomKept <= 2, s"blooms kept $bloomKept of $total")
    // exactness: pointRead ≡ full-read + IN filter (no false negatives)
    val got = TxTable.pointRead(spark, root, keys)
      .as[(Long, String)].collect().toSet
    val want = TxTable.read(spark, root)
      .where(col("k").isin(keys: _*)).as[(Long, String)].collect().toSet
    assert(got == want && want.size == keys.size)
  }

  test("blooms survive checkpoint consolidation and removals") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    def batch(b: Int) = (0 until 100).map(i => (i.toLong * 16 + b, b.toLong))
      .toDF("k", "v").coalesce(1)
    TxTable.create(batch(0), root, statsKey = Some("k"))
    (1 to 11).foreach(b => TxTable.append(spark, root, batch(b)))  // v11: ckpt at v10
    assert(TxTable.snapshot(root).commits.size < 12,
      "snapshot must resolve from the v10 checkpoint, not the full history")
    val keys = Seq(3L, 19L) // class 3 only
    val (_, bloomKept, total) = TxTable.pointPruneAccounting(root, keys)
    assert(total == 12 && bloomKept <= 2,
      s"checkpoint-resolved blooms kept $bloomKept of $total")
    val got = TxTable.pointRead(spark, root, keys)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((3L, 3L), (19L, 3L)))
  }

  test("secondary stats columns: range + point reads on a non-primary column prune") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    // k (primary) spans every file; t is range-clustered per batch, so
    // only t's logged stats can prune anything
    def batch(b: Int) = (0 until 100)
      .map(i => (i.toLong * 3 + b, b * 100L + i, s"v$b-$i"))
      .toDF("k", "t", "v").coalesce(1)
    TxTable.create(batch(0), root, Some("k"), None, statsCols = Seq("t"))
    (1 to 2).foreach(b => TxTable.append(spark, root, batch(b)))
    val (kk, nk) = TxTable.pruneAccountingOn(root, "k", 10L, 19L)
    assert(kk == nk && nk == 3, s"k spans every file: $kk/$nk")
    val (kt, nt) = TxTable.pruneAccountingOn(root, "t", 110L, 150L)
    assert(kt == 1 && nt == 3, s"t range read must open 1 of 3 files, opened $kt")
    val got = TxTable.readPrunedOn(spark, root, "t", 110L, 150L)
      .as[(Long, Long, String)].collect().toSet
    val want = TxTable.read(spark, root)
      .where(col("t").between(110L, 150L))
      .as[(Long, Long, String)].collect().toSet
    assert(got == want && want.size == 41)
    // point probes on t carry their own blooms: keys from one batch only
    val (rk, bk, tot) = TxTable.pointPruneAccountingOn(root, "t", Seq(205L, 271L))
    assert(tot == 3 && bk == 1, s"t point probe kept $bk of $tot")
    val pts = TxTable.pointReadOn(spark, root, "t", Seq(205L, 271L))
      .as[(Long, Long, String)].collect().toSet
    assert(pts.map(_._2) == Set(205L, 271L))
    // an undeclared column refuses loudly instead of pruning wrongly
    assertThrows[IllegalArgumentException](
      TxTable.pruneAccountingOn(root, "v", 0L, 1L))
  }

  test("secondary column with NULLs: stats pass tolerates them, reads stay exact") {
    import spark.implicits._
    val root = freshRoot()
    val df = Seq(
      (1L, java.lang.Long.valueOf(10L), "a"),
      (2L, null.asInstanceOf[java.lang.Long], "n1"),
      (3L, java.lang.Long.valueOf(30L), "b")).toDF("k", "t", "v")
    TxTable.create(df, root, Some("k"), None, statsCols = Seq("t"))
    assert(TxTable.read(spark, root).count() == 3L)
    assert(TxTable.pointReadOn(spark, root, "t", Seq(30L)).count() == 1L)
    // a batch all-NULL in t appends fine and its file prunes for t probes
    val nulls = Seq((4L, null.asInstanceOf[java.lang.Long], "n2"))
      .toDF("k", "t", "v")
    TxTable.append(spark, root, nulls)
    assert(TxTable.read(spark, root).count() == 4L)
    assert(TxTable.readPrunedOn(spark, root, "t", 10L, 10L).count() == 1L)
    // primary-key pruning is unaffected by the nullable secondary
    assert(TxTable.pointRead(spark, root, Seq(4L)).count() == 1L)
  }

  test("optimizeZ: both dimensions prune >=2x, content invariant, history travelable") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    // 4 epoch files, each a full 20x20 (k, t) grid — the dimensions are
    // INDEPENDENT, so no single-key layout can serve both
    def batch(b: Int) = (for { x <- 0 until 20; y <- 0 until 20 }
      yield (x * 5L, y * 5L, s"v$b-$x-$y"))
      .toDF("k", "t", "v").coalesce(1)
    TxTable.create(batch(0), root, Some("k"), None, statsCols = Seq("t"))
    (1 to 3).foreach(b => TxTable.append(spark, root, batch(b)))
    val before = TxTable.read(spark, root)
      .as[(Long, Long, String)].collect().toSet
    val (kb, nb) = TxTable.pruneAccountingOn(root, "k", 0L, 24L)
    val (tb, _) = TxTable.pruneAccountingOn(root, "t", 0L, 24L)
    assert(kb == nb && tb == nb && nb == 4, "epoch layout must be unprunable on both dims")
    val res = TxTable.optimizeZ(spark, root, "k", "t", targetFiles = 16)
    assert(res.version == 4L)
    assert(TxTable.read(spark, root)
      .as[(Long, Long, String)].collect().toSet == before)
    // each z-tile covers a compact (k, t) sub-square: a quarter-domain
    // range on EITHER dimension opens at most half the files (ideal is a
    // quarter; half leaves room for range-partition boundary wobble)
    val (ka, na) = TxTable.pruneAccountingOn(root, "k", 0L, 24L)
    val (ta, nta) = TxTable.pruneAccountingOn(root, "t", 0L, 24L)
    assert(na >= 8 && ka * 2 <= na, s"k range read opens $ka/$na after optimizeZ")
    assert(ta * 2 <= nta, s"t range read opens $ta/$nta after optimizeZ")
    // pruned results stay exact on both dimensions
    val gotT = TxTable.readPrunedOn(spark, root, "t", 0L, 24L)
      .as[(Long, Long, String)].collect().toSet
    assert(gotT == before.filter { case (_, t, _) => t <= 24 })
    // the pre-optimize snapshot still resolves exactly
    assert(TxTable.read(spark, root, 3L)
      .as[(Long, Long, String)].collect().toSet == before)
    // undeclared dimensions refuse loudly
    assertThrows[IllegalArgumentException](
      TxTable.optimizeZ(spark, root, "k", "v"))
  }

  test("optimizeZSince: re-tiles only the accretion; old tiles never move") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    def batch(b: Int) = (for { x <- 0 until 20; y <- 0 until 20 }
      yield (x * 5L, y * 5L, s"v$b-$x-$y"))
      .toDF("k", "t", "v").coalesce(1)
    TxTable.create(batch(0), root, Some("k"), None, statsCols = Seq("t"))
    TxTable.append(spark, root, batch(1))
    val zed = TxTable.optimizeZ(spark, root, "k", "t", targetFiles = 8) // v2
    val tiles = TxTable.snapshot(root).files.toSet
    // two more epochs accrete on top of the optimized layout
    TxTable.append(spark, root, batch(2))                               // v3
    TxTable.append(spark, root, batch(3))                               // v4
    val before = TxTable.read(spark, root)
      .as[(Long, Long, String)].collect().toSet
    val res = TxTable.optimizeZSince(spark, root, "k", "t",
      sinceVersion = zed.version, targetFiles = 8)                      // v5
    assert(res.version == 5L)
    val after = TxTable.snapshot(root)
    // every pre-existing tile carried over BY REFERENCE; only the two
    // fresh epochs were rewritten
    assert(tiles.subsetOf(after.files.toSet),
      "incremental optimize must not touch already-optimized tiles")
    assert(after.files.size == tiles.size + 8)
    assert(TxTable.read(spark, root)
      .as[(Long, Long, String)].collect().toSet == before)
    // the accretion is now prunable on the secondary dim too: a quarter
    // range opens at most half of the NEW tiles (old tiles already tile)
    val (kept, total) = TxTable.pruneAccountingOn(root, "t", 0L, 24L)
    assert(total == tiles.size + 8 && kept <= tiles.size / 2 + 4,
      s"after incremental re-tile a quarter t-range opens $kept/$total")
  }

  test("optimizeZNSince: 3-axis incremental re-tile, old tiles by reference") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    def batch(b: Int) = (for { x <- 0 until 12; y <- 0 until 12 }
      yield (x * 5L, y * 5L, (x * 12 + y) % 40L, s"v$b-$x-$y"))
      .toDF("k", "t", "j", "v").coalesce(1)
    TxTable.create(batch(0), root, Some("k"), None, statsCols = Seq("t", "j"))
    TxTable.append(spark, root, batch(1))
    val zed = TxTable.optimizeZN(spark, root, Seq("k", "t", "j"),
      targetFiles = 8)                                                  // v2
    val tiles = TxTable.snapshot(root).files.toSet
    TxTable.append(spark, root, batch(2))                               // v3
    val before = TxTable.read(spark, root)
      .as[(Long, Long, Long, String)].collect().toSet
    val res = TxTable.optimizeZNSince(spark, root, Seq("k", "t", "j"),
      sinceVersion = zed.version, targetFiles = 8)                      // v4
    assert(res.version == 4L)
    val after = TxTable.snapshot(root)
    assert(tiles.subsetOf(after.files.toSet),
      "incremental n-dim optimize must not touch already-optimized tiles")
    assert(after.files.size == tiles.size + 8)
    assert(TxTable.read(spark, root)
      .as[(Long, Long, Long, String)].collect().toSet == before)
    // undeclared axis refuses
    val refused = intercept[IllegalArgumentException](
      TxTable.optimizeZNSince(spark, root, Seq("k", "t", "v"), 0L))
    assert(refused.getMessage.contains("declared for stats"))
  }

  test("secondary stats survive checkpoint consolidation") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    def batch(b: Int) = (0 until 50)
      .map(i => (i.toLong * 16 + b, b * 100L + i, b.toLong))
      .toDF("k", "t", "v").coalesce(1)
    TxTable.create(batch(0), root, Some("k"), None, statsCols = Seq("t"))
    (1 to 11).foreach(b => TxTable.append(spark, root, batch(b))) // ckpt at v10
    assert(TxTable.snapshot(root).commits.size < 12,
      "snapshot must resolve from the v10 checkpoint, not the full history")
    val (kt, nt) = TxTable.pruneAccountingOn(root, "t", 500L, 549L)
    assert(nt == 12 && kt == 1,
      s"checkpoint-resolved t stats kept $kt of $nt")
    val got = TxTable.pointReadOn(spark, root, "t", Seq(503L))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((3L * 16 + 5, 503L, 5L)))
  }

  test("expireHistory: retention drops unreachable files; retained range intact") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = freshRoot() + "/t"
    TxTable.create((0L until 30L).map(i => (i, "v0")).toDF("k", "v"), root,
      statsKey = Some("k"))
    // 12 full-rewrite merges: every version replaces its files, so the
    // pre-checkpoint file generations become expirable
    (1 to 12).foreach(e =>
      TxTable.merge(spark, root,
        (0L until 30L).map(i => (i, s"v$e")).toDF("k", "v"), Seq("k")))
    val headBefore = rows(root)
    val v11 = rows(root, 11L)
    assert(rows(root, 2L).forall(_._2 == "v2"), "pre-expiry time travel works")
    def dataFiles(): Long = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "data"))
      try walk.iterator().asScala.count(p =>
        p.toString.endsWith(".parquet")).toLong
      finally walk.close()
    }
    val filesBefore = dataFiles()
    val ts2 = TxTable.commitTs(root, 2L).get
    val ts11 = TxTable.commitTs(root, 11L).get
    var expired = (0L, 0L)
    assert(JobCount(spark.sparkContext, "expireHistory") {
      expired = TxTable.expireHistory(root, beforeVersion = 12L)
    } == 0, "retention must touch metadata only")
    val (dropped, archived) = expired
    assert(archived == 10L, s"commits 0..9 should archive, archived $archived")
    assert(dropped > 0L && dataFiles() == filesBefore - dropped)
    // retained range (>= cutoff 10) fully intact
    assert(rows(root) == headBefore)
    assert(rows(root, 11L) == v11)
    assert(TxTable.snapshot(root, 10L).version == 10L)
    // expired range fails loudly instead of resolving wrong
    assertThrows[IllegalStateException](TxTable.read(spark, root, 2L))
    // TIMESTAMP AS OF obeys the same retention boundary: a stamp in the
    // retained range resolves; one naming an archived moment is refused
    // (never silently clamped to the oldest survivor)
    assert(TxTable.versionAsOfTimestamp(root, ts11) == 11L)
    assertThrows[IllegalArgumentException](
      TxTable.versionAsOfTimestamp(root, ts2))
    // vacuumOrphans respects checkpoint-referenced files after expiry
    TxTable.vacuumOrphans(root)
    assert(rows(root) == headBefore, "vacuum must not eat live files")
    // refusal: nothing below the first checkpoint yet
    val root2 = freshRoot() + "/t2"
    TxTable.create(Seq((1L, "a")).toDF("k", "v"), root2)
    assertThrows[IllegalArgumentException](TxTable.expireHistory(root2, 1L))
  }

  test("widenColumn: int files surface as long, merges mix eras, history intact") {
    import spark.implicits._
    val root = freshRoot()
    // n lands as parquet int32
    val df0 = Seq((1L, 1, "a"), (2L, 2, "b")).toDF("k", "n", "v")
    TxTable.create(df0, root)                                     // v0
    val r = TxTable.widenColumn(spark, root, "n", "long")         // v1
    assert(r.version == 1L)
    assert(TxTable.snapshot(root).files ==
      TxTable.snapshot(root, 0L).files, "widen must rewrite no data files")
    // reads reconcile the old int files under the wide type
    assert(TxTable.read(spark, root).schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    // a post-widen append writes long natively; the eras union cleanly
    TxTable.append(spark, root, Seq((3L, 3L, "c")).toDF("k", "n", "v"))
    val got = TxTable.read(spark, root)
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set((1L, 1L, "a"), (2L, 2L, "b"), (3L, 3L, "c")))
    // a merge across the boundary rewrites touched rows wide
    TxTable.merge(spark, root, Seq((1L, 10L, "A")).toDF("k", "n", "v"), Seq("k"))
    assert(TxTable.read(spark, root).as[(Long, Long, String)].collect().toSet ==
      Set((1L, 10L, "A"), (2L, 2L, "b"), (3L, 3L, "c")))
    // time travel to v0 still shows the narrow type
    assert(TxTable.read(spark, root, 0L).schema("n").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("renameColumn: metadata-only, reads reconcile, refusals guard identity") {
    import spark.implicits._
    val root = freshRoot()
    TxTable.create(Seq((1L, "x"), (2L, "y")).toDF("k", "v"), root,
      statsKey = Some("k"))
    val filesV0 = TxTable.snapshot(root).files
    val r = TxTable.renameColumn(spark, root, "v", "label")       // v1
    assert(r.version == 1L)
    assert(TxTable.snapshot(root).files == filesV0,
      "rename must rewrite no data files")
    assert(TxTable.read(spark, root).columns.toSeq == Seq("k", "label"))
    // merges write the NEW name; carried-over old files reconcile
    TxTable.merge(spark, root,
      Seq((2L, "Y"), (3L, "z")).toDF("k", "label"), Seq("k"))
    assert(TxTable.read(spark, root).as[(Long, String)].collect().toSet ==
      Set((1L, "x"), (2L, "Y"), (3L, "z")))
    // time travel to v0 shows the old name
    assert(TxTable.read(spark, root, 0L).columns.toSeq == Seq("k", "v"))
    // refusals: stats key, existing target, absent source, live ledger
    assertThrows[IllegalArgumentException](
      TxTable.renameColumn(spark, root, "k", "id"))
    assertThrows[IllegalArgumentException](
      TxTable.renameColumn(spark, root, "label", "k"))
    assertThrows[IllegalArgumentException](
      TxTable.renameColumn(spark, root, "ghost", "g2"))
    TxTable.deleteMor(spark, root, Seq(Tuple1(3L)).toDF("k"), "k")
    assertThrows[IllegalArgumentException](
      TxTable.renameColumn(spark, root, "label", "tagname"))
    // after compaction folds the ledger, the rename goes through
    TxTable.compact(spark, root)
    TxTable.renameColumn(spark, root, "label", "tagname")
    assert(TxTable.read(spark, root).as[(Long, String)].collect().toSet ==
      Set((1L, "x"), (2L, "Y")))
  }

  test("evolutions survive checkpoint consolidation") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    TxTable.create(Seq((0L, 0, "s0")).toDF("k", "n", "v"), root)  // int n
    TxTable.widenColumn(spark, root, "n", "long")                 // v1
    TxTable.renameColumn(spark, root, "v", "s")                   // v2
    (1 to 9).foreach(b =>                                         // v3..v11
      TxTable.append(spark, root, Seq((b.toLong, b.toLong, s"s$b")).toDF("k", "n", "s")))
    assert(TxTable.snapshot(root).commits.size < 12,
      "snapshot must resolve from the v10 checkpoint, not the full history")
    val got = TxTable.read(spark, root).as[(Long, Long, String)].collect().toSet
    assert(got == (0 to 9).map(i => (i.toLong, i.toLong, s"s$i")).toSet)
    assert(TxTable.read(spark, root).schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("metaAggregate: log-only on clean tables, ledger-scoped scans, null counting") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    def batch(b: Int) = (0 until 100)
      .map(i => (i.toLong * 4 + b, s"v$b-$i")).toDF("k", "v").coalesce(1)
    TxTable.create(batch(0), root, Some("k"))            // v0: keys 0,4,..
    TxTable.append(spark, root, batch(1))                // v1: keys 1,5,..
    val clean = TxTable.metaAggregate(spark, root, "k")
    assert(clean == TxTable.MetaAgg(200L, Some(0L), Some(397L), 2, 0),
      s"clean-table aggregate must be all-metadata: $clean")
    // a live MoR ledger staleness-scopes both files -> both scan, and
    // the scanned values reflect the deletes
    TxTable.deleteMor(spark, root,
      Seq(0L, 397L, 8L).toDF("k"), "k")                  // v2
    val mor = TxTable.metaAggregate(spark, root, "k")
    assert(mor.count == 197L && mor.min == Some(1L) && mor.max == Some(396L),
      s"ledger-scoped aggregate must see deletes: $mor")
    assert(mor.filesScanned == 2 && mor.filesMetaOnly == 0)
    // files added AFTER the ledger go back to the metadata path
    TxTable.append(spark, root, batch(2))                // v3: keys 2,6,..
    val mixed = TxTable.metaAggregate(spark, root, "k")
    assert(mixed.count == 297L && mixed.max == Some(398L))
    assert(mixed.filesScanned == 2 && mixed.filesMetaOnly == 1)
    // compaction folds the ledger -> all-metadata again, same values
    TxTable.compact(spark, root, targetFiles = 2)        // v4
    val cp = TxTable.metaAggregate(spark, root, "k")
    assert(cp.count == 297L && cp.min == Some(1L) && cp.max == Some(398L))
    assert(cp.filesScanned == 0 && cp.filesMetaOnly > 0)
    // time travel: the aggregate resolves at historical versions too
    val v1 = TxTable.metaAggregate(spark, root, "k", versionAsOf = 1L)
    assert(v1.count == 200L && v1.filesScanned == 0)
    // NULL keys: counted by count(*), invisible to min/max — and a
    // column with no declared stats degrades to a full scan, same values
    val nulls = Seq((null.asInstanceOf[java.lang.Long], "n1"),
      (java.lang.Long.valueOf(1000L), "x")).toDF("k", "v")
    TxTable.append(spark, root, nulls)                   // v5
    val wn = TxTable.metaAggregate(spark, root, "k")
    assert(wn.count == 299L && wn.max == Some(1000L),
      s"null keys must count but not rank: $wn")
    val noStats = TxTable.metaAggregate(spark, root, "v")
    assert(noStats.count == 299L && noStats.filesMetaOnly == 0,
      "a column without declared stats must degrade to a scan")
  }

  test("mergeMor: one-commit upsert, zero rewrites, chains, folds, replays idempotently") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    TxTable.create((1L to 8L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1), root, Some("k"))                        // v0
    val before = TxTable.snapshot(root).files.toSet
    // v1: update 2,3 + insert 9 — single commit, no file removed
    TxTable.mergeMor(spark, root,
      Seq((2L, "V2"), (3L, "V3"), (9L, "v9")).toDF("k", "v"), "k",
      tag = Some("e1"))
    val s1 = TxTable.snapshot(root)
    assert(before.subsetOf(s1.files.toSet), "mergeMor must rewrite no file")
    assert(s1.ledgers.size == 1)
    assert(rows(root) ==
      ((1L to 8L).toSet - 2L - 3L).map(k => (k, s"v$k")) +
        ((2L, "V2")) + ((3L, "V3")) + ((9L, "v9")))
    // v2: a second upsert touches a key the FIRST one wrote — the first
    // merge's add file is scoped by the second ledger, so the newest
    // version wins (ledger ordering, not file luck)
    TxTable.mergeMor(spark, root, Seq((3L, "V3b")).toDF("k", "v"), "k")
    assert(rows(root).contains((3L, "V3b")) &&
      !rows(root).exists(r => r._1 == 3L && r._2 != "V3b"))
    // replaying epoch e1 from a recovered writer must no-op
    val replay = TxTable.mergeMor(spark, root,
      Seq((2L, "V2"), (3L, "V3"), (9L, "v9")).toDF("k", "v"), "k",
      tag = Some("e1"))
    assert(replay.skipped, "tagged replay must be idempotent")
    assert(rows(root).contains((3L, "V3b")))
    // change feed across the upsert interval nets to the true deltas
    val feed = TxTable.changeFeed(spark, root, 0L, 1L, Seq("k"))
      .select("k", "change").as[(Long, String)].collect().toSet
    assert(feed == Set((2L, "update"), (3L, "update"), (9L, "insert")),
      s"feed was $feed")
    // compaction folds both ledgers; content invariant; history intact
    val eff = rows(root)
    TxTable.compact(spark, root, targetFiles = 2)
    assert(TxTable.snapshot(root).ledgers.isEmpty)
    assert(rows(root) == eff)
    assert(rows(root, 0L) == (1L to 8L).map(k => (k, s"v$k")).toSet)
  }

  test("cross-process writers serialize: a separate JVM races the in-process writer") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    TxTable.create(Seq((0L, "seed")).toDF("k", "v"), root, Some("k"))
    // a REAL second process (fresh JVM, own SparkSession) appends 4
    // epochs while this JVM appends 4 — the optimistic hard-link commit
    // must serialize across the process boundary, which threads-in-one-
    // JVM tests can't prove (same FS handles, same JVM file locks)
    val cp = System.getProperty("java.class.path")
    val pb = new ProcessBuilder(
      "java", "-Xmx2g", "-cp", cp,
      "--add-opens=java.base/java.lang=ALL-UNNAMED",
      "--add-opens=java.base/java.nio=ALL-UNNAMED",
      "--add-opens=java.base/java.util=ALL-UNNAMED",
      "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
      "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
      "-Dspark.ui.enabled=false",
      "graft.tools.RaceWriter", root, "other", "4")
    pb.environment().put("SPARK_GRAFT_CPUS", "4")
    pb.redirectErrorStream(true)
    pb.redirectOutput(java.io.File.createTempFile("racewriter", ".log"))
    val proc = pb.start()
    (0 until 4).foreach { i =>
      TxTable.append(spark, root,
        Seq((100L + i, s"local-$i")).toDF("k", "v"),
        tag = Some(s"proc=local/epoch=$i"))
    }
    assert(proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
      "external writer did not finish")
    assert(proc.exitValue() == 0, "external writer failed")
    val snap = TxTable.snapshot(root)
    assert(snap.version == 8L,
      s"9 commits (create + 4 + 4) must land as v0..v8, got v${snap.version}")
    val vs = TxTable.read(spark, root).select("v").as[String].collect().toSet
    assert(vs == Set("seed") ++
      (0 until 4).flatMap(i => Seq(s"local-$i", s"other-$i")),
      s"content was $vs")
    // every epoch tag from both processes survives in the folded state
    assert((0 until 4).forall(i =>
      snap.tags(s"proc=local/epoch=$i") && snap.tags(s"proc=other/epoch=$i")))
  }

  test("composite-key MoR: the ledger subtracts on the whole tuple") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    def all = TxTable.read(spark, root)
      .as[(Long, String, String)].collect().toSet
    TxTable.create(Seq((1L, "a", "x"), (1L, "b", "y"), (2L, "a", "z"))
      .toDF("k", "t", "v").coalesce(1), root, Some("k"))
    // deleting (1, a) must not touch (1, b) — same k, different tuple
    TxTable.deleteMorKeys(spark, root,
      Seq((1L, "a")).toDF("k", "t"), Seq("k", "t"))
    assert(all == Set((1L, "b", "y"), (2L, "a", "z")))
    // composite upsert: replace (2, a), insert (3, c), leave (1, b)
    TxTable.mergeMorKeys(spark, root,
      Seq((2L, "a", "Z2"), (3L, "c", "w")).toDF("k", "t", "v"),
      Seq("k", "t"))
    assert(all == Set((1L, "b", "y"), (2L, "a", "Z2"), (3L, "c", "w")))
    // change feed joins on the composite key across the MoR interval
    val feed = TxTable.changeFeed(spark, root, 0L, 2L, Seq("k", "t"))
      .select("k", "t", "change").as[(Long, String, String)].collect().toSet
    assert(feed == Set((1L, "a", "delete"), (2L, "a", "update"),
      (3L, "c", "insert")), s"feed was $feed")
    TxTable.compact(spark, root)
    assert(TxTable.snapshot(root).ledgers.isEmpty)
    assert(all == Set((1L, "b", "y"), (2L, "a", "Z2"), (3L, "c", "w")))
  }

  test("string-key MoR: single natural-typed key deletes and upserts correctly") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    def all = TxTable.read(spark, root).as[(String, Long)].collect().toSet
    // no stats key: a string column can't long-normalize (see create guard)
    TxTable.create(Seq(("url-a", 1L), ("url-b", 2L), ("url-c", 3L))
      .toDF("url", "n").coalesce(1), root)
    // the regression this pins: a long-cast ledger of a string key is all
    // NULLs and the non-null-safe anti-join silently deletes NOTHING
    TxTable.deleteMor(spark, root, Seq("url-b").toDF("url"), "url")
    assert(all == Set(("url-a", 1L), ("url-c", 3L)),
      "string-key MoR delete must actually delete")
    // single string-key upsert: old version suppressed, not duplicated
    TxTable.mergeMor(spark, root,
      Seq(("url-a", 10L), ("url-d", 4L)).toDF("url", "n"), "url")
    assert(all == Set(("url-a", 10L), ("url-c", 3L), ("url-d", 4L)),
      "string-key MoR upsert must suppress the old row version")
    // the feed nets out correctly across the natural-typed ledgers
    val feed = TxTable.changeFeed(spark, root, 0L, 2L, Seq("url"))
      .select("url", "change").as[(String, String)].collect().toSet
    assert(feed == Set(("url-b", "delete"), ("url-a", "update"),
      ("url-d", "insert")), s"feed was $feed")
    TxTable.compact(spark, root)
    assert(TxTable.snapshot(root).ledgers.isEmpty)
    assert(all == Set(("url-a", 10L), ("url-c", 3L), ("url-d", 4L)))
  }

  test("cloneShallow: zero-copy branch, divergence independence, maintenance safety") {
    import spark.implicits._
    val base = freshRoot()
    val (src, br) = (s"$base/src", s"$base/br")
    TxTable.create((1L to 40L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(2), src, Some("k"))
    TxTable.cloneShallow(src, br)
    val snapB = TxTable.snapshot(br)
    // zero-copy: every branch file IS the source file (same inode)
    snapB.files.foreach { f =>
      assert(Files.isSameFile(java.nio.file.Paths.get(src, f),
        java.nio.file.Paths.get(br, f)), s"$f was copied, not linked")
    }
    // stats/blooms/rows carried — pruning machinery works without recompute
    assert(snapB.statsKey.contains("k") && snapB.fileStats.nonEmpty &&
      snapB.fileBlooms.nonEmpty && snapB.fileRows.nonEmpty)
    assert(TxTable.metaAggregate(spark, br, "k").count == 40L)
    // divergence: branch merge, source append — neither sees the other
    TxTable.mergeCow(spark, br,
      Seq((1L, "BRANCHED")).toDF("k", "v"), "k")
    TxTable.append(spark, src, Seq((100L, "srcnew")).toDF("k", "v").coalesce(1))
    assert(rows(br).contains((1L, "BRANCHED")) && !rows(br).contains((100L, "srcnew")))
    assert(rows(src).contains((1L, "v1")) && rows(src).contains((100L, "srcnew")))
    // maintenance safety: rewrite ALL source content, checkpoint, expire
    // its history — the branch's hard links keep the shared bytes alive
    (1 to 8).foreach(i =>
      TxTable.append(spark, src, Seq((200L + i, "x")).toDF("k", "v").coalesce(1)))
    TxTable.compact(spark, src) // v11 > checkpoint at v10
    TxTable.expireHistory(src, 10L)
    assert(rows(br).contains((2L, "v2")),
      "branch must survive source-side history expiry (hard-link refcount)")
    // refusal: live ledgers are version-scoped to the source log
    TxTable.deleteMor(spark, br, Seq(3L).toDF("k"), "k")
    intercept[IllegalArgumentException] {
      TxTable.cloneShallow(br, s"$base/br2")
    }
    TxTable.compact(spark, br)
    TxTable.cloneShallow(br, s"$base/br2") // clean after compaction
    assert(rows(s"$base/br2") == rows(br))
  }

  test("create refuses a non-long-normalizable stats column loudly") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    // a STRING primary key stays refused: CoW file selection and MoR
    // ledgers key on exact long arithmetic
    val e = intercept[IllegalArgumentException] {
      TxTable.create(Seq(("a", 1L)).toDF("url", "n"), root, Some("url"))
    }
    assert(e.getMessage.contains("stats column"))
    // an ARRAY column can't normalize at all — refused in either role
    val e2 = intercept[IllegalArgumentException] {
      TxTable.create(Seq((Seq(1L), 1L)).toDF("xs", "n"), root + "2",
        Some("n"), None, Seq("xs"))
    }
    assert(e2.getMessage.contains("stats column"))
  }

  test("string stats column: range, prefix, and point reads prune; results exact") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    // three batches clustered on the string axis: distinct leading
    // letters per batch, so logged prefix64 ranges tile the axis
    def batch(b: Int) = (0 until 60).map { i =>
      val c = ('a' + b * 8 + i % 8).toChar // batch 0: a-h, 1: i-p, 2: q-x
      (b * 100L + i, s"$c-word-$i")
    }.toDF("k", "s").coalesce(1)
    TxTable.create(batch(0), root, Some("k"), None, statsCols = Seq("s"))
    (1 to 2).foreach(b => TxTable.append(spark, root, batch(b)))
    assert(TxTable.snapshot(root).strCols == Seq("s"))
    // range read: [b, d) lives entirely in batch 0's file
    val (kr, nr) = TxTable.pruneAccountingOnStr(root, "s", "b", "d")
    assert(nr == 3 && kr == 1, s"string range read kept $kr of $nr")
    val got = TxTable.readPrunedOnStr(spark, root, "s", "b", "d")
      .as[(Long, String)].collect().toSet
    val want = TxTable.read(spark, root)
      .where(col("s").between("b", "d")).as[(Long, String)].collect().toSet
    assert(got == want && want.nonEmpty)
    // prefix read: 'i-' prefixed rows live only in batch 1's file
    val (kp, np) = TxTable.prefixAccounting(root, "s", "i-")
    assert(np == 3 && kp == 1, s"prefix read kept $kp of $np")
    val gotP = TxTable.prefixRead(spark, root, "s", "i-")
      .as[(Long, String)].collect().toSet
    val wantP = TxTable.read(spark, root)
      .where(col("s").startsWith("i-")).as[(Long, String)].collect().toSet
    assert(gotP == wantP && wantP.nonEmpty)
    // numeric entry points refuse the string axis loudly
    assertThrows[IllegalArgumentException](
      TxTable.readPrunedOn(spark, root, "s", 0L, 1L))
    assertThrows[IllegalArgumentException](
      TxTable.pointReadOn(spark, root, "s", Seq(1L)))
    assertThrows[IllegalArgumentException](
      TxTable.optimizeZ(spark, root, "k", "s"))
    // and the string entry points refuse an undeclared/numeric column
    assertThrows[IllegalArgumentException](
      TxTable.prefixRead(spark, root, "k", "a"))
  }

  test("string point reads: hash blooms prune where prefix ranges cannot") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    // every value shares the SAME first 8 bytes ("document"), so the
    // prefix64 range admits every file — only the full-value hash bloom
    // can tell the batches apart (the string twin of the per-epoch
    // layout that motivates primary-key blooms)
    def batch(b: Int) = (0 until 80)
      .map(i => (b * 100L + i, s"document-$b-$i"))
      .toDF("k", "s").coalesce(1)
    TxTable.create(batch(0), root, Some("k"), None, statsCols = Seq("s"))
    (1 to 2).foreach(b => TxTable.append(spark, root, batch(b)))
    val (rangeKept, bloomKept, total) =
      TxTable.pointPruneAccountingOnStr(root, "s", Seq("document-1-17"))
    assert(total == 3 && rangeKept == 3,
      s"shared-prefix layout must be range-unprunable, kept $rangeKept")
    assert(bloomKept == 1, s"hash bloom must keep 1 of 3, kept $bloomKept")
    val got = TxTable.pointReadOnStr(spark, root, "s",
      Seq("document-1-17", "document-2-55"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((117L, "document-1-17"), (255L, "document-2-55")))
    // a missing key returns empty (bloom may keep files; filter is exact)
    assert(TxTable.pointReadOnStr(spark, root, "s",
      Seq("document-9-99")).count() == 0L)
  }

  test("string stats: 8-byte truncation collapses, never falsely prunes") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    // all values share their first 8 bytes and differ only beyond the
    // encoded prefix — the worst case for truncated bounds
    val df = Seq((1L, "aaaaaaaa-one"), (2L, "aaaaaaaa-two"),
      (3L, "aaaaaaaa-three")).toDF("k", "s")
    TxTable.create(df, root, Some("k"), None, statsCols = Seq("s"))
    // equal-prefix range: the file must be KEPT and the result exact
    assert(TxTable.readPrunedOnStr(spark, root, "s",
      "aaaaaaaa-two", "aaaaaaaa-two").as[(Long, String)].collect().toSet ==
      Set((2L, "aaaaaaaa-two")))
    assert(TxTable.prefixRead(spark, root, "s", "aaaaaaaa-t")
      .as[(Long, String)].collect().toSet ==
      Set((2L, "aaaaaaaa-two"), (3L, "aaaaaaaa-three")))
    // point read beyond the prefix: bloom keys on the FULL value
    assert(TxTable.pointReadOnStr(spark, root, "s", Seq("aaaaaaaa-one"))
      .count() == 1L)
    // multi-byte UTF-8 values truncate mid-codepoint safely (byte-wise
    // monotone on both sides)
    val root2 = freshRoot() + "/t2"
    TxTable.create(Seq((1L, "héllo-wörld"), (2L, "zèta"))
      .toDF("k", "s"), root2, Some("k"), None, statsCols = Seq("s"))
    assert(TxTable.readPrunedOnStr(spark, root2, "s", "h", "i")
      .as[(Long, String)].collect().toSet == Set((1L, "héllo-wörld")))
  }

  test("string stats survive checkpoints and ride shallow clones") {
    import spark.implicits._
    val base = freshRoot()
    val root = s"$base/t"
    def batch(b: Int) = (0 until 40)
      .map(i => (b * 100L + i, s"${('a' + b).toChar}-doc-$i"))
      .toDF("k", "s").coalesce(1)
    TxTable.create(batch(0), root, Some("k"), None, statsCols = Seq("s"))
    (1 to 11).foreach(b => TxTable.append(spark, root, batch(b))) // ckpt at v10
    assert(TxTable.snapshot(root).commits.size < 12,
      "snapshot must resolve from the v10 checkpoint")
    assert(TxTable.snapshot(root).strCols == Seq("s"),
      "strCols must survive checkpoint consolidation")
    val (kc, nc) = TxTable.prefixAccounting(root, "s", "c-")
    assert(nc == 12 && kc == 1, s"post-checkpoint prefix read kept $kc of $nc")
    // clone carries the string-stats declaration and the pruning works
    val cl = s"$base/clone"
    TxTable.cloneShallow(root, cl)
    assert(TxTable.snapshot(cl).strCols == Seq("s"))
    val (kcl, ncl) = TxTable.prefixAccounting(cl, "s", "c-")
    assert(ncl == 12 && kcl == 1, s"clone prefix read kept $kcl of $ncl")
    assertThrows[IllegalArgumentException](
      TxTable.readPrunedOn(spark, cl, "s", 0L, 1L))
    // metaAggregate on the string axis: count folds from metadata, the
    // prefix-encoded bounds never surface as values
    val ma = TxTable.metaAggregate(spark, root, "s")
    assert(ma.count == 12L * 40 && ma.min.isEmpty && ma.max.isEmpty)
  }

  test("shingle blooms: phrase probes prune from the log; reads stay exact") {
    import spark.implicits._
    val base = freshRoot()
    val root = s"$base/t"
    // three batches with DISJOINT vocabularies: a phrase from one
    // batch's text can only live in that batch's file
    def doc(b: Int, i: Int): String =
      (0 until 12).map(w => s"w${b}t${(i + w) % 9}").mkString(" ")
    def batch(b: Int) = (0 until 30)
      .map(i => (b * 100L + i, doc(b, i))).toDF("k", "text").coalesce(1)
    TxTable.create(batch(0), root, Some("k"), None, Seq.empty,
      shingleCols = Seq("text"), shingleN = 3)
    (1 to 2).foreach(b => TxTable.append(spark, root, batch(b)))
    assert(TxTable.snapshot(root).shingleCols == Seq("text"))
    assert(TxTable.snapshot(root).shingleN == 3)
    // a phrase present in batch 1 keeps only its file
    val phrase = "w1t4 w1t5 w1t6" // doc(1, 4)'s first three tokens
    var probed = (0, 0)
    assert(JobCount(spark.sparkContext, "phrase probe") {
      probed = TxTable.shinglePruneAccounting(root, "text", phrase)
    } == 0, "a phrase probe must read the log alone")
    val (k1, n1) = probed
    assert(n1 == 3 && k1 == 1, s"phrase probe kept $k1 of $n1")
    val got = TxTable.shingleRead(spark, root, "text", phrase)
      .as[(Long, String)].collect()
    val want = TxTable.read(spark, root).as[(Long, String)].collect()
      .filter(r => (" " + r._2 + " ").contains(s" $phrase "))
    assert(got.toSet == want.toSet && want.nonEmpty)
    // tokenization is canonical: punctuation/case variants of the same
    // phrase probe and match identically
    val messy = "W1T4, w1t5!  w1t6"
    assert(TxTable.shingleRead(spark, root, "text", messy)
      .as[(Long, String)].collect().toSet == want.toSet)
    // an absent phrase (each gram exists NOWHERE) prunes everything
    val (k0, _) = TxTable.shinglePruneAccounting(root, "text", "zz yy xx")
    assert(k0 == 0, s"absent phrase kept $k0 files")
    assert(TxTable.shingleRead(spark, root, "text", "zz yy xx").count() == 0L)
    // conjunctive power: grams that exist in DIFFERENT files never
    // co-occur in one, so the multi-gram probe proves every file empty
    val cross = "w0t1 w0t2 w1t1 w1t2" // grams span batches 0 and 1
    val (kc, _) = TxTable.shinglePruneAccounting(root, "text", cross)
    assert(kc == 0, s"cross-batch phrase kept $kc files")
    // refusals: undeclared column, too-short phrase
    assertThrows[IllegalArgumentException](
      TxTable.shinglePruneAccounting(root, "k", phrase))
    assertThrows[IllegalArgumentException](
      TxTable.shingleRead(spark, root, "text", "w1t4 w1t5"))
    // compaction recomputes blooms over the merged layout; probes and
    // results survive
    TxTable.compact(spark, root, targetFiles = 2)
    val (kz, nz) = TxTable.shinglePruneAccounting(root, "text", phrase)
    assert(nz == 2 && kz >= 1 && TxTable.shingleRead(spark, root, "text", phrase)
      .as[(Long, String)].collect().toSet == want.toSet)
    // clone carries the declaration and the per-file blooms
    val cl = s"$base/clone"
    TxTable.cloneShallow(root, cl)
    assert(TxTable.snapshot(cl).shingleCols == Seq("text"))
    assert(TxTable.shinglePruneAccounting(cl, "text", phrase) == ((kz, nz)))
  }

  test("binPack: small files fold, big files carry by reference, ledgers stay correct") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val root = freshRoot() + "/t"
    val big = (0L until 5000L).map(i => (i, s"payload-$i")).toDF("k", "v")
    TxTable.create(big.coalesce(1), root, statsKey = Some("k"))
    val bigFile = TxTable.snapshot(root).files.head
    val minBytes = JFiles.size(JPaths.get(root, bigFile)) // big is never "small"
    (0 until 6).foreach { e =>
      TxTable.append(spark, root,
        Seq((10000L + e, s"epoch-$e")).toDF("k", "v").coalesce(1))
    }
    // a MoR delete lands before the pack: one doomed key in a small
    // file, one in the big file — the pack must not resurrect either
    TxTable.deleteMor(spark, root, Seq(10001L, 7L).toDF("k"), "k")
    val before = rows(root)
    assert(!before.exists(r => r._1 == 10001L || r._1 == 7L))
    val res = TxTable.binPack(spark, root, minBytes, targetFiles = 1)
    assert(res.isDefined && !res.get.skipped)
    val snap = TxTable.snapshot(root)
    // the big file carried BY REFERENCE — same path, zero bytes moved
    assert(snap.files.contains(bigFile), "big file must carry by reference")
    assert(snap.files.size == 2, s"expected big + 1 packed, got ${snap.files}")
    assert(rows(root) == before, "bin-pack must be invisible to results")
    // the ledger stays LIVE: it still masks k=7 inside the kept big file
    assert(snap.ledgers.nonEmpty, "ledger must survive a partial pack")
    assert(!rows(root).exists(_._1 == 7L))
    // idempotent policy: nothing small left to fold
    assert(TxTable.binPack(spark, root, minBytes).isEmpty)
    // a replayed epoch-tagged pack no-ops
    TxTable.append(spark, root, Seq((20000L, "x")).toDF("k", "v").coalesce(1))
    TxTable.append(spark, root, Seq((20001L, "y")).toDF("k", "v").coalesce(1))
    val t = Some("maintenance/epoch=1")
    val r1 = TxTable.binPack(spark, root, minBytes, 1, t)
    val r2 = TxTable.binPack(spark, root, minBytes, 1, t)
    assert(r1.exists(!_.skipped) && r2.exists(_.skipped))
  }

  test("replaceWhere: range backfill touches only intersecting files; tags replay; MoR-safe") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    // 4 range-clustered files over k = 0..399
    val df = (0L until 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    TxTable.create(df, root, statsKey = Some("k"))
    // metadata-only selection: [100, 199] lives in 1 of 4 files
    val (touched, total) = TxTable.replaceAccounting(root, 100L, 199L)
    assert(total == 4 && touched == 1, s"backfill would rewrite $touched of $total")
    val fixed = (100L until 200L).map(k => (k, s"fixed$k")).toDF("k", "v")
    val r1 = TxTable.replaceWhere(spark, root, 100L, 199L, fixed,
      tag = Some("backfill/day=7"))
    assert(!r1.skipped)
    val got = rows(root)
    assert(got.size == 400)
    assert(got.filter(r => r._1 >= 100 && r._1 <= 199).forall(_._2.startsWith("fixed")))
    assert(got.filter(r => r._1 < 100 || r._1 > 199).forall(_._2.startsWith("v")))
    // replay of the same backfill epoch is a detected no-op
    val r2 = TxTable.replaceWhere(spark, root, 100L, 199L, fixed,
      tag = Some("backfill/day=7"))
    assert(r2.skipped && rows(root) == got)
    // a live MoR ledger outside the range survives the backfill
    TxTable.deleteMor(spark, root, Seq(7L).toDF("k"), "k")
    TxTable.replaceWhere(spark, root, 300L, 399L,
      (300L until 400L).map(k => (k, s"b$k")).toDF("k", "v"))
    val post = rows(root)
    assert(!post.exists(_._1 == 7L), "backfill must not resurrect a MoR-deleted key")
    assert(post.count(_._2.startsWith("b")) == 100)
    // an empty replacement range is a pure ranged delete (the MoR-
    // deleted k=7 sits inside [0, 49], so the range subsumes it)
    TxTable.replaceWhere(spark, root, 0L, 49L,
      Seq.empty[(Long, String)].toDF("k", "v"))
    assert(rows(root).size == 400 - 50)
    // out-of-scope batches refused before any commit
    val vBefore = TxTable.snapshot(root).version
    assertThrows[IllegalArgumentException](
      TxTable.replaceWhere(spark, root, 200L, 249L,
        Seq((199L, "leak")).toDF("k", "v")))
    assert(TxTable.snapshot(root).version == vBefore)
  }

  test("replaceWhere keeps null-key rows living in rewritten files") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    // the null-key row shares a file with in-range keys, so the backfill
    // rewrites its file; nulls are out of ANY declared range (the batch
    // validation already says so), so the rewrite must carry them over —
    // a bare NOT BETWEEN evaluates NULL for them and would drop the row.
    val df = Seq((Option(1L), "a"), (Option(150L), "mid"),
      (Option.empty[Long], "nullrow")).toDF("k", "v").coalesce(1)
    TxTable.create(df, root, statsKey = Some("k"))
    TxTable.replaceWhere(spark, root, 100L, 199L,
      Seq((150L, "fixed")).toDF("k", "v"))
    val got = TxTable.read(spark, root).as[(Option[Long], String)]
      .collect().toSet
    assert(got == Set((Some(1L), "a"), (Some(150L), "fixed"),
      (None, "nullrow")))
  }

  test("string accounting entry points refuse non-string stats columns") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    TxTable.create(Seq((1L, "a")).toDF("k", "v"), root, statsKey = Some("k"))
    // 'k' carries NUMERIC stats: its prefix64-encoded bound comparison is
    // meaningless, so the accounting twins must fail loudly like the
    // read paths do, not return garbage (kept, total) numbers.
    assertThrows[IllegalArgumentException](
      TxTable.pruneAccountingOnStr(root, "k", "a", "b"))
    assertThrows[IllegalArgumentException](
      TxTable.prefixAccounting(root, "k", "a"))
    assertThrows[IllegalArgumentException](
      TxTable.pointPruneAccountingOnStr(root, "k", Seq("a")))
  }

  test("pruned reads survive a zero-live-file snapshot (schema recovery)") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    TxTable.create((0L until 10L).map(i => (i, s"v$i")).toDF("k", "v"),
      root, statsKey = Some("k"))
    // full-range replaceWhere with an empty batch = ranged delete of the
    // whole table; whether the writer leaves zero or one (empty) live
    // file, every pruned entry point must return an empty frame with the
    // table schema instead of NoSuchElementException on files.head.
    TxTable.replaceWhere(spark, root, 0L, 9L,
      Seq.empty[(Long, String)].toDF("k", "v"))
    val r = TxTable.readPruned(spark, root, 3L, 5L)
    assert(r.columns.toSeq == Seq("k", "v") && r.count() == 0)
    val p = TxTable.pointRead(spark, root, Seq(3L))
    assert(p.columns.toSeq == Seq("k", "v") && p.count() == 0)
  }

  test("expireOlderThan: wall-clock retention resolves by binary search, refuses pre-history") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    TxTable.create((0L until 20L).map(i => (i, "v0")).toDF("k", "v"), root,
      statsKey = Some("k"))
    (1 to 12).foreach(e =>
      TxTable.merge(spark, root,
        (0L until 20L).map(i => (i, s"v$e")).toDF("k", "v"), Seq("k")))
    val ts11 = TxTable.commitTs(root, 11L).get
    val (dropped, archived) = TxTable.expireOlderThan(root, ts11)
    // v11 resolves at ts11; expireHistory snaps down to the v10 checkpoint
    assert(archived == 10L, s"commits 0..9 should archive, archived $archived")
    assert(dropped > 0L)
    assert(TxTable.snapshot(root, 10L).version == 10L)
    assertThrows[IllegalStateException](TxTable.snapshot(root, 5L))
    // a moment before the oldest RETAINED commit refuses, never clamps
    val ts10 = TxTable.commitTs(root, 10L).get
    assertThrows[IllegalArgumentException](
      TxTable.expireOlderThan(root, ts10 - 1))
  }

  test("shingle blooms survive checkpoint consolidation") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    def batch(b: Int) = (0 until 10)
      .map(i => (b * 100L + i, s"v${b}a$i v${b}b$i v${b}c$i v${b}d$i"))
      .toDF("k", "text").coalesce(1)
    TxTable.create(batch(0), root, Some("k"), None, Seq.empty,
      shingleCols = Seq("text"), shingleN = 3)
    (1 to 11).foreach(b => TxTable.append(spark, root, batch(b))) // ckpt v10
    assert(TxTable.snapshot(root).commits.size < 12,
      "snapshot must resolve from the v10 checkpoint")
    assert(TxTable.snapshot(root).shingleCols == Seq("text"))
    val (k, n) = TxTable.shinglePruneAccounting(root, "text",
      "v7a3 v7b3 v7c3")
    assert(n == 12 && k == 1, s"post-checkpoint phrase probe kept $k of $n")
  }

  test("foldLedgersOver bounds the MoR read chain under a 20-epoch drain") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    TxTable.create((0L until 40L).map(i => (i, "base")).toDF("k", "v"),
      root, statsKey = Some("k"))
    // 20 MoR epochs: each lands one data file + one delete ledger, so
    // the base file's applicable chain grows one per epoch — the
    // streaming-upsert pressure pattern
    for (e <- 1 to 20)
      TxTable.mergeMor(spark, root,
        Seq((e.toLong, s"e$e")).toDF("k", "v"), "k", tag = Some(s"ep$e"))
    val (chain0, ledgers0) = TxTable.ledgerPressure(root)
    assert(chain0 == 20 && ledgers0 == 20, s"drain built $chain0/$ledgers0")
    val expected = rows(root)
    val r = TxTable.foldLedgersOver(spark, root, 5, tag = Some("fold1"))
    assert(r.exists(!_.skipped))
    val (chain1, ledgers1) = TxTable.ledgerPressure(root)
    assert(chain1 <= 5, s"fold left a chain of $chain1")
    assert(ledgers1 == 5, s"fully-covered ledgers must retire: $ledgers1")
    assert(rows(root) == expected, "fold must not change content")
    // within-bound files carried by reference: epoch-15..20 data files
    // survive the fold commit untouched
    val snap = TxTable.snapshot(root)
    assert(snap.files.exists(f => snap.fileAddV.get(f).exists(_ == 15L)),
      "the newest within-bound epoch file must carry by reference")
    // replayed maintenance epoch is a detected no-op, even though the
    // first run left nothing over-bound
    assert(TxTable.foldLedgersOver(spark, root, 5, tag = Some("fold1"))
      .exists(_.skipped))
    // under the bound: the policy declines (no commit)
    assert(TxTable.foldLedgersOver(spark, root, 20).isEmpty)
    // time travel across the fold still resolves mid-drain state
    val atV10 = (0L until 40L).map(i => i -> "base").toMap ++
      (1 to 10).map(e => e.toLong -> s"e$e")
    assert(rows(root, 10L) == atV10.toSet)
  }

  // 31 s race soak; fold/binPack correctness has fast single-writer cases
  test("maintenance races writers: fold/binPack vs concurrent MoR upserts+deletes preserve every ledger's effect",
      SlowTest) {
    import spark.implicits._
    val root = freshRoot() + "/t"
    TxTable.create((0L until 1000L).map(i => (i, "base")).toDF("k", "v"),
      root, statsKey = Some("k"))
    // 3 writers drain MoR epochs into disjoint key ranges (so the
    // serialized result is order-independent) while a maintenance
    // thread repeatedly folds ledgers and bin-packs. The hazard under
    // test: an optimistic maintenance rebase that dropped a concurrent
    // ledger would silently RESURRECT deleted keys — so each writer
    // ends with a ledgered delete whose effect must survive every fold.
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val writers = (0 until 3).map { w =>
      new Thread(() => try {
        for (e <- 1 to 6) {
          val lo = w * 200L
          TxTable.mergeMor(spark, root,
            (lo until lo + 30L).map(i => (i, s"w$w-e$e")).toDF("k", "v"),
            "k", maxAttempts = 40)
        }
        TxTable.deleteMor(spark, root,
          (w * 200L + 100L until w * 200L + 110L).toDF("k"), "k",
          maxAttempts = 40)
      } catch { case t: Throwable => errs.add(t) })
    }
    val maintenance = new Thread(() => try {
      for (_ <- 1 to 4) {
        TxTable.foldLedgersOver(spark, root, 2, maxAttempts = 50)
        Thread.sleep(30)
      }
      TxTable.binPack(spark, root, minBytes = 1L << 20, targetFiles = 2)
    } catch { case t: Throwable => errs.add(t) })
    (writers :+ maintenance).foreach(_.start())
    (writers :+ maintenance).foreach(_.join())
    assert(errs.isEmpty, s"racing ops failed: ${errs.peek()}")
    val expected = (0L until 1000L).flatMap { i =>
      val w = (i / 200L).toInt
      if (w <= 2 && i % 200L < 30L) Some(i -> s"w$w-e6")
      else if (w <= 2 && i % 200L >= 100L && i % 200L < 110L) None
      else Some(i -> "base")
    }.toSet
    assert(rows(root) == expected,
      "serialized maintenance must preserve every writer's net effect")
    // a full fold after the dust settles: content invariant, zero chain
    TxTable.foldLedgersOver(spark, root, 0)
    assert(rows(root) == expected, "final fold must not change content")
    val (chain, ledgers) = TxTable.ledgerPressure(root)
    assert(chain == 0 && ledgers == 0,
      s"full fold must retire every ledger: chain=$chain live=$ledgers")
  }

  test("MoR delete-set broadcast guard: over-threshold volume falls back to a shuffled anti-join, same rows") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    TxTable.create((0L until 400L).map(i => (i, "base")).toDF("k", "v"),
      root, statsKey = Some("k"))
    for (e <- 1 to 3)
      TxTable.mergeMor(spark, root,
        (0L until 50L).map(i => (e * 50L + i, s"e$e")).toDF("k", "v"), "k")
    // volume is resolved from the log alone (drows stamped at publish)
    assert(TxTable.ledgerVolume(root) == 150L)
    val expected = rows(root)
    // default threshold (100 MB): 150 stamped long keys resolve inside
    // the scan — no join at all in the executed plan
    val bplan = TxTable.read(spark, root).queryExecution.executedPlan.toString
    assert(!bplan.contains("Join"),
      s"small long-key delete set must resolve in the scan:\n$bplan")
    // threshold 0 prices every non-empty delete set as too big: the
    // SAME read falls back to a shuffled sort-merge anti-join — the
    // plan a billion-key delete accumulation needs instead of an OOM
    spark.conf.set("spark.graft.mor.broadcastMaxBytes", "0")
    try {
      val df = TxTable.read(spark, root)
      val splan = df.queryExecution.executedPlan.toString
      assert(splan.contains("SortMergeJoin") && splan.contains("LeftAnti"),
        s"over-threshold delete set must shuffle:\n$splan")
      // line-wise: Spark prints "BroadcastHashJoin [k], [k], LeftAnti"
      // (type after the key lists), so a plain substring never matches
      assert(!splan.linesIterator.exists(l =>
          l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
        s"guard must not broadcast the delete set:\n$splan")
      assert(df.as[(Long, String)].collect().toSet == expected,
        "both plan forms must resolve identical content")
    } finally spark.conf.unset("spark.graft.mor.broadcastMaxBytes")
  }

  test("type-mixed ledger signatures land in separate anti-join groups on every chain length") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    TxTable.create((1 to 20).map(i => (i.toString, "live")).toDF("s", "v"),
      root)
    // 5 string-typed + 5 double-typed ledgers, all naming column "s":
    // grouping by name alone would fuse them into one 10-file scan whose
    // inferred schema fails on the other type at scan time; typed
    // signatures give each its own group (and the >4 multi-file branch
    // within a group stays type-homogeneous)
    (1 to 5).foreach(i =>
      TxTable.deleteMorKeys(spark, root, Seq(i.toString).toDF("s"), Seq("s")))
    (6 to 10).foreach(i =>
      TxTable.deleteMorKeys(spark, root, Seq(i.toDouble).toDF("s"), Seq("s")))
    val left = TxTable.read(spark, root)
      .select("s").as[String].collect().toSet
    assert(left == (11 to 20).map(_.toString).toSet,
      s"both typed ledger families must subtract: $left")
    // the NATURAL-key (null-safe <=>) anti-join must survive the
    // shuffled fallback too: EqualNullSafe is a hashable join key, so
    // the over-threshold form plans as a sort-merge anti-join — same
    // rows as the broadcast form
    spark.conf.set("spark.graft.mor.broadcastMaxBytes", "0")
    try {
      val df = TxTable.read(spark, root)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") && p.contains("LeftAnti"),
        s"natural-key fallback must shuffle:\n$p")
      assert(df.select("s").as[String].collect().toSet == left,
        "natural-key shuffled fallback diverged from broadcast form")
    } finally spark.conf.unset("spark.graft.mor.broadcastMaxBytes")
  }

  test("ledger signatures + row counts ride the log and its checkpoints") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    TxTable.create((0L until 10L).map(i => (i, "base")).toDF("k", "v"),
      root, statsKey = Some("k"))
    TxTable.deleteMor(spark, root, Seq(3L, 4L).toDF("k"), "k")
    val snap = TxTable.snapshot(root)
    assert(snap.ledgers.nonEmpty)
    assert(snap.ledgers.forall(l => l.rows >= 0 && l.sig == "k:bigint"),
      s"ledgers must carry stamped rows + signature: ${snap.ledgers}")
    val cjson = Files.readString(
      java.nio.file.Paths.get(root, "_log",
        f"${snap.version}%020d.json"))
    assert(cjson.contains("\"dsigs\"") && cjson.contains("\"drows\""))
    // survive checkpoint consolidation: push to a checkpoint boundary
    for (e <- 2 to 10)
      TxTable.mergeMor(spark, root, Seq((e.toLong, s"e$e")).toDF("k", "v"), "k")
    val ck = java.nio.file.Paths.get(root, "_log", f"${10L}%020d.ckpt.json")
    assert(Files.exists(ck), "checkpoint expected at v10")
    val ckj = Files.readString(ck)
    assert(ckj.contains("\"dsigs\"") && ckj.contains("\"drows\""))
    val snap2 = TxTable.snapshot(root)
    assert(snap2.ledgers.forall(l => l.rows >= 0 && l.sig.nonEmpty),
      "checkpoint-folded ledgers must keep rows + signatures")
  }

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, o) =>
      o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  // AQE skew-split thresholds scaled to test data (on a real cluster
  // the 256 MB default plays the same role), broadcast disabled so the
  // rewrite/read anti-joins take their shuffled (100 TB) form
  private val skewConfs = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "131072",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  // Zipf fixture for the skewed-merge cases: key 0 carries 40% of
  // 600 k rows (ids with id%5<2, which includes every id ≡ 0 mod
  // 50000), every other key k ∈ [1, 50000) holds the 12 ids ≡ k mod
  // 50000 whose id%5 ≥ 2 — i.e. exactly the keys with k%5 ≥ 2
  private def zipfBase =
    graft.tools.SkewFixtures.zipfKeyed(spark) // shared skew generator

  test("mergeCow under a Zipf merge key: AQE splits the skewed rewrite join; content exact") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    TxTable.create(zipfBase.repartition(8), root, statsKey = Some("k"))
    // keys: 0 hot (240 k rows → 1), 7 cold (12 rows → 1), 99999 insert
    val changes = Seq((0L, "hot-new"), (7L, "cold-new"), (99999L, "insert"))
      .toDF("k", "v")
    // capture the rewrite's executed plan (the write happens inside the
    // commit, not on a handle this test holds); the bus is async, so
    // poll until the skewed LeftAnti plan lands
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    def sawSkew: Boolean = {
      val it = plans.iterator(); var found = false
      while (it.hasNext && !found) {
        val p = it.next()
        found = p.contains("skew=true") && p.contains("LeftAnti")
      }
      found
    }
    spark.listenerManager.register(listener)
    try {
      withConf(skewConfs: _*) {
        TxTable.mergeCow(spark, root, changes, "k")
      }
      val deadline = System.nanoTime() + 15e9.toLong
      while (!sawSkew && System.nanoTime() < deadline) Thread.sleep(100)
    } finally spark.listenerManager.unregister(listener)
    // content: the hot key collapses to its single new row
    val got = TxTable.read(spark, root)
      .groupBy("k").count().where(col("k").isin(0L, 7L, 99999L))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 1L, 7L -> 1L, 99999L -> 1L),
      s"merge must collapse each changed key to one row: $got")
    assert(TxTable.read(spark, root).count() ==
      600000L - 240000L - 12L + 3L,
      "240 k hot-key rows + 12 cold-key rows replaced by 3")
    assert(sawSkew,
      s"rewrite anti-join must be AQE skew-split under the hot key " +
        s"(captured ${plans.size} plans)")
  }

  test("MoR shuffled-fallback read under a Zipf data key: AQE splits the skewed anti-join") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    TxTable.create(zipfBase.repartition(8), root, statsKey = Some("k"))
    TxTable.deleteMor(spark, root, Seq(7L, 13L).toDF("k"), "k")
    withConf((skewConfs :+
        ("spark.graft.mor.broadcastMaxBytes" -> "0")): _*) {
      val df = TxTable.read(spark, root)
      // collect() executes THIS queryExecution (count() would build a
      // new one and leave df's adaptive plan unfinalised)
      val n = df.collect().length
      assert(n == 600000 - 12 - 12,
        s"both deleted keys subtract all their duplicates: $n")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"MoR fallback anti-join must AQE-split the hot data key:\n${p.take(1500)}")
    }
  }

  test("write-audit-publish: branch adds adopt back zero-copy; bad data never reaches main") {
    import spark.implicits._
    import java.nio.file.{Files => JF, Paths => JP}
    val tmp = freshRoot()
    val main = s"$tmp/main"; val branch = s"$tmp/branch"
    TxTable.create((0L until 100L).map(i => (i, "base")).toDF("k", "v"),
      main, statsKey = Some("k"),
      check = Some("k >= 0"))
    // WRITE: isolated on the branch — main's readers never see it
    TxTable.cloneShallow(main, branch)
    TxTable.append(spark, branch,
      (100L until 150L).map(i => (i, "staged")).toDF("k", "v"))
    assert(rows(main).size == 100, "staging must be invisible to main")
    // AUDIT on the branch (app-level), then PUBLISH: zero-copy adopt
    val r = TxTable.adoptFrom(spark, main, branch, tag = Some("wap-1"))
    assert(!r.skipped)
    assert(rows(main) == (0L until 100L).map((_, "base")).toSet ++
      (100L until 150L).map((_, "staged")).toSet)
    // zero-copy: the adopted file is the SAME inode as the branch's
    val adopted = TxTable.snapshot(main).files
      .filterNot(TxTable.snapshot(branch).files
        .filter(f => TxTable.snapshot(branch).fileAddV.getOrElse(f, 0L) == 0L)
        .toSet)
    assert(adopted.nonEmpty)
    adopted.foreach { f =>
      val a = JF.getAttribute(JP.get(main, f), "unix:ino")
      val b = JF.getAttribute(JP.get(branch, f), "unix:ino")
      assert(a == b, s"adopted file must be a hard link, not a copy: $f")
    }
    // replay idempotence: same tag AND same content both short-circuit
    assert(TxTable.adoptFrom(spark, main, branch, tag = Some("wap-1")).skipped)
    assert(TxTable.adoptFrom(spark, main, branch).skipped,
      "already-adopted files must not double-add")
    // stats rode the adopt: a pruned range read opens only matching files
    assert(TxTable.readPruned(spark, main, 120L, 130L)
      .as[(Long, String)].collect().forall(_._2 == "staged"))
    // vacuum on MAIN must not reclaim the shared physical file
    TxTable.vacuumOrphans(main)
    assert(rows(branch).size == 150, "branch stays intact after main vacuum")
    // the audit gate is real. A CLONE carries main's CHECK, so bad data
    // is refused at branch-append time (isolation even before publish):
    val branch2 = s"$tmp/branch2"
    TxTable.cloneShallow(main, branch2)
    val atAppend = intercept[IllegalStateException](
      TxTable.append(spark, branch2, Seq((-5L, "bad")).toDF("k", "v")))
    assert(atAppend.getMessage.toLowerCase.contains("check"))
    // ...and a FOREIGN branch (no such constraint of its own) is audited
    // at ADOPT time against the table's CHECK — main never sees the row
    val branch3 = s"$tmp/branch3"
    TxTable.create(Seq((1L, "seed")).toDF("k", "v"), branch3,
      statsKey = Some("k"))
    TxTable.append(spark, branch3, Seq((-5L, "bad")).toDF("k", "v"))
    val ex = intercept[IllegalStateException](
      TxTable.adoptFrom(spark, main, branch3))
    assert(ex.getMessage.toLowerCase.contains("check"))
    assert(rows(main).size == 150, "failed audit must leave main untouched")
    // publish is flat in rows: with no CHECK to audit, adopting 4 staged
    // files submits the same jobs and reads the same input records
    // whether they hold 100 k or 800 k rows
    val adopt = Seq(1, 8).map(m => JobCount.pinned(spark, aqe = false, partitions = 4) {
      val (mn, br) = (s"$tmp/main$m", s"$tmp/branch$m")
      TxTable.create(spark.range(1000L).select(col("id").as("k"), lit("base").as("v")),
        mn, statsKey = Some("k"))
      TxTable.cloneShallow(mn, br)
      TxTable.append(spark, br, spark.range(1000L, 1000L + 100000L * m)
        .select(col("id").as("k"), lit("staged").as("v")))
      JobCount.counters(spark.sparkContext, s"adopt x$m")(TxTable.adoptFrom(spark, mn, br))
    })
    info(s"adopt x1: ${adopt(0)}; x8: ${adopt(1)}")
    assert(adopt(0).jobs == adopt(1).jobs && adopt(0).inputRecords == adopt(1).inputRecords,
      s"x1: ${adopt(0)}; x8: ${adopt(1)}")
  }

  test("adopt widens the union schema: a branch-added column surfaces as NULL on old rows") {
    import spark.implicits._
    val tmp = freshRoot()
    val main = s"$tmp/main"; val branch = s"$tmp/branch"
    TxTable.create((0L until 10L).map(i => (i, "base")).toDF("k", "v"),
      main, statsKey = Some("k"))
    TxTable.cloneShallow(main, branch)
    // the staged batch carries a NEW column (schema evolution by merge)
    TxTable.append(spark, branch,
      Seq((100L, "staged", 7L)).toDF("k", "v", "score"))
    TxTable.adoptFrom(spark, main, branch)
    val got = TxTable.read(spark, main)
      .select("k", "v", "score")
      .as[(Long, String, Option[Long])].collect().toSet
    assert(got == (0L until 10L).map(i => (i, "base", None)).toSet +
      ((100L, "staged", Some(7L))),
      s"union schema must grow and old rows read NULL: $got")
    // a TYPE-mismatched branch column is refused at adopt
    val branch2 = s"$tmp/branch2"
    TxTable.cloneShallow(main, branch2)
    TxTable.append(spark, branch2,
      Seq((200L, "bad", "not-a-long")).toDF("k", "v", "score"))
    val ex = intercept[IllegalArgumentException](
      TxTable.adoptFrom(spark, main, branch2))
    assert(ex.getMessage.contains("score"))
  }

  test("adopt refuses a branch column the table renamed away after the clone") {
    import spark.implicits._
    val tmp = freshRoot()
    val main = s"$tmp/main"; val branch = s"$tmp/branch"
    TxTable.create((0L until 10L).map(i => (i, "base")).toDF("k", "v"),
      main, statsKey = Some("k"))
    TxTable.cloneShallow(main, branch)
    TxTable.append(spark, branch,
      (100L until 110L).map(i => (i, "staged")).toDF("k", "v"))
    // main evolves PAST the clone point: v is now called label
    TxTable.renameColumn(spark, main, "v", "label")
    // the branch's 'v' would pass the type check (absent from the
    // current schema) and adopt as a brand-new column, silently forking
    // the data across v/label — must be refused instead
    val ex = intercept[IllegalArgumentException](
      TxTable.adoptFrom(spark, main, branch))
    assert(ex.getMessage.contains("renamed"), ex.getMessage)
    assert(TxTable.read(spark, main).count() == 10,
      "refused adopt must leave main untouched")
    // a branch whose adds already carry the NEW name adopts fine
    // (compact first: cloning refuses while the rename is pending on
    // main's live files)
    TxTable.compact(spark, main, 1)
    val branch2 = s"$tmp/branch2"
    TxTable.cloneShallow(main, branch2)
    TxTable.append(spark, branch2,
      (200L until 210L).map(i => (i, "ok")).toDF("k", "label"))
    assert(!TxTable.adoptFrom(spark, main, branch2).skipped)
    assert(TxTable.read(spark, main).count() == 20)
  }

  test("comma-bearing ledger signature (decimal composite key) round-trips the log parser") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = freshRoot() + "/t"
    // composite key whose FIRST column's catalogString contains ',':
    // "p:decimal(10,2);k:bigint". A raw comma-split of the dsigs array
    // would truncate the sig to "p:decimal(10" — decodeSig then yields a
    // key PREFIX and the anti-join silently deletes by prefix; in a
    // checkpoint the spill misaligns every later ledger's signature.
    val base = (0L until 20L)
      .map(i => (BigDecimal(i) + BigDecimal("0.25"), i, s"r$i"))
      .toDF("p", "k", "v")
      .select(col("p").cast("decimal(10,2)").as("p"), col("k"), col("v"))
    TxTable.create(base, root)
    val doomed = Seq((BigDecimal("3.25"), 3L), (BigDecimal("7.25"), 7L))
      .toDF("p", "k")
      .select(col("p").cast("decimal(10,2)").as("p"), col("k"))
    TxTable.deleteMorKeys(spark, root, doomed, Seq("p", "k"))
    val snap = TxTable.snapshot(root)
    assert(snap.ledgers.exists(_.sig == "p:decimal(10,2);k:bigint"),
      s"sig must survive the log round-trip intact: ${snap.ledgers.map(_.sig)}")
    // a SECOND ledger after the comma-bearing one: misalignment of later
    // array elements is the failure mode the quote-aware parser closes
    TxTable.deleteMorKeys(spark, root,
      Seq((BigDecimal("11.25"), 11L)).toDF("p", "k")
        .select(col("p").cast("decimal(10,2)").as("p"), col("k")),
      Seq("p", "k"))
    val left = TxTable.read(spark, root).select("k").as[Long].collect().toSet
    assert(left == (0L until 20L).toSet -- Set(3L, 7L, 11L),
      s"exact-key MoR subtraction only: $left")
  }

  test("aliased ledger lifecycle: backing files survive binPack, vacuum, and retention while referenced") {
    import spark.implicits._
    import java.nio.file.{Files => JF, Paths => JP}
    val root = freshRoot() + "/t"
    TxTable.create((0L until 200L).map(i => (i, "base")).toDF("k", "v"),
      root, statsKey = Some("k"))
    // 3 MoR upsert epochs: each add file doubles as its commit's delete
    // ledger (the @alias); the base file keeps a 3-ledger chain
    for (e <- 1 to 3)
      TxTable.mergeMor(spark, root,
        (0L until 40L).map(i => (i, s"e$e")).toDF("k", "v").coalesce(1), "k")
    val expected = (0L until 200L)
      .map(i => (i, if (i < 40) "e3" else "base")).toSet
    assert(rows(root) == expected)
    val aliasedBacking = TxTable.snapshot(root).ledgers
      .flatMap(_.path.stripPrefix("@").split(';')).filter(_.nonEmpty)
    assert(aliasedBacking.size == 3, s"3 aliased epochs: $aliasedBacking")
    // binPack folds EVERY file (all tiny) into one: the epoch add files
    // leave the live set, but their ledger entries survive (the @ path
    // is its own string) and reads stay correct — the backing files are
    // still on disk and still log-referenced
    assert(TxTable.binPack(spark, root, 1L << 20, 1).exists(!_.skipped))
    assert(rows(root) == expected, "content must survive the pack")
    assert(aliasedBacking.forall(f => JF.exists(JP.get(root, f))),
      "backing files must remain on disk while their ledgers live")
    // vacuum reclaims nothing referenced: every backing file is reachable
    // through some commit's dadds
    TxTable.vacuumOrphans(root)
    assert(aliasedBacking.forall(f => JF.exists(JP.get(root, f))),
      "vacuum must not eat aliased-ledger backing files")
    assert(rows(root) == expected)
    // push to a checkpoint and expire pre-cutoff history: retention must
    // keep any file a RETAINED snapshot's ledger references, and the
    // retained range keeps resolving
    for (e <- 4 to 10)
      TxTable.mergeMor(spark, root,
        Seq((e * 1000L, s"x$e")).toDF("k", "v"), "k")
    val head = TxTable.snapshot(root).version
    val expected2 = rows(root)
    TxTable.expireHistory(root, head)
    assert(rows(root) == expected2, "retention must not change content")
    TxTable.vacuumOrphans(root)
    assert(rows(root) == expected2)
    // a final full fold retires everything and content still holds
    TxTable.foldLedgersOver(spark, root, 0)
    assert(TxTable.ledgerPressure(root) == ((0, 0)))
    assert(rows(root) == expected2)
  }

  test("optimizeOn a string axis: re-cluster makes prefix64 ranges tile") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    // epoch layout: every batch spans the whole string domain
    def batch(b: Int) = (0 until 26).map { i =>
      (b * 100L + i, s"${('a' + i).toChar}-doc-$b")
    }.toDF("k", "s").coalesce(1)
    TxTable.create(batch(0), root, Some("k"), None, statsCols = Seq("s"))
    (1 to 3).foreach(b => TxTable.append(spark, root, batch(b)))
    val before = TxTable.read(spark, root).as[(Long, String)].collect().toSet
    val (k0, n0) = TxTable.pruneAccountingOnStr(root, "s", "d", "f")
    assert(k0 == n0 && n0 == 4, "epoch layout must be unprunable on s")
    TxTable.optimizeOn(spark, root, "s", targetFiles = 4)
    assert(TxTable.read(spark, root)
      .as[(Long, String)].collect().toSet == before)
    val (k1, n1) = TxTable.pruneAccountingOnStr(root, "s", "d", "f")
    assert(k1 * 2 <= n1, s"post-optimizeOn range read opens $k1/$n1")
  }

  test("driver-side footer schema inference matches spark.read's, all stored shapes") {
    // r12 optimization: currentSchema's inference reads parquet footers on
    // the driver (ParquetToSparkSchemaConverter) instead of paying a
    // spark.read mergeSchema setup per commit — this pins exact equality
    // (types, field order, nullability) with what the distributed path
    // would have produced, over every column shape TxTable stores (long,
    // double, string, float array, timestamp, nested struct).
    import org.apache.spark.sql.functions._
    val root = freshRoot() + "/t"
    val df = spark.range(40).select(
      col("id"), col("id").cast("double").as("d"),
      concat(lit("s-"), col("id")).as("t"),
      array(col("id").cast("float"), lit(1.5f)).as("arr"),
      timestamp_millis(col("id") * 1000).as("ts"),
      struct(col("id").as("a"), lit("x").as("b")).as("nested"))
    TxTable.create(df.repartition(3), root, Some("id"))
    TxTable.append(spark, root, df.limit(7).coalesce(1))
    val snap = TxTable.snapshot(root)
    val viaRead = TxTable.read(spark, root).schema
    val viaMerge = spark.read.option("mergeSchema", "true")
      .parquet(snap.files.map(f => s"$root/$f"): _*).schema
    assert(viaRead == viaMerge,
      s"footer-inferred schema diverged:\n$viaRead\nvs\n$viaMerge")
    // the stats-job row counts stamped into the log equal footer truth
    val byFooter = snap.files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$root/$f"),
        new org.apache.hadoop.conf.Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }
    assert(snap.files.map(snap.fileRows) == byFooter,
      "logged per-file row counts must equal parquet footer counts")
  }

  test("width-differing live files: union schema appends the new column, old rows NULL") {
    // the no-evolution path can legally hold files of different widths
    // (a rewrite may introduce a column) — the footer-based union must
    // surface the new column on old rows as NULL, exactly like the
    // mergeSchema inference did
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = freshRoot() + "/t"
    TxTable.create(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, Some("k"))
    TxTable.transact(spark, root, "widen-rewrite")(cur =>
      cur.withColumn("extra", col("k") * 10))
    val got = TxTable.read(spark, root)
    assert(got.schema.fieldNames.toSeq == Seq("k", "v", "extra"))
    assert(got.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(2)))
      .toSeq == Seq((1L, 10L), (2L, 20L)))
    // and a genuinely width-mixed live set (append an old-width batch)
    TxTable.append(spark, root, Seq((9L, "z")).toDF("k", "v"))
    val mixed = TxTable.read(spark, root)
    assert(mixed.schema.fieldNames.toSeq == Seq("k", "v", "extra"))
    assert(mixed.where(col("k") === 9).select("extra")
      .collect().head.isNullAt(0),
      "old-width rows must surface the newer column as NULL")
  }
}
