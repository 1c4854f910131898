package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.functions.col

/** A minimal log-structured ACID table over parquet — the transactional
  * story the MERGE/SCD2/diff dataflows (Q-qual-03/04/05) compose with:
  * "upsert into the same table twice, concurrently" now serializes
  * instead of corrupting.
  *
  * Design (the standard log-structured lakehouse shape, built from first
  * principles on the two primitives every storage layer has — immutable
  * data files and one atomic create):
  *
  *  - DATA is immutable parquet under `<path>/data/`; writers only ever
  *    ADD files, never mutate them.
  *  - The LOG under `<path>/_log/` is the source of truth: commit N is a
  *    JSON file `%020d.json` listing files added and removed plus the
  *    committing operation. A snapshot at version V = fold of commits
  *    0..V (adds minus removes). Readers never list `data/` — orphaned
  *    files from losing writers are invisible by construction.
  *  - COMMIT is optimistic concurrency on "create-if-absent": the commit
  *    body is written to a uniquely-named tmp file, then published with
  *    `Files.createLink(log/N.json, tmp)` — a hard link is an ATOMIC
  *    win-or-lose on POSIX (unlike rename, which silently overwrites).
  *    Exactly one writer can own version N; the loser re-reads the new
  *    snapshot, REBASES its logical operation on it, and retries at N+1.
  *    On an object store the same slot is a conditional PUT
  *    (If-None-Match); on HDFS, create-no-overwrite — the protocol is
  *    storage-portable.
  *  - SNAPSHOT ISOLATION: a read resolves the live file set at the
  *    highest contiguous version once; concurrent commits never change
  *    what an in-flight read sees. `versionAsOf` reads any historical
  *    snapshot (time travel) since data files are immutable.
  *  - IDEMPOTENT WRITER IDENTITY: a commit may carry an (appId, epoch)
  *    tag; a retried streaming epoch (foreachBatch replay) detects its
  *    own prior tag in the log and becomes a no-op — exactly-once into
  *    the table without a transactional sink.
  *
  * At 100 TB: the log is tiny (one small JSON per commit — file LISTS,
  * not data — and can be checkpointed/compacted); data writes are fully
  * distributed Spark jobs; only the commit-publish step is coordinated,
  * and it costs one conditional create. Readers scale as plain parquet
  * scans of the snapshot's file list.
  */
object TxTable {

  // Opt-in phase profiler (GRAFT_PROFILE=1): accumulates wall time per
  // commit-path phase and dumps a one-line summary at JVM exit. Zero cost
  // when unset (a plain call-through). Dev tooling for attacking the
  // per-commit fixed overhead that dominates multi-commit pipelines at
  // toy SF — not part of the product surface.
  private val profiling = sys.env.contains("GRAFT_PROFILE")
  private val profNs =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
  private val profN =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
  @inline private def prof[T](label: String)(f: => T): T =
    if (!profiling) f
    else {
      val t0 = System.nanoTime()
      try f finally {
        profNs.computeIfAbsent(label, _ => new java.util.concurrent.atomic.LongAdder)
          .add(System.nanoTime() - t0)
        profN.computeIfAbsent(label, _ => new java.util.concurrent.atomic.LongAdder)
          .add(1L)
      }
    }
  // non-time metrics (plain counts) live apart from the nanosecond sums
  // so the shutdown line never renders a count as a bogus duration
  private val profCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
  @inline private def profCount(label: String, n: Long): Unit =
    if (profiling)
      profCounts.computeIfAbsent(label, _ => new java.util.concurrent.atomic.LongAdder)
        .add(n)
  if (profiling) sys.addShutdownHook {
    import scala.jdk.CollectionConverters._
    val lines = profNs.asScala.toSeq.sortBy(-_._2.sum).map { case (k, v) =>
      val n = Option(profN.get(k)).map(_.sum).getOrElse(0L)
      f"$k=${v.sum / 1e9}%.2fs/${n}x"
    } ++ profCounts.asScala.toSeq.sortBy(_._1).map { case (k, v) =>
      s"$k=${v.sum}n"
    }
    System.err.println("[txprofile] " + lines.mkString(" "))
  }

  /** What the log records about one data file (`path` relative to the
    * table root): the primary stats key's [min, max] and key bloom, the
    * secondary stats columns' ranges and blooms (positional, aligned
    * with `statsCols`), the parquet row count (-1 = unknown) and the
    * shingle blooms (aligned with `shingleCols`). None / empty = nothing
    * recorded; a bloom of "" = none (keep). The empty range (MaxValue,
    * MinValue) is a real recording: every row of the file is NULL in
    * that column. On a snapshot entry `version` is the commit that added
    * the file; a commit's own adds leave it 0. */
  final case class DataFile(
      path: String,
      range: Option[(Long, Long)] = None,
      bloom: Option[String] = None,
      ranges: Seq[(Long, Long)] = Seq.empty,
      blooms: Seq[String] = Seq.empty,
      rows: Long = -1L,
      shBlooms: Seq[String] = Seq.empty,
      version: Long = 0L)

  /** One commit record: the data files it adds, with their metadata, and
    * the table-relative paths it removes. `tag` is the idempotence
    * identity (e.g. "app=x/epoch=7"). `statsKey` (create commit only)
    * declares the integral column whose per-file [min, max] every commit
    * records for its adds — the metadata that makes file pruning and CoW
    * file selection ZERO-I/O. */
  final case class Commit(
      version: Long,
      op: String,
      adds: Seq[DataFile],
      removes: Seq[String],
      tag: Option[String],
      statsKey: Option[String] = None,
      check: Option[String] = None,
      dadds: Seq[String] = Seq.empty,
      statsCols: Seq[String] = Seq.empty,
      evos: Seq[String] = Seq.empty,
      ts: Long = 0L,
      strCols: Seq[String] = Seq.empty,
      shCols: Seq[String] = Seq.empty,
      shN: Int = 0,
      drows: Seq[Long] = Seq.empty,
      dsigs: Seq[String] = Seq.empty)

  /** A live MERGE-ON-READ delete ledger: a tiny parquet file of doomed
    * keys (its single column names the key column) that reads subtract
    * from every data file added STRICTLY BEFORE `version` — the
    * deletion-vector idea expressed through the log's total order, so a
    * point delete commits in O(doomed keys) without rewriting any data
    * file. Files added at or after the ledger's own commit are untouched
    * (a re-inserted key stays alive, and [[mergeMor]]'s same-commit adds
    * carry the keys' NEW versions past their own ledger); compaction
    * folds live ledgers into the rewrite and retires them. */
  final case class Ledger(path: String, version: Long,
                          rows: Long = -1L, sig: String = "")

  /** Ledger key signature carried IN the commit record ("name:type;..."
    * over the ledger frame's schema, catalogString types): resolving a
    * ledger's key columns then never opens its parquet footer. "" =
    * written before signatures existed — the reader falls back to a
    * one-time footer read (cached). ';' separates columns because a
    * catalogString can itself contain ',' (decimal(10,2)); names are
    * identifier-shaped, so neither separator collides. */
  private def encodeSig(schema: org.apache.spark.sql.types.StructType): String =
    schema.map(f => f.name + ":" + f.dataType.catalogString).mkString(";")

  private def decodeSig(sig: String): (Seq[String], Seq[String], Boolean) = {
    val cols = sig.split(';').toSeq.map { c =>
      val i = c.indexOf(':'); (c.take(i), c.drop(i + 1))
    }
    val names = cols.map(_._1); val types = cols.map(_._2)
    (names, types, names.length == 1 && types.head == "bigint")
  }

  /** ALIASED ledger: a mergeMor commit's delete ledger is BY
    * CONSTRUCTION the key projection of its own data adds, so the log
    * records one `@<add>;<add>…` entry instead of staging a separate
    * ledger parquet — halving the per-epoch commit's write jobs (the
    * dominant fixed cost of a streaming MoR drain). Readers resolve the
    * marker to the backing data files and project the signature's key
    * columns off them (column-pruned, page-cache-hot — the same files
    * the probe side reads). The `@` prefix also keeps a later
    * data-file remove (binPack folding a small epoch file) from
    * aliasing into a ledger retirement: the ledger entry survives by
    * its own distinct path string, and the backing file stays on disk
    * and log-referenced until no retained snapshot needs it. */
  private def isAliased(p: String): Boolean = p.startsWith("@")
  private def ledgerFiles(p: String): Seq[String] =
    if (isAliased(p)) p.substring(1).split(';').toSeq else Seq(p)

  /** A resolved table state. `commits` holds only the SUFFIX folded on
    * top of the base checkpoint (the whole history when no checkpoint
    * exists); everything else is fully folded — it includes what the
    * checkpoint consolidated. `live` holds the log's record of each of
    * `files`. */
  final case class Snapshot(
      version: Long,
      files: Seq[String],
      commits: Seq[Commit],
      statsKey: Option[String],
      tags: Set[String],
      live: Map[String, DataFile] = Map.empty,
      check: Option[String] = None,
      ledgers: Seq[Ledger] = Seq.empty,
      statsCols: Seq[String] = Seq.empty,
      evos: Seq[(Long, String)] = Seq.empty,
      strCols: Seq[String] = Seq.empty,
      shingleCols: Seq[String] = Seq.empty,
      shingleN: Int = 0) {

    /** The version that added `f` (MaxValue: not live). */
    def addedAt(f: String): Long = live.get(f).fold(Long.MaxValue)(_.version)

    /** A schema evolution postdates some live file: reads reconcile
      * eras per file, so the file set cannot be taken by reference
      * (clone, adopt) nor scanned as one plain parquet relation. */
    private[graft] def pendingEvo: Boolean = evos.exists { case (v, _) =>
      files.exists(addedAt(_) < v)
    }

    /** Logged [min,max] of stats column `col` in file `f` — long-
      * normalized, prefix64 codes for a STRING column (None = nothing
      * recorded: never prune). */
    def statsOf(f: String, col: String): Option[(Long, Long)] =
      live.get(f).flatMap(d =>
        if (statsKey.contains(col)) d.range else d.ranges.lift(statsCols.indexOf(col)))

    /** Logged key bloom (hex) of `col` in file `f`; "" = none recorded. */
    def bloomOf(f: String, col: String): String =
      live.get(f).flatMap(d =>
        if (statsKey.contains(col)) d.bloom else d.blooms.lift(statsCols.indexOf(col)))
        .getOrElse("")

    /** The live files `cond` might match, decided from the log alone by
      * [[GraftSkipping.provesEmpty]]: a file is dropped only when its
      * logged ranges (and, with `useBlooms`, its key blooms — no false
      * negatives) prove no row matches. Each consulted bloom is decoded
      * once per (file, column), not per probe key. */
    def kept(cond: Expression, useBlooms: Boolean = true): Seq[String] =
      files.filter { f =>
        val words = scala.collection.mutable.HashMap.empty[String, Array[Long]]
        def admits(col: String, key: Long): Boolean = !useBlooms || {
          val w = words.getOrElseUpdate(col, bloomOf(f, col) match {
            case "" => null
            case hex => KeyBloom.fromHex(hex)
          })
          w == null || KeyBloom.mightContainWords(w, key)
        }
        !GraftSkipping.provesEmpty(cond, statsOf(f, _), admits)
      }
  }

  private val emptySnapshot =
    Snapshot(-1L, Seq.empty, Seq.empty, None, Set.empty)

  /** Result of a transactional write. */
  final case class CommitResult(version: Long, attempts: Int, skipped: Boolean)

  private def logDir(root: String): Path = Paths.get(root, "_log")
  private def dataDir(root: String): Path = Paths.get(root, "data")

  private def commitPath(root: String, v: Long): Path =
    logDir(root).resolve(f"$v%020d.json")

  // ------------------------------------------------------------- log I/O
  /** The JSON mapper of every log (tree model only), shared with
    * [[SnapshotGroup]]. */
  private[operators] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Publish `body` at `slot` only if the slot is free: write it to a
    * uniquely-named tmp file beside the slot, then hard-link that into
    * place — a hard link is an ATOMIC create-if-absent on POSIX (unlike
    * rename, which silently overwrites). False = another writer holds
    * the slot. */
  private[operators] def publishOnce(slot: Path, body: String): Boolean = {
    val tmp = slot.resolveSibling(s".tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, body)
    try { Files.createLink(slot, tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  private type Obj = com.fasterxml.jackson.databind.node.ObjectNode
  private def putStrs(o: Obj, k: String, xs: Seq[String]): Unit = {
    val a = o.putArray(k); xs.foreach(x => a.add(x))
  }
  private def putLongs(o: Obj, k: String, xs: Seq[Long]): Unit = {
    val a = o.putArray(k); xs.foreach(x => a.add(x))
  }
  private def putRanges(o: Obj, lo: String, hi: String, rs: Seq[(Long, Long)]): Unit = {
    putLongs(o, lo, rs.map(_._1)); putLongs(o, hi, rs.map(_._2))
  }

  /** Typed reads of one log object; an absent key reads as empty. */
  private final class Fields(json: String) {
    private val n = mapper.readTree(json)
    def str(k: String): Option[String] = Option(n.get(k)).map(_.asText)
    def long(k: String): Option[Long] = Option(n.get(k)).map(_.asLong)
    private def arr[T](k: String)(f: com.fasterxml.jackson.databind.JsonNode => T): Seq[T] =
      Option(n.get(k)).fold(Seq.empty[T])(a => (0 until a.size).map(i => f(a.get(i))))
    def strs(k: String): Seq[String] = arr(k)(_.asText)
    def longs(k: String): Seq[Long] = arr(k)(_.asLong)
    def ranges(lo: String, hi: String): Seq[(Long, Long)] = longs(lo).zip(longs(hi))
  }

  /** THE LOG FORMAT: one JSON object per file, keys in the order below,
    * a key left out when it has nothing to record. `<v>.json` is commit
    * v; every per-add array aligns by index with `adds`:
    *
    *  - `version`, `op`, `adds`, `removes` (table-relative paths)
    *  - `tag`: the idempotence identity
    *  - `statskey`, `check`: the declared primary stats key and CHECK
    *    predicate (create and clone commits)
    *  - `amin`, `amax`: each add's primary [min, max]; written only when
    *    every add has one, read positionally
    *  - `abloom`: each add's primary key bloom (hex; "" = none)
    *  - `dadds`: delete ledgers added (`@a;b` = aliased onto data files),
    *    with `drows` (row counts, -1 unknown) and `dsigs` (key
    *    signatures) aligned with it
    *  - `statscols`, `strcols` (the STRING ones), `shcols` + `shn`: the
    *    secondary stats and shingle declarations (create and clone)
    *  - `ash_<j>`: each add's shingle bloom of `shcols(j)`
    *  - `amin_<j>`, `amax_<j>`, `abloom_<j>`: each add's range and bloom
    *    of `statscols(j)`
    *  - `evops`: schema-evolution ops (`rename:from:to`, `widen:col:type`)
    *    that apply to every file the commit postdates
    *  - `arows`: each add's row count (-1 unknown)
    *  - `ts`: the commit's wall clock, epoch millis (absent: 0)
    *
    * The `_<j>` keys are probed j = 0, 1, ... until one is missing; a
    * `_<j>` family, like `arows`, applies only when all its arrays align
    * with `adds`.
    *
    * `<v>.ckpt.json` is the state folded at v; per-file arrays align with
    * `files`, and "" / -1 mark a file without a bloom / row count:
    *
    *  - `version`, `files`, `tags` (sorted), `statskey`, `check`
    *  - `fmin`, `fmax`: only while EVERY file has a primary range
    *  - `fbloom`: when any file has a primary bloom
    *  - `fver`: the version that added each file (always written)
    *  - `dfiles`, `dvers`, `drows`, `dsigs`: the live delete ledgers
    *  - `statscols`, `strcols`, `shcols` + `shn`
    *  - `fsh_<j>`: for every shingle column, when any file has blooms
    *  - `fmin_<j>`, `fmax_<j>`: only while every file has every
    *    secondary range (partial coverage drops to full reads)
    *  - `fbloom_<j>`: for every stats column, when any file has blooms
    *  - `evv`, `evo`: schema evolutions with their commit versions
    *  - `frows`: when any file has a row count
    *
    * The golden log-format case in `TxTableSpec` pins these bytes. */
  private[graft] def render(c: Commit): String = {
    val o = mapper.createObjectNode().put("version", c.version).put("op", c.op)
    val a = c.adds
    putStrs(o, "adds", a.map(_.path)); putStrs(o, "removes", c.removes)
    c.tag.foreach(t => o.put("tag", t))
    c.statsKey.foreach(k => o.put("statskey", k))
    c.check.foreach(k => o.put("check", k))
    if (a.nonEmpty && a.forall(_.range.isDefined))
      putRanges(o, "amin", "amax", a.flatMap(_.range))
    if (a.exists(_.bloom.isDefined))
      putStrs(o, "abloom", a.map(_.bloom.getOrElse("")))
    if (c.dadds.nonEmpty) {
      putStrs(o, "dadds", c.dadds)
      if (c.drows.nonEmpty) putLongs(o, "drows", c.drows)
      if (c.dsigs.nonEmpty) putStrs(o, "dsigs", c.dsigs)
    }
    if (c.statsCols.nonEmpty) putStrs(o, "statscols", c.statsCols)
    if (c.strCols.nonEmpty) putStrs(o, "strcols", c.strCols)
    if (c.shCols.nonEmpty) { putStrs(o, "shcols", c.shCols); o.put("shn", c.shN) }
    // the per-column families every add has
    def cols(n: DataFile => Int): Range = 0 until a.map(n).minOption.getOrElse(0)
    cols(_.shBlooms.size).foreach(j => putStrs(o, s"ash_$j", a.map(_.shBlooms(j))))
    cols(_.ranges.size).foreach(j =>
      putRanges(o, s"amin_$j", s"amax_$j", a.map(_.ranges(j))))
    cols(_.blooms.size).foreach(j => putStrs(o, s"abloom_$j", a.map(_.blooms(j))))
    if (c.evos.nonEmpty) putStrs(o, "evops", c.evos)
    if (a.nonEmpty) putLongs(o, "arows", a.map(_.rows))
    if (c.ts > 0) o.put("ts", c.ts)
    mapper.writeValueAsString(o)
  }

  /** Decode a commit written by [[render]]. */
  private[graft] def parse(json: String): Commit = {
    val r = new Fields(json)
    val paths = r.strs("adds")
    def probe[T](col: Int => Seq[T]): Int => Seq[T] = {
      val cs = Iterator.from(0).map(col).takeWhile(_.nonEmpty).toSeq
      if (cs.forall(_.size == paths.size)) i => cs.map(_(i)) else _ => Seq.empty
    }
    val ranges = r.ranges("amin", "amax"); val blooms = r.strs("abloom")
    val rangesN = probe(j => r.ranges(s"amin_$j", s"amax_$j"))
    val bloomsN = probe(j => r.strs(s"abloom_$j"))
    val shBlooms = probe(j => r.strs(s"ash_$j"))
    val rows = Some(r.longs("arows")).filter(_.size == paths.size)
    Commit(
      r.long("version").getOrElse(throw new IllegalStateException(s"corrupt commit: $json")),
      r.str("op").getOrElse("?"),
      paths.indices.map(i => DataFile(paths(i), ranges.lift(i), blooms.lift(i),
        rangesN(i), bloomsN(i), rows.fold(-1L)(_(i)), shBlooms(i))),
      r.strs("removes"), r.str("tag"), r.str("statskey"), r.str("check"),
      r.strs("dadds"), r.strs("statscols"), r.strs("evops"),
      r.long("ts").getOrElse(0L), r.strs("strcols"), r.strs("shcols"),
      r.long("shn").fold(0)(_.toInt), r.longs("drows"), r.strs("dsigs"))
  }

  /** Every `checkpointInterval` commits the winner consolidates the live
    * state into `<v>.ckpt.json`, so resolving a snapshot costs O(suffix)
    * commit reads, not O(history) — the fix for a per-epoch streaming
    * sink whose log otherwise grows without bound. Checkpoints are an
    * optimization, never truncation: all commits stay, so time travel
    * to any version keeps working. */
  private val checkpointInterval = 10L

  private def ckptPath(root: String, v: Long): Path =
    logDir(root).resolve(f"$v%020d.ckpt.json")

  /** Encode `s` as a checkpoint (format: [[render]]). */
  private[graft] def renderCkpt(s: Snapshot): String = {
    val o = mapper.createObjectNode().put("version", s.version)
    val fs = s.files.map(s.live)
    putStrs(o, "files", s.files); putStrs(o, "tags", s.tags.toSeq.sorted)
    s.statsKey.foreach(k => o.put("statskey", k))
    s.check.foreach(k => o.put("check", k))
    if (fs.nonEmpty && fs.forall(_.range.isDefined))
      putRanges(o, "fmin", "fmax", fs.flatMap(_.range))
    if (fs.exists(_.bloom.isDefined)) putStrs(o, "fbloom", fs.map(_.bloom.getOrElse("")))
    putLongs(o, "fver", fs.map(_.version))
    if (s.ledgers.nonEmpty) {
      putStrs(o, "dfiles", s.ledgers.map(_.path))
      putLongs(o, "dvers", s.ledgers.map(_.version))
      putLongs(o, "drows", s.ledgers.map(_.rows))
      putStrs(o, "dsigs", s.ledgers.map(_.sig))
    }
    if (s.statsCols.nonEmpty) putStrs(o, "statscols", s.statsCols)
    if (s.strCols.nonEmpty) putStrs(o, "strcols", s.strCols)
    if (s.shingleCols.nonEmpty) {
      putStrs(o, "shcols", s.shingleCols); o.put("shn", s.shingleN)
    }
    if (fs.exists(_.shBlooms.nonEmpty)) s.shingleCols.indices.foreach(j =>
      putStrs(o, s"fsh_$j", fs.map(_.shBlooms.lift(j).getOrElse(""))))
    if (fs.nonEmpty && s.statsCols.nonEmpty &&
        fs.forall(_.ranges.length == s.statsCols.length))
      s.statsCols.indices.foreach(j =>
        putRanges(o, s"fmin_$j", s"fmax_$j", fs.map(_.ranges(j))))
    if (fs.exists(_.blooms.nonEmpty)) s.statsCols.indices.foreach(j =>
      putStrs(o, s"fbloom_$j", fs.map(_.blooms.lift(j).getOrElse(""))))
    if (s.evos.nonEmpty) {
      putLongs(o, "evv", s.evos.map(_._1)); putStrs(o, "evo", s.evos.map(_._2))
    }
    if (fs.exists(_.rows >= 0)) putLongs(o, "frows", fs.map(_.rows))
    mapper.writeValueAsString(o)
  }

  /** Decode a checkpoint written by [[renderCkpt]] (no commits). */
  private[graft] def parseCkpt(json: String): Snapshot = {
    val r = new Fields(json)
    val files = r.strs("files")
    val statsCols = r.strs("statscols"); val shCols = r.strs("shcols")
    val ranges = r.ranges("fmin", "fmax"); val blooms = r.strs("fbloom")
    val vers = r.longs("fver"); val rows = r.longs("frows")
    val rangesN = statsCols.indices.map(j => r.ranges(s"fmin_$j", s"fmax_$j"))
    val bloomsN = statsCols.indices.map(j => r.strs(s"fbloom_$j"))
    val shBlooms = shCols.indices.map(j => r.strs(s"fsh_$j"))
    val dvs = r.longs("dvers"); val drs = r.longs("drows"); val dss = r.strs("dsigs")
    Snapshot(r.long("version").getOrElse(-1L), files, Seq.empty, r.str("statskey"),
      r.strs("tags").toSet,
      files.indices.map(i => files(i) -> DataFile(files(i), ranges.lift(i),
        blooms.lift(i).filter(_.nonEmpty), rangesN.flatMap(_.lift(i)),
        bloomsN.flatMap(_.lift(i)), rows.lift(i).getOrElse(-1L),
        shBlooms.flatMap(_.lift(i)), vers.lift(i).getOrElse(0L))).toMap,
      r.str("check"),
      r.strs("dfiles").zipWithIndex.map { case (p, i) =>
        Ledger(p, dvs(i), drs.lift(i).getOrElse(-1L), dss.lift(i).getOrElse(""))
      },
      statsCols, r.longs("evv").zip(r.strs("evo")), r.strs("strcols"), shCols,
      r.long("shn").fold(0)(_.toInt))
  }

  /** Best-effort checkpoint after a winning commit; losing the ckpt race
    * (or failing to write one) affects nothing but resolve cost. */
  private def maybeCheckpoint(root: String, version: Long): Unit = prof("checkpoint") {
    if (version > 0 && version % checkpointInterval == 0)
      try {
        val s = snapshot(root, version)
        if (s.version == version && !Files.exists(ckptPath(root, version)))
          publishOnce(ckptPath(root, version), renderCkpt(s))
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[txtable] checkpoint v$version failed: ${e.getMessage}")
      }
  }

  /** Resolve the current snapshot: fold from the newest usable
    * checkpoint, then the highest CONTIGUOUS run of commits above it.
    * A gap means an in-flight or failed publish — versions after a gap
    * are not yet visible (they will be once the gap commits). */
  def snapshot(root: String, versionAsOf: Long = Long.MaxValue): Snapshot = prof("snapshot") {
    val dir = logDir(root)
    if (!Files.isDirectory(dir)) return emptySnapshot
    import scala.jdk.CollectionConverters._
    val names = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).toSeq
    val present = names
      .filter(n => n.endsWith(".json") && !n.endsWith(".ckpt.json"))
      .map(_.stripSuffix(".json").toLong)
      .toSet
    val allCkpts = names.filter(_.endsWith(".ckpt.json"))
      .map(_.stripSuffix(".ckpt.json").toLong)
    val ckpts = allCkpts.filter(_ <= versionAsOf)
    val base = if (ckpts.isEmpty) -1L else ckpts.max
    var v = base + 1
    while (present.contains(v) && v <= versionAsOf) v += 1
    val upTo = math.max(v - 1, base)
    if (upTo < 0) {
      // the log has history but none usable at this version: commit 0 was
      // archived and no checkpoint at or below versionAsOf covers it —
      // a silent empty here would masquerade as "no table"
      if (present.nonEmpty || allCkpts.nonEmpty)
        throw new IllegalStateException(
          s"version $versionAsOf of $root is unresolvable: history below " +
            "the oldest checkpoint was archived")
      return emptySnapshot
    }
    val start =
      if (base >= 0) parseCkpt(Files.readString(ckptPath(root, base)))
      else emptySnapshot
    val suffix = ((base + 1) to upTo).map { i =>
      try parse(Files.readString(commitPath(root, i)))
      catch {
        case e: java.nio.file.NoSuchFileException =>
          throw new IllegalStateException(
            s"commit $i missing below the resolved range of $root — " +
              "history truncated without a covering checkpoint", e)
      }
    }
    // ONE ordered map of live files: adds insert (a re-add keeps its
    // place), removes delete
    val live = scala.collection.mutable.LinkedHashMap.from(
      start.files.map(f => f -> start.live(f)))
    val ledgers = scala.collection.mutable.ArrayBuffer.from(start.ledgers)
    val evos = scala.collection.mutable.ArrayBuffer.from(start.evos)
    val tags = scala.collection.mutable.Set.from(start.tags)
    var decl = start
    suffix.foreach { c =>
      c.adds.foreach(a => live(a.path) = a.copy(version = c.version))
      c.removes.foreach(live.remove)
      c.dadds.zipWithIndex.foreach { case (p, i) =>
        ledgers += Ledger(p, c.version, c.drows.lift(i).getOrElse(-1L),
          c.dsigs.lift(i).getOrElse(""))
      }
      c.evos.foreach(e => evos += ((c.version, e)))
      if (c.removes.nonEmpty) {
        val gone = c.removes.toSet
        ledgers.filterInPlace(l => !gone.contains(l.path))
      }
      tags ++= c.tag
      if (c.version == 0L)
        decl = decl.copy(statsKey = c.statsKey, check = c.check,
          statsCols = c.statsCols, strCols = c.strCols,
          shingleCols = c.shCols, shingleN = c.shN)
    }
    decl.copy(version = upTo, files = live.keys.toVector, commits = suffix,
      tags = tags.toSet, live = live.toMap, ledgers = ledgers.toSeq,
      evos = evos.toSeq)
  }

  /** Snapshot-isolated read (optionally at a historical version).
    * `mergeSchema` reconciles files written before/after a schema
    * evolution: a column added by a later merge surfaces as NULL on rows
    * from files that predate it. */
  def read(spark: SparkSession, root: String,
           versionAsOf: Long = Long.MaxValue): DataFrame = {
    val snap = snapshot(root, versionAsOf)
    require(snap.version >= 0, s"not a TxTable (no committed log): $root")
    if (snap.files.isEmpty)
      throw new IllegalStateException(s"empty table snapshot v${snap.version}")
    morRead(spark, root, snap, snap.files)
  }

  /** With a known schema the read skips schema inference entirely;
    * without one, mergeSchema=true launches a distributed footer-read
    * job PER CALL — measured ~100 ms each, and a merge-on-read chain
    * groups files into O(chain) read calls, so an uncached multi-group
    * read pays O(chain) driver jobs before the first row moves.
    * Parquet resolves columns by NAME, so files whose physical column
    * order differs (older commits) read correctly under the explicit
    * schema. */
  private def readFiles(spark: SparkSession, root: String, files: Seq[String],
                        schema: Option[org.apache.spark.sql.types.StructType]
                          = None): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s)
        .parquet(files.map(f => s"$root/$f"): _*)
      case None => spark.read.option("mergeSchema", "true")
        .parquet(files.map(f => s"$root/$f"): _*)
    }

  /** Apply one logged evolution op to a frame of an era it postdates. */
  private def applyEvo(df: DataFrame, op: String): DataFrame =
    op.split(':') match {
      case Array("rename", from, to) =>
        // no-op when `from` is absent (the era already carries `to`)
        df.withColumnRenamed(from, to)
      case Array("widen", column, tpe) =>
        if (df.columns.contains(column))
          df.withColumn(column, df.col(column).cast(tpe))
        else df
      case other =>
        throw new IllegalStateException(
          s"unknown schema-evolution op in log: ${other.mkString(":")}")
    }

  /** Read `files` RECONCILED under the snapshot's schema evolutions: an
    * op applies to every file it postdates (op version > file add
    * version), so files group into eras by the SUFFIX of ops pending for
    * them — each era reads with its own (internally merge-compatible)
    * schema, applies its pending renames/widens in commit order, and the
    * eras union by name. Old rows surface under the CURRENT column names
    * and types; a parquet-level merge of int-vs-long or old-vs-new names
    * (which `mergeSchema` would refuse or split) never happens because
    * no single read spans an evolution boundary. `perScan` applies to
    * each era's frame before the union, where file metadata columns
    * (`_metadata.file_path`) still resolve. */
  private def readFilesEvolved(spark: SparkSession, root: String,
                               snap: Snapshot, files: Seq[String],
                               useCachedSchema: Boolean = true,
                               perScan: DataFrame => DataFrame = identity)
      : DataFrame = {
    val evos = snap.evos.sortBy(_._1)
    if (evos.isEmpty || files.isEmpty) perScan(
      // the no-evolution path (every live file shares the table's
      // current schema by construction — appends/upserts are
      // schema-validated and rewrites preserve schema) reads under the
      // CACHED schema: no per-call inference job. useCachedSchema=false
      // is the schema-derivation path itself (emptyRead), which must
      // not recurse into the cache it populates.
      readFiles(spark, root, files,
        if (evos.isEmpty && files.nonEmpty && useCachedSchema)
          Some(currentSchema(spark, root, snap))
        else None))
    else {
      files.groupBy { f =>
        val av = snap.addedAt(f)
        evos.count(_._1 > av) // pending ops form a suffix of the order
      }.toSeq.sortBy(_._1)
        .map { case (pending, fs) =>
          perScan(evos.takeRight(pending).foldLeft(readFiles(spark, root, fs)) {
            (df, ev) => applyEvo(df, ev._2)
          })
        }
        .reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Ledger column signatures (names, catalogString types, is-single-
    * long), cached per root: a ledger file is immutable, so its
    * signature never changes; the map is REPLACED with exactly the live
    * ledger set on every lookup, so retired ledgers don't accumulate.
    * Signatures normally come FREE from the commit record (`dsigs`);
    * the footer-read fallback only fires for ledgers written before the
    * field existed. Types are part of the signature so two ledgers
    * sharing column names but differing in key type (string vs
    * timestamp from different deleteMorKeys calls) never share one
    * multi-file scan's inferred schema — they land in separate
    * families, resolved apart. */
  private val ledgerSigCache = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, (Seq[String], Seq[String], Boolean)]]()

  /** Non-NULL keys of each long-signature ledger, cached per root by
    * ledger path. A ledger is immutable, so its keys load once; the map
    * is REPLACED with the snapshot's live ledgers on every lookup, so it
    * holds no retired ledger. */
  private val ledgerKeyCache = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, Array[Long]]]()

  /** The long keys of `ls` (ledger, key column), from [[ledgerKeyCache]].
    * Every ledger not cached yet loads in ONE job: a plain ledger from
    * its file (schema from the signature, so no inference job), an
    * aliased one from the key column of its backing data files. NULL
    * keys are dropped: `===` never matches them. */
  private def ledgerLongKeys(spark: SparkSession, root: String,
                             snap: Snapshot, ls: Seq[(Ledger, String)])
      : Map[String, Array[Long]] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val cached = Option(ledgerKeyCache.get(root))
      .getOrElse(Map.empty[String, Array[Long]])
    val missing = ls.filterNot(t => cached.contains(t._1.path))
    val loaded =
      if (missing.isEmpty) Map.empty[String, Array[Long]]
      else {
        val byLedger = missing.zipWithIndex.map { case ((l, kc), j) =>
          (if (isAliased(l.path))
             readFilesEvolved(spark, root, snap, ledgerFiles(l.path))
           else spark.read.schema(StructType(Seq(StructField(kc, LongType))))
             .parquet(s"$root/${l.path}"))
            .select(col(kc).cast("long").as("k"), lit(j).as("j"))
        }.reduce(_.union(_)).where(col("k").isNotNull)
          .collect().groupBy(_.getInt(1))
        missing.zipWithIndex.map { case ((l, _), j) =>
          l.path -> byLedger.get(j)
            .fold(Array.emptyLongArray)(_.map(_.getLong(0)))
        }.toMap
      }
    val live = snap.ledgers.map(_.path).toSet
    ledgerKeyCache.compute(root, (_, old) =>
      Option(old).getOrElse(Map.empty[String, Array[Long]])
        .filter(e => live(e._1)) ++ loaded)
    cached ++ loaded
  }

  /** Key → highest index of the ledgers holding it (-1: none), on
    * primitive arrays (open addressing, linear probing), which serialize
    * flat into a broadcast where a `LongMap` boxes every entry through
    * its serialization proxy. Ledgers fold in ascending index, so a
    * later ledger overwrites an earlier one. */
  private final class DoomIndex(ledgers: Seq[(Array[Long], Int)])
      extends Serializable {
    private val mask = {
      val n = ledgers.iterator.map(_._1.length).sum
      var c = 4
      while (c < 2 * n) c <<= 1
      c - 1
    }
    private val keys = new Array[Long](mask + 1)
    private val idx = Array.fill(mask + 1)(-1)
    private def slot(k: Long): Int = {
      var s = java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L) & mask
      while (idx(s) >= 0 && keys(s) != k) s = (s + 1) & mask
      s
    }
    ledgers.sortBy(_._2).foreach { case (ks, i) =>
      ks.foreach { k => val s = slot(k); keys(s) = k; idx(s) = i }
    }
    def apply(k: Long): Int = idx(slot(k))
  }

  /** MERGE-ON-READ resolution: the content of `files` under `snap`'s
    * live delete ledgers. A ledger applies to a data file iff the file
    * was added before the ledger's version — so files land in groups by
    * the SUFFIX of ledgers that applies to them (ledgers are totally
    * ordered by the log). With no live ledgers this IS readFiles.
    *
    * The suffix sets are NESTED (group g is scoped by exactly the
    * ledgers indexed ≥ g): a row from group g is doomed iff its key
    * appears in some ledger with index ≥ g, i.e. iff max ledger-index
    * over its key ≥ g. A key deleted at ledger i and re-inserted by a
    * later epoch lands in a group > i, so the test spares the re-insert
    * while dooming the older copies. Each group is one scan branch; the
    * branches union into one stage.
    *
    * LONG-key ledgers — the point-delete and keyed-upsert path — resolve
    * INSIDE that stage while their logged volume is within
    * `spark.graft.mor.broadcastMaxBytes`: their keys load onto the
    * driver once per ledger ([[ledgerLongKeys]]), fold into a primitive
    * key → max-index map shipped by `sc.broadcast` (no job), and each
    * branch keeps a row iff its key is NULL (never doomed under `===`)
    * or maps below g. The filter is deterministic, so a caller's
    * residual `where` still reaches parquet as a pushed filter. A read
    * is then ONE Spark job whatever the ledger count, plus one key-load
    * job on the first read after new ledgers.
    *
    * Everything else subtracts by a left anti-join against the union of
    * its ledgers tagged with their index, on key equality plus
    * `index >= group`: long ledgers over the bound or with unknown row
    * counts (a billion-key accumulation must not land on the driver;
    * shuffled) and natural-typed or composite keys (null-safe equality;
    * broadcast under the bound). */
  private def morRead(spark: SparkSession, root: String, snap: Snapshot,
                      files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, udf}
    // a ledger applying to NONE of the asked files can't doom anything —
    // skip it (pruned reads only resolve the ledgers that scope their
    // kept files; zombie ledgers awaiting retirement cost nothing)
    val sorted = snap.ledgers.sortBy(_.version).filter(l =>
      files.exists(f =>
        snap.addedAt(f) < l.version))
    if (sorted.isEmpty || files.isEmpty) readFilesEvolved(spark, root, snap, files)
    else {
      // every staged batch lands in a fresh uuid dir, so the 2-segment
      // name suffix ("<uuid>/part-...parquet") identifies a file
      // uniquely — the handle that lets ONE scan carry per-file tags
      def suffix2(p: String): String =
        p.substring(p.lastIndexOf('/', p.lastIndexOf('/') - 1) + 1)
      // group = index of the first ledger applying to the file (all
      // later ledgers apply too); sorted.length = none apply
      def firstApplicable(f: String): Int = {
        val av = snap.addedAt(f)
        val i = sorted.indexWhere(_.version > av)
        if (i < 0) sorted.length else i
      }
      // the ledger's columns NAME the key columns: one LONG column =
      // the long-normalized point-delete path; anything else (several
      // columns, or one natural-typed column — a string/double/
      // timestamp key is stored unconverted) = natural types, null-safe
      // equality. A table writes ledgers with one signature in
      // practice; if signatures ever mix, each family resolves apart.
      val sigOf = ledgerSigCache.compute(root, (_, old) => {
        val prev =
          if (old == null) Map.empty[String, (Seq[String], Seq[String], Boolean)]
          else old
        sorted.map { l =>
          l.path -> prev.getOrElse(l.path,
            if (l.sig.nonEmpty) decodeSig(l.sig)
            else if (isAliased(l.path))
              // aliased entries are written WITH a signature; a bare
              // one means a corrupt log — the data file's full schema
              // would silently widen the join key set
              throw new IllegalStateException(
                s"aliased ledger ${l.path} carries no key signature")
            else {
              // pre-dsigs ledger: one footer read, then cached
              val ks = spark.read.parquet(s"$root/${l.path}")
              (ks.columns.toSeq,
                ks.schema.map(_.dataType.catalogString).toSeq,
                ks.columns.length == 1 &&
                  ks.schema.head.dataType ==
                    org.apache.spark.sql.types.LongType)
            })
        }.toMap
      })
      // the driver-memory bound on a delete set: the ledger row counts
      // ride the commit log (drows), so a family's volume is known
      // without touching data — rows × a conservative in-memory row
      // cost (unknown counts, -1, price as unbounded). Within it a long
      // family resolves in the scan and a natural one broadcasts its
      // anti-join build side; above it — a long streaming-upsert
      // accumulation between folds can reach billions of keys on a
      // 100 TB table — the join is a shuffled left_anti instead of
      // OOMing the driver or tripping the 8 GB broadcast hard cap.
      val maxBcastBytes = spark.conf.getOption(
        "spark.graft.mor.broadcastMaxBytes").map(_.toLong)
        .getOrElse(100L * 1024 * 1024)
      def withinBound(kcs: Seq[String], ls: Seq[(Ledger, Int)]): Boolean =
        ls.iterator.map { case (l, _) =>
          if (l.rows >= 0) l.rows * (24L + 24L * kcs.length)
          else Long.MaxValue / 1024 // unknown: never held blindly
        }.foldLeft(0L)((a, b) => if (a + b < a) Long.MaxValue else a + b) <=
          maxBcastBytes
      val (inScan, joined) = sorted.zipWithIndex
        .groupBy(t => (sigOf(t._1.path), isAliased(t._1.path))).toSeq
        .sortBy { case (((ns, ts, _), al), _) =>
          ((ns ++ ts).mkString(","), al) }
        .partition { case (((kcs, _, isLong), _), ls) =>
          isLong && withinBound(kcs, ls) }
      val scoped = inScan.flatMap { case (((kcs, _, _), _), ls) =>
        ls.map { case (l, i) => (l, i, kcs.head) } }
      val keysOf = ledgerLongKeys(spark, root, snap, scoped.map(t => (t._1, t._3)))
      // one key → max-index map per key column (aliased and plain
      // ledgers on the same key share it)
      val dooms = scoped.groupBy(_._3).toSeq.sortBy(_._1).map { case (kc, ls) =>
        kc -> spark.sparkContext.broadcast(
          new DoomIndex(ls.map { case (l, i, _) => (keysOf(l.path), i) }))
      }
      // a scan whose rows carry their group: a row survives the in-scan
      // families iff its key is NULL or maps below the group
      def resolve(group: Column)(df: DataFrame): DataFrame = {
        val kept = dooms.foldLeft(df) { case (d, (kc, idx)) =>
          d.where(udf((g: Int, k: java.lang.Long) =>
            k == null || idx.value(k) < g).apply(group, col(kc).cast("long")))
        }
        if (joined.isEmpty) kept else kept.withColumn("__graft_g", group)
      }
      // a scan row's tag, looked up by its file. `_metadata.file_path`
      // is deterministic (input_file_name() is not), so a residual
      // filter still reaches parquet
      def byFile(tags: Seq[(String, Int)]): Column = {
        val m = spark.sparkContext.broadcast(
          tags.map(t => suffix2(t._1) -> t._2).toMap)
        udf((p: String) => m.value(suffix2(p)))
          .apply(col("_metadata.file_path"))
      }
      // probe side: few groups read as one scan branch per group with a
      // LITERAL group; many as ONE scan of every file, tagged by file.
      // Either form keeps a compaction's output layout: coalesce packs
      // the input partitions in scan order.
      val grouped = files.groupBy(firstApplicable).toSeq.sortBy(_._1)
      val tagged =
        if (grouped.size <= 3)
          grouped.map { case (g, fs) =>
            resolve(lit(g))(readFilesEvolved(spark, root, snap, fs))
          }.reduce(_.unionByName(_, allowMissingColumns = true))
        else readFilesEvolved(spark, root, snap, files, perScan =
          resolve(byFile(files.map(f => f -> firstApplicable(f)))))
      if (joined.isEmpty) tagged
      else joined.foldLeft(tagged) {
        case (df, (((kcs, _, isLong), aliased), ls)) =>
          // same answer either way; spec-pinned in both forms. The
          // shuffled form carries a merge hint so Spark's own file-size
          // estimate (which has no idea the parquet decompresses into a
          // driver-resident hash relation) can't re-broadcast it.
          def placed(b: DataFrame): DataFrame =
            if (withinBound(kcs, ls)) broadcast(b) else b.hint("shuffle_merge")
          // build side: ONE scan of the family's ledger files, each row
          // tagged with its ledger's index by file. No per-key max
          // aggregation: LEFT ANTI drops a probe row if ANY build row
          // matches (key equal ∧ idx ≥ group), which IS the max-index
          // test. Aliased entries read their backing DATA files through
          // the evolution-reconciled path (a widen can postdate them)
          // and project the signature's key columns.
          val lfs = ls.flatMap { case (l, i) => ledgerFiles(l.path).map(_ -> i) }
          val li = byFile(lfs).as("__graft_li")
          val keyed = (d: DataFrame) => d.select(kcs.map(col) :+ li: _*)
          val build =
            if (aliased) readFilesEvolved(spark, root, snap, lfs.map(_._1),
              perScan = keyed)
            else keyed(spark.read.parquet(lfs.map(t => s"$root/${t._1}"): _*))
          if (isLong) {
            val kc = kcs.head
            df.join(
              placed(build.select(
                col(kc).cast("long").as("__graft_del_k"),
                col("__graft_li"))),
              col(kc).cast("long") === col("__graft_del_k") &&
                col("__graft_li") >= col("__graft_g"),
              "left_anti")
          } else {
            val renamed = build.toDF(
              kcs.map("__graft_del_" + _) :+ "__graft_li": _*)
            df.join(placed(renamed),
              kcs.map(c => df.col(c) <=> renamed.col("__graft_del_" + c))
                .reduce(_ && _) &&
                renamed.col("__graft_li") >= df.col("__graft_g"),
              "left_anti")
          }
      }.drop("__graft_g")
    }
  }

  /** An EMPTY frame carrying the table's current schema — the shared
    * fallback for "every file pruned / nothing touched" paths. Safe on a
    * snapshot whose live file set is empty (a full-range MoR delete plus
    * compaction can legally leave zero live files): the schema is then
    * recovered from the newest log-referenced data file still on disk
    * (retention keeps removed files until vacuum), with its pending
    * evolutions applied; a table with no recoverable file at all fails
    * with a clear message instead of NoSuchElementException. */
  private def emptyRead(spark: SparkSession, root: String,
                        snap: Snapshot): DataFrame =
    if (snap.files.nonEmpty) {
      if (snap.evos.isEmpty)
        // head-file schema under-reports when a merge added a column
        // with no evo entry (two live files differ in width while evos
        // is empty) — the UNION schema is what currentSchema computes
        // and caches, so build the empty frame from it. No recursion:
        // currentSchema's evos-empty branch infers via readFiles, never
        // via emptyRead.
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          currentSchema(spark, root, snap))
      else readFilesEvolved(spark, root, snap, Seq(snap.files.head),
        useCachedSchema = false).limit(0)
    } else snap.commits.sortBy(-_.version).iterator
      .flatMap(c => c.adds.map(_.path -> c.version))
      .find { case (f, _) => Files.exists(Paths.get(root, f)) } match {
        case Some((f, v)) =>
          readFilesEvolved(spark, root,
            snap.copy(live = snap.live + (f -> DataFile(f, version = v))), Seq(f),
            useCachedSchema = false).limit(0)
        case None => throw new IllegalStateException(
          s"table at $root has zero live files and no retained data file " +
            "to recover its schema from (vacuumed empty table)")
      }

  /** The table's CURRENT (evolution-reconciled) schema, cached: it only
    * changes on evolution commits, but a streaming MoR sink validates
    * every micro-batch against it — an uncached [[emptyRead]] costs a
    * whole spark.read setup (FileIndex + schema inference) per commit,
    * ~150 ms that multiplies across a drain's batches. The entry stores
    * a version witness (evo list + head data file), so a
    * dropped-and-recreated table at the same root can never serve a
    * stale schema (fresh file uuids mismatch the witness; a mismatch
    * just recomputes once). */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String,
    List[((Seq[(Long, String)], Seq[String]),
      org.apache.spark.sql.types.StructType)]]()
  private def currentSchema(spark: SparkSession, root: String,
                            snap: Snapshot): org.apache.spark.sql.types.StructType = {
    // a few entries PER ROOT (bounded by live tables × 4, not by commit
    // history), MRU-ordered: the version witness (evo list + live file
    // set) keys each entry, so a dropped-and-recreated table can never
    // serve a stale schema, and a change feed alternating between two
    // historical snapshots doesn't thrash one slot. The witness is the
    // FULL file set because the current schema is the UNION over live
    // files: a merge may add a column with no evolution entry, so two
    // live files can differ in width while evos is empty — head-file
    // schema alone under-reports (old rows must still surface the new
    // column as NULL). Recompute cost is DELTA-bound on the hot path: a
    // streaming MoR sink's per-micro-batch validation sees an adds-only
    // file-set delta, so the new union schema folds the cached schema
    // with an inference over just the added files — O(batch), not
    // O(table) footer I/O per commit. Removals (compaction, expiry) can
    // shrink the union, so any remove forces the full inference.
    val ver = (snap.evos, snap.files)
    // Spark's name rule — otherwise a same-typed column differing only
    // in case would be silently dropped from the folded union
    val same = sameName(spark)
    def full: org.apache.spark.sql.types.StructType =
      if (snap.evos.isEmpty && snap.files.nonEmpty)
        inferSchema(spark, root, snap.files)
      else emptyRead(spark, root, snap).schema
    schemaCache.compute(root, (_, old) => {
      val entries =
        if (old == null)
          List.empty[((Seq[(Long, String)], Seq[String]),
            org.apache.spark.sql.types.StructType)]
        else old
      entries.find(_._1 == ver) match {
        case Some(hit) => hit :: entries.filterNot(_._1 == ver)
        case None =>
          val viaDelta =
            if (snap.evos.isEmpty && snap.files.nonEmpty)
              entries.collectFirst {
                case ((evos0, files0), s0)
                    if evos0 == snap.evos && files0.nonEmpty &&
                      files0.forall(snap.files.toSet) =>
                  val delta = snap.files.diff(files0)
                  if (delta.isEmpty) Some(s0)
                  else {
                    val ds = inferSchema(spark, root, delta)
                    // fold the delta into the cached union by name; a
                    // same-name type clash can't happen on the
                    // validated write paths, but if one ever surfaces
                    // (hand-placed files), fall back to full inference
                    if (ds.forall(f => s0.find(t =>
                        same(t.name, f.name))
                        .forall(_.dataType == f.dataType)))
                      Some(org.apache.spark.sql.types.StructType(
                        s0.fields ++ ds.fields.filterNot(f =>
                          s0.exists(t => same(t.name, f.name)))))
                    else None
                  }
              }.flatten
            else None
          ((ver, viaDelta.getOrElse(full)) :: entries).take(4)
      }
    }).head._2
  }

  /** `dt` with every nesting level nullable — the shape a file-source
    * read-back reports regardless of how the data was written. */
  private def asNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = asNullable(a.elementType), containsNull = true)
      case m: MapType => m.copy(keyType = asNullable(m.keyType),
        valueType = asNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }
  private def nullableSchema(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    asNullable(s).asInstanceOf[org.apache.spark.sql.types.StructType]

  /** Spark's column-name resolution rule: case-insensitive unless
    * `spark.sql.caseSensitive`. Every by-name schema match here (union
    * folds, type guards, cache seeds) uses it, so a column differing
    * only in case binds the way a read will bind it. */
  private def sameName(spark: SparkSession): (String, String) => Boolean =
    if (spark.conf.getOption("spark.sql.caseSensitive").exists(_.toBoolean))
      _ == _
    else _.equalsIgnoreCase(_)

  /** Union schema of `files`: from their footers on the driver
    * ([[footerSchema]]), falling back to Spark's distributed
    * mergeSchema inference. */
  private def inferSchema(spark: SparkSession, root: String,
                          files: Seq[String]): org.apache.spark.sql.types.StructType =
    prof("schema.infer")(
      footerSchema(spark, root, files).getOrElse(
        readFiles(spark, root, files, None).schema))

  /** Driver-side union schema of `files` from their parquet FOOTERS —
    * the same information `spark.read.option("mergeSchema", true)`'s
    * distributed inference reads, without the per-call DataSource
    * resolution + FileIndex + inference-job setup (measured ~90 ms per
    * call vs ~2 ms here; the r12 lifecycle profile charged 21 s of a
    * 74 s 11-query block to `schema.infer`). Semantics preserved
    * exactly: per-file schemas convert through Spark's own
    * ParquetToSparkSchemaConverter built from the session's SQLConf (so
    * every inference flag matches the read path), fold by name in log
    * file order (same-name fields must agree on type exactly — a clash
    * falls back to the distributed path, mirroring the delta-fold rule
    * above — and new fields append, which is also what StructType.merge
    * does for the width-differing commits the no-evolution path can
    * legally hold), and the result is made fully nullable, matching the
    * file-source read-back contract. Any surprise (unreadable footer,
    * unconvertible type) returns None → caller falls back. */
  private def footerSchema(spark: SparkSession, root: String,
      files: Seq[String]): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    if (files.isEmpty) return None
    // DRIVER-I/O CAP (r12 verdict item 9): this path reads one footer per
    // live file on the driver — ~2 ms each at current file counts, but a
    // truly wide table (100k+ files after years of appends) would turn a
    // schema question into minutes of serial driver tail-reads. Past the
    // cap, fall back to the DISTRIBUTED mergeSchema inference, whose cost
    // spreads over the cluster. The delta-bound cache above keeps the hot
    // commit path O(batch) either way; this bound only gates the cold
    // full-inference case.
    val cap = spark.conf.getOption("spark.graft.schema.footerMaxFiles")
      .map(_.toInt).getOrElse(4096)
    if (files.lengthCompare(cap) > 0) return None
    try {
      val conv = new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(
          org.apache.spark.sql.graft.Bridge.sqlConf(spark))
      val hconf = new org.apache.hadoop.conf.Configuration()
      def one(f: String): StructType = {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$root/$f"), hconf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val msg = try r.getFileMetaData.getSchema finally r.close()
        conv.convert(msg)
      }
      val schemas: Seq[StructType] =
        if (files.lengthCompare(1) <= 0) files.map(one)
        else {
          import scala.collection.parallel.CollectionConverters._
          files.par.map(one).seq
        }
      val same = sameName(spark)
      val acc = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.types.StructField]
      acc ++= schemas.head.fields
      schemas.iterator.drop(1).foreach { s =>
        s.fields.foreach { f =>
          acc.find(t => same(t.name, f.name)) match {
            case Some(t) =>
              if (t.dataType != f.dataType) return None // clash: fall back
            case None => acc += f
          }
        }
      }
      Some(nullableSchema(StructType(acc.toArray)))
    } catch { case NonFatal(_) => None }
  }

  /** The cached union schema for exactly this witness, if present —
    * never computes (zero jobs). */
  private def cachedSchemaFor(
      root: String, ver: (Seq[(Long, String)], Seq[String]))
      : Option[org.apache.spark.sql.types.StructType] =
    Option(schemaCache.get(root)).flatMap(_.find(_._1 == ver).map(_._2))

  /** Pre-populate [[schemaCache]] for a witness the caller can prove
    * (e.g. a just-published commit's post-state) — the next
    * [[currentSchema]] call for that witness is a pure cache hit. */
  private def seedSchema(root: String,
                         ver: (Seq[(Long, String)], Seq[String]),
                         schema: org.apache.spark.sql.types.StructType): Unit =
    schemaCache.compute(root, (_, old) => {
      val entries =
        if (old == null)
          List.empty[((Seq[(Long, String)], Seq[String]),
            org.apache.spark.sql.types.StructType)]
        else old
      ((ver, schema) :: entries.filterNot(_._1 == ver)).take(4)
    })

  /** Seed [[schemaCache]] after an ADDS-ONLY commit of `adds` on `snap`:
    * the post-commit union is `tbl` plus `batch`'s new columns, nullable,
    * so the next cached read or validation of the table pays zero
    * inference. The caller guards soundness: `tbl` must be the union at
    * `snap` (a removal can shrink a union, a rebase can race in columns
    * `tbl` never saw). */
  private def seedAppended(spark: SparkSession, root: String, snap: Snapshot,
      adds: Seq[String], tbl: org.apache.spark.sql.types.StructType,
      batch: org.apache.spark.sql.types.StructType): Unit = {
    val same = sameName(spark)
    seedSchema(root, (snap.evos, snap.files ++ adds),
      org.apache.spark.sql.types.StructType(tbl.fields ++ batch.fields
        .filterNot(f => tbl.exists(t => same(t.name, f.name)))
        .map(_.copy(nullable = true))))
  }

  /** PRUNED read: result ≡ `read(...).where(where)`, but only the files
    * the commit log cannot rule out are opened. Each live file's logged
    * per-column [min, max] and key bloom are tested against `where` in
    * the form the planner hands [[graft.sources.GraftFileIndex]] (see
    * [[logCondition]]): a range, IN, equality or prefix predicate on any
    * declared stats column — numeric, or string via the prefix64 /
    * hash64 encodings of `stageData` — prunes with zero data I/O, and
    * any other shape keeps the file. `where` is still applied inside
    * kept files, so the result is exact; merge-on-read ledgers and
    * schema-evolution eras resolve as in [[read]]. With every file
    * pruned the result is empty with the table's schema. On a range-
    * clustered layout (see [[optimize]], [[optimizeZ]]) the scan cost
    * follows the selected range, not the table. */
  def readWhere(spark: SparkSession, root: String, where: Column): DataFrame =
    readWhereAt(spark, root, committed(root), where)

  private def readWhereAt(spark: SparkSession, root: String, snap: Snapshot,
                          where: Column): DataFrame =
    readKept(spark, root, snap, snap.kept(logCondition(spark, root, snap, where)), where)

  /** [[readWhere]]'s file selection, from the log alone: (files kept by
    * ranges, files kept by ranges and blooms, live files). The gap
    * between the first two is the blooms' contribution. Submits no Spark
    * job unless a schema evolution is pending. */
  def keptFiles(spark: SparkSession, root: String, where: Column): (Int, Int, Int) =
    keptFilesAt(spark, root, committed(root), where)

  private def keptFilesAt(spark: SparkSession, root: String, snap: Snapshot,
                          where: Column): (Int, Int, Int) = {
    val cond = logCondition(spark, root, snap, where)
    (snap.kept(cond, useBlooms = false).size, snap.kept(cond).size, snap.files.size)
  }

  /** The latest snapshot of the table at `root`, which must exist. */
  private def committed(root: String): Snapshot = {
    val snap = snapshot(root)
    require(snap.version >= 0, s"not a TxTable (no committed log): $root")
    snap
  }

  /** `where` as a skipping condition for [[Snapshot.kept]]: resolved
    * against `snap`'s current schema and optimized, which gives the form
    * the planner hands [[graft.sources.GraftFileIndex]] — casts on
    * integral columns unwrapped, literals narrowed to the column type,
    * long IN lists as InSet. A shape [[GraftSkipping]] does not match,
    * such as a numeric literal against a string column, keeps the file.
    * Planned over an empty RDD, because over an empty LocalRelation the
    * optimizer would drop the Filter; a `where` that folds to false
    * leaves no Filter over an empty LocalRelation, and keeps no file. */
  private def logCondition(spark: SparkSession, root: String, snap: Snapshot,
                           where: Column): Expression = {
    val plan = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      currentSchema(spark, root, snap)).where(where).queryExecution.optimizedPlan
    plan.collectFirst { case f: Filter => f.condition }
      .getOrElse(Literal(!plan.isInstanceOf[LocalRelation]))
  }

  private def primaryKey(snap: Snapshot, root: String): String = {
    require(snap.version >= 0, s"not a TxTable (no committed log): $root")
    snap.statsKey.getOrElse(throw new IllegalArgumentException(
      s"table at $root declares no stats key — use create(df, root, Some(col))"))
  }

  /** `read(...).where(pred)` opening only the `kept` files; with every
    * file pruned the result is empty with the table's schema. */
  private def readKept(spark: SparkSession, root: String, snap: Snapshot,
                       kept: Seq[String], pred: Column): DataFrame =
    (if (kept.isEmpty) emptyRead(spark, root, snap)
     else morRead(spark, root, snap, kept)).where(pred)

  /** [[readWhere]] on `key IN keys`, `key` being the table's stats key. */
  def pointRead(spark: SparkSession, root: String, keys: Seq[Long]): DataFrame = {
    val snap = committed(root)
    readWhereAt(spark, root, snap, keyColumn(snap, root).isin(keys: _*))
  }

  /** [[readWhere]] on `column BETWEEN lo AND hi`. */
  def readPrunedOn(spark: SparkSession, root: String, column: String,
                   lo: Long, hi: Long): DataFrame =
    readWhere(spark, root, col(column).cast("long").between(lo, hi))

  /** [[keptFiles]] of [[pointRead]]. */
  def pointPruneAccounting(root: String, keys: Seq[Long]): (Int, Int, Int) = {
    val snap = committed(root)
    keptFilesAt(SparkSession.active, root, snap, keyColumn(snap, root).isin(keys: _*))
  }

  /** (files a range read of [lo, hi] on the stats key opens, live files). */
  def pruneAccounting(root: String, lo: Long, hi: Long): (Int, Int) = {
    val snap = committed(root)
    val (_, kept, total) = keptFilesAt(SparkSession.active, root, snap,
      keyColumn(snap, root).between(lo, hi))
    (kept, total)
  }

  /** The stats key of `snap` as a long column. */
  private def keyColumn(snap: Snapshot, root: String): Column =
    col(primaryKey(snap, root)).cast("long")

  // ---- SHINGLE (word n-gram) phrase probes --------------------------
  // The decontamination primitive at FILE granularity: "which files
  // could contain this benchmark phrase?" answered from the log alone.
  // A phrase of k >= n words carries k-n+1 n-grams and a file must
  // admit ALL of them (conjunctive pruning), so even moderately common
  // n-grams compound into a selective probe; the residual contains-
  // filter inside kept files makes the result exact.

  private def shingleProbe(snap: Snapshot, root: String, column: String,
                           phrase: String): Seq[Long] = {
    require(snap.version >= 0, s"not a TxTable (no committed log): $root")
    require(snap.shingleCols.contains(column),
      s"'$column' declares no shingle blooms " +
        s"(declared = ${snap.shingleCols.mkString("[", ",", "]")}) — " +
        "create(..., shingleCols = Seq(col))")
    val toks = canonTokens(phrase)
    require(toks.length >= snap.shingleN,
      s"phrase '$phrase' has ${toks.length} tokens — a probe needs at " +
        s"least shingleN = ${snap.shingleN}")
    toks.sliding(snap.shingleN).map(w =>
      graft.functions.StrKey.hash64(w.mkString(" "))).toSeq
  }

  private def shingleKeptFiles(snap: Snapshot, column: String,
                               hashes: Seq[Long]): Seq[String] = {
    val j = snap.shingleCols.indexOf(column)
    snap.files.filter { f =>
      snap.live(f).shBlooms.lift(j) match {
        case Some(hex) if hex.nonEmpty =>
          val words = KeyBloom.fromHex(hex)
          hashes.forall(h => KeyBloom.mightContainWords(words, h))
        case _ => true // no bloom recorded: keep conservatively
      }
    }
  }

  /** (files the phrase probe keeps, total live files) — zero data I/O. */
  def shinglePruneAccounting(root: String, column: String,
                             phrase: String): (Int, Int) = {
    val snap = snapshot(root)
    val hashes = shingleProbe(snap, root, column, phrase)
    (shingleKeptFiles(snap, column, hashes).size, snap.files.size)
  }

  /** PHRASE read: result ≡ rows whose canonical token stream (lowercase,
    * non-alphanumeric runs as separators) CONTAINS the phrase's token
    * sequence — but only bloom-surviving files are opened. The probe and
    * the residual filter share one tokenizer, so blooms have no false
    * negatives w.r.t. the result. */
  def shingleRead(spark: SparkSession, root: String, column: String,
                  phrase: String): DataFrame = {
    import org.apache.spark.sql.functions.{array_join, col, concat, lit, lower, split}
    val snap = snapshot(root)
    val hashes = shingleProbe(snap, root, column, phrase)
    val kept = shingleKeptFiles(snap, column, hashes)
    val canon = canonTokens(phrase).mkString(" ")
    val hay = concat(lit(" "),
      array_join(org.apache.spark.sql.functions.filter(
        split(lower(col(column)), "[^a-z0-9]+"), x => x =!= lit("")), " "),
      lit(" "))
    readKept(spark, root, snap, kept, hay.contains(s" $canon "))
  }

  /** Point read driven by a DATAFRAME of keys — the delta-join shape
    * ([[pointRead]] fed by a change feed) made scale-safe: the distinct
    * key set is collected to the driver ONLY while it fits
    * `maxDriverKeys` (small deltas get the zero-I/O bloom/range file
    * pruning); an oversized delta — a bulk backfill epoch — falls back
    * to a distributed semi-join over the snapshot, same result, nothing
    * driver-bounded. `keys`'s first column must cast to long. */
  def pointReadKeys(spark: SparkSession, root: String, keys: DataFrame,
                    maxDriverKeys: Int = 10000): DataFrame = {
    val snap = snapshot(root)
    val key = primaryKey(snap, root)
    // probe column name must not collide with any table column; a NULL
    // key matches no row (as in `key IN keys`), so it is dropped before
    // the driver collect, whose longs cannot hold it
    val kd = keys.select(
      col(keys.columns.head).cast("long").as("__graft_probe_k"))
      .where(col("__graft_probe_k").isNotNull).distinct()
    val head = kd.limit(maxDriverKeys + 1).collect()
    if (head.length <= maxDriverKeys)
      readWhere(spark, root,
        col(key).cast("long").isin(head.map(_.getLong(0)).toSeq.sorted: _*))
    else
      morRead(spark, root, snap, snap.files)
        .join(kd, col(key).cast("long") === col("__graft_probe_k"), "left_semi")
  }

  /** RESTORE: roll the table back to the content of `toVersion` as a NEW
    * commit (the Delta RESTORE semantic): adds = files live at the target
    * version, removes = files live now. Metadata-only — no data is
    * rewritten or deleted; the bad epochs stay in history (time travel to
    * them keeps working) and their files remain referenced by their own
    * commits, so vacuum won't reclaim them. Stats, blooms and row counts
    * for the restored files carry over from the target snapshot
    * ([[carried]]). */
  def restore(spark: SparkSession, root: String, toVersion: Long,
              tag: Option[String] = None): CommitResult = {
    val target = snapshot(root, toVersion)
    require(target.version == toVersion,
      s"restore target v$toVersion unresolvable (log at ${target.version})")
    // a target with LIVE delete ledgers can't be restored by reference:
    // re-added files and ledgers would all share the restore version,
    // losing the add-order that scopes each ledger (strictly-before
    // applicability would scope the ledgers to NO re-added file, so
    // deleted keys would come back alive). Materialize the target's
    // effective content instead — still one commit, but a data rewrite.
    if (target.ledgers.nonEmpty)
      return transact(spark, root, "restore", tag)(_ =>
        morRead(spark, root, target, target.files))
    val restored = carried(target, target.files)
    commitLoop(root, tag, s"restore of $root") { now =>
      Some(Commit(now.version + 1, "restore", restored,
        now.files.diff(target.files) ++ now.ledgers.map(_.path), tag))
    }
  }

  /** Retained commit history, oldest first: (version, op, n_adds,
    * n_removes, n_ledger_adds, tag, ts). Versions archived by
    * [[expireHistory]] are absent — the listing is what time travel can
    * still reach. Cost: one small JSON read per retained commit (the
    * log is metadata, never data). */
  def history(root: String): Seq[(Long, String, Int, Int, Int, Option[String], Long)] = {
    val head = snapshot(root).version
    require(head >= 0, s"not a TxTable (no committed log): $root")
    (0L to head).flatMap { v =>
      val p = commitPath(root, v)
      if (!Files.exists(p)) None
      else {
        val c = parse(Files.readString(p))
        Some((v, c.op, c.adds.size, c.removes.size, c.dadds.size, c.tag, c.ts))
      }
    }
  }

  /** The wall-clock stamp of a retained commit (None if archived or
    * pre-timestamp). */
  def commitTs(root: String, v: Long): Option[Long] = {
    val p = commitPath(root, v)
    if (!Files.exists(p)) None
    else Some(parse(Files.readString(p)).ts)
  }

  /** The newest version whose commit landed at or before `tsMillis` —
    * `TIMESTAMP AS OF` resolution. Commit stamps are strictly
    * increasing by [[tryPublish]]'s construction, so this is a binary
    * search over the retained (possibly expire-gapped) version list:
    * O(log history) small log reads, zero data I/O. A timestamp older
    * than the oldest retained commit is an error, not a clamp — the
    * snapshot it names was archived (or never existed), and silently
    * returning a LATER state would hand the reader data the asked-for
    * moment could not see. */
  def versionAsOfTimestamp(root: String, tsMillis: Long): Long = {
    val head = snapshot(root).version
    require(head >= 0, s"not a TxTable (no committed log): $root")
    import scala.jdk.CollectionConverters._
    val listing = Files.list(logDir(root))
    val versions =
      try listing.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.endsWith(".json") && !n.endsWith(".ckpt.json"))
        .map(_.stripSuffix(".json").toLong)
        .filter(_ <= head).toIndexedSeq.sorted
      finally listing.close()
    require(versions.nonEmpty, s"no retained commits at $root")
    def tsAt(i: Int): Long = commitTs(root, versions(i)).getOrElse(0L)
    require(tsAt(0) <= tsMillis,
      s"timestamp $tsMillis predates the oldest retained commit of $root " +
        s"(v${versions.head} at ${tsAt(0)}) — that history was expired")
    // invariant: tsAt(lo) <= tsMillis; answer is the last such index
    var lo = 0; var hi = versions.length - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (tsAt(mid) <= tsMillis) lo = mid else hi = mid - 1
    }
    versions(lo)
  }

  /** Snapshot read pinned to a wall-clock moment (`TIMESTAMP AS OF`). */
  def readAsOfTimestamp(spark: SparkSession, root: String,
                        tsMillis: Long): DataFrame =
    read(spark, root, versionAsOfTimestamp(root, tsMillis))

  /** Result of [[metaAggregate]]: the values plus the physical
    * accounting proving HOW they were resolved — `filesMetaOnly` files
    * contributed from the commit log alone, `filesScanned` had to be
    * opened. */
  final case class MetaAgg(count: Long, min: Option[Long], max: Option[Long],
                           filesMetaOnly: Int, filesScanned: Int)

  /** count(*) + min/max of `column`, resolved from the COMMIT LOG alone
    * wherever possible — the lakehouse answer to `SELECT count(*),
    * min(k), max(k) FROM t` on a 100 TB table: per-file row counts
    * (parquet footers captured at publish) and per-file [min, max]
    * stats fold in the driver, zero data I/O. A file is scanned only
    * when the log CANNOT answer for it: a live merge-on-read ledger
    * applies to it (deleted rows make its logged count/extremes stale),
    * its commit predates row-count capture, or `column` carries no
    * declared stats (then even a pure count scans it — one partition
    * keeps the contract simple: meta files answer ALL three aggregates).
    * Scanned files resolve through the same ledger-scoped read the
    * query path uses, so the result always equals the full-scan answer;
    * compaction folds ledgers away and returns the table to the all-
    * metadata fast path. NULL `column` values count toward `count` but
    * never min/max (file stats skip them at capture). */
  def metaAggregate(spark: SparkSession, root: String, column: String,
                    versionAsOf: Long = Long.MaxValue): MetaAgg = {
    import org.apache.spark.sql.functions.{count, lit,
      max => smax, min => smin}
    val snap = snapshot(root, versionAsOf)
    require(snap.version >= 0, s"not a TxTable (no committed log): $root")
    // a STRING stats column's logged bounds are prefix64 CODES, not
    // values — fall through to the scan path (count still folds from
    // metadata via logged row counts; min/max degrade to None via try_cast)
    val numeric = snap.statsKey.contains(column) || !snap.strCols.contains(column)
    def st(f: String): Option[(Long, Long)] =
      if (numeric) snap.statsOf(f, column) else None
    val sorted = snap.ledgers.sortBy(_.version)
    def ledgerScoped(f: String): Boolean = {
      val av = snap.addedAt(f)
      sorted.exists(_.version > av)
    }
    val (scan, meta) = snap.files.partition(f =>
      ledgerScoped(f) || snap.live(f).rows < 0 || st(f).isEmpty)
    var cnt = meta.map(snap.live(_).rows).sum
    val ranges = meta.flatMap(st).filter(r => r._1 <= r._2) // skip empty/all-NULL
    var mn = if (ranges.isEmpty) None else Some(ranges.map(_._1).min)
    var mx = if (ranges.isEmpty) None else Some(ranges.map(_._2).max)
    if (scan.nonEmpty) {
      // try_cast, not cast: a stats-less NON-numeric column must degrade
      // to (count, None, None) rather than throw under ANSI mode
      require(identName.matches(column), s"invalid column name '$column'")
      val k = org.apache.spark.sql.functions.expr(
        s"try_cast($column AS BIGINT)")
      val r = morRead(spark, root, snap, scan)
        .agg(count(lit(1)), smin(k), smax(k)).collect()(0)
      cnt += r.getLong(0)
      if (!r.isNullAt(1)) {
        mn = Some(mn.fold(r.getLong(1))(math.min(_, r.getLong(1))))
        mx = Some(mx.fold(r.getLong(2))(math.max(_, r.getLong(2))))
      }
    }
    MetaAgg(cnt, mn, mx, meta.size, scan.size)
  }

  // ------------------------------------------------------------- writes
  /** Write `df` as new immutable data files; returns table-relative paths
    * plus (when the table declares a stats key) each file's [min, max] of
    * that column, aligned 1:1. The stats pass re-reads the just-written
    * files (page-cache hot); a production writer would collect them
    * inside the write task — either way they land in the COMMIT, so
    * every later pruning decision is metadata-only. Empty files get the
    * empty range (MaxValue, MinValue) — always prunable. */
  /** Run `body` with AQE told to RESPECT the 64 MB advisory partition
    * size (parallelismFirst=false). Globally that setting serializes
    * CPU-bound iterative plans on a small core count, but around a
    * STAGED TABLE WRITE it is exactly right on any deployment: a staged
    * epoch's post-shuffle frame coalesces toward 64 MB output files
    * instead of shattering into near-empty ones, so the commit pays
    * writer init, footer reads, and per-file log entries (stats +
    * 8 KiB blooms) only for files that hold real data. Conf is
    * session-scoped and restored; commits are driver-sequential. */
  private def withFileSizedCoalesce[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The per-column stats/bloom aggregate list shared by the two stats
    * paths below: (min, max, bloom) per stats column plus one row count.
    * String columns bound via the order-preserving prefix64 and bloom on
    * hash64 of the full value; numeric/date columns long-normalize by
    * cast. All codegen expressions. */
  private def statsAggs(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, allCols: Seq[String])
      : Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, count, expr, lit, max, min, udaf}
    graft.functions.StrKey.register(spark)
    val bloomAgg = udaf(new KeyBloom.AggOpt(),
      org.apache.spark.sql.Encoders.LONG)
    def isStr(c: String) =
      schema(schema.fieldIndex(c)).dataType ==
        org.apache.spark.sql.types.StringType
    allCols.zipWithIndex.flatMap { case (k, j) =>
      val (kc, hc) =
        if (isStr(k)) (expr(s"str_prefix64(`$k`)"), expr(s"str_hash64(`$k`)"))
        else (col(k).cast("long"), col(k).cast("long"))
      Seq(min(kc).as(s"mn_$j"), max(kc).as(s"mx_$j"),
        bloomAgg(hc).as(s"bl_$j"))
    } :+ count(lit(1)).as("cnt")
  }

  /** `files` carried BY REFERENCE from `s` (restore, clone, adopt), with
    * the records `s`'s log holds for them. A MISSING range means UNKNOWN,
    * not empty file: it carries as the full range, which keeps the file
    * in every pruned read (the (MaxValue, MinValue) empty-file sentinel
    * would make its rows vanish from them). A missing bloom carries as
    * "" (none: keep), a missing row count as -1 (unknown). */
  private def carried(s: Snapshot, files: Seq[String]): Seq[DataFile] = {
    val full = (Long.MinValue, Long.MaxValue)
    def pad[T](xs: Seq[T], n: Int, none: T) = (0 until n).map(xs.lift(_).getOrElse(none))
    files.map { f =>
      val d = s.live(f)
      DataFile(f,
        range = s.statsKey.map(_ => d.range.getOrElse(full)),
        bloom = s.statsKey.map(_ => d.bloom.getOrElse("")),
        ranges = pad(d.ranges, s.statsCols.size, full),
        blooms = pad(d.blooms, s.statsCols.size, ""),
        rows = d.rows,
        shBlooms = pad(d.shBlooms, s.shingleCols.size, ""))
    }
  }

  /** Hard-link `f` from `srcRoot` into `dstRoot` under the same relative
    * path; across filesystems, copy it. A target that already exists —
    * left by an earlier or a concurrent adopt of the same file — is the
    * same file (data files are immutable and uuid-named), so it counts
    * as done. The copy lands under a tmp name and is renamed into place,
    * so a concurrent adopt never takes a half-written copy for done. */
  private def linkInto(srcRoot: String, dstRoot: String, f: String): Unit = {
    val src = Paths.get(srcRoot, f).toAbsolutePath
    val dst = Paths.get(dstRoot, f)
    Files.createDirectories(dst.getParent)
    try Files.createLink(dst, src)
    catch {
      case _: java.nio.file.FileAlreadyExistsException => ()
      case _: UnsupportedOperationException |
           _: java.nio.file.FileSystemException =>
        val tmp = dst.resolveSibling(s".tmp-${java.util.UUID.randomUUID}")
        Files.copy(src, tmp)
        Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Stage `df` under `snap`'s stats and shingle declarations. */
  private def stageOn(df: DataFrame, root: String, snap: Snapshot,
                      sizeStaged: Boolean = false): Seq[DataFile] =
    stageShingles(df, root,
      stageData(df, root, snap.statsKey, snap.statsCols, sizeStaged),
      snap.shingleCols, snap.shingleN)

  /** Write `df` as new data files under `root` and gather the records
    * its commit logs for them, shingle blooms aside (see
    * [[stageShingles]]).
    * @param sizeStaged right-size a SHATTERED small staging: when the
    *   written batch lands as many near-empty files (its plan inherited
    *   upstream partitioning — e.g. a streaming state-store output
    *   arrives as shuffle.partitions near-empty partitions, and the
    *   stateful subtree disables AQE so neither the advisory nor a
    *   REBALANCE hint can size the write), one driver-visible check of
    *   the actual staged bytes triggers a tiny read-back+coalesce(1)
    *   rewrite. Bounded by `spark.graft.stage.compactBytes` (default
    *   16 MiB) so a real backfill epoch never pays it — this is the
    *   AQE-independent form of write-side file sizing for the paths
    *   with no layout contract (MoR adds, CoW verbatim batches); layout-
    *   bearing stagings (optimize/compact/explicit coalesce) keep it
    *   off. Without it a 20-file epoch SNOWBALLS: every later CoW
    *   epoch's touched-file count (and its coalesce target) inherits
    *   the shatter, and every read pays ~20 opens per epoch forever. */
  private def stageData(df: DataFrame, root: String,
                        statsKey: Option[String],
                        statsCols: Seq[String] = Seq.empty,
                        sizeStaged: Boolean = false): Seq[DataFile] = {
    val unique0 = java.util.UUID.randomUUID().toString.take(8)
    val dir0 = dataDir(root).resolve(unique0)
    val allCols = statsKey.toSeq ++ statsCols
    // STATS RIDE THE WRITE JOB (observed metrics): whole-batch (min, max,
    // bloom, count) per stats column are collected by the write job's own
    // tasks. When the staging lands as exactly ONE data file — the common
    // case for micro-batch epochs after count-sized coalesce, and for the
    // shattered-staging concatenation (which merges into one file) —
    // whole-batch aggregates ARE that file's stats, and the per-commit
    // re-read stats job (profiled ~180 ms/commit, the second-largest
    // fixed cost of the lifecycle queries) is skipped entirely.
    // Multi-file stagings (real backfills) keep the distributed per-file
    // pass; the observed agg they discard rides map-side for pennies.
    val (dfW, obsOpt) =
      if (allCols.isEmpty) (df, None)
      else scala.util.Try {
        val obs = new org.apache.spark.sql.Observation()
        val aggs = statsAggs(df.sparkSession, df.schema, allCols)
        (df.observe(obs, aggs.head, aggs.tail: _*), Some(obs))
      }.getOrElse((df, None))
    prof("stage.write")(withFileSizedCoalesce(df.sparkSession)(
      dfW.write.mode("overwrite").parquet(dir0.toString)))
    import scala.jdk.CollectionConverters._
    def list(d: java.nio.file.Path): Seq[String] =
      Files.list(d).iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".parquet"))
        .toSeq.sorted
    var unique = unique0
    var dir = dir0
    if (sizeStaged) {
      val names0 = list(dir0)
      val bytes = names0.map(n => Files.size(dir0.resolve(n))).sum
      val cap = df.sparkSession.conf
        .getOption("spark.graft.stage.compactBytes")
        .map(_.toLong).getOrElse(16L << 20)
      if (names0.lengthCompare(4) > 0 && bytes <= cap) prof("stage.compact") {
        // row-group concatenation on the DRIVER (ParquetFileWriter.
        // appendFile): the shattered files were written by one job, so
        // their schemas are identical; copying their row groups into one
        // file moves only the staged bytes (≤ cap) and costs no Spark
        // job. The first file's footer supplies the schema and the
        // spark-schema key-value metadata, so the merged file reads back
        // exactly like its inputs.
        val u2 = java.util.UUID.randomUUID().toString.take(8)
        val d2 = dataDir(root).resolve(u2)
        Files.createDirectories(d2)
        // nio-backed input/output files: no Hadoop FileSystem layer (a
        // RawLocalFileSystem open costs ~10 ms in stat/permission forks,
        // × ~20 shattered inputs it would eat the win)
        def inFile(n: String) =
          new org.apache.parquet.io.LocalInputFile(dir0.resolve(n))
        val head = org.apache.parquet.hadoop.ParquetFileReader.open(
          inFile(names0.head))
        val (msgType, kv) =
          try (head.getFileMetaData.getSchema,
            head.getFileMetaData.getKeyValueMetaData)
          finally head.close()
        val outName = s"part-00000-$u2-c000.parquet"
        val w = new org.apache.parquet.hadoop.ParquetFileWriter(
          new org.apache.parquet.io.LocalOutputFile(d2.resolve(outName)),
          msgType,
          org.apache.parquet.hadoop.ParquetFileWriter.Mode.CREATE,
          org.apache.parquet.hadoop.ParquetWriter.DEFAULT_BLOCK_SIZE.toLong,
          org.apache.parquet.hadoop.ParquetWriter.MAX_PADDING_SIZE_DEFAULT)
        w.start()
        names0.foreach(n => w.appendFile(inFile(n)))
        w.end(kv)
        names0.foreach(n => Files.deleteIfExists(dir0.resolve(n)))
        Files.list(dir0).iterator().asScala.toSeq
          .foreach(p => Files.deleteIfExists(p))
        Files.deleteIfExists(dir0)
        unique = u2; dir = d2
      }
    }
    val files = list(dir).map(f => s"data/$unique/$f")
    profCount("stage.files", files.size.toLong)
    // ONE pass per staged batch computes [min,max] AND the key bloom per
    // file for the primary stats key and every secondary stats column —
    // all columns aggregated side by side under one groupBy(file), so a
    // multi-column table pays no extra scans. The blooms are distributed
    // OR-merge aggs (8 KiB per file per column crosses the wire, never
    // the keys). NULL keys never match a BETWEEN/IN pruning predicate, so
    // they contribute nothing: min/max skip them natively, the
    // null-tolerant bloom agg ignores them (a row NULL in one column
    // still feeds the others), and a file all-NULL in a column gets the
    // empty range (MaxValue, MinValue) — always prunable, correctly.
    // single-file staging: the write job's observed metrics are the
    // file's stats — no second pass. The timed wait guards against a
    // dropped listener event (never observed in practice); on timeout
    // the distributed pass below recomputes from the staged file.
    val observed: Option[Map[String, Any]] =
      if (allCols.isEmpty || files.lengthCompare(1) != 0) None
      else obsOpt.flatMap { o =>
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        scala.util.Try(Await.result(Future(o.get),
          scala.concurrent.duration.Duration(10, "s"))).toOption
      }
    // a file's record from its per-column ((min, max), bloom) list
    val nOff = if (statsKey.isDefined) 1 else 0
    def record(f: String, cols: Seq[((Long, Long), String)], rows: Long) = {
      val (primary, secondary) = cols.splitAt(nOff)
      DataFile(f, primary.headOption.map(_._1), primary.headOption.map(_._2),
        secondary.map(_._1), secondary.map(_._2), rows)
    }
    if (allCols.isEmpty) files.map(DataFile(_))
    else if (observed.isDefined) prof("stage.observed") {
      val m = observed.get
      val cnt = m("cnt").asInstanceOf[Number].longValue
      // a zero-row staging matches the distributed path's absent-from-agg
      // encoding exactly: empty range + empty bloom
      def colStats(j: Int): ((Long, Long), String) =
        if (cnt == 0L) ((Long.MaxValue, Long.MinValue), "")
        else {
          val mn = m(s"mn_$j")
          val st =
            if (mn == null) (Long.MaxValue, Long.MinValue)
            else (mn.asInstanceOf[Number].longValue,
              m(s"mx_$j").asInstanceOf[Number].longValue)
          (st, Option(m(s"bl_$j")).map(_.toString).getOrElse(""))
        }
      Seq(record(files.head, allCols.indices.map(colStats), cnt))
    }
    else {
      import org.apache.spark.sql.functions.input_file_name
      // the staged files' read-back schema IS the written frame's schema
      // made nullable — pass it explicitly so the re-read skips the
      // per-call footer-based inference setup. Same aggregates as the
      // observed single-file path (statsAggs), grouped per file; per-file
      // row counts ride the same agg for free (tryPublish reads footers
      // only for adds without one).
      val reread = df.sparkSession.read.schema(nullableSchema(df.schema))
        .parquet(files.map(f => s"$root/$f"): _*)
      val aggs = statsAggs(df.sparkSession, reread.schema, allCols)
      val byName = prof("stage.stats")(reread
        .groupBy(input_file_name().as("f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect())
        .map { r =>
          val name = Paths.get(java.net.URI.create(r.getString(0)).getPath)
            .getFileName.toString
          val perCol = allCols.indices.map { j =>
            val mi = r.fieldIndex(s"mn_$j")
            val st =
              if (r.isNullAt(mi)) (Long.MaxValue, Long.MinValue)
              else (r.getLong(mi), r.getLong(r.fieldIndex(s"mx_$j")))
            (st, r.getString(r.fieldIndex(s"bl_$j")))
          }
          name -> (perCol, r.getLong(r.fieldIndex("cnt")))
        }.toMap
      // a staged file absent from the agg result has exactly zero rows
      // (the scan feeds EVERY row of every listed file into the groupBy)
      val empty = allCols.map(_ => ((Long.MaxValue, Long.MinValue), ""))
      files.map { f =>
        val (cols, rows) =
          byName.getOrElse(Paths.get(f).getFileName.toString, (empty, 0L))
        record(f, cols, rows)
      }
    }
  }

  /** Per-file SHINGLE blooms for the just-staged `files`: one bloom per
    * declared shingle column per file, built over the word n-grams of
    * the CANONICAL token stream (lowercased, split on non-alphanumeric
    * runs) hashed with StrKey.hash64 — the phrase-probe index. A
    * decontamination question ("which files could contain this
    * benchmark n-gram?") then resolves from the log with zero data I/O:
    * a phrase of k >= n words has k-n+1 n-grams and a file must admit
    * ALL of them, so multi-gram probes prune conjunctively. One extra
    * scan of the staged batch per commit (a production writer folds
    * this into the write task, like the stats pass). Shingle
    * populations dwarf key populations (a 500-doc file carries ~50 k
    * distinct n-grams where its key bloom sees 500 keys), so these
    * blooms are 32 KiB (2^18 bits: <8% FP per gram at 50 k shingles,
    * conjunctive over a phrase's grams → effectively zero); membership
    * derives m from the stored hex, so a writer re-sizing per file
    * just works. Files with no shingles (every doc shorter than n
    * words) get the all-zero bloom: every probe prunes them,
    * correctly. */
  private def stageShingles(df: DataFrame, root: String, files: Seq[DataFile],
                            shingleCols: Seq[String], n: Int): Seq[DataFile] = {
    if (shingleCols.isEmpty) return files
    import org.apache.spark.sql.functions.{col, concat_ws, expr, input_file_name, lead, lit, lower, monotonically_increasing_id, posexplode_outer, split, udaf, when}
    graft.functions.StrKey.register(df.sparkSession)
    val bloomAgg = udaf(new KeyBloom.AggSized(4096),
      org.apache.spark.sql.Encoders.LONG)
    val reread = df.sparkSession.read.schema(nullableSchema(df.schema))
      .parquet(files.map(f => s"$root/${f.path}"): _*)
    val perCol = shingleCols.map { c =>
      // shingle via posexplode + per-doc window leads (codegen/sort
      // operators throughout) — the Column-level higher-order transform
      // is interpreted per element and dominates staging time on real
      // corpora (the same reason TextFunctions.shingleRows exists)
      val toks = org.apache.spark.sql.functions.filter(
        split(lower(col(c)), "[^a-z0-9]+"), x => x =!= lit(""))
      // rid must bind per SOURCE row — a select computing it alongside
      // the generator would stamp each EXPLODED row its own id (the
      // project runs after the generate), splitting every doc into
      // 1-token windows
      val tok = reread
        .select(input_file_name().as("f"),
          monotonically_increasing_id().as("rid"), toks.as("t"))
        .select(col("f"), col("rid"), posexplode_outer(col("t")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("f", "rid").orderBy("pos")
      val leads = (1 until n).map(k => lead("col", k).over(w).as(s"w$k"))
      val withLeads = tok.select(
        col("f") +: col("col").as("w0") +: leads: _*)
      val sh = withLeads.select(col("f"),
        when(col(s"w${n - 1}").isNotNull,
          concat_ws(" ", (0 until n).map(k => col(s"w$k")): _*)).as("sh"))
      prof("stage.shingles")(sh
        .groupBy("f").agg(bloomAgg(expr("str_hash64(sh)")).as("bl"))
        .collect()).map { r =>
          Paths.get(java.net.URI.create(r.getString(0)).getPath)
            .getFileName.toString -> r.getString(1)
        }.toMap
    }
    files.map { f =>
      val name = Paths.get(f.path).getFileName.toString
      f.copy(shBlooms = perCol.map(_.getOrElse(name, "")))
    }
  }

  /** The canonical token stream both the blooms and the probes use.
    * Locale.ROOT: the blooms hash Spark's locale-insensitive `lower()`
    * output, so the driver-side probe must not pick up the JVM default
    * locale (Turkish 'I' -> dotless ı would hash different tokens and
    * break the no-false-negatives contract). */
  private def canonTokens(phrase: String): Seq[String] =
    phrase.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9]+").toSeq.filter(_.nonEmpty)

  /** Per-file row counts from the parquet FOOTERS — pure metadata (a
    * few-KB tail read per file, no page decompression), captured once at
    * publish so later count(*)-style aggregates never open data. -1
    * marks a file whose footer could not be read (the fold treats it as
    * unknown and aggregates fall back to scanning it). */
  private def footerRows(root: String, files: Seq[String]): Seq[Long] = prof("footers") {
    val conf = new org.apache.hadoop.conf.Configuration()
    def one(f: String): Long =
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$root/$f"), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      } catch { case NonFatal(_) => -1L }
    // ~15-20 ms of tail-read I/O each; a multi-file commit pays them
    // CONCURRENTLY (driver-side, bounded by the common pool) instead of
    // serially — publish latency stays ~one footer regardless of count
    if (files.lengthCompare(1) <= 0) files.map(one)
    else {
      import scala.collection.parallel.CollectionConverters._
      files.par.map(one).seq
    }
  }

  /** Jittered exponential backoff between publish races — the
    * thundering-herd damper: N writers losing the same head otherwise
    * re-resolve and re-race in lockstep, burning their whole attempt
    * budget on collisions (8 writers exhausted 12 attempts with zero
    * backoff). Base 25 ms doubling, capped at 1.6 s, ±50% uniform
    * jitter to de-synchronize. */
  private def backoff(attempt: Int): Unit = {
    val base = math.min(25L << math.min(attempt, 6), 1600L)
    val jitter = java.util.concurrent.ThreadLocalRandom.current()
      .nextLong(base / 2, base + base / 2 + 1)
    Thread.sleep(jitter)
  }

  /** Atomic publish of version `v` ([[publishOnce]] into the log slot):
    * exactly one writer wins; everyone else gets false and must rebase.
    * Every added data file without a row count gets its footer count
    * stamped into the log here — one chokepoint covers
    * create/append/merge/compact/optimize alike. */
  private def tryPublish(root: String, c: Commit): Boolean = prof("publish") {
    Files.createDirectories(logDir(root))
    val unknown = c.adds.filter(_.rows < 0).map(_.path)
    val footers =
      if (unknown.isEmpty) Map.empty[String, Long]
      else unknown.zip(footerRows(root, unknown)).toMap
    val adds = c.adds.map(a => footers.get(a.path).fold(a)(n => a.copy(rows = n)))
    // ledger row counts ride the log too: the MoR read's broadcast-vs-
    // shuffle decision needs the live delete-set volume without opening
    // a footer per ledger per fresh driver. Aliased entries reuse the
    // adds' counts; -1 marks unknown (never broadcast blindly).
    val drows =
      if (c.dadds.nonEmpty && c.drows.isEmpty) {
        val byAdd = adds.map(a => a.path -> a.rows).toMap
        c.dadds.map { p =>
          val fs = ledgerFiles(p)
          val known = fs.map(f => byAdd.getOrElse(f, -1L))
          if (known.forall(_ >= 0)) known.sum
          else {
            val fr = footerRows(root, fs)
            if (fr.exists(_ < 0)) -1L else fr.sum
          }
        }
      } else c.drows
    // stamp the commit wall-clock, forced STRICTLY increasing over the
    // predecessor (one small log read) so TIMESTAMP AS OF is a total
    // order even across clock skew between writers — the same
    // "in-commit-timestamp" monotonicity Delta/Iceberg guarantee
    val prevTs =
      if (c.version > 0) commitTs(root, c.version - 1).getOrElse(0L) else 0L
    publishOnce(commitPath(root, c.version), render(c.copy(adds = adds,
      drows = drows, ts = math.max(System.currentTimeMillis(), prevTs + 1))))
  }

  /** Attempts one commit gets before [[commitLoop]] reports contention. */
  private val commitAttempts = 12

  /** The optimistic-commit protocol every writer shares. Each attempt
    * resolves a fresh snapshot; a `tag` already in its log is a replayed
    * epoch and returns as skipped (exactly-once without a transactional
    * sink). Otherwise `body` turns the snapshot into a commit at
    * `snap.version + 1`, or into None when there is nothing to do
    * (skipped at the snapshot's version). A won publish runs
    * `afterPublish` with the pre-commit snapshot, then the checkpoint. A
    * lost publish REBASES: back off, re-resolve, re-run `body`; what the
    * lost attempt staged stays orphaned (referenced by no commit,
    * invisible to readers) until [[vacuumOrphans]]. No backoff after the
    * final attempt — the contention error, naming `what`, surfaces at
    * once. */
  private def commitLoop(root: String, tag: Option[String], what: String,
                         afterPublish: (Snapshot, Commit) => Unit = (_, _) => ())
                        (body: Snapshot => Option[Commit]): CommitResult = {
    var attempt = 0
    while (attempt < commitAttempts) {
      attempt += 1
      val snap = snapshot(root)
      require(snap.version >= 0, s"not a TxTable: $root")
      if (tag.exists(snap.tags))
        return CommitResult(snap.version, attempt, skipped = true)
      body(snap) match {
        case None => return CommitResult(snap.version, attempt, skipped = true)
        case Some(c) if tryPublish(root, c) =>
          afterPublish(snap, c)
          maybeCheckpoint(root, c.version)
          return CommitResult(c.version, attempt, skipped = false)
        case Some(_) =>
          if (attempt < commitAttempts) backoff(attempt)
      }
    }
    throw new IllegalStateException(
      s"$what failed after $commitAttempts attempts (contention)")
  }

  /** Refuse a batch that violates the table's declared CHECK constraint.
    * Validation runs over the INCOMING data only — one extra codegen pass
    * on the batch, never the table (rows carried by reference were
    * validated at their own commit); the violation count is reported so
    * the refusal is actionable. */
  private def enforceCheck(batch: DataFrame, check: Option[String],
                           where: String): Unit =
    check.foreach { c =>
      val bad = batch.where(s"NOT ($c)").count()
      if (bad > 0) throw new IllegalStateException(
        s"CHECK constraint ($c) violated by $bad row(s) in $where — commit refused")
    }

  /** Create a new table at `root` from `df` (version 0).
    * @param statsKey a declared stats column (must be integral): every
    *   commit then records per-file [min, max] of it for its adds, making
    *   [[readWhere]] and [[mergeCow]]'s file selection metadata-only.
    * @param check a declared CHECK constraint (a boolean SQL predicate):
    *   this and every later append/merge batch must satisfy it or the
    *   commit is refused — the data-quality gate at the table boundary.
    * @param statsCols SECONDARY stats columns (each must cast to long):
    *   every commit records per-file [min, max] + key bloom for each — so
    *   range and point reads on a NON-primary dimension prune files from
    *   the log alone. This is what makes a z-order OPTIMIZE
    *   ([[optimizeZ]]) pay off: after re-clustering, the second
    *   dimension's per-file ranges are tight and a predicate on it skips
    *   most files.
    * @param shingleCols string columns that get per-file word n-gram
    *   blooms of `shingleN` words (see [[stageShingles]]). */
  def create(df: DataFrame, root: String, statsKey: Option[String] = None,
             check: Option[String] = None, statsCols: Seq[String] = Seq.empty,
             shingleCols: Seq[String] = Seq.empty,
             shingleN: Int = 3): CommitResult = {
    require(statsCols.forall(c => !statsKey.contains(c)),
      s"statsCols $statsCols must not repeat the primary key $statsKey")
    shingleCols.foreach { c =>
      require(df.schema(df.schema.fieldIndex(c)).dataType ==
        org.apache.spark.sql.types.StringType,
        s"shingle column '$c' must be a string column")
    }
    require(shingleCols.isEmpty || shingleN >= 1,
      s"shingleN must be >= 1, got $shingleN")
    // stats long-normalize by CAST for numeric/date/time types; STRING
    // columns are allowed as SECONDARY stats columns only — they encode
    // through StrKey.prefix64 (order-preserving, see stageData), so
    // range/prefix/point pruning works, but the PRIMARY key stays
    // numeric: CoW file selection and MoR ledgers key on exact long
    // arithmetic. Any other type (binary, struct, array) would cast to
    // NULL everywhere — every file gets the empty range, every pruning
    // read prunes EVERYTHING, and a CoW merge would silently miss its
    // files. Refuse loudly instead of corrupting later.
    (statsKey.toSeq ++ statsCols).foreach { c =>
      import org.apache.spark.sql.types._
      val dt = df.schema(df.schema.fieldIndex(c)).dataType
      val ok = dt match {
        case _: NumericType | DateType | TimestampType |
             TimestampNTZType => true
        case StringType => !statsKey.contains(c)
        case _ => false
      }
      require(ok, s"stats column '$c' has type ${dt.simpleString} — " +
        "stats need a numeric/date/timestamp column (long-normalized " +
        "min/max + blooms) or, for SECONDARY statsCols only, a string " +
        "column (prefix64-encoded); for string merge keys use " +
        "composite-key MoR ledgers or add a numeric surrogate key")
    }
    enforceCheck(df, check, "create batch")
    val strCols = statsCols.filter { c =>
      df.schema(df.schema.fieldIndex(c)).dataType ==
        org.apache.spark.sql.types.StringType
    }
    val staged = stageShingles(df, root, stageData(df, root, statsKey, statsCols),
      shingleCols, shingleN)
    val ok = tryPublish(root, Commit(0L, "create", staged, Seq.empty, None,
      statsKey = statsKey, check = check, statsCols = statsCols,
      strCols = strCols, shCols = shingleCols, shN = shingleN))
    if (!ok) throw new IllegalStateException(s"table already exists: $root")
    CommitResult(0L, 1, skipped = false)
  }

  /** SHALLOW CLONE — a ZERO-COPY branch of the live snapshot: every
    * live data file hard-links into the clone's data dir (an
    * object-store deployment would reference the shared URIs instead —
    * same idea, the log points at existing bytes), and the clone's v0
    * "clone" commit carries the source's stats, blooms, row counts,
    * stats columns, and CHECK constraint. Branching a 100 TB table
    * costs O(files) metadata operations and ZERO data bytes.
    *
    * Why sharing is safe: data files are IMMUTABLE — both tables only
    * ever add new files (CoW rewrites allocate fresh UUID dirs in the
    * writer's own root), so writes diverge freely after the branch and
    * neither side can corrupt the other. The experiment-branch
    * primitive: try a risky migration/backfill on the clone, compare,
    * throw it away — the source never noticed.
    *
    * Not cloneable BY REFERENCE: live MoR ledgers and schema evolutions
    * still pending on live files — both are scoped to the SOURCE log's
    * version order, which the clone does not inherit. Refused loudly;
    * compaction folds both away, then the clone is clean. NOTE:
    * [[vacuumOrphans]]/[[expireHistory]] on either table delete only
    * paths under their OWN root; a hard-linked file's bytes survive
    * until EVERY table's link is gone (inode refcount) — maintenance on
    * one side cannot break the other. */
  def cloneShallow(root: String, dstRoot: String): CommitResult = {
    val snap = snapshot(root)
    require(snap.version >= 0, s"not a TxTable: $root")
    require(snap.ledgers.isEmpty,
      s"cannot shallow-clone with live MoR ledgers — compact $root first")
    require(!snap.pendingEvo, "cannot shallow-clone with schema evolutions " +
      s"pending on live files — compact $root first")
    snap.files.foreach(linkInto(root, dstRoot, _))
    val ok = tryPublish(dstRoot, Commit(0L, "clone", carried(snap, snap.files),
      Seq.empty, None, statsKey = snap.statsKey, check = snap.check,
      statsCols = snap.statsCols, strCols = snap.strCols,
      shCols = snap.shingleCols, shN = snap.shingleN))
    if (!ok) throw new IllegalStateException(s"table already exists: $dstRoot")
    CommitResult(0L, 1, skipped = false)
  }

  /** WRITE-AUDIT-PUBLISH: adopt a staging branch's post-clone adds back
    * into the table — the missing third of the WAP lifecycle
    * ([[cloneShallow]] is the write-isolation half). Usage: clone main
    * → branch, write/validate on the branch at leisure (bad data stays
    * invisible to main's readers), then `adoptFrom(main, branch)`
    * PUBLISHES atomically: every file the branch ADDED after the clone
    * (added after v0 — clone lands everything at v0) hard-links into the
    * table under its unchanged relative path (uuid dirs are collision-
    * free; cross-filesystem falls back to a copy) and commits as plain
    * adds with the branch log's stats/blooms/row counts carried over —
    * zero data rewrite, O(new files) links + one metadata commit, the
    * same cost shape as the clone itself. Audits the adopted rows
    * against the table's CHECK constraint (a scan of ONLY the adopted
    * files; no Spark job at all without a CHECK) and validates their
    * footer schema against the table union with the merge-mor type
    * guard. Links once, then publishes through [[commitLoop]]; `tag`
    * gives replay idempotence. Branch ledgers/pending evolutions must
    * be compacted first (same rule as the clone). */
  def adoptFrom(spark: SparkSession, dstRoot: String, srcRoot: String,
                tag: Option[String] = None): CommitResult = {
    val src = snapshot(srcRoot)
    require(src.version >= 0, s"not a TxTable: $srcRoot")
    require(src.ledgers.isEmpty,
      s"cannot adopt with live MoR ledgers on the branch — compact $srcRoot first")
    require(!src.pendingEvo, "cannot adopt with schema evolutions pending " +
      s"on the branch's live files — compact $srcRoot first")
    val dst0 = snapshot(dstRoot)
    require(dst0.version >= 0, s"not a TxTable: $dstRoot")
    require(src.statsKey == dst0.statsKey && src.statsCols == dst0.statsCols &&
        src.shingleCols == dst0.shingleCols && src.shingleN == dst0.shingleN,
      s"branch stats contract diverged from the table " +
        s"(${src.statsKey}/${src.statsCols} vs ${dst0.statsKey}/${dst0.statsCols})")
    if (tag.exists(dst0.tags))
      return CommitResult(dst0.version, 1, skipped = true)
    // post-clone adds only: a base file the TABLE has since removed
    // (compaction, delete) must never resurrect through the branch
    val branchAdds = src.files
      .filter(f => src.live(f).version > 0L)
    if (branchAdds.isEmpty)
      return CommitResult(dst0.version, 1, skipped = true)
    // AUDIT: adopted rows must satisfy the table's CHECK (scan bounded
    // to the adopted files — the only Spark job an adopt submits, and
    // only when there is a CHECK) and bind to the table schema
    // type-safely (footer-read on the driver)
    val adopted = inferSchema(spark, srcRoot, branchAdds)
    if (dst0.check.isDefined)
      enforceCheck(readFiles(spark, srcRoot, branchAdds, Some(adopted)),
        dst0.check, "adopted branch rows")
    locally {
      val tbl = currentSchema(spark, dstRoot, dst0)
      val same = sameName(spark)
      // names the table once knew but renamed away: a branch column
      // still carrying a pre-rename name must not silently adopt as a
      // brand-new column and fork the data across two names — the type
      // check below would skip it (absent from the current schema)
      val renamedAway = dst0.evos.collect {
        case (_, op) if op.startsWith("rename:") => op.split(':')(1)
      }
      adopted.foreach { f =>
        val cur = tbl.find(t => same(t.name, f.name))
        require(cur.isDefined || !renamedAway.exists(same(_, f.name)),
          s"adopted column '${f.name}' matches a name the table renamed " +
            s"away after the clone — rebase the branch onto the current " +
            s"schema before adopting")
        cur.foreach { t =>
          require(t.dataType == f.dataType,
            s"adopted column '${f.name}' is ${f.dataType.simpleString} " +
              s"but the table stores ${t.dataType.simpleString} — refused")
        }
      }
    }
    // link ONCE (same relative paths; uuid staging dirs are unique)
    branchAdds.foreach(linkInto(srcRoot, dstRoot, _))
    commitLoop(dstRoot, tag, s"adopt into $dstRoot") { snap =>
      // a racing adopt of the same branch may have landed: adds-only
      // idempotence by content, not just by tag
      val adds = branchAdds.filterNot(snap.files.toSet)
      if (adds.isEmpty) None
      else Some(Commit(snap.version + 1, "adopt", carried(src, adds), Seq.empty, tag))
    }
  }

  /** Transactional write: stage data from the CURRENT snapshot via
    * `body`, publish optimistically, REBASE + retry on conflict (each
    * [[commitLoop]] attempt re-runs `body`). `body`
    * receives the snapshot's DataFrame and returns the full new table
    * content (full-snapshot rewrite keeps the protocol simple; a
    * file-level merge would only change which files land in `removes`).
    * If `tag` is set and any committed version already carries it, the
    * write is a detected replay and becomes a no-op. */
  def transact(spark: SparkSession, root: String, op: String,
               tag: Option[String] = None)
              (body: DataFrame => DataFrame): CommitResult =
    commitLoop(root, tag, s"commit to $root") { snap =>
      // a full-snapshot rewrite starts from the EFFECTIVE content (live
      // delete ledgers applied) and retires those ledgers in the same
      // commit — this is how compaction/OPTIMIZE fold merge-on-read
      // deletes back into the data
      val next = body(morRead(spark, root, snap, snap.files))
      Some(Commit(snap.version + 1, op, stageOn(next, root, snap),
        snap.files ++ snap.ledgers.map(_.path), tag))
    }

  /** Compaction as a normal commit: rewrite the live snapshot into
    * `targetFiles` files (removes = the old live set, adds = the rewrite).
    * Small-file pressure is the chronic failure mode of a streamed-into
    * table (one commit per epoch); because data files are immutable and
    * the log is the only truth, compaction is just another optimistic
    * commit — concurrent writers rebase over it like any other, and
    * historical snapshots still resolve for time travel. */
  def compact(spark: SparkSession, root: String,
              targetFiles: Int = 1): CommitResult =
    transact(spark, root, "compact")(_.coalesce(targetFiles))

  /** RANGE-SCOPED atomic overwrite — Delta's `replaceWhere` on the
    * stats key, i.e. the idempotent BACKFILL primitive: ONE commit
    * deletes every row with key in [lo, hi] and lands `batch` in its
    * place, so re-running a corrected pipeline over one day/shard
    * replaces exactly that slice atomically. File selection is
    * metadata-only — only files whose logged range intersects [lo, hi]
    * rewrite; everything else carries by reference — and the batch is
    * VALIDATED to stay inside the range: a backfill that would silently
    * write outside its own scope is refused before any commit. Replay
    * protection via `tag`; correct under live MoR ledgers (rewrites
    * start from effective content). */
  def replaceWhere(spark: SparkSession, root: String, lo: Long, hi: Long,
                   batch: DataFrame,
                   tag: Option[String] = None): CommitResult = {
    val snap0 = snapshot(root)
    require(snap0.version >= 0, s"not a TxTable: $root")
    val key = primaryKey(snap0, root)
    enforceCheck(batch, snap0.check, "replaceWhere batch")
    val outside = batch.filter(
      col(key).cast("long") < lo || col(key).cast("long") > hi ||
        col(key).isNull).count()
    require(outside == 0L,
      s"replaceWhere([$lo, $hi]) batch carries $outside rows outside " +
        "the replaced range — refused (the commit would silently write " +
        "beyond its own scope)")
    transactFiles(spark, root, "replace-where", tag) { snap =>
      // stats-less files rewrite conservatively
      val touched = snap.kept(
        logCondition(spark, root, snap, col(key).cast("long").between(lo, hi)))
      val keep = snap.files.diff(touched)
      val survivors =
        if (touched.isEmpty)
          emptyRead(spark, root, snap)
        else morRead(spark, root, snap, touched)
          // null (or non-castable) keys are OUT of any declared range —
          // the batch-side validation already treats them as out-of-scope,
          // so rewritten files must keep them: a bare NOT BETWEEN would
          // evaluate NULL and silently drop the row.
          .where(col(key).cast("long").isNull ||
            !col(key).cast("long").between(lo, hi))
      (keep, survivors.unionByName(batch))
    }
  }

  /** TIME-BASED retention — the "RETAIN N DAYS" policy spelled as an
    * operator: expire every version that was already superseded at
    * `tsMillis` (cutoff = the version current at that wall-clock
    * moment, resolved by [[versionAsOfTimestamp]]'s binary search, then
    * snapped down to a covering checkpoint by [[expireHistory]]).
    * Refused — never clamped — when the moment predates retained
    * history, exactly like timestamp time travel. Returns
    * (data files deleted, commits archived). */
  def expireOlderThan(root: String, tsMillis: Long): (Long, Long) =
    expireHistory(root, versionAsOfTimestamp(root, tsMillis))

  /** SIZE-AWARE auto-compaction — the small-file policy a streamed-into
    * table needs as an OPERATOR, not an operator's side effect: every
    * per-epoch commit lands a small file, and a periodic `binPack` folds
    * the accumulated SMALL tail into `targetFiles` while every file
    * already at least `minBytes` carries over BY REFERENCE (zero bytes
    * of compacted history move again — the property that makes the
    * policy affordable on a 100 TB table where full `compact` is not).
    * A no-op (None) when fewer than 2 small files exist. Correct under
    * live MoR ledgers: the rewrite starts from the small files'
    * EFFECTIVE content (ledger rows subtracted) and the replacement
    * postdates every ledger, while kept files keep their ledgers
    * applying — results invariant, spec-pinned. */
  def binPack(spark: SparkSession, root: String, minBytes: Long,
              targetFiles: Int = 1,
              tag: Option[String] = None): Option[CommitResult] = {
    val snap0 = snapshot(root)
    require(snap0.version >= 0, s"not a TxTable: $root")
    // a replayed maintenance epoch is a detected no-op BEFORE the size
    // precheck — the first run's pack leaves <2 small files, so the
    // replay would otherwise read as "nothing to do" instead of "done"
    if (tag.exists(snap0.tags))
      return Some(CommitResult(snap0.version, 1, skipped = true))
    def small(f: String): Boolean =
      Files.size(Paths.get(root, f)) < minBytes
    if (snap0.files.count(small) < 2) return None
    Some(transactFiles(spark, root, "bin-pack", tag) { snap =>
      val keep = snap.files.filterNot(small)
      val smalls = snap.files.diff(keep)
      val rewrite =
        if (smalls.isEmpty)
          emptyRead(spark, root, snap)
        else morRead(spark, root, snap, smalls).coalesce(targetFiles)
      (keep, rewrite)
    })
  }

  /** Applicable-ledger chain length of a live data file: how many live
    * MoR delete ledgers the read path must resolve for it (a ledger
    * applies iff the file was added strictly before the ledger's
    * commit). */
  private def ledgerChain(snap: Snapshot, f: String): Int = {
    val av = snap.addedAt(f)
    snap.ledgers.count(_.version > av)
  }

  /** (max applicable-ledger chain over live files, live ledger count) —
    * the read-path pressure metric [[foldLedgersOver]] bounds. */
  def ledgerPressure(root: String): (Int, Int) = {
    val snap = snapshot(root)
    val mx =
      if (snap.files.isEmpty) 0 else snap.files.map(ledgerChain(snap, _)).max
    (mx, snap.ledgers.size)
  }

  /** Total LIVE delete-set rows across the table's ledgers, resolved
    * from the commit log alone (drows; pre-drows ledgers fall back to a
    * footer read) — the volume [[morRead]]'s in-scan-vs-shuffle
    * policy prices and [[foldLedgersOver]] bounds. A maintenance planner
    * watches this next to [[ledgerPressure]]: chain length tells how
    * many ledger GROUPS a scan resolves, volume tells how many keys the
    * driver holds for it. */
  def ledgerVolume(root: String): Long = {
    val snap = snapshot(root)
    snap.ledgers.map { l =>
      if (l.rows >= 0) l.rows
      else footerRows(root, ledgerFiles(l.path)).map(_ max 0L).sum
    }.sum
  }

  /** LEDGER-PRESSURE policy — the merge-on-read counterpart of
    * [[binPack]]'s small-file policy. A hot file on a streaming-upsert
    * table accumulates one delete ledger per epoch that touches it.
    * (The read path resolves ALL live ledgers inside one scan stage —
    * [[morRead]] — so scan cost no longer grows per epoch; what still
    * grows unboundedly without a fold is the delete-set the read must
    * hold and broadcast, the live ledger file count, and the log
    * metadata every snapshot resolution carries.) This operator
    * BOUNDS the chain: every live data file with MORE than `maxLedgers`
    * applicable ledgers is rewritten from its EFFECTIVE content (ledger
    * rows subtracted), and every ledger left applying to NO kept file
    * retires in the same commit; files at or under the bound carry by
    * reference — zero bytes of within-bound history move again. A no-op
    * (None) when no chain exceeds the bound. Replay-protected via `tag`
    * and epoch-idempotent like binPack: the replayed epoch is detected
    * BEFORE the pressure check, because the first run's fold leaves no
    * over-bound chain and the replay would otherwise read as "nothing to
    * do" instead of "done". */
  def foldLedgersOver(spark: SparkSession, root: String, maxLedgers: Int,
                      tag: Option[String] = None): Option[CommitResult] = {
    require(maxLedgers >= 0, s"maxLedgers must be >= 0: $maxLedgers")
    val snap0 = snapshot(root)
    require(snap0.version >= 0, s"not a TxTable: $root")
    if (tag.exists(snap0.tags))
      return Some(CommitResult(snap0.version, 1, skipped = true))
    // a ZOMBIE ledger scopes no live file (every file postdating it was
    // rewritten away, e.g. by a binPack that packed the whole table):
    // reads already skip it, but it still weighs on the log and every
    // snapshot resolution — retirable by a METADATA-ONLY commit, no
    // bytes moved
    def zombies(s: Snapshot): Seq[String] = s.ledgers.filter(l =>
      !s.files.exists(f =>
        s.addedAt(f) < l.version)).map(_.path)
    if (!snap0.files.exists(ledgerChain(snap0, _) > maxLedgers) &&
        zombies(snap0).isEmpty) return None
    var resolved = false // a rebase left nothing over the bound
    val r = commitLoop(root, tag, s"commit to $root") { snap =>
      val hot = snap.files.filter(ledgerChain(snap, _) > maxLedgers)
      val dead = zombies(snap)
      if (hot.isEmpty && dead.isEmpty) { resolved = true; None }
      else if (hot.isEmpty)
        Some(Commit(snap.version + 1, "fold-ledgers", Seq.empty, dead, tag))
      else {
        val keep = snap.files.diff(hot)
        val staged = stageOn(morRead(spark, root, snap, hot), root, snap)
        // a ledger whose whole applicability set was just rewritten is
        // dead weight — retire it; one still scoping a kept file stays
        val retired = snap.ledgers.filter(l =>
          !keep.exists(f =>
            l.version > snap.addedAt(f))).map(_.path)
        Some(Commit(snap.version + 1, "fold-ledgers", staged, hot ++ retired, tag))
      }
    }
    if (resolved) None else Some(r)
  }

  /** Reclaim ORPHANED data files: staged by writers that lost their
    * commit race (or crashed before publishing) and therefore referenced
    * by NO commit ever written. Deleting them can break nothing — no
    * snapshot, current or historical, can resolve to them. Returns the
    * number of files deleted. (Dropping HISTORY — files only old
    * snapshots reference — is a policy decision this minimal layer
    * deliberately leaves out; time travel stays fully intact.) */
  def vacuumOrphans(root: String): Long = {
    // orphan detection needs the FULL retained history (a checkpoint-
    // folded snapshot only carries the suffix commits): read every commit
    // file, AND every checkpoint — after expireHistory a file can be live
    // while its adding commit is archived, so the checkpoint's file list
    // is what still references it
    import scala.jdk.CollectionConverters._
    val names = {
      val listing = Files.list(logDir(root))
      try listing.iterator().asScala.map(_.getFileName.toString).toList
      finally listing.close()
    }
    val referenced: Set[String] = names.iterator
      .filter(_.endsWith(".json"))
      .flatMap { n =>
        val j = Files.readString(logDir(root).resolve(n))
        if (n.endsWith(".ckpt.json")) {
          val s = parseCkpt(j)
          s.files ++ s.ledgers.flatMap(l => ledgerFiles(l.path))
        } else {
          val c = parse(j)
          // delete ledgers are referenced files too; aliased entries
          // keep their backing data files referenced even after a
          // rewrite removed them from the live set
          c.adds.map(_.path) ++ c.dadds.flatMap(ledgerFiles)
        }
      }
      .toSet
    val dd = dataDir(root)
    if (!Files.isDirectory(dd)) return 0L
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(dd)
    // materialize the candidate list BEFORE deleting (never mutate a
    // directory under its own walk), and close the stream deterministically
    val orphans =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .map(p => p -> Paths.get(root).relativize(p).toString)
        // parquet part files only; leave _SUCCESS/metadata markers alone
        .filter { case (_, rel) =>
          rel.endsWith(".parquet") && !referenced.contains(rel) }
        .map(_._1).toList
      finally walk.close()
    orphans.foreach(Files.deleteIfExists(_))
    orphans.length.toLong
  }

  /** Expire HISTORY — the retention policy [[vacuumOrphans]] deliberately
    * leaves out (the Delta `VACUUM` semantic): drop data files that only
    * snapshots OLDER than `beforeVersion` can reach, and archive their
    * commit records. On a 100 TB table with per-epoch upserts, every
    * rewritten file otherwise lives forever in the name of time travel —
    * retention is the operator decision that bounds that cost.
    *
    * The cutoff snaps DOWN to the newest checkpoint ≤ `beforeVersion`
    * (refused if none exists): versions ≥ the cutoff keep resolving from
    * that checkpoint + the retained commit suffix — reads, time travel,
    * restore, and change feeds in the retained range are untouched.
    * Versions BELOW the cutoff become unresolvable and fail loudly (the
    * resolver's existing archived-history guard). A file is deleted only
    * if NO retained version can reach it: kept = the cutoff snapshot's
    * live files + ledgers + everything added after it. Returns
    * (data files deleted, commit files archived).
    *
    * Run it like any retention job: not concurrently with readers pinned
    * to about-to-expire versions (their scans would lose files mid-read
    * — same contract as Delta's retention window). Concurrent writers
    * and current-snapshot readers are unaffected: nothing at or above
    * the cutoff changes. */
  def expireHistory(root: String, beforeVersion: Long): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val names = {
      val listing = Files.list(logDir(root))
      try listing.iterator().asScala.map(_.getFileName.toString).toList
      finally listing.close()
    }
    val ckpts = names.filter(_.endsWith(".ckpt.json"))
      .map(_.stripSuffix(".ckpt.json").toLong)
    val eligible = ckpts.filter(_ <= beforeVersion)
    require(eligible.nonEmpty,
      s"no checkpoint at or below v$beforeVersion in $root — nothing can " +
        "be expired yet (checkpoints land every " + checkpointInterval +
        " commits)")
    val cutoff = eligible.max
    val head = snapshot(root)
    val atCutoff = snapshot(root, cutoff)
    require(atCutoff.version == cutoff,
      s"cutoff checkpoint v$cutoff does not resolve cleanly")
    // everything any retained version (>= cutoff) can reach
    val needed: Set[String] =
      atCutoff.files.toSet ++
        atCutoff.ledgers.flatMap(l => ledgerFiles(l.path)) ++
        ((cutoff + 1) to head.version).iterator.flatMap { v =>
          val p = commitPath(root, v)
          if (Files.exists(p)) {
            val c = parse(Files.readString(p))
            c.adds.map(_.path) ++ c.dadds.flatMap(ledgerFiles)
          } else Seq.empty
        }
    val archivable = names
      .filter(n => n.endsWith(".json") && !n.endsWith(".ckpt.json"))
      .map(_.stripSuffix(".json").toLong)
      .filter(_ < cutoff)
    // data files only pre-cutoff commits reference, minus the needed set
    val doomed: Set[String] = archivable.iterator.flatMap { v =>
      val c = parse(Files.readString(commitPath(root, v)))
      c.adds.map(_.path) ++ c.dadds.flatMap(ledgerFiles)
    }.toSet -- needed
    doomed.foreach(f => Files.deleteIfExists(Paths.get(root, f)))
    // archive the commit records below the cutoff, then stale checkpoints
    archivable.foreach(v => Files.deleteIfExists(commitPath(root, v)))
    ckpts.filter(_ < cutoff).foreach(v => Files.deleteIfExists(ckptPath(root, v)))
    (doomed.size.toLong, archivable.size.toLong)
  }

  /** MERGE (upsert) convenience: rows in `changes` replace same-key rows
    * and new keys append — the Q-qual-05 dataflow, transactional.
    * Full-snapshot rewrite (simple, correct); [[mergeCow]] is the shape
    * that survives 100 TB. */
  def merge(spark: SparkSession, root: String, changes: DataFrame,
            keys: Seq[String], tag: Option[String] = None): CommitResult =
    transact(spark, root, "merge", tag) { current =>
      // anti-join keeps unmatched current rows; union brings every change
      // allowMissingColumns = schema evolution: a column new to the
      // changes surfaces as NULL on carried-over rows (and vice versa)
      current.join(changes.select(keys.map(col): _*).distinct(), keys, "left_anti")
        .unionByName(changes, allowMissingColumns = true)
    }

  /** File-level transactional write: `body` inspects the snapshot and
    * returns (files to KEEP as-is, replacement content for the rest).
    * The commit removes only `snap.files -- keep`; kept files never move,
    * never rewrite, never re-stage — which is what makes incremental
    * writes to a huge table affordable. Each attempt of [[commitLoop]]
    * re-runs `body` on its fresh snapshot (rebase on a lost race). */
  def transactFiles(spark: SparkSession, root: String, op: String,
                    tag: Option[String] = None, sizeStaged: Boolean = false)
                   (body: Snapshot => (Seq[String], DataFrame)): CommitResult = {
    var rewrite: DataFrame = null // this attempt's staged content
    // ADDS-ONLY commit (append shape): seed the schema cache from the
    // cached union. (Removes can shrink the union; those commits leave
    // the cache to the delta/full recompute path.)
    commitLoop(root, tag, s"commit to $root", afterPublish = (snap, c) =>
      if (c.removes.isEmpty && snap.evos.isEmpty && c.adds.nonEmpty)
        cachedSchemaFor(root, (snap.evos, snap.files)).foreach(
          seedAppended(spark, root, snap, c.adds.map(_.path), _, rewrite.schema))) { snap =>
      val (keep, next) = body(snap)
      rewrite = next
      Some(Commit(snap.version + 1, op, stageOn(next, root, snap, sizeStaged),
        snap.files.diff(keep), tag))
    }
  }

  /** APPEND: the new batch lands as new files; every existing file
    * carries over by reference — the per-epoch ingest commit.
    *
    * Stages ONCE, before the publish race: an append's adds are
    * snapshot-INDEPENDENT (keep = whatever is live at publish time), so
    * a rebased retry re-references the same staged files under the new
    * head version instead of re-running the staging write job — under
    * N-writer contention a lost race costs a log re-read + one
    * hard-link attempt, never a data rewrite (same discipline as
    * [[mergeMorKeys]]/[[deleteMorKeys]]). With per-attempt re-staging,
    * 8 writers exhausted their attempt budget; staged-once they
    * serialize cleanly. */
  def append(spark: SparkSession, root: String, batch: DataFrame,
             tag: Option[String] = None): CommitResult = {
    val snap0 = snapshot(root)
    require(snap0.version >= 0, s"not a TxTable: $root")
    enforceCheck(batch, snap0.check, "append batch")
    if (tag.exists(snap0.tags))
      return CommitResult(snap0.version, 1, skipped = true)
    // a replay that races in while we stage leaves this staging
    // unreferenced; vacuumOrphans reclaims it
    val staged = stageOn(batch, root, snap0)
    // adds-only commit: seed the schema cache as transactFiles does
    commitLoop(root, tag, s"commit to $root", afterPublish = (snap, c) =>
      if (snap.evos.isEmpty && c.adds.nonEmpty)
        cachedSchemaFor(root, (snap.evos, snap.files)).foreach(
          seedAppended(spark, root, snap, c.adds.map(_.path), _, batch.schema))) { snap =>
      Some(Commit(snap.version + 1, "append", staged, Seq.empty, tag))
    }
  }

  /** OPTIMIZE: re-cluster the live snapshot by the table's stats key —
    * range partition + within-file sort into `targetFiles` files, as a
    * normal optimistic commit. A streamed-into table accretes files that
    * EACH span the whole key domain (every epoch carries all keys), so
    * the log's per-file [min, max] can never exclude anything and
    * [[readWhere]] degenerates to a full scan. After OPTIMIZE the files
    * tile the key space with tight disjoint stats, so a range read opens
    * ~(selected range / table range) of the files — the layout move that
    * turns a 100 TB table's point/range lookups from O(table) to
    * O(result). Time travel to pre-OPTIMIZE versions still resolves. */
  def optimize(spark: SparkSession, root: String,
               targetFiles: Int = 4): CommitResult = {
    val key = snapshot(root).statsKey.getOrElse(
      throw new IllegalArgumentException(
        s"optimize needs a stats key — create(df, root, statsKey = Some(...))"))
    transact(spark, root, "optimize")(
      _.repartitionByRange(targetFiles, col(key)).sortWithinPartitions(key))
  }

  /** Single-column OPTIMIZE on ANY declared stats column — including a
    * STRING one: `repartitionByRange` orders strings natively (binary
    * collation, the same order prefix64 preserves), so after the
    * re-cluster each file covers a compact slice of the string axis and
    * its logged prefix64 [min, max] prunes range/prefix reads from the
    * log alone. */
  def optimizeOn(spark: SparkSession, root: String, column: String,
                 targetFiles: Int = 4): CommitResult = {
    requireAxes(snapshot(root), "optimizeOn", Seq(column), numeric = false)
    transact(spark, root, "optimize")(
      _.repartitionByRange(targetFiles, col(column)).sortWithinPartitions(column))
  }

  /** The clustering axes of `what` must be declared for stats — the
    * re-clustered layout would otherwise record no prunable metadata —
    * and, when `numeric`, not string ones: the z-order curves bucket by
    * equal-frequency quantiles. */
  private def requireAxes(snap: Snapshot, what: String, axes: Seq[String],
                          numeric: Boolean = true): Unit = {
    val declared = snap.statsKey.toSeq ++ snap.statsCols
    require(axes.forall(declared.contains),
      s"$what(${axes.mkString(", ")}) needs every dimension declared for " +
        s"stats (have ${declared.mkString("[", ",", "]")}) — the " +
        "re-clustered layout would otherwise record no prunable metadata")
    require(!numeric || axes.forall(c => !snap.strCols.contains(c)),
      s"$what needs numeric axes (equal-frequency quantile bucketing) — " +
        "cluster a string axis with optimizeOn instead")
  }

  /** Multi-dimensional OPTIMIZE: re-cluster the live snapshot along the
    * z-order (Morton) curve of (`x`, `y`) — [[ZOrderLayout]] composed
    * with the transactional commit path. A single-key OPTIMIZE serves
    * only that key's predicates: files tile the key axis, so a range
    * read on ANY other column still opens every file. After optimizeZ
    * each file covers a compact (x, y) TILE, so its logged per-file
    * [min, max] is tight on BOTH dimensions and a range/point read on
    * either one prunes most files from the log alone (the Delta
    * `OPTIMIZE ... ZORDER BY` semantic). The dimensions should be the
    * table's primary stats key and a declared secondary stats column —
    * otherwise the tightened layout has no logged stats to prune with.
    * Time travel to pre-OPTIMIZE versions still resolves. */
  def optimizeZ(spark: SparkSession, root: String, x: String, y: String,
                targetFiles: Int = 4): CommitResult = {
    requireAxes(snapshot(root), "optimizeZ", Seq(x, y))
    transact(spark, root, "optimize-z")(
      ZOrderLayout.clusterByZ(_, col(x), col(y), targetFiles))
  }

  /** [[optimizeZ]] on ANY 2..7 declared numeric stats axes — the Delta
    * `OPTIMIZE ... ZORDER BY (c1, ..., cn)` surface. Each output file
    * covers a compact n-dimensional tile, so every clustered axis's
    * logged per-file [min, max] prunes range/point reads from the log
    * alone. Same stats/bloom capture and time-travel behavior as any
    * commit; cluster the few axes queries actually filter on (each added
    * dimension halves per-axis tile resolution at a fixed file budget). */
  def optimizeZN(spark: SparkSession, root: String, columns: Seq[String],
                 targetFiles: Int = 8): CommitResult = {
    requireAxes(snapshot(root), "optimizeZN", columns)
    transact(spark, root, "optimize-z")(
      ZOrderLayout.clusterByZN(_, columns.map(col), targetFiles))
  }

  /** INCREMENTAL [[optimizeZ]]: re-tile ONLY the files added AFTER
    * `sinceVersion`; everything older carries over by reference — zero
    * bytes of the already-optimized tiles move. This is the per-epoch
    * maintenance shape a streamed-into 100 TB table needs: appends
    * accrete all day, the nightly pass re-tiles just the day's
    * accretion, and the commit cost is proportional to the NEW data,
    * never the table. Live merge-on-read ledgers stay correct: the
    * rewrite starts from the subset's effective content (ledger rows
    * already subtracted), kept files keep their ledgers applying, and
    * the new files postdate every ledger. Typically `sinceVersion` is
    * the previous optimize commit's version. */
  def optimizeZSince(spark: SparkSession, root: String, x: String, y: String,
                     sinceVersion: Long, targetFiles: Int = 4): CommitResult = {
    requireAxes(snapshot(root), "optimizeZSince", Seq(x, y))
    retileSince(spark, root, sinceVersion)(
      ZOrderLayout.clusterByZ(_, col(x), col(y), targetFiles))
  }

  /** INCREMENTAL [[optimizeZN]]: re-tile only the files added after
    * `sinceVersion` along the N-dimensional curve; everything older
    * carries over by reference — the same per-epoch maintenance shape as
    * [[optimizeZSince]], on any 2..7 declared numeric axes. */
  def optimizeZNSince(spark: SparkSession, root: String,
                      columns: Seq[String], sinceVersion: Long,
                      targetFiles: Int = 8): CommitResult = {
    requireAxes(snapshot(root), "optimizeZNSince", columns)
    retileSince(spark, root, sinceVersion)(
      ZOrderLayout.clusterByZN(_, columns.map(col), targetFiles))
  }

  /** Rewrite the effective content of the files added after
    * `sinceVersion` through `cluster`; older files are kept. */
  private def retileSince(spark: SparkSession, root: String, sinceVersion: Long)
                         (cluster: DataFrame => DataFrame): CommitResult =
    transactFiles(spark, root, "optimize-z-incr") { snap =>
      val keep = snap.files.filter(snap.addedAt(_) <= sinceVersion)
      val fresh = snap.files.diff(keep)
      (keep, if (fresh.isEmpty) emptyRead(spark, root, snap)
             else cluster(morRead(spark, root, snap, fresh)))
    }

  /** Copy-on-write DELETE — [[mergeCow]]'s file selection (metadata-only
    * when the table has log stats) with a remove-rows rewrite: files
    * whose `key` range can contain a doomed key are rewritten WITHOUT
    * the matching rows; every other file carries over by reference. A
    * delete set clustered on the table's layout (e.g. a retention window
    * on a time-keyed table, a GDPR erasure on an id-range-clustered
    * table) touches only its own files. */
  def deleteCow(spark: SparkSession, root: String, doomed: DataFrame,
                key: String, tag: Option[String] = None): CommitResult =
    transactFiles(spark, root, "delete-cow", tag) { snap =>
      val touched = selectTouched(spark, root, snap, doomed, key)
      val keep = snap.files.filterNot(touched)
      val rewrite =
        if (touched.isEmpty) // nothing can match: empty rewrite, table schema
          emptyRead(spark, root, snap)
        else {
          // same build-side policy as mergeCow: dedup only the broadcast
          // form — on the shuffled form the distinct's HashAggregate
          // breaks OptimizeSkewedJoin's plan-shape match and a Zipf data
          // key could never be skew-split (anti-join existence semantics
          // make build duplicates harmless)
          val keyCol = doomed.select(col(key))
          val bcast = spark.sessionState.conf.autoBroadcastJoinThreshold
          val willBroadcast = bcast > 0 &&
            keyCol.queryExecution.optimizedPlan.stats.sizeInBytes <= bcast
          morRead(spark, root, snap, touched.toSeq)
            .join(if (willBroadcast) keyCol.distinct() else keyCol,
              Seq(key), "left_anti")
        }
      (keep, rewrite)
    }

  /** Files whose logged (or computed) `key` range can contain a key of
    * `changes` — the shared CoW file-selection step of [[mergeCow]] /
    * [[deleteCow]]. Metadata-only when every live file has log stats. */
  private def selectTouched(spark: SparkSession, root: String,
                            snap: Snapshot, changes: DataFrame,
                            key: String): Set[String] = {
    import org.apache.spark.sql.functions.{broadcast, col, input_file_name, max, min}
    val rootAbs = Paths.get(root).toAbsolutePath
    val keysDf = changes.select(col(key).as("k")).distinct()
    val logStats = snap.files.map(snap.live(_).range)
    if (snap.statsKey.contains(key) && logStats.forall(_.isDefined)) {
      import spark.implicits._
      val statsDf = snap.files.zip(logStats.flatten)
        .map { case (f, (mn, mx)) => (f, mn, mx) }
        .toDF("f", "mn", "mx")
      statsDf.join(broadcast(keysDf),
          col("k").cast("long") >= col("mn") &&
          col("k").cast("long") <= col("mx"), "left_semi")
        .select("f").collect().map(_.getString(0)).toSet
    } else {
      val absFiles = snap.files.map(f => s"$root/$f")
      spark.read.parquet(absFiles: _*)
        .select(input_file_name().as("f"), col(key).as("k"))
        .groupBy("f").agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
        .join(broadcast(keysDf),
          col("k") >= col("mn") && col("k") <= col("mx"), "left_semi")
        .select("f").collect().map(_.getString(0))
        .map(u => rootAbs.relativize(
          Paths.get(java.net.URI.create(u).getPath)).toString)
        .toSet
    }
  }

  /** CHANGE FEED (CDC) between two committed versions, computed from the
    * log alone: on a copy-on-write table every row change rewrites its
    * file, so the net diff fromV -> toV lives entirely in (files live at
    * `fromV` but not `toV`) vs (files live at `toV` but not `fromV`) —
    * the read cost is proportional to the files the interval TOUCHED,
    * never the table (the same reason Delta-style engines can serve CDC
    * without a change column). Rows carried verbatim through a rewrite
    * (or a compaction) appear on both sides and cancel under the
    * null-safe image comparison.
    *
    * Returns one row per net-changed key: the key columns, `change` in
    * ('insert' | 'update' | 'delete'), and `pre` / `post` structs of the
    * non-key columns (NULL on the absent side). Assumes the non-key
    * schema is stable across the interval (read the full snapshots when
    * diffing across a schema evolution). */
  def changeFeed(spark: SparkSession, root: String,
                 fromV: Long, toV: Long, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, struct, when}
    require(fromV <= toV, s"changeFeed range inverted: $fromV > $toV")
    val from = snapshot(root, fromV)
    val to = snapshot(root, toV)
    require(from.version == fromV && to.version == toV,
      s"changeFeed endpoints unresolved: asked [$fromV, $toV], " +
        s"log has [${from.version}, ${to.version}]")
    val preFiles = from.files.diff(to.files)
    val postFiles = to.files.diff(from.files)
    // MERGE-ON-READ deletes change content WITHOUT changing the file
    // set: a ledger added in (fromV, toV] kills rows inside files live
    // on both sides. Those common files join the diff on BOTH sides —
    // each side resolved under its own version's ledgers — so the
    // killed rows surface as 'delete' and the untouched rows cancel
    // under the null-safe image comparison. The candidate set is pruned
    // by the log's stats/blooms against a bounded sample of the new
    // ledgers' keys (an oversized ledger keeps every applicable common
    // file — conservative, never wrong).
    val newLedgers = to.ledgers.filter(l => l.version > fromV)
    val common = from.files.intersect(to.files)
    val morTouched: Seq[String] =
      if (newLedgers.isEmpty) Seq.empty
      else {
        val applicable = common.filter { f =>
          val av = to.addedAt(f)
          newLedgers.exists(_.version > av)
        }
        // resolve each ledger's key signature from the log (aliased
        // entries carry the full data schema on disk — the sig names
        // the key projection); pre-dsigs ledgers read their own schema
        val sigs = newLedgers.map { l =>
          if (l.sig.nonEmpty) decodeSig(l.sig)
          else {
            val ks = spark.read.parquet(s"$root/${l.path}")
            (ks.columns.toSeq,
              ks.schema.map(_.dataType.catalogString).toSeq,
              ks.columns.length == 1 &&
                ks.schema.head.dataType ==
                  org.apache.spark.sql.types.LongType)
          }
        }
        if (sigs.exists(!_._3))
          applicable // composite/natural-key ledgers: no long stats to prune by
        else {
        val keyRows = newLedgers.zip(sigs)
          .map { case (l, (ns, _, _)) =>
            (if (isAliased(l.path))
               readFilesEvolved(spark, root, to, ledgerFiles(l.path))
             else spark.read.parquet(s"$root/${l.path}"))
              .select(col(ns.head).cast("long").as("k"))
          }
          // a NULL ledger key deletes nothing and proves no file empty
          .reduce(_.unionByName(_)).where(col("k").isNotNull).distinct()
          .limit(10001).collect()
        if (keyRows.length > 10000) applicable // too many to prune by
        else {
          val doomedKeys = keyRows.map(_.getLong(0)).toSeq
          to.statsKey.fold(applicable)(k => to.copy(files = applicable).kept(
            logCondition(spark, root, to, col(k).cast("long").isin(doomedKeys: _*))))
        }
        }
      }
    val template = readFilesEvolved(spark, root, to, to.files.take(1)).limit(0)
    val valueCols = template.columns.filterNot(keys.contains).toSeq
    def side(snap: Snapshot, files: Seq[String], name: String): DataFrame = {
      val df = if (files.isEmpty) template else morRead(spark, root, snap, files)
      df.select(keys.map(col) :+
        struct(valueCols.map(col): _*).as(name): _*)
    }
    // null-safe key equality: a NULL-key row both sides hold unchanged
    // cancels instead of surfacing as a delete + insert pair
    side(from, preFiles ++ morTouched, "pre").as("a")
      .join(side(to, postFiles ++ morTouched, "post").as("b"),
        keys.map(k => col(s"a.$k") <=> col(s"b.$k")).reduce(_ && _), "full_outer")
      .filter(!(col("pre") <=> col("post")))
      .select(keys.map(k => coalesce(col(s"a.$k"), col(s"b.$k")).as(k)) ++ Seq(
        when(col("pre").isNull, "insert")
          .when(col("post").isNull, "delete")
          .otherwise("update").as("change"),
        col("pre"), col("post")): _*)
  }

  /** Copy-on-write MERGE — the merge shape that holds at 100 TB: only
    * files whose key range can CONTAIN a changed key are rewritten
    * (anti-join + union, exactly [[merge]]'s semantics); every other
    * file carries over by reference in the commit. When the table was
    * created with a stats key, file selection reads ONLY the commit
    * log's per-file [min, max] — zero data I/O before the rewrite
    * itself; otherwise one distributed pass computes the ranges. A
    * change batch with entirely new keys touches ZERO existing files —
    * pure incremental append. On a range-partitioned table (writers
    * cluster by key, e.g. time), a merge touches only the tail files —
    * the streaming-upsert shape. min/max is a sound over-approximation:
    * a file inside the range but without the key is rewritten verbatim,
    * never corrupted.
    *
    * Composite merge keys: pass `mergeKeys` (which must CONTAIN `key`) to
    * upsert on a composite identity while files are still selected by
    * `key`'s ranges alone — the streaming-upsert shape, where a keyed
    * window aggregate merges on (window, group) but an epoch's files are
    * picked by the window-time column. `key` ∈ `mergeKeys` is what makes
    * range selection SOUND: every current row matching a change's full
    * key shares its `key` value, so it must live in a touched file. */
  def mergeCow(spark: SparkSession, root: String, changes: DataFrame,
               key: String, tag: Option[String] = None,
               mergeKeys: Seq[String] = Seq.empty): CommitResult = {
    val mk = if (mergeKeys.isEmpty) Seq(key) else mergeKeys
    require(mk.contains(key),
      s"mergeKeys $mk must contain the file-selection key '$key' — " +
        "otherwise a matching row could hide in an unselected file")
    enforceCheck(changes, snapshot(root).check, "merge changes")
    transactFiles(spark, root, "merge-cow", tag, sizeStaged = true) { snap =>
      // selection reads ONLY the commit log's per-file [min,max] when the
      // table has a stats key — zero data I/O before the rewrite itself
      val touched = selectTouched(spark, root, snap, changes, key)
      val keep = snap.files.filterNot(touched)
      // rewrites start from EFFECTIVE content: a key deleted by a live
      // ledger must not resurrect through a rewrite it wasn't part of
      // (the rewritten file postdates the ledger, escaping it).
      //
      // Output-partitioning is PLAN-FORM dependent. Small epoch batch →
      // the anti-join broadcasts (no exchange), the rewrite inherits
      // one output partition per input SPLIT, and a small merge
      // shatters into a dozen near-empty files — each paying writer
      // init, a footer read, stats, and a log entry per commit
      // (profiled: 15 files/commit on a streaming upsert sink); a
      // narrow coalesce to the touched-file count fixes that and
      // roughly preserves per-file locality. Big batch → the join
      // SHUFFLES by the merge keys, and the same coalesce becomes a
      // scale-killer: its narrow dependency caps the JOIN's own task
      // count at touched.size, and under a Zipf merge-key distribution
      // it re-fuses the very partitions AQE's skew handling just split
      // — so the shuffled form skips it and lets AQE both split the
      // hot key (skew=true, spec-pinned) and size the output files
      // (stageData already sets parallelismFirst=false). The form is
      // decided like the planner decides it: optimizer size estimate
      // of the build side vs the session's broadcast threshold.
      // Caveat: AQE may still convert the shuffled form to broadcast
      // at runtime from ACTUAL shuffle sizes; on that mismatch the
      // rewrite runs a broadcast anti-join without the distinct or the
      // touched-size coalesce — content stays exact (anti-join tests
      // existence), only the small-file shape is briefly reintroduced.
      val touchedContent =
        if (touched.isEmpty) changes
        else {
          val keyCols = changes.select(mk.map(col): _*)
          val bcast = spark.sessionState.conf.autoBroadcastJoinThreshold
          val willBroadcast = bcast > 0 &&
            keyCols.queryExecution.optimizedPlan.stats.sizeInBytes <= bcast
          // build-side dedup ONLY on the broadcast form (smaller hash
          // relation). An anti-join tests EXISTENCE, so duplicate build
          // keys never change the result — and on the shuffled form the
          // distinct's final HashAggregate would sit between the
          // shuffle stage and the join's Sort, a shape AQE's
          // OptimizeSkewedJoin refuses to match: with it, a Zipf merge
          // key could never be skew-split (spec-pinned skew=true).
          val build = if (willBroadcast) keyCols.distinct() else keyCols
          val rewrite0 = morRead(spark, root, snap, touched.toSeq)
            .join(build, mk, "left_anti")
            .unionByName(changes, allowMissingColumns = true)
          if (willBroadcast) rewrite0.coalesce(math.max(1, touched.size))
          else rewrite0
        }
      (keep, touchedContent)
    }
  }

  /** MERGE-ON-READ delete — the point-delete path that rewrites ZERO
    * data files: the doomed keys land as one tiny ledger file and the
    * commit references it; every read subtracts live ledgers from the
    * files they postdate ([[morRead]]), a later re-insert of the same
    * key is NOT re-deleted (newer files escape older ledgers), and any
    * full rewrite — compact / OPTIMIZE / merge touching the file —
    * folds the ledger's effect into data and retires it. This is the
    * deletion-vector trade: O(doomed keys) commit cost now, and until
    * the next compaction a key filter inside every read's scan (the
    * first read after the ledger loads its keys once; over
    * `spark.graft.mor.broadcastMaxBytes`, a shuffled anti-join instead)
    * — what per-epoch streaming upserts against a hot 100 TB table need
    * (CoW would pay file-rewrite costs every epoch). `key` must cast to
    * long. */
  def deleteMor(spark: SparkSession, root: String, doomed: DataFrame,
                key: String, tag: Option[String] = None): CommitResult =
    deleteMorKeys(spark, root, doomed, Seq(key), tag)

  /** Integral types that long-normalize LOSSLESSLY. A single-column
    * ledger over one of these is stored as long (the form the change
    * feed prunes against stats/blooms); any other type — string, double,
    * timestamp — keeps its NATURAL type and reads subtract by null-safe
    * equality (a long cast of a string is NULL, and a non-null-safe
    * anti-join on NULLs matches nothing — the ledger would silently
    * no-op, which for a merge means duplicate rows). */
  private def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }

  /** The ledger projection for [[deleteMorKeys]] / [[mergeMorKeys]]:
    * long-normalized only when that is lossless. */
  private def ledgerKeys(df: DataFrame, keys: Seq[String]): DataFrame = {
    if (keys.size == 1 && isIntegral(
        df.schema(df.schema.fieldIndex(keys.head)).dataType))
      df.select(col(keys.head).cast("long").as(keys.head))
    else df.select(keys.map(col): _*)
  }

  /** [[deleteMor]] on a COMPOSITE key: the ledger keeps every key column
    * in its natural type and reads subtract by null-safe equality on all
    * of them. A single-column ledger stays long-normalized (the form the
    * change feed can prune against stats/blooms). */
  def deleteMorKeys(spark: SparkSession, root: String, doomed: DataFrame,
                    keys: Seq[String], tag: Option[String] = None): CommitResult = {
    require(keys.nonEmpty, "deleteMorKeys needs at least one key column")
    val ledgerDf = ledgerKeys(doomed, keys)
    // stage the ledger once; rebased retries re-reference the same file
    val dfiles = stageData(ledgerDf.distinct().coalesce(1), root,
      statsKey = None).map(_.path)
    val dsig = encodeSig(ledgerDf.schema)
    commitLoop(root, tag, s"delete-mor commit to $root") { snap =>
      Some(Commit(snap.version + 1, "delete-mor",
        adds = Seq.empty, removes = Seq.empty, tag, dadds = dfiles,
        dsigs = dfiles.map(_ => dsig)))
    }
  }

  /** MERGE-ON-READ upsert — one commit, zero data-file rewrites: the
    * changed keys land as a delete ledger AND their new row versions
    * land as data adds in the SAME commit. The ledger (version v)
    * scopes only files added strictly before v, so the commit's own
    * adds carry the new versions while every older copy of the keys is
    * suppressed at read. Commit cost is O(changed rows) — the per-epoch
    * streaming-upsert path a hot, poorly-clustered 100 TB table needs,
    * where [[mergeCow]] pays a rewrite of every file that merely
    * CONTAINS a touched key. Until [[compact]]/[[optimize]] fold
    * ledgers back into data, reads resolve them in [[morRead]] — inside
    * the scan for a single integral key, by anti-join for a composite
    * or natural-typed one; stats,
    * blooms and row counts for the adds are captured as for any append,
    * so pruning and [[metaAggregate]] stay correct across MoR upserts
    * (ledger-scoped files simply drop off the metadata fast path until
    * compaction). CHECK constraints validate the incoming batch exactly
    * as [[append]] does. */
  def mergeMor(spark: SparkSession, root: String, changes: DataFrame,
               key: String, tag: Option[String] = None): CommitResult =
    mergeMorKeys(spark, root, changes, Seq(key), tag)

  /** [[mergeMor]] on a COMPOSITE key — the upsert identity a keyed
    * window aggregate sink needs (e.g. (window, event_type)): the ledger
    * carries all key columns in natural types; reads subtract by
    * null-safe equality on the whole tuple. */
  def mergeMorKeys(spark: SparkSession, root: String, changes: DataFrame,
                   keys: Seq[String], tag: Option[String] = None): CommitResult = {
    require(keys.nonEmpty, "mergeMorKeys needs at least one key column")
    val snap0 = snapshot(root)
    require(snap0.version >= 0, s"not a TxTable: $root")
    enforceCheck(changes, snap0.check, "merge-mor batch")
    // a MoR batch lands VERBATIM as new data files — nothing unions it
    // with existing rows at write time (that deferral is the whole
    // point), so a type-mismatched column would only explode at READ
    // time, long after the commit poisoned the table. Refuse it here,
    // before any staging. (The CoW path fails naturally at stage time —
    // its rewrite unions old and new rows.)
    keys.foreach(k => require(changes.columns.contains(k),
      s"merge key '$k' missing from the merge-mor batch " +
        s"(batch columns: ${changes.columns.mkString(", ")})"))
    val tbl = currentSchema(spark, root, snap0)
    // a batch column differing only in case may still bind to the table
    // column at read time, so it must hit the same type guard here
    val same = sameName(spark)
    locally {
      changes.schema.foreach { f =>
        tbl.find(t => same(t.name, f.name)).foreach { t =>
          require(t.dataType == f.dataType,
            s"merge-mor batch column '${f.name}' is " +
              s"${f.dataType.simpleString} but the table stores " +
              s"${t.dataType.simpleString} — refused (the mismatched " +
              "file would fail every later read)")
        }
      }
    }
    // stage data ONCE; the delete ledger is NOT staged at all — it is
    // by construction the key projection of the staged adds, so the
    // commit records one aliased `@…` entry pointing at them (see
    // [[isAliased]]). That halves the write jobs of the per-epoch MoR
    // commit path (profiled: the staged-write fixed cost dominates a
    // drain), covers exactly the rows that landed even if the upstream
    // plan is non-deterministic between executions, and rebased
    // retries re-reference the same staging.
    // MoR adds have no layout contract (reads union them under the
    // ledger resolution; the next compaction re-clusters) — let staging
    // right-size a shattered small batch (a streaming upsert sink's
    // state-store output otherwise lands ~20 near-empty files per
    // epoch; profiled 656 staged files over a 32-commit drain).
    val staged = stageOn(changes, root, snap0, sizeStaged = true)
    val dfiles =
      if (staged.isEmpty) Seq.empty[String]
      else Seq("@" + staged.map(_.path).mkString(";"))
    // the signature comes from the VALIDATED batch schema (the staged
    // parquet round-trips it exactly), long-normalized the same way
    // [[ledgerKeys]] would — no read-back job
    val dsig = encodeSig(org.apache.spark.sql.types.StructType(
      if (keys.size == 1 && isIntegral(
          changes.schema(changes.schema.fieldIndex(keys.head)).dataType))
        Seq(org.apache.spark.sql.types.StructField(keys.head,
          org.apache.spark.sql.types.LongType))
      else keys.map(k => changes.schema(changes.schema.fieldIndex(k)))))
    // seed the schema cache for the post-commit witness: the union
    // schema grows only by the batch's validated new columns, so the
    // NEXT micro-batch's validation pays zero inference jobs — the
    // remaining per-commit footer job of a streaming MoR drain.
    // Only on the un-rebased path (snap == the snapshot `tbl` was
    // validated against): a rebase may have raced in columns this
    // union can't see.
    commitLoop(root, tag, s"merge-mor commit to $root",
      afterPublish = (snap, c) =>
        if (snap.version == snap0.version)
          seedAppended(spark, root, snap, c.adds.map(_.path), tbl, changes.schema)) { snap =>
      Some(Commit(snap.version + 1, "merge-mor", staged, Seq.empty, tag,
        dadds = dfiles, dsigs = dfiles.map(_ => dsig)))
    }
  }

  private val identName = "^[A-Za-z_][A-Za-z0-9_]*$".r

  /** Metadata-only commit of one schema evolution, `validate`d against
    * each attempt's snapshot. */
  private def commitEvo(root: String, op: String, evo: String,
                        tag: Option[String])
                       (validate: Snapshot => Unit): CommitResult =
    commitLoop(root, tag, s"$op commit to $root") { snap =>
      validate(snap)
      Some(Commit(snap.version + 1, op, Seq.empty, Seq.empty, tag,
        evos = Seq(evo)))
    }

  /** SCHEMA EVOLUTION: rename a column as a METADATA-ONLY commit — zero
    * data files rewritten (the Delta/Iceberg column-mapping idea held in
    * the log's total order). Reads reconcile: files written BEFORE this
    * commit surface the column under the new name; later appends/merges
    * write the new name natively and are left untouched. Time travel to
    * pre-rename versions still shows the old name (the op postdates
    * nothing there). Refused for the stats key / stats columns (their
    * identity anchors logged stats) and while merge-on-read ledgers are
    * live (a ledger names its key column — compact first). */
  def renameColumn(spark: SparkSession, root: String, from: String,
                   to: String, tag: Option[String] = None): CommitResult =
    commitEvo(root, "rename-column", s"rename:$from:$to", tag) { snap =>
      require(identName.matches(from) && identName.matches(to) && from != to,
        s"rename needs two distinct identifier-shaped names, got '$from' -> '$to'")
      require(!snap.statsKey.contains(from) && !snap.statsCols.contains(from),
        s"cannot rename stats column '$from' — logged stats anchor to it")
      require(snap.check.forall(c => !c.contains(from)),
        s"cannot rename '$from': the table CHECK constraint references it")
      require(snap.ledgers.isEmpty,
        "cannot rename while merge-on-read delete ledgers are live — " +
          "compact first to fold them")
      val schema = readFilesEvolved(spark, root, snap,
        snap.files.take(1)).schema.fieldNames.toSet
      require(schema.contains(from), s"no column '$from' to rename")
      require(!schema.contains(to), s"column '$to' already exists")
    }

  /** SCHEMA EVOLUTION: widen a column's type (int → long, float →
    * double) as a METADATA-ONLY commit. Reads cast the files the op
    * postdates, so old int rows and new long rows union under ONE wide
    * type — the parquet-level merge that `mergeSchema` refuses never
    * happens. Stats columns may only widen to an integral type (their
    * logged [min, max]/blooms are already held as long). */
  def widenColumn(spark: SparkSession, root: String, column: String,
                  to: String, tag: Option[String] = None): CommitResult =
    commitEvo(root, "widen-column", s"widen:$column:$to", tag) { snap =>
      require(identName.matches(column), s"bad column name '$column'")
      val allowed = Set("long", "bigint", "double")
      require(allowed(to.toLowerCase),
        s"widen target must be one of $allowed, got '$to'")
      require(!(to.equalsIgnoreCase("double") &&
          (snap.statsKey.contains(column) || snap.statsCols.contains(column))),
        s"stats column '$column' may only widen to an integral type")
    }
}
