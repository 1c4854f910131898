package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  Expression, GreaterThanOrEqual, In, LessThanOrEqual, Literal, StartsWith}
import org.apache.spark.sql.types.{LongType, StringType}

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

  /** One commit record. `adds`/`removes` are paths relative to the table
    * root. `tag` is the idempotence identity (e.g. "app=x/epoch=7").
    * `statsKey` (create commit only) declares the integral column whose
    * per-file [min, max] every commit records for its adds — the
    * metadata that makes file pruning and CoW file selection ZERO-I/O.
    * `addStats` aligns 1:1 with `adds` when the table has a stats key. */
  final case class Commit(
      version: Long,
      op: String,
      adds: Seq[String],
      removes: Seq[String],
      tag: Option[String],
      statsKey: Option[String] = None,
      addStats: Seq[(Long, Long)] = Seq.empty,
      addBlooms: Seq[String] = Seq.empty,
      check: Option[String] = None,
      dadds: Seq[String] = Seq.empty,
      statsCols: Seq[String] = Seq.empty,
      addStatsN: Seq[Seq[(Long, Long)]] = Seq.empty,
      addBloomsN: Seq[Seq[String]] = Seq.empty,
      evos: Seq[String] = Seq.empty,
      addRows: Seq[Long] = Seq.empty,
      ts: Long = 0L,
      strCols: Seq[String] = Seq.empty,
      shCols: Seq[String] = Seq.empty,
      shN: Int = 0,
      addShBlooms: Seq[Seq[String]] = Seq.empty,
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
    * exists); `statsKey`/`fileStats`/`tags` are fully folded — they
    * include everything the checkpoint consolidated. */
  final case class Snapshot(
      version: Long,
      files: Seq[String],
      commits: Seq[Commit],
      statsKey: Option[String],
      fileStats: Map[String, (Long, Long)],
      tags: Set[String],
      fileBlooms: Map[String, String] = Map.empty,
      check: Option[String] = None,
      fileAddV: Map[String, Long] = Map.empty,
      ledgers: Seq[Ledger] = Seq.empty,
      statsCols: Seq[String] = Seq.empty,
      fileStatsN: Map[String, Seq[(Long, Long)]] = Map.empty,
      fileBloomsN: Map[String, Seq[String]] = Map.empty,
      evos: Seq[(Long, String)] = Seq.empty,
      fileRows: Map[String, Long] = Map.empty,
      strCols: Seq[String] = Seq.empty,
      shingleCols: Seq[String] = Seq.empty,
      shingleN: Int = 0,
      fileShBlooms: Map[String, Seq[String]] = Map.empty) {

    /** Logged [min,max] of stats column `col` in file `f` — long-
      * normalized, prefix64 codes for a STRING column (None = nothing
      * recorded: never prune). The empty range (MaxValue, MinValue) is a
      * real recording: every row of the file is NULL in that column. */
    def statsOf(f: String, col: String): Option[(Long, Long)] =
      if (statsKey.contains(col)) fileStats.get(f)
      else statsCols.indexOf(col) match {
        case -1 => None
        case j => fileStatsN.get(f).flatMap(_.lift(j))
      }

    /** Logged key bloom (hex) of `col` in file `f`; "" = none recorded. */
    def bloomOf(f: String, col: String): String =
      if (statsKey.contains(col)) fileBlooms.getOrElse(f, "")
      else statsCols.indexOf(col) match {
        case -1 => ""
        case j => fileBloomsN.get(f).flatMap(_.lift(j)).getOrElse("")
      }

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
    Snapshot(-1L, Seq.empty, Seq.empty, None, Map.empty, Set.empty)

  /** Result of a transactional write. */
  final case class CommitResult(version: Long, attempts: Int, skipped: Boolean)

  private def logDir(root: String): Path = Paths.get(root, "_log")
  private def dataDir(root: String): Path = Paths.get(root, "data")

  private def commitPath(root: String, v: Long): Path =
    logDir(root).resolve(f"$v%020d.json")

  // ------------------------------------------------------------- log I/O
  // hand-rolled JSON (flat strings/longs only) — same policy as Verify:
  // no json library dependency
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }

  private def render(c: Commit): String = {
    def arr(xs: Seq[String]) = xs.map(x => "\"" + esc(x) + "\"").mkString("[", ",", "]")
    val tag = c.tag.map(t => s""","tag":"${esc(t)}"""").getOrElse("")
    val sk = c.statsKey.map(k => s""","statskey":"${esc(k)}"""").getOrElse("")
    val ck = c.check.map(k => s""","check":"${esc(k)}"""").getOrElse("")
    val st =
      if (c.addStats.isEmpty) ""
      else s""","amin":${c.addStats.map(_._1).mkString("[", ",", "]")}""" +
        s""","amax":${c.addStats.map(_._2).mkString("[", ",", "]")}"""
    val bl =
      if (c.addBlooms.isEmpty) ""
      else s""","abloom":${arr(c.addBlooms)}"""
    val da =
      if (c.dadds.isEmpty) ""
      else s""","dadds":${arr(c.dadds)}""" +
        (if (c.drows.isEmpty) ""
         else s""","drows":${c.drows.mkString("[", ",", "]")}""") +
        (if (c.dsigs.isEmpty) "" else s""","dsigs":${arr(c.dsigs)}""")
    // SECONDARY stats columns (declared at create): per column j, min/max
    // (+bloom) arrays aligned with adds — the metadata that makes pruning
    // on a NON-primary dimension log-only after a z-order OPTIMIZE
    val sc =
      if (c.statsCols.isEmpty) ""
      else s""","statscols":${arr(c.statsCols)}"""
    // which statsCols are STRING-typed (prefix64-encoded stats domain)
    // — the marker that keeps numeric pruning/aggregate paths from
    // misreading encoded bounds as values
    val scS =
      if (c.strCols.isEmpty) ""
      else s""","strcols":${arr(c.strCols)}"""
    // SHINGLE (word n-gram) bloom declaration + per-file blooms: the
    // phrase-probe index — files a benchmark n-gram could hide in,
    // decided from the log alone
    val shDecl =
      if (c.shCols.isEmpty) ""
      else s""","shcols":${arr(c.shCols)},"shn":${c.shN}"""
    val shBl = c.addShBlooms.zipWithIndex.collect {
      case (bs, j) if bs.nonEmpty => s""","ash_$j":${arr(bs)}"""
    }.mkString
    val stN = c.addStatsN.zipWithIndex.collect {
      case (ss, j) if ss.nonEmpty =>
        s""","amin_$j":${ss.map(_._1).mkString("[", ",", "]")}""" +
          s""","amax_$j":${ss.map(_._2).mkString("[", ",", "]")}"""
    }.mkString
    val blN = c.addBloomsN.zipWithIndex.collect {
      case (bs, j) if bs.nonEmpty => s""","abloom_$j":${arr(bs)}"""
    }.mkString
    // schema-evolution ops ("rename:from:to" / "widen:col:type") — reads
    // apply them to every data file the op POSTDATES
    val ev =
      if (c.evos.isEmpty) ""
      else s""","evops":${arr(c.evos)}"""
    // per-file row counts (parquet footer metadata captured at publish)
    // — what makes count(*) and file-size accounting log-only reads
    val ar =
      if (c.addRows.isEmpty) ""
      else s""","arows":${c.addRows.mkString("[", ",", "]")}"""
    // commit wall-clock (epoch millis, publish-monotonic) — what
    // TIMESTAMP AS OF resolves against; 0 = pre-timestamp commit
    val cts = if (c.ts > 0) s""","ts":${c.ts}""" else ""
    s"""{"version":${c.version},"op":"${esc(c.op)}","adds":${arr(c.adds)},"removes":${arr(c.removes)}$tag$sk$ck$st$bl$da$sc$scS$shDecl$shBl$stN$blN$ev$ar$cts}"""
  }

  // minimal JSON field readers for the exact shapes render() writes
  private def strField(json: String, k: String): Option[String] = {
    val m = ("\"" + k + "\":\"").r.findFirstMatchIn(json)
    m.map { mm =>
      val sb = new StringBuilder; var i = mm.end; var done = false
      while (!done) json.charAt(i) match {
        case '\\' => sb.append(json.charAt(i + 1)); i += 2
        case '"' => done = true
        case c => sb.append(c); i += 1
      }
      sb.toString
    }
  }

  // quote-aware array scanner: a raw split on ',' would truncate any
  // element whose VALUE contains ',' or ']' (a ledger signature carrying
  // a catalogString type like decimal(10,2), a path with a comma), and
  // worse, misalign every element after it. Walk the body tracking
  // in-string state, reversing esc()'s escapes, and only treat ','/']'
  // as structure when outside a quoted string.
  private def arrField(json: String, k: String): Seq[String] = {
    val start = json.indexOf("\"" + k + "\":[")
    if (start < 0) Seq.empty
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val sb = new StringBuilder
      var i = start + k.length + 4
      var inStr = false; var quoted = false; var done = false
      def flush(atEnd: Boolean): Unit = {
        val bare = sb.toString.trim
        if (quoted || bare.nonEmpty || !atEnd) out += (if (quoted) sb.toString else bare)
        sb.clear(); quoted = false
      }
      while (!done) json.charAt(i) match {
        case '\\' if inStr =>
          json.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 'u' =>
              sb.append(Integer.parseInt(json.substring(i + 2, i + 6), 16).toChar)
              i += 6
            case c => sb.append(c); i += 2
          }
        case '"' => inStr = !inStr; quoted = true; i += 1
        case ',' if !inStr => flush(atEnd = false); i += 1
        case ']' if !inStr => flush(atEnd = true); done = true
        case c => if (inStr || !c.isWhitespace) sb.append(c); i += 1
      }
      out.toSeq
    }
  }

  private def numArrField(json: String, k: String): Seq[Long] =
    arrField(json, k).map(_.toLong)

  private def parse(json: String): Commit = {
    val v = "\"version\":(\\d+)".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(s"corrupt commit: $json"))
    // secondary stats/bloom arrays: probe j = 0, 1, ... until absent
    val statsN = Iterator.from(0)
      .map(j => numArrField(json, s"amin_$j").zip(numArrField(json, s"amax_$j")))
      .takeWhile(_.nonEmpty).toSeq
    val bloomsN = Iterator.from(0)
      .map(j => arrField(json, s"abloom_$j"))
      .takeWhile(_.nonEmpty).toSeq
    Commit(v, strField(json, "op").getOrElse("?"), arrField(json, "adds"),
      arrField(json, "removes"), strField(json, "tag"),
      strField(json, "statskey"),
      numArrField(json, "amin").zip(numArrField(json, "amax")),
      arrField(json, "abloom"),
      strField(json, "check"),
      arrField(json, "dadds"),
      arrField(json, "statscols"),
      statsN, bloomsN,
      arrField(json, "evops"),
      numArrField(json, "arows"),
      "\"ts\":(\\d+)".r.findFirstMatchIn(json)
        .map(_.group(1).toLong).getOrElse(0L),
      arrField(json, "strcols"),
      arrField(json, "shcols"),
      "\"shn\":(\\d+)".r.findFirstMatchIn(json)
        .map(_.group(1).toInt).getOrElse(0),
      Iterator.from(0).map(j => arrField(json, s"ash_$j"))
        .takeWhile(_.nonEmpty).toSeq,
      numArrField(json, "drows"),
      arrField(json, "dsigs"))
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

  private def renderCkpt(s: Snapshot): String = {
    def arr(xs: Seq[String]) = xs.map(x => "\"" + esc(x) + "\"").mkString("[", ",", "]")
    val sk = s.statsKey.map(k => s""","statskey":"${esc(k)}"""").getOrElse("")
    val ck = s.check.map(k => s""","check":"${esc(k)}"""").getOrElse("")
    val st =
      if (s.files.forall(s.fileStats.contains) && s.files.nonEmpty && s.fileStats.nonEmpty)
        s""","fmin":${s.files.map(f => s.fileStats(f)._1).mkString("[", ",", "]")}""" +
          s""","fmax":${s.files.map(f => s.fileStats(f)._2).mkString("[", ",", "]")}"""
      else ""
    // blooms consolidate aligned with files; "" marks a file without one
    // (pre-bloom commits) — membership then stays conservative
    val bl =
      if (s.fileBlooms.nonEmpty)
        s""","fbloom":${arr(s.files.map(f => s.fileBlooms.getOrElse(f, "")))}"""
      else ""
    // per-file add versions + live delete ledgers must survive the
    // consolidation: merge-on-read applicability is an ORDER between them
    val fv =
      s""","fver":${s.files.map(f =>
        s.fileAddV.getOrElse(f, 0L)).mkString("[", ",", "]")}"""
    val dl =
      if (s.ledgers.isEmpty) ""
      else s""","dfiles":${arr(s.ledgers.map(_.path))}""" +
        s""","dvers":${s.ledgers.map(_.version).mkString("[", ",", "]")}""" +
        s""","drows":${s.ledgers.map(_.rows).mkString("[", ",", "]")}""" +
        s""","dsigs":${arr(s.ledgers.map(_.sig))}"""
    // secondary stats consolidate only while COMPLETE (every live file
    // covered) — partial coverage drops to conservative full reads rather
    // than misaligning; "" marks a file without a bloom, as for primary
    val sc =
      if (s.statsCols.isEmpty) ""
      else s""","statscols":${arr(s.statsCols)}"""
    val scS =
      if (s.strCols.isEmpty) ""
      else s""","strcols":${arr(s.strCols)}"""
    // shingle-bloom declaration + per-file blooms consolidate aligned
    // with files; "" marks a file without one (conservative keep)
    val shDecl =
      if (s.shingleCols.isEmpty) ""
      else s""","shcols":${arr(s.shingleCols)},"shn":${s.shingleN}"""
    val shBl =
      if (s.fileShBlooms.nonEmpty)
        s.shingleCols.indices.map { j =>
          s""","fsh_$j":${arr(s.files.map(f =>
            s.fileShBlooms.get(f).flatMap(_.lift(j)).getOrElse("")))}"""
        }.mkString
      else ""
    val stN =
      if (s.statsCols.nonEmpty && s.files.nonEmpty &&
          s.files.forall(f => s.fileStatsN.get(f).exists(_.length == s.statsCols.length)))
        s.statsCols.indices.map { j =>
          s""","fmin_$j":${s.files.map(f => s.fileStatsN(f)(j)._1).mkString("[", ",", "]")}""" +
            s""","fmax_$j":${s.files.map(f => s.fileStatsN(f)(j)._2).mkString("[", ",", "]")}"""
        }.mkString
      else ""
    val blN =
      if (s.fileBloomsN.nonEmpty)
        s.statsCols.indices.map { j =>
          s""","fbloom_$j":${arr(s.files.map(f =>
            s.fileBloomsN.get(f).flatMap(_.lift(j)).getOrElse("")))}"""
        }.mkString
      else ""
    // schema-evolution ops persist with their commit versions: era
    // grouping at read time needs the op-vs-file-add ORDER
    val ev =
      if (s.evos.isEmpty) ""
      else s""","evv":${s.evos.map(_._1).mkString("[", ",", "]")}""" +
        s""","evo":${arr(s.evos.map(_._2))}"""
    // per-file row counts, aligned with files; -1 = unknown (pre-count
    // commits) — metadata-only aggregates then scan those files
    val fr =
      if (s.fileRows.isEmpty) ""
      else s""","frows":${s.files.map(f =>
        s.fileRows.getOrElse(f, -1L)).mkString("[", ",", "]")}"""
    s"""{"version":${s.version},"files":${arr(s.files)},"tags":${arr(s.tags.toSeq.sorted)}$sk$ck$st$bl$fv$dl$sc$scS$shDecl$shBl$stN$blN$ev$fr}"""
  }

  /** Best-effort checkpoint after a winning commit; losing the ckpt race
    * (or failing to write one) affects nothing but resolve cost. */
  private def maybeCheckpoint(root: String, version: Long): Unit = prof("checkpoint") {
    if (version > 0 && version % checkpointInterval == 0)
      try {
        val s = snapshot(root, version)
        if (s.version == version && !Files.exists(ckptPath(root, version))) {
          val tmp = logDir(root).resolve(
            s".tmp-ckpt-${java.util.UUID.randomUUID().toString}")
          Files.writeString(tmp, renderCkpt(s))
          try Files.createLink(ckptPath(root, version), tmp)
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
          finally Files.deleteIfExists(tmp)
        }
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
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    val stats = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    val blooms = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val tags = scala.collection.mutable.LinkedHashSet.empty[String]
    val addV = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val ledgers = scala.collection.mutable.ArrayBuffer.empty[Ledger]
    val statsN = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(Long, Long)]]
    val bloomsN = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    val evos = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var statsKey: Option[String] = None
    var statsCols: Seq[String] = Seq.empty
    var strCols: Seq[String] = Seq.empty
    var shingleCols: Seq[String] = Seq.empty
    var shingleN: Int = 0
    val shBlooms = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    var check: Option[String] = None
    if (base >= 0) {
      val j = Files.readString(ckptPath(root, base))
      val files = arrField(j, "files")
      live ++= files
      val mins = numArrField(j, "fmin"); val maxs = numArrField(j, "fmax")
      if (mins.nonEmpty)
        files.zip(mins.zip(maxs)).foreach { case (f, st) => stats(f) = st }
      val bl = arrField(j, "fbloom")
      if (bl.nonEmpty)
        files.zip(bl).foreach { case (f, b) => if (b.nonEmpty) blooms(f) = b }
      tags ++= arrField(j, "tags")
      statsKey = strField(j, "statskey")
      statsCols = arrField(j, "statscols")
      strCols = arrField(j, "strcols")
      shingleCols = arrField(j, "shcols")
      shingleN = "\"shn\":(\\d+)".r.findFirstMatchIn(j)
        .map(_.group(1).toInt).getOrElse(0)
      shingleCols.indices.foreach { jj =>
        val bs = arrField(j, s"fsh_$jj")
        if (bs.nonEmpty) files.zip(bs).foreach { case (f, b) =>
          shBlooms(f) = shBlooms.getOrElse(f, Seq.empty) :+ b
        }
      }
      check = strField(j, "check")
      statsCols.indices.foreach { jj =>
        val mnN = numArrField(j, s"fmin_$jj"); val mxN = numArrField(j, s"fmax_$jj")
        if (mnN.nonEmpty) files.zip(mnN.zip(mxN)).foreach { case (f, st) =>
          statsN(f) = statsN.getOrElse(f, Seq.empty) :+ st
        }
        // "" placeholders stay: the Seq is POSITIONAL (aligned with
        // statsCols); probes treat "" as bloom-absent
        val blN = arrField(j, s"fbloom_$jj")
        if (blN.nonEmpty) files.zip(blN).foreach { case (f, b) =>
          bloomsN(f) = bloomsN.getOrElse(f, Seq.empty) :+ b
        }
      }
      val fv = numArrField(j, "fver")
      files.zipAll(fv, "", 0L).foreach { case (f, v) =>
        if (f.nonEmpty) addV(f) = v
      }
      val fr = numArrField(j, "frows")
      if (fr.nonEmpty)
        files.zip(fr).foreach { case (f, n) => if (n >= 0) rows(f) = n }
      locally {
        val dfs = arrField(j, "dfiles"); val dvs = numArrField(j, "dvers")
        val drs = numArrField(j, "drows"); val dss = arrField(j, "dsigs")
        ledgers ++= dfs.zipWithIndex.map { case (p, i) =>
          Ledger(p, dvs(i), drs.lift(i).getOrElse(-1L),
            dss.lift(i).getOrElse(""))
        }
      }
      evos ++= numArrField(j, "evv").zip(arrField(j, "evo"))
    }
    val suffix = ((base + 1) to upTo).map { i =>
      try parse(Files.readString(commitPath(root, i)))
      catch {
        case e: java.nio.file.NoSuchFileException =>
          throw new IllegalStateException(
            s"commit $i missing below the resolved range of $root — " +
              "history truncated without a covering checkpoint", e)
      }
    }
    suffix.foreach { c =>
      live ++= c.adds; live --= c.removes
      c.adds.foreach(f => addV(f) = c.version)
      if (c.addStats.nonEmpty)
        c.adds.zip(c.addStats).foreach { case (f, st) => stats(f) = st }
      if (c.addBlooms.nonEmpty)
        c.adds.zip(c.addBlooms).foreach { case (f, b) => blooms(f) = b }
      if (c.addStatsN.nonEmpty && c.addStatsN.forall(_.size == c.adds.size))
        c.adds.zipWithIndex.foreach { case (f, i) =>
          statsN(f) = c.addStatsN.map(_(i))
        }
      if (c.addBloomsN.nonEmpty && c.addBloomsN.forall(_.size == c.adds.size))
        c.adds.zipWithIndex.foreach { case (f, i) =>
          bloomsN(f) = c.addBloomsN.map(_(i))
        }
      if (c.addShBlooms.nonEmpty && c.addShBlooms.forall(_.size == c.adds.size))
        c.adds.zipWithIndex.foreach { case (f, i) =>
          shBlooms(f) = c.addShBlooms.map(_(i))
        }
      if (c.addRows.size == c.adds.size)
        c.adds.zip(c.addRows).foreach { case (f, n) => if (n >= 0) rows(f) = n }
      c.removes.foreach(stats.remove)
      c.removes.foreach(blooms.remove)
      c.removes.foreach(addV.remove)
      c.removes.foreach(statsN.remove)
      c.removes.foreach(bloomsN.remove)
      c.removes.foreach(shBlooms.remove)
      c.removes.foreach(rows.remove)
      c.dadds.zipWithIndex.foreach { case (p, i) =>
        ledgers += Ledger(p, c.version, c.drows.lift(i).getOrElse(-1L),
          c.dsigs.lift(i).getOrElse(""))
      }
      c.evos.foreach(e => evos += ((c.version, e)))
      if (c.removes.nonEmpty) {
        val gone = c.removes.toSet
        ledgers.filterInPlace(l => !gone.contains(l.path))
      }
      c.tag.foreach(tags += _)
      if (c.version == 0L) {
        statsKey = c.statsKey; statsCols = c.statsCols; check = c.check
        strCols = c.strCols
        shingleCols = c.shCols; shingleN = c.shN
      }
    }
    // drop stats for files no longer live (removed after the checkpoint)
    val liveStats = stats.filter { case (f, _) => live.contains(f) }
    val liveBlooms = blooms.filter { case (f, _) => live.contains(f) }
    val liveAddV = addV.filter { case (f, _) => live.contains(f) }
    val liveStatsN = statsN.filter { case (f, _) => live.contains(f) }
    val liveBloomsN = bloomsN.filter { case (f, _) => live.contains(f) }
    val liveRows = rows.filter { case (f, _) => live.contains(f) }
    val liveShBlooms = shBlooms.filter { case (f, _) => live.contains(f) }
    Snapshot(upTo, live.toSeq, suffix, statsKey, liveStats.toMap, tags.toSet,
      liveBlooms.toMap, check, liveAddV.toMap, ledgers.toSeq,
      statsCols, liveStatsN.toMap, liveBloomsN.toMap, evos.toSeq,
      liveRows.toMap, strCols, shingleCols, shingleN, liveShBlooms.toMap)
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
        val av = snap.fileAddV.getOrElse(f, Long.MaxValue)
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
    import org.apache.spark.sql.types.{StructField, StructType}
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
        snap.fileAddV.getOrElse(f, Long.MaxValue) < l.version))
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
        val av = snap.fileAddV.getOrElse(f, Long.MaxValue)
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
      .flatMap(c => c.adds.map(_ -> c.version))
      .find { case (f, _) => Files.exists(Paths.get(root, f)) } match {
        case Some((f, v)) =>
          readFilesEvolved(spark, root,
            snap.copy(fileAddV = snap.fileAddV + (f -> v)), Seq(f),
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
    // name match mirrors Spark's resolution (same rule as the seed and
    // merge-validation paths): case-insensitive unless
    // spark.sql.caseSensitive — otherwise a same-typed column differing
    // only in case would be silently dropped from the folded union
    val cs = spark.conf.getOption("spark.sql.caseSensitive")
      .exists(_.toBoolean)
    def sameName(a: String, b: String): Boolean =
      if (cs) a == b else a.equalsIgnoreCase(b)
    def infer(files: Seq[String]): org.apache.spark.sql.types.StructType =
      prof("schema.infer")(
        footerSchema(spark, root, files, sameName).getOrElse(
          readFiles(spark, root, files, None).schema))
    def full: org.apache.spark.sql.types.StructType =
      if (snap.evos.isEmpty && snap.files.nonEmpty) infer(snap.files)
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
                    val ds = infer(delta)
                    // fold the delta into the cached union by name; a
                    // same-name type clash can't happen on the
                    // validated write paths, but if one ever surfaces
                    // (hand-placed files), fall back to full inference
                    if (ds.forall(f => s0.find(t =>
                        sameName(t.name, f.name))
                        .forall(_.dataType == f.dataType)))
                      Some(org.apache.spark.sql.types.StructType(
                        s0.fields ++ ds.fields.filterNot(f =>
                          s0.exists(t => sameName(t.name, f.name)))))
                    else None
                  }
              }.flatten
            else None
          ((ver, viaDelta.getOrElse(full)) :: entries).take(4)
      }
    }).head._2
  }

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

  private def footerSchema(spark: SparkSession, root: String,
      files: Seq[String],
      sameName: (String, String) => Boolean)
      : Option[org.apache.spark.sql.types.StructType] = {
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
      val acc = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.types.StructField]
      acc ++= schemas.head.fields
      schemas.iterator.drop(1).foreach { s =>
        s.fields.foreach { f =>
          acc.find(t => sameName(t.name, f.name)) match {
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

  /** Range read with METADATA-ONLY file pruning: the commit log's
    * per-file [min, max] stats decide which files can hold rows in
    * [lo, hi] — files outside the range are never opened, touched, or
    * even listed to the scan. Result ≡ `read(...).where(key BETWEEN lo
    * AND hi)` (the residual filter still applies inside kept files;
    * files without stats are conservatively read). This is the
    * point-lookup/range-scan story for a 100 TB table: on a
    * range-clustered layout the scan cost is proportional to the
    * selected range, not the table. After a schema evolution the result
    * schema is the union over the files actually read — a pruned read
    * that only touches pre-evolution files won't surface the new column
    * (read the full table when the complete schema matters). */
  def readPruned(spark: SparkSession, root: String,
                 lo: Long, hi: Long): DataFrame = {
    val snap = snapshot(root)
    readPrunedAt(spark, root, snap, primaryKey(snap, root), lo, hi)
  }

  private def primaryKey(snap: Snapshot, root: String): String = {
    require(snap.version >= 0, s"not a TxTable (no committed log): $root")
    snap.statsKey.getOrElse(throw new IllegalArgumentException(
      s"table at $root declares no stats key — use create(df, root, Some(col))"))
  }

  /** Numeric pruning entry points need a DECLARED stats column (the
    * primary key or a secondary `statsCols` entry) that is not a STRING
    * one: STRING stats columns hold prefix64-ENCODED bounds (see
    * stageData), so they are refused loudly rather than compared as raw
    * longs. */
  private def requireNumericStats(snap: Snapshot, column: String): Unit = {
    require(!snap.strCols.contains(column),
      s"'$column' is a STRING stats column (prefix64-encoded bounds) — " +
        "use readPrunedOnStr / prefixRead / pointReadOnStr")
    require(snap.statsKey.contains(column) || snap.statsCols.contains(column),
      s"no stats declared for column '$column' " +
        s"(primary = ${snap.statsKey.getOrElse("-")}, " +
        s"secondary = ${snap.statsCols.mkString("[", ",", "]")})")
  }

  // Pruning conditions are built in the log's own domain — a LongType
  // attribute with long literals for numeric stats columns, a StringType
  // one for string columns — so [[Snapshot.kept]] compares them exactly
  // against the logged bounds. The residual `pred` applied inside kept
  // files makes every result exact.
  private def longAttr(column: String): Expression =
    AttributeReference(column, LongType)()
  private def strAttr(column: String): Expression =
    AttributeReference(column, StringType)()
  private def between(a: Expression, lo: Any, hi: Any): Expression =
    And(GreaterThanOrEqual(a, Literal(lo)), LessThanOrEqual(a, Literal(hi)))
  private def in(a: Expression, keys: Seq[Any]): Expression =
    In(a, keys.map(Literal(_)))

  /** `read(...).where(pred)` opening only the `kept` files; with every
    * file pruned the result is empty with the table's schema. */
  private def readKept(spark: SparkSession, root: String, snap: Snapshot,
                       kept: Seq[String], pred: Column): DataFrame =
    (if (kept.isEmpty) emptyRead(spark, root, snap)
     else morRead(spark, root, snap, kept)).where(pred)

  /** [[readPruned]] on ANY declared stats column: after a z-order
    * OPTIMIZE the files tile BOTH clustered dimensions, so a range read
    * on the secondary column prunes from the log exactly like one on the
    * primary key. Result ≡ `read(...).where(column BETWEEN lo AND hi)`. */
  def readPrunedOn(spark: SparkSession, root: String, column: String,
                   lo: Long, hi: Long): DataFrame =
    readPrunedAt(spark, root, snapshot(root), column, lo, hi)

  private def readPrunedAt(spark: SparkSession, root: String, snap: Snapshot,
                           column: String, lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(snap.version >= 0, s"not a TxTable (no committed log): $root")
    requireNumericStats(snap, column)
    readKept(spark, root, snap, snap.kept(between(longAttr(column), lo, hi)),
      col(column).cast("long").between(lo, hi))
  }

  /** Point read: result ≡ `read(...).where(key IN keys)`, but only the
    * files whose logged range admits some key AND whose bloom claims
    * possible membership of that key are opened — zero data I/O to
    * decide. This is the point-lookup story on the layout range stats
    * can't help with: per-epoch appended files each spanning the whole
    * key domain. */
  def pointRead(spark: SparkSession, root: String,
                keys: Seq[Long]): DataFrame = {
    val snap = snapshot(root)
    pointReadAt(spark, root, snap, primaryKey(snap, root), keys)
  }

  /** [[pointRead]] on ANY declared stats column — secondary columns carry
    * their own per-file blooms in the log, so a point probe on a
    * non-primary dimension skips files with zero data I/O too. */
  def pointReadOn(spark: SparkSession, root: String, column: String,
                  keys: Seq[Long]): DataFrame =
    pointReadAt(spark, root, snapshot(root), column, keys)

  private def pointReadAt(spark: SparkSession, root: String, snap: Snapshot,
                          column: String, keys: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(snap.version >= 0, s"not a TxTable (no committed log): $root")
    requireNumericStats(snap, column)
    readKept(spark, root, snap, snap.kept(in(longAttr(column), keys)),
      col(column).cast("long").isin(keys: _*))
  }

  // ---- STRING-axis pruning reads ------------------------------------
  // A string statsCol's logged (min, max) live in the prefix64 domain
  // and its bloom keys on hash64 of the full value (see stageData):
  // monotonicity of the encoding makes the kept set a SUPERSET of the
  // files actually holding matches.

  private def requireStrStats(root: String,
                              snap: Snapshot, column: String): Unit = {
    require(snap.version >= 0, s"not a TxTable (no committed log): $root")
    require(snap.strCols.contains(column),
      s"'$column' is not a declared STRING stats column " +
        s"(string = ${snap.strCols.mkString("[", ",", "]")}, " +
        s"secondary = ${snap.statsCols.mkString("[", ",", "]")})")
  }

  /** [[readPrunedOn]] for a STRING stats column. Result ≡
    * `read(...).where(column BETWEEN lo AND hi)` (binary collation) —
    * only files whose prefix64 range intersects [prefix64(lo),
    * prefix64(hi)] are opened; strings equal through their first 8
    * bytes collapse, which only widens the kept set. */
  def readPrunedOnStr(spark: SparkSession, root: String, column: String,
                      lo: String, hi: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val snap = snapshot(root)
    requireStrStats(root, snap, column)
    readKept(spark, root, snap, snap.kept(between(strAttr(column), lo, hi)),
      col(column).between(lit(lo), lit(hi)))
  }

  /** PREFIX read (`column LIKE 'p%'`): the value range of every string
    * starting with `p` is [prefix64(p), upper64(p)] in the encoded
    * domain, so prefix predicates prune from the log exactly like
    * ranges. Result ≡ `read(...).where(startswith(column, p))`. */
  def prefixRead(spark: SparkSession, root: String, column: String,
                 p: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val snap = snapshot(root)
    requireStrStats(root, snap, column)
    readKept(spark, root, snap,
      snap.kept(StartsWith(strAttr(column), Literal(p))),
      col(column).startsWith(p))
  }

  /** [[pointReadOn]] for a STRING stats column: the prefix64 range test
    * admits every 8-byte-prefix sibling, so the hash64 BLOOM is what
    * makes string point probes selective. Result ≡
    * `read(...).where(column IN keys)`. */
  def pointReadOnStr(spark: SparkSession, root: String, column: String,
                     keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val snap = snapshot(root)
    requireStrStats(root, snap, column)
    readKept(spark, root, snap, snap.kept(in(strAttr(column), keys)),
      col(column).isin(keys: _*))
  }

  /** (kept, total) accounting for a string range read — the log-only
    * selection rule of [[readPrunedOnStr]]. */
  def pruneAccountingOnStr(root: String, column: String,
                           lo: String, hi: String): (Int, Int) = {
    val snap = snapshot(root)
    requireStrStats(root, snap, column)
    (snap.kept(between(strAttr(column), lo, hi)).size, snap.files.size)
  }

  /** [[pruneAccountingOnStr]] with [[prefixRead]]'s selection rule. */
  def prefixAccounting(root: String, column: String, p: String): (Int, Int) = {
    val snap = snapshot(root)
    requireStrStats(root, snap, column)
    (snap.kept(StartsWith(strAttr(column), Literal(p))).size, snap.files.size)
  }

  /** (files kept by prefix-range stats alone, by range+bloom, total) for
    * a string point read — [[pointPruneAccountingOn]]'s string twin;
    * the gap between the first two numbers is the bloom's contribution,
    * which on string axes is usually ALL of it. */
  def pointPruneAccountingOnStr(root: String, column: String,
                                keys: Seq[String]): (Int, Int, Int) = {
    val snap = snapshot(root)
    requireStrStats(root, snap, column)
    val cond = in(strAttr(column), keys)
    (snap.kept(cond, useBlooms = false).size, snap.kept(cond).size,
      snap.files.size)
  }

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
      snap.fileShBlooms.get(f).flatMap(_.lift(j)) match {
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
    import org.apache.spark.sql.functions.col
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
      pointRead(spark, root, head.map(_.getLong(0)).toSeq.sorted)
    else
      morRead(spark, root, snap, snap.files)
        .join(kd, col(key).cast("long") === col("__graft_probe_k"), "left_semi")
  }

  /** RESTORE: roll the table back to the content of `toVersion` as a NEW
    * commit (the Delta RESTORE semantic): adds = files live at the target
    * version, removes = files live now. Metadata-only — no data is
    * rewritten or deleted; the bad epochs stay in history (time travel to
    * them keeps working) and their files remain referenced by their own
    * commits, so vacuum won't reclaim them. Stats and blooms for the
    * restored files re-enter the live state from the log fold of their
    * original adds. */
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
    var attempt = 0
    val maxAttempts = 12
    while (attempt < maxAttempts) {
      attempt += 1
      val now = snapshot(root)
      if (tag.exists(now.tags))
        return CommitResult(now.version, attempt, skipped = true)
      val c = Commit(now.version + 1, "restore",
        adds = target.files,
        removes = now.files.diff(target.files) ++ now.ledgers.map(_.path), tag,
        statsKey = None,
        addStats = target.files.flatMap(f => target.fileStats.get(f)) match {
          case st if st.size == target.files.size => st
          case _ => Seq.empty // partial stats: drop rather than misalign
        },
        addBlooms = target.files.map(f =>
          target.fileBlooms.getOrElse(f, "")) match {
          case bl if bl.exists(_.nonEmpty) => bl
          case _ => Seq.empty
        },
        // secondary stats re-enter only while complete for every file
        // (same drop-rather-than-misalign policy as primary)
        addStatsN =
          if (target.statsCols.nonEmpty && target.files.forall(f =>
              target.fileStatsN.get(f).exists(_.length == target.statsCols.length)))
            target.statsCols.indices.map(j =>
              target.files.map(f => target.fileStatsN(f)(j)))
          else Seq.empty,
        addBloomsN =
          if (target.statsCols.nonEmpty && target.files.forall(f =>
              target.fileBloomsN.get(f).exists(_.length == target.statsCols.length)))
            target.statsCols.indices.map(j =>
              target.files.map(f => target.fileBloomsN(f)(j)))
          else Seq.empty,
        addShBlooms =
          if (target.shingleCols.nonEmpty && target.files.forall(f =>
              target.fileShBlooms.get(f).exists(_.length == target.shingleCols.length)))
            target.shingleCols.indices.map(j =>
              target.files.map(f => target.fileShBlooms(f)(j)))
          else Seq.empty)
      if (tryPublish(root, c)) {
        maybeCheckpoint(root, c.version)
        return CommitResult(c.version, attempt, skipped = false)
      }
      // no backoff after the FINAL failed attempt — the exception should
      // surface immediately, not after one more jittered sleep
      if (attempt < maxAttempts) backoff(attempt)
    }
    throw new IllegalStateException(
      s"restore of $root failed after $maxAttempts attempts (contention)")
  }

  /** (files kept by range stats alone, files kept by range+bloom, total
    * live files) for a point read — the log-only pruning ledger. */
  def pointPruneAccounting(root: String, keys: Seq[Long]): (Int, Int, Int) = {
    val snap = snapshot(root)
    pointPruneAccountingAt(snap, primaryKey(snap, root), keys)
  }

  /** [[pointPruneAccounting]] for any declared stats column. */
  def pointPruneAccountingOn(root: String, column: String,
                             keys: Seq[Long]): (Int, Int, Int) =
    pointPruneAccountingAt(snapshot(root), column, keys)

  private def pointPruneAccountingAt(snap: Snapshot, column: String,
                                     keys: Seq[Long]): (Int, Int, Int) = {
    requireNumericStats(snap, column)
    val cond = in(longAttr(column), keys)
    (snap.kept(cond, useBlooms = false).size, snap.kept(cond).size,
      snap.files.size)
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
    // metadata via fileRows; min/max degrade to None via try_cast)
    val numeric = snap.statsKey.contains(column) || !snap.strCols.contains(column)
    def st(f: String): Option[(Long, Long)] =
      if (numeric) snap.statsOf(f, column) else None
    val sorted = snap.ledgers.sortBy(_.version)
    def ledgerScoped(f: String): Boolean = {
      val av = snap.fileAddV.getOrElse(f, Long.MaxValue)
      sorted.exists(_.version > av)
    }
    val (scan, meta) = snap.files.partition(f =>
      ledgerScoped(f) || !snap.fileRows.contains(f) || st(f).isEmpty)
    var cnt = meta.map(snap.fileRows).sum
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

  /** @param sizeStaged right-size a SHATTERED small staging: when the
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

  private def stageData(df: DataFrame, root: String,
                        statsKey: Option[String],
                        statsCols: Seq[String] = Seq.empty,
                        sizeStaged: Boolean = false)
      : (Seq[String], Seq[(Long, Long)], Seq[String],
         Seq[Seq[(Long, Long)]], Seq[Seq[String]], Seq[Long]) = {
    val unique0 = java.util.UUID.randomUUID().toString.take(8)
    val dir0 = dataDir(root).resolve(unique0)
    val allColsPre = statsKey.toSeq ++ statsCols
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
      if (allColsPre.isEmpty) (df, None)
      else scala.util.Try {
        val obs = new org.apache.spark.sql.Observation()
        val aggs = statsAggs(df.sparkSession, df.schema, allColsPre)
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
    val allCols = statsKey.toSeq ++ statsCols
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
    if (allCols.isEmpty)
      (files, Seq.empty, Seq.empty, Seq.empty, Seq.empty, Seq.empty)
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
      val nOff = if (statsKey.isDefined) 1 else 0
      val (stats, blooms) = statsKey match {
        case None => (Seq.empty[(Long, Long)], Seq.empty[String])
        case Some(_) => (Seq(colStats(0)._1), Seq(colStats(0)._2))
      }
      val statsSecondary = statsCols.indices.map(j => Seq(colStats(nOff + j)._1))
      val bloomsSecondary = statsCols.indices.map(j => Seq(colStats(nOff + j)._2))
      (files, stats, blooms, statsSecondary, bloomsSecondary, Seq(cnt))
    }
    else {
      import org.apache.spark.sql.functions.input_file_name
      // the staged files' read-back schema IS the written frame's schema
      // made nullable — pass it explicitly so the re-read skips the
      // per-call footer-based inference setup. Same aggregates as the
      // observed single-file path (statsAggs), grouped per file; per-file
      // row counts ride the same agg for free (tryPublish skips
      // footerRows when addRows is pre-filled).
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
      def colOf(f: String, j: Int): ((Long, Long), String) =
        byName.get(Paths.get(f).getFileName.toString).map(_._1(j))
          .getOrElse(((Long.MaxValue, Long.MinValue), ""))
      val nOff = if (statsKey.isDefined) 1 else 0
      val (stats, blooms) = statsKey match {
        case None => (Seq.empty[(Long, Long)], Seq.empty[String])
        case Some(_) =>
          (files.map(f => colOf(f, 0)._1), files.map(f => colOf(f, 0)._2))
      }
      val statsSecondary = statsCols.indices.map { j =>
        files.map(f => colOf(f, nOff + j)._1)
      }
      val bloomsSecondary = statsCols.indices.map { j =>
        files.map(f => colOf(f, nOff + j)._2)
      }
      // a staged file absent from the agg result has exactly zero rows
      // (the scan feeds EVERY row of every listed file into the groupBy)
      val rows = files.map(f =>
        byName.get(Paths.get(f).getFileName.toString).map(_._2)
          .getOrElse(0L))
      (files, stats, blooms, statsSecondary, bloomsSecondary, rows)
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
  private def stageShingles(df: DataFrame, root: String, files: Seq[String],
                            shingleCols: Seq[String], n: Int): Seq[Seq[String]] = {
    if (shingleCols.isEmpty) return Seq.empty
    import org.apache.spark.sql.functions.{col, concat_ws, expr, input_file_name, lead, lit, lower, monotonically_increasing_id, posexplode_outer, split, udaf, when}
    graft.functions.StrKey.register(df.sparkSession)
    val bloomAgg = udaf(new KeyBloom.AggSized(4096),
      org.apache.spark.sql.Encoders.LONG)
    val reread = df.sparkSession.read.schema(nullableSchema(df.schema))
      .parquet(files.map(f => s"$root/$f"): _*)
    shingleCols.map { c =>
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
      val byName = prof("stage.shingles")(sh
        .groupBy("f").agg(bloomAgg(expr("str_hash64(sh)")).as("bl"))
        .collect()).map { r =>
          Paths.get(java.net.URI.create(r.getString(0)).getPath)
            .getFileName.toString -> r.getString(1)
        }.toMap
      files.map(f =>
        byName.getOrElse(Paths.get(f).getFileName.toString, ""))
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

  /** Atomic publish of version `v`: hard-link the rendered body into the
    * log slot — exactly one writer wins; everyone else gets
    * FileAlreadyExistsException and must rebase. Every commit that adds
    * data files gets their footer row counts stamped into the log here —
    * one chokepoint covers create/append/merge/compact/optimize alike. */
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

  private def tryPublish(root: String, c: Commit): Boolean = prof("publish") {
    Files.createDirectories(logDir(root))
    val withRows0 =
      if (c.adds.nonEmpty && c.addRows.isEmpty)
        c.copy(addRows = footerRows(root, c.adds))
      else c
    // ledger row counts ride the log too: the MoR read's broadcast-vs-
    // shuffle decision needs the live delete-set volume without opening
    // a footer per ledger per fresh driver. Aliased entries reuse the
    // adds' just-read footer counts; -1 marks unknown (never broadcast
    // blindly).
    val withRows =
      if (withRows0.dadds.nonEmpty && withRows0.drows.isEmpty) {
        val byAdd = withRows0.adds.zip(withRows0.addRows).toMap
        withRows0.copy(drows = withRows0.dadds.map { p =>
          val fs = ledgerFiles(p)
          val known = fs.map(f => byAdd.getOrElse(f, -1L))
          if (known.forall(_ >= 0)) known.sum
          else {
            val fr = footerRows(root, fs)
            if (fr.exists(_ < 0)) -1L else fr.sum
          }
        })
      } else withRows0
    // stamp the commit wall-clock, forced STRICTLY increasing over the
    // predecessor (one small log read) so TIMESTAMP AS OF is a total
    // order even across clock skew between writers — the same
    // "in-commit-timestamp" monotonicity Delta/Iceberg guarantee
    val prevTs =
      if (c.version > 0) commitTs(root, c.version - 1).getOrElse(0L) else 0L
    val cc = withRows.copy(
      ts = math.max(System.currentTimeMillis(), prevTs + 1))
    val tmp = logDir(root).resolve(
      s".tmp-${java.util.UUID.randomUUID().toString}")
    Files.writeString(tmp, render(cc))
    try { Files.createLink(commitPath(root, c.version), tmp); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case NonFatal(e) => throw e
    } finally Files.deleteIfExists(tmp)
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

  /** Create a new table at `root` from `df` (version 0). */
  def create(df: DataFrame, root: String): CommitResult = {
    create(df, root, None)
  }

  /** Create with a declared stats column (must be integral): every commit
    * then records per-file [min, max] of `statsKey` for its adds, making
    * [[readPruned]] and [[mergeCow]]'s file selection metadata-only. */
  def create(df: DataFrame, root: String,
             statsKey: Option[String]): CommitResult =
    create(df, root, statsKey, check = None)

  /** Create with a declared CHECK constraint (a boolean SQL predicate):
    * this and every later append/merge batch must satisfy it or the
    * commit is refused — the data-quality gate at the table boundary. */
  def create(df: DataFrame, root: String, statsKey: Option[String],
             check: Option[String]): CommitResult =
    create(df, root, statsKey, check, Seq.empty)

  /** Create with SECONDARY stats columns (each must cast to long):
    * besides the primary `statsKey`, every commit records per-file
    * [min, max] + key bloom for each of `statsCols` — so range and point
    * reads on a NON-primary dimension prune files from the log alone.
    * This is what makes a z-order OPTIMIZE ([[optimizeZ]]) pay off: after
    * re-clustering, the second dimension's per-file ranges are tight and
    * a predicate on it skips most files. */
  def create(df: DataFrame, root: String, statsKey: Option[String],
             check: Option[String], statsCols: Seq[String],
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
    val (adds, st, bl, stN, blN, rws) =
      stageData(df, root, statsKey, statsCols)
    val shBl = stageShingles(df, root, adds, shingleCols, shingleN)
    val ok = tryPublish(root,
      Commit(0L, "create", adds, Seq.empty, None, statsKey, st, bl, check,
        statsCols = statsCols, addStatsN = stN, addBloomsN = blN,
        strCols = strCols, addRows = rws,
        shCols = shingleCols, shN = shingleN, addShBlooms = shBl))
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
    val pendingEvo = snap.evos.exists { case (v, _) =>
      snap.files.exists(f => snap.fileAddV.getOrElse(f, Long.MaxValue) < v)
    }
    require(!pendingEvo, "cannot shallow-clone with schema evolutions " +
      s"pending on live files — compact $root first")
    snap.files.foreach { f =>
      val src = Paths.get(root, f).toAbsolutePath
      val dst = Paths.get(dstRoot, f)
      Files.createDirectories(dst.getParent)
      if (!Files.exists(dst))
        try Files.createLink(dst, src)
        catch { // cross-filesystem: fall back to a copy, still correct
          case _: UnsupportedOperationException |
               _: java.nio.file.FileSystemException =>
            Files.copy(src, dst)
        }
    }
    // missing stats entry = UNKNOWN, carried as the conservative full
    // range (same reasoning as adoptFrom: the empty-file sentinel
    // (MaxValue, MinValue) would prune the cloned rows out of reads)
    val stats =
      if (snap.statsKey.isEmpty) Seq.empty
      else snap.files.map(f =>
        snap.fileStats.getOrElse(f, (Long.MinValue, Long.MaxValue)))
    val blooms =
      if (snap.statsKey.isEmpty) Seq.empty
      else snap.files.map(f => snap.fileBlooms.getOrElse(f, ""))
    val statsN = snap.statsCols.indices.map(j => snap.files.map(f =>
      snap.fileStatsN.get(f).flatMap(_.lift(j))
        .getOrElse((Long.MinValue, Long.MaxValue))))
    val bloomsN = snap.statsCols.indices.map(j => snap.files.map(f =>
      snap.fileBloomsN.get(f).flatMap(_.lift(j)).getOrElse("")))
    val rowsKnown = snap.files.map(f => snap.fileRows.getOrElse(f, -1L))
    val ok = tryPublish(dstRoot,
      Commit(0L, "clone", snap.files, Seq.empty, None, snap.statsKey,
        stats, blooms, snap.check, statsCols = snap.statsCols,
        addStatsN = statsN, addBloomsN = bloomsN, addRows = rowsKnown,
        strCols = snap.strCols,
        shCols = snap.shingleCols, shN = snap.shingleN,
        addShBlooms = snap.shingleCols.indices.map(j => snap.files.map(f =>
          snap.fileShBlooms.get(f).flatMap(_.lift(j)).getOrElse("")))))
    if (!ok) throw new IllegalStateException(s"table already exists: $dstRoot")
    CommitResult(0L, 1, skipped = false)
  }

  /** WRITE-AUDIT-PUBLISH: adopt a staging branch's post-clone adds back
    * into the table — the missing third of the WAP lifecycle
    * ([[cloneShallow]] is the write-isolation half). Usage: clone main
    * → branch, write/validate on the branch at leisure (bad data stays
    * invisible to main's readers), then `adoptFrom(main, branch)`
    * PUBLISHES atomically: every file the branch ADDED after the clone
    * (fileAddV > 0 — clone lands everything at v0) hard-links into the
    * table under its unchanged relative path (uuid dirs are collision-
    * free; cross-filesystem falls back to a copy) and commits as plain
    * adds with the branch log's stats/blooms/row counts carried over —
    * zero data rewrite, O(new files) links + one metadata commit, the
    * same cost shape as the clone itself. Audits the adopted rows
    * against the table's CHECK constraint (a scan of ONLY the adopted
    * files) and validates their schema against the table union with the
    * merge-mor type guard. Stage-once + backoff publish race; `tag`
    * gives replay idempotence. Branch ledgers/pending evolutions must
    * be compacted first (same rule as the clone). */
  def adoptFrom(spark: SparkSession, dstRoot: String, srcRoot: String,
                tag: Option[String] = None,
                maxAttempts: Int = 12): CommitResult = {
    val src = snapshot(srcRoot)
    require(src.version >= 0, s"not a TxTable: $srcRoot")
    require(src.ledgers.isEmpty,
      s"cannot adopt with live MoR ledgers on the branch — compact $srcRoot first")
    val pendingEvo = src.evos.exists { case (v, _) =>
      src.files.exists(f => src.fileAddV.getOrElse(f, Long.MaxValue) < v)
    }
    require(!pendingEvo, "cannot adopt with schema evolutions pending " +
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
      .filter(f => src.fileAddV.getOrElse(f, 0L) > 0L)
    if (branchAdds.isEmpty)
      return CommitResult(dst0.version, 1, skipped = true)
    // AUDIT: adopted rows must satisfy the table's CHECK (scan bounded
    // to the adopted files) and bind to the table schema type-safely
    val adoptedDf = readFiles(spark, srcRoot, branchAdds, None)
    enforceCheck(adoptedDf, dst0.check, "adopted branch rows")
    locally {
      val tbl = currentSchema(spark, dstRoot, dst0)
      val cs = spark.conf.getOption("spark.sql.caseSensitive")
        .exists(_.toBoolean)
      // names the table once knew but renamed away: a branch column
      // still carrying a pre-rename name must not silently adopt as a
      // brand-new column and fork the data across two names — the type
      // check below would skip it (absent from the current schema)
      val renamedAway = dst0.evos.collect {
        case (_, op) if op.startsWith("rename:") => op.split(':')(1)
      }
      adoptedDf.schema.foreach { f =>
        val cur = tbl.find(t => if (cs) t.name == f.name
          else t.name.equalsIgnoreCase(f.name))
        require(cur.isDefined || !renamedAway.exists(r =>
            if (cs) r == f.name else r.equalsIgnoreCase(f.name)),
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
    branchAdds.foreach { f =>
      val s0 = Paths.get(srcRoot, f).toAbsolutePath
      val d0 = Paths.get(dstRoot, f)
      Files.createDirectories(d0.getParent)
      if (!Files.exists(d0))
        try Files.createLink(d0, s0)
        catch {
          case _: UnsupportedOperationException |
               _: java.nio.file.FileSystemException => Files.copy(s0, d0)
        }
    }
    // a MISSING stats entry means UNKNOWN range, not empty file: carry
    // the conservative full range (readPrunedOn's st.get(f) == None =>
    // keep convention) — the (MaxValue, MinValue) empty-file sentinel
    // would make the adopted rows vanish from every pruned read
    val stats =
      if (src.statsKey.isEmpty) Seq.empty
      else branchAdds.map(f =>
        src.fileStats.getOrElse(f, (Long.MinValue, Long.MaxValue)))
    val blooms =
      if (src.statsKey.isEmpty) Seq.empty
      else branchAdds.map(f => src.fileBlooms.getOrElse(f, ""))
    val statsN = src.statsCols.indices.map(j => branchAdds.map(f =>
      src.fileStatsN.get(f).flatMap(_.lift(j))
        .getOrElse((Long.MinValue, Long.MaxValue))))
    val bloomsN = src.statsCols.indices.map(j => branchAdds.map(f =>
      src.fileBloomsN.get(f).flatMap(_.lift(j)).getOrElse("")))
    val shBl = src.shingleCols.indices.map(j => branchAdds.map(f =>
      src.fileShBlooms.get(f).flatMap(_.lift(j)).getOrElse("")))
    val rowsKnown = branchAdds.map(f => src.fileRows.getOrElse(f, -1L))
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val snap = snapshot(dstRoot)
      if (tag.exists(snap.tags))
        return CommitResult(snap.version, attempt, skipped = true)
      // a racing adopt of the same branch may have landed: adds-only
      // idempotence by content, not just by tag
      val adds = branchAdds.filterNot(snap.files.toSet)
      if (adds.isEmpty) return CommitResult(snap.version, attempt, skipped = true)
      val keep = adds.toSet
      def sel[T](all: Seq[T]): Seq[T] =
        branchAdds.zip(all).collect { case (f, v) if keep(f) => v }
      val c = Commit(snap.version + 1, "adopt", adds, Seq.empty, tag,
        statsKey = None, addStats = sel(stats), addBlooms = sel(blooms),
        addStatsN = statsN.map(sel), addBloomsN = bloomsN.map(sel),
        addRows = sel(rowsKnown), addShBlooms = shBl.map(sel))
      if (tryPublish(dstRoot, c)) {
        maybeCheckpoint(dstRoot, c.version)
        return CommitResult(c.version, attempt, skipped = false)
      }
      // no backoff after the FINAL failed attempt — the exception should
      // surface immediately, not after one more jittered sleep
      if (attempt < maxAttempts) backoff(attempt)
    }
    throw new IllegalStateException(
      s"adopt into $dstRoot failed after $maxAttempts attempts (contention)")
  }

  /** Transactional write loop: stage data from the CURRENT snapshot via
    * `body`, publish optimistically, REBASE + retry on conflict. `body`
    * receives the snapshot's DataFrame and returns the full new table
    * content (full-snapshot rewrite keeps the protocol simple; a
    * file-level merge would only change which files land in `removes`).
    * If `tag` is set and any committed version already carries it, the
    * write is a detected replay and becomes a no-op. */
  def transact(spark: SparkSession, root: String, op: String,
               tag: Option[String] = None, maxAttempts: Int = 12)
              (body: DataFrame => DataFrame): CommitResult = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val snap = snapshot(root)
      require(snap.version >= 0, s"not a TxTable: $root")
      if (tag.exists(snap.tags))
        return CommitResult(snap.version, attempt, skipped = true) // replayed epoch
      // a full-snapshot rewrite starts from the EFFECTIVE content (live
      // delete ledgers applied) and retires those ledgers in the same
      // commit — this is how compaction/OPTIMIZE fold merge-on-read
      // deletes back into the data
      val current = morRead(spark, root, snap, snap.files)
      val next = body(current)
      val (adds, st, bl, stN, blN, rws) =
        stageData(next, root, snap.statsKey, snap.statsCols)
      val shBl = stageShingles(next, root, adds, snap.shingleCols, snap.shingleN)
      val c = Commit(snap.version + 1, op, adds,
        snap.files ++ snap.ledgers.map(_.path), tag,
        statsKey = None, addStats = st, addBlooms = bl,
        addStatsN = stN, addBloomsN = blN, addRows = rws,
        addShBlooms = shBl)
      if (tryPublish(root, c)) {
        maybeCheckpoint(root, c.version)
        return CommitResult(c.version, attempt, skipped = false)
      }
      // lost the race: loop rebases on the winner's snapshot. Our staged
      // files stay orphaned (never referenced by any commit) — invisible
      // to readers; a vacuum pass may reclaim them.
      // no backoff after the FINAL failed attempt — the exception should
      // surface immediately, not after one more jittered sleep
      if (attempt < maxAttempts) backoff(attempt)
    }
    throw new IllegalStateException(
      s"commit to $root failed after $maxAttempts attempts (contention)")
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
    import org.apache.spark.sql.functions.col
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
      val touched = snap.kept(between(longAttr(key), lo, hi))
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

  /** (files a [[replaceWhere]] on [lo, hi] would rewrite, total live
    * files) — the metadata-only selection rule, exposed. */
  def replaceAccounting(root: String, lo: Long, hi: Long): (Int, Int) = {
    val snap = snapshot(root)
    (snap.statsKey.fold(snap.files)(k => snap.kept(between(longAttr(k), lo, hi))).size,
      snap.files.size)
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
    val av = snap.fileAddV.getOrElse(f, Long.MaxValue)
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
                      tag: Option[String] = None,
                      maxAttempts: Int = 12): Option[CommitResult] = {
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
        s.fileAddV.getOrElse(f, Long.MaxValue) < l.version)).map(_.path)
    if (!snap0.files.exists(ledgerChain(snap0, _) > maxLedgers) &&
        zombies(snap0).isEmpty) return None
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val snap = snapshot(root)
      if (tag.exists(snap.tags))
        return Some(CommitResult(snap.version, attempt, skipped = true))
      val hot = snap.files.filter(ledgerChain(snap, _) > maxLedgers)
      val dead = zombies(snap)
      if (hot.isEmpty && dead.isEmpty) return None // a rebase resolved it
      if (hot.isEmpty) {
        val c = Commit(snap.version + 1, "fold-ledgers",
          Seq.empty, dead, tag)
        if (tryPublish(root, c)) {
          maybeCheckpoint(root, c.version)
          return Some(CommitResult(c.version, attempt, skipped = false))
        }
      } else {
      val keep = snap.files.diff(hot)
      val rewrite = morRead(spark, root, snap, hot)
      val (adds, st, bl, stN, blN, rws) =
        stageData(rewrite, root, snap.statsKey, snap.statsCols)
      val shBl =
        stageShingles(rewrite, root, adds, snap.shingleCols, snap.shingleN)
      // a ledger whose whole applicability set was just rewritten is
      // dead weight — retire it; one still scoping a kept file stays
      val retired = snap.ledgers.filter(l =>
        !keep.exists(f =>
          l.version > snap.fileAddV.getOrElse(f, Long.MaxValue))).map(_.path)
      val c = Commit(snap.version + 1, "fold-ledgers", adds, hot ++ retired,
        tag, statsKey = None, addStats = st, addBlooms = bl,
        addStatsN = stN, addBloomsN = blN, addRows = rws,
        addShBlooms = shBl)
      if (tryPublish(root, c)) {
        maybeCheckpoint(root, c.version)
        return Some(CommitResult(c.version, attempt, skipped = false))
      }
      }
      // no backoff after the FINAL failed attempt — the exception should
      // surface immediately, not after one more jittered sleep
      if (attempt < maxAttempts) backoff(attempt)
    }
    throw new IllegalStateException(
      s"commit to $root failed after $maxAttempts attempts (contention)")
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
        if (n.endsWith(".ckpt.json"))
          arrField(j, "files") ++ arrField(j, "dfiles").flatMap(ledgerFiles)
        else {
          val c = parse(j)
          // delete ledgers are referenced files too; aliased entries
          // keep their backing data files referenced even after a
          // rewrite removed them from the live set
          c.adds ++ c.dadds.flatMap(ledgerFiles)
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
            c.adds ++ c.dadds.flatMap(ledgerFiles)
          } else Seq.empty
        }
    val archivable = names
      .filter(n => n.endsWith(".json") && !n.endsWith(".ckpt.json"))
      .map(_.stripSuffix(".json").toLong)
      .filter(_ < cutoff)
    // data files only pre-cutoff commits reference, minus the needed set
    val doomed: Set[String] = archivable.iterator.flatMap { v =>
      val c = parse(Files.readString(commitPath(root, v)))
      c.adds ++ c.dadds.flatMap(ledgerFiles)
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
      import org.apache.spark.sql.functions.col
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
    * writes to a huge table affordable. Rebase/retry semantics are
    * [[transact]]'s. */
  def transactFiles(spark: SparkSession, root: String, op: String,
                    tag: Option[String] = None, maxAttempts: Int = 12,
                    sizeStaged: Boolean = false)
                   (body: Snapshot => (Seq[String], DataFrame)): CommitResult = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val snap = snapshot(root)
      require(snap.version >= 0, s"not a TxTable: $root")
      if (tag.exists(snap.tags))
        return CommitResult(snap.version, attempt, skipped = true)
      val (keep, rewrite) = body(snap)
      val (adds, st, bl, stN, blN, rws) =
        stageData(rewrite, root, snap.statsKey, snap.statsCols,
          sizeStaged = sizeStaged)
      val shBl = stageShingles(rewrite, root, adds, snap.shingleCols, snap.shingleN)
      val removes = snap.files.diff(keep)
      val c = Commit(snap.version + 1, op, adds, removes, tag,
        statsKey = None, addStats = st, addBlooms = bl,
        addStatsN = stN, addBloomsN = blN, addRows = rws,
        addShBlooms = shBl)
      if (tryPublish(root, c)) {
        // ADDS-ONLY commit (append shape): the post-commit union schema
        // is the cached union plus the batch's new columns — seed the
        // cache so the next cached read / validation of this table pays
        // zero inference. (Removes can shrink the union; those commits
        // leave the cache to the delta/full recompute path.)
        if (removes.isEmpty && snap.evos.isEmpty && adds.nonEmpty)
          cachedSchemaFor(root, (snap.evos, snap.files)).foreach { tbl =>
            val cs = spark.conf.getOption("spark.sql.caseSensitive")
              .exists(_.toBoolean)
            seedSchema(root, (snap.evos, snap.files ++ adds),
              org.apache.spark.sql.types.StructType(
                tbl.fields ++ rewrite.schema.fields
                  .filterNot(f => tbl.exists(t =>
                    if (cs) t.name == f.name
                    else t.name.equalsIgnoreCase(f.name)))
                  .map(_.copy(nullable = true))))
          }
        maybeCheckpoint(root, c.version)
        return CommitResult(c.version, attempt, skipped = false)
      }
      // no backoff after the FINAL failed attempt — the exception should
      // surface immediately, not after one more jittered sleep
      if (attempt < maxAttempts) backoff(attempt)
    }
    throw new IllegalStateException(
      s"commit to $root failed after $maxAttempts attempts (contention)")
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
             tag: Option[String] = None,
             maxAttempts: Int = 12): CommitResult = {
    val snap0 = snapshot(root)
    require(snap0.version >= 0, s"not a TxTable: $root")
    enforceCheck(batch, snap0.check, "append batch")
    if (tag.exists(snap0.tags))
      return CommitResult(snap0.version, 1, skipped = true)
    val (adds, st, bl, stN, blN, rws) =
      stageData(batch, root, snap0.statsKey, snap0.statsCols)
    val shBl = stageShingles(batch, root, adds, snap0.shingleCols,
      snap0.shingleN)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val snap = snapshot(root)
      if (tag.exists(snap.tags))
        // replay raced in while we staged: the duplicate staging is
        // unreferenced and vacuumOrphans reclaims it
        return CommitResult(snap.version, attempt, skipped = true)
      val c = Commit(snap.version + 1, "append", adds, Seq.empty, tag,
        statsKey = None, addStats = st, addBlooms = bl,
        addStatsN = stN, addBloomsN = blN, addRows = rws,
        addShBlooms = shBl)
      if (tryPublish(root, c)) {
        // adds-only commit: seed the schema cache exactly as
        // transactFiles does for the append shape
        if (snap.evos.isEmpty && adds.nonEmpty)
          cachedSchemaFor(root, (snap.evos, snap.files)).foreach { tbl =>
            val cs = spark.conf.getOption("spark.sql.caseSensitive")
              .exists(_.toBoolean)
            seedSchema(root, (snap.evos, snap.files ++ adds),
              org.apache.spark.sql.types.StructType(
                tbl.fields ++ batch.schema.fields
                  .filterNot(f => tbl.exists(t =>
                    if (cs) t.name == f.name
                    else t.name.equalsIgnoreCase(f.name)))
                  .map(_.copy(nullable = true))))
          }
        maybeCheckpoint(root, c.version)
        return CommitResult(c.version, attempt, skipped = false)
      }
      // no backoff after the FINAL failed attempt — the exception should
      // surface immediately, not after one more jittered sleep
      if (attempt < maxAttempts) backoff(attempt)
    }
    throw new IllegalStateException(
      s"commit to $root failed after $maxAttempts attempts (contention)")
  }

  /** OPTIMIZE: re-cluster the live snapshot by the table's stats key —
    * range partition + within-file sort into `targetFiles` files, as a
    * normal optimistic commit. A streamed-into table accretes files that
    * EACH span the whole key domain (every epoch carries all keys), so
    * the log's per-file [min, max] can never exclude anything and
    * [[readPruned]] degenerates to a full scan. After OPTIMIZE the files
    * tile the key space with tight disjoint stats, so a range read opens
    * ~(selected range / table range) of the files — the layout move that
    * turns a 100 TB table's point/range lookups from O(table) to
    * O(result). Time travel to pre-OPTIMIZE versions still resolves. */
  def optimize(spark: SparkSession, root: String,
               targetFiles: Int = 4): CommitResult = {
    import org.apache.spark.sql.functions.col
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
    import org.apache.spark.sql.functions.col
    val snap = snapshot(root)
    val declared = snap.statsKey.toSeq ++ snap.statsCols
    require(declared.contains(column),
      s"optimizeOn($column) needs the column declared for stats " +
        s"(have ${declared.mkString("[", ",", "]")}) — the re-clustered " +
        "layout would otherwise record no prunable metadata")
    transact(spark, root, "optimize")(
      _.repartitionByRange(targetFiles, col(column)).sortWithinPartitions(column))
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
    import org.apache.spark.sql.functions.col
    val snap = snapshot(root)
    val declared = snap.statsKey.toSeq ++ snap.statsCols
    require(Seq(x, y).forall(declared.contains),
      s"optimizeZ($x, $y) needs both dimensions declared for stats " +
        s"(have ${declared.mkString("[", ",", "]")}) — the re-clustered " +
        "layout would otherwise record no prunable metadata")
    require(Seq(x, y).forall(c => !snap.strCols.contains(c)),
      "optimizeZ needs numeric axes (equal-frequency quantile " +
        "bucketing) — cluster a string axis with optimizeOn instead")
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
    import org.apache.spark.sql.functions.col
    val snap = snapshot(root)
    val declared = snap.statsKey.toSeq ++ snap.statsCols
    require(columns.forall(declared.contains),
      s"optimizeZN(${columns.mkString(", ")}) needs every dimension " +
        s"declared for stats (have ${declared.mkString("[", ",", "]")}) — " +
        "the re-clustered layout would otherwise record no prunable metadata")
    require(columns.forall(c => !snap.strCols.contains(c)),
      "optimizeZN needs numeric axes (equal-frequency quantile " +
        "bucketing) — cluster a string axis with optimizeOn instead")
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
    import org.apache.spark.sql.functions.col
    val snap0 = snapshot(root)
    val declared = snap0.statsKey.toSeq ++ snap0.statsCols
    require(Seq(x, y).forall(declared.contains),
      s"optimizeZSince($x, $y) needs both dimensions declared for stats " +
        s"(have ${declared.mkString("[", ",", "]")})")
    require(Seq(x, y).forall(c => !snap0.strCols.contains(c)),
      "optimizeZSince needs numeric axes — cluster a string axis with " +
        "optimizeOn instead")
    transactFiles(spark, root, "optimize-z-incr") { snap =>
      val keep = snap.files.filter(f =>
        snap.fileAddV.getOrElse(f, Long.MaxValue) <= sinceVersion)
      val fresh = snap.files.diff(keep)
      val rewrite =
        if (fresh.isEmpty)
          emptyRead(spark, root, snap)
        else ZOrderLayout.clusterByZ(
          morRead(spark, root, snap, fresh), col(x), col(y), targetFiles)
      (keep, rewrite)
    }
  }

  /** INCREMENTAL [[optimizeZN]]: re-tile only the files added after
    * `sinceVersion` along the N-dimensional curve; everything older
    * carries over by reference — the same per-epoch maintenance shape as
    * [[optimizeZSince]], on any 2..7 declared numeric axes. */
  def optimizeZNSince(spark: SparkSession, root: String,
                      columns: Seq[String], sinceVersion: Long,
                      targetFiles: Int = 8): CommitResult = {
    import org.apache.spark.sql.functions.col
    val snap0 = snapshot(root)
    val declared = snap0.statsKey.toSeq ++ snap0.statsCols
    require(columns.forall(declared.contains),
      s"optimizeZNSince(${columns.mkString(", ")}) needs every dimension " +
        s"declared for stats (have ${declared.mkString("[", ",", "]")})")
    require(columns.forall(c => !snap0.strCols.contains(c)),
      "optimizeZNSince needs numeric axes — cluster a string axis with " +
        "optimizeOn instead")
    transactFiles(spark, root, "optimize-z-incr") { snap =>
      val keep = snap.files.filter(f =>
        snap.fileAddV.getOrElse(f, Long.MaxValue) <= sinceVersion)
      val fresh = snap.files.diff(keep)
      val rewrite =
        if (fresh.isEmpty)
          emptyRead(spark, root, snap)
        else ZOrderLayout.clusterByZN(
          morRead(spark, root, snap, fresh), columns.map(col), targetFiles)
      (keep, rewrite)
    }
  }

  /** Metadata-only pruning accounting: (files a [lo, hi] range read
    * would open, live files total) — [[readPruned]]'s selection rule,
    * exposed so layout decisions (did OPTIMIZE help?) are checkable
    * without scanning data. */
  def pruneAccounting(root: String, lo: Long, hi: Long): (Int, Int) = {
    val snap = snapshot(root)
    pruneAccountingAt(snap, primaryKey(snap, root), lo, hi)
  }

  /** [[pruneAccounting]] for any declared stats column. */
  def pruneAccountingOn(root: String, column: String,
                        lo: Long, hi: Long): (Int, Int) =
    pruneAccountingAt(snapshot(root), column, lo, hi)

  private def pruneAccountingAt(snap: Snapshot, column: String,
                                lo: Long, hi: Long): (Int, Int) = {
    requireNumericStats(snap, column)
    (snap.kept(between(longAttr(column), lo, hi)).size, snap.files.length)
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
      import org.apache.spark.sql.functions.col
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
    val logStats = snap.fileStats
    if (snap.statsKey.contains(key) && snap.files.forall(logStats.contains)) {
      import spark.implicits._
      val statsDf = snap.files
        .map(f => (f, logStats(f)._1, logStats(f)._2))
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
          val av = to.fileAddV.getOrElse(f, Long.MaxValue)
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
          to.statsKey.fold(applicable)(k =>
            to.copy(files = applicable).kept(in(longAttr(k), doomedKeys)))
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

  def mergeCow(spark: SparkSession, root: String, changes: DataFrame,
               key: String, tag: Option[String] = None,
               mergeKeys: Seq[String] = Seq.empty): CommitResult = {
    val mk = if (mergeKeys.isEmpty) Seq(key) else mergeKeys
    require(mk.contains(key),
      s"mergeKeys $mk must contain the file-selection key '$key' — " +
        "otherwise a matching row could hide in an unselected file")
    enforceCheck(changes, snapshot(root).check, "merge changes")
    transactFiles(spark, root, "merge-cow", tag, sizeStaged = true) { snap =>
      import org.apache.spark.sql.functions.col
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
                key: String, tag: Option[String] = None,
                maxAttempts: Int = 12): CommitResult =
    deleteMorKeys(spark, root, doomed, Seq(key), tag, maxAttempts)

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
    import org.apache.spark.sql.functions.col
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
                    keys: Seq[String], tag: Option[String] = None,
                    maxAttempts: Int = 12): CommitResult = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "deleteMorKeys needs at least one key column")
    val ledgerDf = ledgerKeys(doomed, keys)
    // stage the ledger once; rebased retries re-reference the same file
    val (dfiles, _, _, _, _, _) = stageData(
      ledgerDf.distinct().coalesce(1), root, statsKey = None)
    val dsig = encodeSig(ledgerDf.schema)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val snap = snapshot(root)
      require(snap.version >= 0, s"not a TxTable: $root")
      if (tag.exists(snap.tags))
        return CommitResult(snap.version, attempt, skipped = true)
      val c = Commit(snap.version + 1, "delete-mor",
        adds = Seq.empty, removes = Seq.empty, tag, dadds = dfiles,
        dsigs = dfiles.map(_ => dsig))
      if (tryPublish(root, c)) {
        maybeCheckpoint(root, c.version)
        return CommitResult(c.version, attempt, skipped = false)
      }
      // no backoff after the FINAL failed attempt — the exception should
      // surface immediately, not after one more jittered sleep
      if (attempt < maxAttempts) backoff(attempt)
    }
    throw new IllegalStateException(
      s"delete-mor commit to $root failed after $maxAttempts attempts (contention)")
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
               key: String, tag: Option[String] = None,
               maxAttempts: Int = 12): CommitResult =
    mergeMorKeys(spark, root, changes, Seq(key), tag, maxAttempts)

  /** [[mergeMor]] on a COMPOSITE key — the upsert identity a keyed
    * window aggregate sink needs (e.g. (window, event_type)): the ledger
    * carries all key columns in natural types; reads subtract by
    * null-safe equality on the whole tuple. */
  def mergeMorKeys(spark: SparkSession, root: String, changes: DataFrame,
                   keys: Seq[String], tag: Option[String] = None,
                   maxAttempts: Int = 12): CommitResult = {
    import org.apache.spark.sql.functions.col
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
    // name match mirrors Spark's resolution: case-insensitive unless
    // spark.sql.caseSensitive — a batch column differing only in case
    // still binds to the table column at read time, so it must hit the
    // same type guard here
    val cs = spark.conf.getOption("spark.sql.caseSensitive")
      .exists(_.toBoolean)
    def sameName(a: String, b: String): Boolean =
      if (cs) a == b else a.equalsIgnoreCase(b)
    locally {
      changes.schema.foreach { f =>
        tbl.find(t => sameName(t.name, f.name)).foreach { t =>
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
    val (adds, st, bl, stN, blN, rws) =
      stageData(changes, root, snap0.statsKey, snap0.statsCols,
        sizeStaged = true)
    val dfiles =
      if (adds.isEmpty) Seq.empty[String] else Seq("@" + adds.mkString(";"))
    // the signature comes from the VALIDATED batch schema (the staged
    // parquet round-trips it exactly), long-normalized the same way
    // [[ledgerKeys]] would — no read-back job
    val dsig = encodeSig(org.apache.spark.sql.types.StructType(
      if (keys.size == 1 && isIntegral(
          changes.schema(changes.schema.fieldIndex(keys.head)).dataType))
        Seq(org.apache.spark.sql.types.StructField(keys.head,
          org.apache.spark.sql.types.LongType))
      else keys.map(k => changes.schema(changes.schema.fieldIndex(k)))))
    val shBl = stageShingles(changes, root, adds,
      snap0.shingleCols, snap0.shingleN)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val snap = snapshot(root)
      if (tag.exists(snap.tags))
        return CommitResult(snap.version, attempt, skipped = true)
      val c = Commit(snap.version + 1, "merge-mor",
        adds = adds, removes = Seq.empty, tag,
        statsKey = None, addStats = st, addBlooms = bl,
        addStatsN = stN, addBloomsN = blN, addRows = rws, dadds = dfiles,
        addShBlooms = shBl, dsigs = dfiles.map(_ => dsig))
      if (tryPublish(root, c)) {
        // seed the schema cache for the post-commit witness: the union
        // schema grows only by the batch's validated new columns, so the
        // NEXT micro-batch's validation pays zero inference jobs — the
        // remaining per-commit footer job of a streaming MoR drain.
        // Only on the un-rebased path (snap == the snapshot `tbl` was
        // validated against): a rebase may have raced in columns this
        // union can't see.
        if (snap.version == snap0.version)
          seedSchema(root, (snap.evos, snap.files ++ adds),
            org.apache.spark.sql.types.StructType(
              tbl.fields ++ changes.schema.fields
                .filterNot(f => tbl.exists(t => sameName(t.name, f.name)))
                .map(_.copy(nullable = true))))
        maybeCheckpoint(root, c.version)
        return CommitResult(c.version, attempt, skipped = false)
      }
      // no backoff after the FINAL failed attempt — the exception should
      // surface immediately, not after one more jittered sleep
      if (attempt < maxAttempts) backoff(attempt)
    }
    throw new IllegalStateException(
      s"merge-mor commit to $root failed after $maxAttempts attempts (contention)")
  }

  private val identName = "^[A-Za-z_][A-Za-z0-9_]*$".r

  /** Shared metadata-only commit loop for schema evolutions. */
  private def commitEvo(root: String, op: String, evo: String,
                        tag: Option[String], maxAttempts: Int = 12)
                       (validate: Snapshot => Unit): CommitResult = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val snap = snapshot(root)
      require(snap.version >= 0, s"not a TxTable: $root")
      if (tag.exists(snap.tags))
        return CommitResult(snap.version, attempt, skipped = true)
      validate(snap)
      val c = Commit(snap.version + 1, op, Seq.empty, Seq.empty, tag,
        evos = Seq(evo))
      if (tryPublish(root, c)) {
        maybeCheckpoint(root, c.version)
        return CommitResult(c.version, attempt, skipped = false)
      }
      // no backoff after the FINAL failed attempt — the exception should
      // surface immediately, not after one more jittered sleep
      if (attempt < maxAttempts) backoff(attempt)
    }
    throw new IllegalStateException(
      s"$op commit to $root failed after $maxAttempts attempts (contention)")
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
