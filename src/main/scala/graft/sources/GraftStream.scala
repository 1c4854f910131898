package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Sink, Source}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StructField, StructType}

import graft.operators.TxTable

/** Streaming offset = TxTable log version: "everything committed up to
  * and including version v has been emitted". Total order, exactly the
  * table's own, replayable forever (time travel), serialized as the
  * bare number in the checkpoint's offset log. */
final case class GraftOffset(version: Long) extends V1Offset {
  override def json: String = version.toString
}

object GraftOffset {
  def of(o: V1Offset): Long = o match {
    case GraftOffset(v) => v
    case other => other.json.trim.toLong // SerializedOffset after recovery
  }
}

/** `spark.readStream.format("graft").load(root)` — the table's commit
  * log as a micro-batch stream (the Delta streaming-source semantic):
  * each batch is the data ADDED between two log versions, read as a
  * normal pruned parquet scan and handed to the engine with the
  * streaming flag stamped on (see
  * [[org.apache.spark.sql.graft.Bridge]]).
  *
  * Semantics are APPENDS-ONLY: a commit that REMOVES files (CoW
  * merge/delete, OPTIMIZE, compaction) is refused loudly — the stream
  * would otherwise silently re-emit rewritten rows — unless
  * `ignoreChanges=true`, which emits the commit's adds anyway
  * (at-least-once for updated rows; the reader dedups downstream).
  * Merge-on-read deletes add only a LEDGER (no data-file removal), so
  * they pass through without re-emission — the masked rows were simply
  * already emitted, the standard CDC-vs-append tradeoff.
  *
  * `maxVersionsPerTrigger` bounds how many log versions one micro-batch
  * folds (backlog chunking after a long stop — the file-source
  * `maxFilesPerTrigger` idea on the log's axis).
  *
  * First batch = the FULL snapshot at the then-current version (initial
  * load), after which batches are incremental.
  */
final class GraftStreamSource(
    spark: SparkSession,
    root: String,
    override val schema: StructType,
    ignoreChanges: Boolean,
    maxVersionsPerTrigger: Option[Long])
    extends Source with SupportsTriggerAvailableNow {

  // highest version already HANDED TO the engine in a planned batch —
  // getOffset paces against it so a backlog drains in bounded steps.
  // Recovery is engine-driven: after a restart the first getBatch call
  // carries the checkpointed offsets and re-syncs this (the first
  // post-restart batch is therefore unpaced — the V1 API surfaces no
  // recovered offset before getBatch).
  @volatile private var planned: Long = -1L
  // Trigger.AvailableNow contract: freeze the drain target at start so
  // the engine stops at a fixed point even while writers keep
  // committing; batches still pace by maxVersionsPerTrigger.
  @volatile private var frozenHead: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    frozenHead = Some(TxTable.snapshot(root).version)

  // SupportsAdmissionControl member (the V2 face of the same pacing);
  // the V1 micro-batch path drives this source through getOffset, so
  // delegate for interface completeness.
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    getOffset.orNull

  override def getOffset: Option[V1Offset] = {
    val head = frozenHead.getOrElse(TxTable.snapshot(root).version)
    if (head < 0) None
    else {
      val capped = maxVersionsPerTrigger match {
        case Some(m) => math.min(head, math.max(planned, -1L) + m)
        case None => head
      }
      Some(GraftOffset(math.max(capped, planned)))
    }
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val endV = GraftOffset.of(end)
    planned = math.max(planned, endV)
    val endSnap = TxTable.snapshot(root, endV)
    val files: Seq[String] = start match {
      case None => endSnap.files // initial load: the whole snapshot
      case Some(s) =>
        val startV = GraftOffset.of(s)
        val startSnap = TxTable.snapshot(root, startV)
        val removed = startSnap.files.toSet -- endSnap.files.toSet
        if (removed.nonEmpty && !ignoreChanges)
          throw new IllegalStateException(
            s"graft stream over $root hit a commit in (v$startV, v$endV] " +
              s"that rewrites ${removed.size} existing file(s) " +
              "(merge/delete/optimize/compact). An appends-only stream " +
              "cannot represent it; set ignoreChanges=true to emit the " +
              "commit's additions anyway (at-least-once for rewritten rows).")
        endSnap.files.filterNot(startSnap.files.toSet)
    }
    val batch =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(files.map(f => s"$root/$f"): _*)
    Bridge.retag(batch, isStreaming = true)
  }

  override def commit(end: V1Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"GraftStreamSource[$root]"
}

/** `readStream.format("graft")` with `readChangeFeed=true` — the CDC
  * face of the same log-version offset axis: each micro-batch is
  * [[TxTable.changeFeed]] between two versions, keyed by `changeKeys`,
  * emitting `(keys..., change insert|update|delete, pre, post)` rows.
  * Where the appends-only source REFUSES rewriting commits, the CDC
  * source REPRESENTS them — updates carry both images, deletes
  * (copy-on-write AND merge-on-read ledgers) surface as rows, so a
  * downstream table can stay exactly consistent, not just
  * append-consistent. The initial batch renders the starting snapshot
  * as `insert` rows (pre = NULL), after which batches are log diffs.
  * Per-batch cost ∝ files touched in the version range, never the
  * table. */
final class GraftChangeFeedSource(
    spark: SparkSession,
    root: String,
    keys: Seq[String],
    tableSchema: StructType,
    maxVersionsPerTrigger: Option[Long])
    extends Source with SupportsTriggerAvailableNow {

  require(keys.nonEmpty, "readChangeFeed needs changeKeys=<k1[,k2...]>")
  keys.foreach(k => require(tableSchema.fieldNames.contains(k),
    s"changeKeys column '$k' is not in the table schema " +
      tableSchema.fieldNames.mkString("(", ", ", ")")))

  private val valueStruct = StructType(
    tableSchema.filterNot(f => keys.contains(f.name)))

  override val schema: StructType = StructType(
    keys.map(k => tableSchema(k)) ++ Seq(
      StructField("change", org.apache.spark.sql.types.StringType),
      StructField("pre", valueStruct, nullable = true),
      StructField("post", valueStruct, nullable = true)))

  @volatile private var planned: Long = -1L
  @volatile private var frozenHead: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    frozenHead = Some(TxTable.snapshot(root).version)

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    getOffset.orNull

  override def getOffset: Option[V1Offset] = {
    val head = frozenHead.getOrElse(TxTable.snapshot(root).version)
    if (head < 0) None
    else {
      val capped = maxVersionsPerTrigger match {
        case Some(m) => math.min(head, math.max(planned, -1L) + m)
        case None => head
      }
      Some(GraftOffset(math.max(capped, planned)))
    }
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct}
    val endV = GraftOffset.of(end)
    planned = math.max(planned, endV)
    val ordered: Seq[org.apache.spark.sql.Column] =
      keys.map(col) ++ Seq(col("change"), col("pre"), col("post"))
    val batch = start match {
      case None => // initial snapshot as insert rows
        GraftSource.read(spark, root, endV).select(
          keys.map(col) ++ Seq(
            lit("insert").as("change"),
            lit(null).cast(valueStruct).as("pre"),
            struct(valueStruct.fieldNames.map(col).toSeq: _*).as("post")): _*)
      case Some(s) =>
        val startV = GraftOffset.of(s)
        if (startV == endV)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else TxTable.changeFeed(spark, root, startV, endV, keys)
          .select(ordered: _*)
    }
    Bridge.retag(batch, isStreaming = true)
  }

  override def commit(end: V1Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"GraftChangeFeedSource[$root]"
}

/** `writeStream.format("graft")` — the exactly-once table sink as a
  * first-class Spark sink: every micro-batch lands as ONE epoch-tagged
  * transactional commit (`app=graftsink/epoch=<batchId>`), so a batch
  * replayed after a crash-restart is detected in the tag ledger and
  * no-ops — the reference's transactional-id semantic
  * (WeatherProcessingJob.java:97) with the table log as the 2PC ledger.
  *
  * `mergeKeys=k1,k2` upserts each batch on those keys (update-mode
  * windowed aggregates); absent, batches append. `statsKey=k` seeds the
  * auto-created table's pruning stats. `mergeMode=mor` lands each
  * upsert epoch as a merge-on-read commit (aliased delete ledger + new
  * row versions, ZERO data-file rewrites) — the per-epoch cost a hot
  * 100 TB table needs, with `foldLedgersOver` as the maintenance
  * counterpart; the default `cow` rewrites touched files per epoch and
  * keeps the table ledger-free for planner-integrated scans.
  * `foldEvery=N` (with mor) makes the sink SELF-MAINTAINING: every Nth
  * epoch runs the ledger-pressure fold in-band (bound `maxLedgers`,
  * default 8), so an unbounded drain keeps a bounded read chain,
  * delete-set volume, and log weight without an external maintenance
  * job — epoch-tagged, so a replayed trigger never re-folds. */
final class GraftStreamSink(
    spark: SparkSession,
    root: String,
    mergeKeys: Seq[String],
    statsKey: Option[String],
    morUpserts: Boolean = false,
    foldEvery: Int = 0,
    maxLedgers: Int = 8) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val raw = Bridge.retag(data, isStreaming = false)
    if (TxTable.snapshot(root).version < 0)
      TxTable.create(raw.limit(0), root, statsKey) // schema-only v0
    // materialize the micro-batch ONCE: the commit path reads it twice
    // (emptiness/size + staging), and — streaming plans run with AQE
    // off — the raw frame carries one output partition per post-shuffle
    // task, so a small update-mode aggregate batch would otherwise
    // shatter into ~32 near-empty files, each paying writer init, a
    // footer read, stats, and a log entry EVERY epoch. Size the commit
    // from the materialized count instead (~2M rows per file), freeing
    // the blocks as soon as the commit lands.
    val cp = raw.localCheckpoint(true)
    val fresh = cp.queryExecution.logical.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    try {
      val n = cp.count()
      // NO-DATA batches (watermark advancement in update mode): an
      // empty append/upsert changes nothing — skip the commit rather
      // than churn the log with empty versions (consistent under
      // replay: empty then, empty now)
      if (n == 0L) return
      val df = cp.coalesce(GraftStreamSink.commitPartitions(spark, n))
      val tag = Some(s"graftsink/epoch=$batchId")
      if (mergeKeys.nonEmpty && morUpserts)
        TxTable.mergeMorKeys(spark, root, df, mergeKeys, tag)
      else if (mergeKeys.nonEmpty)
        TxTable.mergeCow(spark, root, df, mergeKeys.head, tag, mergeKeys)
      else TxTable.append(spark, root, df, tag)
      if (morUpserts && foldEvery > 0 && batchId > 0 &&
          batchId % foldEvery == 0)
        TxTable.foldLedgersOver(spark, root, maxLedgers,
          Some(s"graftsink/fold=$batchId"))
    } finally fresh.foreach(_.unpersist(blocking = false))
  }
  override def toString: String = s"GraftStreamSink[$root]"
}

object GraftStreamSink {

  /** Output partitions for committing a materialized micro-batch of
    * `rows` rows: ~2M rows per file, capped at the session parallelism. */
  def commitPartitions(spark: SparkSession, rows: Long): Int =
    math.min(rows / 2000000L + 1L, spark.sparkContext.defaultParallelism.toLong).toInt
}
