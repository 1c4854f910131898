package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress, Trigger}

import graft.core.Tables

/** Batch-equivalence replay harness (SURVEY.md §5.2): every replayed
  * Structured Streaming query runs through the one [[drain]] — a file
  * (or table) source drained with `Trigger.AvailableNow` into a sink the
  * caller picks — and [[run]] returns a memory sink's table as a batch
  * DataFrame. The driver's DuckDB oracle then checks the streaming result
  * against the batch rendering of the same semantics.
  *
  * This mirrors how the reference job would be validated: its Kafka source
  * (`WeatherProcessingJob.java:65-77`) replaced by a replayable file source,
  * everything downstream identical.
  */
object Replay {

  private val counter = new AtomicInteger(0)

  /** Events table as an unbounded stream. Schema comes from the static
    * footer (ts surfaces as long nanos — see Tables.t) and is converted to
    * an event-time TIMESTAMP column exactly like the batch path. */
  private val streamDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The streaming parquet source requires a DIRECTORY; testdata tables are
    * single files. Expose `events.parquet` through a symlinked temp dir
    * (created once per sf dir). */
  private def eventsDir(dir: String): String =
    streamDirs.computeIfAbsent(dir, { _ =>
      // shared shutdown-hook temp dir (one per sf dir per JVM): the
      // symlink farm would otherwise accumulate across runs
      val tmp = graft.queries.tempDir("graft_events_stream")
      Files.createSymbolicLink(
        tmp.resolve("events.parquet"),
        java.nio.file.Paths.get(Tables.path(dir, "events")))
      tmp.toString
    })

  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(Tables.path(dir, "events")) // schema only
    Tables.normalizeEvents(
      spark.readStream
        .schema(raw.schema)
        .parquet(eventsDir(dir)))
  }

  /** Stateful micro-batches pay a per-partition state-store open/commit on
    * EVERY batch, so replay cost is (shuffle partitions × batches) of fixed
    * overhead before any data is touched. Replays run with a smaller state
    * partition count — the streaming analog of sizing
    * `spark.sql.shuffle.partitions` to the cluster, where a real deployment
    * picks 2-3× executor cores and the checkpoint pins it thereafter. */
  private val replayPartitions = "8"

  /** `key` set to `value` for the duration of `body`, then restored to
    * what it was before (unset if it was unset), also when `body` throws. */
  private def withConf[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body` with the session's state store on RocksDB (the production
    * store, and the only one `transformWithState` runs on); the previous
    * provider is restored afterwards. */
  def withRocksDb[T](spark: SparkSession)(body: => T): T =
    withConf(spark, "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** THE drain: start `streamDf` in `outputMode` with `Trigger.AvailableNow`
    * into the sink `sink` configures on the writer (memory, foreachBatch,
    * `format("graft")`, noop, ...), wait for it to finish, and return its
    * progress, one entry per batch. The query checkpoints to `checkpoint`
    * (a drain that resumes an earlier one passes its dir) or else to a
    * fresh temp dir, and runs at the replay state-partition count, which
    * the checkpoint pins at its first batch; the session's own count is
    * restored afterwards. A failing query throws its
    * `StreamingQueryException` here. */
  def drain(streamDf: DataFrame, outputMode: String = "append",
            checkpoint: Option[String] = None)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row])
      : Seq[StreamingQueryProgress] = {
    val spark = streamDf.sparkSession
    withConf(spark, "spark.sql.shuffle.partitions", replayPartitions) {
      val q = sink(streamDf.writeStream.outputMode(outputMode))
        .option("checkpointLocation", checkpoint.getOrElse(
          graft.queries.tempDir("graft_ckpt_replay").toString))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.toSeq
    }
  }

  /** [[drain]] into a memory sink; returns the materialized result. */
  def run(streamDf: DataFrame, outputMode: String): DataFrame =
    runWithStateUsage(streamDf, outputMode)._1

  /** [[run]] plus the drain's [[stateUsage]]. */
  def runWithStateUsage(streamDf: DataFrame, outputMode: String)
      : (DataFrame, Seq[(String, Long, Long, Map[String, Long])]) = {
    val name = s"replay_${counter.incrementAndGet()}"
    val progress = drain(streamDf, outputMode)(_.format("memory").queryName(name))
    (streamDf.sparkSession.table(name), stateUsage(progress))
  }

  /** Per stateful operator, the FINAL state-store footprint —
    * (operatorName, numRowsTotal, memoryUsedBytes) from the last progress
    * that carried state metrics — and its custom metrics (RocksDB gets
    * and puts, ...) summed over every batch of the drain. This is the
    * state-observability hook the bounded-state specs assert on: after a
    * watermarked multi-chunk drain, the rows left in state must be the
    * OPEN windows only — the watermark's purge is what makes a stateful
    * query survive an unbounded stream, and this makes that contract
    * measurable instead of assumed. The summed counters measure a drain's
    * state work independently of the host's speed. */
  def stateUsage(progress: Seq[StreamingQueryProgress])
      : Seq[(String, Long, Long, Map[String, Long])] = {
    val withState = progress.filter(p => Option(p.stateOperators).exists(_.nonEmpty))
    withState.lastOption.toSeq.flatMap(_.stateOperators.toSeq.zipWithIndex.map {
      case (op, i) =>
        (op.operatorName, op.numRowsTotal, op.memoryUsedBytes,
          withState.flatMap(_.stateOperators.lift(i))
            .flatMap(_.customMetrics.asScala.map { case (k, v) => k -> v.longValue })
            .groupMapReduce(_._1)(_._2)(_ + _))
    })
  }
}
