package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.Tables

/** Batch-equivalence replay harness (SURVEY.md §5.2): run a Structured
  * Streaming query over a file source with `Trigger.AvailableNow`, drain it
  * into a memory sink, and return the sink table as a batch DataFrame. The
  * driver's DuckDB oracle then checks the streaming result against the
  * batch rendering of the same semantics.
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
    * picks 2-3× executor cores and the checkpoint pins it thereafter.
    * Restored after the drain (the value is baked into each query's own
    * checkpoint at its first batch). */
  private val replayPartitions = "8"

  private def withReplayPartitions[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, replayPartitions)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Checkpoint dir that is removed at JVM exit. */
  private def ckptDir(name: String): String = {
    val p = Files.createTempDirectory(s"graft_ckpt_$name")
    sys.addShutdownHook {
      try {
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
        finally walk.close()
      } catch { case _: Exception => () }
    }
    p.toString
  }

  /** Drain a streaming DataFrame via AvailableNow into a memory sink;
    * returns the materialized result. */
  def run(streamDf: DataFrame, outputMode: String,
          maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val spark = streamDf.sparkSession
    val name = s"replay_${counter.incrementAndGet()}"
    withReplayPartitions(spark) {
      val q = streamDf.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .option("checkpointLocation", ckptDir(name))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
  }

  /** Like `run` but also reports watermark drops. The caller controls
    * micro-batch granularity via the SOURCE option `maxFilesPerTrigger`
    * (late-data tests split on-time/late rows into separate files).
    * Returns (result, numRowsDroppedByWatermark summed over batches). */
  def runWithDropCount(streamDf: DataFrame, outputMode: String): (DataFrame, Long) = {
    val spark = streamDf.sparkSession
    val name = s"replay_${counter.incrementAndGet()}"
    val dropped = withReplayPartitions(spark) {
      val q = streamDf.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .option("checkpointLocation", ckptDir(name))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Option(q.asInstanceOf[org.apache.spark.sql.streaming.StreamingQuery]
          .recentProgress)
        .map(_.flatMap(p => Option(p.stateOperators).toSeq.flatten
          .map(_.numRowsDroppedByWatermark)).sum)
        .getOrElse(0L)
    }
    (spark.table(name), dropped)
  }

  /** Like `run` but also reports, per stateful operator, the FINAL
    * state-store footprint — (operatorName, numRowsTotal,
    * memoryUsedBytes) from the last progress that carried state metrics
    * — and its custom metrics (RocksDB gets and puts, ...) summed over
    * every batch of the drain. This is the state-observability hook the
    * bounded-state specs assert on: after a watermarked multi-chunk
    * drain, the rows left in state must be the OPEN windows only — the
    * watermark's purge is what makes a stateful query survive an
    * unbounded stream, and this makes that contract measurable instead
    * of assumed. The summed counters measure a drain's state work
    * independently of the host's speed. */
  def runWithStateUsage(streamDf: DataFrame, outputMode: String)
      : (DataFrame, Seq[(String, Long, Long, Map[String, Long])]) = {
    val spark = streamDf.sparkSession
    val name = s"replay_${counter.incrementAndGet()}"
    val usage = withReplayPartitions(spark) {
      val q = streamDf.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .option("checkpointLocation", ckptDir(name))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val withState = Option(q.recentProgress).toSeq.flatten
        .filter(p => Option(p.stateOperators).exists(_.nonEmpty))
      withState.lastOption.toSeq.flatMap(_.stateOperators.toSeq.zipWithIndex.map {
        case (op, i) =>
          (op.operatorName, op.numRowsTotal, op.memoryUsedBytes,
            withState.flatMap(_.stateOperators.lift(i))
              .flatMap(_.customMetrics.asScala.map { case (k, v) => k -> v.longValue })
              .groupMapReduce(_._1)(_._2)(_ + _))
      })
    }
    (spark.table(name), usage)
  }
}
