package perfbench

import java.io.File
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.LongAccumulator

import graft.WeatherJob
import graft.codec.{AvroEnvelope, EnvelopeFormat, SchemaRegistry}
import graft.codec.AvroEnvelope.WeatherReading
import graft.core.EngineConfig

/** The production streaming plan, driven from files of envelopes:
  * file source → `AvroEnvelope.decodeWithMetrics` → `WeatherJob.plan`
  * (RocksDB state, changelog checkpointing, `Presence.detectEvict`) →
  * `WeatherJob.sinkProjection` → JSON file sink. */
object Pipeline {
  /** Presence TTL: short enough that idle devices' eviction timers fire
    * inside a run (WeatherJob's `presence.ttl.ms` default is 1 h). */
  val TtlMs = 300000L
  /** Envelopes per file, and files per catch-up trigger. */
  val EventsPerFile = 25000
  val FilesPerTrigger = 2
  /** Catch-up backlog per measured second. */
  val CatchupEventsPerSecond = 66667
  /** Open-loop offered load of the live phase: about half the catch-up
    * rate on a 4-core host. */
  val LiveEventsPerSecond = 25000
  val LiveFilesPerSecond = 20
  val LiveTriggerMs = 1000L
  /** Largest share of the expected presence rows that may be missing or
    * extra: the known out-of-order defect (see the README) stays far
    * below it, an empty or wrong sink does not. */
  val MaxWrongShare = 0.001

  /** The traffic shape, over files of the given sizes. */
  def traffic(fileSizes: Seq[Int]): TrafficSpec = {
    val events = fileSizes.sum
    TrafficSpec(devices = events / 10, zipfS = 1.1, eventSpanMs = events * 3L, ttlMs = TtlMs,
      outOfOrderShare = 0.05, maxLateMs = 3500L, poisonShare = 0.005, v1Share = 0.5,
      fileSizes = fileSizes)
  }

  final class Running(val q: StreamingQuery, val dropped: LongAccumulator,
                      val ckpt: File, val sink: File, val startMs: Double)

  def start(ctx: Ctx, src: File, tag: String, trigger: Trigger,
            maxFiles: Option[Int]): Running = {
    val spark = ctx.spark
    import spark.implicits._
    val ckpt = ctx.dir(s"$tag/ckpt")
    val sink = ctx.dir(s"$tag/sink")
    val t0 = ctx.tracer.nowMs
    var reader = spark.readStream.schema(Traffic.ValueSchema)
    maxFiles.foreach(n => reader = reader.option("maxFilesPerTrigger", n.toLong))
    val raw = reader.parquet(src.getPath).select("value")
    val conf = EngineConfig(Map.empty[String, String])
    val (decoded, dropped) = AvroEnvelope.decodeWithMetrics(spark, raw.as[Array[Byte]],
      SchemaRegistry.fromConfig(conf), EnvelopeFormat.fromConfig(conf))
    val readings = decoded.toDF()
      .observe("graft_ingest", count(lit(1)).as("decoded_rows"))
      .as[WeatherReading]
    val out = WeatherJob.sinkProjection(WeatherJob.plan(spark, readings, TtlMs))
    val q = out.writeStream.format("json")
      .option("path", sink.getPath)
      .option("checkpointLocation", ckpt.getPath)
      .outputMode("append")
      .trigger(trigger)
      .start()
    ctx.sparkMetrics.foreach(_.bindGroup(q.runId.toString, ctx.tracer.currentId))
    new Running(q, dropped, ckpt, sink, t0)
  }

  /** Drain every file under `src` with AvailableNow; returns wall ms. */
  def drain(ctx: Ctx, src: File, tag: String): (Running, Double) = {
    ctx.tracer.span("pipeline.drain") {
      val r = start(ctx, src, tag, Trigger.AvailableNow(), Some(FilesPerTrigger))
      r.q.awaitTermination()
      r.q.exception.foreach(e => throw e)
      (r, ctx.tracer.nowMs - r.startMs)
    }
  }

  /** One parquet file per index, `NNNNN.parquet`, with modification
    * times in index order (the order the file source replays them in).
    * Written with parquet-hadoop directly: `schema` is a parquet message
    * type, each row a sequence of Array[Byte] / String / Long values. */
  def writeOrdered(dir: File, schema: String, files: Int, rows: Int => Iterator[Seq[Any]]): Unit = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    import scala.collection.parallel.CollectionConverters._
    Files2.deleteRecursively(dir)
    dir.mkdirs()
    val type_ = MessageTypeParser.parseMessageType(schema)
    val names = (0 until type_.getFieldCount).map(type_.getFieldName)
    val conf = new Configuration()
    val t = System.currentTimeMillis() - files * 1000L
    (0 until files).par.foreach { f =>
      val file = new File(dir, f"$f%05d.parquet")
      val w = ExampleParquetWriter.builder(new Path(file.toURI)).withType(type_)
        .withConf(conf).withCompressionCodec(CompressionCodecName.SNAPPY).build()
      val groups = new SimpleGroupFactory(type_)
      try rows(f).foreach { r =>
        val g = groups.newGroup()
        names.zip(r).foreach {
          case (n, v: Array[Byte]) => g.add(n, Binary.fromConstantByteArray(v))
          case (n, v: String) => g.add(n, v)
          case (n, v: Long) => g.add(n, v)
          case (n, v) => throw new IllegalArgumentException(s"$n: $v")
        }
        w.write(g)
      } finally w.close()
    }
    for (f <- 0 until files) {
      val file = new File(dir, f"$f%05d.parquet")
      new File(dir, f".$f%05d.parquet.crc").delete()
      file.setLastModified(t + f * 1000L)
    }
  }

  val EnvelopeParquet = "message spark_schema { optional binary value; }"

  /** The envelope files of `tr`, generated once per seed. */
  def envelopeFiles(ctx: Ctx, tr: Traffic, name: String): File = {
    val dir = ctx.cache(name)
    val marker = new File(dir.getParentFile, name + ".complete")
    if (!marker.exists) {
      val envs = new Array[Array[Byte]](tr.spec.events)
      import scala.collection.parallel.CollectionConverters._
      (0 until tr.spec.events).grouped(4096).toSeq.par
        .foreach(_.foreach(i => envs(i) = tr.envelope(i)))
      writeOrdered(dir, EnvelopeParquet, tr.spec.files,
        f => tr.fileRange(f).iterator.map(i => Seq(envs(i))))
      marker.createNewFile()
    }
    dir
  }

  private val PresenceSchema = StructType(Seq(StructField("device_id", StringType),
    StructField("state", StringType), StructField("ts_ms", LongType)))

  /** Rows of the sink as a multiset, and how many rows break the sink
    * contract (key = device id, one `ts` header = big-endian ts_ms). */
  def readSink(spark: SparkSession, sink: File): (Map[PresenceModel.Row3, Int], Long, Long) = {
    val df = spark.read
      .schema("key STRING, value STRING, headers ARRAY<STRUCT<key: STRING, value: BINARY>>")
      .json(sink.getPath)
    val rows = df.select(col("key"), from_json(col("value"), PresenceSchema).as("v"),
        col("headers")).collect()
    val m = scala.collection.mutable.HashMap.empty[PresenceModel.Row3, Int]
    var bad = 0L
    rows.foreach { r =>
      val v = r.getStruct(1)
      val k = (v.getString(0), v.getString(1), v.getLong(2))
      m(k) = m.getOrElse(k, 0) + 1
      val hs = r.getSeq[Row](2)
      val headerOk = hs != null && hs.size == 1 && hs.head.getString(0) == "ts" && {
        val b = hs.head.getAs[Array[Byte]](1)
        b.length == 8 && java.nio.ByteBuffer.wrap(b).getLong == k._3
      }
      if (r.getString(0) != k._1 || !headerOk) bad += 1
    }
    (m.toMap, rows.length.toLong, bad)
  }

  def sinkBytes(sink: File): Long =
    Files2.filesUnder(sink).filterNot(_.getPath.contains("_spark_metadata"))
      .filterNot(_.getName.startsWith(".")).map(_.length).sum

  def dataBatches(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.numInputRows > 0)

  def endMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble + p.durationMs.get("triggerExecution").toDouble

  /** Output checks of the queries `runs`, which shared one sink and
    * were fed every event of `tr`: decode drops equal the planted
    * poison, the decoded count equals the valid envelopes, and the sink
    * equals the presence model row for row, but for at most
    * `MaxWrongShare` of the expected rows. Wrong rows count as failed;
    * every expected row is attempted. */
  def checkOutput(ctx: Ctx, tr: Traffic, runs: Seq[Running], what: String): Unit = {
    ctx.drainListeners()
    val ps = runs.flatMap(r => ctx.progress.of(r.q.runId))
    val poison = tr.poisonCount
    val valid = tr.spec.events - poison
    val dropped = runs.map(_.dropped.value.longValue).sum
    val decodedRows = ps.flatMap(p => Option(p.observedMetrics.get("graft_ingest")))
      .map(_.getLong(0)).sum
    ctx.check(s"$what: codec.dropped equals planted poison",
      dropped == poison, s"dropped $dropped, planted $poison")
    ctx.check(s"$what: decoded rows equal valid envelopes",
      decodedRows == valid, s"decoded $decodedRows, valid $valid")
    val expected = PresenceModel.expected(tr, 0 until tr.spec.events, tr.maxValidTs)
    val (actual, n, badShape) = readSink(ctx.spark, runs.head.sink)
    val (missing, extra) = PresenceModel.diff(expected, actual)
    val expectedRows = expected.values.sum.toLong
    ctx.check(s"$what: every sink row keyed by device with a ts header", badShape == 0,
      s"$badShape rows break the sink contract")
    ctx.notes(s"$what.presence_missing_rows") = missing
    ctx.notes(s"$what.presence_extra_rows") = extra
    ctx.notes(s"$what.presence_expected_rows") = expectedRows
    ctx.notes(s"$what.sink_rows") = n
    System.err.println(s"[perfbench] $what: expected $expectedRows rows, got $n, " +
      s"missing $missing, extra $extra")
    ctx.check(s"$what: sink equals the presence model but for at most $MaxWrongShare of its rows",
      missing + extra <= MaxWrongShare * expectedRows,
      s"$missing missing and $extra extra rows of $expectedRows expected")
    ctx.attempted += expectedRows
    ctx.failed += missing + extra + badShape
    // the catch-up replays fixed batches, so its counts repeat exactly;
    // live batch boundaries follow the clock
    val first = ctx.progress.of(runs.head.q.runId)
    ctx.exactCount(s"$what.codec.dropped", dropped)
    first.lastOption.flatMap(_.stateOperators.headOption)
      .foreach(s => ctx.exactCount(s"$what.catchup.state.rows_total", s.numRowsTotal))
  }

  /** Per-layer numbers of a catch-up and the live run after it, from
    * their progress records and checkpoint: trigger phases of the live
    * triggers, the state operator over both, the sink. */
  def layerMetrics(ctx: Ctx, catchup: Running, live: Running): Unit = {
    val L = ctx.layer
    val cps = ctx.progress.of(catchup.q.runId)
    val lps = ctx.progress.of(live.q.runId)
    val data = dataBatches(lps)
    def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    for (ph <- Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
                   "commitOffsets", "triggerExecution"))
      L.put(s"trigger.${ph}_ms",
        p50(data.flatMap(p => Option(p.durationMs.get(ph)).map(_.toDouble))), "ms")
    L.put("trigger.batches", (cps.size + lps.size).toDouble, "count")
    L.put("catchup.trigger_ms", p50(dataBatches(cps).map(_.durationMs.get("triggerExecution")
      .toDouble)), "ms")
    val ops = (cps ++ lps).flatMap(_.stateOperators.headOption)
    L.put("state.commit_ms", p50(data.flatMap(_.stateOperators.headOption)
      .map(_.commitTimeMs.toDouble)), "ms")
    L.put("state.rows_total", ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
    L.put("state.rows_updated", ops.map(_.numRowsUpdated).sum.toDouble, "count")
    L.put("state.rows_removed", ops.map(_.numRowsRemoved).sum.toDouble, "count")
    L.put("state.memory_bytes", ops.map(_.memoryUsedBytes).foldLeft(0L)(math.max).toDouble, "bytes")
    L.put("state.dropped_by_watermark", ops.map(_.numRowsDroppedByWatermark).sum.toDouble, "count")
    ctx.notes("state.custom_metric_names") = ops.flatMap(_.customMetrics.keySet.asScala).distinct.sorted
    for (name <- Pipeline.CustomStateMetrics)
      L.put(s"state.custom.$name",
        ops.map(o => Option(o.customMetrics.get(name)).map(_.toLong).getOrElse(0L)).sum.toDouble,
        customUnit(name))
    L.put("state.ckpt_bytes", Files2.bytesUnder(new File(live.ckpt, "state")).toDouble, "bytes")
    L.put("sink.rows_out", readSink(ctx.spark, live.sink)._2.toDouble, "count")
    L.put("sink.bytes_out", sinkBytes(live.sink).toDouble, "bytes")
  }

  /** The operator's custom metrics (timers and RocksDB), summed over
    * batches. */
  val CustomStateMetrics: Seq[String] = Seq(
    "numRegisteredTimers", "numDeletedTimers", "numExpiredTimers", "timerProcessingTimeMs",
    "rocksdbGetCount", "rocksdbPutCount", "rocksdbGetLatency", "rocksdbPutLatency",
    "rocksdbCommitCheckpointLatency", "rocksdbCommitFlushLatency",
    "rocksdbChangeLogWriterCommitLatencyMs", "rocksdbLoadLatencyMs",
    "rocksdbReplayChangeLogLatencyMs", "rocksdbTotalBytesWritten", "rocksdbSstFileSize",
    "rocksdbReadBlockCacheHitCount", "rocksdbReadBlockCacheMissCount",
    "rocksdbWriterStallLatencyMs")

  def customUnit(name: String): String =
    if (name.contains("Latency") || name.endsWith("TimeMs")) "ms"
    else if (name.contains("Bytes") || name.contains("Size")) "bytes"
    else "count"

  /** Spans for every trigger of a query and its phases, from the
    * progress record, under `parent`. */
  def triggerSpans(ctx: Ctx, r: Running, parent: Int): Unit = {
    for (p <- ctx.progress.of(r.q.runId)) {
      val s = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val id = ctx.tracer.add("trigger", parent, s, endMs(p))
      var t = s
      for (ph <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                     "commitOffsets")) {
        val d = Option(p.durationMs.get(ph)).map(_.toDouble).getOrElse(0.0)
        if (d > 0) ctx.tracer.add(s"trigger.$ph", id, t, t + d)
        t += d
      }
    }
  }
}
