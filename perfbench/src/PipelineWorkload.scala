package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.WeatherJob
import graft.codec.AvroEnvelope
import graft.streaming.Presence

/** The `pipeline` workload: a WeatherJob restarting after an outage.
  *
  *  1. Catch-up: a backlog of envelopes is replayed through the
  *     production plan with `Trigger.AvailableNow` and
  *     `FilesPerTrigger` files a trigger. Large batches make per-event
  *     work dominate. Gives `throughput_per_s` (envelopes / drain wall).
  *  2. Live: the same query restarts on its checkpoint under the
  *     production `ProcessingTime(1000 ms)` trigger and is fed open loop:
  *     a generator thread moves pre-written files into the source
  *     directory on a fixed schedule (`LiveFilesPerSecond` files,
  *     `LiveEventsPerSecond` envelopes a second), whatever the query
  *     does. Small batches make per-trigger cost dominate. A file's
  *     latency runs from its due time to the end of the trigger whose
  *     sink commit holds its events: `latency_p50_ms`, `latency_p90_ms`.
  *
  * The live traffic continues the backlog's devices and event time, and
  * the whole sink is compared with the presence model at the end. */
final class PipelineWorkload extends Workload {
  import Pipeline._

  type Outcome = PipelineWorkload.Outcome

  var tr: Traffic = _
  var envs: File = _
  var warm: Traffic = _
  var warmSrc: File = _
  var backlogFiles = 0
  var liveFiles = 0
  private var runs = 0
  private def backlogEvents: Int = backlogFiles * EventsPerFile
  private def backlogPaths: Seq[String] =
    (0 until backlogFiles).map(f => new File(envs, f"$f%05d.parquet").getPath)

  def prepare(ctx: Ctx): Unit = {
    backlogFiles = math.max(2, CatchupEventsPerSecond * ctx.seconds / EventsPerFile)
    liveFiles = 1 + LiveFilesPerSecond * ctx.seconds
    tr = new Traffic(traffic(Seq.fill(backlogFiles)(EventsPerFile) ++
      Seq.fill(liveFiles)(LiveEventsPerSecond / LiveFilesPerSecond)), ctx.seed)
    envs = envelopeFiles(ctx, tr, "envelopes")
    // warm-up devices have their own names and earlier event times
    val w = traffic(Seq.fill(2)(12500))
    warm = new Traffic(w, ctx.seed + 1, "warm-", Traffic.T0 - 2 * w.eventSpanMs)
    warmSrc = envelopeFiles(ctx, warm, "warmup")
  }

  def warmUp(ctx: Ctx): Unit = {
    runs += 1
    drain(ctx, warmSrc, s"warmup-$runs")
  }

  /** The catch-up, then the live phase on the same checkpoint and sink. */
  def pass(ctx: Ctx): Outcome = {
    runs += 1
    val tag = s"pipeline-$runs"
    val src = ctx.dir(s"$tag/src")
    for (f <- 0 until backlogFiles) {
      val name = f"$f%05d.parquet"
      Files.createLink(new File(src, name).toPath, new File(envs, name).toPath)
    }
    val (c, catchupMs) = drain(ctx, src, tag)
    // the catch-up replays fixed batches, so its output count repeats
    // exactly; live batch boundaries follow the clock
    ctx.exactCount("pipeline.catchup.sink.rows_out", readSink(ctx.spark, c.sink)._2)
    val live = start(ctx, src, tag, Trigger.ProcessingTime(LiveTriggerMs), None)
    val deadline = System.currentTimeMillis() + 60000
    while (live.q.status.message.startsWith("Initializing") &&
           System.currentTimeMillis() < deadline) Thread.sleep(10)
    // the first live file primes the restarted query (its state store
    // loads on the first data batch); the schedule starts once it is in
    val prime = f"$backlogFiles%05d.parquet"
    Files.createLink(new File(src, prime).toPath, new File(envs, prime).toPath)
    while (ctx.progress.of(live.q.runId).forall(_.numInputRows == 0) &&
           System.currentTimeMillis() < deadline) {
      Thread.sleep(10)
      live.q.exception.foreach(e => throw e)
    }
    val o = ctx.tracer.span("pipeline.live") { offer(ctx, live, src, tag) }
    o.copy(catchup = c, catchupMs = catchupMs)
  }

  /** Offer every file on schedule, wait until all are committed and the
    * final watermark has fired the timers, stop the query. */
  private def offer(ctx: Ctx, r: Running, srcDir: File, tag: String): Outcome = {
    val first = backlogFiles + 1
    val n = liveFiles - 1
    val stage = ctx.dir(s"$tag/stage")
    for (f <- first until first + n) {
      val name = f"$f%05d.parquet"
      Files.createLink(new File(stage, name).toPath, new File(envs, name).toPath)
    }
    val periodMs = 1000.0 / LiveFilesPerSecond
    val d0 = (System.currentTimeMillis() / 1000 + 1) * 1000.0
    val due = Array.tabulate(n)(j => d0 + (j / LiveFilesPerSecond) * 1000.0 +
      ((j % LiveFilesPerSecond) + 0.5) * periodMs)
    val moved = new Array[Double](n)
    val gen = new Thread(() => {
      for (j <- 0 until n) {
        var wait = due(j) - System.currentTimeMillis()
        while (wait > 0) { Thread.sleep(math.max(1L, wait.toLong)); wait = due(j) - System.currentTimeMillis() }
        val name = f"${first + j}%05d.parquet"
        val dst = new File(srcDir, name)
        Files.move(new File(stage, name).toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
        dst.setLastModified(System.currentTimeMillis())
        moved(j) = System.currentTimeMillis().toDouble
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    // all files committed, then one more trigger (the watermark's no-data
    // batch that fires the last timers)
    val deadline = System.currentTimeMillis() + 60000
    def done: Boolean = {
      ctx.drainListeners()
      val ps = ctx.progress.of(r.q.runId)
      val data = dataBatches(ps)
      data.map(_.numInputRows).sum >= tr.spec.events - backlogEvents &&
        ps.exists(p => p.batchId > data.last.batchId)
    }
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(50)
    r.q.exception.foreach(e => throw e)
    require(done, "live query did not commit every offered file within 60 s")
    r.q.stop()
    val ps = ctx.progress.of(r.q.runId)
    // the file source numbers its own offsets, which skip the no-data
    // batches: map source offset -> the batch whose end offset it is
    val logOffset = """"logOffset":(\d+)""".r
    val endOf = ps.filter(_.numInputRows > 0).flatMap { p =>
      logOffset.findFirstMatchIn(p.sources.head.endOffset).map(_.group(1).toLong -> endMs(p))
    }.toMap
    val batchOf = sourceLog(new File(r.ckpt, "sources/0"))
    val ends = batchOf.collect { case (f, off) if endOf.contains(off) => f -> endOf(off) }
    val visible = (0 until n).map(j => ends(f"${first + j}%05d.parquet"))
    val lat = (0 until n).map(j => visible(j) - due(j))
    val lastEnd = visible.max
    val perBatch = batchOf.values.filter(endOf.contains)
      .groupBy(identity).values.map(_.size)
    PipelineWorkload.Outcome(null, 0.0, r, lat, lastEnd - due(0), (0 until n).map(j => moved(j) - due(j)).max,
      if (perBatch.isEmpty) 0 else perBatch.max)
  }

  /** file name -> source offset, from the file source's metadata log. */
  private def sourceLog(dir: File): Map[String, Long] = {
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    Files2.filesUnder(dir).filterNot(_.getName.startsWith(".")).flatMap { f =>
      scala.io.Source.fromFile(f, "ISO-8859-1").getLines().flatMap(l => entry.findFirstMatchIn(l)).map { m =>
        m.group(1).split('/').last -> m.group(2).toLong
      }.toList
    }.toMap
  }

  def wallMs(o: Outcome): Double = o.catchupMs + o.liveMs

  def check(ctx: Ctx, o: Outcome): Unit = checkOutput(ctx, tr, Seq(o.catchup, o.live), "pipeline")

  def endToEnd(ctx: Ctx, o: Outcome): Unit = {
    ctx.drainListeners()
    ctx.e2e.put("throughput_per_s", backlogEvents / (o.catchupMs / 1000.0), "1/s")
    ctx.e2e.put("latency_p50_ms", Stats.quantile(o.latencies, 0.5), "ms")
    ctx.e2e.put("latency_p90_ms", Stats.quantile(o.latencies, 0.9), "ms")
    val trig = dataBatches(ctx.progress.of(o.catchup.q.runId))
      .map(_.durationMs.get("triggerExecution").toDouble)
    ctx.notes("catchup.trigger_ms") = trig
    ctx.notes("live.latency_ms") = o.latencies
    ctx.notes("live.events_per_s") = (tr.spec.events - backlogEvents) / (o.liveMs / 1000.0)
    ctx.notes("gen.late_ms_max") = o.lateMaxMs
    ctx.notes("live.backlog_files_max") = o.backlogMax
  }

  def perLayer(ctx: Ctx, o: Outcome): Unit = {
    ctx.drainListeners()
    triggerSpans(ctx, o.catchup, ctx.tracer.spans.filter(_.name == "pipeline.drain").last.id)
    triggerSpans(ctx, o.live, ctx.tracer.spans.filter(_.name == "pipeline.live").last.id)
    layerMetrics(ctx, o.catchup, o.live)
    ctx.layer.put("live.backlog_files_max", o.backlogMax.toDouble, "count")
    ctx.layer.put("gen.late_ms_max", o.lateMaxMs, "ms")
  }

  override def extras(ctx: Ctx): Unit = {
    microRuns(ctx)
    ctx.layer.put("scaling.catchup_1core_events_per_s", oneCore(ctx), "1/s")
  }

  /** Each layer alone over the same bytes: decode only, presence only
    * on pre-decoded events (same batching), sink projection only. */
  def microRuns(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val L = ctx.layer
    val (decodeMs, dropped) = timed(ctx, "codec.decode") {
      val raw = spark.read.schema(Traffic.ValueSchema).parquet(backlogPaths: _*).select("value")
      val (d, acc) = AvroEnvelope.decodeWithMetrics(spark, raw.as[Array[Byte]])
      d.write.format("noop").mode("overwrite").save()
      acc.value.longValue
    }
    L.put("codec.decode_s", decodeMs / 1000.0, "s")
    L.put("codec.dropped", dropped.toDouble, "count")
    val planted = (0 until backlogEvents).count(i => !tr.valid(i))
    ctx.check("micro-run: codec.dropped equals planted poison", dropped == planted,
      s"dropped $dropped, planted $planted")

    val decodedDir = ctx.cache("decoded")
    val marker = new File(decodedDir.getParentFile, "decoded.complete")
    if (!marker.exists) {
      writeOrdered(decodedDir, DecodedParquet, backlogFiles,
        f => tr.fileRange(f).iterator.filter(tr.valid)
          .map(i => Seq(tr.deviceName(tr.device(i)), tr.ts(i))))
      marker.createNewFile()
    }
    val (presenceMs, _) = timed(ctx, "presence.detectEvict") {
      val events = spark.readStream.schema(DecodedSchema)
        .option("maxFilesPerTrigger", FilesPerTrigger.toLong).parquet(decodedDir.getPath)
      val q = Presence.detectEvict(spark, events, TtlMs).toDF()
        .writeStream.format("noop")
        .option("checkpointLocation", ctx.dir("presence-only/ckpt").getPath)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      ctx.sparkMetrics.foreach(_.bindGroup(q.runId.toString, ctx.tracer.currentId))
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    L.put("presence.run_s", presenceMs / 1000.0, "s")

    val expected = PresenceModel.expected(tr, 0 until backlogEvents,
      (0 until backlogEvents).filter(tr.valid).map(tr.ts).max)
    val presence = expected.toSeq.flatMap { case ((d, s, t), n) => Seq.fill(n)((d, s, t)) }
      .toDF("device_id", "state", "ts_ms").repartition(spark.sparkContext.defaultParallelism)
      .cache()
    presence.count()
    val (projectMs, _) = timed(ctx, "sink.project") {
      WeatherJob.sinkProjection(presence).write.format("noop").mode("overwrite").save()
    }
    presence.unpersist()
    L.put("sink.project_s", projectMs / 1000.0, "s")
  }

  /** The catch-up on one core (local[1], one shuffle partition) over
    * the first quarter of the backlog. */
  def oneCore(ctx: Ctx): Double = {
    val files = math.max(1, backlogFiles / 4)
    val part = ctx.dir("one-core-src")
    for (f <- 0 until files) {
      val name = f"$f%05d.parquet"
      Files.createLink(new File(part, name).toPath, new File(envs, name).toPath)
    }
    ctx.stopSession()
    ctx.newSession(master = Some("local[1]"), partitions = Some(1))
    drain(ctx, warmSrc, "one-core-warmup")
    val (_, wall) = ctx.tracer.span("scaling.one_core") { drain(ctx, part, "one-core") }
    files * EventsPerFile / (wall / 1000.0)
  }

  private def timed[T](ctx: Ctx, name: String)(f: => T): (Double, T) =
    ctx.tracer.span(name) {
      val t0 = ctx.tracer.nowMs
      val v = f
      (ctx.tracer.nowMs - t0, v)
    }

  val DecodedParquet =
    "message spark_schema { optional binary device_id (STRING); optional int64 ts_ms; }"
  val DecodedSchema = StructType(Seq(
    StructField("device_id", StringType), StructField("ts_ms", LongType)))
}

object PipelineWorkload {
  final case class Outcome(catchup: Pipeline.Running, catchupMs: Double, live: Pipeline.Running,
                           latencies: Seq[Double], liveMs: Double, lateMaxMs: Double,
                           backlogMax: Int)
}
