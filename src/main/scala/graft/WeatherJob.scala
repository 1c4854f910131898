package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.codec.AvroEnvelope
import graft.codec.AvroEnvelope.WeatherReading
import graft.core.{EngineConfig, EngineSession}
import graft.streaming.{Presence, SourceProvider, Supervisor}

/** The reference job, complete and Spark-native — `WeatherProcessingJob`
  * (`/root/reference/.../WeatherProcessingJob.java`) with its empty plan
  * (`WeatherProcessingJobPlan.java:9-15`) filled in:
  *
  *   main → config merge (args + sysprops, ref :42-45)
  *        → session (ref setupExecutionEnvironment :52-63)
  *        → source (config-selected provider; kafka options at parity)
  *        → Avro envelope decode (drop-on-error, ref deserializer)
  *        → event-time watermark 3.5 s (the bound computed-but-unused at
  *          ref :66 — adopted as intended)
  *        → PLAN: per-device presence detection (the reference's purpose:
  *          `getDronePresenceProducer` :93, topic `WeatherPresenceEvent` :87)
  *        → keyed JSON egress (key = deviceId, nulls omitted, payload
  *          event-time in the body — ref serializer :30-53; Spark's kafka
  *          sink has no record-timestamp column, so ts rides in the value)
  *        → restart supervision (exponential backoff 15 s→360 s ×1.5
  *          jitter 0.5, ref :54-58)
  *
  * Usage (local replay):
  *   runMain graft.WeatherJob --source file --source.path /tmp/envelopes \
  *     --sink file --sink.path /tmp/presence --once true
  * Production shape: `--source kafka --sink kafka` (connector at runtime).
  */
object WeatherJob {

  /** The transformation plan the reference left empty: decoded readings ->
    * presence transition events through [[Presence.detectEvict]]. It
    * emits the trailing OFFLINE when a device goes silent — the core
    * presence semantic a purely data-driven operator can only produce on
    * the device's NEXT event, i.e. never for a device that stays gone —
    * and state is bounded by the ACTIVE key set instead of every device
    * ever seen (priced at 5M devices in PresenceScaleSpec). It runs on
    * any state store provider. */
  def plan(spark: SparkSession, readings: Dataset[WeatherReading],
           ttlMillis: Long): DataFrame = {
    val keyed = readings.toDF().select(
      col("deviceId").as("device_id"),
      col("timestamp").as("ts_ms"))
    Presence.detectEvict(spark, keyed, ttlMillis).toDF()
  }

  /** Keyed JSON egress projection (ref serializer semantics): key =
    * deviceId, value = NON_NULL JSON. RECORD-TIMESTAMP PARITY: the
    * reference stamps the outgoing Kafka record with the PAYLOAD's
    * timestamp (`WeatherPresenceSerializationSchema.java:35`); Spark's
    * producer sink has no record-timestamp column, so the event time
    * additionally rides a `ts` HEADER (big-endian int64 — Kafka's own
    * timestamp wire encoding) for downstream consumers that read record
    * metadata rather than the JSON body. The projection is validated
    * against the producer sink's column contract in EVERY environment
    * ([[graft.streaming.KafkaShape.requireSinkShape]]), broker or not. */
  def sinkProjection(presence: DataFrame): DataFrame =
    graft.streaming.KafkaShape.requireSinkShape(presence.select(
      col("device_id").cast("string").as("key"),
      to_json(struct(col("device_id"), col("state"), col("ts_ms"))).as("value"),
      array(struct(lit("ts").as("key"),
        to_binary(lpad(hex(col("ts_ms")), 16, "0"), lit("hex"))
          .as("value"))).as("headers")))

  /** The plan artifact `main` logs (ref :90, getExecutionPlan): the
    * analyzed logical plan of the streaming query. It exists before
    * `start()`; a streaming frame's optimized and physical plans do not
    * (its `queryExecution.toString` prints an AnalysisException in their
    * place), they live inside the running query. */
  def planArtifact(out: DataFrame): String =
    out.queryExecution.analyzed.treeString

  /** The reference's logging map (`WeatherProcessingJob.java:81-84`) is dead
    * code (its stream is never consumed); its evident intent — per-record
    * visibility — is realized Spark-first as `observe()` metrics surfaced
    * through a StreamingQueryListener (no per-record logging cost). */
  private class MetricsListener
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val obs = e.progress.observedMetrics
      if (obs.containsKey("graft_ingest"))
        System.err.println(
          s"[weatherjob] batch=${e.progress.batchId} " +
          s"in=${e.progress.numInputRows} decoded=${obs.get("graft_ingest").getLong(0)}")
    }
  }

  def main(args: Array[String]): Unit = {
    val conf = EngineConfig(args)
    val spark = EngineSession.getOrCreate("weatherProcessingJob")
    spark.streams.addListener(new MetricsListener)
    val ttl = conf.getLong("presence.ttl.ms", 3600000L)
    // --state.store rocksdb (the default) | hdfs: per-device state at
    // fleet scale outlives executor heap; RocksDB keeps it on local disk
    // with incremental checkpoints, and EngineSession's
    // changelog-checkpointing default makes per-batch uploads
    // delta-sized. The presence plan is the same on either provider.
    if (conf.getOrElse("state.store", "rocksdb") == "rocksdb")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    // writer/reader schema resolution via the SchemaRegistry interface —
    // --schema.registry static (in-repo map, default) | dir | http
    // (confluent-style remote: eager driver-side fetch from
    // --schema.registry.url; see SchemaRegistry.fromConfig).
    // --envelope.format magic1 (reference parity, default) | confluent
    // (0x00 + 4-byte BE schema id — the wire format the http registry
    // pairs with in production)
    val registry = graft.codec.SchemaRegistry.fromConfig(conf)
    val envFormat = graft.codec.EnvelopeFormat.fromConfig(conf)

    val run: () => Unit = () => {
      import spark.implicits._
      val raw = SourceProvider(spark, conf)
      val readings = AvroEnvelope.decode(spark,
          raw.select("value").as[Array[Byte]], registry, envFormat)
        .toDF()
        .observe("graft_ingest", count(lit(1)).as("decoded_rows"))
        .as[AvroEnvelope.WeatherReading]
      val out = sinkProjection(plan(spark, readings, ttl))
      val writer = out.writeStream
        .option("checkpointLocation", conf.getOrElse("checkpoint",
          java.nio.file.Files.createTempDirectory("weatherjob_ckpt").toString))
        .outputMode("append")
      val trigger =
        if (conf.getOrElse("once", "false") == "true") Trigger.AvailableNow()
        else Trigger.ProcessingTime(conf.getLong("trigger.ms", 1000L))
      val q = (conf.getOrElse("sink", "file") match {
        case "kafka" => SourceProvider.kafkaProducerOptions(conf)
          .foldLeft(writer.format("kafka")) { case (w, (k, v)) => w.option(k, v) }
        case "file" => writer.format("json")
          .option("path", conf.get("sink.path").getOrElse(
            throw new IllegalArgumentException("file sink requires --sink.path")))
        case "memory" => writer.format("memory")
          .queryName(conf.getOrElse("sink.table", "presence"))
      }).trigger(trigger).start()
      System.err.println(planArtifact(out))
      q.awaitTermination()
    }

    val restarts = Supervisor.supervise(
      maxRestarts = conf.getLong("max.restarts", 3L).toInt)(run)
    if (restarts > 0) System.err.println(s"[weatherjob] completed after $restarts restart(s)")
    if (conf.getOrElse("stopSession", "true") == "true") spark.stop()
  }
}
