package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.codec.AvroEnvelope
import graft.core.{EngineConfig, EngineSession}
import graft.streaming.Supervisor

/** End-to-end run of the completed reference job (WeatherJob): envelope
  * files -> decode -> presence plan -> keyed JSON egress, plus the config
  * and restart-supervision bootstrap pieces.
  */
class WeatherJobSpec extends AnyFunSuite {

  lazy val spark: SparkSession = EngineSession.getOrCreate("graft-test")

  test("EngineConfig: args override system properties, all forms parse") {
    System.setProperty("graft.test.key", "fromProps")
    val c = EngineConfig(Array(
      "--graft.test.key", "fromArgs", "--flag", "--a=1", "b=2"))
    assert(c.getOrElse("graft.test.key", "?") == "fromArgs")
    assert(c.getOrElse("flag", "?") == "true")
    assert(c.getOrElse("a", "?") == "1")
    assert(c.getOrElse("b", "?") == "2")
    System.clearProperty("graft.test.key")
    assert(EngineConfig(Array.empty[String]).get("graft.test.key").isEmpty)
  }

  test("Supervisor: backoff schedule matches the reference strategy") {
    val b = Supervisor.Backoff() // 15 s, x1.5, max 360 s (ref :54-58)
    assert(Supervisor.delayMs(b, 0) == 15000L)
    assert(Supervisor.delayMs(b, 1) == 22500L)
    assert(Supervisor.delayMs(b, 2) == 33750L)
    assert(Supervisor.delayMs(b, 20) == 360000L) // capped
    // jitter stays within +-50%
    for (n <- 0 to 5) {
      val d = Supervisor.jitteredDelayMs(b, n, seed = 7L)
      val base = Supervisor.delayMs(b, n)
      assert(d >= base / 2 && d <= base * 3 / 2)
    }
  }

  test("Supervisor: restarts the body with injected sleep, then succeeds") {
    var calls = 0
    val slept = collection.mutable.ArrayBuffer[Long]()
    val restarts = Supervisor.supervise(
      maxRestarts = 5, seed = 1L, sleep = slept.append(_)) { () =>
      calls += 1
      if (calls < 3) throw new RuntimeException(s"boom $calls")
    }
    assert(calls == 3 && restarts == 2 && slept.size == 2)
  }

  test("Supervisor: rethrows after maxRestarts") {
    intercept[RuntimeException] {
      Supervisor.supervise(maxRestarts = 1, sleep = _ => ()) { () =>
        throw new RuntimeException("always")
      }
    }
  }

  test("plan artifact: the analyzed streaming plan names the presence operator") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val in = MemoryStream[AvroEnvelope.WeatherReading](spark)
    val text = WeatherJob.planArtifact(WeatherJob.sinkProjection(
      WeatherJob.plan(spark, in.toDS(), 3600000L)))
    assert(text.contains("FlatMapGroupsWithState"), text)
    assert(!text.contains("must be executed"), text)
  }

  test("WeatherJob end-to-end: envelopes -> presence JSON (file source, memory sink)") {
    import spark.implicits._
    // build an envelope parquet dir: device A with a 2-hour gap (one
    // offline+online cycle at TTL 1 h), device B continuous
    val t0 = 1700000000000L
    val rows = Seq(
      ("A", t0), ("A", t0 + 60000L), ("A", t0 + 7260000L), // gap of ~2 h
      ("B", t0), ("B", t0 + 1800000L), ("B", t0 + 3000000L)) // gaps < 1 h
    val envelopes = rows.map { case (dev, ts) =>
      AvroEnvelope.encode(
        AvroEnvelope.WeatherReading(dev, ts, Some(20.0), None, None, None),
        2, AvroEnvelope.defaultRegistry)
    }
    val srcDir = Files.createTempDirectory("graft_wjob_src").toString
    envelopes.toDF("value").coalesce(1).write.mode("overwrite").parquet(srcDir)

    try WeatherJob.main(Array(
      "--source", "file", "--source.path", srcDir,
      "--sink", "memory", "--sink.table", "wjob_presence",
      "--once", "true", "--stopSession", "false",
      "--presence.ttl.ms", "3600000"))
    finally
      // main's rocksdb default sets the provider on the shared session;
      // don't leak it into later suites
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    val out = spark.table("wjob_presence")
      .selectExpr("key", "get_json_object(value, '$.state') AS state",
        "get_json_object(value, '$.ts_ms') AS ts_ms")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2).toLong))
      .sortBy(t => (t._1, t._3, t._2))
    val expected = Array(
      ("A", "online", t0),
      ("A", "offline", t0 + 60000L + 3600000L),
      ("A", "online", t0 + 7260000L),
      ("B", "online", t0),
      // the round-11 production plan (detectEvict) emits the trailing
      // OFFLINE once the final watermark (A's last event) passes B's
      // last-seen + TTL — the presence semantic the v1 operator could
      // never produce for a device that stays gone
      ("B", "offline", t0 + 3000000L + 3600000L)).sortBy(t => (t._1, t._3, t._2))
    assert(out.toSeq == expected.toSeq)
  }

  test("WeatherJob end-to-end with --schema.registry http (localhost registry double)") {
    // the full job wiring through the confluent-style registry: main
    // resolves writer/reader schemas over HTTP once on the driver, then
    // the drain proceeds exactly as with the static registry
    import spark.implicits._
    val t0 = 1700000000000L
    val envelopes = Seq(("H", t0), ("H", t0 + 60000L)).map { case (dev, ts) =>
      AvroEnvelope.encode(
        AvroEnvelope.WeatherReading(dev, ts, Some(20.0), None, None, None),
        2, AvroEnvelope.defaultRegistry)
    }
    val srcDir = Files.createTempDirectory("graft_wjob_http_src").toString
    envelopes.toDF("value").coalesce(1).write.mode("overwrite").parquet(srcDir)

    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def body(schema: String): Array[Byte] = {
      val n = om.createObjectNode(); n.put("schema", schema)
      om.writeValueAsBytes(n)
    }
    val routes = Map(
      "/schemas/ids/1" -> body(AvroEnvelope.v1SchemaJson),
      "/schemas/ids/2" -> body(AvroEnvelope.v2SchemaJson),
      "/subjects/weatherData-reader/versions/latest" ->
        body(AvroEnvelope.readerSchemaJson))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        routes.get(ex.getRequestURI.getPath) match {
          case Some(b) =>
            ex.sendResponseHeaders(200, b.length)
            ex.getResponseBody.write(b)
          case None => ex.sendResponseHeaders(404, -1)
        }
        ex.close()
      })
    server.start()
    try WeatherJob.main(Array(
      "--source", "file", "--source.path", srcDir,
      "--sink", "memory", "--sink.table", "wjob_http_presence",
      "--once", "true", "--stopSession", "false",
      "--presence.ttl.ms", "3600000",
      "--schema.registry", "http",
      "--schema.registry.url",
      s"http://127.0.0.1:${server.getAddress.getPort}"))
    finally {
      server.stop(0)
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

    val out = spark.table("wjob_http_presence")
      .selectExpr("key", "get_json_object(value, '$.state') AS state",
        "get_json_object(value, '$.ts_ms') AS ts_ms")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2).toLong))
      .sortBy(t => (t._1, t._3, t._2))
    assert(out.toSeq == Seq(("H", "online", t0)))
  }
}
