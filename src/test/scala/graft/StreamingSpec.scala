package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.codec.AvroEnvelope
import graft.codec.AvroEnvelope.WeatherReading
import graft.core.EngineSession

/** Codec + stateful-op properties (SURVEY.md §5.3): envelope round-trip
  * identity, poison-pill tolerance (drop, never throw — mirroring
  * WeatherKafkaAvroDeserializerSchema.java:65-67), schema-name guard
  * (:47-50), and writer->reader schema resolution (:53-63).
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = EngineSession.getOrCreate("graft-test")

  val genReading: Gen[WeatherReading] = for {
    dev <- Gen.alphaNumStr.suchThat(_.nonEmpty)
    ts <- Gen.chooseNum(0L, 2000000000000L)
    t <- Gen.option(Gen.chooseNum(-50.0, 50.0))
    h <- Gen.option(Gen.chooseNum(0.0, 100.0))
    w <- Gen.option(Gen.chooseNum(0.0, 80.0))
    p <- Gen.option(Gen.chooseNum(900.0, 1100.0))
  } yield WeatherReading(dev, ts, t, h, w, p)

  test("envelope round-trip is the identity under the v2 writer") {
    import spark.implicits._
    for (seed <- 1L to 5L) {
      val rs = Gen.listOfN(20, genReading)
        .apply(Gen.Parameters.default, Seed(seed)).get
      val enc = rs.map(r => AvroEnvelope.encode(r, 2, AvroEnvelope.defaultRegistry))
      val out = AvroEnvelope.decode(spark, spark.createDataset(enc)).collect().toList
      assert(out.sortBy(r => (r.deviceId, r.timestamp)) ==
             rs.sortBy(r => (r.deviceId, r.timestamp)), s"seed=$seed")
    }
  }

  test("v1-written records resolve to the v2 reader with defaulted pressure") {
    import spark.implicits._
    val r = WeatherReading("dev", 42L, Some(1.5), None, Some(3.0), Some(999.0))
    val enc = AvroEnvelope.encode(r, 1, AvroEnvelope.defaultRegistry) // v1: no pressure field
    val out = AvroEnvelope.decode(spark, spark.createDataset(Seq(enc))).collect()
    assert(out.length == 1)
    assert(out.head == r.copy(pressure = None)) // resolution fills the default
  }

  test("corrupt payloads and unknown magics drop, never throw") {
    import spark.implicits._
    val good = AvroEnvelope.encode(
      WeatherReading("ok", 1L, None, None, None, None), 2, AvroEnvelope.defaultRegistry)
    val corrupted = good.take(3) ++ Array[Byte](127, -1, 0) // truncated/garbage body
    val unknownMagic = 42.toByte +: good.tail
    val empty = Array.empty[Byte]
    val (ds, dropped) = AvroEnvelope.decodeWithMetrics(spark,
      spark.createDataset(Seq(good, corrupted, unknownMagic, empty)))
    val out = ds.collect()
    assert(out.map(_.deviceId).toSeq == Seq("ok"))
    assert(dropped.value == 3) // corrupt + unknown magic + empty, all counted
  }

  test("opt-in per-record drop logging (ref :48,66 parity)") {
    import spark.implicits._
    val good = AvroEnvelope.encode(
      WeatherReading("ok", 1L, None, None, None, None), 2, AvroEnvelope.defaultRegistry)
    val unknownMagic = 42.toByte +: good.tail
    val buf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    sys.props("graft.codec.logDrops") = "true"
    try {
      System.setErr(new java.io.PrintStream(buf, true))
      val (ds, dropped) = AvroEnvelope.decodeWithMetrics(spark,
        spark.createDataset(Seq(good, unknownMagic)))
      assert(ds.collect().map(_.deviceId).toSeq == Seq("ok"))
      assert(dropped.value == 1)
    } finally {
      System.setErr(realErr)
      sys.props.remove("graft.codec.logDrops")
    }
    val logged = buf.toString
    assert(logged.contains("dropped record: unknown schema version id=42"),
      s"expected a per-record drop line, got: $logged")
  }

  test("schema-name guard drops alien-named records (ref :47-50)") {
    import spark.implicits._
    val alien = AvroEnvelope.encode(
      WeatherReading("alien", 7L, None, None, None, None), 9, AvroEnvelope.defaultRegistry)
    val out = AvroEnvelope.decode(spark, spark.createDataset(Seq(alien))).collect()
    assert(out.isEmpty)
  }

  test("presence transitions on a hand fixture") {
    import graft.streaming.Presence._
    val events = Iterator(
      DeviceEvent("d1", 1000L), DeviceEvent("d1", 2000L), DeviceEvent("d1", 100000L))
    val state = new TestGroupState[DeviceState]
    val out = transitions(ttlMillis = 10000L)("d1", events, state).toList
    assert(out == List(
      PresenceEvent("d1", "online", 1000L),
      PresenceEvent("d1", "offline", 12000L), // 2000 + ttl
      PresenceEvent("d1", "online", 100000L)))
    assert(state.value.contains(DeviceState(100000L)))
  }

  test("presence last-seen never moves backwards across micro-batches") {
    // an event older than last-seen, arriving in a later batch, must not
    // rewind it: the third event is then within the TTL of the first
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Presence
    import graft.streaming.Presence.PresenceEvent
    import spark.implicits._
    val ttl = 60000L
    val ckpt = java.nio.file.Files.createTempDirectory("presence-monotone")
    val in = MemoryStream[(String, Long)](spark)
    val q = Presence.detect(spark, in.toDF().toDF("device_id", "ts_ms"), ttl).toDF()
      .writeStream.format("memory").queryName("presence_monotone")
      .option("checkpointLocation", ckpt.toString).outputMode("append").start()
    try {
      for (ts <- Seq(100000L, 50000L, 100000L + ttl - 1)) {
        in.addData("A" -> ts)
        q.processAllAvailable()
      }
      assert(spark.table("presence_monotone").as[PresenceEvent].collect().toSeq ==
        Seq(PresenceEvent("A", "online", 100000L)))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    }
  }

  test("quota admission on a hand fixture: order, cross-batch draw, timeout") {
    import graft.streaming.Quota._
    def ev(id: Long, tsMs: Long) =
      QuotaEvent(1L, id, new java.sql.Timestamp(tsMs), 1.0, 0L)
    val state = new TestGroupState[Int]
    // batch 1 arrives UNORDERED: admission must follow (ts, event_id)
    val b1 = admit(3, 86400L, 3500L)((1L, 0L),
      Iterator(ev(5, 300L), ev(1, 100L), ev(2, 200L), ev(9, 100L)), state).toList
    assert(b1.map(_.event_id) == List(1L, 9L, 2L)) // ts tie: id breaks it
    assert(state.value.contains(3))
    // batch 2: quota exhausted — nothing admitted, state unchanged
    val b2 = admit(3, 86400L, 3500L)((1L, 0L),
      Iterator(ev(7, 400L)), state).toList
    assert(b2.isEmpty && state.value.contains(3))
    // timed-out group drops its counter (bounded state)
    val timed = new TestGroupState[Int] {
      override def hasTimedOut: Boolean = true
    }
    timed.update(2)
    assert(admit(3, 86400L, 3500L)((1L, 0L),
      Iterator(ev(8, 500L)), timed).isEmpty)
    assert(timed.value.isEmpty)
  }

  test("presence on transformWithState (state v2) matches flatMapGroupsWithState") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{Presence, Replay}
    val d = "/root/testdata/sf0.001"
    def stream = Replay.eventsStream(spark, d)
      .select(col("user_id").cast("string").as("device_id"),
        unix_millis(col("ts")).as("ts_ms"))
    val v1 = Replay.run(
      Presence.detect(spark, stream, 3600000L).toDF(), "append")
      .collect().map(_.toString).sorted.toSeq
    // the v2 API only runs on the RocksDB state store
    val v2 = Replay.withRocksDb(spark) {
      Replay.run(Presence.detectTws(spark, stream, 3600000L).toDF(), "append")
        .collect().map(_.toString).sorted.toSeq
    }
    assert(v2 == v1)
  }

  test("presence replay under RocksDB state store matches the default provider") {
    // at 100 TB per-device presence state outlives executor heap; RocksDB
    // keeps it on local disk with incremental checkpointing. Same query,
    // same results — only the state backend swaps.
    val d = "/root/testdata/sf0.001"
    val expected = SparkEntry.queries("Q-str-05")(spark, d)
      .collect().map(_.toString).sorted.toSeq
    val got = graft.streaming.Replay.withRocksDb(spark) {
      SparkEntry.queries("Q-str-05")(spark, d).collect().map(_.toString).sorted.toSeq
    }
    assert(got == expected)
  }

  /** Drains `rows` (one parquet file, so one data batch and then the
    * AvailableNow no-data batch at wm = max event time) through
    * `Presence.detectEvict`, on RocksDB or on the session's default
    * (HDFS-backed) state store. Returns the output and the names of the
    * files under the state dir. */
  private def drainEvict(tag: String, rows: Seq[(String, Long)], ttl: Long,
                         rocksDb: Boolean): (Set[(String, String, Long)], Seq[String]) = {
    import spark.implicits._
    import graft.streaming.{Presence, Replay}
    val tmp = graft.queries.tempDir(s"graft_evict_$tag")
    val src = tmp.resolve("src").toString
    rows.toDF("device_id", "ts_ms").coalesce(1).write.parquet(src)
    val stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    val ckpt = tmp.resolve("ckpt")
    def drain() = Replay.drain(Presence.detectEvict(spark, stream, ttl).toDF(), "append",
      Some(ckpt.toString))(_.format("memory").queryName(s"evict_$tag"))
    if (rocksDb) Replay.withRocksDb(spark)(drain()) else drain()
    val out = spark.table(s"evict_$tag").as[(String, String, Long)].collect().toSet
    val walk = java.nio.file.Files.walk(ckpt.resolve("state"))
    val names = try walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(_.getFileName.toString) finally walk.close()
    (out, names)
  }

  // a: last-seen + ttl == the final watermark (set by z) -> offline;
  // b: one millisecond later -> still online at the final watermark
  private val EvictTtl = 60000L
  private val EvictT0 = 1700000000000L
  private val evictRows = Seq(
    "a" -> EvictT0, "b" -> (EvictT0 + 1), "z" -> (EvictT0 + EvictTtl))
  private val evictExpected = Set(
    ("a", "online", EvictT0), ("a", "offline", EvictT0 + EvictTtl),
    ("b", "online", EvictT0 + 1), ("z", "online", EvictT0 + EvictTtl))

  test("evicting presence: last-seen + ttl equal to the final watermark emits the OFFLINE") {
    val (out, _) = drainEvict("boundary", evictRows, EvictTtl, rocksDb = true)
    assert(out == evictExpected)
  }

  test("evicting presence runs on the default HDFS-backed state store") {
    val (out, files) = drainEvict("hdfs", evictRows, EvictTtl, rocksDb = false)
    assert(out == evictExpected)
    // the HDFS-backed provider commits N.delta files; RocksDB would
    // commit N.zip / N.changelog
    assert(files.exists(_.endsWith(".delta")), s"no HDFS state files: $files")
    assert(!files.exists(f => f.endsWith(".zip") || f.endsWith(".changelog")),
      s"RocksDB state files under the HDFS provider: $files")
  }

  test("crash recovery: restarted-from-checkpoint drains equal the uninterrupted batch answer") {
    // Q-str-23 / Q-str-24 internally crash a streaming query AFTER a
    // sink effect lands, restart it in a FRESH SparkSession over the same
    // checkpoint, and throw if the replayed epoch double-applies, a
    // commit is lost, or the crash point never fires. Here we pin their
    // RESULTS: the exactly-once table drain must equal the one-shot batch
    // aggregate, and recovered presence must equal uninterrupted presence
    // (state restored — a lost state store would emit spurious 'online'
    // rows for every already-seen device).
    val d = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val recovered = SparkEntry.queries("Q-str-23")(spark, d)
    val batch = graft.core.Tables.events(spark, d)
      .groupBy((floor(unix_timestamp(col("ts")) / 10) * 10).cast("long").as("ws_sec"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(recovered.collect().map(_.toString).sorted.toSeq ==
      batch.collect().map(_.toString).sorted.toSeq)

    val presRecovered = SparkEntry.queries("Q-str-24")(spark, d)
      .collect().map(_.toString).sorted.toSeq
    val presStraight = SparkEntry.queries("Q-str-05")(spark, d)
      .collect().map(_.toString).sorted.toSeq
    assert(presRecovered == presStraight)
  }

  test("crash recovery under RocksDB CHANGELOG checkpointing matches batch truth") {
    // Round-9 verdict #5: full-snapshot uploads are the recovery-time
    // killer at fleet-sized state — changelog checkpointing commits each
    // batch as a DELTA file and reconstructs state on restart by
    // replaying changelogs over the last snapshot. The contract under
    // test: the exact crash-restart discipline Q-str-23/24 pin (epoch
    // replay idempotent, state restored across a fresh session) holds
    // unchanged when the per-batch checkpoint is a changelog, including
    // the recovery path that must REPLAY a changelog chain rather than
    // download one zip. (PresenceScaleSpec prices the upload-size win.)
    val d = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    try graft.streaming.Replay.withRocksDb(spark) {
      val recovered = SparkEntry.queries("Q-str-23")(spark, d)
      val batch = graft.core.Tables.events(spark, d)
        .groupBy((floor(unix_timestamp(col("ts")) / 10) * 10).cast("long")
          .as("ws_sec"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      assert(recovered.collect().map(_.toString).sorted.toSeq ==
        batch.collect().map(_.toString).sorted.toSeq)
      val presRecovered = SparkEntry.queries("Q-str-24")(spark, d)
        .collect().map(_.toString).sorted.toSeq
      val presStraight = SparkEntry.queries("Q-str-05")(spark, d)
        .collect().map(_.toString).sorted.toSeq
      assert(presRecovered == presStraight)
    } finally spark.conf.unset(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
  }

  test("a drain whose sink throws restores the session's partition count and state store") {
    import graft.streaming.Replay
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass")
    val before = keys.map(spark.conf.getOption)
    // the Q-str-23 crash shape: the foreachBatch sink throws mid-drain
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Replay.withRocksDb(spark) {
        Replay.drain(Replay.eventsStream(spark, "/root/testdata/sf0.001")
            .groupBy("event_type").count(), "complete")(
          _.foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
            throw new RuntimeException("simulated crash") })
      }
    }
    assert(keys.map(spark.conf.getOption) == before)
  }

  test("watermark bounds state: a 4-chunk windowed drain ends with open windows only") {
    // The Q-str-18/22 stateful shapes, drained in append mode across 4
    // time-ordered chunks with state observability on: after the final
    // batch the state store must hold roughly the windows the watermark
    // has NOT yet closed — not the month of history that flowed through.
    // This is the contract that lets the same query run forever on an
    // unbounded stream; without the purge, state rows == total windows.
    import java.nio.file.Files
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val ev = graft.core.Tables.events(spark, d)
    val tmp = graft.queries.tempDir("graft_state_bound")
    val wOrd = Window.orderBy(col("ts"), col("event_id"))
    ev.withColumn("chunk", ntile(4).over(wOrd))
      .coalesce(1)
      .write.partitionBy("chunk").mode("overwrite").parquet(s"$tmp/chunks")
    val dir = Files.createDirectory(tmp.resolve("stream"))
    (1 to 4).foreach { c =>
      val src = tmp.resolve("chunks").resolve(s"chunk=$c")
      val listing = Files.list(src)
      val parts =
        try listing.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.getFileName.toString.endsWith(".parquet"))
        finally listing.close()
      parts.zipWithIndex.foreach { case (f, i) =>
        val out = dir.resolve(s"c${c}_$i.parquet")
        Files.copy(f, out)
        Files.setLastModifiedTime(out,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + c * 60000L))
      }
    }
    val raw = spark.read.parquet(s"$tmp/chunks/chunk=1")
    def src() = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)

    // ground truth: total groups that flowed through vs groups the final
    // watermark (maxTs - 3.5 s) leaves open (window end > watermark)
    val maxTsMs = ev.agg(max(unix_millis(col("ts")))).head().getLong(0)
    val wmMs = maxTsMs - 3500L
    val groups = ev.select(
      (floor(unix_millis(col("ts")) / 10000L) * 10000L).as("wsMs"),
      col("event_type")).distinct()
    val totalGroups = groups.count()
    val openGroups = groups.where(col("wsMs") + 10000L > wmMs).count()

    // Q-str-18 shape: windowed count per (window, type)
    val (_, usage18) = graft.streaming.Replay.runWithStateUsage(
      src().withWatermark("ts", "3500 milliseconds")
        .groupBy(window(col("ts"), "10 seconds"), col("event_type"))
        .agg(count(lit(1)).as("n")),
      "append")
    assert(usage18.nonEmpty, "no state metrics surfaced")
    val rows18 = usage18.map(_._2).sum
    assert(usage18.forall(_._3 > 0L), s"state bytes not surfaced: $usage18")
    // purge lag tolerance: at most one extra batch of open windows
    assert(rows18 <= openGroups * 2 + 10,
      s"state holds $rows18 rows; only ~$openGroups groups are open")
    assert(rows18 * 10 <= totalGroups,
      s"state ($rows18) is not small vs history ($totalGroups groups)")

    // Q-str-22 shape: (window, type, bin) histogram cells
    val bin = least(lit(9L), greatest(lit(0L),
      floor(col("value") / 10.0).cast("long")))
    val cellsTotal = ev.select(
      (floor(unix_millis(col("ts")) / 10000L) * 10000L).as("wsMs"),
      col("event_type"), bin.as("bin")).distinct()
    val openCells = cellsTotal.where(col("wsMs") + 10000L > wmMs).count()
    val (_, usage22) = graft.streaming.Replay.runWithStateUsage(
      src().withWatermark("ts", "3500 milliseconds")
        .withColumn("bin", bin)
        .groupBy(window(col("ts"), "10 seconds"), col("event_type"), col("bin"))
        .agg(count(lit(1)).as("o")),
      "append")
    val rows22 = usage22.map(_._2).sum
    assert(rows22 <= openCells * 2 + 10,
      s"cell state holds $rows22 rows; only ~$openCells cells are open")
    assert(rows22 * 10 <= cellsTotal.count(),
      s"cell state ($rows22) is not small vs history (${cellsTotal.count()} cells)")
  }
}

/** Minimal GroupState stub for pure-function tests of the state logic. */
class TestGroupState[T] extends org.apache.spark.sql.streaming.GroupState[T] {
  var value: Option[T] = None
  override def exists: Boolean = value.isDefined
  override def get: T = value.get
  override def getOption: Option[T] = value
  override def update(v: T): Unit = value = Some(v)
  override def remove(): Unit = value = None
  override def hasTimedOut: Boolean = false
  override def setTimeoutDuration(ms: Long): Unit = ()
  override def setTimeoutDuration(d: String): Unit = ()
  override def setTimeoutTimestamp(ms: Long): Unit = ()
  override def setTimeoutTimestamp(ms: Long, add: String): Unit = ()
  override def setTimeoutTimestamp(ts: java.sql.Date): Unit = ()
  override def setTimeoutTimestamp(ts: java.sql.Date, add: String): Unit = ()
  override def getCurrentWatermarkMs(): Long = 0L
  override def getCurrentProcessingTimeMs(): Long = 0L
}
