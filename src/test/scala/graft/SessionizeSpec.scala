package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EngineSession
import graft.streaming.{Replay, Sessionize}

/** Hand-computed fixtures for the timer-driven sessionizer, plus the
  * batching-invariance claim: the emitted sessions are a pure function of
  * the event set, no matter how rows split across micro-batches.
  */
class SessionizeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = EngineSession.getOrCreate("graft-test")

  private val gap = 10000L // 10 s

  // user 1: two sessions [0s..5s] (3 events) and [60s..62s] (2 events);
  // user 2: one single-event session at 30s. Sentinel user -1 far in the
  // future closes every real session's timer.
  private val base = 1700000000000L
  private val fixture = Seq(
    (1L, 0L), (1L, 3000L), (1L, 5000L), (1L, 60000L), (1L, 62000L),
    (2L, 30000L),
    (-1L, 10L * 3600 * 1000))

  private def run(filesPerTrigger: Int): Seq[(Long, Long, Long, Long)] = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_sess_spec")
    val streamDir = Files.createDirectory(tmp.resolve("stream"))
    val rows = fixture.map { case (u, off) =>
      (u, new java.sql.Timestamp(base + off))
    }
    // one parquet file per event so filesPerTrigger controls batching
    rows.zipWithIndex.foreach { case ((u, ts), i) =>
      Seq((u, ts)).toDF("user_id", "ts")
        .coalesce(1).write.parquet(s"$tmp/f$i")
      val part = Files.list(java.nio.file.Paths.get(s"$tmp/f$i"))
      try part.filter(_.toString.endsWith(".parquet")).forEach { p =>
        Files.copy(p, streamDir.resolve(s"in_$i.parquet"))
        Files.setLastModifiedTime(
          streamDir.resolve(s"in_$i.parquet"),
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 1000))
      } finally part.close()
    }
    val schema = spark.read.parquet(s"$tmp/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(streamDir.toString)
      .withWatermark("ts", "1 second")
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"))
    Replay.withRocksDb(spark) {
      Replay.run(Sessionize.sessions(spark, stream, gap).toDF(), "append")
        .filter(col("user_id") =!= -1)
        .orderBy("user_id", "session_start_ms")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    }
  }

  private val expected = Seq(
    (1L, base, base + 5000L, 3L),
    (1L, base + 60000L, base + 62000L, 2L),
    (2L, base + 30000L, base + 30000L, 1L))

  test("sessionizer emits hand-computed sessions (one file per batch)") {
    assert(run(filesPerTrigger = 1) == expected)
  }

  test("sessionizer output is invariant to micro-batch boundaries") {
    assert(run(filesPerTrigger = 100) == expected)
  }

  test("state-schema evolution: upgraded processor resumes a v1 checkpoint mid-session") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val tmp = Files.createTempDirectory("graft_sess_evo")
    val streamDir = Files.createDirectory(tmp.resolve("stream"))
    val ckpt = tmp.resolve("ckpt").toString
    def addFile(i: Int, rows: Seq[(Long, Long)]): Unit = {
      rows.map { case (u, off) => (u, new java.sql.Timestamp(base + off)) }
        .toDF("user_id", "ts").coalesce(1).write.parquet(s"$tmp/f$i")
      val part = Files.list(java.nio.file.Paths.get(s"$tmp/f$i"))
      try part.filter(_.toString.endsWith(".parquet")).forEach { p =>
        Files.copy(p, streamDir.resolve(s"in_$i.parquet"))
        Files.setLastModifiedTime(streamDir.resolve(s"in_$i.parquet"),
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 1000))
      } finally part.close()
    }
    // phase 1 (v1 processor): u1's first session and u2's first event
    // buffer but NOTHING closes (max watermark 8s-1s < first fire at
    // 15s) — the old-schema state must cross the upgrade boundary
    addFile(0, Seq((1L, 0L), (1L, 3000L), (1L, 5000L), (2L, 8000L)))
    val schema = spark.read.parquet(s"$tmp/f0").schema
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
      .withWatermark("ts", "1 second")
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"))
      .as[Sessionize.SessEvent]
    // Avro state encoding is what makes the schema EVOLVABLE (the
    // default unsaferow encoding pins the exact binary layout)
    val encoding = "spark.sql.streaming.stateStore.encodingFormat"
    val prev = spark.conf.getOption(encoding)
    spark.conf.set(encoding, "avro")
    try Replay.withRocksDb(spark) {
      // file sink: the one sink shape that RECOVERS from a checkpoint
      // (memory sink refuses), so phase 2 genuinely resumes phase 1
      val outDir = tmp.resolve("out").toString
      def drain(ds: org.apache.spark.sql.Dataset[Sessionize.SessionOut])
          : Seq[(Long, Long, Long, Long)] = {
        Replay.drain(ds.toDF(), "append", Some(ckpt))(
          _.format("json").option("path", outDir))
        spark.read.schema(
            "user_id LONG, session_start_ms LONG, session_end_ms LONG, " +
              "n_events LONG")
          .json(outDir).as[(Long, Long, Long, Long)].collect().toSeq
      }
      val out1 = drain(stream().groupByKey(_.user_id)
        .transformWithState(new LegacySessionProcessor(gap),
          TimeMode.EventTime(), OutputMode.Append()))
      assert(out1.isEmpty, s"phase 1 must close nothing: $out1")
      // phase 2 (UPGRADED processor, same checkpoint): u1's second
      // session + sentinel closes everything; u1's first session spans
      // the upgrade, so its 3 v1-format entries must decode (weight
      // None → 1) for n_events to come out 3
      addFile(1, Seq((1L, 60000L), (1L, 62000L)))
      addFile(2, Seq((-1L, 10L * 3600 * 1000)))
      val out2 = drain(Sessionize.sessions(spark, stream().toDF(), gap))
      val got = out2.filter(_._1 != -1L)
        .sortBy(t => (t._1, t._2))
      val want = Seq(
        (1L, base, base + 5000L, 3L),
        (1L, base + 60000L, base + 62000L, 2L),
        (2L, base + 8000L, base + 8000L, 1L))
      assert(got == want,
        s"resumed-upgraded drain must equal the uninterrupted answer: $got")
    } finally prev.fold(spark.conf.unset(encoding))(spark.conf.set(encoding, _))
  }
}

/** The PRE-UPGRADE (v1) sessionizer, verbatim: state is a bare
  * `ListState[Long]` of event times. Kept (top-level — a spec inner
  * class would drag the non-serializable suite into the task closure)
  * only to write an old-schema checkpoint for the upgrade test. */
private class LegacySessionProcessor(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Sessionize.SessEvent, Sessionize.SessionOut] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
    OutputMode, TTLConfig, TimeMode, TimerValues}
  @transient private var buf: ListState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    buf = getHandle.getListState[Long]("buf", Encoders.scalaLong,
      TTLConfig.NONE)
  override def handleInputRows(
      key: Long, rows: Iterator[Sessionize.SessEvent],
      tv: TimerValues): Iterator[Sessionize.SessionOut] = {
    rows.foreach(r => buf.appendValue(r.ts_ms))
    val maxTs = buf.get().max
    getHandle.listTimers().toList.foreach(getHandle.deleteTimer)
    getHandle.registerTimer(maxTs + gapMs)
    Iterator.empty
  }
  override def handleExpiredTimer(
      key: Long, tv: TimerValues,
      expired: ExpiredTimerInfo): Iterator[Sessionize.SessionOut] = {
    val wm = tv.getCurrentWatermarkInMs()
    val ts = buf.get().toArray.sorted
    if (ts.isEmpty) return Iterator.empty
    val islands = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer(ts.head))
    for (t <- ts.tail) {
      if (t - islands.last.last > gapMs)
        islands += scala.collection.mutable.ArrayBuffer(t)
      else islands.last += t
    }
    val (closed, open) = islands.span(_.last + gapMs <= wm)
    buf.clear()
    if (open.nonEmpty) {
      open.flatten.foreach(buf.appendValue)
      getHandle.registerTimer(open.last.last + gapMs)
    }
    closed.iterator.map(isl =>
      Sessionize.SessionOut(key, isl.head, isl.last, isl.size.toLong))
  }
}
