package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. Times are epoch
  * milliseconds with sub-millisecond resolution. */
final case class Span(id: Int, name: String, parent: Int,
                      startMs: Double, endMs: Double)

/** In-memory span recorder. Disabled, `span` is a plain call-through.
  * Enabled, every span also becomes the Spark local property
  * [[Tracer.Prop]] of the calling thread, so the jobs it submits can be
  * tied back to it by [[SparkMetrics]]. */
final class Tracer(@volatile var enabled: Boolean) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val ids = new AtomicInteger(0)
  private val done = ArrayBuffer.empty[Span]
  /** Spans opened by [[span]]: id -> start, while open; then the span. */
  private val open = new ConcurrentHashMap[Int, java.lang.Double]()
  private val calls = ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = 0 }
  @volatile var spark: Option[SparkSession] = None

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      val t0 = nowMs
      open.put(id, t0)
      current.set(id)
      spark.foreach(_.sparkContext.setLocalProperty(Tracer.Prop, id.toString))
      try f
      finally {
        current.set(parent)
        spark.foreach(_.sparkContext.setLocalProperty(Tracer.Prop,
          if (parent == 0) null else parent.toString))
        val s = Span(id, name, parent, t0, nowMs)
        synchronized { calls += s; open.remove(id) }
        record(s)
      }
    }

  /** A span whose interval was measured elsewhere (e.g. a trigger phase
    * reported by Spark). Returns its id. */
  def add(name: String, parent: Int, startMs: Double, endMs: Double): Int =
    if (!enabled) 0
    else {
      val id = ids.incrementAndGet()
      record(Span(id, name, parent, startMs, endMs))
      id
    }

  def currentId: Int = current.get

  /** Whether [[span]] `id` was open at epoch ms `t` (1 ms slack: Spark
    * stamps events in whole milliseconds). */
  def openAt(id: Int, t: Double): Boolean = synchronized {
    Option(open.get(id)).map(_ - 1 <= t)
      .getOrElse(calls.exists(s => s.id == id && s.startMs - 1 <= t && t <= s.endMs + 1))
  }

  /** The innermost [[span]] open at epoch ms `t`, or 0. The benchmark
    * opens spans on one driver thread, one inside another, so this is
    * the span whose call submitted work at `t`, from whichever thread. */
  def spanAt(t: Double): Int = synchronized {
    val closed = calls.iterator.filter(s => s.startMs - 1 <= t && t <= s.endMs + 1)
      .map(s => (s.startMs, s.id))
    val running = open.entrySet.iterator.asScala.filter(_.getValue - 1 <= t)
      .map(e => (e.getValue.doubleValue, e.getKey.intValue))
    (closed ++ running).maxByOption(_._1).map(_._2).getOrElse(0)
  }

  private def record(s: Span): Unit = synchronized { done += s }
  def spans: Seq[Span] = synchronized(done.toList)

  def toJson: String = Json.render(spans.sortBy(_.startMs).map(s => ListMap(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Spark execution counters from a listener the benchmark registers:
  * jobs, tasks, executor time, GC, shuffle and spill, plus the planning
  * phases of every batch query. Each job is attributed to the span that
  * submitted it (the [[Tracer.Prop]] local property, or the streaming
  * query's run id, see [[bindGroup]], checked against the span's
  * interval). */
final class SparkMetrics(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  final class Counters {
    val jobs, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, planningMs =
      new AtomicLong
  }
  val total = new Counters
  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val groupSpan = new ConcurrentHashMap[String, Int]()
  private val planPhases = ArrayBuffer.empty[(Double, Double)]

  def of(spanId: Int): Counters = bySpan.computeIfAbsent(spanId, _ => new Counters)

  /** Tie jobs run under a job group (a streaming query's run id) to a span. */
  def bindGroup(group: String, spanId: Int): Unit = groupSpan.put(group, spanId)

  // A job carries its span as a local property, or its streaming
  // query's group. Pooled threads (e.g. the operators' Futures) inherit
  // local properties when the thread is created, so they carry a stale
  // span or none: a tag is kept only if that span was open when the job
  // was submitted, and otherwise the job goes to the span open then.
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val t = e.time.toDouble
    val span = p.flatMap(x => Option(x.getProperty(Tracer.Prop))).map(_.toInt)
      .orElse(p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
        .flatMap(g => Option(groupSpan.get(g)).map(_.intValue)))
      .filter(id => tracer.openAt(id, t))
      .getOrElse(tracer.spanAt(t))
    e.stageIds.foreach(s => stageSpan.put(s, span))
    total.jobs.incrementAndGet()
    of(span).jobs.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val span = Option(stageSpan.get(e.stageId)).map(_.intValue).getOrElse(0)
    for (c <- Seq(total, of(span))) {
      c.tasks.incrementAndGet()
      c.runMs.addAndGet(m.executorRunTime)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  // Batch queries report analysis, optimization and planning phases with
  // their wall-clock intervals; they are attributed to spans by time,
  // since this callback runs on the listener thread.
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    val ms = ph.values.map(_.durationMs).sum
    total.planningMs.addAndGet(ms)
    synchronized {
      ph.values.foreach(p => planPhases += ((p.startTimeMs.toDouble, p.endTimeMs.toDouble)))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Planning milliseconds whose phases started inside [startMs, endMs]. */
  def planningMsBetween(startMs: Double, endMs: Double): Double = synchronized {
    planPhases.collect { case (s, e) if s >= startMs && s <= endMs => e - s }.sum
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
}
