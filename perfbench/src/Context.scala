package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.core.EngineSession

/** Every `StreamingQueryProgress` of the run, through a listener:
  * `recentProgress` keeps only the last few. */
final class ProgressLog extends StreamingQueryListener {
  import StreamingQueryListener._
  private val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = all.add(e.progress)
  def of(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    all.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)
}

/** State of one benchmark run: the session, the recorders, the metrics
  * and the outcome of every output check. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
                val trace: Boolean, val work: File, val cacheRoot: File,
                val results: File) {
  var spark: SparkSession = _
  val tracer = new Tracer(false)
  /** Installed by [[startTracing]]; untraced passes run without it. */
  var sparkMetrics: Option[SparkMetrics] = None
  val progress = new ProgressLog
  val e2e = new Metrics
  val layer = new Metrics
  var attempted = 0L
  var failed = 0L
  /** (check, passed, detail) */
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  /** Exact counts that must repeat at a fixed seed, for the run record. */
  val exact = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  val notes = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
  }

  /** Records an exact count; a second pass of the same run must give
    * the same value. */
  def exactCount(name: String, v: Long): Unit = {
    exact.get(name).foreach(before => check(s"exact count $name repeats within the run",
      before == v, s"$before in the first pass, $v in the second"))
    exact(name) = v
  }

  /** Inputs generated for this seed, kept across runs of one build
    * (`cacheRoot` is per build, see run.py). */
  def cache(name: String): File = new File(cacheRoot, s"$workload-$seed/$name")
  def dir(name: String): File = { val f = new File(work, name); f.mkdirs(); f }

  def newSession(master: Option[String] = None, partitions: Option[Int] = None): SparkSession = {
    val b = EngineSession.builder("perfbench")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      // RocksDB state for the presence operator, as WeatherJob.main sets it
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    master.foreach(b.master)
    partitions.foreach(p => b.config("spark.sql.shuffle.partitions", p.toString))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.streams.addListener(progress)
    tracer.spark = Some(s)
    spark = s
    s
  }

  def startTracing(): Unit = {
    val m = new SparkMetrics(tracer)
    m.install(spark)
    sparkMetrics = Some(m)
    tracer.enabled = true
  }

  def stopSession(): Unit = if (spark != null) {
    spark.streams.active.foreach(_.stop())
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    tracer.spark = None
    spark = null
  }

  def drainListeners(): Unit =
    if (spark != null) org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
}
