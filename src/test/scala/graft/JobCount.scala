package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Host-independent Spark counters of the jobs a block submits from the
  * calling thread, collected by a listener scoped to a fresh job group:
  * the job count and, per task of those jobs' stages, its input records,
  * shuffle records written and shuffle records read. */
object JobCount {

  /** One finished task's records. */
  final case class Task(stage: Int, input: Long, written: Long, read: Long)

  final case class Counters(jobs: Int, tasks: Seq[Task]) {
    def inputRecords: Long = tasks.map(_.input).sum
    def shuffleWritten: Long = tasks.map(_.written).sum
    /** Per stage with any `per` records: their sum, and the largest
      * share of them one task holds. */
    private def shares(per: Task => Long): Seq[(Long, Double)] =
      tasks.groupBy(_.stage).values.map(_.map(per)).filter(_.sum > 0)
        .map(r => (r.sum, r.max.toDouble / r.sum)).toSeq
    /** The largest one-task share in the stage with the most `per` records. */
    def heaviestShare(per: Task => Long): Double =
      shares(per).maxByOption(_._1).fold(0.0)(_._2)
    /** The largest one-task share in any stage. */
    def worstShare(per: Task => Long): Double =
      shares(per).map(_._2).maxOption.getOrElse(0.0)
    /** max/mean per-task shuffle-read records in the heaviest-reading stage. */
    def readSkew: Double = {
      val r = tasks.groupBy(_.stage).values.map(_.map(_.read)).maxBy(_.sum)
      r.max * r.size.toDouble / r.sum.max(1L)
    }
    override def toString: String =
      s"jobs=$jobs input=$inputRecords shuffleWritten=$shuffleWritten"
  }

  def apply(sc: SparkContext, what: String)(body: => Unit): Int =
    counters(sc, what)(body).jobs

  def counters(sc: SparkContext, what: String)(body: => Unit): Counters = {
    val group = s"job-count-${System.nanoTime}"
    val jobs = new AtomicInteger
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val tasks = new ConcurrentLinkedQueue[Task]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add(_))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null && stages.contains(e.stageId))
          tasks.add(Task(e.stageId, m.inputMetrics.recordsRead,
            m.shuffleWriteMetrics.recordsWritten, m.shuffleReadMetrics.recordsRead))
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, what)
    try {
      body
      // listener events are delivered asynchronously
      org.apache.spark.sql.graft.Bridge.drainListenerBus(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    Counters(jobs.get, tasks.asScala.toSeq)
  }

  /** Runs `body` with what the counters depend on pinned, so they do not
    * follow the host's cores: `partitions` shuffle partitions, as many
    * leaf partitions for ranges, local rows and file scans, AQE as given,
    * plus any `confs`. */
  def pinned[T](spark: SparkSession, aqe: Boolean, partitions: Int = 8,
                confs: Seq[(String, String)] = Nil)(body: => T): T = {
    val pairs = Seq("spark.sql.shuffle.partitions" -> partitions.toString,
      "spark.sql.leafNodeDefaultParallelism" -> partitions.toString,
      "spark.sql.adaptive.enabled" -> aqe.toString) ++ confs
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
