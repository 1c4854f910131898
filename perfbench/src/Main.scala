package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

/** One workload of the benchmark. `prepare` makes the seed's inputs
  * (cached, outside every timed region); `warmUp` is the last part of
  * set-up; `pass` runs the timed region once, sized by `ctx.seconds`,
  * and returns what it measured. A run calls `pass` once for the
  * end-to-end metrics, and with tracing on once more for the per-layer
  * metrics; `check` runs after each, outside the timed region. */
trait Workload {
  type Outcome
  def prepare(ctx: Ctx): Unit
  def warmUp(ctx: Ctx): Unit
  def pass(ctx: Ctx): Outcome
  /** Wall ms of the pass's timed region. */
  def wallMs(o: Outcome): Double
  /** Compares the pass's outputs with the benchmark's own expectation. */
  def check(ctx: Ctx, o: Outcome): Unit
  def endToEnd(ctx: Ctx, o: Outcome): Unit
  /** Per-layer metrics of a traced pass. */
  def perLayer(ctx: Ctx, o: Outcome): Unit
  /** Traced-run extras: layer micro-runs and baselines. */
  def extras(ctx: Ctx): Unit = ()
}

object Main {
  val SetupCycles = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms", "latency_p90_ms" -> "ms")

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(opts("workload"), opts("seed").toLong, opts("seconds").toInt,
      opts("trace") == "1", new File(opts("work")), new File(opts("cache")),
      new File(opts("results")))
    val code =
      try { run(ctx, jvmStartMs); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally {
        try ctx.stopSession() catch { case e: Throwable => e.printStackTrace() }
      }
    System.exit(code)
  }

  def workload(name: String): Workload = name match {
    case "pipeline" => new PipelineWorkload
    case "table-mixed" => new TableMixed
    case "graph-iter" => new GraphIter
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def loadavg: Double =
    scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")(0).toDouble

  /** CPU time the hypervisor gave to others (all cpus, from
    * /proc/stat): the contention canary. */
  def stealMs: Double = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val cpu = f.getLines().next().trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toDouble * 10.0 else 0.0
    } finally f.close()
  }

  def run(ctx: Ctx, jvmStartMs: Double): Unit = {
    val wl = workload(ctx.workload)
    val load0 = loadavg
    val setups = ArrayBuffer.empty[Double]
    val steal0 = stealMs
    ctx.newSession()
    val g0 = System.currentTimeMillis()
    wl.prepare(ctx)
    val genMs = System.currentTimeMillis() - g0
    wl.warmUp(ctx)
    setups += System.currentTimeMillis() - jvmStartMs - genMs
    for (_ <- 1 until SetupCycles) {
      val t0 = System.currentTimeMillis()
      ctx.stopSession()
      ctx.newSession()
      wl.warmUp(ctx)
      setups += (System.currentTimeMillis() - t0).toDouble
    }
    ctx.e2e.put("setup_s", Stats.median(setups.toSeq) / 1000.0, "s")
    ctx.notes("setup_cycles_s") = setups.map(_ / 1000.0).toSeq
    ctx.notes("input_generation_s") = genMs / 1000.0
    val measured = wl.pass(ctx)
    wl.check(ctx, measured)
    wl.endToEnd(ctx, measured)
    if (ctx.trace) {
      // tracing overhead: the traced pass against the measured one (which
      // ran first, so warm-up left in it counts against tracing)
      ctx.startTracing()
      val traced = wl.pass(ctx)
      ctx.layer.put("trace.overhead_s", (wl.wallMs(traced) - wl.wallMs(measured)) / 1000.0, "s")
      // Spark totals of the traced pass alone, before its checks run
      ctx.sparkMetrics.foreach { m =>
        ctx.drainListeners()
        val c = m.total
        val L = ctx.layer
        L.put("spark.jobs", c.jobs.get.toDouble, "count")
        L.put("spark.tasks", c.tasks.get.toDouble, "count")
        L.put("spark.executor_run_ms", c.runMs.get.toDouble, "ms")
        L.put("spark.executor_cpu_ms", c.cpuNs.get / 1e6, "ms")
        L.put("spark.gc_ms", c.gcMs.get.toDouble, "ms")
        L.put("spark.shuffle_write_bytes", c.shuffleWrite.get.toDouble, "bytes")
        L.put("spark.shuffle_read_bytes", c.shuffleRead.get.toDouble, "bytes")
        L.put("spark.spill_bytes", c.spill.get.toDouble, "bytes")
        L.put("spark.planning_ms", c.planningMs.get.toDouble, "ms")
      }
      wl.perLayer(ctx, traced)
      wl.check(ctx, traced)
      wl.extras(ctx)
    }
    ctx.layer.put("failed_frac",
      if (ctx.attempted == 0) 0.0 else ctx.failed.toDouble / ctx.attempted, "ratio")
    ctx.layer.put("host.cpus", Runtime.getRuntime.availableProcessors.toDouble, "count")
    ctx.layer.put("host.loadavg_start", load0, "load")
    ctx.layer.put("host.loadavg_end", loadavg, "load")
    ctx.layer.put("host.cpu_steal_ms", stealMs - steal0, "ms")
    RunRecord.compareExact(ctx)
    RunRecord.write(ctx)
    println(result(ctx))
  }

  def result(ctx: Ctx): String = {
    val ms: Seq[(String, Double, String)] =
      if (!ctx.trace) EndToEnd.map { case (n, u) =>
        (n, ctx.e2e.get(n).getOrElse(throw new IllegalStateException(s"metric $n not measured")), u)
      }
      else PerLayer.names.map { case (n, u) => (n, ctx.layer.get(n).getOrElse(0.0), u) }
    val correct = ctx.checks.forall(_._2) && ctx.attempted > 0
    Json.render(Map(
      "correct" -> correct,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> scala.collection.immutable.ListMap(ms.map { case (n, v, u) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*)))
  }
}
