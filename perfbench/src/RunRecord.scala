package perfbench

import java.io.{File, FileInputStream, FileOutputStream}
import java.util.Properties

/** The run record: what ran, where, what it measured and which checks
  * passed, written to `<results>/<workload>-<seed>-trace<k>.json`, with
  * the spans of a traced run beside it. `<results>` is
  * `.results/<build>`, one directory per source tree (see run.py).
  * Counts that must repeat exactly at a fixed seed are kept per
  * workload, seed and `--seconds` in
  * `<results>/exact-<workload>-<seed>-s<seconds>.properties`; a run
  * whose counts differ from the first such run of the same build fails
  * the check "exact counts repeat". A changed program may rightly
  * change these counts, so they are never compared across builds. */
object RunRecord {
  def compareExact(ctx: Ctx): Unit = {
    val f = new File(ctx.results, s"exact-${ctx.workload}-${ctx.seed}-s${ctx.seconds}.properties")
    val props = new Properties()
    if (f.exists) {
      val in = new FileInputStream(f)
      try props.load(in) finally in.close()
      val diffs = ctx.exact.collect {
        case (k, v) if props.getProperty(k) != null && props.getProperty(k).toLong != v =>
          s"$k: ${props.getProperty(k)} before, $v now"
      }
      ctx.check("exact counts repeat at this seed", diffs.isEmpty, diffs.mkString("; "))
    }
    ctx.exact.foreach { case (k, v) =>
      if (props.getProperty(k) == null) props.setProperty(k, v.toString) }
    f.getParentFile.mkdirs()
    val out = new FileOutputStream(f)
    try props.store(out, null) finally out.close()
  }

  def write(ctx: Ctx): Unit = {
    val dir = ctx.results
    val base = s"${ctx.workload}-${ctx.seed}-trace${if (ctx.trace) 1 else 0}"
    def ms(m: Metrics) = scala.collection.immutable.ListMap(m.all.map { case (n, v, u) =>
      n -> Map("value" -> v, "unit" -> u) }: _*)
    val rec = scala.collection.immutable.ListMap(
      "workload" -> ctx.workload,
      "seed" -> ctx.seed,
      "seconds" -> ctx.seconds,
      "trace" -> ctx.trace,
      "cpus" -> Runtime.getRuntime.availableProcessors,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "checks" -> ctx.checks.map { case (n, ok, d) => Map("check" -> n, "ok" -> ok, "detail" -> d) },
      "exact_counts" -> ctx.exact,
      "notes" -> ctx.notes,
      "end_to_end" -> ms(ctx.e2e),
      "per_layer" -> ms(ctx.layer))
    Files2.write(new File(dir, base + ".json").toPath, Json.render(rec) + "\n")
    if (ctx.trace)
      Files2.write(new File(dir, base + ".spans.json").toPath, ctx.tracer.toJson + "\n")
  }
}

/** Every per-layer metric, in the order BENCHMARK.json lists them. A
  * traced run reports all of them; a layer the workload never enters
  * reads 0. */
object PerLayer {
  val names: Seq[(String, String)] = Seq(
    "codec.decode_s" -> "s", "codec.dropped" -> "count",
    "presence.run_s" -> "s",
    "state.commit_ms" -> "ms", "state.rows_total" -> "count",
    "state.rows_updated" -> "count", "state.rows_removed" -> "count",
    "state.memory_bytes" -> "bytes", "state.dropped_by_watermark" -> "count",
    "state.ckpt_bytes" -> "bytes") ++
    Pipeline.CustomStateMetrics.map(n => s"state.custom.$n" -> Pipeline.customUnit(n)) ++ Seq(
    "sink.project_s" -> "s", "sink.rows_out" -> "count", "sink.bytes_out" -> "bytes") ++
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
      "commitOffsets", "triggerExecution").map(p => s"trigger.${p}_ms" -> "ms") ++ Seq(
    "trigger.batches" -> "count", "catchup.trigger_ms" -> "ms",
    "live.backlog_files_max" -> "count", "gen.late_ms_max" -> "ms",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.planning_ms" -> "ms",
    "table.append_ms" -> "ms", "table.merge_ms" -> "ms", "table.delete_ms" -> "ms",
    "table.compact_ms" -> "ms", "table.point_read_ms" -> "ms", "table.range_read_ms" -> "ms",
    "table.files_read_frac" -> "ratio", "table.write_amp" -> "ratio",
    "table.log_versions" -> "count", "table.live_files" -> "count",
    "table.ledger_pressure" -> "count",
    "graph.cc_s" -> "s", "graph.pagerank_s" -> "s",
    "graph.cc_jobs" -> "count", "graph.pr_jobs" -> "count",
    "graph.cc_planning_ms" -> "ms", "graph.pr_planning_ms" -> "ms",
    "graph.shuffle_bytes" -> "bytes",
    "scaling.catchup_1core_events_per_s" -> "1/s",
    "trace.overhead_s" -> "s", "failed_frac" -> "ratio",
    "host.cpus" -> "count", "host.loadavg_start" -> "load", "host.loadavg_end" -> "load",
    "host.cpu_steal_ms" -> "ms")
}
