package graftbench

/** The per-layer metrics of the traced run, named after graft's modules.
  * Each is summed over the ops of a traced pass, and the median over
  * traced passes is reported; setup-time layers are measured once.
  */
object Layers {

  val metrics: Seq[(String, String)] = Seq(
    "session.build_s" -> "s", "session.warmup_s" -> "s",
    "registry.build_s" -> "s", "registry.eager_jobs" -> "count",
    "plans.analysis_s" -> "s", "plans.optimization_s" -> "s",
    "plans.planning_s" -> "s", "plans.nodes" -> "count",
    "plans.non_codegen_nodes" -> "count",
    "sources.scan_bytes" -> "bytes", "sources.scan_rows" -> "rows",
    "sources.scan_files" -> "count",
    "exchange.write_bytes" -> "bytes", "exchange.read_bytes" -> "bytes",
    "exchange.fetch_wait_s" -> "s", "exchange.reducers" -> "count",
    "exchange.skew" -> "ratio",
    "operators.run_s" -> "s", "operators.cpu_s" -> "s", "operators.gc_s" -> "s",
    "operators.spill_bytes" -> "bytes", "operators.tasks" -> "count",
    "operators.jobs" -> "count", "operators.sched_delay_s" -> "s",
    "operators.task_failures" -> "count",
    "pipeline.censo_s" -> "s", "pipeline.curation_s" -> "s",
    "sources.sink_s" -> "s", "sources.sink_rows" -> "rows",
    "sources.sink_bytes" -> "bytes", "sources.sink_files" -> "count",
    "sources.sink_bytes_per_input_byte" -> "ratio", "sources.commit_s" -> "s",
    "streaming.batch_s" -> "s", "streaming.batches" -> "count",
    "streaming.state_rows" -> "rows", "streaming.state_bytes" -> "bytes",
    "streaming.state_commit_s" -> "s", "streaming.backlog_rows" -> "rows",
    "streaming.generator_lag_s" -> "s",
    "check.mismatches" -> "count", "check.errors" -> "count",
    "trace.overhead_frac" -> "ratio")

  def report(r: Run, perPass: Seq[Map[String, Double]],
             extra: (String, Double)*): Seq[(String, Double, String)] = {
    val lineitemBytes = r.facts("tables").asInstanceOf[Map[String, Map[String, Long]]]
      .get("lineitem").map(_("bytes").toDouble).getOrElse(0.0)
    val passes = perPass.map { p =>
      p.get("sources.sink_dir_bytes").filter(_ => lineitemBytes > 0)
        .fold(p)(b => p.updated("sources.sink_bytes_per_input_byte", b / lineitemBytes))
    }
    val ex = extra.toMap
    metrics.map { case (name, unit) =>
      val v = r.setupCounters.get(name).orElse(ex.get(name)).getOrElse(
        if (passes.isEmpty) 0.0 else Bench.median(passes.map(_.getOrElse(name, 0.0))))
      (name, v, unit)
    }
  }
}
