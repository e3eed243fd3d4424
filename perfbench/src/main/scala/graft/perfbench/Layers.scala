package graft.perfbench

/** The traced run's per-layer metrics, by repo module. Every workload
  * reports every name; a layer the workload does not drive reads 0. */
object Layers {

  val PipelineStages = Seq("merge_history", "detect_patterns", "analyze", "predict")
  val ViewNames = Seq("stockData", "stockPredictions", "companyNews", "newsAnalysis",
    "topGainers", "topLosers", "marketBehavior", "highVolatility", "tradingPatterns",
    "companyList")
  val DedupSteps = Seq("tokenize", "exact", "lsh_index", "minhash_pairs", "components",
    "decontaminate", "cosine_pairs", "survivors_export")
  val BatchSteps = Seq("lookup", "index_append", "state_merge", "survivors")

  /** Every per-layer metric name, in report order. */
  val names: Seq[String] =
    PipelineStages.map(s => s"jobs.${s}_s") ++
      PipelineStages.map(s => s"jobs.backfill.${s}_s") ++
      Seq("ml.refits",
        "sources.write_s", "sources.files_written", "sources.bytes_written",
        "sources.fs_write_ops", "sources.fs_read_ops", "sources.history_files_per_partition",
        "operators.pins", "operators.pin_s") ++
      DedupSteps.map(s => s"operators.dedup.${s}_s") ++
      BatchSteps.map(s => s"operators.dedup.batch_${s}_s") ++
      Seq("operators.dedup.pairs", "operators.dedup.planted_recall") ++
      ViewNames.map(v => s"serve.${v}_p50_s") ++
      Seq("serve.build_s", "tables.input_bytes", "tables.input_rows",
        "engine.plan_s", "engine.exec_s", "engine.jobs", "engine.stages", "engine.tasks",
        "engine.deser_s", "engine.task_busy_frac", "engine.task_max_over_median",
        "engine.shuffle_write_bytes", "engine.shuffle_read_bytes", "engine.spill_bytes",
        "jvm.gc_s", "trace.listener_s", "trace.pass_s", "trace.op_p50_s")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Counters are means per operation over the workload's measured
    * operation kinds (JVM-wide ones: the measured window's total over the
    * number of those operations); timings the workloads sample are
    * medians. */
  def fill(trace: Trace, kinds: Set[String], report: Report, cpus: Int): Unit = {
    val ops = trace.opStats.filter(o => kinds.contains(o.kind))
    val n = math.max(1, ops.size).toDouble
    def perOp(f: OpStats => Double): Double = ops.map(f).sum / n
    def med(sample: String): Double = median(report.samples.get(sample).map(_.toSeq).getOrElse(Nil))
    val out = report.layers
    for (name <- names) if (!out.contains(name)) out(name) = 0.0
    // samples the workloads record under the metric's own name
    for (name <- names if report.samples.contains(name)) out(name) = med(name)
    ViewNames.foreach(v => out(s"serve.${v}_p50_s") = med(s"view.${v}_s"))
    out("ml.refits") = report.samples.get("ml.refits").map(_.last).getOrElse(0.0)
    out("sources.write_s") = perOp(_.writeS)
    out("sources.files_written") = trace.measured("files_written") / n
    out("sources.bytes_written") = trace.measured("bytes_written") / n
    out("sources.fs_write_ops") = trace.measured("write_ops") / n
    out("sources.fs_read_ops") = trace.measured("read_ops") / n
    out("operators.pins") = perOp(_.moduleJobs("operators.Checkpoints").toDouble)
    out("operators.pin_s") = perOp(_.moduleS("operators.Checkpoints"))
    out("tables.input_bytes") = perOp(_.inputBytes.toDouble)
    out("tables.input_rows") = perOp(_.inputRows.toDouble)
    out("engine.plan_s") = perOp(_.planS)
    out("engine.exec_s") = perOp(_.jobWallS)
    out("engine.jobs") = perOp(_.jobs.toDouble)
    out("engine.stages") = perOp(_.stages.toDouble)
    out("engine.tasks") = perOp(_.tasks.toDouble)
    out("engine.deser_s") = perOp(_.deserS)
    // busy share of the cores while the measured operations ran (the two
    // dashboard clients overlap, so their wall is the timed loop's)
    val wall = report.extra.get("timed_s").map(_.toString.toDouble).getOrElse(ops.map(_.wallS).sum)
    out("engine.task_busy_frac") = ops.map(_.taskS).sum / math.max(1e-9, wall * cpus)
    out("engine.task_max_over_median") = median(ops.flatMap(_.skew))
    out("engine.shuffle_write_bytes") = perOp(_.shuffleWrite.toDouble)
    out("engine.shuffle_read_bytes") = perOp(_.shuffleRead.toDouble)
    out("engine.spill_bytes") = perOp(_.spill.toDouble)
    out("jvm.gc_s") = trace.measured("gc_s") / n
    out("trace.listener_s") = trace.listenerNs.get / 1e9 / n
    out("trace.pass_s") = med("pass_s")
    out("trace.op_p50_s") = med("op_s")
  }
}
