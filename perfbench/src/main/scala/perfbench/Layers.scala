package perfbench

/** Per-layer figures of a traced run. Each metric is summed over a pass's
  * steps and reported as the median over passes; layers a workload never
  * calls report 0.
  */
object Layers {
  import Main.{PassRun, StepRun}

  private def sum(p: PassRun)(f: StepCounters => Double): Double =
    sumOf(p.steps)(f)

  private def sumOf(steps: Seq[StepRun])(f: StepCounters => Double): Double =
    steps.flatMap(_.counters).map(f).sum

  private def driverGapMs(s: StepRun): Double =
    s.wallMs - s.counters.map(c => Tracer.unionMs(c.jobIntervals.toSeq, s.startMs, s.endMs))
      .getOrElse(0L)

  def perPass(p: PassRun, wl: Workload, cores: Int): Map[String, Double] = {
    val wallMs = p.steps.map(_.wallMs).sum
    val runMs = sum(p)(_.runMs.toDouble)
    val reports = wl.reportSteps
    def reportMs(metric: String) =
      p.steps.filter(s => reports.get(s.name).contains(metric)).map(_.wallMs).sum
    def extra(k: String) = p.extras.getOrElse(k, 0.0)
    Map(
      "plan.build_ms" -> p.steps.map(_.buildMs).sum,
      "plan.analysis_ms" -> sum(p)(_.analysisMs.toDouble),
      "plan.optimizer_ms" -> sum(p)(_.optimizerMs.toDouble),
      "plan.physical_ms" -> sum(p)(_.physicalMs.toDouble),
      "plan.codegen_ms" -> p.steps.map(_.codegenMs).sum,
      "plan.text_kb" -> sum(p)(_.planChars.toDouble) / 1024,
      "driver.gap_ms" -> p.steps.map(driverGapMs).sum,
      "sched.jobs" -> sum(p)(_.jobs.toDouble),
      "sched.stages" -> sum(p)(_.stages.toDouble),
      "sched.tasks" -> sum(p)(_.tasks.toDouble),
      "exec.cpu_ms" -> sum(p)(_.cpuNs / 1e6),
      "exec.run_ms" -> runMs,
      "exec.gc_ms" -> sum(p)(_.gcMs.toDouble),
      "exec.busy_ratio" -> runMs / math.max(1.0, wallMs * cores),
      "rows.examined_per_output" -> sum(p)(_.recordsRead.toDouble) /
        math.max(1.0, extra("output.rows") + extra("sink.rows")),
      "shuffle.write_bytes" -> sum(p)(_.shuffleWrite.toDouble),
      "shuffle.read_bytes" -> sum(p)(_.shuffleRead.toDouble),
      "shuffle.fetch_wait_ms" -> sum(p)(_.fetchWaitMs.toDouble),
      "spill.bytes" -> sum(p)(_.spillBytes.toDouble),
      "broadcast.count" -> sum(p)(_.broadcasts.toDouble),
      "broadcast.bytes" -> sum(p)(_.broadcastBytes.toDouble),
      "materialize.seams" -> p.steps.map(_.seams.toDouble).sum,
      "materialize.bytes" -> p.steps.map(_.seamBytes.toDouble).sum,
      "sources.requests" -> extra("sources.requests"),
      "sources.retries" -> extra("sources.retries"),
      "sources.bytes_in" -> extra("sources.bytes_in"),
      "sources.serve_ms" -> extra("sources.serve_ms"),
      "sink.write_ms" -> sumOf(p.steps.filter(s => wl.sinkSteps(s.name)))(_.writeNs / 1e6),
      "sink.bytes_out" -> extra("sink.bytes_out"),
      "sink.files" -> extra("sink.files"),
      "report.budget_ms" -> reportMs("report.budget_ms"),
      "report.project_ms" -> reportMs("report.project_ms"))
  }

  def metrics(traced: Seq[PassRun], wl: Workload, cores: Int): Map[String, Double] = {
    val each = traced.map(perPass(_, wl, cores))
    each.head.keys.map(k => k -> Stats.median(each.map(_(k)))).toMap
  }

  /** One pass in the trace file: its spans (steps) and their counters. */
  def passRecord(index: Int, p: PassRun): Map[String, Any] = Map(
    "pass" -> index, "pass_s" -> p.seconds, "heap_mb" -> p.heapMb,
    "counters" -> p.extras,
    "spans" -> p.steps.map { s =>
      Map("step" -> s.name, "wall_ms" -> s.wallMs, "build_ms" -> s.buildMs,
        "codegen_ms" -> s.codegenMs, "seams" -> s.seams, "seam_bytes" -> s.seamBytes,
        "error" -> s.error, "driver_gap_ms" -> (if (s.counters.isDefined) driverGapMs(s) else null),
        "counters" -> s.counters.map(c => Map(
          "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "cpu_ms" -> c.cpuNs / 1e6, "run_ms" -> c.runMs, "gc_ms" -> c.gcMs,
          "records_read" -> c.recordsRead, "shuffle_write" -> c.shuffleWrite,
          "shuffle_read" -> c.shuffleRead, "fetch_wait_ms" -> c.fetchWaitMs,
          "spill" -> c.spillBytes, "analysis_ms" -> c.analysisMs,
          "optimizer_ms" -> c.optimizerMs, "physical_ms" -> c.physicalMs,
          "plan_chars" -> c.planChars, "broadcasts" -> c.broadcasts,
          "broadcast_bytes" -> c.broadcastBytes,
          "write_ms" -> c.writeNs / 1e6)))
    })
}
