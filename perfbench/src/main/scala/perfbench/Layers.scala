package perfbench

/** Per-layer numbers of a traced run, each a mean per traced pass
  * unless its name says otherwise. Planning phases reported by the
  * listener are added to the trace as `plan.*` child spans of the span
  * they ran in, so self times exclude them.
  */
object Layers {
  def apply(
      trace: Trace,
      counters: Counters,
      passes: Seq[Map[String, Any]],
      passOps: Map[Int, Seq[Int]],
      epochOffsetNs: Long): Map[String, Double] = {
    val tracedPasses = passes.filter(_("traced") == true).map(_("pass").asInstanceOf[Int])
    val n = math.max(1, tracedPasses.size).toDouble
    val tracedOps = tracedPasses.flatMap(passOps).toSet

    // Planning phases as child spans of the innermost span they ran in.
    val byOp = trace.all.groupBy(_.op)
    counters.phases.foreach { case (op, phase, s, e) =>
      val sNs = s * 1000000L - epochOffsetNs
      val eNs = e * 1000000L - epochOffsetNs
      byOp.getOrElse(op, Nil)
        .filter(sp => sp.start <= sNs + 1000000L && sNs <= sp.end)
        .sortBy(-_.start).headOption
        .foreach(parent => trace.addChild(parent, s"plan.$phase", sNs, eNs))
    }
    val spans = trace.all.filter(s => tracedOps(s.op))
    val self = Trace.selfNs(trace.all)
    def durMs(p: String => Boolean): Double = spans.filter(s => p(s.name)).map(_.durNs).sum / 1e6 / n
    def selfMs(p: String => Boolean): Double =
      spans.filter(s => p(s.name)).map(s => self(s.id)).sum / 1e6 / n

    val c = tracedOps.toSeq.map(counters.forOp).foldLeft(Map.empty[String, Double]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0d) + v) }
    }
    def cnt(k: String): Double = c.getOrElse(k, 0d) / n
    val skews = counters.skews.filter { case (op, _) => tracedOps(op) }.map(_._2)

    val streamCall = durMs(_ == "streaming.call")
    Map(
      "plan.build_ms" -> durMs(Set("build", "streaming.call")),
      "plan.analysis_ms" -> cnt("phase.analysis"),
      "plan.optimize_ms" -> cnt("phase.optimization"),
      "plan.physical_ms" -> cnt("phase.planning"),
      "exec.jobs" -> cnt("exec.jobs"),
      "exec.stages" -> cnt("exec.stages"),
      "exec.tasks" -> cnt("exec.tasks"),
      "exec.sched_delay_ms" -> cnt("exec.sched_delay_ms"),
      "exec.task_cpu_ms" -> cnt("exec.task_cpu_ms"),
      "exec.task_run_ms" -> cnt("exec.task_run_ms"),
      "exec.gc_ms" -> cnt("exec.gc_ms"),
      "shuffle.write_bytes" -> cnt("shuffle.write_bytes"),
      "shuffle.read_bytes" -> cnt("shuffle.read_bytes"),
      "shuffle.spill_bytes" -> cnt("shuffle.spill_bytes"),
      "shuffle.skew_ratio" -> (if (skews.isEmpty) 1d else Main.median(skews.toSeq)),
      "expr.graft_nodes" -> cnt("expr.graft_nodes"),
      "expr.non_codegen_nodes" -> cnt("expr.non_codegen_nodes"),
      "sources.call_ms" -> durMs(_.startsWith("sources.")),
      "sources.input_bytes" -> cnt("sources.input_bytes"),
      "sources.input_records" -> cnt("sources.input_records"),
      "sinks.call_ms" -> durMs(_.startsWith("sinks.")),
      "sinks.compact_ms" -> durMs(_ == "sinks.compact"),
      "sinks.output_bytes" -> cnt("sinks.output_bytes"),
      "sinks.files_written" -> cnt("sinks.files_written"),
      "streaming.batches" -> cnt("streaming.batches"),
      "streaming.add_batch_ms" -> cnt("streaming.add_batch_ms"),
      "streaming.planning_ms" -> cnt("streaming.planning_ms"),
      "streaming.wal_commit_ms" -> cnt("streaming.wal_commit_ms"),
      "streaming.state_rows" -> cnt("streaming.state_rows"),
      "streaming.state_mem_bytes" -> cnt("streaming.state_mem_bytes"),
      "streaming.overhead_ms" -> math.max(0d, streamCall - cnt("streaming.trigger_ms")),
      "self.build_ms" -> selfMs(Set("build", "streaming.call")),
      "self.exec_ms" -> selfMs(_ == "exec"),
      "self.plan_ms" -> selfMs(_.startsWith("plan.")))
  }
}
