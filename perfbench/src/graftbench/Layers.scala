package graftbench

/** Per-layer metrics of a traced run, derived from the recorded spans,
  * the job-group listener and the per-pass JVM counters. Values are per
  * traced pass (the cold pass and every second warm pass) unless the
  * name says otherwise.
  */
object Layers {

  private def split(group: String): (String, String, String) = {
    val bar = group.indexOf('|')
    val colon = group.indexOf(':', bar + 1)
    if (bar < 0 || colon < 0) ("", "", group)
    else (group.take(bar), group.slice(bar + 1, colon), group.drop(colon + 1))
  }

  def derive(h: Harness, body: Map[String, Any]): Map[String, Double] = {
    if (!h.c.trace) return Map.empty
    val traced = h.passes.filter(_.traced)
    val phases = traced.map(_.phase).toSet
    val n = math.max(traced.size, 1).toDouble
    val groups = h.listener.groups.toSeq.map { case (g, a) => (split(g), a) }
      .filter { case ((ph, _, _), _) => phases(ph) }
    val aggs = groups.map(_._2)
    def sum(f: GroupAgg => Long): Double = aggs.map(f).sum.toDouble
    val taskRunS = sum(_.runMs) / 1000.0 / n
    val passWall = traced.map(_.wallS).sum / n
    // warm0 still overlaps JIT compilation, so it is left out of the A/B
    val warm = h.passes.filter(p => p.phase.startsWith("warm") && p.phase != "warm0")
    // TxTable blocks run different DMLs, so there the A/B compares only the
    // kinds every block repeats alike: appends and lookups, per block
    def txBlock(traced: Boolean): Double = {
      val ph = warm.filter(_.traced == traced).map(_.phase).toSet
      Seq("append", "lookup").map { k =>
        val os = h.ops.filter(o => ph(o.phase) && o.kind == k).map(_.ms).toSeq
        Stats.median(os) * os.size / ph.size
      }.sum / 1000.0
    }
    val overhead =
      if (!(warm.exists(_.traced) && warm.exists(!_.traced))) 0.0
      else if (body.contains("digests"))
        Stats.median(warm.filter(_.traced).map(_.wallS).toSeq) -
          Stats.median(warm.filterNot(_.traced).map(_.wallS).toSeq)
      else txBlock(traced = true) - txBlock(traced = false)
    val setups = h.setups.toSeq
    val familyCpu = Main.families.map { f =>
      s"family.$f.task_cpu_s" -> groups.collect {
        case ((_, _, op), a) if Main.family.get(op).contains(f) => a.cpuNs
      }.sum / 1e9 / n
    }
    Map(
      "core.session_s" -> Stats.median(setups.map(_._2)),
      "core.table_load_s" -> Stats.median(setups.map(_._3)),
      "queries.build_s" -> h.rec.seconds("queries.build", phases) / n,
      "queries.build_jobs" -> groups.collect { case ((_, "build", _), a) => a.jobs }.sum / n,
      "plan.analysis_s" -> sum(_.analysisMs) / 1000.0 / n,
      "plan.optimizer_s" -> sum(_.optimizerMs) / 1000.0 / n,
      "plan.physical_s" -> sum(_.physicalMs) / 1000.0 / n,
      "plan.codegen_compile_s" -> traced.map(_.codegenS).sum / n,
      "plan.codegen_compiles" -> traced.map(_.codegenCompiles).sum / n,
      "plan.graft_exec_nodes" -> sum(_.graftNodes) / n,
      "exec.action_s" -> h.rec.seconds("exec.action", phases) / n,
      "exec.jobs" -> sum(_.jobs) / n,
      "exec.stages" -> sum(_.stages) / n,
      "exec.tasks" -> sum(_.tasks) / n,
      "exec.task_run_s" -> taskRunS,
      "exec.task_cpu_s" -> sum(_.cpuNs) / 1e9 / n,
      "exec.gc_s" -> sum(_.gcMs) / 1000.0 / n,
      "exec.deser_s" -> sum(_.deserMs) / 1000.0 / n,
      "exec.sched_delay_s" -> sum(_.schedMs) / 1000.0 / n,
      "exec.input_bytes" -> sum(_.inputBytes) / n,
      "exec.input_rows" -> sum(_.inputRows) / n,
      "exec.output_rows" -> sum(_.outputRows) / n,
      "exec.shuffle_write_bytes" -> sum(_.shuffleWrite) / n,
      "exec.shuffle_read_bytes" -> sum(_.shuffleRead) / n,
      "exec.shuffle_fetch_wait_s" -> sum(_.fetchWaitMs) / 1000.0 / n,
      "exec.spill_bytes" -> sum(_.spill) / n,
      "exec.peak_exec_mem_bytes" -> aggs.map(_.peakMem).foldLeft(0L)(math.max).toDouble,
      "exec.failed_tasks" -> sum(_.failedTasks),
      "exec.skew_max" -> aggs.map(_.skewMax).foldLeft(0.0)(math.max),
      "exec.single_task_stage_s" -> sum(_.singleTaskStageMs) / 1000.0 / n,
      "exec.core_util" -> (if (passWall > 0) taskRunS / (passWall * h.c.cpus) else 0.0),
      "jvm.gc_s" -> traced.map(_.gcS).sum / n,
      "jvm.heap_peak_bytes" -> traced.map(_.heapPeak).foldLeft(0L)(math.max).toDouble,
      "trace.pass_wall_s" -> passWall,
      "trace.overhead_s" -> overhead) ++ familyCpu ++
      body.get("tx_layers").map(_.asInstanceOf[Map[String, Double]]).getOrElse(TxWorkload.zeroLayers)
  }

  def traceDump(h: Harness): Map[String, Any] = Map(
    "spans" -> h.rec.spans.map(s => Seq(s.id, s.name, s.start, s.end, s.parent,
      s.phase, s.query)).toSeq,
    "span_columns" -> Seq("id", "name", "start_ns", "end_ns", "parent", "phase", "query"),
    "groups" -> h.listener.groups.map { case (g, a) => g -> Map(
      "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
      "failed_tasks" -> a.failedTasks, "task_run_ms" -> a.runMs,
      "task_cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs, "deser_ms" -> a.deserMs,
      "sched_delay_ms" -> a.schedMs, "fetch_wait_ms" -> a.fetchWaitMs,
      "input_bytes" -> a.inputBytes, "input_rows" -> a.inputRows,
      "output_rows" -> a.outputRows, "shuffle_write_bytes" -> a.shuffleWrite,
      "shuffle_read_bytes" -> a.shuffleRead, "spill_bytes" -> a.spill,
      "peak_exec_mem_bytes" -> a.peakMem, "skew_max" -> a.skewMax,
      "single_task_stage_ms" -> a.singleTaskStageMs, "analysis_ms" -> a.analysisMs,
      "optimizer_ms" -> a.optimizerMs, "physical_ms" -> a.physicalMs,
      "graft_exec_nodes" -> a.graftNodes)
    })
}
