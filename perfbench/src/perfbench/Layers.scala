package perfbench

/** Per-layer metrics of one traced pass, and the trace file. */
object Layers {

  def forPass(t: Tracer, pass: Span, wall: Double, cores: Int,
      persistedRdds: Int): Map[String, Double] = t.locked {
    val inPass = t.subtree(pass.id)
    val spans = t.spans.filter(s => inPass(s.id)).toSeq
    def named(n: String) = spans.filter(_.name == n)
    def secs(n: String) = named(n).map(_.seconds).sum
    def jobsUnder(ids: Set[Int]) = t.jobSpan.filter { case (_, s) => ids(s) }.keys.toSeq
    def tasksUnder(ids: Set[Int]): TaskTotals = {
      val acc = new TaskTotals
      t.tasksBySpan.foreach { case (s, tt) => if (ids(s)) acc.add(tt) }
      acc
    }
    val builderIds = named("builder").flatMap(s => t.subtree(s.id)).toSet
    val tasks = tasksUnder(inPass)
    val qes = t.qesIn(pass)
    val mb = 1e6
    val base = Map(
      "queries.builder_s" -> secs("builder"),
      "queries.builder_jobs" -> jobsUnder(builderIds).size.toDouble,
      "catalyst.plan_s" -> secs("plan"),
      "catalyst.analysis_s" -> qes.map(_.analysisMs).sum / 1e3,
      "catalyst.optimizer_s" -> qes.map(_.optimizerMs).sum / 1e3,
      "catalyst.planning_s" -> qes.map(_.planningMs).sum / 1e3,
      "exec.action_s" -> secs("action"),
      "exec.jobs" -> jobsUnder(inPass).size.toDouble,
      "exec.stages" -> t.stagesBySpan.collect { case (s, n) if inPass(s) => n }.sum.toDouble,
      "exec.tasks" -> tasks.tasks.toDouble,
      "exec.task_run_s" -> tasks.runMs / 1e3,
      "exec.task_cpu_s" -> tasks.cpuNs / 1e9,
      "exec.task_queue_s" -> tasks.queueMs / 1e3,
      "exec.gc_s" -> tasks.gcMs / 1e3,
      "exec.core_util" -> (if (wall > 0) tasks.runMs / 1e3 / (wall * cores) else 0.0),
      "exec.shuffle_write_mb" -> tasks.shuffleWrite / mb,
      "exec.shuffle_read_mb" -> tasks.shuffleRead / mb,
      "exec.spill_mb" -> tasks.spill / mb,
      "exec.failed_tasks" -> tasks.failed.toDouble,
      "sources.input_mb" -> tasks.inputBytes / mb,
      "sources.input_rows" -> tasks.inputRows.toDouble,
      "persist.rdds" -> persistedRdds.toDouble,
      "persist.release_s" -> secs("release"))

    val entries = spans.filter(_.name.startsWith("entry:"))
    val perEntry = entries.flatMap { e =>
      val name = e.name.stripPrefix("entry:")
      val ids = t.subtree(e.id)
      val release = spans.filter(s => s.parent == e.id && s.name == "release").map(_.seconds).sum
      Seq(s"entry.${name}_s" -> (e.seconds - release), s"entry.${name}_jobs" -> jobsUnder(ids).size.toDouble)
    }

    val index = entries.find(_.name == "entry:index_build").map { e =>
      val ops = t.qesIn(e).flatMap(_.ops).groupMapReduce(_._1)(_._2)(_ + _)
      def op(k: String) = ops.getOrElse(k, 0.0)
      val action = spans.find(s => s.parent == e.id && s.name == "action")
      val lastJobEnd = action.toSeq.flatMap(a => jobsUnder(t.subtree(a.id))).flatMap(t.jobEndMs.get)
      val ids = t.subtree(e.id)
      Map(
        "sources.read_s" -> spans.filter(s => s.parent == e.id && s.name == "builder").map(_.seconds).sum,
        "index.tokens" -> op("tokens"),
        "index.combine_ratio" -> (if (op("tokens") > 0) op("partial_rows") / op("tokens") else 0.0),
        "index.words" -> op("final_rows"),
        "index.agg_s" -> op("agg_ms") / 1e3,
        "index.exchange_mb" -> op("exchange_bytes") / mb,
        "index.sort_s" -> op("sort_ms") / 1e3,
        "index.write_mb" -> tasksUnder(ids).outputBytes / mb,
        "index.finalize_s" -> (for (a <- action if lastJobEnd.nonEmpty)
          yield math.max(0L, a.endMs - lastJobEnd.max) / 1e3).getOrElse(0.0))
    }.getOrElse(Map.empty)

    base ++ perEntry ++ index
  }

  /** Spans with their parents, tagged jobs and task totals per span. */
  def traceJson(t: Tracer, o: Opts): Map[String, Any] = t.locked {
    Map(
      "workload" -> o.workload, "seed" -> o.seed, "partial" -> t.partial,
      "levels" -> "run > pass > entry > builder | plan | action | release",
      "spans" -> t.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "jobs" -> t.jobSpan.toSeq.sortBy(_._1).map { case (j, s) =>
        Map("job" -> j, "span" -> s, "end_ms" -> t.jobEndMs.get(j)) },
      "tasks_by_span" -> t.tasksBySpan.toSeq.sortBy(_._1).map { case (s, x) =>
        Map("span" -> s, "tasks" -> x.tasks, "failed" -> x.failed, "run_ms" -> x.runMs,
          "cpu_ns" -> x.cpuNs, "gc_ms" -> x.gcMs, "queue_ms" -> x.queueMs,
          "shuffle_write_bytes" -> x.shuffleWrite, "shuffle_read_bytes" -> x.shuffleRead,
          "spill_bytes" -> x.spill, "input_bytes" -> x.inputBytes, "output_bytes" -> x.outputBytes) },
      "stages_by_span" -> t.stagesBySpan.toMap.map { case (k, v) => k.toString -> v },
      "query_executions" -> t.qeRecords.map(r => Map("start_ms" -> r.startMs,
        "analysis_ms" -> r.analysisMs, "optimizer_ms" -> r.optimizerMs,
        "planning_ms" -> r.planningMs, "operators" -> r.ops)))
  }
}
