package perfbench

/** Per-layer metrics of one traced pass, from the phase spans and the
  * counters the benchmark's listeners collected. Names are the ones listed
  * in BENCHMARK.json (`per_layer`) plus the workload-specific layers
  * (family.*, daemon.*, compactor.*) that run.py prints.
  */
object Layers {
  def aggregate(p: Int, wall: Double, cpus: Int, exec: ExecListener, batches: BatchListener,
                groups: Map[String, Span], spans: Spans, ops: Seq[OpRec]): Map[String, Double] = {
    val phases = spans.all.filter(s => s.pass == p && Set("build", "plan", "action")(s.layer))
    def phaseS(layer: String) = phases.filter(_.layer == layer).map(s => (s.end - s.start) / 1e9).sum

    val jobs = exec.jobs.values.toSeq
    // Job spans hang under the phase span whose job group they ran in.
    val jobSpans = jobs.map { j =>
      val parent = groups.get(j.group)
      Span(spans.newId(), parent.map(_.id).getOrElse(0L), "job", s"job ${j.id}", p,
        parent.map(_.op).getOrElse(0L), j.start * 1000000L + spans.epochToNano,
        j.end * 1000000L + spans.epochToNano)
    }
    jobSpans.foreach(spans.add)
    val inJobs = union(jobSpans.map(s => (s.start, s.end)))
    val st = exec.stages.values.toSeq
    def sumL(f: StageAgg => Long) = st.map(f).sum.toDouble
    val busy = sumL(_.runMs) / 1e3
    val buildJobs = jobs.count(j => groups.get(j.group).exists(_.layer == "build"))
    val bulkBytes = st.filter(s => groups.get(s.group).exists(_.name == "bulk")).map(_.outBytes).sum

    val progress = batches.progress.toSeq.map(_.progress).filter(_.numInputRows > 0)
    def dur(k: String) = progress.map(pr => Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    val daemon =
      if (progress.isEmpty) Map.empty[String, Double]
      else Map(
        "daemon.batches" -> progress.size.toDouble,
        "daemon.add_batch_s" -> dur("addBatch"),
        "daemon.offsets_s" -> (dur("latestOffset") + dur("getBatch")),
        "daemon.commit_s" -> (dur("walCommit") + dur("commitOffsets")),
        "daemon.planning_s" -> dur("queryPlanning"),
        "daemon.trigger_overhead_s" -> (dur("triggerExecution") - dur("addBatch")))
    val families = ops.groupBy(_.family).map { case (f, os) => s"family.${f}_s" -> os.map(_.wall).sum }

    Map(
      "operators.build_s" -> phaseS("build"),
      "operators.build_jobs" -> buildJobs.toDouble,
      "plans.plan_s" -> (phaseS("plan") + dur("queryPlanning")),
      "exec.action_s" -> phaseS("action"),
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> st.size.toDouble,
      "exec.stages_skipped" -> jobs.map(exec.skipped).sum.toDouble,
      "exec.tasks" -> sumL(_.tasks),
      "exec.failed_tasks" -> sumL(_.failed),
      "exec.task_busy_s" -> busy,
      "exec.core_util" -> busy / (wall * cpus),
      "exec.outside_jobs_s" -> (wall - inJobs / 1e9),
      "exec.sched_wait_s" -> sumL(_.schedMs) / 1e3,
      "exec.gc_s" -> sumL(_.gcMs) / 1e3,
      "exec.peak_task_mem_mb" -> (if (st.isEmpty) 0.0 else st.map(_.peakMem).max / 1048576.0),
      "shuffle.write_bytes" -> sumL(_.shWrite),
      "shuffle.read_bytes" -> sumL(_.shRead),
      "shuffle.fetch_wait_s" -> sumL(_.fetchWaitMs) / 1e3,
      "shuffle.write_s" -> sumL(_.shWriteNs) / 1e9,
      "spill.disk_bytes" -> sumL(_.spillDisk),
      "spill.mem_bytes" -> sumL(_.spillMem),
      "scan.bytes" -> sumL(_.inBytes),
      "scan.records" -> sumL(_.inRecs),
      "compactor.write_bytes" -> bulkBytes.toDouble,
    ) ++ daemon ++ families
  }

  /** The split of each op of one traced pass, keyed by op name: its phase
    * times, the jobs its phases ran (found through their job groups) and
    * those jobs' task counters. `core_util` is task time over op wall time
    * times cores.
    */
  def perOp(p: Int, cpus: Int, exec: ExecListener, groups: Map[String, Span], spans: Spans,
            ops: Seq[OpRec]): Map[String, Map[String, Double]] = {
    val wall = ops.map(o => o.name -> o.wall).toMap
    val phases = spans.all.filter(s => s.pass == p && Set("build", "plan", "action")(s.layer))
    phases.groupBy(_.op).map { case (op, ph) =>
      val name = ph.head.name
      def phaseS(layer: String) = ph.filter(_.layer == layer).map(s => (s.end - s.start) / 1e9).sum
      def mine(group: String) = groups.get(group).exists(_.op == op)
      val jobs = exec.jobs.values.filter(j => mine(j.group))
      val st = exec.stages.values.filter(s => mine(s.group))
      val busy = st.map(_.runMs).sum / 1e3
      name -> Map(
        "build_s" -> phaseS("build"),
        "plan_s" -> phaseS("plan"),
        "action_s" -> phaseS("action"),
        "build_jobs" -> jobs.count(j => groups.get(j.group).exists(_.layer == "build")).toDouble,
        "jobs" -> jobs.size.toDouble,
        "task_busy_s" -> busy,
        "core_util" -> busy / (wall(name) * cpus),
        "shuffle_bytes" -> st.map(_.shWrite).sum.toDouble,
        "scan_bytes" -> st.map(_.inBytes).sum.toDouble)
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }
}
