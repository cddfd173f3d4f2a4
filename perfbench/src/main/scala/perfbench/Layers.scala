package perfbench

/** Per-layer figures of a traced run, one name per layer metric.
  *
  * Totals and counts describe the FIRST measured pass, so two runs with
  * the same seed see the same ops and the load-independent counts
  * (jobs, stages, tasks, jobs per commit/refresh/drain) can repeat
  * exactly. Per-call latencies are medians over every measured call.
  * Storage figures describe the tables at the end of the run. A layer a
  * workload never enters reports 0.
  */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "sources.open_s" -> "s", "sources.input_mb" -> "MB", "sources.input_rows" -> "count",
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "plans.plan_s" -> "s", "plans.exchanges" -> "count", "plans.smj" -> "count",
    "plans.bhj" -> "count",
    "exec.run_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_s" -> "s", "exec.busy_ratio" -> "ratio",
    "exec.driver_gap_s" -> "s", "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB", "exec.gc_s" -> "s",
    "exec.failed_tasks" -> "count",
    "snapshot.append_s" -> "s", "snapshot.delete_s" -> "s", "snapshot.update_s" -> "s",
    "snapshot.merge_s" -> "s", "snapshot.sql_dml_s" -> "s", "snapshot.compact_s" -> "s",
    "snapshot.jobs_per_commit" -> "count", "snapshot.files_per_commit" -> "count",
    "snapshot.bytes_written_mb" -> "MB",
    "matview.refresh_s" -> "s", "matview.jobs_per_refresh" -> "count",
    "matview.incremental_ratio" -> "ratio", "matview.state_files" -> "count",
    "route.read_s" -> "s", "route.hit_ratio" -> "ratio",
    "feed.drain_s" -> "s", "feed.jobs_per_drain" -> "count",
    "storage.bytes_on_disk_mb" -> "MB", "storage.manifest_kb" -> "KB",
    "storage.write_amp" -> "ratio", "storage.space_amp" -> "ratio",
    "self.pass_s" -> "s", "self.fixture_s" -> "s", "self.op_s" -> "s",
    "self.queries_s" -> "s", "self.plans_s" -> "s", "self.exec_s" -> "s",
    "self.snapshot_s" -> "s", "self.matview_s" -> "s", "self.route_s" -> "s",
    "self.feed_s" -> "s",
    "trace.pass_s" -> "s")

  /** Snapshot calls by span name, as reported under `snapshot.<name>_s`. */
  val SnapshotCalls = Seq("append", "delete", "update", "merge", "sql_dml", "compact")

  def metrics(tracer: Tracer, wl: Workload, passSeconds: Seq[Double],
              firstPassPlans: PlanCounts, cpus: Int): Seq[(String, Double, String)] = {
    val spans = tracer.allSpans()
    val counters = tracer.counters.get
    val kids = spans.groupBy(_.parent)
    def desc(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil).flatMap(c => c +: desc(c))
    def isJob(s: Span) = s.id < 0
    val first = spans.filter(_.layer == "pass").minBy(_.startUs)
    val inPass = desc(first)
    val calls = first +: inPass.filterNot(isJob)
    val agg = new counters.Agg
    calls.foreach(s => agg += counters.agg(s.id))
    def jobsUnder(s: Span): Seq[Span] = desc(s).filter(isJob)
    def unionS(js: Seq[Span]): Double = Tracer.union(js.map(j => (j.startUs, j.endUs))) / 1e6
    def named(layer: String, name: String, all: Boolean = false): Seq[Span] =
      (if (all) spans else inPass).filter(s => s.layer == layer && s.name == name)
    def medianS(layer: String, name: String): Double =
      Util.median(named(layer, name, all = true).map(_.seconds))
    def jobsPer(layer: String, names: Seq[String]): Double = {
      val ss = inPass.filter(s => s.layer == layer && names.contains(s.name))
      if (ss.isEmpty) 0.0 else ss.map(jobsUnder(_).size).sum.toDouble / ss.size
    }
    val passJobs = inPass.filter(isJob)
    val taskS = agg.runMs / 1000.0
    val mb = 1048576.0
    val self = Tracer.selfTimes(first +: inPass)
    val own = wl.layerMetrics()
    val values: Map[String, Double] = Map(
      "sources.open_s" -> wl.sourcesOpenS,
      "sources.input_mb" -> agg.inputBytes / mb,
      "sources.input_rows" -> agg.inputRows.toDouble,
      "queries.build_s" -> named("queries", "build").map(_.seconds).sum,
      "queries.build_jobs" -> named("queries", "build").map(jobsUnder(_).size).sum.toDouble,
      "plans.plan_s" -> named("plans", "plan").map(_.seconds).sum,
      "plans.exchanges" -> firstPassPlans.exchanges.toDouble,
      "plans.smj" -> firstPassPlans.smj.toDouble,
      "plans.bhj" -> firstPassPlans.bhj.toDouble,
      "exec.run_s" -> unionS(passJobs),
      "exec.jobs" -> passJobs.size.toDouble,
      "exec.stages" -> agg.stages.toDouble,
      "exec.tasks" -> agg.tasks.toDouble,
      "exec.task_s" -> taskS,
      "exec.busy_ratio" -> taskS / (first.seconds * cpus),
      "exec.driver_gap_s" -> inPass.filter(_.layer == "op")
        .map(op => op.seconds - unionS(jobsUnder(op))).sum,
      "exec.shuffle_write_mb" -> agg.shuffleWrite / mb,
      "exec.shuffle_read_mb" -> agg.shuffleRead / mb,
      "exec.spill_mb" -> agg.spill / mb,
      "exec.gc_s" -> agg.gcMs / 1000.0,
      "exec.failed_tasks" -> agg.failedTasks.toDouble,
      "snapshot.jobs_per_commit" -> jobsPer("snapshot", SnapshotCalls),
      "matview.refresh_s" -> medianS("matview", "refresh"),
      "matview.jobs_per_refresh" -> jobsPer("matview", Seq("refresh")),
      "route.read_s" -> medianS("route", "read"),
      "feed.drain_s" -> medianS("feed", "drain"),
      "feed.jobs_per_drain" -> jobsPer("feed", Seq("drain")),
      "trace.pass_s" -> Util.median(passSeconds)) ++
      SnapshotCalls.map(c => s"snapshot.${c}_s" -> medianS("snapshot", c)) ++
      Names.collect { case (n, _) if n.startsWith("self.") =>
        n -> self.getOrElse(n.stripPrefix("self.").stripSuffix("_s"), 0.0) } ++
      own
    Names.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }
}
