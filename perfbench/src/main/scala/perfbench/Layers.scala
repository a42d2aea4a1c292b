package perfbench

/** Turns a traced run's spans and Spark events into per-layer metrics.
  *
  * Spark work is attributed to the benchmark operation whose span encloses
  * its start time (one client thread, so operation spans never overlap):
  * jobs by start, stages by submission, tasks by launch, planning records by
  * the start of their first phase. Pass-level values are summed over the
  * pass's operations and then reported as the median over traced passes.
  */
object Layers {

  /** Per-layer metric names and units, in report order. */
  val metrics: Seq[(String, String)] = Seq(
    "SparkEntry.build_s" -> "s", "SparkEntry.build_jobs" -> "count",
    "sink.s" -> "s", "sink.jobs" -> "count",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.tasks_per_stage" -> "count",
    "scheduler.job_busy_s" -> "s", "scheduler.driver_gap_s" -> "s",
    "scheduler.driver_gap_frac" -> "fraction", "scheduler.task_failures" -> "count",
    "executor.run_s" -> "s", "executor.cpu_s" -> "s", "executor.gc_s" -> "s",
    "executor.busy_frac" -> "fraction", "executor.scheduler_delay_s" -> "s",
    "executor.input_bytes" -> "bytes", "executor.shuffle_read_bytes" -> "bytes",
    "executor.shuffle_write_bytes" -> "bytes", "executor.spill_bytes" -> "bytes",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.query_executions" -> "count",
    "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms") ++
    Tracer.sites.flatMap(m => Seq(s"site.$m.jobs" -> "count", s"site.$m.executor_run_s" -> "s")) ++
    Seq(
      "sync.apply_jobs" -> "count", "sync.noop_jobs" -> "count",
      "sync.apply_shuffle_bytes" -> "bytes", "sync.noop_shuffle_bytes" -> "bytes",
      "meta.commits" -> "count", "meta.commit_bytes" -> "bytes",
      "meta.commit_files" -> "count", "meta.read_ms" -> "ms",
      "caching.persisted_rdds_max" -> "count", "caching.storage_mb_max" -> "MB",
      "ann_recall.pq" -> "fraction", "ann_recall.ivfpq" -> "fraction",
      "trace.overhead_s" -> "s")

  final case class Events(jobs: Seq[JobRec], tasks: Seq[TaskRec],
                          stages: Seq[(Int, Long)], plans: Seq[PlanRec])

  private def within(t: Long, s: Span) = t >= s.start && t <= s.end

  /** Additive per-operation counters. */
  def opCounters(op: Span, ev: Events): Map[String, Double] = {
    val jobs = ev.jobs.filter(j => within(j.start, op))
    val tasks = ev.tasks.filter(t => within(t.launch, op))
    val plans = ev.plans.filter(p => within(p.start, op))
    def childJobs(kind: String) =
      op.children.filter(_.kind == kind).map(c => ev.jobs.count(j => within(j.start, c))).sum
    def childSeconds(kind: String) = op.children.filter(_.kind == kind).map(_.seconds).sum
    val busyMs = Stats.unionLength(jobs.map(j => (math.max(j.start, op.start), math.min(j.end, op.end))))
    val stageSite = ev.jobs.sortBy(_.id).flatMap(j => j.stageIds.map(_ -> j.site)).toMap
    val sums = Map(
      "SparkEntry.build_s" -> childSeconds("build"),
      "SparkEntry.build_jobs" -> childJobs("build").toDouble,
      "sink.s" -> childSeconds("sink"),
      "sink.jobs" -> childJobs("sink").toDouble,
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> ev.stages.count(s => within(s._2, op)).toDouble,
      "scheduler.tasks" -> tasks.size.toDouble,
      "scheduler.job_busy_s" -> busyMs / 1000.0,
      "scheduler.driver_gap_s" -> (op.end - op.start - busyMs) / 1000.0,
      "scheduler.task_failures" -> tasks.count(_.failed).toDouble,
      "executor.run_s" -> tasks.map(_.runMs).sum / 1000.0,
      "executor.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "executor.gc_s" -> tasks.map(_.gcMs).sum / 1000.0,
      "executor.scheduler_delay_s" -> tasks.map(_.delayMs).sum / 1000.0,
      "executor.input_bytes" -> tasks.map(_.inputBytes).sum.toDouble,
      "executor.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "executor.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "executor.spill_bytes" -> tasks.map(_.spillBytes).sum.toDouble,
      "catalyst.analysis_ms" -> plans.map(_.analysisMs).sum,
      "catalyst.optimization_ms" -> plans.map(_.optimizationMs).sum,
      "catalyst.planning_ms" -> plans.map(_.planningMs).sum,
      "catalyst.query_executions" -> plans.size.toDouble,
      "codegen.compiles" -> op.stats.getOrElse("codegen.compiles", 0.0),
      "codegen.compile_ms" -> op.stats.getOrElse("codegen.compile_ms", 0.0),
      "op_s" -> op.seconds)
    val sites = Tracer.sites.flatMap { m =>
      Seq(s"site.$m.jobs" -> jobs.count(_.site == m).toDouble,
        s"site.$m.executor_run_s" ->
          tasks.filter(t => stageSite.get(t.stageId).contains(m)).map(_.runMs).sum / 1000.0)
    }
    sums ++ sites
  }

  /** Per-layer metrics of a traced run. `passes` holds each traced pass's
    * operation spans; `extra` carries values the workload measured itself
    * (catalog commits) and the tracing overhead. */
  def summarize(passes: Seq[Seq[Span]], ev: Events, cores: Int,
                extra: Map[String, Double]): Map[String, Double] = {
    val perPass = passes.map { ops =>
      val counters = ops.map(opCounters(_, ev))
      val sum = counters.flatMap(_.keys).distinct.map(k => k -> counters.map(_.getOrElse(k, 0.0)).sum).toMap
      val wall = sum("op_s")
      sum ++ Map(
        "scheduler.tasks_per_stage" -> sum("scheduler.tasks") / math.max(1.0, sum("scheduler.stages")),
        "scheduler.driver_gap_frac" -> (if (wall > 0) sum("scheduler.driver_gap_s") / wall else 0.0),
        "executor.busy_frac" -> {
          val busy = sum("scheduler.job_busy_s") * cores
          if (busy > 0) sum("executor.run_s") / busy else 0.0
        })
    }
    val ops = passes.flatten
    def kindMedian(kind: String, key: String): Double = {
      val xs = ops.filter(_.kind == kind).map(o => opCounters(o, ev)(key))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def maxStat(key: String) = (0.0 +: ops.map(_.stats.getOrElse(key, 0.0))).max
    val medians = Layers.metrics.map(_._1).flatMap { k =>
      val xs = perPass.flatMap(_.get(k))
      if (xs.isEmpty) None else Some(k -> Stats.median(xs))
    }.toMap
    val base = Layers.metrics.map(_._1).map(_ -> 0.0).toMap
    base ++ medians ++ Map(
      "sync.apply_jobs" -> kindMedian("apply", "scheduler.jobs"),
      "sync.noop_jobs" -> kindMedian("noop", "scheduler.jobs"),
      "sync.apply_shuffle_bytes" -> kindMedian("apply", "executor.shuffle_write_bytes"),
      "sync.noop_shuffle_bytes" -> kindMedian("noop", "executor.shuffle_write_bytes"),
      "caching.persisted_rdds_max" -> maxStat("caching.persisted_rdds"),
      "caching.storage_mb_max" -> maxStat("caching.storage_mb")) ++ extra
  }
}
