package perfbench

/** Per-layer figures of the traced passes: each is a per-pass total, and
  * the reported value is the median over traced passes. Layers that a
  * workload does not exercise read 0. */
object Layers {
  private val MB = 1e6

  /** Total length of the union of intervals. */
  private def covered(iv: collection.Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, end), (s, e)) =>
      if (e <= end) (sum, end)
      else (sum + e - math.max(s, end), e)
    }._1

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def apply(ctx: Ctx, extras: Seq[Map[String, Double]]): Map[String, Double] = {
    val probe = ctx.probe
    val spans = ctx.tracer.spans
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Span = if (s.parent == 0) s else root(byId(s.parent))
    def inSpan(j: JobRec, prefix: String): Boolean = {
      var s = byId.get(j.span)
      var hit = false
      while (s.isDefined && !hit) {
        hit = s.get.name.startsWith(prefix)
        s = byId.get(s.get.parent)
      }
      hit
    }
    val passes = ctx.ops.filter(_.traced).groupBy(_.pass).toSeq.sortBy(_._1)
    val perPass: Seq[Map[String, Double]] = passes.map { case (p, recs) =>
      val ids = recs.map(_.id).toSet
      val ps = spans.filter(s => ids(s.op))
      val jobs = probe.jobs.filter(j => byId.get(j.span).exists(s => ids(s.op)))
      val stages = jobs.flatMap(_.stageIds).distinct.flatMap(probe.stages.get)
      val jobsByOp = jobs.groupBy(j => byId(j.span).op)
      def jobSeconds(js: Iterable[JobRec]) = js.map(j => (j.endMs - j.startMs) / 1e3).sum
      def spanSeconds(name: String) = ps.filter(_.name == name).map(_.seconds).sum
      def stageSum(f: StageRec => Long) = stages.map(f).sum.toDouble
      val busyMs = recs.map { r =>
        val st = jobsByOp.getOrElse(r.id, Nil).flatMap(_.stageIds).distinct
          .flatMap(probe.stages.get)
        covered(st.map(s => (math.max(s.startMs, r.startMs), math.min(s.endMs, r.endMs)))
          .filter(x => x._2 > x._1))
      }.sum.toDouble
      val wall = recs.map(_.seconds).sum
      val tableJobs = jobs.filter(_.details.contains("graft.core.Tables$.t("))
      val historyJobs = jobs.filter(_.details.contains("graft.tuner.MetricsStore.history("))
      val recordJobs = jobs.filter(_.details.contains("graft.tuner.MetricsStore.persistRows("))
      val tunerSelf = ctx.tracer.selfSeconds(ids).getOrElse("tuner.tuneAndRunTracked", 0.0)
      val ex = extras(p)
      Map(
        "core.table_load_s" -> jobSeconds(tableJobs),
        "core.table_load_jobs" -> tableJobs.size.toDouble,
        "queries.construct_s" -> spanSeconds("queries.construct"),
        "queries.construct_jobs" -> jobs.count(inSpan(_, "queries.construct")).toDouble,
        "spark.plan_ms" -> probe.qes.filter(q => ids(q.op)).map(_.planMs).sum.toDouble,
        "spark.jobs" -> jobs.size.toDouble,
        "spark.stages" -> stages.size.toDouble,
        "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
        "spark.driver_gap_s" -> (wall - busyMs / 1e3),
        "spark.stage_busy_s" -> busyMs / 1e3,
        "spark.executor_cpu_s" -> stageSum(_.cpuNs) / 1e9,
        "spark.input_mb" -> stageSum(_.inBytes) / MB,
        "spark.shuffle_write_mb" -> stageSum(_.shWrite) / MB,
        "spark.shuffle_read_mb" -> stageSum(_.shRead) / MB,
        "spark.fetch_wait_s" -> stageSum(_.fetchWaitMs) / 1e3,
        "spark.spill_mb" -> stageSum(_.spillBytes) / MB,
        "spark.gc_s" -> stageSum(_.gcMs) / 1e3,
        "spark.failed_tasks" -> stages.map(_.failedTasks).sum.toDouble,
        "spark.output_mb" -> stageSum(_.outBytes) / MB,
        "dedup.build_s" -> spanSeconds("dedup.build"),
        "dedup.append_s" -> spanSeconds("dedup.append"),
        "dedup.pairs_s" -> spanSeconds("dedup.pairs"),
        "dedup.jobs" -> jobs.count(j => root(byId(j.span)).name.startsWith("dedup.")).toDouble,
        "dedup.index_mb" -> ex.getOrElse("dedup.index_mb", 0.0),
        "dedup.pairs_out" -> ex.getOrElse("dedup.pairs_out", 0.0),
        "similarity.fit_s" -> spanSeconds("similarity.fit"),
        "similarity.append_s" -> spanSeconds("similarity.append"),
        "similarity.search_s" -> spanSeconds("similarity.search"),
        "similarity.jobs" ->
          jobs.count(j => root(byId(j.span)).name.startsWith("similarity.")).toDouble,
        "similarity.index_mb" -> ex.getOrElse("similarity.index_mb", 0.0),
        "tuner.history_read_s" -> jobSeconds(historyJobs),
        "tuner.record_s" -> jobSeconds(recordJobs),
        "tuner.recommend_s" ->
          (if (tunerSelf > 0) tunerSelf - jobSeconds(historyJobs) - jobSeconds(recordJobs)
           else 0.0),
        "tuner.history_runs" -> ex.getOrElse("tuner.history_runs", 0.0),
        "tuner.store_mb" -> ex.getOrElse("tuner.store_mb", 0.0),
        "tuner.partitions" -> ex.getOrElse("tuner.partitions", 0.0),
        "apps.wordcount_s" -> spanSeconds("apps.wordcount"),
        "apps.body_s" -> spanSeconds("apps.body"))
    }
    perPass.flatMap(_.keys).distinct.map(k => k -> median(perPass.map(_(k)))).toMap
  }
}
