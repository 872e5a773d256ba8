package perfbench

/** Per-layer metrics from the traced phase of a run. Counts and times are
  * per unit of work (chunk or day); a metric a workload does not
  * exercise reads 0.
  */
object Layers {
  val Verbs = Seq("knn_index_append", "knn_index_delete", "knn_index_compact",
    "knn_search", "shingle_screen", "shingle_index_append",
    "shingle_index_retract", "shingle_index_compact", "snapshot_drift")
  val LayerNames = Seq("config", "sources", "pipeline", "sinks", "streaming", "operators")

  def report(t: Tracer): Map[String, Metric] = {
    val units = math.max(1, t.samples.get("unit").size).toDouble
    val spans = t.spanList
    val harnessJobs = t.jobs.values().toArray.toSeq.map(_.asInstanceOf[JobRec])
      .filter(j => j.span != 0 || j.queryId.nonEmpty)
    val acc = t.tasksOf(harnessJobs)
    def per(x: Double) = x / units
    def ms(name: String) = t.samples.get(name)

    val unitSpans = spans.groupBy(_.unit).filter(_._1.nonEmpty)
    val gaps = unitSpans.toSeq.map { case (u, ss) =>
      val from = ss.map(_.startMs).min
      val to = ss.map(_.endMs).max
      t.uncoveredMs(harnessJobs.filter(j => j.unit == u || j.queryId.nonEmpty), from, to)
    }
    def jobsIn(layer: String) = spans.filter(_.layer == layer).flatMap(t.jobsUnder).distinct

    val spark = Map(
      "spark.jobs" -> Metric(per(harnessJobs.size), "count"),
      "spark.stages" -> Metric(per(t.stagesOf(harnessJobs)), "count"),
      "spark.tasks" -> Metric(per(acc.tasks), "count"),
      "spark.task_ms" -> Metric(per(acc.taskMs), "ms"),
      "spark.gc_ms" -> Metric(per(acc.gcMs), "ms"),
      "spark.scheduler_delay_ms" -> Metric(per(acc.schedMs), "ms"),
      "spark.shuffle_write_bytes" -> Metric(per(acc.shuffleW), "bytes"),
      "spark.shuffle_read_bytes" -> Metric(per(acc.shuffleR), "bytes"),
      "spark.spill_bytes" -> Metric(per(acc.spill), "bytes"),
      "spark.input_bytes" -> Metric(per(acc.input), "bytes"),
      "spark.failed_tasks" -> Metric(per(acc.failedTasks), "count"),
      "spark.stage_skew_p90" -> Metric(Stats.pct(t.stageSkews(harnessJobs), 90), "ratio"),
      "spark.empty_task_frac" -> Metric(
        if (acc.tasks > 0) acc.emptyTasks.toDouble / acc.tasks else 0.0, "frac"),
      "spark.driver_gap_ms" -> Metric(per(gaps.sum), "ms"))

    val self = t.selfMsByLayer
    val layers = LayerNames.map(l => s"layer.$l.self_ms" -> Metric(per(self.getOrElse(l, 0.0)), "ms"))

    val plansMs = t.planMs.toArray.toSeq.map(_.asInstanceOf[Double]).sum
    val sinkJobs = jobsIn("sinks")
    val calls = Map(
      "config.bind_ms" -> Metric(per(ms("config").sum), "ms"),
      "sources.resolve_ms" -> Metric(per(ms("sources").sum), "ms"),
      "pipeline.build_ms" -> Metric(per(ms("pipeline").sum), "ms"),
      "pipeline.build_jobs" -> Metric(per(jobsIn("pipeline").size), "count"),
      "pipeline.plan_ms" -> Metric(per(plansMs), "ms"),
      "sinks.write_ms" -> Metric(per(ms("sinks").sum), "ms"),
      "sinks.jobs" -> Metric(per(sinkJobs.size), "count"),
      "sinks.output_files" -> Metric(per(ms("sinks.output_files").sum), "count"),
      "sinks.output_bytes" -> Metric(per(ms("sinks.output_bytes").sum), "bytes"))

    val verbs = Verbs.flatMap { v =>
      val vs = spans.filter(s => s.layer == "operators" && s.name == v)
      Seq(s"operators.$v.jobs" -> Metric(
          if (vs.isEmpty) 0.0 else vs.flatMap(t.jobsUnder).distinct.size.toDouble / vs.size, "count"),
        s"operators.$v.ms_p50" -> Metric(Stats.median(vs.map(_.durMs)), "ms"))
    }
    (spark ++ layers ++ calls ++ verbs).toMap
  }
}
