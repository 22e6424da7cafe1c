package perfbench

import scala.jdk.CollectionConverters._

/** Turns what the listeners saw during the traced passes into per-layer
  * metrics, each named after the module whose call issued the work, and
  * adds the Spark job, stage and micro-batch spans under the benchmark's
  * own spans.
  *
  * Attribution: a job belongs to the span whose id its job group carries
  * (the benchmark sets the group around each call it makes); streaming
  * jobs, which run on the query's own thread, and query executions belong
  * to the innermost benchmark span that contains their start time.
  */
object Layers {
  private def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def compute(t: SparkTrace, progress: StreamProgress, spans: Spans,
      passes: Seq[Main.Pass], cores: Int): Map[String, Double] = {
    val passIds = passes.map(_.spanId)
    val all = spans.all
    val inPass = all.filter(s => passIds.contains(s.parent))
    val ingest = inPass.filter(_.name == "ingest")
    val catchups = inPass.filter(_.name == "scheduler.catchup")
    val hours = all.filter(s => s.name == "hour" && catchups.exists(_.id == s.parent))
    val relaunches = inPass.filter(_.name == "relaunch")
    val owners = ingest ++ hours ++ relaunches
    def owning(ms: Double) = owners.find(s => s.start <= ms && ms <= s.end)

    val jobs = t.jobs.values.asScala.toSeq.filter(_.group != "perfbench.drain").sortBy(_.id)
    val jobOwner: Map[Int, Int] = jobs.flatMap { j =>
      val byGroup = j.group.stripPrefix("perfbench.span.")
      if (j.group.startsWith("perfbench.span.")) Some(j.id -> byGroup.toInt)
      else owning(j.start).map(s => j.id -> s.id)
    }.toMap
    val stages = t.stages.values.asScala.toSeq
    val tasks = t.tasks.asScala.toSeq
    val plans = t.plans.asScala.toSeq
    val reports = progress.reports.asScala.toSeq.sortBy(_.timestampMs)

    // spans for the trace file: job -> stage under their owners
    val jobSpan = jobs.flatMap { j =>
      jobOwner.get(j.id).map(o => j.id -> spans.add(o, "spark.job", j.start, j.end,
        Map("job_id" -> j.id.toDouble)))
    }.toMap
    stages.foreach { s =>
      jobs.find(_.stageIds.contains(s.id)).flatMap(j => jobSpan.get(j.id)).foreach { js =>
        spans.add(js, "spark.stage", s.submit, s.done,
          Map("stage_id" -> s.id.toDouble, "tasks" -> s.tasks.toDouble))
      }
    }

    def jobsOf(spanId: Int) = jobs.filter(j => jobOwner.get(j.id).contains(spanId))
    def stagesOf(spanId: Int) = {
      val ids = jobsOf(spanId).flatMap(_.stageIds).toSet
      stages.filter(s => ids.contains(s.id))
    }
    def plansIn(s: Span) = plans.filter(p => s.start <= p.startMs && p.startMs <= s.end)
    def jobSelfS(s: Span) = spans.selfMs(s, jobsOf(s.id).map(j =>
      Span(0, s.id, "job", j.start, j.end))) / 1000

    // ---- jobs/Ingest ----
    val ing = ingest.map { s =>
      val w = plansIn(s).filter(_.metrics.contains("write.rows"))
      Map(
        "ingest.wall_s" -> s.dur / 1000,
        "ingest.self_s" -> jobSelfS(s),
        "ingest.jobs" -> jobsOf(s.id).size.toDouble,
        "ingest.shuffle_bytes" -> stagesOf(s.id).map(_.shuffleWriteBytes.toDouble).sum,
        "ingest.files_written" -> w.map(_.metrics("write.files")).sum,
        "ingest.rows" -> w.map(_.metrics("write.rows")).sum)
    }

    // ---- jobs/Scheduler ----
    val sched = passes.flatMap { p =>
      catchups.filter(_.parent == p.spanId).map { c =>
        Map(
          "scheduler.self_s" -> (c.dur - hours.filter(_.parent == c.id).map(_.dur).sum) / 1000,
          "scheduler.attempts" -> p.attempts.toDouble,
          "scheduler.retries" -> (p.attempts - p.committed).toDouble,
          "scheduler.hours_committed" -> p.committed.toDouble)
      }
    }

    // ---- jobs/SessionizeHour and ops/Sessionize, per hour ----
    val perHour = hours.map { h =>
      val ps = plansIn(h)
      val write = ps.find(_.metrics.contains("write.rows"))
      val m = write.map(_.metrics).getOrElse(Map.empty[String, Double]).withDefaultValue(0.0)
      val st = stagesOf(h.id)
      val hourTasks = tasks.filter(tk => st.exists(_.id == tk.stageId))
      // Stages are told apart by the operator metrics their tasks update:
      // window tasks update the user-key sort, the range exchange's map side
      // updates its records counter, the write stage updates the global sort.
      // The RangePartitioner's sampling job runs the window chain without
      // writing the range exchange.
      def stagesTouching(role: String) = write.flatMap(_.metricIds.get(role)).toSeq
        .flatMap(id => hourTasks.filter(_.accumIds.contains(id)).map(_.stageId)).toSet
      val windowStages = stagesTouching("sort.user")
      val sampleStages = windowStages -- stagesTouching("exchange.range")
      val writeStages = stagesTouching("sort.range")
      val windowTasks = hourTasks.filter(tk => windowStages.contains(tk.stageId)).map(_.durMs.toDouble)
      def wallS(ids: Set[Int]) = st.filter(s => ids.contains(s.id)).map(s => (s.done - s.submit) / 1000).sum
      // task-summed operator time spread over the slots the stage ran on
      val slots = math.max(1, math.min(cores, st.filter(s => writeStages.contains(s.id))
        .map(_.tasks).sum))
      val sampleS = wallS(sampleStages)
      Map(
        "sessionize_hour.build_s" -> write.map(w => (w.startMs - h.start) / 1000).getOrElse(0.0),
        "sessionize_hour.plan_s" -> ps.map(_.planMs).sum / 1000,
        "sessionize_hour.exec_s" -> ps.map(_.execMs).sum / 1000,
        "sessionize_hour.self_s" -> jobSelfS(h),
        "sessionize_hour.jobs" -> jobsOf(h.id).size.toDouble,
        "sessionize_hour.stages" -> st.size.toDouble,
        "sessionize_hour.tasks" -> st.map(_.tasks.toDouble).sum,
        "sessionize_hour.range_sample_s" -> sampleS,
        "sessionize_hour.range_sort_s" ->
          (sampleS + (m("sort.range.ms") + m("exchange.range.write_ms")) / 1000 / slots),
        "sessionize_hour.range_exchange_bytes" -> m("exchange.range.bytes"),
        "sessionize_hour.write_s" -> (wallS(writeStages) + m("write.job_commit_ms") / 1000),
        "sessionize_hour.files_written" -> m("write.files"),
        "sessionize_hour.carry_read_rows" -> m("scan.sessions.rows"),
        "sessionize_hour.rows_in" -> m("scan.logs.rows"),
        "sessionize_hour.rows_out" -> m("write.rows"),
        "sessionize_hour.task_failures" -> hourTasks.count(!_.ok).toDouble,
        "sessionize.window_exchange_bytes" -> m("exchange.user.bytes"),
        "sessionize.window_sort_s" -> m("sort.user.ms") / 1000,
        "sessionize.spill_bytes" -> (m("sort.user.spill") + m("window.user_id.spill") +
          m("sort.session.spill") + m("window.session_id.spill")),
        "sessionize.window_skew" ->
          (if (windowTasks.isEmpty) 0.0 else windowTasks.max / math.max(median(windowTasks), 1.0)),
        "sessionize.carry_rows" -> m("carry.rows"),
        "sessionize_hour.wall_s" -> h.dur / 1000)
    }

    // ---- streaming/StreamingJob, per relaunch ----
    val perRun = relaunches.map { r =>
      val rs = reports.filter(p => r.start <= p.timestampMs && p.timestampMs <= r.end)
      def phase(k: String) = rs.map(_.durations.getOrElse(k, 0L).toDouble).sum / 1000
      val batchSpans = rs.map { p =>
        val trig = p.durations.getOrElse("triggerExecution", 0L).toDouble
        val id = spans.add(r.id, "stream.batch", p.timestampMs, p.timestampMs + trig,
          Map("batch_id" -> p.batchId.toDouble, "input_rows" -> p.inputRows.toDouble))
        // the progress report gives phase durations, not start times; the
        // phases run in this order within the trigger
        var at = p.timestampMs
        Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets").foreach { k =>
          val d = p.durations.getOrElse(k, 0L).toDouble
          spans.add(id, s"stream.$k", at, at + d); at += d
        }
        Span(id, r.id, "stream.batch", p.timestampMs, p.timestampMs + trig)
      }
      Map(
        "streaming_job.start_s" -> rs.headOption.map(p => (p.timestampMs - r.start) / 1000).getOrElse(0.0),
        "streaming_job.self_s" -> spans.selfMs(r, batchSpans) / 1000,
        "streaming_job.latest_offset_s" -> phase("latestOffset"),
        "streaming_job.query_planning_s" -> phase("queryPlanning"),
        "streaming_job.add_batch_s" -> phase("addBatch"),
        "streaming_job.wal_commit_s" -> phase("walCommit"),
        "streaming_job.commit_offsets_s" -> phase("commitOffsets"),
        "streaming_job.batches" -> rs.size.toDouble,
        "streaming_job.state_commit_s" -> rs.map(_.stateCommitMs.toDouble).sum / 1000,
        "streaming_job.state_rows" -> rs.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
        "streaming_job.state_memory_bytes" -> rs.lastOption.map(_.stateMemory.toDouble).getOrElse(0.0),
        "streaming_job.rows_dropped_by_watermark" -> rs.map(_.dropped.toDouble).sum,
        "streaming_job.wall_s" -> r.dur / 1000)
    }

    // medians over the traced passes' ingests, catch-ups, hours or relaunches;
    // the watermark drops are a total
    def med(rows: Seq[Map[String, Double]]): Map[String, Double] =
      rows.flatMap(_.keys).distinct.map(k => k -> median(rows.map(_.getOrElse(k, 0.0)))).toMap
    def sum(rows: Seq[Map[String, Double]], keys: Set[String]): Map[String, Double] =
      keys.map(k => k -> rows.map(_.getOrElse(k, 0.0)).sum).toMap
    val totals = Set("streaming_job.rows_dropped_by_watermark")
    med(ing) ++ med(sched) ++ med(perHour) ++ med(perRun) ++ sum(perRun, totals)
  }
}
