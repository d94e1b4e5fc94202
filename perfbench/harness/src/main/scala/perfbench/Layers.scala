package perfbench

import scala.jdk.CollectionConverters._

/** Turns the trace of one pass into its per-layer record and span tree. */
object Layers {
  import Trace._

  /** Length of the union of `[start, end]` intervals clipped to `[lo, hi]`. */
  def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var cursor = lo
    var covered = 0L
    iv.sortBy(_._1).foreach { case (s, e) =>
      val a = math.max(s, cursor)
      val b = math.min(e, hi)
      if (b > a) { covered += b - a; cursor = b }
    }
    covered
  }

  def of(pass: Int, reps: Seq[Harness.Rep], probe: Harness.Probe): java.util.Map[String, AnyRef] = {
    val jobsP = jobs.values.asScala.filter(_.pass == pass).toSeq.sortBy(_.id)
    val stagesP = stages.asScala.filter(_._2.pass == pass).toSeq
    val qesP = qes.asScala.filter(_.pass == pass).toSeq
    val streamsP = streams.values.asScala.filter(_.pass == pass).toSeq
    val memoP = memoOf(pass)
    val stageByJob = stagesP.groupBy(_._2.job)
    def iv(js: Seq[JobRec]) = js.map(j => (j.start, if (j.end < 0) j.start else j.end))

    val spans = Seq.newBuilder[AnyRef]
    val failures = Seq.newBuilder[AnyRef]
    val planIv = qesP.flatMap(_.phases)
    var jobS, gapS, buildGapS, lifecycleS = 0.0
    var unexplainedMs = 0L
    reps.foreach { r =>
      val prefix = s"$pass/${r.idx}/"
      val mine = jobsP.filter(_.tag.startsWith(prefix))
      val build = mine.filter(_.tag.endsWith("/build"))
      val repJob = union(iv(mine), Long.MinValue, Long.MaxValue) / 1e3
      val repGap = ((r.w1 - r.w0) - union(iv(mine), r.w0, r.w1)) / 1e3
      jobS += repJob
      gapS += repGap
      buildGapS += ((r.wb - r.w0) - union(iv(build), r.w0, r.wb)) / 1e3
      val repStreams = streamsP.filter(_.rep.startsWith(prefix))
      if (repStreams.nonEmpty)
        lifecycleS += (r.wb - repStreams.map(_.start).min) / 1e3 - repStreams.map(_.triggerMs).sum / 1e3
      // Layer-sum self-check: the layers measured by the listeners (jobs
      // and Catalyst phases) must cover the rep wall, which the harness
      // times on its own clock, to within 5%. What they leave uncovered
      // is driver time no layer accounts for.
      val wallMs = r.w1 - r.w0
      val covered = union(iv(mine) ++ planIv, r.w0, r.w1)
      unexplainedMs += wallMs - covered
      if (wallMs - covered > 0.05 * wallMs)
        failures += Json.obj("query" -> r.query, "wall_s" -> wallMs / 1e3,
          "job_s" -> union(iv(mine), r.w0, r.w1) / 1e3,
          "plan_s" -> union(planIv, r.w0, r.w1) / 1e3,
          "unexplained_s" -> (wallMs - covered) / 1e3)

      val id = s"rep:$pass/${r.idx}"
      spans += Json.obj("id" -> id, "parent" -> null, "name" -> r.query, "start_ms" -> r.w0,
        "end_ms" -> r.w1, "job_s" -> repJob, "driver_gap_s" -> repGap,
        "unexplained_s" -> (wallMs - covered) / 1e3, "error" -> r.err.orNull)
      spans += Json.obj("id" -> s"$id/build", "parent" -> id, "name" -> "build",
        "start_ms" -> r.w0, "end_ms" -> r.wb)
      spans += Json.obj("id" -> s"$id/action", "parent" -> id, "name" -> "action",
        "start_ms" -> r.wb, "end_ms" -> r.w1)
      mine.foreach { j =>
        val st = stageByJob.getOrElse(j.id, Nil).map(_._2)
        spans += Json.obj("id" -> s"job:${j.id}", "parent" -> s"$id/${j.tag.split('/').last}",
          "name" -> "job", "start_ms" -> j.start, "end_ms" -> j.end,
          "stages" -> st.count(_.tasks > 0), "tasks" -> st.map(_.tasks).sum,
          "task_run_s" -> st.map(_.runMs).sum / 1e3)
      }
      repStreams.foreach { s =>
        spans += Json.obj("id" -> s"stream:${s.start}:${r.idx}", "parent" -> s"$id/build",
          "name" -> "stream", "start_ms" -> s.start, "batches" -> s.batches,
          "trigger_s" -> s.triggerMs / 1e3)
      }
    }

    val st = stagesP.map(_._2)
    val run = st.filter(_.tasks > 0)
    val buildJobs = jobsP.filter(_.tag.endsWith("/build")).map(_.id).toSet
    val skew = run.filter(s => s.tasks >= 2 && s.runMs > 0)
      .map(s => s.maxRunMs.toDouble * s.tasks / s.runMs)
    val written = probe.written
    val tmpNow = Option(new java.io.File(probe.tmpDir).list()).map(_.toSet).getOrElse(Set.empty)
    Json.obj(
      "pass" -> pass,
      "scan.bytes_read" -> st.map(_.inBytes).sum,
      "scan.records_read" -> st.map(_.inRecords).sum,
      "build.wall_s" -> reps.map(_.buildS).sum,
      "build.jobs" -> buildJobs.size,
      "build.gap_s" -> buildGapS,
      "plan.analysis_s" -> qesP.map(_.analysisMs).sum / 1e3,
      "plan.optimization_s" -> qesP.map(_.optimizationMs).sum / 1e3,
      "plan.planning_s" -> qesP.map(_.planningMs).sum / 1e3,
      "plan.actions" -> qesP.size,
      "driver.gap_s" -> gapS,
      "exec.job_s" -> jobS,
      "exec.jobs" -> jobsP.size,
      "exec.stages" -> run.size,
      "exec.tasks" -> st.map(_.tasks).sum,
      "exec.task_run_s" -> st.map(_.runMs).sum / 1e3,
      "exec.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "exec.shuffle_read_bytes" -> st.map(_.shuffleRead).sum,
      "exec.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum,
      "exec.spill_bytes" -> st.map(_.spill).sum,
      "exec.max_task_over_mean" -> (if (skew.isEmpty) 1.0 else skew.max),
      "exec.failed_tasks" -> st.map(_.failedTasks).sum,
      "memo.persist_fills" -> memoP.filled.size,
      "memo.unpersists" -> memoP.unpersists.get,
      "memo.cached_bytes" -> memoP.cachedBytes.get,
      "memo.checkpoint_bytes" -> written(1)._2,
      "stream.starts" -> streamsP.size,
      "stream.batches" -> streamsP.map(_.batches).sum,
      "stream.input_rows" -> streamsP.map(_.inputRows).sum,
      "stream.trigger_s" -> streamsP.map(_.triggerMs).sum / 1e3,
      "stream.query_planning_s" -> streamsP.map(_.planningMs).sum / 1e3,
      "stream.wal_commit_s" -> streamsP.map(_.walMs).sum / 1e3,
      "stream.add_batch_s" -> streamsP.map(_.addBatchMs).sum / 1e3,
      "stream.state_commit_ms" -> streamsP.map(_.stateCommitMs).sum,
      "stream.state_rows_total" -> streamsP.map(_.stateRows).sum,
      "stream.lifecycle_s" -> lifecycleS,
      "write.bytes" -> stagesP.filter(s => buildJobs(s._2.job)).map(_._2.outBytes).sum,
      "write.files" -> written.map(_._1).sum,
      "write.tmp_entries_created" -> (tmpNow -- probe.tmpEntries).size,
      "jvm.gc_s" -> (Harness.Probe.gcMs - probe.gcMs) / 1e3,
      "jvm.heap_used_peak_mb" -> Harness.Probe.heapPeakMb,
      "check.unexplained_share" -> unexplainedMs.toDouble / reps.map(r => r.w1 - r.w0).sum,
      "layer_sum_failures" -> Json.arr(failures.result()),
      "spans" -> Json.arr(spans.result()))
  }
}

/** Builders for the run record, which Jackson writes out. */
object Json {
  def obj(kv: (String, Any)*): java.util.Map[String, AnyRef] = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    kv.foreach { case (k, v) => m.put(k, v.asInstanceOf[AnyRef]) }
    m
  }

  def arr(xs: Seq[AnyRef]): java.util.List[AnyRef] = xs.asJava

  def rep(r: Harness.Rep): AnyRef = obj("pass" -> r.pass, "idx" -> r.idx,
    "query" -> r.query, "drop" -> r.drop, "w0" -> r.w0, "wb" -> r.wb, "w1" -> r.w1,
    "wall_s" -> r.wallS, "build_s" -> r.buildS, "action_s" -> r.actionS,
    "error" -> r.err.orNull)
}
