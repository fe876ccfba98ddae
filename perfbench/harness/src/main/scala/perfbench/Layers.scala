package perfbench

/** Per-layer metrics of one op, from a traced run's recorder. Jobs and
  * Catalyst executions belong to the timed step whose interval holds their
  * start; work between steps (the harness's output checks) is left out.
  */
object Layers {
  /** Length of the union of [start, end] intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Most RDD block memory held at any point of [start, end], in bytes. */
  def storagePeak(r: Recorder, start: Long, end: Long): Long = {
    val before = r.storage.filter(_._1 < start).lastOption.map(_._2).getOrElse(0L)
    (before +: r.storage.filter(s => s._1 >= start && s._1 <= end).map(_._2).toSeq).max
  }

  def jobsIn(r: Recorder, s: Long, e: Long): Seq[JobRec] =
    r.jobs.filter(j => j.startMs >= s && j.startMs <= e).toSeq

  def apply(r: Recorder, steps: Seq[Span], cpus: Int): Map[String, Double] = {
    val mb = 1048576.0
    val start = steps.head.startMs
    val end = steps.last.endMs
    def jobsIn(s: Long, e: Long) = Layers.jobsIn(r, s, e)
    def stagesOf(js: Seq[JobRec]) = {
      val ids = js.flatMap(_.stageIds).toSet
      r.stages.filter(st => ids(st.stageId)).toSeq
    }
    def wall(js: Seq[JobRec]) =
      unionMs(js.map(j => (j.startMs, if (j.endMs < 0) end else j.endMs))).toDouble
    def cpuMs(js: Seq[JobRec]) = stagesOf(js).map(_.cpuNs).sum / 1e6

    val jobs = steps.flatMap(sp => jobsIn(sp.startMs, sp.endMs))
    val stages = stagesOf(jobs)
    val opMs = steps.map(sp => sp.endMs - sp.startMs).sum.toDouble
    val jobWall = wall(jobs)
    val qes = r.qes.filter(q => steps.exists(sp => q.startMs >= sp.startMs && q.startMs <= sp.endMs))
    val cpu = cpuMs(jobs)

    val byLayer = Recorder.layers.flatMap { l =>
      val js = jobs.filter(_.module == l)
      Seq(s"$l.jobs" -> js.size.toDouble, s"$l.job_wall_ms" -> wall(js),
        s"$l.cpu_ms" -> cpuMs(js))
    }

    // Step-level splits: per query for query_mix, per CLI call otherwise.
    val perStep = steps.flatMap { sp =>
      val js = jobsIn(sp.startMs, sp.endMs)
      val prefix = if (sp.name == "load" || sp.name == "extract") s"cli.${sp.name}"
        else s"queries.${sp.name}"
      Seq(s"$prefix.s" -> (sp.endMs - sp.startMs) / 1e3,
        s"$prefix.jobs" -> js.size.toDouble, s"$prefix.cpu_ms" -> cpuMs(js))
    }
    def stepStages(name: String) =
      steps.find(_.name == name).map(sp => stagesOf(jobsIn(sp.startMs, sp.endMs)))
        .getOrElse(Nil)

    Map(
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> stages.map(_.tasks).sum.toDouble,
      "scheduler.job_wall_ms" -> jobWall,
      "scheduler.driver_gap_ms" -> (opMs - jobWall),
      "scheduler.delay_ms" -> stages.map(st => r.taskDelay.getOrElse(st.stageId, 0L)).sum.toDouble,
      "catalyst.executions" -> qes.size.toDouble,
      "catalyst.analysis_ms" -> qes.map(_.analysisMs).sum.toDouble,
      "catalyst.optimization_ms" -> qes.map(_.optimizationMs).sum.toDouble,
      "catalyst.planning_ms" -> qes.map(_.planningMs).sum.toDouble,
      "core.lineage.cuts" -> jobs.count(_.cut).toDouble,
      "executor.cpu_ms" -> cpu,
      "executor.run_ms" -> stages.map(_.runMs).sum.toDouble,
      "executor.gc_ms" -> stages.map(_.gcMs).sum.toDouble,
      "executor.cpu_util" -> (if (opMs > 0) cpu / (opMs * cpus) else 0.0),
      "shuffle.write_mb" -> stages.map(_.shuffleWriteB).sum / mb,
      "shuffle.read_mb" -> stages.map(_.shuffleReadB).sum / mb,
      "shuffle.fetch_wait_ms" -> stages.map(_.fetchWaitMs).sum.toDouble,
      "spill.mb" -> stages.map(_.spillB).sum / mb,
      "io.read_mb" -> stages.map(_.inputB).sum / mb,
      "io.records_read" -> stages.map(_.inputRecs).sum.toDouble,
      "io.write_mb" -> stages.map(_.outputB).sum / mb,
      "io.records_written" -> stages.map(_.outputRecs).sum.toDouble,
      "load.write_mb" -> stepStages("load").map(_.outputB).sum / mb,
      "extract.records_read" -> stepStages("extract").map(_.inputRecs).sum.toDouble,
      "storage.peak_mb" -> storagePeak(r, start, end) / mb,
      "trace.op_s" -> opMs / 1e3,
    ) ++ byLayer ++ perStep
  }
}
