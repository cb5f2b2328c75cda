package graftbench

/** Turns listener records inside one operation's window into child
  * spans and per-operation layer figures. */
object Layers {
  /** Adds job spans (layer `exec`, children of `parent`) with their
    * stages as children, and returns this operation's exec/model figures. */
  def exec(t: Tracer, jobs: Seq[JobRec], parent: Long, req: Long, wallMs: Double,
           cores: Int): Map[String, Double] = {
    val stages = t.stagesOf(jobs)
    jobs.foreach { j =>
      val js = t.add(Span(t.nextId(), parent, req, s"job ${j.id}", "exec", t.msToNs(j.startMs),
        t.msToNs(math.max(j.endMs, j.startMs))))
      stages.filter(_.jobId == j.id).foreach { s =>
        t.add(Span(t.nextId(), js.id, req, s"stage ${s.id}", "exec", t.msToNs(s.submitMs),
          t.msToNs(math.max(s.doneMs, s.submitMs)),
          Map("tasks" -> s.tasks, "run_ms" -> s.runMs.toDouble,
            "shuffle_read_bytes" -> s.shuffleRead.toDouble,
            "shuffle_write_bytes" -> s.shuffleWrite.toDouble,
            "input_rows" -> s.inRows.toDouble)))
      }
    }
    def dur(s: StageRec) = math.max(0L, s.doneMs - s.submitMs).toDouble
    val (shuffle, scan) = stages.partition(_.shuffleRead > 0)
    val firstJob = if (jobs.isEmpty) 0L else jobs.map(_.startMs).min
    val firstTask = if (stages.isEmpty) firstJob else stages.map(_.firstLaunchMs).min
    Map(
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> stages.map(_.tasks).sum.toDouble,
      "exec.first_task_delay_ms" -> math.max(0L, firstTask - firstJob).toDouble,
      "exec.slot_busy_ratio" -> (if (wallMs <= 0) 0.0 else stages.map(_.runMs).sum / (wallMs * cores)),
      "exec.scan_stage_ms" -> scan.map(dur).sum,
      "exec.shuffle_stage_ms" -> shuffle.map(dur).sum,
      "exec.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
      "exec.executor_cpu_ms" -> stages.map(_.cpuNs).sum / 1e6,
      "exec.gc_ms" -> stages.map(_.gcMs).sum.toDouble,
      "exec.peak_exec_mem_mb" -> (if (stages.isEmpty) 0.0 else stages.map(_.peakMem).max / 1048576.0),
      "exec.spill_bytes" -> stages.map(_.spill).sum.toDouble,
      "model.input_bytes" -> stages.map(_.inBytes).sum.toDouble,
      "model.input_rows" -> stages.map(_.inRows).sum.toDouble)
  }

  /** Catalyst phase spans of the queries executed inside the window, and
    * their figures. */
  def catalyst(t: Tracer, qes: Seq[QeRec], parent: Long, req: Long): Map[String, Double] = {
    def phase(n: String) = qes.flatMap(_.phases.get(n))
    qes.foreach(_.phases.foreach { case (n, (s, e)) =>
      t.add(Span(t.nextId(), parent, req, n, "catalyst", t.msToNs(s), t.msToNs(math.max(s, e))))
    })
    Map(
      "catalyst.analysis_ms" -> phase("analysis").map(p => (p._2 - p._1).toDouble).sum,
      "catalyst.optimization_ms" -> phase("optimization").map(p => (p._2 - p._1).toDouble).sum,
      "catalyst.planning_ms" -> phase("planning").map(p => (p._2 - p._1).toDouble).sum,
      "catalyst.exchanges" -> (if (qes.isEmpty) 0.0 else qes.map(_.exchanges).max.toDouble),
      "model.input_files" -> (if (qes.isEmpty) 0.0 else qes.map(_.files).max.toDouble))
  }

  /** Per-layer metric -> median over operations (keys of the first map). */
  def medians(perOp: Seq[Map[String, Double]]): Seq[Metric] =
    if (perOp.isEmpty) Nil
    else perOp.head.keys.toSeq.sorted.map { k =>
      Metric(k, Common.med(perOp.flatMap(_.get(k))), perOp.size, "median per operation")
    }

}
