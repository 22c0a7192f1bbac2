package perfbench

/** Per-layer metrics of one traced pass, computed from the benchmark's
  * phase spans and the listener's jobs, stages and tasks.
  *
  * A phase span has kind `construct`, `plan` or `execute` and is named
  * after its query; `modules` maps each query to the module object whose
  * `queries` map holds it.
  */
object Layers {

  val Modules: Seq[String] = Seq("rbm", "ml", "operators", "functions", "llm", "sources")

  def passMetrics(phases: Seq[Span],
      modules: Map[String, String], jobs: Seq[JobRec], tasks: Seq[TaskRec],
      completedStages: Seq[Int], cores: Int): Map[String, Double] = {
    val owner = Attribution.stageOwners(jobs)
    val spanOfJob: Map[Int, Span] =
      jobs.flatMap(j => Attribution.spanOf(j, phases).map(j.jobId -> _)).toMap
    val spanOfStage: Map[Int, Span] =
      owner.flatMap { case (st, j) => spanOfJob.get(j).map(st -> _) }
    def kindOf(st: Int): Option[String] = spanOfStage.get(st).map(_.kind)
    val attributedTasks = tasks.filter(t => spanOfStage.contains(t.stageId))
    val execTasks = tasks.filter(t => kindOf(t.stageId).contains("execute"))
    def phaseS(kind: String, q: String => Boolean = _ => true): Double =
      phases.filter(s => s.kind == kind && q(s.name)).map(_.durS).sum
    def jobCount(kind: Option[String], q: String => Boolean = _ => true): Double =
      spanOfJob.values.count(s => kind.forall(_ == s.kind) && q(s.name)).toDouble
    val execS = phaseS("execute")
    val runS = execTasks.map(_.runS).sum
    val slowest = execTasks.maxByOption(_.durationS)
    val skew = slowest.map { t =>
      val peers = execTasks.filter(_.stageId == t.stageId).map(_.durationS)
      val med = Stats.median(peers)
      if (med > 0) t.durationS / med else 1.0
    }.getOrElse(0.0)
    val mb = 1024.0 * 1024.0
    val perModule = Modules.flatMap { m =>
      val inM: String => Boolean = q => modules.get(q).contains(m)
      Seq(s"$m.construct_s" -> phaseS("construct", inM),
        s"$m.execute_s" -> phaseS("execute", inM),
        s"$m.jobs" -> jobCount(None, inM))
    }
    Map(
      "construct.s" -> phaseS("construct"),
      "construct.jobs" -> jobCount(Some("construct")),
      "construct.tasks" -> tasks.count(t => kindOf(t.stageId).contains("construct")).toDouble,
      "plan.s" -> phaseS("plan"),
      "execute.s" -> execS,
      "execute.jobs" -> jobCount(Some("execute")),
      "execute.stages" -> completedStages.distinct.count(s => kindOf(s).contains("execute")).toDouble,
      "execute.tasks" -> execTasks.size.toDouble,
      "execute.task_run_s" -> runS,
      "execute.task_cpu_s" -> execTasks.map(_.cpuS).sum,
      "execute.core_busy_frac" -> (if (execS > 0) runS / (execS * cores) else 0.0),
      "execute.max_task_s" -> slowest.map(_.durationS).getOrElse(0.0),
      "execute.task_skew" -> skew,
      "execute.peak_task_mem_mb" -> execTasks.map(_.peakMemBytes).maxOption.getOrElse(0L) / mb,
      "shuffle.read_mb" -> attributedTasks.map(_.shuffleReadBytes).sum / mb,
      "shuffle.write_mb" -> attributedTasks.map(_.shuffleWriteBytes).sum / mb,
      "shuffle.spill_mb" -> attributedTasks.map(_.spillBytes).sum / mb,
      "trace.unattributed_jobs" -> (jobs.size - spanOfJob.size).toDouble,
    ) ++ perModule
  }
}
