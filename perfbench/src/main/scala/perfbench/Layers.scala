package perfbench

/** Per-layer metrics of a traced run, from the tracer's jobs and planning
  * phases and the timed operations' windows.
  *
  * Every job the tracer saw counts in the layer of its call site. A job
  * also belongs to the traced operation whose window contains its start
  * (the loop is one closed client, so windows never overlap); jobs that
  * start outside every window still count in their layer and are reported
  * as `trace.jobs_outside_ops`. Counts and times are per traced pass, so
  * runs with different pass counts compare. The self-checks fail the run:
  * the layers together hold exactly the jobs the tracer saw start, every
  * job ends inside its operation, and per operation the gaps no job covers
  * (`driver_only`) plus the union of its job intervals, both in the
  * listener's millisecond clock, equal the operation's own nanosecond wall
  * time within [[ToleranceMs]]. */
object Layers {
  final case class Checked(metrics: Map[String, Double], problems: Seq[String])

  /** Two millisecond clock readings against two nanosecond ones. */
  val ToleranceMs = 3.0

  def compute(ops: Seq[Main.Op], tracer: Tracer, cpus: Int): Map[String, Double] = {
    val c = check(ops, tracer, cpus)
    c.problems.foreach(p => System.err.println(s"[perfbench] trace check: $p"))
    c.metrics + ("trace.check_failures" -> c.problems.length.toDouble)
  }

  /** Length of the union of [a, b) intervals, in ms. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    covered + (curB - curA)
  }

  /** Sum of the gaps no job covers inside [s, e), in ms — computed apart
    * from the union so the two can check each other. */
  private def gapsMs(s: Long, e: Long, iv: Seq[(Long, Long)]): Long = {
    var gaps = 0L
    var cursor = s
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > cursor) gaps += a - cursor
      cursor = cursor max b
    }
    gaps + (e - cursor).max(0L)
  }

  def check(ops: Seq[Main.Op], tracer: Tracer, cpus: Int): Checked = {
    val traced = ops.filter(_.traced).sortBy(_.startMs)
    val passes = traced.map(_.pass).distinct.length.max(1).toDouble
    val problems = Seq.newBuilder[String]
    val jobs = tracer.jobRecords
    // assign each job to the latest-starting traced op whose window holds it
    def opOf(start: Long): Option[Main.Op] =
      traced.filter(o => o.startMs <= start && start <= o.endMs)
        .sortBy(_.startMs).lastOption
    val byOp = jobs.flatMap(j => opOf(j.start).map(o => (o, j)))
      .groupBy(_._1).map { case (o, js) => o -> js.map(_._2) }
    val inOps = byOp.values.flatten.toSeq

    // every job the tracer saw start in exactly one layer
    val perModule = Tracer.Modules.map(m => m -> jobs.filter(_.module == m))
    val placed = perModule.map(_._2.length).sum
    if (placed != tracer.jobsStarted)
      problems += s"$placed jobs placed in a layer, ${tracer.jobsStarted} started"

    var driverOnlyMs = 0L
    var unionTotalMs = 0L
    traced.foreach { o =>
      val js = byOp.getOrElse(o, Seq.empty)
      js.filter(_.end < 0).foreach(j => problems += s"job ${j.id} never ended")
      js.filter(_.end > o.endMs).foreach(j =>
        problems += s"job ${j.id} ended after operation ${o.name}")
      val iv = js.map(j => (j.start, if (j.end < 0) o.endMs else j.end))
      val u = unionMs(iv)
      val g = gapsMs(o.startMs, o.endMs, iv)
      if (math.abs(u + g - o.wallS * 1000) > ToleranceMs)
        problems += f"${o.name}: driver-only $g ms + jobs $u ms != wall ${o.wallS * 1000}%.1f ms"
      driverOnlyMs += g
      unionTotalMs += u
    }

    val m = Map.newBuilder[String, Double]
    perModule.foreach { case (mod, js) =>
      val tasks = js.map(_.tasks).sum
      m += s"$mod.jobs" -> js.length / passes
      m += s"$mod.job_s" -> js.map(j => (j.end - j.start).max(0L)).sum / 1000.0 / passes
      m += s"$mod.task_s" -> js.map(_.taskMs).sum / 1000.0 / passes
      m += s"$mod.useful_task_ratio" ->
        (if (tasks == 0) 0.0 else js.map(_.usefulTasks).sum.toDouble / tasks)
      m += s"$mod.shuffle_write_bytes" -> js.map(_.shuffleWriteBytes).sum / passes
      m += s"$mod.gc_s" -> js.map(_.gcMs).sum / 1000.0 / passes
    }
    val wallS = traced.map(_.wallS).sum
    val taskS = inOps.map(_.taskMs).sum / 1000.0
    val constructJobs = byOp.toSeq.map { case (o, js) =>
      js.count(_.start < o.actionMs) }.sum
    // planning phases of the action's QueryExecutions
    val phases = tracer.planRecords.filter(p =>
      traced.exists(o => o.actionMs <= p.start && p.start <= o.endMs))
    m += "query.construct_s" -> traced.map(_.constructS).sum / passes
    m += "query.construct_jobs" -> constructJobs / passes
    m += "query.analyze_s" -> phases.map(_.analyzeMs).sum / 1000.0 / passes
    m += "query.optimize_s" -> phases.map(_.optimizeMs).sum / 1000.0 / passes
    m += "query.plan_s" -> phases.map(_.planMs).sum / 1000.0 / passes
    m += "op.jobs" -> inOps.length / passes
    m += "op.driver_only_s" -> driverOnlyMs / 1000.0 / passes
    m += "op.job_union_s" -> unionTotalMs / 1000.0 / passes
    m += "op.core_busy_share" -> (if (wallS == 0) 0.0 else taskS / (wallS * cpus))
    m += "gc_s" -> jobs.map(_.gcMs).sum / 1000.0 / passes
    m += "jvm_gc_s" -> traced.map(_.gcMs).sum / 1000.0 / passes
    m += "failed_tasks" -> jobs.map(_.failedTasks).sum / passes
    m += "other_share" ->
      (if (jobs.isEmpty) 0.0 else jobs.count(_.module == "other").toDouble / jobs.length)
    m += "trace.jobs_outside_ops" -> (jobs.length - inOps.length).toDouble
    m += "warehouse.records_written" ->
      jobs.filter(_.module == "warehouse").map(_.recordsWritten).sum / passes
    Checked(m.result(), problems.result())
  }
}
