package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Micro-profiler: times selected SparkEntry queries N times each (after a
  * warm rep) so regressions can be localized without the full Bench run,
  * and splits the LAST rep into [[Profile.Layers]] — construction (with
  * its eager analysis and the jobs the builder starts), the action's own
  * optimization and physical planning, execution, and the scheduling
  * anatomy (jobs / stages / tasks and the summed task time) — so "is this
  * query slow because of building the plan, engine work or job-count
  * overhead" is read off a number.
  * For A/B experiments, set session confs as `-Dspark.…` JVM flags (see
  * graft.GraftSession). Dev tool, not part of the driver contract.
  * Usage: runMain graft.tools.Profile <sfDir> <reps> [q ...] */
object Profile {
  private val ConstructGroup = "graft-profile-construct"

  /** Job/stage/task counts, construction jobs (those carrying
    * `ConstructGroup`), and the planning phases of the last action that
    * succeeded. Registers itself on `spark`; `close()` removes it. */
  final class Recorder(spark: SparkSession) extends SparkListener
      with QueryExecutionListener {
    @volatile var jobs, conJobs, stages, tasks = 0
    @volatile var taskMs = 0L
    @volatile var phases = Map.empty[String, Long]
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    def close(): Unit = {
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs += 1
      if (Option(j.properties).exists(
          _.getProperty("spark.jobGroup.id") == ConstructGroup)) conJobs += 1
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages += 1
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks += 1
      if (t.taskInfo != null) taskMs += t.taskInfo.duration
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases = qe.tracker.phases.map { case (k, p) => k -> p.durationMs }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** One query run split into layers, in ms: `conMs` builds the frame and
    * holds its eager analysis (`anaMs`) and the `conJobs` it starts;
    * `exeMs` is its `count()` and holds that action's own optimization and
    * physical planning (`optMs`, `planMs`). `wallMs` spans both. Jobs,
    * stages, tasks and task-seconds cover both layers. */
  final case class Layers(wallMs: Double, conMs: Double, anaMs: Double,
                          conJobs: Int, optMs: Double, planMs: Double,
                          exeMs: Double, jobs: Int, stages: Int, tasks: Int,
                          taskSec: Double)

  def measure(spark: SparkSession, rec: Recorder)(build: => DataFrame): Layers = {
    val sc = spark.sparkContext
    // listener events arrive asynchronously; drain the bus before each
    // snapshot so the per-query deltas are exact
    drainListenerBus(spark)
    val (j0, c0, s0, k0, ms0) =
      (rec.jobs, rec.conJobs, rec.stages, rec.tasks, rec.taskMs)
    rec.phases = Map.empty
    val t0 = System.nanoTime()
    sc.setJobGroup(ConstructGroup, "profile: construct")
    val df = try build finally sc.clearJobGroup()
    val t1 = System.nanoTime()
    df.count()
    val t2 = System.nanoTime()
    drainListenerBus(spark)
    def ph(p: String) = rec.phases.getOrElse(p, 0L).toDouble
    val ana = df.queryExecution.tracker.phases.get("analysis")
    Layers((t2 - t0) / 1e6, (t1 - t0) / 1e6, ana.fold(0.0)(_.durationMs.toDouble),
      rec.conJobs - c0, ph("optimization"), ph("planning"), (t2 - t1) / 1e6,
      rec.jobs - j0, rec.stages - s0, rec.tasks - k0, (rec.taskMs - ms0) / 1e3)
  }

  /** `SparkContext.listenerBus` is private[spark]; reach it reflectively
    * (dev tool only) so snapshots see every in-flight job/stage/task
    * event instead of whatever happened to have been delivered. */
  private def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" &&
          m.getParameterCount == 0)
        .foreach(_.invoke(bus))
    } catch { case _: Throwable => Thread.sleep(50) }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val names = if (args.length > 2) args.drop(2).toSeq
                else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark)
    spark.range(1000000).selectExpr("sum(id)").collect()
    names.foreach { n =>
      graft.SparkEntry.queries.get(n).foreach { fn =>
        try {
          fn(spark, sfDir).count() // warm rep (codegen, listing)
          val runs = (1 to reps).map(_ => measure(spark, rec)(fn(spark, sfDir)))
          val secs = runs.map(_.wallMs / 1e3).sorted
          val l = runs.last
          println(f"$n%-28s min=${secs.head}%.3f med=${secs(reps / 2)}%.3f " +
            f"last=${l.wallMs / 1e3}%.3f con=${l.conMs}%.1f " +
            f"(ana=${l.anaMs}%.0f jobs=${l.conJobs}%d) opt=${l.optMs}%.0f " +
            f"plan=${l.planMs}%.0f exe=${l.exeMs}%.1f ms jobs=${l.jobs}%d " +
            f"stages=${l.stages}%d tasks=${l.tasks}%d taskSec=${l.taskSec}%.2f")
        } catch { case e: Throwable => println(s"$n FAILED: $e") }
      }
    }
    spark.stop()
  }
}
