package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the tracer saw it. Times are listener-clock epoch ms. */
final class JobRec(val id: Int, val start: Long, val module: String) {
  var end = -1L
  var tasks = 0
  var usefulTasks = 0 // tasks that read at least one record
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var recordsWritten = 0L
  var failedTasks = 0
}

/** Planning phases of one QueryExecution the listener reported. */
final case class PlanRec(start: Long, analyzeMs: Long, optimizeMs: Long,
                         planMs: Long)

/** Passive recorder: a SparkListener for jobs and tasks plus a
  * QueryExecutionListener for planning phases. It never touches the
  * program's code path; it only sees the events Spark posts.
  *
  * Every job is attributed to the repo module whose code started it: the
  * innermost `graft.*` frame of the job's call site (the call site Spark
  * records starts at the first frame outside Spark and Scala). Jobs that a
  * SQL execution submits from one of Spark's own threads (broadcasts,
  * subqueries) carry no user frame; they take the call site of the SQL
  * execution that started them. A job started by the benchmark's own
  * `count()` lands in `action`; a job with no known origin, or from a
  * `graft` object outside [[Tracer.Modules]], lands in `other`. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, JobRec]
  private val sqlSites = new ConcurrentHashMap[Long, String]
  private val plans = new ConcurrentLinkedQueue[PlanRec]
  private val started = new AtomicInteger

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlSites.put(s.executionId, s.details)
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val own = j.stageInfos.headOption.map(_.details).getOrElse("")
    val sql = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(sqlSites.get(id.toLong)))
    val rec = new JobRec(j.jobId, j.time, Tracer.moduleOf(own, sql))
    jobs.put(j.jobId, rec)
    j.stageIds.foreach(s => stageJob.putIfAbsent(s, rec))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobs.get(j.jobId)).foreach(r => r.synchronized { r.end = j.time })

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(t.stageId)).foreach { r =>
      r.synchronized {
        r.tasks += 1
        if (t.taskInfo != null) {
          r.taskMs += t.taskInfo.duration
          if (t.taskInfo.failed || t.taskInfo.killed) r.failedTasks += 1
        }
        val m = t.taskMetrics
        if (m != null) {
          if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead > 0)
            r.usefulTasks += 1
          r.gcMs += m.jvmGCTime
          r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          r.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    if (ph.nonEmpty)
      plans.add(PlanRec(ph.values.map(_.startTimeMs).min,
        ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  def jobRecords: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
  def planRecords: Seq[PlanRec] = plans.asScala.toSeq
  /** Job-start events seen, counted apart from the records. */
  def jobsStarted: Int = started.get
}

object Tracer {
  /** The layers jobs are attributed to: the repo's modules, the
    * benchmark's own action, and `other`. */
  val Modules: Seq[String] = Seq("Tables", "Pins", "Pipeline", "SparkEntry",
    "ingest", "transform", "operators", "warehouse", "export", "analytics",
    "ext", "plans", "streaming", "functions", "action", "other")

  /** Stack frames of a call site, without `loader//` prefixes. */
  private def frames(site: String): Iterator[String] =
    site.linesIterator.map(_.trim.replaceFirst("^\\S*/", ""))

  /** `graft.warehouse.StarWarehouse$.write(...)` -> `warehouse`;
    * `graft.Tables$.table(...)` -> `Tables`. */
  private[perfbench] def moduleOfFrame(frame: String): String = {
    val method = frame.takeWhile(_ != '(')
    val cls = method.substring(0, method.lastIndexOf('.')).stripPrefix("graft.")
    val parts = cls.split('.')
    if (parts.length > 1) parts(0) else parts(0).takeWhile(_ != '$')
  }

  private def graftModule(site: String): Option[String] =
    frames(site).find(_.startsWith("graft.")).map(moduleOfFrame)

  private def benchmarkFrame(site: String): Boolean =
    frames(site).exists(_.startsWith("perfbench."))

  private[perfbench] def moduleOf(own: String, sql: Option[String]): String =
    graftModule(own).orElse(sql.flatMap(graftModule))
      .orElse(Option.when(benchmarkFrame(own) || sql.exists(benchmarkFrame))(
        "action"))
      .filter(Modules.contains).getOrElse("other")
}
