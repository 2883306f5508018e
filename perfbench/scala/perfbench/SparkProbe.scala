package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Per-job accounting for the traced run.
  *
  * Each job is tagged with the request that submitted it through the
  * `perfbench.req` local property, and each task is credited to the job
  * that owns its stage (stageId → jobId, first claim wins: a stage that a
  * later job lists again is skipped there and runs no tasks). Times are the
  * scheduler's own event times, so a job's span is end − start of the same
  * clock and never negative. Read only after [[drain]].
  */
final class JobProbe extends SparkListener {
  final class Job(val id: Int, val req: Long, val start: Long) {
    var end: Long = -1L
    var tasks: Int = 0
    var taskMs: Double = 0.0
    var shuffleBytes: Long = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val req = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobProbe.ReqProp)))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new Job(e.jobId, req, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def jobsOf(req: Long): Seq[Job] = synchronized(jobs.values.filter(_.req == req).toList)

  def clear(): Unit = synchronized { jobs.clear(); stageJob.clear() }
}

object JobProbe {
  val ReqProp = "perfbench.req"

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Milliseconds of [t0, t1] covered by at least one of `ivs`. */
  def unionMs(ivs: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur = (-1L, -1L)
    clipped.foreach { case (a, b) =>
      if (a > cur._2) {
        if (cur._2 > cur._1) total += cur._2 - cur._1
        cur = (a, b)
      } else cur = (cur._1, math.max(cur._2, b))
    }
    if (cur._2 > cur._1) total += cur._2 - cur._1
    total
  }
}

/** Scan statistics of each executed query, read from the final physical
  * plan (adaptive stages included): files read against files listed, rows
  * the scans produced, and whether the plan reads an index. */
final class PlanProbe(indexPaths: () => Seq[String]) extends QueryExecutionListener {
  final case class Scan(filesRead: Long, filesListed: Long, rowsScanned: Long,
                        readsIndex: Boolean)

  private val seen = mutable.ArrayBuffer.empty[Scan]

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  override def onSuccess(funcName: String,
                         qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = {
    val all = nodes(qe.executedPlan)
    val idx = indexPaths()
    var read, listed, rows = 0L
    var readsIndex = all.exists(_.getClass.getSimpleName.contains("GraphCandidates"))
    all.foreach {
      case s: FileSourceScanExec =>
        read += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        listed += s.relation.location.inputFiles.length
        rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        val roots = s.relation.location.rootPaths.map(_.toString)
        if (roots.exists(r => idx.exists(i => r.contains(i)))) readsIndex = true
      case _ =>
    }
    synchronized { seen += Scan(read, listed, rows, readsIndex) }
  }

  override def onFailure(funcName: String,
                         qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()

  /** Scans recorded since the last call. */
  def take(): Seq[Scan] = synchronized { val s = seen.toList; seen.clear(); s }
}
