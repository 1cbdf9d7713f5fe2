package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{LeafExecNode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters for the traced run, attributed by the
  * `perfbench.tag` local property the benchmark sets on the thread that
  * submits each operation's jobs (child threads inherit it).
  *
  * One instance is registered as both a [[SparkListener]] (jobs, stages,
  * tasks, shuffle, spill, GC, queueing) and a [[QueryExecutionListener]]
  * (Catalyst phases of every executed query). It is registered right
  * before the traced operations, so set-up and warm-up work never reach
  * it. A query's listener event carries no local properties, so Catalyst
  * time is not tagged: [[takeCatalystMs]] returns the time since its last
  * call, for traced sections that run one after another. Spark delivers
  * all these events asynchronously: read the counters only after
  * [[awaitDrained]].
  */
final class Trace extends SparkListener with QueryExecutionListener {

  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var queueMs = 0.0
    var queuedJobs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
    var gcMs = 0L
  }

  private val byTag = mutable.HashMap.empty[String, Acc]
  private val jobTag = mutable.HashMap.empty[Int, String]
  private val jobSubmit = mutable.HashMap.empty[Int, Long]
  private val openJobs = mutable.HashSet.empty[Int]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private var catalystMs = 0.0
  private var lastEventNs = System.nanoTime()

  private def acc(tag: String): Acc = byTag.getOrElseUpdate(tag, new Acc)
  private def seen(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    seen()
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.TagKey)))
      .getOrElse("untagged")
    jobTag(e.jobId) = tag
    jobSubmit(e.jobId) = e.time
    openJobs += e.jobId
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    acc(tag).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    seen()
    openJobs -= e.jobId
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    seen()
    for (job <- stageJob.get(e.stageId); t0 <- jobSubmit.remove(job)) {
      val a = acc(jobTag(job))
      a.queueMs += math.max(0L, e.taskInfo.launchTime - t0)
      a.queuedJobs += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    seen()
    for (job <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = acc(jobTag(job))
      a.tasks += 1
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
      a.gcMs += m.jvmGCTime
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      seen()
      catalystMs += Trace.catalystMs(qe)
    }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  /** Block until every job seen so far has ended and no event has
    * arrived for `quietMs`, so the counters hold all the traced work.
    */
  def awaitDrained(quietMs: Long = 500, timeoutMs: Long = 30000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def drained = synchronized(openJobs.isEmpty &&
      System.nanoTime() - lastEventNs > quietMs * 1000000L)
    while (!drained && System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** Totals over every tag whose name satisfies `keep`. */
  def totals(keep: String => Boolean): Acc = synchronized {
    val t = new Acc
    byTag.collect { case (k, a) if keep(k) => a }.foreach { a =>
      t.jobs += a.jobs; t.tasks += a.tasks; t.queueMs += a.queueMs
      t.queuedJobs += a.queuedJobs; t.shuffleWrite += a.shuffleWrite
      t.spill += a.spill; t.input += a.input; t.output += a.output
      t.gcMs += a.gcMs
    }
    t
  }

  /** Catalyst time of the queries that succeeded since the last call. */
  def takeCatalystMs(): Double = synchronized {
    val ms = catalystMs
    catalystMs = 0.0
    ms
  }

  /** Worst max/median task-duration ratio over the stages with ≥ 2
    * tasks of jobs whose tag satisfies `keep`.
    */
  def taskSkew(keep: String => Boolean): Double = synchronized {
    val ratios = stageTaskMs.collect {
      case (stage, ds) if ds.size >= 2 && stageJob.get(stage).exists(j => keep(jobTag(j))) =>
        val s = ds.sorted
        s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

object Trace extends AdaptiveSparkPlanHelper {
  val TagKey = "perfbench.tag"

  /** Catalyst time of one query: its analysis, optimization and
    * planning phases from `QueryExecution.tracker`.
    */
  def catalystMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum

  /** Rows produced by the plan's leaf scans, across adaptive stages and
    * subqueries (scan pruning shows as fewer rows read per row served).
    */
  def rowsRead(plan: SparkPlan): Long =
    collectWithSubqueries(plan) {
      case l: LeafExecNode if !l.isInstanceOf[QueryStageExec] &&
          !l.isInstanceOf[ReusedExchangeExec] =>
        l.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}
