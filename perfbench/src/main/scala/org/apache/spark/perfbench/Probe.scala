package org.apache.spark.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own counters, read by a listener the benchmark registers: jobs,
  * stages and tasks, task time and CPU, shuffle and spill bytes, planning
  * time and exchanges of each executed query, and the wall intervals of
  * jobs (for the driver gap). Lives in an `org.apache.spark` package only
  * to reach the listener bus's `waitUntilEmpty`.
  */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Probe.Counts

  private var c = Counts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val jobStart = mutable.Map.empty[Int, Long]
  // (start, end) wall millis of every finished job
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def counts: Counts = synchronized(c)

  /** Blocks until every event posted so far has reached this listener. */
  def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Milliseconds of `[from, to]` covered by no job. */
  def gapMs(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    (to - from) - covered
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
      tasks = c.tasks + 1,
      taskNs = c.taskNs + m.executorRunTime * 1000000L,
      taskCpuNs = c.taskCpuNs + m.executorCpuTime,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      output = c.output + m.outputMetrics.bytesWritten)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    val ex = collectWithSubqueries(qe.executedPlan) {
      case p: ShuffleExchangeLike => p
      case p: BroadcastExchangeLike => p
    }.size
    synchronized {
      c = c.copy(planNs = c.planNs + planMs * 1000000L, exchanges = c.exchanges + ex)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Probe {
  final case class Counts(jobs: Long, stages: Long, tasks: Long, taskNs: Long,
      taskCpuNs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      planNs: Long, exchanges: Long, output: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, taskNs - o.taskNs, taskCpuNs - o.taskCpuNs,
      shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
      spill - o.spill, planNs - o.planNs, exchanges - o.exchanges,
      output - o.output)
    def toMap: Map[String, Long] = Map("jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "task_ns" -> taskNs, "task_cpu_ns" -> taskCpuNs,
      "shuffle_write_b" -> shuffleWrite, "shuffle_read_b" -> shuffleRead,
      "spill_b" -> spill, "plan_ns" -> planNs, "exchanges" -> exchanges,
      "output_b" -> output)
  }

  def attach(spark: SparkSession): Probe = {
    val p = new Probe(spark)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  def detach(spark: SparkSession, p: Probe): Unit = {
    p.drain()
    spark.listenerManager.unregister(p)
    spark.sparkContext.removeSparkListener(p)
  }

  /** Plans held by the session's cache manager. */
  def cachedPlans(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[Seq[_]].size
  }
}
