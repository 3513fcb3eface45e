package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Scheduler totals of the jobs that ran under one job group. */
final class JobTotals {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var scanRows = 0L

  def +=(o: JobTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; scanRows += o.scanRows
  }
}

/** Attributes jobs, stages and task metrics to the job group that was
  * set when each job started. Attribution goes by group, not by
  * timestamps, because the listener bus is asynchronous: read the totals
  * only after the bus has been drained. */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, JobTotals]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def totals(g: String) = byGroup.getOrElseUpdate(g, new JobTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        totals(g).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(totals(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val t = totals(g)
      t.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.diskBytesSpilled
        t.scanRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Sum over the groups whose id passes `keep`. */
  def sum(keep: String => Boolean): JobTotals = synchronized {
    val out = new JobTotals
    byGroup.foreach { case (g, t) => if (keep(g)) out += t }
    out
  }
}

/** One streaming trigger's progress, as the engine reported it. */
final case class Trigger(runId: String, inputRows: Long, planMs: Long,
    addBatchMs: Long, walCommitMs: Long, stateRows: Long, stateBytes: Long)

/** Collects every streaming progress report. */
final class TriggerListener extends StreamingQueryListener {
  private val seen = mutable.ArrayBuffer.empty[Trigger]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val t = Trigger(p.runId.toString, p.numInputRows, d("queryPlanning"),
      d("addBatch"), d("walCommit"),
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum)
    synchronized(seen += t)
  }

  def triggers: Seq[Trigger] = synchronized(seen.toList)
}

/** Counts in an operation's final executed plan. `nativeNodes` counts
  * graft's own Catalyst nodes from `plans/`: physical operators and the
  * expressions and aggregate functions inside any operator. `scanBytes` is the
  * size of the files the parquet scans selected: the tasks' input-bytes
  * counter misses reads that the parquet reader does off the task thread. */
final case class PlanShape(exchanges: Int, nativeNodes: Int, scanBytes: Long)

object PlanShape {
  /** A reused exchange is not counted again; under adaptive execution
    * the walk follows the final plan. */
  def apply(plan: SparkPlan): PlanShape = {
    val nodes = walk(plan)
    PlanShape(
      nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      nodes.map(n => (if (native(n)) 1 else 0) +
        n.expressions.map(_.collect { case e if native(e) => e }.size).sum).sum,
      nodes.collect { case s: FileSourceScanExec =>
        s.metrics.get("filesSize").map(_.value).getOrElse(0L) }.sum)
  }

  private def native(node: AnyRef): Boolean =
    node.getClass.getName.startsWith("graft.plans.")

  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    case _: ReusedExchangeExec => Nil
    case other =>
      other +: (other.children.flatMap(walk) ++ other.subqueries.flatMap(walk))
  }
}
