package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Task totals over one measuring window, from task-end events. */
final class TaskTotals {
  var jobs, stages, tasks = 0L
  var cpuNs, gcMs, shuffleWrite, shuffleRead = 0L
  var spillMem, spillDisk, outputBytes, peakTaskMem = 0L

  /** Bytes written to local disk: shuffle files, sort spill and the
    * files that tasks write (index and other parquet outputs). */
  def diskWriteBytes: Long = shuffleWrite + spillDisk + outputBytes
}

/** Observes what actually ran, from outside the engine; registered only
  * in traced runs.
  *
  *  - As a `SparkListener` it sums task metrics into the current window.
  *  - As a `QueryExecutionListener` it reads, while `tracing`, the planning
  *    phases and operator metrics of every QueryExecution that finished.
  *    The metrics must come from that QueryExecution: a `Dataset.count()`
  *    plans a fresh aggregate, so the caller's own `df.queryExecution`
  *    would show zero spill.
  *
  * Listener events arrive on Spark's bus threads; callers drain the bus
  * ([[org.apache.spark.perfbench.Bus.drain]]) before reading a window. */
final class Collector extends SparkListener with QueryExecutionListener {
  private var window = new TaskTotals
  @volatile var tracing = false
  /** Label the operator metrics are filed under (the running query). */
  @volatile var label = ""
  private val planMetrics = mutable.Map.empty[String, Double]
  // a cached relation's plan runs once, where the cache is first built;
  // later readers of the cache must not count its operators again
  private val seenCached = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])

  /** Start a new window; returns the totals of the one that ended. */
  def roll(): TaskTotals = synchronized {
    val w = window
    window = new TaskTotals
    w
  }

  /** Operator metrics gathered since the last call, keyed
    * `<label>|<metric>`. */
  def takePlanMetrics(): Map[String, Double] = synchronized {
    val m = planMetrics.toMap
    planMetrics.clear()
    m
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { window.jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { window.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val w = window
      w.tasks += 1
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.spillMem += m.memoryBytesSpilled
      w.spillDisk += m.diskBytesSpilled
      w.outputBytes += m.outputMetrics.bytesWritten
      w.peakTaskMem = w.peakTaskMem.max(m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = if (tracing) synchronized {
    val phases = qe.tracker.phases
    for (p <- Seq("analysis", "optimization", "planning"))
      add(s"catalyst.${p}_s", phases.get(p).map(_.durationMs / 1000.0)
        .getOrElse(0.0))
    walk(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  private def add(metric: String, v: Double): Unit = {
    val k = s"$label|$metric"
    planMetrics(k) = planMetrics.getOrElse(k, 0.0) + v
  }

  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

  /** `cached`: `p` is part of the plan that builds a cached relation. */
  private def walk(p: SparkPlan, cached: Boolean = false): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, cached)
    case s: QueryStageExec => walk(s.plan, cached)
    case _: ReusedExchangeExec => () // counted where it first ran
    case m: InMemoryTableScanExec =>
      if (seenCached.add(m.relation.cachedPlan))
        walk(m.relation.cachedPlan, cached = true)
    case _ =>
      p match {
        case f: FileSourceScanExec =>
          add("tables.scan_rows", metric(f, "numOutputRows"))
          add("tables.scan_bytes", metric(f, "filesSize"))
          add("tables.scan_s", metric(f, "scanTime") / 1000.0)
        case j: BaseJoinExec if cached =>
          add("cached_join_rows", metric(j, "numOutputRows"))
        case a: ObjectHashAggregateExec =>
          add("sort_fallback_tasks", metric(a, "numTasksFallBacked"))
        case _ => ()
      }
      add("spill_bytes", metric(p, "spillSize"))
      p.children.foreach(walk(_, cached))
      p.subqueries.foreach(walk(_, cached))
  }
}
