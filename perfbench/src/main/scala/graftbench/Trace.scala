package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, LeafExecNode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: `id` groups the spans of one query run, `parent`
  * names the enclosing span (a layer span for jobs, a job for stages). */
final case class Span(id: String, name: String, startMs: Long, endMs: Long,
    parent: String) {
  def json: String =
    s"""{"id":${Json.str(id)},"name":${Json.str(name)},"start_ms":$startMs,"end_ms":$endMs,"parent":${Json.str(parent)}}"""
}

/** Operator census of one executed physical plan. Scans are keyed by
  * table (file-backed scans) or by leaf kind (local, RDD, range). */
final case class Census(exchanges: Int = 0, reusedExchanges: Int = 0,
    joins: Int = 0, aggregates: Int = 0, windows: Int = 0,
    scans: Map[String, Int] = Map.empty) {
  def nScans: Int = scans.values.sum
  /** file-backed scans beyond the first of each table */
  def redundantScans: Int =
    scans.collect { case (k, n) if k.startsWith("table:") => n - 1 }.sum
  def +(o: Census): Census = Census(exchanges + o.exchanges,
    reusedExchanges + o.reusedExchanges, joins + o.joins,
    aggregates + o.aggregates, windows + o.windows,
    (scans.keySet ++ o.scans.keySet).map(k =>
      k -> (scans.getOrElse(k, 0) + o.scans.getOrElse(k, 0))).toMap)
  def json: String = {
    val sc = scans.toSeq.sorted.map { case (k, n) => s"${Json.str(k)}:$n" }
    s"""{"exchanges":$exchanges,"reused_exchanges":$reusedExchanges,"joins":$joins,"scans":$nScans,"redundant_scans":$redundantScans,"aggregates":$aggregates,"windows":$windows,"scans_by_table":{${sc.mkString(",")}}}"""
  }
}

object Census {
  /** Walks the final (post-AQE) plan as a tree: adaptive wrappers and
    * query stages are looked through, subquery plans are included, and a
    * reused exchange's subtree is counted like any other, so the census
    * shows the plan's size; `reusedExchanges` says how much of it ran
    * once for several consumers. */
  def of(plan: SparkPlan): Census = {
    var c = Census()
    def add(k: String): Unit =
      c = c.copy(scans = c.scans.updated(k, c.scans.getOrElse(k, 0) + 1))
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case q: QueryStageExec => walk(q.plan); return
        case r: ReusedExchangeExec =>
          c = c.copy(reusedExchanges = c.reusedExchanges + 1)
          walk(r.child); return
        case _: Exchange => c = c.copy(exchanges = c.exchanges + 1)
        case _: BaseJoinExec | _: CartesianProductExec => c = c.copy(joins = c.joins + 1)
        case _: BaseAggregateExec => c = c.copy(aggregates = c.aggregates + 1)
        case _: WindowExecBase => c = c.copy(windows = c.windows + 1)
        case f: FileSourceScanExec =>
          add("table:" + f.relation.location.rootPaths.map(_.getName
            .stripSuffix(".parquet")).sorted.mkString(","))
        case b: BatchScanExec => add("table:" + b.table.name())
        case l: LeafExecNode => add("leaf:" + l.nodeName)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    c
  }
}

/** Cumulative task and scheduler counters; deltas between two snapshots
  * taken at drained boundaries give one layer's figures. */
final case class Counters(jobs: Long, stages: Long, tasks: Long,
    failures: Long, runMs: Long, cpuNs: Long, gcMs: Long, fetchMs: Long,
    shWrite: Long, shRead: Long, spill: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, failures - o.failures, runMs - o.runMs, cpuNs - o.cpuNs,
    gcMs - o.gcMs, fetchMs - o.fetchMs, shWrite - o.shWrite,
    shRead - o.shRead, spill - o.spill)
}

/** Task run and CPU time of everything that ran: the always-on storm
  * signal (a descheduled task thread inflates run time, not CPU time). */
final class TaskClock extends SparkListener {
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
    }
  }
}

/** The traced run's single listener: scheduler and task counters, job
  * and stage spans, and the query executions that complete while it is
  * on. Spans and executions are kept in memory and read by the harness
  * only after draining the listener bus. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var on = false
  /** query-run id and enclosing layer span, set by the harness */
  @volatile var runId = ""
  @volatile var layer = ""

  private val jobs, stages, tasks, failures, runMs, cpuNs, gcMs, fetchMs,
    shWrite, shRead, spill = new AtomicLong
  private val peakMem = new AtomicLong
  private val jobStarts = mutable.Map.empty[Int, (Long, String, String)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val qes = mutable.ArrayBuffer.empty[QueryExecution]

  def counters: Counters = Counters(jobs.get, stages.get, tasks.get,
    failures.get, runMs.get, cpuNs.get, gcMs.get, fetchMs.get, shWrite.get,
    shRead.get, spill.get)
  /** peak execution memory of any task since the last reset */
  def resetPeak(): Unit = peakMem.set(0)
  def peak: Long = peakMem.get
  def addSpan(s: Span): Unit = spanBuf.synchronized(spanBuf += s)
  def spans: Seq[Span] = spanBuf.synchronized(spanBuf.toList)
  def executions: Int = qes.synchronized(qes.size)
  def executionsSince(i: Int): Seq[QueryExecution] =
    qes.synchronized(qes.drop(i).toList)
  def clearExecutions(): Unit = qes.synchronized(qes.clear())

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    jobs.incrementAndGet()
    jobStarts.synchronized {
      jobStarts(e.jobId) = (e.time, runId, layer)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) {
    jobStarts.synchronized(jobStarts.remove(e.jobId)).foreach {
      case (t0, id, parent) => addSpan(Span(id, s"job ${e.jobId}", t0, e.time, parent))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
    stages.incrementAndGet()
    val i = e.stageInfo
    val job = jobStarts.synchronized(stageJob.remove(i.stageId))
    addSpan(Span(runId, s"stage ${i.stageId}", i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), job.map(j => s"job $j").getOrElse(layer)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
    tasks.incrementAndGet()
    if (e.reason != Success) failures.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      fetchMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled)
      peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) qes.synchronized(qes += qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** The few JSON writers the run record needs. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
