package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one place a graft program builds its SparkSession, and the one
  * task-metrics listener the timing tools share.
  *
  * Two conf sets:
  *  - [[baseConfs]]: `local[n]` with n shuffle partitions (the 200
  *    default over-partitions a single node), UTC session time zone, no
  *    UI, ANSI off (the engine posture the oracle compare assumes: a 0/0
  *    ratio reads NULL instead of killing the query). Verify, the test
  *    session and the non-timing tools run on it.
  *  - [[benchConfs]]: base plus Bench's measured extras. Bench and every
  *    tool whose timings must compare with Bench's fold run on it.
  */
object GraftSession {

  def baseConfs(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.ansi.enabled" -> "false")

  def benchConfs(cores: Int): Seq[(String, String)] = baseConfs(cores) ++ Seq(
    // AQE on for runtime coalesce/skew handling, exactly the posture a
    // real cluster run would use
    "spark.sql.adaptive.enabled" -> "true",
    // Shuffle-writer selection (r20 optimization round, measured):
    // with shuffle.partitions = cores (32) every shuffle sits under
    // the bypass-merge writer's default threshold (200), and that
    // writer creates M x R partition files per shuffle and
    // re-concatenates them — jstack sampling showed shuffle-write
    // file I/O dominating task run time (run >> cpu across the md5
    // family; OPTIMIZATION_r20.md §shuffle-writer). Forcing the
    // sort-based writer (ONE file + index per map task) measured
    // -20..-33% on shuffle-heavy queries at sf0.1. At production
    // partition counts (> 200) bypass never engages, so this selects
    // exactly the writer a 100 TB run uses. The threshold is read when
    // the context starts, so an A/B goes through MicroBench's
    // SPARK_GRAFT_CONF overlay.
    "spark.shuffle.sort.bypassMergeThreshold" -> "2",
    // AQE coalesce floor (r21 optimization round, measured): AQE's
    // partition coalescing targets the cluster parallelism
    // (parallelismFirst=true, the default) but never builds a
    // partition smaller than minPartitionSize (default 1m) — and at
    // this SF most post-shuffle stages carry only a few MB, so the
    // 1m floor overrides the parallelism target and serializes
    // merge/join/verify stages onto 2-6 tasks (StageProfile:
    // q_approx_distinct's distinct-merge ran 1.2 task-CPU-s on 2
    // tasks). Lowering the floor to 64k lets those stages spread to
    // the core count. Interleaved same-JVM A/B (ConfAB, alternating
    // arm order, min of 5-6): 11 of 12 comparisons favored 64k,
    // ratios 1.1-2.1x. At production scale post-shuffle partitions
    // are tens of MB and the floor never binds — decisions are
    // identical to the default — so this only makes the bench engage
    // the cores a production stage would. A runtime conf: ConfAB
    // A/Bs it.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k")

  def base(cores: Int): SparkSession.Builder = builder(baseConfs(cores))

  def bench(cores: Int): SparkSession.Builder = builder(benchConfs(cores))

  private def builder(confs: Seq[(String, String)]): SparkSession.Builder =
    confs.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }

  /** Bench's warm-up pair, so the first timed query isn't billed
    * JVM/codegen startup: a scan plus a small decimal groupBy-agg
    * (compiles the hash-agg + decimal codegen paths the first real
    * queries use). */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_regionkey")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("r_regionkey").cast("decimal(27,6)")))
      .count()
  }

  /** Drop every cached plan and persisted RDD, so the next measured run
    * is billed standalone: no cross-query/rep cache reuse. Checkpoint-
    * backed results (the dedup pipelines) live as persisted RDDs outside
    * the cacheManager, so their blocks go too. */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** One completed stage: the first line of its call site, task count,
    * wall (submission -> completion), summed task run/CPU time and
    * shuffle-write bytes. */
  final case class StageRow(id: Int, name: String, tasks: Int, wallMs: Long,
      runMs: Long, cpuNs: Long, shuffleWriteBytes: Long)

  /** Sums task metrics across everything that ran; snapshot deltas give a
    * per-rep reading. GC and shuffle-fetch/write waits are legitimate
    * non-CPU task time, so they are tracked and subtracted before
    * Bench's run-vs-cpu dilation compare. Completed stages queue up as
    * [[StageRow]]s until [[takeStages]] drains them (a full Bench fold,
    * which never reads them, holds ~10^4 small rows). */
  final class TaskClock extends SparkListener {
    val runMs = new AtomicLong
    val cpuNs = new AtomicLong
    val gcMs = new AtomicLong
    val waitNs = new AtomicLong
    val nTasks = new AtomicLong
    private val nStages = new AtomicLong
    private val stages = new ConcurrentLinkedQueue[StageRow]
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      nTasks.incrementAndGet()
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        waitNs.addAndGet(m.shuffleReadMetrics.fetchWaitTime * 1000000L +
          m.shuffleWriteMetrics.writeTime)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val wall = (for {
        s <- si.submissionTime; c <- si.completionTime
      } yield c - s).getOrElse(0L)
      val m = si.taskMetrics
      stages.add(StageRow(si.stageId, si.name.linesIterator.nextOption().getOrElse(""),
        si.numTasks, wall,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten))
      nStages.incrementAndGet()
    }
    def snapshot: (Long, Long, Long, Long, Long) =
      (runMs.get, cpuNs.get, gcMs.get, waitNs.get, nTasks.get)
    /** listener-bus events post async; poll until the counters settle so a
      * rep's tasks aren't attributed to the next rep */
    def settledSnapshot(): (Long, Long, Long, Long, Long) = {
      def read = (snapshot, nStages.get)
      var prev = read
      var waited = 0
      while (waited < 500) {
        Thread.sleep(10); waited += 10
        val cur = read
        if (cur == prev) return cur._1
        prev = cur
      }
      prev._1
    }
    /** the stages completed since the last take, in completion order */
    def takeStages(): Seq[StageRow] =
      Iterator.continually(stages.poll()).takeWhile(_ != null).toVector
    /** [[takeStages]] once the listener bus has settled */
    def settledStages(): Seq[StageRow] = { settledSnapshot(); takeStages() }
  }
}
