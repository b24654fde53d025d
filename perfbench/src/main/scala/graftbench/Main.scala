package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.QueryDef

/** One benchmark run in one JVM: set up a session, run one untimed
  * warm-up pass that writes every query's output once for the oracle
  * check, then run timed passes for the requested seconds. With `--trace 1` the
  * timed passes alternate between untraced and traced, and the traced
  * ones record each query's layer split, spans and plan census.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *   --out DIR --cores C
  *
  * Writes `<out>/result.json` and `<out>/verify/<query>/` parquet; the
  * metrics are computed from these by perfbench/run.py.
  */
object Main {

  sealed trait Item { def name: String; def oracle: Option[String] }
  final case class Def(d: QueryDef) extends Item {
    def name: String = d.name
    def oracle: Option[String] = d.oracle
  }
  final case class Gen(p: Program) extends Item {
    def name: String = p.name
    def oracle: Option[String] = Some(p.sql)
  }

  /** One query run of a traced pass, split by layer. */
  final case class Layers(query: String, pass: Int, graph: Boolean,
      wallS: Double, constructS: Double, buildMs: Double, resultMs: Double,
      construct: Counters, analysisMs: Double, optimizationMs: Double,
      planningMs: Double, execS: Double, exec: Counters, peakMem: Long,
      census: Census) {
    def json: String = {
      def cj(c: Counters) = Json.obj(Seq(
        "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
        "tasks" -> c.tasks.toString, "task_failures" -> c.failures.toString,
        "task_run_s" -> Json.num(c.runMs / 1e3),
        "task_cpu_s" -> Json.num(c.cpuNs / 1e9),
        "gc_s" -> Json.num(c.gcMs / 1e3),
        "fetch_wait_s" -> Json.num(c.fetchMs / 1e3),
        "shuffle_write_mb" -> Json.num(c.shWrite / 1e6),
        "shuffle_read_mb" -> Json.num(c.shRead / 1e6),
        "spill_mb" -> Json.num(c.spill / 1e6)))
      Json.obj(Seq(
        "query" -> Json.str(query), "pass" -> pass.toString,
        "graph" -> graph.toString, "wall_s" -> Json.num(wallS),
        "construct_s" -> Json.num(constructS),
        "build_ms" -> Json.num(buildMs), "result_ms" -> Json.num(resultMs),
        "construct" -> cj(construct),
        "analysis_ms" -> Json.num(analysisMs),
        "optimization_ms" -> Json.num(optimizationMs),
        "planning_ms" -> Json.num(planningMs),
        "exec_s" -> Json.num(execS), "exec" -> cj(exec),
        "peak_exec_mem_mb" -> Json.num(peakMem / 1e6),
        "census" -> census.json))
    }
  }

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  /** steal+iowait and total jiffies from /proc/stat's aggregate line */
  private def cpuStat(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (v.lift(4).getOrElse(0L) + v.lift(7).getOrElse(0L), v.sum)
      } finally f.close()
    } catch { case _: Throwable => (0L, 0L) }

  private def vmHwmMb(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/self/status")
      try f.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
      finally f.close()
    } catch { case _: Throwable => Double.NaN }

  /** The session Bench uses (graft.Bench): AQE on, the sort-based shuffle
    * writer, the 64k AQE coalesce floor, shuffle partitions = cores. Local
    * and warehouse dirs stay under the run's work dir. */
  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traceOn = arg(args, "trace") == "1"
    val data = arg(args, "data")
    val out = arg(args, "out")
    val cores = arg(args, "cores").toInt
    val items: Seq[Item] = Workloads(workload, seed)

    val tSetup = System.nanoTime()
    val spark = session(cores, out)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tSetup) / 1e9
    val sc = spark.sparkContext
    val clock = new TaskClock
    sc.addSparkListener(clock)
    val tracer = new Tracer
    if (traceOn) {
      sc.addSparkListener(tracer)
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .listenerManager.register(tracer)
    }

    val failed = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0
    var failedRuns = 0
    def fail(name: String, t: Throwable): Unit = {
      failedRuns += 1
      System.err.println(s"[perfbench] FAILED $name: ${t.getMessage}")
      failed.getOrElseUpdate(name, String.valueOf(t.getMessage).take(300))
    }
    def clearCaches(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    def drain(): Unit = Bus.drain(sc)

    /** builds the query's frame; returns it with (build ms, result ms) for
      * generated programs */
    def construct(item: Item, traced: Boolean): (DataFrame, Double, Double) =
      item match {
        case Def(d) =>
          tracer.layer = "queries.construct"
          (d.fn(spark, data), 0.0, 0.0)
        case Gen(p) =>
          tracer.layer = "core.build"
          val t0 = System.nanoTime()
          val g = p.build(spark, data)
          val buildMs = (System.nanoTime() - t0) / 1e6
          if (traced) drain()
          tracer.layer = "core.result"
          val t1 = System.nanoTime()
          val df = p.finish(g.result(p.node))
          (df, buildMs, (System.nanoTime() - t1) / 1e6)
      }

    val layers = mutable.ArrayBuffer.empty[Layers]

    /** one query from the construct call to the end of the noop sink;
      * None when it threw */
    def runOne(item: Item, pass: Int, traced: Boolean): Option[Double] = {
      clearCaches()
      // start every query, traced or not, with the previous one's listener
      // events delivered (graft.Bench settles its task clock the same way)
      drain()
      attempted += 1
      val id = s"$pass/${item.name}"
      if (traced) {
        tracer.runId = id
        tracer.clearExecutions()
        tracer.on = true
      }
      val c0 = tracer.counters
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val (df, buildMs, resultMs) = construct(item, traced)
        val t1 = System.nanoTime()
        val w1 = System.currentTimeMillis()
        var c1 = c0
        var mark = 0
        if (traced) {
          drain()
          c1 = tracer.counters
          mark = tracer.executions
          tracer.resetPeak()
          tracer.layer = "sink.write"
        }
        val w2 = System.currentTimeMillis()
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        val w3 = System.currentTimeMillis()
        val wall = (t3 - t0) / 1e9
        if (traced) {
          drain()
          val c2 = tracer.counters
          val qes = tracer.executionsSince(mark)
          // the frame's own tracker holds its analysis and the sink
          // command's; the write's inner execution optimizes and plans
          val trackers = df.queryExecution.tracker +: qes.map(_.tracker)
          def phase(p: String): Double = trackers.map(t =>
            t.phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)).sum
          val census = qes.map(q => Census.of(q.executedPlan))
            .foldLeft(Census())(_ + _)
          layers += Layers(item.name, pass, item.isInstanceOf[Gen], wall,
            (t1 - t0) / 1e9, buildMs, resultMs, c1 - c0, phase("analysis"),
            phase("optimization"), phase("planning"), (t3 - t2) / 1e9,
            c2 - c1, tracer.peak, census)
          val constructSpans = item match {
            case _: Def => Seq(Span(id, "queries.construct", w0, w1, "query"))
            case _: Gen =>
              Seq(Span(id, "core.build", w0, w0 + buildMs.toLong, "query"),
                Span(id, "core.result", w1 - resultMs.toLong, w1, "query"))
          }
          (constructSpans :+ Span(id, "sink.write", w2, w3, "query"))
            .foreach(tracer.addSpan)
          for (t <- trackers; (p, s) <- t.phases)
            tracer.addSpan(Span(id, s"catalyst.$p", s.startTimeMs, s.endTimeMs,
              "sink.write"))
          tracer.on = false
        }
        Some(wall)
      } catch {
        case t: Throwable =>
          tracer.on = false
          fail(item.name, t)
          None
      }
    }

    // set-up: the session plus one untimed warm-up pass, which is also
    // the correctness pass: every query's checked output is written once
    // for the oracle compare (this compiles the same plans the timed
    // passes run, up to the sink)
    val verifyFailed = mutable.LinkedHashMap.empty[String, String]
    val warmup = mutable.ArrayBuffer.empty[(String, Double)]
    items.foreach { item =>
      clearCaches()
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val df = item match {
          case Def(d) => d.verifyFn.getOrElse(d.fn)(spark, data)
          case Gen(p) => p.finish(p.build(spark, data).result(p.node))
        }
        df.write.mode("overwrite").parquet(s"$out/verify/${item.name}")
      } catch {
        case t: Throwable =>
          System.err.println(s"[perfbench] VERIFY FAILED ${item.name}: ${t.getMessage}")
          verifyFailed(item.name) = String.valueOf(t.getMessage).take(300)
      }
      warmup += item.name -> (System.nanoTime() - t0) / 1e9
    }
    clearCaches()
    val setupS = (System.nanoTime() - tSetup) / 1e9

    // timed passes for the requested seconds, at least one. With tracing,
    // at least two, and queries alternate: a query traced in one pass is
    // untraced in the next, so each pass pair runs every query both ways
    // and the warm-up trend across passes cancels out of the overhead.
    final case class Run(query: String, wallS: Double, traced: Boolean)
    val passes = mutable.ArrayBuffer.empty[Seq[Run]]
    val minPasses = if (traceOn) 2 else 1
    val (stall0, jiffies0) = cpuStat()
    val (run0, cpu0) = (clock.runMs.get, clock.cpuNs.get)
    val tTimed = System.nanoTime()
    while (passes.size < minPasses || (System.nanoTime() - tTimed) / 1e9 < seconds) {
      val n = passes.size + 1
      passes += items.zipWithIndex.flatMap { case (item, i) =>
        val traced = traceOn && (n + i) % 2 == 0
        runOne(item, n, traced).map(Run(item.name, _, traced))
      }
    }
    Bus.drain(sc)
    val (stall1, jiffies1) = cpuStat()
    val stealFrac = if (jiffies1 > jiffies0)
      (stall1 - stall0).toDouble / (jiffies1 - jiffies0) else 0.0
    val runS = (clock.runMs.get - run0) / 1e3
    val cpuS = (clock.cpuNs.get - cpu0) / 1e9
    clearCaches()
    val rss = vmHwmMb()

    val json = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "cores" -> cores.toString, "trace" -> traceOn.toString,
      "setup_s" -> Json.num(setupS), "session_s" -> Json.num(sessionS),
      "warmup" -> Json.obj(warmup.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "attempted" -> attempted.toString,
      "failed_runs" -> failedRuns.toString,
      "passes" -> passes.map(_.map(r => Json.obj(Seq(
        "query" -> Json.str(r.query), "wall_s" -> Json.num(r.wallS),
        "traced" -> r.traced.toString))).mkString("[", ",", "]"))
        .mkString("[", ",", "]"),
      "failed" -> Json.obj(failed.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "verify_failed" -> Json.obj(verifyFailed.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "oracle" -> Json.obj(items.flatMap(i => i.oracle.map(i.name -> Json.str(_)))),
      "queries" -> items.map(i => Json.str(i.name)).mkString("[", ",", "]"),
      "peak_rss_mb" -> Json.num(rss),
      "storm" -> Json.obj(Seq(
        "steal_iowait_frac" -> Json.num(stealFrac),
        "task_run_s" -> Json.num(runS), "task_cpu_s" -> Json.num(cpuS),
        "task_run_cpu_ratio" -> Json.num(if (cpuS > 0) runS / cpuS else 0.0))),
      "layers" -> layers.map(_.json).mkString("[", ",", "]"),
      "spans" -> tracer.spans.map(_.json).mkString("[", ",", "]")))
    Files.writeString(Paths.get(s"$out/result.json"), json)
    spark.stop()
  }
}
