package graft.tools

import graft.GraftSession

/** Per-stage wall/CPU breakdown for declared queries — the empirical
  * half of the optimization loop (spark_optimization_guide §1.1) when
  * the UI is unavailable: for the BEST of `reps` runs, prints every
  * stage's task count, wall (submission -> completion), summed task
  * run/CPU time, and the first line of its call site, sorted by wall.
  * Reads the time sinks directly: a stage with tasks=1 and cpu ~ wall
  * is a serialized kernel; many stages of a few ms each is
  * scheduling/stage-count overhead; run >> cpu is waiting.
  *
  *   sbt "runMain graft.tools.StageProfile /root/testdata/sf0.1 3 q_a q_b"
  */
object StageProfile {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args(1).toInt.max(1)
    val names = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.bench(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val clock = new GraftSession.TaskClock
    spark.sparkContext.addSparkListener(clock)
    GraftSession.warmUp(spark, dir)

    val defs = graft.SparkEntry.defs.filter(d => names.contains(d.name))
    for (name <- names; d <- defs.find(_.name == name)) {
      var bestSec = Double.MaxValue
      var bestStages: Seq[GraftSession.StageRow] = Nil
      for (_ <- 1 to reps) {
        GraftSession.release(spark)
        clock.settledStages() // drop the stages of earlier runs
        val t0 = System.nanoTime()
        // noop sink, matching Bench's r21 timed action (count() lets the
        // optimizer prune subtrees — guide §1.4)
        d.fn(spark, dir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val stages = clock.settledStages()
        if (sec < bestSec) { bestSec = sec; bestStages = stages }
      }
      val byWall = bestStages.sortBy(-_.wallMs)
      val nStages = bestStages.size
      val sumWall = bestStages.map(_.wallMs).sum / 1e3
      val sumCpu = bestStages.map(_.cpuNs).sum / 1e9
      val sumRun = bestStages.map(_.runMs).sum / 1e3
      println(f"[profile] $name best=${bestSec}%.2fs stages=$nStages " +
        f"stageWallSum=${sumWall}%.2fs taskRunSum=${sumRun}%.2fs " +
        f"taskCpuSum=${sumCpu}%.2fs")
      byWall.take(18).foreach { s =>
        println(f"[profile]   stage ${s.id}%4d tasks=${s.tasks}%3d " +
          f"wall=${s.wallMs / 1e3}%6.2fs run=${s.runMs / 1e3}%6.2fs " +
          f"cpu=${s.cpuNs / 1e9}%6.2fs  ${s.name.take(90)}")
      }
    }
    spark.stop()
  }
}
