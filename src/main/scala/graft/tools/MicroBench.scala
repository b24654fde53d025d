package graft.tools

import graft.GraftSession

/** Repeated in-JVM timing for named queries: runs each query `reps` times
  * and reports all times plus the minimum (the stable signal under noisy
  * machine load — single bench runs vary 30-50%). Run with:
  *   sbt "runMain graft.tools.MicroBench [sfDir] [reps] [query ...]"
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val names: Seq[String] =
      if (args.length > 2) args.drop(2).toSeq
      else Seq("q_dedup_minhash", "q_dedup_simhash", "q_dedup_ngram", "q_dedup_cosine")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Bench's conf set, so micro timings stay comparable to the official fold
    val builder = GraftSession.bench(cpus)
    // A/B experiment hook: SPARK_GRAFT_CONF="k=v;k2=v2" overlays extra
    // session confs so a config hypothesis can be measured without a
    // rebuild (official Bench runs never read this)
    ConfAB.parseOverlay(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$sfDir/lineitem.parquet").count() // warm-up
    // time the BENCH surface (QueryDef.fn) — for the q_*_xx rows
    // SparkEntry.queries substitutes the differential certificate
    // (verifyFn), whose wall is incomparable to the raw-pipeline floors
    // this tool exists to triage
    val qs = graft.SparkEntry.defs.map(d => d.name -> d.fn).toMap
    names.foreach { n =>
      val times = (1 to reps).map { _ =>
        GraftSession.release(spark)
        val t0 = System.nanoTime()
        // noop sink, matching Bench's r21 timed action (count() lets the
        // optimizer prune subtrees — guide §1.4)
        qs(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[micro] $n%-22s min=${times.min}%6.2fs  all=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
