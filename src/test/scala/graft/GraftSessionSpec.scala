package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.SparkTestSession

/** Pins the two session conf sets. Bench's fold, MicroBench, StageProfile
  * and ConfAB time on the bench set, and the benchmark harness under
  * perfbench/ copies the same values into its own session, so a change
  * to either set fails here instead of silently moving every timing. */
class GraftSessionSpec extends AnyFunSuite {

  private val benchExtras = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.shuffle.sort.bypassMergeThreshold" -> "2",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k")

  private def base(cores: Int) = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.ansi.enabled" -> "false")

  test("base set: local[n], n shuffle partitions, UTC, no UI, ANSI off") {
    for (n <- Seq(1, 4, 32))
      assert(GraftSession.baseConfs(n).toMap == base(n))
  }

  test("bench set is exactly the base set plus Bench's measured extras") {
    for (n <- Seq(4, 32))
      assert(GraftSession.benchConfs(n).toMap == base(n) ++ benchExtras)
  }

  test("the benchmark harness's session carries the bench set's literal confs") {
    val src = scala.io.Source.fromFile(
      "perfbench/src/main/scala/graftbench/Main.scala")
    val text = try src.mkString finally src.close()
    val literal = "\\.config\\(\"(spark\\.[^\"]+)\",\\s*\"([^\"]*)\"\\)".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
    val expected = (base(8) ++ benchExtras) -
      "spark.master" - "spark.sql.shuffle.partitions"
    assert(expected.forall { case (k, v) => literal.get(k).contains(v) },
      s"harness confs $literal drift from the bench set $expected")
  }

  test("the shared test session carries the base set") {
    val spark = SparkTestSession.get
    for ((k, v) <- base(SparkTestSession.Cores))
      assert(spark.conf.get(k) == v, s"test session $k")
  }

  test("TaskClock: task sums and per-stage rows with shuffle-write bytes") {
    val spark = SparkTestSession.get
    val clock = new GraftSession.TaskClock
    spark.sparkContext.addSparkListener(clock)
    try {
      clock.settledStages()
      val (_, _, _, _, tasks0) = clock.settledSnapshot()
      spark.range(0, 1000, 1, 4).groupBy((org.apache.spark.sql.functions
        .col("id") % 7).as("k")).count().collect()
      val stages = clock.settledStages()
      val (_, _, _, _, tasks1) = clock.settledSnapshot()
      assert(stages.nonEmpty && tasks1 > tasks0)
      assert(stages.map(_.tasks.toLong).sum <= tasks1 - tasks0)
      assert(stages.exists(_.shuffleWriteBytes > 0), s"no shuffle write: $stages")
      assert(clock.takeStages().isEmpty, "a taken stage was returned twice")
    } finally spark.sparkContext.removeSparkListener(clock)
  }

  test("release drops cached plans and persisted RDDs") {
    val spark = SparkTestSession.get
    spark.range(10).cache().count()
    spark.sparkContext.parallelize(1 to 10).persist().count()
    GraftSession.release(spark)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
