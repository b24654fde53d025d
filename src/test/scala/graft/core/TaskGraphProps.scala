package graft.core

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** ScalaCheck property suites (SURVEY §5.2): the algebraic laws of the
  * graph algebra, generated over small random inputs. Kept to 10
  * successful cases per law — each case runs real Spark jobs.
  */
class TaskGraphProps extends Properties("TaskGraph") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10).withMaxDiscardRatio(10)

  lazy val spark: SparkSession = SparkTestSession.get
  implicit def s: SparkSession = spark

  private val smallList: Gen[List[Int]] =
    Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-50, 50)))

  private val keyed: Gen[List[(String, Int)]] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.oneOf("x", "y", "z"), Gen.chooseNum(-50, 50))))

  property("joint map is zip: |result| = |input|, never a cross product") =
    forAll(smallList) { xs =>
      val g = TaskGraph.fromEdges("a" -> "c", "b" -> "c")
        .mapSeqs(Map("a" -> xs, "b" -> xs.map(_ + 1)))
      g.result("c").count() == xs.size.toLong
    }

  property("chained maps cross-multiply: |result| = |xs| * |ys|") =
    forAll(smallList, smallList) { (xs, ys) =>
      val g = TaskGraph.fromEdges("a" -> "c", "b" -> "c")
        .mapSeqs(Map("a" -> xs)).mapSeqs(Map("b" -> ys))
      g.result("c").count() == xs.size.toLong * ys.size
    }

  property("reduce removes exactly the named dim, keeps the others") =
    forAll(smallList, smallList, Gen.oneOf(0, 1)) { (xs, ys, axis) =>
      val g = TaskGraph.fromEdges("a" -> "c", "b" -> "c")
        .mapSeqs(Map("a" -> xs)).mapSeqs(Map("b" -> ys))
      val before = g.dimsOf("c")
      val r = g.reduce(key = "c", axis = axis, name = "r")
      r.dimsOf("r") == before.patch(axis, Nil, 1)
    }

  property("groupby reduce partitions exactly by key values") =
    forAll(keyed) { pairs =>
      val g = TaskGraph.chain("v", "w")
        .mapSeqs(Map("v" -> pairs.map(_._2), "k" -> pairs.map(_._1)))
        .groupby("k")
        .reduce(key = "w", name = "r", attrs = Map("func" -> "sum"))
      val got = g.result("r").collect()
        .map(r => r.getAs[String]("k") -> r.getAs[Long]("r")).toMap
      val expected = pairs.groupBy(_._1)
        .map { case (k, ps) => k -> ps.map(_._2.toLong).sum }
      got == expected
    }

  private val repeating: Gen[List[Int]] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0, 3)))

  property("stacked diamonds keep one copy per row: |result| = |input|") =
    forAll(repeating, Gen.chooseNum(0, 6)) { (xs, depth) =>
      import spark.implicits._
      // the values double as labels, so both repeat
      var g = TaskGraph(Dag.empty).mapFrame(xs.map(x => (x, x)).toDF("k", "v"),
        Map("a" -> "v"), indexCol = Some("k"), dimName = "k")
      var cur = "a"
      (0 until depth).foreach { i =>
        g = g.withExpr(s"l$i", Seq(cur), s"$cur + 1")
          .withExpr(s"r$i", Seq(cur), s"$cur * 2")
          .withExpr(s"j$i", Seq(s"l$i", s"r$i"), s"l$i + r$i")
        cur = s"j$i"
      }
      g.result(cur).count() == xs.size.toLong
    }

  property("slice-then-expand == expand-then-filter") =
    forAll(smallList, Gen.chooseNum(0, 6), Gen.chooseNum(0, 6)) { (xs, a, b) =>
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      val g = TaskGraph.chain("a", "b").mapSeqs(Map("a" -> xs))
      val sliced = g.byPosition("dim_0", lo, hi)
        .result("b", needPositional = true)
        .collect().map(r => (r.getAs[Long]("dim_0"), r.getAs[Int]("b"))).sorted.toSeq
      val filtered = g.result("b", needPositional = true)
        .collect().map(r => (r.getAs[Long]("dim_0"), r.getAs[Int]("b")))
        .filter { case (p, _) => p >= lo && p < hi }.sorted.toSeq
      sliced == filtered
    }
}
