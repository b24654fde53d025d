package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.core.SparkTestSession

class ConfABSpec extends AnyFunSuite {

  test("parseOverlay: k=v pairs split on ';', blank and keyless entries skipped") {
    assert(ConfAB.parseOverlay(" a.b = 1 ;;=x;c=d=e") ==
      Seq("a.b" -> "1", "c" -> "d=e"))
    assert(ConfAB.parseOverlay("").isEmpty)
  }

  test("arm A restores a key with no default and no value by unsetting it") {
    val spark = SparkTestSession.get
    val key = "spark.sql.graft.confAbSpec.neverSet"
    assert(spark.conf.getOption(key).isEmpty)
    val arms = new ConfAB.Arms(spark, Seq(key -> "on"))
    for (_ <- 1 to 2) {
      arms.a(); assert(spark.conf.getOption(key).isEmpty)
      arms.b(); assert(spark.conf.get(key) == "on")
    }
    arms.a()
    assert(spark.conf.getOption(key).isEmpty)
  }

  test("arm A restores a set key to its value before the overlay") {
    val spark = SparkTestSession.get
    val key = "spark.sql.graft.confAbSpec.preset"
    spark.conf.set(key, "stock")
    try {
      val arms = new ConfAB.Arms(spark, Seq(key -> "overlay"))
      arms.b(); assert(spark.conf.get(key) == "overlay")
      arms.a(); assert(spark.conf.get(key) == "stock")
    } finally spark.conf.unset(key)
  }
}
