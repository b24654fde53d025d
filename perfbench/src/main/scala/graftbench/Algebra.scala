package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

import graft.core.{Dag, TaskGraph}
import graft.queries.Tables

/** A generated TaskGraph program: `build` makes the graph (the
  * `core.build` layer), `result` of `node` plus `finish` makes the frame
  * (`core.result`), and `sql` is DuckDB SQL over the same tables that
  * computes the same rows. `{data}` in `sql` stands for the data
  * directory. */
final case class Program(name: String,
    build: (SparkSession, String) => TaskGraph, node: String,
    finish: DataFrame => DataFrame, sql: String)

/** Seeded generator of TaskGraph programs over `lineitem`. The shapes are
  * fixed, so every seed plans the same operators on the same row counts;
  * the line id `l_orderkey * 8 + l_linenumber` labels the lineitem dim;
  * the seed picks the value columns and the integer constants. Node
  * values are BIGINT modulo a prime and reduced with an integer sum, so
  * results are exact and order-independent. */
object Algebra {
  private val Mod = 1000003L
  private val Columns = Seq("l_quantity", "l_extendedprice", "l_orderkey",
    "l_partkey", "l_suppkey")
  private val Keys = Seq("l_returnflag", "l_linestatus", "l_linenumber")

  /** Depths of the stacked-diamond programs. Each diamond doubles the
    * plan (2^k - 1 joins, 2^k scans), so depth stays at 3. */
  val DiamondDepths: Seq[Int] = 0 to 3

  def programs(seed: Long): Seq[Program] = {
    val rnd = new scala.util.Random(seed)
    def c(): Long = 2L + rnd.nextInt(96)
    def d(): Long = rnd.nextInt(1000).toLong
    def column(): String = Columns(rnd.nextInt(Columns.size))
    def sumSql(e: String, from: String = "lineitem"): String =
      s"SELECT CAST(SUM($e) AS BIGINT) AS total FROM $from"

    val chain = {
      val col = column()
      val ops = Seq.fill(4)((c(), d()))
      var sql = srcSql(col)
      ops.foreach { case (k, b) => sql = s"((${sql}) * $k + $b) % $Mod" }
      Program("gen_chain4", (s, dir) => {
        var g = labeled(s, dir, col)
        var prev = "a"
        ops.zipWithIndex.foreach { case ((k, b), i) =>
          g = g.withExpr(s"n$i", Seq(prev), s"($prev * $k + $b) % $Mod")
          prev = s"n$i"
        }
        g.reduce(key = prev, name = "total", attrs = Map("func" -> "sum"))
      }, "total", identity, sumSql(sql))
    }

    // the SQL mirrors the expansion's joins on the line id, so it stays
    // exact where line ids repeat (the repository's test tables)
    val fan = {
      val col = column()
      val ops = Seq.fill(4)((c(), d()))
      val branches = ops.zipWithIndex.map { case ((k, b), i) =>
        s"(SELECT lid, (v * $k + $b) % $Mod AS v FROM a) b$i" }
      Program("gen_fan4", (s, dir) => {
        var g = labeled(s, dir, col)
        ops.zipWithIndex.foreach { case ((k, b), i) =>
          g = g.withExpr(s"b$i", Seq("a"), s"(a * $k + $b) % $Mod")
        }
        val names = ops.indices.map(i => s"b$i")
        g.withExpr("f", names, names.mkString("(", " + ", s") % $Mod"))
          .reduce(key = "f", name = "total", attrs = Map("func" -> "sum"))
      }, "total", identity,
        s"WITH a AS (${lidSql(col)}) " +
          s"SELECT CAST(SUM((b0.v + b1.v + b2.v + b3.v) % $Mod) AS BIGINT) AS total " +
          s"FROM ${branches.head} " + branches.tail.zipWithIndex.map { case (br, i) =>
            s"JOIN $br ON b0.lid = b${i + 1}.lid" }.mkString(" "))
    }

    val diamonds = DiamondDepths.map { depth =>
      val col = column()
      val ops = Seq.fill(depth)(((c(), d()), (c(), d())))
      val levels = ops.zipWithIndex.map { case (((k1, b1), (k2, b2)), i) =>
        s"d${i + 1} AS (SELECT l.lid, (l.v + r.v) % $Mod AS v " +
          s"FROM (SELECT lid, (v * $k1 + $b1) % $Mod AS v FROM d$i) l " +
          s"JOIN (SELECT lid, (v * $k2 + $b2) % $Mod AS v FROM d$i) r ON l.lid = r.lid)"
      }
      Program(s"gen_diamond$depth", (s, dir) => {
        var g = labeled(s, dir, col)
        var cur = "a"
        ops.zipWithIndex.foreach { case (((k1, b1), (k2, b2)), i) =>
          g = g.withExpr(s"l$i", Seq(cur), s"($cur * $k1 + $b1) % $Mod")
            .withExpr(s"r$i", Seq(cur), s"($cur * $k2 + $b2) % $Mod")
            .withExpr(s"j$i", Seq(s"l$i", s"r$i"), s"(l$i + r$i) % $Mod")
          cur = s"j$i"
        }
        g.reduce(key = cur, name = "total", attrs = Map("func" -> "sum"))
      }, "total", identity,
        (s"WITH d0 AS (${lidSql(col)})" +: levels).mkString(", ") +
          s" SELECT CAST(SUM(v) AS BIGINT) AS total FROM d$depth")
    }

    // chained independent dims: lineitem x two small parameter tables,
    // reduced over the lineitem dim only
    val cross = {
      val col = column()
      val p = Seq.tabulate(3)(i => (i.toLong, c()))
      val q = Seq.tabulate(2)(i => (i.toLong, d()))
      def values(t: Seq[(Long, Long)]) =
        t.map { case (k, v) => s"($k, $v)" }.mkString(", ")
      Program("gen_cross_dims", (s, dir) => {
        import s.implicits._
        labeled(s, dir, col)
          .mapFrame(p.toDF("pk", "pv"), Map("pv" -> "pv"),
            indexCol = Some("pk"), dimName = "pk")
          .mapFrame(q.toDF("qk", "qv"), Map("qv" -> "qv"),
            indexCol = Some("qk"), dimName = "qk")
          .withExpr("x", Seq("a", "pv", "qv"), s"(a * pv + qv) % $Mod")
          .reduce(key = "x", index = "lid", name = "total",
            attrs = Map("func" -> "sum"))
      }, "total", _.select("pk", "qk", "total"),
        s"SELECT p.pk, q.qk, CAST(SUM(((${srcSql(col)}) * p.pv + q.qv) % $Mod) AS BIGINT) AS total " +
          s"FROM lineitem CROSS JOIN (VALUES ${values(p)}) AS p(pk, pv) " +
          s"CROSS JOIN (VALUES ${values(q)}) AS q(qk, qv) GROUP BY p.pk, q.qk")
    }

    val groupby = {
      val col = column()
      val key = Keys(rnd.nextInt(Keys.size))
      val (k, b) = (c(), d())
      Program("gen_groupby", (s, dir) => {
        val li = Tables.lineitem(s, dir).select(
          expr("l_orderkey * 8 + l_linenumber").as("lid"),
          expr(srcSql(col)).as("a"), expr(key).as("k"))
        TaskGraph(Dag.empty)
          .mapFrame(li, Map("a" -> "a", "k" -> "k"), indexCol = Some("lid"),
            dimName = "lid")
          .withExpr("v", Seq("a"), s"(a * $k + $b) % $Mod")
          .groupby("k")
          .reduce(key = "v", name = "total", attrs = Map("func" -> "sum"))
      }, "total", _.select("k", "total"),
        s"SELECT $key AS k, CAST(SUM(((${srcSql(col)}) * $k + $b) % $Mod) AS BIGINT) AS total " +
          s"FROM lineitem GROUP BY $key")
    }

    // positional dim: labels are row positions in file order, materialized
    // by the slice
    val slice = {
      val col = column()
      val lo = rnd.nextInt(1000)
      val hi = lo + 5000
      val (k, b) = (c(), d())
      Program("gen_slice_pos", (s, dir) => {
        TaskGraph(Dag.empty)
          .mapFrame(Tables.lineitem(s, dir).select(expr(srcSql(col)).as("a")),
            Map("a" -> "a"), dimName = "pos")
          .byPosition("pos", lo, hi)
          .withExpr("v", Seq("a"), s"(a * $k + $b) % $Mod")
          .reduce(key = "v", name = "total", attrs = Map("func" -> "sum"))
      }, "total", identity,
        sumSql(s"((${srcSql(col)}) * $k + $b) % $Mod",
          s"read_parquet('{data}/lineitem.parquet', file_row_number = true) " +
            s"WHERE file_row_number >= $lo AND file_row_number < $hi"))
    }

    // setItem splice: the base graph's middle node is replaced by a branch
    // mapped over another column
    val splice = {
      val (col1, col2) = (column(), column())
      val (k1, b1) = (c(), d())
      val (k2, b2) = (c(), d())
      val (k3, b3) = (c(), d())
      Program("gen_setitem_splice", (s, dir) => {
        val base = labeled(s, dir, col1)
          .withExpr("v", Seq("a"), s"(a * $k1 + $b1) % $Mod")
          .withExpr("w", Seq("v"), s"(v * $k2 + $b2) % $Mod")
        val branch = labeled(s, dir, col2, node = "x")
          .withExpr("y", Seq("x"), s"(x * $k3 + $b3) % $Mod")
        base.setItem("v", branch)
          .reduce(key = "w", name = "total", attrs = Map("func" -> "sum"))
      }, "total", identity,
        sumSql(s"((((${srcSql(col2)}) * $k3 + $b3) % $Mod) * $k2 + $b2) % $Mod"))
    }

    Seq(chain, fan) ++ diamonds ++ Seq(cross, groupby, slice, splice)
  }

  /** lineitem value column as an exact BIGINT in both engines */
  private def srcSql(col: String): String =
    if (col == "l_quantity" || col == "l_extendedprice") s"CAST(FLOOR($col) AS BIGINT)"
    else s"CAST($col AS BIGINT)"

  private def lidSql(col: String): String =
    s"SELECT l_orderkey * 8 + l_linenumber AS lid, ${srcSql(col)} AS v FROM lineitem"

  /** one node mapped over a lineitem column, labeled by its line id */
  private def labeled(s: SparkSession, dir: String, col: String,
      node: String = "a"): TaskGraph =
    TaskGraph(Dag.empty).mapFrame(
      Tables.lineitem(s, dir).select(
        expr("l_orderkey * 8 + l_linenumber").as("lid"), expr(srcSql(col)).as(node)),
      Map(node -> node), indexCol = Some("lid"), dimName = "lid")
}
