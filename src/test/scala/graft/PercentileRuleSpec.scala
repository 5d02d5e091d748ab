package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types._
import graft.functions.ExactPercentile

/** `PercentileToExact` returns what Spark's own `percentile` returns (run in
  * a session without graft's extensions), and rewrites only the shapes it
  * can compute exactly.
  */
class PercentileRuleSpec extends SparkSpec {

  private lazy val vanilla = GraftSqlBridge.vanillaSession(spark)

  private val schema = StructType(Seq(
    StructField("g", IntegerType), StructField("b", ByteType), StructField("s", ShortType),
    StructField("i", IntegerType), StructField("l", LongType), StructField("f", FloatType),
    StructField("d", DoubleType), StructField("w", LongType), StructField("m", DecimalType(12, 2))))

  private lazy val rows: Seq[Row] = {
    val rnd = new scala.util.Random(20261019)
    val specials = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 0.0, -0.0)
    val bigLongs = Seq((1L << 53) + 1, (1L << 53) + 2, (1L << 62) + 3, Long.MaxValue, Long.MinValue)
    def maybe[T](v: => T): Any = if (rnd.nextInt(12) == 0) null else v
    val data = (0 until 3000).map { _ =>
      val g = rnd.nextInt(5)
      val d = rnd.nextInt(10) match {
        case 0 => specials(rnd.nextInt(specials.size))
        case 1 | 2 => rnd.nextGaussian() * 1e6
        case _ => rnd.nextInt(40) / 4.0 - 3
      }
      // group 3 has no NaN, so its answers are finite or infinite numbers
      val dd = if (g == 3 && d.isNaN) 1.5 else d
      val l = if (g == 2 && rnd.nextInt(3) == 0) bigLongs(rnd.nextInt(bigLongs.size))
        else rnd.nextInt(100).toLong - 50
      Row(g, maybe(rnd.nextInt(256).toByte), maybe((rnd.nextInt(2000) - 1000).toShort),
        maybe(rnd.nextInt()), maybe(l), maybe(dd.toFloat), maybe(dd),
        (1 + rnd.nextInt(3)).toLong, maybe(BigDecimal(rnd.nextInt(100000), 2).bigDecimal))
    }
    // group 4: every value null; group 5: one row, so one value
    data ++ (0 until 20).map(_ => Row(4, null, null, null, null, null, null, 1L, null)) :+
      Row(5, 1.toByte, 2.toShort, 3, 4L, 5f, 6.0, 1L, BigDecimal("7.00").bigDecimal)
  }

  private def run(session: SparkSession, sql: String): DataFrame = {
    session.createDataFrame(session.sparkContext.parallelize(rows, 4), schema)
      .createOrReplaceTempView("pct_t")
    session.sql(sql)
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => (x.isNaN && y.isNaN) || x == y // -0.0 == 0.0
    case (x: collection.Seq[_], y: collection.Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  private def percentiles(p: LogicalPlan) = p.expressions.flatMap(_.collect {
    case x: Percentile => x
  })

  private def exact(p: LogicalPlan) = p.expressions.flatMap(_.collect {
    case x: ExactPercentile => x
  })

  /** Runs `sql` in both sessions; checks equal answers and returns the
    * graft session's optimized plan.
    */
  private def check(sql: String): LogicalPlan = {
    val got = run(spark, sql)
    val want = run(vanilla, sql).collect().map(_.toSeq).sortBy(_.head.toString)
    val have = got.collect().map(_.toSeq).sortBy(_.head.toString)
    assert(have.length == want.length, sql)
    have.zip(want).foreach { case (h, w) =>
      h.zip(w).zipWithIndex.foreach { case ((x, y), c) =>
        assert(same(x, y), s"column $c: graft $x, Spark $y in ${h.mkString(",")}")
      }
    }
    got.queryExecution.optimizedPlan
  }

  test("grouped percentiles over every supported type equal Spark's") {
    val plan = check("""SELECT g,
        percentile(b, 0.5), percentile(s, 0.25), percentile(i, array(0.1, 0.5, 0.9)),
        percentile(l, 0.3), percentile(l, 0.999), percentile(f, 0.75),
        percentile(d, 0.01), percentile(d, 0.99), percentile(d, array(0.0, 0.5, 1.0)),
        percentile(d, 0.37) FILTER (WHERE i > 0),
        percentile(d, 0.63) FILTER (WHERE i > 0),
        percentile_cont(0.2) WITHIN GROUP (ORDER BY d DESC),
        percentile(d, array(0.2, 0.8), 1), median(l), percentile(d + 1, 0.5),
        percentile(l, 0.5) FILTER (WHERE g < 0)
      FROM pct_t GROUP BY g""")
    val agg = plan.collectFirst { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.get
    assert(percentiles(agg).isEmpty, plan)
    val shared = exact(agg).distinct
    // b, s, i, l, f, d, d FILTER i>0, d reversed, d + 1, l FILTER g<0
    assert(shared.size == 10, shared)
    assert(shared.exists(e => e.reverse && e.percentages == Seq(0.2)), shared)
    assert(shared.exists(_.percentages == Seq(0.01, 0.99, 0.0, 0.5, 1.0, 0.2, 0.8)), shared)
  }

  test("global percentiles, empty input and all-null input equal Spark's") {
    check("SELECT 0 AS k, percentile(d, array(0.1, 0.9)), percentile(l, 0.5) FROM pct_t")
    check("SELECT 0 AS k, percentile(d, array(0.1, 0.9)), percentile(l, 0.5) FROM pct_t WHERE g > 100")
    check("SELECT 0 AS k, percentile(d, 0.5), percentile(f, 0.5) FROM pct_t WHERE g = 4")
    check("SELECT 0 AS k, percentile(d, 0.5) FROM pct_t WHERE g = 5")
  }

  test("frequency columns, decimals and DISTINCT stay with Spark") {
    for (sql <- Seq(
      "SELECT g, percentile(l, 0.5, w) FROM pct_t GROUP BY g",
      "SELECT g, percentile(m, 0.5) FROM pct_t GROUP BY g",
      "SELECT g, percentile(DISTINCT l, 0.5) FROM pct_t GROUP BY g")) {
      val plan = check(sql)
      assert(percentiles(plan).nonEmpty, s"$sql\n$plan")
      assert(exact(plan).isEmpty, s"$sql\n$plan")
    }
  }

  test("q31 and q14 plan no Spark percentile; q31's p01 and p99 share one buffer") {
    for (q <- Seq("q31_winsorize", "q14_median")) {
      val plan = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").queryExecution.optimizedPlan
      val all = plan.collect { case p => p }
      assert(all.forall(p => percentiles(p).isEmpty), plan)
      assert(all.map(exact(_).distinct.size).sum == 1, plan)
    }
  }
}
