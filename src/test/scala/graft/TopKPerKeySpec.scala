package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.TopKPerKey

/** The custom top-k-per-key physical operator must agree exactly with the
  * window row_number form on a total order, and its plan must show the
  * two-phase (partial + final) shape with an exchange between.
  */
class TopKPerKeySpec extends SparkSpec {

  def orders() = {
    val sf = "/root/testdata/sf0.001"
    spark.read.parquet(s"$sf/orders.parquet")
  }

  /** 3 keys x 40 rows, unique (v, id) per key for a total order. */
  private def sample() = {
    import spark.implicits._
    (0 until 120).map(i => (i % 3, (i * 7919) % 120, i.toLong))
      .toDF("k", "v", "id")
  }

  test("matches window row_number <= k on a total order") {
    // (input, key, total order, k); k = 1 is the argmax form
    val byPrice = Seq(desc("o_totalprice"), asc("o_orderkey"))
    val byV = Seq(desc("v"), asc("id"))
    val cases = Seq((orders(), "o_custkey", byPrice, 3),
      (orders(), "o_custkey", byPrice, 1),
      (sample(), "k", byV, 3), (sample(), "k", byV, 1))
    for ((df, key, order, k) <- cases) {
      val custom = TopKPerKey(df, Seq(key), order, k).collect().toSet
      val w = Window.partitionBy(key).orderBy(order: _*)
      val windowed = df.withColumn("rn", row_number().over(w))
        .where(col("rn") <= k).drop("rn").collect().toSet
      assert(custom.nonEmpty)
      assert(custom == windowed, s"$key, k = $k")
    }
  }

  test("k larger than group size keeps everything") {
    import spark.implicits._
    val df = Seq((1L, 10.0, 1L), (1L, 20.0, 2L), (2L, 5.0, 3L)).toDF("k", "v", "id")
    val out = TopKPerKey(df, Seq("k"), Seq(desc("v"), asc("id")), 5)
      .select("id").as[Long].collect().toSet
    assert(out == Set(1L, 2L, 3L))
  }

  test("plan shows partial and final TopKPerKeyExec with an exchange between") {
    val p = TopKPerKey(orders(), Seq("o_custkey"),
      Seq(desc("o_totalprice"), asc("o_orderkey")), 3)
      .queryExecution.executedPlan.toString
    assert("TopKPerKey ".r.findAllIn(p).length >= 2, p)
    assert(p.contains("Exchange"), p)
    assert(!p.contains("Sort "), p) // no full sort anywhere
  }
}
