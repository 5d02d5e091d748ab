package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.GraftSession

/** Skew-stress bench: salted vs plain big-big join on a hot-key fixture
  * (tools/gen_skew.py — ~30% of lineitem on ONE orderkey).
  *
  * Three variants of the same join+agg (result equality asserted):
  *  - plain:     shuffle join, AQE skew-join splitting OFF — the
  *               straggler baseline (one reducer holds the hot key);
  *  - aqe_skew:  shuffle join, AQE skew-join splitting ON — Spark's
  *               runtime rescue;
  *  - salted:    SkewJoin.saltedJoin (salt=32) — the plan-level tool
  *               when skew is known ahead of time (q100's operator).
  *
  * autoBroadcastJoinThreshold is -1 throughout: at 100 TB neither side
  * of a big-big join broadcasts, and a broadcast join would be
  * skew-immune by construction — it would measure nothing. Timings are
  * min-of-N passes (same estimator and rationale as graft.Bench).
  *
  * Usage: SPARK_GRAFT_SF_DIR=target/sf1_skew sbt "runMain graft.SkewBench"
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "target/sf1_skew")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    val spark = GraftSession
      .builder(s"local[$cpus]", cpus.toInt)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("okey"), col("l_quantity"))
    def ords = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
    def agg(j: DataFrame): DataFrame = j.groupBy("o_orderstatus")
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
        count(lit(1)).as("n"))

    val variants: Seq[(String, () => DataFrame)] = Seq(
      ("plain", () => {
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        agg(li.join(ords, "okey"))
      }),
      ("aqe_skew", () => {
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        agg(li.join(ords, "okey"))
      }),
      ("salted", () => {
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        agg(graft.operators.SkewJoin.saltedJoin(li, ords, "okey", 32))
      }),
      ("hot_split", () => {
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        // threshold = 1000x the mean key multiplicity — finds the
        // fixture's one hot key; the detection count is timed in
        val hot = graft.operators.SkewJoin.hotKeys(li, "okey", 100000L)
        agg(graft.operators.SkewJoin.hotKeySplitJoin(li, ords, "okey", hot))
      }))

    // correctness first: all three produce the identical bounded result
    val want = variants.head._2().collect().map(_.toSeq.toList).toSet
    for ((name, fn) <- variants.tail) {
      val got = fn().collect().map(_.toSeq.toList).toSet
      require(got == want, s"$name result mismatch: $got vs $want")
    }

    val times = variants.map { case (name, fn) =>
      val t = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        fn().queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }.min
      name -> t
    }
    val qs = times.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }
      .mkString(",")
    println(s"""{"metric":"skew_join","unit":"sec","passes":$passes,""" +
      s""""variants":{$qs},"sf":"$dir"}""")
    spark.stop()
  }
}
