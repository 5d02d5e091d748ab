package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions

/** The native text kernels equal their composed SQL forms
  * ([[TextKernelReference]]), and q201 runs no interpreted sort or fold.
  */
class TextKernelSpec extends SparkSpec {

  test("hash60 and hash60lo equal the md5 substring chains") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val texts = Seq("", " ", "a", "the quick brown fox", "Ünïcödé straße 東京 タワー naïve café",
      "x" * 10000, null) ++ Seq.fill(200)(rnd.nextString(1 + rnd.nextInt(30)))
    val df = texts.toDF("s")
    val rows = df.select(
      TextFunctions.hash60(col("s")), TextKernelReference.hash60(col("s")),
      TextFunctions.hash60lo(col("s")), TextKernelReference.hash60lo(col("s")),
      TextFunctions.hash60(col("s").cast("binary")), col("s")).collect()
    assert(rows.length == texts.size)
    rows.foreach { r =>
      assert(r.get(0) == r.get(1), r)
      assert(r.get(2) == r.get(3), r)
      assert(r.get(4) == r.get(0), r)
      assert((r.get(5) == null) == (r.get(0) == null), r)
    }
  }

  private def longArrays(rows: Seq[Seq[java.lang.Long]]) = {
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("ht", ArrayType(LongType, containsNull = true))))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case (a, i) => Row(i, a) }, 3), schema)
  }

  private def boxed(xs: Seq[Long]): Seq[java.lang.Long] = xs.map(Long.box)

  test("gramHashes equals the composed lambda at sizes 0..k+1, on duplicates, nulls and null arrays") {
    val rnd = new scala.util.Random(3)
    val top = (1L << 30) - 1
    for (k <- Seq(1, 2, 3, 5)) {
      val arrays: Seq[Seq[java.lang.Long]] =
        (0 to k + 1).map(n => boxed(Seq.fill(n)(rnd.nextLong(1L << 30)))) ++
          Seq(boxed(Seq.fill(k + 1)(7L)), boxed(Seq.fill(k + 3)(top)),
            boxed(Seq(0L, top, 0L, top, 0L, top, 0L)),
            boxed(Seq.fill(40)(rnd.nextInt(3).toLong)),
            Seq[java.lang.Long](1L, null, 3L, 4L, 5L, 6L, null), null)
      val got = longArrays(arrays).orderBy("id").select(
        TextFunctions.gramHashes(col("ht"), k), TextKernelReference.gramHashes("ht", k))
        .collect()
      assert(got.length == arrays.size)
      got.zip(arrays).foreach { case (r, a) =>
        assert(r.get(0) == r.get(1), s"k=$k input=$a")
        if (a != null) assert(r.getSeq[Any](0).size == math.max(a.size - k + 1, 0))
      }
    }
  }

  test("sortedRunStats equals the sort-and-fold form, with nulls, ties and empties") {
    val rnd = new scala.util.Random(5)
    val arrays: Seq[Seq[java.lang.Long]] = Seq(Seq.empty, boxed(Seq(4L)), boxed(Seq(-1L)),
      boxed(Seq(-1L, -1L, 2L)), boxed(Seq(3L, 1L, 3L, 2L, 3L, 1L)),
      Seq[java.lang.Long](null), Seq[java.lang.Long](2L, null, 2L, null),
      boxed(Seq(Long.MinValue, Long.MaxValue, Long.MinValue)), null) ++
      Seq.fill(30)(boxed(Seq.fill(rnd.nextInt(50))(rnd.nextInt(8).toLong - 2)))
    val got = longArrays(arrays).orderBy("id").select(
      TextFunctions.sortedRunStats(col("ht")).getField("mx"),
      TextFunctions.sortedRunStats(col("ht")).getField("sgl"),
      TextKernelReference.sortedRunStats("ht").getField("mx"),
      TextKernelReference.sortedRunStats("ht").getField("sgl")).collect()
    got.zip(arrays).foreach { case (r, a) =>
      assert(r.get(0) == r.get(2) && r.get(1) == r.get(3), s"input=$a row=$r")
    }
    // the composed pair of q201: runs of the sorted k-gram hashes
    val composed = longArrays(Seq.fill(20)(boxed(Seq.fill(rnd.nextInt(30))(rnd.nextInt(4).toLong))))
      .where(size(col("ht")) >= 2)
      .select(TextFunctions.sortedRunStats(TextFunctions.gramHashes(col("ht"), 2)).getField("mx"),
        TextKernelReference.sortedRunStats(TextKernelReference.gramHashesSql("ht", 2))
          .getField("mx"))
      .collect()
    assert(composed.nonEmpty)
    composed.foreach(r => assert(r.get(0) == r.get(1), r))
  }

  test("q201's optimized plan has no interpreted sort or fold") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArraySort}
    val plan = SparkEntry.queries("q201_repetition_rules")(spark, "/root/testdata/sf0.001")
      .queryExecution.optimizedPlan
    val exprs = plan.collect { case p => p.expressions }.flatten
    assert(!exprs.exists(_.exists(e => e.isInstanceOf[ArraySort] || e.isInstanceOf[ArrayAggregate])),
      plan.toString)
  }
}
