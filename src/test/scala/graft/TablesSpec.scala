package graft

import graft.core.Tables

/** `Tables` loaders: the per-path schema memo follows a fixture that is
  * regenerated in place.
  */
class TablesSpec extends SparkSpec {

  test("a fixture rewritten in place gets its new schema and one memo entry") {
    val dir = "target/tmp/tables_memo"
    val s = spark
    import s.implicits._
    Seq(1L, 2L).toDF("a").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val before = Tables.memoSize
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("a"))
    assert(Tables.memoSize == before + 1)
    Seq(("x", 1), ("y", 2), ("z", 3)).toDF("b", "c")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val back = Tables(spark, dir, "t")
    assert(back.columns.toSeq == Seq("b", "c"))
    assert(back.count() == 3)
    assert(Tables.memoSize == before + 1)
  }

  test("frames of one path in one session share one relation and self-join") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.functions.{col, max}
    val dir = "target/tmp/tables_shared"
    val s = spark
    import s.implicits._
    (1L to 10L).toDF("a").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val (x, y) = (Tables(spark, dir, "t"), Tables(spark, dir, "t"))
    def relation(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r }.get
    assert(relation(x).relation eq relation(y).relation)
    assert(relation(x).output.map(_.exprId) != relation(y).output.map(_.exprId))
    // the q31 shape: a frame crossed with an aggregate of another frame
    val joined = x.crossJoin(y.agg(max("a").as("top")))
      .where(col("a") * 2 > col("top"))
    assert(joined.count() == 5)
  }
}
