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
    val before = Tables.schemaMemoSize
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("a"))
    assert(Tables.schemaMemoSize == before + 1)
    Seq(("x", 1), ("y", 2), ("z", 3)).toDF("b", "c")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val back = Tables(spark, dir, "t")
    assert(back.columns.toSeq == Seq("b", "c"))
    assert(back.count() == 3)
    assert(Tables.schemaMemoSize == before + 1)
  }
}
