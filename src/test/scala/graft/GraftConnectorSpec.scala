package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.sources.TxTable

/** `format("graft")` batch connector: save-mode semantics, time travel,
  * SQL (`USING graft`) access, and — the property that makes it a
  * connector rather than a convenience — PLANNING-TIME FILE PRUNING: the
  * query's own WHERE clause must reach `GraftFileIndex.listFiles` and
  * shrink the scan's `numFiles` metric, with results identical to the
  * unpruned read.
  */
class GraftConnectorSpec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val d = s"/root/repo/target/tmp/graftconn_$tag"
    def del(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(del)
      p.delete()
    }
    del(new java.io.File(d))
    d
  }

  private def rows(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i, s"name-$i", i * 10.0)).toDF("k", "s", "v")
      .repartition(1)
  }

  /** numFiles of the (single) file scan after executing `df`. */
  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    val scans = fileScans(df)
    assert(scans.size == 1, s"expected one file scan, got ${scans.size}")
    scans.head.metrics("numFiles").value
  }

  test("save modes: append, overwrite, errorIfExists, ignore") {
    val dir = freshDir("modes")
    rows(0, 10).write.format("graft").save(dir) // default ErrorIfExists
    rows(10, 20).write.format("graft").mode(SaveMode.Append).save(dir)
    assert(spark.read.format("graft").load(dir).count() == 20)
    intercept[Exception] {
      rows(0, 5).write.format("graft").mode(SaveMode.ErrorIfExists).save(dir)
    }
    rows(0, 5).write.format("graft").mode(SaveMode.Ignore).save(dir) // no-op
    assert(spark.read.format("graft").load(dir).count() == 20)
    rows(0, 7).write.format("graft").mode(SaveMode.Overwrite).save(dir)
    assert(spark.read.format("graft").load(dir).count() == 7)
    // time travel: version 1 was the 20-row state
    assert(spark.read.format("graft").option("versionAsOf", 1)
      .load(dir).count() == 20)
  }

  test("ErrorIfExists / Ignore lose to a concurrent creator: raise / no-op, publish nothing") {
    import spark.implicits._
    Seq(SaveMode.ErrorIfExists, SaveMode.Ignore).foreach { mode =>
      val dir = freshDir(s"create_race_$mode")
      val from = freshDir(s"create_race_from_$mode")
      rows(100, 103).write.format("graft").save(from) // the other creator
      val write = Squatter.whileStaging(rows(0, 10), from, dir)
        .write.format("graft").mode(mode)
      if (mode == SaveMode.ErrorIfExists)
        intercept[IllegalStateException](write.save(dir))
      else write.save(dir)
      assert(TxTable.currentVersion(dir) == 0L, mode)
      assert(spark.read.format("graft").load(dir).select("k").as[Long]
        .collect().toSet == (100L until 103L).toSet, mode)
      assert(TxTable.vacuum(dir, retainFrom = 0L) == 0L, mode)
    }
  }

  test("planning-time zone-map pruning shrinks numFiles, result exact") {
    val dir = freshDir("prune")
    (0 until 4).foreach(i =>
      rows(i * 100L, (i + 1) * 100L).write.format("graft")
        .mode(SaveMode.Append).save(dir))
    val all = spark.read.format("graft").load(dir)
    assert(scannedFiles(all) == 4)
    val one = spark.read.format("graft").load(dir).where(col("k") < 100)
    assert(scannedFiles(one) == 1)
    // pruned == unpruned .where on the raw snapshot
    val expect = TxTable.read(spark, dir).where(col("k") < 100)
      .orderBy("k").collect().toSeq
    assert(one.orderBy("k").collect().toSeq == expect)
    // a filter no zone map can serve keeps every file (fail-open)
    val f = spark.read.format("graft").load(dir)
      .where(length(col("s")) > 3)
    assert(scannedFiles(f) == 4)
  }

  test("pure SQL over a USING graft view prunes the same way") {
    val dir = freshDir("sql")
    (0 until 4).foreach(i =>
      rows(i * 100L, (i + 1) * 100L).write.format("graft")
        .mode(SaveMode.Append).save(dir))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_conn_sql " +
      s"USING graft OPTIONS (path '$dir')")
    val df = spark.sql(
      "SELECT count(*) AS n, sum(k) AS sk FROM graft_conn_sql WHERE k >= 300")
    df.collect()
    assert(fileScans(df).head.metrics("numFiles").value == 1)
    assert(df.collect()(0).getLong(0) == 100)
  }

  test("column pruning reaches the parquet scan") {
    val dir = freshDir("colprune")
    rows(0, 50).write.format("graft").save(dir)
    val df = spark.read.format("graft").load(dir).select(sum(col("v")))
    df.collect()
    assert(fileScans(df).head.requiredSchema.fieldNames.toSeq == Seq("v"))
  }

  test("batch CDF relation equals readChanges") {
    val dir = freshDir("cdf")
    rows(0, 10).write.format("graft").save(dir)
    TxTable.delete(spark, dir, col("k") < 3)
    val viaFormat = spark.read.format("graft")
      .option("readChangeFeed", "true").load(dir)
      .groupBy("_commit_version", "_change_type").count()
      .orderBy("_commit_version", "_change_type").collect().toSeq
    val direct = TxTable.readChanges(spark, dir, -1L)
      .groupBy("_commit_version", "_change_type").count()
      .orderBy("_commit_version", "_change_type").collect().toSeq
    assert(viaFormat == direct)
    assert(viaFormat.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      == Seq((0L, "insert", 10L), (1L, "delete", 3L)))
  }

  test("empty table and missing table") {
    val dir = freshDir("empty")
    intercept[Exception] { spark.read.format("graft").load(dir).count() }
    rows(0, 5).write.format("graft").save(dir)
    TxTable.delete(spark, dir, lit(true))
    val df = spark.read.format("graft").load(dir)
    assert(df.schema.fieldNames.toSeq == Seq("k", "s", "v"))
    assert(df.count() == 0)
  }
}
