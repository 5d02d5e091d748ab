package graft

import java.nio.file.{Files, Paths}
import java.sql.Date

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{TxSync, TxTable}

/** The keyed upsert behind MERGE and the sync apply, checked against a
  * replay over plain rows with join semantics: a target row leaves when a
  * source row has an equal key (no key column null; -0.0 equals 0.0 and
  * NaN equals NaN, as in a Spark equi-join), and every source row goes
  * in. Both the snapshot after the commit and the commit's change feed
  * must equal the replay's.
  */
class TxUpsertSpec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val d = s"target/tmp/txupsert_$tag"
    def del(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(del)
      p.delete()
    }
    del(new java.io.File(d))
    d
  }

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema)

  /** A key value under join equality. */
  private def canon(v: Any): Any = v match {
    case d: Double => if (d.isNaN) "NaN" else if (d == 0.0) 0.0 else d
    case o => o
  }

  private def replay(target: Seq[Row], source: Seq[Row], key: Row => Seq[Any]): Seq[Row] = {
    val sourceKeys = source.map(key).filterNot(_.contains(null)).map(_.map(canon)).toSet
    target.filterNot(r => sourceKeys(key(r).map(canon))) ++ source
  }

  /** Rows as exact strings (-0.0 and 0.0 differ), sorted: a multiset. */
  private def bag(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** Multiset difference `a - b` under exact row equality. */
  private def minus(a: Seq[Row], b: Seq[Row]): Seq[Row] = {
    val left = collection.mutable.Map(
      b.groupBy(_.toString).view.mapValues(_.size).toSeq: _*)
    a.filter { x =>
      val n = left.getOrElse(x.toString, 0)
      if (n > 0) { left(x.toString) = n - 1; false } else true
    }
  }

  /** The commit at `v` equals the replay from `before` to `after`: its
    * snapshot is `after` and its feed the net difference.
    */
  private def assertCommit(dir: String, v: Long, before: Seq[Row], after: Seq[Row]): Unit = {
    val got = TxTable.read(spark, dir, Some(v))
    assert(bag(got.collect().toSeq) == bag(after), s"snapshot at v$v")
    val feed = TxTable.readChanges(spark, dir, v - 1, Some(v))
      .select((got.columns :+ "_change_type").map(col).toIndexedSeq: _*).collect()
    // the feed's signed count groups by every column, and grouping reads
    // -0.0 as 0.0: its rows compare with zeros folded
    def folded(rows: Seq[Row]) = bag(rows.map(r => Row.fromSeq(r.toSeq.map {
      case d: Double if d == 0.0 => 0.0
      case o => o
    })))
    def side(t: String) = folded(feed.filter(_.getString(got.columns.length) == t)
      .map(r => Row.fromSeq(r.toSeq.dropRight(1))).toSeq)
    assert(side("insert") == folded(minus(after, before)), s"inserts at v$v")
    assert(side("delete") == folded(minus(before, after)), s"deletes at v$v")
  }

  /** Append `files` (one commit each), MERGE `source` on `keys`, and check
    * the commit against the replay. Returns the table directory.
    */
  private def check(tag: String, schema: StructType, files: Seq[Seq[Row]],
      source: Seq[Row], keys: Seq[String], partitionBy: Seq[String] = Nil,
      bloomFor: Seq[String] = Nil): String = {
    val dir = freshDir(tag)
    files.foreach(rows => TxTable.append(frame(schema, rows).repartition(1), dir,
      bloomFor = bloomFor, partitionBy = partitionBy))
    val before = TxTable.read(spark, dir).collect().toSeq
    val cols = TxTable.read(spark, dir).columns.toSeq
    val src = frame(schema, source).select(cols.map(col): _*)
    val v = TxTable.merge(spark, dir, src, keys)
    val ix = keys.map(cols.indexOf(_))
    assertCommit(dir, v, before,
      replay(before, src.collect().toSeq, r => ix.map(r.get)))
    dir
  }

  private val kv = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))

  test("null keys match nothing, in the source or in the target") {
    check("nulls", kv,
      Seq(Seq(Row(1L, "a"), Row(null, "t-null"), Row(2L, "b")), Seq(Row(3L, "c"))),
      Seq(Row(null, "s-null"), Row(2L, "B"), Row(null, "s-null2")), Seq("k"))
  }

  test("duplicate source keys replace once and all insert") {
    check("dups", kv, Seq(Seq(Row(1L, "a"), Row(2L, "b")), Seq(Row(2L, "b2"), Row(3L, "c"))),
      Seq(Row(2L, "x"), Row(2L, "y"), Row(4L, "z"), Row(4L, "z")), Seq("k"))
  }

  test("a composite key with a null in one column matches nothing") {
    val schema = StructType(Seq(StructField("a", LongType), StructField("b", StringType),
      StructField("v", LongType)))
    check("composite", schema,
      Seq(Seq(Row(1L, "x", 1L), Row(1L, "y", 2L), Row(null, "y", 3L)),
        Seq(Row(2L, null, 4L), Row(2L, "x", 5L))),
      Seq(Row(1L, "y", 20L), Row(null, "y", 30L), Row(2L, null, 40L), Row(3L, "x", 50L)),
      Seq("a", "b"))
  }

  test("string, long and date keys") {
    val strs = StructType(Seq(StructField("k", StringType), StructField("v", LongType)))
    check("strings", strs, Seq(Seq(Row("apple", 1L), Row("pear", 2L)), Seq(Row("zebra", 3L))),
      Seq(Row("pear", 20L), Row("fig", 40L)), Seq("k"), bloomFor = Seq("k"))
    check("longs", kv, Seq((0L until 50L).map(i => Row(i, s"v$i")),
      (50L until 100L).map(i => Row(i, s"v$i"))),
      (40L until 60L).map(i => Row(i * 2, s"n$i")), Seq("k"), bloomFor = Seq("k"))
    val dates = StructType(Seq(StructField("d", DateType), StructField("v", LongType)))
    def day(s: String) = Date.valueOf(s)
    check("dates", dates,
      Seq(Seq(Row(day("2020-01-01"), 1L), Row(day("2020-01-02"), 2L)),
        Seq(Row(day("2021-06-01"), 3L))),
      Seq(Row(day("2020-01-02"), 20L), Row(day("2022-01-01"), 40L)), Seq("d"),
      bloomFor = Seq("d"))
  }

  test("double keys: -0.0 matches 0.0 and NaN matches NaN") {
    val schema = StructType(Seq(StructField("k", DoubleType), StructField("v", StringType)))
    val dir = check("doubles", schema,
      Seq(Seq(Row(-0.0, "neg-zero"), Row(1.5, "a")), Seq(Row(Double.NaN, "nan"), Row(7.0, "b"))),
      Seq(Row(0.0, "zero"), Row(Double.NaN, "nan2"), Row(Double.NaN, "nan3")), Seq("k"))
    assert(TxTable.read(spark, dir).count() == 5L)
  }

  test("an empty source commits no data change") {
    val dir = check("empty", kv, Seq(Seq(Row(1L, "a"))), Nil, Seq("k"))
    assert(TxTable.activeFiles(dir, Some(1L)) == TxTable.activeFiles(dir, Some(0L)))
  }

  test("a file without stats is a candidate, rewritten only if it holds a key") {
    val dir = freshDir("statless")
    TxTable.append(frame(kv, Seq(Row(1L, "a"), Row(2L, "b"))).repartition(1), dir)
    TxTable.append(frame(kv, Seq(Row(10L, "x"), Row(11L, "y"))).repartition(1), dir)
    Files.delete(Paths.get(dir, "_txlog", f"${0L}%020d.stats.tsv"))
    val statless = TxTable.activeFiles(dir, Some(0L)).head
    assert(!TxTable.fileStats(dir).contains(statless))
    def mergeChecked(source: Seq[Row]): Unit = {
      val before = TxTable.read(spark, dir).collect().toSeq
      val v = TxTable.merge(spark, dir, frame(kv, source), Seq("k"))
      assertCommit(dir, v, before, replay(before, source, r => Seq(r.get(0))))
    }
    mergeChecked(Seq(Row(11L, "Y")))
    assert(TxTable.activeFiles(dir).contains(statless), "no key in it: kept")
    mergeChecked(Seq(Row(2L, "B")))
    assert(!TxTable.activeFiles(dir).contains(statless), "holds key 2: rewritten")
  }

  test("a partitioned target: matched rows may move partitions") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("p", IntegerType),
      StructField("v", StringType)))
    val dir = check("partitioned", schema,
      Seq((0L until 12L).map(i => Row(i, (i % 3).toInt, s"v$i"))),
      Seq(Row(1L, 2, "moved"), Row(4L, 1, "stayed"), Row(100L, 0, "new")), Seq("k"),
      partitionBy = Seq("p"))
    assert(TxTable.partitionColsAt(dir) == Seq("p"))
  }

  test("a TxSync round applies each source commit as its net change") {
    val src = freshDir("sync_src")
    val dst = freshDir("sync_dst")
    def put(rows: Seq[Row]) = frame(kv, rows).repartition(1)
    TxTable.append(put((0L until 20L).map(i => Row(i, s"v$i"))), src)
    TxTable.append(put((20L until 40L).map(i => Row(i, s"v$i"))), src, bloomFor = Seq("k"))
    TxSync.replicate(spark, src, dst, Seq("k"))
    val base = TxTable.currentVersion(src)
    TxTable.merge(spark, src, put(Seq(Row(3L, "M"), Row(25L, "M"), Row(50L, "M"))), Seq("k"))
    TxTable.delete(spark, src, col("k") === 30L)
    TxTable.update(spark, src, col("k") < 2L, Map("v" -> lit("U")))
    TxTable.append(put(Seq(Row(60L, "A"))), src)
    val dstBase = TxTable.currentVersion(dst)
    assert(TxSync.replicate(spark, src, dst, Seq("k")) == 4L)
    def rows(dir: String, v: Long) = TxTable.read(spark, dir, Some(v)).collect().toSeq
    ((base + 1) to TxTable.currentVersion(src)).zipWithIndex.foreach { case (sv, i) =>
      val dv = dstBase + 1 + i
      val before = rows(dst, dv - 1)
      val feed = TxTable.readChanges(spark, src, sv - 1, Some(sv)).collect()
      val changedKeys = feed.map(_.getAs[Long]("k")).toSet
      val inserts = feed.filter(_.getAs[String]("_change_type") == "insert")
        .map(r => Row(r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq
      assertCommit(dst, dv, before, before.filterNot(r => changedKeys(r.getLong(0))) ++ inserts)
      assert(bag(rows(dst, dv)) == bag(rows(src, sv)), s"replica at source v$sv")
    }
  }
}
