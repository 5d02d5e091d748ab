package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.TxTable

/** Change data feed: per-commit net change sets, layout-commit
  * transparency, schema-evolution behavior, windowing, and THE
  * invariant — applying the feed onto an old snapshot reproduces the
  * new one exactly.
  */
class TxChangesSpec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val d = s"/root/repo/target/tmp/txchanges_$tag"
    def del(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(del)
      p.delete()
    }
    del(new java.io.File(d))
    d
  }

  private def df(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "v").repartition(1)
  }

  private def changeSet(dir: String, from: Long, to: Option[Long] = None)
      : Set[(Long, String, Long, String)] =
    TxTable.readChanges(spark, dir, from, to).collect().map(r =>
      (r.getAs[Long]("_commit_version"), r.getAs[String]("_change_type"),
        r.getAs[Long]("k"), r.getAs[String]("v"))).toSet

  /** Applying the feed COMMIT BY COMMIT (the CDF consumption contract —
    * a net-diff feed is ordered, an insert@v0/delete@v2 pair does not
    * commute) onto snapshot(from) reproduces snapshot(to) exactly.
    */
  private def assertFeedInvariant(dir: String, from: Long, to: Long): Unit = {
    val target = TxTable.read(spark, dir, Some(to))
    val cols = target.columns.map(col).toSeq
    var applied = // before the first commit the table is empty (no schema yet)
      if (from < 0) target.limit(0) else TxTable.read(spark, dir, Some(from))
    (from + 1 to to).foreach { v =>
      val ch = TxTable.readChanges(spark, dir, v - 1, Some(v))
      applied = applied
        .exceptAll(ch.where(col("_change_type") === "delete").select(cols: _*))
        .unionAll(ch.where(col("_change_type") === "insert").select(cols: _*))
    }
    assert(applied.exceptAll(target).isEmpty && target.exceptAll(applied).isEmpty,
      s"feed invariant broken for ($from, $to]")
  }

  test("append, merge, overwrite, compact produce exact net change sets") {
    val dir = freshDir("lifecycle")
    TxTable.append(df(1L -> "a", 2L -> "b"), dir) // v0
    TxTable.append(df(3L -> "c"), dir) // v1
    // v2: update k=2, insert k=9 — carried-over k=1 must NOT appear
    TxTable.merge(spark, dir, df(2L -> "B!", 9L -> "i"), Seq("k"))
    TxTable.compact(spark, dir, targetFiles = 1) // v3: layout only
    TxTable.overwrite(df(1L -> "a"), dir) // v4: net deletes of the rest
    assert(changeSet(dir, -1L) == Set(
      (0L, "insert", 1L, "a"), (0L, "insert", 2L, "b"),
      (1L, "insert", 3L, "c"),
      (2L, "insert", 2L, "B!"), (2L, "insert", 9L, "i"),
      (2L, "delete", 2L, "b"),
      // v3 (compact): nothing
      (4L, "delete", 2L, "B!"), (4L, "delete", 3L, "c"),
      (4L, "delete", 9L, "i")))
    // every adjacent and spanning window satisfies the apply-invariant
    (0L to 4L).foreach(v => assertFeedInvariant(dir, v - 1, v))
    assertFeedInvariant(dir, -1L, 4L)
    assertFeedInvariant(dir, 1L, 4L)
  }

  test("windowing: (from, to] bounds are exclusive/inclusive") {
    val dir = freshDir("window")
    TxTable.append(df(1L -> "a"), dir)
    TxTable.append(df(2L -> "b"), dir)
    TxTable.append(df(3L -> "c"), dir)
    assert(changeSet(dir, 0L, Some(1L)) == Set((1L, "insert", 2L, "b")))
    assert(changeSet(dir, 2L).isEmpty)
    val empty = TxTable.readChanges(spark, dir, 99L)
    assert(empty.count() == 0 &&
      empty.columns.contains("_change_type") &&
      empty.columns.contains("_commit_version"))
  }

  test("schema evolution: feed unions by name across versions") {
    val dir = freshDir("evolve")
    val s = spark
    import s.implicits._
    TxTable.append(Seq((1L, "a")).toDF("k", "v").repartition(1), dir)
    TxTable.append(Seq((2L, "b", 7L)).toDF("k", "v", "extra").repartition(1), dir)
    val rows = TxTable.readChanges(spark, dir, -1L).collect()
      .map(r => (r.getAs[Long]("_commit_version"), r.getAs[Long]("k"),
        Option(r.getAs[java.lang.Long]("extra")))).toSet
    assert(rows == Set((0L, 1L, None), (1L, 2L, Some(java.lang.Long.valueOf(7L)))))
  }

  test("net diff preserves duplicate-row multiplicities (the one-pass " +
      "signed-count form, r15)") {
    // ExceptAll semantics: a row occurring a times in the added files and
    // b times in the removed files nets max(a-b,0) inserts / max(b-a,0)
    // deletes. The r15 single-aggregate form must reproduce that exactly.
    val dir = freshDir("multiset")
    TxTable.append(df((1L, "x"), (1L, "x"), (1L, "x"), (2L, "y")), dir) // v0
    // v1 rewrites the table keeping ONE (1,x) and adding two (3,z)
    TxTable.overwrite(df((1L, "x"), (2L, "y"), (3L, "z"), (3L, "z")), dir)
    val v1 = TxTable.readChanges(spark, dir, 0L, Some(1L))
      .groupBy("_change_type", "k", "v").count()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    // net: (1,x) 3→1 = delete ×2; (2,y) carried; (3,z) 0→2 = insert ×2
    assert(v1 == Set(("delete", 1L, "x", 2L), ("insert", 3L, "z", 2L)), v1)
    assertFeedInvariant(dir, -1L, 1L)
  }

  test("user columns named like the net-diff helpers survive a merge") {
    val dir = freshDir("helpercols")
    val s = spark
    import s.implicits._
    def t(rows: (Long, String, Long)*) = rows.toDF("k", "__w", "__I").repartition(1)
    TxTable.append(t((1L, "a", 10L), (2L, "b", 20L)), dir) // v0
    TxTable.merge(spark, dir, t((2L, "B", 21L), (3L, "c", 30L)), Seq("k")) // v1
    val v1 = TxTable.readChanges(spark, dir, 0L, Some(1L)).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("k"),
        r.getAs[String]("__w"), r.getAs[Long]("__I"))).toSet
    assert(v1 == Set(("delete", 2L, "b", 20L), ("insert", 2L, "B", 21L),
      ("insert", 3L, "c", 30L)), v1)
    assertFeedInvariant(dir, -1L, 1L)
  }
}
