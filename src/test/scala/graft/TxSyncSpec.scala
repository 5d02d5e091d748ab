package graft

import org.apache.spark.sql.functions._
import graft.sources.{TxSync, TxTable}

/** CDF-driven replication: convergence through every DML kind,
  * idempotence / resumability from the tag high-water mark, incremental
  * catch-up, and file-pruned applies on the target.
  */
class TxSyncSpec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val d = s"/root/repo/target/tmp/txsync_$tag"
    def del(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(del)
      p.delete()
    }
    del(new java.io.File(d))
    d
  }

  private def assertSame(srcDir: String, dstDir: String): Unit = {
    val a = TxTable.read(spark, srcDir)
    val b = TxTable.read(spark, dstDir).select(a.columns.map(col).toIndexedSeq: _*)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "replica diverged from source")
  }

  test("replica converges through append, merge, delete, update, compact") {
    val src = freshDir("conv_src")
    val dst = freshDir("conv_dst")
    val s = spark
    import s.implicits._
    def df(rows: (Long, String)*) = rows.toDF("k", "v").repartition(1)
    TxTable.append(df(1L -> "a", 2L -> "b"), src)
    TxTable.append(df(3L -> "c", 4L -> "d"), src)
    assert(TxSync.replicate(spark, src, dst, Seq("k")) == 2L)
    assertSame(src, dst)
    TxTable.merge(spark, src, df(2L -> "B!", 9L -> "i"), Seq("k"))
    TxTable.delete(spark, src, col("k") === 3L)
    TxTable.update(spark, src, col("k") === 4L, Map("v" -> lit("D!")))
    TxTable.compact(spark, src, targetFiles = 1) // layout-only: empty feed
    assert(TxSync.replicate(spark, src, dst, Seq("k")) == 4L)
    assertSame(src, dst)
    // idempotent: nothing new to apply, no new target version
    val v = TxTable.currentVersion(dst)
    assert(TxSync.replicate(spark, src, dst, Seq("k")) == 0L)
    assert(TxTable.currentVersion(dst) == v)
  }

  test("applies are file-pruned on the target") {
    val src = freshDir("prune_src")
    val dst = freshDir("prune_dst")
    val s = spark
    import s.implicits._
    // two disjoint key-range files on BOTH sides after the first sync
    TxTable.append((0L until 10L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(1), src)
    TxSync.replicate(spark, src, dst, Seq("k"))
    TxTable.append((10L until 20L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(1), src)
    TxSync.replicate(spark, src, dst, Seq("k"))
    val dstFilesBefore = TxTable.activeFiles(dst).toSet
    // touch only the high range on the source
    TxTable.update(spark, src, col("k") === 15L, Map("v" -> lit("X")))
    TxSync.replicate(spark, src, dst, Seq("k"))
    val after = TxTable.activeFiles(dst).toSet
    assert(after.intersect(dstFilesBefore).nonEmpty,
      "the untouched low-range target file must carry over")
    assertSame(src, dst)
  }

  test("resumable: a partially-applied window catches up, never re-applies") {
    val src = freshDir("resume_src")
    val dst = freshDir("resume_dst")
    val s = spark
    import s.implicits._
    def df(rows: (Long, String)*) = rows.toDF("k", "v").repartition(1)
    TxTable.append(df(1L -> "a"), src)
    TxSync.replicate(spark, src, dst, Seq("k"))
    TxTable.append(df(2L -> "b"), src)
    TxTable.delete(spark, src, col("k") === 1L)
    // two pending versions; replicate applies both in order
    assert(TxSync.replicate(spark, src, dst, Seq("k")) == 2L)
    assertSame(src, dst)
    assert(TxTable.read(spark, dst).collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("a catch-up reads the replica's log back to its newest tag only") {
    val src = freshDir("hwm_src")
    val dst = freshDir("hwm_dst")
    val s = spark
    import s.implicits._
    def df(rows: (Long, String)*) = rows.toDF("k", "v").repartition(1)
    (0L until 12L).foreach(i => TxTable.append(df(i -> s"v$i"), src))
    assert(TxSync.replicate(spark, src, dst, Seq("k")) == 12L)
    val log = java.nio.file.Paths.get(dst, "_txlog")
    assert(java.nio.file.Files.exists(log.resolve(f"${10}%020d.checkpoint.json")))
    // the replica's history below its checkpoint becomes unreadable: the
    // high-water mark and the applies must not need it
    (0 until 10).foreach(v =>
      java.nio.file.Files.writeString(log.resolve(f"$v%020d.json"), "unreadable"))
    TxTable.append(df(12L -> "v12"), src)
    TxTable.update(spark, src, col("k") === 3L, Map("v" -> lit("X")))
    assert(TxSync.replicate(spark, src, dst, Seq("k")) == 2L)
    assertSame(src, dst)
    assert(TxSync.replicate(spark, src, dst, Seq("k")) == 0L)
  }
}
