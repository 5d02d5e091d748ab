package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sources.TxTable

/** ACID contract tests for the log-structured table format: atomic
  * visibility, snapshot isolation / time travel, OPTIMIZE equivalence,
  * file-pruned MERGE, crash-orphan invisibility, concurrent-writer
  * collision, and vacuum retention.
  */
class TxTableSpec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val d = s"/root/repo/target/tmp/txtable_$tag"
    def del(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(del)
      p.delete()
    }
    del(new java.io.File(d))
    d
  }

  private def df(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "v")
  }

  private def slurp(dir: String, asOf: Option[Long] = None): Set[(Long, String)] =
    TxTable.read(spark, dir, asOf).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSet

  test("append is atomic and cumulative; time travel sees each version") {
    val dir = freshDir("append")
    val v0 = TxTable.append(df(1L -> "a", 2L -> "b"), dir)
    val v1 = TxTable.append(df(3L -> "c"), dir)
    assert((v0, v1) == (0L, 1L))
    assert(slurp(dir) == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(slurp(dir, Some(0L)) == Set(1L -> "a", 2L -> "b"))
  }

  test("a write with duplicate column names is refused and commits nothing") {
    val dir = freshDir("dupcols")
    intercept[org.apache.spark.sql.AnalysisException] {
      TxTable.append(df(1L -> "a").toDF("k", "k"), dir)
    }
    assert(TxTable.currentVersion(dir) == -1L)
  }

  test("overwrite replaces the snapshot; history keeps the old one") {
    val dir = freshDir("overwrite")
    TxTable.append(df(1L -> "a"), dir)
    TxTable.overwrite(df(9L -> "z"), dir)
    assert(slurp(dir) == Set(9L -> "z"))
    assert(slurp(dir, Some(0L)) == Set(1L -> "a"))
  }

  test("compact preserves data, shrinks files, keeps history") {
    val dir = freshDir("compact")
    (0 until 4).foreach(i => TxTable.append(df(i.toLong -> s"v$i"), dir))
    val before = TxTable.activeFiles(dir).size
    TxTable.compact(spark, dir, targetFiles = 1)
    assert(TxTable.activeFiles(dir).size == 1)
    assert(before >= 4)
    assert(slurp(dir) == (0 until 4).map(i => i.toLong -> s"v$i").toSet)
    // pre-compact snapshot still reachable
    assert(slurp(dir, Some(2L)) == (0 until 3).map(i => i.toLong -> s"v$i").toSet)
  }

  test("merge rewrites ONLY files containing matched keys") {
    val dir = freshDir("merge")
    TxTable.append(df(1L -> "a", 2L -> "b"), dir) // file 1
    TxTable.append(df(3L -> "c", 4L -> "d"), dir) // file 2
    val untouchedBefore = TxTable.activeFiles(dir)
    // update k=3, insert k=5: only file 2 may be rewritten
    TxTable.merge(spark, dir, df(3L -> "C!", 5L -> "e"), Seq("k"))
    assert(slurp(dir) == Set(1L -> "a", 2L -> "b", 3L -> "C!",
      4L -> "d", 5L -> "e"))
    val after = TxTable.activeFiles(dir).toSet
    // version-0 file survives untouched; version-1 file was replaced
    assert(after.intersect(untouchedBefore.toSet).nonEmpty, s"$after")
    val hist = TxTable.history(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hist(2L) == "merge")
    val removedAtMerge = TxTable.history(spark, dir)
      .where(col("version") === 2L).collect()(0).getAs[Long]("n_removes")
    assert(removedAtMerge == 1L, s"pruning failed: removed $removedAtMerge files")
  }

  test("pure-insert merge (no matched keys) rewrites nothing") {
    val dir = freshDir("merge_insert")
    TxTable.append(df(1L -> "a"), dir)
    TxTable.merge(spark, dir, df(7L -> "g"), Seq("k"))
    assert(slurp(dir) == Set(1L -> "a", 7L -> "g"))
    val removed = TxTable.history(spark, dir)
      .where(col("version") === 1L).collect()(0).getAs[Long]("n_removes")
    assert(removed == 0L)
  }

  test("crashed writer's orphan files are invisible; vacuum reclaims them") {
    val dir = freshDir("orphan")
    TxTable.append(df(1L -> "a"), dir)
    // simulate a crash after staging, before publish: a stray parquet
    df(99L -> "ghost").coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/_crash")
    val part = Files.list(Paths.get(s"$dir/_crash")).iterator()
    var moved = false
    while (part.hasNext && !moved) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet")) {
        Files.move(p, Paths.get(dir, "deadbeef-part00000.parquet"))
        moved = true
      }
    }
    assert(moved)
    assert(slurp(dir) == Set(1L -> "a")) // reader never sees the orphan
    val reclaimed = TxTable.vacuum(dir)
    assert(reclaimed == 1L)
    assert(slurp(dir) == Set(1L -> "a"))
  }

  test("version collision: appends claim the next slot, CAS writers raise") {
    val dir = freshDir("conflict")
    TxTable.append(df(1L -> "a"), dir)
    // occupy the next version slot as a concurrent writer would
    Files.writeString(Paths.get(dir, "_txlog",
      f"${1L}%020d.json"),
      """{"version":1,"op":"append","adds":[],"removes":[],"schema":""}""")
    val v = TxTable.append(df(2L -> "b"), dir) // lands after the squatter
    assert(v == 2L)
    assert(slurp(dir) == Set(1L -> "a", 2L -> "b"))
    // a semantic writer whose decision was derived at version 0 must NOT
    // publish once the table has moved to version 2
    intercept[java.util.ConcurrentModificationException] {
      TxTable.overwrite(df(9L -> "z"), dir, expectedVersion = Some(0L))
    }
    assert(slurp(dir) == Set(1L -> "a", 2L -> "b")) // nothing published
    // with the current version the same overwrite goes through
    TxTable.overwrite(df(9L -> "z"), dir, expectedVersion = Some(2L))
    assert(slurp(dir) == Set(9L -> "z"))
  }

  test("log checkpoint at the interval: bounded replay, same snapshots") {
    val dir = freshDir("ckpt")
    (0 until 12).foreach(i => TxTable.append(df(i.toLong -> s"v$i"), dir))
    // checkpoint landed at version 10
    assert(Files.exists(Paths.get(dir, "_txlog",
      f"${10L}%020d.checkpoint.json")))
    // reads through the checkpoint equal full replay at every version
    assert(slurp(dir) == (0 until 12).map(i => i.toLong -> s"v$i").toSet)
    assert(slurp(dir, Some(10L)) == (0 until 11).map(i => i.toLong -> s"v$i").toSet)
    // pre-checkpoint time travel never touches it
    assert(slurp(dir, Some(4L)) == (0 until 5).map(i => i.toLong -> s"v$i").toSet)
  }

  test("additive schema evolution: wide reads over narrow files and back") {
    val s = spark
    import s.implicits._
    val dir = freshDir("evolve")
    TxTable.append(Seq((1L, "a")).toDF("k", "v"), dir)
    TxTable.append(Seq((2L, "b", 7L)).toDF("k", "v", "extra"), dir)
    val wide = TxTable.read(spark, dir)
    assert(wide.columns.toSeq == Seq("k", "v", "extra"))
    val rows = wide.collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(rows == Set((1L, "a", None), (2L, "b", Some(7L))))
    // a LATER narrow append must not shrink the table schema
    TxTable.append(Seq((3L, "c")).toDF("k", "v"), dir)
    val after = TxTable.read(spark, dir)
    assert(after.columns.toSeq == Seq("k", "v", "extra"))
    assert(after.where(col("k") === 3L).collect()(0).isNullAt(2))
    // a type change is a rewrite, not evolution
    intercept[IllegalArgumentException] {
      TxTable.append(Seq((4L, 9L)).toDF("k", "v"), dir)
    }
  }

  test("vacuum with a horizon drops pre-horizon history only") {
    val dir = freshDir("vacuum")
    TxTable.append(df(1L -> "a"), dir) // v0
    TxTable.overwrite(df(2L -> "b"), dir) // v1 removes v0's file
    TxTable.append(df(3L -> "c"), dir) // v2
    val n = TxTable.vacuum(dir, retainFrom = 1L)
    assert(n == 1L) // v0's file is unreachable from v1+
    assert(slurp(dir) == Set(2L -> "b", 3L -> "c"))
    assert(slurp(dir, Some(1L)) == Set(2L -> "b")) // horizon intact
  }

  test("concurrent appenders: every commit lands exactly once, no torn reads") {
    val dir = freshDir("stress")
    val threads = 8
    val perThread = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // concurrent readers race the appends: every snapshot they observe
    // must be a prefix-consistent version (k-set == some commit count)
    val reader = new Thread(() => {
      (1 to 20).foreach { _ =>
        try {
          val n = TxTable.read(spark, dir).count()
          assert(n % 2 == 0, s"torn read: $n rows") // every append = 2 rows
        } catch { case t: Throwable => errs.add(t) }
        Thread.sleep(15)
      }
    })
    val latch = new java.util.concurrent.CountDownLatch(1)
    (0 until threads).foreach { t =>
      pool.submit(new Runnable {
        def run(): Unit = {
          latch.await()
          (0 until perThread).foreach { i =>
            try TxTable.append(
              df((t * 100L + i) -> s"t$t-$i", (t * 100L + i + 50L) -> "x"),
              dir)
            catch { case e: Throwable => errs.add(e) }
          }
        }
      })
    }
    reader.start(); latch.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
    reader.join()
    assert(errs.isEmpty, String.valueOf(errs.peek()))
    // all 48 optimistic appends won SOME version, none lost or duplicated
    assert(TxTable.currentVersion(dir) == threads * perThread - 1)
    assert(TxTable.read(spark, dir).count() == threads * perThread * 2L)
    val h = TxTable.history(spark, dir).collect()
    assert(h.length == threads * perThread && h.forall(_.getString(1) == "append"))
  }

  test("bloom filters work on a partitioned table's data columns") {
    val s = spark
    import s.implicits._
    val dir = freshDir("partbloom")
    val data = (0L until 400L).map(i => (i, s"p${i % 4}", i * 3L))
      .toDF("id", "part", "payload")
    TxTable.append(data, dir, bloomFor = Seq("id"), partitionBy = Seq("part"))
    // zone maps can't serve an interleaved id probe inside one partition
    // file set, the bloom proves absence across ALL files
    val (kept, skipped) = TxTable.pruneFiles(spark, dir, col("id") === 9999L)
    assert(kept.isEmpty && skipped.nonEmpty)
    val (k2, _) = TxTable.pruneFiles(spark, dir, col("id") === 7L)
    assert(k2.nonEmpty)
    assert(TxTable.readWhere(spark, dir, col("id") === 7L).count() == 1)
    // bloom on the PARTITION column itself is refused (not in data files)
    intercept[IllegalArgumentException] {
      TxTable.append(data, freshDir("partbloom2"),
        bloomFor = Seq("part"), partitionBy = Seq("part"))
    }
  }
}
