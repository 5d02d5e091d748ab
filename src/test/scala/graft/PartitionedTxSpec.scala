package graft

import java.sql.Date

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sources.{GraftFileIndex, TxTable}

/** Hive-partitioned TxTables: layout on disk, value re-attachment (typed,
  * including null partitions), static partition pruning AND synthesized
  * zone-map pruning through both the library (`readWhere`/`pruneFiles`)
  * and connector (`format("graft")`, numFiles metric) read paths, layout
  * rules (append can't change it, overwrite can), the not-yet-supported
  * refusals, and recursive vacuum.
  */
class PartitionedTxSpec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val d = s"/root/repo/target/tmp/parttx_$tag"
    def del(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(del)
      p.delete()
    }
    del(new java.io.File(d))
    d
  }

  /** (k, region, day, v): region string (one null), day date, k long. */
  private def sample(): DataFrame = {
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("region", StringType, nullable = true),
      StructField("day", DateType, nullable = false),
      StructField("v", DoubleType, nullable = false)))
    val rows = (0L until 60L).map { i =>
      val region = if (i % 20 == 19) null else s"r${i % 3}"
      Row(i, region, Date.valueOf(s"2021-01-0${i % 2 + 1}"), i * 1.5)
    }
    spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema)
      .repartition(2)
  }

  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    fileScans(df).map(_.metrics("numFiles").value).sum
  }

  test("roundtrip: partition values re-attached, typed, null partition kept") {
    val dir = freshDir("roundtrip")
    val df = sample()
    TxTable.append(df, dir, partitionBy = Seq("region", "day"))
    val back = TxTable.read(spark, dir)
    assert(back.schema.fieldNames.toSeq == Seq("k", "region", "day", "v"))
    assert(back.schema("region").dataType == StringType)
    assert(back.schema("day").dataType == DateType)
    val expect = df.orderBy("k").collect().toSeq
    assert(back.orderBy("k").collect().toSeq == expect)
    // hive layout on disk
    val dirs = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).sorted.toSeq
    assert(dirs.contains("region=r0") &&
      dirs.contains("region=__HIVE_DEFAULT_PARTITION__"), dirs)
  }

  test("partition pruning through the connector, exact results") {
    val dir = freshDir("prune")
    sample().write.format("graft").partitionBy("region")
      .mode(SaveMode.Append).save(dir)
    val all = spark.read.format("graft").load(dir)
    val totalFiles = scannedFiles(all.select(count(lit(1))))
    assert(totalFiles >= 4) // 3 regions + null partition, >=1 file each
    // static partition pruning: one region's files only
    val one = spark.read.format("graft").load(dir)
      .where(col("region") === "r1")
    val oneFiles = scannedFiles(one)
    assert(oneFiles < totalFiles && oneFiles >= 1, s"$oneFiles/$totalFiles")
    assert(one.count() == sample().where(col("region") === "r1").count())
    // IS NULL reaches exactly the hive null partition
    val nulls = spark.read.format("graft").load(dir)
      .where(col("region").isNull)
    assert(scannedFiles(nulls) < totalFiles)
    assert(nulls.count() == 3)
    // mixed partition+data predicate prunes on BOTH (synthesized stats
    // carry the partition value; recorded stats carry k)
    val mixed = spark.read.format("graft").load(dir)
      .where(col("region") === "r1" && col("k") < 0L)
    assert(mixed.count() == 0)
  }

  test("library path: readWhere equals read().where, pruneFiles sound") {
    val dir = freshDir("lib")
    TxTable.append(sample(), dir, partitionBy = Seq("day"))
    val pred = col("day") === Date.valueOf("2021-01-01") && col("k") >= 10L
    val viaWhere = TxTable.readWhere(spark, dir, pred)
      .orderBy("k").collect().toSeq
    val plain = TxTable.read(spark, dir).where(pred)
      .orderBy("k").collect().toSeq
    assert(viaWhere == plain && plain.nonEmpty)
    // the observability seam sees the synthesized partition stats
    val (kept, skipped) =
      TxTable.pruneFiles(spark, dir, col("day") === Date.valueOf("2021-01-02"))
    assert(skipped.nonEmpty)
    assert(kept.forall(_.startsWith("day=2021-01-02/")), kept)
  }

  test("append inherits layout and refuses a different one; overwrite re-partitions") {
    val dir = freshDir("layout")
    TxTable.append(sample(), dir, partitionBy = Seq("region"))
    // bare append inherits
    TxTable.append(sample().withColumn("k", col("k") + 100L), dir)
    assert(TxTable.partitionColsAt(dir) == Seq("region"))
    assert(TxTable.read(spark, dir).count() == 120)
    intercept[IllegalArgumentException] {
      TxTable.append(sample(), dir, partitionBy = Seq("day"))
    }
    // overwrite may change the layout; time travel still reads the old one
    TxTable.overwrite(sample(), dir, partitionBy = Seq("day"))
    assert(TxTable.partitionColsAt(dir) == Seq("day"))
    assert(TxTable.read(spark, dir).count() == 60)
    assert(TxTable.partitionColsAt(dir, Some(1L)) == Seq("region"))
    assert(TxTable.read(spark, dir, Some(1L)).count() == 120)
  }

  test("float partition keys are refused outright") {
    intercept[IllegalArgumentException] {
      TxTable.append(sample(), freshDir("floatpart"), partitionBy = Seq("v"))
    }
  }

  test("DELETE on a partitioned table: partition drop and data predicate") {
    val dir = freshDir("dml_del")
    TxTable.append(sample(), dir, partitionBy = Seq("region"))
    // partition-key delete touches exactly that directory and drops it
    TxTable.delete(spark, dir, col("region") === "r2")
    assert(!TxTable.activeFiles(dir).exists(_.startsWith("region=r2/")))
    assert(TxTable.read(spark, dir).where(col("region") === "r2").count() == 0)
    // data-column delete inside surviving partitions, parity vs filter
    val before = TxTable.read(spark, dir).where(col("k") >= 30L).count()
    TxTable.delete(spark, dir, col("k") < 30L)
    val after = TxTable.read(spark, dir)
    assert(after.count() == before)
    assert(after.where(col("k") < 30L).count() == 0)
    // partition values survive the copy-on-write rewrite
    assert(after.where(col("region").isNull).count() ==
      sample().where(col("region").isNull && col("k") >= 30L).count())
  }

  test("partition DELETE is zero-read: poisoned files drop untouched") {
    val dir = freshDir("dml_del0")
    TxTable.append(sample(), dir, partitionBy = Seq("region"))
    val r2files = TxTable.activeFiles(dir).filter(_.startsWith("region=r2/"))
    assert(r2files.nonEmpty)
    // any read of these would now throw — the drop must be metadata-only
    r2files.foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, f),
        "not a parquet file".getBytes)
    }
    TxTable.delete(spark, dir, col("region") === "r2")
    assert(!TxTable.activeFiles(dir).exists(_.startsWith("region=r2/")))
    val got = TxTable.read(spark, dir)
    assert(got.count() == sample().where(
      col("region").isNull || col("region") =!= "r2").count())
    // the same mechanism serves retention sweeps on a data column: every
    // k-value in this fixture is < 60, so the sweep reads nothing either
    TxTable.activeFiles(dir).foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, f),
        "poisoned too".getBytes)
    }
    TxTable.delete(spark, dir, col("k") < 100L)
    assert(TxTable.activeFiles(dir).isEmpty)
    assert(TxTable.read(spark, dir).count() == 0)
  }

  test("a negated partition DELETE is zero-read and leaves the kept partitions alone") {
    val dir = freshDir("dml_del_not")
    val s = spark
    import s.implicits._
    val rows = (0L until 40L).map(i => (i, (i % 4).toInt))
    TxTable.append(rows.toDF("k", "p").repartition(2), dir, partitionBy = Seq("p"))
    def kept(f: String) = f.startsWith("p=1/") || f.startsWith("p=2/")
    val (keep, others) = TxTable.activeFiles(dir).partition(kept)
    assert(keep.nonEmpty && others.nonEmpty)
    // any read of these would now throw — the drop must be metadata-only
    others.foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, f),
        "not a parquet file".getBytes)
    }
    TxTable.delete(spark, dir, !(col("p") === 1 || col("p") === 2))
    // the kept partitions' files are not even rewritten
    assert(TxTable.activeFiles(dir).sorted == keep.sorted)
    assert(TxTable.read(spark, dir).as[(Long, Int)].collect().sorted.toSeq ==
      rows.filter(r => r._2 == 1 || r._2 == 2))
  }

  test("UPDATE on a partitioned table, including a partition-moving SET") {
    val dir = freshDir("dml_upd")
    TxTable.append(sample(), dir, partitionBy = Seq("region"))
    TxTable.update(spark, dir, col("region") === "r0",
      Map("v" -> (col("v") + 1000.0)))
    val got = TxTable.read(spark, dir)
    assert(got.where(col("region") === "r0" && col("v") < 1000.0).count() == 0)
    assert(got.where(col("region") === "r1" && col("v") >= 1000.0).count() == 0)
    // SET on the partition column moves rows across directories
    TxTable.update(spark, dir, col("region") === "r1",
      Map("region" -> lit("r9")))
    val moved = TxTable.read(spark, dir)
    assert(moved.where(col("region") === "r1").count() == 0)
    assert(moved.where(col("region") === "r9").count() ==
      sample().where(col("region") === "r1").count())
    assert(TxTable.activeFiles(dir).exists(_.startsWith("region=r9/")))
    // and the new directory's synthesized stats prune correctly
    val (kept, _) = TxTable.pruneFiles(spark, dir, col("region") === "r9")
    assert(kept.nonEmpty && kept.forall(_.startsWith("region=r9/")), kept)
  }

  test("MERGE upserts into a partitioned table, file-pruned") {
    val dir = freshDir("dml_merge")
    TxTable.append(sample(), dir, partitionBy = Seq("region"))
    val filesBefore = TxTable.activeFiles(dir).toSet
    val src = sample().where(col("k").isin(3L, 4L))
      .withColumn("v", col("v") + 0.25)
      .unionByName(sample().where(col("k") === 7L)
        .withColumn("k", col("k") + 1000L)) // new key
    TxTable.merge(spark, dir, src, Seq("k"))
    val got = TxTable.read(spark, dir)
    assert(got.count() == 61)
    assert(got.where(col("k") === 3L).collect()(0)
      .getAs[Double]("v") == 3 * 1.5 + 0.25)
    assert(got.where(col("k") === 1007L).count() == 1)
    // untouched partitions carried over byte-identical (same file names)
    val untouchedBefore = filesBefore.filterNot(f =>
      f.startsWith("region=r0/") || f.startsWith("region=r1/"))
    assert(untouchedBefore.subsetOf(TxTable.activeFiles(dir).toSet))
  }

  test("OPTIMIZE preserves the partition layout and pruning") {
    val dir = freshDir("dml_opt")
    val df = sample()
    TxTable.append(df.where(col("k") < 30L), dir, partitionBy = Seq("region"))
    TxTable.append(df.where(col("k") >= 30L), dir)
    TxTable.compact(spark, dir, targetFiles = 1)
    assert(TxTable.partitionColsAt(dir) == Seq("region"))
    assert(TxTable.activeFiles(dir).forall(_.startsWith("region=")),
      TxTable.activeFiles(dir))
    assert(TxTable.read(spark, dir).orderBy("k").collect().toSeq ==
      df.orderBy("k").collect().toSeq)
    val (kept, skipped) = TxTable.pruneFiles(spark, dir, col("region") === "r0")
    assert(skipped.nonEmpty && kept.forall(_.startsWith("region=r0/")))
  }

  test("CDF on a partitioned table carries re-attached partition values") {
    val dir = freshDir("dml_cdf")
    TxTable.append(sample(), dir, partitionBy = Seq("region")) // v0
    TxTable.delete(spark, dir, col("region") === "r1") // v1
    TxTable.merge(spark, dir,
      sample().where(col("k") === 0L).withColumn("v", col("v") + 9.0),
      Seq("k")) // v2
    val feed = TxTable.readChanges(spark, dir, -1L)
    assert(feed.schema.fieldNames.contains("region"))
    val byV = feed.groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byV((0L, "insert")) == 60)
    assert(byV((1L, "delete")) == sample().where(col("region") === "r1").count())
    assert(byV((2L, "insert")) == 1 && byV((2L, "delete")) == 1)
    // the streamed source rides the same feed
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").load(dir)
      .groupBy("_change_type").count()
      .writeStream.format("memory").queryName("part_cdf_stream")
      .outputMode("complete")
      .option("checkpointLocation", freshDir("dml_cdf_ck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("part_cdf_stream").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed("insert") == 61 && streamed("delete") ==
      byV((1L, "delete")) + 1)
  }

  test("CDF across a layout-changing overwrite reads removes at the old layout") {
    val dir = freshDir("dml_cdf_ow")
    TxTable.append(sample(), dir, partitionBy = Seq("region")) // v0
    TxTable.overwrite(sample().where(col("k") < 5L), dir,
      partitionBy = Seq("day")) // v1: re-partitioned
    val feed = TxTable.readChanges(spark, dir, -1L)
    val byV = feed.groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byV((0L, "insert")) == 60)
    // net diff at v1: 5 identical rows cancel, 55 deletes
    assert(byV((1L, "delete")) == 55 && !byV.contains((1L, "insert")))
  }

  test("a DML rewrite over three partition directories plans one scan") {
    val dir = freshDir("dml_onescan")
    val df = sample().where(col("region").isNotNull)
    TxTable.append(df, dir, partitionBy = Seq("region"))
    val before = TxTable.activeFiles(dir)
    assert(before.map(f => f.take(f.indexOf('/'))).distinct.size == 3, before)
    // the rewrite runs as the staging write's one "save" execution
    val saves = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = if (funcName == "save") saves.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      TxTable.update(spark, dir, col("k") >= 0L, Map("v" -> (col("v") + 1.0)))
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(saves.size == 1)
    val scans = fileScans(saves.peek().executedPlan)
    assert(scans.size == 1, s"${scans.size} scans")
    assert(scans.head.relation.location.isInstanceOf[GraftFileIndex])
    assert(scans.head.metrics("numFiles").value == before.size)
    assert(TxTable.read(spark, dir).orderBy("k").collect().toSeq ==
      df.withColumn("v", col("v") + 1.0).orderBy("k").collect().toSeq)
  }

  test("reads racing re-partitioning overwrites each see one committed version") {
    val dir = freshDir("race")
    val s = spark
    import s.implicits._
    def rows(n: Int): DataFrame =
      (0 until n).map(i => (i.toLong, i % 3, i % 2)).toDF("k", "p", "q")
    // overwrite i commits 10 + i rows, alternating the p and q layouts (a
    // table cannot be overwritten back to unpartitioned: an overwrite
    // without partitionBy inherits the layout)
    val overwrites = 24
    TxTable.overwrite(rows(10), dir, partitionBy = Seq("p"))
    val committed = (0 to overwrites).map(i => 10L + i).toSet
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val appends = new java.util.concurrent.atomic.AtomicInteger()
    val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
    // an overwrite that loses its version to an append raises; it
    // re-derives and retries, as the CAS contract asks of its caller
    @annotation.tailrec
    def overwrite(i: Int, attempts: Int = 1): Unit = {
      val landed =
        try {
          TxTable.overwrite(rows(10 + i), dir,
            partitionBy = Seq(if (i % 2 == 0) "p" else "q"))
          true
        } catch {
          case _: java.util.ConcurrentModificationException if attempts < 50 => false
        }
      if (!landed) overwrite(i, attempts + 1)
    }
    val writer = new Thread(() => {
      try (1 to overwrites).foreach(overwrite(_))
      catch { case t: Throwable => errs.add(t) }
      finally writing.set(false)
    })
    // appended rows carry k < 0, so the readers count overwrite rows only;
    // an append that loses its version to a re-partitioning must raise,
    // never commit files in the layout it staged under. Paced, so the
    // overwrites (slower to stage) are not starved of versions.
    val appender = new Thread(() => {
      var i = 0L
      while (writing.get()) {
        i += 1
        Thread.sleep(100)
        try {
          TxTable.append(Seq((-2 * i, 0, 0), (-2 * i - 1, 1, 1)).toDF("k", "p", "q"), dir)
          appends.incrementAndGet()
        } catch {
          case _: java.util.ConcurrentModificationException =>
          case t: Throwable => errs.add(t)
        }
      }
    })
    def reader(count: () => Long): Thread = new Thread(() => {
      while (writing.get()) {
        try {
          val n = count()
          reads.incrementAndGet()
          if (!committed(n)) errs.add(new AssertionError(s"read $n rows"))
        } catch { case t: Throwable => errs.add(t) }
      }
    })
    val readers = Seq(
      reader(() => TxTable.read(spark, dir).where(col("k") >= 0L).count()),
      reader(() => spark.read.format("graft").load(dir)
        .where(col("k") >= 0L).count()))
    writer.start(); appender.start(); readers.foreach(_.start())
    writer.join(); appender.join(); readers.foreach(_.join())
    // every version the race produced reads, in its own layout
    (0L to TxTable.currentVersion(dir)).foreach { v =>
      try TxTable.read(spark, dir, Some(v)).count()
      catch { case t: Throwable => errs.add(t) }
    }
    assert(errs.isEmpty, errs.asScala.take(3).mkString("; "))
    assert(reads.get() > 0)
    assert(TxTable.currentVersion(dir) == overwrites + appends.get())
  }

  test("TxSync replicates a partitioned source into a partitioned replica") {
    val src = freshDir("sync_src")
    val dst = freshDir("sync_dst")
    TxTable.append(sample(), src, partitionBy = Seq("region")) // v0
    // replica seeded with ITS OWN layout (by day, not region)
    TxTable.append(sample().where(lit(false)), dst, partitionBy = Seq("day"))
    graft.sources.TxSync.replicate(spark, src, dst, Seq("k"))
    assert(TxTable.read(spark, dst).count() == 60)
    assert(TxTable.activeFiles(dst).forall(_.startsWith("day=")),
      TxTable.activeFiles(dst).take(3))
    // incremental: a partition delete + an update flow through
    TxTable.delete(spark, src, col("region") === "r0")
    TxTable.update(spark, src, col("k") === 1L, Map("v" -> lit(-1.0)))
    val applied = graft.sources.TxSync.replicate(spark, src, dst, Seq("k"))
    assert(applied == 2)
    val got = TxTable.read(spark, dst)
    assert(got.orderBy("k").collect().toSeq ==
      TxTable.read(spark, src).orderBy("k").collect().toSeq)
    assert(got.where(col("v") === -1.0).count() == 1)
    // idempotent re-run
    assert(graft.sources.TxSync.replicate(spark, src, dst, Seq("k")) == 0)
  }

  test("an empty sync apply keeps partition directories that hold live files") {
    val src = freshDir("empty_sync_src")
    val dst = freshDir("empty_sync_dst")
    TxTable.append(sample(), src, partitionBy = Seq("region"))
    TxTable.append(sample().where(lit(false)), dst, partitionBy = Seq("day"))
    graft.sources.TxSync.replicate(spark, src, dst, Seq("k"))
    val live = TxTable.activeFiles(dst)
    assert(live.nonEmpty && live.forall(_.startsWith("day=")), live)
    // the empty apply stages no file into a partition directory, so it
    // neither creates nor removes a directory under dst
    def dirs(): Set[String] = {
      val root = java.nio.file.Paths.get(dst)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala
        .filter(java.nio.file.Files.isDirectory(_))
        .map(root.relativize(_).toString).toSet
      finally walk.close()
    }
    val dirsBefore = dirs()
    TxTable.compact(spark, src, targetFiles = 1) // layout-only: empty apply
    assert(graft.sources.TxSync.replicate(spark, src, dst, Seq("k")) == 1)
    assert(TxTable.activeFiles(dst) == live)
    assert(dirs() == dirsBefore)
    live.foreach { f =>
      val p = java.nio.file.Paths.get(dst, f)
      assert(java.nio.file.Files.isRegularFile(p), f)
    }
    assert(TxTable.read(spark, dst).count() == 60)
  }

  test("vacuum reclaims nested files dropped by overwrite") {
    val dir = freshDir("vacuum")
    TxTable.append(sample(), dir, partitionBy = Seq("region"))
    val before = TxTable.activeFiles(dir).size
    TxTable.overwrite(sample().where(col("k") < 10L), dir,
      partitionBy = Seq("region"))
    val reclaimed = TxTable.vacuum(dir) // retain latest only
    assert(reclaimed == before, s"reclaimed $reclaimed of $before")
    // the survivor snapshot is intact
    assert(TxTable.read(spark, dir).count() == 10)
  }

  test("schema evolution on a partitioned table") {
    val dir = freshDir("evolve")
    TxTable.append(sample(), dir, partitionBy = Seq("region"))
    TxTable.append(
      sample().withColumn("k", col("k") + 100L)
        .withColumn("extra", lit(7L)), dir)
    val back = TxTable.read(spark, dir)
    assert(back.schema.fieldNames.toSeq ==
      Seq("k", "region", "day", "v", "extra"))
    assert(back.where(col("extra").isNull).count() == 60) // old files
    assert(back.where(col("extra") === 7L).count() == 60)
  }
}
