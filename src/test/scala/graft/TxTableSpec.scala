package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sources.TxTable

/** A commit that lands while a writer stages: `land(from, to)` copies the
  * files under `from` that `to` lacks (data files first, log last). Called
  * from a write task, it runs after the writer took its snapshot and
  * before it publishes.
  */
object Squatter {
  def land(from: String, to: String): Boolean = synchronized {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    val files = try walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      finally walk.close()
    files.sortBy(_.toString.contains("_txlog")).foreach { p =>
      val t = Paths.get(to).resolve(src.relativize(p).toString)
      if (!Files.exists(t)) {
        Files.createDirectories(t.getParent)
        Files.copy(p, t)
      }
    }
    true
  }

  /** `df` whose evaluation lands `from`'s newer commit in `to`: a write of
    * it into `to` loses its version to that commit.
    */
  def whileStaging(df: DataFrame, from: String, to: String): DataFrame = {
    val squat = udf((f: String, t: String) => land(f, t)).asNondeterministic()
    df.where(squat(lit(from), lit(to)))
  }
}

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

  test("a MERGE runs 3 jobs, searches its Bloom candidates with no shuffle, reads its source twice") {
    val s = spark
    import s.implicits._
    val dir = freshDir("merge_budget")
    // four files striped by k % 4: each spans the whole key range, so only
    // the Bloom filters can tell which files may hold a key
    (0 until 4).foreach { r =>
      TxTable.append((0L until 400L).filter(_ % 4 == r).map(k => (k, s"v$k"))
        .toDF("k", "v").repartition(1), dir, bloomFor = Seq("k"))
    }
    val keys = Seq(5L, 10L, 1000L) // files 1 and 2, and a new key
    val candidates = TxTable.pruneFiles(spark, dir, col("k").isin(keys: _*))._1
    assert(candidates.size == 2, candidates)
    // every evaluation of the source passes its rows through an accumulator;
    // a range (not a local relation) so that evaluating it runs a job
    val evaluated = spark.sparkContext.longAccumulator("source rows")
    val tick = udf { (k: Long) => evaluated.add(1L); k }.asNondeterministic()
    val source = spark.range(keys.size).select(
      tick(element_at(typedLit(keys), col("id").cast("int") + 1)).as("k"),
      concat(lit("m"), col("id").cast("string")).as("v"))
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = queries.add(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val jobs = try jobsOf(TxTable.merge(spark, dir, source, Seq("k"))).size
      finally spark.listenerManager.unregister(listener)
    assert(jobs == 3, "jobs: the key set, the search, the write")
    assert(evaluated.value == 2L * keys.size, s"${evaluated.value} source rows read")
    // the search: the one collect that scans the table
    val searches = queries.asScala.toSeq.collect {
      case ("collect", qe) if fileScans(qe.executedPlan).nonEmpty => qe.executedPlan
    }
    assert(searches.size == 1, queries.asScala.map(_._1))
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    val shuffles = nodes(searches.head).filter(n => n.isInstanceOf[Exchange] ||
      n.isInstanceOf[QueryStageExec] || n.isInstanceOf[BaseAggregateExec])
    assert(shuffles.isEmpty, searches.head)
    assert(fileScans(searches.head).map(_.metrics("numFiles").value).sum ==
      candidates.size)
    assert(slurp(dir) == (0L until 400L).filterNot(k => k == 5L || k == 10L)
      .map(k => k -> s"v$k").toSet ++ Set(5L -> "m0", 10L -> "m1", 1000L -> "m2"))
    val removed = TxTable.history(spark, dir).where(col("op") === "merge")
      .collect()(0).getAs[Long]("n_removes")
    assert(removed == 2L)
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

  /** `df` whose write copies `from`'s newer commit into `to` mid-stage. */
  private def squatWhileStaging(df: DataFrame, from: String, to: String): DataFrame =
    Squatter.whileStaging(df, from, to)

  /** A copy of `dir` with `change` committed to it: the squatter's commit. */
  private def squatter(dir: String, tag: String)(change: String => Unit): String = {
    val from = freshDir(tag)
    Squatter.land(dir, from)
    change(from)
    from
  }

  test("an append that loses its version to a re-partitioning raises, publishes nothing") {
    val s = spark
    import s.implicits._
    val dir = freshDir("squat_layout")
    def rows(k0: Long) = (k0 until k0 + 6L).map(k => (k, (k % 3).toInt, (k % 2).toInt))
      .toDF("k", "p", "q")
    TxTable.append(rows(0L), dir, partitionBy = Seq("p"))
    val from = squatter(dir, "squat_layout_from")(
      TxTable.overwrite(rows(100L), _, partitionBy = Seq("q")))
    intercept[java.util.ConcurrentModificationException] {
      TxTable.append(squatWhileStaging(rows(10L), from, dir), dir)
    }
    assert(TxTable.currentVersion(dir) == 1L)
    assert(TxTable.partitionColsAt(dir) == Seq("q"))
    assert(TxTable.read(spark, dir).select("k").as[Long].collect().toSet ==
      (100L until 106L).toSet)
    // its staged files are gone: only committed files remain on disk
    assert(TxTable.vacuum(dir, retainFrom = 0L) == 0L)
  }

  test("an append that loses its version keeps the column the winner added") {
    val s = spark
    import s.implicits._
    val dir = freshDir("squat_column")
    TxTable.append(Seq((1L, "a")).toDF("k", "v"), dir)
    val from = squatter(dir, "squat_column_from")(
      TxTable.append(Seq((2L, "b", 20L)).toDF("k", "v", "x"), _))
    val v = TxTable.append(
      squatWhileStaging(Seq((3L, "c", 3.5)).toDF("k", "v", "y"), from, dir), dir)
    assert(v == 2L)
    val back = TxTable.read(spark, dir)
    assert(back.columns.toSeq == Seq("k", "v", "x", "y"))
    assert(back.orderBy("k").collect().toSeq.map(r =>
      (r.getLong(0), Option(r.get(2)), Option(r.get(3)))) ==
      Seq((1L, None, None), (2L, Some(20L), None), (3L, None, Some(3.5))))
  }

  test("an append whose column a concurrent commit added with another type raises") {
    val s = spark
    import s.implicits._
    val dir = freshDir("squat_clash")
    TxTable.append(Seq((1L, "a")).toDF("k", "v"), dir)
    val from = squatter(dir, "squat_clash_from")(
      TxTable.append(Seq((2L, "b", "s")).toDF("k", "v", "x"), _))
    intercept[IllegalArgumentException] {
      TxTable.append(
        squatWhileStaging(Seq((3L, "c", 7)).toDF("k", "v", "x"), from, dir), dir)
    }
    assert(TxTable.currentVersion(dir) == 1L)
    assert(TxTable.schemaAt(dir).get("x").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(TxTable.vacuum(dir, retainFrom = 0L) == 0L)
  }

  test("a txn write is a no-op at or below its app's high-water mark") {
    val dir = freshDir("txn_hwm")
    assert(TxTable.append(df(1L -> "a"), dir, txn = Some("app=" -> 2L)) == 0L)
    TxTable.append(df(2L -> "b"), dir) // no txn: the scan walks past it
    // the same n and a lower n are replays: the app's entry, no new version
    assert(TxTable.append(df(1L -> "a"), dir, txn = Some("app=" -> 2L)) == 0L)
    assert(TxTable.merge(spark, dir, df(1L -> "x"), Seq("k"),
      txn = Some("app=" -> 1L)) == 0L)
    // another app whose text ends like this one's is another app
    assert(TxTable.append(df(3L -> "c"), dir, txn = Some("my-app=" -> 2L)) == 2L)
    assert(TxTable.merge(spark, dir, df(1L -> "A"), Seq("k"),
      txn = Some("app=" -> 3L)) == 3L)
    assert(slurp(dir) == Set(1L -> "A", 2L -> "b", 3L -> "c"))
    assert(TxTable.history(spark, dir).collect().map(_.getString(1)).toSeq ==
      Seq("append:app=2", "append", "append:my-app=2", "merge:app=3"))
    intercept[IllegalArgumentException] { // `app` then `n` must read back as one pair
      TxTable.append(df(4L -> "d"), dir, txn = Some("app1" -> 2L))
    }
  }

  test("a txn MERGE that loses its version to the same txn is a no-op; to another, raises") {
    val dir = freshDir("txn_race")
    TxTable.append(df(1L -> "a", 2L -> "b"), dir)
    val from = squatter(dir, "txn_race_from")(
      TxTable.merge(spark, _, df(2L -> "B"), Seq("k"), txn = Some("batch=" -> 4L)))
    assert(TxTable.merge(spark, dir, squatWhileStaging(df(2L -> "B"), from, dir),
      Seq("k"), txn = Some("batch=" -> 4L)) == 1L)
    assert(TxTable.currentVersion(dir) == 1L)
    assert(slurp(dir) == Set(1L -> "a", 2L -> "B"))
    assert(TxTable.vacuum(dir, retainFrom = 0L) == 0L) // its staged files are gone
    val next = squatter(dir, "txn_race_next")(
      TxTable.merge(spark, _, df(1L -> "A"), Seq("k"), txn = Some("batch=" -> 5L)))
    intercept[java.util.ConcurrentModificationException] {
      TxTable.merge(spark, dir, squatWhileStaging(df(3L -> "c"), next, dir),
        Seq("k"), txn = Some("batch=" -> 6L))
    }
    assert(TxTable.currentVersion(dir) == 2L)
    assert(TxTable.vacuum(dir, retainFrom = 0L) == 0L)
  }

  test("an empty write commits its schema and no data file") {
    val empty = df(1L -> "a").where(lit(false))
    def assertEmptyCommit(dir: String): Unit = {
      val h = TxTable.history(spark, dir).collect()
      assert(h.length == 1 && h(0).getLong(2) == 0L, h.toSeq)
      val back = TxTable.read(spark, dir, Some(0L))
      assert(back.columns.toSeq == Seq("k", "v") && back.count() == 0L)
      assert(!Files.walk(Paths.get(dir)).iterator().asScala
        .exists(_.toString.endsWith(".parquet")))
    }
    val appended = freshDir("empty_append")
    TxTable.append(empty, appended)
    assertEmptyCommit(appended)
    val merged = freshDir("empty_merge")
    TxTable.merge(spark, merged, empty, Seq("k"))
    assertEmptyCommit(merged)
  }

  test("one commit path: TxTable stages and publishes at one call site each") {
    val src = Paths.get("src/main/scala/graft/sources/TxTable.scala")
    assert(Files.isRegularFile(src))
    val code = Files.readString(src)
    def callSites(name: String): Int =
      s"""(?<!def )\\b$name\\(""".r.findAllMatchIn(code).size
    assert(callSites("stage") == 1, "stage through the commit helper")
    assert(callSites("publish") == 1, "publish through the commit helper")
    val walk = Files.walk(Paths.get("src"))
    val sources = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
      finally walk.close()
    val stray = sources.collect { case (p, code) if code.contains("publish" + "ForSync") => p }
    assert(stray.isEmpty, stray)
    // one transaction-id rule: the op grammar and the high-water lookup
    // live in TxTable alone — the retired per-writer lookups are gone, and
    // no other file reads a commit op, spells one out or matches one
    val retired = Seq("hasCommit" + "Tag", "opsNewest" + "First")
    val lookups = sources.collect { case (p, code) if retired.exists(code.contains) => p }
    assert(lookups.isEmpty, lookups)
    val opParsing = Seq("""TxTable\s*\.\s*history\b""",
      "\"(append|merge|sync|overwrite|update|delete):", """endsWith\(":""").map(_.r)
    val tagRegex = "\"\"*\\.r\\b".r // a regex literal in the table's writers
    val parsers = sources.collect {
      case (p, code) if p.toString.startsWith("src/main") && p != src &&
        (opParsing.exists(_.findFirstIn(code).nonEmpty) ||
          (Seq("/sources/", "/streaming/").exists(p.toString.contains) &&
            tagRegex.findFirstIn(code).nonEmpty)) => p
    }
    assert(parsers.isEmpty, parsers)
  }

  test("readChanges reads only the log entries of its window") {
    val dir = freshDir("changes_window")
    (0 until 8).foreach(i => TxTable.append(df(i.toLong -> s"v$i"), dir))
    TxTable.merge(spark, dir, df(2L -> "B", 9L -> "i"), Seq("k")) // v8
    val copy = freshDir("changes_window_copy")
    Squatter.land(dir, copy)
    (0L to 3L).foreach { v =>
      Files.writeString(Paths.get(copy, "_txlog", f"$v%020d.json"), "unreadable")
    }
    val feed = TxTable.readChanges(spark, copy, 5L).collect()
      .map(r => (r.getAs[Long]("_commit_version"), r.getAs[String]("_change_type"),
        r.getAs[Long]("k"), r.getAs[String]("v"))).toSet
    assert(feed == Set((6L, "insert", 6L, "v6"), (7L, "insert", 7L, "v7"),
      (8L, "delete", 2L, "v2"), (8L, "insert", 2L, "B"), (8L, "insert", 9L, "i")))
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
