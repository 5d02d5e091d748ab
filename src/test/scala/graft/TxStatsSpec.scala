package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{TxStats, TxTable}

/** Zone-map data skipping: stats recording, sidecar round-trip, and —
  * the property that matters — PRUNING SOUNDNESS: a skipped file must
  * contain zero rows matching the predicate, and `readWhere` must equal
  * `read().where()` exactly, for every predicate shape the walker
  * understands and several it must fail open on.
  */
class TxStatsSpec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val d = s"/root/repo/target/tmp/txstats_$tag"
    def del(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(del)
      p.delete()
    }
    del(new java.io.File(d))
    d
  }

  private def mixedDf(rows: Seq[(Long, java.lang.Double, String, Timestamp, java.lang.Boolean)]): DataFrame = {
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true),
      StructField("s", StringType, nullable = true),
      StructField("t", TimestampType, nullable = true),
      StructField("b", BooleanType, nullable = true)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](rows.map(r =>
        Row(r._1, r._2, r._3, r._4, r._5)).asJava),
      schema).repartition(1)
  }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Three files with disjoint k-ranges, nulls, NaN, and a long string. */
  private def buildTable(dir: String): Unit = {
    TxTable.append(mixedDf(Seq(
      (1L, 1.5, "apple", ts("2020-01-01 00:00:00"), java.lang.Boolean.TRUE),
      (2L, null, "banana", ts("2020-01-02 00:00:00"), java.lang.Boolean.FALSE),
      (3L, -2.0, null, null, null))), dir)
    TxTable.append(mixedDf(Seq(
      (10L, Double.NaN, "cherry", ts("2020-02-01 00:00:00"), java.lang.Boolean.TRUE),
      (11L, 7.25, "date", ts("2020-02-02 00:00:00"), java.lang.Boolean.TRUE))), dir)
    TxTable.append(mixedDf(Seq(
      (100L, 0.0, "x" * 200, ts("2021-01-01 00:00:00"), java.lang.Boolean.FALSE),
      (101L, 9.0, "zebra", ts("2021-06-01 00:00:00"), java.lang.Boolean.TRUE))), dir)
  }

  test("append records per-file zone maps with correct bounds and null counts") {
    val dir = freshDir("record")
    buildTable(dir)
    val stats = TxTable.fileStats(dir)
    assert(stats.size == 3, s"expected 3 files with stats, got ${stats.keys}")
    val byLoK = stats.values.toSeq.sortBy(_.cols("k").lo.get.asInstanceOf[Long])
    val f0 = byLoK.head
    assert(f0.rows == 3)
    assert(f0.cols("k") == TxStats.ColStats("l", 0, Some(1L), Some(3L)))
    assert(f0.cols("v").nulls == 1)
    assert(f0.cols("v").lo.contains(-2.0) && f0.cols("v").hi.contains(1.5))
    assert(f0.cols("s").nulls == 1)
    assert(f0.cols("s").lo.contains("apple") && f0.cols("s").hi.contains("banana"))
    assert(f0.cols("t").nulls == 1)
    assert(f0.cols("b") == TxStats.ColStats("l", 1, Some(0L), Some(1L)))
    // NaN is the max (Spark's total order, NaN greatest), so `v > 1e300`
    // still keeps the file (the battery below pins that)
    val f1 = byLoK(1)
    val v1 = f1.cols("v")
    assert(v1.lo.contains(7.25) && v1.hi.exists(_.asInstanceOf[Double].isNaN),
      s"unsound NaN bounds: $v1")
    // a >64-char string: lower bound truncated to a sound prefix; the
    // max element ("zebra") is short, so the upper bound stays exact
    val f2 = byLoK(2)
    assert(f2.cols("s").lo.contains("x" * 64))
    assert(f2.cols("s").hi.contains("zebra"))
  }

  test("string upper bound is dropped, not loosened, under truncation") {
    val dir = freshDir("trunc")
    val s = spark
    import s.implicits._
    TxTable.append(Seq(("a" * 100, 1L), ("b" * 100, 2L))
      .toDF("s", "k").repartition(1), dir)
    val cs = TxTable.fileStats(dir).values.head.cols("s")
    assert(cs.lo.contains("a" * 64))
    assert(cs.hi.isEmpty, s"truncated max must drop the bound, got ${cs.hi}")
    // unbounded above: a > probe can never prune (fail-open)...
    assert(TxTable.pruneFiles(spark, dir, col("s") > "zzz")._2.isEmpty)
    // ...but the sound lower bound still prunes equality below it
    assert(TxTable.pruneFiles(spark, dir, col("s") === "A")._2.size == 1)
    assert(TxTable.readWhere(spark, dir, col("s") > "zzz").count() == 0)
  }

  /** Equal stats, NaN == NaN and Bloom words compared bit for bit. */
  private def assertSameStats(f: String, got: TxStats.FileStats,
      want: TxStats.FileStats): Unit = {
    def same(a: Option[Any], b: Option[Any]): Boolean = (a, b) match {
      case (Some(x: Double), Some(y: Double)) => java.lang.Double.compare(x, y) == 0
      case _ => a == b
    }
    assert(got.rows == want.rows, s"$f rows")
    assert(got.cols.keySet == want.cols.keySet, s"$f columns")
    want.cols.foreach { case (c, w) =>
      val g = got.cols(c)
      assert(g.typ == w.typ && g.nulls == w.nulls, s"$f.$c: $g vs $w")
      assert(same(g.lo, w.lo) && same(g.hi, w.hi), s"$f.$c bounds: $g vs $w")
    }
    assert(got.blooms.keySet == want.blooms.keySet, s"$f bloom columns")
    want.blooms.foreach { case (c, w) =>
      assert(got.blooms(c).k == w.k && got.blooms(c).words.sameElements(w.words),
        s"$f.$c bloom words differ")
    }
  }

  /** Producer parity: the zone maps and Bloom filters the write tasks
    * compute must be IDENTICAL to the scan-based reference
    * ([[ScanStats.collect]], Spark's own min/max/count and a Bloom
    * aggregate over the files read back) — rows, null counts, lo/hi and
    * Bloom words — on every edge the normalization has: nulls, NaN, -0.0,
    * strings past the cap, a supplementary code point straddling the cap,
    * booleans, dates, timestamps, narrow integrals, an all-null file, an
    * empty staged file, and a partitioned write.
    */
  test("in-write stats match the scan-based reference exactly (bounds and Bloom words)") {
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("i", IntegerType), StructField("h", ShortType),
      StructField("v", DoubleType), StructField("f", FloatType),
      StructField("s", StringType), StructField("b", BooleanType),
      StructField("d", DateType), StructField("t", TimestampType),
      StructField("p", StringType)))
    def frame(rows: Seq[Row], parts: Int): DataFrame =
      spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema)
        .repartition(parts)
    def d(x: String) = java.sql.Date.valueOf(x)
    val emoji = "\uD83D\uDE00" // one supplementary code point, two chars
    val rowsA = Seq(
      Row(1L, 1, 1.toShort, 1.5, 1.5f, "apple", true, d("2020-01-01"),
        ts("2020-01-01 00:00:00"), "x"),
      Row(2L, null, null, null, Float.NaN, "a" * 63 + emoji + "b", false,
        d("1969-12-31"), ts("1969-12-31 23:59:59.999999"), "y"),
      Row(3L, -5, (-2).toShort, -0.0, -0.0f, null, null, null, null, "x"),
      Row(4L, 7, 9.toShort, Double.NaN, 2.5f, "x" * 200, true, d("2021-06-01"),
        ts("2021-06-01 12:00:00.123456"), "y"))
    val rowsB = Seq(
      Row(10L, 0, 0.toShort, 0.0, 0.0f, "a" * 64 + emoji, true, d("2020-02-02"),
        ts("2020-02-02 00:00:00"), "x"),
      Row(11L, 3, 3.toShort, -0.0, -0.0f, "zz", false, d("2020-02-03"),
        ts("2020-02-03 00:00:00"), "x"),
      Row(12L, 4, 4.toShort, -1e300, Float.MaxValue, "\u00e9t\u00e9", true,
        d("2020-02-04"), ts("2020-02-04 00:00:00"), "y"))
    val allNull = Seq(Row(20L, null, null, null, null, null, null, null, null, "x"))
    // 40 supplementary code points: the 64-char cut falls between pairs
    val emojis = Seq(Row(30L, 1, 1.toShort, 1.0, 1.0f, emoji * 40, true,
      d("2020-03-01"), ts("2020-03-01 00:00:00"), "y"))
    val blooms = Seq("k", "s")

    def check(dir: String, pcols: Seq[String]): Unit = {
      val files = TxTable.activeFiles(dir)
      val dataSchema = StructType(schema.filterNot(f => pcols.contains(f.name)))
      val want = ScanStats.collect(spark, dir, files, dataSchema, blooms)
      val got = TxTable.fileStats(dir)
      files.foreach(f => assertSameStats(f,
        got(f).copy(cols = got(f).cols -- pcols), want(f)))
    }

    val flat = freshDir("parity")
    TxTable.append(frame(rowsA, 1), flat, bloomFor = blooms)
    TxTable.append(frame(rowsB, 2), flat, bloomFor = blooms)
    TxTable.append(frame(allNull, 1), flat, bloomFor = blooms)
    TxTable.append(frame(emojis, 1), flat, bloomFor = blooms)
    TxTable.append(frame(Nil, 1), flat, bloomFor = blooms)
    check(flat, Nil)
    val stats = TxTable.fileStats(flat).values.toSeq
    // the edges were really exercised: the empty append's staged file
    // reported 0 rows in-write, so its commit dropped it
    assert(TxTable.history(spark, flat).collect().last.getLong(2) == 0L,
      "the empty staged file was not recognised as empty")
    assert(stats.exists(_.cols("v").hi.exists(_.asInstanceOf[Double].isNaN)))
    assert(stats.exists(_.cols("s").lo.contains("a" * 63)),
      "a supplementary code point at the cap is cut before it, not split")
    assert(stats.exists(_.cols("s").lo.contains(emoji * 32)))

    val parted = freshDir("parity_part")
    TxTable.append(frame(rowsA ++ allNull, 2), parted, bloomFor = blooms,
      partitionBy = Seq("p"))
    TxTable.append(frame(rowsB, 1), parted, bloomFor = blooms)
    assert(TxTable.activeFiles(parted).forall(_.startsWith("p=")))
    check(parted, Seq("p"))
  }

  test("a Bloom append of a local DataFrame runs exactly one Spark job") {
    val dir = freshDir("onejob")
    val s = spark
    import s.implicits._
    val df = (1L to 500L).map(i => (i, s"user-$i", i * 0.5)).toDF("k", "u", "x")
    TxTable.append(df, dir, bloomFor = Seq("k"))
    val jobs = jobsOf(TxTable.append(df, dir, bloomFor = Seq("k")))
    assert(jobs.size == 1, s"a Bloom append ran ${jobs.size} Spark jobs")
    assert(TxTable.fileStats(dir).size == TxTable.activeFiles(dir).size)
  }

  test("rewrites keep the Bloom filters of the files they replace") {
    val dir = freshDir("keepbloom")
    val s = spark
    import s.implicits._
    // even keys only: an odd key inside [min, max] is prunable by Bloom alone
    def part(lo: Long) = (lo until lo + 1000L by 2L).map(k => (k, k % 7, 1.0))
      .toDF("k", "g", "v").repartition(1)
    TxTable.append(part(0L), dir, bloomFor = Seq("k"))
    TxTable.append(part(1000L), dir, bloomFor = Seq("k"))
    def assertBloomed(after: String, absent: Long): Unit = {
      val stats = TxTable.fileStats(dir)
      TxTable.activeFiles(dir).foreach(f => assert(stats(f).blooms.contains("k"),
        s"after $after, $f lost its Bloom filter"))
      val (kept, _) = TxTable.pruneFiles(spark, dir, col("k") === absent)
      assert(kept.isEmpty, s"after $after, an absent key still reads $kept")
    }
    val before = TxTable.activeFiles(dir).toSet
    TxTable.update(spark, dir, col("k") === 4L, Map("v" -> lit(2.0)))
    val rewritten = TxTable.activeFiles(dir).filterNot(before)
    assert(rewritten.size == 1)
    val (_, skipped) = TxTable.pruneFiles(spark, dir, col("k") === 5L)
    assert(skipped.contains(rewritten.head), "the updated file must prune on its Bloom")
    assertBloomed("update", 5L)
    TxTable.delete(spark, dir, col("k") === 1002L)
    assertBloomed("delete", 1003L)
    TxTable.merge(spark, dir, Seq((6L, 1L, 3.0)).toDF("k", "g", "v"), Seq("k"))
    assertBloomed("merge", 7L)
    TxTable.compact(spark, dir)
    assertBloomed("compact", 9L)
    assert(TxTable.read(spark, dir).count() == 999L)
  }

  test("staging writes TIMESTAMP(MICROS) without changing the session conf") {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val dir = freshDir("int96")
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "INT96")
    try {
      // the write job runs under the session's SQL conf, so the session
      // value must stay INT96 during the append, not only after it
      val jobs = jobsOf(TxTable.append(mixedDf(Seq(
        (1L, 1.0, "a", ts("2020-01-01 00:00:00"), java.lang.Boolean.TRUE))), dir))
      assert(jobs.nonEmpty && jobs.forall(_.getProperty(key) == "INT96"),
        "append changed the session conf while writing")
      assert(spark.conf.get(key) == "INT96", "append changed the session conf")
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$dir/${TxTable.activeFiles(dir).head}"),
          new org.apache.hadoop.conf.Configuration()))
      val t = try reader.getFooter.getFileMetaData.getSchema.getType(Seq("t"): _*).asPrimitiveType
        finally reader.close()
      assert(t.getPrimitiveTypeName == PrimitiveTypeName.INT64)
      assert(t.getLogicalTypeAnnotation == LogicalTypeAnnotation.timestampType(
        true, LogicalTypeAnnotation.TimeUnit.MICROS))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("sidecar codec round-trips exactly, including tabs and newlines") {
    val stats = Map(
      "f1.parquet" -> TxStats.FileStats(2, Map(
        "a" -> TxStats.ColStats("s", 0, Some("ta\tb\nnl\\x"), None),
        "b" -> TxStats.ColStats("d", 1, Some(-0.0), Some(Double.NaN)),
        "c" -> TxStats.ColStats("l", 2, None, None))),
      "f2.parquet" -> TxStats.FileStats(0, Map.empty))
    val parsed = TxStats.parse(TxStats.render(stats))
    // -0.0 normalizes at collection; codec itself must round-trip bits
    assert(parsed("f1.parquet").cols("a") == stats("f1.parquet").cols("a"))
    assert(parsed("f1.parquet").cols("b").hi.exists(_.asInstanceOf[Double].isNaN))
    assert(parsed("f1.parquet").cols("c") == stats("f1.parquet").cols("c"))
    assert(parsed("f2.parquet") == stats("f2.parquet"))
  }

  /** The core property: for every predicate, a pruned file has zero
    * matching rows and readWhere == read().where().
    */
  test("pruning is sound and readWhere matches read().where() on a predicate battery") {
    val dir = freshDir("sound")
    buildTable(dir)
    val predicates: Seq[Column] = Seq(
      col("k") === 2L,
      col("k") === 50L, // matches nothing anywhere
      col("k") === 2, // int literal against long column (coercion)
      col("k") < 5L,
      col("k") > 11L,
      col("k") >= 100L,
      col("k") <= 1L,
      lit(5L) > col("k"), // literal-first
      col("k").between(10L, 11L),
      col("k") === 2L || col("k") === 101L,
      col("k") > 1L && col("k") < 3L,
      col("v") > 8.0,
      col("v") < -1.0,
      col("v") === 0.0,
      col("v") > 1e300, // only NaN (greatest) can exceed: file 2 must be kept
      col("v").isNull,
      col("v").isNotNull,
      col("t").isNull,
      col("s") === "cherry",
      col("s") === "aardvark",
      col("s") < "b",
      col("s").startsWith("ze"),
      col("s").startsWith("xx"), // long-string file: hi unbounded, kept
      col("s").isin("banana", "zebra"),
      col("k").isin(1L, 2L, 3L),
      // over 10 values the optimizer plans an INSET; the planning-time
      // prune must keep what pruneFiles keeps for the analyzed IN
      col("k").isin((0L to 10L): _*),
      col("k").isin(((1L to 3L) ++ (100L until 1097L)): _*), // 1000 values, none in [10, 11]
      col("s").isin(("apple" +: (1 to 10).map(i => s"q$i")): _*),
      col("t") >= lit(ts("2021-01-01 00:00:00")),
      col("t") < lit(ts("2020-02-01 00:00:00")),
      col("b") === true,
      col("b") === false,
      col("k") === lit(null), // null literal: nothing matches
      col("k") =!= 2L, // Not(EqualTo): prunable only on constant files
      !(col("k") > 5L), // Not(>) == <= complement
      !(col("k") <= 1L), // Not(<=) == > complement
      !(col("k") < 100L) && col("v").isNotNull, // composed complement
      col("s") =!= "zebra", // Not(EqualTo) on strings
      col("b") =!= true, // Not(EqualTo) on booleans
      !(col("t") >= lit(ts("2020-02-01 00:00:00"))), // retention shape
      col("k") + 1L > 2L, // function-of-attr: fail-open
      abs(col("v")) > 100.0, // fail-open
      col("k") < col("v"), // attr-vs-attr: fail-open
      col("k") === 2.5 // long col vs double literal (coerced space)
    )
    val snap = TxTable.read(spark, dir)
    val schema = snap.schema
    val perFile = TxTable.activeFiles(dir).map { f =>
      f -> spark.read.schema(schema).parquet(s"$dir/$f")
    }.toMap
    predicates.foreach { p =>
      val (kept, skipped) = TxTable.pruneFiles(spark, dir, p)
      assert(kept.size + skipped.size == 3, s"$p: lost a file")
      skipped.foreach { f =>
        val n = perFile(f).where(p).count()
        assert(n == 0, s"UNSOUND: $p skipped $f which has $n matching rows")
      }
      val expect = snap.where(p).collect().map(_.toString).sorted.toSeq
      val scan = TxTable.readWhere(spark, dir, p)
      val got = scan.collect().map(_.toString).sorted.toSeq
      assert(got == expect, s"$p: readWhere diverged")
      // the planning-time pruning loses nothing against pruneFiles (a
      // filter the optimizer proves empty plans no scan at all)
      val scanned = fileScans(scan).map(_.metrics("numFiles").value).sum
      assert(scanned == kept.size,
        s"$p: readWhere scanned $scanned files, pruneFiles keeps ${kept.size}")
    }
  }

  test("an INSET prunes and drops files exactly as the IN it came from") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In, InSet, Literal}
    import org.apache.spark.unsafe.types.UTF8String
    val k = AttributeReference("k", LongType)()
    val s = AttributeReference("s", StringType)()
    val d = AttributeReference("d", DateType)()
    def bloom(keys: String*) = {
      val words = new Array[Long]((graft.functions.FileBloom.DefaultBits + 63) / 64)
      keys.foreach(graft.functions.FileBloom.set(words, _, graft.functions.FileBloom.DefaultK))
      graft.functions.FileBloom.Bloom(graft.functions.FileBloom.DefaultK, words)
    }
    val files = Seq(
      TxStats.FileStats(3, Map("k" -> TxStats.ColStats("l", 0, Some(10L), Some(20L))),
        Map("k" -> bloom("10", "15", "20"))),
      TxStats.FileStats(2, Map("k" -> TxStats.ColStats("l", 0, Some(7L), Some(7L)),
        "s" -> TxStats.ColStats("s", 0, Some("m"), Some("m")),
        "d" -> TxStats.ColStats("l", 0, Some(18000L), Some(18000L)))),
      TxStats.FileStats(4, Map("k" -> TxStats.ColStats("l", 1, Some(0L), Some(100L)),
        "s" -> TxStats.ColStats("s", 0, Some("a"), None))),
      TxStats.FileStats(1, Map.empty))
    val lists: Seq[(org.apache.spark.sql.catalyst.expressions.Expression, Seq[Any])] = Seq(
      k -> Seq(11L, 12L, 13L), // inside file 1's range, all absent from its Bloom
      k -> Seq(15L, 99L), // file 1's Bloom admits 15
      k -> Seq(7L), // file 2 is constant at 7
      k -> (0L until 1000L).filter(_ % 2 == 1), // 500 odd values
      k -> Seq(-5L, 500L), // outside every range
      k -> Seq(null, 7L),
      k -> Seq(),
      s -> Seq(UTF8String.fromString("m"), UTF8String.fromString("z")),
      s -> Seq(UTF8String.fromString("0")),
      d -> Seq(18000, 18001)) // dates are days in Catalyst form
    lists.foreach { case (a, values) =>
      val in = In(a, values.map(Literal.create(_, a.dataType)))
      val inSet = InSet(a, values.toSet)
      files.foreach { fs =>
        assert(TxStats.canMatch(inSet, fs) == TxStats.canMatch(in, fs), s"$in on $fs")
        assert(TxStats.mustMatchAll(inSet, fs) == TxStats.mustMatchAll(in, fs), s"$in on $fs")
      }
    }
    // the Bloom rules out every key inside file 1's range; file 2 is all 7s
    assert(!TxStats.canMatch(InSet(k, Set(11L, 12L, 13L)), files(0)))
    assert(TxStats.canMatch(InSet(k, Set(15L, 99L)), files(0)))
    assert(TxStats.mustMatchAll(InSet(k, Set(3L, 7L, 9L)), files(1)))
    assert(!TxStats.mustMatchAll(InSet(k, Set(3L, 9L)), files(1)))
  }

  test("plain snapshot reads never parse the zone-map sidecars; a filtered read does") {
    val dir = freshDir("lazy")
    buildTable(dir)
    val n = TxTable.read(spark, dir).count()
    // sidecars that fail to parse: only a read handed a data filter may notice
    val log = java.nio.file.Paths.get(dir, "_txlog")
    log.toFile.listFiles.filter(_.getName.endsWith(".stats.tsv")).foreach { f =>
      java.nio.file.Files.writeString(f.toPath, "F\tpoison\tnot-a-count\n")
    }
    assert(TxTable.read(spark, dir).count() == n)
    assert(spark.read.format("graft").load(dir).count() == n)
    assert(TxTable.readChanges(spark, dir, -1L).count() == n)
    intercept[NumberFormatException] {
      TxTable.readWhere(spark, dir, col("k") === 2L).collect()
    }
  }

  test("pruning actually skips: disjoint key ranges prune to one file") {
    val dir = freshDir("skips")
    buildTable(dir)
    val (kept, skipped) = TxTable.pruneFiles(spark, dir, col("k") >= 100L)
    assert(kept.size == 1 && skipped.size == 2,
      s"expected 1 kept / 2 skipped, got $kept / $skipped")
    // string equality below every file's range prunes everything
    val (k2, s2) = TxTable.pruneFiles(spark, dir, col("s") === "aardvark")
    assert(k2.isEmpty && s2.size == 3)
    val empty = TxTable.readWhere(spark, dir, col("s") === "aardvark")
    assert(empty.count() == 0 && empty.schema.fieldNames.contains("k"))
  }

  test("schema evolution: files predating a column are never pruned on it") {
    val dir = freshDir("evolve")
    val s = spark
    import s.implicits._
    TxTable.append(Seq((1L, "a")).toDF("k", "v").repartition(1), dir)
    TxTable.append(Seq((2L, "b", 77L)).toDF("k", "v", "extra").repartition(1), dir)
    val (kept, _) = TxTable.pruneFiles(spark, dir, col("extra") === 77L)
    assert(kept.size == 2, "old file has no 'extra' stats and must be kept")
    val got = TxTable.readWhere(spark, dir, col("extra") === 77L).collect()
    assert(got.length == 1 && got(0).getAs[Long]("extra") == 77L)
    // but a provably-impossible value still prunes the NEW file
    val (k2, s2) = TxTable.pruneFiles(spark, dir, col("extra") === 78L)
    assert(s2.size == 1, s"new file should be pruned: kept=$k2")
  }

  test("time travel prunes against the snapshot's own files and stats") {
    val dir = freshDir("asof")
    val s = spark
    import s.implicits._
    TxTable.append(Seq((1L, "old")).toDF("k", "v").repartition(1), dir)
    TxTable.overwrite(Seq((100L, "new")).toDF("k", "v").repartition(1), dir)
    val (kept0, skipped0) = TxTable.pruneFiles(spark, dir, col("k") === 1L, Some(0L))
    assert(kept0.size == 1 && skipped0.isEmpty)
    assert(TxTable.readWhere(spark, dir, col("k") === 1L, Some(0L)).count() == 1)
    val (kept1, skipped1) = TxTable.pruneFiles(spark, dir, col("k") === 1L)
    assert(kept1.isEmpty && skipped1.size == 1)
    assert(TxTable.readWhere(spark, dir, col("k") === 1L).count() == 0)
  }

  test("stats checkpoint bounds replay and keeps pruning + time travel exact") {
    val dir = freshDir("ckpt")
    val s = spark
    import s.implicits._
    // 13 appends: crosses the CheckpointEvery=10 boundary
    (0 until 13).foreach(i =>
      TxTable.append(Seq((i * 10L, s"v$i")).toDF("k", "v").repartition(1), dir))
    val ld = new java.io.File(s"$dir/_txlog")
    assert(ld.listFiles.exists(_.getName.endsWith(".stats.ckpt.tsv")),
      "expected a consolidated stats checkpoint at version 10")
    // every live file still has stats through the checkpointed path
    val stats = TxTable.fileStats(dir)
    TxTable.activeFiles(dir).foreach(f => assert(stats.contains(f)))
    // a point probe prunes to exactly one file
    val (kept, skipped) = TxTable.pruneFiles(spark, dir, col("k") === 50L)
    assert(kept.size == 1 && skipped.size == 12, s"$kept / $skipped")
    assert(TxTable.readWhere(spark, dir, col("k") === 50L).count() == 1)
    // time travel BEFORE the checkpoint uses only that snapshot's stats
    val (k2, s2) = TxTable.pruneFiles(spark, dir, col("k") === 50L, Some(7L))
    assert(k2.size == 1 && s2.size == 7)
    assert(TxTable.readWhere(spark, dir, col("k") === 120L, Some(7L)).count() == 0)
  }

  test("merge and compact refresh stats for rewritten files") {
    val dir = freshDir("rewrite")
    val s = spark
    import s.implicits._
    TxTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1), dir)
    TxTable.append(Seq((10L, "c")).toDF("k", "v").repartition(1), dir)
    TxTable.merge(spark, dir, Seq((10L, "C!"), (20L, "d")).toDF("k", "v"), Seq("k"))
    val statsAfterMerge = TxTable.fileStats(dir)
    TxTable.activeFiles(dir).foreach(f =>
      assert(statsAfterMerge.contains(f), s"merged file $f lost its stats"))
    val (kept, _) = TxTable.pruneFiles(spark, dir, col("k") >= 10L)
    assert(TxTable.readWhere(spark, dir, col("k") >= 10L).count() == 2)
    assert(kept.size < TxTable.activeFiles(dir).size,
      "untouched low-key file should be pruned after merge")
    TxTable.compact(spark, dir)
    val statsAfterCompact = TxTable.fileStats(dir)
    TxTable.activeFiles(dir).foreach(f =>
      assert(statsAfterCompact.contains(f), s"compacted file $f lost its stats"))
    assert(TxTable.read(spark, dir).count() == 4)
  }

  test("timestamp columns keep ordered zone-map bounds and prune " +
      "(MICROS staging, r15)") {
    // every TimestampType column gets ordered bounds (epoch micros), so
    // ts-range predicates prune files
    val dir = freshDir("tsbounds")
    TxTable.append(mixedDf(Seq(
      (1L, 1.0, "a", ts("2020-01-01 00:00:00"), java.lang.Boolean.TRUE),
      (2L, 2.0, "b", ts("2020-06-01 00:00:00"), java.lang.Boolean.TRUE))), dir)
    TxTable.append(mixedDf(Seq(
      (3L, 3.0, "c", ts("2021-01-01 00:00:00"), java.lang.Boolean.TRUE),
      (4L, 4.0, "d", ts("2021-06-01 00:00:00"), java.lang.Boolean.TRUE))), dir)
    val stats = TxTable.fileStats(dir)
    TxTable.activeFiles(dir).foreach { f =>
      val c = stats(f).cols.getOrElse("t", fail(s"$f: no ts column stats"))
      assert(c.lo.nonEmpty && c.hi.nonEmpty, s"$f: ts bounds fell open")
    }
    // a ts-range probe beyond the first file's range prunes it
    val (touched, pruned) = TxTable.pruneFiles(spark, dir,
      col("t") >= lit(ts("2021-01-01 00:00:00")))
    assert(touched.size == 1 && pruned.size == 1, s"$touched / $pruned")
    assert(TxTable.readWhere(spark, dir,
      col("t") >= lit(ts("2021-01-01 00:00:00"))).count() == 2)
  }

  // ---- the three-valued walk against Catalyst's own evaluation ----

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
    AttributeSeq, BindReferences, Cast, EqualNullSafe, EqualTo, EvalMode, Expression,
    GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan,
    LessThanOrEqual, Literal, Not, Or, StartsWith}
  import org.apache.spark.unsafe.types.UTF8String

  private val kA = AttributeReference("l", LongType)()
  private val dA = AttributeReference("d", DoubleType)()
  private val sA = AttributeReference("s", StringType)()
  private val bA = AttributeReference("b", BooleanType)()
  private val tA = AttributeReference("t", DateType)()
  private val attrs = Seq(kA, dA, sA, bA, tA)

  /** Catalyst's answer for `e` on one row of (l, d, s, b, t). */
  private def evalOn(e: Expression, row: InternalRow): Any =
    BindReferences.bindReference(e, new AttributeSeq(attrs)).eval(row)

  private def row(l: Any = null, d: Any = null, s: Any = null, b: Any = null,
      t: Any = null): InternalRow =
    InternalRow(l, d, Option(s).map(x => UTF8String.fromString(x.toString)).orNull, b, t)

  /** A file's zone map built from its rows by the in-write rules: Spark's
    * min/max order (UTF-8 bytes; NaN greatest, -0.0 == 0.0), -0.0 folded,
    * string bounds truncated (lo) or dropped (hi) past the cap.
    */
  private def statsOf(rows: Seq[InternalRow], bloom: Boolean,
      unindexed: Set[String]): TxStats.FileStats = {
    def cmpD(x: Double, y: Double) = if (x == y) 0 else java.lang.Double.compare(x, y)
    def fold(d: Double) = if (d == 0.0) 0.0 else d
    def strBounds(lo: String, hi: String): (Option[String], Option[String]) = {
      val cap = TxStats.StringPrefixCap
      val cut = if (lo.length > cap && Character.isHighSurrogate(lo.charAt(cap - 1))) cap - 1
        else cap
      (Some(lo.take(cut)), Some(hi).filter(_.length <= cap))
    }
    val cols = attrs.zipWithIndex.filterNot(a => unindexed(a._1.name)).map { case (a, i) =>
      val vs = rows.filterNot(_.isNullAt(i)).map(_.get(i, a.dataType))
      val nulls = rows.size - vs.size.toLong
      val (tag, lo, hi): (String, Option[Any], Option[Any]) =
        if (vs.isEmpty) (if (a.dataType == DoubleType) "d" else if (a.dataType == StringType) "s"
          else "l", None, None)
        else a.dataType match {
          case LongType => ("l", Some(vs.map(_.asInstanceOf[Long]).min),
            Some(vs.map(_.asInstanceOf[Long]).max))
          case DateType => ("l", Some(vs.map(_.asInstanceOf[Int].toLong).min),
            Some(vs.map(_.asInstanceOf[Int].toLong).max))
          case BooleanType =>
            val ls = vs.map(v => if (v.asInstanceOf[Boolean]) 1L else 0L)
            ("l", Some(ls.min), Some(ls.max))
          case DoubleType =>
            val ds = vs.map(_.asInstanceOf[Double])
            ("d", Some(fold(ds.reduce((x, y) => if (cmpD(x, y) <= 0) x else y))),
              Some(fold(ds.reduce((x, y) => if (cmpD(x, y) >= 0) x else y))))
          case _ =>
            val us = vs.map(_.asInstanceOf[UTF8String])
            val (lo, hi) = strBounds(
              us.reduce((x, y) => if (x.compareTo(y) <= 0) x else y).toString,
              us.reduce((x, y) => if (x.compareTo(y) >= 0) x else y).toString)
            ("s", lo, hi)
        }
      a.name -> TxStats.ColStats(tag, nulls, lo, hi)
    }.toMap
    // a deliberately small filter, so that it both rules keys out and
    // lets absent keys through
    val blooms = if (!bloom) Map.empty[String, graft.functions.FileBloom.Bloom] else {
      val words = new Array[Long](2)
      rows.filterNot(_.isNullAt(0))
        .foreach(r => graft.functions.FileBloom.set(words, r.getLong(0).toString, 3))
      Map("l" -> graft.functions.FileBloom.Bloom(3, words))
    }
    TxStats.FileStats(rows.size, cols, blooms)
  }

  test("the three-valued walk is sound on 20k random (predicate, file) cases") {
    val rnd = new scala.util.Random(20261020L)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    val longs = Seq(-2L, -1L, 0L, 1L, 2L, 3L, 5L, 7L, 10L)
    val doubles = Seq(-1.5, -0.0, 0.0, 1.0, 2.5, Double.NaN, Double.PositiveInfinity)
    val strings = Seq("", "a", "ab", "b", "ba", "z", "é", "a" * 64, "a" * 70,
      "a" * 69 + "b", "b" * 70)
    val dates = Seq(0, 1, 2, 10)
    val pools: Map[String, Seq[Any]] = Map("l" -> longs, "d" -> doubles,
      "s" -> strings.map(UTF8String.fromString), "b" -> Seq(true, false), "t" -> dates)
    def value(a: AttributeReference, nullP: Double): Any =
      if (rnd.nextDouble() < nullP) null else pick(pools(a.name))
    def litFor(a: AttributeReference): Literal =
      Literal.create(if (rnd.nextInt(20) == 0) null else pick(pools(a.name)), a.dataType)
    def leaf(): Expression = {
      val a = pick(attrs)
      rnd.nextInt(12) match {
        case 0 | 1 | 2 | 3 =>
          val (x, y) = if (rnd.nextBoolean()) (a, litFor(a)) else (litFor(a), a)
          pick(Seq[(Expression, Expression) => Expression](EqualTo(_, _),
            LessThan(_, _), LessThanOrEqual(_, _), GreaterThan(_, _),
            GreaterThanOrEqual(_, _), EqualNullSafe(_, _)))(x, y)
        case 4 => In(a, Seq.fill(rnd.nextInt(4))(litFor(a)))
        case 5 => InSet(a, Seq.fill(rnd.nextInt(4))(litFor(a).value).toSet)
        case 6 => IsNull(a)
        case 7 => IsNotNull(a)
        case 8 => bA
        case 9 => StartsWith(sA, Literal.create(
          if (rnd.nextInt(10) == 0) null else pick(pools("s") ++
            Seq("a", "ab", "a" * 65).map(UTF8String.fromString)), StringType))
        case 10 => Literal.create(pick(Seq(true, false, null)), BooleanType)
        case _ => EqualTo(a, litFor(a))
      }
    }
    def pred(depth: Int): Expression =
      if (depth == 0) leaf()
      else rnd.nextInt(5) match {
        case 0 => Not(pred(depth - 1))
        case 1 => And(pred(depth - 1), pred(depth - 1))
        case 2 => Or(pred(depth - 1), pred(depth - 1))
        case _ => leaf()
      }
    var (rejected, dropped) = (0, 0)
    (1 to 20000).foreach { n =>
      val nullP = pick(Seq(0.0, 0.2, 1.0))
      val rows = Seq.fill(1 + rnd.nextInt(6))(
        InternalRow.fromSeq(attrs.map(value(_, if (rnd.nextBoolean()) 0.0 else nullP))))
      val fs = statsOf(rows, bloom = rnd.nextBoolean(),
        unindexed = if (rnd.nextInt(10) == 0) Set(pick(attrs).name) else Set.empty)
      val e = pred(3)
      val got = rows.map(evalOn(e, _))
      if (!TxStats.canMatch(e, fs)) {
        rejected += 1
        assert(!got.contains(true), s"case $n: canMatch rejected $e on $fs but rows gave $got")
      }
      if (TxStats.mustMatchAll(e, fs)) {
        dropped += 1
        assert(got.forall(_ == true),
          s"case $n: mustMatchAll accepted $e on $fs but rows gave $got")
      }
    }
    info(s"canMatch rejected $rejected and mustMatchAll accepted $dropped of 20000 cases")
    // the property is not vacuous: both verdicts are reached often
    assert(rejected > 1000 && dropped > 1000, s"rejected $rejected, dropped $dropped")
  }

  test("Spark's edge cases: empty lists, a null member on NaN, NOT IN with a null") {
    val allNull = TxStats.FileStats(2, Map("l" -> TxStats.ColStats("l", 2, None, None)))
    // `x IN ()` and `x INSET ()` are FALSE, not NULL, on a null row: the
    // negation is TRUE there
    Seq(In(kA, Nil), InSet(kA, Set.empty)).foreach { e =>
      assert(evalOn(e, row()) == false, e)
      assert(TxStats.canMatch(Not(e), allNull), e)
      assert(!TxStats.canMatch(e, allNull), e)
    }
    // with a null member, INSET is FALSE on NaN while IN is NULL
    val nan = TxStats.FileStats(1, Map("d" -> TxStats.ColStats("d", 0, Some(Double.NaN),
      Some(Double.NaN))))
    val inSet = InSet(dA, Set(1.0, null))
    val in = In(dA, Seq(Literal(1.0), Literal.create(null, DoubleType)))
    assert(evalOn(inSet, row(d = Double.NaN)) == false)
    assert(evalOn(in, row(d = Double.NaN)) == null)
    assert(TxStats.canMatch(Not(inSet), nan), "NOT INSET is TRUE on the NaN row")
    assert(!TxStats.mustMatchAll(Not(in), nan), "NOT IN is NULL on the NaN row")
    // NOT (k IN (5, NULL)) is never TRUE: a non-member is NULL, not FALSE
    val notIn = Not(In(kA, Seq(Literal(5L), Literal.create(null, LongType))))
    val low = TxStats.FileStats(3, Map("l" -> TxStats.ColStats("l", 0, Some(0L), Some(3L))))
    assert((0L to 3L).forall(k => evalOn(notIn, row(l = k)) == null))
    assert(!TxStats.mustMatchAll(notIn, low), "a delete must not drop rows that are NULL")
  }

  test("NOT is exact over AND, IN and IS NULL") {
    val kv = TxStats.FileStats(4, Map(
      "l" -> TxStats.ColStats("l", 0, Some(0L), Some(3L)),
      "d" -> TxStats.ColStats("d", 0, Some(1.0), Some(2.0))))
    // every row has k < 5 and v > 0, so the negation holds on none
    assert(!TxStats.canMatch(Not(And(LessThan(kA, Literal(5L)),
      GreaterThan(dA, Literal(0.0)))), kv))
    val sevens = TxStats.FileStats(2, Map("l" -> TxStats.ColStats("l", 0, Some(7L), Some(7L))))
    assert(!TxStats.canMatch(Not(In(kA, Seq(Literal(7L)))), sevens))
    assert(!TxStats.canMatch(Not(In(kA, Seq(Literal(7L), Literal.create(null, LongType)))),
      sevens))
    assert(TxStats.mustMatchAll(Not(IsNull(kA)), kv))
    val allNull = TxStats.FileStats(2, Map("l" -> TxStats.ColStats("l", 2, None, None)))
    assert(TxStats.mustMatchAll(Not(In(kA, Nil)), allNull))
    // and the dual verdicts of the same shapes stay open where rows differ
    assert(TxStats.canMatch(Not(In(kA, Seq(Literal(2L)))), kv))
    assert(!TxStats.mustMatchAll(Not(In(kA, Seq(Literal(2L)))), kv))
  }

  test("casts: a narrowing one is not unwrapped, a long reaches float in one rounding") {
    val big = 1L << 32
    val wide = TxStats.FileStats(11,
      Map("l" -> TxStats.ColStats("l", 0, Some(big), Some(big + 10))))
    val narrowed = EqualTo(Cast(kA, IntegerType, evalMode = EvalMode.LEGACY), Literal(5))
    assert(evalOn(narrowed, row(l = big + 5)) == true)
    assert(TxStats.canMatch(narrowed, wide))
    // a widening cast still prunes
    assert(!TxStats.canMatch(EqualTo(Cast(kA, DoubleType), Literal(5.0)), wide))
    // a long past 2^53 casts to float in one rounding; through double it
    // would round twice, to a neighbouring float
    val l = (1L << 60) + (1L << 36) + 1
    val atL = TxStats.FileStats(1, Map("l" -> TxStats.ColStats("l", 0, Some(l), Some(l))))
    val asFloat = EqualTo(Cast(kA, FloatType), Literal(l.toFloat))
    assert(l.toFloat != l.toDouble.toFloat && evalOn(asFloat, row(l = l)) == true)
    assert(TxStats.canMatch(asFloat, atL) && TxStats.mustMatchAll(asFloat, atL))
  }
}
