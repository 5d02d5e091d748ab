package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Sessionize
import graft.streaming.Sessionize.{Evt, Session, TsEvt}

/** Structured Streaming sessionization driven through MemoryStream — the
  * streaming twin of the batch operator (closed-by-gap within and across
  * micro-batches).
  */
class StreamingSpec extends SparkSpec {

  test("flatMapGroupsWithState closes sessions on gap across micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Evt]
    val sessions = Sessionize.streaming(input.toDS(), gapSec = 1800)
    val q = sessions.writeStream
      .format("memory").queryName("sessions_out")
      .outputMode("append")
      .start()
    try {
      // batch 1: two events 100s apart -> one open session (nothing emitted)
      input.addData(Evt(1L, 1000L, 1L), Evt(1L, 1100L, 2L))
      q.processAllAvailable()
      val afterB1 = spark.table("sessions_out").as[Session].collect()
      assert(afterB1.isEmpty)

      // batch 2: event far beyond the gap -> closes the first session
      input.addData(Evt(1L, 100000L, 3L))
      q.processAllAvailable()
      val afterB2 = spark.table("sessions_out").as[Session].collect()
      assert(afterB2.toSeq == Seq(Session(1L, 1000L, 1100L, 2L)))

      // batch 3: a second user and a same-batch gap for user 1
      input.addData(Evt(2L, 200000L, 4L), Evt(1L, 200000L, 5L))
      q.processAllAvailable()
      val afterB3 = spark.table("sessions_out").as[Session].collect()
      assert(afterB3.toSet == Set(
        Session(1L, 1000L, 1100L, 2L),
        Session(1L, 100000L, 100000L, 1L)))
    } finally q.stop()
  }

  test("event-time timeout flushes sessions of users that go silent") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[TsEvt]
    val sessions = Sessionize.streamingWithTimeout(
      input.toDS(), gapSec = 1800, delaySec = 600)
    val q = sessions.writeStream
      .format("memory").queryName("timeout_out")
      .outputMode("append")
      .start()
    try {
      // user 1 emits twice, then goes silent forever
      input.addData(
        TsEvt(1L, ts("2024-01-01 10:00:00"), 1L),
        TsEvt(1L, ts("2024-01-01 10:10:00"), 2L))
      q.processAllAvailable()
      assert(spark.table("timeout_out").isEmpty) // session open

      // OTHER users' events drive the watermark past 10:10 + 30min gap
      input.addData(TsEvt(2L, ts("2024-01-01 12:00:00"), 3L)) // wm -> 11:50
      q.processAllAvailable()
      input.addData(TsEvt(2L, ts("2024-01-01 12:05:00"), 4L)) // timeout fires
      q.processAllAvailable()
      val t0 = ts("2024-01-01 10:00:00").getTime / 1000
      val t1 = ts("2024-01-01 10:10:00").getTime / 1000
      val flushed = spark.table("timeout_out").as[Session].collect().toSet
      assert(flushed.contains(Session(1L, t0, t1, 2L)),
        s"expected user 1's idle session flushed, got $flushed")
      // user 2's session is still open (watermark hasn't passed its gap)
      assert(!flushed.exists(_.userId == 2L))
    } finally q.stop()
  }

  test("event-time windowed count with watermark emits closed windows") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val counts = input.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .count()
    val q = counts.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 10:05:00")), (1L, ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      assert(spark.table("win_out").count() == 0) // window still open

      input.addData((1L, ts("2024-01-01 12:00:00"))) // watermark -> 11:50
      q.processAllAvailable()
      input.addData((1L, ts("2024-01-01 13:00:00"))) // next batch flushes closed window
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select(col("window.start").cast("string"), col("user_id"), col("count"))
        .as[(String, Long, Long)].collect().toSet
      assert(rows.contains(("2024-01-01 10:00:00", 1L, 2L)), rows.toString)
    } finally q.stop()
  }

  test("stream-stream interval join attributes clicks within the window only") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val imps = MemoryStream[(Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = graft.streaming.StreamJoin.interval(
      imps.toDF().toDF("ad_id", "imp_ts"),
      clicks.toDF().toDF("ad_id", "click_ts"),
      "ad_id", "imp_ts", "click_ts", windowSec = 600)
    val q = joined.writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      imps.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
      clicks.addData(
        (1L, ts("2024-01-01 10:05:00")), // within 10 min -> attributed
        (2L, ts("2024-01-01 10:20:00")), // beyond window -> dropped
        (3L, ts("2024-01-01 10:01:00"))) // no impression -> dropped
      q.processAllAvailable()
      val rows = spark.table("attr_out")
        .select(col("ad_id"), col("click_ts").cast("string"))
        .as[(Long, String)].collect().toSet
      assert(rows == Set((1L, "2024-01-01 10:05:00")), rows.toString)

      // a second impression for ad 2: the new click at 10:24 is inside its
      // window, AND the batch-1 click at 10:20 — still buffered in join
      // state (the watermark hasn't evicted it) — now finds this partner
      // too. Buffered-state matching across batches is exactly what a
      // stream-stream join exists for.
      imps.addData((2L, ts("2024-01-01 10:15:00")))
      clicks.addData((2L, ts("2024-01-01 10:24:00")))
      q.processAllAvailable()
      val rows2 = spark.table("attr_out")
        .select(col("ad_id"), col("click_ts").cast("string"))
        .as[(Long, String)].collect().toSet
      assert(rows2 == Set(
        (1L, "2024-01-01 10:05:00"),
        (2L, "2024-01-01 10:20:00"),
        (2L, "2024-01-01 10:24:00")), rows2.toString)
    } finally q.stop()
  }

  test("left-outer stream-stream interval join emits never-converted " +
      "rows with NULLs once the watermark seals their fate") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val imps = MemoryStream[(Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = graft.streaming.StreamJoin.intervalOuter(
      imps.toDF().toDF("ad_id", "imp_ts"),
      clicks.toDF().toDF("ad_id", "click_ts"),
      "ad_id", "imp_ts", "click_ts", windowSec = 600)
    val q = joined.writeStream.format("memory").queryName("outer_attr")
      .outputMode("append").start()
    try {
      imps.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
      clicks.addData((1L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // matched row emits immediately; ad 2's fate is still open
      val rows1 = spark.table("outer_attr")
        .select(col("ad_id"), col("click_ts").cast("string"))
        .as[(Long, Option[String])].collect().toSet
      assert(rows1 == Set((1L, Some("2024-01-01 10:05:00"))), rows1.toString)

      // advance BOTH watermarks far past 10:00 + 600 s + delay: ad 2's
      // window can no longer be hit, so the outer join must now emit it
      // with a NULL click — the row an inner join can never produce
      imps.addData((8L, ts("2024-01-01 12:00:00")))
      clicks.addData((9L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      q.processAllAvailable() // outer emission lands on the watermark-advanced batch
      val rows2 = spark.table("outer_attr")
        .select(col("ad_id"), col("click_ts").cast("string"))
        .as[(Long, Option[String])].collect().toSet
      assert(rows2.contains((2L, None)), rows2.toString)
      assert(rows2.contains((1L, Some("2024-01-01 10:05:00"))), rows2.toString)
      assert(!rows2.contains((9L, None)), "right-only rows never emit on left outer")
    } finally q.stop()
  }

  test("stream-static enrich: broadcast dim join per micro-batch, stateless") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val events = MemoryStream[(Long, Long)]
    val enriched = graft.streaming.StreamJoin.enrich(
      events.toDF().toDF("user_id", "amount"), dim, "user_id")
    val q = enriched.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      events.addData((1L, 10L), (3L, 30L)) // key 3 has no dim row
      q.processAllAvailable()
      events.addData((2L, 20L), (1L, 11L))
      q.processAllAvailable()
      val rows = spark.table("enrich_out")
        .as[(Long, Long, Option[String])].collect().toSet
      // left outer: every stream row survives; missing dim key -> null;
      // the dim matches identically in every micro-batch (stateless)
      assert(rows == Set(
        (1L, 10L, Some("gold")), (3L, 30L, None),
        (2L, 20L, Some("silver")), (1L, 11L, Some("gold"))), rows.toString)
      // batch twin (q08 shape) agrees row-for-row
      val batch = Seq((1L, 10L), (3L, 30L), (2L, 20L), (1L, 11L))
        .toDF("user_id", "amount")
        .join(broadcast(dim), Seq("user_id"), "left")
        .as[(Long, Long, Option[String])].collect().toSet
      assert(batch == rows)
    } finally q.stop()
  }

  test("transformWithState running totals accumulate across micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.streaming.RunningState
    // the TWS operator runs only on the RocksDB state store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[RunningState.In]
      val q = RunningState.totals(input.toDS()).writeStream
        .format("memory").queryName("tws_out")
        .outputMode("update").start()
      try {
        input.addData(RunningState.In(1L, 10L), RunningState.In(1L, 5L),
          RunningState.In(2L, 7L))
        q.processAllAvailable()
        input.addData(RunningState.In(1L, 1L), RunningState.In(3L, 4L))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("tws_out")
        .as[RunningState.Out].collect().toSet
      // batch 1 emissions + batch 2 emissions with carried-over state
      assert(rows == Set(
        RunningState.Out(1L, 2L, 15L), RunningState.Out(2L, 1L, 7L),
        RunningState.Out(1L, 3L, 16L), RunningState.Out(3L, 1L, 4L)),
        rows.toString)
    } finally spark.conf
      .unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("foreachBatch TxTable sink: the commit IS the marker (exactly-once)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_txsink").toString
    val tbl = s"$dir/table"
    val input = MemoryStream[(Long, Long)]
    val q = input.toDF().toDF("k", "v").writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.streaming.BatchSink.upsertBatchTx(df, id, tbl, "k"))
      .option("checkpointLocation", s"$dir/_chk")
      .start()
    try {
      input.addData((1L, 10L), (2L, 20L))
      q.processAllAvailable()
      input.addData((2L, 21L), (3L, 30L)) // key 2 updated, key 3 inserted
      q.processAllAvailable()
    } finally q.stop()
    def state() = graft.sources.TxTable.read(spark, tbl)
      .as[(Long, Long)].collect().toSet
    val afterStream = state()
    assert(afterStream == Set((1L, 10L), (2L, 21L), (3L, 30L)), afterStream)
    val vAfter = graft.sources.TxTable.currentVersion(tbl)

    // REPLAY batch 1 (at-least-once recovery): its tag is already in the
    // log, so the sink publishes NOTHING — not even a new version
    graft.streaming.BatchSink.upsertBatchTx(
      Seq((2L, 21L), (3L, 30L)).toDF("k", "v"), 1L, tbl, "k")
    assert(graft.sources.TxTable.currentVersion(tbl) == vAfter)
    assert(state() == afterStream)

    // each micro-batch is one time-travelable commit
    assert(graft.sources.TxTable.read(spark, tbl, Some(0L))
      .as[(Long, Long)].collect().toSet == Set((1L, 10L), (2L, 20L)))
    val ops = graft.sources.TxTable.history(spark, tbl)
      .orderBy("version").collect().map(_.getString(1)).toSeq
    assert(ops == Seq("merge:batch=0", "merge:batch=1"), ops)

    // duplicate keys within one batch are rejected before any commit
    intercept[IllegalArgumentException] {
      graft.streaming.BatchSink.upsertBatchTx(
        Seq((5L, 1L), (5L, 2L)).toDF("k", "v"), 9L, tbl, "k")
    }
    assert(graft.sources.TxTable.currentVersion(tbl) == vAfter)

    // a NEW batch id carrying the same rows is absorbed by the upsert
    // fixpoint: one more commit, the same state
    graft.streaming.BatchSink.upsertBatchTx(
      Seq((2L, 21L), (3L, 30L)).toDF("k", "v"), 2L, tbl, "k")
    assert(graft.sources.TxTable.currentVersion(tbl) == vAfter + 1)
    assert(state() == afterStream)
  }

  test("streaming exact-dedup: dropDuplicatesWithinWatermark across batches") {
    // the streaming twin of q56's exact dedup: duplicate fingerprints are
    // suppressed as long as they arrive within the watermark delay, with
    // bounded state (old fingerprints age out — unbounded dropDuplicates
    // state would OOM a 100-TB ingest)
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val deduped = input.toDF().toDF("fp", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("fp")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(("a", ts("2024-01-01 10:00:00")), ("b", ts("2024-01-01 10:01:00")),
        ("a", ts("2024-01-01 10:02:00"))) // in-batch duplicate of a
      q.processAllAvailable()
      input.addData(("a", ts("2024-01-01 10:05:00"))) // cross-batch duplicate
      q.processAllAvailable()
      val fps = spark.table("dedup_out").select("fp").as[String].collect()
      assert(fps.sorted.toSeq == Seq("a", "b"), fps.mkString(","))
    } finally q.stop()
  }

  test("file-source readStream picks up files across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString + "/in"
    Seq((1L, 10.0)).toDF("id", "v").write.parquet(dir)
    val stream = spark.readStream
      .schema("id BIGINT, v DOUBLE")
      .parquet(dir)
      .groupBy().agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("file_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("file_out").collect().head.getLong(0) == 1L)
      Seq((2L, 20.0), (3L, 30.0)).toDF("id", "v")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      assert(spark.table("file_out").collect().head.getLong(0) == 3L)
    } finally q.stop()
  }

  test("batch sessionization splits on gap and is per-user") {
    import spark.implicits._
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 10L),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 11L),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 12L), // > 30min gap
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 20L)
    ).toDF("user_id", "ts", "event_id")
    val out = Sessionize.batch(ev, 1800)
      .select("event_id", "session_id").as[(Long, Long)].collect().toMap
    assert(out(10L) == 1L && out(11L) == 1L)
    assert(out(12L) == 2L)
    assert(out(20L) == 1L)
  }

  test("streaming running EWMA equals the full-history fold across batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.streaming.RunningMetrics
    import graft.streaming.RunningMetrics.{EwmaOut, VEvt}
    val input = MemoryStream[VEvt]
    val q = RunningMetrics.ewmaStreaming(input.toDS()).writeStream
      .format("memory").queryName("ewma_out")
      .outputMode("append")
      .start()
    try {
      // batches split MID-history per user: the state must carry the fold.
      input.addData(
        VEvt(1L, 1000L, 1L, 10.0), VEvt(1L, 1001L, 2L, 30.0),
        VEvt(2L, 1000L, 3L, 7.0))
      q.processAllAvailable()
      input.addData(
        VEvt(1L, 1002L, 4L, 50.0), VEvt(2L, 1001L, 5L, 9.0))
      q.processAllAvailable()
      val got = spark.table("ewma_out").as[EwmaOut].collect()
        .map(o => o.eventId -> o).toMap
      // replay the recursion over full history in event order
      def fold(vs: Seq[Double]): Double = vs.tail.foldLeft(vs.head)((s, v) => (s + v) * 0.5)
      assert(got(1L).ewma == 10.0)
      assert(got(2L).ewma == fold(Seq(10.0, 30.0)))
      assert(got(4L).ewma == fold(Seq(10.0, 30.0, 50.0)))
      assert(got(4L).nSeen == 3L)
      assert(got(3L).ewma == 7.0)
      assert(got(5L).ewma == fold(Seq(7.0, 9.0)))
    } finally q.stop()
  }
}
