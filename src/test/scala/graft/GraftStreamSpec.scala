package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.{GraftStreamSink, TxTable}
import graft.streaming.BatchSink

/** `format("graft")` streaming surface: the TxTable log as a Structured
  * Streaming SOURCE (offsets = table versions; resumable from the
  * checkpoint; CDF mode carries deletes) and as an exactly-once SINK
  * (batchId rides the commit op tag; replays no-op).
  */
class GraftStreamSpec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val d = s"/root/repo/target/tmp/graftstream_$tag"
    def del(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(del)
      p.delete()
    }
    del(new java.io.File(d))
    d
  }

  private def rows(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i, i * 10.0)).toDF("k", "v").repartition(1)
  }

  /** One AvailableNow run collecting every delivered k (foreachBatch —
    * the memory sink refuses checkpoint recovery, this doesn't).
    */
  private def runOnce(src: String, ckpt: String): Seq[Long] = {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft").load(src)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select("k").collect().foreach(r => buf.add(r.getLong(0))); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    buf.iterator().asScala.toSeq.sorted
  }

  test("source resumes from checkpointed version offsets") {
    val src = freshDir("src1")
    val ckpt = freshDir("ckpt1")
    rows(0, 10).write.format("graft").save(src)
    rows(10, 15).write.format("graft").mode(SaveMode.Append).save(src)
    assert(runOnce(src, ckpt) == (0L until 15L))
    // second wave: ONLY the delta is delivered on restart
    rows(15, 18).write.format("graft").mode(SaveMode.Append).save(src)
    assert(runOnce(src, ckpt) == Seq(15L, 16L, 17L))
    // third run with no new commits delivers nothing (no duplicates)
    assert(runOnce(src, ckpt).isEmpty)
  }

  test("CDF mode streams deletes; insert mode nets out carried rows") {
    val src = freshDir("src2")
    rows(0, 10).write.format("graft").save(src)
    TxTable.delete(spark, src, col("k") >= 8)
    TxTable.merge(spark, src,
      rows(0, 2).withColumn("v", col("v") + 1), Seq("k"))
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").load(src)
      .groupBy("_commit_version", "_change_type")
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("gstream_cdf")
      .outputMode("complete")
      .option("checkpointLocation", freshDir("ckpt2"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("gstream_cdf")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == Seq((0L, "insert", 10L), (1L, "delete", 2L),
      (2L, "delete", 2L), (2L, "insert", 2L)))
    // insert-only mode: the merge's net post-image rows, not carried ones
    val q2 = spark.readStream.format("graft").load(src)
      .writeStream.format("memory").queryName("gstream_ins")
      .option("checkpointLocation", freshDir("ckpt2b"))
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.table("gstream_ins").count() == 12) // 10 + 2 post-images
  }

  test("graft sink is exactly-once under batch replay") {
    val sink = freshDir("sink1")
    rows(0, 5).write.format("graft").save(sink) // seed
    val batch = rows(5, 9)
    val s = new graft.sources.GraftStreamSink(sink, "testapp")
    s.addBatch(7L, batch)
    s.addBatch(7L, batch) // replay: must no-op
    assert(spark.read.format("graft").load(sink).count() == 9)
    s.addBatch(8L, rows(9, 10))
    assert(spark.read.format("graft").load(sink).count() == 10)
  }

  private def keys(dir: String): Seq[Long] = {
    import spark.implicits._
    TxTable.read(spark, dir).select("k").as[Long].collect().toSeq.sorted
  }

  test("a stream sink's batch 0 and a BatchSink's batch 0 both land in one table") {
    val dir = freshDir("crosstalk")
    new GraftStreamSink(dir, "testapp").addBatch(0L, rows(0, 5))
    BatchSink.upsertBatchTx(rows(5, 9), 0L, dir, "k")
    assert(keys(dir) == (0L until 9L))
    assert(TxTable.history(spark, dir).collect().map(_.getString(1)).toSeq ==
      Seq("append:stream:testapp:batch=0", "merge:batch=0"))
  }

  test("a stream sink replay that loses its version to its original publishes nothing") {
    val sink = freshDir("race_stream")
    rows(0, 5).write.format("graft").save(sink)
    val from = freshDir("race_stream_from")
    Squatter.land(sink, from)
    new GraftStreamSink(from, "testapp").addBatch(3L, rows(5, 9)) // the original
    new GraftStreamSink(sink, "testapp")
      .addBatch(3L, Squatter.whileStaging(rows(5, 9), from, sink))
    assert(TxTable.currentVersion(sink) == 1L)
    assert(keys(sink) == (0L until 9L))
    assert(TxTable.vacuum(sink, retainFrom = 0L) == 0L) // no staged file left
  }

  test("a BatchSink replay that loses its batch to its original publishes nothing") {
    val tbl = freshDir("race_batch")
    BatchSink.upsertBatchTx(rows(0, 5), 0L, tbl, "k")
    val from = freshDir("race_batch_from")
    Squatter.land(tbl, from)
    BatchSink.upsertBatchTx(rows(3, 8), 1L, from, "k") // the original
    BatchSink.upsertBatchTx(Squatter.whileStaging(rows(3, 8), from, tbl), 1L, tbl, "k")
    assert(TxTable.currentVersion(tbl) == 1L)
    assert(keys(tbl) == (0L until 8L))
    assert(TxTable.vacuum(tbl, retainFrom = 0L) == 0L)
  }

  test("a sink batch reads the log back to its own previous batch only") {
    // the log below the version-10 checkpoint becomes unreadable: batch 12
    // and a replay of batch 11 must not need it
    def unreadableBelowCheckpoint(dir: String): Unit = {
      val log = java.nio.file.Paths.get(dir, "_txlog")
      assert(java.nio.file.Files.exists(log.resolve(f"${10}%020d.checkpoint.json")))
      (0 until 10).foreach(v =>
        java.nio.file.Files.writeString(log.resolve(f"$v%020d.json"), "unreadable"))
    }
    val streamed = freshDir("budget_stream")
    val sink = new GraftStreamSink(streamed, "testapp")
    (0L until 12L).foreach(b => sink.addBatch(b, rows(b, b + 1)))
    unreadableBelowCheckpoint(streamed)
    sink.addBatch(12L, rows(12, 13))
    sink.addBatch(11L, rows(11, 12))
    assert(TxTable.currentVersion(streamed) == 12L)
    assert(keys(streamed) == (0L until 13L))
    val merged = freshDir("budget_batch")
    (0L until 12L).foreach(b => BatchSink.upsertBatchTx(rows(b, b + 1), b, merged, "k"))
    unreadableBelowCheckpoint(merged)
    BatchSink.upsertBatchTx(rows(12, 13), 12L, merged, "k")
    BatchSink.upsertBatchTx(rows(11, 12), 11L, merged, "k")
    assert(TxTable.currentVersion(merged) == 12L)
    assert(keys(merged) == (0L until 13L))
  }

  test("end-to-end streaming replication through source and sink") {
    val src = freshDir("src3")
    val dst = freshDir("dst3")
    val ckpt = freshDir("ckpt3")
    rows(0, 10).write.format("graft").save(src)
    def sync(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .withColumn("v2", col("v") * 2)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(dst)
      q.awaitTermination()
    }
    sync()
    assert(spark.read.format("graft").load(dst).count() == 10)
    rows(10, 14).write.format("graft").mode(SaveMode.Append).save(src)
    sync()
    val got = spark.read.format("graft").load(dst)
    assert(got.count() == 14)
    assert(got.schema.fieldNames.toSeq == Seq("k", "v", "v2"))
    assert(got.agg(sum(col("v2"))).collect()(0).getDouble(0)
      == (0 until 14).map(_ * 20.0).sum)
    // replaying the whole stream with the same checkpoint adds nothing
    sync()
    assert(spark.read.format("graft").load(dst).count() == 14)
  }

  test("maxVersionsPerBatch bounds a backfill into multiple micro-batches") {
    val src = freshDir("src5")
    (0 until 5).foreach(i =>
      rows(i * 10L, (i + 1) * 10L).write.format("graft")
        .mode(SaveMode.Append).save(src)) // versions 0..4
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerBatch", 2).load(src)
      .writeStream.option("checkpointLocation", freshDir("ckpt5"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        batches.add(b.count()); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val sizes = batches.iterator().asScala.toSeq
    // 5 versions at <=2 per batch: 3 batches (20, 20, 10), no dup, no loss
    assert(sizes.sum == 50, sizes)
    assert(sizes.count(_ > 0) == 3, sizes)
    assert(sizes.filter(_ > 0).max <= 20, sizes)
  }

  test("streaming sink writes a PARTITIONED table via writeStream.partitionBy") {
    val src = freshDir("src4")
    val dst = freshDir("dst4")
    rows(0, 12).write.format("graft").save(src)
    val q = spark.readStream.format("graft").load(src)
      .withColumn("bucket", (col("k") % 3L).cast("long"))
      .writeStream.format("graft").partitionBy("bucket")
      .option("checkpointLocation", freshDir("ckpt4"))
      .trigger(Trigger.AvailableNow()).start(dst)
    q.awaitTermination()
    assert(TxTable.partitionColsAt(dst) == Seq("bucket"))
    assert(TxTable.activeFiles(dst).forall(_.startsWith("bucket=")))
    val got = spark.read.format("graft").load(dst)
    assert(got.count() == 12)
    assert(got.where(col("bucket") === 1L).count() == 4)
  }
}
