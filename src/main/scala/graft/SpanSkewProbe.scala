package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.functions.TextFunctions
import graft.operators.Dedup

/** Stage-level probe for the ExactSubstr excision shuffle shape under
  * span-frequency skew (the round-13 verdict's open scale question):
  * isolates the covered-position computation — the only stage where the
  * two candidate shapes differ — and times BOTH on the same fixture:
  *
  *  - `window`: one shuffle on (h, h2), count + canonical min from a
  *    hash-keyed window. Colocates EVERY occurrence of a span into one
  *    task and sorts it there; AQE's skew handling covers joins, not
  *    windows, so a hot boilerplate span (f·N occurrences) is one
  *    unsplittable straggler.
  *  - `aggjoin`: two-phase partial aggregate for (count, min) — a hot
  *    span crosses the wire as one row per map task — plus a
  *    shuffled-HASH join-back that STREAMS the skewed occurrence side
  *    (no probe-side sort; AQE skew-split additionally covers SHJ).
  *
  * Fixtures: `tools/gen_span_skew.py` (one fixed 16-token boilerplate
  * run = 9 hot k=8 spans injected into p% of documents). Run:
  *
  *   SPARK_GRAFT_SF_DIR=target/sf10skew30 sbt -batch -error
  *     "runMain graft.SpanSkewProbe"
  *
  * Prints `shape=<name> sec=<min-of-passes> covered=<rows>` per shape.
  */
object SpanSkewProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    // raise to cluster-like granularity (e.g. 512) to expose the window's
    // hot-partition straggler: at P partitions a span in f of all docs
    // makes one partition f*P times the median — local[32]'s default
    // P=32 masks it (every partition already holds N/32 rows)
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val k = 8
    val spark = GraftSession
      .builder(s"local[$cpus]", shufflePartitions.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    // the shared shingle scan (mirrors Dedup.exciseDupSpans' occ)
    def occ: DataFrame = docs
      .where(size(TextFunctions.tokens(col("text"))) >= k)
      .select(col("doc_id"),
        posexplode(Dedup.shingles(col("text"), k)).as(Seq("p0", "sp")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"),
        md5(col("sp")).as("m5"))
      .select(col("doc_id"), col("p"),
        conv(substring(col("m5"), 1, 15), 16, 10).cast("long").as("h"),
        conv(substring(col("m5"), 18, 15), 16, 10).cast("long").as("h2"))

    def windowCovered: DataFrame = {
      val bySpan = org.apache.spark.sql.expressions.Window.partitionBy("h", "h2")
      occ
        .select(col("doc_id"), col("p"),
          count(lit(1)).over(bySpan).as("c"),
          min(struct(col("doc_id"), col("p"))).over(bySpan).as("m"))
        .where(col("c") > 1 &&
          !(col("doc_id") === col("m")("doc_id") && col("p") === col("m")("p")))
        .select(col("doc_id"),
          explode(sequence(col("p"), col("p") + (k - 1))).as("i"))
        .distinct()
    }

    def aggJoinCovered: DataFrame = {
      val spans = occ
        .groupBy("h", "h2")
        .agg(count(lit(1)).as("c"), min(struct(col("doc_id"), col("p"))).as("m"))
        .where(col("c") > 1)
      occ
        .join(spans.hint("shuffle_hash"), Seq("h", "h2"))
        .where(!(col("doc_id") === col("m")("doc_id") && col("p") === col("m")("p")))
        .select(col("doc_id"),
          explode(sequence(col("p"), col("p") + (k - 1))).as("i"))
        .distinct()
    }

    // task-duration capture: the straggler evidence is max-vs-median TASK
    // time, not wall-clock — local[32] overlaps the hot task with the
    // cold mass, a 1000-executor cluster waits on it. Scan (map) tasks
    // are tracked separately from shuffle-READ (reduce) tasks: the
    // fixture is one parquet file, so its ~4 scan slices each tokenize+
    // hash millions of docs (~1 min) and would mask the reduce-side
    // straggler the probe exists to measure.
    case class T(dur: Long, shuffleRead: Long)
    val durs = scala.collection.mutable.ArrayBuffer.empty[T]
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val sr = Option(e.taskMetrics)
            .map(m => m.shuffleReadMetrics.totalBytesRead).getOrElse(0L)
          durs.synchronized { durs += T(e.taskInfo.duration, sr) }
        }
      })

    // aggjoin + hash repartition on (doc_id, p) BEFORE the k× explode:
    // the P=512 probe showed the straggler is NOT the count/min
    // computation but the explode + partial-distinct PIPELINED inside the
    // hot task (window 61 s / aggjoin 77 s max task vs ~3.5 s median at
    // sf10 p=30) — the join-back's output must be redistributed on the
    // uniform (doc, position) key before fanning out k positions per
    // occurrence, or every downstream row of a hot span stays in one task
    def aggJoinRrCovered: DataFrame = {
      val spans = occ
        .groupBy("h", "h2")
        .agg(count(lit(1)).as("c"), min(struct(col("doc_id"), col("p"))).as("m"))
        .where(col("c") > 1)
      occ
        .join(spans.hint("shuffle_hash"), Seq("h", "h2"))
        .where(!(col("doc_id") === col("m")("doc_id") && col("p") === col("m")("p")))
        .select(col("doc_id"), col("p"))
        .repartition(col("doc_id"), col("p"))
        .select(col("doc_id"),
          explode(sequence(col("p"), col("p") + (k - 1))).as("i"))
        .distinct()
    }

    val shapes = Seq("window" -> (() => windowCovered),
      "aggjoin" -> (() => aggJoinCovered),
      "aggjoin_rr" -> (() => aggJoinRrCovered))
    // warm-up: footers, codegen
    occ.count()
    shapes.foreach { case (name, mk) =>
      var rows = 0L
      var maxScan = 0L
      var maxRed = 0L
      var medRed = 0L
      var nRed = 0
      val ts = (1 to passes).map { _ =>
        durs.synchronized(durs.clear())
        val t0 = System.nanoTime()
        rows = mk().count()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // listener bus drain
        val snap = durs.synchronized(durs.toIndexedSeq)
        val (red, scan) = snap.partition(_.shuffleRead > 0)
        if (scan.nonEmpty) maxScan = scan.map(_.dur).max
        if (red.nonEmpty) {
          val sortedR = red.map(_.dur).sorted
          maxRed = sortedR.last; medRed = sortedR(sortedR.size / 2)
          nRed = sortedR.size
        }
        dt
      }
      println(f"shape=$name sec=${ts.min}%.2f covered=$rows " +
        f"maxScanTaskMs=$maxScan maxReduceTaskMs=$maxRed " +
        f"medReduceTaskMs=$medRed nReduceTasks=$nRed " +
        f"parts=$shufflePartitions sf=$sfDir")
    }
    spark.stop()
  }
}
