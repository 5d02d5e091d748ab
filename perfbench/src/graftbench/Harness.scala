package graftbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class Conf(workload: String, seed: Long, seconds: Double,
    trace: Boolean, fixtures: String, cpus: Int, smoke: Boolean,
    coldOnly: Boolean, out: String, work: String)

/** One timed operation: its wall milliseconds and process CPU seconds. */
final case class Op(name: String, kind: String, phase: String, ms: Double, cpuS: Double)

/** One timed pass: a round of every query, or one TxTable block. */
final case class Pass(phase: String, traced: Boolean, wallS: Double,
    cpuS: Double, codegenS: Double, codegenCompiles: Long, gcS: Double,
    heapPeak: Long)

/** Session set-up, per-operation timing and the measurement hooks shared
  * by every workload. All engine calls go through the public API:
  * `GraftSession.builder`, `Tables`, the query builders and `TxTable`.
  */
final class Harness(val c: Conf) {
  val rec = new Recorder
  val listener = new GroupListener
  var spark: SparkSession = _
  val passes = mutable.ArrayBuffer.empty[Pass]
  val ops = mutable.ArrayBuffer.empty[Op]
  val errors = mutable.ArrayBuffer.empty[String]
  val setups = mutable.ArrayBuffer.empty[(Double, Double, Double)]

  private val jvmStartNs = System.nanoTime() -
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = osBean.getProcessCpuTime

  def newSession(): SparkSession = {
    val s = graft.core.GraftSession
      .builder(master = s"local[${c.cpus}]", shufflePartitions = c.cpus,
        appName = "graftbench")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(listener)
    s
  }

  def stopSession(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Session build plus table registration, `Setups` times (once in a
    * cold-only run); the first one counts from JVM start. Every span
    * lands in phase `setup<k>`.
    */
  def setup(tables: Seq[(String, String)],
      times: Int = if (c.coldOnly) 1 else Harness.Setups): Unit = {
    rec.enabled = c.trace
    (0 until times).foreach { k =>
      rec.phase = s"setup$k"; rec.query = "setup"
      if (k > 0) stopSession()
      val t0 = if (k == 0) jvmStartNs else System.nanoTime()
      val s0 = System.nanoTime()
      spark = rec.span("core.session")(newSession())
      val s1 = System.nanoTime()
      rec.span("core.table_load") {
        tables.foreach { case (dir, t) => graft.core.Tables(spark, dir, t) }
      }
      val t1 = System.nanoTime()
      setups += (((t1 - t0) / 1e9, (s1 - s0) / 1e9, (t1 - s1) / 1e9))
    }
  }

  private lazy val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
  private def codegen: (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Runs `body` as one pass; the wall time is the sum of the timed
    * operations' times, so bookkeeping between operations is not in it.
    */
  def pass(phase: String, traced: Boolean)(body: => Unit): Pass = {
    rec.phase = phase
    rec.enabled = traced
    heapPools.foreach(_.resetPeakUsage())
    val (cg0, cc0) = codegen
    val g0 = gcMs
    val before = ops.size
    body
    val (cg1, cc1) = codegen
    val mine = ops.drop(before)
    val p = Pass(phase, traced, mine.map(_.ms).sum / 1000.0, mine.map(_.cpuS).sum,
      (cg1 - cg0) / 1e9, cc1 - cc0, (gcMs - g0) / 1000.0,
      heapPools.map(_.getPeakUsage.getUsed).sum)
    rec.enabled = false
    passes += p
    p
  }

  /** Times one operation: DataFrame construction (`build`, may run
    * jobs), then `act` on it. Jobs run under the job group
    * `phase|build:op` / `phase|action:op`. A throwing operation is
    * recorded as failed and timed like any other.
    */
  def timed[T](op: String, kind: String, build: => T)(act: T => Unit): Unit = {
    rec.query = op
    val sc = spark.sparkContext
    val t0 = System.nanoTime(); val c0 = cpuNs
    try {
      sc.setJobGroup(s"${rec.phase}|build:$op", op, interruptOnCancel = false)
      val built = rec.span("queries.build")(build)
      sc.setJobGroup(s"${rec.phase}|action:$op", op, interruptOnCancel = false)
      act(built)
    } catch {
      case e: Throwable =>
        errors += s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    } finally {
      val t1 = System.nanoTime()
      ops += Op(op, kind, rec.phase, (t1 - t0) / 1e6, (cpuNs - c0) / 1e9)
      sc.clearJobGroup()
    }
  }

  /** Full consumption of every output column without collecting. */
  def consume(df: DataFrame): Unit =
    rec.span("exec.action")(df.write.format("noop").mode("overwrite").save())

  /** Drops what a query persisted, so no query's blocks leak into the
    * next one's timing (the Bench convention).
    */
  def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def rng(salt: Long): scala.util.Random = new scala.util.Random(c.seed * 1000003L + salt)
}

object Harness {
  /** Set-ups per run; setup_s is their median. */
  val Setups = 11
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
