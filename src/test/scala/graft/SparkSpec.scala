package graft

import graft.core.GraftSession
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for Spark-backed specs: the production factory
  * with a small shuffle fan-out for unit-scale data.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Every file scan in the executed plan, descending through AQE roots
    * AND materialized query stages (leaf nodes that `collect` won't
    * traverse).
    */
  protected def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(fileScans)
  }

  protected def fileScans(df: DataFrame): Seq[FileSourceScanExec] =
    fileScans(df.queryExecution.executedPlan)

  /** Properties of every Spark job `body` starts (seen by a listener
    * keyed by a fresh job group).
    */
  protected def jobsOf(body: => Unit): Seq[java.util.Properties] = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).filter(p => p.getProperty("spark.jobGroup.id") == group)
          .foreach(jobs.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted jobs", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession
      .builder("local[2]", shufflePartitions = 2, appName = "graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
