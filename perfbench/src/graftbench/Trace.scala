package graftbench

import scala.collection.mutable

/** One timed interval around a call into a graft module. `phase` names
  * the pass it belongs to (setup0, cold, warm3, ...), `query` the
  * operation (query name or TxTable call) it was made for.
  */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, phase: String, query: String) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Disabled, `span` is a plain call: the
  * untraced run pays one boolean test per layer call.
  */
final class Recorder {
  @volatile var enabled = false
  var phase = ""
  var query = ""
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      spans += Span(id, name, System.nanoTime(), -1L,
        stack.headOption.getOrElse(-1), phase, query)
      stack = id :: stack
      try body
      finally {
        spans(id) = spans(id).copy(end = System.nanoTime())
        stack = stack.tail
      }
    }

  def seconds(name: String, phases: Set[String]): Double =
    spans.iterator.filter(s => s.name == name && phases(s.phase))
      .map(_.seconds).sum
}

/** Task, stage and job metrics of one job group (`phase|kind:query`). */
final class GroupAgg {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, deserMs, schedMs, fetchWaitMs = 0L
  var inputBytes, inputRows, outputRows, shuffleWrite, shuffleRead = 0L
  var spill, peakMem = 0L
  var singleTaskStageMs = 0L
  var skewMax = 0.0
  var analysisMs, optimizerMs, physicalMs = 0L
  var graftNodes = 0L
}

/** Benchmark-owned listener: aggregates every task, stage and job by the
  * job group the harness set before the call that ran it.
  */
final class GroupListener extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  val groups = mutable.LinkedHashMap.empty[String, GroupAgg]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val execGroup = mutable.HashMap.empty[Long, String]

  private def agg(g: String): GroupAgg = groups.getOrElseUpdate(g, new GroupAgg)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    agg(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup.getOrElseUpdate(e.stageInfo.stageId, groupOf(e.properties))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, "none"))
    a.tasks += 1
    if (e.reason != org.apache.spark.Success) a.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.deserMs += m.executorDeserializeTime
      val info = e.taskInfo
      val sched = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      a.schedMs += math.max(0L, sched)
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRows += m.inputMetrics.recordsRead
      a.outputRows += m.outputMetrics.recordsWritten
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  /** SQL executions carry the job group they started under; their end
    * event carries the QueryExecution with its planning-phase tracker.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    import org.apache.spark.sql.execution.ui._
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execGroup(s.executionId) = s.jobGroupId.getOrElse("none")
      case end: SparkListenerSQLExecutionEnd =>
        val g = execGroup.remove(end.executionId).getOrElse("none")
        // `qe` is spark-private at compile time, a public accessor at run time
        val qeOpt = scala.util.Try(end.getClass.getMethod("qe").invoke(end)
          .asInstanceOf[org.apache.spark.sql.execution.QueryExecution]).toOption
        qeOpt.filter(_ != null).foreach { qe =>
          val a = agg(g)
          val ph = qe.tracker.phases
          def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
          a.analysisMs += ms("analysis")
          a.optimizerMs += ms("optimization")
          a.physicalMs += ms("planning")
          a.graftNodes += scala.util.Try(graftNodes(qe.executedPlan)).getOrElse(0)
        }
      case _ =>
    }
  }

  private val graftExecs = Set("TopKPerKeyExec", "PrefixScanExec")

  /** graft's own physical operators in an executed plan, looking through
    * adaptive query stages and subqueries.
    */
  private def graftNodes(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive._
    val here = if (graftExecs(p.getClass.getSimpleName)) 1 else 0
    val nested = p match {
      case a: AdaptiveSparkPlanExec => graftNodes(a.executedPlan)
      case q: QueryStageExec => graftNodes(q.plan)
      case _ => 0
    }
    here + nested + p.children.map(graftNodes).sum +
      p.subqueries.map(graftNodes).sum
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val a = agg(stageGroup.getOrElse(si.stageId, "none"))
    a.stages += 1
    val dur = for (s <- si.submissionTime; c <- si.completionTime) yield c - s
    if (si.numTasks == 1) a.singleTaskStageMs += dur.getOrElse(0L)
    stageTaskMs.remove(si.stageId).filter(_.size >= 2).foreach { ts =>
      val sorted = ts.sorted
      val median = sorted(sorted.size / 2)
      if (median > 0) a.skewMax = math.max(a.skewMax, sorted.last.toDouble / median)
    }
  }
}

