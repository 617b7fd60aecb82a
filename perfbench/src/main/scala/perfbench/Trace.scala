package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One timed interval of the benchmark's own work: a workload, one
  * query/request/stage, or one phase of it (`registry.lookup`, `ops.build`,
  * `driver.plan`, `exec`). Spark jobs and stages hang below it as
  * [[JobRec]]s. All spans of one request share `reqId`. */
final case class Span(id: Int, parent: Int, reqId: Int, name: String, kind: String,
    startMs: Double, var endMs: Double = Double.NaN)

/** What the listener saw for one Spark job, keyed to the span that was
  * innermost when the job was submitted. */
final class JobRec(val jobId: Int, val span: Int, val startMs: Double) {
  var endMs: Double = Double.NaN
  var failed = false
  val stages = mutable.ArrayBuffer.empty[Int]
}

/** Per-stage totals summed from task-end events. */
final class StageRec(val stageId: Int, val attempt: Int, val jobSpan: Int) {
  var name = ""
  var submitMs = Double.NaN
  var endMs = Double.NaN
  var firstLaunchMs = Double.NaN
  var tasks = 0L
  var failedTasks = 0L
  var taskMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var inputB = 0L
  var outputB = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** Plan census of one executed action, from its final (post-AQE) plan. */
final case class PlanRec(span: Int, exchanges: Int, sorts: Int, broadcasts: Int,
    filesWritten: Long, rowsWritten: Long, partsWritten: Long)

/** The benchmark's span recorder plus its own Spark listeners. Spans live
  * in memory; [[TraceFile.write]] dumps them with self time at the end of a
  * run. The span id of the innermost open span is published to Spark as a
  * local property, so every job, stage and task is attributed to it. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val t0 = System.nanoTime()
  def nowMs: Double = (System.nanoTime() - t0) / 1e6
  private val wallOffsetMs = System.currentTimeMillis().toDouble - nowMs
  /** Spark event times are epoch millis; map them onto the span clock. */
  def fromEpoch(ms: Long): Double = ms - wallOffsetMs

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var nextReq = 0

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val execSpan = mutable.HashMap.empty[Long, Int]

  def newRequest(): Int = { nextReq += 1; nextReq }

  /** Time `body` as a child of the innermost open span. */
  def span[T](name: String, kind: String, reqId: Int = -1)(body: => T): T = {
    val parent = open.headOption
    val s = Span(spans.size, parent.map(_.id).getOrElse(-1),
      if (reqId >= 0) reqId else parent.map(_.reqId).getOrElse(0), name, kind, nowMs)
    spans += s
    open.push(s)
    spark.sparkContext.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endMs = nowMs
      open.pop()
      spark.sparkContext.setLocalProperty(SpanKey,
        open.headOption.map(_.id.toString).orNull)
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val span = prop(SpanKey).map(_.toInt).getOrElse(-1)
      prop("spark.sql.execution.id").foreach(x => execSpan(x.toLong) = span)
      val j = new JobRec(e.jobId, span, fromEpoch(e.time))
      j.stages ++= e.stageIds
      jobs(e.jobId) = j
      e.stageIds.foreach(stageSpan(_) = span)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = fromEpoch(e.time)
        j.failed = !e.jobResult.isInstanceOf[JobSucceeded.type]
      }
    }
    private def stage(id: Int, attempt: Int): StageRec =
      stages.getOrElseUpdate((id, attempt),
        new StageRec(id, attempt, stageSpan.getOrElse(id, -1)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.name = e.stageInfo.name
      e.stageInfo.submissionTime.foreach(t => s.submitMs = fromEpoch(t))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      e.stageInfo.completionTime.foreach(t => s.endMs = fromEpoch(t))
    }
    // an SQL execution ends after its jobs, so the execution id -> span
    // entry recorded at job start is already there
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        PerfbenchAccess.queryExecution(end).foreach { qe =>
          val span = synchronized(execSpan.getOrElse(end.executionId, -1))
          val rec = census(span, qe.executedPlan)
          synchronized { plans += rec }
        }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stage(e.stageId, e.stageAttemptId)
      val info = e.taskInfo
      s.tasks += 1
      if (!info.successful) s.failedTasks += 1
      val launch = fromEpoch(info.launchTime)
      if (s.firstLaunchMs.isNaN || launch < s.firstLaunchMs) s.firstLaunchMs = launch
      s.taskIntervals += ((launch, fromEpoch(info.finishTime)))
      s.taskMs += info.duration
      val m = e.taskMetrics
      if (m != null) {
        s.cpuMs += m.executorCpuTime / 1e6
        s.gcMs += m.jvmGCTime
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputB += m.inputMetrics.bytesRead
        s.outputB += m.outputMetrics.bytesWritten
      }
    }
  }

  spark.sparkContext.addSparkListener(listener)

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = PerfbenchAccess.drain(spark.sparkContext)

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Children of a plan node, seen through AQE wrappers and query stages
    * so that the census reads the FINAL adaptive plan. */
  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children ++ other.subqueries
  }

  private def nodes(p: SparkPlan): Iterator[SparkPlan] =
    Iterator.single(p) ++ children(p).iterator.flatMap(nodes)

  /** Count exchanges, sorts and broadcasts in an executed plan, and read
    * the write command's file metrics when the action was a write. */
  def census(span: Int, plan: SparkPlan): PlanRec = {
    var ex, so, bc = 0
    var files, rows, parts = 0L
    nodes(plan).foreach {
      case _: ShuffleExchangeLike => ex += 1
      case _: BroadcastExchangeLike => bc += 1
      case _: SortExec => so += 1
      case w: DataWritingCommandExec =>
        val m = w.cmd.metrics
        def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
        files += v("numFiles"); rows += v("numOutputRows"); parts += v("numParts")
      case _ =>
    }
    PlanRec(span, ex, so, bc, files, rows, parts)
  }

  /** Total length of the union of `intervals`. */
  def unionLength(intervals: Iterable[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    intervals.toSeq.filter { case (s, e) => !s.isNaN && !e.isNaN && e > s }
      .sortBy(_._1).foreach { case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = s; curE = e
        } else if (e > curE) curE = e
      }
    if (!curE.isNaN) total += curE - curS
    total
  }
}
