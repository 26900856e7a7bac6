package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced interval of the benchmark's own calls into one layer. */
final class Span(val id: Int, val name: String, val parent: Int, val op: String,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  val attrs: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap()
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Executor-side work of the jobs a span started. */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var taskFailures = 0L
  var cpuNs = 0L; var gcMs = 0L; var inputBytes = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
}

/** One Spark SQL execution, tied to the span whose thread started it. */
final class Execution(val id: Long, val span: Int, val startMs: Long) {
  var endMs: Long = -1L
  var writePath: Option[String] = None
  var rowsWritten = 0L
  var bytesWritten = 0L
  /** (root path, rows output) per file scan in the final plan. */
  var scans: Seq[(String, Long)] = Nil
}

/** In-memory tracer: spans around the benchmark's calls into each layer,
  * a SparkListener for jobs, stages, tasks and SQL executions, and a
  * QueryExecutionListener for the final physical plan of each SQL
  * execution. Each job carries the id of the span that started it as a
  * local property, and each SQL execution carries it as a job tag, so
  * both are tied to that span. A final plan is tied to its execution by
  * the accumulator ids of its metrics, which the execution's start event
  * lists too. Nothing is written until the run ends. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private var stack: List[Span] = Nil
  private var attached = false

  // listener-side state; the listener bus thread writes, the run thread
  // reads only after drain()
  private val work = mutable.HashMap[Int, Work]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val executions = mutable.HashMap[Long, Execution]()
  // accumulator id -> execution id, from the plans the start events carry
  private val accExec = mutable.HashMap[Long, Long]()
  // final plans seen by the QueryExecutionListener, not yet tied
  private val plans = mutable.ArrayBuffer[(Set[Long], PlanInfo)]()
  @volatile private var markerJobsDone = 0
  @volatile private var markerQesDone = 0
  private val markerJobs = mutable.HashSet[Int]()

  def workOf(spanId: Int): Work = synchronized(work.getOrElse(spanId, new Work))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      if (p.exists(_.getProperty(MarkerKey) != null)) markerJobs += e.jobId
      p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt).foreach { s =>
        work.getOrElseUpdate(s, new Work).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      if (markerJobs.remove(e.jobId)) markerJobsDone += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
          .foreach { s =>
            stageSpan(e.stageInfo.stageId) = s
            work.getOrElseUpdate(s, new Work).stages += 1
          }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val w = work.getOrElseUpdate(s, new Work)
        w.tasks += 1
        if (e.reason != Success || e.taskInfo.attemptNumber > 0) w.taskFailures += 1
        Option(e.taskMetrics).foreach { m =>
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.inputBytes += m.inputMetrics.bytesRead
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        val span = s.jobTags.collectFirst {
          case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toInt
        }.getOrElse(-1)
        executions(s.executionId) = new Execution(s.executionId, span, s.time)
        accumulators(s.sparkPlanInfo).foreach(accExec(_) = s.executionId)
      }
      case u: SparkListenerSQLAdaptiveExecutionUpdate => Tracer.this.synchronized {
        accumulators(u.sparkPlanInfo).foreach(accExec(_) = u.executionId)
      }
      case end: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        executions.get(end.executionId).foreach(_.endMs = end.time)
      }
      case _ =>
    }
  }

  private def accumulators(p: SparkPlanInfo): Iterator[Long] =
    p.metrics.iterator.map(_.accumulatorId) ++ p.children.iterator.flatMap(accumulators)

  /** Ties each final plan seen so far to its execution. */
  private def resolve(): Unit = synchronized {
    plans.foreach { case (ids, info) =>
      ids.iterator.flatMap(accExec.get).nextOption().flatMap(executions.get).foreach { x =>
        x.writePath = info.writePath; x.rowsWritten = info.rowsWritten
        x.bytesWritten = info.bytesWritten; x.scans = info.scans
      }
    }
    plans.clear()
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.executedPlan
      val nodes = flatten(plan).toSeq
      if (nodes.exists(_.output.exists(_.name == MarkerCol))) { markerQesDone += 1; return }
      val writes = nodes.collect { case d: DataWritingCommandExec => d }
      val path = writes.map(_.cmd).collectFirst {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
      }
      def metric(name: String) =
        writes.flatMap(_.cmd.metrics.get(name)).map(_.value).sum
      val scans = nodes.collect { case s: FileSourceScanExec =>
        val rows = s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        s.relation.location.rootPaths.map(p => (p.toString, rows))
      }.flatten
      val info = PlanInfo(path, metric("numOutputRows"), metric("numOutputBytes"), scans)
      val ids = nodes.flatMap(_.metrics.values.map(_.id)).toSet
      Tracer.this.synchronized(plans += ((ids, info)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Runs `body` inside a span. Jobs and SQL executions it starts on this
    * thread are tied to the span (the innermost one when spans nest). */
  def span[T](name: String, op: String, attrs: (String, String)*)(body: => T): T = {
    val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), op,
      System.nanoTime(), System.currentTimeMillis())
    attrs.foreach { case (k, v) => s.attrs(k) = v }
    spans += s
    enter(stack.headOption, Some(s))
    stack = s :: stack
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
      enter(Some(s), stack.headOption)
    }
  }

  private def enter(from: Option[Span], to: Option[Span]): Unit = {
    from.foreach(f => sc.removeJobTag(TagPrefix + f.id))
    to match {
      case Some(t) =>
        sc.addJobTag(TagPrefix + t.id)
        sc.setLocalProperty(SpanKey, t.id.toString)
      case None => sc.setLocalProperty(SpanKey, null)
    }
  }

  /** Waits until both listeners have seen every event posted so far: a
    * marker execution is posted last, and each listener queue delivers
    * in order. */
  def drain(): Unit = if (attached) {
    val (jobs0, qes0) = (markerJobsDone, markerQesDone)
    sc.setLocalProperty(MarkerKey, "1")
    try spark.range(1).selectExpr(s"1 AS $MarkerCol").collect()
    finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while ((markerJobsDone <= jobs0 || markerQesDone <= qes0) && System.nanoTime() < deadline)
      Thread.sleep(5)
    resolve()
  }

  /** Executions tied to `span`. */
  def executionsOf(spanId: Int): Seq[Execution] =
    synchronized(executions.values.filter(_.span == spanId).toSeq)
}

/** What the final physical plan of one SQL execution shows. */
final case class PlanInfo(writePath: Option[String], rowsWritten: Long, bytesWritten: Long,
    scans: Seq[(String, Long)])

object Tracer {
  val SpanKey = "perfbench.span"
  val MarkerKey = "perfbench.marker"
  val TagPrefix = "perfbench-span-"
  val MarkerCol = "perfbench_drain_marker"

  /** Every node of a physical plan, including adaptive query stages. */
  def flatten(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Iterator(a) ++ flatten(a.executedPlan)
    case q: QueryStageExec => Iterator(q) ++ flatten(q.plan)
    case other => Iterator(other) ++ other.children.iterator.flatMap(flatten)
  }

  /** Length of the union of [start, end] intervals, in ms. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
