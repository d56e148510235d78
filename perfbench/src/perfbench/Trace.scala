package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.ExecutionEnd

/** One traced interval: a workload, a phase, or one call into graft. */
final case class Span(id: Long, name: String, parent: Long, startNs: Long, startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = Long.MaxValue
}

/** Spark work attributed to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var schedulerDelayMs = 0L
  var peakMem = 0L
  val jobLatencyMs = mutable.ArrayBuffer.empty[Long]
  /** Join operators by strategy: as first planned, and as executed after
   *  adaptive execution re-planned them. */
  val plannedJoins = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val joins = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val execIds = mutable.LinkedHashSet.empty[Long]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; gcMs += o.gcMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; schedulerDelayMs += o.schedulerDelayMs
    peakMem = math.max(peakMem, o.peakMem); jobLatencyMs ++= o.jobLatencyMs
    o.plannedJoins.foreach { case (k, v) => plannedJoins(k) += v }
    o.joins.foreach { case (k, v) => joins(k) += v }
    execIds ++= o.execIds
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_run_ms" -> runMs, "gc_ms" -> gcMs, "shuffle_read_bytes" -> shuffleRead,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "scheduler_delay_ms" -> schedulerDelayMs, "peak_mem_bytes" -> peakMem,
    "planned_joins" -> plannedJoins.toMap, "joins" -> joins.toMap, "exec_ids" -> execIds.toSeq)
}

/** Aggregate-operator SQL metrics of one executed plan. */
final case class AggStats(
    aggTimeMs: Long, fallbackTasks: Long, spillBytes: Long, peakMem: Long,
    partialIn: Long, partialOut: Long) {
  def +(o: AggStats): AggStats = AggStats(aggTimeMs + o.aggTimeMs,
    fallbackTasks + o.fallbackTasks, spillBytes + o.spillBytes, math.max(peakMem, o.peakMem),
    partialIn + o.partialIn, partialOut + o.partialOut)
}

object AggStats {
  val Zero: AggStats = AggStats(0, 0, 0, 0, 0, 0)
}

/** Reads SQL metrics out of executed plans, through AQE stages and subqueries. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Rows a node received: the nearest `numOutputRows` below it, summed
   *  across branches (a union has no row metric of its own). */
  private def rowsOut(p: SparkPlan): Long = p.metrics.get("numOutputRows") match {
    case Some(m) => m.value
    case None => allChildren(p).map(rowsOut).sum
  }

  def aggStats(plan: SparkPlan): AggStats =
    collectWithSubqueries(plan) { case a: BaseAggregateExec => a }.map { a =>
      val partial = a.requiredChildDistributionExpressions.isEmpty
      AggStats(metric(a, "aggTime"), metric(a, "numTasksFallBacked"), metric(a, "spillSize"),
        metric(a, "peakMemory"),
        if (partial) a.children.map(rowsOut).sum else 0L,
        if (partial) metric(a, "numOutputRows") else 0L)
    }.foldLeft(AggStats.Zero)(_ + _)

  /** Paths of the files a plan scans. */
  def scannedPaths(plan: SparkPlan): Seq[String] =
    collectWithSubqueries(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
    }.flatten

  /** Join strategies in a plan, by physical operator name. */
  def joins(info: SparkPlanInfo): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def walk(n: SparkPlanInfo): Unit = {
      Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin",
        "CartesianProduct").find(n.nodeName.startsWith).foreach(k => out(k) += 1)
      n.children.foreach(walk)
    }
    walk(info)
    out.toMap
  }
}

/**
 * Spans and the Spark work under them. With tracing off every method is
 * a pass-through. With tracing on, each span sets the [[Tracer.SpanKey]]
 * local property around its body, so the jobs it starts carry the span
 * id; a listener counts their stages and tasks, and reads the aggregate
 * metrics of the SQL executions they belong to. Jobs started on other threads
 * (streaming micro-batches) carry no span id and are attributed to the
 * innermost span open when they started. Everything stays in memory
 * until [[resolve]] reads them.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private val jobsL = new JobListener

  if (enabled) sc.addSparkListener(jobsL)

  /** Run `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val s = Span(nextId, name, stack.headOption.fold(0L)(_.id), System.nanoTime(),
      System.currentTimeMillis())
    nextId += 1
    spans += s
    stack ::= s
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      sc.setLocalProperty(SpanKey, prev)
      stack = stack.tail
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
    }
  }

  /** Run `body` with no span id on this thread: threads it creates (a
   *  streaming query's) must not inherit one. */
  def detached[T](body: => T): T = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, null)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }

  private var resolved: Map[Long, Counters] = Map.empty
  private var aggByExec: Map[Long, AggStats] = Map.empty

  /** Wait for the listener bus, then attribute every job seen so far to a
   *  span. Called before reading counters, and once more at the end. */
  def resolve(): Unit = if (enabled) {
    org.apache.spark.perfbench.BusAccess.drain(sc)
    val bySpan = mutable.Map.empty[Long, Counters]
    val assignedStages = mutable.Set.empty[Int]
    jobsL.synchronized {
      jobsL.jobs.values.foreach { j =>
        val owner = j.prop match {
          case null => byTime(j.startMs)
          case id => spans.find(_.id == id.toLong)
        }
        owner.foreach { s =>
          val c = bySpan.getOrElseUpdate(s.id, new Counters)
          c.jobs += 1
          if (j.endMs >= j.startMs) c.jobLatencyMs += j.endMs - j.startMs
          j.stageIds.filter(jobsL.stages.contains).filter(assignedStages.add).foreach { sid =>
            val st = jobsL.stages(sid)
            c.stages += 1; c.tasks += st.tasks; c.failedTasks += st.failedTasks
            c.runMs += st.runMs; c.gcMs += st.gcMs; c.shuffleRead += st.shuffleRead
            c.shuffleWrite += st.shuffleWrite; c.spill += st.spill
            c.schedulerDelayMs += st.schedulerDelayMs; c.peakMem = math.max(c.peakMem, st.peakMem)
          }
          if (j.execId >= 0 && c.execIds.add(j.execId)) {
            jobsL.plannedJoins.getOrElse(j.execId, Map.empty[String, Long])
              .foreach { case (k, v) => c.plannedJoins(k) += v }
            jobsL.execJoins.getOrElse(j.execId, Map.empty[String, Long])
              .foreach { case (k, v) => c.joins(k) += v }
          }
        }
      }
    }
    resolved = bySpan.toMap
    aggByExec = jobsL.synchronized(jobsL.execAggs.toMap)
  }

  /** The innermost span open at `ms`. */
  private def byTime(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).maxByOption(_.startNs)

  def allSpans: Seq[Span] = spans.toSeq

  def counters(id: Long): Counters = resolved.getOrElse(id, new Counters)

  /** Counters of `s` and every span below it. */
  def subtree(s: Span): Counters = {
    val out = new Counters
    val ids = mutable.Set(s.id)
    spans.foreach { x => if (ids.contains(x.parent)) ids += x.id }
    ids.foreach(id => out.add(counters(id)))
    out
  }

  /** Aggregate metrics of the plans whose jobs ran under `c`. */
  def aggStats(c: Counters): AggStats =
    c.execIds.toSeq.flatMap(aggByExec.get).foldLeft(AggStats.Zero)(_ + _)

  def spansJson: Seq[Map[String, Any]] = allSpans.map { s =>
    Map("run_id" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "counters" -> (counters(s.id).toMap + ("aggregates" -> aggStats(counters(s.id)))))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class JobRec(id: Int, startMs: Long, prop: String, execId: Long, stageIds: Seq[Int]) {
    var endMs: Long = -1L
  }

  final class StageAgg {
    var tasks = 0L; var failedTasks = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var schedulerDelayMs = 0L; var peakMem = 0L
  }

  final class JobListener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stages = mutable.Map.empty[Int, StageAgg]
    val plannedJoins = mutable.Map.empty[Long, Map[String, Long]]
    val execJoins = mutable.Map.empty[Long, Map[String, Long]]
    val execAggs = mutable.Map.empty[Long, AggStats]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = JobRec(e.jobId, e.time, props.map(_.getProperty(SpanKey)).orNull, exec,
        e.stageIds)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      val info = e.taskInfo
      if (info != null && info.failed) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        if (info != null) {
          a.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        plannedJoins(s.executionId) = PlanWalk.joins(s.sparkPlanInfo)
        execJoins(s.executionId) = plannedJoins(s.executionId)
      }
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        synchronized(execJoins(u.executionId) = PlanWalk.joins(u.sparkPlanInfo))
      case e: SparkListenerSQLExecutionEnd =>
        ExecutionEnd.queryExecution(e).foreach { qe =>
          val stats = PlanWalk.aggStats(qe.executedPlan)
          synchronized(execAggs(e.executionId) = stats)
        }
      case _ => ()
    }
  }
}
