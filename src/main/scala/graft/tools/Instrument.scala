package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBusAccess
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One operator call's regime decision: the regime `op` took, the rounds
 *  it ran, and the comparison that decided it, e.g. "edges 38200000 bytes
 *  > threshold 10485760". Operators post it on the session's listener bus. */
case class OpRecord(op: String, regime: String, rounds: Int, reason: String)
  extends SparkListenerEvent {
  def json: String = s"""{"op":"$op","regime":"$regime","rounds":$rounds,""" +
    s""""reason":"${reason.replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
}

/** One completed stage: its first name line, tasks, wall ms, shuffle
 *  bytes, and the round of the job that ran it (see [[Snapshot.jobOps]]). */
case class StageRow(id: Int, name: String, tasks: Int, ms: Long, shuffleRead: Long, shuffleWrite: Long, op: String)

/** One op round's share of a [[Snapshot]]: its jobs, their stages and shuffle bytes. */
case class RoundRow(op: String, jobs: Int, stages: Int, shuffleRead: Long, shuffleWrite: Long)

/** What an [[Instrument]] counted since its last reset. `jobOps` holds
 *  each job's `graft.op` local property, `<op>#<round>` for a job of an
 *  operator's round loop ([[graft.operators.Rounds]]), "" for any other. */
case class Snapshot(jobOps: Seq[String] = Vector.empty, stages: Seq[StageRow] = Vector.empty, tasks: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, ops: Seq[OpRecord] = Vector.empty,
    batches: Seq[StreamingQueryProgress] = Vector.empty) {
  def jobs: Long = jobOps.size

  /** One row per op round, in the order their first jobs started. */
  def rounds: Seq[RoundRow] = jobOps.filter(_.nonEmpty).distinct.map { op =>
    val mine = stages.filter(_.op == op)
    RoundRow(op, jobOps.count(_ == op), mine.size, mine.map(_.shuffleRead).sum, mine.map(_.shuffleWrite).sum)
  }

  def json: String = s"""{"jobs":$jobs,"stages":${stages.size},"tasks":$tasks,""" +
    s""""shuf_read":$shuffleRead,"shuf_write":$shuffleWrite,"ops":[${ops.map(_.json).mkString(",")}]}"""
}

/**
 * The one listener that counts Spark work: jobs, stages (one row each),
 * tasks and shuffle bytes, plus the operators' [[OpRecord]]s and the
 * streaming queries' micro-batch progress. It listens on `spark`'s
 * context from construction until [[close]]. Listener events arrive
 * asynchronously, so [[reset]] and [[snapshot]] drain the bus first: the
 * counts then describe exactly the work in between. Each stage is
 * attributed to the `graft.op` of the first job that listed it.
 * `graft.Bench`, `graft.tools.Profile` and the tests measure through it.
 */
final class Instrument(spark: SparkSession) extends SparkListener {
  private var counts = Snapshot()
  // stage id -> the graft.op of the first job that listed it
  private var stageOps = Map.empty[Int, String]

  private def add(f: Snapshot => Snapshot): Unit = synchronized { counts = f(counts) }

  override def onJobStart(e: SparkListenerJobStart): Unit = add { c =>
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(graft.operators.Rounds.OpProperty)))
      .getOrElse("")
    stageOps ++= e.stageIds.filterNot(stageOps.contains).map(_ -> op)
    c.copy(jobOps = c.jobOps :+ op)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val ms = si.submissionTime.flatMap(t => si.completionTime.map(_ - t)).getOrElse(-1L)
    val m = Option(si.taskMetrics)
    add(c => c.copy(stages = c.stages :+ StageRow(si.stageId, si.name.linesIterator.nextOption().getOrElse(""),
      si.numTasks, ms, m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
      m.fold(0L)(_.shuffleWriteMetrics.bytesWritten), stageOps.getOrElse(si.stageId, ""))))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    add(c => c.copy(tasks = c.tasks + 1,
      shuffleRead = c.shuffleRead + m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
      shuffleWrite = c.shuffleWrite + m.fold(0L)(_.shuffleWriteMetrics.bytesWritten)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case r: OpRecord => add(c => c.copy(ops = c.ops :+ r))
    case p: QueryProgressEvent => add(c => c.copy(batches = c.batches :+ p.progress))
    case _ =>
  }

  /** Drains the bus, then zeroes every count. */
  def reset(): Unit = {
    ListenerBusAccess.drain(spark.sparkContext)
    synchronized { counts = Snapshot(); stageOps = Map.empty }
  }

  /** Drains the bus, then returns what was counted since the last reset. */
  def snapshot(): Snapshot = {
    ListenerBusAccess.drain(spark.sparkContext)
    synchronized(counts)
  }

  /** A harness's measured pass of `body`: the session's whole cache cleared and
   *  the counts reset, then only `body` timed. Its seconds or error, and counts. */
  def pass(body: => Unit): (Either[Throwable, Double], Snapshot) = {
    spark.sharedState.cacheManager.clearCache()
    reset()
    val t0 = System.nanoTime()
    val out = try { body; Right((System.nanoTime() - t0) / 1e9) } catch { case e: Throwable => Left(e) }
    (out, snapshot())
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)

  spark.sparkContext.addSparkListener(this) // last: every field is initialized
}
