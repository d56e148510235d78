package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.ListenerBusAccess

import graft.SparkEntry

/**
 * Optimization-round measuring instrument: run selected queries through
 * the bench's noop-sink methodology and report, per query, the wall
 * time of a WARM pass plus the job/stage/task counts and total shuffle
 * read/write bytes that pass generated. The per-query fixed cost at
 * bench scale is (jobs x job latency) + (exchanges x shuffle setup), so
 * these counters say WHERE a second goes before any rewrite is chosen
 * (guide section 1: measure first).
 *
 * Usage: runMain graft.tools.Profile <sfDir> [queryName ...]
 * Env: SPARK_GRAFT_CPUS (default 32) to match the bench session.
 */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.localSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    // SPARK_GRAFT_PROFILE_STAGES=1 additionally prints one line per
    // completed stage (tasks, shuffle bytes, first callsite line) — the
    // attribution step between "this query shuffles 150 MB" and "THIS
    // exchange shuffles 150 MB".
    val perStage = sys.env.contains("SPARK_GRAFT_PROFILE_STAGES")
    object Counters extends SparkListener {
      @volatile var jobs = 0
      @volatile var stages = 0
      @volatile var tasks = 0
      @volatile var shuffleRead = 0L
      @volatile var shuffleWrite = 0L
      def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; shuffleRead = 0; shuffleWrite = 0 }
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        if (perStage) {
          val si = s.stageInfo
          val m = si.taskMetrics
          val (sr, sw) =
            if (m != null) (m.shuffleReadMetrics.totalBytesRead,
              m.shuffleWriteMetrics.bytesWritten)
            else (0L, 0L)
          val durMs = (for {
            sub <- si.submissionTime
            done <- si.completionTime
          } yield done - sub).getOrElse(-1L)
          if (sr > 1000000L || sw > 1000000L || durMs > 200L) {
            println(f"  [stage ${si.stageId}%4d] tasks=${si.numTasks}%4d " +
              f"ms=$durMs%5d shufR=${sr / 1e6}%8.2f MB shufW=${sw / 1e6}%8.2f MB " +
              si.name.linesIterator.nextOption().getOrElse(""))
          }
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        val m = t.taskMetrics
        if (m != null) {
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    spark.sparkContext.addSparkListener(Counters)

    // Opt-in per-micro-batch cost breakdown for the streaming queries:
    // StreamingQueryProgress.durationMs separates driver-side planning /
    // offset-log / state-commit / addBatch time — the fixed costs that
    // dominate a bounded replay — from actual batch compute.
    if (sys.env.contains("SPARK_GRAFT_PROFILE_STREAMING")) {
      spark.streams.addListener(
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit = {
            val p = e.progress
            val d = p.durationMs
            println(s"  [stream batch ${p.batchId}] rows=${p.numInputRows} " +
              s"durationMs=$d")
          }
        })
    }

    def exec(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    println(f"${"query"}%-34s ${"sec"}%8s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"shufR_MB"}%9s ${"shufW_MB"}%9s")
    names.foreach { n =>
      try {
        exec(n) // warm: JIT + codegen + footer caches, as the bench does
        spark.sharedState.cacheManager.clearCache()
        // listener events are async; draining the bus keeps the counters
        // attributable to the timed pass (counts here are diagnostic)
        ListenerBusAccess.drain(spark.sparkContext)
        Counters.reset()
        val t0 = System.nanoTime()
        exec(n)
        val sec = (System.nanoTime() - t0) / 1e9
        ListenerBusAccess.drain(spark.sparkContext)
        println(f"$n%-34s $sec%8.3f ${Counters.jobs}%5d ${Counters.stages}%6d " +
          f"${Counters.tasks}%6d ${Counters.shuffleRead / 1e6}%9.2f " +
          f"${Counters.shuffleWrite / 1e6}%9.2f")
        spark.sharedState.cacheManager.clearCache()
        System.gc()
      } catch {
        case e: Throwable => println(s"$n FAILED: ${e.getMessage}")
      } finally SparkEntry.deleteScratchDirs()
    }
    spark.stop()
  }
}
