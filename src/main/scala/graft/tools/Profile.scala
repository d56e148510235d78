package graft.tools

import graft.SparkEntry

/**
 * Optimization-round measuring tool: run selected queries through the
 * bench's noop-sink methodology and report, per query, the wall time of
 * the [[Instrument]] pass `graft.Bench` times after its warm run, plus
 * the job/stage/task counts and total shuffle read/write bytes that pass
 * generated, then one line per op record the operators posted and one
 * per round of an operator's round loop (its jobs, stages and shuffle
 * bytes, from the `graft.op` local property of each job). The
 * per-query fixed cost at bench scale is (jobs x job latency) +
 * (exchanges x shuffle setup), so these counters say WHERE a second goes
 * before any rewrite is chosen (guide section 1: measure first).
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

    val inst = new Instrument(spark)

    def exec(name: String): Unit = graft.Bench.exec(spark, SparkEntry.queries(name), sfDir)

    println(f"${"query"}%-34s ${"sec"}%8s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"shufR_MB"}%9s ${"shufW_MB"}%9s")
    names.foreach { n =>
      try {
        exec(n) // warm: JIT + codegen + footer caches, as the bench does
        val (out, snap) = inst.pass(exec(n))
        val sec = out.fold(e => throw e, identity)
        println(f"$n%-34s $sec%8.3f ${snap.jobs}%5d ${snap.stages.size}%6d ${snap.tasks}%6d " +
          f"${snap.shuffleRead / 1e6}%9.2f ${snap.shuffleWrite / 1e6}%9.2f")
        // one line per heavy stage (tasks, shuffle bytes, first callsite
        // line): the attribution step between "this query shuffles 150 MB"
        // and "THIS exchange shuffles 150 MB"
        snap.stages.filter(r => r.shuffleRead > 1000000L || r.shuffleWrite > 1000000L ||
          r.ms > 200L).foreach { r =>
          println(f"  [stage ${r.id}%4d] tasks=${r.tasks}%4d ms=${r.ms}%5d " +
            f"shufR=${r.shuffleRead / 1e6}%8.2f MB shufW=${r.shuffleWrite / 1e6}%8.2f MB ${r.name}")
        }
        snap.ops.foreach(r => println(s"  [op ${r.op}] ${r.regime}, ${r.rounds} rounds: ${r.reason}"))
        snap.rounds.foreach(r => println(f"  [round ${r.op}] jobs=${r.jobs}%3d stages=${r.stages}%3d " +
          f"shufR=${r.shuffleRead / 1e6}%8.2f MB shufW=${r.shuffleWrite / 1e6}%8.2f MB"))
        // per micro-batch of a streaming query: durationMs separates
        // driver-side planning / offset-log / state-commit / addBatch
        // time, the fixed costs of a bounded replay, from batch compute
        snap.batches.foreach(p =>
          println(s"  [stream batch ${p.batchId}] rows=${p.numInputRows} durationMs=${p.durationMs}"))
        spark.sharedState.cacheManager.clearCache()
        System.gc()
      } catch {
        case e: Throwable => println(s"$n FAILED: ${e.getMessage}")
      } finally SparkEntry.deleteScratchDirs()
    }
    spark.stop()
  }
}
