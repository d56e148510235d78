package perfbench

import scala.collection.mutable

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.req.ReqSketch
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.StreamingOps

/**
 * Streaming ingest: time-ordered events replayed through a MemoryStream
 * in a closed loop, one fixed-size batch per step, into two watermarked
 * window queries (a distribution sketch of `value` and a top-items sketch
 * of `event_type`). The sketch layer sees many small merges into the
 * state store instead of one bulk accumulate.
 */
final class StreamIngest(spark: SparkSession, a: Args, r: Report, tr: Tracer) extends Workload {
  import StreamIngest._

  private val dir = s"${a.work}/stream"
  private type Event = (java.sql.Timestamp, Double, String)

  private def events(): Array[Event] = {
    Gen.deleteTree(java.nio.file.Paths.get(dir))
    val s = a.seed
    // the shapes of sf0.1's events: exponential gaps with a mean of GapMs
    // (ids are already in time order), exponential values, event types
    // equally likely
    val gap = -log1p(-Gen.u(s, 21)) * GapMs
    val types = array(EventTypes.map(lit): _*)
    spark.range(0, Events, 1, a.cores).select(
      col("id"), gap.as("gap"), round(-log1p(-Gen.u(s, 22)) * MeanValue, 2).as("value"),
      element_at(types, (floor(Gen.u(s, 23) * EventTypes.size) + 1).cast("int")).as("event_type"))
      .write.parquet(s"$dir/events")
    spark.read.parquet(s"$dir/events").orderBy("id").collect().iterator
      .scanLeft((T0, 0.0, "")) { case ((t, _, _), row) =>
        (t + math.max(1L, row.getDouble(1).toLong), row.getDouble(2), row.getString(3))
      }.drop(1).map { case (t, v, e) => (new java.sql.Timestamp(t), v, e) }.toArray
  }

  override def run(): Unit = {
    val input = tr.span("setup") {
      var ev: Array[Event] = null
      for (_ <- 1 to SetupReps) {
        val t0 = System.nanoTime()
        ev = events()
        r.setupS += (System.nanoTime() - t0) / 1e9
      }
      ev
    }
    implicit val enc: org.apache.spark.sql.Encoder[Event] =
      Encoders.tuple(Encoders.TIMESTAMP, Encoders.scalaDouble, Encoders.STRING)
    val stream = MemoryStream[Event](spark)
    val df = stream.toDF().toDF("t", "value", "event_type")
    val (q1, q2) = tr.detached {
      def start(name: String, out: org.apache.spark.sql.DataFrame): StreamingQuery =
        out.writeStream.format("memory").queryName(name).outputMode("append")
          .option("checkpointLocation", s"$dir/ckpt_$name").start()
      (start("dist", StreamingOps.windowedDistributionSketch(df, "t", "value", Window, Watermark)),
        start("top", StreamingOps.windowedTopItemsSketch(df, "t", "event_type", Window, Watermark)))
    }
    val queries = Seq(q1, q2)
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val seen = mutable.Set.empty[(String, Long)]
    val batches = input.grouped(BatchEvents).toArray
    var next = 0
    def step(): Unit = {
      stream.addData(batches(next).toSeq)
      next += 1
      queries.foreach(_.processAllAvailable())
    }
    try {
      tr.span("warmup")((1 to WarmupBatches).foreach(_ => step()))
      val stepOps = mutable.ArrayBuffer.empty[Op]
      val stateBytes = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      var events = 0L
      tr.span("ingest") {
        while (next < batches.length - 1 &&
            (stepOps.size < MinBatches || (System.nanoTime() - t0) / 1e9 < a.seconds)) {
          val n = batches(next).length
          val (o, _) = r.op("batch")(tr.span("batch")(step()))
          stepOps += o
          events += n
          stateBytes += queries.flatMap(q => Option(q.lastProgress).toSeq)
            .flatMap(_.stateOperators).map(_.memoryUsedBytes.toDouble).sum
          queries.foreach { q =>
            q.recentProgress.filter(p => seen.add(p.id.toString -> p.batchId)).foreach(progress += _)
          }
        }
      }
      r.values("timed_s") = (System.nanoTime() - t0) / 1e9
      r.values("events") = events
      r.values("stream_s") = stepOps.map(_.ms).sum / 1000.0
      // over a fixed number of steps, so a faster engine is not read as more state
      r.values("state_bytes") = Stats.median(stateBytes.take(MinBatches).toSeq)
      r.values("add_batch_ms") = Stats.median(progress.filter(_.numInputRows > 0).toSeq
        .map(p => Option(p.durationMs.get("addBatch")).map(_.toDouble).getOrElse(0.0)))
      // a far-future sentinel moves the watermark past every real window
      val flushStart = System.nanoTime()
      tr.span("flush") {
        stream.addData(Seq((new java.sql.Timestamp(T0 + 1000L * 86400000L), 0.0, "sentinel")))
        queries.foreach(_.processAllAvailable())
        queries.foreach(_.processAllAvailable())
      }
      r.values("flush_s") = (System.nanoTime() - flushStart) / 1e9
      val checkStart = System.nanoTime()
      tr.span("check")(check(input.take(next * BatchEvents), stepOps.toSeq))
      r.values("check_s") = (System.nanoTime() - checkStart) / 1e9
      if (a.trace) tr.span("layer_probe")(traceLayers(progress.toSeq, input))
    } finally queries.foreach(_.stop())
  }

  /** Every window of the replayed events is emitted exactly once, the
   *  distribution sketch holds exactly the window's events, and the top
   *  items' bounds bracket their exact counts. */
  private def check(replayed: Array[Event], stepOps: Seq[Op]): Unit = {
    val windowMs = WindowMinutes * 60000L
    val exact = replayed.groupBy(e => e._1.getTime / windowMs * windowMs)
    def emitted(sink: String) = spark.table(sink).collect()
      .map(x => x.getTimestamp(0).getTime -> x.getAs[Array[Byte]](1))
      .filter(_._1 < T0 + 900L * 86400000L)
    val problems = mutable.ArrayBuffer.empty[String]
    Seq("dist", "top").foreach { sink =>
      val rows = emitted(sink)
      val dup = rows.length - rows.map(_._1).distinct.length
      val missing = exact.keySet -- rows.map(_._1)
      val extra = rows.map(_._1).toSet -- exact.keySet
      if (dup > 0 || missing.nonEmpty || extra.nonEmpty) {
        problems += s"$sink: ${rows.length} windows emitted for ${exact.size}, $dup repeated, " +
          s"${missing.size} missing, ${extra.size} unexpected"
      }
      rows.foreach { case (w, bytes) =>
        val evs = exact.getOrElse(w, Array.empty[Event])
        if (sink == "dist") {
          val n = ReqSketch.heapify(Memory.wrap(bytes)).getN
          if (n != evs.length) problems += s"dist window $w holds $n events, not ${evs.length}"
        } else {
          val sk = ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfStringsSerDe())
          val counts = evs.groupBy(_._3).map { case (k, v) => k -> v.length.toLong }
          sk.getFrequentItems(ErrorType.NO_FALSE_POSITIVES).foreach { row =>
            val c = counts.getOrElse(row.getItem, 0L)
            if (c < row.getLowerBound || c > row.getUpperBound) {
              problems += s"top window $w item ${row.getItem} exact $c outside " +
                s"[${row.getLowerBound}, ${row.getUpperBound}]"
            }
          }
        }
      }
    }
    r.values("windows") = exact.size
    if (!r.check("windows emitted once with exact contents", problems.isEmpty,
        problems.take(5).mkString("; "))) {
      stepOps.foreach(_.fail(problems.head))
    }
  }

  private def traceLayers(progress: Seq[StreamingQueryProgress], input: Array[Event]): Unit = {
    tr.resolve()
    def dur(key: String) =
      Stats.median(progress.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)))
    r.layer("streaming.add_batch_ms") = dur("addBatch")
    r.layer("streaming.wal_commit_ms") = dur("walCommit")
    r.layer("streaming.commit_ms") = dur("commitOffsets")
    r.layer("streaming.query_planning_ms") = dur("queryPlanning")
    r.layer("streaming.get_batch_ms") = dur("getBatch")
    r.layer("streaming.latest_offset_ms") = dur("latestOffset")
    r.layer("streaming.trigger_ms") = dur("triggerExecution")
    val state = progress.flatMap(_.stateOperators.headOption)
    r.layer("streaming.state_rows") = Stats.median(state.map(_.numRowsTotal.toDouble))
    r.layer("streaming.state_mem_bytes") = Stats.median(state.map(_.memoryUsedBytes.toDouble))
    r.layer("streaming.state_commit_ms") = Stats.median(state.map(_.commitTimeMs.toDouble))
    val steps = tr.allSpans.filter(_.name == "batch")
    CatalystLayer.record(r, tr, steps)
    val sample = input.take(50000)
    SketchProbe.quantiles(r, sample.map(_._2.toFloat), BatchEvents)
    SketchProbe.freq(r, sample.map(_._3), BatchEvents)
    SparkLayer.record(r, tr, steps, a.cores)
  }
}

object StreamIngest {
  val Events = 40000L
  val BatchEvents = 2000
  val GapMs = 25920.0
  val MeanValue = 50.0
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  val WindowMinutes = 10
  val Window = s"$WindowMinutes minutes"
  val Watermark = "5 minutes"
  val T0 = 1704067200000L // 2024-01-01T00:00:00Z
  val SetupReps = 3
  val WarmupBatches = 2
  val MinBatches = 6
}
