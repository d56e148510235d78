package perfbench

import graft.sketches.{DistinctAlgo, DistinctSketchFacade, FreqSketchFacade, QuantileAlgo, QuantileSketchFacade}

/**
 * Calibrated loops over the `graft.sketches` facades, fed with a
 * workload's own values: ns per update, per merge of one group's sketch,
 * per serialization and per deserialization, and the serialized bytes
 * of one group's sketch. Each figure is the minimum over [[Reps]] runs
 * after one warm-up run.
 */
object SketchProbe {
  private val Reps = 5

  private def best(units: Int)(body: => Unit): Double = {
    body
    (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0).toDouble / units
    }.min
  }

  /** `groupRows` values per group sketch, like one summary row. */
  private def probe[S: scala.reflect.ClassTag, V](
      r: Report, family: String, values: Array[V], groupRows: Int,
      create: () => S, update: (S, V) => Unit, merge: (S, S) => Unit,
      toBytes: S => Array[Byte], fromBytes: Array[Byte] => S): Unit = {
    if (values.isEmpty) return
    val groups = values.grouped(math.max(1, groupRows)).map { g =>
      val s = create(); g.foreach(update(s, _)); s
    }.toArray
    val images = groups.map(toBytes)
    r.layer(s"sketches.$family.update_ns") = best(values.length) {
      val s = create(); values.foreach(update(s, _))
    }
    r.layer(s"sketches.$family.merge_ns") = best(groups.length) {
      val s = create(); groups.foreach(merge(s, _))
    }
    r.layer(s"sketches.$family.to_bytes_ns") = best(groups.length)(groups.foreach(toBytes))
    r.layer(s"sketches.$family.from_bytes_ns") = best(images.length)(images.foreach(fromBytes))
    r.layer(s"sketches.$family.bytes") = images.map(_.length.toDouble).sum / images.length
  }

  def quantiles(r: Report, values: Array[Float], groupRows: Int): Unit =
    Seq(("req", QuantileAlgo.REQ, 12), ("kll", QuantileAlgo.KLL, 200)).foreach { case (n, algo, k) =>
      probe[QuantileSketchFacade, Float](r, n, values, groupRows,
        () => QuantileSketchFacade.create(algo, k), _.update(_), _.merge(_), _.toBytes,
        QuantileSketchFacade.fromBytes(algo, k, _))
    }

  def distinct(r: Report, values: Array[String], groupRows: Int): Unit =
    probe[DistinctSketchFacade, String](r, "cpc", values, groupRows,
      () => DistinctSketchFacade.create(DistinctAlgo.CPC, 11), _.update(_), _.merge(_), _.toBytes,
      DistinctSketchFacade.fromBytes(DistinctAlgo.CPC, 11, _))

  def freq(r: Report, values: Array[String], groupRows: Int): Unit =
    probe[FreqSketchFacade, String](r, "freq", values, groupRows,
      () => FreqSketchFacade.createString(1024), _.update(_), _.merge(_), _.toBytes,
      FreqSketchFacade.stringFromBytes)
}

/** Aggregate-operator metrics of the SQL executions under a set of spans,
 *  with spill and peak memory also taken from their tasks. */
object CatalystLayer {
  def record(r: Report, tr: Tracer, calls: Seq[Span]): Unit = {
    val c = new Counters
    calls.foreach(s => c.add(tr.subtree(s)))
    val agg = tr.aggStats(c)
    r.layer("catalyst.agg_build_ms") = agg.aggTimeMs.toDouble
    r.layer("catalyst.sort_fallback_tasks") = agg.fallbackTasks.toDouble
    r.layer("catalyst.spill_bytes") = (agg.spillBytes + c.spill).toDouble
    r.layer("catalyst.peak_mem_bytes") = math.max(agg.peakMem, c.peakMem).toDouble
    r.layer("catalyst.partial_reduction") =
      if (agg.partialIn > 0) agg.partialOut.toDouble / agg.partialIn else 0.0
  }
}

/** Spark's fixed costs over a set of traced call spans, per call. */
object SparkLayer {
  def record(r: Report, tr: Tracer, calls: Seq[Span], cores: Int): Unit = {
    val c = new Counters
    calls.foreach(s => c.add(tr.subtree(s)))
    val n = math.max(1, calls.size).toDouble
    val wallMs = calls.map(s => (s.endNs - s.startNs) / 1e6).sum
    r.layer("spark.jobs") = c.jobs / n
    r.layer("spark.stages") = c.stages / n
    r.layer("spark.tasks") = c.tasks / n
    r.layer("spark.job_latency_ms") = Stats.median(c.jobLatencyMs.map(_.toDouble).toSeq)
    r.layer("spark.scheduler_delay_ms") = if (c.tasks > 0) c.schedulerDelayMs.toDouble / c.tasks else 0.0
    r.layer("spark.task_run_s") = c.runMs / 1000.0 / n
    r.layer("spark.core_busy_frac") = if (wallMs > 0) c.runMs / (wallMs * cores) else 0.0
    r.layer("spark.gc_s") = c.gcMs / 1000.0 / n
    r.layer("spark.failed_tasks") = c.failedTasks.toDouble
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}
