package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.sketches.{DistinctAlgo, DistinctSketchFacade}

/**
 * Sketches as Structured Streaming state — two integration paths:
 *   1. the SQL aggregate functions inside a streaming windowed aggregation
 *      (TypedImperativeAggregate state serializes into the state store);
 *   2. the pure-JVM sketch facades inside mapGroupsWithState, where the
 *      serialized sketch image IS the user state (mergeable across
 *      micro-batches, readable later by approx_count_distinct_estimate).
 */
class StreamingSketchSuite extends AnyFunSuite with GraftSparkSession {

  test("sketch aggregate in a streaming groupBy (complete mode)") {
    import spark.implicits._
    val input = MemoryStream[(String, Long)](spark)
    val aggregated = input.toDF().toDF("k", "v")
      .groupBy($"k")
      .agg(expr("approx_count_distinct_ex(v)").as("nd"),
        expr("approx_percentile_ex(v, 0.5)").as("p50"))
    val q = aggregated.writeStream
      .format("memory").queryName("sketch_stream").outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(Seq(("a", 1L), ("a", 2L), ("a", 2L), ("b", 10L)): _*)
      q.processAllAvailable()
      input.addData(Seq(("a", 3L), ("b", 11L), ("b", 12L)): _*)
      q.processAllAvailable()
      val out = spark.table("sketch_stream").orderBy("k").collect()
      assert(out.toSeq === Seq(Row("a", 3L, 2L), Row("b", 3L, 11L)))
    } finally q.stop()
  }

  test("windowed sketch aggregation with watermark (append mode, late data dropped)") {
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, Long)](spark)
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val agg = input.toDF().toDF("t", "v")
      .withWatermark("t", "10 minutes")
      .groupBy(window($"t", "1 hour"))
      .agg(expr("approx_count_distinct_ex(v)").as("nd"))
    val q = agg.writeStream
      .format("memory").queryName("wm_stream").outputMode(OutputMode.Append())
      .start()
    try {
      input.addData((ts("2021-01-01 00:05:00"), 1L), (ts("2021-01-01 00:10:00"), 2L))
      q.processAllAvailable()
      // advance watermark past the first window; its sketch finalizes
      input.addData((ts("2021-01-01 01:30:00"), 3L))
      q.processAllAvailable()
      // late event for the closed window must be dropped, not merged
      input.addData((ts("2021-01-01 00:20:00"), 99L))
      input.addData((ts("2021-01-01 03:00:00"), 4L))
      q.processAllAvailable()
      val closed = spark.table("wm_stream")
        .selectExpr("window.start AS s", "nd").orderBy("s").collect()
      assert(closed.nonEmpty)
      assert(closed(0).getLong(1) === 2L) // finalized first window: {1,2}, late 99 dropped
    } finally q.stop()
  }

  test("streaming accumulate feeds a batch-combinable parquet summary table") {
    import spark.implicits._
    // the 100TB pattern: a stream continuously appends per-window sketch
    // summaries to a table; later batch queries combine arbitrary subsets
    val input = MemoryStream[(java.sql.Timestamp, Double)](spark)
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    withTempDir("graft_stream_summary") { outDir =>
      withTempDir("graft_stream_ckpt") { ckpt =>
        val summaries = input.toDF().toDF("t", "v")
          .withWatermark("t", "1 minute")
          .groupBy(window($"t", "1 hour"))
          .agg(expr("approx_percentile_accumulate(v)").as("s"))
        val q = summaries.writeStream
          .format("parquet").option("path", outDir).option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append())
          .start()
        try {
          input.addData((ts("2021-01-01 00:10:00"), 1.0), (ts("2021-01-01 00:20:00"), 2.0),
            (ts("2021-01-01 00:30:00"), 10.0))
          q.processAllAvailable()
          input.addData((ts("2021-01-01 05:00:00"), 99.0)) // advances watermark, closes window 0
          q.processAllAvailable()
        } finally q.stop()
        val est = spark.read.parquet(outDir)
          .selectExpr("approx_percentile_estimate(approx_percentile_combine(s), 0.5) AS p50")
          .collect()
        assert(est.toSeq === Seq(Row(2.0))) // {1,2,10} from the finalized window
      }
    }
  }

  test("theta and reservoir aggregates compose with streaming groupBy") {
    import spark.implicits._
    val input = MemoryStream[(String, Long)](spark)
    val agg = input.toDF().toDF("k", "v")
      .groupBy($"k")
      .agg(expr("theta_estimate(theta_accumulate(v))").as("nd"),
        expr("size(reservoir_sample(CAST(v AS STRING), 100))").as("ns"))
    val q = agg.writeStream
      .format("memory").queryName("theta_stream").outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(("a", 1L), ("a", 2L), ("a", 2L), ("b", 9L))
      q.processAllAvailable()
      input.addData(("a", 3L), ("b", 10L))
      q.processAllAvailable()
      val out = spark.table("theta_stream").orderBy("k").collect()
      assert(out.toSeq === Seq(Row("a", 3L, 4), Row("b", 2L, 2)))
    } finally q.stop()
  }

  test("tdigest, bloom, and string-quantile aggregates compose with streaming groupBy") {
    import spark.implicits._
    val input = MemoryStream[(String, Double)](spark)
    val agg = input.toDF().toDF("k", "v")
      .groupBy($"k")
      .agg(expr("approx_percentile_tdigest(v, 0.5)").as("td_p50"),
        expr("bloom_accumulate(CAST(v AS STRING))").as("bf"),
        expr("approx_percentile_str(CAST(v AS STRING), 0.5)").as("str_med"))
    val q = agg.writeStream
      .format("memory").queryName("new_fam_stream").outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(Seq(("a", 1.0), ("a", 2.0), ("a", 3.0)): _*)
      q.processAllAvailable()
      input.addData(Seq(("a", 4.0), ("a", 5.0)): _*)
      q.processAllAvailable()
      // state carried across micro-batches: median over ALL five values
      val out = spark.sql("""
        |SELECT k, td_p50, bloom_might_contain(bf, '4.0'),
        |       bloom_might_contain(bf, '99.0'), str_med
        |FROM new_fam_stream""".stripMargin).collect()
      assert(out.length === 1)
      assert(out(0).getDouble(1) === 3.0)
      assert(out(0).getBoolean(2))   // value from the SECOND batch is in the filter
      assert(!out(0).getBoolean(3))
      assert(out(0).getString(4) === "3.0")
    } finally q.stop()
  }

  test("CPC facade as mapGroupsWithState user state") {
    import spark.implicits._
    val input = MemoryStream[(String, Long)](spark)

    def update(key: String, rows: Iterator[(String, Long)],
        state: GroupState[Array[Byte]]): (String, Long) = {
      val sketch = if (state.exists) {
        DistinctSketchFacade.fromBytes(DistinctAlgo.CPC, 11, state.get)
      } else DistinctSketchFacade.create(DistinctAlgo.CPC, 11)
      rows.foreach { case (_, v) => sketch.update(v) }
      state.update(sketch.toBytes)
      (key, sketch.estimate)
    }

    val counts = input.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(update)
      .toDF("k", "estimate")
    val q = counts.writeStream
      .format("memory").queryName("cpc_state").outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(("x", 1L), ("x", 2L), ("y", 5L))
      q.processAllAvailable()
      input.addData(("x", 2L), ("x", 3L)) // state carries across micro-batches
      q.processAllAvailable()
      val latest = spark.table("cpc_state")
        .groupBy("k").agg(max("estimate").as("estimate")).orderBy("k").collect()
      assert(latest.toSeq === Seq(Row("x", 3L), Row("y", 1L)))
    } finally q.stop()
  }

  test("FrequentDirections facade as mapGroupsWithState user state") {
    import graft.sketches.FrequentDirections
    import spark.implicits._
    // continuous spectral monitoring: per-source FD sketch as streaming
    // state, top singular energy emitted each micro-batch
    val input = MemoryStream[(String, Seq[Double])](spark)

    def update(key: String, rows: Iterator[(String, Seq[Double])],
        state: GroupState[Array[Byte]]): (String, Double, Double) = {
      val fd = if (state.exists) FrequentDirections.fromBytes(state.get)
        else FrequentDirections.create(4, 3)
      rows.foreach { case (_, v) => fd.update(v.toArray) }
      state.update(fd.toBytes)
      (key, fd.squaredSingularValues.head, fd.frobeniusSquared)
    }

    val energies = input.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(update)
      .toDF("k", "top_energy", "frob_sq")
    val q = energies.writeStream
      .format("memory").queryName("fd_state").outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(("s1", Seq(2.0, 0.0, 0.0)), ("s1", Seq(2.0, 0.0, 0.0)))
      q.processAllAvailable()
      input.addData(("s1", Seq(2.0, 0.0, 0.0)), ("s2", Seq(0.0, 1.0, 0.0)))
      q.processAllAvailable()
      val latest = spark.table("fd_state")
        .groupBy("k").agg(max("top_energy").as("e"), max("frob_sq").as("f"))
        .orderBy("k").collect()
      // s1 ingested three [2,0,0] rows: top energy 12, frob 12 (exact —
      // under ell the sketch never shrinks); s2 one unit row
      assert(latest.toSeq === Seq(Row("s1", 12.0, 12.0), Row("s2", 1.0, 1.0)))
    } finally q.stop()
  }

  test("windowedDistributionSketch: per-day sketches flush on watermark, KS-comparable") {
    import spark.implicits._
    withSQLConf(graft.conf.GraftConf.QUANTILE_SKETCH_IMPL_KEY -> "KLL") {
      val input = MemoryStream[(java.sql.Timestamp, Double)](spark)
      val ts = (s: String) => java.sql.Timestamp.valueOf(s)
      val sketches = graft.streaming.StreamingOps.windowedDistributionSketch(
        input.toDF().toDF("t", "v"), "t", "v", "1 day", "0 seconds")
      val q = sketches.writeStream
        .format("memory").queryName("wds_stream").outputMode(OutputMode.Append())
        .start()
      try {
        // day 1 = {1,2,3}, day 2 = {11,12,13}; split across micro-batches
        input.addData(Seq(
          (ts("2024-01-01 01:00:00"), 1.0), (ts("2024-01-01 09:00:00"), 2.0),
          (ts("2024-01-02 02:00:00"), 11.0)): _*)
        q.processAllAvailable()
        input.addData(Seq(
          (ts("2024-01-01 23:00:00"), 3.0), (ts("2024-01-02 03:00:00"), 12.0),
          (ts("2024-01-02 04:00:00"), 13.0)): _*)
        q.processAllAvailable()
        // ONE far-future sentinel: its batch advances the watermark past
        // both real days, and Spark's no-data follow-up batch emits them;
        // the sentinel's own window never finalizes (nothing later)
        input.addData(Seq((ts("2024-09-01 00:00:00"), 0.0)): _*)
        q.processAllAvailable()
        val out = spark.table("wds_stream")
          .selectExpr("window_start",
            "approx_percentile_estimate(sk, 0.5) AS p50",
            "approx_ks_distance(sk, sk) AS self_ks")
          .orderBy("window_start").collect()
        assert(out.length === 2)
        assert(out.map(_.getDouble(1)).toSeq === Seq(2.0, 12.0))
        assert(out.map(_.getDouble(2)).toSeq === Seq(0.0, 0.0))
        // cross-day drift: disjoint supports -> KS = 1
        val cross = spark.table("wds_stream").orderBy("window_start")
          .selectExpr("sk").collect()
        val ks = spark.sql(
          s"SELECT approx_ks_distance(X'${cross(0).getAs[Array[Byte]](0).map("%02x".format(_)).mkString}', " +
            s"X'${cross(1).getAs[Array[Byte]](0).map("%02x".format(_)).mkString}')").collect()
        assert(ks.toSeq === Seq(Row(1.0)))
      } finally q.stop()
    }
  }

  test("windowedTopItemsSketch: per-day heavy hitters flush and explode exactly") {
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String)](spark)
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val sketches = graft.streaming.StreamingOps.windowedTopItemsSketch(
      input.toDF().toDF("t", "item"), "t", "item", "1 day", "0 seconds")
    val q = sketches.writeStream
      .format("memory").queryName("wti_stream").outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(Seq(
        (ts("2024-01-01 01:00:00"), "a"), (ts("2024-01-01 02:00:00"), "a"),
        (ts("2024-01-01 03:00:00"), "b"), (ts("2024-01-02 01:00:00"), "b")): _*)
      q.processAllAvailable()
      input.addData(Seq((ts("2024-09-01 00:00:00"), "x")): _*)
      q.processAllAvailable()
      val out = spark.table("wti_stream")
        .selectExpr("window_start", "inline(approx_freqitems_estimate(sk))")
        .collect().map(r => (r.getTimestamp(0).toString.take(10),
          r.getString(1), r.getLong(2))).toSet
      assert(out === Set(("2024-01-01", "a", 2L), ("2024-01-01", "b", 1L),
        ("2024-01-02", "b", 1L)))
    } finally q.stop()
  }

  test("keyed windowed sketches: one sketch per (window, key)") {
    import spark.implicits._
    withSQLConf(graft.conf.GraftConf.QUANTILE_SKETCH_IMPL_KEY -> "KLL") {
      val input = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
      val ts = (s: String) => java.sql.Timestamp.valueOf(s)
      val sketches = graft.streaming.StreamingOps.windowedDistributionSketch(
        input.toDF().toDF("t", "src", "v"), "t", "v", "1 day", "0 seconds",
        keyCols = Seq("src"))
      val q = sketches.writeStream
        .format("memory").queryName("kwds_stream").outputMode(OutputMode.Append())
        .start()
      try {
        input.addData(Seq(
          (ts("2024-01-01 01:00:00"), "web", 1.0),
          (ts("2024-01-01 02:00:00"), "web", 3.0),
          (ts("2024-01-01 03:00:00"), "books", 10.0)): _*)
        q.processAllAvailable()
        input.addData(Seq((ts("2024-09-01 00:00:00"), "web", 0.0)): _*)
        q.processAllAvailable()
        val out = spark.table("kwds_stream")
          .selectExpr("src", "approx_percentile_estimate(sk, 0.5) AS p50")
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(out === Map("web" -> 3.0, "books" -> 10.0))
      } finally q.stop()
    }
  }
}
