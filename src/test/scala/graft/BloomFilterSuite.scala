package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * DataSketches BloomFilter family: no false negatives ever, sane false
 * positives, union/intersect set algebra, the standard wire image in
 * both directions, and driver-frozen (maxItems, fpp) parameters.
 */
class BloomFilterSuite extends AnyFunSuite with GraftSparkSession {

  private def setup(): Unit =
    spark.range(0, 1000)
      .selectExpr("concat('doc-', id) AS k", "id AS n", "id % 2 AS half")
      .createOrReplaceTempView("bf_vals")

  test("no false negatives: every inserted string and long is found") {
    setup()
    val r = spark.sql("""
      |WITH f AS (SELECT bloom_accumulate(k) AS fs, bloom_accumulate(n) AS fn
      |           FROM bf_vals)
      |SELECT sum(CASE WHEN bloom_might_contain(f.fs, v.k) THEN 1 ELSE 0 END),
      |       sum(CASE WHEN bloom_might_contain(f.fn, v.n) THEN 1 ELSE 0 END)
      |FROM bf_vals v CROSS JOIN f""".stripMargin).collect()(0)
    assert(r.getLong(0) === 1000L)
    assert(r.getLong(1) === 1000L)
  }

  test("false positives stay near the configured fpp") {
    setup()
    // probe 10k values that were NEVER inserted; at fpp=0.01 expect ~100
    val fp = spark.sql("""
      |WITH f AS (SELECT bloom_accumulate(k, 100000, 0.01d) AS fs FROM bf_vals),
      |probes AS (SELECT concat('absent-', id) AS k FROM range(10000))
      |SELECT sum(CASE WHEN bloom_might_contain(f.fs, p.k) THEN 1 ELSE 0 END)
      |FROM probes p CROSS JOIN f""".stripMargin).collect()(0).getLong(0)
    assert(fp <= 300L, s"false positives: $fp / 10000")
  }

  test("union finds members of either half; intersect only finds a planted common key") {
    setup()
    val r = spark.sql("""
      |WITH halves AS (
      |  SELECT half, bloom_accumulate(k) AS f
      |  FROM (SELECT k, half FROM bf_vals
      |        UNION ALL SELECT 'shared', 0 UNION ALL SELECT 'shared', 1)
      |  GROUP BY half),
      |u AS (SELECT bloom_union(f) AS f FROM halves),
      |i AS (SELECT bloom_intersect(f) AS f FROM halves)
      |SELECT bloom_might_contain(u.f, 'doc-0'), bloom_might_contain(u.f, 'doc-1'),
      |       bloom_might_contain(i.f, 'shared'), bloom_might_contain(i.f, 'doc-500')
      |FROM u CROSS JOIN i""".stripMargin).collect()(0)
    assert(r.getBoolean(0) && r.getBoolean(1)) // union: both halves
    assert(r.getBoolean(2))                    // intersect keeps the common key
    assert(!r.getBoolean(3))                   // half-exclusive key intersected away
  }

  test("empty groups: intersect of nothing is null; accumulate of nothing finds nothing") {
    val r = spark.sql("""
      |SELECT bloom_intersect(CAST(NULL AS BINARY)),
      |       bloom_might_contain(bloom_accumulate(v), 'x')
      |FROM (SELECT CAST(NULL AS STRING) AS v WHERE 1 = 0)""".stripMargin).collect()(0)
    assert(r.isNullAt(0))
    assert(!r.getBoolean(1)) // empty filter: definitely absent
  }

  test("wire format is the standard DataSketches image, both directions") {
    import org.apache.datasketches.filters.bloomfilter.{BloomFilter, BloomFilterBuilder}
    import org.apache.datasketches.memory.Memory
    // raw library image (same seed) -> graft query
    val raw = BloomFilterBuilder.createByAccuracy(1000, 0.01,
      graft.sketches.BloomSketchFacade.Seed)
    raw.update("hello")
    spark.createDataFrame(Seq(Tuple1(raw.toByteArray))).toDF("f")
      .createOrReplaceTempView("bf_raw")
    val r = spark.sql(
      "SELECT bloom_might_contain(f, 'hello'), bloom_might_contain(f, 'bye') FROM bf_raw")
      .collect()(0)
    assert(r.getBoolean(0) && !r.getBoolean(1))
    // graft accumulate output -> raw library heapify + query
    val bytes = spark.sql(
      "SELECT bloom_accumulate(v) FROM VALUES ('x'), ('y') AS t(v)")
      .collect()(0).getAs[Array[Byte]](0)
    val heapified = BloomFilter.heapify(Memory.wrap(bytes))
    assert(heapified.query("x") && heapified.query("y") && !heapified.query("z"))
  }

  test("corrupt bytes query to null; junk parameters rejected at resolution") {
    val r = spark.sql("SELECT bloom_might_contain(binary('garbage'), 'x')").collect()(0)
    assert(r.isNullAt(0))
    val e1 = intercept[Exception] {
      spark.sql("SELECT bloom_accumulate(v, 0) FROM VALUES ('a') AS t(v)").collect()
    }
    assert(e1.getMessage.contains("maxItems to be positive"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT bloom_accumulate(v, 100, 1.5d) FROM VALUES ('a') AS t(v)").collect()
    }
    assert(e2.getMessage.contains("fpp to be in (0, 1)"))
    val e3 = intercept[Exception] {
      spark.sql("SELECT bloom_accumulate(v, n) FROM VALUES ('a', 1) AS t(v, n)").collect()
    }
    assert(e3.getMessage.contains("constant integer literal"))
  }

  test("partials built in different partitions union losslessly") {
    setup()
    val r = spark.sql("""
      |WITH parts AS (SELECT half, bloom_accumulate(k) AS f FROM bf_vals GROUP BY half),
      |m AS (SELECT bloom_union(f) AS f FROM parts)
      |SELECT sum(CASE WHEN bloom_might_contain(m.f, v.k) THEN 1 ELSE 0 END)
      |FROM bf_vals v CROSS JOIN m""".stripMargin).collect()(0)
    assert(r.getLong(0) === 1000L)
  }

  test("persisted bloom index: build once, filter batches, append without corpus IO") {
    import spark.implicits._
    import graft.operators.BloomIndex
    withTempDir("graft_bloomidx") { dir =>
      val corpus = (0 until 500).map(i => (i.toLong, s"doc-content-$i")).toDF("id", "text")
      BloomIndex.build(spark, dir, corpus, "text", maxItems = 10000, fpp = 0.01)

      // batch: 100 replayed corpus docs + 100 genuinely new ones
      val batch = ((0 until 100).map(i => (1000L + i, s"doc-content-$i")) ++
        (0 until 100).map(i => (2000L + i, s"fresh-content-$i"))).toDF("id", "text")
      val kept = BloomIndex.filterNew(spark, dir, batch, "text")
      val keptIds = kept.select("id").as[Long].collect().toSet
      // no false negatives: every replayed doc is dropped
      assert(keptIds.forall(_ >= 2000L))
      // ~fpp of the fresh docs may be lost; at 1% over 100 expect ~1
      assert(keptIds.size >= 90, s"kept only ${keptIds.size} of 100 fresh docs")
      // the probe is map-side: no exchange in the filter plan
      val plan = kept.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)

      // append the fresh docs; a replay of them is now dropped too
      BloomIndex.append(spark, dir, kept, "text")
      val replay = BloomIndex.filterNew(spark, dir,
        (0 until 100).map(i => (3000L + i, s"fresh-content-$i")).toDF("id", "text"), "text")
      assert(replay.count() === 0)
      // and a genuinely-new third batch still passes
      val third = BloomIndex.filterNew(spark, dir,
        (0 until 50).map(i => (4000L + i, s"third-content-$i")).toDF("id", "text"), "text")
      assert(third.count() >= 45)
      // stored parameters survived the append
      val stored = spark.read.parquet(dir).collect()(0)
      assert(stored.getLong(stored.fieldIndex("max_items")) === 10000L)
    }
  }
}
