package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

import graft.conf.GraftConf

/**
 * End-to-end SQL tests for the 18 sketch functions, mirroring the
 * reference's ApproximateQuerySuite fixtures (see FIXTURES.md §1): exact
 * answers on tiny inputs, config/type matrices, full
 * accumulate/combine/estimate lifecycles, and error paths.
 */
class ApproxSketchSuite extends AnyFunSuite with GraftSparkSession {

  private val quantileImpls = Seq("KLL", "REQ", "MERGEABLE")

  test("approx_percentile_ex: exact on tiny input, all impls") {
    for (impl <- quantileImpls) {
      withSQLConf(GraftConf.QUANTILE_SKETCH_IMPL_KEY -> impl) {
        val r1 = spark.sql(
          "SELECT approx_percentile_ex(c, array(0.5, 0.4, 0.1)) FROM " +
            "VALUES (0), (1), (2), (null), (10) AS t(c)").collect()
        assert(r1.toSeq === Seq(Row(Seq(2, 1, 0))), s"impl=$impl")

        val r2 = spark.sql(
          "SELECT approx_percentile_ex(c, 0.5) FROM " +
            "VALUES (0), (6), (7), (null), (9), (10) AS t(c)").collect()
        assert(r2.toSeq === Seq(Row(7)), s"impl=$impl")
      }
    }
  }

  test("approx_percentile_{kll,req,mergeable}: pinned variants") {
    for (f <- Seq("approx_percentile_kll", "approx_percentile_req", "approx_percentile_mergeable")) {
      val r = spark.sql(
        s"SELECT $f(c, array(0.5, 0.4, 0.1)) FROM VALUES (0), (1), (2), (null), (10) AS t(c)")
        .collect()
      assert(r.toSeq === Seq(Row(Seq(2, 1, 0))), s"f=$f")
    }
  }

  test("approx_percentile_ex: output type preserves input type") {
    val cases = Seq(
      ("TINYINT", Row(2.toByte)), ("SMALLINT", Row(2.toShort)), ("INT", Row(2)),
      ("BIGINT", Row(2L)), ("FLOAT", Row(2.0f)), ("DOUBLE", Row(2.0)),
      ("DECIMAL(10,0)", Row(new java.math.BigDecimal(2))))
    for ((tpe, expected) <- cases) {
      val df = spark.sql(
        s"SELECT approx_percentile_ex(CAST(c AS $tpe), 0.5) AS v FROM " +
          "VALUES (0), (1), (2), (null), (10) AS t(c)")
      assert(df.collect().toSeq === Seq(expected), s"type=$tpe")
    }
  }

  test("approx_percentile lifecycle: accumulate -> combine -> estimate/pmf") {
    for (impl <- quantileImpls) {
      withSQLConf(GraftConf.QUANTILE_SKETCH_IMPL_KEY -> impl) {
        spark.sql(
          """SELECT * FROM VALUES
            |(date("2021-01-01"), 1.0), (date("2021-01-01"), 1.0), (date("2021-01-01"), 2.0),
            |(date("2021-01-02"), 3.0), (date("2021-01-02"), 2.0), (date("2021-01-02"), 1.0),
            |(date("2021-01-02"), CAST(null AS DOUBLE)),
            |(date("2021-01-03"), 3.0), (date("2021-01-03"), 3.0), (date("2021-01-03"), 2.0),
            |(date("2021-01-04"), 1.0) AS t(date, v)""".stripMargin)
          .createOrReplaceTempView("lifecycle_input")

        val summaries = spark.sql(
          """SELECT window(date, '1 day') AS w, approx_percentile_accumulate(v) AS summaries
            |FROM lifecycle_input GROUP BY 1""".stripMargin)
        summaries.createOrReplaceTempView("summaries")
        assert(summaries.schema.fields(1).dataType.typeName === "binary")
        assert(summaries.count() === 4)

        // combine only the first three days, then estimate
        val est = spark.sql(
          """SELECT approx_percentile_estimate(merged, 0.95) AS p95,
            |       approx_percentile_estimate(merged, array(0.5, 0.95)) AS ps
            |FROM (SELECT approx_percentile_combine(summaries) AS merged
            |      FROM summaries WHERE w.start < timestamp("2021-01-04 00:00:00"))""".stripMargin)
          .collect()
        // values {1,1,2,3,2,1,3,3,2}: p95 -> 3.0, p50 -> 2.0 (exclusive criteria)
        assert(est.toSeq === Seq(Row(3.0, Seq(2.0, 3.0))), s"impl=$impl")

        val pmf = spark.sql(
          """SELECT approx_pmf_estimate(approx_percentile_combine(summaries), 2) AS pmf
            |FROM summaries""".stripMargin).collect()
        // all 10 values in {1,2,3}, split point at (3-1)/2 = 1 -> [P(v<1), P(v>=1)]
        assert(pmf.length === 1)
        val arr = pmf(0).getSeq[Double](0)
        assert(arr.length === 2)
        assert(math.abs(arr.sum - 1.0) < 1e-9)
      }
    }
  }

  test("approx_percentile_ex: error paths") {
    val e1 = intercept[AnalysisException] {
      spark.sql("SELECT approx_percentile_ex(c, p) FROM VALUES (0, 0.95) AS t(c, p)").collect()
    }
    assert(e1.getMessage.contains("constant literal"))

    val e2 = intercept[AnalysisException] {
      spark.sql("SELECT approx_percentile_ex(c, 1.5) FROM VALUES (0) AS t(c)").collect()
    }
    assert(e2.getMessage.contains("between 0.0 and 1.0"))

    val e3 = intercept[AnalysisException] {
      spark.sql("SELECT approx_percentile_ex(c, null) FROM VALUES (0) AS t(c)").collect()
    }
    assert(e3.getMessage.contains("must not be null"))
  }

  test("approx_pmf_estimate: numSplits validation") {
    val e = intercept[AnalysisException] {
      spark.sql("SELECT approx_pmf_estimate(s, 1) FROM VALUES (binary('abc')) AS t(s)").collect()
    }
    assert(e.getMessage.contains("greater than 1"))
  }

  test("scalar estimators: null on corrupt bytes") {
    val r = spark.sql(
      "SELECT approx_percentile_estimate(binary('garbage'), 0.5), " +
        "approx_count_distinct_estimate(binary('garbage')), " +
        "approx_freqitems_estimate(binary('garbage'))").collect()
    assert(r.toSeq === Seq(Row(null, null, null)))
  }

  test("approx_freqitems: exact on tiny input; string and integral types") {
    val r = spark.sql(
      "SELECT approx_freqitems(c) FROM VALUES ('a'), ('a'), ('b'), (null), ('c'), ('a') AS t(c)")
      .collect()
    assert(r.toSeq === Seq(Row(Seq(Row("a", 3L), Row("c", 1L), Row("b", 1L)))))

    for (tpe <- Seq("TINYINT", "SMALLINT", "INT", "BIGINT")) {
      val ri = spark.sql(
        s"SELECT approx_freqitems(CAST(c AS $tpe)) FROM " +
          "VALUES (1), (1), (2), (null), (3), (1) AS t(c)").collect()
      val items = ri(0).getSeq[Row](0)
      assert(items.head.getLong(1) === 3L, s"type=$tpe") // item 1 seen 3 times
      assert(items.map(_.getLong(1)).sum === 5L, s"type=$tpe")
    }
  }

  test("approx_freqitems lifecycle: accumulate -> combine -> estimate") {
    spark.sql(
      """SELECT * FROM VALUES
        |(date("2021-01-01"), 'a'), (date("2021-01-01"), 'a'), (date("2021-01-01"), 'b'),
        |(date("2021-01-02"), 'c'), (date("2021-01-02"), 'a'), (date("2021-01-02"), null)
        |AS t(date, v)""".stripMargin).createOrReplaceTempView("freq_input")
    val r = spark.sql(
      """SELECT approx_freqitems_estimate(approx_freqitems_combine(s)) FROM
        |(SELECT window(date, '1 day') AS w, approx_freqitems_accumulate(v) AS s
        | FROM freq_input GROUP BY 1)""".stripMargin).collect()
    assert(r.toSeq === Seq(Row(Seq(Row("a", 3L), Row("c", 1L), Row("b", 1L)))))
  }

  test("approx_count_distinct_ex: exact on tiny input, both impls") {
    for (impl <- Seq("CPC", "HLL")) {
      withSQLConf(GraftConf.DISTINCT_CNT_SKETCH_IMPL_KEY -> impl) {
        val r = spark.sql(
          "SELECT approx_count_distinct_ex(c) FROM " +
            "VALUES ('a'), ('a'), ('b'), (null), ('b'), ('c') AS t(c)").collect()
        assert(r.toSeq === Seq(Row(3L)), s"impl=$impl")
      }
    }
    for (f <- Seq("approx_count_distinct_cpc", "approx_count_distinct_hll")) {
      val r = spark.sql(
        s"SELECT $f(c) FROM VALUES (1), (1), (2), (null), (3), (1) AS t(c)").collect()
      assert(r.toSeq === Seq(Row(3L)), s"f=$f")
    }
  }

  test("approx_count_distinct lifecycle: accumulate -> combine -> estimate") {
    spark.sql(
      """SELECT * FROM VALUES
        |(date("2021-01-01"), 'a'), (date("2021-01-01"), 'b'),
        |(date("2021-01-02"), 'b'), (date("2021-01-02"), 'c'), (date("2021-01-02"), null)
        |AS t(date, v)""".stripMargin).createOrReplaceTempView("distinct_input")
    val r = spark.sql(
      """SELECT approx_count_distinct_estimate(approx_count_distinct_combine(s)) FROM
        |(SELECT window(date, '1 day') AS w, approx_count_distinct_accumulate(v) AS s
        | FROM distinct_input GROUP BY 1)""".stripMargin).collect()
    assert(r.toSeq === Seq(Row(3L)))
  }

  test("sketch aggregates compose with ROLLUP / CUBE / GROUPING SETS") {
    spark.sql(
      """SELECT * FROM VALUES
        |('x', 'a', 1), ('x', 'a', 2), ('x', 'b', 2), ('y', 'a', 3), ('y', 'b', 3)
        |AS t(k1, k2, v)""".stripMargin).createOrReplaceTempView("rollup_input")
    val r = spark.sql(
      """SELECT k1, k2, approx_count_distinct_ex(CAST(v AS BIGINT)) nd,
        |       approx_percentile_ex(v, 0.5) p50
        |FROM rollup_input GROUP BY ROLLUP(k1, k2)
        |ORDER BY k1 NULLS FIRST, k2 NULLS FIRST""".stripMargin).collect()
    // grand total row: 3 distinct values, median 2
    assert(r.head === Row(null, null, 3L, 2))
    assert(r.length === 7) // 1 total + 2 k1 subtotals + 4 leaves
    val cube = spark.sql(
      """SELECT k1, k2, approx_count_distinct_ex(CAST(v AS BIGINT)) nd
        |FROM rollup_input GROUP BY CUBE(k1, k2)""".stripMargin).collect()
    assert(cube.length === 9)
  }

  test("approx_cdf_estimate and approx_rank_estimate from sketch state") {
    spark.sql("SELECT approx_percentile_accumulate(c) AS s FROM VALUES (0), (1), (2), (3) AS t(c)")
      .createOrReplaceTempView("cdf_sketch")
    // EXCLUSIVE rank = fraction strictly below the probe
    val ranks = spark.sql(
      """SELECT approx_rank_estimate(s, 0.0), approx_rank_estimate(s, 2.0),
        |       approx_rank_estimate(s, 99.0) FROM cdf_sketch""".stripMargin).collect()
    assert(ranks.toSeq === Seq(Row(0.0, 0.5, 1.0)))
    // numSplits=2 over [0,3]: un-offset split point at 1.5 -> [P(<1.5), 1.0]
    val cdf = spark.sql("SELECT approx_cdf_estimate(s, 2) FROM cdf_sketch")
      .collect()(0).getSeq[Double](0)
    assert(cdf === Seq(0.5, 1.0))
    // per-row probe values against one broadcast sketch
    val perRow = spark.sql(
      """SELECT approx_rank_estimate(s, CAST(v AS DOUBLE)) FROM cdf_sketch
        |CROSS JOIN VALUES (1), (3) AS probes(v) ORDER BY 1""".stripMargin)
      .collect().map(_.getDouble(0)).toSeq
    assert(perRow === Seq(0.25, 0.75))
    // corrupt bytes -> null; empty sketch -> null
    val nulls = spark.sql(
      "SELECT approx_cdf_estimate(binary('junk'), 4), approx_rank_estimate(binary('junk'), 1.0)")
      .collect()
    assert(nulls.toSeq === Seq(Row(null, null)))
  }

  test("sketch state round-trips through parquet persistence") {
    withTempDir("graft_summaries") { dir =>
      spark.sql(
        "SELECT approx_percentile_accumulate(c) AS s FROM VALUES (0), (1), (2), (10) AS t(c)")
        .write.mode("overwrite").parquet(dir)
      val est = spark.read.parquet(dir)
        .selectExpr("approx_percentile_estimate(s, 0.5) AS p50").collect()
      assert(est.toSeq === Seq(Row(2.0)))
    }
  }

  test("approx_ks_distance: exact two-sample KS on tiny inputs, all impls") {
    for (impl <- quantileImpls) {
      withSQLConf(GraftConf.QUANTILE_SKETCH_IMPL_KEY -> impl) {
        // identical distributions -> 0
        val same = spark.sql(
          "SELECT approx_ks_distance(approx_percentile_accumulate(a), " +
            "approx_percentile_accumulate(b)) FROM " +
            "VALUES (1, 1), (2, 2), (3, 3) AS t(a, b)").collect()
        assert(same.toSeq === Seq(Row(0.0)), s"impl=$impl")
        // disjoint supports -> 1
        val disjoint = spark.sql(
          "SELECT approx_ks_distance(approx_percentile_accumulate(a), " +
            "approx_percentile_accumulate(b)) FROM " +
            "VALUES (0, 10), (1, 11) AS t(a, b)").collect()
        assert(disjoint.toSeq === Seq(Row(1.0)), s"impl=$impl")
        // a={1,2,3,4}, b={3,4,5,6}: max |F_a - F_b| is 0.5 (at v=2..4)
        val mixed = spark.sql(
          "SELECT approx_ks_distance(approx_percentile_accumulate(a), " +
            "approx_percentile_accumulate(b)) FROM " +
            "VALUES (1, 3), (2, 4), (3, 5), (4, 6) AS t(a, b)").collect()
        assert(mixed.toSeq === Seq(Row(0.5)), s"impl=$impl")
      }
    }
  }

  test("approx_ks_distance: facade walk matches brute-force ECDF sup") {
    val rnd = new scala.util.Random(41)
    for (trial <- 0 until 20) {
      val na = 1 + rnd.nextInt(150)
      val nb = 1 + rnd.nextInt(150)
      // small value domain forces heavy ties across and within sides
      val a = Array.fill(na)(rnd.nextInt(40).toFloat)
      val b = Array.fill(nb)(rnd.nextInt(40).toFloat)
      val pts = (a ++ b).distinct
      val want = pts.map { v =>
        math.abs(a.count(_ <= v).toDouble / na - b.count(_ <= v).toDouble / nb)
      }.max
      // exact regime for every impl: KLL/MERGEABLE k=200, REQ high k
      for (algo <- Seq(graft.sketches.QuantileAlgo.KLL,
          graft.sketches.QuantileAlgo.REQ, graft.sketches.QuantileAlgo.MERGEABLE)) {
        val sa = graft.sketches.QuantileSketchFacade.create(algo, 256)
        val sb = graft.sketches.QuantileSketchFacade.create(algo, 256)
        a.foreach(sa.update)
        b.foreach(sb.update)
        val got = graft.sketches.QuantileSketchFacade.ksDelta(sa, sb)
        assert(got === want, s"trial=$trial algo=$algo na=$na nb=$nb")
      }
    }
  }

  test("approx_ks_distance: null on empty side and on corrupt bytes") {
    val empty = spark.sql(
      "SELECT approx_ks_distance(" +
        "approx_percentile_accumulate(a) FILTER (WHERE a > 99), " +
        "approx_percentile_accumulate(a)) FROM VALUES (1), (2) AS t(a)").collect()
    assert(empty.toSeq === Seq(Row(null)))
    val corrupt = spark.sql(
      "SELECT approx_ks_distance(binary('garbage'), " +
        "approx_percentile_accumulate(a)) FROM VALUES (1), (2) AS t(a)").collect()
    assert(corrupt.toSeq === Seq(Row(null)))
  }

  test("approx_histogram_estimate: fixed-bin PMF, all impls; error paths") {
    for (impl <- quantileImpls) {
      withSQLConf(GraftConf.QUANTILE_SKETCH_IMPL_KEY -> impl) {
        val r = spark.sql(
          "SELECT approx_histogram_estimate(approx_percentile_accumulate(col), " +
            "array(1.0D, 2.0D)) FROM VALUES (0), (1), (2), (3) AS tab(col)").collect()
        assert(r.toSeq === Seq(Row(Seq(0.25, 0.25, 0.5))), s"impl=$impl")
      }
    }
    // corrupt bytes -> NULL
    val corrupt = spark.sql(
      "SELECT approx_histogram_estimate(binary('garbage'), array(1.0D))").collect()
    assert(corrupt.toSeq === Seq(Row(null)))
    // non-ascending splits -> analysis-time failure
    val err = intercept[AnalysisException] {
      spark.sql("SELECT approx_histogram_estimate(approx_percentile_accumulate(col), " +
        "array(2.0D, 1.0D)) FROM VALUES (0) AS tab(col)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("ascending"))
    // non-foldable splits -> analysis-time failure
    val err2 = intercept[AnalysisException] {
      spark.sql("SELECT approx_histogram_estimate(approx_percentile_accumulate(col), " +
        "array(CAST(col AS DOUBLE))) FROM VALUES (0) AS tab(col)").collect()
    }
    assert(err2.getMessage.toLowerCase.contains("constant"))
  }

  test("approx_emd_distance: exact 1-Wasserstein on tiny inputs, all impls") {
    for (impl <- quantileImpls) {
      withSQLConf(GraftConf.QUANTILE_SKETCH_IMPL_KEY -> impl) {
        // pure shift: EMD = shift size, KS stays 1 regardless of size
        val shift = spark.sql(
          "SELECT approx_emd_distance(approx_percentile_accumulate(a), " +
            "approx_percentile_accumulate(b)) FROM " +
            "VALUES (0, 10), (1, 11) AS t(a, b)").collect()
        assert(shift.toSeq === Seq(Row(10.0)), s"impl=$impl")
        // identical -> 0
        val same = spark.sql(
          "SELECT approx_emd_distance(approx_percentile_accumulate(a), " +
            "approx_percentile_accumulate(a)) FROM " +
            "VALUES (1), (5), (9) AS t(a)").collect()
        assert(same.toSeq === Seq(Row(0.0)), s"impl=$impl")
      }
    }
  }

  test("approx_emd_distance: facade walk matches brute-force ECDF integral") {
    val rnd = new scala.util.Random(43)
    for (trial <- 0 until 20) {
      val na = 1 + rnd.nextInt(120)
      val nb = 1 + rnd.nextInt(120)
      val a = Array.fill(na)(rnd.nextInt(30).toFloat)
      val b = Array.fill(nb)(rnd.nextInt(30).toFloat)
      val pts = (a ++ b).distinct.sorted
      val want = pts.sliding(2).collect { case Array(v, nv) =>
        math.abs(a.count(_ <= v).toDouble / na - b.count(_ <= v).toDouble / nb) * (nv - v)
      }.sum
      for (algo <- Seq(graft.sketches.QuantileAlgo.KLL,
          graft.sketches.QuantileAlgo.REQ, graft.sketches.QuantileAlgo.MERGEABLE)) {
        val sa = graft.sketches.QuantileSketchFacade.create(algo, 256)
        val sb = graft.sketches.QuantileSketchFacade.create(algo, 256)
        a.foreach(sa.update)
        b.foreach(sb.update)
        val got = graft.sketches.QuantileSketchFacade.emdDelta(sa, sb)
        assert(math.abs(got - want) < 1e-9, s"trial=$trial algo=$algo got=$got want=$want")
      }
    }
  }
}
