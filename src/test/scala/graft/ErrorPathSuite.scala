package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.conf.GraftConf

/** Failure-mode contracts: estimators degrade to null, combiners fail loudly. */
class ErrorPathSuite extends AnyFunSuite with GraftSparkSession {

  test("combine with corrupt bytes fails the query (data-integrity error)") {
    val e = intercept[SparkException] {
      spark.sql(
        "SELECT approx_percentile_combine(s) FROM VALUES (binary('not a sketch')) AS t(s)")
        .collect()
    }
    assert(e.getMessage != null)
  }

  test("combine under a mismatched impl conf fails rather than corrupting") {
    // bytes written as KLL, combined while conf says MERGEABLE
    val bytes = withSQLConf(GraftConf.QUANTILE_SKETCH_IMPL_KEY -> "KLL") {
      spark.sql("SELECT approx_percentile_accumulate(c) FROM VALUES (1), (2) AS t(c)")
        .collect()(0).getAs[Array[Byte]](0)
    }
    withSQLConf(GraftConf.QUANTILE_SKETCH_IMPL_KEY -> "MERGEABLE") {
      import spark.implicits._
      val df = Seq(bytes).toDF("s")
      df.createOrReplaceTempView("mismatched")
      intercept[SparkException] {
        spark.sql("SELECT approx_percentile_combine(s) FROM mismatched").collect()
      }
    }
  }

  test("pmf of a single-value sketch degrades to null (degenerate split points)") {
    val r = spark.sql(
      "SELECT approx_pmf_estimate(approx_percentile_accumulate(c), 4) FROM VALUES (7) AS t(c)")
      .collect()
    assert(r.toSeq === Seq(Row(null)))
  }

  test("null-only input produces null estimates, not failures") {
    val r = spark.sql(
      """SELECT approx_percentile_ex(c, 0.5), approx_count_distinct_ex(c)
        |FROM VALUES (CAST(null AS INT)) AS t(c)""".stripMargin).collect()
    assert(r.toSeq === Seq(Row(null, 0L)))
  }

  test("word-shingle hashing: null text stays null, non-literal n rejected") {
    val r = spark.sql(
      "SELECT graft_word_shingles(CAST(null AS STRING), 5)").collect()
    assert(r.toSeq === Seq(Row(null)))
    val e = intercept[Exception] {
      spark.sql("SELECT graft_word_shingles('a b', c) FROM VALUES (3) AS t(c)").collect()
    }
    assert(e.getMessage.contains("constant integer literal"))
  }

  test("registered confs reject bad values at SET time with a helpful message") {
    // non-integer k: typed entry fails immediately, not at plan time
    val e1 = intercept[IllegalArgumentException] {
      spark.sql(s"SET ${GraftConf.QUANTILE_KLL_K_KEY}=abc").collect()
    }
    assert(e1.getMessage.contains(GraftConf.QUANTILE_KLL_K_KEY))
    // negative k: checkValue message names the parameter
    val e2 = intercept[IllegalArgumentException] {
      spark.sql(s"SET ${GraftConf.QUANTILE_KLL_K_KEY}=-5").collect()
    }
    assert(e2.getMessage.contains("must be positive"))
    // unknown impl: checkValues lists the accepted algorithms
    val e3 = intercept[IllegalArgumentException] {
      spark.sql(s"SET ${GraftConf.QUANTILE_SKETCH_IMPL_KEY}=TDIGEST").collect()
    }
    assert(e3.getMessage.contains(GraftConf.QUANTILE_SKETCH_IMPL_KEY))
    // non-power-of-2 map size
    val e4 = intercept[IllegalArgumentException] {
      spark.sql(s"SET ${GraftConf.FREQITEMS_MAX_MAP_SIZE_KEY}=1000").collect()
    }
    assert(e4.getMessage.contains("power of 2"))
  }

  test("DESCRIBE FUNCTION EXTENDED shows usage, arguments and examples") {
    val out = spark.sql("DESCRIBE FUNCTION EXTENDED approx_percentile_ex")
      .collect().map(_.getString(0)).mkString("\n")
    assert(out.contains("Usage:"))
    assert(out.contains("approx_percentile_ex(col, percentage)"))
    assert(out.contains("Arguments:"))
    assert(out.contains("percentage - constant fraction"))
    assert(out.contains("Examples:"))
    assert(out.contains("> SELECT approx_percentile_ex(col, 0.95)"))
    val winnow = spark.sql("DESCRIBE FUNCTION EXTENDED graft_winnow")
      .collect().map(_.getString(0)).mkString("\n")
    assert(winnow.contains("Arguments:") && winnow.contains("Examples:"))
  }

  test("non-literal marker words fail analysis with a helpful message") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_marker_hits(c, c) FROM VALUES ('the') AS t(c)").collect()
    }
    assert(e.getMessage.contains("constant string literal"), e.getMessage)
  }

  test("int8 quantize rejects non-array input at analysis time") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_int8_quantize('text')").collect()
    }
    assert(e.getMessage != null)
  }

  test("summary build/refresh validate kind and missing count column") {
    SparkEntry.prep(spark) // events.parquet is TIMESTAMP(NANOS): needs nanosAsLong
    def buildBad(dir: String) = intercept[IllegalArgumentException] {
      graft.plans.GraftSummaries.buildSummaryTable(
        spark, "/root/testdata/sf0.001/events.parquet",
        s"$dir/s",
        Seq("event_type"), "props", "hll-ish")
    }
    val bad = withTempDir("err_sum")(buildBad)
    assert(bad.getMessage.contains("distinct|quantile|freq"), bad.getMessage)
    // a pre-counts summary (no n_rows column) must be rejected by the
    // incremental refresh with a message pointing at the rebuild path
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .createOrReplaceTempView("err_events")
    def appendWithoutCounts(dir: String) = intercept[IllegalArgumentException] {
      graft.plans.GraftSummaries.appendToSummaryTable(
        spark, "/root/testdata/sf0.001/events.parquet", dir,
        spark.table("err_events"), Seq("event_type"), "props", "distinct")
    }
    val noCounts = withTempDir("err_sum2") { tmp =>
      val dir = s"$tmp/s"
      spark.sql(
        """SELECT event_type, approx_count_distinct_accumulate(props) AS sketch
          |FROM err_events GROUP BY event_type""".stripMargin)
        .write.mode("overwrite").parquet(dir)
      appendWithoutCounts(dir)
    }
    assert(noCounts.getMessage.contains("buildSummaryTable"), noCounts.getMessage)
  }

  test("summary append rejects an increment of another type before any file lands") {
    SparkEntry.prep(spark)
    withTempDir("err_sum3") { tmp =>
      val (base, dir) = (s"$tmp/base", s"$tmp/s")
      spark.range(20).selectExpr("id % 3 AS k", "cast(id AS string) AS v").write.parquet(base)
      try {
        graft.plans.GraftSummaries.buildSummaryTable(spark, base, dir, Seq("k"), "v", "distinct")
        val files = new java.io.File(dir).list().sorted
        val e = intercept[IllegalArgumentException] {
          graft.plans.GraftSummaries.appendToSummaryTable(spark, base, dir,
            spark.range(5).selectExpr("cast(id AS string) AS k", "cast(id AS string) AS v"),
            Seq("k"), "v", "distinct")
        }
        assert(e.getMessage.contains("column k as bigint, the increment has string"),
          e.getMessage)
        assert(new java.io.File(dir).list().sorted === files, "no file may land")
      } finally graft.plans.GraftSummaries.clear()
    }
  }

  test("registered confs are visible in SET -v with docs and defaults") {
    val rows = spark.sql("SET -v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .filter(_._1.startsWith("spark.sql.dataSketches."))
    assert(rows.length === 12)
    val kll = rows.find(_._1 == GraftConf.QUANTILE_KLL_K_KEY).get
    assert(kll._2 === "200")
    assert(kll._3.nonEmpty) // doc string present
  }

  test("round-7 functions validate their constant and typed arguments") {
    import spark.implicits._
    Seq((1L, "a b c")).toDF("id", "text").createOrReplaceTempView("ep7")
    // filter_lines: non-constant minWords / requirePunct / marker
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_filter_lines(text, length(text), false) FROM ep7").collect()
    }
    assert(e1.getMessage.toLowerCase.contains("constant"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_filter_lines(text, 2, false, text) FROM ep7").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("constant"))
    // word_shingle_seq: non-constant n
    val e3 = intercept[Exception] {
      spark.sql("SELECT graft_word_shingle_seq(text, CAST(length(text) AS INT)) FROM ep7").collect()
    }
    assert(e3.getMessage.toLowerCase.contains("constant"))
    // drop_words: a bigint positions array implicit-casts to array<int>
    val ok = spark.sql("SELECT graft_drop_words(text, array(1L, 2L)).text FROM ep7")
      .collect()(0).getString(0)
    assert(ok === "a")
    // bucket_index: element/value type mismatch at analysis
    val e5 = intercept[Exception] {
      spark.sql("SELECT graft_bucket_index(array('a'), 1.0d) FROM ep7").collect()
    }
    assert(e5.getMessage.contains("graft_bucket_index") ||
      e5.getMessage.toLowerCase.contains("mismatch"))
    // all round-7 functions are documented with arguments + examples
    Seq("graft_filter_lines", "graft_word_shingle_seq", "graft_drop_words",
      "graft_bucket_index").foreach { fn =>
      val d = spark.sql(s"DESCRIBE FUNCTION EXTENDED $fn")
        .collect().map(_.getString(0)).mkString("\n")
      assert(d.contains("Arguments:") && d.contains("Examples:"), fn)
    }
  }

  test("matrix family validates dims, ell constancy, and image headers") {
    import spark.implicits._
    Seq((1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 4.0, 5.0))).toDF("id", "v")
      .createOrReplaceTempView("epm")
    // ragged vector dims fail loudly, never silently mis-accumulate —
    // either at update ("expected dim") or at partial merge ("cannot
    // merge"), depending on how rows land in partitions
    val e1 = intercept[Exception] {
      spark.sql("SELECT vec_gram_agg(v) FROM epm").collect()
    }
    assert(e1.getMessage.contains("expected dim") ||
      e1.getMessage.contains("cannot merge Gram"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT fd_accumulate(v, 4) FROM epm").collect()
    }
    assert(e2.getMessage.contains("expected dim") ||
      e2.getMessage.contains("cannot merge FD"))
    // ell must be a constant literal >= 2
    val e3 = intercept[Exception] {
      spark.sql("SELECT fd_accumulate(v, CAST(id AS INT)) FROM epm").collect()
    }
    assert(e3.getMessage.contains("ell"))
    // fd_combine rejects a non-FD binary image as data corruption
    val e4 = intercept[Exception] {
      spark.sql("SELECT fd_combine(s) FROM (SELECT binary('junk') s)").collect()
    }
    assert(e4.getMessage.contains("invalid FD sketch image") ||
      e4.getMessage.contains("FD"))
    // mismatched ell across images cannot merge (would break the bound)
    val e5 = intercept[Exception] {
      spark.sql("""SELECT fd_combine(s) FROM (
        |  SELECT fd_accumulate(v, 4) s FROM (SELECT array(1.0d) v)
        |  UNION ALL
        |  SELECT fd_accumulate(v, 8) s FROM (SELECT array(1.0d) v))""".stripMargin)
        .collect()
    }
    assert(e5.getMessage.contains("cannot merge FD"))
    // documentation present for the whole family
    Seq("vec_gram_agg", "fd_accumulate", "fd_combine", "fd_gram_estimate",
      "fd_singular_values", "fd_error_bound").foreach { fn =>
      val d = spark.sql(s"DESCRIBE FUNCTION EXTENDED $fn")
        .collect().map(_.getString(0)).mkString("\n")
      assert(d.contains("Arguments:") && d.contains("Examples:"), fn)
    }
  }

  test("PQ search, recall and MRR reject m = 0 with the split message, not a division error") {
    import spark.implicits._
    val df = Seq((0L, Seq(1f, 2f)), (1L, Seq(3f, 4f))).toDF("id", "vec")
    val calls: Seq[(String, () => Any)] = Seq(
      "adcSearch" -> (() => graft.operators.Pq.adcSearch(df, "id", "vec", 2, 0, 2, 1, 1, 1)),
      "adcRecall" -> (() => graft.operators.Pq.adcRecall(df, "id", "vec", 2, 0, 2, 1, 1, 1)),
      "adcMrr" -> (() => graft.operators.Pq.adcMrr(df, "id", "vec", 2, 0, 2, 1, 1, 1)))
    calls.foreach { case (name, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("dim=2 must be divisible by m=0"), name)
    }
  }

  test("distributed connected components raise rather than return unconverged labels") {
    import spark.implicits._
    val nodes = (1L to 4L).toDF("id")
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    // one round leaves node 3 at comp 2, node 4 at comp 3
    val e = intercept[IllegalArgumentException](
      withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        graft.operators.Dedup.connectedComponents(nodes, chain, "id", maxIter = 1).collect()
      })
    assert(e.getMessage.contains("connectedComponents did not converge within 1 rounds"), e.getMessage)
    // maxIter bounds only the distributed rounds: the driver's union-find has none
    assert(graft.operators.Dedup.connectedComponents(nodes, chain, "id", maxIter = 1)
      .collect().map(_.getLong(1)).toSet === Set(1L))
  }
}
