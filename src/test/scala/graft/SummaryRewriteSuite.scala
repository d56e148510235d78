package graft

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftSummaries

/**
 * The automatic summary-table rewrite: one-shot sketch aggregates over a
 * base table are answered from a registered materialized sketch summary
 * when enabled, with no scan of the base data.
 */
class SummaryRewriteSuite extends AnyFunSuite with GraftSparkSession {

  private val basePath = "/root/testdata/sf0.001/events.parquet"

  private def scannedPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(rel: HadoopFsRelation, _, _, _, _) =>
        rel.location.rootPaths.map(_.toString)
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table match {
          case ft: org.apache.spark.sql.execution.datasources.v2.FileTable =>
            ft.fileIndex.rootPaths.map(_.toString)
          case _ => Nil
        }
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.relation.table match {
          case ft: org.apache.spark.sql.execution.datasources.v2.FileTable =>
            ft.fileIndex.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten

  private def withSummary[T](body: => T): T = {
    SparkEntry.prep(spark)
    val events = spark.read.parquet(basePath)
    events.createOrReplaceTempView("sr_events")
    withTempDir("graft_summary") { summaryDir =>
      spark.sql(
        """SELECT event_type, approx_count_distinct_accumulate(props) AS s
          |FROM sr_events GROUP BY event_type""".stripMargin)
        .write.mode("overwrite").parquet(summaryDir)
      GraftSummaries.registerDistinctSummary(
        basePath, spark.read.parquet(summaryDir), Seq("event_type"), "props", "s")
      try body
      finally GraftSummaries.clear()
    }
  }

  test("buildSummaryTable materializes, registers, and serves rewrites in one call") {
    SparkEntry.prep(spark)
    withTempDir("graft_summary_build") { tmp =>
      val summaryDir = s"$tmp/s"
      try {
        val summary = GraftSummaries.buildSummaryTable(
          spark, basePath, summaryDir, Seq("event_type"), "props", "distinct", "sk")
        assert(summary.columns.toSeq === Seq("event_type", "sk", "n_rows"))
        spark.read.parquet(basePath).createOrReplaceTempView("sr_events_b")
        val sql = """SELECT event_type, approx_count_distinct_ex(props) AS nd
                    |FROM sr_events_b GROUP BY event_type ORDER BY event_type""".stripMargin
        val baseline = spark.sql(sql).collect()
        withSQLConf(GraftSummaries.ENABLED_KEY -> "true") {
          val rewritten = spark.sql(sql)
          assert(!scannedPaths(rewritten).exists(_.contains("events.parquet")),
            "base table must not be scanned after buildSummaryTable")
          // the rewrite reads the WRITTEN summary parquet, not a recomputation
          assert(scannedPaths(rewritten).exists(_.contains("graft_summary_build")))
          assert(rewritten.collect() === baseline)
        }
      } finally GraftSummaries.clear()
    }
  }

  test("mixed aggregate lists (sketch + count(*)) rewrite via the stored row counts") {
    SparkEntry.prep(spark)
    withTempDir("graft_summary_mixed") { tmp =>
      val summaryDir = s"$tmp/s"
      try {
        GraftSummaries.buildSummaryTable(
          spark, basePath, summaryDir, Seq("event_type"), "props", "distinct", "sk")
        spark.read.parquet(basePath).createOrReplaceTempView("sr_events_m")
        val sql =
          """SELECT event_type, approx_count_distinct_ex(props) AS nd, count(*) AS n
            |FROM sr_events_m GROUP BY event_type ORDER BY event_type""".stripMargin
        val baseline = spark.sql(sql).collect()
        withSQLConf(GraftSummaries.ENABLED_KEY -> "true") {
          val rewritten = spark.sql(sql)
          assert(!scannedPaths(rewritten).exists(_.contains("events.parquet")),
            "mixed sketch + count(*) list must be answered from the summary")
          assert(rewritten.collect() === baseline)
          // key-filtered global form too: counts must respect the filter
          val filteredSql =
            """SELECT approx_count_distinct_ex(props) AS nd, count(*) AS n
              |FROM sr_events_m WHERE event_type IN ('click', 'view')""".stripMargin
          val exp = withSQLConf(GraftSummaries.ENABLED_KEY -> "false") {
            spark.sql(filteredSql).collect()
          }
          val got = spark.sql(filteredSql)
          assert(!scannedPaths(got).exists(_.contains("events.parquet")))
          assert(got.collect() === exp)
          // count(col) skips nulls row-by-row — must NOT map to the stored
          // totals; the whole query falls back to the base
          val countCol = spark.sql(
            """SELECT event_type, approx_count_distinct_ex(props) AS nd, count(props) AS n
              |FROM sr_events_m GROUP BY event_type""".stripMargin)
          assert(scannedPaths(countCol).exists(_.contains("events.parquet")))
        }
        // a summary registered WITHOUT a count column vetoes the mixed list
        GraftSummaries.clear()
        val events = spark.read.parquet(basePath)
        events.createOrReplaceTempView("sr_events_m")
        withTempDir("graft_summary_bare") { bare =>
          spark.sql(
            """SELECT event_type, approx_count_distinct_accumulate(props) AS s
              |FROM sr_events_m GROUP BY event_type""".stripMargin)
            .write.mode("overwrite").parquet(bare)
          GraftSummaries.registerDistinctSummary(
            basePath, spark.read.parquet(bare), Seq("event_type"), "props", "s")
          withSQLConf(GraftSummaries.ENABLED_KEY -> "true") {
            val noCounts = spark.sql(sql)
            assert(scannedPaths(noCounts).exists(_.contains("events.parquet")),
              "without stored counts the mixed list must keep scanning the base")
          }
        }
      } finally GraftSummaries.clear()
    }
  }

  test("appendToSummaryTable refreshes incrementally and keeps serving rewrites") {
    import org.apache.spark.sql.functions.col
    SparkEntry.prep(spark)
    withTempDir("graft_incr") { tmp =>
      val baseDir = tmp + "/incr_base"
      val summaryDir = tmp + "/incr_summary"
      val events = spark.read.parquet(basePath)
      val half1 = events.where(col("event_id") % 2 === 0)
      val half2 = events.where(col("event_id") % 2 === 1)
      try {
        half1.write.mode("overwrite").parquet(baseDir)
        GraftSummaries.buildSummaryTable(
          spark, baseDir, summaryDir, Seq("event_type"), "props", "distinct", "sk")
        // the increment lands in the base table AND refreshes the summary —
        // the refresh aggregates ONLY the new batch (O(increment), the
        // 100 TB contract), then sketch-combines with the stored state
        half2.write.mode("append").parquet(baseDir)
        GraftSummaries.appendToSummaryTable(
          spark, baseDir, summaryDir, half2, Seq("event_type"), "props", "distinct", "sk")
        spark.read.parquet(baseDir).createOrReplaceTempView("sr_events_incr")
        val sql =
          """SELECT event_type, approx_count_distinct_ex(props) AS nd, count(*) AS n
            |FROM sr_events_incr GROUP BY event_type ORDER BY event_type""".stripMargin
        val baseline = spark.sql(sql).collect()
        withSQLConf(GraftSummaries.ENABLED_KEY -> "true") {
          val rewritten = spark.sql(sql)
          assert(!scannedPaths(rewritten).exists(_.contains("incr_base")),
            "after the refresh the full-history query must read only the summary")
          assert(scannedPaths(rewritten).exists(_.contains("incr_summary")))
          // tiny cardinality: combine-of-combines is exact, counts sum exactly
          assert(rewritten.collect() === baseline)
        }
      } finally GraftSummaries.clear()
    }
  }

  test("aggregate over the base is answered from the summary when enabled") {
    withSummary {
      val sql = """SELECT event_type, approx_count_distinct_ex(props) AS nd
                  |FROM sr_events GROUP BY event_type ORDER BY event_type""".stripMargin
      val baseline = spark.sql(sql).collect()
      withSQLConf(GraftSummaries.ENABLED_KEY -> "true") {
        val rewritten = spark.sql(sql)
        assert(!scannedPaths(rewritten).exists(_.contains("events.parquet")),
          "base table must not be scanned")
        assert(rewritten.collect() === baseline)
      }
      // disabled (default): base is scanned
      assert(scannedPaths(spark.sql(sql)).exists(_.contains("events.parquet")))
    }
  }

  test("coarsened grouping (global) and key filters also rewrite") {
    withSummary {
      withSQLConf(GraftSummaries.ENABLED_KEY -> "true") {
        val global = spark.sql("SELECT approx_count_distinct_ex(props) AS nd FROM sr_events")
        assert(!scannedPaths(global).exists(_.contains("events.parquet")))
        val exactGlobal = spark.sql("SELECT count(DISTINCT props) FROM sr_events")
          .collect()(0).getLong(0)
        // tiny cardinality: estimate is exact
        assert(global.collect()(0).getLong(0) === exactGlobal)

        val filtered = spark.sql(
          """SELECT approx_count_distinct_ex(props) AS nd FROM sr_events
            |WHERE event_type IN ('click', 'view')""".stripMargin)
        assert(!scannedPaths(filtered).exists(_.contains("events.parquet")))
        val exactFiltered = spark.sql(
          "SELECT count(DISTINCT props) FROM sr_events WHERE event_type IN ('click', 'view')")
          .collect()(0).getLong(0)
        assert(filtered.collect()(0).getLong(0) === exactFiltered)
      }
    }
  }

  test("quantile summaries rewrite too") {
    SparkEntry.prep(spark)
    import graft.conf.GraftConf
    withSQLConf(GraftConf.QUANTILE_SKETCH_IMPL_KEY -> "KLL") {
      val base = "/root/testdata/sf0.001/lineitem.parquet"
      spark.read.parquet(base).createOrReplaceTempView("sr_lineitem")
      withTempDir("graft_qsummary") { summaryDir =>
        spark.sql(
          """SELECT l_returnflag, approx_percentile_accumulate(l_quantity) AS s
            |FROM sr_lineitem GROUP BY l_returnflag""".stripMargin)
          .write.mode("overwrite").parquet(summaryDir)
        GraftSummaries.registerQuantileSummary(
          base, spark.read.parquet(summaryDir), Seq("l_returnflag"), "l_quantity", "s")
        try {
          withSQLConf(GraftSummaries.ENABLED_KEY -> "true") {
            val df = spark.sql(
              """SELECT l_returnflag, approx_percentile_ex(l_quantity, 0.5) AS p50
                |FROM sr_lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
            assert(!scannedPaths(df).exists(_.contains("lineitem.parquet")))
            assert(df.collect().nonEmpty)
          }
        } finally GraftSummaries.clear()
      }
    }
  }

  test("tdigest summaries rewrite; array-percentage tdigest falls back") {
    SparkEntry.prep(spark)
    val base = "/root/testdata/sf0.001/lineitem.parquet"
    spark.read.parquet(base).createOrReplaceTempView("sr_li_td")
    withTempDir("graft_tdsummary") { summaryDir =>
      spark.sql(
        """SELECT l_returnflag, tdigest_accumulate(l_quantity) AS s
          |FROM sr_li_td GROUP BY l_returnflag""".stripMargin)
        .write.mode("overwrite").parquet(summaryDir)
      GraftSummaries.registerTDigestSummary(
        base, spark.read.parquet(summaryDir), Seq("l_returnflag"), "l_quantity", "s")
      try {
        withSQLConf(GraftSummaries.ENABLED_KEY -> "true") {
          val df = spark.sql(
            """SELECT l_returnflag, approx_percentile_tdigest(l_quantity, 0.5) AS p50
              |FROM sr_li_td GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
          assert(!scannedPaths(df).exists(_.contains("lineitem.parquet")))
          // merged-digest answers stay within t-digest error of the direct pass
          val direct = spark.sql(
            s"""SELECT l_returnflag, approx_percentile_tdigest(l_quantity, 0.5) AS p50
              |FROM parquet.`$base`
              |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin).collect()
          df.collect().zip(direct).foreach { case (a, b) =>
            assert(math.abs(a.getDouble(1) - b.getDouble(1)) <= 2.0,
              s"${a.getString(0)}: ${a.getDouble(1)} vs ${b.getDouble(1)}")
          }
          // tdigest_estimate is scalar-rank only: array percentages fall back
          val arr = spark.sql(
            """SELECT l_returnflag, approx_percentile_tdigest(l_quantity, array(0.5d)) p
              |FROM sr_li_td GROUP BY l_returnflag""".stripMargin)
          assert(scannedPaths(arr).exists(_.contains("lineitem.parquet")))
        }
      } finally GraftSummaries.clear()
    }
  }

  test("aggregates with a FILTER clause are NOT rewritten (would lose the filter)") {
    withSummary {
      withSQLConf(GraftSummaries.ENABLED_KEY -> "true") {
        val filteredAgg = spark.sql(
          """SELECT event_type,
            |       approx_count_distinct_ex(props) FILTER (WHERE user_id > 50) AS nd
            |FROM sr_events GROUP BY event_type""".stripMargin)
        assert(scannedPaths(filteredAgg).exists(_.contains("events.parquet")),
          "FILTER (WHERE ...) aggregates must keep scanning the base")
      }
    }
  }

  test("freq-items summaries rewrite") {
    SparkEntry.prep(spark)
    val events = spark.read.parquet(basePath)
    events.createOrReplaceTempView("sr_events")
    withTempDir("graft_fsummary") { summaryDir =>
      spark.sql(
        """SELECT event_type, approx_freqitems_accumulate(props) AS s
          |FROM sr_events GROUP BY event_type""".stripMargin)
        .write.mode("overwrite").parquet(summaryDir)
      GraftSummaries.registerFreqItemsSummary(
        basePath, spark.read.parquet(summaryDir), Seq("event_type"), "props", "s")
      try {
        // inline + re-sort: item order among EQUAL counts differs between
        // merge trees, so compare the (item, count) sets per group
        val sql = """SELECT event_type, item, estimated
                    |FROM (SELECT event_type, approx_freqitems(props) AS fi
                    |      FROM sr_events GROUP BY event_type)
                    |LATERAL VIEW inline(fi) t AS item, estimated
                    |ORDER BY event_type, item, estimated""".stripMargin
        val baseline = spark.sql(sql).collect()
        withSQLConf(GraftSummaries.ENABLED_KEY -> "true") {
          val rewritten = spark.sql(sql)
          // tiny cardinality: sketch is exact, so summary answer == base answer
          assert(rewritten.collect() === baseline)
          val direct = spark.sql(
            "SELECT event_type, approx_freqitems(props) FROM sr_events GROUP BY event_type")
          assert(!scannedPaths(direct).exists(_.contains("events.parquet")))
        }
      } finally GraftSummaries.clear()
    }
  }

  test("window-bucketed summary answers same-grain and coarser window queries") {
    SparkEntry.prep(spark)
    val base = "/root/testdata/sf0.001/orders.parquet"
    spark.read.parquet(base).createOrReplaceTempView("sr_orders")
    // daily-window summary of distinct clerks, defined with window(ts,'1 day')
    val defSql =
      """SELECT window(CAST(o_orderdate AS TIMESTAMP), '1 day') AS day,
        |       approx_count_distinct_accumulate(o_orderpriority) AS s
        |FROM sr_orders GROUP BY 1""".stripMargin
    withTempDir("graft_wsummary") { summaryDir =>
      spark.sql(defSql).write.mode("overwrite").parquet(summaryDir)
      GraftSummaries.registerDistinctSummary(
        base, spark.read.parquet(summaryDir), Seq("day"), "o_orderpriority", "s",
        definition = Some(spark.sql(defSql)))
      try {
        withSQLConf(GraftSummaries.ENABLED_KEY -> "true") {
          // same grain: group by the identical daily window
          val daily = spark.sql(
            """SELECT window(CAST(o_orderdate AS TIMESTAMP), '1 day') AS day,
              |       approx_count_distinct_ex(o_orderpriority) AS nd
              |FROM sr_orders GROUP BY 1""".stripMargin)
          assert(!scannedPaths(daily).exists(_.contains("orders.parquet")),
            "same-grain window query must read the summary")
          // coarser grain: weekly windows from the daily summary
          val weeklySql =
            """SELECT window(CAST(o_orderdate AS TIMESTAMP), '7 days') AS wk,
              |       approx_count_distinct_ex(o_orderpriority) AS nd
              |FROM sr_orders GROUP BY 1 ORDER BY wk""".stripMargin
          val weekly = spark.sql(weeklySql)
          assert(!scannedPaths(weekly).exists(_.contains("orders.parquet")),
            "coarser window query must read the summary")
          val fromSummary = weekly.collect()
          // tiny cardinality (5 priorities): estimates are exact, so the
          // summary-merged answer equals the base answer bucket for bucket
          val baseline = withSQLConf(GraftSummaries.ENABLED_KEY -> "false") {
            spark.sql(weeklySql).collect()
          }
          assert(fromSummary === baseline)
          // a non-multiple slide must NOT rewrite
          val odd = spark.sql(
            """SELECT window(CAST(o_orderdate AS TIMESTAMP), '36 hours') AS w,
              |       approx_count_distinct_ex(o_orderpriority) AS nd
              |FROM sr_orders GROUP BY 1""".stripMargin)
          assert(scannedPaths(odd).exists(_.contains("orders.parquet")))
          // IsNotNull over a COMPUTED expression of the derived-key source
          // is a real row filter, not TimeWindowing's bare guard — must veto
          // the rewrite (regression: the guard tolerance used to swallow it)
          val computedNotNull = spark.sql(
            """SELECT window(CAST(o_orderdate AS TIMESTAMP), '1 day') AS day,
              |       approx_count_distinct_ex(o_orderpriority) AS nd
              |FROM sr_orders
              |WHERE nullif(CAST(o_orderdate AS TIMESTAMP), TIMESTAMP '1995-01-01') IS NOT NULL
              |GROUP BY 1""".stripMargin)
          assert(scannedPaths(computedNotNull).exists(_.contains("orders.parquet")),
            "IsNotNull over a computed expression must keep scanning the base")
        }
      } finally GraftSummaries.clear()
    }
  }

  test("rewrite also fires for DataSource V2 parquet relations") {
    withSQLConf("spark.sql.sources.useV1SourceList" -> "") {
      withSummary {
        val sql = """SELECT event_type, approx_count_distinct_ex(props) AS nd
                    |FROM sr_events GROUP BY event_type ORDER BY event_type""".stripMargin
        // confirm the base really plans as V2 under this conf
        val v2Base = spark.read.parquet(basePath)
          .queryExecution.optimizedPlan.collect {
            case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
            case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => true
          }
        assert(v2Base.nonEmpty, "expected a V2 relation under useV1SourceList=''")
        val baseline = spark.sql(sql).collect()
        withSQLConf(GraftSummaries.ENABLED_KEY -> "true") {
          val rewritten = spark.sql(sql)
          assert(!scannedPaths(rewritten).exists(_.contains("events.parquet")),
            "V2 base table must not be scanned")
          assert(rewritten.collect() === baseline)
        }
      }
    }
  }

  test("V2 scan carrying pushed partition filters is NOT treated as an unfiltered base") {
    // V2ScanRelationPushDown REMOVES partition filters from the logical
    // plan, so after pushdown a partition-filtered query looks like a bare
    // Aggregate over the scan. Regression: the ScanRelation base match
    // accepted it and answered the UNFILTERED summary aggregate.
    SparkEntry.prep(spark)
    withTempDir("graft_partbase") { partDir =>
      spark.read.parquet(basePath).write.mode("overwrite")
        .partitionBy("event_type").parquet(partDir)
      withSQLConf("spark.sql.sources.useV1SourceList" -> "") {
        spark.read.parquet(partDir).createOrReplaceTempView("sr_events_part")
        withTempDir("graft_partsummary") { summaryDir =>
          spark.sql(
            """SELECT event_type, approx_count_distinct_accumulate(props) AS s
              |FROM sr_events_part GROUP BY event_type""".stripMargin)
            .write.mode("overwrite").parquet(summaryDir)
          GraftSummaries.registerDistinctSummary(
            partDir, spark.read.parquet(summaryDir), Seq("event_type"), "props", "s")
          try {
            withSQLConf(GraftSummaries.ENABLED_KEY -> "true") {
              val filteredSql =
                """SELECT approx_count_distinct_ex(props) AS nd FROM sr_events_part
                  |WHERE event_type IN ('click', 'view')""".stripMargin
              val exact = spark.sql(
                """SELECT count(DISTINCT props) FROM sr_events_part
                  |WHERE event_type IN ('click', 'view')""".stripMargin).collect()(0).getLong(0)
              // the filter lands in the scan as a partition filter; the query
              // must NOT be answered from the unfiltered summary
              assert(spark.sql(filteredSql).collect()(0).getLong(0) === exact)
              // unfiltered aggregate over the same V2 table still rewrites
              val unfiltered = spark.sql(
                "SELECT approx_count_distinct_ex(props) AS nd FROM sr_events_part")
              assert(!scannedPaths(unfiltered).exists(_.contains(partDir)),
                "unfiltered V2 aggregate should still be answered from the summary")
            }
          } finally GraftSummaries.clear()
        }
      }
    }
  }

  test("non-rewritable shapes fall back to the base table") {
    withSummary {
      withSQLConf(GraftSummaries.ENABLED_KEY -> "true") {
        // grouping by a non-key column: must scan the base
        val byUser = spark.sql(
          "SELECT user_id, approx_count_distinct_ex(props) FROM sr_events GROUP BY user_id")
        assert(scannedPaths(byUser).exists(_.contains("events.parquet")))
        // wrong value column: must scan the base
        val wrongValue = spark.sql(
          "SELECT event_type, approx_count_distinct_ex(CAST(user_id AS STRING)) " +
            "FROM sr_events GROUP BY event_type")
        assert(scannedPaths(wrongValue).exists(_.contains("events.parquet")))
        // non-key filter: must scan the base
        val nonKeyFilter = spark.sql(
          "SELECT event_type, approx_count_distinct_ex(props) FROM sr_events " +
            "WHERE user_id > 0 GROUP BY event_type")
        assert(scannedPaths(nonKeyFilter).exists(_.contains("events.parquet")))
      }
    }
  }
}
