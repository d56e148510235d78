package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, EventOps, Graph, Privacy, Skyline}

/** Round-9 frontier operators: Pareto skyline, label propagation,
  * t-closeness, seasonal decomposition, sorted-neighborhood dedup. */
class FrontierOpsSuite extends AnyFunSuite with GraftSparkSession {

  // ---- skyline ----

  /** Naive dominance filter — the test oracle. */
  private def naiveSkyline(
      pts: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    def dom(s: (Long, Long, Long), r: (Long, Long, Long)): Boolean =
      s._1 >= r._1 && s._2 >= r._2 && s._3 >= r._3 &&
        (s._1 > r._1 || s._2 > r._2 || s._3 > r._3)
    pts.filter(r => !pts.exists(s => dom(s, r))).toSet
  }

  test("skyline matches the brute-force dominance filter (all-max dims)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(300)((rnd.nextInt(20).toLong,
      rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
    val df = pts.toDF("x", "y", "z").repartition(7)
    val got = Skyline.skyline(df, Seq("x", "y", "z"), Nil)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === naiveSkyline(pts))
  }

  test("skyline min dims negate correctly; duplicates both survive") {
    import spark.implicits._
    val df = Seq((1L, 10L, 5L), (2L, 10L, 5L), (3L, 11L, 6L), (4L, 12L, 4L))
      .toDF("id", "value", "cost")
    // maximize value, minimize cost: (11,6) is dominated by nothing on
    // cost 4? (12,4) dominates (10,5) and (11,6)? value 12>=11, cost 4<=6,
    // strictly better on both -> only (12,4) survives
    val got = Skyline.skyline(df, Seq("value"), Seq("cost"))
      .select("id").as[Long].collect().toSet
    assert(got === Set(4L))
    // equal frontier rows: both copies kept
    val dup = Seq((1L, 9L, 9L), (2L, 9L, 9L)).toDF("id", "value", "cost")
    assert(Skyline.skyline(dup, Seq("value"), Seq("cost")).count() === 2)
  }

  test("skyline fails fast on a null or non-castable dimension") {
    import spark.implicits._
    val bad = Seq(("a", Some(1L)), ("b", None)).toDF("k", "v")
    val e = intercept[Exception] {
      Skyline.skyline(bad, Seq("v"), Nil).collect()
    }
    assert(e.getMessage.contains("skyline dimension"))
    val nonNum = Seq(("x", "not-a-number")).toDF("k", "v")
    val e2 = intercept[Exception] {
      Skyline.skyline(nonNum, Seq("v"), Nil).collect()
    }
    assert(e2.getMessage.contains("skyline dimension"))
  }

  test("skyline guards the broadcast: near-incomparable input fails fast") {
    import spark.implicits._
    // an anti-diagonal is fully mutually incomparable on (max x, max y):
    // every row survives the local prune, so the candidate set is the
    // whole input and must trip the guard instead of broadcasting
    val anti = (1L to 50L).map(i => (i, 51L - i)).toDF("x", "y")
    val e = intercept[IllegalStateException] {
      Skyline.skyline(anti, Seq("x", "y"), Nil, maxCandidates = 10L)
    }
    assert(e.getMessage.contains("maxCandidates"))
    // a generous bound still returns the full frontier
    assert(Skyline.skyline(anti, Seq("x", "y"), Nil, 1000L).count() === 50L)
  }

  // ---- label propagation ----

  test("label propagation: two cliques with a bridge settle to two communities") {
    import spark.implicits._
    // clique A = {1,2,3}, clique B = {10,11,12}, bridge 3-10, isolate 99
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
      .toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 99L).toDF("id")
    val out = Graph.labelPropagation(nodes, edges, "id", "src", "dst", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // clique A all share one label, clique B all share one label
    assert(Set(out(1L), out(2L)).size === 1)
    assert(Set(out(10L), out(11L), out(12L)).size === 1)
    // the isolate keeps its own id
    assert(out(99L) === 99L)
  }

  test("label propagation: converged graph early-exits (same jobs for 5 and 50 rounds)") {
    import spark.implicits._
    // a triangle settles to all-min-label by round 2 and round 3 detects
    // the fixed point; every further round would be pure waste — the
    // early exit must make rounds=50 run EXACTLY the same number of
    // Spark jobs as rounds=5. (A single edge would NOT work here:
    // synchronous LPA on it oscillates by label swap forever.)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 99L).toDF("id")
    def run(rounds: Int): Map[Long, Long] =
      Graph.labelPropagation(nodes, edges, "id", "src", "dst", rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 99L -> 99L)
    val j5 = jobsIn(assert(run(5) === expected))
    val j50 = jobsIn(assert(run(50) === expected))
    assert(j50 === j5, s"rounds=50 ran $j50 jobs vs $j5 for rounds=5")
  }

  test("label propagation is deterministic across partitionings") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(200)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
    val nodes = (0L until 40L).toDF("id")
    val a = Graph.labelPropagation(nodes,
        edges.toDF("src", "dst").repartition(2), "id", "src", "dst", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = Graph.labelPropagation(nodes,
        edges.toDF("src", "dst").repartition(13), "id", "src", "dst", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a === b)
  }

  // ---- t-closeness ----

  test("t-closeness: a group mirroring the global distribution scores 0") {
    import spark.implicits._
    // two groups, identical bin histograms -> both t_fp = 0
    val rows = for (g <- Seq("a", "b"); b <- 0 to 3; _ <- 1 to 5) yield (g, b)
    val out = Privacy.tCloseness(rows.toDF("grp", "bin"), Seq("grp"), "bin", 4)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out === Map("a" -> 0L, "b" -> 0L))
  }

  test("t-closeness: a fully concentrated group scores the EMD of its bin") {
    import spark.implicits._
    // global: half the rows in bin 0, half in bin 3 (two groups of 10);
    // group "lo" all bin 0, group "hi" all bin 3
    val rows = (1 to 10).map(_ => ("lo", 0)) ++ (1 to 10).map(_ => ("hi", 3))
    val out = Privacy.tCloseness(rows.toDF("grp", "bin"), Seq("grp"), "bin", 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // p_lo = [1,0,0,0], q = [.5,0,0,.5]; cum diffs at bins 0..2 = .5,.5,.5
    // t = (3 * .5e9) / 3 = .5e9 — symmetric for "hi"
    assert(out === Set(("lo", 10L, 500000000L), ("hi", 10L, 500000000L)))
  }

  test("t-closeness: null quasi-values form their own scored group") {
    import spark.implicits._
    val rows = Seq((Option("a"), 0), (Option("a"), 1),
      (Option.empty[String], 0), (Option.empty[String], 1))
    val out = Privacy.tCloseness(rows.toDF("grp", "bin"), Seq("grp"), "bin", 2)
    assert(out.count() === 2)
    assert(out.where(col("grp").isNull).select("t_fp")
      .collect()(0).getLong(0) === 0L)
    // out-of-range bin fails fast
    val e = intercept[Exception] {
      Privacy.tCloseness(Seq(("a", 9)).toDF("grp", "bin"),
        Seq("grp"), "bin", 4).collect()
    }
    assert(e.getMessage.contains("tCloseness"))
  }

  // ---- seasonal decomposition ----

  test("seasonal decompose: planted weekly pattern is recovered exactly") {
    import spark.implicits._
    // 28 days, n = 10 + 4*(day%7==0): constant trend, pure seasonality
    val events = (0L until 28L).flatMap { d =>
      val n = if (d % 7 == 0) 14 else 10
      Seq.fill(n)(d)
    }.toDF("day")
    val out = EventOps.seasonalDecompose(events, "day", period = 7)
      .orderBy("day").collect()
    assert(out.length === 22) // 28 - 2*3 edge days
    val S = EventOps.SeasonScale
    out.foreach { r =>
      val (day, n, trend, seas, resid) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      // weekly sum is constant -> trend = mean = (6*10+14)/7
      assert(trend === (74L * S) / 7)
      // decomposition identity holds exactly
      assert(n * S === trend + seas + resid)
      // phase-0 seasonal is high, others low; residual ~0 up to fp rounding
      assert(math.abs(resid) <= 7)
      if (day % 7 == 0) assert(seas > 3 * S && seas < 4 * S)
    }
  }

  test("seasonal decompose densifies gap days as zero-count anomalies") {
    import spark.implicits._
    // uniform 5/day over 21 days except day 10 has NO events at all
    val events = (0L until 21L).filter(_ != 10L)
      .flatMap(d => Seq.fill(5)(d)).toDF("day")
    val out = EventOps.seasonalDecompose(events, "day", period = 7)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(4))).toMap
    assert(out.contains(10L))
    assert(out(10L)._1 === 0L) // the gap day surfaces with n = 0
    // and it is the most anomalous residual in the series
    val worst = out.maxBy { case (_, (_, res)) => math.abs(res) }._1
    assert(worst === 10L)
  }

  test("seasonal decompose: series shorter than the period yields no rows") {
    import spark.implicits._
    val events = (0L until 5L).flatMap(d => Seq.fill(3)(d)).toDF("day")
    assert(EventOps.seasonalDecompose(events, "day", period = 7).count() === 0)
  }

  test("seasonal decompose fails fast on an absurd day span (corrupt outlier)") {
    import spark.implicits._
    val events = (Seq(0L) ++ (100000000L until 100000010L)).toDF("day")
    val e = intercept[Exception] {
      EventOps.seasonalDecompose(events, "day", period = 7).collect()
    }
    assert(e.getMessage.contains("day span"))
  }

  test("label propagation with no edges keeps every node's own label") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val out = Graph.labelPropagation(nodes, edges, "id", "src", "dst", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  // ---- systematic PPS sampling ----

  test("systematic PPS: marks land proportionally, heavy rows multi-select") {
    import graft.operators.Sampling
    import spark.implicits._
    // one group, weights 10x6 + one heavy 40: tot=100, k=10 -> step=10.
    // The heavy row spans 4 marks -> multiplicity 4; every light row
    // spans exactly one mark boundary
    val df = ((1L to 6L).map(i => ("g", i, 10L)) :+ (("g", 7L, 40L)))
      .toDF("grp", "id", "w")
    val out = Sampling.systematicPpsSample(df, Seq("grp"), "id", "w", k = 10)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(out(7L) === 4L)
    assert((1L to 6L).forall(i => out(i) === 1L))
    assert(out.values.sum === 10L)
    // determinism across partitionings
    val a = Sampling.systematicPpsSample(df.repartition(5), Seq("grp"),
      "id", "w", 10).collect().map(_.toSeq).toSet
    val b = Sampling.systematicPpsSample(df.repartition(2), Seq("grp"),
      "id", "w", 10).collect().map(_.toSeq).toSet
    assert(a === b)
    // zero/null weights fail fast
    val bad = Seq(("g", 1L, 0L)).toDF("grp", "id", "w")
    val e = intercept[Exception] {
      Sampling.systematicPpsSample(bad, Seq("grp"), "id", "w", 5).collect()
    }
    assert(e.getMessage.contains("positive"))
  }

  test("distributedCumSum property: equals an in-memory prefix sum on random shapes") {
    import spark.implicits._
    import org.scalacheck.{Gen, rng}
    // fixed seed so failures reproduce; shapes sweep group skew (1..4
    // groups over up to 400 rows), weight ranges, and bucket counts
    val caseGen = for {
      n <- Gen.choose(1, 400)
      nGroups <- Gen.choose(1, 4)
      buckets <- Gen.oneOf(2, 3, 8, 64)
      ws <- Gen.listOfN(n, Gen.choose(1L, 1000L))
      gs <- Gen.listOfN(n, Gen.choose(0, nGroups - 1))
    } yield (ws.zip(gs).zipWithIndex.map { case ((w, g), i) =>
      (s"g$g", i.toLong * 7 % 1000003, w) // non-contiguous, unique ids
    }, buckets)
    val params = org.scalacheck.Gen.Parameters.default
    val cases = (0 until 12).map(i => caseGen.apply(params, rng.Seed(42L + i)))
    cases.foreach {
      case Some((rows, buckets)) =>
        val df = rows.toDF("grp", "id", "w").repartition(5)
          .withColumn("__w", col("w"))
        val got = graft.operators.Sampling
          .distributedCumSum(df, Seq("grp"), "id", buckets)
          .collect().map(r => (r.getString(0), r.getLong(1)) ->
            (r.getAs[Long]("__cum"), r.getAs[Long]("__tot"))).toMap
        // independent in-memory reference
        rows.groupBy(_._1).foreach { case (g, grows) =>
          val sorted = grows.sortBy(_._2)
          val tot = sorted.map(_._3).sum
          var cum = 0L
          sorted.foreach { case (_, id, w) =>
            cum += w
            assert(got((g, id)) === ((cum, tot)),
              s"mismatch at ($g, $id) with buckets=$buckets n=${rows.size}")
          }
        }
      case None => ()
    }
  }

  test("systematic PPS: one giant skewed group splits across buckets, output exact") {
    import graft.operators.Sampling
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 999 rows of ONE group (plus a droplet second group): the bucketed
    // distributed rank must reproduce the naive single-partition
    // cumulative sum exactly, with the ordered window partitioned by
    // (group, bucket) — never by group alone
    val rows = (1L to 999L).map(i => ("big", i, 1L + i % 7)) :+ (("tiny", 5L, 3L))
    val df = rows.toDF("grp", "id", "w").repartition(7)
    val got = Sampling.systematicPpsSample(df, Seq("grp"), "id", "w",
      k = 17, buckets = 8)
    // naive oracle: one global window per group
    val naive = df
      .withColumn("cum", sum(col("w")).over(
        Window.partitionBy("grp").orderBy("id")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("tot", sum(col("w")).over(Window.partitionBy("grp")))
      .withColumn("step", greatest(expr("tot DIV 17"), lit(1L)))
      .withColumn("multiplicity", expr("cum DIV step - (cum - w) DIV step"))
      .where(col("multiplicity") > 0)
      .select(col("grp"), col("id"), col("w").as("weight"), col("multiplicity"))
    assert(got.collect().map(_.toSeq).toSet === naive.collect().map(_.toSeq).toSet)
    assert(got.count() > 0)
    // plan shape: every ordered window over row data is partitioned by
    // (grp, __b) — the giant group cannot serialize into one task
    def windows(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] = {
      val here = p match {
        case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
        case _ => Seq.empty
      }
      here ++ p.children.flatMap(windows) ++ p.subqueries.flatMap(windows) ++
        (p match { // AQE wrappers are childless; recurse by hand
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            windows(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            windows(q.plan)
          case _ => Seq.empty
        })
    }
    val ws = windows(got.queryExecution.executedPlan)
    assert(ws.nonEmpty)
    val rowLevel = ws.filter(_.orderSpec.exists(_.child.toString.contains("id")))
    assert(rowLevel.nonEmpty, "expected the per-row cumulative window in the plan")
    rowLevel.foreach { w =>
      assert(w.partitionSpec.size === 2,
        s"row-level window must partition by (grp, __b), got ${w.partitionSpec}")
    }
  }

  // ---- sorted-neighborhood dedup ----

  test("SNM finds prefix-sharing near-dups and matches the naive window join") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while the band plays on"
    val docs = (Seq(
      (1L, base),
      (2L, base + " extra"),      // near-dup of 1, shares the prefix
      (3L, "zebra " + base)) ++   // same content, different prefix
      (10L until 40L).map(i => (i, s"unrelated document number $i with its " +
        s"own distinct words ${i * 31} ${i * 37} ${i * 41}")))
      .toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
        keyLen = 20, window = 5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L))) // prefix blocking catches it
    // naive replay: global sort rank by (key, id), all pairs within 5 rows,
    // verified by the same >= 4/5 Jaccard on 5-gram shingles
    val ranked = docs
      .withColumn("bk", substring(
        regexp_replace(lower(col("text")), "\\s+", " "), 1, 20))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("bk"), col("doc_id"))))
      .select("doc_id", "rk").as[(Long, Int)].collect()
    val shing = docs.select(col("doc_id"),
        graft.functions.graft_word_shingles(col("text"), 5).as("sh"))
      .as[(Long, Seq[Long])].collect().map(t => t._1 -> t._2.toSet).toMap
    val naive = (for {
      (ia, ra) <- ranked; (ib, rb) <- ranked
      if rb > ra && rb <= ra + 5
      inter = (shing(ia) & shing(ib)).size
      uni = shing(ia).size + shing(ib).size - inter
      if inter * 5 >= uni * 4
    } yield (math.min(ia, ib), math.max(ia, ib))).toSet
    assert(got === naive)
  }

  test("SNM on empty and null-text input returns no pairs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.sortedNeighborhoodPairs(empty, "doc_id", "text").count() === 0)
    val nulls = Seq((1L, null.asInstanceOf[String]), (2L, "short text here"))
      .toDF("doc_id", "text")
    assert(Dedup.sortedNeighborhoodPairs(nulls, "doc_id", "text").count() === 0)
  }

  test("distributedCumSum string ids: numeric-looking strings sum in LEXICOGRAPHIC order") {
    import spark.implicits._
    import graft.operators.Sampling
    // '10' < '2' < '9' lexicographically — bucketing by a numeric cast
    // would order 2 < 9 < 10 and corrupt the running sums silently
    val rows = Seq(("g", "10", 1L), ("g", "2", 10L), ("g", "9", 100L),
      ("g", "ab", 1000L), ("g", "AB", 10000L))
    val got = Sampling.distributedCumSum(
        rows.toDF("grp", "id", "w").repartition(3).withColumn("__w", col("w")),
        Seq("grp"), "id", buckets = 2)
      .collect().map(r => r.getString(1) -> r.getAs[Long]("__cum")).toMap
    // lexicographic (binary) order: "10" < "2" < "9" < "AB" < "ab"
    assert(got === Map("10" -> 1L, "2" -> 11L, "9" -> 111L,
      "AB" -> 10111L, "ab" -> 11111L))
  }

  test("distributedCumSum guards: null id fails fast; null GROUP rows are kept") {
    import spark.implicits._
    import graft.operators.Sampling
    val nullId = Seq(("g", java.lang.Long.valueOf(1L), 5L),
      ("g", null.asInstanceOf[java.lang.Long], 7L))
      .toDF("grp", "id", "w").withColumn("__w", col("w"))
    val e = intercept[Exception] {
      Sampling.distributedCumSum(nullId, Seq("grp"), "id", 4).collect()
    }
    assert(e.getMessage.contains("non-null"))
    // a null group key is a legal group: its rows must keep their own
    // cumulative line, not vanish in the bucket-stitch join
    val nullGrp = Seq((null.asInstanceOf[String], 1L, 5L),
      (null.asInstanceOf[String], 2L, 7L), ("g", 1L, 3L))
      .toDF("grp", "id", "w").repartition(2).withColumn("__w", col("w"))
    val got = Sampling.distributedCumSum(nullGrp, Seq("grp"), "id", 4)
      .collect()
      .map(r => (Option(r.getString(0)), r.getLong(1)) ->
        (r.getAs[Long]("__cum"), r.getAs[Long]("__tot"))).toMap
    assert(got.size === 3)
    assert(got((None, 1L)) === ((5L, 12L)))
    assert(got((None, 2L)) === ((12L, 12L)))
    assert(got((Some("g"), 1L)) === ((3L, 3L)))
    // unsupported id type fails loudly, not silently
    val arr = Seq(("g", Seq(1L), 5L)).toDF("grp", "id", "w")
      .withColumn("__w", col("w"))
    val e2 = intercept[IllegalArgumentException] {
      Sampling.distributedCumSum(arr, Seq("grp"), "id", 4)
    }
    assert(e2.getMessage.contains("unsupported id type"))
  }

  test("quantileNormalize: exact tied ECDF ppm, null group kept, null score fails") {
    import spark.implicits._
    import graft.operators.Sampling
    // group g: scores 1,2,2,4 -> ecdf 250000, 750000, 750000, 1000000
    val df = Seq(("g", 1L, 1L), ("g", 2L, 2L), ("g", 3L, 2L), ("g", 4L, 4L),
      (null.asInstanceOf[String], 5L, 7L))
      .toDF("src", "id", "score").repartition(3)
    val got = Sampling.quantileNormalize(df, Seq("src"), "score")
      .collect().map(r => r.getLong(1) -> r.getAs[Long]("ecdf_ppm")).toMap
    assert(got === Map(1L -> 250000L, 2L -> 750000L, 3L -> 750000L,
      4L -> 1000000L, 5L -> 1000000L))
    val e = intercept[Exception] {
      Sampling.quantileNormalize(
        Seq(("g", 1L, java.lang.Long.valueOf(3L)),
          ("g", 2L, null.asInstanceOf[java.lang.Long]))
          .toDF("src", "id", "score"), Seq("src"), "score").collect()
    }
    assert(e.getMessage.contains("non-null"))
  }

  test("cusumChangepoint: closed window form equals the naive recurrence on random series") {
    import spark.implicits._
    import graft.operators.EventOps
    import org.scalacheck.{Gen, rng}
    val caseGen = for {
      n <- Gen.choose(1, 40)
      xs <- Gen.listOfN(n, Gen.choose(0L, 20L))
    } yield xs
    val params = org.scalacheck.Gen.Parameters.default
    (0 until 8).flatMap(i => caseGen(params, rng.Seed(11L + i))).foreach { xs =>
      val rows = xs.zipWithIndex.map { case (x, i) => ("k", i.toLong, x) }
      val got = EventOps.cusumChangepoint(
          rows.toDF("k", "p", "x").repartition(3), "k", "p", "x",
          thresholdPpm = 1500000L)
        .collect()(0)
      // naive reference: s_i = max(0, s_{i-1} + (x_i - mean)) fixed point
      val n = xs.size
      val meanFp = xs.sum * 1000000L / n
      var s = 0L
      var maxS = 0L
      var alarms = 0L
      var first = Option.empty[Long]
      val bar = 1500000L * meanFp / 1000000L
      xs.zipWithIndex.foreach { case (x, i) =>
        s = math.max(0L, s + x * 1000000L - meanFp)
        maxS = math.max(maxS, s)
        if (s > bar) { alarms += 1; if (first.isEmpty) first = Some(i.toLong) }
      }
      assert(got.getAs[Long]("n_periods") === n.toLong)
      assert(got.getAs[Long]("mean_fp") === meanFp)
      assert(got.getAs[Long]("max_s_fp") === maxS, s"series $xs")
      assert(got.getAs[Long]("n_alarms") === alarms)
      assert(Option(got.getAs[java.lang.Long]("first_alarm")).map(_.toLong)
        === first)
    }
  }

  test("curriculumInterleave keeps null-difficulty rows in their own bucket") {
    import spark.implicits._
    import graft.operators.Sampling
    val df = Seq((1L, java.lang.Double.valueOf(5.0)),
      (2L, java.lang.Double.valueOf(15.0)),
      (3L, null.asInstanceOf[java.lang.Double]),
      (4L, null.asInstanceOf[java.lang.Double]))
      .toDF("id", "dif")
    val out = Sampling.curriculumInterleave(df, "id", "dif", binWidth = 10.0)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2))).toMap
    assert(out.size === 4, "null-difficulty rows must not be dropped")
    assert(out(1L) === ((Some(0L), 1L)))
    assert(out(2L) === ((Some(1L), 1L)))
    // both null rows share the null bucket with positions 1 and 2
    assert(Set(out(3L), out(4L)) === Set((None, 1L), (None, 2L)))
  }
}
