package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, EventOps, Profiler}

/** Round-9 additions: stream-stream interval join, FD strength,
  * transition matrix, blocking-quality containment. */
class SequenceOpsSuite extends AnyFunSuite with GraftSparkSession {

  test("streaming interval join matches the batch time-range join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // purchases: (id, t, user); views likewise. user 1 has views at
    // 39/40/95 for a purchase at 100 with 60s lookback -> 40 (exactly on
    // the inclusive lower bound) and 95 match, 39 is outside; user 2's
    // view at 200 matches its purchase at 200 (inclusive upper bound);
    // user 3's view is AFTER the purchase.
    val purchases = Seq((1L, ts(100), 1L), (2L, ts(200), 2L), (3L, ts(300), 3L))
    val views = Seq((10L, ts(39), 1L), (11L, ts(40), 1L), (12L, ts(95), 1L),
      (13L, ts(200), 2L), (14L, ts(301), 3L))
    val lin = MemoryStream[(Long, java.sql.Timestamp, Long)](spark)
    val rin = MemoryStream[(Long, java.sql.Timestamp, Long)](spark)
    val out = graft.streaming.StreamingOps.intervalJoin(
      lin.toDF().toDF("event_id", "t", "user_id"),
      rin.toDF().toDF("event_id", "t", "user_id"),
      "user_id", "t", lookback = "60 SECONDS", watermarkDelay = "10 seconds")
    val sink = "graft_ij_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val qy = out.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      lin.addData(purchases)
      rin.addData(views)
      qy.processAllAvailable()
    } finally qy.stop()
    val got = spark.table(sink).select("event_id", "event_id_r")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 11L), (1L, 12L), (2L, 13L)))
    // and the schema carries left cols + right non-key cols suffixed _r
    assert(spark.table(sink).columns.toSet ===
      Set("event_id", "t", "user_id", "event_id_r", "t_r"))
  }

  test("fd strength: exact FD scores 1.0, noisy FD scores its majority share") {
    import spark.implicits._
    // id -> v exact; g -> v holds for 6 of 8 rows (majority per group)
    val df = Seq(
      (1L, "a", "x"), (2L, "a", "x"), (3L, "a", "x"), (4L, "a", "y"),
      (5L, "b", "z"), (6L, "b", "z"), (7L, "b", "z"), (8L, "b", "w"))
      .toDF("id", "g", "v")
    val out = Profiler.fdStrength(df, Seq("id" -> "v", "g" -> "v"))
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toList
    val m = out.map(t => t._1 -> t).toMap
    assert(m("id") === ("id", 8L, 1000000L, true))
    assert(m("g") === ("g", 8L, 750000L, false)) // 6/8
  }

  test("fd strength: null rhs values group as consistent mappings") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[String]), (1L, Option.empty[String]),
      (2L, Option("q"))).toDF("k", "v")
    val out = Profiler.fdStrength(df.toDF("k", "v"), Seq("k" -> "v"))
      .collect()(0)
    assert(out.getLong(3) === 1000000L) // both groups internally consistent
    assert(out.getBoolean(4))
  }

  test("transition matrix: ts ties break on id; probabilities are exact ppm") {
    import spark.implicits._
    // user 1: A(id1,t1) -> B(id2,t1 tie, id orders it) -> A(id3,t2)
    // user 2: A -> B
    val df = Seq(
      (1L, 1L, 10L, "A"), (1L, 2L, 10L, "B"), (1L, 3L, 20L, "A"),
      (2L, 4L, 5L, "A"), (2L, 5L, 6L, "B"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val out = EventOps.transitionMatrix(df, "user_id", "ts", "event_id",
        "event_type")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    // from A: A->B twice (u1 tie-broken by id, u2); that's all of A's exits
    assert(out(("A", "B")) === (2L, 1000000L))
    // from B: B->A once (u1)
    assert(out(("B", "A")) === (1L, 1000000L))
    assert(out.size === 2)
  }

  test("left-outer interval join emits unmatched lefts after the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val lin = MemoryStream[(Long, java.sql.Timestamp, Long)](spark)
    val rin = MemoryStream[(Long, java.sql.Timestamp, Long)](spark)
    val out = graft.streaming.StreamingOps.intervalJoin(
      lin.toDF().toDF("event_id", "t", "user_id"),
      rin.toDF().toDF("event_id", "t", "user_id"),
      "user_id", "t", lookback = "60 SECONDS", watermarkDelay = "10 seconds",
      joinType = "left_outer")
    val sink = "graft_loj_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val qy = out.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      // purchase 1 has a view; purchase 2 has none
      lin.addData(Seq((1L, ts(100), 1L), (2L, ts(100), 2L)))
      rin.addData(Seq((10L, ts(90), 1L)))
      qy.processAllAvailable()
      // push both watermarks far past t=100 to finalize the unmatched row
      lin.addData(Seq((99L, ts(100000), 99L)))
      rin.addData(Seq((98L, ts(100000), 98L)))
      qy.processAllAvailable()
      lin.addData(Seq((97L, ts(200000), 99L)))
      rin.addData(Seq((96L, ts(200000), 98L)))
      qy.processAllAvailable()
    } finally qy.stop()
    val got = spark.table(sink)
      .where(col("event_id") < 90) // drop the sentinel rows
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got === Set((1L, 10L), (2L, -1L)))
  }

  test("observed filter audit reports input and kept stats from one pass") {
    import spark.implicits._
    val df = Seq((1L, "aaaa"), (2L, "bb"), (3L, "cccccc"), (4L, "d"))
      .toDF("id", "text")
    val out = graft.operators.Observed.filterAudit(df, "text",
      length(col("text")) >= 4).collect()(0)
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3),
      out.getLong(4)) === ((4L, 13L, 2L, 10L, 500000L)))
    // empty input: all zeros, no divide-by-zero
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    val z = graft.operators.Observed.filterAudit(empty, "text", lit(true))
      .collect()(0)
    assert((z.getLong(0), z.getLong(2), z.getLong(4)) === ((0L, 0L, 0L)))
  }

  test("bucketed join is exchange-free; mismatched buckets raise") {
    import spark.implicits._
    withTempDir("graft_bkt_") { dir =>
      val a = (1L to 100L).map(i => (i, i * 2)).toDF("k", "va")
      val b = (1L to 100L).map(i => (i, s"r$i")).toDF("k2", "vb")
      graft.operators.Sinks.writeBucketedTable(a, "t_bkt_a", s"$dir/a", "k", 4)
      graft.operators.Sinks.writeBucketedTable(b, "t_bkt_b", s"$dir/b", "k2", 4)
      // disable broadcast: tiny test tables would otherwise BHJ and never
      // exercise the bucketed sort-merge path the assert is about
      withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val j = graft.operators.Sinks.bucketedEquiJoin(
          spark, "t_bkt_a", "k", "t_bkt_b", "k2")
        assert(j.count() === 100)
        // a mismatched bucket count reintroduces a shuffle -> must raise
        graft.operators.Sinks.writeBucketedTable(b, "t_bkt_c", s"$dir/c", "k2", 8)
        val e = intercept[IllegalArgumentException] {
          graft.operators.Sinks.bucketedEquiJoin(
            spark, "t_bkt_a", "k", "t_bkt_c", "k2")
        }
        assert(e.getMessage.contains("still shuffles"))
        // catalog death: drop + re-register from the files alone via
        // CLUSTERED BY DDL -> the join is exchange-free again
        spark.sql("DROP TABLE t_bkt_b")
        graft.operators.Sinks.registerBucketedTable(spark, "t_bkt_b",
          s"$dir/b", "k2", "BIGINT", 4, Seq("vb" -> "STRING"))
        val j2 = graft.operators.Sinks.bucketedEquiJoin(
          spark, "t_bkt_a", "k", "t_bkt_b", "k2")
        assert(j2.count() === 100)
      }
    }
  }

  test("linkage emits ONE row per dirty id across duplicate rows and multi-name ids") {
    import spark.implicits._
    val dirty = Seq((7L, "gadget"), (7L, "gadget"), (7L, "widgett"),
      (9L, "zzzzzzz")).toDF("id", "nm")
    val clean = Seq((1L, "widget"), (2L, "gadget")).toDF("cid", "cnm")
    val out = graft.operators.Linkage.linkByEditDistance(
        dirty, "id", "nm", clean, "cid", "cnm", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // id 7 matched via BOTH its names (gadget d=0, widgett->widget d=1)
    // and a duplicate row — still exactly one output row, the global min
    assert(out.toSeq === Seq((7L, 2L, 0L)))
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    import spark.implicits._
    // one hot key (~6 MB of rows) + a uniform tail: the hot partition
    // exceeds factor x median and the byte threshold, so AQE's
    // OptimizeSkewedJoin must split it (SMJ flagged skew=true). This is
    // the runtime half of the skew story — SkewJoin.saltedEquiJoin is
    // the manual half for single-key-per-reducer cases AQE can't split.
    // md5 payloads: constant padding would lz4-compress the shuffle
    // blocks below the skew byte threshold and the split never fires
    val big = spark.range(0, 200000).select(
      when(col("id") < 180000, 0L).otherwise(col("id")).as("k"),
      md5(col("id").cast("string").cast("binary")).as("p1"),
      md5(concat(lit("b"), col("id").cast("string")).cast("binary")).as("p2"),
      md5(concat(lit("c"), col("id").cast("string")).cast("binary")).as("p3"))
    val small = (0L until 200L).map(k => (k, s"dim$k")).toDF("k", "name")
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1MB") {
      val joined = big.join(small, Seq("k"))
      // drive THIS dataframe's own QueryExecution: a count() builds a
      // different plan, leaving joined's adaptive plan unexecuted (and
      // skew detection only exists at runtime)
      val qe = joined.queryExecution
      assert(qe.toRdd.count() === 180000) // tail keys have no dim match
      // both AdaptiveSparkPlanExec AND QueryStageExec (ResultQueryStage/
      // ShuffleQueryStage) are leaf wrappers hiding their real subtree —
      // a plain collect() sees neither, so recurse through both by hand
      def skewJoins(p: org.apache.spark.sql.execution.SparkPlan): Seq[Any] =
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            skewJoins(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            skewJoins(q.plan)
          case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec
              if s.isSkewJoin => s +: s.children.flatMap(skewJoins)
          case other => other.children.flatMap(skewJoins)
        }
      assert(skewJoins(qe.executedPlan).nonEmpty,
        "expected AQE to mark the hot-key SMJ partition as skew-split")
    }
  }

  test("SNM verified pairs are a subset of the exact pair set") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val bases = (1L to 60L).map(i =>
      i -> Seq.fill(30)(words(rnd.nextInt(words.size))).mkString(" ")).toMap
    // every 6th doc gets a REAL near-identical sibling at id+1000
    // (same base, one word appended — Jaccard ~29/31 > 4/5)
    val docs = ((1L to 60L).map(i => (i, bases(i))) ++
      (1L to 60L).filter(_ % 6 == 0).map(i => (i + 1000L, bases(i) + " tail")))
      .toDF("doc_id", "text")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val snm = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // prefix-sharing siblings sort adjacent, so SNM must FIND them —
    // non-emptiness keeps the containment check from passing vacuously
    assert(snm.nonEmpty)
    assert(snm.subsetOf(exact))
  }
}
