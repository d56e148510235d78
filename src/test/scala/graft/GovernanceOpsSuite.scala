package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Contracts, Linkage, Profiler, Retrieval, TextOps}

/** Round-9 governance/eval operators: data contracts, record linkage,
  * Krippendorff's alpha, Theil-Sen trend, readability, nDCG@k. */
class GovernanceOpsSuite extends AnyFunSuite with GraftSparkSession {

  test("contracts: each rule counts its own violations, report is ordered") {
    import spark.implicits._
    val df = Seq(
      (1L, Option(10L), 5.0, "1-URGENT", "O"),
      (2L, Option(11L), -1.0, "9-BAD", "O"),   // range + pattern violations
      (2L, None, 50.0, "2-HIGH", "X"),          // dup key + null + enum violation
      (3L, Option(99L), 20.0, "3-MEDIUM", "F")) // orphan dim key
      .toDF("id", "fk", "price", "prio", "status")
    val dim = Seq(10L, 11L).toDF("k")
    val out = Contracts.check(df, Seq(
        Contracts.NotNull("fk"),
        Contracts.InRange("price", 0.0, 40.0),
        Contracts.Matches("prio", "^[1-5]-"),
        Contracts.InSet("status", Seq("O", "F")),
        Contracts.Unique(Seq("id")),
        Contracts.InDim("fk", dim, "k")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.map(_._1).toSeq === out.map(_._1).toSeq.sorted) // ordered by rule
    val m = out.map(t => t._1 -> t).toMap
    assert(m("not_null:fk") === ("not_null:fk", 1L, 4L, false))
    assert(m("in_range:price") === ("in_range:price", 2L, 4L, false)) // -1 and 50
    assert(m("matches:prio") === ("matches:prio", 1L, 4L, false))
    assert(m("in_set:status") === ("in_set:status", 1L, 4L, false))
    assert(m("unique:id") === ("unique:id", 1L, 4L, false))
    assert(m("in_dim:fk") === ("in_dim:fk", 1L, 4L, false)) // 99; null fk not an orphan
  }

  test("contracts: clean table passes every rule; bad rule sets raise") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val out = Contracts.check(df, Seq(
        Contracts.NotNull("id"), Contracts.Unique(Seq("id"))))
      .collect()
    assert(out.forall(_.getBoolean(3)))
    assertThrows[IllegalArgumentException](Contracts.check(df, Nil))
    assertThrows[IllegalArgumentException](Contracts.check(df,
      Seq(Contracts.NotNull("id"), Contracts.NotNull("id"))))
  }

  test("linkage: typo'd names link to their source, ties to smallest id") {
    import spark.implicits._
    val clean = Seq((1L, "small ring"), (2L, "small king"), (3L, "red widget"))
      .toDF("id", "nm")
    val dirty = Seq(
      (10L, "small ringg"), // dist 1 to ring, 2 to king -> ring
      (11L, "small qing"),  // dist 1 to king, 2 to ring... actually 2/1
      (12L, "rad widget"),  // dist 1 to red widget
      (13L, "zzzzzzzzzz"))  // no candidate within 2 that blocks share? dist > 2 anyway
      .toDF("id", "nm")
    val got = Linkage.linkByEditDistance(dirty, "id", "nm", clean, "id", "nm", 2)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got(10L) === ((1L, 1L)))
    assert(got(12L) === ((3L, 1L)))
    assert(!got.contains(13L))
    // "small ring" vs "small king": dist 1 — a dirty name equidistant to
    // both must pick the smaller clean id
    val tie = Seq((20L, "small aing")).toDF("id", "nm") // dist 1 to both
    val t = Linkage.linkByEditDistance(tie, "id", "nm", clean, "id", "nm", 2)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(t.toSeq === Seq((1L, 1L)))
  }

  test("krippendorff alpha: perfect agreement is 1, degenerate input is NULL") {
    import spark.implicits._
    // three items, 2-3 raters each, all agreeing within an item but with
    // different labels across items -> Do = 0 -> alpha = 1
    val perfect = Seq(
      (1L, "a"), (1L, "a"),
      (2L, "b"), (2L, "b"), (2L, "b"),
      (3L, "c"), (3L, "c"))
      .toDF("item", "lab")
    val r = Profiler.krippendorffAlpha(perfect, "item", "lab").collect()(0)
    assert(r.getLong(0) === 3L && r.getLong(1) === 7L && r.getLong(2) === 10000L)
    // all ratings one label: chance disagreement 0 -> NULL
    val degen = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "a")).toDF("item", "lab")
    assert(Profiler.krippendorffAlpha(degen, "item", "lab").collect()(0).isNullAt(2))
    // single-rating items are excluded entirely
    val single = Seq((1L, "a"), (2L, "b"), (3L, "a"), (3L, "b")).toDF("item", "lab")
    val s = Profiler.krippendorffAlpha(single, "item", "lab").collect()(0)
    assert(s.getLong(0) === 1L && s.getLong(1) === 2L)
  }

  test("krippendorff alpha: hand-computed mixed panel") {
    import spark.implicits._
    // item 1: {a,a,b} (n=3), item 2: {a,b} (n=2)
    // Do_scaled = [2*1*(L/2)*... ] item1: a:2*(3-2)=2, b:1*(3-1)=2 -> 4 * L/2
    //            item2: a:1*1=1, b:1*1=1 -> 2 * L/1
    // = 4*180180 + 2*360360 = 1441440; n = 5, Q = 9+4 = 13
    // canonical alpha = 1 - (1441440*(5-1))/(360360*(25-13))
    //                 = 1 - 5765760/4324320 = -1/3
    val df = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"))
      .toDF("item", "lab")
    val r = Profiler.krippendorffAlpha(df, "item", "lab").collect()(0)
    assert(r.getLong(2) === -3333L) // trunc(-0.3333.. * 1e4)
  }

  test("krippendorff alpha: panel over 16 raises") {
    import spark.implicits._
    val big = (1 to 17).map(i => (1L, s"l$i")) :+ ((2L, "a")) :+ ((2L, "b"))
    val df = big.toDF("item", "lab")
    val e = intercept[Exception](
      Profiler.krippendorffAlpha(df, "item", "lab").collect())
    assert(e.getMessage.contains("max supported is 16"))
  }

  test("theil-sen: exact on linear data, robust to one outlier") {
    import spark.implicits._
    // y = 2x + 1 with one wrecked point: median slope stays 2
    val pts = Seq((1.0, 3.0), (2.0, 5.0), (3.0, 7.0), (4.0, 9.0), (5.0, 1000.0))
      .map { case (x, y) => ("g", x, y) }.toDF("g", "x", "y")
    val r = Profiler.theilSenTrend(pts, "g", "x", "y").collect()(0)
    assert(r.getLong(1) === 5L && r.getLong(2) === 10L)
    assert(r.getDouble(3) === 2.0)
    // least squares on the same data is dragged far away from 2
  }

  test("theil-sen: equal-x pairs excluded; oversized group raises") {
    import spark.implicits._
    val dup = Seq(("g", 1.0, 1.0), ("g", 1.0, 9.0), ("g", 2.0, 3.0))
      .toDF("g", "x", "y")
    val r = Profiler.theilSenTrend(dup, "g", "x", "y").collect()(0)
    assert(r.getLong(2) === 2L) // only the two cross-x pairs
    val big = (1 to 10).map(i => ("g", i.toDouble, 1.0)).toDF("g", "x", "y")
    val e = intercept[Exception](
      Profiler.theilSenTrend(big, "g", "x", "y", maxPoints = 5).collect())
    assert(e.getMessage.contains("max supported is 5"))
  }

  test("readability: formula matches hand computation, null-safe") {
    import spark.implicits._
    val df = Seq(
      Some("the cat sat. the dog ran."), // w=6, s=2, vowel runs: e,a,a,e,o,a=6 -> syl=6
      Some("xyz"),                       // no vowels: syl clamps to w=1; s clamps to 1
      None)
      .toDF("t")
    val out = df.select(TextOps.readabilityMilli(col("t")).as("r")).collect()
    // 206835 - 1015*6/2 - 84600*6/6 = 206835 - 3045 - 84600 = 119190
    assert(out(0).getLong(0) === 119190L)
    // 206835 - 1015*1/1 - 84600*1/1 = 121220
    assert(out(1).getLong(0) === 121220L)
    assert(out(2).isNullAt(0))
  }

  test("ndcg@k: perfect ranking scores 1.0, empty relevance is NULL") {
    import spark.implicits._
    // two clusters far apart: queries retrieve their own cluster first
    val rows = Seq(
      (0L, Array(1.0f, 0.0f), 1), (1L, Array(0.9f, 0.1f), 1), (2L, Array(0.95f, 0.05f), 1),
      (10L, Array(0.0f, 1.0f), 2), (11L, Array(0.1f, 0.9f), 2), (12L, Array(0.05f, 0.95f), 2),
      (20L, Array(0.5f, 0.5f), 3)) // singleton label: n_rel = 0
      .toDF("vec_id", "embedding", "label")
    val out = Retrieval.labelNdcgAtK(rows, rows.where(col("vec_id").isin(0L, 20L)),
        "vec_id", "embedding", "label", k = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    val q0 = out(0L)
    assert(q0.getLong(1) === 2L && q0.getLong(2) === 2L) // n_rel, hits
    assert(q0.getLong(3) === 10000L)                     // recall@2 = 1
    assert(q0.getDouble(4) === 1.0)                      // both top-2 relevant
    val q20 = out(20L)
    assert(q20.getLong(1) === 0L && q20.isNullAt(3) && q20.isNullAt(4))
  }

  test("ndcg@k: a miss at rank 1 scores the literal discount ratio") {
    import spark.implicits._
    // query 0 (label 1): nearest is 10 (label 2, miss), then 1 (label 1, hit)
    val rows = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (10L, Array(0.99f, 0.01f), 2),
      (1L, Array(0.9f, 0.1f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Retrieval.labelNdcgAtK(rows, rows.where(col("vec_id") === 0L),
        "vec_id", "embedding", "label", k = 2).collect()(0)
    val disc = Retrieval.ndcgDiscounts(2)
    // dcg = 0*d1 + 1*d2; idcg = prefix(min(2, n_rel=1)) = d1 = 1.0
    assert(out.getDouble(4) === (0.0 * disc(0) + 1.0 * disc(1)) / 1.0)
  }

  test("geometric noisy counts: deterministic, bounded, thresholds sane") {
    import spark.implicits._
    import graft.operators.Privacy
    val th = Privacy.geometricThresholds(0.5, 16)
    assert(th.size === 33)
    assert(th.zip(th.tail).forall { case (a, b) => a < b }) // strictly increasing CDF
    assert(math.abs(th.last - math.pow(2, 60)) / math.pow(2, 60) < 1e-9)
    val df = Seq.tabulate(100)(i => (s"g${i % 4}", i)).toDF("g", "v")
    val r1 = Privacy.geometricNoisyCounts(df, Seq("g"), eps = 0.5, seed = "s")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val r2 = Privacy.geometricNoisyCounts(df, Seq("g"), eps = 0.5, seed = "s")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 === r2) // keyed-hash draw replays exactly
    assert(r1.values.forall(v => v >= 9L && v <= 41L)) // 25 +/- 16, floored at 0
    // a different seed draws different noise for at least one group
    val r3 = Privacy.geometricNoisyCounts(df, Seq("g"), eps = 0.5, seed = "t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 != r3 || r1 === r3) // structural check only; equality is legal
    assertThrows[IllegalArgumentException](
      Privacy.geometricNoisyCounts(df, Nil, 0.5, "s"))
    assertThrows[IllegalArgumentException](Privacy.geometricThresholds(0.0, 16))
  }

  test("streaming cdc: batched last-op-wins apply maintains the snapshot") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    withTempDir("graft_cdc_test") { dir =>
      val seedDf = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "payload")
      graft.streaming.StreamingOps.seedCdcSnapshot(seedDf, "id", dir, nBuckets = 2)
      val input = MemoryStream[(Long, Long, String, String)](spark)
      val qy = graft.streaming.StreamingOps.cdcSnapshotSink(
          input.toDF().toDF("id", "seq", "op", "payload"),
          "id", "op", "seq", dir, nBuckets = 2)
        .start()
      try {
        // batch 1: update 1, delete 2, and a WITHIN-batch race on 3
        // (update seq 3 then delete seq 4 — the delete must win)
        input.addData(Seq((1L, 1L, "U", "a2"), (2L, 2L, "D", ""),
          (3L, 3L, "U", "c2"), (3L, 4L, "D", "")))
        qy.processAllAvailable()
        // batch 2: insert 4, re-insert deleted 2
        input.addData(Seq((4L, 5L, "I", "d"), (2L, 6L, "U", "b2")))
        qy.processAllAvailable()
        val mid = spark.read.parquet(dir).select("id", "payload")
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(mid === Map(1L -> "a2", 2L -> "b2", 4L -> "d"))
        // batch 3 EMPTIES bucket 1 (id 1 is its last survivor): dynamic
        // partition overwrite alone would leave the stale partition on
        // disk and 1 -> a2 would resurrect
        input.addData(Seq((1L, 7L, "D", "")))
        qy.processAllAvailable()
      } finally qy.stop()
      val got = spark.read.parquet(dir).select("id", "payload")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === Map(2L -> "b2", 4L -> "d"))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "__bucket=1")))
    }
  }

  test("vacuum orphans: audit classifies and delete pass removes exactly the orphans") {
    import spark.implicits._
    import graft.operators.Sinks
    withTempDir("graft_vac_test") { dir =>
      val df = Seq.tabulate(40)(i => (i.toLong, s"doc $i text")).toDF("id", "text")
      Sinks.writeShardsWithManifest(df, "id", "text", dir, numShards = 4)
      val stale = java.nio.file.Paths.get(dir, "data", "shard=77")
      java.nio.file.Files.createDirectories(stale)
      java.nio.file.Files.write(stale.resolve("zombie.parquet"), "x".getBytes)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "data", "stray.tmp"), "y".getBytes)
      def audit() = Sinks.vacuumOrphans(spark, dir).collect()
        .map(r => (if (r.isNullAt(0)) -1 else r.getInt(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(audit() === Set((0, 1L, 0L), (1, 1L, 0L), (2, 1L, 0L), (3, 1L, 0L),
        (77, 0L, 1L), (-1, 1L, 1L))) // root: _SUCCESS kept, stray orphan
      // delete pass removes exactly the orphans; a re-audit is clean and
      // the data itself is untouched
      Sinks.vacuumOrphans(spark, dir, deleteOrphans = true)
      assert(audit() === Set((0, 1L, 0L), (1, 1L, 0L), (2, 1L, 0L), (3, 1L, 0L),
        (-1, 1L, 0L)))
      assert(spark.read.parquet(s"$dir/data").count() === 40L)
    }
  }

  test("compaction: exact output file count, content preserved") {
    import spark.implicits._
    import graft.operators.Sinks
    withTempDir("graft_cpt_test") { base =>
      // exactly 5 input files: five single-writer appends of 2 rows each
      (0 until 5).foreach { b =>
        Seq(2 * b, 2 * b + 1).map(i => (i.toLong, s"v$i")).toDF("id", "v")
          .coalesce(1).write.mode("append").parquet(s"$base/in")
      }
      val rep = Sinks.compactFiles(spark, s"$base/in", s"$base/out", targetRows = 4L)
        .collect()(0)
      assert((rep.getLong(0), rep.getLong(1), rep.getLong(2)) === ((5L, 10L, 3L)))
      val got = spark.read.parquet(s"$base/out")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === Seq.tabulate(10)(i => (i.toLong, s"v$i")).toSet)
      assertThrows[IllegalArgumentException](
        Sinks.compactFiles(spark, s"$base/in", s"$base/out2", 0L))
    }
  }

  test("label noise matrix: per-class thresholds gate the confident cells") {
    import spark.implicits._
    import graft.operators.Classifier
    // given-a rows: confs 800k/600k/400k -> t_a = 600k; given-b rows:
    // 900k (pred a) and 700k (pred b) -> t_b = 800k. Cell membership is
    // gated by the PREDICTED class's threshold.
    val df = Seq(
      ("a", "a", 800000L), ("a", "a", 600000L), ("a", "a", 400000L),
      ("b", "a", 900000L), ("b", "b", 700000L))
      .toDF("g", "p", "c")
    val out = Classifier.labelNoiseMatrix(df, "g", "p", "c")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(
      ("a", "a") -> ((2L, 3L)),   // 800k,600k clear t_a; 400k doesn't
      ("b", "a") -> ((1L, 2L))))  // the suspected label error cell
    // (b,b) at 700k misses t_b=800k -> absent entirely
  }

  test("streaming enrich op has batch-equivalent semantics incl unmatched bucket") {
    import spark.implicits._
    val ev = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 1L, 1.5),
      (java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 1L, 2.5),
      (java.sql.Timestamp.valueOf("2024-01-01 03:00:00"), 9L, 4.0), // no dim row
      (java.sql.Timestamp.valueOf("2024-01-02 01:00:00"), 2L, 1.0))
      .toDF("t", "key", "value")
    val dim = Seq((1L, "A"), (2L, "B")).toDF("k", "attr")
    val out = graft.streaming.StreamingOps.enrichedWindowStats(
        ev, "t", "key", "value", dim, "k", "attr", "1 day", "0 seconds")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2),
        r.getDecimal(3).doubleValue())).toSet
    assert(out === Set(
      ("2024-01-01 00:00:00.0", "A", 2L, 4.0),
      ("2024-01-01 00:00:00.0", "__unmatched__", 1L, 4.0),
      ("2024-01-02 00:00:00.0", "B", 1L, 1.0)))
  }

  test("versioned store: time travel, touched-buckets-only commits, emptied bucket drops") {
    import spark.implicits._
    import graft.operators.Versioned
    withTempDir("graft_ver_test") { dir =>
      // buckets (mod 4): 1->1, 2->2, 3->3, 5->1
      val v1df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (5L, "e")).toDF("id", "pay")
      assert(Versioned.init(v1df, "id", dir, nBuckets = 4) === 1)
      assertThrows[IllegalArgumentException](
        Versioned.init(v1df, "id", dir, 4)) // double init
      def state(v: Int): Map[Long, String] =
        Versioned.read(spark, dir, v).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(state(1) === Map(1L -> "a", 2L -> "b", 3L -> "c", 5L -> "e"))
      // commit: update 1, delete 2 (bucket 2's ONLY row), insert 4 with a
      // within-batch race (U seq 3 then final U seq 4 must win)
      val b1 = Seq((1L, 1L, "U", "a2"), (2L, 2L, "D", ""),
        (4L, 3L, "U", "d-stale"), (4L, 4L, "U", "d"))
        .toDF("id", "seq", "op", "pay")
      assert(Versioned.commit(b1, "id", "op", "seq", dir, 4) === 2)
      assert(state(2) === Map(1L -> "a2", 3L -> "c", 4L -> "d", 5L -> "e"))
      // TIME TRAVEL: v1 still reads exactly as committed
      assert(state(1) === Map(1L -> "a", 2L -> "b", 3L -> "c", 5L -> "e"))
      // only touched buckets got v2 dirs: bucket 1 (id 1), 0 (id 4),
      // 2 (id 2, emptied -> NO dir); bucket 3 untouched (dir names carry
      // an attempt suffix: b<bucket>_v<ver>_<attempt>)
      val dataDirs = new java.io.File(s"$dir/data").listFiles()
        .map(_.getName).toSet
      assert(dataDirs.exists(_.startsWith("b0_v2_")) &&
        dataDirs.exists(_.startsWith("b1_v2_")))
      assert(!dataDirs.exists(_.startsWith("b2_v2_")) &&
        !dataDirs.exists(_.startsWith("b3_v2_")))
      // latest() resolves to v2; a third commit re-fills bucket 2
      assert(Versioned.read(spark, dir).count() === 4L)
      val b2 = Seq((6L, 5L, "I", "f")).toDF("id", "seq", "op", "pay")
      assert(Versioned.commit(b2, "id", "op", "seq", dir, 4) === 3)
      assert(state(3) === Map(1L -> "a2", 3L -> "c", 4L -> "d", 5L -> "e", 6L -> "f"))
      // commit on an uninitialized dir fails loudly
      withTempDir("graft_ver2") { fresh =>
        assertThrows[IllegalArgumentException](
          Versioned.commit(b2, "id", "op", "seq", fresh, 4))
        // vacuum keeping 2 versions: v1's manifest goes, its now-unreferenced
        // dirs go (b2_v1: id 2 existed only in v1), shared dirs survive
        val (droppedV, deletedD) = Versioned.vacuum(spark, dir, keepVersions = 2)
        assert(droppedV === 1)
        assert(deletedD >= 1) // at least b2_v1
        assertThrows[IllegalArgumentException](Versioned.read(spark, dir, 1))
        assert(state(2) === Map(1L -> "a2", 3L -> "c", 4L -> "d", 5L -> "e"))
        assert(state(3)(6L) === "f") // kept versions byte-exact after GC
      }
    }
  }

  test("versioned streaming commit sink: each micro-batch is a readable version") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.operators.Versioned
    withTempDir("graft_vsink") { dir =>
      Versioned.init(Seq((1L, "a"), (2L, "b")).toDF("id", "pay"), "id", dir, 2)
      val input = MemoryStream[(Long, Long, String, String)](spark)
      val qy = Versioned.commitSink(
          input.toDF().toDF("id", "seq", "op", "pay"), "id", "op", "seq", dir, 2)
        .start()
      try {
        input.addData(Seq((1L, 1L, "U", "a2")))
        qy.processAllAvailable()
        input.addData(Seq((2L, 2L, "D", ""), (3L, 3L, "I", "c")))
        qy.processAllAvailable()
      } finally qy.stop()
      assert(Versioned.latestVersion(spark, dir) === 3)
      def st(v: Int) = Versioned.read(spark, dir, v).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(st(1) === Map(1L -> "a", 2L -> "b"))
      assert(st(2) === Map(1L -> "a2", 2L -> "b"))
      assert(st(3) === Map(1L -> "a2", 3L -> "c"))
    }
  }

  test("versioned racing commits: at most one winner per version, loser garbage vacuumable") {
    import spark.implicits._
    import graft.operators.Versioned
    withTempDir("graft_vrace") { dir =>
      Versioned.init(Seq((1L, "a"), (2L, "b")).toDF("id", "pay"), "id", dir, 4)
      // two commits race for version 2 (deliberate single-writer-contract
      // violation): distinct payloads so a manifest clobber is detectable
      val batches = Seq(
        Seq((10L, 1L, "I", "x")).toDF("id", "seq", "op", "pay"),
        Seq((11L, 1L, "I", "y")).toDF("id", "seq", "op", "pay"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val outcomes = batches.map { b =>
        pool.submit(new java.util.concurrent.Callable[Either[Throwable, Int]] {
          def call(): Either[Throwable, Int] = {
            gate.await()
            try Right(Versioned.commit(b, "id", "op", "seq", dir, 4))
            catch { case t: Throwable => Left(t) }
          }
        })
      }
      gate.countDown()
      val results = outcomes.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()
      val wins = results.collect { case Right(v) => v }
      assert(wins.nonEmpty, s"both racers failed: $results")
      // versions must be DISTINCT: two commits both claiming the same
      // version number is exactly the silent corruption the exclusive
      // manifest create + read-back verify exists to prevent
      assert(wins.distinct.size === wins.size, s"duplicate version claimed: $results")
      val latest = Versioned.latestVersion(spark, dir)
      assert(latest === 1 + wins.size)
      // every committed version reads consistently: v1 exact, each later
      // version = v1 plus a prefix of the winning inserts
      def st(v: Int) = Versioned.read(spark, dir, v).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(st(1) === Map(1L -> "a", 2L -> "b"))
      (2 to latest).foreach { v =>
        val s = st(v)
        assert(s.size === 2 + (v - 1), s"version $v inconsistent: $s")
        assert(s(1L) === "a" && s(2L) === "b")
      }
      // a retry of any LOSING batch lands cleanly on top (attempt-unique
      // dir names: the loser's orphans cannot collide), reads stay consistent
      results.zip(batches).collect { case (Left(_), b) => b }.foreach { b =>
        val v = Versioned.commit(b, "id", "op", "seq", dir, 4)
        assert(Versioned.read(spark, dir, v).count() === 2L + (v - 1))
      }
      val finalV = Versioned.latestVersion(spark, dir)
      assert(st(finalV).keySet === Set(1L, 2L, 10L, 11L))
      // vacuum with full retention deletes ONLY unreferenced garbage;
      // every version stays byte-exact afterwards
      Versioned.vacuum(spark, dir, keepVersions = finalV)
      (1 to finalV).foreach(v => assert(st(v).size === 2 + (v - 1)))
    }
  }

  test("versioned crashed-attempt garbage: kept while possibly in-flight, swept once overtaken") {
    import spark.implicits._
    import graft.operators.Versioned
    withTempDir("graft_vcrash") { dir =>
      Versioned.init(Seq((1L, "a"), (2L, "b")).toDF("id", "pay"), "id", dir, 4)
      // simulate a commit that renamed one bucket dir and died before its
      // manifest: an orphan attempt dir (with stale parquet) + a stage dir
      val data = new java.io.File(s"$dir/data")
      Seq((9L, "stale")).toDF("id", "pay").withColumn("__bucket", lit(1L))
        .write.parquet(s"$dir/data/b1_v2_deadatt")
      new java.io.File(data, "__stage_v2_deadbeef").mkdirs()
      // vacuum must NOT touch them yet (version 2 > latest 1: could be an
      // in-flight commit mid-rename)
      val (_, deleted) = Versioned.vacuum(spark, dir, keepVersions = 10)
      assert(deleted === 0)
      assert(data.listFiles().map(_.getName).toSet.contains("b1_v2_deadatt"))
      // a retry commit lands cleanly beside the orphan (attempt-unique
      // names: no collision), and the orphan never leaks into reads
      val v = Versioned.commit(
        Seq((1L, 1L, "U", "a2")).toDF("id", "seq", "op", "pay"),
        "id", "op", "seq", dir, 4)
      assert(v === 2)
      val s2 = Versioned.read(spark, dir, 2).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(s2 === Map(1L -> "a2", 2L -> "b"), "stale crash dir leaked into v2")
      // now latest(2) >= the orphan's version: vacuum sweeps BOTH orphans
      // and only them, and every version still reads byte-exact
      val (_, deleted2) = Versioned.vacuum(spark, dir, keepVersions = 10)
      assert(deleted2 === 2)
      val names = data.listFiles().map(_.getName).toSet
      assert(!names.contains("b1_v2_deadatt") && !names.contains("__stage_v2_deadbeef"))
      assert(s2 === Versioned.read(spark, dir, 2).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap)
      assert(Versioned.read(spark, dir, 1).count() === 2L)
    }
  }

  test("versioned change data feed: state-diff ops, unchanged rewrites silent, range checks") {
    import spark.implicits._
    import graft.operators.Versioned
    withTempDir("graft_vcdf") { dir =>
      // nBuckets=2: ids 1,3 -> bucket 1; 2,4 -> bucket 0
      Versioned.init(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "pay"),
        "id", dir, 2)
      // v2: update 1, delete 3, REWRITE 2's bucket with an unchanged U
      Versioned.commit(Seq((1L, 1L, "U", "a2"), (3L, 2L, "D", ""),
        (2L, 3L, "U", "b")).toDF("id", "seq", "op", "pay"),
        "id", "op", "seq", dir, 2)
      // v3: 'U' on the deleted key 3 (upsert -> state-diff reads I), new 4
      Versioned.commit(Seq((3L, 4L, "U", "c2"), (4L, 5L, "I", "d"))
        .toDF("id", "seq", "op", "pay"), "id", "op", "seq", dir, 2)
      val ch = Versioned.changes(spark, dir, "id", 1, 3).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(ch === Set(
        (2, "U", 1L, "a2"),   // payload changed
        (2, "D", 3L, "c"),    // D carries the OLD payload
        (3, "I", 3L, "c2"),   // upsert of a deleted key is an INSERT by state
        (3, "I", 4L, "d")))
      // id 2's bucket was rewritten in v2 but the row didn't change: silent
      assert(!ch.exists(_._3 == 2L))
      // single-step read
      assert(Versioned.changes(spark, dir, "id", 2, 3).collect().length === 2)
      // bad ranges fail loudly
      assertThrows[IllegalArgumentException](
        Versioned.changes(spark, dir, "id", 2, 2))
      assertThrows[IllegalArgumentException](
        Versioned.changes(spark, dir, "id", 1, 9))
    }
  }

  test("versioned read of a fully-emptied version returns an EMPTY frame with schema") {
    import spark.implicits._
    import graft.operators.Versioned
    withTempDir("graft_vempty") { dir =>
      Versioned.init(Seq((1L, "a"), (2L, "b")).toDF("id", "pay"), "id", dir, 2)
      // delete EVERYTHING -> v2 is a legal committed empty snapshot
      val b = Seq((1L, 1L, "D", ""), (2L, 2L, "D", ""))
        .toDF("id", "seq", "op", "pay")
      assert(Versioned.commit(b, "id", "op", "seq", dir, 2) === 2)
      val empty = Versioned.read(spark, dir, 2)
      assert(empty.count() === 0L)
      assert(empty.columns.toSeq === Seq("id", "pay"))
      // neighbors unaffected; latest resolves to the empty v2
      assert(Versioned.read(spark, dir, 1).count() === 2L)
      assert(Versioned.read(spark, dir).count() === 0L)
      // and the store keeps working: a later insert is readable on top
      assert(Versioned.commit(Seq((3L, 3L, "I", "c")).toDF("id", "seq", "op", "pay"),
        "id", "op", "seq", dir, 2) === 3)
      assert(Versioned.read(spark, dir, 3).count() === 1L)
    }
  }
}
