package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AsofJoin, Dedup, Embeddings, EventOps, Multimodal, RangeJoin,
  Sampling, SkewJoin, TextOps, UrlOps}

/** Round-3 curation operators: as-of join, repetition signals,
  * deterministic stratified sampling, pattern counts. */
class CurationOpsSuite extends AnyFunSuite with GraftSparkSession {

  test("asof backward join: inclusive bound, no-match null, per-key isolation") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, "l-a"), // right rows at 7 and 10: inclusive -> matches 10
      (1L, 5L, "l-b"),  // only right row <= 5 is none (7 > 5) -> null
      (2L, 8L, "l-c"),  // key 2 has right at 3 -> 3 (key 1 rows invisible)
      (3L, 9L, "l-d"))  // key 3 has no right rows at all -> null
      .toDF("k", "t", "payload")
    val right = Seq((1L, 7L), (1L, 10L), (2L, 3L), (2L, 99L)).toDF("k", "t")
    val out = AsofJoin.asofBackward(left, right, "k", "t")
      .select("k", "t", "payload", "asof_ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getLong(3))).toSet
    assert(out === Set(
      (1L, 10L, "l-a", 10L),
      (1L, 5L, "l-b", null),
      (2L, 8L, "l-c", 3L),
      (3L, 9L, "l-d", null)))
  }

  test("asof join plans exactly one shuffle + sort + window") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    val right = Seq((1L, 7L)).toDF("k", "t")
    val plan = AsofJoin.asofBackward(left, right, "k", "t")
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length === 1, plan)
    assert(!plan.contains("Join"), plan) // union+window, never a join
  }

  test("asof join ignores right rows with a null timestamp") {
    import spark.implicits._
    // regression: a null-ts right row sorted FIRST under asc ordering and
    // was picked by last(..., ignoreNulls) for left rows preceding any
    // real match, attaching its payload instead of returning no-match
    val left = Seq((1L, 2L, "early"), (1L, 10L, "late")).toDF("k", "t", "payload")
    val right = Seq((1L, None, "bad"), (1L, Some(5L), "good"))
      .toDF("k", "t", "v")
    val out = AsofJoin.asofBackward(left, right, "k", "t", payloadCols = Seq("v"))
      .select("payload", "asof_ts", "asof_ts_v")
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getLong(1),
        r.getString(2))).toSet
    assert(out === Set(("early", null, null), ("late", 5L, "good")))
  }

  test("asof join carries right payload columns") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    val right = Seq((1L, 4L, "old"), (1L, 9L, "new"), (1L, 11L, "future"))
      .toDF("k", "t", "v")
    val row = AsofJoin.asofBackward(left, right, "k", "t", payloadCols = Seq("v"))
      .select("asof_ts", "asof_ts_v").collect()(0)
    assert((row.getLong(0), row.getString(1)) === ((9L, "new")))
  }

  test("repetition signals quantify duplicate words, 3-grams, and top bigram") {
    import spark.implicits._
    val df = Seq(
      (0L, "a b c d e f g h"),          // all distinct
      (1L, "spam spam spam spam"),      // fully repetitive
      (2L, "x y x y x y z"),            // dominant "x y" bigram
      (3L, "one"),                      // too short for any gram
      (4L, "alpha beta"))               // exactly one bigram, no 3-gram
      .toDF("doc_id", "text")
    val out = TextOps.repetitionSignals(df, "text")
      .select("doc_id", "n_words", "dup_word_frac", "dup_3gram_frac", "top_2gram_frac")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out(0L) === ((8L, 0.0, 0.0, 0.142857143))) // 7 distinct bigrams: top = 1/7
    assert(out(1L)._1 === 4L)
    assert(out(1L)._2 === 0.75)                    // 1 distinct of 4
    assert(out(1L)._3 === 0.5)                     // "spam spam spam" x2 -> 1 distinct of 2
    assert(out(1L)._4 === 1.0)                     // "spam spam" claims all 3 bigrams
    assert(out(2L)._4 === 0.5)                     // "x y" 3 of 6 bigrams
    assert(out(3L) === ((1L, 0.0, 0.0, 0.0)))      // guards, not NaN/divide-by-zero
    assert(out(4L) === ((2L, 0.0, 0.0, 1.0)))      // single bigram is trivially the top
  }

  test("stratified sample: exact quota, deterministic across partitionings") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, s"s${i % 4}")).toDF("id", "stratum")
    val a = Sampling.stratifiedSample(df, Seq("stratum"), "id", 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a.size === 20)
    assert(a.groupBy(_._2).forall(_._2.size == 5))
    // same rows no matter how the input is partitioned
    val b = Sampling.stratifiedSample(df.repartition(13), Seq("stratum"), "id", 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a === b)
    // quota larger than the stratum: returns everything, no padding
    val tiny = Seq((1L, "only")).toDF("id", "stratum")
    assert(Sampling.stratifiedSample(tiny, Seq("stratum"), "id", 5).count() === 1)
  }

  test("range join matches the naive non-equi join and avoids the nested loop") {
    import spark.implicits._
    val points = (0 until 200).map(i => i.toDouble).toDF("p")
    val intervals = Seq(
      (1L, 10.0, 20.0),    // inclusive: 10..20 -> 11 points
      (2L, 19.5, 19.6),    // sub-bucket interval -> 0 integer points
      (3L, 150.0, 500.0),  // runs past the data -> 150..199 = 50 points
      (4L, 60.0, 50.0))    // hi < lo: empty by definition
      .toDF("ivl_id", "lo", "hi")
    val out = RangeJoin.pointInInterval(points, intervals, "p", "lo", "hi", bucketWidth = 25.0)
    val counts = out.groupBy("ivl_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts === Map(1L -> 11L, 3L -> 50L))
    // plan must be an equi-join on the derived cell, not a nested loop
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // agrees with the naive non-equi join row for row
    val naive = points.join(intervals,
      col("p") >= col("lo") && col("p") <= col("hi"))
      .select("ivl_id", "p").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(out.select("ivl_id", "p").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet === naive)
  }

  test("salted join equals the plain join row for row") {
    import spark.implicits._
    // one hot key (1) plus normals — salting must not change the multiset
    val large = ((1 to 50).map(i => (1L, i.toDouble)) ++
      Seq((2L, 100.0), (3L, 7.0), (9L, 1.0))).toDF("k", "v")
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (4L, "unmatched")).toDF("k", "tag")
    val salted = SkewJoin.saltedEquiJoin(large, small, Seq("k"), salts = 4)
      .select("k", "v", "tag")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sorted.toSeq
    val plain = large.join(small, "k").select("k", "v", "tag")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sorted.toSeq
    assert(salted === plain)
    assert(salted.count(_._1 == 1L) === 50)
  }

  test("animated GIF synthesis round-trips frame counts through a real decode") {
    import spark.implicits._
    val df = Seq(0L, 1L, 5L, 11L).toDF("doc_id")
    val decoded = Multimodal.decodeImageFeatures(
      Multimodal.synthesizeVideoContent(df, "doc_id"), "doc_id")
      .select("doc_id", "width", "height", "n_frames", "format")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    for (id <- Seq(0L, 1L, 5L, 11L)) {
      val (w, h, f) = Multimodal.syntheticVideo(id)
      assert(decoded(id) === ((w, h, f, "gif")), s"doc $id")
    }
  }

  test("random projection roughly preserves relative distances; L2 normalize") {
    import spark.implicits._
    // three vectors: a ~ b (near), c far from both
    val a = Array.fill(64)(1.0)
    val b = a.clone(); b(0) = 0.9
    val c = Array.tabulate(64)(i => if (i % 2 == 0) 1.0 else -1.0)
    val df = Seq((1L, a.toSeq), (2L, b.toSeq), (3L, c.toSeq)).toDF("id", "v")
    val proj = Embeddings.randomProjection(df, "v", "p", 64, 16)
      .select("id", "p").collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(proj.values.forall(_.size == 16))
    def d2(x: Seq[Double], y: Seq[Double]) = x.zip(y).map { case (u, w) => (u - w) * (u - w) }.sum
    assert(d2(proj(1L), proj(2L)) < d2(proj(1L), proj(3L)))
    // projection is deterministic across invocations
    val again = Embeddings.randomProjection(df, "v", "p", 64, 16)
      .select("id", "p").collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(again === proj)
    // normalize: unit norm, zero vector -> null
    val z = Seq((1L, Seq(3.0, 4.0)), (2L, Seq(0.0, 0.0))).toDF("id", "v")
    val n = Embeddings.normalizeL2(z, "v", "u").select("id", "u")
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    assert(n(1L).get === Seq(0.6, 0.8))
    assert(n(2L).isEmpty)
  }

  test("pattern counts match planted occurrences") {
    import spark.implicits._
    val df = Seq(
      (0L, "clean text with no contact info at all"),
      (1L, "mail a@b.io and c.d@e.org, dial 555-123-4567 twice 555-987-6543, at https://x.io/p"))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextOps.patternCount(lower(col("text")), "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}").as("e"),
      TextOps.patternCount(lower(col("text")), "[0-9]{3}-[0-9]{3}-[0-9]{4}").as("p"),
      TextOps.patternCount(lower(col("text")), "https?://[^\\s]+").as("u"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(0L) === ((0, 0, 0)))
    assert(out(1L) === ((2, 2, 1)))
  }

  test("incremental dedup: existing content dropped, in-batch dups collapse, no shuffle join") {
    import spark.implicits._
    val existing = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "text")
    val newb = Seq((10L, "alpha"), (11L, "gamma"), (12L, "gamma"), (13L, "delta"))
      .toDF("id", "text")
    val out = Dedup.incrementalDedup(newb, existing, "id", "text", expectedItems = 100L)
    val byId = out.collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    // alpha already exists -> dropped; gamma collapses in-batch; delta new
    assert(byId === Map(11L -> 2L, 13L -> 1L))
    // the existing corpus must only be scanned, never exchanged through a
    // shuffle join: both verify joins broadcast the small (new) side
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
  }

  test("bloom agg + might_contain SQL surface: no false negatives, sane negatives") {
    // might_contain requires its filter side to be a constant or scalar
    // subquery (Spark's own runtime-filter restriction) — the idiomatic
    // SQL shape is a scalar subquery over the corpus. CODEGEN_ONLY so a
    // codegen regression FAILS here instead of silently dropping every
    // probe to interpreted (Spark's own BloomFilterMightContain does,
    // on constant-folded probes — the reason graft ships its own)
    withSQLConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      val r = spark.sql(
        """SELECT graft_might_contain(
          |         (SELECT graft_bloom_agg(c, 10) FROM VALUES ('x'), ('y'), ('z') AS t(c)),
          |         'x') AS hit,
          |       graft_might_contain(
          |         (SELECT graft_bloom_agg(c, 10) FROM VALUES ('x'), ('y'), ('z') AS t(c)),
          |         'definitely absent') AS miss""".stripMargin).collect()(0)
      assert(r.getBoolean(0) === true)
      assert(r.getBoolean(1) === false)
    }
  }

  test("weighted mix: rate bounds, supersets nest, stable under repartition") {
    import spark.implicits._
    val df = (0L until 400L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "src")
    def kept(rates: Map[String, (Int, Int)], default: (Int, Int)) =
      Sampling.weightedMix(df, "id", "src", rates, default)
        .select("id").collect().map(_.getLong(0)).toSet
    assert(kept(Map("a" -> ((1, 1)), "b" -> ((0, 1))), (1, 1)) ===
      (0L until 400L by 2).toSet) // 1/1 keeps all of a, 0/1 none of b
    val quarter = kept(Map.empty, (1, 4))
    val half = kept(Map.empty, (1, 2))
    assert(quarter.subsetOf(half)) // raising a rate only ADDS rows
    assert(math.abs(half.size - 200) < 60, s"got ${half.size} of ~200")
    // selection is a function of the id alone, not the partitioning
    val repart = Sampling.weightedMix(df.repartition(13), "id", "src", Map.empty, (1, 2))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(repart === half)
  }

  test("mixture rebalance: budget honored, under-represented groups clamp to keep-all") {
    import spark.implicits._
    // a dominates tokens 4:1; target a=50%, b=50% under a half budget
    val df = (0L until 400L).map { i =>
      val g = if (i % 5 == 4) "b" else "a"
      (i, g, Seq.fill(10)("tok").mkString(" "))
    }.toDF("id", "grp", "text")
    val kept = Sampling.rebalanceMixture(df, "id", "grp", "text",
      Map("a" -> ((50, 100)), "b" -> ((50, 100))), budgetNum = 1, budgetDen = 2)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byG = kept.groupBy(_._2).view.mapValues(_.length).toMap
    // total 4000 tokens, budget 2000, desired 1000 each = 100 docs;
    // a has 320 docs (3200 tokens) -> rate 1000/3200; b has 80 docs
    // (800 tokens) < desired -> clamp: keep ALL of b
    assert(byG("b") === 80)
    assert(math.abs(byG("a") - 100) < 35, s"a kept ${byG("a")} of ~100")
    // deterministic: repartitioned rerun selects the same rows
    val again = Sampling.rebalanceMixture(df.repartition(11), "id", "grp", "text",
      Map("a" -> ((50, 100)), "b" -> ((50, 100))), 1, 2)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(again.toSet === kept.toSet)
    // a group absent from the target map is dropped entirely
    val dropped = Sampling.rebalanceMixture(df, "id", "grp", "text",
      Map("a" -> ((100, 100))), 1, 2)
      .collect().map(_.getString(1)).toSet
    assert(dropped === Set("a"))
  }

  test("bigram LM score: fluent text beats shuffled text; reference corpus option") {
    import spark.implicits._
    val fluent = "the cat sat on the mat and the dog sat on the rug"
    val corpus = Seq(
      (1L, fluent),
      (2L, "the cat sat on the rug and the dog sat on the mat"),
      (3L, "rug the and mat dog on the sat cat sat the on the")) // same tokens, shuffled
      .toDF("doc_id", "text")
    val scores = graft.operators.Classifier.bigramLmScore(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // same token count => same bigram count; fluency shows in logprob
    assert(scores(1L)._1 === scores(3L)._1)
    assert(scores(1L)._2 > scores(3L)._2,
      s"fluent ${scores(1L)} should beat shuffled ${scores(3L)}")
    // short docs score (0, 0)
    val short = graft.operators.Classifier.bigramLmScore(
      Seq((9L, "one")).toDF("doc_id", "text"), "doc_id", "text")
      .collect()(0)
    assert(short.getLong(1) === 0L && short.getLong(2) === 0L)
    // scoring against a DISJOINT reference corpus: unseen bigrams get
    // the smoothing floor, so out-of-domain text scores below in-domain
    val ref = Seq((1L, fluent)).toDF("doc_id", "text")
    val out = graft.operators.Classifier.bigramLmScore(
      Seq((1L, fluent), (2L, "completely alien vocabulary here"))
        .toDF("doc_id", "text"),
      "doc_id", "text", reference = Some(ref))
      .collect().map(r => r.getLong(0) -> (r.getLong(2).toDouble /
        math.max(r.getLong(1), 1L))).toMap
    assert(out(1L) > out(2L))
  }

  test("chunking covers every token with the configured overlap") {
    import spark.implicits._
    val df = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")), (2L, "a b")).toDF("id", "text")
    val out = TextOps.chunkDocuments(df, "id", "text", 4, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val doc1 = out.filter(_._1 == 1L).sortBy(_._2)
    // step 3: starts 0,3,6,9 -> windows of 4 tokens, last clipped
    assert(doc1.map(_._4).toSeq === Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10", "w10"))
    assert(doc1.map(_._3).toSeq === Seq(4L, 4L, 4L, 1L))
    // consecutive chunks share exactly `overlap` tokens
    doc1.sliding(2).foreach { case Array(a, b) =>
      assert(a._4.split(" ").takeRight(1).toSeq === b._4.split(" ").take(1).toSeq)
    }
    assert(out.filter(_._1 == 2L).map(_._4).toSeq === Seq("a b"))
  }

  test("split assignment is disjoint, exhaustive, and id-stable") {
    import spark.implicits._
    val df = (0L until 1000L).toDF("id")
    val splits = Seq("train" -> 8, "val" -> 1, "test" -> 1)
    val out = Sampling.assignSplits(df, "id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size === 1000) // exactly one label per row
    val counts = out.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(counts("train") - 800) < 60, counts.toString)
    assert(counts.keySet === Set("train", "val", "test"))
    // membership is a pure function of the id: a corpus subset or
    // repartitioning never moves a row between splits
    val subset = Sampling.assignSplits(df.where(col("id") < 100).repartition(7), "id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    subset.foreach { case (id, s) => assert(out(id) === s) }
  }

  test("truncate to tokens clips, counts, and flags") {
    import spark.implicits._
    val df = Seq((0L, "One two THREE four five"), (1L, "short text")).toDF("id", "text")
    val out = TextOps.truncateToTokens(df, "text", "clipped", 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(out(0L) === (("one two three", 3L, true)))
    assert(out(1L) === (("short text", 2L, false)))
  }

  test("fold accents strips diacritics, passes ASCII and non-Latin through") {
    import spark.implicits._
    val df = Seq(
      (0L, "café às ñü ÀÉÎ"),
      (1L, "plain ascii text!"),
      (2L, "日本語 και русский"),
      (3L, null.asInstanceOf[String]))
      .toDF("id", "t")
    val out = df.select(col("id"), graft.functions.graft_fold_accents(col("t")).as("f"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(0L).get === "cafe as nu AEI")
    assert(out(1L).get === "plain ascii text!")
    // NFD leaves CJK untouched; й decomposes to и + combining breve, so
    // the mark strips — exactly what DuckDB/utf8proc strip_accents does
    // ('русский' -> 'русскии', verified), keeping the oracle parity
    assert(out(2L).get === "日本語 και русскии")
    assert(out(3L).isEmpty)
  }

  test("paragraph dedup keeps first occurrence corpus-wide, reassembles in order") {
    import spark.implicits._
    val df = Seq(
      (10L, "header\n\nbody ten\n\nfooter"),
      (20L, "header\n\nbody twenty\n\nfooter"), // header+footer dropped (seen in 10)
      (30L, "header\n\nfooter"))                // fully deduplicated -> empty
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(10L) === ((3L, 3L, "header\n\nbody ten\n\nfooter")))
    assert(out(20L) === ((3L, 1L, "body twenty")))
    assert(out(30L) === ((2L, 0L, "")))
  }

  test("sequence packing: contiguous offsets within a shard, budget arithmetic") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", "one two three"),        // 3 tokens
      (2L, "a", "four five six seven"),  // 4 tokens
      (3L, "a", "eight nine"),           // 2 tokens
      (4L, "b", "x y z"))                // separate shard restarts at 0
      .toDF("doc_id", "lang", "text")
    val rows = TextOps.packSequences(df, "doc_id", "text", "lang", 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // layout order inside a shard is md5(id)-determined; verify the
    // invariants instead of the order: offsets are the running sum mod
    // budget, seq ids the running sum div budget, shard b starts fresh
    val a = rows.filter(_._1 == "a").sortBy(t => t._4 * 4 + t._5)
    assert(a.map(_._3).sum === 9L)
    var before = 0L
    a.foreach { t =>
      assert(t._4 === before / 4 && t._5 === before % 4, s"row $t at before=$before")
      before += t._3
    }
    val b = rows.filter(_._1 == "b")
    assert(b === Array(("b", 4L, 3L, 0L, 0L)))
  }

  test("native word-shingle hashes match string shingles on tab/newline-edged text") {
    import spark.implicits._
    // regression: Java String.trim/2-arg split vs Spark trim (U+0020
    // only)/split(-1) diverge exactly on texts with leading \t or
    // trailing \n — the hash<->string bijection must hold there too
    val texts = Seq(
      "\tleading tab text here now",
      "trailing newline text here now\n",
      " \t mixed \n ws \t text ",
      "",
      "short\n")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val n = 3
    val out = df.select(col("id"),
      size(graft.functions.graft_word_shingles(col("t"), n)).as("nh"),
      size(Dedup.shingles(col("t"), n)).as("ns"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    out.foreach { case (id, nh, ns) =>
      assert(nh === ns, s"hash/string shingle count diverged for text ${texts(id.toInt)}")
    }
    // hash array and gram array are POSITIONALLY aligned (both distinct in
    // first-occurrence order) — the invariant boilerplateNgrams's phase-2
    // gram resolution relies on
    val aligned = df.select(
      size(graft.functions.graft_word_shingles(col("t"), n)).as("a"),
      size(Dedup.shingles(col("t"), n)).as("b")).collect()
    aligned.foreach(r => assert(r.getInt(0) === r.getInt(1)))
    // for grams of NON-empty tokens the gram string round-trips: hashing
    // the gram text alone reproduces the in-document gram hash (texts with
    // empty edge tokens — leading \t — don't round-trip, which is exactly
    // why phase-2 resolution is positional, not re-hashed)
    val clean = Seq((0L, "alpha beta gamma delta epsilon")).toDF("id", "t")
    val parity = clean.select(
      graft.functions.graft_word_shingles(col("t"), n).as("hs"),
      transform(Dedup.shingles(col("t"), n),
        g => element_at(graft.functions.graft_word_shingles(g, n), 1)).as("rehash"))
      .collect()
    parity.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }

  test("lm coverage signals: oov and bigram counts against a reference slice") {
    import spark.implicits._
    // reference corpus: "the cat sat" twice, "the dog ran" once
    //   vocab (minCount=2): the (3x), cat (2x), sat (2x)
    //   bigrams: {the cat, cat sat, the dog, dog ran}
    val ref = Seq("the cat sat", "the cat sat", "the dog ran").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val docs = Seq(
      (10L, "the cat sat"),      // 0 oov; both bigrams known
      (11L, "the cat flew"),     // flew oov; "the cat" known, "cat flew" not
      (12L, "zz qq"),            // all oov; bigram unknown
      (13L, "cat"))              // known token, no bigrams
      .toDF("doc_id", "text")
    val out = TextOps.lmCoverageSignals(docs, ref, "doc_id", "text", minCount = 2)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(out(0) === ((10L, 3L, 0L, 2L, 2L, 1.0)))
    assert(out(1) === ((11L, 3L, 1L, 2L, 1L, 0.5)))
    assert(out(2) === ((12L, 2L, 2L, 1L, 0L, 0.0)))
    assert(out(3) === ((13L, 1L, 0L, 0L, 0L, 0.0)))
  }

  test("pii redaction replaces urls, emails, phones with tags and counts each") {
    import spark.implicits._
    val df = Seq(
      (1L, "See https://a.example.com/x?e=a@b.co then mail Bob@Test.org or call 555-123-4567"),
      (2L, "clean text with no contact info at all"))
      .toDF("doc_id", "text")
    val out = TextOps.redactPii(df, "doc_id", "text").orderBy("id").collect()
    val r1 = out(0)
    // the email inside the URL was consumed by the <URL> tag, not double-counted
    assert(r1.getString(1) === "see <URL> then mail <EMAIL> or call <PHONE>")
    assert((r1.getLong(2), r1.getLong(3), r1.getLong(4)) === ((1L, 1L, 1L)))
    val r2 = out(1)
    assert(r2.getString(1) === "clean text with no contact info at all")
    assert((r2.getLong(2), r2.getLong(3), r2.getLong(4)) === ((0L, 0L, 0L)))
  }

  test("int8 quantization: integer steps, max component at +-127, zero preserved") {
    import spark.implicits._
    val df = Seq((1L, Seq(0.5, -1.0, 0.0, 0.25))).toDF("id", "v")
    val q = df.select(graft.operators.Similarity.int8Quantize(col("v")).as("q"))
      .collect()(0).getSeq[Double](0)
    // scale = 1.0/127; 0.5 -> round(63.5) = 64 (half away from zero)
    assert(q === Seq(64.0, -127.0, 0.0, 32.0))
  }

  test("event funnel: ordered steps, per-step window, drop-offs keep nulls") {
    import spark.implicits._
    val ev = Seq(
      // user 1 completes: signup@10, click@15 (<=10+20), purchase@30 (<=15+20)
      (1L, "signup", 10L), (1L, "click", 15L), (1L, "purchase", 30L),
      // user 2 drops at click: click happened BEFORE signup, never after
      (2L, "click", 5L), (2L, "signup", 10L),
      // user 3: click inside window but purchase outside click+20
      (3L, "signup", 0L), (3L, "click", 20L), (3L, "purchase", 41L),
      // user 4: no signup at all -> not in the funnel
      (4L, "click", 1L), (4L, "purchase", 2L),
      // user 1 noise: later signup/clicks must not shift the mins
      (1L, "signup", 50L), (1L, "click", 11L))
      .toDF("user_id", "event_type", "t")
    val out = EventOps.funnelStages(ev, "user_id", "event_type", "t",
      Seq("signup", "click", "purchase"), within = 20L)
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0),
        r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 10L, 11L, 30L),   // click@11 (after signup@10) is the FIRST qualifying click
      (2L, 10L, null, null),
      (3L, 0L, 20L, null)))
  }

  test("retention cohorts: integer buckets, offsets from first activity") {
    import spark.implicits._
    val ev = Seq(
      (1L, 5L), (1L, 15L), (1L, 25L),  // cohort 0, active buckets 0,1,2
      (2L, 12L), (2L, 28L),            // cohort 1, active 1,2
      (3L, 13L), (3L, 14L))            // cohort 1, active bucket 1 only (distinct)
      .toDF("user_id", "t")
    val out = EventOps.retentionCohorts(ev, "user_id", "t", bucket = 10L)
      .orderBy("cohort_bucket", "bucket_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (0L, 0L, 1L), (0L, 1L, 1L), (0L, 2L, 1L),
      (1L, 0L, 2L), (1L, 1L, 1L)))
  }

  test("frame sampling explodes real GIF frames at the stride, skips junk payloads") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 5L).toDF("doc_id") // 2, 3, 7 frames respectively
    val media = Multimodal.synthesizeVideoContent(ids, "doc_id")
    val out = Multimodal.sampleFrames(media, "doc_id", every = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    val byDoc = out.groupBy(_._1)
    assert(byDoc(0L).map(_._2).sorted === Seq(0))        // 2 frames -> idx 0
    assert(byDoc(1L).map(_._2).sorted === Seq(0, 2))     // 3 frames -> 0, 2
    assert(byDoc(5L).map(_._2).sorted === Seq(0, 2, 4, 6)) // 7 frames
    // decoded dims match the synthesis parameters for every sampled frame
    out.foreach { case (id, _, w, h) =>
      val (ew, eh, _) = Multimodal.syntheticVideo(id)
      assert((w, h) === ((ew, eh)))
    }
    // junk bytes produce no rows instead of failing the task
    val junk = Seq((9L, "GIF8 but not really".getBytes("UTF-8"))).toDF("doc_id", "content")
    assert(Multimodal.sampleFrames(junk, "doc_id", 2).count() === 0)
  }

  test("marker hits: one-pass token-equality counts, edge whitespace, repeats") {
    import spark.implicits._
    val df = Seq(
      (1L, "The the THE cat"),          // case folding; adjacent repeats all count
      (2L, "\tthe cat\n"),              // tab/newline edges (Spark trim is U+0020-only)
      (3L, "other words entirely"))
      .toDF("id", "t")
    val out = df.select(col("id"),
      graft.functions.graft_marker_hits(col("t"), Seq("the", "cat")).as("h"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(out(0) === ((1L, Seq(3L, 1L))))
    assert(out(1) === ((2L, Seq(1L, 1L))))
    assert(out(2) === ((3L, Seq(0L, 0L))))
    // parity with the SQL-expressible filter-count the oracles use
    val parity = df.select(
      graft.functions.graft_marker_hits(col("t"), Seq("the")).getItem(0).as("native"),
      size(filter(TextOps.words(col("t")), w => w === lit("the"))).cast("long").as("builtin"))
      .collect()
    parity.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // a duplicated marker mirrors its first slot
    val dup = df.where(col("id") === 1)
      .select(graft.functions.graft_marker_hits(col("t"), Seq("the", "the")))
      .collect()(0).getSeq[Long](0)
    assert(dup === Seq(3L, 3L))
    // markers are case-folded like the tokens: 'The' means "the", not a
    // silent guaranteed zero (round-6 advice)
    val caps = df.where(col("id") === 1)
      .select(graft.functions.graft_marker_hits(col("t"), Seq("The", "CAT", "the")))
      .collect()(0).getSeq[Long](0)
    assert(caps === Seq(3L, 1L, 3L))
  }

  test("profiler: per-column stats with null accounting, one scan for all columns") {
    import spark.implicits._
    val df = Seq(
      (1L, Option(1.0), Option("a")),
      (2L, None, Option("b")),
      (3L, Option(2.0), Option("a")),
      (4L, Option(2.0), None))
      .toDF("id", "v", "s")
    val out = graft.operators.Profiler.profile(df)
      .collect().map(r => r.getString(0) -> r).toMap
    val id = out("id")
    assert((id.getLong(1), id.getLong(2), id.getLong(3)) === ((4L, 0L, 4L)))
    // EXCLUSIVE quartiles of 1..4: first cum > 1 / > 2 / > 3
    assert((id.getDouble(4), id.getDouble(5), id.getDouble(6)) === ((2.0, 3.0, 4.0)))
    assert((id.getDouble(7), id.getDouble(8)) === ((1.0, 4.0)))
    val v = out("v")
    assert((v.getLong(2), v.getLong(3)) === ((1L, 2L))) // one null, two values
    assert(v.getDouble(5) === 2.0) // median of (1,2,2): first cum > 1.5
    val s = out("s")
    assert((s.getLong(2), s.getLong(3)) === ((1L, 2L)))
    (4 to 8).foreach(i => assert(s.isNullAt(i))) // non-numeric
    // all columns' stats ride ONE scan + ONE aggregate
    val prof = graft.operators.Profiler.profile(
      spark.read.parquet("/root/testdata/sf0.001/supplier.parquet"))
    val plan = prof.queryExecution.executedPlan.toString
    assert("FileScan|BatchScan".r.findAllIn(plan).length === 1, plan)
    // unknown column fails fast
    val bad = intercept[IllegalArgumentException] {
      graft.operators.Profiler.profile(df, Seq("nope"))
    }
    assert(bad.getMessage.contains("nope"))
    // grouped variant: same stats per group, group keys carried through;
    // group columns are excluded from the default target list
    val byS = graft.operators.Profiler.profileBy(df, Seq("s"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(byS.keySet === Set(("a", "id"), ("a", "v"), ("b", "id"), ("b", "v"),
      (null, "id"), (null, "v")))
    val aId = byS(("a", "id"))
    assert((aId.getLong(2), aId.getLong(4)) === ((2L, 2L))) // rows 1,3
    assert(aId.getDouble(6) === 3.0) // median of (1,3): first cum > 1
  }

  test("join stats: exact overlap and PK-FK size estimate below sketch capacity") {
    import spark.implicits._
    // left: fact side, custkeys 1..10 with multiplicity 3; right: dim side
    // keys 6..15 (overlap = 5); plus a null key on each side (joins
    // nothing, must not count)
    val left = ((1 to 10).flatMap(k => Seq.fill(3)(Option(k.toLong))) :+ None)
      .toDF("k")
    val right = ((6 to 15).map(k => Option(k.toLong)) :+ None).toDF("k")
    val row = graft.operators.JoinStats.keyOverlap(left, "k", right, "k").collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) === ((10L, 10L, 5L)))
    assert((row.getLong(3), row.getLong(4)) === ((30L, 10L)))
    // uniform estimate: 5 * (30/10) * (10/10) = 15 = the true join size
    assert(row.getDouble(5) === 15.0)
  }

  test("profiler and join stats degrade gracefully on empty inputs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("id", "s")
    val prof = graft.operators.Profiler.profile(empty)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(prof.keySet === Set("id", "s"))
    assert(prof("id").getLong(1) === 0L) // n_rows
    assert(prof("id").getLong(2) === 0L) // n_nulls
    val some = Seq((1L, "a")).toDF("k", "x")
    val js = graft.operators.JoinStats.keyOverlap(
      Seq.empty[(Long, String)].toDF("k", "x"), "k", some, "k").collect()(0)
    assert(js.getLong(4) === 1L)  // right rows counted
    assert(js.getLong(3) === 0L)  // empty left: zero rows
    // overlap of nothing with something is 0 (or null if the empty
    // sketch serializes to null) — never an error
    assert(js.isNullAt(2) || js.getLong(2) === 0L)
  }

  test("int8 quantize treats null elements as zero magnitude") {
    // element nullability passes Spark's input-type check, so nulls DO
    // reach the expression; they must quantize to 0.0, not NPE or read
    // unsafe garbage (round-6 advice)
    val out = spark.sql(
      "SELECT graft_int8_quantize(array(CAST(NULL AS DOUBLE), 2.0D, -1.0D))")
      .collect()(0).getSeq[Double](0)
    assert(out === Seq(0.0, 127.0, -64.0))
  }

  test("term drift ranks appear/disappear terms by cross-multiplied counts") {
    import spark.implicits._
    // A: 4 tokens total; B: 4 tokens total. "zz" only in A (2x),
    // "qq" only in B (1x), "aa" balanced.
    val a = Seq((1L, "aa zz zz bb")).toDF("id", "text")
    val b = Seq((2L, "aa bb bb qq")).toDF("id", "text")
    val out = graft.operators.TextOps.termDrift(a, b, "text", 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // drift = |cnt_a*4 - cnt_b*4|: zz->8, bb->4, qq->4, aa->0
    assert(out.map(_._1).toSeq === Seq("zz", "bb", "qq", "aa"))
    assert(out.head === (("zz", 2L, 0L, 8L)))
    assert(out.last._4 === 0L)
  }

  test("cluster cap keeps at most k per component, deterministically") {
    import spark.implicits._
    val nodes = (1L to 6L).toDF("id")
    // {1,2,3} one cluster, {4,5} another, {6} singleton
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = graft.operators.Dedup.capClusters(nodes, edges, "id", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
    val byComp = out.groupBy(_._2)
    assert(byComp.keySet === Set(1L, 4L, 6L))
    assert(byComp(1L).count(_._4) === 2) // 3-cluster capped at 2
    assert(byComp(4L).count(_._4) === 2)
    assert(byComp(6L).count(_._4) === 1)
    // ranks are 1..n within each component
    byComp.values.foreach(c => assert(c.map(_._3).sorted === (1 to c.length).toSeq))
    // deterministic: same result on a different partitioning
    val out2 = graft.operators.Dedup.capClusters(
      nodes.repartition(7), edges.repartition(3), "id", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
    assert(out.toSet === out2.toSet)
  }

  test("term drift plans a global top-k, never a full sort") {
    import spark.implicits._
    val a = Seq((1L, "x y z")).toDF("id", "text")
    val b = Seq((2L, "x q r")).toDF("id", "text")
    val plan = graft.operators.TextOps.termDrift(a, b, "text", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("cluster cap adds exactly one shuffle beyond the component labels") {
    import spark.implicits._
    val nodes = (1L to 10L).toDF("id")
    val edges = Seq((1L, 2L)).toDF("id_a", "id_b")
    val plan = graft.operators.Dedup.capClusters(nodes, edges, "id", k = 2)
      .queryExecution.executedPlan.toString
    // the rank window is ONE comp-keyed exchange over the (cached)
    // component labels; the kept flag adds no further movement
    assert("Exchange hashpartitioning\\(comp".r.findAllIn(plan).length === 1, plan)
  }

  test("quantized knn coarse pass broadcasts queries and never shuffles the corpus") {
    import spark.implicits._
    val corpus = (0 until 20).map(i =>
      (i.toLong, (0 until 4).map(j => (i * 4 + j + 1).toFloat))).toDF("id", "v")
    val queries = corpus.where(col("id") < 2)
    val df = graft.operators.Similarity.quantizedKnn(corpus, queries, "id", "v", 2, m = 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan) // non-equi self-exclusion join
    // coarse top-m prunes map-side before its shuffle
    assert(plan.contains("WindowGroupLimit"), plan)
    // the quantize is the native one-pass expression, not a lambda (in the
    // executed plan ConvertToLocalRelation pre-evaluates it for this local
    // test relation, so pin it in the analyzed plan)
    assert(df.queryExecution.analyzed.toString.contains("graft_int8_quantize"), plan)
  }

  test("quantized knn: top-k matches exact brute force on well-separated vectors") {
    import spark.implicits._
    val dim = 8
    // orthogonal-ish corpus: basis vectors plus noise-free copies scaled
    val corpus = (0 until 6).map { i =>
      (i.toLong, (0 until dim).map(j => if (j == i) 1.0f else 0.02f * ((i + j) % 3)))
    }.toDF("id", "v")
    val queries = corpus.where(col("id") < 2)
    val exact = graft.operators.Similarity.bruteForceKnn(corpus, queries, "id", "v", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val approx = graft.operators.Similarity.quantizedKnn(corpus, queries, "id", "v", 3, m = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(approx === exact)
  }

  test("url parse recovers planted hosts, eTLD+1 domains, paths, tracking flags") {
    import spark.implicits._
    val docs = Seq((0L, "src0"), (3L, "src1"), (5L, "src2"), (14L, "src3"), (30L, "src0"))
      .toDF("doc_id", "source")
    val out = UrlOps.parseUrls(UrlOps.synthesizeUrls(docs, "doc_id", "source"), "url")
      .orderBy("doc_id")
      .select("doc_id", "host", "domain", "path", "has_tracking", "clean_url")
      .collect()
    // id 0: www. (0%3), tld com (0%4), tracking (0%2)
    assert(out(0).getString(1) === "www.src0-0.com")
    assert(out(0).getString(2) === "src0-0.com") // subdomain stripped
    assert(out(0).getString(3) === "/p0/doc-0.html")
    assert(out(0).getBoolean(4))
    assert(out(0).getString(5) === "https://www.src0-0.com/p0/doc-0.html")
    // id 3: www. (3%3), io tld, no tracking (odd)
    assert(out(1).getString(1) === "www.src1-3.io")
    assert(out(1).getString(2) === "src1-3.io")
    assert(!out(1).getBoolean(4))
    // id 5: cdn. subdomain, org tld
    assert(out(2).getString(1) === "cdn.src2-5.org")
    assert(out(2).getString(2) === "src2-5.org")
    // id 14: bare host, multi-label suffix — domain keeps all three labels
    assert(out(3).getString(1) === "src3-14.co.uk")
    assert(out(3).getString(2) === "src3-14.co.uk")
    // id 30: www. + co.uk — eTLD+1 strips ONLY the subdomain
    assert(out(4).getString(1) === "www.src0-30.co.uk")
    assert(out(4).getString(2) === "src0-30.co.uk")
  }

  test("junk urls parse to null features and keep their row") {
    import spark.implicits._
    val junk = Seq((1L, "not a url at all"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "url")
    val out = UrlOps.parseUrls(junk, "url").orderBy("doc_id").collect()
    assert(out.length === 2)
    assert(out.forall(r => r.isNullAt(r.fieldIndex("host"))))
    assert(out.forall(r => r.isNullAt(r.fieldIndex("domain"))))
    assert(out.forall(r => !r.getBoolean(r.fieldIndex("has_tracking"))))
  }

  test("corpus shuffle: shards balanced-ish, pos contiguous, stable under repartition") {
    import spark.implicits._
    val docs = (0L until 256L).toDF("doc_id")
    val a = Sampling.shuffleShards(docs, "doc_id", numShards = 8, seed = 42L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(a.length === 256)
    val byShard = a.groupBy(_._2)
    assert(byShard.keySet.subsetOf((0 until 8).toSet))
    // positions within each shard are exactly 1..n
    byShard.values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length))
    }
    // uniform-ish split: no shard is empty or holds half the corpus
    assert(byShard.values.forall(g => g.length > 8 && g.length < 128))
    // byte-identical assignment under a different physical partitioning
    val b = Sampling.shuffleShards(docs.repartition(7), "doc_id", 8, 42L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(b === a.toSet)
    // a different seed yields a genuinely different permutation
    val c = Sampling.shuffleShards(docs, "doc_id", 8, 43L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(c !== a.toSet)
  }

  test("url parse is a pure map-side pass; corpus shuffle plans exactly one exchange") {
    import spark.implicits._
    val docs = (0L until 64L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val parsed = UrlOps.parseUrls(UrlOps.synthesizeUrls(docs, "doc_id", "source"), "url")
    val pPlan = parsed.queryExecution.executedPlan.toString
    assert(!pPlan.contains("Exchange"), pPlan)
    val sh = Sampling.shuffleShards(docs, "doc_id", numShards = 4, seed = 1L)
    val sPlan = sh.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(sPlan).length === 1, sPlan)
  }

  test("per-domain cap prunes map-side via WindowGroupLimit") {
    import spark.implicits._
    val docs = (0L until 64L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val parsed = UrlOps.parseUrls(UrlOps.synthesizeUrls(docs, "doc_id", "source"), "url")
    val capped = Sampling.stratifiedSample(parsed, Seq("domain"), "doc_id", k = 2)
    assert(capped.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  /** Brute-force token-budget reference: sort by (score desc, id), take
   *  the maximal prefix with cumulative tokens <= budget. */
  private def budgetPrefix(
      rows: Seq[(Long, Double, Long)], budget: Long): Set[Long] = {
    var cum = 0L
    rows.sortBy(t => (-t._2, t._1)).iterator.map { t =>
      cum += t._3; (t._1, cum)
    }.takeWhile(_._2 <= budget).map(_._1).toSet
  }

  test("token budget selection equals the cumulative-window filter, ties included") {
    import spark.implicits._
    val rows = (0L until 300L).map(i => (i, ((i * 7) % 13).toDouble, (i % 5) + 1L))
    val df = rows.toDF("doc_id", "score", "n_tokens").repartition(7)
    for (budget <- Seq(0L, 47L, 200L, 10000L)) {
      val got = Sampling
        .selectByTokenBudget(df, "doc_id", "score", "n_tokens", budget,
          buckets = 4, refineLimit = 25)
        .select("id").as[Long].collect().toSet
      assert(got === budgetPrefix(rows, budget), s"budget=$budget")
    }
  }

  test("token budget selection splits a single-score mass by the id tiebreaker") {
    import spark.implicits._
    // every row has the SAME score: the score walk cannot split, the
    // selector must fall through to ascending-id refinement
    val rows = (0L until 200L).map(i => (i, 5.0, 3L))
    val df = rows.toDF("doc_id", "score", "n_tokens").repartition(5)
    val got = Sampling
      .selectByTokenBudget(df, "doc_id", "score", "n_tokens", budget = 30L,
        buckets = 4, refineLimit = 20)
      .select("id").as[Long].collect().toSet
    assert(got === (0L until 10L).toSet)
  }

  test("token budget selection drops null/NaN rows and rejects bad params") {
    import spark.implicits._
    val df = Seq(
      (1L, 2.0, 5L), (2L, Double.NaN, 5L), (3L, 1.0, 5L))
      .toDF("doc_id", "score", "n_tokens")
    val got = Sampling
      .selectByTokenBudget(df, "doc_id", "score", "n_tokens", budget = 10L)
      .select("id").as[Long].collect().toSet
    assert(got === Set(1L, 3L))
    intercept[IllegalArgumentException] {
      Sampling.selectByTokenBudget(df, "doc_id", "score", "n_tokens", -1L)
    }
    intercept[IllegalArgumentException] {
      Sampling.selectByTokenBudget(df, "doc_id", "score", "n_tokens", 1L, buckets = 1)
    }
  }

  test("new curation operators pin their plan shapes") {
    import spark.implicits._
    val docs = (0L until 64L)
      .map(i => (i, s"grp${i % 4}", s"tok$i words here", i.toDouble, i % 7 + 1L))
      .toDF("doc_id", "grp", "text", "score", "n_tokens")
    // per-group budget: ONE exchange (the group hash partitioning)
    val grouped = Sampling.selectByTokenBudgetPerGroup(
      docs, "grp", "doc_id", "score", "n_tokens", Map.empty, 10L)
    val gPlan = grouped.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(gPlan).length === 1, gPlan)
    // contamination overlap: benchmark side BROADCASTS; the corpus-sized
    // side never builds a shuffled join
    val ov = Dedup.contaminationOverlap(docs, docs.limit(4), "doc_id", "text", 3)
    val oPlan = ov.queryExecution.executedPlan.toString
    assert(oPlan.contains("BroadcastHashJoin"), oPlan)
    assert(!oPlan.contains("SortMergeJoin"), oPlan)
    // size shards: the bucket-offsets frame joins back as a BROADCAST,
    // and the corpus takes exactly one hash exchange (by bucket) plus
    // the bounded single-partition offsets exchange — never a sort of
    // the full data
    val sh = Sampling.sizeShards(docs, "doc_id", "n_tokens", 20L, buckets = 4)
    val sPlan = sh.queryExecution.executedPlan.toString
    assert(sPlan.contains("BroadcastHashJoin") || sPlan.contains("BroadcastExchange"), sPlan)
    assert(!sPlan.contains("SortMergeJoin"), sPlan)
  }

  test("value bucket is the count of bounds <= v (binary search == chain)") {
    import spark.implicits._
    val bounds = Seq(1.0, 2.0, 2.0, 5.5) // duplicate split point allowed
    val vs = Seq(0.5, 1.0, 1.5, 2.0, 3.0, 5.5, 9.0)
    val got = vs.toDF("v")
      .select(graft.functions.graft_value_bucket(col("v"), bounds).as("b"))
      .as[Int].collect().toSeq
    assert(got === vs.map(v => bounds.count(_ <= v)))
    // SQL registration + constant-literal validation
    assert(spark.sql("SELECT graft_value_bucket(2.5d, array(1.0d, 2.0d, 3.0d))")
      .collect()(0).getInt(0) === 2)
    intercept[Exception] {
      spark.sql("SELECT graft_value_bucket(1.0d, array(3.0d, 1.0d))").collect()
    } // unsorted bounds rejected at resolution
  }

  /** Brute-force shard reference: shard = exclusive-prefix-sum DIV target
   *  over ascending-id order. */
  private def shardPrefix(
      rows: Seq[(Long, Long)], target: Long): Map[Long, Long] = {
    var cum = 0L
    rows.sortBy(_._1).map { case (id, b) =>
      val s = cum / target; cum += b; id -> s
    }.toMap
  }

  test("per-group token budget: each group's own prefix, nulls dropped") {
    import spark.implicits._
    val rows = (0L until 300L).map(i =>
      (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c",
        ((i * 7) % 13).toDouble, (i % 5) + 1L))
    val df = rows.toDF("doc_id", "grp", "score", "n_tokens").repartition(7)
    val budgets = Map("a" -> 40L, "b" -> 0L)
    val got = Sampling
      .selectByTokenBudgetPerGroup(df, "grp", "doc_id", "score", "n_tokens",
        budgets, defaultBudget = 25L)
      .select("id").as[Long].collect().toSet
    val expect = rows.groupBy(_._2).flatMap { case (g, rs) =>
      val budget = budgets.getOrElse(g, 25L)
      var cum = 0L
      rs.sortBy(t => (-t._3, t._1)).iterator.map { t =>
        cum += t._4; (t._1, cum)
      }.takeWhile(_._2 <= budget).map(_._1)
    }.toSet
    assert(got === expect)
    assert(got.nonEmpty && !got.exists(_ % 3 == 1)) // budget 0 takes none of b
    // null group rows are dropped, not a group of their own
    val withNull = rows.toDF("doc_id", "grp", "score", "n_tokens")
      .union(Seq((999L, null.asInstanceOf[String], 99.0, 1L))
        .toDF("doc_id", "grp", "score", "n_tokens"))
    assert(!Sampling
      .selectByTokenBudgetPerGroup(withNull, "grp", "doc_id", "score",
        "n_tokens", Map.empty, 25L)
      .select("id").as[Long].collect().contains(999L))
    intercept[IllegalArgumentException] {
      Sampling.selectByTokenBudgetPerGroup(df, "grp", "doc_id", "score",
        "n_tokens", Map("a" -> -1L), 10L)
    }
  }

  test("classifier training: exact slot counts, weights separate the classes") {
    import spark.implicits._
    val docs = Seq(
      (0L, true, "good clean prose here"), (1L, true, "good clean text again"),
      (2L, true, "prose good here clean"), (3L, false, "spam junk casino click"),
      (4L, false, "junk spam click casino"), (5L, false, "casino spam junk click"),
      (6L, false, null.asInstanceOf[String])).toDF("id", "label", "text")
    val dim = 32
    val trained = graft.operators.Classifier.trainHashedBow(docs, "label", "text", dim).cache()
    // counts are exact: 12 positive and 12 negative tokens total (the
    // null-text row is ignored), and totals replicate on every row
    val (posTot, negTot) = trained.select("pos_total", "neg_total")
      .distinct().as[(Long, Long)].collect().toSeq match {
        case Seq(t) => t
        case other => fail(s"totals not constant: $other")
      }
    assert((posTot, negTot) === ((12L, 12L)))
    // slot parity with the native scorer: scoring a token with the
    // identity weight vector (w_i = i) returns its slot
    val slotOf = docs.where(col("text").isNotNull)
      .select(explode(graft.operators.TextOps.words(col("text"))).as("w"))
      .distinct()
      .select(col("w"), graft.functions
        .graft_hashed_bow_score(col("w"), (0 until dim).map(_.toDouble))
        .cast("int").as("slot"))
      .as[(String, Int)].collect().toMap
    val trainedSlots = trained.select("slot").as[Int].collect().toSet
    assert(trainedSlots === slotOf.values.toSet)
    // the trained model separates held-in class text
    val w = graft.operators.Classifier.fitWeights(trained, dim)
    assert(w.length === dim)
    val scored = Seq(("good clean", 1), ("spam casino", -1)).toDF("text", "want")
      .select(col("want"), graft.functions
        .graft_hashed_bow_score(col("text"), w).as("s"))
      .as[(Int, Double)].collect().toMap
    assert(scored(1) > 0.0 && scored(-1) < 0.0)
    trained.unpersist()
  }

  test("size shards equals the cumulative-window assignment") {
    import spark.implicits._
    // bytes vary 1..100; an oversized row (10x target) must advance the
    // prefix past several boundaries (skipped shard ids, monotone order)
    val rows = (0L until 500L).map(i => (i, (i * 37) % 100 + 1L)) :+ (500L, 3000L) :+ (501L, 17L)
    val df = rows.toDF("doc_id", "n_bytes").repartition(7)
    for (target <- Seq(300L, 1000L)) {
      val got = Sampling.sizeShards(df, "doc_id", "n_bytes", target, buckets = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got === shardPrefix(rows, target), s"target=$target")
    }
    // shard ids monotone in id order; per-shard bytes <= target unless a
    // single row overflows alone
    val asg = Sampling.sizeShards(df, "doc_id", "n_bytes", 300L, buckets = 8)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(asg.map(_._3).sliding(2).forall(p => p.head <= p.last))
    val perShard = asg.groupBy(_._3).view.mapValues(_.map(_._2).sum)
    assert(perShard.forall { case (_, tot) => tot <= 300L + 3000L })
    intercept[IllegalArgumentException] {
      Sampling.sizeShards(df, "doc_id", "n_bytes", 0L)
    }
  }

  test("round-7 operators pin their plan shapes") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // repeated spans: the posting-cap prune is a semi join on hashes, the
    // run window partitions by (pair, offset) — never a global window —
    // and no text column survives into the pair join
    val spans = graft.operators.Dedup.repeatedSpans(docs, "doc_id", "text")
    val spanPlan = spans.queryExecution.executedPlan.toString
    assert(spanPlan.contains("LeftSemi"), spanPlan)
    assert(spanPlan.contains("graft_word_shingle_seq"), spanPlan)
    assert(!spanPlan.contains("No Partition Defined"), spanPlan)
    // span rewrite: the cut is the native graft_drop_words expression and
    // the corpus text is scanned exactly once on the rewrite side
    val rw = graft.operators.Dedup.dedupSpansRewrite(docs, "doc_id", "text")
    assert(rw.queryExecution.analyzed.toString.contains("graft_drop_words"))
    // vocab: top-N is TakeOrdered (no global vocabulary sort), counts
    // partially aggregate before their exchange
    val vocab = graft.operators.TextOps.buildVocab(docs, "text", 10)
    val vPlan = vocab.queryExecution.executedPlan.toString
    assert(vPlan.contains("TakeOrderedAndProject"), vPlan)
    assert(vPlan.contains("partial_count") || vPlan.contains("HashAggregate"), vPlan)
    // corpus diff: digests join full-outer; the text column is consumed
    // by the md5 projection below the join, not joined raw
    val diff = graft.operators.CorpusDiff.diff(docs, docs, "doc_id", "text")
    val dPlan = diff.queryExecution.executedPlan.toString
    assert(dPlan.contains("FullOuter"), dPlan)
    // bm25: stats side is a one-row broadcast (BNLJ), top-k prunes
    // map-side, marker-hits is the single tf pass
    val hits = graft.operators.Retrieval.bm25TopK(
      docs, "doc_id", "text", Seq(1 -> "hash join"), 5)
    val hPlan = hits.queryExecution.executedPlan.toString
    assert(hPlan.contains("BroadcastNestedLoopJoin"), hPlan)
    assert(hPlan.contains("WindowGroupLimit"), hPlan)
    // line filter: one native pass, no explode/generate in the plan
    val fl = graft.operators.TextOps.filterLines(docs, "doc_id", "text", 3)
    val fPlan = fl.queryExecution.executedPlan.toString
    assert(fPlan.contains("graft_filter_lines"), fPlan)
    assert(!fPlan.contains("Generate"), fPlan)
    // temperature sampling: per-group rates broadcast back, the corpus
    // side filters map-side (no corpus-wide exchange beyond the tiny
    // count aggregate)
    import org.apache.spark.sql.functions.col
    val ts = graft.operators.Sampling.temperatureSample(docs, "doc_id", "lang")
    val tPlan = ts.queryExecution.executedPlan.toString
    assert(tPlan.contains("BroadcastHashJoin") || tPlan.contains("BroadcastExchange"), tPlan)
    // html strip: pure scalar chain, zero exchanges
    val sh = docs.select(graft.operators.TextOps.stripHtml(col("text")))
    assert(!sh.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("asof forward join: inclusive bound, no-match null, payload carry") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, "l-a"), // right rows at 10 and 12: inclusive -> 10
      (1L, 11L, "l-b"), // next at-or-after 11 -> 12
      (2L, 8L, "l-c"),  // key 2's only right row is at 3 -> null
      (3L, 9L, "l-d"))  // no right rows -> null
      .toDF("k", "t", "payload")
    val right = Seq((1L, 7L, "r7"), (1L, 10L, "r10"), (1L, 12L, "r12"),
      (2L, 3L, "r3")).toDF("k", "t", "v")
    val out = AsofJoin.asofForward(left, right, "k", "t",
      outCol = "next_ts", payloadCols = Seq("v"))
      .select("k", "t", "payload", "next_ts", "next_ts_v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getString(4))).toSet
    assert(out === Set(
      (1L, 10L, "l-a", 10L, "r10"),
      (1L, 11L, "l-b", 12L, "r12"),
      (2L, 8L, "l-c", null, null),
      (3L, 9L, "l-d", null, null)))
    // null right timestamps can never match
    val nullTs = Seq((1L, Option.empty[Long], "rx")).toDF("k", "t", "v")
    val out2 = AsofJoin.asofForward(left.where(col("k") === 3), nullTs, "k", "t",
      outCol = "next_ts", payloadCols = Seq("v")).collect()
    assert(out2.length === 1 && out2(0).isNullAt(3))
  }

  test("interval overlap join: dedup across shared cells, key isolation") {
    import spark.implicits._
    val l = Seq((1L, "k1", 0.0, 10.0), (2L, "k1", 20.0, 21.0),
      (3L, "k2", 0.0, 10.0), (4L, "k1", 5.0, 4.0)) // 4 is empty (hi < lo)
      .toDF("lid", "k", "l_lo", "l_hi")
    val r = Seq((10L, "k1", 9.0, 30.0), (11L, "k1", 11.0, 19.0),
      (12L, "k2", 10.0, 12.0)).toDF("rid", "k", "r_lo", "r_hi")
    val out = RangeJoin.overlapJoin(l, r, "l_lo", "l_hi", "r_lo", "r_hi",
      bucketWidth = 2.0, keyCols = Seq("k"))
      .select("lid", "rid").collect().map(re => (re.getLong(0), re.getLong(1)))
    // (1,10): overlap [9,10]; spans MANY shared 2.0-wide cells -> exactly
    // one output row (first-shared-cell dedup). (2,10): overlap [20,21].
    // (3,12): k2, touch at 10. 11 touches nothing (gap 10<11, ends 19<20).
    // 4 is empty. No cross-key rows.
    assert(out.toSeq.sorted === Seq((1L, 10L), (2L, 10L), (3L, 12L)))
    // no distinct in the plan: dedup is the first-cell predicate
    val plan = RangeJoin.overlapJoin(l, r, "l_lo", "l_hi", "r_lo", "r_hi",
      bucketWidth = 2.0, keyCols = Seq("k")).queryExecution.executedPlan.toString
    assert(!plan.contains("Distinct"), plan)
    // wide buckets (everything in one cell) give the same answer
    val wide = RangeJoin.overlapJoin(l, r, "l_lo", "l_hi", "r_lo", "r_hi",
      bucketWidth = 1000.0, keyCols = Seq("k"))
      .select("lid", "rid").collect().map(re => (re.getLong(0), re.getLong(1)))
    assert(wide.toSeq.sorted === out.toSeq.sorted)
  }
  test("calibration bins: exact counts, fixed-width bins, null rows ignored") {
    import spark.implicits._
    val df = Seq[(java.lang.Double, java.lang.Boolean)](
      (-120.0, true), (-10.0, false), (0.0, true), (49.0, true),
      (50.0, false), (120.0, true), (null, true), (60.0, null))
      .toDF("score", "label")
    val out = graft.operators.Classifier
      .calibrationBins(df, "label", "score", 50.0)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // floor semantics on negatives: -120/50 -> bin -3, -10/50 -> bin -1
    assert(out === Map(
      -3L -> ((1L, 1L, 1.0)), -1L -> ((1L, 0L, 0.0)),
      0L -> ((2L, 2L, 1.0)), 1L -> ((1L, 0L, 0.0)), 2L -> ((1L, 1L, 1.0))))
  }

  test("globalRankDesc: exact vs naive window, heavy ties, tiny bucket count") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // heavy ties (values 0..9 over 500 rows) stress the equal-values-
    // share-a-bucket invariant; buckets=4 forces multi-row buckets
    val df = (1L to 500L).map(i => (i, rnd.nextInt(10).toDouble)).toDF("id", "v")
    val got = graft.operators.Classifier
      .globalRankDesc(df, "id", "v", "rk", buckets = 4)
      .select("id", "rk").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v").desc, col("id"))
    val want = df.withColumn("rk", row_number().over(w).cast("long"))
      .select("id", "rk").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    // empty input: empty output, no crash
    assert(graft.operators.Classifier
      .globalRankDesc(df.where(col("v") > 100), "id", "v", "rk")
      .collect().isEmpty)
  }

  test("globalRankDesc: null and NaN values are excluded, finite rows rank cleanly") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(5.0)), (2L, None), (3L, Some(Double.NaN)),
      (4L, Some(9.0)), (5L, Some(5.0)))
      .toDF("id", "v")
    val got = graft.operators.Classifier
      .globalRankDesc(df, "id", "v", "rk", buckets = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // null (id 2) and NaN (id 3) dropped; 9.0 ranks 1, tied 5.0s by id
    assert(got === Map(4L -> 1L, 1L -> 2L, 5L -> 3L))
  }

  test("globalRankDesc plans no single-partition exchange (the scale invariant)") {
    import spark.implicits._
    val df = (1L to 2000L).map(i => (i, (i % 97).toDouble)).toDF("id", "v")
    val plan = graft.operators.Classifier
      .globalRankDesc(df, "id", "v", "rk", buckets = 16)
      .queryExecution.executedPlan.toString
    // the naive row_number() OVER (ORDER BY ...) would show here as a
    // SinglePartition exchange feeding an unpartitioned Window
    assert(!plan.contains("Exchange SinglePartition"), plan.take(2000))
    assert(plan.contains("Window"), "rank window missing entirely")
  }

  test("rrfEnsemble: integerized RRF ordering and exact ranks") {
    import spark.implicits._
    // id 1 is best on s1, id 3 best on s2, id 2 second on both; RRF
    // weights a #1 rank heavily, so the split winners outrank the
    // consistent second: fp(1)+fp(3) > 2*fp(2)
    val df = Seq((1L, 10.0, 1.0), (2L, 9.0, 9.0), (3L, 1.0, 10.0))
      .toDF("id", "s1", "s2")
    val out = graft.operators.Classifier
      .rrfEnsemble(df, "id", Seq("s1", "s2"), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def fp(r: Long) = math.round(1e9 / (60.0 + r))
    val expect = Map(
      1L -> (1L, 3L), 2L -> (2L, 2L), 3L -> (3L, 1L))
    out.foreach { case (id, r1, r2, rrf) =>
      assert((r1, r2) === expect(id), s"id=$id")
      assert(rrf === fp(r1) + fp(r2), s"id=$id")
    }
    // best-first ordering: 1 and 3 tie on RRF (id tiebreak), 2 last
    assert(out.map(_._1).toSeq === Seq(1L, 3L, 2L))
  }

  test("span corruption pairs: deterministic masks, numbered sentinels, empty target") {
    import spark.implicits._
    val df = Seq(
      (7L, "a b c d e f g h"),  // m=0: masks i=0 and i=7
      (3L, "a b c d e"),        // m=3, j0=4: masks i=4 only
      (10L, "a b c")            // m=3, j0=4: nothing masked
    ).toDF("doc_id", "text")
    val out = TextOps.spanCorruptionPairs(df, "doc_id", "text", every = 7)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getLong(3)))).toMap
    assert(out(7L) === (("<extra_id_0> b c d e f g <extra_id_1>",
      "<extra_id_0> a <extra_id_1> h", 2L)))
    assert(out(3L) === (("a b c d <extra_id_0>", "<extra_id_0> e", 1L)))
    assert(out(10L) === (("a b c", "", 0L)))
  }

  test("group percentile and curriculum interleave: exact ranks, determinism") {
    import spark.implicits._
    val df = Seq((1L, "a", 5.0), (2L, "a", 1.0), (3L, "a", 5.0),
      (4L, "b", 9.0), (5L, "b", 2.0)).toDF("id", "g", "v")
    val pct = Sampling.groupPercentile(df, "id", "g", "v")
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // ties (ids 1,3 both 5.0) break by id; pct = rank/n
    assert(pct(2L) === ((1L, 3L, round9(1.0 / 3))))
    assert(pct(1L) === ((2L, 3L, round9(2.0 / 3))))
    assert(pct(3L) === ((3L, 3L, 1.0)))
    assert(pct(5L) === ((1L, 2L, 0.5)))
    assert(pct(4L) === ((2L, 2L, 1.0)))

    val cur = Sampling.curriculumInterleave(df.withColumnRenamed("v", "dif"),
        "id", "dif", binWidth = 4.0)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // buckets: 1.0,2.0 -> 0; 5.0,5.0 -> 1; 9.0 -> 2
    assert(cur(2L) === ((0L, 1L)) && cur(5L) === ((0L, 2L)))
    assert(cur(1L) === ((1L, 1L)) && cur(3L) === ((1L, 2L)))
    assert(cur(4L) === ((2L, 1L)))
  }

  test("de-skewed pack/interleave: bucketed rank equals the naive global window") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // ONE giant shard / ONE giant difficulty band: the distributed rank
    // must reproduce the single-partition window exactly, including
    // repeated difficulty values straddling sub-bucket bounds
    val docs = (1L to 800L).map(i => (i, "en", ("w " * (1 + (i % 5).toInt)).trim))
      .toDF("doc_id", "lang", "text").repartition(7)
    val got = TextOps.packSequences(docs, "doc_id", "text", "lang", 16, buckets = 8)
      .collect().map(r => (r.getLong(1), r.getLong(3), r.getLong(4))).toSet
    val naiveW = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = docs
      .select(col("lang"), col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long").as("n"))
      .withColumn("tb", sum(col("n")).over(naiveW) - col("n"))
      .select(col("doc_id"), expr("tb DIV 16").as("seq_id"),
        (col("tb") % 16).as("seq_offset"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === naive)
    val diffs = (1L to 900L).map(i => (i, (i % 13).toDouble / 3.0))
      .toDF("id", "dif").repartition(5)
    val fast = Sampling.curriculumInterleave(diffs, "id", "dif", 100.0, buckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val slowW = Window.partitionBy("bucket").orderBy(col("dif"), col("id"))
    val slow = diffs.withColumn("bucket", floor(col("dif") / 100.0).cast("long"))
      .withColumn("pos", row_number().over(slowW).cast("long"))
      .select("id", "bucket", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fast === slow)
  }

  test("token entropy: uniform max, single-type zero, exact fixed-point terms") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "x x x x"), (3L, "a a b b")).toDF("doc_id", "text")
    val out = TextOps.tokenEntropy(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def term(c: Long, n: Long): Long = math.round(-(c.toDouble / n) * math.log(c.toDouble / n) * 1e8)
    // uniform over 4 types: 4 terms of (1/4)ln4
    assert(out(1L) === ((4L, 4L, 4 * term(1, 4))))
    // one type: ln(1) = 0
    assert(out(2L) === ((4L, 1L, 0L)))
    // two types at 2/4 each
    assert(out(3L) === ((4L, 2L, 2 * term(2, 4))))
    // ordering sanity: uniform > bimodal > constant
    assert(out(1L)._3 > out(3L)._3 && out(3L)._3 > out(2L)._3)
  }

  test("group robust scale: median/IQR per group, degenerate group nulls") {
    import spark.implicits._
    withSQLConf(graft.conf.GraftConf.QUANTILE_SKETCH_IMPL_KEY -> "KLL") {
      // group a: {0,1,2,3,10} -> p25=1, p50=2, p75=3 (EXCLUSIVE picks);
      // group b constant -> IQR 0 -> null
      val df = Seq((1L, "a", 0.0), (2L, "a", 1.0), (3L, "a", 2.0),
        (4L, "a", 3.0), (5L, "a", 10.0), (6L, "b", 7.0), (7L, "b", 7.0))
        .toDF("id", "g", "v")
      val out = Sampling.groupRobustScale(df, "id", "g", "v")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(3)) null else java.lang.Double.valueOf(r.getDouble(3)))).toMap
      assert(out(3L) === 0.0)   // (2-2)/(3-1)
      assert(out(1L) === -1.0)  // (0-2)/2
      assert(out(5L) === 4.0)   // (10-2)/2
      assert(out(6L) === null && out(7L) === null)
    }
  }

  test("language confidence: argmax matches languageId, margin zero on ties") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog of to"),    // strongly en
      (2L, "the der"),                       // en/de tie -> margin 0
      (3L, "xyzzy plugh")                    // no evidence -> und, 0/0
    ).toDF("doc_id", "text")
    val out = TextOps.languageConfidence(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L)._1 === "en" && out(1L)._4 > 0)
    assert(out(2L)._2 === 1L && out(2L)._3 === 1L && out(2L)._4 === 0L)
    assert(out(3L) === (("und", 0L, 0L, 0L)))
  }

  test("robustOutliers: median/MAD summary flags only the planted spike") {
    import spark.implicits._
    // group a: tight around 10.0 with one 1000.0 spike; group b: constant
    val rows = (1L to 9L).map(i => ("a", i, 10.0 + (i % 3) * 0.001)) :+
      (("a", 10L, 1000.0)) :+ (("b", 11L, 5.0)) :+ (("b", 12L, 5.0))
    val df = rows.toDF("g", "id", "v")
    val out = graft.operators.Profiler.robustOutliers(df, "g", "v", "id")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // a: n=10, lower median of {10000,10001,10002...,1000000} lattice
    val (na, medA, madA, outA) = out("a")
    assert(na === 10L && medA === 10001L)
    assert(madA === 1L && outA === 1L) // only the spike exceeds 3*MAD
    // b: constant group -> MAD 0, nothing deviates
    assert(out("b") === ((2L, 5000L, 0L, 0L)))
  }

  test("robustFlags: tags exactly the spike row; flags agree with summary") {
    import spark.implicits._
    val rows = (1L to 9L).map(i => ("a", i, 10.0 + (i % 3) * 0.001)) :+
      (("a", 10L, 1000.0))
    val df = rows.toDF("g", "id", "v")
    val flags = graft.operators.Profiler.robustFlags(df, "g", "v", "id")
      .collect().map(r => r.getLong(1) -> r.getBoolean(6)).toMap
    assert(flags.count(_._2) === 1 && flags(10L))
    val summary = graft.operators.Profiler.robustOutliers(df, "g", "v", "id")
      .collect().head.getLong(4)
    assert(summary === 1L)
  }

  test("oovRate: tokens outside the top-N vocabulary counted per group") {
    import spark.implicits._
    val df = Seq(
      ("en", "the the the cat"),   // 'the' x3, cat
      ("de", "the zzz zzz qqq")    // the, zzz x2, qqq
    ).toDF("lang", "text")
    // global counts: the=4, zzz=2, cat=1, qqq=1 -> top2 = {the, zzz}
    val out = graft.operators.TextOps.oovRate(df, "lang", "text", topN = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("en") === ((4L, 1L, 250000L, 1L)))  // cat OOV
    assert(out("de") === ((4L, 1L, 250000L, 1L)))  // qqq OOV
  }

  test("robustOutliers: nulls and NaNs are excluded before ranking") {
    import spark.implicits._
    val df = Seq(
      ("g", 1L, Some(1.0)), ("g", 2L, Some(2.0)), ("g", 3L, Some(3.0)),
      ("g", 4L, None), ("g", 5L, Some(Double.NaN))).toDF("g", "id", "v")
    val r = graft.operators.Profiler.robustOutliers(df, "g", "v", "id")
      .collect().head
    assert(r.getLong(1) === 3L && r.getLong(2) === 2000L)
  }

  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("neymanAllocation: spread-weighted budget split, floor division") {
    import spark.implicits._
    // g1: ten identical values (zero spread, weight n*1 = 10);
    // g2: values 1..10 -> v 1000..10000, q25 at rn (10+3)/4 = 3 (3000),
    // q75 at rn (30+3)/4 = 8 (8000), spread 5000, weight 10*5001 = 50010
    val rows = (1 to 10).map(i => (s"a$i", "g1", 5.0)) ++
      (1 to 10).map(i => (s"b$i", "g2", i.toDouble))
    val out = graft.operators.Sampling
      .neymanAllocation(rows.toDF("id", "g", "v"), "id", "g", "v", budget = 1000L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out("g1") === ((10L, 0L, (1000L * 10L) / 50020L)))
    assert(out("g2") === ((10L, 5000L, (1000L * 50010L) / 50020L)))
  }

  test("groupLiftTerms: lift singles out what a group over-uses") {
    import spark.implicits._
    val docs = Seq(("g1", "apple apple banana"), ("g2", "banana banana banana"))
      .toDF("src", "text")
    val out = graft.operators.TextOps
      .groupLiftTerms(docs, "src", "text", minCount = 1L, k = 2)
      .collect().map(r => (r.getString(0), r.getString(2)) -> r.getLong(4)).toMap
    // T=6; apple: c_gw=2, t_g=3, c_w=2 -> (2*6*1e4)/(3*2) = 20000
    assert(out(("g1", "apple")) === 20000L)
    // banana in g2: c_gw=3, t_g=3, c_w=4 -> (3*6*1e4)/(3*4) = 15000
    assert(out(("g2", "banana")) === 15000L)
    // banana in g1: c_gw=1, t_g=3, c_w=4 -> (1*6*1e4)/(3*4) = 5000
    assert(out(("g1", "banana")) === 5000L)
  }

  test("sq8: max-abs scale codes, dequantized ranking, zero vectors out") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(2.0f, -1.0f, 0.5f)),
      (2L, Seq(0.0f, 0.0f, 0.0f)))
      .toDF("id", "v")
    val enc = graft.operators.Sq8.encode(df, "id", "v")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getSeq[Int](2)))).toMap
    assert(enc(1L)._1 === 2.0)
    // floor(x/2*127 + 0.5): 127, floor(-63.0) = -63, floor(32.25) = 32
    assert(enc(1L)._2 === Seq(127, -63, 32))
    assert(enc(2L)._1 === 0.0 && enc(2L)._2 === Seq(0, 0, 0))
    // parallel beats orthogonal; zero vector never appears
    val corpus = Seq(
      (10L, Seq(1.0f, 0.0f)), (11L, Seq(2.0f, 0.1f)),
      (12L, Seq(0.0f, 1.0f)), (13L, Seq(0.0f, 0.0f)))
      .toDF("id", "v")
    val top = graft.operators.Sq8
      .topK(corpus, corpus.where(col("id") === 10L), "id", "v", 3)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(top.toSeq === Seq((1, 11L), (2, 12L)) ||
      top.map(_._2).toSeq === Seq(11L, 12L))
  }

  test("hammingKnn: identical vectors collide at distance 0, rank first") {
    import spark.implicits._
    val base = (1 to 8).map(_.toFloat)
    val corpus = Seq(
      (1L, base), (2L, base),                     // exact duplicate of 1
      (3L, base.map(-_)),                         // antipode: all bits flip
      (4L, (1 to 8).map(i => (i % 3).toFloat)))
      .toDF("id", "v")
    val out = graft.operators.Embeddings
      .hammingKnn(corpus, corpus.where(col("id") === 1L), "id", "v",
        k = 3, inDim = 8, bits = 16)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getInt(3)))
    assert(out.head === ((1, 2L, 0)))             // duplicate: distance 0
    assert(out.map(_._2).contains(3L))
    val anti = out.find(_._2 == 3L).get
    // antipode flips every bit whose projection is nonzero; with this
    // seed two of the 16 hyperplanes land exactly on 0 (>= 0 both sides)
    assert(anti._3 === 14)
  }

  test("associationRules: exact support/confidence/lift fixed points") {
    import spark.implicits._
    val bi = Seq(("b1", "x"), ("b1", "y"), ("b2", "x"), ("b2", "y"),
      ("b3", "x"), ("b3", "z"))
      .toDF("b", "i")
    val rules = graft.operators.Association
      .associationRules(bi, "b", "i", minPairCount = 2L, topN = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // (x,y) w=2 of 3 baskets; n_x=3, n_y=2
    assert(rules(("x", "y")) === ((2L, 6666L, 6666L, 10000L)))
    assert(rules(("y", "x")) === ((2L, 6666L, 10000L, 10000L)))
    assert(rules.size === 2) // (x,z) w=1 pruned
  }

  test("termBurstiness: clumped term scores high, scattered term low") {
    import spark.implicits._
    val docs = Seq((1L, "a a a a"), (2L, "b"), (3L, "b")).toDF("id", "text")
    val out = graft.operators.TextOps.termBurstiness(docs, "id", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // a: N=3, S=4, Q=16 -> 1e4*(48-16)/(2*4) = 40000 (clumped)
    assert(out("a") === ((1L, 4L, 40000L)))
    // b: S=2, Q=2 -> 1e4*(6-4)/(2*2) = 5000 (scattered)
    assert(out("b") === ((2L, 2L, 5000L)))
  }

  test("round-8 operator guardrails reject bad parameters loudly") {
    import spark.implicits._
    val edges = Seq((1L, 2L)).toDF("s", "t")
    intercept[IllegalArgumentException] {
      graft.operators.Graph.kCore(edges, "s", "t", k = 0)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Graph.kTruss(edges, "s", "t", k = 2) // needs >= 3
    }
    intercept[IllegalArgumentException] {
      graft.operators.Layout.zValue(col("s"), col("t"), bits = 32) // > 31
    }
    intercept[IllegalArgumentException] {
      graft.operators.Embeddings.hammingCode(
        Seq((1L, Seq(1f))).toDF("id", "v"), "v", "c", 1, bits = 64) // > 63
    }
    intercept[IllegalArgumentException] {
      graft.operators.Sampling.neymanAllocation(
        Seq(("a", 1L, 1.0)).toDF("g", "id", "v"), "id", "g", "v", budget = 0L)
    }
    // tar entry names over the ustar 100-byte limit fail the WRITE JOB,
    // not silently truncate
    val longId = "x" * 120
    val bad = Seq((longId, "payload")).toDF("id", "text")
    withTempDir("graft_tar_bad") { dir =>
      intercept[org.apache.spark.SparkException] {
        graft.sources.TarShards.write(bad, "id", "text", dir, numShards = 1)
      }
    }
  }

  test("round-9 guardrails: pq block slicing, z-order overflow, tar corruption") {
    import spark.implicits._
    // encodeWith is public (the streaming path calls it directly): an m
    // that doesn't divide dim must fail, not silently mis-slice blocks
    val vecs = (0L until 8L).map(i => (i, (1 to 6).map(d => (i + d).toFloat)))
      .toDF("id", "v")
    val books = graft.operators.Pq.trainCodebooks(vecs, "id", "v",
      dim = 6, m = 2, k = 2, iters = 2)
    val e = intercept[IllegalArgumentException] {
      graft.operators.Pq.encodeWith(vecs, "id", "v", dim = 9, books)
    }
    assert(e.getMessage.contains("divisible"))
    // z-order: keys whose normalization would overflow x * 2^bits must
    // raise, not return negative z values and garbage buckets
    val huge = Seq((Long.MaxValue / 2, 1L)).toDF("x", "y")
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Layout.zOrderReport(huge, "x", "y", bits = 20, bucketBits = 4)
    }
    assert(e2.getMessage.contains("rescale"))
    // a flipped payload-size byte breaks the header checksum: read()
    // must reject the shard loudly, not decode garbage entries
    withTempDir("graft_tar_chk") { dir =>
      graft.sources.TarShards.write(
        Seq((1L, "hello world")).toDF("id", "text"), "id", "text", dir, numShards = 1)
      val shard = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".tar")).head.toPath
      val bytes = java.nio.file.Files.readAllBytes(shard)
      bytes(130) = '7' // inside the size field, header checksum now stale
      // fresh dir via plain nio: rewriting in place would trip Hadoop's
      // .crc sidecar first and shadow the ustar-level validation under test
      val e3 = withTempDir("graft_tar_chk2") { dir2 =>
        java.nio.file.Files.write(java.nio.file.Paths.get(dir2, "shard-0.tar"), bytes)
        intercept[Exception] {
          graft.sources.TarShards.read(spark, dir2).collect()
        }
      }
      val chainDesc = Iterator.iterate(e3: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .map(x => x.getClass.getName + ": " + x.getMessage).mkString(" ||| ")
      assert(chainDesc.contains("checksum"), chainDesc)
    }
  }

  test("labelAgreement: hand-computed kappa, sign-safe negatives, degenerate NULL") {
    import spark.implicits._
    // a=[x,x,y,y] b=[x,x,y,x]: agree=3, S = 2*3 + 2*1 = 8,
    // kappa = (12-8)/(16-8) = 0.5 -> 5000 fp; the null row is excluded
    val df = Seq(("x", Some("x")), ("x", Some("x")), ("y", Some("y")),
      ("y", Some("x")), ("x", None)).toDF("ra", "rb")
    val r = graft.operators.Profiler.labelAgreement(df, "ra", "rb").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((4L, 3L, 5000L)))
    // total inversion on two classes: kappa = -1 (sign-safe division)
    val inv = Seq(("x", "y"), ("y", "x")).toDF("ra", "rb")
    val ri = graft.operators.Profiler.labelAgreement(inv, "ra", "rb").collect().head
    assert(ri.getLong(2) === -10000L)
    // single shared class: chance agreement 1, kappa undefined -> NULL
    val deg = Seq(("x", "x"), ("x", "x")).toDF("ra", "rb")
    assert(graft.operators.Profiler.labelAgreement(deg, "ra", "rb")
      .collect().head.isNullAt(2))
  }

  test("fleissKappa: hand-computed values, panel-size violations raise with the item") {
    import spark.implicits._
    // N=2 items, m=2: {x,x} and {x,y} -> T=6, Q=10,
    // kappa = (2*4 - 10) / (1*(16 - 10)) = -1/3 -> -3333 fp (sign-safe)
    val mixed = Seq((1L, "x"), (1L, "x"), (2L, "x"), (2L, "y")).toDF("it", "lb")
    val r = graft.operators.Profiler.fleissKappa(mixed, "it", "lb", m = 2)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((2L, 4L, -3333L)))
    // unanimous panels on two labels: kappa = 1
    val unan = Seq((1L, "x"), (1L, "x"), (2L, "y"), (2L, "y")).toDF("it", "lb")
    assert(graft.operators.Profiler.fleissKappa(unan, "it", "lb", m = 2)
      .collect().head.getLong(2) === 10000L)
    // single global label: chance agreement 1 -> NULL
    val deg = Seq((1L, "x"), (1L, "x"), (2L, "x"), (2L, "x")).toDF("it", "lb")
    assert(graft.operators.Profiler.fleissKappa(deg, "it", "lb", m = 2)
      .collect().head.isNullAt(2))
    // an item with the wrong panel size fails loudly, naming the item
    val bad = Seq((1L, "x"), (1L, "x"), (2L, "x")).toDF("it", "lb")
    val e = intercept[Exception] {
      graft.operators.Profiler.fleissKappa(bad, "it", "lb", m = 2).collect()
    }
    def chainHas(t: Throwable, s: String): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .exists(x => Option(x.getMessage).exists(_.contains(s)))
    assert(chainHas(e, "expected 2"), e.getMessage)
  }

  test("confusionStats: hand-computed P/R/F1, never-predicted and never-gold labels") {
    import spark.implicits._
    // gold: a a a b b   pred: a a b b c
    // a: tp=2 fp=0 fn=1 -> P=10000 R=6666 F1=2*2/(4+0+1)=8000
    // b: tp=1 fp=1 fn=1 -> P=5000  R=5000 F1=2/(2+1+1)=5000
    // c: tp=0 fp=1 fn=0 -> P=0     R=NULL F1=0
    val df = Seq(("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("b", "c"))
      .toDF("g", "p")
    val out = graft.operators.Profiler.confusionStats(df, "g", "p")
      .collect().map(r => r.getString(0) -> r).toMap
    def fp(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    assert((out("a").getLong(1), out("a").getLong(2), out("a").getLong(3))
      === ((2L, 0L, 1L)))
    assert((fp(out("a"), 4), fp(out("a"), 5), fp(out("a"), 6))
      === ((Some(10000L), Some(6666L), Some(8000L))))
    assert((fp(out("b"), 4), fp(out("b"), 5), fp(out("b"), 6))
      === ((Some(5000L), Some(5000L), Some(5000L))))
    // c was never gold: recall undefined (NULL), precision 0
    assert((fp(out("c"), 4), fp(out("c"), 5)) === ((Some(0L), None)))
    // a label only in gold (never predicted): precision NULL
    val miss = Seq(("x", "y"), ("y", "y")).toDF("g", "p")
    val m = graft.operators.Profiler.confusionStats(miss, "g", "p")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(fp(m("x"), 4) === None && fp(m("x"), 5) === Some(0L))
  }

  test("consensusLabels: majority wins, lexicographic tie-break, nulls abstain") {
    import spark.implicits._
    val votes = Seq((1L, Some("a")), (1L, Some("a")), (1L, Some("b")),
      (2L, Some("c")), (2L, Some("a")), (2L, Some("b")),
      (3L, Some("z")), (3L, None)).toDF("it", "lb")
    val out = graft.operators.Profiler.consensusLabels(votes, "it", "lb")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) === (("a", 2L, 3L, 6666L)))  // 2/3 floor -> 6666
    assert(out(2L) === (("a", 1L, 3L, 3333L)))  // 3-way tie -> lex smallest
    assert(out(3L) === (("z", 1L, 1L, 10000L))) // null vote abstained
  }

  test("containmentPairs: directional (wrapper found, reverse not), exact threshold") {
    import spark.implicits._
    // doc 1's two 5-gram shingles are both inside doc 2's four:
    // containment 1->2 = 2/2 = 1 >= 4/5, but 2->1 = 2/4 < 4/5
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f g h"),
      (3L, "z y x w v u t s")).toDF("doc_id", "text")
    val out = graft.operators.Dedup.containmentPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 2L)))
    // exact duplicates qualify in BOTH directions (incl. the <5-word
    // whole-text fallback shingle)
    val dups = Seq((1L, "a b c"), (2L, "a b c"), (3L, "q r s")).toDF("doc_id", "text")
    val both = graft.operators.Dedup.containmentPairs(dups, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(both === Set((1L, 2L), (2L, 1L)))
  }

  test("plan shapes: sq8/hamming scans broadcast queries; encode is map-only") {
    import spark.implicits._
    val vecs = (0L until 40L).map(i => (i, (1 to 8).map(d => (i + d).toFloat)))
      .toDF("id", "v")
    // encoding: stateless projection, no Exchange
    val encPlan = graft.operators.Sq8.encode(vecs, "id", "v")
      .queryExecution.executedPlan.toString
    assert(!encPlan.contains("Exchange"), encPlan)
    // search: the query side broadcasts (corpus never shuffles against
    // it); the only exchange is the top-k window's
    val sq8Plan = graft.operators.Sq8
      .topK(vecs, vecs.where(col("id") < 3), "id", "v", 2)
      .queryExecution.executedPlan.toString
    assert(sq8Plan.contains("BroadcastExchange"), sq8Plan)
    val hamPlan = graft.operators.Embeddings
      .hammingKnn(vecs, vecs.where(col("id") < 3), "id", "v", 2, inDim = 8, bits = 16)
      .queryExecution.executedPlan.toString
    assert(hamPlan.contains("BroadcastExchange"), hamPlan)
    assert(hamPlan.contains("BroadcastNestedLoopJoin"), hamPlan)
  }

  test("zValue interleaves bits; zOrderReport bounds both dims per bucket") {
    import spark.implicits._
    val z = Seq((3L, 5L)).toDF("x", "y")
      .select(graft.operators.Layout.zValue(col("x"), col("y"), 4).as("z"))
      .collect().head.getLong(0)
    // x=0011, y=0101 -> z bits (y3 x3 y2 x2 y1 x1 y0 x0) = 10 01 11 01... wait:
    // pairwise: (x0=1,y0=1)->11, (x1=1,y1=0)->01, (x2=0,y2=1)->10, (x3=0,y3=0)
    // z = 1*1 + 1*2 + 1*4 + 0*8 + 0*16 + 1*32 = 39
    assert(z === 39L)
    // a grid: every z bucket must bound both dimensions more tightly
    // than the global range
    val grid = (for { x <- 0 until 32; y <- 0 until 32 } yield (x.toLong, y.toLong))
      .toDF("px", "py")
    val rep = graft.operators.Layout.zOrderReport(grid, "px", "py", bits = 5, bucketBits = 2)
      .collect()
    assert(rep.length === 4)
    rep.foreach { r =>
      assert(r.getLong(1) === 256L)         // even split
      assert(r.getLong(2) <= 31L && r.getLong(3) <= 15L) // y is the top bit
    }
  }

  test("pseudonymize: stable surrogates, nulls stay null, distincts preserved") {
    import spark.implicits._
    val df = Seq(Some(1L), Some(2L), Some(1L), None).toDF("uid")
    val out = graft.operators.Privacy.pseudonymize(df, Seq("uid"), "s1")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(out(0) === out(2))
    assert(out(0) !== out(1))
    assert(out(3).isEmpty)
    // different salt unlinks
    val out2 = graft.operators.Privacy.pseudonymize(df, Seq("uid"), "s2")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(out2(0) !== out(0))
  }

  test("benfordProfile: exact digits, non-positives excluded, chi2 formula") {
    import spark.implicits._
    // values 1.0 (digit 1), 0.25 (v=25, digit 2), 9.0 (digit 9),
    // plus excluded: 0, -3, null
    val df = Seq(Some(1.0), Some(0.25), Some(9.0), Some(0.0), Some(-3.0), None)
      .toDF("value")
    val out = graft.operators.Profiler.benfordProfile(df, "value")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    assert(out.size === 9)
    assert(out(1)._1 === 1L && out(2)._1 === 1L && out(9)._1 === 1L)
    assert(out(3)._1 === 0L)
    // chi2 contribution for digit 1: n=3, e=301030 ->
    // np3 = (3*301030) div 1000 = 903; (1000*1 - 903)^2 div 903 = 10
    assert(out(1)._2 === ((1000L - 903L) * (1000L - 903L)) / 903L)
  }

  test("mergeChanges: upsert semantics, idempotent replay, dup-key guard") {
    import spark.implicits._
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val ch = Seq((2L, "U", "b2"), (3L, "D", ""), (4L, "I", "d"), (5L, "U", "e"))
      .toDF("id", "op", "v").select(col("id"), col("op"), col("v"))
    def run(s: org.apache.spark.sql.DataFrame) =
      graft.operators.Cdc.mergeChanges(s, ch, "id", "op")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val once = run(snap)
    // U replaces, D drops, I inserts, U-on-absent inserts (upsert)
    assert(once === Map(1L -> "a", 2L -> "b2", 4L -> "d", 5L -> "e"))
    // replaying the same batch over the merged state changes nothing
    val again = run(once.toSeq.map { case (k, v) => (k, v) }.toDF("id", "v"))
    assert(again === once)
    intercept[IllegalArgumentException] {
      graft.operators.Cdc.mergeChanges(snap,
        ch.unionAll(Seq((2L, "D", "x")).toDF("id", "op", "v")),
        "id", "op", requireUniqueKeys = true).collect()
    }
    // unknown (or null) ops would silently act as deletes — rejected
    intercept[IllegalArgumentException] {
      graft.operators.Cdc.mergeChanges(snap,
        Seq((9L, "X", "x")).toDF("id", "op", "v"), "id", "op")
    }
  }

  test("decayedCounts: dyadic half-life weights, deep past decays to zero") {
    import spark.implicits._
    // bucket=1, halfLife=7: ages (14-bk) div 7 -> 0, 1, 2; plus one
    // event 350 buckets back (age 50 > 40 -> weight exactly 0)
    val ev = Seq(("a", 14L), ("a", 7L), ("a", 0L), ("b", 14L), ("b", -336L))
      .toDF("g", "ts")
    val out = graft.operators.EventOps
      .decayedCounts(ev, "g", "ts", bucket = 1L, halfLifeBuckets = 7L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("a") === ((3L, (1L << 40) + (1L << 39) + (1L << 38))))
    assert(out("b") === ((2L, 1L << 40)))
  }
}
