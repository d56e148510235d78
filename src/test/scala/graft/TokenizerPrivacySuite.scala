package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bpe, Dedup, Privacy}

/** Round-8 operators: distributed BPE training/inference, SymSpell fuzzy
  * vocabulary pairs, keep-best cluster dedup, soft dedup weights, and
  * the k-anonymity privacy gates. */
class TokenizerPrivacySuite extends AnyFunSuite with GraftSparkSession {

  test("bpe trainMerges: hand-checkable corpus, greedy non-overlap, early stop") {
    import spark.implicits._
    // "low" x3 + "lowest" x1: round 1 must merge (l,o) with count 4,
    // round 2 (lo,w) with count 4, round 3 (low,est-ish pieces)...
    val df = Seq("low low low lowest").toDF("text")
    val m = Bpe.trainMerges(df, "text", 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m(0) === ((1, "l", "o", 4L)))
    assert(m(1) === ((2, "lo", "w", 4L)))
    // after [low] [low] [low] [low,e,s,t]: pairs (low,e)=1 (e,s)=1 (s,t)=1
    // -> lexicographic tie-break picks (e, s)
    assert(m(2) === ((3, "e", "s", 1L)))
    // greedy non-overlap: "aaaa" word -> (a,a) count 3 in round 1 (adjacent
    // occurrences), after merge [aa, aa] -> round 2 (aa,aa) count 1
    val m2 = Bpe.trainMerges(Seq("aaaa").toDF("text"), "text", 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m2(0) === ((1, "a", "a", 3L)))
    assert(m2(1) === ((2, "aa", "aa", 1L)))
    // round 3: single symbol "aaaa" left everywhere -> early stop at 2 rows
    assert(m2.length === 2)
  }

  test("bpe trainMerges: parity with a driver-side reference on random corpora") {
    import spark.implicits._
    // plain-Scala greedy BPE (word-type weighted), the semantics the
    // distributed pair-count + HOF fold must reproduce exactly
    def refBpe(words: Map[String, Long], rounds: Int): Seq[(Int, String, String, Long)] = {
      var syms: Seq[(List[String], Long)] =
        words.toSeq.map { case (w, c) => (w.toList.map(_.toString), c) }
      val out = Seq.newBuilder[(Int, String, String, Long)]
      var r = 1
      var done = false
      while (r <= rounds && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        syms.foreach { case (s, c) =>
          s.sliding(2).filter(_.size == 2).foreach { p =>
            val k = (p(0), p(1)); counts(k) = counts.getOrElse(k, 0L) + c
          }
        }
        if (counts.isEmpty) done = true
        else {
          val ((a, b), cnt) = counts.minBy { case ((l, rr), c) => (-c, l, rr) }
          out += ((r, a, b, cnt))
          syms = syms.map { case (s, c) =>
            (s.foldLeft(List.empty[String]) { (acc, x) =>
              if (acc.nonEmpty && acc.last == a && x == b)
                acc.init :+ (a + b)
              else acc :+ x
            }, c)
          }
          r += 1
        }
      }
      out.result()
    }
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val vocab = (1 to 12).map(_ =>
        (1 to (1 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      val corpus = (1 to 80).map(_ => vocab(rnd.nextInt(vocab.size)))
      val df = corpus.grouped(10).map(_.mkString(" ")).toSeq.toDF("text")
      val wordCounts = corpus.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val want = refBpe(wordCounts, 5)
      val got = Bpe.trainMerges(df, "text", 5)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(got === want, s"trial $trial corpus=${corpus.take(20)}")
    }
  }

  test("bpe tokenizeFertility: merge order respected, integer half-up fixed point") {
    import spark.implicits._
    val docs = Seq((1L, "low low"), (2L, "lowest low w")).toDF("id", "text")
    val out = Bpe.tokenizeFertility(docs, "id", "text",
        Seq(("l", "o"), ("lo", "w")))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: "low" -> [low] after both merges: 2 words, 2 tokens, 1.0000
    assert(out(1L) === ((2L, 2L, 10000L)))
    // doc 2: "lowest" -> [low,e,s,t]=4, "low" -> 1, "w" -> 1: 3 words, 6
    // tokens, fertility 2.0000
    assert(out(2L) === ((3L, 6L, 20000L)))
  }

  test("fuzzy vocab pairs: symspell blocking finds all lev<=2 pairs, none extra") {
    import spark.implicits._
    val df = Seq("cat cart carts dog dig zebra cat").toDF("text")
    val got = Dedup.fuzzyVocabPairs(df, "text", maxDist = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getInt(4))).toMap
    // brute-force truth (pairs ordered lexicographically: cart < carts < cat)
    assert(got === Map(
      ("cart", "cat") -> 1, ("carts", "cat") -> 2,
      ("cart", "carts") -> 1, ("dig", "dog") -> 1))
    // counts carried: cat appears twice
    val counts = Dedup.fuzzyVocabPairs(df, "text", maxDist = 2)
      .where(col("w_a") === "cart" && col("w_b") === "cat")
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(counts === Array((1L, 2L)))
    // maxDist=1 drops the distance-2 pair
    val d1 = Dedup.fuzzyVocabPairs(df, "text", maxDist = 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(d1 === Set(("cart", "cat"), ("cart", "carts"), ("dig", "dog")))
  }

  test("keepBestPerCluster: argmax per cluster, id tie-break, null scores excluded") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L, Some(5.0)), (2L, 10L, Some(9.0)), (3L, 10L, Some(9.0)),
      (4L, 20L, None), (5L, 20L, Some(1.0)))
      .toDF("id", "comp", "score")
    val out = Dedup.keepBestPerCluster(df, "id", "comp", "score")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    // comp 10: best score 9.0 shared by ids 2 and 3 -> smallest id wins
    assert(out(10L) === ((2L, 9.0, 3L)))
    // comp 20: null-score row excluded from selection AND membership count
    assert(out(20L) === ((5L, 1.0, 1L)))
  }

  test("softDedupWeights: weights sum to ~group mass, kept is deterministic") {
    import spark.implicits._
    val df = Seq(
      (1L, "same text"), (2L, "SAME   text"), (3L, "same text"),
      (4L, "unique one"))
      .toDF("id", "text")
    val out = Dedup.softDedupWeights(df, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // normalization collapses case/whitespace: ids 1,2,3 in one group of 3
    assert(out(1L)._1 === 3L && out(2L)._1 === 3L && out(3L)._1 === 3L)
    assert(out(1L)._2 === 3333L) // round(1e4/3) half-up
    assert(out(4L) === ((1L, 10000L, true))) // singleton always kept
    // deterministic across runs
    val again = Dedup.softDedupWeights(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(again === out.map { case (k, v) => k -> v._3 })
  }

  test("fuzzyVocabPairs plans an equi-join on deletion keys, never a cartesian") {
    import spark.implicits._
    val df = Seq("cat cart carts dog dig zebra").toDF("text")
    val plan = Dedup.fuzzyVocabPairs(df, "text", maxDist = 2)
      .queryExecution.executedPlan.toString
    // the all-pairs fallback would surface as a nested-loop/cartesian join
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("kAnonymitySuppress plans a semi-join (keys only, no payload duplication)") {
    import spark.implicits._
    val df = Seq((1L, "en", "a"), (2L, "en", "a")).toDF("id", "lang", "src")
    val plan = Privacy.kAnonymitySuppress(df, Seq("lang", "src"), 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(2000))
  }

  test("pageRankFp: hand-computed integer iteration, dangling mass dropped") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 2L)).toDF("src", "dst")
    val base = graft.operators.Graph.RankScale / 3 // 333333333333
    val r1 = graft.operators.Graph.pageRankFp(nodes, edges, "id", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // r'(v) = (15*base + 85*s(v)) DIV 100; s(1)=base, s(2)=2*base, s(3)=0
    assert(r1 === Map(
      1L -> (15L * base + 85L * base) / 100L,
      2L -> (15L * base + 85L * 2L * base) / 100L,
      3L -> (15L * base) / 100L))
    // determinism across reruns (integer math: no summation-order drift)
    val again = graft.operators.Graph.pageRankFp(nodes, edges, "id", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val again2 = graft.operators.Graph.pageRankFp(nodes, edges, "id", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === again2)
    intercept[IllegalArgumentException] {
      graft.operators.Graph.pageRankFp(nodes, edges, "id", iters = 0)
    }
  }

  test("embeddingQc: failure categories partition, ungrouped mode, clean corpus") {
    import spark.implicits._
    val rows: Seq[(Long, Option[Seq[Float]])] = Seq(
      (1L, Some(Seq(1.0f, 2.0f))),                  // clean
      (2L, None),                                   // null
      (3L, Some(Seq(1.0f))),                        // wrong dim
      (4L, Some(Seq(Float.NaN, 1.0f))),             // NaN
      (5L, Some(Seq(Float.PositiveInfinity, 0f))),  // Inf
      (6L, Some(Seq(0.0f, 0.0f))))                  // zero vector
    val df = rows.toDF("id", "v")
    val out = graft.operators.Embeddings.embeddingQc(df, "v", Seq.empty, 2)
      .collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3),
      out.getLong(4)) === ((6L, 1L, 1L, 2L, 1L)))
    // categories partition: clean = total - sum(failures)
    assert(out.getLong(0) - out.getLong(1) - out.getLong(2) - out.getLong(3) -
      out.getLong(4) === 1L)
  }

  test("paragraphLangProfile: mixed doc flagged, majority share exact, und excluded") {
    import spark.implicits._
    val df = Seq(
      (1L, "the and of to\nle la les des\nthe of and"), // en,fr,en -> mixed
      (2L, "der die und das"),                          // pure de
      (3L, "xyzzy qwerty\nzzz"))                        // und paragraphs only
      .toDF("id", "text")
    val out = graft.operators.TextOps
      .paragraphLangProfile(df, "id", "text", "\n")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))).toMap
    assert(out(1L) === ((3L, 2L, "en", 666666L))) // 2/3 en = 666666 ppm floor
    assert(out(2L) === ((1L, 1L, "de", 1000000L)))
    assert(out(3L) === ((2L, 0L, "und", 1000000L)))
  }

  test("vocabGrowth: first-seen semantics, cumulative tokens, empty prefix zeros") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b"), (2L, "b c c"), (3L, "a d"))
      .toDF("id", "text")
    val out = graft.operators.TextOps
      .vocabGrowth(df, "id", "text", Seq(0L, 1L, 2L, 3L))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map(
      0L -> ((0L, 0L)),   // nothing seen yet
      1L -> ((2L, 2L)),   // {a,b}, 2 tokens
      2L -> ((3L, 5L)),   // +c, +3 tokens
      3L -> ((4L, 7L))))  // +d, +2 tokens
  }

  test("zipfSlope: perfect Zipf corpus slopes to -1, degenerate vocab to 0") {
    import spark.implicits._
    // word k (k=1..20) appears floor(1200/k) times -> ln(freq) ~
    // ln(1200) - ln(rank): slope must land near -1.0000 (floor()
    // quantization keeps it within a few percent)
    val corpus = (1 to 20).flatMap(k => Seq.fill(1200 / k)(s"w$k"))
    val df = corpus.grouped(50).map(_.mkString(" ")).toSeq.toDF("text")
    val row = graft.operators.TextOps.zipfSlope(df, "text").collect().head
    assert(row.getLong(0) === 20L)
    val slope = row.getLong(1)
    assert(slope > -10500 && slope < -9500, s"slope_fp=$slope")
    // single word type: zero variance in rank -> slope 0 by contract
    val degenerate = graft.operators.TextOps
      .zipfSlope(Seq("x x x x").toDF("text"), "text").collect().head
    assert(degenerate.getLong(0) === 1L && degenerate.getLong(1) === 0L)
  }

  test("collocations: hand-checked PMI, minCount floor, deterministic top-k order") {
    import spark.implicits._
    // "a b" x4, "a c" x2, plus "c c" x2: with minCount=2 all three pairs
    // survive; (a,b) binds tighter than (a,c)
    val df = Seq("a b a b c c", "a b a b a c a c c c").toDF("text")
    val rows = graft.operators.TextOps.collocations(df, "text", minCount = 2, k = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
    // returned order IS the top-k order: pmi desc, then (w1, w2)
    assert(rows.map(_._1).toSeq ===
      Seq(("a", "b"), ("b", "a"), ("c", "c"), ("a", "c")))
    val out = rows.toMap
    // bigram stream (adjacent pairs within each doc):
    // doc1: (a,b)(b,a)(a,b)(b,c)(c,c); doc2: (a,b)(b,a)(a,b)(b,a)(a,c)(c,a)(a,c)(c,c)(c,c)
    // cb: (a,b)=4, (b,a)=3, (a,c)=2, (c,c)=3; N = 2*14 = 28
    // slot counts: a=10, b=8, c=10
    assert(out.keySet === Set(("a", "b"), ("b", "a"), ("a", "c"), ("c", "c")))
    assert(out(("a", "b"))._1 === 4L)
    assert(out(("a", "b"))._2 ===
      math.round(math.log(4.0 * 28 / (10.0 * 8)) * 1e4))
    assert(out(("c", "c"))._2 ===
      math.round(math.log(3.0 * 28 / (10.0 * 10)) * 1e4))
  }

  test("filterSweep: per-threshold survivors, nulls never pass, empty input zeros") {
    import spark.implicits._
    val df = Seq((Some(10.0), 100L), (Some(5.0), 50L), (None, 7L))
      .toDF("score", "toks")
    val out = graft.operators.Profiler
      .filterSweep(df, "score", "toks", Seq(0.0, 6.0, 11.0))
      .collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map(
      0.0 -> ((2L, 150L)), 6.0 -> ((1L, 100L)), 11.0 -> ((0L, 0L))))
    val empty = graft.operators.Profiler
      .filterSweep(df.where(lit(false)), "score", "toks", Seq(1.0))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(empty === Array((0L, 0L)))
  }

  test("pageRankFp: bit-identical across shuffle partitionings (the 100TB claim)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val nodes = (1L to 200L).toDF("id")
    val edges = (1 to 600)
      .map(_ => (rnd.nextInt(200).toLong + 1L, rnd.nextInt(200).toLong + 1L))
      .toDF("src", "dst")
    def run(parts: String): Map[Long, Long] =
      withSQLConf("spark.sql.shuffle.partitions" -> parts) {
        graft.operators.Graph.pageRankFp(nodes, edges, "id", iters = 3)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    assert(run("3") === run("7"))
  }

  test("k-anonymity: profile flags small groups, suppression drops their rows") {
    import spark.implicits._
    val df = Seq(
      (1L, "en", "a"), (2L, "en", "a"), (3L, "en", "a"),
      (4L, "fr", "b"), (5L, "fr", "b"), (6L, "de", "c"))
      .toDF("id", "lang", "src")
    val prof = Privacy.kAnonymityProfile(df, Seq("lang", "src"), 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(prof === Map(
      ("en", "a") -> ((3L, true)), ("fr", "b") -> ((2L, true)),
      ("de", "c") -> ((1L, false))))
    val kept = Privacy.kAnonymitySuppress(df, Seq("lang", "src"), 2)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 3L, 4L, 5L))
    intercept[IllegalArgumentException] {
      Privacy.kAnonymitySuppress(df, Seq.empty, 2)
    }
    // null quasi-values form their own group (profile semantics) and are
    // RELEASED when the null-group clears k — the null-safe join
    val withNulls = Seq(
      (1L, Some("en"), "a"), (2L, None, "a"), (3L, None, "a"), (4L, None, "b"))
      .toDF("id", "lang", "src")
    val keptN = Privacy.kAnonymitySuppress(withNulls, Seq("lang", "src"), 2)
      .collect().map(_.getLong(0)).toSet
    assert(keptN === Set(2L, 3L)) // (NULL, a) has 2 members; others are singletons
    val profN = Privacy.kAnonymityProfile(withNulls, Seq("lang", "src"), 2)
      .where(col("lang").isNull && col("src") === "a").collect()
    assert(profN.length === 1 && profN(0).getLong(2) === 2L && profN(0).getBoolean(3))
  }

  test("triangleStats: K4 census, direction/duplicate/self-loop immune") {
    import spark.implicits._
    // K4 (4 triangles, gcc=1) plus a pendant node; edges arrive dirty:
    // both directions, duplicates, a self-loop
    val clean = for {
      a <- 0L to 3L; b <- 0L to 3L if a < b
    } yield (a, b)
    val dirty = clean ++ clean.map(_.swap) ++ Seq((0L, 0L), (3L, 4L))
    val df = dirty.toDF("s", "t")
    val r = graft.operators.Graph.triangleStats(df, "s", "t").collect().head
    assert(r.getLong(0) === 5L)   // nodes
    assert(r.getLong(1) === 7L)   // 6 K4 edges + pendant
    assert(r.getLong(2) === 4L)   // triangles in K4
    // wedges: degs 3,3,3,4,1 -> 3+3+3+6+0 = 15; gcc = 12/15 = 0.8
    assert(r.getLong(3) === 8000L)
  }

  test("commonNeighborPairs: non-adjacent square corners top the list") {
    import spark.implicits._
    // square 0-1-2-3-0: diagonals (0,2) and (1,3) share 2 neighbors
    // and are non-adjacent; hub guard drops middles above maxMiddleDeg
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("s", "t")
    val top = graft.operators.Graph.commonNeighborPairs(edges, "s", "t", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(top.toSeq === Seq((0L, 2L, 2L, 10000L), (1L, 3L, 2L, 10000L)))
    // with every middle excluded there are no wedges at all
    val none = graft.operators.Graph.commonNeighborPairs(
      edges, "s", "t", 10, maxMiddleDeg = 1L)
    assert(none.count() === 0L)
  }

  test("commonNeighborPairs: cn>=2 fast path and cn=1 fallback agree with full semantics") {
    import spark.implicits._
    // two 2-wedge pairs + one 1-wedge pair: (1,2) and (3,4) share two
    // middles each (their middles (10,11)/(12,13) symmetrically share
    // two middles back), (5,6) shares only middle 14
    val edges = Seq((1L, 10L), (2L, 10L), (1L, 11L), (2L, 11L),
      (3L, 12L), (4L, 12L), (3L, 13L), (4L, 13L), (5L, 14L), (6L, 14L))
      .toDF("s", "t")
    // topN=2: the cn>=2 subset fills the list — fast path, cn=1 never ranks
    val fast = graft.operators.Graph.commonNeighborPairs(edges, "s", "t", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fast.toSeq === Seq((1L, 2L, 2L), (3L, 4L, 2L)))
    // topN=5: only four cn>=2 pairs exist — the driver check falls back
    // to the full candidate set and the 1-wedge pair (5,6) completes it
    val full = graft.operators.Graph.commonNeighborPairs(edges, "s", "t", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(full.length === 5 && full.contains((5L, 6L, 1L)))
    assert(full.take(4).forall(_._3 === 2L))
  }

  test("kCore: cascade peeling keeps the dense core only") {
    import spark.implicits._
    // K4 on 0..3 plus a tail 3-4-5: 3-core must peel the whole tail
    // (5 goes first, then 4 cascades) and keep exactly K4
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val edges = (k4 ++ Seq((3L, 4L), (4L, 5L))).toDF("s", "t")
    val core = graft.operators.Graph.kCore(edges, "s", "t", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // k=2 on a pure path unravels to nothing
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("s", "t")
    assert(graft.operators.Graph.kCore(path, "s", "t", k = 2).count() === 0L)
  }

  test("weightedPageRankFp: shares split by weight, exact integer update") {
    import spark.implicits._
    val nodes = Seq(0L, 1L, 2L).toDF("id")
    // 0 endorses 1 three times as strongly as 2; both endorse 0 back
    val e = Seq((0L, 1L, 3L), (0L, 2L, 1L), (1L, 0L, 3L), (2L, 0L, 1L))
      .toDF("src", "dst", "w")
    val r = graft.operators.Graph
      .weightedPageRankFp(nodes, e, "id", "w", iters = 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // base = 1e12/3; shares from 0: 3/4 and 1/4 of base (floor);
    // r'(v) = (15*base + 85*inbound) div 100, all exact longs
    assert(r === Map(
      0L -> 616666666666L, 1L -> 262499999999L, 2L -> 120833333333L))
  }

  test("kTruss: bowtie collapses, K4 survives with exact supports") {
    import spark.implicits._
    // two triangles sharing node 2 (bowtie): every edge has support 1,
    // so a 4-truss (support >= 2) must cascade to nothing
    val bowtie = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L), (2L, 4L))
      .toDF("s", "t")
    assert(graft.operators.Graph.kTruss(bowtie, "s", "t", k = 4).count() === 0L)
    // K4 + pendant triangle: K4 edges all have support 2; the pendant
    // triangle's support-1 edges peel, then nothing else moves
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val g = (k4 ++ Seq((3L, 4L), (3L, 5L), (4L, 5L))).toDF("s", "t")
    val out = graft.operators.Graph.kTruss(g, "s", "t", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet === k4.toSet)
    assert(out.values.forall(_ === 2L))
  }

  test("personalizedPageRankFp: restart mass stays near the seed") {
    import spark.implicits._
    val nodes = Seq(0L, 1L, 2L).toDF("id")
    val e = Seq((0L, 1L), (0L, 2L), (1L, 0L), (2L, 0L)).toDF("src", "dst")
    val r = graft.operators.Graph
      .personalizedPageRankFp(nodes, e, "id", Seq(0L).toDF("id"), iters = 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // r0 = (1e12, 0, 0); i1: seed keeps 15% restart, each leaf inherits
    // 85% of half the seed's mass
    assert(r === Map(0L -> 150000000000L, 1L -> 425000000000L, 2L -> 425000000000L))
    intercept[IllegalArgumentException] {
      graft.operators.Graph.personalizedPageRankFp(
        nodes, e, "id", Seq(9L).toDF("id"), iters = 1)
    }
  }

  test("bfsDistances: exact hop labels, depth bound respected") {
    import spark.implicits._
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "t")
    val out = graft.operators.Graph
      .bfsDistances(path, "s", "t", Seq(0L).toDF("id"), "id", maxDepth = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(0L -> 0, 1L -> 1, 2L -> 2))
  }

  test("degreeAssortativity: star is perfectly disassortative") {
    import spark.implicits._
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("s", "t")
    val r = graft.operators.Graph.degreeAssortativity(star, "s", "t")
      .collect().head
    assert(r.getLong(0) === 8L)
    assert(r.getDouble(1) === -1.0)
    // regular graph (square): zero degree variance -> NULL correlation
    val square = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("s", "t")
    assert(graft.operators.Graph.degreeAssortativity(square, "s", "t")
      .collect().head.isNullAt(1))
  }

  test("lDiversityProfile: unanimous sensitive value fails the gate") {
    import spark.implicits._
    val df = Seq(
      ("en", "a", 1L), ("en", "a", 1L), ("en", "a", 1L), // 3 rows, 1 user
      ("fr", "b", 1L), ("fr", "b", 2L), ("fr", "b", 3L)) // 3 rows, 3 users
      .toDF("lang", "src", "user")
    val out = Privacy.lDiversityProfile(df, Seq("lang", "src"), "user", l = 3)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out("en") === ((3L, 1L, false)))
    assert(out("fr") === ((3L, 3L, true)))
  }

  test("localClustering: hub of a star has lcc 0, K3 members lcc 1") {
    import spark.implicits._
    // star center 0 with leaves 1..4, plus triangle 5-6-7
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L),
      (5L, 6L), (6L, 7L), (5L, 7L)).toDF("s", "t")
    val out = graft.operators.Graph.localClustering(edges, "s", "t", topN = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(0L) === ((4L, 0L, 0L)))       // star hub: no triangles
    assert(out(5L) === ((2L, 1L, 10000L)))   // K3 member: lcc 1.0
    assert(out(1L) === ((1L, 0L, 0L)))       // leaf: deg 1 -> lcc 0
  }

  test("commonNeighborPairs plans a map-side WindowGroupLimit before the degree joins") {
    import spark.implicits._
    // the per-`a` rank() <= topN prune must compile to WindowGroupLimit
    // (partial top-N BEFORE the shuffle) and the final sort to a
    // TakeOrdered, or the wedge pairs all flow into the degree joins
    val edges = (0L until 40L).flatMap(i => Seq((i, (i + 1) % 40), (i, (i + 7) % 40)))
      .toDF("s", "t")
    val plan = graft.operators.Graph.commonNeighborPairs(edges, "s", "t", 5, 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("TakeOrdered"), plan)
  }

  test("kTruss: incremental support maintenance == full recompute on random graphs") {
    import spark.implicits._
    // the incremental path only re-derives triangles destroyed by each
    // round's dropped edges; pin its equivalence with the full-census
    // reference across random graphs and several k
    for (seed <- Seq(7, 42, 1234)) {
      val rnd = new scala.util.Random(seed)
      val n = 24
      val edges = (for {
        a <- 0L until n; b <- (a + 1) until n if rnd.nextDouble() < 0.22
      } yield (a, b)).toDF("s", "t")
      for (k <- Seq(3, 4, 5)) {
        // deltaMinEdges = 0 forces the incremental path even on a toy
        // graph (production defaults would census it instead)
        val fast = graft.operators.Graph.kTruss(edges, "s", "t", k,
            deltaMinEdges = 0L)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val full = graft.operators.Graph.kTrussFullRecompute(edges, "s", "t", k)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        assert(fast === full, s"seed=$seed k=$k")
      }
    }
  }

  test("iterative graph ops accept a reliable checkpoint dir (cluster hardening)") {
    // the SparkContext's dir, when set, makes every round loop write reliable
    // checkpoints under it; with none set the rounds are local
    import spark.implicits._
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val g = (k4 ++ Seq((3L, 4L), (4L, 5L))).toDF("s", "t")
    val nodes = (0L to 5L).toDF("id")
    val pairs = g.select(col("s").as("id_a"), col("t").as("id_b"))
    // the distributed regimes of label propagation and components
    def answers(): Seq[Any] = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Seq(
        graft.operators.Graph.kCore(g, "s", "t", k = 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
        graft.operators.Graph.kTruss(g, "s", "t", k = 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        graft.operators.Graph.bfsDistances(g, "s", "t", Seq(0L).toDF("seed"), "seed", maxDepth = 2)
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap,
        graft.operators.Graph.labelPropagation(nodes, g, "id", "s", "t", rounds = 3)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
        Dedup.connectedComponents(nodes, pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    def files(dir: String): Set[String] = {
      val root = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map(root.relativize(_).toString).toSet
      finally walk.close()
    }
    withTempDir("graft-ckpt") { dir =>
      val reliable = org.apache.spark.sql.graft.CheckpointDirs.withCheckpointDir(spark.sparkContext, dir)(answers())
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
      assert(reliable.take(3) === Seq(
        Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L),
        k4.toSet,
        Map(0L -> 0, 1L -> 1, 2L -> 1, 3L -> 1, 4L -> 2)))
      assert(reliable(4) === (0L to 5L).map(_ -> 0L).toMap)
      // the reliable checkpoints landed under the dir
      val written = files(dir)
      assert(written.nonEmpty)
      // with no dir set the rounds are local: the same answers, nothing written
      assert(answers() === reliable)
      assert(files(dir) === written)
    }
  }

  test("triangle/truss/core family raises on non-numeric node ids, never drops them") {
    import spark.implicits._
    val strEdges = Seq(("docA", "docB"), ("docB", "docC"), ("docA", "docC"))
      .toDF("s", "t")
    def chainHas(t: Throwable, s: String): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .exists(x => Option(x.getMessage).exists(_.contains(s)))
    val e1 = intercept[Exception] {
      graft.operators.Graph.triangleStats(strEdges, "s", "t").collect()
    }
    assert(chainHas(e1, "long-castable"), e1.getMessage)
    val e2 = intercept[Exception] {
      graft.operators.Graph.kCore(strEdges, "s", "t", k = 1).collect()
    }
    assert(chainHas(e2, "long-castable"), e2.getMessage)
    val e3 = intercept[Exception] {
      graft.operators.Graph.kTruss(strEdges, "s", "t", k = 3).collect()
    }
    assert(chainHas(e3, "long-castable"), e3.getMessage)
    // numeric-typed ids keep working end to end
    val intEdges = Seq((1, 2), (2, 3), (1, 3)).toDF("s", "t")
    assert(graft.operators.Graph.triangleStats(intEdges, "s", "t")
      .collect().head.getLong(2) === 1L)
    // ...and so do NUMERIC STRINGS (ids normalized to long at the
    // boundary, per the documented long-castable contract)
    val numStr = Seq(("1", "2"), ("2", "3"), ("1", "3")).toDF("s", "t")
    assert(graft.operators.Graph.kTruss(numStr, "s", "t", k = 3)
      .collect().map(_.getLong(2)).toSeq === Seq(1L, 1L, 1L))
    // ordered as longs, not as strings ("10" < "8" < "9")
    val unordered = Seq(("8", "9"), ("9", "10"), ("8", "10")).toDF("s", "t")
    assert(graft.operators.Graph.kTruss(unordered, "s", "t", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((8L, 9L), (9L, 10L), (8L, 10L)))
  }
}
