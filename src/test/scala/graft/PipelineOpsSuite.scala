package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal, Similarity, TextOps}

class PipelineOpsSuite extends AnyFunSuite with GraftSparkSession {
  import org.apache.spark.sql.graft.SimHash64

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (2L, "completely different text about spark query engines and data sketches"),
      (3L, "THE QUICK  BROWN fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text")
  }

  test("simhash: deterministic, near-dup texts are bitwise close") {
    val a = SimHash64.compute(docs.collect()(0).getString(1))
    val b = SimHash64.compute(docs.collect()(1).getString(1))
    val c = SimHash64.compute(docs.collect()(2).getString(1))
    assert(a.length === 16 && a.matches("[0-9a-f]{16}"))
    assert(SimHash64.hamming(a, a) === 0)
    assert(SimHash64.hamming(a, b) < SimHash64.hamming(a, c))
    // SQL surface agrees with the direct computation
    docs.createOrReplaceTempView("simhash_docs")
    val viaSql = spark.sql(
      "SELECT graft_simhash(text) FROM simhash_docs WHERE doc_id = 0").collect()(0).getString(0)
    assert(viaSql === a)
    val ham = spark.sql(
      s"SELECT graft_hamming_hex('$a', '$c')").collect()(0).getInt(0)
    assert(ham === SimHash64.hamming(a, c))
  }

  test("simhash pins Spark trim/split tokenization on tab/newline-edged text") {
    import spark.implicits._
    // regression (round-6 advice): Java String.trim/2-arg split vs Spark
    // trim (U+0020 only)/split(-1) diverge exactly on texts with leading
    // \t or trailing \n — the native fingerprint must match the
    // builtin-tokenized mirror there too
    val texts = Seq(
      "\tleading tab text here now",
      "trailing newline text here now\n",
      " \t mixed \n ws \t text ",
      "",
      "short\n")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val rows = df.select(col("id"),
        call_function("graft_simhash", col("t")).as("native"),
        split(trim(lower(col("t"))), "\\s+").as("toks"))
      .orderBy("id").collect()
    val hexChars = "0123456789abcdef"
    rows.foreach { r =>
      val toks = r.getSeq[String](2)
      val md = java.security.MessageDigest.getInstance("MD5")
      val counters = new Array[Int](64)
      toks.foreach { tok =>
        md.reset()
        val bytes = md.digest(tok.getBytes("UTF-8"))
        for (d <- 0 until 16; k <- 0 until 4) {
          val digit = if ((d & 1) == 0) (bytes(d >> 1) >> 4) & 0xF else bytes(d >> 1) & 0xF
          counters(d * 4 + k) += (if (((digit >> k) & 1) == 1) 1 else -1)
        }
      }
      val expected = (0 until 16).map { d =>
        var v = 0
        for (k <- 0 until 4) if (counters(d * 4 + k) > 0) v |= (1 << k)
        hexChars.charAt(v)
      }.mkString
      assert(r.getString(1) === expected, s"text=${texts(r.getLong(0).toInt)}")
    }
    // interior whitespace kinds are interchangeable separators; edge tabs
    // are not silently dropped (they vote as empty tokens, like the mirror)
    assert(SimHash64.compute("a\tb\nc") === SimHash64.compute("a b c"))
    assert(SimHash64.compute("\ta b") !== SimHash64.compute("a b"))
    assert(SimHash64.compute("\ta b") === SimHash64.compute("\na b"))
  }

  test("exact and normalized dedup") {
    val exact = Dedup.exactDedup(docs, "doc_id", "text")
    assert(exact.count() === 4) // no byte-identical dups
    val norm = Dedup.normalizedDedup(docs, "doc_id", "text")
    assert(norm.count() === 3) // 0 and 3 collapse (case/whitespace)
    val kept = norm.where(col("n_copies") === 2).select("kept_id").collect()
    assert(kept.map(_.getLong(0)).toSeq === Seq(0L))
  }

  test("ngram jaccard and minhash LSH agree on near-dup pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, num = 1, den = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3, num = 1, den = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((0L, 1L)) && exact.contains((0L, 3L)))
    assert(!exact.exists(p => p._1 == 2L || p._2 == 2L))
    assert(lsh === exact)
  }

  test("native minhash: set-order-independent, numHashes minima, discriminative") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("aa", "bb", "cc", "dd")),
      (2L, Seq("dd", "cc", "bb", "aa")), // same set, different order
      (3L, Seq("xx", "yy"))).toDF("id", "sh")
    val sigs = df.select(col("id"), Dedup.minhashSignature(col("sh"), 64).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L).length === 64)
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
    // SQL surface: constant-literal validation
    df.createOrReplaceTempView("mh_docs")
    val viaSql = spark.sql("SELECT graft_minhash(sh, 64) FROM mh_docs WHERE id = 1")
      .collect()(0).getSeq[Long](0)
    assert(viaSql === sigs(1L))
    val e = intercept[Exception] {
      spark.sql("SELECT graft_minhash(sh, id) FROM mh_docs").collect()
    }
    assert(e.getMessage.contains("constant integer literal"))
  }

  test("native winnowing: shared substring >= k+w-1 shares a fingerprint; short text = 1 gram") {
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog"
    val df = Seq(
      (1L, s"AAA prefix words $shared zzz suffix"),
      (2L, s"totally different beginning $shared another ending"),
      (3L, "tiny")).toDF("doc_id", "text")
    val fps = TextOps.withWinnowingFingerprints(df, "text", "fps")
      .select("doc_id", "fps").collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // winnowing guarantee: a shared substring of length >= k+w-1 (= 11)
    // yields at least one shared fingerprint
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty)
    // shorter than k (= 8) chars: the whole text is the single gram
    assert(fps(3L).length === 1)
    // deterministic across invocations
    val again = TextOps.withWinnowingFingerprints(df, "text", "fps")
      .select("doc_id", "fps").collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(again === fps)
  }

  test("connected components resolve transitive duplicate chains") {
    import spark.implicits._
    val nodes = (1L to 7L).toDF("doc_id")
    // chain 1-2-3 (1~3 only transitively), pair 5-6, singletons 4 and 7
    val edges = Seq((2L, 1L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(nodes, edges, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
    // deletes = everything whose comp differs from its own id
    assert(comps.count { case (id, c) => id != c } === 3)
  }

  test("leakage-free splits keep every near-dup cluster in one split") {
    import spark.implicits._
    val nodes = (1L to 12L).toDF("doc_id")
    // clusters {1,2,3}, {5,6}, singletons elsewhere
    val edges = Seq((2L, 1L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.leakageFreeSplits(nodes, edges, "doc_id",
        Seq("train" -> 8, "val" -> 1, "test" -> 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length === 12)
    // cluster members share both label and split
    val byComp = out.groupBy(_._2)
    assert(byComp(1L).map(_._1).toSet === Set(1L, 2L, 3L))
    assert(byComp(1L).map(_._3).toSet.size === 1)
    assert(byComp(5L).map(_._1).toSet === Set(5L, 6L))
    assert(byComp(5L).map(_._3).toSet.size === 1)
    // the split of a cluster equals assignSplits of its LABEL: doc 4 is
    // a singleton, so its split must match per-id assignment of id 4
    val solo = graft.operators.Sampling.assignSplits(Seq(4L).toDF("comp"), "comp",
        Seq("train" -> 8, "val" -> 1, "test" -> 1))
      .collect().head.getString(1)
    assert(out.find(_._1 == 4L).get._3 === solo)
  }

  test("connected components on empty input return empty (no NPE)") {
    import spark.implicits._
    val nodes = Seq.empty[Long].toDF("doc_id")
    val edges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(nodes, edges, "doc_id").collect().isEmpty)
    // forced-distributed path too
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(Dedup.connectedComponents(nodes, edges, "doc_id").collect().isEmpty)
    }
  }

  test("local union-find and distributed propagation agree") {
    import spark.implicits._
    // long transitive chain (exercises multi-round propagation in the
    // loop path and path compression in the local path) plus a clique,
    // a pair, singletons, and an edge endpoint (99) absent from nodes
    // that still bridges 10-99-11
    val nodes = (1L to 20L).toDF("doc_id")
    val edges = ((1L to 8L).sliding(2).map(s => (s(0), s(1))).toSeq ++
      Seq((12L, 13L), (13L, 14L), (12L, 14L), (16L, 17L), (10L, 99L), (99L, 11L)))
      .toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(nodes, edges, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Dedup.connectedComponents(nodes, edges, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(local === dist)
    assert(local(8L) === 1L)   // chain fully collapsed
    assert(local(11L) === 10L) // bridged through the out-of-nodes endpoint
    assert(local(15L) === 15L) // singleton
  }

  test("distributed components: the result's plan does not grow with the chain") {
    import spark.implicits._
    // each round joins the previous round's labels twice; unless a round
    // is truncated to a leaf, the plan doubles per round (an 8-node chain
    // runs 8 rounds)
    def planNodes(n: Long): Int = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val nodes = (1L to n).toDF("doc_id")
      val edges = (1L to n).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("id_a", "id_b")
      val out = Dedup.connectedComponents(nodes, edges, "doc_id")
      assert(out.collect().forall(_.getLong(1) == 1L))
      out.queryExecution.analyzed.collect { case p => p }.size
    }
    val four = planNodes(4)
    assert(planNodes(8) === four)
    assert(planNodes(16) === four)
  }

  test("simhash banding equals brute-force hamming filter (lossless <= 3 of 4 bands)") {
    import spark.implicits._
    val base = docs.select(col("doc_id"), col("text"))
    val planted = base.where(col("doc_id") === 0L)
      .select((col("doc_id") + 100).as("doc_id"), col("text"))
    val all = base.unionByName(planted).cache()
    val banded = Dedup.simhashNearDupPairs(all, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over the same fingerprints
    val sims = all.select(col("doc_id"),
      call_function("graft_simhash", col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val brute = (for {
      (ia, sa) <- sims; (ib, sb) <- sims if ia < ib
      h = SimHash64.hamming(sa, sb) if h <= 3
    } yield (ia, ib, h.toLong)).toSet
    assert(banded === brute)
    assert(banded.contains((0L, 100L, 0L))) // the planted exact copy
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(all, "doc_id", "text", maxHamming = 4, bands = 4)
    }
  }

  test("word shingle hashes mirror string shingles: counts, sharing, short docs") {
    import spark.implicits._
    val df = Seq(
      (0L, "a b c d e f"),
      (1L, "x y a b c d e f"),    // shares the 4 later 5-grams' words with 0? no — shifted
      (2L, "a b c d e f"),        // identical to 0: identical hash set
      (3L, "one two"),            // shorter than n -> single whole-text shingle
      (4L, "ONE   two"),          // case/whitespace-normalized same as 3
      (5L, "\tfoo bar baz\n"),    // Spark trim keeps \t/\n -> empty edge tokens
      (6L, " foo  bar baz "),     // Spark trim strips the spaces -> no empties
      (7L, "foo bar baz"))        // words() equal to 6, NOT to 5
      .toDF("doc_id", "text")
    val both = df.select(col("doc_id"),
      Dedup.shingleHashes(col("text"), 5).as("hs"),
      Dedup.shingles(col("text"), 5).as("ss"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getSeq[String](2)))).toMap
    // per-doc distinct counts agree with the string construction
    both.foreach { case (id, (hs, ss)) => assert(hs.size === ss.size, s"doc $id") }
    // identical texts -> identical hash sets; distinct texts -> disjoint here
    assert(both(0L)._1 === both(2L)._1)
    assert(both(3L)._1 === both(4L)._1) // normalization matches words()
    assert(both(3L)._1.size === 1)
    // doc 1 contains doc 0's full word sequence -> shares all of doc 0's grams
    assert(both(0L)._1.toSet.subsetOf(both(1L)._1.toSet))
    // tokenizer parity with TextOps.words: Spark trim strips only spaces,
    // so \t/\n survive as empty edge tokens — hash-shingle equality must
    // track STRING-shingle equality exactly on such texts (regression:
    // Java String.trim/split collapsed 5 onto 6/7)
    assert(both(6L)._1 === both(7L)._1)
    assert(both(5L)._1 !== both(7L)._1)
    assert(both(5L)._2 !== both(7L)._2) // the string side distinguishes them too
    // SQL surface
    val viaSql = spark.sql("SELECT size(graft_word_shingles('a b c d', 3))")
      .collect()(0).getInt(0)
    assert(viaSql === 2)
  }

  test("decontamination flags docs sharing shingles with the benchmark") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "one two three four five six seven eight nine ten"), // contains benchmark 8-gram
      (2L, "totally unrelated words about completely different things here now"),
      (3L, "prefix one two three four five six seven eight suffix")).toDF("doc_id", "text")
    val benchmark = Seq(Tuple1("one two three four five six seven eight")).toDF("text")
    val flagged = Dedup.contaminatedDocs(corpus, benchmark, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(flagged.keySet === Set(1L, 3L))
    assert(flagged(3L) === 1L) // exactly the planted 8-gram
  }

  test("contamination overlap scores the shared-shingle fraction per doc") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "one two three four five six seven eight nine ten"), // 3 8-grams, 1 shared
      (2L, "totally unrelated words about completely different things here now"),
      (3L, "one two three four five six seven eight")).toDF("doc_id", "text") // full copy
    val benchmark = Seq(Tuple1("one two three four five six seven eight")).toDF("text")
    val all = Dedup.contaminationOverlap(corpus, benchmark, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(all.keySet === Set(1L, 2L, 3L)) // minFrac=0 keeps clean docs too
    assert(all(1L) === ((3L, 1L, math.round(1.0 / 3 * 1e9) / 1e9)))
    assert(all(2L)._2 === 0L && all(2L)._3 === 0.0)
    assert(all(3L) === ((1L, 1L, 1.0))) // exact benchmark copy scores 1.0
    val flagged = Dedup.contaminationOverlap(corpus, benchmark, "doc_id", "text",
      n = 8, minFrac = 0.5).select("id").as[Long].collect().toSet
    assert(flagged === Set(3L))
  }

  test("hashed bow score: frozen weights, pinned tokenizer, exact integer sums") {
    import spark.implicits._
    val wts = Seq(1.0, -2.0, 4.0, 8.0)
    val scored = docs.select(col("doc_id"),
      graft.functions.graft_hashed_bow_score(col("text"), wts).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // every token's weight is one of wts, so any score is an integer
    // combination — and identical token multisets score identically
    assert(scored.values.forall(s => s == math.rint(s)))
    // doc 3 differs from doc 0 only by case and a double space: the
    // lower/trim/split(-1) tokenizer sees one extra empty token
    val viaSql = {
      docs.createOrReplaceTempView("bow_docs")
      spark.sql(
        "SELECT graft_hashed_bow_score(text, array(1.0d, -2.0d, 4.0d, 8.0d)) FROM bow_docs WHERE doc_id = 0")
        .collect()(0).getDouble(0)
    }
    assert(viaSql === scored(0L))
    // null text -> null score; empty weights rejected at registration
    val nulls = Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text")
      .select(graft.functions.graft_hashed_bow_score(col("text"), wts).as("s"))
      .collect()
    assert(nulls(0).isNullAt(0))
    intercept[Exception] {
      spark.sql("SELECT graft_hashed_bow_score('x', array())").collect()
    }
  }

  test("hashed bow score pins trim/split semantics on tab/newline-edged text") {
    import spark.implicits._
    val wts = (0 until 8).map(i => (i + 1).toDouble)
    val base = Seq((0L, "alpha beta gamma")).toDF("doc_id", "text")
      .select(graft.functions.graft_hashed_bow_score(col("text"), wts).as("s"))
      .collect()(0).getDouble(0)
    // Spark trim is U+0020-only: a leading tab survives trim, then acts
    // as a separator under split(_, -1) — yielding a leading EMPTY token
    // that scores md5("")'s slot weight (Java String.trim would have
    // eaten it)
    val tabbed = Seq((0L, "\talpha beta gamma")).toDF("doc_id", "text")
      .select(graft.functions.graft_hashed_bow_score(col("text"), wts).as("s"))
      .collect()(0).getDouble(0)
    val sparkSplit = Seq((0L, "\talpha beta gamma")).toDF("doc_id", "text")
      .select(graft.operators.TextOps.words(col("text")).as("ws"))
      .collect()(0).getSeq[String](0)
    assert(sparkSplit === Seq("", "alpha", "beta", "gamma"))
    assert(tabbed !== base) // the empty token's weight is observable
  }

  test("winnowing handles non-ASCII codepoints deterministically") {
    import spark.implicits._
    val shared = "curiosité café déjà vu 😀 emoji tail words" // é, à, non-BMP emoji
    val df = Seq(
      (1L, s"head $shared end one"),
      (2L, s"other start $shared closing")).toDF("doc_id", "text")
    val fps = TextOps.withWinnowingFingerprints(df, "text", "fps")
      .select("doc_id", "fps").collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty) // shared substring guarantee holds
    assert(fps(1L).forall(h => h >= 0 && h < 1000000007L))  // hashes stay in the mod field
  }

  test("language id and quality scoring") {
    val r = docs.select(col("doc_id"), TextOps.languageId(col("text")).as("lang"),
      TextOps.qualityFlag(col("text")).as("q")).orderBy("doc_id").collect()
    assert(r.forall(_.getString(1) == "en")) // all fixtures are English-ish
    assert(r.forall(_.getBoolean(2)))
    import spark.implicits._
    val und = Seq((9L, "xyzzy plugh 12345")).toDF("doc_id", "text")
      .select(TextOps.languageId(col("text"))).collect()
    assert(und.head.getString(0) === "und")
  }

  test("knn brute force and IVF") {
    import spark.implicits._
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 31 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceKnn(vecs, vecs.where(col("vec_id") < 5),
      "vec_id", "embedding", 3)
    assert(exact.count() === 15)
    assert(exact.groupBy("query_id").count().collect().forall(_.getLong(1) == 3))
    val approx = Similarity.ivfKnn(vecs, vecs.where(col("vec_id") < 5),
      "vec_id", "embedding", 3, nlist = 8, nprobe = 4)
    val recall = Similarity.recallAtK(exact, approx).collect()(0).getDouble(0)
    assert(recall > 0.0 && recall <= 1.0)
  }

  test("projected two-stage knn: near-exact on clustered data, graceful on uniform") {
    import spark.implicits._
    // clustered corpus (the realistic case): projection keeps clusters apart
    val rng = new scala.util.Random(7)
    val centers = Array.fill(5)(Array.fill(64)(rng.nextGaussian() * 5))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.1).toFloat))
    }.toDF("vec_id", "embedding")
    val cq = vecs.where(col("vec_id") < 20)
    val cExact = Similarity.bruteForceKnn(vecs, cq, "vec_id", "embedding", 5)
    // m = cluster size: the coarse stage reliably keeps the right
    // CLUSTER; exact rerank then restores the fine in-cluster order
    val cApprox = Similarity.projectedKnn(vecs, cq, "vec_id", "embedding",
      k = 5, m = 40, inDim = 64, outDim = 16)
    val cRecall = Similarity.recallAtK(cExact, cApprox).collect()(0).getDouble(0)
    assert(cRecall >= 0.9, s"expected clustered recall >= 0.9, got $cRecall")
    // near-uniform corpus (the adversarial case: neighbors ~equidistant):
    // recall is moderate but must not degrade when m widens
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = e.where(col("vec_id") < 20)
    val exact = Similarity.bruteForceKnn(e, queries, "vec_id", "embedding", 3).cache()
    val wide = Similarity.projectedKnn(e, queries, "vec_id", "embedding", k = 3, m = 50)
    val rWide = Similarity.recallAtK(exact, wide).collect()(0).getDouble(0)
    val narrow = Similarity.projectedKnn(e, queries, "vec_id", "embedding", k = 3, m = 3)
    val rNarrow = Similarity.recallAtK(exact, narrow).collect()(0).getDouble(0)
    assert(rWide >= 0.4, s"uniform-corpus recall collapsed: $rWide")
    assert(rWide >= rNarrow, s"wider candidate set must not lose recall: $rWide < $rNarrow")
  }

  test("ivf recall is high on clustered data (k-means finds the clusters)") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // 5 well-separated cluster directions, 40 points each with small jitter
    val centers = Array.fill(5)(Array.fill(16)(rng.nextGaussian() * 5))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.1).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 20)
    val exact = Similarity.bruteForceKnn(vecs, queries, "vec_id", "embedding", 5)
    val approx = Similarity.ivfKnn(vecs, queries, "vec_id", "embedding", 5,
      nlist = 5, nprobe = 1) // probing ONE cell must suffice when clusters are real
    val recall = Similarity.recallAtK(exact, approx).collect()(0).getDouble(0)
    assert(recall >= 0.9, s"expected clustered recall >= 0.9 at nprobe=1, got $recall")
  }

  test("short documents shingle to their whole text instead of crashing") {
    import spark.implicits._
    val short = Seq((0L, "hello world"), (1L, "hello world"), (2L, "only three words")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(short, "doc_id", "text", n = 5, num = 4, den = 5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((0L, 1L))) // identical short docs found, no crash
  }

  test("zero-norm embeddings are excluded, not ranked first as NaN") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0f, 1f)),
      (3L, Array(0f, 0f))).toDF("vec_id", "embedding")
    val knn = Similarity.bruteForceKnn(vecs, vecs.where(col("vec_id") === 0), "vec_id", "embedding", 2)
      .orderBy("rk").collect().map(_.getLong(2))
    assert(knn.toSeq === Seq(1L, 2L)) // the zero vector never appears
    val pairs = Dedup.embeddingCosinePairs(vecs, "vec_id", "embedding", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("hamming is case-insensitive and penalizes malformed/short input") {
    assert(SimHash64.hamming("FF", "ff") === 0)
    assert(SimHash64.hamming("ab", "abcd") === 8) // two missing digits = 2*4 bits
    assert(SimHash64.hamming("zz", "00") === 8)   // non-hex digits = full mismatch
  }

  test("embedding LSH finds planted near-dups with exact-verified precision") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val base = Array.fill(16)(rng.nextGaussian().toFloat)
    val nearDup = base.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }
    val vecs = ((0 until 40).map(i => (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat))) ++
      Seq((100L, base), (101L, nearDup))).toDF("vec_id", "embedding")
    val lsh = Dedup.embeddingLshPairs(vecs, "vec_id", "embedding", 0.95, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.embeddingCosinePairs(vecs, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact === Set((100L, 101L)))
    assert(lsh === exact)
  }

  test("semantic dedup removes planted near-dups within clusters, keeps sources") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // 3 well-separated gaussian clusters of 10 vectors each, plus a
    // near-identical copy of one member per cluster at id+1000
    val centers = Seq.fill(3)(Array.fill(16)(rng.nextGaussian() * 5))
    val base = centers.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 10).map { i =>
        (ci * 10 + i.toLong, c.map(x => (x + rng.nextGaussian() * 0.1).toFloat))
      }
    }
    val planted = base.filter(_._1 % 10 == 0).map { case (id, v) =>
      (id + 1000L, v.map(x => x + 0.001f))
    }
    val vecs = (base ++ planted).toDF("id", "v")
    // organic same-cluster cosines reach ~0.9996 at this noise scale; the
    // planted copies sit at ~1-2e-8 — threshold between the two regimes
    val removed = Dedup.semanticDedup(vecs, "id", "v", threshold = 0.99999, nlist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(removed === Set((1000L, 0L), (1010L, 10L), (1020L, 20L)))
  }

  test("semantic dedup plans a cell equi-join, never a cartesian pair blowup") {
    import spark.implicits._
    val vecs = (0 until 20).map(i => (i.toLong, Array(i.toFloat, 1f, 2f))).toDF("id", "v")
    val plan = Dedup.semanticDedup(vecs, "id", "v", 0.99, nlist = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the pair search is a hash join keyed on the cell; the only nested-loop
    // join in the plan is the intended ONE-ROW packed-centroid broadcast
    assert(plan.contains("Join [cell") || plan.contains("Join [coalesce(cell"), plan)
  }

  test("multimodal synthesize + real javax.imageio decode round-trip") {
    val media = Multimodal.synthesizeImageContent(docs, "doc_id")
    assert(media.schema.fieldNames.toSeq === Seq("doc_id", "content", "meta"))
    val decoded = Multimodal.decodeImageFeatures(media, "doc_id").orderBy("doc_id").collect()
    assert(decoded.length === 4)
    decoded.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = Multimodal.syntheticDims(id)
      assert(r.getInt(2) === w)
      assert(r.getInt(3) === h)
      assert(r.getInt(4) === 1)
      assert(r.getString(5) === "png")
      assert(r.getLong(1) > 0L) // real PNG stream, non-trivial byte length
    }
  }

  test("resize re-samples the real decoded pixels and round-trips through PNG") {
    val media = Multimodal.synthesizeImageContent(docs, "doc_id")
    val resized = Multimodal.resizeImages(media, "doc_id", 8, 6).orderBy("doc_id").collect()
    assert(resized.length === 4)
    resized.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = Multimodal.syntheticDims(id)
      assert((r.getInt(1), r.getInt(2)) === (8, 6))
      // checksum from the planted-pixel formula + nearest-neighbor map
      val expected = (for (y <- 0 until 6; x <- 0 until 8)
        yield (id * 31 + 7 * (x * w / 8) + (y * h / 6)) & 0xffffff).sum
      assert(r.getLong(3) === expected)
      // the emitted PNG really encodes those pixels: re-decode and re-sum
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](4)))
      val roundTrip = (for (y <- 0 until 6; x <- 0 until 8)
        yield (img.getRGB(x, y) & 0xffffff).toLong).sum
      assert(roundTrip === expected)
    }
  }

  test("image dHash reproduces the planted pixels; banded pairs = all-pairs hamming") {
    import spark.implicits._
    // two docs share a seed (exact-duplicate payloads), two don't
    val seeds = Seq((10L, 3L), (11L, 3L), (12L, 7L), (13L, 9L)).toDF("doc_id", "seed")
    val content = Multimodal.synthesizeImageContent(
      seeds.select(col("seed").as("doc_id")).distinct(), "doc_id")
      .select(col("doc_id").as("seed"), col("content"))
    val hashed = Multimodal.imageDhash(
      seeds.join(content, "seed").select("doc_id", "content"), "doc_id")
    val m = hashed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the hash is an exact function of the planted-pixel formula
    def expected(seed: Long): Long = {
      val (w, h) = Multimodal.syntheticDims(seed)
      def gray(x: Int, y: Int): Int = {
        val rgb = ((seed * 31 + (x * w / 9) * 7 + (y * h / 8)) & 0xffffff).toInt
        (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
      }
      (for (y <- 0 until 8; x <- 0 until 8 if gray(x + 1, y) > gray(x, y))
        yield 1L << (y * 8 + x)).fold(0L)(_ | _)
    }
    assert(m === Map(10L -> expected(3L), 11L -> expected(3L),
      12L -> expected(7L), 13L -> expected(9L)))
    // the banded join must equal brute-force hamming (pigeonhole recall)
    val pairs = Multimodal.imageNearDupPairs(hashed, "doc_id", "phash", 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ids = m.keys.toSeq.sorted
    val brute = (for {
      i <- ids; j <- ids if i < j
      hm = java.lang.Long.bitCount(m(i) ^ m(j)) if hm <= 3
    } yield (i, j, hm.toLong)).toSet
    assert(pairs === brute)
    assert(pairs.contains((10L, 11L, 0L)))
    // undecodable / null payloads keep their row with a null hash
    val junk = Seq((1L, Array[Byte](9, 9)), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "content")
    assert(Multimodal.imageDhash(junk, "doc_id").collect().forall(_.isNullAt(1)))
    // and the pair search is a bucketed equi-join, never a cross join
    val plan = Multimodal.imageNearDupPairs(hashed, "doc_id", "phash", 3, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("audio fingerprint: deterministic on identical payloads, null on junk") {
    import spark.implicits._
    val seeds = Seq((20L, 5L), (21L, 5L), (22L, 8L)).toDF("doc_id", "seed")
    val content = Multimodal.synthesizeAudioContent(
      seeds.select(col("seed").as("doc_id")).distinct(), "doc_id")
      .select(col("doc_id").as("seed"), col("content"))
    val fp = Multimodal.audioFingerprint(
      seeds.join(content, "seed").select("doc_id", "content"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp.size === 3)
    assert(fp(20L) === fp(21L)) // identical payloads -> identical fingerprint
    assert(fp(20L) !== fp(22L)) // different frequency/length -> different
    // the pair search composes across modalities: same banded join
    val hashed = Multimodal.audioFingerprint(
      seeds.join(content, "seed").select("doc_id", "content"), "doc_id")
    val pairs = Multimodal.imageNearDupPairs(hashed, "doc_id", "afp", 2, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((20L, 21L, 0L)))
    // junk bytes and null payloads keep their row with a null fingerprint
    val junk = Seq((1L, Array[Byte](1, 2, 3)), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "content")
    assert(Multimodal.audioFingerprint(junk, "doc_id").collect().forall(_.isNullAt(1)))
  }

  test("corrupt payloads resize to a null-feature row, not a job failure") {
    import spark.implicits._
    val junk = Seq((1L, Array[Byte](1, 2, 3)), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "content")
    val out = Multimodal.resizeImages(junk, "doc_id", 4, 4).orderBy("doc_id").collect()
    assert(out.length === 2)
    out.foreach(r => assert(r.isNullAt(1) && r.isNullAt(3)))
  }

  test("multimodal audio synthesize + real javax.sound decode round-trip") {
    val media = Multimodal.synthesizeAudioContent(docs, "doc_id")
    val decoded = Multimodal.decodeAudioFeatures(media, "doc_id").orderBy("doc_id").collect()
    assert(decoded.length === 4)
    decoded.foreach { r =>
      val id = r.getLong(0)
      val (rate, frames) = Multimodal.syntheticAudio(id)
      assert(r.getInt(2) === rate)
      assert(r.getInt(3) === 1)
      assert(r.getLong(4) === frames.toLong)
      assert(r.getString(5) === "wav")
    }
    // image bytes are not audio: audio decoder keeps rows, nulls features
    val img = Multimodal.synthesizeImageContent(docs, "doc_id")
    val cross = Multimodal.decodeAudioFeatures(img, "doc_id").collect()
    assert(cross.length === 4)
    assert(cross.forall(r => r.isNullAt(2) && r.isNullAt(4)))
  }

  test("undecodable payloads keep their row with null image features") {
    val media = Multimodal.attachContent(docs, "doc_id", "text") // text bytes, not an image
    val decoded = Multimodal.decodeImageFeatures(media, "doc_id").orderBy("doc_id").collect()
    assert(decoded.length === 4)
    decoded.foreach { r =>
      assert(r.getLong(1) > 0L)  // byte_len still reported
      assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(5))
    }
  }

  test("filter_lines: minWords, punct, markers, counts, and rejoin semantics") {
    import spark.implicits._
    val text = "Good line stays here.\nno\nBuy now CLICK HERE today\n" +
      "ends without punct but long enough\n"
    val df = Seq((1L, text)).toDF("doc_id", "text")
    // minWords=3 + marker drop, no punct requirement: the trailing empty
    // line (split -1 keeps it) and "no" fail minWords; the marker line is
    // dropped case-insensitively
    val r1 = graft.operators.TextOps.filterLines(df, "doc_id", "text",
      minWords = 3, requirePunct = false, dropMarkers = Seq("click here"))
      .collect()(0)
    assert(r1.getString(1) ===
      "Good line stays here.\nends without punct but long enough")
    assert(r1.getLong(2) === 5L) // 4 content lines + trailing empty
    assert(r1.getLong(3) === 2L)
    // requirePunct additionally drops the unpunctuated line
    val r2 = graft.operators.TextOps.filterLines(df, "doc_id", "text",
      minWords = 3, requirePunct = true, dropMarkers = Seq("click here"))
      .collect()(0)
    assert(r2.getString(1) === "Good line stays here.")
    assert(r2.getLong(3) === 1L)
    // trailing space defeats the punctuation check (C4 semantics: last
    // char verbatim)
    val sp = Seq((1L, "Three words here. ")).toDF("doc_id", "text")
    val r3 = graft.operators.TextOps.filterLines(sp, "doc_id", "text",
      minWords = 1, requirePunct = true).collect()(0)
    assert(r3.getLong(3) === 0L)
    // SQL surface parity + struct field access
    df.createOrReplaceTempView("fl_docs")
    val viaSql = spark.sql(
      """SELECT graft_filter_lines(text, 3, false, 'click here').n_kept
        |FROM fl_docs""".stripMargin).collect()(0).getInt(0)
    assert(viaSql === 2)
    // null text -> null struct; empty text -> one empty line, zero kept
    val edge = Seq((1L, null.asInstanceOf[String]), (2L, "")).toDF("doc_id", "text")
    val er = graft.operators.TextOps.filterLines(edge, "doc_id", "text",
      minWords = 1).orderBy("id").collect()
    assert(er(0).isNullAt(1) && er(0).isNullAt(3))
    assert(er(1).getLong(2) === 1L && er(1).getLong(3) === 0L)
    // minWords=0, no punct, no markers: identity (counts included)
    val id = graft.operators.TextOps.filterLines(df, "doc_id", "text",
      minWords = 0).collect()(0)
    assert(id.getString(1) === text)
    assert(id.getLong(3) === 5L)
    // non-constant minWords rejected at analysis
    val ex = intercept[Exception] {
      spark.sql("SELECT graft_filter_lines(text, length(text), false) FROM fl_docs")
        .collect()
    }
    assert(ex.getMessage.toLowerCase.contains("constant"))
  }

  test("bm25 top-k: tf/idf ordering, tie-break, absent term, plan shape") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "spark spark spark join"),      // tf(spark)=3, short
      (1L, "spark join join table table"), // mixed
      (2L, "table table table table"),     // no 'spark'
      (3L, "spark spark spark join"),      // identical to 0 -> exact tie
      (4L, "other words only here")        // matches nothing
    ).toDF("doc_id", "text")
    val out = graft.operators.Retrieval.bm25TopK(
      corpus, "doc_id", "text", Seq(7 -> "spark join", 8 -> "zzz table"), k = 3)
    val rows = out.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val q7 = rows.filter(_._1 == 7)
    // docs 0 and 3 tie exactly (identical text) -> id tiebreak; doc 2 has
    // neither query term and must be absent; doc 4 matches nothing
    assert(q7.map(t => (t._2, t._3)).toSeq === Seq((1L, 0L), (2L, 3L), (3L, 1L)))
    assert(q7(0)._4 === q7(1)._4) // identical docs score identically
    assert(q7(2)._4 < q7(0)._4)
    val q8 = rows.filter(_._1 == 8)
    // 'zzz' occurs nowhere (df=0 idf path); only 'table' docs match
    assert(q8.map(_._3).toSet === Set(1L, 2L))
    assert(q8.head._3 === 2L) // tf(table)=4 in the all-table doc wins
    // scores are positive fixed-point longs
    assert(rows.forall(_._4 > 0L))
    // null text drops the row (nullIntolerant tf pass), k caps output
    val withNull = corpus.union(Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val n2 = graft.operators.Retrieval.bm25TopK(
      withNull, "doc_id", "text", Seq(1 -> "spark table join"), k = 2)
    assert(n2.count() === 2L)
    // plan shape: one-row stats side broadcast, top-k pruned map-side
    // before the per-query window shuffle, tf pass is the native
    // marker-hits expression (no lambda / no UDF)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(out.queryExecution.analyzed.toString.contains("graft_marker_hits"), plan)
  }

  test("corpus diff: status classification and formatting-insensitive change") {
    import spark.implicits._
    val oldSnap = Seq(
      (1L, "alpha beta"), (2L, "gamma delta"), (3L, "kept same"),
      (4L, "will vanish")).toDF("doc_id", "text")
    val newSnap = Seq(
      (1L, "ALPHA   beta"),   // case+whitespace only -> unchanged
      (2L, "gamma delta new"), // real edit -> changed
      (3L, "kept same"),       // unchanged
      (5L, "brand new doc")    // added
    ).toDF("doc_id", "text")
    val out = graft.operators.CorpusDiff.diff(oldSnap, newSnap, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "unchanged", 2L -> "changed", 3L -> "unchanged",
      4L -> "removed", 5L -> "added"))
    val summary = graft.operators.CorpusDiff.diffSummary(
      oldSnap, newSnap, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary === Map("unchanged" -> 2L, "changed" -> 1L,
      "removed" -> 1L, "added" -> 1L))
    // only ids and 16-byte digests reach the join: no text column in the
    // post-projection join plan
    val plan = graft.operators.CorpusDiff.diff(oldSnap, newSnap, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"), plan)
  }

  test("bucket_index: runtime bounds binary search for double and string keys") {
    import spark.implicits._
    val df = Seq((0.5, "a"), (1.0, "b"), (2.5, "c"), (9.0, "z")).toDF("v", "k")
    val out = df.select(
      graft.functions.graft_bucket_index(
        array(lit(1.0), lit(2.0), lit(3.0)), col("v")).as("db"),
      graft.functions.graft_bucket_index(
        array(lit("b"), lit("d")), col("k")).as("sb"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    // count of bounds <= v: boundary value 1.0 lands in bucket 1 (<=)
    assert(out.toSeq === Seq((0, 0), (1, 1), (2, 1), (3, 2)))
    // matches the constant-bounds ValueBucket on the same data
    val both = df.select(
      graft.functions.graft_bucket_index(
        array(lit(1.0), lit(2.0), lit(3.0)), col("v")).as("rt"),
      graft.functions.graft_value_bucket(col("v"), Seq(1.0, 2.0, 3.0)).as("ct"))
      .collect()
    both.foreach(r => assert(r.getInt(0) === r.getInt(1)))
    // null array or null value -> null
    val nulls = Seq((Some(1.5), false), (None, true)).toDF("v", "nb")
      .select(graft.functions.graft_bucket_index(
        when(col("nb"), lit(null).cast("array<double>"))
          .otherwise(array(lit(1.0))), col("v")).as("b"))
      .orderBy(col("b").asc_nulls_last).collect()
    assert(nulls(0).getInt(0) === 1 && nulls(1).isNullAt(0))
    // mismatched element/value types rejected at analysis
    intercept[Exception] {
      df.select(graft.functions.graft_bucket_index(
        array(lit("x")), col("v"))).collect()
    }
  }

  test("build vocab: exact counts, lexicographic ties, ppm coverage") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "b b b a a c"),
      (2L, "a  b"),        // double space: empty token filtered out
      (3L, "d c")).toDF("doc_id", "text")
    val out = graft.operators.TextOps.buildVocab(corpus, "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // counts: a=3, b=4, c=2, d=1; total=10; tie-free top-3
    assert(out.toSeq === Seq(
      (1L, "b", 4L, 4L, 400000L),
      (2L, "a", 3L, 7L, 700000L),
      (3L, "c", 2L, 9L, 900000L)))
    // equal counts order lexicographically
    val tied = Seq((1L, "z y x")).toDF("doc_id", "text")
    val t = graft.operators.TextOps.buildVocab(tied, "text", 2)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(t.toSeq === Seq((1L, "x"), (2L, "y")))
    // topN larger than vocabulary returns the whole vocabulary
    assert(graft.operators.TextOps.buildVocab(tied, "text", 99).count() === 3L)
  }

  test("repeated spans: run lengths, offsets, posting cap, minRun gate") {
    import spark.implicits._
    // doc 2 embeds an 11-word passage from doc 1 at a shifted position;
    // with n=4 the shared run is 11-4+1=8 consecutive grams
    val passage = "one two three four five six seven eight nine ten eleven"
    val corpus = Seq(
      (1L, s"$passage tail1 tail2"),
      (2L, s"lead1 lead2 lead3 $passage"),
      (3L, "no overlap here at all whatsoever friend"),
      // shares only a 4-word window with doc 1 -> run 1, below minRun 2
      (4L, "zz one two three four yy ww vv uu tt")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.repeatedSpans(
      corpus, "doc_id", "text", n = 4, minRun = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet === Set((1L, 2L)))
    assert(out((1L, 2L)) === ((8L, 8L)))
    // minRun=1 admits the single-gram overlap of (1,4)
    val loose = graft.operators.Dedup.repeatedSpans(
      corpus, "doc_id", "text", n = 4, minRun = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose === Set((1L, 2L), (1L, 4L), (2L, 4L)))
    // a hash present in more docs than maxPostings is pruned entirely
    val boiler = Seq(
      (1L, passage), (2L, passage), (3L, passage), (4L, passage)
    ).toDF("doc_id", "text")
    val capped = graft.operators.Dedup.repeatedSpans(
      boiler, "doc_id", "text", n = 4, minRun = 1, maxPostings = 3)
    assert(capped.count() === 0L)
    // and with the cap open, all 6 pairs share the full run
    val open = graft.operators.Dedup.repeatedSpans(
      boiler, "doc_id", "text", n = 4, minRun = 1, maxPostings = 4)
    assert(open.count() === 6L)
  }

  test("span rewrite: cuts from higher id, keeps first occurrence, chains") {
    import spark.implicits._
    val passage = "one two three four five six seven eight nine ten eleven"
    val corpus = Seq(
      (1L, s"$passage tail1 tail2"),
      (2L, s"lead1 lead2 lead3 $passage"),  // drops the passage vs doc 1
      (3L, passage),                        // identical to the span: fully cut
      (4L, "untouched words entirely distinct here")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.dedupSpansRewrite(
      corpus, "doc_id", "text", n = 4, minRun = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1 is the earliest occurrence: intact (normalized text)
    assert(out(1L) === ((s"$passage tail1 tail2", 13L, 0L)))
    // doc 2 loses exactly the 11 passage words
    assert(out(2L) === (("lead1 lead2 lead3", 14L, 11L)))
    // doc 3 is all-passage: cut to empty
    assert(out(3L) === (("", 11L, 11L)))
    assert(out(4L)._3 === 0L)
    // graft_drop_words SQL surface: positions sorted, out-of-range ignored
    val r = corpus.sparkSession.sql(
      "SELECT graft_drop_words('A b  C d', array(1, 3, 9))").collect()(0).getStruct(0)
    assert(r.getString(0) === "a c" && r.getInt(1) === 4 && r.getInt(2) === 2)
  }

  test("strip html and unicode normalization semantics") {
    import spark.implicits._
    val df = Seq(
      (1L, "<p>Hello <b>world</b></p>&amp; &lt;tag&gt; &nbsp;end"),
      (2L, "no markup at all"),
      (3L, "a \u0301b")  // stray combining mark after a space
    ).toDF("id", "t")
    val out = df.select(col("id"),
        graft.operators.TextOps.stripHtml(col("t")).as("clean"),
        graft.operators.TextOps.htmlTagCount(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    // tags removed first, entities decoded after (literal &lt;tag&gt;
    // survives as <tag>), whitespace collapsed
    assert(out(1L) === (("Hello world & <tag> end", 4)))
    assert(out(2L) === (("no markup at all", 0)))
    // NFC: decomposed e+acute composes; ASCII passes through untouched
    val n = df.select(col("id"),
        graft.functions.graft_normalize_unicode(col("t"), "NFC").as("nf"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(n(2L) === "no markup at all")
    val dec = Seq((9L, "cafe\u0301")).toDF("id", "t")
      .select(graft.functions.graft_normalize_unicode(col("t"), "NFC"))
      .collect()(0).getString(0)
    assert(dec === "caf\u00e9" && dec.length === 4)
    // NFKD decomposes compatibility chars; bad form rejected at analysis
    val k = Seq((1L, "\ufb01")).toDF("id", "t") // LATIN SMALL LIGATURE FI
      .select(graft.functions.graft_normalize_unicode(col("t"), "NFKC"))
      .collect()(0).getString(0)
    assert(k === "fi")
    intercept[Exception] {
      spark.sql("SELECT graft_normalize_unicode('x', 'NFX')").collect()
    }
  }

  test("temperature sampling: rarest group intact, shares move toward p^alpha") {
    import spark.implicits._
    val rows = (1L to 900L).map(i => (i, if (i <= 800) "big" else "small"))
    val df = rows.toDF("id", "g")
    val half = graft.operators.Sampling.temperatureSample(df, "id", "g", alpha = 0.5)
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // rarest group keeps everything; the big group keeps ~sqrt(100/800)
    assert(half("small") === 100L)
    val bigRate = half("big").toDouble / 800
    assert(math.abs(bigRate - math.sqrt(100.0 / 800)) < 0.06, bigRate.toString)
    // alpha = 1 keeps the natural distribution (thresholds hit 2^60)
    val nat = graft.operators.Sampling.temperatureSample(df, "id", "g", alpha = 1.0)
    assert(nat.count() === 900L)
    // alpha = 0 equalizes expected counts
    val eq = graft.operators.Sampling.temperatureSample(df, "id", "g", alpha = 0.0)
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(eq("small") === 100L && math.abs(eq("big") - 100L) < 30L, eq.toString)
    // selection is deterministic and nests as alpha rises
    val keptHalf = half.values.sum
    val again = graft.operators.Sampling.temperatureSample(df, "id", "g", alpha = 0.5)
      .count()
    assert(again === keptHalf)
    intercept[IllegalArgumentException] {
      graft.operators.Sampling.temperatureSample(df, "id", "g", alpha = 1.5)
    }
  }

  test("range-sorted sink: disjoint ordered shards, sorted files, balanced") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice").cast("double").as("price"))
    withTempDir("graft_sink") { tmp =>
      val path = s"$tmp/out"
      val bounds = graft.operators.Sinks.writeRangeSorted(
        li, "price", path, shards = 8, tiebreakCols = Seq("l_orderkey"))
      assert(bounds.length === 7 && bounds.sorted.toSeq === bounds.toSeq)
      val back = spark.read.parquet(path)
      assert(back.count() === li.count())
      // shard directories are globally ordered and near-balanced
      val stats = back.groupBy("shard")
        .agg(min("price").as("lo"), max("price").as("hi"), count(lit(1)).as("n"))
        .orderBy("shard").collect()
      assert(stats.length === 8)
      stats.sliding(2).foreach { w =>
        if (w.length == 2) assert(w(0).getDouble(2) <= w(1).getDouble(1))
      }
      val total = li.count().toDouble
      stats.foreach(r => assert(math.abs(r.getLong(3) / total - 0.125) < 0.07))
      // rows within each file are sorted by (price, l_orderkey)
      val shard0 = new java.io.File(path).listFiles().filter(_.getName.startsWith("shard=")).head
      shard0.listFiles().filter(_.getName.endsWith(".parquet")).take(2).foreach { f =>
        val rows = spark.read.parquet(f.toString)
          .select("price", "l_orderkey").collect()
          .map(r => (r.getDouble(0), r.getLong(1)))
        assert(rows.toSeq === rows.toSeq.sorted)
      }
    }
  }

  test("dedup savings: keep-first accounting, cross-group duplicate charged once") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", "x y z"), (2L, "a", "x y z"),  // dup within group a
      (3L, "b", "x y z"),                       // same content, later id, group b
      (4L, "b", "unique doc here four")).toDF("id", "g", "text")
    val out = Dedup.dedupSavings(df, "id", "text", "g")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // group a: 2 docs, keeper is id 1 (3 tokens kept, 3 dropped)
    assert(out("a") === ((2L, 1L, 6L, 3L, 3L)))
    // group b: id 3 loses to id 1 globally; id 4 is unique
    assert(out("b") === ((2L, 1L, 7L, 4L, 3L)))
  }

  test("contrastive triplets: both bands required, top-1 picks, bands disjoint") {
    import spark.implicits._
    // anchor 1: positive 2 (identical dir), negatives 4,5 (orthogonal-ish)
    // anchor 3: no positive -> dropped
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(2.0f, 0.0f)),
      (3L, Array(0.6f, 0.8f)), (4L, Array(0.0f, 1.0f)),
      (5L, Array(-1.0f, 0.1f))).toDF("vec_id", "embedding")
    val out = Similarity.contrastiveTriplets(
        vecs, vecs.where(col("vec_id") <= 3), "vec_id", "embedding",
        minPositive = 0.95, maxNegative = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // anchor 1 and 2 pair up; anchor 3's best cosines (with 1,2 = 0.6;
    // with 4 = 0.8) never reach 0.95 -> no positive -> dropped
    assert(out.map(_._1).toSet === Set(1L, 2L))
    val t1 = out.find(_._1 == 1L).get
    assert(t1._2 === 2L)       // positive: same direction
    assert(t1._3 === 4L)       // hard negative: cosine 0 < 0.3, id-tiebreak over 5
    intercept[IllegalArgumentException] {
      Similarity.contrastiveTriplets(vecs, vecs, "vec_id", "embedding", 0.3, 0.5)
    }
  }

  test("shard manifest sink: counts/tokens/checksums match source, xor order-free") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    withTempDir("graft_manifest") { tmp =>
      val path = s"$tmp/out"
      val manifest = graft.operators.Sinks
        .writeShardsWithManifest(docs, "doc_id", "text", path, numShards = 4)
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(manifest.keySet === Set(0, 1, 2, 3))
      assert(manifest.values.map(_._1).sum === docs.count())
      // recomputing any one shard's stats from its own directory alone
      // reproduces the manifest row (the incremental re-validation path),
      // and a repartition (row-order change) does not move the xor
      val shard0 = spark.read.parquet(s"$path/data/shard=0").repartition(7)
      val re = shard0
        .withColumn("fp", expr(
          "CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 15), 16, 10) AS BIGINT)"))
        .agg(count(lit(1)),
          sum(graft.operators.TextOps.tokenCount(col("text")).cast("long")),
          expr("bit_xor(fp)"))
        .collect().head
      assert((re.getLong(0), re.getLong(1), re.getLong(2)) === manifest(0))
    }
  }

  test("shard manifest sink: null id fails fast, empty input yields empty manifest") {
    import spark.implicits._
    val withNull = Seq((Some(1L), "a b"), (None, "c d"))
      .toDF("doc_id", "text")
    withTempDir("graft_manifest_null") { tmp =>
      val p1 = s"$tmp/out"
      // validation is fused into the write pass (raise_error in the shard
      // expression), so the failure surfaces as a SparkException at write
      val ex = intercept[Exception] {
        graft.operators.Sinks.writeShardsWithManifest(withNull, "doc_id", "text", p1, 2)
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("every exported row must be fingerprintable")),
        messages(ex).mkString(" | "))
      withTempDir("graft_manifest_empty") { tmp =>
        val p2 = s"$tmp/out"
        val empty = graft.operators.Sinks.writeShardsWithManifest(
          withNull.where(lit(false)), "doc_id", "text", p2, 2)
        assert(empty.collect().isEmpty)
        assert(empty.schema.fieldNames.toSeq ===
          Seq("shard", "n_rows", "n_tokens", "xor_fp"))
      }
    }
  }

  test("applyDeletes: touched shards rewritten, untouched bytes intact, xor attests") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    withTempDir("graft_del") { tmp =>
      val path = s"$tmp/out"
      val before = graft.operators.Sinks
        .writeShardsWithManifest(docs, "doc_id", "text", path, numShards = 4)
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(3)))).toMap
      // untouched-shard mtime probe: record a file list per shard dir
      def files(sh: Int) = new java.io.File(s"$path/data/shard=$sh")
        .listFiles().map(f => f.getName -> f.lastModified).toMap
      val deletes = docs.where(col("doc_id") % 17 === 0).select("doc_id")
      val delByShard = spark.read.parquet(s"$path/data")
        .join(deletes, "doc_id").groupBy("shard").count()
        .collect().map(r => r.get(0).toString.toInt -> r.getLong(1)).toMap
      val untouched = (0 to 3).find(sh => !delByShard.contains(sh))
      val probe = untouched.map(sh => sh -> files(sh))
      val after = graft.operators.Sinks
        .applyDeletes(spark, path, "doc_id", "text", deletes)
        .collect().map(r =>
          r.getInt(0) -> ((r.getLong(1), r.getLong(3), r.getLong(4)))).toMap
      assert(after.values.map(_._1).sum === docs.count() - deletes.count())
      after.foreach { case (sh, (n, xorAfter, nd)) =>
        assert(nd === delByShard.getOrElse(sh, 0L))
        assert(n === before(sh)._1 - nd)
        // xor(before) ^ xor(after) == xor of the deleted ids' fingerprints
        val delXor = docs
          .where(col("doc_id") % 17 === 0)
          .withColumn("fp", expr(
            "CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 15), 16, 10) AS BIGINT)"))
          .withColumn("sh", expr(
            "CAST(CAST(conv(substring(md5(CAST(CONCAT('0:', CAST(doc_id AS STRING))" +
              " AS BINARY)), 1, 15), 16, 10) AS BIGINT) % 4 AS INT)"))
          .where(col("sh") === sh).agg(expr("bit_xor(fp)")).collect().head.getLong(0)
        if (nd > 0) assert((before(sh)._2 ^ xorAfter) === delXor)
        else assert(xorAfter === before(sh)._2)
      }
      // untouched shard's files were not rewritten
      probe.foreach { case (sh, old) => assert(files(sh) === old) }
      // no deleted id survives in the data
      assert(spark.read.parquet(s"$path/data").join(deletes, "doc_id").count() === 0L)
    }
  }

  test("applyDeletes: no-op list keeps manifest; full-shard delete drops its row") {
    import spark.implicits._
    val df = Seq((1L, "a b"), (2L, "c d"), (3L, "e f"), (4L, "g h"))
      .toDF("doc_id", "text")
    withTempDir("graft_del2") { tmp =>
      val path = s"$tmp/out"
      graft.operators.Sinks.writeShardsWithManifest(df, "doc_id", "text", path, 2)
      // no-op
      val noop = graft.operators.Sinks.applyDeletes(
        spark, path, "doc_id", "text", df.where(lit(false)).select("doc_id"))
      assert(noop.collect().map(_.getLong(4)).forall(_ === 0L))
      // wipe one whole shard: its manifest row and directory must go
      val shardOf = spark.read.parquet(s"$path/data")
        .select(col("doc_id"), col("shard").cast("int").as("sh")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val victim = shardOf.values.head
      val ids = shardOf.collect { case (id, sh) if sh == victim => id }.toSeq
      val after = graft.operators.Sinks.applyDeletes(
        spark, path, "doc_id", "text", ids.toDF("doc_id"))
      assert(!after.collect().map(_.getInt(0)).contains(victim))
      assert(!new java.io.File(s"$path/data/shard=$victim").exists())
      assert(spark.read.parquet(s"$path/data").count() === 4L - ids.size)
    }
  }

  test("sparse cosine pairs: near-dups found, unrelated doc excluded, case-folded dup exact") {
    val pairs = Similarity.sparseCosinePairs(docs, "doc_id", "text",
      threshold = 0.6, maxDf = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // 0/3 differ only in case+whitespace: identical token vectors => cosine 1.0
    assert(pairs((0L, 3L)) === 1.0)
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 3L)))
    assert(!pairs.keys.exists(p => p._1 == 2L || p._2 == 2L))
    // tighter threshold keeps only the exact dup pair
    val tight = Similarity.sparseCosinePairs(docs, "doc_id", "text",
      threshold = 0.999, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight === Set((0L, 3L)))
    // the n-gram term space finds the same exact dup
    val grams = Similarity.sparseCosinePairs(docs, "doc_id", "text",
      threshold = 0.999, maxDf = 3, ngram = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(grams === Set((0L, 3L)))
    // the in-row verifier: sorted-merge dot over aligned (key, value)
    // arrays, exact LONG arithmetic, disjoint keys -> 0, null -> null
    val sd = spark.sql(
      """SELECT graft_sparse_dot(array(1L, 3L, 9L), array(2L, 5L, 1L),
        |                        array(3L, 4L, 9L), array(7L, 9L, -4L)) a,
        |       graft_sparse_dot(array(1L), array(2L), array(2L), array(3L)) b,
        |       graft_sparse_dot(CAST(NULL AS ARRAY<BIGINT>), array(1L),
        |                        array(1L), array(1L)) c""".stripMargin).collect()(0)
    assert(sd.getLong(0) === 35L - 4L)
    assert(sd.getLong(1) === 0L)
    assert(sd.isNullAt(2))
  }

  test("hard negatives exclude the near-dup band and keep rank order") {
    import spark.implicits._
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f)),   // query
      (1L, Seq(0.99f, 0.14f)), // near-dup (cos ~0.990) — excluded
      (2L, Seq(0.8f, 0.6f)),   // cos 0.8 — best negative
      (3L, Seq(0.0f, 1.0f)),   // cos 0 — weaker negative
      (4L, Seq(-1.0f, 0.0f))   // cos -1
    ).toDF("id", "vec")
    val out = Similarity.hardNegatives(corpus,
      corpus.where(col("id") === 0), "id", "vec", k = 2, maxCosine = 0.95)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(out.toSeq === Seq((1, 2L), (2, 3L)))
  }

  test("novelty scores: first occurrence wins, duplicates score zero") {
    import spark.implicits._
    val base = "one two three four five six seven eight"
    val df = Seq(
      (1L, base),             // everything novel
      (2L, base),             // exact dup: zero novel
      (3L, base + " nine"),   // one new shingle ("six seven eight nine"... )
      (4L, "totally different words here now then")).toDF("doc_id", "text")
    val out = Dedup.noveltyScores(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L)._1 === out(1L)._2) // all novel
    assert(out(2L)._2 === 0L)
    assert(out(3L)._2 === 1L && out(3L)._1 === 5L) // 9 tokens -> 5 shingles, 1 new
    assert(out(4L)._1 === out(4L)._2)
  }

  test("encoding signals: counts and suspect flag per artifact class") {
    import spark.implicits._
    val df = Seq(
      (0L, "plain ascii text"),
      (1L, "café crème"), // legit diacritics: non-ascii but NOT suspect
      (2L, "lost byte � here"),
      (3L, "raw ctl \u0001\u0002 bytes"),
      (4L, "moji Ã© and â€™ marks"),
      (5L, "tab\tand\nnewline are fine")).toDF("doc_id", "text")
    val rows = TextOps.encodingSignals(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(rows.map(_.getBoolean(6)).toSeq ===
      Seq(false, false, true, true, true, false))
    assert(rows(1).getLong(1) === 2L && rows(1).getLong(3) === 0L) // 2 non-ascii, 0 replacement
    assert(rows(2).getLong(3) === 1L) // one U+FFFD
    assert(rows(3).getLong(4) === 2L) // two control bytes
    assert(rows(4).getLong(5) === 2L) // 'Ã' and 'â€' both hit
    assert(rows(5).getLong(4) === 0L) // tab/newline are not "control" here
    // frac is against codepoint length
    assert(rows(1).getDouble(2) === math.rint(2.0 / 10 * 1e9) / 1e9)
  }

  test("chunk packing: hand-computed geometry incl. boundary straddles") {
    import spark.implicits._
    import graft.operators.Packing
    // budget 10; cums 4, 12, 22, 25: doc 2 straddles chunks 0-1,
    // doc 3 straddles 1-2, doc 4 sits inside chunk 2
    val df = Seq(("g", 1L, 4L), ("g", 2L, 8L), ("g", 3L, 10L), ("g", 4L, 3L))
      .toDF("grp", "id", "tok")
    val got = Packing.chunkPack(df.repartition(3), Seq("grp"), "id", "tok", 10L)
      .orderBy("id")
      .collect().map(r => (r.getLong(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    assert(got.toSeq === Seq(
      (1L, 0L, 0L, 0L, 1L),
      (2L, 0L, 1L, 4L, 2L),
      (3L, 1L, 2L, 2L, 2L),
      (4L, 2L, 2L, 2L, 1L)))
    // independent groups pack independently from token 0
    val two = Seq(("a", 1L, 5L), ("b", 1L, 5L)).toDF("grp", "id", "tok")
    val t = Packing.chunkPack(two, Seq("grp"), "id", "tok", 10L)
      .collect().map(r => (r.getString(0), r.getLong(3)))
    assert(t.forall(_._2 === 0L)) // each group's first doc starts chunk 0
    // zero tokens fail fast
    val e = intercept[Exception] {
      Packing.chunkPack(Seq(("g", 1L, 0L)).toDF("grp", "id", "tok"),
        Seq("grp"), "id", "tok", 10L).collect()
    }
    assert(e.getMessage.contains("positive"))
  }

  test("mixture reweight: inverse-propensity ppm weights, absent groups visible") {
    import spark.implicits._
    import graft.operators.Sampling
    val df = Seq("a", "a", "a", "b").toDF("lang")
    val out = Sampling.mixtureReweight(df, "lang",
        Seq("a" -> 250000L, "c" -> 750000L))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // a: 3/4 of data but target 1/4 -> weight (250000*4)//3 = 333333
    assert(out("a") === ((3L, 750000L, 250000L, 333333L)))
    // b: in data, no target -> weight 0 (dropped from the mixture)
    assert(out("b") === ((1L, 250000L, 0L, 0L)))
    // c: target with NO data rows -> visible with n_rows 0
    assert(out("c") === ((0L, 0L, 750000L, 0L)))
    assertThrows[IllegalArgumentException](
      Sampling.mixtureReweight(df, "lang", Nil))
    assertThrows[IllegalArgumentException](
      Sampling.mixtureReweight(df, "lang", Seq("a" -> 1L, "a" -> 2L)))
    assertThrows[IllegalArgumentException](
      Sampling.mixtureReweight(df, "lang", Seq("a" -> 2000000L)))
  }

  test("chunk manifest: interior chunks exactly full, straddle tokens clipped") {
    import spark.implicits._
    import graft.operators.Packing
    // budget 10; cums 4, 12, 22, 25 -> chunk 0: doc1 (4) + doc2 head (6);
    // chunk 1: doc2 tail (2) + doc3 head (8); chunk 2: doc3 tail (2) +
    // doc4 (3) = 5, the only partial (terminal) chunk
    val df = Seq(("g", 1L, 4L), ("g", 2L, 8L), ("g", 3L, 10L), ("g", 4L, 3L))
      .toDF("grp", "id", "tok")
    val got = Packing.chunkManifest(df, Seq("grp"), "id", "tok", 10L)
      .orderBy("chunk")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq === Seq(
      (0L, 2L, 10L, true),
      (1L, 2L, 10L, true),
      (2L, 2L, 5L, false)))
    // total manifest tokens == total input tokens, always
    val sumTok = Packing.chunkManifest(df, Seq("grp"), "id", "tok", 7L)
      .agg(sum("n_tokens")).collect()(0).getLong(0)
    assert(sumTok === 25L)
  }

  test("interval coverage: union length, gaps, overlaps hand-computed") {
    import spark.implicits._
    import graft.operators.EventOps
    // key A: [0,10) [5,12) overlap, [20,25) gap of 8, [25,30) adjacent
    //   covered = 12 + 10 = 22; span 30; gaps: 1 (20-12=8); overlaps: 1
    // key B: single empty interval [7,7): covered 0, span 0
    val df = Seq(
      ("A", 0L, 10L), ("A", 5L, 12L), ("A", 20L, 25L), ("A", 25L, 30L),
      ("B", 7L, 7L))
      .toDF("k", "st", "en").repartition(3)
    val out = EventOps.intervalCoverage(df, "k", "st", "en")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    assert(out("A") === ((4L, 22L, 30L, 1L, 8L, 1L)))
    assert(out("B") === ((1L, 0L, 0L, 0L, 0L, 0L)))
    // duplicate identical intervals: counted once in coverage, flagged
    // as one overlap — tie-symmetric regardless of engine sort order
    val dup = Seq(("C", 0L, 10L), ("C", 0L, 10L)).toDF("k", "st", "en")
    val c = EventOps.intervalCoverage(dup, "k", "st", "en").collect()(0)
    assert(c.getLong(2) === 10L && c.getLong(6) === 1L)
    // inverted interval raises
    val e = intercept[Exception] {
      EventOps.intervalCoverage(
        Seq(("D", 5L, 3L)).toDF("k", "st", "en"), "k", "st", "en").collect()
    }
    assert(e.getMessage.contains("end < start"))
  }

  test("interval coverage property: tie-symmetric under duplicated ties and shuffled input") {
    import spark.implicits._
    import graft.operators.EventOps
    import org.scalacheck.{Gen, rng}
    // per-row sweep values depend on the arbitrary order among rows with
    // EQUAL (st, en) — the operator's documented claim is that every
    // OUTPUT aggregate is tie-symmetric. Random interval sets with
    // forced duplicate ties, evaluated against a fixed-order in-memory
    // sweep, under two different input orders/partitionings.
    val caseGen = for {
      n <- Gen.choose(1, 60)
      keys <- Gen.listOfN(n, Gen.choose(0, 3))
      sts <- Gen.listOfN(n, Gen.choose(0L, 50L))
      lens <- Gen.listOfN(n, Gen.choose(0L, 20L))
      dupFrac <- Gen.choose(0, n)
    } yield {
      val base = keys.lazyZip(sts).lazyZip(lens)
        .map((k, st, len) => (s"k$k", st, st + len))
      base ++ base.take(dupFrac) // forced exact-duplicate (st, en) ties
    }
    val params = org.scalacheck.Gen.Parameters.default
    def reference(rows: Seq[(String, Long, Long)]) =
      rows.groupBy(_._1).map { case (k, ivs) =>
        val sorted = ivs.map(t => (t._2, t._3)).sortBy(identity)
        var pmax = Option.empty[Long]
        var covered, nGaps, maxGap, nOver = 0L
        sorted.foreach { case (st, en) =>
          covered += math.max(0L, en - math.max(st, pmax.getOrElse(st)))
          pmax.foreach { p =>
            if (st > p) { nGaps += 1; maxGap = math.max(maxGap, st - p) }
            if (st < p) nOver += 1
          }
          pmax = Some(pmax.fold(en)(math.max(_, en)))
        }
        k -> (sorted.size.toLong, covered,
          sorted.map(_._2).max - sorted.map(_._1).min, nGaps, maxGap, nOver)
      }
    (0 until 10).flatMap(i => caseGen(params, rng.Seed(7L + i))).foreach { rows =>
      val exp = reference(rows)
      Seq(rows, scala.util.Random.shuffle(rows)).zipWithIndex.foreach {
        case (ordered, parts) =>
          val got = EventOps.intervalCoverage(
              ordered.toDF("k", "st", "en").repartition(parts + 2),
              "k", "st", "en")
            .collect().map(r => r.getString(0) ->
              (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
                r.getLong(5), r.getLong(6))).toMap
          assert(got === exp, s"n=${rows.size} order#$parts")
      }
    }
  }

  test("mutual kNN: only reciprocal edges survive, canonical pairs, degrees count both ends") {
    import spark.implicits._
    import graft.operators.Similarity
    // 1->2, 2->1 (mutual); 1->3, 3->4 (one-way each); 4->2, 2->4 (mutual)
    val knn = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L), (4L, 2L), (2L, 4L))
      .toDF("query_id", "neighbor_id").repartition(2)
    val pairs = Similarity.mutualKnnPairs(knn).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (2L, 4L)))
    val deg = Similarity.mutualKnnDegree(knn).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg === Map(1L -> 1L, 2L -> 2L, 4L -> 1L)) // 3 isolated: absent
    // duplicate input pairs don't double-count
    val dup = Similarity.mutualKnnPairs(knn.unionAll(knn)).collect()
    assert(dup.length === 2)
  }

  test("rank-biased overlap: identical lists max out, disjoint zero, partial hand-computed") {
    import spark.implicits._
    import graft.operators.Retrieval
    val w = Retrieval.rboWeights(3) // 1e12/(2*1), 1e12/(4*2), 1e12/(8*3)
    assert(w === Seq(500000000000L, 125000000000L, 41666666666L))
    def rbo(rows: Seq[(String, Long, Long)]): Map[String, (Long, Long)] =
      Retrieval.rankBiasedOverlap(
          rows.toDF("g", "ra", "rb").repartition(2), Seq("g"), "ra", "rb", 3)
        .collect().map(r => r.getString(0) ->
          (r.getAs[Long]("n_common"), r.getAs[Long]("rbo_fp"))).toMap
    // identical rankings: item at rank d contributes suffix(d)
    val same = rbo(Seq(("g", 1L, 1L), ("g", 2L, 2L), ("g", 3L, 3L)))
    assert(same("g") === ((3L, (w(0) + w(1) + w(2)) + (w(1) + w(2)) + w(2))))
    // disjoint prefixes: zero overlap (ranks beyond depth on one side)
    val disj = rbo(Seq(("g", 1L, 9L), ("g", 2L, 8L), ("g", 9L, 1L)))
    assert(disj("g") === ((0L, 0L)))
    // partial: one item at (ra=1, rb=3) -> d0=3 contributes suffix(3) only
    val part = rbo(Seq(("g", 1L, 3L)))
    assert(part("g") === ((1L, w(2))))
  }

  test("assignSplits salt: default unchanged, salted draw redraws deterministically") {
    import spark.implicits._
    import graft.operators.Sampling
    val df = (1L to 500L).toDF("id")
    val splits = Seq("train" -> 18, "val" -> 1, "test" -> 1)
    val legacy = Sampling.assignSplits(df, "id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val defaulted = Sampling.assignSplits(df, "id", splits, salt = "")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(legacy === defaulted) // empty salt IS the legacy draw
    val s1 = Sampling.assignSplits(df.repartition(7), "id", splits, salt = "s1")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val s1b = Sampling.assignSplits(df, "id", splits, salt = "s1")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1 === s1b) // pure function of (salt, id), partitioning-free
    assert(s1 !== legacy) // rotation actually redraws
    assert(s1.size === 500 &&
      s1.values.toSet.subsetOf(Set("train", "val", "test")))
    val n = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(n("train") > 400, s"train split too small: $n")
  }
}
