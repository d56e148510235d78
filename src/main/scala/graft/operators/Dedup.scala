package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData, XXH64}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.MinHashSignature
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/**
 * Deduplication operators for large-scale corpus curation: exact,
 * normalized, exact n-gram Jaccard (inverted index), MinHash+LSH banding,
 * and embedding-cosine near-duplicates.
 *
 * Scale design:
 *  - Exact/normalized dedup groups by a 128-bit content hash, never by the
 *    raw text, so the shuffle carries 16-byte keys instead of documents.
 *  - Jaccard pair generation is exact via an inverted shingle index with
 *    PREFIX FILTERING (PPJoin-style): shingles are globally ordered by
 *    (document frequency, shingle), and only each document's prefix —
 *    `|s| - ceil(t*|s|) + 1` rarest shingles — is indexed. Any pair with
 *    Jaccard >= t provably shares its globally-smallest intersection
 *    element inside both prefixes, so no qualifying pair is lost, while
 *    the join volume concentrates on RARE shingles (bounding skew: hot
 *    shingles are exactly the ones prefixes exclude). This is the
 *    standard scalable exact algorithm for high-threshold similarity
 *    joins at 100TB.
 *  - MinHash banding reduces candidate generation to O(pairs-sharing-a-
 *    band): with b bands of r rows a pair of Jaccard j collides with
 *    probability 1-(1-j^r)^b. Defaults (16x4) give recall > 0.999999 at
 *    j >= 0.88 while passing ~1% of j <= 0.3 pairs to verification. The
 *    hash family is seeded xxhash64 (codegen'd builtin, one pass per
 *    shingle per hash) — correctness is enforced downstream by exact
 *    verification, not by the hash choice.
 *  - Thresholds are rational (num/den) and applied with pure integer
 *    arithmetic (`inter * den >= union * num`), eliminating float boundary
 *    ambiguity between engines.
 */
object Dedup {

  /**
   * Distinct word n-gram shingles of the text. Documents shorter than n
   * words contribute their whole text as a single shingle (rather than
   * crashing on a negative-length sequence).
   */
  def shingles(text: Column, n: Int): Column =
    // boundOnce: the token array must be a bound lambda variable — a raw
    // words(text) subtree inside the shingle lambda would re-tokenize
    // the document once per shingle (quadratic per doc)
    graft.operators.boundOnce(TextOps.words(text)) { w =>
      when(size(w) >= n,
        array_distinct(transform(
          sequence(lit(0), size(w) - n),
          i => array_join(slice(w, i + 1, lit(n)), " "))))
        .otherwise(array(array_join(w, " ")))
    }

  /**
   * Exact dedup: keep the smallest `idCol` per identical content
   * (md5-hash-grouped). Returns (hash, kept id, group size).
   */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_copies"))

  /**
   * Per-group dedup SAVINGS report: how many documents and how much
   * token mass exact dedup keeps vs drops, per source/language — the
   * accounting a data-mix owner reads before and after every ingestion
   * ("web re-crawls cost us 40% duplicate tokens"). Keep-first (min id
   * per content hash, the [[exactDedup]] rule); one window over the
   * content-hash partitioning plus one group-by, no text beyond the
   * hash ever shuffles twice.
   */
  def dedupSavings(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String): DataFrame = {
    val w = Window.partitionBy("__graft_h")
    df.withColumn("__graft_h", md5(col(textCol).cast("binary")))
      .withColumn("__graft_keep", col(idCol) === min(col(idCol)).over(w))
      .withColumn("__graft_toks", TextOps.tokenCount(col(textCol)).cast("long"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__graft_keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("__graft_toks")).as("tokens_total"),
        sum(when(col("__graft_keep"), col("__graft_toks")).otherwise(0L))
          .as("tokens_kept"))
      .withColumn("tokens_dropped", col("tokens_total") - col("tokens_kept"))
  }

  /** Normalized dedup: like [[exactDedup]] but on the whitespace/case fingerprint. */
  def normalizedDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextOps.fingerprint(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_copies"))

  /**
   * Accent-insensitive dedup: [[normalizedDedup]] with diacritics folded
   * (native `graft_fold_accents`: NFD-decompose, drop combining marks,
   * NFC-recompose) before the whitespace/case fingerprint, so "café",
   * "CAFE" and "cafe" collapse to one group. The fold semantics match
   * DuckDB/utf8proc `strip_accents` on Latin diacritics, which is what
   * makes the operator oracle-checkable cross-engine. Same scale shape as
   * the other hash dedups: the shuffle carries 16-byte md5 keys, and the
   * fold short-circuits on pure-ASCII text (the common case in web
   * corpora) without allocating.
   */
  def accentDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(regexp_replace(
        call_function("graft_fold_accents", lower(col(textCol))), "\\s+", " "))
        .as("content_hash"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_copies"))

  /**
   * Paragraph-level dedup (the Dolma/RefinedWeb curation step): split each
   * document on `sep`, keep every paragraph only at its FIRST occurrence
   * corpus-wide — the smallest (id, position) — and strip repeats
   * (boilerplate headers/footers, syndicated blocks) from all later
   * documents. Returns one row per input document: (id, n_paras, n_kept,
   * text_kept) where fully-deduplicated documents survive with an empty
   * text_kept (downstream length filters drop them; silently losing rows
   * here would skew corpus accounting).
   *
   * Scale design: first-occurrence selection is `min(struct(id, pos))`
   * grouped by the paragraph's md5 — a partially-aggregable shuffle of
   * 16-byte hashes + 12-byte positions (no window sort, and paragraph
   * TEXT never rides this shuffle). Winning positions then left-semi join
   * the exploded paragraphs on (id, pos), and reassembly groups by id —
   * the text crosses exactly two shuffles, both on uniform keys (md5
   * can't skew; a boilerplate paragraph repeated a billion times is ONE
   * group of partially-aggregated minima, not a hot reduce key).
   */
  def paragraphDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val docs = df.select(col(idCol).as("id"),
      split(col(textCol), java.util.regex.Pattern.quote(sep), -1).as("paras"))
    val paras = docs.select(col("id"), posexplode(col("paras")).as(Seq("pos", "para")))
    val winners = paras
      .groupBy(md5(col("para").cast("binary")).as("h"))
      .agg(min(struct(col("id"), col("pos"))).as("w"))
      .select(col("w.id").as("id"), col("w.pos").as("pos"))
    val kept = paras.join(winners, Seq("id", "pos"), "left_semi")
      .groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")), sep).as("text_kept"))
    docs.select(col("id"), size(col("paras")).cast("long").as("n_paras"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  /**
   * Incremental corpus dedup — the INGESTION pattern: which new-batch
   * documents are genuinely new relative to an existing corpus? Returns
   * [[exactDedup]]-shaped rows (content_hash, kept_id, n_copies) for the
   * new-batch content that does NOT already exist (in-batch duplicates
   * still collapse to their min id).
   *
   * Scale design — the existing corpus is never shuffled:
   *  1. ONE aggregate over the existing side builds a bloom filter of its
   *     content hashes (`graft_bloom_agg`, wrapping Spark's runtime-filter
   *     bloom: partial filters OR-merge map-side, so the shuffle carries a
   *     filter per partition, not hashes). It enters the probe as a SCALAR
   *     SUBQUERY — evaluated once, shipped to every probe task as a
   *     constant, exactly how Spark's own injected runtime filters ride.
   *  2. `might_contain = false` rows are DEFINITELY new — the
   *     overwhelming majority of a typical increment passes with no join
   *     at all.
   *  3. Only maybe-dup rows (true dups + false positives) are verified:
   *     their distinct hashes BROADCAST to a semi-join over the existing
   *     scan, and the confirmed hits broadcast back as an anti-join. Both
   *     verify joins broadcast the small side, so the 100 TB existing
   *     corpus is only ever SCANNED (twice), never exchanged. Correctness
   *     never depends on the bloom parameters — `expectedItems` only
   *     tunes how much volume reaches verification.
   */
  def incrementalDedup(
      newDf: DataFrame,
      existing: DataFrame,
      idCol: String,
      textCol: String,
      expectedItems: Long = 1000000L): DataFrame = {
    val newHashed = newDf.select(col(idCol).as("id"),
      md5(col(textCol).cast("binary")).as("h"))
    val exHashes = existing.select(md5(col(textCol).cast("binary")).as("h"))
    val bloom = exHashes.agg(
      graft.functions.graft_bloom_agg(col("h"), expectedItems).as("bf")).scalar()
    // Cached: `flagged` feeds both the definitely-new arm and the
    // maybe-dup verification, and Spark's LeftSemi/Anti-through-Union
    // pushdown would otherwise replicate the whole verify subtree into
    // every union branch of the new batch (re-scanning the EXISTING side
    // once per branch). Cached form is (id, 16-byte hash, bool) per
    // new-batch row — the small side by definition.
    val flagged = newHashed
      .withColumn("maybe", graft.functions.graft_might_contain(bloom, col("h")))
      .cache()
    val maybe = flagged.where(col("maybe")).select("id", "h")
    val confirmedDup = exHashes
      .join(broadcast(maybe.select("h").distinct()), Seq("h"), "left_semi")
      .distinct()
    val genuinelyNew = flagged.where(!col("maybe")).select("id", "h")
      .unionByName(maybe.join(broadcast(confirmedDup), Seq("h"), "left_anti"))
    genuinelyNew
      .groupBy(col("h").as("content_hash"))
      .agg(min(col("id")).as("kept_id"), count(lit(1)).as("n_copies"))
  }

  /**
   * Distinct word n-gram shingle HASHES via the native
   * `graft_word_shingles` expression — one tokenize + hash-chain pass,
   * no gram-string materialization (the string construction dominated
   * the shingle-heavy operators: 6.8s of an 11s pass at sf0.1). All
   * pairwise set logic (inverted index, intersection counts) is
   * collision-equivalent on the 64-bit hashes: words cannot contain
   * whitespace, so gram strings and word sequences are in bijection.
   */
  def shingleHashes(text: Column, n: Int): Column =
    call_function("graft_word_shingles", text, lit(n))

  /**
   * (id, shingle-hash set) projection used by the pairwise operators.
   * Caches the result itself (callers must NOT re-cache) because it
   * feeds both candidate generation and verification. The cache entry is
   * registered by logical plan, so repeated invocations over the same
   * input REUSE one entry rather than stacking new ones; blocks evicted
   * under memory pressure are recomputed from lineage. Long-lived
   * sessions cycling many inputs should `spark.catalog.clearCache()`
   * between pipelines (the Verify/Bench harnesses do).
   * [[minhashLshPairs]]' driver-local regime releases the entry it took.
   */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingled(df, idCol, textCol, n).cache()

  /** The (id, shingle-hash set) projection, uncached. */
  private[operators] def shingled(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("sh"))

  /**
   * Exact n-gram Jaccard near-duplicate pairs via prefix-filtered inverted
   * index. Emits (id_a, id_b, inter, uni) for pairs with Jaccard >= num/den
   * (integer-exact comparison); see the object doc for why prefix
   * filtering loses no qualifying pair.
   */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      num: Int = 4,
      den: Int = 5): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, n)
    // The shingle sets ARE 8-byte hashes (graft_word_shingles), so the
    // df-join and candidate self-join shuffle longs, never n-word
    // strings. Lossless: prefix filtering only needs ONE consistent
    // global rarity order — (df, hash) is as valid as (df, shingle) —
    // and a hash collision merely merges two tokens' postings,
    // generating EXTRA candidates that exact verification removes. No
    // qualifying pair can be lost because equal shingles always have
    // equal hashes.
    val posting = sets.select(col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("h"))
    val dfreq = posting.groupBy("h").agg(count(lit(1)).as("df"))
    // prefix = the (sz - ceil(t*sz) + 1) globally-rarest shingles of each doc
    val ranked = posting.join(dfreq, "h")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("h"))))
      .withColumn("plen", col("sz") - ((col("sz") * num + den - 1).divide(den).cast("int")) + 1)
      .where(col("rnk") <= col("plen"))
      .select("id", "h")
    val candidates = ranked.as("a")
      .join(ranked.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyJaccard(candidates, sets, num, den)
  }

  /**
   * Per-document NOVELTY: how many of a document's distinct shingles
   * appear for the FIRST time in this document, scanning the corpus in
   * ascending id order — the redundancy diagnostic behind "how much of
   * this crawl snapshot is actually new text". Output:
   * (id, n_shingles, n_novel); `n_novel / n_shingles` near 1 = fresh
   * content, near 0 = recombination of text already in the corpus.
   *
   * Scale: one explode over 8-byte shingle hashes, a min-id aggregate
   * per hash (map-side partials; repeated boilerplate shingles combine
   * before the shuffle), and a count-join back — text never shuffles,
   * and no pairwise work at all (novelty is a first-occurrence
   * property, not a pair property).
   */
  def noveltyScores(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, n)
    val posting = sets.select(col("id"), explode(col("sh")).as("h"))
    val firstSeen = posting.groupBy("h").agg(min(col("id")).as("first_id"))
    val novel = posting.join(firstSeen, "h")
      .where(col("id") === col("first_id"))
      .groupBy("id").agg(count(lit(1)).as("n_novel"))
    sets.select(col("id"), size(col("sh")).cast("long").as("n_shingles"))
      .join(novel, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
  }

  /** Exact-verify candidate pairs against full shingle sets (integer threshold). */
  /**
   * Exact DIRECTIONAL shingle-containment pairs: (id_a, id_b) where
   * |A ∩ B| / |A| >= num/den — the boilerplate-wrapper signal symmetric
   * Jaccard misses: a short document fully embedded in a long one has
   * containment ~1 but Jaccard ~|A|/|B|, far below any near-dup
   * threshold. Emits (id_a, id_b, inter, sz_a, sz_b), both directions
   * when both qualify, integer-exact comparison.
   *
   * Candidate generation is prefix-filtered on the CONTAINED side only:
   * if B misses all of A's (|A| − ⌈t·|A|⌉ + 1) globally-rarest shingles,
   * then |A ∩ B| ≤ ⌈t·|A|⌉ − 1 < t·|A| — so joining A-prefixes against
   * the full posting list loses no qualifying pair (the containing side
   * cannot be pruned: nothing about |B| bounds |A ∩ B|/|A|). Prefixes
   * hold each document's RAREST shingles, so the join keys avoid the
   * boilerplate hubs; exact verification then discards hash-collision
   * extras, as in [[ngramJaccardPairs]].
   */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      num: Int = 4,
      den: Int = 5): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, n)
    val posting = sets.select(col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("h"))
    val dfreq = posting.groupBy("h").agg(count(lit(1)).as("df"))
    val prefix = posting.join(dfreq, "h")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("h"))))
      .withColumn("plen",
        col("sz") - ((col("sz") * num + den - 1).divide(den).cast("int")) + 1)
      .where(col("rnk") <= col("plen"))
      .select(col("id").as("id_a"), col("h"))
    val candidates = prefix
      .join(posting.select(col("id").as("id_b"), col("h")), Seq("h"))
      .where(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .where(col("inter") * den >= size(col("sh_a")) * num)
      .select(col("id_a"), col("id_b"),
        col("inter").cast("long").as("inter"),
        size(col("sh_a")).cast("long").as("sz_a"),
        size(col("sh_b")).cast("long").as("sz_b"))
  }

  private def verifyJaccard(
      candidates: DataFrame, sets: DataFrame, num: Int, den: Int): DataFrame = {
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .where(col("inter") * den >= col("uni") * num)
      .select(col("id_a"), col("id_b"), col("inter").cast("long").as("inter"),
        col("uni").cast("long").as("uni"))
  }

  /**
   * MinHash signature: `numHashes` minima over the shingle set, via the
   * native `graft_minhash` expression — one double-hash pass per shingle
   * (Kirsch-Mitzenmacher family) instead of one full `aggregate` fold of
   * the array per signature position.
   */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    call_function("graft_minhash", sh, lit(numHashes))

  /**
   * MinHash+LSH banded near-duplicate pairs, verified with exact Jaccard.
   * Output schema matches [[ngramJaccardPairs]]; with default banding the
   * two operators agree with overwhelming probability for thresholds
   * >= 0.8 on corpora whose near-dups sit above j ~ 0.85.
   *
   * Two regimes behind the operators' one gate ([[DriverLocal]]): when the
   * shingle sets, at 24 bytes a document plus 8 a shingle, fit
   * `spark.sql.autoBroadcastJoinThreshold`, one job charges them and one
   * collects them, and the driver bands and verifies ([[localLsh]]).
   * Otherwise, or with non-integral ids, the self-join below runs in
   * Spark. Both give the same rows.
   */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      num: Int = 4,
      den: Int = 5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // taken before the charge, whose job fills it: the collect, or a
    // declined call's self-join, reads the shingles instead of computing
    // them again. The local regime releases it unless an earlier call
    // left it for plans that still read it
    val owned = shingled(df, idCol, textCol, n).storageLevel == StorageLevel.NONE
    val sets = shingleSets(df, idCol, textCol, n)
    val idType = sets.schema("id").dataType
    val ineligible = if (!DriverLocal.isIntegral(idType)) Some("non-integral ids")
      // size(null) is -1 there, and null shingle sets pair in the plan below
      else Option.when(SQLConf.get.legacySizeOfNull)("legacy sizeOfNull")
    // a row with a null id or shingle set never pairs: the driver holds none
    val held = col("id").isNotNull && col("sh").isNotNull
    DriverLocal.gate(df, "minhashLshPairs", ineligible) { t =>
      val bytes = DriverLocal.charge(sets -> when(held, size(col("sh")) * 8L + 24L).otherwise(0L))
      fit("shingles", bytes.head.bytes.get, t).flatMap { reason =>
        import df.sparkSession.implicits._
        val rows = sets.where(held).select(col("id").cast("long"), col("sh"))
          .as[(Long, Array[Long])].collect()
        localLsh(rows.map(_._1), rows.map(_._2), numHashes, bands, num, den, t).map { pairs =>
          if (owned) sets.unpersist(blocking = false)
          val out = DriverLocal.frame(df.sparkSession, pairs,
            StructType(Seq("id_a", "id_b", "inter", "uni").map(StructField(_, LongType, nullable = false))))
            .select(col("id_a").cast(idType), col("id_b").cast(idType), col("inter"), col("uni"))
          (out, 0, reason)
        }
      }
    } { declined =>
      record(df, "minhashLshPairs", "distributed", 0, declined)
      val rows = numHashes / bands
      val sig = sets.select(col("id"), minhashSignature(col("sh"), numHashes).as("sig"))
      // band key = xxhash64 of the band's signature slice: the self-join
      // shuffles (band, 8-byte long) instead of a stringified slice. A hash
      // collision only adds candidates, which exact verification removes.
      val banded = sig.select(col("id"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows))))))
        .toDF("id", "band", "key")
      val candidates = banded.as("a")
        .join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      verifyJaccard(candidates, sets, num, den)
    }
  }

  /**
   * [[minhashLshPairs]]' bands and verification on the driver, over row
   * `i`'s id `ids(i)` and shingle set `sets(i)`, as the distributed plan
   * computes them: the signature is `graft_minhash`'s, a band key is
   * Spark's `xxhash64` of the band's slice (each element hashed into the
   * running hash from seed 42), a candidate is an id pair `a < b` whose
   * rows share a (band, key), and every row of `a` is verified against
   * every row of `b`, so duplicate ids give a row per matching row pair.
   * Returns `(id_a, id_b, inter, uni)` rows, or declines when the row
   * pairs the buckets can yield, at 16 bytes each, exceed `threshold`:
   * those grow with the square of a cluster of copies, past anything the
   * shingle charge bounds.
   */
  private def localLsh(
      ids: Array[Long],
      sets: Array[Array[Long]],
      numHashes: Int,
      bands: Int,
      num: Int,
      den: Int,
      threshold: Long): Either[String, Seq[Row]] = {
    val minhash = MinHashSignature(Literal.create(null, ArrayType(LongType)), numHashes)
    val rows = numHashes / bands
    val buckets = mutable.HashMap.empty[(Int, Long), mutable.ArrayBuffer[Long]]
    sets.indices.foreach { i =>
      val sig = minhash.compute(UnsafeArrayData.fromPrimitiveArray(sets(i))).toLongArray()
      for (b <- 0 until bands) {
        val key = (b * rows until (b + 1) * rows).foldLeft(42L)((h, j) => XXH64.hashLong(sig(j), h))
        buckets.getOrElseUpdate((b, key), mutable.ArrayBuffer.empty) += ids(i)
      }
    }
    val rowsOf = ids.indices.groupBy(ids(_))
    // per bucket, the row pairs of its distinct ids: (sum m)^2 - sum m^2,
    // halved, with m an id's rows. It bounds the candidates and the output
    val rowPairs = buckets.valuesIterator.map { bucket =>
      val m = bucket.distinct.map(rowsOf(_).length.toLong)
      (m.sum * m.sum - m.map(x => x * x).sum) / 2
    }.sum
    fit("pairs", 16 * rowPairs, threshold).map { _ =>
      val candidates = mutable.HashSet.empty[(Long, Long)]
      buckets.valuesIterator.foreach { bucket =>
        val distinct = bucket.distinct.sorted
        for (x <- distinct.indices; y <- x + 1 until distinct.length) candidates += distinct(x) -> distinct(y)
      }
      // graft_word_shingles' sets hold distinct values, so the size of
      // array_intersect is a merge of sorted copies
      val sorted = sets.map(_.sorted)
      for {
        (a, b) <- candidates.toSeq.sorted
        i <- rowsOf(a)
        j <- rowsOf(b)
        inter = common(sorted(i), sorted(j))
        uni = sets(i).length + sets(j).length - inter
        if inter.toLong * den >= uni.toLong * num
      } yield Row(a, b, inter.toLong, uni.toLong)
    }
  }

  /** How many values two ascending arrays of distinct values share. */
  private def common(a: Array[Long], b: Array[Long]): Int = {
    var i = 0
    var j = 0
    var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }

  /**
   * Connected components of the near-duplicate pair graph — the step
   * that turns pairwise matches into DUPLICATE CLUSTERS so exactly one
   * canonical document per cluster survives (pairs alone under-delete:
   * a~b and b~c must collapse to one survivor even when a!~c directly).
   * Returns (id, comp) where comp = the smallest id in the component —
   * `comp` is the canonical keeper, `id != comp` rows are the deletes.
   *
   * Scale design — two paths behind one size test, the same shape as
   * Spark's own broadcast-vs-shuffle join choice:
   *
   *  - Edge sets whose pairs, at 16 bytes each, fit the operators' one
   *    gate, `spark.sql.autoBroadcastJoinThreshold` (655,360 pairs at
   *    the default 10 MB — near-dup pair sets are tiny relative to the
   *    corpus), collect to the driver for UNION-FIND ([[DriverLocal]]):
   *    exact, one job to count the pairs and one to collect them. The
   *    endpoint->component map, a local relation, broadcast-joins back
   *    to `nodes`, so the corpus itself still never moves. The collect is
   *    bounded by the threshold exactly as the IVF probe-set collect is
   *    bounded by |queries|*nprobe.
   *  - Larger edge sets run iterative min-label propagation in
   *    DataFrame ops, restricted to EDGE-TOUCHED nodes (a singleton's
   *    component is its own id by definition; joining every corpus row
   *    through every round would dominate the loop for zero
   *    information). Per round one shuffle keyed on the endpoints,
   *    labels locally checkpointed (a plan leaf, so the plan does not
   *    grow with the rounds); rounds = propagation-graph diameter
   *    (tiny for dup clusters — dense cliques-of-cliques, not long
   *    chains). The driver-side loop reads ONE aggregated scalar per
   *    round (the label sum, monotonically decreasing — unchanged sum
   *    proves a fixpoint since labels only ever decrease), never the
   *    labels themselves; it sums as DECIMAL(38,0) (exact for any
   *    realistic id domain). `maxIter` bounds these rounds only; a loop
   *    short of its fixpoint after them raises.
   *
   * Both paths: empty `nodes`/`edges` degenerate gracefully, labels
   * propagate through edge endpoints even if absent from `nodes` (the
   * output is still restricted to `nodes`), and singletons rejoin with
   * `comp = id`. The local path requires integral ids (the min-label
   * semantics already presuppose ordered numeric ids); non-integral ids
   * always take the distributed loop, and so does every edge set when
   * the threshold is off (<= 0).
   */
  def connectedComponents(
      nodes: DataFrame,
      edges: DataFrame,
      idCol: String = "id",
      maxIter: Int = 20): DataFrame = {
    val idType = nodes.schema(idCol).dataType
    val integralIds = (idType +: Seq("id_a", "id_b").map(edges.schema(_).dataType)).forall(DriverLocal.isIntegral)
    withCached(edges.select(col("id_a"), col("id_b"))) { cachedEdges =>
      DriverLocal.gate(nodes, "connectedComponents", Option.when(!integralIds)("non-integral ids")) { t =>
        fit("pairs", DriverLocal.rows(cachedEdges).head * 16, t).map { reason =>
          (localComponents(nodes, LongPairs.collect(cachedEdges).head, idCol, idType), 0, reason)
        }
      }(loopComponents(nodes, cachedEdges, idCol, maxIter, _))
    }
  }

  /** Driver union-find over a bounded pair set; union-by-min keeps every
   *  root the smallest id of its component, path compression keeps finds
   *  amortized O(alpha). A pair with a null endpoint links nothing, as
   *  in the distributed loop, where null ids never join. */
  private def localComponents(
      nodes: DataFrame,
      edges: LongPairs,
      idCol: String,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import scala.jdk.CollectionConverters._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    for (i <- 0 until edges.size if !edges.aNull(i) && !edges.bNull(i)) {
      val a = edges.a(i)
      val b = edges.b(i)
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
    }
    val labels = DriverLocal.frame(nodes.sparkSession, parent.keySet().asScala.toSeq.map(id => Row(id, find(id))),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("__cc_comp", LongType, nullable = false))))
      .select(col("id").cast(idType).as("id"), col("__cc_comp").cast(idType).as("__cc_comp"))
    nodes.select(col(idCol).as("id"))
      .join(broadcast(labels), Seq("id"), "left")
      .select(col("id"), coalesce(col("__cc_comp"), col("id")).as("comp"))
  }

  /** Distributed min-label propagation over the edge-touched subgraph;
   *  the driver-local regime was `declined` for the reason given. */
  private def loopComponents(
      nodes: DataFrame,
      edges: DataFrame,
      idCol: String,
      maxIter: Int,
      declined: String): DataFrame = {
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("comp").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")))
        .collect()(0).getDecimal(0)
    val sym = edges.select(col("id_a").as("id"), col("id_b").as("nbr"))
      .unionByName(edges.select(col("id_b").as("id"), col("id_a").as("nbr")))
      .cache()
    // each round is materialized to a plan leaf: a cached round's plan
    // holds the previous round's twice (both join sides), so without the
    // truncation the plan doubles every round. The checkpoint is lazy:
    // the round's label-sum job writes it
    val mat = (df: DataFrame) => df.localCheckpoint(eager = false)
    var labels = mat(sym.select(col("id")).distinct().select(col("id"), col("id").as("comp")))
    var lastSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("nbr"), col("comp").as("nbrComp")), "nbr")
        .groupBy("id")
        .agg(min(col("nbrComp")).as("nmin"))
      labels = mat(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp")))
      val nextSum = labelSum(labels)
      converged = nextSum.compareTo(lastSum) == 0
      lastSum = nextSum
      iter += 1
    }
    // the symmetrized edge frame is internal working state — release it
    // here (every round has already consumed it, and the last round's
    // labels are materialized on their own). The returned plan reads
    // that last round's local checkpoint, not a cache:
    // spark.catalog.clearCache() does not drop it; Spark's context
    // cleaner frees its blocks once the returned plan is unreachable.
    sym.unpersist()
    require(converged, s"connectedComponents did not converge within $maxIter rounds")
    record(nodes, "connectedComponents", "distributed", iter, declined)
    nodes.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /**
   * Frequency capping over duplicate clusters: resolve pairwise matches
   * into components ([[connectedComponents]]) and keep at most `k`
   * documents per cluster — the step between near-dup detection and
   * "delete all but one": repeated-but-valuable content (boilerplate
   * templates, popular quotes) is DOWN-WEIGHTED to k copies instead of
   * collapsed to one. Survivors are ranked inside each cluster by
   * md5(id) (the seedless uniform draw the sampling operators use), so
   * the kept set is identical on every run, partitioning, and engine.
   * Returns (id, comp, rk, kept).
   *
   * Scale shape: component labels from the propagation loop, then ONE
   * comp-keyed window over the (already small: id, comp, rank inputs)
   * label table — every row keeps its rank and kept flag so callers
   * choose between filtering and re-weighting. NB: because all rows are
   * returned, Spark cannot apply its WindowGroupLimit pruning; a
   * pathological mega-cluster sorts through one partition. Callers that
   * only want survivors should `.where(col("kept"))` AFTER this (the
   * flag output is the contract) or inline the rank filter themselves
   * to get map-side pruning.
   */
  def capClusters(
      nodes: DataFrame,
      edges: DataFrame,
      idCol: String = "id",
      k: Int = 2): DataFrame = {
    require(k > 0, s"cap must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val labels = connectedComponents(nodes, edges, idCol)
    val w = Window.partitionBy("comp")
      .orderBy(md5(col("id").cast("string")), col("id"))
    labels.withColumn("rk", row_number().over(w).cast("int"))
      .withColumn("kept", col("rk") <= k)
  }

  /**
   * Benchmark decontamination: corpus documents sharing at least
   * `minShared` distinct word n-gram shingles with ANY benchmark document
   * (the standard eval-set contamination check before training). Returns
   * (id, n_shared).
   *
   * Scale design: the benchmark side (eval sets — megabytes) collapses to
   * a DISTINCT set of 8-byte shingle hashes and BROADCASTS; the corpus
   * never shuffles — each partition streams through a broadcast hash
   * join, then aggregates per-doc match counts map-side. A 64-bit hash
   * collision could flag a clean document with probability ~|shingles|^2
   * / 2^65 — negligible against the n-gram false-positive rate of the
   * check itself.
   */
  def contaminatedDocs(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minShared: Int = 1): DataFrame = {
    // shingleHashes() distincts per document, so count(*) after the join
    // counts distinct shared shingles
    val c = corpus.select(col(idCol).as("id"),
      explode(shingleHashes(col(textCol), n)).as("h"))
    val b = benchmark
      .select(explode(shingleHashes(col(textCol), n)).as("h"))
      .distinct()
    c.join(broadcast(b), "h")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /**
   * Fractional contamination score: for EVERY corpus document, the
   * fraction of its distinct word n-gram shingles that appear anywhere
   * in the benchmark — (id, n_shingles, n_shared, overlap_frac), kept
   * when `overlap_frac >= minFrac`. The graded companion to
   * [[contaminatedDocs]]'s any-match flag: pipelines drop above a high
   * fraction and tag the grey zone for review rather than hard-flagging
   * a doc that shares one boilerplate 8-gram.
   *
   * Scale design mirrors [[contaminatedDocs]]: the benchmark collapses
   * to a DISTINCT broadcast set of 8-byte shingle hashes; the corpus
   * streams map-side through the broadcast left join carrying its
   * per-doc shingle count alongside, and the per-doc hit count
   * partially aggregates to ~one row per doc before the only shuffle.
   * The fraction is a division of two exact small integers, so any SQL
   * engine reproduces it bit-for-bit (hash collisions aside, as in
   * [[contaminatedDocs]]).
   */
  def contaminationOverlap(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minFrac: Double = 0.0): DataFrame = {
    require(minFrac >= 0.0 && minFrac <= 1.0,
      s"minFrac must be in [0, 1], got $minFrac")
    val c = corpus
      .select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("sh"))
      .select(col("id"), size(col("sh")).cast("long").as("n_shingles"),
        explode(col("sh")).as("h"))
    val b = benchmark
      .select(explode(shingleHashes(col(textCol), n)).as("h"))
      .distinct()
      .withColumn("__hit", lit(1))
    // count(__hit) counts non-null = matched shingles; unmatched corpus
    // shingles survive the left join as null __hit and only keep the
    // denominator honest
    c.join(broadcast(b), Seq("h"), "left")
      .groupBy("id", "n_shingles")
      .agg(count(col("__hit")).as("n_shared"))
      .select(col("id"), col("n_shingles"), col("n_shared"),
        round(col("n_shared") / col("n_shingles"), 9).as("overlap_frac"))
      .where(col("overlap_frac") >= minFrac)
  }

  /**
   * Pairwise overlap matrix between corpus slices — "how redundant are
   * my sources?": for every pair of `groupCol` values, the distinct
   * word-`n`-gram counts of both sides, their intersection, and the
   * Jaccard similarity, estimated from ONE theta sketch per group.
   * Returns (src_a, src_b, n_a, n_b, n_shared, jaccard) for src_a <
   * src_b (string order).
   *
   * Scale design: the corpus is read ONCE — shingle hashes stream into a
   * per-group `theta_accumulate` (map-side partial sketches, bounded
   * 2^lgK state across the only corpus-sized shuffle). All pairwise set
   * algebra then happens on the TINY per-group sketch table (one row per
   * source) via the scalar `theta_intersect_pair` — a broadcast
   * self-join of |groups| rows, never a corpus-sized pair join. Counts
   * are EXACT below 2^`spark.sql.dataSketches.theta.lgK` distinct
   * shingles per group (intersections of exact sketches are exact, the
   * property the oracle pins at test scale) and ~2% estimates beyond —
   * the right trade for a redundancy dashboard over a 100 TB corpus.
   */
  def sourceOverlapMatrix(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    // one row per group; cached because both join branches read it (the
    // cache transfers to the returned plan per the package contract)
    val sk = df
      .select(col(groupCol).as("src"), explode(shingleHashes(col(textCol), n)).as("h"))
      .groupBy("src")
      .agg(call_function("theta_accumulate", col("h")).as("sk"))
      .select(col("src"), col("sk"),
        call_function("theta_estimate", col("sk")).as("n_distinct"))
      .cache()
    val a = sk.select(col("src").as("src_a"), col("sk").as("ska"),
      col("n_distinct").as("n_a"))
    val b = sk.select(col("src").as("src_b"), col("sk").as("skb"),
      col("n_distinct").as("n_b"))
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        call_function("theta_estimate",
          call_function("theta_intersect_pair", col("ska"), col("skb")))
          .as("n_shared"))
      .withColumn("jaccard",
        round(col("n_shared") / (col("n_a") + col("n_b") - col("n_shared")), 9))
  }

  /**
   * SimHash-banded near-duplicate pairs: candidates agree on at least
   * one of `bands` equal slices of the 64-bit fingerprint, then verify
   * with exact hamming distance. LOSSLESS for `maxHamming < bands` by
   * pigeonhole — k bit flips can dirty at most k bands, leaving one
   * intact — so the result equals the all-pairs hamming filter while
   * the join only shuffles (band, 4-byte slice) keys. The cheapest of
   * the three near-dup families (one 64-bit fingerprint per doc, no
   * shingle sets), at the price of the coarsest similarity notion.
   */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      bands: Int = 4): DataFrame = {
    require(bands > 0 && 16 % bands == 0, s"bands must divide 16, got $bands")
    require(maxHamming < bands,
      s"banding is only lossless for maxHamming < bands, got $maxHamming >= $bands")
    val bandLen = 16 / bands
    val sim = df.select(col(idCol).as("id"),
      call_function("graft_simhash", col(textCol)).as("sh")).cache()
    val banded = sim.select(col("id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => col("sh").substr(b * bandLen + 1, lit(bandLen)))))
      .toDF("id", "band", "key")
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(sim.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sim.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("hamming",
        call_function("graft_hamming_hex", col("sh_a"), col("sh_b")).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /**
   * Random-hyperplane LSH near-duplicate pairs over embeddings — the
   * at-scale path (the analogue of [[minhashLshPairs]] for vectors).
   * `tables` independent hash tables of `bits` sign-bits each: a pair with
   * cosine angle theta collides in one table with probability
   * (1 - theta/pi)^bits, so for near-dup thresholds (cos >= 0.9, theta <=
   * 26deg) recall across 8x12-bit tables is > 0.999 while buckets stay
   * small. Hyperplanes are seeded-deterministic; candidates are verified
   * with exact double-precision cosine, so precision is exact and only
   * recall is probabilistic. One shuffle on (table, bucket), never a cross
   * join.
   */
  def embeddingLshPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      bits: Int = 12,
      tables: Int = 8,
      seed: Long = 42L): DataFrame = {
    // `dim` is a parameter (the embedding dimension is fixed at ingestion
    // and known from the pipeline schema) so building the plan triggers no
    // driver-side job — and an empty input stays a cheap empty result.
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
      .where(col("nrm") > 0)
      .cache()
    // All `tables * bits` sign-projections in ONE fused native pass
    // (graft_lsh_buckets), emitting a LONG bucket id per table with
    // disjoint ranges — the composed per-bit formulation inlined
    // tables*bits*dim literal doubles into the plan and overflowed the
    // JIT budget, and shuffled string keys instead of longs.
    val bucketed = v.select(col("id"),
      explode(call_function("graft_lsh_buckets", col("v"),
        lit(dim), lit(bits), lit(tables), lit(seed))).as("bucket"))
    val candidates = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    candidates
      .join(v.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a")), "id_a")
      .join(v.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b")), "id_b")
      .where(Similarity.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /**
   * Embedding-cosine near-duplicate pairs (exact, double-precision math).
   * Quadratic in corpus size — suitable as the verification/baseline path;
   * [[embeddingLshPairs]] is the at-scale candidate path.
   */
  def embeddingCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val withNorm = v.withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
      .where(col("nrm") > 0) // zero vectors have no direction: NaN cosine otherwise
    withNorm.as("a").join(withNorm.as("b"), col("a.id") < col("b.id"))
      .withColumn("cosine",
        Similarity.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .where(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023,
   * arXiv:2303.09540): cluster embeddings with the deterministic spherical
   * k-means coarse quantizer ([[Similarity.kmeansCentroids]] — decimal-
   * exact, bit-reproducible), then compare pairs ONLY within a cluster and
   * mark every document that has a lower-id neighbor at cosine >=
   * `threshold`. Returns (removed_id, kept_id) where kept_id is the
   * smallest-id near-duplicate that caused the removal; survivors are
   * `corpus.join(result, anti)`.
   *
   * Scale shape: the corpus never cross-joins — cluster assignment is a
   * broadcast of ONE packed centroid row (zero shuffle), and the pair
   * search is a self-equi-join on the cell key, so work is sum of
   * cluster-size^2, bounded by choosing `nlist` ~ N / targetClusterSize
   * (SemDeDup's own knob). A pathological mega-cluster is the same hazard
   * as [[capClusters]]' mega-component and has the same remedy. Like
   * SemDeDup itself, recall is restricted to same-cluster pairs; precision
   * is exact (every removal is backed by a real above-threshold cosine).
   */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nlist: Int = 256,
      kmeansIters: Int = 3): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .where(Similarity.dot(col("v"), col("v")) > 0)
    // A distributed packed centroid frame MUST be materialized before the
    // self-join is built: left lazy, each self-join branch re-executes
    // the k-means chain — whose Lloyd iterations each nest their own
    // broadcast of the previous iteration — and the repeated
    // nested-broadcast re-execution measured 30x slower than this one
    // count() of ONE row at sf0.1 (0.6 s vs 20 s). The same
    // one-row-materialization precedent as the bloom scalar in
    // incrementalDedup.
    val cents = broadcast(
      Similarity.packedKmeans(c, "v", nlist, kmeansIters, materialize = true))
    val assigned = c.join(cents)
      .select(col("id"), col("v"), Similarity.bestCell(col("v"), col("cents")).as("cell"),
        sqrt(Similarity.dot(col("v"), col("v"))).as("nrm"))
      .cache()
    assigned.as("a")
      .join(assigned.as("b"), col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .where(Similarity.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))
        >= threshold)
      .groupBy(col("b.id").as("removed_id"))
      .agg(min(col("a.id")).as("kept_id"))
  }

  /**
   * Cross-document repeated-SPAN mining (the exact-substring side of
   * dedup, after Lee et al. 2022 "Deduplicating Training Data Makes
   * Language Models Better"): find document pairs sharing a copied run
   * of at least `minRun` consecutive word `n`-grams (i.e. a verbatim
   * passage of >= minRun + n - 1 words), and report the longest such
   * run per pair. Set-similarity dedup (Jaccard / MinHash) misses a
   * 30-word passage pasted into a 10k-word document — the Jaccard is
   * tiny; span mining is how boilerplate licenses, quoted chains, and
   * template paragraphs are actually found.
   *
   * Method: each document becomes its positional n-gram hash sequence
   * (`graft_word_shingle_seq`, one pass, no gram strings). A shared
   * passage appears as equal hashes at consecutive positions with a
   * CONSTANT offset between the two documents, so after the postings
   * self-join, runs are counted per (pair, position-offset) with the
   * classic row_number difference trick — no iteration, no suffix
   * array.
   *
   * Scale design: the postings shuffle carries (id, pos, 8-byte hash)
   * — never text. Hashes occurring in more than `maxPostings` documents
   * are dropped BEFORE the self-join (one aggregate + semi filter),
   * which bounds the join fan-out exactly like the boilerplate cap in
   * [[graft.operators.TextOps.boilerplateNgrams]]: a phrase shared by
   * a million documents is boilerplate (findable by that operator),
   * not a pairwise-span question — mining it pairwise would be an
   * n-squared explosion for information already visible at the hash
   * level. Run counting windows partition by (id_a, id_b, offset) —
   * keys at least as fine as document pairs, so no single-partition
   * hotspots.
   *
   * Returns (id_a, id_b, max_run, n_shared) with id_a < id_b, where
   * max_run is the longest consecutive shared n-gram run and n_shared
   * counts all shared positional matches (across every offset).
   */
  def repeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minRun: Int = 3,
      maxPostings: Int = 1000): DataFrame = {
    require(minRun > 0, "minRun must be positive")
    spanRuns(df, idCol, textCol, n, maxPostings)
      .groupBy("id_a", "id_b")
      .agg(max(col("run")).as("max_run"), sum(col("run")).as("n_shared"))
      .where(col("max_run") >= minRun)
  }

  /** Shared-run frame behind [[repeatedSpans]] / [[dedupSpansRewrite]]:
    * one row per maximal run of consecutive shared n-grams, as
    * (id_a, id_b, off, run, pb0) with pb0 the run's start position in
    * the id_b document. */
  private def spanRuns(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxPostings: Int): DataFrame = {
    val postings = df.select(col(idCol).as("id"),
        posexplode(call_function("graft_word_shingle_seq", col(textCol), lit(n)))
          .as(Seq("pos", "h")))
    val rare = postings.groupBy("h")
      .agg(count(lit(1)).as("__np"))
      .where(col("__np") <= maxPostings)
      .select("h")
    val pruned = postings.join(rare, Seq("h"), "left_semi")
    val pairs = pruned.as("a")
      .join(pruned.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      .withColumn("off", col("pa") - col("pb"))
    // consecutive pa values within one (pair, offset) share pa - row_number
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a", "id_b", "off").orderBy("pa")
    pairs
      .withColumn("__grp", col("pa") - row_number().over(wOrd))
      .groupBy("id_a", "id_b", "off", "__grp")
      .agg(count(lit(1)).as("run"), (min(col("pa")) - col("off")).as("pb0"))
      .select("id_a", "id_b", "off", "run", "pb0")
  }

  /**
   * Span-removal rewrite — the second half of the Lee et al. 2022 flow:
   * CUT every repeated span (>= `minRun` consecutive shared word
   * n-grams, mined exactly as [[repeatedSpans]]) from the HIGHER-id
   * document of each sharing pair, keeping the earliest occurrence
   * intact. A document chain A=B=C therefore keeps the passage only in
   * A: B drops it against A, C against both — the rule is "drop any
   * span also present in a lower-id document", deterministic with no
   * iteration.
   *
   * The rewrite operates on the PINNED token stream (lower/trim/split):
   * a run of `run` grams starting at word `pb0` covers words
   * [pb0, pb0 + run + n - 2]; overlapping spans union per document, and
   * the kept words re-join with single spaces (whitespace-normalized
   * output, like every token-level operator here).
   *
   * Scale design: everything up to the drop-position sets is
   * [[spanRuns]] (hash postings only — text never rides those
   * shuffles); the drop sets are (id, sorted int array) rows for
   * AFFECTED documents only, joined back to the corpus where AQE
   * broadcasts them in the common sparse case; the cut itself is the
   * native `graft_drop_words` expression, one pass per document.
   *
   * Returns every input document: (id, text_dedup, n_words, n_dropped)
   * with n_dropped = 0 for untouched rows.
   */
  def dedupSpansRewrite(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minRun: Int = 3,
      maxPostings: Int = 1000): DataFrame = {
    require(minRun > 0, "minRun must be positive")
    val drops = spanRuns(df, idCol, textCol, n, maxPostings)
      .where(col("run") >= minRun)
      .select(col("id_b").as("id"),
        explode(sequence(col("pb0"), col("pb0") + col("run") + lit(n - 2))).as("pos"))
      .groupBy("id")
      .agg(sort_array(collect_set(col("pos").cast("int"))).as("__drops"))
    df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .join(drops, Seq("id"), "left")
      .select(col("id"),
        call_function("graft_drop_words", col("__text"),
          coalesce(col("__drops"), array().cast("array<int>"))).as("__dw"))
      .select(col("id"), col("__dw.text").as("text_dedup"),
        col("__dw.n_words").cast("long").as("n_words"),
        col("__dw.n_dropped").cast("long").as("n_dropped"))
  }

  /**
   * Leakage-free split assignment: hash-assign train/val/test at the
   * NEAR-DUP CLUSTER level, not the document level, so two near-copies
   * can never straddle a split (the eval-set contamination mode that
   * per-document hashing is blind to). Every document maps to its
   * connected-component label under `edges` (min id in the cluster;
   * singletons label themselves), and [[graft.operators.Sampling
   * .assignSplits]]'s deterministic md5 hash-space partition runs on the
   * LABEL. Output: (id, comp, split).
   *
   * Scale design inherits both halves': bucketed near-dup edges, the
   * bounded/distributed component loop, and a pure map-side hash for the
   * split itself — no extra shuffle beyond the component join.
   */
  def leakageFreeSplits(
      nodes: DataFrame,
      edges: DataFrame,
      idCol: String,
      splits: Seq[(String, Int)]): DataFrame = {
    val comps = connectedComponents(nodes, edges, idCol)
    comps.join(
        Sampling.assignSplits(comps.select(col("comp")).distinct(), "comp", splits),
        Seq("comp"))
      .select(col("id"), col("comp"), col("split"))
  }

  /**
   * Fuzzy vocabulary pairs (typo/variant canonicalization): every pair of
   * corpus word types within Levenshtein distance `maxDist` (1 or 2),
   * with both words' frequencies — the input to spelling-variant merging
   * before vocabulary or n-gram statistics are trusted.
   *
   * Scale design — SymSpell deletion-neighborhood blocking, not all
   * pairs: each word emits its <= 1 + L + L(L-1)/2 deletion variants
   * (depth `maxDist`) as join keys; two words within distance d <= 2
   * provably share a depth-d deletion variant, so the candidate join is
   * an equi-join on short keys and ONLY candidates pay the exact
   * `levenshtein` verification. The whole pipeline runs on the word-TYPE
   * table (one hash agg collapses the corpus), so the join volume is
   * vocabulary-sized regardless of corpus size. Production lever for
   * pathological corpora: a frequency cap on degenerate keys (variants
   * of 1-2 char words) bounds the hottest bucket.
   */
  def fuzzyVocabPairs(
      df: DataFrame,
      textCol: String,
      maxDist: Int = 2,
      minCount: Long = 1L): DataFrame = {
    require(maxDist == 1 || maxDist == 2, s"maxDist must be 1 or 2, got $maxDist")
    def del1(v: Column): Column =
      when(length(v) >= 1, transform(sequence(lit(1), length(v)),
        i => concat(v.substr(lit(1), i - 1), v.substr(i + 1, length(v) - i))))
        .otherwise(array().cast("array<string>"))
    val vocab = df.select(explode(TextOps.words(col(textCol))).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
    val d1 = del1(col("w"))
    val variants =
      if (maxDist == 1) array_distinct(concat(array(col("w")), d1))
      else array_distinct(concat(array(col("w")), d1,
        flatten(transform(d1, v => del1(v)))))
    val keyed = vocab.select(col("w"), col("n"), explode(variants).as("k"))
    keyed.as("a").join(keyed.as("b"),
        col("a.k") === col("b.k") && col("a.w") < col("b.w"))
      .select(col("a.w").as("w_a"), col("b.w").as("w_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("w_a"), col("w_b")).cast("int"))
      .where(col("dist") <= maxDist)
  }

  /**
   * Representative selection for near-dup clusters: given component
   * labels (from [[connectedComponents]]) and a per-document quality
   * score, keep the best-scoring document per cluster (ties broken by
   * smallest id) — the curation policy that beats [[exactDedup]]'s
   * keep-first when duplicates differ in quality (truncation, OCR noise,
   * boilerplate variants). Null and NaN scores are excluded before
   * selection (NaN sorts ABOVE every double in Spark's ordering, so an
   * unguarded NaN would win its cluster precisely because its quality
   * signal is broken).
   *
   * One partial-aggregable hash aggregation — `max(struct(score, -id))`
   * — per cluster: no window sort, no per-cluster row buffering, so a
   * billion-member boilerplate cluster reduces map-side like any other
   * group. Returns (comp, kept_id, best_score, n_members).
   */
  def keepBestPerCluster(
      df: DataFrame,
      idCol: String,
      compCol: String,
      scoreCol: String): DataFrame = {
    val scoreOk = df.schema(scoreCol).dataType match {
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType =>
        col(scoreCol).isNotNull && !isnan(col(scoreCol))
      case _ => col(scoreCol).isNotNull
    }
    df.where(scoreOk)
      .groupBy(col(compCol).as("comp"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col(scoreCol).as("s"), (-col(idCol)).as("negid"))).as("best"))
      .select(col("comp"), (-col("best.negid")).as("kept_id"),
        col("best.s").as("best_score"), col("n_members"))
  }

  /**
   * Soft dedup: instead of dropping duplicates, every document in a
   * normalized-content group of size n keeps weight 1/n (1e4 fixed
   * point, half-up) and an UNBIASED deterministic keep decision —
   * `hash60(seed, id) * n < 2^60` — so the expected kept mass per group
   * is one document, but WHICH copy survives is a seeded coin, not
   * always the smallest id (the keep-first bias that skews source
   * mixtures when duplication correlates with source). The Lee et al.
   * "keep one random member" policy, reproducible across engines and
   * runs via the md5 hash-space convention of [[Sampling.weightedMix]].
   *
   * Shuffle discipline: the text collapses to a 16-byte fingerprint
   * before the group-size aggregation, and the join back to documents
   * carries (fingerprint, n) only — document text never rides a
   * shuffle. Decimal(38) arithmetic keeps `hash * n` exact (no long
   * overflow for any group size).
   */
  def softDedupWeights(
      df: DataFrame,
      idCol: String,
      textCol: String,
      seed: Long = 0L): DataFrame = {
    val keyed = df.select(col(idCol).as("id"),
      TextOps.fingerprint(col(textCol)).as("__fp"))
    val sizes = keyed.groupBy("__fp").agg(count(lit(1)).as("n_dups"))
    val hv = conv(substring(
      md5(concat(lit(s"$seed:"), col("id").cast("string")).cast("binary")),
      1, 15), 16, 10).cast("decimal(38,0)")
    keyed.join(sizes, Seq("__fp"))
      .select(col("id"), col("n_dups"),
        expr("(2 * 10000 + n_dups) DIV (2 * n_dups)").as("weight_fp"),
        (hv * col("n_dups") <
          lit(new java.math.BigDecimal("1152921504606846976"))).as("kept"))
  }

  /**
   * Sorted-neighborhood near-duplicate pairs (Hernandez-Stolfo SNM):
   * sort the corpus by a cheap blocking key (the first `keyLen` chars
   * of whitespace-normalized lowercase text), slide a `window`-row
   * window down the sorted order, and exact-verify every in-window
   * pair with n-gram Jaccard >= num/den. The classic record-linkage
   * complement to LSH blocking: near-dups that share a PREFIX are
   * found in O(n·w) candidate pairs even when their overall shingle
   * overlap is spread thin. Output matches [[ngramJaccardPairs]]:
   * (id_a, id_b, inter, uni), id_a < id_b.
   *
   * The global sort rank is computed WITHOUT a single-partition
   * window: one `approx_partition_bounds_str` sketch pass proposes
   * range buckets, per-bucket counts (driver-held: `buckets` longs)
   * become prefix-sum offsets, and rank = offset + a bucket-
   * partitioned row_number — every stage parallel, the
   * [[Classifier.globalRankDesc]] discipline for string keys. Bucket
   * boundaries only affect balance, never the rank itself, so results
   * are bit-stable under any bucketing. In-window candidate pairs come
   * from an EQUI-join on the rank block `rank DIV window` (the right
   * side exploded to its own and the preceding block) — a hash join,
   * never a broadcast nested loop.
   */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      keyLen: Int = 20,
      window: Int = 5,
      n: Int = 5,
      num: Int = 4,
      den: Int = 5,
      buckets: Int = 64): DataFrame = {
    val cand = sortedNeighborhoodCandidates(df, idCol, textCol,
      keyLen, window, buckets)
    val sets = shingleSets(df, idCol, textCol, n)
    verifyJaccard(cand, sets, num, den)
  }

  /** Exact-Jaccard verification of an externally produced candidate
   *  pair set (id_a, id_b) against `df`'s n-gram shingles — the public
   *  half of [[ngramJaccardPairs]]' verify stage, so blocking-quality
   *  evaluations can count candidates AND verify them without running
   *  the blocking pipeline twice. Output matches [[ngramJaccardPairs]]. */
  def verifyCandidatePairs(
      candidates: DataFrame,
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      num: Int = 4,
      den: Int = 5): DataFrame =
    verifyJaccard(candidates, shingleSets(df, idCol, textCol, n), num, den)

  /** The SNM candidate pairs BEFORE verification — (id_a, id_b),
   *  id_a < id_b by id order: all pairs within `window` rows of each
   *  other in the global (blocking key, id) sort. Public so blocking-
   *  quality evaluation (pair completeness vs reduction ratio) can
   *  count candidates without re-deriving the rank. */
  def sortedNeighborhoodCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      keyLen: Int = 20,
      window: Int = 5,
      buckets: Int = 64): DataFrame = {
    require(keyLen >= 1, s"keyLen must be >= 1, got $keyLen")
    require(window >= 1, s"window must be >= 1, got $window")
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val spark = df.sparkSession
    val keys = df.select(col(idCol).as("id"),
      substring(regexp_replace(lower(col(textCol)), "\\s+", " "), 1, keyLen)
        .as("bk"))
      .where(col("bk").isNotNull) // null text has no sort position
    // the self-join below reads the rank twice — checkpoint it once so
    // neither side recomputes the window, and release the keyed cache
    // (its last consumer) instead of leaving it to the session
    val ranked = withCached(keys) { keyed =>
      keyed.count() // materialize: bounds pass + rank pass both read it
      val boundsRow = keyed.agg(call_function(
        "approx_partition_bounds_str", col("bk"), lit(buckets)).as("bs")).collect()(0)
      val rankedLazy =
        if (boundsRow.isNullAt(0)) keyed.withColumn("rank", lit(0L)).where(lit(false))
        else {
          val bounds = boundsRow.getSeq[String](0)
          val bucketed = keyed.withColumn("__b",
            call_function("graft_bucket_index",
              array(bounds.map(lit): _*), col("bk")))
          val counts = bucketed.groupBy("__b").agg(count(lit(1)).as("c"))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          val offsets = counts.keys.toSeq.sorted.map { b =>
            (b, counts.collect { case (b2, c) if b2 < b => c }.sum)
          }
          val offDf = broadcast(
            spark.createDataFrame(offsets).toDF("__b", "__off"))
          bucketed.join(offDf, Seq("__b"))
            .withColumn("rank", col("__off") + row_number().over(
              Window.partitionBy("__b").orderBy(col("bk"), col("id"))))
            .select(col("id"), col("rank"))
        }
      rankedLazy.localCheckpoint()
    }
    val blk = ranked.withColumn("__blk", expr(s"(rank - 1) DIV $window"))
    val right = blk.withColumn("__jblk",
      explode(array(col("__blk"), col("__blk") - 1)))
    blk.as("a")
      .join(right.as("b"), col("a.__blk") === col("b.__jblk") &&
        col("b.rank") > col("a.rank") &&
        col("b.rank") <= col("a.rank") + window)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
  }
}
