package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over embedding columns (`array<float>`).
 *
 * Two paths:
 *  - [[bruteForceKnn]] — exact cosine top-k via join + window; the
 *    correctness baseline. O(|queries| * |corpus|); fine when the query
 *    side is small or broadcastable.
 *  - [[ivfKnn]] — IVF-style approximate path for the 100TB scale-out: a
 *    deterministic coarse quantizer (hash-seeded pseudo-centroids built
 *    from sampled corpus vectors) partitions the corpus; queries probe
 *    only the `nprobe` nearest cells, turning the cross join into a
 *    cell-equi-join that shuffles each corpus vector once.
 *
 * All dot products run in double precision inside codegen'd higher-order
 * functions (zip_with + aggregate) — no UDFs.
 */
object Similarity {

  /**
   * Double-precision dot product: native primitive-loop expression
   * (`graft_dot`, see [[org.apache.spark.sql.graft.DotProduct]]) — ~5x the
   * throughput of `aggregate(zip_with(...))` with bit-identical results.
   */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /**
   * Exact cosine top-k: for each query row, the k nearest corpus rows
   * (excluding itself when ids collide). Output: (query_id, rk, neighbor_id).
   *
   * `fanOutCorpus`: repartition a single-split corpus to the session
   * parallelism before the nested-loop join (guide §2.5 — an
   * unsplittable small scan serializes the |corpus|·|queries| dot
   * products on one core). Opt-in because it only pays when the query
   * side is LARGE (all-pairs shapes like mutual-kNN); with a handful of
   * probe rows the exchange costs more than the serial compute
   * (measured: q256 3.7 s -> 1.5 s with it, q189 0.7 s -> 3.1 s if
   * applied blindly to its 20-row probes).
   */
  def bruteForceKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      fanOutCorpus: Boolean = false): DataFrame = {
    // Broadcast the (small) QUERY side and stream the corpus; zero-norm
    // vectors are excluded on both sides (no direction => NaN cosine, and
    // NaN sorts above every real similarity under desc ordering).
    val c0 = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("cv"))
    val c = (if (fanOutCorpus) fanOut(c0) else c0)
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
      .where(col("cn") > 0)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
      .where(col("qn") > 0)
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rk", row_number().over(w).cast("int"))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"))
  }

  /**
   * Mutual-kNN edges from ANY kNN pair table `(query_id, neighbor_id)`:
   * the edge (a, b) survives iff a is in b's top-k AND b is in a's —
   * the symmetric "dense region" graph behind embedding-curation
   * prototypicality and diversity pruning (keep/drop by
   * mutual-neighborhood density, not one-way similarity, so a hub next
   * to a sparse outlier doesn't drag it in). Output: canonical
   * (a, b) pairs with a < b, deduplicated.
   *
   * Scale shape: one self-equi-join on the (query, neighbor) key — the
   * input is corpus·k rows, never corpus². Feed it [[bruteForceKnn]]
   * at eval scale or [[IvfIndex.query]] / LSH candidates at 100 TB;
   * mutuality itself never touches the vectors again.
   */
  def mutualKnnPairs(
      knn: DataFrame,
      queryCol: String = "query_id",
      neighborCol: String = "neighbor_id"): DataFrame = {
    val e = knn.select(col(queryCol).as("a"), col(neighborCol).as("b"))
    val rev = e.select(col("b").as("a"), col("a").as("b"))
    e.join(rev, Seq("a", "b"), "left_semi")
      .where(col("a") < col("b"))
      .distinct()
  }

  /** Per-node mutual-kNN degree (nodes with >= 1 mutual edge): the
   *  integer density signal — high degree = deep inside a dense
   *  region (prune/dedup candidate), zero/absent = isolated. */
  def mutualKnnDegree(
      knn: DataFrame,
      queryCol: String = "query_id",
      neighborCol: String = "neighbor_id"): DataFrame = {
    val p = mutualKnnPairs(knn, queryCol, neighborCol)
    p.select(col("a").as("node"))
      .unionAll(p.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_mutual"))
  }

  /**
   * HARD-NEGATIVE mining for contrastive training: for each query, the
   * k most-similar corpus rows whose cosine stays BELOW `maxCosine` —
   * i.e. the nearest neighbors that are NOT near-duplicates. Pairs at
   * or above `maxCosine` are positives/duplicates (the q23 near-dup
   * band), useless and harmful as negatives; everything far below the
   * top is too easy to teach anything. Output:
   * (query_id, rk, neighbor_id, cosine) with cosine rounded to 9 dp
   * (the engine-portable rounding convention).
   *
   * Same scale shape as [[bruteForceKnn]]: broadcast query side, corpus
   * streamed once, WindowGroupLimit prunes per-query top-k map-side
   * before the single shuffle.
   */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxCosine: Double): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
      .where(col("cn") > 0)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
      .where(col("qn") > 0)
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .where(col("cosine") < maxCosine)
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rk", row_number().over(w).cast("int"))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        round(col("cosine"), 9).as("cosine"))
  }

  /**
   * Contrastive-training TRIPLET mining: for each anchor, its best
   * positive (highest-cosine neighbor AT/ABOVE `minPositive` — the
   * near-dup band) and its best hard negative (highest-cosine neighbor
   * BELOW `maxNegative` — similar but wrong), in one scored pass.
   * Anchors lacking either side are dropped: a triplet loss needs both.
   * Output: (anchor_id, positive_id, pos_cosine, negative_id,
   * neg_cosine), cosines rounded 9 dp.
   *
   * Same scale shape as [[hardNegatives]]: the anchor side broadcasts,
   * the corpus streams once, and the two per-anchor argmax windows are
   * WindowGroupLimit-pruned map-side (k=1) before their shuffle.
   */
  def contrastiveTriplets(
      corpus: DataFrame,
      anchors: DataFrame,
      idCol: String,
      vecCol: String,
      minPositive: Double,
      maxNegative: Double): DataFrame = {
    require(maxNegative <= minPositive,
      s"negative band must sit below the positive band: $maxNegative > $minPositive")
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
      .where(col("cn") > 0)
    val q = anchors.select(col(idCol).as("anchor_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
      .where(col("qn") > 0)
    val scored = c.join(broadcast(q), col("anchor_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("anchor_id").orderBy(col("cosine").desc, col("neighbor_id"))
    def top1(side: DataFrame, idAs: String, cosAs: String): DataFrame = side
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("anchor_id"), col("neighbor_id").as(idAs),
        round(col("cosine"), 9).as(cosAs))
    top1(scored.where(col("cosine") >= minPositive), "positive_id", "pos_cosine")
      .join(top1(scored.where(col("cosine") < maxNegative), "negative_id", "neg_cosine"),
        Seq("anchor_id"))
  }

  /**
   * The full centroid set packed into ONE broadcastable row:
   * `cents = array<struct<cell, centroid>>`. Joining this to a big table
   * is a broadcast nested-loop of exactly one row — effectively free —
   * and per-row cell argmax/top-n then run as array higher-order
   * functions inside codegen with ZERO shuffle of the big side.
   */
  private[operators] def packedCentroids(centroids: DataFrame): DataFrame =
    centroids.agg(collect_list(struct(col("cell"), col("centroid"))).as("cents"))

  /**
   * The `nprobe` nearest cells for vector `v`, ordered by cosine
   * descending then cell ascending — the total tiebreak that makes
   * equidistant (e.g. duplicate) vectors assign/probe deterministically
   * (|v| is a constant factor per row, so it's dropped from the cosine).
   * Runs as the native one-pass `graft_nearest_cells` expression (see
   * [[org.apache.spark.sql.graft.NearestCells]]): the previous
   * `array_sort(cents, (l, r) -> <cosine comparator>)` formulation was
   * CodegenFallback with no CSE inside the lambda, so every comparison
   * re-evaluated up to four boxed dots and re-derived centroid norms —
   * ~5 s per Lloyd iteration at sf0.1 vs milliseconds native (scores and
   * order are bit-identical; the expression stable-sorts precomputed
   * scores with the same comparator).
   */
  private[operators] def probeCells(v: Column, cents: Column, nprobe: Int): Column =
    call_function("graft_nearest_cells", v, cents, lit(nprobe))

  /** Cell of the max-cosine centroid for vector `v` (ties -> smallest cell). */
  private[operators] def bestCell(v: Column, cents: Column): Column =
    element_at(probeCells(v, cents, 1), 1)

  /**
   * Spherical k-means coarse quantizer, entirely in DataFrame ops (an
   * MLlib-free Lloyd loop). Seed centroids are a deterministic
   * hash-ordered corpus sample (TakeOrderedAndProject — no full sort);
   * each iteration assigns every vector to its max-cosine centroid via
   * [[bestCell]] over the packed one-row broadcast (no shuffle of the
   * corpus) and recomputes centroids as per-cell means with one
   * (cell, pos)-keyed partial aggregation. Means are summed as
   * DECIMAL(28,18), an exact order-independent reduction — centroids
   * (and therefore IVF results) are bit-identical across runs,
   * partitionings, and cluster sizes. Cosine normalizes, so centroids
   * need no re-normalization; cells that lose all members drop out
   * (fewer, denser cells — standard Lloyd behavior).
   *
   * A corpus within `spark.sql.autoBroadcastJoinThreshold` (rows x 24 +
   * elements x 8 bytes, `array<double>` vectors with finite elements
   * under 1e9 in magnitude) takes the driver-local regime instead
   * ([[LocalKmeans]]): two jobs, then every round on the driver, with
   * bit-identical centroids returned as a local relation. Anything else,
   * and every corpus when the threshold is <= 0, runs the plan above.
   */
  def kmeansCentroids(
      corpus: DataFrame,
      vecCol: String,
      nlist: Int,
      iters: Int = 3): DataFrame =
    LocalKmeans(corpus, vecCol, nlist, iters)
      .fold(distributedKmeans(corpus, vecCol, nlist, iters))(_.centroids)

  /**
   * [[packedCentroids]] of `c`'s [[kmeansCentroids]], for an operator
   * that goes on to assign `c` to them in a lazy plan. Driver-local
   * regime: a one-row local relation, and `c` is cached only while the
   * gate and the collect read it. Distributed regime: `c` and the packed
   * centroids are cached and stay cached for that plan (the Lloyd chain
   * and the assignment both read `c`, and the packed row feeds every
   * branch that probes it); `materialize` computes the packed row now.
   * A plan the caller already cached is used as it is and never
   * released here.
   */
  private[operators] def packedKmeans(
      c: DataFrame,
      vecCol: String,
      nlist: Int,
      iters: Int,
      materialize: Boolean = false): DataFrame = {
    val owned = c.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (owned) c.cache()
    LocalKmeans(c, vecCol, nlist, iters) match {
      case Some(km) =>
        if (owned) c.unpersist(blocking = false)
        km.packed
      case None =>
        val p = packedCentroids(distributedKmeans(c, vecCol, nlist, iters)).cache()
        if (materialize) p.count()
        p
    }
  }

  /** [[kmeansCentroids]]' Spark plan: every Lloyd round is a broadcast of
   *  the packed centroids, a join and two aggregations. */
  private[operators] def distributedKmeans(
      corpus: DataFrame,
      vecCol: String,
      nlist: Int,
      iters: Int): DataFrame = {
    val c = corpus.select(col(vecCol).as("cv"))
    // secondary key disambiguates hash collisions between distinct vectors
    val seedW = Window.orderBy("h", "s")
    var centroids = c
      .withColumn("h", xxhash64(col("cv").cast("array<string>")))
      .withColumn("s", xxhash64(lit(1), col("cv").cast("array<string>")))
      .orderBy("h", "s")
      .limit(nlist)
      .withColumn("cell", row_number().over(seedW).cast("long"))
      .select(col("cell"), col("cv").as("centroid"))
    for (_ <- 0 until iters) {
      centroids = c.join(broadcast(packedCentroids(centroids)))
        .select(bestCell(col("cv"), col("cents")).as("cell"), posexplode(col("cv")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg((sum(col("x").cast("decimal(28,18)")) / count(lit(1))).cast("double").as("m"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("centroid"))
    }
    centroids
  }

  /**
   * IVF approximate top-k: a [[kmeansCentroids]] coarse quantizer
   * partitions the corpus into `nlist` cells; corpus vectors are assigned
   * to their nearest centroid once ([[bestCell]] — no shuffle); each
   * query probes its `nprobe` nearest cells, turning the cross join into
   * a cell-equi-join that shuffles each corpus vector exactly once.
   * Returns (query_id, rk, neighbor_id).
   */
  def ivfKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      kmeansIters: Int = 3): DataFrame = {
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).cast("array<double>").as("cv"))
      .where(dot(col("cv"), col("cv")) > 0)
    val cents = broadcast(packedKmeans(c, "cv", nlist, kmeansIters))
    val assigned = c.join(cents)
      .select(col("cid").as("neighbor_id"), col("cv"),
        bestCell(col("cv"), col("cents")).as("cell"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
    val probes = q.join(cents)
      .select(col("query_id"), col("qv"),
        explode(probeCells(col("qv"), col("cents"), nprobe)).as("cell"))
    val scored = probes.join(assigned, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rk", row_number().over(w).cast("int"))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"))
  }

  /**
   * Two-stage approximate top-k: coarse search in a random-projected
   * low-dimensional space (`outDim`, default 16 — see
   * [[Embeddings.randomProjection]]), keeping `m` candidates per query,
   * then EXACT rerank of only those candidates in the full space. The
   * standard cost/recall knob at corpus scale: the expensive scan runs
   * over outDim/inDim of the bytes (a 4x cut at 64->16), and exactness
   * errors are confined to candidates the coarse stage missed — raise
   * `m` to trade cost for recall. Fully deterministic: the projection
   * matrix is md5-derived, cosines are sequential double sums, ties
   * break on neighbor id. Returns (query_id, rk, neighbor_id).
   */
  def projectedKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 50,
      inDim: Int = 64,
      outDim: Int = 16,
      seed: Long = 42L): DataFrame = {
    require(m >= k, s"coarse candidate count m=$m must be >= k=$k")
    def projected(df: DataFrame): DataFrame =
      Embeddings.randomProjection(df, vecCol, "__p", inDim, outDim, seed)
    // coarse: brute-force in the projected space, but only m survivors
    val coarse = bruteForceKnn(
      projected(corpus).select(col(idCol), col("__p").as(vecCol)),
      projected(queries).select(col(idCol), col("__p").as(vecCol)),
      idCol, vecCol, m)
      .select(col("query_id"), col("neighbor_id"))
    // exact rerank of the candidates in full dimension
    val full = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val scored = coarse.join(q, "query_id").join(full, "neighbor_id")
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("int"))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"))
  }

  /**
   * Symmetric int8 quantization of a vector: per-vector scale
   * `max(|x_i|)/127`, each component rounded to its nearest integer step.
   * Emitted as integer-VALUED doubles so the same native dot product
   * serves the full-precision and quantized paths alike. This is the
   * 100 TB memory story — 1 byte of information per component, 4x
   * smaller than float32 — while staying bit-reproducible in any SQL
   * engine: a quantized dot is a sum of integer products bounded by
   * dim*127^2, far inside a double's 2^53 exact-integer range, so
   * scores carry NO floating-point summation-order sensitivity.
   *
   * Runs as the native one-pass `graft_int8_quantize` expression (see
   * [[org.apache.spark.sql.graft.Int8Quantize]]): the builtin-composed
   * `transform(v, x -> round(x / scale))` re-evaluated the embedded
   * array_max scale PER ELEMENT (no CSE inside lambda bodies) —
   * O(dim^2) + one array allocation per element.
   */
  def int8Quantize(v: Column): Column = call_function("graft_int8_quantize", v)

  /**
   * Two-stage approximate top-k over int8-quantized vectors: coarse
   * search ranks [[int8Quantize]]d vectors by quantized cosine keeping
   * `m` candidates per query, then EXACT rerank of only those candidates
   * in full double precision. Complements [[projectedKnn]] on the other
   * axis: projection cuts the DIMENSION count, quantization cuts the
   * BYTES per dimension — at corpus scale the coarse pass streams 1/8th
   * of the float64 bytes with zero shuffle beyond [[bruteForceKnn]]'s
   * broadcast of the (small) query side. Coarse ties (exact integer
   * score collisions are common at 8 bits) break on neighbor id, so
   * candidate sets are deterministic. Returns (query_id, rk, neighbor_id).
   */
  def quantizedKnn(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 50): DataFrame = {
    require(m >= k, s"coarse candidate count m=$m must be >= k=$k")
    // zero vectors quantize to all zeros and are dropped by
    // bruteForceKnn's zero-norm filter — no pre-filter pass needed
    def quantized(df: DataFrame): DataFrame =
      df.select(col(idCol), int8Quantize(col(vecCol).cast("array<double>")).as(vecCol))
    val coarse = bruteForceKnn(quantized(corpus), quantized(queries), idCol, vecCol, m)
      .select(col("query_id"), col("neighbor_id"))
    val full = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val scored = coarse.join(q, "query_id").join(full, "neighbor_id")
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("int"))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"))
  }

  /**
   * Mean recall@k of `approx` against `exact`, both in
   * (query_id, rk, neighbor_id) shape. Driver-side scalar for assertions.
   */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    exact.as("e")
      .join(approx.as("a"),
        col("e.query_id") === col("a.query_id") &&
          col("e.neighbor_id") === col("a.neighbor_id"), "left")
      .groupBy(col("e.query_id"))
      .agg((count(col("a.neighbor_id")) / count(lit(1))).as("recall"))
      .agg(avg(col("recall")).as("mean_recall"))
  }

  /**
   * Sparse-vector near-neighbor pairs over TF-IDF term vectors — the
   * lexical complement to the dense-embedding paths above (near-dup text
   * that a dense encoder misses, e.g. templated pages differing in one
   * rare token).
   *
   * Per document: TF-IDF weights with a fixed-point smoothed IDF
   * `tf * round(ln((N+1)/(df+1)) * 1e4)` so every weight is an exact
   * integer and the cosine `num / (sqrt(na)*sqrt(nb))` is a
   * deterministic function of integer inputs (sqrt, *, / are
   * correctly-rounded IEEE ops — any engine reproduces the double
   * bit-for-bit; a float log-weight sum would be summation-order
   * sensitive).
   *
   * Scale shape (the inverted-index pruning of Bayardo et al. 2007's
   * all-pairs family): candidate pairs come ONLY from posting lists of
   * rare terms (`df <= maxDf`), so generation cost is sum of
   * posting-list^2 over rare terms — bounded by `maxDf^2 * |rare
   * vocab|`, never corpus^2. Exact cosine verification then runs on
   * candidates alone: pair x term-list joins, all on 8-byte xxhash64
   * term keys (strings never shuffle past tokenization — the same
   * collision-equivalence model as [[TextOps.lmCoverageSignals]]).
   * Recall is restricted to pairs sharing at least one rare term: two
   * documents built entirely of stop-words are invisible, the standard
   * df-pruning trade every sparse-ANN system makes; precision is exact.
   * `ngram > 1` switches the term space to word n-grams — on a
   * small-vocabulary corpus where every unigram is a stop-word, the
   * n-gram space restores the rare-term structure df-pruning needs
   * (and is itself the standard n-gram-cosine dedup variant).
   */
  def sparseCosinePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      maxDf: Int = 10,
      ngram: Int = 1): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    require(ngram >= 1, s"ngram must be >= 1, got $ngram")
    val ws = TextOps.words(col(textCol))
    // docs shorter than the gram width collapse to one whole-text term
    // (the same fallback as the Jaccard shingles — an empty term list
    // would silently drop the doc from the vector space); boundOnce
    // hoists the tokenizer out of the n-gram lambda (else quadratic)
    val terms =
      if (ngram == 1) ws
      else graft.operators.boundOnce(ws) { w =>
        when(size(w) < ngram, array(array_join(w, " ")))
          .otherwise(transform(sequence(lit(0), size(w) - ngram),
            i => array_join(slice(w, i + lit(1), lit(ngram)), " ")))
      }
    // one row per (doc, term-hash) with its term frequency; feeds doc
    // frequencies, weights, and norms, so compute it once
    val tf = df
      .select(col(idCol).as("id"), explode(terms).as("term"))
      .groupBy(col("id"), xxhash64(col("term")).as("th"))
      .agg(count(lit(1)).as("tf"))
      .cache()
    val stats = broadcast(tf.select(countDistinct(col("id")).as("n")))
    val dfreq = tf.groupBy("th").agg(count(lit(1)).as("df"))
    val w = tf.join(dfreq, Seq("th"))
      .crossJoin(stats) // one-row broadcast, same pattern as the BM25 stats join
      .withColumn("w", col("tf") *
        round(log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) * lit(1e4)).cast("long"))
      .select(col("id"), col("th"), col("w"), col("df"))
      .cache()
    val rare = w.where(col("df") <= maxDf).select("id", "th")
    val cand = rare.as("a")
      .join(rare.as("b"), col("a.th") === col("b.th") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // Pack each doc's term vector into aligned sorted (th, w) long arrays
    // plus its norm, then verify candidates with ONE in-row sorted-merge
    // dot (`graft_sparse_dot`) — each doc's terms ship once per side as a
    // packed array instead of exploding candidates back to term-level
    // rows and re-aggregating per pair (two term-level shuffles and a
    // pair groupBy saved; LONG weights keep the dot exact either way).
    val vecs = w.groupBy("id").agg(
      sort_array(collect_list(struct(col("th"), col("w")))).as("tw"),
      sum(col("w") * col("w")).as("n2"))
      .select(col("id"),
        transform(col("tw"), t => t("th")).as("ths"),
        transform(col("tw"), t => t("w")).as("ws"),
        col("n2"))
    cand
      .join(vecs.select(col("id").as("id_a"), col("ths").as("tha"),
        col("ws").as("wsa"), col("n2").as("na")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("ths").as("thb"),
        col("ws").as("wsb"), col("n2").as("nb")), Seq("id_b"))
      .withColumn("num", call_function("graft_sparse_dot",
        col("tha"), col("wsa"), col("thb"), col("wsb")))
      .withColumn("cos", col("num") / (sqrt(col("na")) * sqrt(col("nb"))))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 9).as("cosine"))
  }
}
