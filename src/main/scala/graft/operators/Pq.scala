package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Product quantization (PQ) over an embedding column — the memory-side
 * complement to the IVF scan path ([[IvfIndex]]): split each d-dim
 * vector into `m` contiguous subvectors, train a small k-means codebook
 * per subspace, and store each vector as `m` small codes. At 100 TB this
 * is what makes an in-memory ANN tier possible at all: a 64-dim float
 * vector (256 B) compresses to m=4 one-byte codes plus a shared m*k*sub
 * codebook, and queries scan codes — never raw vectors — via
 * asymmetric-distance (ADC) lookup tables.
 *
 * Scale design:
 *  - Training runs [[Clustering.train]] once per call over all m block
 *    codebooks (plus IVF-PQ's coarse quantizer): one seed collect, which
 *    is also the query batch, then one shuffle of partial sums per Lloyd
 *    round regardless of m or corpus size; the driver holds only m*k*sub
 *    doubles. (In a real deployment you train on a sample; the contract
 *    is identical.)
 *  - Encoding is ONE stateless projection — the m codebooks are baked
 *    into the plan as literals, so no join and no shuffle of the corpus.
 *  - ADC search precomputes, per query, an m×k table of subspace
 *    distances ON THE DRIVER (m*k doubles per query) and evaluates
 *    `sum_b table_b[code_b]` as a map-literal lookup per corpus row —
 *    again a pure projection; the only shuffle is the final per-query
 *    top-k window over rows that survive nothing (full scan of CODES,
 *    which is the point: the codes table is ~64× smaller than the
 *    vectors it stands in for).
 *
 * Determinism: same integer-lattice contract as [[Clustering]] — inputs
 * quantized to `round(x*quantScale)`, floor-of-mean centroid updates,
 * argmin ties toward the lowest seed id — so codes and ADC distances are
 * integer-valued doubles, bit-reproducible across engines and
 * partitionings (the property the DuckDB oracle replays).
 *
 * Reference scope: the reference plugin (datasketches-spark) stops at
 * sketches; PQ is part of this library's LLM-pipeline extension surface
 * alongside [[Similarity]] and [[IvfIndex]].
 */
object Pq {
  import Clustering.View

  /** Codebook for one subspace: (seed label, centroid), id-ascending. */
  type Codebook = Seq[(Long, Array[Double])]

  /** A call's quantized corpus, codebooks, coarse cells (IVF only) and queries. */
  private final case class Trained(q: DataFrame, sub: Int, books: Seq[Codebook],
      coarse: Option[Codebook], nprobe: Int, queries: Seq[(Long, Array[Double])])

  /** Validates the arguments, then trains all of a call's codebooks in one
   *  trainer run; `coarse` is IVF-PQ's (coarseK, nprobe). */
  private def train(
      df: DataFrame, idCol: String, vecCol: String, dim: Int, m: Int, k: Int, iters: Int,
      quantScale: Int, nq: Int = 0, coarse: Option[(Int, Int)] = None): Trained = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must be divisible by m=$m")
    coarse.foreach { case (coarseK, nprobe) =>
      require(nprobe >= 1 && nprobe <= coarseK, "1 <= nprobe <= coarseK")
    }
    val sub = dim / m
    val views = (0 until m).map(b => View(k, b * sub, sub)) ++ coarse.map(c => View(c._1))
    val q = Clustering.quantized(df, idCol, vecCol, quantScale)
    val (books, queries) = withCached(q)(Clustering.train(_, views, iters, nq))
    Trained(q, sub, books.take(m), books.lift(m), coarse.fold(0)(_._2), queries)
  }

  /**
   * Train one codebook per block over the quantized corpus. `dim` must
   * be divisible by `m`; block b covers dims [b*dim/m, (b+1)*dim/m).
   */
  def trainCodebooks(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int,
      iters: Int,
      quantScale: Int = 1000): Seq[Codebook] =
    train(df, idCol, vecCol, dim, m, k, iters, quantScale).books

  /** (id, [cell,] code_0 .. code_{m-1}) of the quantized corpus `q` in one projection. */
  private def codes(
      q: DataFrame, sub: Int, books: Seq[Codebook], coarse: Option[Codebook]): DataFrame = {
    val withCell = coarse.fold(q)(c => q.withColumn("cell", Clustering.nearest(col("v"), c)))
    books.zipWithIndex.foldLeft(withCell) { case (acc, (cents, b)) =>
      acc.withColumn(s"code_$b", View(cents.size, b * sub, sub).label(col("v"), cents))
    }.drop("v")
  }

  /**
   * Encode every vector as m codes: (id, code_0 .. code_{m-1}), where a
   * code is the SEED label of the winning codeword (stable across runs).
   * One projection over the corpus; codebooks are plan literals.
   */
  def encode(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int,
      iters: Int,
      quantScale: Int = 1000): DataFrame =
    encodeWith(df, idCol, vecCol, dim,
      trainCodebooks(df, idCol, vecCol, dim, m, k, iters, quantScale), quantScale)

  /** Encoding against pre-trained codebooks (the steady-state path). */
  def encodeWith(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      books: Seq[Codebook],
      quantScale: Int = 1000): DataFrame = {
    val m = books.size
    // public entry (the streaming path calls it directly): an m that
    // doesn't divide dim would silently mis-slice every block
    require(m >= 1 && dim % m == 0,
      s"dim ($dim) must be divisible by the codebook count ($m)")
    codes(Clustering.quantized(df, idCol, vecCol, quantScale), dim / m, books, None)
  }

  /** (vec_id, query_id, d): every query's score `d` of a row, in one scan and no join. */
  private def perQuery(corpus: DataFrame, queries: Seq[(Long, Array[Double])])(
      score: Array[Double] => Column): DataFrame =
    corpus.select(
      col("id").as("vec_id"),
      inline(array(queries.map { case (qid, qv) =>
        struct(lit(qid).as("query_id"), score(qv).as("d"))
      }: _*)))

  /** The best `n` rows per query by (d, vec_id), self excluded, with their rank `rk`. */
  private def topK(scored: DataFrame, n: Int): DataFrame =
    scored.where(col("vec_id") =!= col("query_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("d"), col("vec_id"))))
      .where(col("rk") <= n)

  /** [[adcSearch]]'s scoring of a trained call; with coarse cells, rows
   *  outside a query's `nprobe` nearest cells score null and drop out. */
  private def adcTopK(t: Trained, n: Int): DataFrame = {
    val coded = codes(t.q, t.sub, t.books, t.coarse)
    def sqTo(qv: Array[Double], c: Array[Double]): Double =
      c.indices.map { i => val dlt = qv(i) - c(i); dlt * dlt }.sum
    // per (query, block) distance table, computed driver-side: all values
    // are sums of squares of lattice integers — exact in Double
    def adc(qv: Array[Double]): Column =
      t.books.zipWithIndex.map { case (cents, b) =>
        val table = cents.map { case (label, c) => label -> sqTo(qv.drop(b * t.sub), c) }.toMap
        element_at(typedlit(table), col(s"code_$b"))
      }.reduce(_ + _)
    // probe set: nprobe nearest coarse cells, ties to the lower label —
    // driver-side (nq * coarseK distances); with a by-cell partitioned
    // layout the same predicate prunes whole files
    def probes(cells: Codebook, qv: Array[Double]): Seq[Long] =
      cells.map { case (label, c) => (sqTo(qv, c), label) }.sortBy(identity).take(t.nprobe).map(_._2)
    val scored = t.coarse.fold(perQuery(coded, t.queries)(adc)) { cells =>
      perQuery(coded, t.queries)(qv => when(col("cell").isin(probes(cells, qv): _*), adc(qv)))
        .where(col("d").isNotNull)
    }
    topK(scored, n)
      .select(col("query_id"), col("vec_id"), col("d").cast("long").as("adc"), col("rk"))
  }

  /**
   * ADC top-k: the `nq` lowest-id vectors become the query batch; every
   * other row is scored as `sum_b table_b[code_b]` (asymmetric distance:
   * exact query subvector vs corpus codeword) and the best `topK` per
   * query are kept. Returns (query_id, vec_id, adc, rk) with `adc` the
   * integer-valued lattice distance.
   */
  def adcSearch(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int,
      iters: Int,
      nq: Int,
      topK: Int,
      quantScale: Int = 1000): DataFrame =
    adcTopK(train(df, idCol, vecCol, dim, m, k, iters, quantScale, nq), topK)

  /**
   * IVF-PQ: coarse-quantize the corpus into `coarseK` cells (same
   * deterministic Lloyd, full vectors, trained in the same rounds as the
   * block codebooks), PQ-encode every row, and answer each query by ADC
   * over ONLY its `nprobe` nearest cells. At 100 TB the codes live
   * parquet-partitioned by cell (the [[IvfIndex]] layout) and the
   * per-query `cell IN (probes)` predicate becomes partition pruning — a
   * query batch physically reads ~nprobe/coarseK of an
   * already-64×-compressed table. Here the filter is expressed on the
   * cell column of the same scan, which Catalyst pushes to the source.
   * Raw-vector PQ (no residual encoding) keeps the whole pipeline on
   * the integer lattice, bit-reproducible for the oracle replay.
   */
  def ivfAdcSearch(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int,
      iters: Int,
      coarseK: Int,
      nprobe: Int,
      nq: Int,
      topK: Int,
      quantScale: Int = 1000): DataFrame =
    adcTopK(train(df, idCol, vecCol, dim, m, k, iters, quantScale, nq, Some((coarseK, nprobe))),
      topK)

  /** The ADC and the exact lattice-L2 top-`n` of one trained call. */
  private def adcAndExact(df: DataFrame, idCol: String, vecCol: String, dim: Int, m: Int, k: Int,
      iters: Int, nq: Int, n: Int, quantScale: Int): (DataFrame, DataFrame) = {
    val t = train(df, idCol, vecCol, dim, m, k, iters, quantScale, nq)
    val exact = topK(perQuery(t.q, t.queries)(Clustering.sqDist(col("v"), _)), n)
    (adcTopK(t, n).select("query_id", "vec_id", "rk"), exact.select("query_id", "vec_id", "rk"))
  }

  /**
   * Recall@topK of [[adcSearch]] against exact lattice L2 top-k, per
   * query: the quality gate a PQ deployment watches when tuning (m, k).
   * Both rankings are deterministic, so the recall itself is exact.
   */
  def adcRecall(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int,
      iters: Int,
      nq: Int,
      topK: Int,
      quantScale: Int = 1000): DataFrame = {
    val (approx, exact) = adcAndExact(df, idCol, vecCol, dim, m, k, iters, nq, topK, quantScale)
    // hits per query: approx rows also in the exact top-k (both sides
    // are topK rows per query — the join is trivially bounded)
    val hits = approx.join(exact, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) * 10000 / topK).cast("long").as("recall_fp"))
  }

  /**
   * MRR@topK of the ADC ranking: per query, the reciprocal rank (1e4
   * fixed point, 0 on a miss) at which the TRUE nearest neighbor (exact
   * lattice L2, self excluded) appears in the ADC top-k. Sharper than
   * recall when the deployment only ever reads the first hit.
   * Returns (query_id, gold_id, gold_rank, mrr_fp).
   */
  def adcMrr(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int,
      iters: Int,
      nq: Int,
      topK: Int,
      quantScale: Int = 1000): DataFrame = {
    val (approx, exact) = adcAndExact(df, idCol, vecCol, dim, m, k, iters, nq, topK, quantScale)
    val gold = exact.where(col("rk") === 1).select(col("query_id"), col("vec_id").as("gold_id"))
    gold.join(approx,
        gold("query_id") === approx("query_id") && col("gold_id") === col("vec_id"),
        "left")
      .select(
        gold("query_id"), col("gold_id"),
        coalesce(col("rk"), lit(0)).cast("long").as("gold_rank"),
        when(col("rk").isNotNull, expr("10000L DIV rk")).otherwise(0L).as("mrr_fp"))
  }
}
