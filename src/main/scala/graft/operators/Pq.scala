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
 *  - Codebook training reuses [[Clustering.trainCentroids]] per block:
 *    each Lloyd round is one shuffle of k*sub partial sums regardless of
 *    corpus size, and the driver holds only m*k*sub doubles. (In a real
 *    deployment you train on a sample; the contract is identical.)
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

  /** Codebook for one subspace: (seed label, centroid), id-ascending. */
  type Codebook = Seq[(Long, Array[Double])]

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
      quantScale: Int = 1000): Seq[Codebook] = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must be divisible by m=$m")
    val sub = dim / m
    withCached(Clustering.quantized(df, idCol, vecCol, quantScale)) { q =>
      (0 until m).map { b =>
        val qb = q.select(col("id"), slice(col("v"), b * sub + 1, sub).as("v"))
        Clustering.trainCentroids(qb, k, iters)
      }
    }
  }

  /** Nearest-codeword label for one block, as a single-pass expression. */
  private def blockCode(v: Column, off: Int, sub: Int, cents: Codebook): Column =
    boundOnce(slice(v, off + 1, sub)) { vb =>
      val dists = array(cents.map { case (_, c) =>
        aggregate(
          zip_with(vb, typedlit(c.toSeq), (a, x) => (a - x) * (a - x)),
          lit(0.0d), (acc, x) => acc + x)
      }: _*)
      element_at(typedlit(cents.map(_._1)),
        array_position(dists, array_min(dists)).cast("int"))
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
      quantScale: Int = 1000): DataFrame = {
    val books = trainCodebooks(df, idCol, vecCol, dim, m, k, iters, quantScale)
    encodeWith(df, idCol, vecCol, dim, books, quantScale)
  }

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
    val sub = dim / m
    val q = Clustering.quantized(df, idCol, vecCol, quantScale)
    books.zipWithIndex.foldLeft(q) { case (acc, (cents, b)) =>
      acc.withColumn(s"code_$b", blockCode(col("v"), b * sub, sub, cents))
    }.drop("v")
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
      quantScale: Int = 1000): DataFrame = {
    val sub = dim / m
    val books = trainCodebooks(df, idCol, vecCol, dim, m, k, iters, quantScale)

    // query batch: nq quantized vectors to the driver (nq*dim doubles)
    val queries = Clustering.quantized(df, idCol, vecCol, quantScale)
      .orderBy("id").limit(nq).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

    val coded = encodeWith(df, idCol, vecCol, dim, books, quantScale)

    // per (query, block) distance table, computed driver-side: all values
    // are sums of squares of lattice integers — exact in Double
    def adcExpr(qv: Array[Double]): Column =
      books.zipWithIndex.map { case (cents, b) =>
        val table = cents.map { case (label, c) =>
          label -> c.indices.map { i =>
            val dlt = qv(b * sub + i) - c(i); dlt * dlt
          }.sum
        }.toMap
        element_at(typedlit(table), col(s"code_$b"))
      }.reduce(_ + _)

    // one generator per corpus row fans out all nq query scores in a
    // single scan of the codes; no join
    val scored = coded.select(
      col("id").as("vec_id"),
      inline(array(queries.map { case (qid, qv) =>
        struct(lit(qid).as("query_id"), adcExpr(qv).as("adc"))
      }: _*)))

    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("vec_id"))
    scored.where(col("vec_id") =!= col("query_id"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= topK)
      .select(col("query_id"), col("vec_id"), col("adc").cast("long").as("adc"), col("rk"))
  }

  /**
   * IVF-PQ: coarse-quantize the corpus into `coarseK` cells (same
   * deterministic Lloyd, full vectors), PQ-encode every row, and answer
   * each query by ADC over ONLY its `nprobe` nearest cells. At 100 TB
   * the codes live parquet-partitioned by cell (the [[IvfIndex]] layout)
   * and the per-query `cell IN (probes)` predicate becomes partition
   * pruning — a query batch physically reads ~nprobe/coarseK of an
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
      quantScale: Int = 1000): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must be divisible by m=$m")
    require(nprobe >= 1 && nprobe <= coarseK, "1 <= nprobe <= coarseK")
    val sub = dim / m
    val (coarse, books, queries) =
      withCached(Clustering.quantized(df, idCol, vecCol, quantScale)) { q =>
        val coarse = Clustering.trainCentroids(q, coarseK, iters)
        val books = (0 until m).map { b =>
          Clustering.trainCentroids(
            q.select(col("id"), slice(col("v"), b * sub + 1, sub).as("v")), k, iters)
        }
        val queries = q.orderBy("id").limit(nq).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        (coarse, books, queries)
      }

    // cell + codes in ONE projection (all centroid literals in-plan)
    val coded = books.zipWithIndex.foldLeft(
      Clustering.assignToCentroids(
        Clustering.quantized(df, idCol, vecCol, quantScale), coarse)
        .withColumnRenamed("cluster", "cell")) { case (acc, (cents, b)) =>
      acc.withColumn(s"code_$b", blockCode(col("v"), b * sub, sub, cents))
    }.drop("v")

    def sqTo(qv: Array[Double], c: Array[Double]): Double =
      c.indices.map { i => val dlt = qv(i) - c(i); dlt * dlt }.sum

    // per-query probe set: nprobe nearest coarse cells, ties to the
    // lower cell label — driver-side (nq * coarseK distances)
    def probes(qv: Array[Double]): Seq[Long] =
      coarse.map { case (label, c) => (sqTo(qv, c), label) }
        .sortBy(identity).take(nprobe).map(_._2)

    def adcExpr(qv: Array[Double]): Column =
      books.zipWithIndex.map { case (cents, b) =>
        val table = cents.map { case (label, c) =>
          label -> c.indices.map { i =>
            val dlt = qv(b * sub + i) - c(i); dlt * dlt
          }.sum
        }.toMap
        element_at(typedlit(table), col(s"code_$b"))
      }.reduce(_ + _)

    // un-probed cells yield a null adc and drop out — with a by-cell
    // partitioned layout this same predicate prunes whole files
    val scored = coded.select(
      col("id").as("vec_id"),
      inline(array(queries.map { case (qid, qv) =>
        struct(
          lit(qid).as("query_id"),
          when(col("cell").isin(probes(qv): _*), adcExpr(qv)).as("adc"))
      }: _*)))

    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("vec_id"))
    scored.where(col("adc").isNotNull && col("vec_id") =!= col("query_id"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= topK)
      .select(col("query_id"), col("vec_id"), col("adc").cast("long").as("adc"), col("rk"))
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
    val approx = adcSearch(df, idCol, vecCol, dim, m, k, iters, nq, topK, quantScale)
      .select(col("query_id"), col("vec_id"))

    val q = Clustering.quantized(df, idCol, vecCol, quantScale)
    val queries = q.orderBy("id").limit(nq).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def exactExpr(qv: Array[Double]): Column =
      aggregate(
        zip_with(col("v"), typedlit(qv.toSeq), (a, x) => (a - x) * (a - x)),
        lit(0.0d), (acc, x) => acc + x)
    val exact = q.select(
      col("id").as("vec_id"),
      inline(array(queries.map { case (qid, qv) =>
        struct(lit(qid).as("query_id"), exactExpr(qv).as("dist"))
      }: _*)))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("dist"), col("vec_id"))))
      .where(col("rk") <= topK)
      .select(col("query_id"), col("vec_id"))

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
    val approx = adcSearch(df, idCol, vecCol, dim, m, k, iters, nq, topK, quantScale)
      .select(col("query_id"), col("vec_id"), col("rk"))

    val q = Clustering.quantized(df, idCol, vecCol, quantScale)
    val queries = q.orderBy("id").limit(nq).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def exactExpr(qv: Array[Double]): Column =
      aggregate(
        zip_with(col("v"), typedlit(qv.toSeq), (a, x) => (a - x) * (a - x)),
        lit(0.0d), (acc, x) => acc + x)
    val gold = q.select(
      col("id").as("gold_id"),
      inline(array(queries.map { case (qid, qv) =>
        struct(lit(qid).as("query_id"), exactExpr(qv).as("dist"))
      }: _*)))
      .where(col("gold_id") =!= col("query_id"))
      .withColumn("rk1", row_number().over(
        Window.partitionBy("query_id").orderBy(col("dist"), col("gold_id"))))
      .where(col("rk1") === 1)
      .select(col("query_id"), col("gold_id"))

    gold.join(approx,
        gold("query_id") === approx("query_id") && col("gold_id") === col("vec_id"),
        "left")
      .select(
        gold("query_id"), col("gold_id"),
        coalesce(col("rk"), lit(0)).cast("long").as("gold_rank"),
        when(col("rk").isNotNull, expr("10000L DIV rk")).otherwise(0L).as("mrr_fp"))
  }
}
