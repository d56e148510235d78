package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * Distributed k-means clustering of embedding columns — the grouping
 * stage of SemDeDup-style semantic dedup (cluster, then near-dup only
 * within clusters) and of domain-balancing pipelines (cluster, then
 * sample per cluster).
 *
 * Design for 100 TB:
 *  - Lloyd iterations are pure DataFrame aggregations: assignment is a
 *    stateless projection against BROADCAST centroid literals (k*d
 *    doubles baked into the plan — no join, no shuffle of the corpus),
 *    and the centroid update is one `posexplode` + groupBy(cluster, dim)
 *    shuffle of k*d partial sums with map-side combine. One trainer
 *    ([[train]]) fits every codebook a call needs — product
 *    quantization's m subspace codebooks and IVF-PQ's coarse quantizer
 *    ([[Pq]]) — in the same rounds: the views add a `view` key to the
 *    shuffle, not jobs. The corpus is never collected; the driver holds
 *    only the centroid matrices per iteration (the same bounded-scalar
 *    contract as the IVF probe-set collect, `IvfIndex.scala`).
 *  - DETERMINISTIC REPLAY: vectors are quantized to an integer lattice
 *    (`round(x * quantScale)`), centroid updates use the floor of the
 *    per-cluster mean, and ties in the argmin break toward the smallest
 *    seed id. Every quantity is then an integer-valued double (exact in
 *    FP regardless of partitioning or summation order), so cluster
 *    assignments are bit-reproducible across engines, run-to-run, and
 *    at any parallelism — the property the duckdb oracle (q122) pins.
 *    Seeding is the k lowest-id vectors: reproducible without an RNG.
 *    The lattice spacing (1/quantScale of the embedding scale) is far
 *    below any plausible cluster separation, so assignments match
 *    float k-means everywhere except exact decision boundaries.
 */
object Clustering {

  /** A k-means codebook: (seed label, centroid), id-ascending. */
  private[operators] type Codebook = Seq[(Long, Array[Double])]

  /** A codebook of `k` centroids over dims [off, off+len) of `v`, or all of `v` if `len < 0`. */
  private[operators] final case class View(k: Int, off: Int = 0, len: Int = -1) {
    def of(v: Column): Column = if (len < 0) v else slice(v, off + 1, len)
    def of(v: Array[Double]): Array[Double] = if (len < 0) v else v.slice(off, off + len)

    /** Nearest-centroid label of this view of `v`, a slice bound once per row. */
    def label(v: Column, cents: Codebook): Column =
      if (len < 0) nearest(v, cents) else boundOnce(of(v))(nearest(_, cents))
  }

  /** Squared L2 distance to a centroid literal, sequential over dims. */
  private[operators] def sqDist(v: Column, cent: Array[Double]): Column =
    aggregate(
      zip_with(v, typedlit(cent.toSeq), (a, b) => (a - b) * (a - b)),
      lit(0.0d),
      (acc, x) => acc + x)

  /** Distances from `v` to every centroid, in codebook order. */
  private def sqDists(v: Column, cents: Codebook): Column =
    array(cents.map { case (_, c) => sqDist(v, c) }: _*)

  /** 1-based position of the first minimum: ties go to the lower seed id. */
  private def argmin(dists: Column): Column =
    array_position(dists, array_min(dists)).cast("int")

  /** Nearest-centroid label of `v`: a pure projection against centroid
   *  literals, no join and no shuffle. */
  private[operators] def nearest(v: Column, cents: Codebook): Column =
    element_at(typedlit(cents.map(_._1)), argmin(sqDists(v, cents)))

  /**
   * Assign every row to the nearest of `k` centroids after `iters`
   * Lloyd updates from the deterministic seed (the `k` lowest-id rows).
   * Returns (id, cluster) where cluster is the SEED id of the centroid
   * lineage (stable labels even if a cluster empties out).
   */
  def kmeansAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      quantScale: Int = 1000): DataFrame = {
    val q = quantized(df, idCol, vecCol, quantScale)
    val (Seq(cents), _) = train(q, Seq(View(k)), iters)
    q.select(col("id"), nearest(col("v"), cents).as("cluster"))
  }

  /** Project to (id, v) on the integer lattice — the trainer's input. */
  private[operators] def quantized(
      df: DataFrame, idCol: String, vecCol: String, quantScale: Int): DataFrame =
    df.select(
      col(idCol).as("id"),
      transform(col(vecCol), x => round(x.cast("double") * quantScale).cast("double"))
        .as("v"))

  /**
   * Deterministic Lloyd training of every view's codebook over a quantized
   * (id, v) frame. One collect seeds each view with its k lowest-id rows
   * and also returns the `nLowest` lowest-id rows (a query batch). Each
   * round is one groupBy(view, cluster, dim) shuffle of partial sums,
   * however many views; centroid = floor of the per-cluster mean (stays on
   * the lattice), and a cluster no row picks drops out.
   */
  private[operators] def train(
      q: DataFrame,
      views: Seq[View],
      iters: Int,
      nLowest: Int = 0): (Seq[Codebook], Seq[(Long, Array[Double])]) = {
    require(views.forall(_.k >= 1) && iters >= 0, "k >= 1, iters >= 0")
    val lowest = q.orderBy("id").limit((nLowest +: views.map(_.k)).max).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    var books: Seq[Codebook] = views.map(w => lowest.take(w.k).map { case (id, v) => (id, w.of(v)) })
    for (_ <- 1 to iters) {
      val parts = views.zip(books).zipWithIndex.map { case ((view, cents), i) =>
        struct(lit(i).as("view"), view.label(col("v"), cents).as("cluster"),
          view.of(col("v")).as("xs"))
      }
      val byView = q.select(inline(array(parts: _*)))
        .select(col("view"), col("cluster"), posexplode(col("xs")).as(Seq("dim", "x")))
        .groupBy("view", "cluster", "dim")
        .agg(sum("x").as("s"), count(lit(1)).as("n"))
        .select(col("view"), col("cluster"), col("dim"),
          floor(col("s") / col("n")).cast("double").as("c"))
        .collect().groupBy(_.getInt(0))
      books = views.indices.map { i =>
        byView.getOrElse(i, Array.empty[Row]).toSeq.groupBy(_.getLong(1)).map { case (cl, rows) =>
          val c = new Array[Double](rows.map(_.getInt(2)).max + 1)
          rows.foreach(r => c(r.getInt(2)) = r.getDouble(3))
          (cl, c)
        }.toSeq.sortBy(_._1)
      }
    }
    (books, lowest.take(nLowest))
  }

  /**
   * Simplified (centroid-based) silhouette per cluster: for each row,
   * `a` = squared lattice distance to its own centroid, `b` = the
   * nearest OTHER centroid, `s = (b - a)/max(a, b)` in 1e4 fixed point
   * (non-negative by construction — `a` is the argmin). High mean
   * silhouette = tight, well-separated cluster; near zero = the cluster
   * boundary cuts through a blob and per-cluster curation decisions
   * (SemDeDup radii, per-cluster sampling quotas) are noise. The
   * O(n·k) centroid form of the O(n²) full silhouette — the only one
   * that exists at 100 TB.
   *
   * Determinism: distances are exact integer-valued doubles on the
   * quantized lattice, so `s_fp` is one integer floor division; the
   * per-cluster mean is floor(Σs/n). Scale shape: one stateless
   * projection against broadcast centroid literals + one k-group
   * aggregate. Output: (cluster, n, mean_sil_fp).
   */
  def silhouetteProfile(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      quantScale: Int = 1000): DataFrame = {
    val q = quantized(df, idCol, vecCol, quantScale)
    val (Seq(cents), _) = train(q, Seq(View(k)), iters)
    q.withColumn("dists", sqDists(col("v"), cents))
      .withColumn("pos", argmin(col("dists")))
      .withColumn("cluster", element_at(typedlit(cents.map(_._1)), col("pos")))
      .withColumn("a", element_at(col("dists"), col("pos")))
      // b = nearest OTHER centroid (filter by index); null when k = 1
      .withColumn("b",
        array_min(filter(col("dists"), (_, i) => i =!= col("pos") - 1)))
      .withColumn("s_fp",
        when(col("b").isNotNull && greatest(col("a"), col("b")) > 0,
          expr("(CAST(b - a AS BIGINT) * 10000L) DIV CAST(greatest(a, b) AS BIGINT)"))
          .otherwise(0L))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), sum(col("s_fp")).as("ssum"))
      .select(col("cluster"), col("n"),
        expr("ssum DIV n").as("mean_sil_fp"))
  }

  /**
   * Per-cluster sizes and within-cluster mean squared distance — the
   * SSE/k diagnostic for choosing k. Same determinism contract.
   */
  def kmeansProfile(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      quantScale: Int = 1000): DataFrame = {
    val a = kmeansAssign(df, idCol, vecCol, k, iters, quantScale)
    a.groupBy("cluster").agg(count(lit(1)).as("n_members"))
      .orderBy("cluster")
  }
}
