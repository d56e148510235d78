package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NearestCells
import org.apache.spark.sql.types._

/**
 * [[Similarity.kmeansCentroids]] run on the driver, for a corpus that fits
 * `spark.sql.autoBroadcastJoinThreshold`: two jobs in all (a size and
 * validity check, then one collect) instead of a broadcast, a join and
 * two aggregations per Lloyd round, which on a small corpus cost far more
 * in per-job latency than the data does.
 *
 * It gives the distributed plan's centroids bit for bit: the same seeds
 * (Spark computes the two `xxhash64` keys in the collect), the same
 * assignment ([[NearestCells.nearest]] is the routine behind
 * `graft_nearest_cells`) and the same means, taken with Spark's `Decimal`
 * step by step. A cell with no members, or whose members are all empty,
 * drops out, as in the distributed plan.
 *
 * Only the centroids outlive the rounds. Centroids are held by ascending
 * cell. That order matters only where a zero-norm centroid makes scores
 * NaN and the nearest-cell order partial (see [[NearestCells.nearest]]);
 * the distributed plan then follows the order in which its aggregation
 * collects the centroids.
 */
private[graft] final class LocalKmeans private (
    spark: SparkSession,
    vecType: DataType,
    cells: Array[Long],
    cents: Array[Array[Double]],
    iters: Int) {

  /** The centroids as a local relation `(cell, centroid)`, typed as the
   *  distributed plan types them. */
  def centroids: DataFrame = {
    val schema = StructType(Seq(
      StructField("cell", LongType),
      StructField("centroid", if (iters > 0) ArrayType(DoubleType) else vecType)))
    spark.createDataFrame(centroidRows.asJava, schema)
  }

  /** [[Similarity.packedCentroids]] of [[centroids]], packed here: a
   *  one-row local relation, so no job builds it. */
  def packed: DataFrame =
    spark.createDataFrame(
      java.util.List.of(Row(centroidRows)), Similarity.packedCentroids(centroids).schema)

  private def centroidRows: Seq[Row] = cells.indices.map(i => Row(cells(i), cents(i).toSeq))
}

private[graft] object LocalKmeans {

  /** Every element must cast to decimal(28,18) without overflow. */
  private val MaxAbs = 1e9

  /**
   * The driver-local k-means of `corpus`, or `None` when the distributed
   * plan must run: the broadcast threshold is off, `nlist < 1`, the
   * vectors are not `array<double>`, the corpus is over
   * [[charge]] bytes, or a vector is null or holds a null,
   * NaN, infinite or out-of-range element (so Spark keeps owning those
   * errors and nulls). It also declines when a round leaves a non-empty
   * corpus with no centroid, where the distributed assignment reads past
   * an empty array. `corpus` is read twice: cache it first when its plan
   * is expensive.
   */
  def apply(corpus: DataFrame, vecCol: String, nlist: Int, iters: Int): Option[LocalKmeans] = {
    val bcThresh = broadcastThreshold(corpus)
    val vecType = corpus.schema(vecCol).dataType
    // the means below assume the (38,18) quotient type of the default rule
    val eligible = bcThresh > 0 && nlist >= 1 && (vecType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }) && corpus.sparkSession.conf
      .get("spark.sql.decimalOperations.allowPrecisionLoss", "true").toBoolean
    if (!eligible || charge(corpus, vecCol) > bcThresh) return None
    val (vecs, seeds) = collect(corpus, vecCol, nlist)
    var cells = Array.tabulate(seeds.length)(i => i + 1L)
    var cents = seeds.map(vecs)
    for (_ <- 0 until iters) {
      val (c, m) = lloydRound(vecs, cells, cents)
      cells = c
      cents = m
      if (cents.isEmpty && vecs.nonEmpty) return None
    }
    Some(new LocalKmeans(corpus.sparkSession, vecType, cells, cents, iters))
  }

  /**
   * What the rounds hold on the driver, in bytes: `rows * 24 + elements * 8`,
   * the vectors as primitive arrays. Long.MaxValue when a vector is null
   * or holds an element that is null, not finite or not under [[MaxAbs]].
   * One job; each partition sums its own rows, so nothing is shuffled.
   * The collect briefly holds Spark's collected rows beside the arrays,
   * about twice this.
   */
  private[graft] def charge(corpus: DataFrame, vecCol: String): Long = {
    import corpus.sparkSession.implicits._
    val v = col(vecCol)
    val valid = coalesce(forall(v, x => x.isNotNull && !isnan(x) && abs(x) < MaxAbs), lit(false))
    val parts = corpus.select(coalesce(size(v), lit(0)), valid).as[(Int, Boolean)]
      .mapPartitions { rs =>
        var bytes = 0L
        var ok = true
        rs.foreach { case (n, fine) => bytes += 24L + 8L * n; ok &&= fine }
        Iterator((bytes, ok))
      }.collect()
    if (parts.forall(_._2)) parts.map(_._1).sum else Long.MaxValue
  }

  /** One job: every vector as a primitive array, and the indices of the
   *  seeds, the `nlist` smallest `(h, s)` hash keys in that order. */
  private[graft] def collect(
      corpus: DataFrame,
      vecCol: String,
      nlist: Int): (Array[Array[Double]], Array[Int]) = {
    import corpus.sparkSession.implicits._
    val v = col(vecCol)
    val strs = v.cast("array<string>")
    val rows = corpus.select(v, xxhash64(strs), xxhash64(lit(1), strs))
      .as[(Array[Double], Long, Long)].collect()
    val seeds = rows.indices.sortBy(i => (rows(i)._2, rows(i)._3)).take(nlist).toArray
    (rows.map(_._1), seeds)
  }

  /** One Lloyd round: assign each vector, then each surviving cell's mean
   *  per position, as the distributed round computes
   *  `(sum(x.cast(decimal(28,18))) / count).cast(double)`. */
  private def lloydRound(
      vecs: Array[Array[Double]],
      cells: Array[Long],
      cents: Array[Array[Double]]): (Array[Long], Array[Array[Double]]) = {
    val sums = Array.fill(cells.length)(mutable.ArrayBuffer.empty[java.math.BigDecimal])
    val counts = Array.fill(cells.length)(mutable.ArrayBuffer.empty[Long])
    vecs.foreach { xs =>
      val c = java.util.Arrays.binarySearch(cells, NearestCells.nearest(xs, cells, cents, 1)(0))
      var j = 0
      while (j < xs.length) {
        // the cast: decimal(28,18), HALF_UP
        val d = Decimal(xs(j))
        d.changePrecision(28, 18)
        val x = d.toJavaBigDecimal
        if (j == sums(c).length) {
          sums(c) += x
          counts(c) += 1L
        } else {
          sums(c)(j) = sums(c)(j).add(x) // exact, as Spark's decimal sum
          counts(c)(j) += 1L
        }
        j += 1
      }
    }
    val live = cells.indices.filter(c => sums(c).nonEmpty)
    val means = live.map { c =>
      Array.tabulate[Double](sums(c).length) { j =>
        // sum: decimal(38,18); / count: Spark's quotient, then HALF_UP to
        // the (38,18) result type
        val m = Decimal(sums(c)(j), 38, 18) / Decimal(counts(c)(j))
        m.changePrecision(38, 18)
        m.toDouble
      }
    }
    (live.map(cells).toArray, means.toArray)
  }
}
