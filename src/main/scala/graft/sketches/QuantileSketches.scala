package graft.sketches

import java.util.Locale

import org.apache.datasketches.kll.KllFloatsSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantiles.{DoublesSketch, DoublesUnion, UpdateDoublesSketch}
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
import org.apache.datasketches.req.ReqSketch

/**
 * Quantile-sketch algorithm selector. Mirrors the reference's three
 * algorithms (reference: quantileSketches.scala:42-142):
 *   - KLL:        KllFloatsSketch, k default 200
 *   - REQ:        ReqSketch (relative-error, accurate at rank extremes), k default 12
 *   - MERGEABLE:  classic DoublesSketch, k default 128
 */
sealed abstract class QuantileAlgo(val name: String)
object QuantileAlgo {
  case object KLL extends QuantileAlgo("KLL")
  case object REQ extends QuantileAlgo("REQ")
  case object MERGEABLE extends QuantileAlgo("MERGEABLE")

  def fromString(s: String): QuantileAlgo = s.toUpperCase(Locale.ROOT) match {
    case "KLL" => KLL
    case "REQ" => REQ
    case "MERGEABLE" => MERGEABLE
    case other => throw new IllegalArgumentException(
      s"Unknown quantile sketch implementation: $other (expected KLL, REQ or MERGEABLE)")
  }
}

/**
 * Uniform facade over the three DataSketches quantile families, pure JVM
 * (no Spark dependency) so it is reusable from Catalyst expressions,
 * `Aggregator`s and streaming state alike.
 *
 * Semantics notes (both deliberate reference-compat choices):
 *   - All inputs are narrowed to Float before being fed to the sketch,
 *     regardless of the declared input type (reference:
 *     quantileSketches.scala:250-255).
 *   - Quantiles/PMF use the EXCLUSIVE search criterion, which matches the
 *     datasketches-java 2.x behavior the reference was built against
 *     (e.g. p0.5 of {0,1,2,10} = 2, see reference ApproximateQuerySuite
 *     expectations).
 *   - PMF split points are `i * (max-min)/numSplits` for i in 1..n-1 —
 *     NOT offset by the min value. This replicates a reference quirk
 *     (reference: quantileSketches.scala:100-104) for output compatibility;
 *     it only differs from equi-width-over-[min,max] buckets when min != 0.
 */
sealed trait QuantileSketchFacade {
  def algo: QuantileAlgo
  def isEmpty: Boolean
  def update(v: Float): Unit
  /** Merge `other` (must be the same algorithm) into this facade. */
  def merge(other: QuantileSketchFacade): Unit
  def quantiles(ranks: Array[Double]): Array[Double]
  def pmf(numSplits: Int): Array[Double]
  /** Cumulative ranks at the same (un-offset) split points as [[pmf]];
   *  the final element is always 1.0. */
  def cdf(numSplits: Int): Array[Double]
  /** PMF over EXPLICIT ascending split points (EXCLUSIVE criterion:
   *  bucket i is the mass in [split_{i-1}, split_i)), for histograms on
   *  FIXED bins that stay comparable across slices/sketches — unlike
   *  [[pmf]], whose data-dependent [min,max] bins differ per sketch. */
  def pmfAt(splits: Array[Double]): Array[Double]
  /** Normalized rank of `value` under the EXCLUSIVE criterion
   *  (= fraction of items strictly below `value`). */
  def rank(value: Double): Double
  /** (ascending retained quantiles, cumulative weights) from the sketch's
   *  sorted view, plus the total stream length; the ECDF inputs
   *  [[QuantileSketchFacade.ksDelta]] walks. Quantile values may repeat
   *  (one entry per retained item). */
  def sortedItems: (Array[Double], Array[Long], Long)
  def toBytes: Array[Byte]

  protected def splitPoints(min: Double, max: Double, numSplits: Int): Array[Double] = {
    val splitSize = (max - min) / numSplits
    (1 until numSplits).map(_ * splitSize).toArray
  }
}

object QuantileSketchFacade {
  private[sketches] val CRITERIA = QuantileSearchCriteria.EXCLUSIVE
  private val ReqSerVer: Byte = 1
  private val ReqFamilyId: Byte = 17
  private val ReqMaxK = 1024

  def create(algo: QuantileAlgo, k: Int): QuantileSketchFacade = algo match {
    case QuantileAlgo.KLL => new KllFacade(KllFloatsSketch.newHeapInstance(k), k)
    case QuantileAlgo.REQ => new ReqFacade(ReqSketch.builder().setK(k).build(), k)
    case QuantileAlgo.MERGEABLE =>
      new MergeableFacade(DoublesSketch.builder().setK(k).build(), k)
  }

  /** Deserialize a DataSketches byte image produced by [[QuantileSketchFacade.toBytes]]. */
  def fromBytes(algo: QuantileAlgo, k: Int, bytes: Array[Byte]): QuantileSketchFacade = {
    val mem = Memory.wrap(bytes)
    algo match {
      case QuantileAlgo.KLL => new KllFacade(KllFloatsSketch.heapify(mem), k)
      case QuantileAlgo.REQ =>
        checkReqImage(bytes)
        new ReqFacade(ReqSketch.heapify(mem), k)
      case QuantileAlgo.MERGEABLE =>
        new MergeableFacade(UpdateDoublesSketch.heapify(mem), k)
    }
  }

  /**
   * ReqSketch.heapify checks serial version and family only in asserts,
   * and trusts every count in the image: it allocates a float array of
   * each compactor's item count (and of its nominal capacity) before
   * reading a byte of it. So walk the layout first — an 8-byte header;
   * up to 255 raw items; or, with more than one compactor, 16 bytes of
   * n/min/max and then per compactor a 20-byte header (state, section
   * size, lgWeight, section count, pad, item count) and its items — and
   * reject any claim larger than the bytes left, or a section size above
   * the header's k or REQ's largest k (the capacity is 4 x section size
   * x sections).
   */
  private def checkReqImage(bytes: Array[Byte]): Unit = {
    require(bytes.length >= 8 && bytes(1) == ReqSerVer && bytes(2) == ReqFamilyId,
      "not a REQ sketch image")
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val flags = bytes(3) & 0xff
    val k = buf.getShort(4) & 0xffff
    val numCompactors = bytes(6) & 0xff
    var pos = 8L
    def take(n: Long): Unit = {
      require(n >= 0 && n <= bytes.length - pos, "truncated REQ sketch image")
      pos += n
    }
    def compactor(): Unit = {
      take(20)
      val at = (pos - 20).toInt
      require(math.round(buf.getFloat(at + 8)) <= math.min(k, ReqMaxK),
        "corrupt REQ sketch image")
      take(4L * buf.getInt(at + 16))
    }
    if (numCompactors > 1) {
      take(16)
      (0 until numCompactors).foreach(_ => compactor())
    } else if ((flags & 4) == 0) { // not empty
      if ((flags & 16) != 0) take(4L * (bytes(7) & 0xff)) // raw items
      else compactor()
    }
  }

  /**
   * Two-sample Kolmogorov–Smirnov distance between two sketched
   * distributions: `max over v of |F_a(v) - F_b(v)|` where `F` is the
   * INCLUSIVE empirical CDF (fraction of items <= v), evaluated at every
   * retained quantile of either sketch. While both sketches are in their
   * exact (pre-compaction) regime this IS the exact two-sample KS
   * statistic; afterwards it is the natural plug-in estimate over the
   * retained items (the same evaluation points datasketches'
   * `KolmogorovSmirnov.computeKSDelta` uses). Implemented as an explicit
   * merge-walk — rather than delegating to `computeKSDelta` — so the
   * arithmetic (`cumWeight/n` double division at each distinct value) is
   * bit-reproducible against an exact SQL ECDF oracle.
   *
   * BEYOND the reference surface (it stops at quantile/PMF estimates);
   * the drift-monitoring primitive a continuously-ingested corpus needs:
   * per-slice sketches roll up mergeably, and KS between any two rollups
   * costs O(retained) on the driver with zero re-reads.
   */
  def ksDelta(a: QuantileSketchFacade, b: QuantileSketchFacade): Double = {
    val (qa, ca, naL) = a.sortedItems
    val (qb, cb, nbL) = b.sortedItems
    val na = naL.toDouble
    val nb = nbL.toDouble
    var i = 0
    var j = 0
    var delta = 0.0
    while (i < qa.length || j < qb.length) {
      val v =
        if (j >= qb.length || (i < qa.length && qa(i) <= qb(j))) qa(i) else qb(j)
      while (i < qa.length && qa(i) == v) i += 1
      while (j < qb.length && qb(j) == v) j += 1
      val fa = if (i == 0) 0.0 else ca(i - 1).toDouble / na
      val fb = if (j == 0) 0.0 else cb(j - 1).toDouble / nb
      val d = math.abs(fa - fb)
      if (d > delta) delta = d
    }
    delta
  }

  /**
   * 1-Wasserstein (earth mover's) distance between two sketched
   * distributions: `integral |F_a(x) - F_b(x)| dx` over the merged
   * retained support — the ECDFs are step functions, so the integral is
   * the exact sum `sum_i |F_a(v_i) - F_b(v_i)| * (v_{i+1} - v_i)` over
   * ascending distinct retained values. The magnitude-sensitive
   * companion to [[ksDelta]] (KS says the distributions differ; EMD says
   * by HOW MUCH in value units — a whole-corpus doc-length shift moves
   * EMD proportionally but barely moves KS). Same walk, same exactness
   * regime, same inclusive-ECDF arithmetic. Terms accumulate in
   * ascending-v order (deterministic; a cross-engine check should round
   * to ~6 dp to absorb summation-order ulps).
   */
  def emdDelta(a: QuantileSketchFacade, b: QuantileSketchFacade): Double = {
    val (qa, ca, naL) = a.sortedItems
    val (qb, cb, nbL) = b.sortedItems
    val na = naL.toDouble
    val nb = nbL.toDouble
    var i = 0
    var j = 0
    var emd = 0.0
    var havePrev = false
    var prevV = 0.0
    var prevGap = 0.0
    while (i < qa.length || j < qb.length) {
      val v =
        if (j >= qb.length || (i < qa.length && qa(i) <= qb(j))) qa(i) else qb(j)
      if (havePrev) emd += prevGap * (v - prevV)
      while (i < qa.length && qa(i) == v) i += 1
      while (j < qb.length && qb(j) == v) j += 1
      val fa = if (i == 0) 0.0 else ca(i - 1).toDouble / na
      val fb = if (j == 0) 0.0 else cb(j - 1).toDouble / nb
      prevGap = math.abs(fa - fb)
      prevV = v
      havePrev = true
    }
    emd
  }
}

private final class KllFacade(var impl: KllFloatsSketch, k: Int) extends QuantileSketchFacade {
  import QuantileSketchFacade.CRITERIA
  override def algo: QuantileAlgo = QuantileAlgo.KLL
  override def isEmpty: Boolean = impl.isEmpty
  override def update(v: Float): Unit = impl.update(v)
  override def merge(other: QuantileSketchFacade): Unit =
    impl.merge(other.asInstanceOf[KllFacade].impl)
  override def quantiles(ranks: Array[Double]): Array[Double] =
    impl.getQuantiles(ranks, CRITERIA).map(_.toDouble)
  override def pmf(numSplits: Int): Array[Double] = {
    val sp = splitPoints(impl.getMinItem.toDouble, impl.getMaxItem.toDouble, numSplits)
    impl.getPMF(sp.map(_.toFloat), CRITERIA)
  }
  override def cdf(numSplits: Int): Array[Double] = {
    val sp = splitPoints(impl.getMinItem.toDouble, impl.getMaxItem.toDouble, numSplits)
    impl.getCDF(sp.map(_.toFloat), CRITERIA)
  }
  override def rank(value: Double): Double = impl.getRank(value.toFloat, CRITERIA)
  override def pmfAt(splits: Array[Double]): Array[Double] =
    impl.getPMF(splits.map(_.toFloat), CRITERIA)
  override def sortedItems: (Array[Double], Array[Long], Long) = {
    val sv = impl.getSortedView
    (sv.getQuantiles.map(_.toDouble), sv.getCumulativeWeights, impl.getN)
  }
  override def toBytes: Array[Byte] = impl.toByteArray
}

private final class ReqFacade(var impl: ReqSketch, k: Int) extends QuantileSketchFacade {
  import QuantileSketchFacade.CRITERIA
  override def algo: QuantileAlgo = QuantileAlgo.REQ
  override def isEmpty: Boolean = impl.isEmpty
  override def update(v: Float): Unit = impl.update(v)
  override def merge(other: QuantileSketchFacade): Unit =
    impl.merge(other.asInstanceOf[ReqFacade].impl)
  override def quantiles(ranks: Array[Double]): Array[Double] =
    impl.getQuantiles(ranks, CRITERIA).map(_.toDouble)
  override def pmf(numSplits: Int): Array[Double] = {
    val sp = splitPoints(impl.getMinItem.toDouble, impl.getMaxItem.toDouble, numSplits)
    impl.getPMF(sp.map(_.toFloat), CRITERIA)
  }
  override def cdf(numSplits: Int): Array[Double] = {
    val sp = splitPoints(impl.getMinItem.toDouble, impl.getMaxItem.toDouble, numSplits)
    impl.getCDF(sp.map(_.toFloat), CRITERIA)
  }
  override def rank(value: Double): Double = impl.getRank(value.toFloat, CRITERIA)
  override def pmfAt(splits: Array[Double]): Array[Double] =
    impl.getPMF(splits.map(_.toFloat), CRITERIA)
  override def sortedItems: (Array[Double], Array[Long], Long) = {
    val sv = impl.getSortedView
    (sv.getQuantiles.map(_.toDouble), sv.getCumulativeWeights, impl.getN)
  }
  override def toBytes: Array[Byte] = impl.toByteArray
}

private final class MergeableFacade(var impl: UpdateDoublesSketch, k: Int)
  extends QuantileSketchFacade {
  import QuantileSketchFacade.CRITERIA
  override def algo: QuantileAlgo = QuantileAlgo.MERGEABLE
  override def isEmpty: Boolean = impl.isEmpty
  override def update(v: Float): Unit = impl.update(v.toDouble)
  override def merge(other: QuantileSketchFacade): Unit = {
    val union = DoublesUnion.builder().setMaxK(k).build()
    union.union(impl)
    union.union(other.asInstanceOf[MergeableFacade].impl)
    impl = union.getResult
  }
  override def quantiles(ranks: Array[Double]): Array[Double] =
    impl.getQuantiles(ranks, CRITERIA)
  override def pmf(numSplits: Int): Array[Double] = {
    val sp = splitPoints(impl.getMinItem, impl.getMaxItem, numSplits)
    impl.getPMF(sp, CRITERIA)
  }
  override def cdf(numSplits: Int): Array[Double] = {
    val sp = splitPoints(impl.getMinItem, impl.getMaxItem, numSplits)
    impl.getCDF(sp, CRITERIA)
  }
  override def rank(value: Double): Double = impl.getRank(value, CRITERIA)
  override def pmfAt(splits: Array[Double]): Array[Double] =
    impl.getPMF(splits, CRITERIA)
  override def sortedItems: (Array[Double], Array[Long], Long) = {
    val sv = impl.getSortedView
    (sv.getQuantiles, sv.getCumulativeWeights, impl.getN)
  }
  override def toBytes: Array[Byte] = impl.toByteArray
}
