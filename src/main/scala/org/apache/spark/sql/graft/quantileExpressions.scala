/**
 * Quantile-sketch SQL functions: the `approx_percentile_ex` family.
 *
 * Re-expression of the reference plugin's quantile surface
 * (reference: quantileSketches.scala) on Spark 4.1, built over
 * [[graft.sketches.QuantileSketchFacade]]. Three-phase Snowflake-style
 * lifecycle: `_accumulate` (rows -> serialized sketch), `_combine`
 * (sketches -> merged sketch), `_estimate` / `approx_pmf_estimate`
 * (sketch -> values), plus one-shot aggregates.
 *
 * Sketch parameters (algo, k) are resolved ONCE at expression creation on
 * the driver and frozen into the plan; executors never consult conf (the
 * reference re-reads SQLConf on executors: quantileSketches.scala:52-62).
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.conf.GraftConf
import graft.sketches.{QuantileAlgo, QuantileSketchFacade}

/** KLL / REQ / classic-mergeable quantile sketches over numerics narrowed
 *  to float, as in the reference (quantileSketches.scala:250-255). The
 *  one-shot's output preserves the input type (quantileSketches.scala:160-211). */
private[graft] case class QuantileFamily(algoName: String, k: Int)
  extends PercentileOneShot[QuantileSketchFacade] {

  @transient private lazy val algo = QuantileAlgo.fromString(algoName)

  override def label: String = s"$algoName quantile sketch"
  override def create(): QuantileSketchFacade = QuantileSketchFacade.create(algo, k)
  override def merge(buf: QuantileSketchFacade, other: QuantileSketchFacade): Unit =
    buf.merge(other)
  override def toBytes(buf: QuantileSketchFacade): Array[Byte] = buf.toBytes
  override def fromBytes(bytes: Array[Byte]): QuantileSketchFacade =
    QuantileSketchFacade.fromBytes(algo, k, bytes)

  override def inputTypes: Seq[AbstractDataType] = Seq(NumericType)
  override def updater(types: Seq[DataType]): (QuantileSketchFacade, Any, Any) => Unit = {
    val toFloat: Any => Float = types.head match {
      case ByteType => v => v.asInstanceOf[Byte].toFloat
      case ShortType => v => v.asInstanceOf[Short].toFloat
      case IntegerType => v => v.asInstanceOf[Int].toFloat
      case LongType => v => v.asInstanceOf[Long].toFloat
      case FloatType => v => v.asInstanceOf[Float]
      case DoubleType => v => v.asInstanceOf[Double].toFloat
      case _: DecimalType => v => v.asInstanceOf[Decimal].toFloat
      case t => throw new IllegalStateException(s"Unexpected data type ${t.catalogString}")
    }
    (buf, v, _) => buf.update(toFloat(v))
  }

  override protected def valueType(column: DataType): DataType = column
  override protected def isEmpty(buf: QuantileSketchFacade): Boolean = buf.isEmpty
  override protected def quantiles(
      column: DataType): (QuantileSketchFacade, Array[Double]) => Array[Any] = {
    val fromDouble: Double => Any = column match {
      case ByteType => v => v.toByte
      case ShortType => v => v.toShort
      case IntegerType => v => v.toInt
      case LongType => v => v.toLong
      case FloatType => v => v.toFloat
      case DoubleType => v => v
      case d: DecimalType => v => {
        val dec = Decimal(v)
        if (!dec.changePrecision(d.precision, d.scale)) {
          throw new IllegalStateException(
            s"Cannot represent quantile as decimal(${d.precision},${d.scale})")
        }
        dec
      }
      case t => throw new IllegalStateException(s"Unexpected data type ${t.catalogString}")
    }
    (buf, ranks) => buf.quantiles(ranks).map(fromDouble)
  }

  // the estimate is always DOUBLE, so only a DOUBLE one-shot matches it
  override def estimateFromSketch(sketch: Expression, args: Seq[Expression]): Option[Expression] =
    Some(ApproxPercentileEstimate(sketch, args(1), this))
}

private[graft] object QuantileFamily {
  /** The family of `algoName` with its k from the session conf. */
  def forAlgo(algoName: String): QuantileFamily = {
    val algo = QuantileAlgo.fromString(algoName)
    val k = algo match {
      case QuantileAlgo.KLL => GraftConf.quantileKllK
      case QuantileAlgo.REQ => GraftConf.quantileReqK
      case QuantileAlgo.MERGEABLE => GraftConf.quantileMergeableK
    }
    QuantileFamily(algo.name, k)
  }

  /** The family `spark.sql.dataSketches.quantiles.sketchImpl` selects. */
  def fromConf(): QuantileFamily = forAlgo(GraftConf.quantileSketchImpl)
}

/** A binary estimator over one serialized quantile sketch. */
private[graft] abstract class QuantileEstimator extends SketchEstimator
  with BinaryLike[Expression] {

  def family: QuantileFamily
  override protected def label: String = family.label

  /** The body over a decoded, non-empty sketch and the second argument. */
  protected def fromSketch(sketch: QuantileSketchFacade, arg: Any): Any

  override protected def estimate(bytes: Any, arg: Any): Any = {
    val sketch = family.fromBytes(bytes.asInstanceOf[Array[Byte]])
    if (sketch.isEmpty) null else fromSketch(sketch, arg)
  }
}

/**
 * `approx_percentile_estimate(sketch, percentage)` — decode a serialized
 * sketch and return the quantile(s) as DOUBLE (always double, like the
 * reference — quantileSketches.scala:601-605).
 */
case class ApproxPercentileEstimate(left: Expression, right: Expression, family: QuantileFamily)
  extends QuantileEstimator {

  override def prettyName: String = "approx_percentile_estimate"
  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType, Percentages.inputType(right))
  override lazy val dataType: DataType = Percentages.shape(right, DoubleType)

  override def checkInputDataTypes(): TypeCheckResult = {
    val defaultCheck = super.checkInputDataTypes()
    if (defaultCheck.isFailure) defaultCheck else Percentages.check(right)
  }

  @transient private lazy val ranks = Percentages.values(right)
  override protected def fromSketch(sketch: QuantileSketchFacade, pct: Any): Any =
    Percentages.pick(right, sketch.quantiles(ranks).map(q => q: Any))

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `approx_pmf_estimate` and `approx_cdf_estimate`: a constant number of
 *  equi-width buckets over the sketch's [min, max]. */
private[graft] abstract class SplitsEstimator extends QuantileEstimator {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val defaultCheck = super.checkInputDataTypes()
    if (defaultCheck.isFailure) {
      defaultCheck
    } else if (!right.foldable) {
      TypeCheckFailure(s"The number of splits must be a constant literal, but got $right")
    } else {
      right.eval() match {
        case null => TypeCheckFailure("Number of splits must not be null")
        case n: Int if n <= 1 =>
          TypeCheckFailure(s"Number of splits must be greater than 1, but got $n")
        case _ => TypeCheckSuccess
      }
    }
  }
}

/**
 * `approx_pmf_estimate(sketch[, numSplits])` — Probability Mass Function
 * over `numSplits` equi-width buckets. Split points are
 * `i * (max-min)/numSplits` (i in 1..n-1), replicating the reference's
 * un-offset splits (quantileSketches.scala:100-104) for output
 * compatibility.
 */
case class ApproxPmfEstimate(left: Expression, right: Expression, family: QuantileFamily)
  extends SplitsEstimator {

  override def prettyName: String = "approx_pmf_estimate"
  override protected def fromSketch(sketch: QuantileSketchFacade, numSplits: Any): Any =
    new GenericArrayData(sketch.pmf(numSplits.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/**
 * `approx_cdf_estimate(sketch[, numSplits])` — cumulative distribution
 * over the same un-offset split points as [[ApproxPmfEstimate]]; the
 * final element is always 1.0. BEYOND the reference surface (it stops
 * at PMF).
 */
case class ApproxCdfEstimate(left: Expression, right: Expression, family: QuantileFamily)
  extends SplitsEstimator {

  override def prettyName: String = "approx_cdf_estimate"
  override protected def fromSketch(sketch: QuantileSketchFacade, numSplits: Any): Any =
    new GenericArrayData(sketch.cdf(numSplits.asInstanceOf[Int]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/**
 * `approx_rank_estimate(sketch, value)` — the normalized rank of `value`
 * under the EXCLUSIVE criterion (fraction of items strictly below
 * `value`). `value` is an ordinary per-row expression, so ranks of a
 * whole column of probes can be computed against one sketch. BEYOND the
 * reference surface (quantile -> value but no value -> rank inverse).
 */
case class ApproxRankEstimate(left: Expression, right: Expression, family: QuantileFamily)
  extends QuantileEstimator {

  override def prettyName: String = "approx_rank_estimate"
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = DoubleType
  override protected def fromSketch(sketch: QuantileSketchFacade, value: Any): Any =
    sketch.rank(value.asInstanceOf[Double])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/**
 * `approx_histogram_estimate(sketch, splits)` — PMF over EXPLICIT
 * constant ascending split points (EXCLUSIVE criterion: bucket `i` is
 * the mass in `[splits[i-1], splits[i])`; `splits.length + 1` buckets).
 * Unlike `approx_pmf_estimate`, whose equi-width bins depend on each
 * sketch's own [min, max], fixed split points make histograms COMPARABLE
 * across slices, days, and shards — the input to any binned drift
 * statistic (total-variation distance, PSI, chi-square).
 */
case class ApproxHistogramEstimate(left: Expression, right: Expression, family: QuantileFamily)
  extends QuantileEstimator {

  override def prettyName: String = "approx_histogram_estimate"
  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType, ArrayType(DoubleType, containsNull = false))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  @transient private lazy val splits: Array[Double] = right.eval() match {
    case null => null
    case a: ArrayData => a.toDoubleArray()
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val defaultCheck = super.checkInputDataTypes()
    if (defaultCheck.isFailure) {
      defaultCheck
    } else if (!right.foldable) {
      TypeCheckFailure(s"Split points must be a constant literal array, but got $right")
    } else if (splits == null || splits.isEmpty) {
      TypeCheckFailure("Split points must be a non-empty array")
    } else if (splits.sliding(2).exists(w => w.length == 2 && w(0) >= w(1))) {
      TypeCheckFailure(
        s"Split points must be strictly ascending, but got ${splits.mkString("[", ", ", "]")}")
    } else {
      TypeCheckSuccess
    }
  }

  override protected def fromSketch(sketch: QuantileSketchFacade, unused: Any): Any =
    new GenericArrayData(sketch.pmfAt(splits))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** A distance between two serialized quantile sketches; null if either
 *  side is empty. */
private[graft] abstract class QuantileDistance extends QuantileEstimator {

  protected def distance(a: QuantileSketchFacade, b: QuantileSketchFacade): Double

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = DoubleType

  override protected def fromSketch(a: QuantileSketchFacade, bBytes: Any): Any = {
    val b = family.fromBytes(bBytes.asInstanceOf[Array[Byte]])
    if (b.isEmpty) null else distance(a, b)
  }
}

/**
 * `approx_ks_distance(sketch_a, sketch_b)` — the two-sample
 * Kolmogorov–Smirnov distance (max absolute difference of the two
 * inclusive ECDFs, evaluated at every retained quantile of either side —
 * see [[graft.sketches.QuantileSketchFacade.ksDelta]]). Exact while both
 * sketches are pre-compaction; the retained-item plug-in estimate
 * afterwards. BEYOND the reference surface: the slice-vs-slice
 * distribution-drift primitive — per-slice sketches roll up with
 * `approx_percentile_combine` and any two rollups compare in
 * O(retained) without re-reading data.
 */
case class ApproxKsDistance(left: Expression, right: Expression, family: QuantileFamily)
  extends QuantileDistance {

  override def prettyName: String = "approx_ks_distance"
  override protected def distance(a: QuantileSketchFacade, b: QuantileSketchFacade): Double =
    QuantileSketchFacade.ksDelta(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/**
 * `approx_emd_distance(sketch_a, sketch_b)` — the 1-Wasserstein (earth
 * mover's) distance (`integral |F_a - F_b| dx` over the merged retained
 * support — see [[graft.sketches.QuantileSketchFacade.emdDelta]]). The
 * magnitude-sensitive companion to `approx_ks_distance`: KS reports the
 * max ECDF gap (scale-free), EMD reports the shift in VALUE UNITS. Exact
 * while both sketches are pre-compaction.
 */
case class ApproxEmdDistance(left: Expression, right: Expression, family: QuantileFamily)
  extends QuantileDistance {

  override def prettyName: String = "approx_emd_distance"
  override protected def distance(a: QuantileSketchFacade, b: QuantileSketchFacade): Double =
    QuantileSketchFacade.emdDelta(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
