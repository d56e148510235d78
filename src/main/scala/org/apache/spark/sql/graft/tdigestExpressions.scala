/**
 * t-digest SQL functions — double-precision quantile estimation with
 * accuracy concentrated at the distribution tails (error ~ q(1-q)),
 * BEYOND the reference surface (its quantile families are KLL/REQ/classic
 * with float narrowing). Same lifecycle discipline as every other graft
 * sketch family:
 *
 *   approx_percentile_tdigest(col, percentage)  one-shot agg -> DOUBLE
 *     (or ARRAY<DOUBLE> for an array of percentages)
 *   tdigest_accumulate(col)     agg: raw doubles -> serialized digest BINARY
 *   tdigest_combine(sketch)     agg: merge digest column -> BINARY
 *   tdigest_estimate(sketch, rank)  scalar: quantile at rank -> DOUBLE
 *   tdigest_rank(sketch, value)     scalar: normalized rank -> DOUBLE
 *
 * Compression k is frozen from `spark.sql.dataSketches.tdigest.k` at plan
 * resolution on the driver (the driver-frozen-parameter discipline —
 * executors never read SQLConf). Serialized form is the standard
 * DataSketches t-digest image.
 */
package org.apache.spark.sql.graft

import org.apache.datasketches.tdigest.TDigestDouble

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._

import graft.conf.GraftConf
import graft.sketches.TDigestFacade

/** t-digests of doubles: `tdigest_accumulate`, `tdigest_combine`, and the
 *  one-shot `approx_percentile_tdigest(col, percentage)` -> DOUBLE /
 *  ARRAY<DOUBLE>, null for an empty group. */
private[graft] case class TDigestFamily(k: Int) extends PercentileOneShot[TDigestDouble] {
  override def label: String = TDigestFamily.Label
  override def create(): TDigestDouble = TDigestFacade.create(k)
  override def merge(buf: TDigestDouble, other: TDigestDouble): Unit = buf.merge(other)
  override def toBytes(buf: TDigestDouble): Array[Byte] = buf.toByteArray
  override def fromBytes(bytes: Array[Byte]): TDigestDouble = TDigestFacade.fromBytes(bytes)

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def updater(types: Seq[DataType]): (TDigestDouble, Any, Any) => Unit =
    (buf, v, _) => buf.update(v.asInstanceOf[Double])

  override protected def valueType(column: DataType): DataType = DoubleType
  override protected def isEmpty(buf: TDigestDouble): Boolean = buf.isEmpty
  override protected def quantiles(
      column: DataType): (TDigestDouble, Array[Double]) => Array[Any] =
    (buf, ranks) => ranks.map(r => buf.getQuantile(r): Any)

  // tdigest_estimate takes one rank: array percentages keep the base scan
  override def estimateFromSketch(sketch: Expression, args: Seq[Expression]): Option[Expression] =
    if (Percentages.isArray(args(1))) None else Some(TDigestEstimate(sketch, args(1)))
}

private[graft] object TDigestFamily {
  val Label = "t-digest"
  def fromConf(): TDigestFamily = TDigestFamily(GraftConf.tdigestK)
}

/** Scalar `tdigest_estimate(sketch, rank)` -> DOUBLE quantile; null on
 *  corrupt bytes or an empty digest. */
case class TDigestEstimate(left: Expression, right: Expression)
  extends SketchEstimator with BinaryLike[Expression] {

  override def prettyName: String = "tdigest_estimate"
  override protected def label: String = TDigestFamily.Label
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = DoubleType
  override protected def estimate(bytes: Any, rank: Any): Any =
    TDigestFacade.quantile(bytes.asInstanceOf[Array[Byte]], rank.asInstanceOf[Double])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Scalar `tdigest_rank(sketch, value)` -> DOUBLE normalized rank; null on
 *  corrupt bytes or an empty digest. */
case class TDigestRank(left: Expression, right: Expression)
  extends SketchEstimator with BinaryLike[Expression] {

  override def prettyName: String = "tdigest_rank"
  override protected def label: String = TDigestFamily.Label
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = DoubleType
  override protected def estimate(bytes: Any, value: Any): Any =
    TDigestFacade.rank(bytes.asInstanceOf[Array[Byte]], value.asInstanceOf[Double])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
