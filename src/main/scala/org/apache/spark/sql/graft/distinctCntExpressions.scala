/**
 * Distinct-count sketch SQL functions: the `approx_count_distinct_ex`
 * family (CPC / HLL), re-expressed from the reference
 * (reference: distinctCntSketches.scala) over
 * [[graft.sketches.DistinctSketchFacade]].
 *
 * Note: the reference's `approx_count_distinct_hll` actually constructs a
 * CPC sketch due to a bug (reference: distinctCntSketches.scala:249); here
 * it is fixed to really use HLL (SURVEY.md §7.4 decision (a)).
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.conf.GraftConf
import graft.sketches.{DistinctAlgo, DistinctSketchFacade}

/**
 * CPC / HLL distinct counting. `_accumulate` takes STRING only (cast
 * integral columns to match the hash domain); the one-shot declares
 * `TypeCollection(StringType, LongType)` in that order deliberately — it
 * replicates the reference (distinctCntSketches.scala:161), where
 * implicit coercion resolves sub-long integrals to STRING first; freq
 * items uses the opposite order (freqItemSketches.scala:173), also
 * replicated. Estimates are unaffected (cardinality is type-agnostic),
 * but sketch images only merge with images built from the same domain.
 */
private[graft] case class DistinctFamily(algoName: String, lgK: Int)
  extends SketchFamily[DistinctSketchFacade] {

  @transient private lazy val algo = DistinctAlgo.fromString(algoName)

  override def label: String = s"$algoName distinct count sketch"
  override def create(): DistinctSketchFacade = DistinctSketchFacade.create(algo, lgK)
  override def merge(buf: DistinctSketchFacade, other: DistinctSketchFacade): Unit =
    buf.merge(other)
  override def toBytes(buf: DistinctSketchFacade): Array[Byte] = buf.toBytes
  override def fromBytes(bytes: Array[Byte]): DistinctSketchFacade =
    DistinctSketchFacade.fromBytes(algo, lgK, bytes)

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def updater(types: Seq[DataType]): (DistinctSketchFacade, Any, Any) => Unit =
    types.head match {
      case StringType => (buf, v, _) => buf.update(v.asInstanceOf[UTF8String].toString)
      case LongType => (buf, v, _) => buf.update(v.asInstanceOf[Long])
      case t => throw new IllegalStateException(s"Unexpected data type ${t.catalogString}")
    }

  override def oneShotInputTypes(args: Seq[Expression]): Seq[AbstractDataType] =
    Seq(TypeCollection(StringType, LongType))
  override def resultType(args: Seq[Expression]): DataType = LongType
  override def finisher(args: Seq[Expression]): DistinctSketchFacade => Any = _.estimate

  override def estimateFromSketch(sketch: Expression, args: Seq[Expression]): Option[Expression] =
    Some(ApproxCountDistinctEstimate(sketch, this))
}

private[graft] object DistinctFamily {
  /** The family of `algoName` with its lgK from the session conf. */
  def forAlgo(algoName: String): DistinctFamily = {
    val algo = DistinctAlgo.fromString(algoName)
    val lgK = algo match {
      case DistinctAlgo.CPC => GraftConf.distinctCntCpcLgK
      case DistinctAlgo.HLL => GraftConf.distinctCntHllLgK
    }
    DistinctFamily(algo.name, lgK)
  }

  /** The family `spark.sql.dataSketches.distinctCnt.sketchImpl` selects. */
  def fromConf(): DistinctFamily = forAlgo(GraftConf.distinctCntSketchImpl)
}

/** Scalar `approx_count_distinct_estimate(sketch)` -> BIGINT; null on corrupt bytes. */
case class ApproxCountDistinctEstimate(child: Expression, family: DistinctFamily)
  extends SketchEstimator with UnaryLike[Expression] {

  override def prettyName: String = "approx_count_distinct_estimate"
  override protected def label: String = family.label
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override protected def estimate(bytes: Any, unused: Any): Any =
    family.fromBytes(bytes.asInstanceOf[Array[Byte]]).estimate
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
