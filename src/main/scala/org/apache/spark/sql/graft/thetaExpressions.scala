/**
 * Theta-sketch SQL functions: set-operation cardinalities. BEYOND the
 * reference surface (its CPC/HLL family only merges): theta sketches
 * answer |A ∪ B|, |A ∩ B|, and |A \ B| between independently-sketched
 * sets — at 100 TB, corpus-overlap questions (how many users/documents do
 * two slices share?) without ever co-shuffling the raw sets.
 *
 *   theta_accumulate(col)   agg: string/long column -> compact sketch BINARY
 *   theta_union(sketch)     agg: merge sketch column -> BINARY
 *   theta_intersect(sketch) agg: intersect sketch column -> BINARY (null on empty)
 *   theta_a_not_b(a, b)     scalar: difference sketch -> BINARY
 *   theta_containment(a, b) scalar: |A ∩ B| / |A| -> DOUBLE (null on empty A)
 *   theta_estimate(sketch)  scalar: cardinality -> BIGINT (null on corrupt)
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.conf.GraftConf
import graft.sketches.{ThetaIntersectionFacade, ThetaSketchFacade, ThetaUnionFacade}

private[graft] object ThetaFamily {
  val Label = "theta sketch"
  def fromConf(): ThetaFamily = ThetaFamily(GraftConf.thetaLgK)
}

/** Theta sketches of string / long values: `theta_accumulate`, `theta_union`. */
private[graft] case class ThetaFamily(lgK: Int) extends SketchFamily[ThetaUnionFacade] {
  override def label: String = ThetaFamily.Label
  override def create(): ThetaUnionFacade = ThetaUnionFacade.create(lgK)
  override def merge(buf: ThetaUnionFacade, other: ThetaUnionFacade): Unit = buf.merge(other)
  override def combine(buf: ThetaUnionFacade, bytes: Array[Byte]): Unit = buf.merge(bytes)
  override def toBytes(buf: ThetaUnionFacade): Array[Byte] = buf.toBytes
  override def fromBytes(bytes: Array[Byte]): ThetaUnionFacade =
    ThetaUnionFacade.fromBytes(lgK, bytes)

  override def inputTypes: Seq[AbstractDataType] = Seq(TypeCollection(StringType, LongType))
  override def updater(types: Seq[DataType]): (ThetaUnionFacade, Any, Any) => Unit =
    types.head match {
      case StringType => (buf, v, _) => buf.update(v.asInstanceOf[UTF8String].toString)
      case LongType => (buf, v, _) => buf.update(v.asInstanceOf[Long])
      case t => throw new IllegalStateException(s"Unexpected data type ${t.catalogString}")
    }
}

/** `theta_intersect`: null for an empty group. */
private[graft] case class ThetaIntersection(lgK: Int)
  extends SketchFamily[ThetaIntersectionFacade] {
  override def label: String = ThetaFamily.Label
  override def create(): ThetaIntersectionFacade = ThetaIntersectionFacade.create(lgK)
  override def merge(buf: ThetaIntersectionFacade, other: ThetaIntersectionFacade): Unit =
    buf.merge(other)
  override def combine(buf: ThetaIntersectionFacade, bytes: Array[Byte]): Unit =
    buf.intersect(bytes)
  override def result(buf: ThetaIntersectionFacade): Array[Byte] = buf.toResultBytes
  override def toBytes(buf: ThetaIntersectionFacade): Array[Byte] = buf.toBytes
  override def fromBytes(bytes: Array[Byte]): ThetaIntersectionFacade =
    ThetaIntersectionFacade.fromBytes(lgK, bytes)
}

/** A binary scalar over two serialized theta sketches. */
private[graft] abstract class ThetaPairOp extends SketchEstimator with BinaryLike[Expression] {
  protected def op(a: Array[Byte], b: Array[Byte]): Any

  override protected def label: String = ThetaFamily.Label
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override protected def estimate(a: Any, b: Any): Any =
    op(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
}

/** Scalar `theta_a_not_b(a, b)` -> BINARY difference sketch; null on corrupt. */
case class ThetaANotB(left: Expression, right: Expression) extends ThetaPairOp {
  override def prettyName: String = "theta_a_not_b"
  override protected def op(a: Array[Byte], b: Array[Byte]): Any = ThetaSketchFacade.aNotB(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/**
 * Scalar `theta_intersect_pair(a, b)` -> BINARY intersection sketch;
 * null on corrupt. The per-ROW companion to the `theta_intersect`
 * aggregate: once sketches are joined side by side (a pairwise source
 * matrix, a day×day retention grid), set algebra runs inside the row
 * with no extra aggregation pass.
 */
case class ThetaIntersectPair(left: Expression, right: Expression) extends ThetaPairOp {
  override def prettyName: String = "theta_intersect_pair"
  override protected def op(a: Array[Byte], b: Array[Byte]): Any =
    ThetaSketchFacade.intersectPair(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Scalar `theta_union_pair(a, b)` -> BINARY union sketch; null on
 *  corrupt. `lgK` (the accumulate-side conf) is frozen driver-side at
 *  resolution, bounding the result's nominal size. */
case class ThetaUnionPair(left: Expression, right: Expression, lgK: Int) extends ThetaPairOp {
  override def prettyName: String = "theta_union_pair"
  override protected def op(a: Array[Byte], b: Array[Byte]): Any =
    ThetaSketchFacade.unionPair(a, b, lgK)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/**
 * Scalar `theta_containment(a, b)` -> DOUBLE `|A ∩ B| / |A|` — the
 * decontamination measure (what fraction of benchmark A appears in
 * corpus B), which Jaccard understates when `|B| >> |A|`. Exact while
 * both sketches are exact (sub-2^lgK cardinalities). Null on corrupt
 * bytes and for an empty A (the fraction is undefined, not 0).
 */
case class ThetaContainment(left: Expression, right: Expression) extends ThetaPairOp {
  override def prettyName: String = "theta_containment"
  override def dataType: DataType = DoubleType
  override protected def op(a: Array[Byte], b: Array[Byte]): Any =
    ThetaSketchFacade.containment(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Scalar `theta_estimate(sketch)` -> BIGINT; null on corrupt bytes. */
case class ThetaEstimate(child: Expression) extends SketchEstimator with UnaryLike[Expression] {
  override def prettyName: String = "theta_estimate"
  override protected def label: String = ThetaFamily.Label
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override protected def estimate(bytes: Any, unused: Any): Any =
    ThetaSketchFacade.estimate(bytes.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
