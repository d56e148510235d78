/**
 * Tuple-sketch SQL functions: distinct-key cardinality WITH per-key value
 * aggregation in one sketch. BEYOND the reference surface (its sketches
 * carry no payload): a tuple sketch answers "how many distinct keys, and
 * what do their values add up to" — deduplicated token totals across
 * shards that repeat documents, value mass over the keys two corpus
 * slices share — without co-shuffling the raw sets.
 *
 *   tuple_accumulate(key, value[, mode])  agg: key (string/long) + double
 *     value -> compact tuple sketch BINARY; `mode` in (sum|min|max|one)
 *     picks how repeated values of the SAME key combine (default sum)
 *   tuple_union(sketch[, mode])           agg: merge sketch column -> BINARY
 *   tuple_intersect(sketch[, mode])       agg: intersect -> BINARY (null on empty)
 *   tuple_a_not_b(a, b)                   scalar: difference sketch -> BINARY
 *   tuple_estimate(sketch)                scalar -> STRUCT<distinct_keys BIGINT,
 *     value_sum DOUBLE> (null on corrupt bytes)
 *
 * The summary mode is frozen into the plan at resolution time (a constant
 * string literal), matching the driver-frozen-parameter discipline used by
 * every other graft sketch family.
 */
package org.apache.spark.sql.graft

import org.apache.datasketches.tuple.adouble.DoubleSummary

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.conf.GraftConf
import graft.sketches.{TupleIntersectionFacade, TupleSketchFacade, TupleUnionFacade}

private[graft] object TupleFamily {
  val Label = "tuple sketch"
  def fromConf(modeName: String): TupleFamily = TupleFamily(modeName, GraftConf.tupleLgK)
}

/** Tuple sketches of (string / long key, double value) pairs:
 *  `tuple_accumulate`, `tuple_union`. */
private[graft] case class TupleFamily(modeName: String, lgK: Int)
  extends SketchFamily[TupleUnionFacade] {

  @transient private lazy val mode: DoubleSummary.Mode = TupleSketchFacade.parseMode(modeName)

  override def label: String = TupleFamily.Label
  override def create(): TupleUnionFacade = TupleUnionFacade.create(lgK, mode)
  override def merge(buf: TupleUnionFacade, other: TupleUnionFacade): Unit = buf.merge(other)
  override def combine(buf: TupleUnionFacade, bytes: Array[Byte]): Unit = buf.merge(bytes)
  override def toBytes(buf: TupleUnionFacade): Array[Byte] = buf.toBytes
  override def fromBytes(bytes: Array[Byte]): TupleUnionFacade =
    TupleUnionFacade.fromBytes(lgK, mode, bytes)

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(StringType, LongType), DoubleType)
  override def updater(types: Seq[DataType]): (TupleUnionFacade, Any, Any) => Unit =
    types.head match {
      case StringType => (buf, k, v) =>
        buf.update(k.asInstanceOf[UTF8String].toString, v.asInstanceOf[Double])
      case LongType => (buf, k, v) => buf.update(k.asInstanceOf[Long], v.asInstanceOf[Double])
      case t => throw new IllegalStateException(s"Unexpected data type ${t.catalogString}")
    }
}

/** `tuple_intersect`: null for an empty group. */
private[graft] case class TupleIntersection(modeName: String)
  extends SketchFamily[TupleIntersectionFacade] {

  @transient private lazy val mode: DoubleSummary.Mode = TupleSketchFacade.parseMode(modeName)

  override def label: String = TupleFamily.Label
  override def create(): TupleIntersectionFacade = TupleIntersectionFacade.create(mode)
  override def merge(buf: TupleIntersectionFacade, other: TupleIntersectionFacade): Unit =
    buf.merge(other)
  override def combine(buf: TupleIntersectionFacade, bytes: Array[Byte]): Unit =
    buf.intersect(bytes)
  override def result(buf: TupleIntersectionFacade): Array[Byte] = buf.toResultBytes
  override def toBytes(buf: TupleIntersectionFacade): Array[Byte] = buf.toBytes
  override def fromBytes(bytes: Array[Byte]): TupleIntersectionFacade =
    TupleIntersectionFacade.fromBytes(mode, bytes)
}

/** Scalar `tuple_a_not_b(a, b)` -> BINARY difference sketch; null on corrupt. */
case class TupleANotB(left: Expression, right: Expression)
  extends SketchEstimator with BinaryLike[Expression] {

  override def prettyName: String = "tuple_a_not_b"
  override protected def label: String = TupleFamily.Label
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override protected def estimate(a: Any, b: Any): Any =
    TupleSketchFacade.aNotB(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Scalar `tuple_estimate(sketch)` -> STRUCT<distinct_keys BIGINT, value_sum DOUBLE>;
 *  null on corrupt bytes. */
case class TupleEstimate(child: Expression) extends SketchEstimator with UnaryLike[Expression] {
  override def prettyName: String = "tuple_estimate"
  override protected def label: String = TupleFamily.Label
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("distinct_keys", LongType, nullable = false),
    StructField("value_sum", DoubleType, nullable = false)))
  override protected def estimate(bytes: Any, unused: Any): Any = {
    val (distinct, sum) = TupleSketchFacade.estimate(bytes.asInstanceOf[Array[Byte]])
    InternalRow(distinct, sum)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
