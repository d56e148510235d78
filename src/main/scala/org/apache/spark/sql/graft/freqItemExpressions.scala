/**
 * Frequent-items (heavy hitters) SQL functions: the `approx_freqitems`
 * family, re-expressed from the reference (reference: freqItemSketches.scala)
 * over [[graft.sketches.FreqSketchFacade]]. Misra-Gries style ItemsSketch
 * with `NO_FALSE_POSITIVES`; exact while column cardinality stays below
 * ~0.75 * maxMapSize.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.conf.GraftConf
import graft.sketches.FreqSketchFacade

/**
 * Frequent items over STRING values, or over integral values kept in a
 * LongsSketch (`longItems`, chosen by [[forInput]] for the one-shot over
 * an integral column). `_accumulate` / `_combine` / `_estimate` are
 * string-only. The one-shot answers `array<struct<item: <inputType>,
 * estimated: bigint>>`, most frequent first; compose with `inline(...)`
 * to explode into rows.
 */
private[graft] case class FreqFamily(maxMapSize: Int, longItems: Boolean = false)
  extends SketchFamily[FreqSketchFacade] {

  override def label: String = "freq items sketch"
  override def create(): FreqSketchFacade =
    if (longItems) FreqSketchFacade.createLong(maxMapSize)
    else FreqSketchFacade.createString(maxMapSize)
  override def merge(buf: FreqSketchFacade, other: FreqSketchFacade): Unit = buf.merge(other)
  override def toBytes(buf: FreqSketchFacade): Array[Byte] = buf.toBytes
  override def fromBytes(bytes: Array[Byte]): FreqSketchFacade =
    if (longItems) FreqSketchFacade.longFromBytes(bytes)
    else FreqSketchFacade.stringFromBytes(bytes)

  override def forInput(types: Seq[DataType]): FreqFamily =
    copy(longItems = types.head == LongType)

  // the sketch stores UTF8String values as java.lang.String / integrals as
  // Long; convert on the way in and back out (freqItemSketches.scala:175-182)
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def updater(types: Seq[DataType]): (FreqSketchFacade, Any, Any) => Unit =
    if (longItems) (buf, v, _) => buf.update(v)
    else (buf, v, _) => buf.update(v.asInstanceOf[UTF8String].toString)

  override def oneShotInputTypes(args: Seq[Expression]): Seq[AbstractDataType] =
    Seq(TypeCollection(LongType, StringType))
  override def resultType(args: Seq[Expression]): DataType =
    FreqFamily.itemsType(args.head.dataType)
  override def finisher(args: Seq[Expression]): FreqSketchFacade => Any = FreqFamily.items

  override def estimateFromSketch(sketch: Expression, args: Seq[Expression]): Option[Expression] =
    Some(ApproxFreqItemsEstimate(sketch))
}

private[graft] object FreqFamily {
  def fromConf(): FreqFamily = FreqFamily(GraftConf.freqItemsMaxMapSize)

  def itemsType(item: DataType): DataType = ArrayType(StructType(Seq(
    StructField("item", item), StructField("estimated", LongType))))

  def items(buf: FreqSketchFacade): GenericArrayData =
    new GenericArrayData(buf.frequentItems.map {
      case (item: String, est) => InternalRow(UTF8String.fromString(item), est)
      case (item, est) => InternalRow(item, est)
    })
}

/**
 * Scalar `approx_freqitems_estimate(sketch)` ->
 * `array<struct<item: string, estimated: bigint>>`; null on corrupt bytes
 * or an empty sketch.
 */
case class ApproxFreqItemsEstimate(child: Expression)
  extends SketchEstimator with UnaryLike[Expression] {

  override def prettyName: String = "approx_freqitems_estimate"
  override protected def label: String = "freq items sketch"
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = FreqFamily.itemsType(StringType)
  override protected def estimate(bytes: Any, unused: Any): Any = {
    val buf = FreqSketchFacade.stringFromBytes(bytes.asInstanceOf[Array[Byte]])
    if (buf.isEmpty) null else FreqFamily.items(buf)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
