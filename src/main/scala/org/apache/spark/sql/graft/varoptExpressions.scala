/**
 * VarOpt weighted-sampling SQL functions — variance-optimal mergeable
 * weighted sampling, BEYOND the reference surface. The training-data
 * use: importance-weighted corpus mixtures ("sample documents
 * proportional to quality score") with unbiased subset-sum estimates
 * from the adjusted weights.
 *
 *   varopt_sample(col, weight, k)      agg -> array<struct<item, weight>>
 *   varopt_accumulate(col, weight, k)  agg -> BINARY sketch state
 *   varopt_combine(sketch, k)          agg -> BINARY merged state
 *   varopt_estimate(sketch)            scalar -> struct<n, samples>
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sketches.VarOptFacade

/** VarOpt samples of at most `k` (string, positive weight) items. */
private[graft] case class VarOptFamily(k: Int) extends SketchFamily[VarOptFacade] {
  override def label: String = "varopt sketch"
  override def create(): VarOptFacade = VarOptFacade.create(k)
  override def merge(buf: VarOptFacade, other: VarOptFacade): Unit = buf.merge(other)
  override def combine(buf: VarOptFacade, bytes: Array[Byte]): Unit = buf.merge(bytes)
  override def toBytes(buf: VarOptFacade): Array[Byte] = buf.toBytes
  override def fromBytes(bytes: Array[Byte]): VarOptFacade = VarOptFacade.fromBytes(k, bytes)

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, DoubleType)
  override def updater(types: Seq[DataType]): (VarOptFacade, Any, Any) => Unit = (buf, v, w) => {
    val wd = w.asInstanceOf[Double]
    // zero/negative weights carry no sampling mass; skip like nulls
    if (wd > 0) buf.update(v.asInstanceOf[UTF8String].toString, wd)
  }

  override def resultType(args: Seq[Expression]): DataType = VarOptFamily.sampleType
  override def finisher(args: Seq[Expression]): VarOptFacade => Any =
    buf => VarOptFamily.samplesToCatalyst(buf.samples)
}

private[graft] object VarOptFamily {
  val sampleType: ArrayType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("weight", DoubleType, nullable = false))), containsNull = false)

  def samplesToCatalyst(samples: Array[(String, Double)]): GenericArrayData =
    new GenericArrayData(samples.map { case (item, w) =>
      InternalRow(UTF8String.fromString(item), w)
    }: Array[Any])
}

/** Scalar `varopt_estimate(sketch)` -> STRUCT<n, samples>; null on corrupt. */
case class VarOptEstimate(child: Expression) extends SketchEstimator with UnaryLike[Expression] {
  override def prettyName: String = "varopt_estimate"
  override protected def label: String = "varopt sketch"
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("samples", VarOptFamily.sampleType, nullable = false)))
  override protected def estimate(bytes: Any, unused: Any): Any = {
    val (n, samples) = VarOptFacade.readSamples(bytes.asInstanceOf[Array[Byte]])
    InternalRow(n, VarOptFamily.samplesToCatalyst(samples))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
