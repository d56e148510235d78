/**
 * Reservoir-sampling SQL functions — mergeable uniform sampling, BEYOND
 * the reference surface. The training-data use: draw an unbiased sample
 * of k documents per group (or globally) from an unbounded stream in one
 * pass, with per-partition partial reservoirs merging into an unbiased
 * whole-stream reservoir.
 *
 *   reservoir_sample(col, k)       agg: string col -> array<string> sample
 *   reservoir_accumulate(col, k)   agg: string col -> BINARY reservoir state
 *   reservoir_combine(sketch, k)   agg: merge reservoir states -> BINARY
 *   reservoir_estimate(sketch)     scalar: -> struct<n: bigint, samples: array<string>>
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sketches.ReservoirFacade

/** Uniform reservoirs of at most `k` strings. */
private[graft] case class ReservoirFamily(k: Int) extends SketchFamily[ReservoirFacade] {
  override def label: String = "reservoir sketch"
  override def create(): ReservoirFacade = ReservoirFacade.create(k)
  override def merge(buf: ReservoirFacade, other: ReservoirFacade): Unit = buf.merge(other)
  override def combine(buf: ReservoirFacade, bytes: Array[Byte]): Unit = buf.merge(bytes)
  override def toBytes(buf: ReservoirFacade): Array[Byte] = buf.toBytes
  override def fromBytes(bytes: Array[Byte]): ReservoirFacade = ReservoirFacade.fromBytes(k, bytes)

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def updater(types: Seq[DataType]): (ReservoirFacade, Any, Any) => Unit =
    (buf, v, _) => buf.update(v.asInstanceOf[UTF8String].toString)

  override def resultType(args: Seq[Expression]): DataType = ReservoirFamily.sampleType
  override def finisher(args: Seq[Expression]): ReservoirFacade => Any =
    buf => ReservoirFamily.samplesToCatalyst(buf.samples)
}

private[graft] object ReservoirFamily {
  val sampleType: ArrayType = ArrayType(StringType, containsNull = false)

  def samplesToCatalyst(samples: Array[String]): GenericArrayData =
    new GenericArrayData(samples.map(UTF8String.fromString): Array[Any])
}

/** Scalar `reservoir_estimate(sketch)` -> STRUCT<n, samples>; null on corrupt. */
case class ReservoirEstimate(child: Expression)
  extends SketchEstimator with UnaryLike[Expression] {

  override def prettyName: String = "reservoir_estimate"
  override protected def label: String = "reservoir sketch"
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("samples", ReservoirFamily.sampleType, nullable = false)))
  override protected def estimate(bytes: Any, unused: Any): Any = {
    // direct sketch read-out: the image carries its own k
    val (n, samples) = ReservoirFacade.readSamples(bytes.asInstanceOf[Array[Byte]])
    InternalRow(n, ReservoirFamily.samplesToCatalyst(samples))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
