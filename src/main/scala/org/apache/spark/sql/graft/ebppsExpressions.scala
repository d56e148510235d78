/**
 * EBPPS strict-PPS sampling SQL functions — exact-bound probability-
 * proportional-to-size sampling, BEYOND the reference surface. Where
 * VarOpt optimizes subset-sum variance (and keeps everything while
 * under-full), EBPPS guarantees every item's inclusion probability is
 * EXACTLY `c*w/W` with `c = min(k, W/w_max)`, and the realized sample
 * size is floor(C)/ceil(C) of that expected size — the primitive for
 * strict-PPS corpus subsampling where the sampling design itself is the
 * contract (importance-sampled eval sets, audit samples). See
 * [[graft.sketches.EbppsFacade]] for the heavy-item-shrinks-the-sample
 * consequence.
 *
 *   ebpps_sample(col, weight, k)      agg -> array<string>
 *   ebpps_accumulate(col, weight, k)  agg -> BINARY sketch state
 *   ebpps_combine(sketch, k)          agg -> BINARY merged state
 *   ebpps_estimate(sketch)            scalar -> struct<n, cum_weight, samples>
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sketches.EbppsFacade

/** EBPPS samples of at most `k` (string, positive weight) items. */
private[graft] case class EbppsFamily(k: Int) extends SketchFamily[EbppsFacade] {
  override def label: String = "ebpps sketch"
  override def create(): EbppsFacade = EbppsFacade.create(k)
  override def merge(buf: EbppsFacade, other: EbppsFacade): Unit = buf.merge(other)
  override def combine(buf: EbppsFacade, bytes: Array[Byte]): Unit = buf.merge(bytes)
  override def toBytes(buf: EbppsFacade): Array[Byte] = buf.toBytes
  override def fromBytes(bytes: Array[Byte]): EbppsFacade = EbppsFacade.fromBytes(k, bytes)

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, DoubleType)
  override def updater(types: Seq[DataType]): (EbppsFacade, Any, Any) => Unit = (buf, v, w) => {
    val wd = w.asInstanceOf[Double]
    // zero/negative weights carry no sampling mass; skip like nulls
    if (wd > 0) buf.update(v.asInstanceOf[UTF8String].toString, wd)
  }

  override def resultType(args: Seq[Expression]): DataType = ReservoirFamily.sampleType
  override def finisher(args: Seq[Expression]): EbppsFacade => Any =
    buf => ReservoirFamily.samplesToCatalyst(buf.samples)
}

/**
 * Scalar `ebpps_estimate(sketch)` -> STRUCT<n, cum_weight, samples>;
 * null on corrupt bytes. `n` and `cum_weight` are deterministic; the
 * realized `samples` includes any partial item probabilistically.
 */
case class EbppsEstimate(child: Expression) extends SketchEstimator with UnaryLike[Expression] {
  override def prettyName: String = "ebpps_estimate"
  override protected def label: String = "ebpps sketch"
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("cum_weight", DoubleType, nullable = false),
    StructField("samples", ReservoirFamily.sampleType, nullable = false)))
  override protected def estimate(bytes: Any, unused: Any): Any = {
    val (n, cumWeight, samples) = EbppsFacade.readSample(bytes.asInstanceOf[Array[Byte]])
    InternalRow(n, cumWeight, ReservoirFamily.samplesToCatalyst(samples))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
