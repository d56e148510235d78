/**
 * DataSketches BloomFilter SQL functions — approximate set membership
 * with no false negatives and a standard cross-system wire image,
 * BEYOND the reference surface. Complements `graft_bloom_agg` (Spark's
 * native bloom, readable only by Spark): these images ship to / load
 * from any DataSketches consumer, and intersection (membership in EVERY
 * input — bitwise-AND) has no Spark-native counterpart at all.
 *
 *   bloom_accumulate(col[, maxItems, fpp])  agg: string/long values ->
 *     serialized filter BINARY
 *   bloom_union(sketch[, maxItems, fpp])    agg: merge filter column (OR)
 *   bloom_intersect(sketch[, maxItems, fpp]) agg: intersect (AND); null
 *     for an empty group
 *   bloom_might_contain(sketch, value)      scalar -> BOOLEAN (null on
 *     corrupt bytes)
 *
 * (maxItems, fpp) size the bit array and hash count; partials built with
 * the same pair (and graft's fixed seed) are union-compatible. Both are
 * frozen into the plan at driver-side resolution — the driver-frozen-
 * parameter discipline of every graft sketch family.
 */
package org.apache.spark.sql.graft

import org.apache.datasketches.filters.bloomfilter.BloomFilter

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sketches.{BloomIntersectionFacade, BloomSketchFacade, BloomUnionFacade}

private[graft] object BloomParams {
  val Label = "bloom filter"
  val DefaultMaxItems: Long = 100000L
  val DefaultFpp: Double = 0.01

  def validate(fn: String, maxItems: Long, fpp: Double): Unit = {
    if (maxItems < 1) {
      throw new IllegalArgumentException(
        s"Function $fn requires maxItems to be positive, got $maxItems")
    }
    if (fpp <= 0.0 || fpp >= 1.0) {
      throw new IllegalArgumentException(
        s"Function $fn requires fpp to be in (0, 1), got $fpp")
    }
  }
}

/** DataSketches bloom filters of string / long values: `bloom_accumulate`,
 *  `bloom_union` (bitwise OR). */
private[graft] case class BloomFamily(maxItems: Long, fpp: Double)
  extends SketchFamily[BloomUnionFacade] {

  override def label: String = BloomParams.Label
  override def create(): BloomUnionFacade = BloomUnionFacade.create(maxItems, fpp)
  override def merge(buf: BloomUnionFacade, other: BloomUnionFacade): Unit = buf.merge(other)
  override def combine(buf: BloomUnionFacade, bytes: Array[Byte]): Unit = buf.merge(bytes)
  override def toBytes(buf: BloomUnionFacade): Array[Byte] = buf.toBytes
  override def fromBytes(bytes: Array[Byte]): BloomUnionFacade =
    BloomUnionFacade.fromBytes(maxItems, fpp, bytes)

  override def inputTypes: Seq[AbstractDataType] = Seq(TypeCollection(StringType, LongType))
  override def updater(types: Seq[DataType]): (BloomUnionFacade, Any, Any) => Unit =
    types.head match {
      case StringType => (buf, v, _) => buf.update(v.asInstanceOf[UTF8String].toString)
      case LongType => (buf, v, _) => buf.update(v.asInstanceOf[Long])
      case t => throw new IllegalStateException(s"Unexpected data type ${t.catalogString}")
    }
}

/** `bloom_intersect` (bitwise AND): null for an empty group. */
private[graft] case class BloomIntersection(maxItems: Long, fpp: Double)
  extends SketchFamily[BloomIntersectionFacade] {

  override def label: String = BloomParams.Label
  override def create(): BloomIntersectionFacade = BloomIntersectionFacade.create(maxItems, fpp)
  override def merge(buf: BloomIntersectionFacade, other: BloomIntersectionFacade): Unit =
    buf.merge(other)
  override def combine(buf: BloomIntersectionFacade, bytes: Array[Byte]): Unit =
    buf.intersect(bytes)
  override def result(buf: BloomIntersectionFacade): Array[Byte] = buf.toResultBytes
  override def toBytes(buf: BloomIntersectionFacade): Array[Byte] = buf.toBytes
  override def fromBytes(bytes: Array[Byte]): BloomIntersectionFacade =
    BloomIntersectionFacade.fromBytes(maxItems, fpp, bytes)
}

/** Scalar `bloom_might_contain(sketch, value)` -> BOOLEAN; null on corrupt
 *  bytes. String and long values hash as the DataSketches standard, so
 *  filters built by OTHER DataSketches consumers answer correctly. */
case class BloomMightContain(left: Expression, right: Expression)
  extends SketchEstimator with BinaryLike[Expression] {

  override def prettyName: String = "bloom_might_contain"
  override protected def label: String = BloomParams.Label
  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType, TypeCollection(StringType, LongType))
  override def dataType: DataType = BooleanType

  @transient private[this] lazy val query: (BloomFilter, Any) => Boolean =
    right.dataType match {
      case StringType => (f, v) => f.query(v.asInstanceOf[UTF8String].toString)
      case LongType => (f, v) => f.query(v.asInstanceOf[Long])
      case t => throw new IllegalStateException(s"Unexpected data type ${t.catalogString}")
    }

  // The filter side is almost always a plan constant (broadcast scalar
  // subquery / literal), so Spark hands the SAME byte array every row:
  // memo the zero-copy wrap by reference identity. One-element memo is
  // deliberately tiny — a varying filter column still works, just
  // re-wraps (no copy either way; wrap is read-only over the bytes).
  @transient private[this] var lastBytes: Array[Byte] = _
  @transient private[this] var lastFilter: BloomFilter = _

  override protected def estimate(bytesRaw: Any, v: Any): Any = {
    val bytes = bytesRaw.asInstanceOf[Array[Byte]]
    if (bytes ne lastBytes) {
      lastFilter = BloomSketchFacade.wrapBytes(bytes)
      lastBytes = bytes
    }
    query(lastFilter, v)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/**
 * Scalar `graft_might_contain(bloom, hashedValue)` over SPARK's
 * runtime-filter bloom image (`org.apache.spark.util.sketch.BloomFilter`,
 * the `graft_bloom_agg` wire format — distinct from the DataSketches
 * filters `bloom_might_contain` probes). A drop-in for Spark's own
 * `BloomFilterMightContain`, which it replaces because that expression's
 * codegen emits `(Long)<negative literal>` when the probe side constant-
 * folds — Janino parses the cast as a subtraction from the class name
 * and the whole projection falls back to interpreted.
 *
 * The filter side is almost always a plan constant (scalar subquery), so
 * the deserialization is memoized by byte-array reference identity, as in
 * [[BloomMightContain]].
 */
case class SparkBloomMightContain(left: Expression, right: Expression)
  extends SketchEstimator with BinaryLike[Expression] {

  override def prettyName: String = "graft_might_contain"
  override protected def label: String = BloomParams.Label
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, LongType)
  override def dataType: DataType = BooleanType

  @transient private[this] var lastBytes: Array[Byte] = _
  @transient private[this] var lastFilter: org.apache.spark.util.sketch.BloomFilter = _

  override protected def estimate(bytesRaw: Any, v: Any): Any = {
    val bytes = bytesRaw.asInstanceOf[Array[Byte]]
    if (bytes ne lastBytes) {
      lastFilter = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      lastBytes = bytes
    }
    lastFilter.mightContainLong(v.asInstanceOf[Long])
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
