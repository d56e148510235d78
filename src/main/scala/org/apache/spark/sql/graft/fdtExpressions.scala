/**
 * Frequent-Distinct-Tuples SQL functions — dedup-aware heavy hitters,
 * BEYOND the reference surface: which dimension combinations have the
 * most DISTINCT ids ("which (source, lang) slices contribute the most
 * distinct documents"), robust to repeated ingestion of the same id
 * (plain approx_freqitems would count every repeat).
 *
 *   fdt_accumulate(dims)      agg: ARRAY<STRING> tuples (dimensions +
 *     id, any arity) -> serialized ArrayOfStrings tuple sketch BINARY;
 *     rows with a null array or null element are skipped
 *   fdt_union(sketch)         agg: merge sketch column -> BINARY
 *   fdt_topk(sketch, indices, k)  scalar -> ARRAY<STRUCT<key STRING,
 *     n_distinct BIGINT>>: top-k groups of the retained distinct tuples
 *     grouped by the `indices` positions (comma-joined into `key`),
 *     ordered by estimate desc then key asc (a deterministic total
 *     order); null on corrupt bytes
 *
 * lgK is frozen from `spark.sql.dataSketches.tuple.lgK` driver-side
 * (the same tuple-sketch capacity model: exact below 2^lgK distinct
 * tuples).
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.conf.GraftConf
import graft.sketches.{FdtSketchFacade, FdtUnionFacade}

/** Frequent-distinct-tuple sketches of ARRAY<STRING> tuples. */
private[graft] case class FdtFamily(lgK: Int) extends SketchFamily[FdtUnionFacade] {
  override def label: String = "fdt sketch"
  override def create(): FdtUnionFacade = FdtUnionFacade.create(lgK)
  override def merge(buf: FdtUnionFacade, other: FdtUnionFacade): Unit = buf.merge(other)
  override def combine(buf: FdtUnionFacade, bytes: Array[Byte]): Unit = buf.merge(bytes)
  override def toBytes(buf: FdtUnionFacade): Array[Byte] = buf.toBytes
  override def fromBytes(bytes: Array[Byte]): FdtUnionFacade = FdtUnionFacade.fromBytes(lgK, bytes)

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def updater(types: Seq[DataType]): (FdtUnionFacade, Any, Any) => Unit = (buf, v, _) => {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val tuple = new Array[String](n)
    var i = 0
    var ok = n > 0
    while (ok && i < n) {
      if (arr.isNullAt(i)) ok = false
      else {
        tuple(i) = arr.getUTF8String(i).toString
        i += 1
      }
    }
    // a tuple with a null element has no defined identity — skip the
    // row (mirrors how the sketch aggs skip null scalar inputs)
    if (ok) buf.update(tuple)
  }
}

private[graft] object FdtFamily {
  def fromConf(): FdtFamily = FdtFamily(GraftConf.tupleLgK)
}

/** Scalar `fdt_topk(sketch, indices, k)` -> ARRAY<STRUCT<key STRING,
 *  n_distinct BIGINT>>; null on corrupt bytes. `indices` and `k` are
 *  frozen at resolution (constant literals). */
case class FdtTopK(child: Expression, indices: Seq[Int], k: Int)
  extends SketchEstimator with UnaryLike[Expression] {

  require(k > 0, "k must be positive")
  require(indices.nonEmpty, "at least one primary-key index is required")

  override def prettyName: String = "fdt_topk"
  override protected def label: String = "fdt sketch"
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("n_distinct", LongType, nullable = false))), containsNull = false)
  override protected def estimate(bytes: Any, unused: Any): Any = {
    val rows = FdtSketchFacade.topK(bytes.asInstanceOf[Array[Byte]], indices.toArray, k)
      .map { case (key, est) => InternalRow(UTF8String.fromString(key), est): Any }
    new GenericArrayData(rows.toArray)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
