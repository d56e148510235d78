/**
 * String quantile SQL functions — order statistics over STRINGS (natural
 * codepoint ordering), which no numeric quantile family can express,
 * BEYOND the reference surface:
 *
 *   approx_percentile_str(col, percentage)  agg -> STRING (or
 *     ARRAY<STRING> for an array of percentages)
 *   approx_partition_bounds_str(col, n)     agg -> ARRAY<STRING>: n-1
 *     split keys for an n-way range partitioning by a string key
 *     (url/domain/doc-id) — the sorted-write planner for key types the
 *     numeric approx_partition_bounds cannot cover
 *
 * Classic mergeable ItemsSketch, k shared with the MERGEABLE numeric
 * family (`spark.sql.dataSketches.quantiles.mergeable.k` — same
 * algorithm, same error model), EXCLUSIVE search criterion, parameters
 * frozen driver-side.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sketches.StringQuantileFacade

/** String quantiles: the one-shots `approx_percentile_str(col,
 *  percentage)` and `approx_partition_bounds_str` (the builder passes
 *  evenly-spaced ranks). Null for an empty group. */
private[graft] case class StringQuantileFamily(k: Int)
  extends PercentileOneShot[StringQuantileFacade] {

  override def label: String = "string quantile sketch"
  override def create(): StringQuantileFacade = StringQuantileFacade.create(k)
  override def merge(buf: StringQuantileFacade, other: StringQuantileFacade): Unit =
    buf.merge(other)
  override def toBytes(buf: StringQuantileFacade): Array[Byte] = buf.toBytes
  override def fromBytes(bytes: Array[Byte]): StringQuantileFacade =
    StringQuantileFacade.fromBytes(k, bytes)

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def updater(types: Seq[DataType]): (StringQuantileFacade, Any, Any) => Unit =
    (buf, v, _) => buf.update(v.asInstanceOf[UTF8String].toString)

  override protected def valueType(column: DataType): DataType = StringType
  override protected def isEmpty(buf: StringQuantileFacade): Boolean = buf.isEmpty
  override protected def quantiles(
      column: DataType): (StringQuantileFacade, Array[Double]) => Array[Any] =
    (buf, ranks) => buf.quantiles(ranks).map(q => UTF8String.fromString(q): Any)
}
