/**
 * Matrix-shaped aggregates over embedding columns, BEYOND the reference
 * surface but in its exact lifecycle discipline (accumulate/combine/
 * estimate, mirroring `/root/reference/.../quantileSketches.scala`'s
 * Snowflake-style triple):
 *
 *   vec_gram_agg(vec)              one-shot agg -> ARRAY<DOUBLE> (d*d,
 *     row-major): the EXACT Gram matrix sum(v v') — covariance/PCA input
 *     computed in ONE distributed pass with map-side combine (state d^2
 *     doubles per group, merged by elementwise addition).
 *   fd_accumulate(vec, ell)        agg -> BINARY Frequent-Directions
 *     sketch: O(ell*d) state approximating the Gram with spectral error
 *     <= ||A||_F^2 / ell — the scale path when d^2 state is too large.
 *   fd_combine(sketch)             agg: merge FD images -> BINARY.
 *   fd_gram_estimate(sketch)       scalar: approximate Gram (d*d array).
 *   fd_singular_values(sketch)     scalar: squared singular values
 *     (descending, ell entries) of the sketch rows.
 *   fd_error_bound(sketch)         scalar: ||A||_F^2 / ell, the proven
 *     cap on any Gram-entry / spectral deviation.
 *
 * The vector dimension is inferred from the first row on each executor
 * and checked against every subsequent row (mismatched dims throw).
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.sketches.{FrequentDirections, GramAccumulator}

private[graft] object MatrixExprUtil {
  def toDoubles(a: ArrayData): Array[Double] = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = a.getDouble(i); i += 1 }
    out
  }
}

/** The exact Gram matrix of `vec_gram_agg`: d*d doubles merged by
 *  elementwise addition; d is learned from the first row. */
private[graft] case object GramFamily extends SketchFamily[LazySketch[GramAccumulator]] {
  override def label: String = "Gram"
  override def create(): LazySketch[GramAccumulator] = new LazySketch(null)
  override def merge(buf: LazySketch[GramAccumulator], other: LazySketch[GramAccumulator]): Unit =
    if (other.sketch != null) {
      if (buf.sketch == null) buf.sketch = GramAccumulator.create(other.sketch.d)
      buf.sketch.merge(other.sketch)
    }
  override def toBytes(buf: LazySketch[GramAccumulator]): Array[Byte] =
    if (buf.sketch == null) Array.emptyByteArray else buf.sketch.toBytes
  override def fromBytes(bytes: Array[Byte]): LazySketch[GramAccumulator] =
    new LazySketch(if (bytes.isEmpty) null else GramAccumulator.fromBytes(bytes))

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType, containsNull = false))
  override def updater(types: Seq[DataType]): (LazySketch[GramAccumulator], Any, Any) => Unit =
    (buf, v, _) => {
      val row = MatrixExprUtil.toDoubles(v.asInstanceOf[ArrayData])
      if (buf.sketch == null) buf.sketch = GramAccumulator.create(row.length)
      buf.sketch.update(row)
    }

  override def resultType(args: Seq[Expression]): DataType =
    ArrayType(DoubleType, containsNull = false)
  override def finisher(args: Seq[Expression]): LazySketch[GramAccumulator] => Any =
    buf => if (buf.sketch == null) null else new GenericArrayData(buf.sketch.gram)
}

/** Frequent-Directions sketches of `ell` rows: `fd_accumulate`,
 *  `fd_combine`. The vector dimension is learned from the first row, and
 *  a combine adopts each image's own ell, so a merged group keeps its
 *  input ell; `ell` only sizes sketches built from raw rows. An empty
 *  group emits null. */
private[graft] case class FdFamily(ell: Int) extends SketchFamily[LazySketch[FrequentDirections]] {
  override def label: String = "FD sketch"
  override def create(): LazySketch[FrequentDirections] = new LazySketch(null)
  override def merge(
      buf: LazySketch[FrequentDirections], other: LazySketch[FrequentDirections]): Unit =
    if (other.sketch != null) {
      if (buf.sketch == null) {
        buf.sketch = FrequentDirections.create(other.sketch.ell, other.sketch.d)
      }
      buf.sketch.merge(other.sketch)
    }
  override def combine(buf: LazySketch[FrequentDirections], bytes: Array[Byte]): Unit =
    merge(buf, new LazySketch(FrequentDirections.fromBytes(bytes)))
  override def result(buf: LazySketch[FrequentDirections]): Array[Byte] =
    if (buf.sketch == null) null else buf.sketch.toBytes
  override def toBytes(buf: LazySketch[FrequentDirections]): Array[Byte] =
    if (buf.sketch == null) Array.emptyByteArray else buf.sketch.toBytes
  override def fromBytes(bytes: Array[Byte]): LazySketch[FrequentDirections] =
    new LazySketch(if (bytes.isEmpty) null else FrequentDirections.fromBytes(bytes))

  // the ell literal is an argument too, so `fd_accumulate(v, 8)` keeps its name
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType, containsNull = false), IntegerType)
  override def updater(types: Seq[DataType]): (LazySketch[FrequentDirections], Any, Any) => Unit =
    (buf, v, _) => {
      val row = MatrixExprUtil.toDoubles(v.asInstanceOf[ArrayData])
      if (buf.sketch == null) buf.sketch = FrequentDirections.create(ell, row.length)
      buf.sketch.update(row)
    }
}

private[graft] object FdFamily {
  def resolveEll(e: Expression): Int = e match {
    case Literal(v, IntegerType) if v != null && v.asInstanceOf[Int] >= 2 =>
      v.asInstanceOf[Int]
    case _ => throw new IllegalArgumentException(
      "fd_accumulate: ell must be a constant integer >= 2")
  }
}

/** Shared scalar base: decode an FD image, null on corrupt bytes (the
 *  reference's estimator contract, `quantileSketches.scala:614-624`). */
private[graft] abstract class FdEstimator extends SketchEstimator with UnaryLike[Expression] {
  protected def compute(fd: FrequentDirections): Any

  override protected def label: String = "FD sketch"
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override protected def estimate(bytes: Any, unused: Any): Any =
    compute(FrequentDirections.fromBytes(bytes.asInstanceOf[Array[Byte]]))
}

/** `fd_gram_estimate(sketch)` -> ARRAY<DOUBLE> (d*d row-major B'B). */
case class FdGramEstimate(child: Expression) extends FdEstimator {
  override def prettyName: String = "fd_gram_estimate"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def compute(fd: FrequentDirections): Any = new GenericArrayData(fd.gram)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `fd_singular_values(sketch)` -> ARRAY<DOUBLE>, squared singular values
 *  of the sketch rows, descending, `ell` entries (zero-padded). */
case class FdSingularValues(child: Expression) extends FdEstimator {
  override def prettyName: String = "fd_singular_values"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def compute(fd: FrequentDirections): Any =
    new GenericArrayData(fd.squaredSingularValues)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `fd_error_bound(sketch)` -> DOUBLE: ||A||_F^2 / ell. */
case class FdErrorBound(child: Expression) extends FdEstimator {
  override def prettyName: String = "fd_error_bound"
  override def dataType: DataType = DoubleType
  override protected def compute(fd: FrequentDirections): Any = fd.frobeniusSquared / fd.ell
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
