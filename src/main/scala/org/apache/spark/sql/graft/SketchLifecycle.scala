/**
 * The lifecycle every graft sketch family shares: accumulate raw values
 * into a serialized sketch, combine sketches, estimate from a sketch.
 *
 * A family ([[SketchFamily]]) says how its state is created, updated,
 * merged and (de)serialized. Three generic aggregates run that lifecycle
 * inside Catalyst for every family: [[SketchAccumulate]] (rows ->
 * sketch), [[SketchCombine]] (sketches -> sketch) and [[SketchOneShot]]
 * (rows -> estimate). The scalar estimators share [[SketchEstimator]].
 *
 * Scale design notes:
 *   - The aggregates are `TypedImperativeAggregate`, so Spark plans them
 *     on `ObjectHashAggregateExec` with a partial/final split: each
 *     executor builds local sketches and only the bounded serialized
 *     image crosses the shuffle.
 *   - A family value carries its sketch parameters (algorithm, k, lgK,
 *     ...), resolved once from the session conf on the driver when the
 *     function is built and frozen into the plan; executors never read
 *     conf. Families are case classes, so equal parameters compare equal:
 *     expression canonicalization and summary matching rely on it.
 */
package org.apache.spark.sql.graft

import scala.util.control.NonFatal

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * One sketch family over state `B`. Implementations provide the state
 * algebra (`create`, `merge`, `toBytes`/`fromBytes`) and, unless the
 * family only combines (the intersections), `inputTypes` and `updater`.
 * The one-shot hooks default to emitting the serialized sketch.
 */
private[graft] trait SketchFamily[B] extends Serializable {
  /** Names the state in "Illegal input bytes for <label> state" warnings. */
  def label: String
  def create(): B
  def merge(buf: B, other: B): Unit
  def toBytes(buf: B): Array[Byte]
  def fromBytes(bytes: Array[Byte]): B

  /** Folds one serialized sketch into `buf`: the `_combine` update. */
  def combine(buf: B, bytes: Array[Byte]): Unit = merge(buf, fromBytes(bytes))

  /** What `_accumulate` and `_combine` return: the serialized sketch, or
   *  null for a group that holds no state (an intersection of nothing). */
  def result(buf: B): Array[Byte] = toBytes(buf)

  /** Accepted types of the `_accumulate` arguments. */
  def inputTypes: Seq[AbstractDataType] = Nil

  /** Folds one row into `buf`, given the analyzed argument types. `a` is
   *  the first argument and `b` the second (null for a one-argument
   *  function); a row with a null argument is skipped before it gets
   *  here. A constant second argument (a percentage) arrives too. */
  def updater(types: Seq[DataType]): (B, Any, Any) => Unit =
    throw new UnsupportedOperationException(s"$label state is not built from raw values")

  /** The family whose state fits the analyzed argument types; only frequent
   *  items, which keep longs in a LongsSketch, differ from `this`. */
  def forInput(types: Seq[DataType]): SketchFamily[B] = this

  /** Accepted types of the one-shot's arguments. */
  def oneShotInputTypes(args: Seq[Expression]): Seq[AbstractDataType] = inputTypes

  /** Checks the one-shot's constant arguments. */
  def checkArgs(args: Seq[Expression]): TypeCheckResult = TypeCheckSuccess

  def resultType(args: Seq[Expression]): DataType = BinaryType

  /** The one-shot's answer for a finished buffer. */
  def finisher(args: Seq[Expression]): B => Any = result

  /** The scalar estimate that answers this family's one-shot `args` from
   *  a combined sketch, so a registered summary can serve the one-shot. */
  def estimateFromSketch(sketch: Expression, args: Seq[Expression]): Option[Expression] = None
}

/** A sketch whose shape (the vector dimension) is learned from the first
 *  row it sees; null until then. */
private[graft] final class LazySketch[S](var sketch: S)

/** The buffer plumbing the three lifecycle aggregates share, and the
 *  raw-value update of `_accumulate` and the one-shots: nulls are
 *  skipped, not counted. */
private[graft] trait SketchAggregate[B] extends TypedImperativeAggregate[B]
  with ImplicitCastInputTypes {
  def family: SketchFamily[B]

  @transient protected lazy val state: SketchFamily[B] =
    family.forInput(children.map(_.dataType))

  override def nullable: Boolean = true
  override def createAggregationBuffer(): B = state.create()
  override def merge(buf: B, other: B): B = {
    state.merge(buf, other)
    buf
  }
  override def serialize(buf: B): Array[Byte] = state.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): B = state.fromBytes(bytes)

  @transient private lazy val updateRow = state.updater(children.map(_.dataType))
  @transient private lazy val second: Expression = children.lift(1).orNull

  override def update(buf: B, input: InternalRow): B = {
    val a = children.head.eval(input)
    if (a != null) {
      if (second == null) updateRow(buf, a, null)
      else {
        val b = second.eval(input)
        if (b != null) updateRow(buf, a, b)
      }
    }
    buf
  }
}

/**
 * `<family>_accumulate(...)`: raw values -> serialized sketch (BINARY).
 * The emitted bytes are a genuine sketch image: accumulate output,
 * shuffle format and combine input are one representation, so summary
 * tables can be persisted and re-aggregated.
 */
case class SketchAccumulate[B](
    children: Seq[Expression],
    family: SketchFamily[B],
    override val prettyName: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAggregate[B] {

  override def inputTypes: Seq[AbstractDataType] = family.inputTypes
  override def dataType: DataType = BinaryType
  override def eval(buf: B): Any = state.result(buf)

  override def withNewMutableAggBufferOffset(n: Int): SketchAccumulate[B] =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SketchAccumulate[B] =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SketchAccumulate[B] =
    copy(children = c)
}

/**
 * `<family>_combine(sketch)` (and the `_union` / `_intersect` variants):
 * serialized sketches -> one serialized sketch. Corrupt input bytes fail
 * the query (an invalid summary table is a data-integrity problem),
 * unlike the estimators, which return null.
 */
case class SketchCombine[B](
    child: Expression,
    family: SketchFamily[B],
    override val prettyName: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAggregate[B] with UnaryLike[Expression] with Logging {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType

  override def update(buf: B, input: InternalRow): B = {
    val bytes = child.eval(input).asInstanceOf[Array[Byte]]
    if (bytes != null) {
      try state.combine(buf, bytes)
      catch {
        case NonFatal(e) =>
          logWarning(s"Illegal input bytes for ${family.label} state")
          throw e
      }
    }
    buf
  }

  override def eval(buf: B): Any = state.result(buf)

  override def withNewMutableAggBufferOffset(n: Int): SketchCombine[B] =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SketchCombine[B] =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): SketchCombine[B] =
    copy(child = c)
}

/** One-shot sketch aggregate: raw values -> the family's estimate, e.g.
 *  `approx_percentile_ex(col, percentage)` or `reservoir_sample(col, k)`. */
case class SketchOneShot[B](
    children: Seq[Expression],
    family: SketchFamily[B],
    override val prettyName: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAggregate[B] {

  override def inputTypes: Seq[AbstractDataType] = family.oneShotInputTypes(children)
  override lazy val dataType: DataType = state.resultType(children)

  override def checkInputDataTypes(): TypeCheckResult = {
    val defaultCheck = super.checkInputDataTypes()
    if (defaultCheck.isFailure) defaultCheck else family.checkArgs(children)
  }

  @transient private lazy val finish = state.finisher(children)
  override def eval(buf: B): Any = finish(buf)

  override def withNewMutableAggBufferOffset(n: Int): SketchOneShot[B] =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SketchOneShot[B] =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SketchOneShot[B] =
    copy(children = c)
}

/**
 * Base of the scalar estimators over serialized sketches (one or two
 * arguments). A null argument gives null; bytes that do not decode give
 * null plus a warning, so a scan over a partially corrupt summary table
 * degrades instead of failing. Subclasses give their types, their
 * argument checks and the `estimate` body.
 */
private[graft] abstract class SketchEstimator extends Expression
  with ImplicitCastInputTypes with Logging {

  /** Names the state in "Illegal input bytes for <label> state" warnings. */
  protected def label: String

  /** The estimate from non-null arguments (`b` is null for a
   *  one-argument estimator); null when there is none. */
  protected def estimate(a: Any, b: Any): Any

  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)

  final def estimateOrNull(a: Any, b: Any): Any =
    try estimate(a, b)
    catch {
      case NonFatal(_) =>
        logWarning(s"Illegal input bytes for $label state")
        null
    }

  override def eval(input: InternalRow): Any = {
    val a = children.head.eval(input)
    if (a == null) null
    else if (children.length == 1) estimateOrNull(a, null)
    else {
      val b = children(1).eval(input)
      if (b == null) null else estimateOrNull(a, b)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("estimator", this, classOf[SketchEstimator].getName)
    val args = children.map(_.genCode(ctx))
    val boxed = args.zip(children).map { case (arg, c) =>
      if (CodeGenerator.isPrimitiveType(c.dataType)) {
        s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${arg.value})"
      } else arg.value.toString
    }
    val result = ctx.freshName("result")
    val call =
      s"""Object $result = $self.estimateOrNull(${(boxed :+ "null").take(2).mkString(", ")});
         |if ($result != null) {
         |  ${ev.isNull} = false;
         |  ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $result;
         |}""".stripMargin
    // like nullSafeCodeGen: a later argument is evaluated only when every
    // earlier one is non-null
    val body = args.foldRight(call) { (arg, inner) =>
      s"""${arg.code}
         |if (!${arg.isNull}) {
         |  $inner
         |}""".stripMargin
    }
    ev.copy(code = code"""
      boolean ${ev.isNull} = true;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      $body
    """)
  }
}

/** The percentage argument of the percentile functions: a constant
 *  fraction in [0, 1], or an array of them (the result is then an array). */
private[graft] object Percentages {
  def isArray(e: Expression): Boolean = e.dataType.isInstanceOf[ArrayType]

  def inputType(e: Expression): AbstractDataType =
    if (isArray(e)) ArrayType(DoubleType, containsNull = false) else DoubleType

  /** `t`, or an array of `t` for an array of percentages. */
  def shape(e: Expression, t: DataType): DataType =
    if (isArray(e)) ArrayType(t, containsNull = false) else t

  def values(e: Expression): Array[Double] = e.eval() match {
    case null => null
    case d: Double => Array(d)
    case arr: ArrayData => arr.toDoubleArray()
  }

  /** The first value, or all of them as an array, matching [[shape]]. */
  def pick(e: Expression, qs: Array[Any]): Any =
    if (isArray(e)) new GenericArrayData(qs) else qs.head

  def check(e: Expression): TypeCheckResult =
    if (!e.foldable) {
      TypeCheckFailure(s"The percentage(s) must be a constant literal, but got $e")
    } else {
      val ps = values(e)
      if (ps == null) {
        TypeCheckFailure("Percentage value must not be null")
      } else if (ps.exists(p => p < 0.0 || p > 1.0)) {
        TypeCheckFailure(s"Percentage(s) must be between 0.0 and 1.0, but got $e")
      } else {
        TypeCheckSuccess
      }
    }
}

/** A family whose one-shot is `f(col, percentage)`: the value(s) at the
 *  given ranks, null for an empty group. */
private[graft] trait PercentileOneShot[B] extends SketchFamily[B] {
  /** The one-shot's value type for a column of type `column`. */
  protected def valueType(column: DataType): DataType
  /** The values at `ranks` of a non-empty sketch over a `column` column. */
  protected def quantiles(column: DataType): (B, Array[Double]) => Array[Any]
  protected def isEmpty(buf: B): Boolean

  override def oneShotInputTypes(args: Seq[Expression]): Seq[AbstractDataType] =
    Seq(inputTypes.head, Percentages.inputType(args(1)))
  override def checkArgs(args: Seq[Expression]): TypeCheckResult = Percentages.check(args(1))
  override def resultType(args: Seq[Expression]): DataType =
    Percentages.shape(args(1), valueType(args.head.dataType))
  override def finisher(args: Seq[Expression]): B => Any = {
    val ranks = Percentages.values(args(1))
    val at = quantiles(args.head.dataType)
    buf => if (isEmpty(buf)) null else Percentages.pick(args(1), at(buf, ranks))
  }
}
