/**
 * Native vector expressions for embedding similarity.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * `graft_dot(a, b)` — dot product of two `array<double>` columns with a
 * primitive loop (no per-element boxing / lambda dispatch, unlike
 * `aggregate(zip_with(...))`). Sequential left-to-right accumulation, so
 * results are bit-identical to the naive formulation and to DuckDB's
 * `list_dot_product`. Array elements must be non-null; sized by the
 * shorter input.
 */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  override def prettyName: String = "graft_dot"
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType, containsNull = false), ArrayType(DoubleType, containsNull = false))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/**
 * `graft_lsh_buckets(v, dim, bits, tables, seed)` — the random-hyperplane
 * LSH bucket ids of an `array<double>` vector: for each of `tables`
 * hash tables, project the vector onto `bits` Gaussian hyperplanes and
 * pack the sign pattern into a LONG bucket id of
 * `(table << bits) | signBits` (disjoint id ranges per table, so one
 * exploded column joins all tables at once). One fused primitive loop
 * over `tables * bits` planes replaces the `tables * bits` separate
 * dot-product expressions + per-bit string concatenation the composed
 * formulation needs — that expression tree inlines `tables * bits * dim`
 * literal doubles into codegen and overflows the JIT's method budget.
 * The plane matrix is drawn driver-side from `new scala.util.Random
 * (seed)` in table-major, bit-major, component-minor order (the same
 * stream the composed formulation drew), serialized with the expression.
 *
 * Cosine-LSH guarantee: two vectors at angle theta land in the same
 * bucket of one table with probability `(1 - theta/pi)^bits`; `tables`
 * independent tables make overall recall `1 - (1 - p)^tables`.
 */
case class LshBuckets(child: Expression, dim: Int, bits: Int, tables: Int, seed: Long)
  extends UnaryExpression with ImplicitCastInputTypes {

  require(dim > 0 && tables > 0, "dim and tables must be positive")
  require(bits > 0 && bits <= 56, "bits must be in [1, 56]") // leaves room for the table tag

  override def prettyName: String = "graft_lsh_buckets"
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType, containsNull = false))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  // Flattened [tables * bits * dim] plane matrix; rebuilt deterministically
  // on each executor after serialization (cheaper than shipping ~50KB of
  // doubles with every task binary).
  @transient private lazy val planes: Array[Double] = {
    val rng = new scala.util.Random(seed)
    Array.fill(tables * bits * dim)(rng.nextGaussian())
  }

  def compute(input: ArrayData): ArrayData = {
    val p = planes
    val n = math.min(input.numElements(), dim)
    val out = new Array[Long](tables)
    var t = 0
    var off = 0
    while (t < tables) {
      var acc = 0L
      var b = 0
      while (b < bits) {
        var dot = 0.0
        var i = 0
        while (i < n) {
          dot += input.getDouble(i) * p(off + i)
          i += 1
        }
        acc = (acc << 1) | (if (dot >= 0) 1L else 0L)
        off += dim
        b += 1
      }
      out(t) = (t.toLong << bits) | acc
      t += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshBuckets", this, classOf[LshBuckets].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `graft_nearest_cells(v, cents, nprobe)` — the `nprobe` nearest cell ids
 * for vector `v` over a packed centroid array
 * (`array<struct<cell: long, centroid: array<double>>>`), ordered by
 * cosine descending with ties broken on cell ascending.
 *
 * Replaces the `array_sort(cents, (l, r) -> <cosine comparator>)`
 * formulation on the k-means/IVF hot path: a lambda comparator is
 * CodegenFallback and Spark performs no CSE inside lambda bodies, so
 * every one of the O(nlist log nlist) comparisons re-evaluated up to
 * four boxed dot products AND re-derived each centroid's norm — measured
 * ~5 s PER LLOYD ITERATION at sf0.1 (2200 x 64-dim vectors, nlist=16)
 * vs milliseconds here. This pass computes each centroid's score
 * `dot(v, c) / sqrt(dot(c, c))` exactly once with primitive loops —
 * the identical arithmetic, so scores are bit-equal — then stable-sorts
 * the precomputed scores with the identical comparator (score desc,
 * NaNs comparing as ties, cell asc), reproducing the `array_sort`
 * output order exactly.
 */
case class NearestCells(vec: Expression, cents: Expression, nprobe: Int)
  extends BinaryExpression with ImplicitCastInputTypes {

  require(nprobe > 0, "nprobe must be positive")

  override def left: Expression = vec
  override def right: Expression = cents
  override def prettyName: String = "graft_nearest_cells"
  override def inputTypes: Seq[AbstractDataType] = Seq(
    ArrayType(DoubleType, containsNull = false),
    ArrayType(StructType(Seq(
      StructField("cell", LongType),
      StructField("centroid", ArrayType(DoubleType, containsNull = false)))),
      containsNull = false))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  /** The centroid list last unpacked into primitive arrays, with a copy
   *  of the list it came from: every row of a plan carries the same
   *  broadcast list, so it is unpacked once per task instead of per row.
   *  The list is matched by content, because a reused row buffer can hold
   *  a different list at the same address. One immutable snapshot, so
   *  concurrent callers at worst unpack twice. */
  @transient @volatile private var unpacked: (ArrayData, Array[Long], Array[Array[Double]]) = _

  def compute(v: ArrayData, cs: ArrayData): ArrayData = {
    var u = unpacked
    if (u == null || u._1 != cs) {
      val n = cs.numElements()
      val cells = new Array[Long](n)
      val centroids = new Array[Array[Double]](n)
      var i = 0
      while (i < n) {
        val row = cs.getStruct(i, 2)
        cells(i) = row.getLong(0)
        centroids(i) = row.getArray(1).toDoubleArray()
        i += 1
      }
      u = (cs.copy(), cells, centroids)
      unpacked = u
    }
    new GenericArrayData(NearestCells.nearest(v.toDoubleArray(), u._2, u._3, nprobe))
  }

  override def nullSafeEval(v: Any, cs: Any): Any =
    compute(v.asInstanceOf[ArrayData], cs.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCells", this, classOf[NearestCells].getName)
    defineCodeGen(ctx, ev, (v, cs) => s"$ref.compute($v, $cs)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(vec = l, cents = r)
}

object NearestCells {

  /**
   * The `nprobe` cells nearest `v`, best first: the one scoring and
   * ordering routine behind `graft_nearest_cells` and the driver-local
   * k-means, so both assign every vector alike. Centroid `i` is
   * `cents(i)` with id `cells(i)`; it scores `dot(v, c) / sqrt(dot(c, c))`
   * over the length both share. The order is the `array_sort`
   * comparator verbatim: score descending with NaN comparing as a tie
   * (both > and < false), then cell ascending. The sort is stable, so
   * where NaN ties make that order partial, the input order decides.
   * With no NaN score that order is total up to equal (score, cell)
   * pairs, so one nearest cell is the first best one, found by a scan.
   */
  def nearest(v: Array[Double], cells: Array[Long], cents: Array[Array[Double]],
      nprobe: Int): Array[Long] = {
    val n = cells.length
    val scores = new Array[Double](n)
    var anyNaN = false
    var i = 0
    while (i < n) {
      val cent = cents(i)
      val d = math.min(v.length, cent.length)
      var dotVC = 0.0
      var dotCC = 0.0
      var j = 0
      while (j < d) {
        val c = cent(j)
        dotVC += v(j) * c
        dotCC += c * c
        j += 1
      }
      scores(i) = dotVC / math.sqrt(dotCC)
      anyNaN ||= java.lang.Double.isNaN(scores(i))
      i += 1
    }
    if (nprobe == 1 && n > 0 && !anyNaN) {
      var best = 0
      i = 1
      while (i < n) {
        val s = scores(i)
        if (s > scores(best) || (s == scores(best) && cells(i) < cells(best))) best = i
        i += 1
      }
      Array(cells(best))
    } else {
      val idx = Array.tabulate[Integer](n)(Integer.valueOf)
      java.util.Arrays.sort(idx, (a: Integer, b: Integer) => {
        val sa = scores(a)
        val sb = scores(b)
        if (sa > sb) -1
        else if (sa < sb) 1
        else java.lang.Long.compare(cells(a), cells(b))
      })
      Array.tabulate(math.min(nprobe, n))(r => cells(idx(r)))
    }
  }
}

/**
 * `graft_int8_quantize(v)` — symmetric int8 quantization of an
 * `array<double>` vector in ONE primitive pass: scale = max(|x_i|)/127,
 * each component rounded to its nearest integer step (ties away from
 * zero, the `round` semantics of Spark and DuckDB alike), emitted as
 * integer-valued doubles so the quantized array feeds `graft_dot`
 * directly. The all-zero vector quantizes to all zeros; null elements
 * are treated as 0.0 in both the scale and output passes.
 *
 * Replaces the builtin-composed `transform(v, x -> round(x / scale))`
 * formulation: Spark performs no CSE inside lambda bodies, so the
 * embedded `array_max(transform(v, abs))` scale re-ran PER ELEMENT —
 * O(dim^2) work and one O(dim) array allocation per element (measured
 * ~5x on the quantized-KNN coarse pass at sf0.1) — and builtin `round`
 * on doubles allocates a BigDecimal per element besides.
 */
case class Int8Quantize(child: Expression)
  extends UnaryExpression with ImplicitCastInputTypes {

  override def prettyName: String = "graft_int8_quantize"
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType, containsNull = false))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true

  def compute(a: ArrayData): ArrayData = {
    // Spark's input-type check ignores element nullability, so arrays
    // with null elements DO reach here despite the declared
    // containsNull=false input type; treat them as 0.0 (no magnitude)
    // consistently in both passes — GenericArrayData would NPE and
    // UnsafeArrayData would silently read 0.0 otherwise.
    val n = a.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = math.abs(a.getDouble(i))
        if (v > maxAbs) maxAbs = v
      }
      i += 1
    }
    val out = new Array[Double](n)
    if (maxAbs > 0) {
      val scale = maxAbs / 127.0
      i = 0
      while (i < n) {
        if (a.isNullAt(i)) {
          out(i) = 0.0
        } else {
          val y = a.getDouble(i) / scale
          // round half away from zero, matching BigDecimal HALF_UP / DuckDB
          out(i) = if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)
        }
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("int8Quantize", this, classOf[Int8Quantize].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `graft_value_bucket(v, bounds)` — the number of elements of the
 * sorted literal `bounds` array that are <= `v`, by binary search:
 * assigns a row to its range-partition bucket given the split points
 * from `approx_partition_bounds`. O(log buckets) per row where the
 * equivalent `CASE WHEN v >= b_i ...` comparison chain is O(buckets)
 * and blows past codegen method limits at a few hundred split points —
 * this is what makes thousand-bucket range planning (global prefix
 * sums, byte-balanced output sharding) codegen-friendly.
 *
 * The bounds are frozen into the plan as a literal (model-in-plan, like
 * [[HashedBowScore]]'s weights); they must be sorted ascending.
 * Duplicate bounds are allowed (a degenerate sketch can repeat a split
 * point): the result is the count of bounds <= v, identical to the
 * comparison chain's.
 */
case class ValueBucket(child: Expression, bounds: Seq[Double])
  extends UnaryExpression with ImplicitCastInputTypes {

  require(bounds.nonEmpty, "bounds must be non-empty")
  require(bounds.zip(bounds.tail).forall { case (a, b) => a <= b },
    "bounds must be sorted ascending")

  override def prettyName: String = "graft_value_bucket"
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  @transient private lazy val bs: Array[Double] = bounds.toArray

  /** First index whose bound is > v (== count of bounds <= v). */
  def compute(v: Double): Int = {
    var lo = 0
    var hi = bs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bs(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[Double])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("valueBucket", this, classOf[ValueBucket].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `graft_bucket_index(bounds, v)` — the count of elements of the
 * SORTED `bounds` array that are <= `v`, by binary search, for bounds
 * computed AT RUNTIME (the one-row result of `approx_partition_bounds`
 * / `approx_partition_bounds_str` broadcast back over the table). The
 * literal-bounds case is [[ValueBucket]]; this variant exists because
 * a `size(filter(bounds, x -> x <= v))` formulation is a higher-order
 * function — CodegenFallback, interpreted with per-element boxing —
 * in exactly the per-row hot path where it hurts most.
 *
 * Works for any orderable atomic element type (double bounds for
 * numeric planning, string bounds for key-space planning), using the
 * element type's interpreted ordering: O(log n) comparisons per row.
 * Bounds must be sorted ascending with no null elements (sketch
 * outputs satisfy both); a null array or null value yields null.
 */
case class BucketIndex(left: Expression, right: Expression)
  extends BinaryExpression {

  override def prettyName: String = "graft_bucket_index"
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  @transient private lazy val elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  @transient private lazy val ordering: Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(elemType)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    left.dataType match {
      case ArrayType(et, _) if et.sameType(right.dataType) =>
        if (org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(et)) {
          TypeCheckResult.TypeCheckSuccess
        } else {
          TypeCheckResult.TypeCheckFailure(
            s"element type ${et.sql} is not orderable")
        }
      case other => TypeCheckResult.TypeCheckFailure(
        s"expected (array<T>, T), got (${other.sql}, ${right.dataType.sql})")
    }
  }

  def compute(bounds: ArrayData, v: Any): Int = {
    var lo = 0
    var hi = bounds.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ordering.lteq(bounds.get(mid, elemType), v)) lo = mid + 1 else hi = mid
    }
    lo
  }

  override def nullSafeEval(bounds: Any, v: Any): Any =
    compute(bounds.asInstanceOf[ArrayData], v)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bucketIndex", this, classOf[BucketIndex].getName)
    defineCodeGen(ctx, ev, (b, v) =>
      s"$ref.compute($b, (Object) $v)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * `graft_sparse_dot(keys_a, vals_a, keys_b, vals_b)` — dot product of two
 * SPARSE integer-weighted vectors given as aligned (sorted-key, value)
 * long-array pairs: one sorted-merge pass sums `vals_a[i] * vals_b[j]`
 * over matching keys. LONG arithmetic throughout — with fixed-point
 * integer weights the result is exact and order-independent, the
 * property the sparse-cosine oracle replay relies on.
 *
 * Replaces the per-term join + pair groupBy in candidate verification:
 * each document's term vector ships ONCE as two packed arrays and the
 * dot runs in-row inside codegen, instead of exploding candidates back
 * to term-level rows and re-aggregating.
 *
 * Keys must be sorted ascending and unique per vector (the term-hash
 * groupBy guarantees both); arrays of a pair must have equal length.
 */
case class SparseDot(
    keysA: Expression, valsA: Expression,
    keysB: Expression, valsB: Expression)
  extends QuaternaryExpression with ImplicitCastInputTypes {

  override def prettyName: String = "graft_sparse_dot"
  override def first: Expression = keysA
  override def second: Expression = valsA
  override def third: Expression = keysB
  override def fourth: Expression = valsB
  override def inputTypes: Seq[AbstractDataType] = Seq.fill(4)(
    ArrayType(LongType, containsNull = false))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  def compute(ka: ArrayData, va: ArrayData, kb: ArrayData, vb: ArrayData): Long = {
    val na = math.min(ka.numElements(), va.numElements())
    val nb = math.min(kb.numElements(), vb.numElements())
    var i = 0
    var j = 0
    var acc = 0L
    while (i < na && j < nb) {
      val x = ka.getLong(i)
      val y = kb.getLong(j)
      if (x == y) { acc += va.getLong(i) * vb.getLong(j); i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    acc
  }

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sparseDot", this, classOf[SparseDot].getName)
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"${ev.value} = $ref.compute($a, $b, $c, $d);")
  }

  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, d: Expression): Expression =
    copy(keysA = a, valsA = b, keysB = c, valsB = d)
}

/**
 * `graft_sorted_intersect(a, b)` — intersection of two SORTED unique
 * long arrays by one allocation-free merge pass (only the — typically
 * tiny — result allocates). The triangle-counting hot path: per edge,
 * intersect the two endpoints' sorted out-neighbor lists; `array_
 * intersect` builds a hash set of the larger side PER ROW, which
 * dominates the census wall-clock on million-edge graphs.
 *
 * Inputs must be sorted ascending and duplicate-free (the `sort_array
 * (collect_list(...))` adjacency build guarantees both); behavior on
 * unsorted input is undefined (merge semantics, no validation).
 */
case class SortedIntersect(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  override def prettyName: String = "graft_sorted_intersect"
  override def inputTypes: Seq[AbstractDataType] = Seq.fill(2)(
    ArrayType(LongType, containsNull = false))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  def compute(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[Any](math.min(na, nb).min(16))
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { out += x; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sortedIntersect", this, classOf[SortedIntersect].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
