package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSparkSession
import graft.sketches.{BloomSketchFacade, FdtSketchFacade, ThetaSketchFacade, TupleSketchFacade}

/**
 * The sketch algebra, property-tested for every family: splitting the
 * input across partitions and combining equals one accumulate (in each
 * family's exact regime), merge order does not matter, the serialized
 * image round-trips byte for byte, combiners reject corrupt bytes and
 * estimators answer NULL for them. Cases come from fixed seeds, so a
 * failure reproduces.
 */
class SketchFamilyLawsSuite extends AnyFunSuite with GraftSparkSession {
  import SketchFamilyLawsSuite._

  private def check(name: String, prop: Prop): Unit = {
    val params = Test.Parameters.default.withMinSuccessfulTests(40)
      .withInitialSeed(Seed(42L))
    val result = Test.check(params, prop)
    assert(result.passed, s"$name: ${Pretty.pretty(result, Pretty.Params(1))}")
  }

  /** An input, and a point to split it into two partitions. */
  private def split(law: Law[_]): Gen[(List[(Any, Any)], Int)] = for {
    n <- Gen.choose(0, law.maxRows)
    rows <- Gen.listOfN(n, law.row)
    at <- Gen.choose(0, n)
  } yield (rows, at)

  laws.foreach(law => lawTests(law))

  private def lawTests[B](law: Law[B]): Unit = {
    test(s"${law.name}: split accumulate then combine equals one accumulate") {
      check(law.name, Prop.forAll(split(law)) { case (rows, at) =>
        val f = law.family
        val combined = f.create()
        Seq(rows.take(at), rows.drop(at)).foreach { part =>
          Option(f.result(law.build(part))).foreach(f.combine(combined, _))
        }
        law.estimate(combined) == law.estimate(law.build(rows))
      })
    }

    test(s"${law.name}: merge order does not change the result") {
      check(law.name, Prop.forAll(split(law)) { case (rows, at) =>
        val f = law.family
        def partial(part: List[(Any, Any)]) = f.fromBytes(f.toBytes(law.build(part)))
        val (a, b) = (rows.take(at), rows.drop(at))
        val ab = partial(a)
        f.merge(ab, partial(b))
        val ba = partial(b)
        f.merge(ba, partial(a))
        val whole = law.estimate(law.build(rows))
        law.estimate(ab) == whole && law.estimate(ba) == whole
      })
    }

    test(s"${law.name}: toBytes / fromBytes round-trips") {
      check(law.name, Prop.forAll(split(law)) { case (rows, _) =>
        val f = law.family
        val sketch = law.build(rows)
        val bytes = f.toBytes(sketch)
        val back = f.fromBytes(bytes)
        law.estimate(back) == law.estimate(sketch) &&
          (!law.byteStable || f.toBytes(back).sameElements(bytes))
      })
    }

    test(s"${law.name}: combine throws on corrupt bytes") {
      check(law.name, Prop.forAll(corrupt) { bytes =>
        val f = law.family
        scala.util.Try(f.combine(f.create(), bytes)).isFailure
      })
    }
  }

  test("every estimator answers NULL on corrupt bytes, interpreted and generated") {
    import spark.implicits._
    val blobs = Iterator.from(0).flatMap(i => corrupt(Gen.Parameters.default, Seed(7L + i)))
      .take(30).toSeq.toDF("s")
    val estimates = estimators.map(e => s"$e IS NULL")
    // a local relation is evaluated by the interpreter; after a shuffle
    // the projection is generated code
    Seq(blobs, blobs.repartition(2)).foreach { df =>
      val flags = df.selectExpr(estimates: _*).collect()
      estimators.indices.foreach { i =>
        assert(flags.forall(_.getBoolean(i)), estimators(i))
      }
    }
  }

  test("a REQ image with a valid header and a bogus item count is rejected, not allocated") {
    import spark.implicits._
    val images = Seq(bogusReq(estimation = false), bogusReq(estimation = true))
    val df = images.toDF("s")
    val estimates = estimators.map(e => s"$e IS NULL")
    Seq(df, df.repartition(2)).foreach { d =>
      val flags = d.selectExpr(estimates: _*).collect()
      estimators.indices.foreach(i => assert(flags.forall(_.getBoolean(i)), estimators(i)))
    }
    intercept[Exception](df.selectExpr("approx_percentile_combine(s)").collect())
    for (image <- images; law <- laws) assert(combineFails(law, image), law.name)
  }

  private def combineFails[B](law: Law[B], bytes: Array[Byte]): Boolean =
    scala.util.Try(law.family.combine(law.family.create(), bytes)).isFailure
}

private object SketchFamilyLawsSuite {

  /** One family, a generator of its raw rows (or serialized sketches, for
   *  the intersections) and how many stay in its exact regime, how one
   *  row enters a buffer, and the estimate the laws compare. `byteStable`
   *  is false where the DataSketches serializer writes a decoded sketch
   *  differently (a rehashed table, a recomputed header count): there the
   *  round trip must keep the estimate, not the bytes. */
  final case class Law[B](
      name: String,
      family: SketchFamily[B],
      row: Gen[(Any, Any)],
      maxRows: Int,
      update: (B, (Any, Any)) => Unit,
      estimate: B => Any,
      byteStable: Boolean) {
    def build(rows: Seq[(Any, Any)]): B = {
      val buf = family.create()
      rows.foreach(update(buf, _))
      buf
    }
  }

  /** A family built from raw values of `types`. */
  def raw[B](name: String, family: SketchFamily[B], types: Seq[DataType],
      row: Gen[(Any, Any)], maxRows: Int, byteStable: Boolean = true)(
      estimate: B => Any): Law[B] = {
    val f = family.forInput(types)
    val up = f.updater(types)
    Law(name, f, row, maxRows, (buf: B, r: (Any, Any)) => up(buf, r._1, r._2), estimate,
      byteStable)
  }

  /** A family that only combines serialized sketches (an intersection). */
  def combining[B](name: String, family: SketchFamily[B], image: Gen[Array[Byte]],
      maxRows: Int, byteStable: Boolean = true)(estimate: Array[Byte] => Any): Law[B] =
    Law(name, family, image.map(b => (b, null)), maxRows,
      (buf: B, r: (Any, Any)) => family.combine(buf, r._1.asInstanceOf[Array[Byte]]),
      (buf: B) => Option(family.result(buf)).map(estimate), byteStable)

  private val word: Gen[UTF8String] = Gen.choose(0, 400).map(i => UTF8String.fromString(s"w$i"))
  private val one: Gen[(Any, Any)] = word.map(w => (w, null))
  private val small: Gen[(Any, Any)] = Gen.choose(-1000, 1000).map(i => (i.toDouble, null))
  private val vector: Gen[(Any, Any)] = Gen.listOfN(3, Gen.choose(-9, 9)).map { v =>
    (new GenericArrayData(v.map(_.toDouble).toArray), null)
  }
  private val ranks = Array(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0)

  /** Which of the words a serialized bloom filter may contain. */
  private def members(bytes: Array[Byte]): Seq[Boolean] = {
    val filter = BloomSketchFacade.wrapBytes(bytes)
    (0 to 400).map(i => filter.query(s"w$i"))
  }

  private def quantile(algo: String, k: Int, maxRows: Int, byteStable: Boolean = true) =
    raw(s"quantile $algo", QuantileFamily(algo, k), Seq(DoubleType), small, maxRows,
        byteStable) { s =>
      if (s.isEmpty) None else Some(s.quantiles(ranks).toSeq)
    }

  /** A set of words as a serialized sketch of `family`. */
  private def image[B](family: SketchFamily[B], row: Gen[(Any, Any)],
      types: Seq[DataType]): Gen[Array[Byte]] =
    Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, row)).map { rows =>
      val up = family.updater(types)
      val buf = family.create()
      rows.foreach(r => up(buf, r._1, r._2))
      family.toBytes(buf)
    }

  private val weighted: Gen[(Any, Any)] =
    for (w <- word; x <- Gen.choose(1, 9)) yield (w, x.toDouble)

  val laws: Seq[Law[_]] = Seq(
    quantile("KLL", 200, 150, byteStable = false),
    quantile("REQ", 12, 20, byteStable = false),
    quantile("MERGEABLE", 128, 200),
    raw("distinct CPC", DistinctFamily("CPC", 11), Seq(StringType), one, 200)(_.estimate),
    raw("distinct HLL", DistinctFamily("HLL", 12), Seq(StringType), one, 200,
        byteStable = false)(_.estimate),
    raw("freq strings", FreqFamily(1024), Seq(StringType), one, 300, byteStable = false) { s =>
      s.frequentItems.toSeq.sortBy(_._1.toString)
    },
    raw("freq longs", FreqFamily(1024), Seq(LongType),
        Gen.choose(0L, 50L).map(v => (v, null)), 300, byteStable = false) { s =>
      s.frequentItems.toSeq.sortBy(_._1.toString)
    },
    raw("theta", ThetaFamily(12), Seq(StringType), one, 300) { s =>
      ThetaSketchFacade.estimate(s.toBytes)
    },
    raw("tuple", TupleFamily("sum", 12), Seq(StringType, DoubleType), weighted, 300,
        byteStable = false) { s =>
      TupleSketchFacade.estimate(s.toBytes)
    },
    raw("bloom", BloomFamily(1000L, 0.01), Seq(StringType), one, 300, byteStable = false) { s =>
      members(s.toBytes)
    },
    raw("tdigest", TDigestFamily(200), Seq(DoubleType), small, 40) { s =>
      if (s.isEmpty) None else Some(ranks.map(s.getQuantile).toSeq)
    },
    raw("reservoir", ReservoirFamily(64), Seq(StringType), one, 64) { s =>
      (s.n, s.samples.sorted.toSeq)
    },
    raw("varopt", VarOptFamily(64), Seq(StringType, DoubleType), weighted, 64) { s =>
      (s.n, s.samples.sorted.toSeq)
    },
    raw("ebpps", EbppsFamily(64), Seq(StringType, DoubleType), word.map(w => (w, 1.0)), 64) { s =>
      (s.n, s.cumulativeWeight, s.samples.sorted.toSeq)
    },
    raw("fdt", FdtFamily(12), Seq(ArrayType(StringType)),
        for (g <- Gen.choose(0, 5); id <- Gen.choose(0, 50)) yield
          (new GenericArrayData(
            Array[Any](UTF8String.fromString(s"g$g"), UTF8String.fromString(s"id$id"))), null),
        200, byteStable = false) { s =>
      FdtSketchFacade.topK(s.toBytes, Array(0), 10).toSeq
    },
    raw("fd", FdFamily(16), Seq(ArrayType(DoubleType), IntegerType), vector, 16) { s =>
      Option(s.sketch).map(fd => (fd.gram.toSeq, fd.frobeniusSquared))
    },
    raw("gram", GramFamily, Seq(ArrayType(DoubleType)), vector, 200) { s =>
      Option(s.sketch).map(_.gram.toSeq)
    },
    raw("string quantile", StringQuantileFamily(128), Seq(StringType), one, 200) { s =>
      if (s.isEmpty) None else Some(s.quantiles(ranks).toSeq)
    },
    combining("theta intersection", ThetaIntersection(12),
        image(ThetaFamily(12), one, Seq(StringType)), 6)(ThetaSketchFacade.estimate),
    combining("tuple intersection", TupleIntersection("sum"),
        image(TupleFamily("sum", 12), weighted, Seq(StringType, DoubleType)), 6,
        byteStable = false) { b =>
      TupleSketchFacade.estimate(b)
    },
    combining("bloom intersection", BloomIntersection(1000L, 0.01),
        image(BloomFamily(1000L, 0.01), one, Seq(StringType)), 6)(members))

  /** Bytes no family decodes: text, or random bytes behind a zero byte. */
  val corrupt: Gen[Array[Byte]] = Gen.oneOf(
    Gen.const("not a sketch".getBytes("UTF-8")),
    Gen.choose(1, 64).flatMap(n => Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)))
      .map(bs => (0.toByte :: bs).toArray))

  /** A REQ image (k = 12) whose header is valid but whose one compactor
   *  claims nearly 2^31 items and carries four bytes of them; with
   *  `estimation`, the same compactor follows an estimation-mode header. */
  def bogusReq(estimation: Boolean): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(64).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put((if (estimation) 4 else 2).toByte).put(1.toByte).put(17.toByte).put(0.toByte)
      .putShort(12.toShort).put((if (estimation) 2 else 1).toByte).put(0.toByte)
    if (estimation) b.putLong(100L).putFloat(0f).putFloat(1f)
    b.putLong(0L).putFloat(12f).put(0.toByte).put(3.toByte).putShort(0.toShort)
      .putInt(Int.MaxValue - 8).putFloat(1f)
    java.util.Arrays.copyOf(b.array(), b.position())
  }

  /** Every scalar estimator over a sketch column `s`. */
  val estimators: Seq[String] = Seq(
    "approx_percentile_estimate(s, 0.5)", "approx_pmf_estimate(s, 4)",
    "approx_cdf_estimate(s, 4)", "approx_rank_estimate(s, 1.0D)",
    "approx_histogram_estimate(s, array(1.0D, 2.0D))", "approx_ks_distance(s, s)",
    "approx_emd_distance(s, s)", "approx_count_distinct_estimate(s)",
    "approx_freqitems_estimate(s)", "theta_estimate(s)", "theta_a_not_b(s, s)",
    "theta_intersect_pair(s, s)", "theta_union_pair(s, s)", "theta_containment(s, s)",
    "tuple_estimate(s)", "tuple_a_not_b(s, s)", "tdigest_estimate(s, 0.5D)",
    "tdigest_rank(s, 1.0D)", "reservoir_estimate(s)", "varopt_estimate(s)",
    "ebpps_estimate(s)", "fdt_topk(s, array(0), 1)", "fd_gram_estimate(s)",
    "fd_singular_values(s)", "fd_error_bound(s)", "bloom_might_contain(s, 'a')",
    "graft_might_contain(s, 1L)")
}
