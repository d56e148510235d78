package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NearestCells
import org.apache.spark.util.SizeEstimator
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, DriverLocal, IvfIndex, LocalKmeans, Similarity}
import graft.tools.OpRecord

/**
 * The k-means quantizer behind IVF and semantic dedup gives one answer in
 * both regimes: driver-local (the corpus fits
 * `spark.sql.autoBroadcastJoinThreshold`) and distributed (threshold off).
 * Centroids must agree bit for bit, so every index file, probe and dedup
 * pair agrees too. The vectors are generated here, with components across
 * five orders of magnitude so the decimal means round at their 18th place.
 */
class IvfRegimeSuite extends AnyFunSuite with GraftSparkSession {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"
  private val Off = Threshold -> "-1"

  /** `n` vectors of `dim` components around 6 centres, ids 0 until n;
   *  component `j` is scaled by 10^-(j % 5). */
  private def corpus(n: Int = 240, dim: Int = 12, seed: Int = 3): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centres = Array.fill(6, dim)(rnd.nextGaussian())
    val rows = (0 until n).map { i =>
      val c = centres(i % centres.length)
      i.toLong -> Array.tabulate(dim)(j => (c(j) + 0.3 * rnd.nextGaussian()) * math.pow(10, -(j % 5)))
    }
    rows.toDF("id", "vec")
  }

  /** `body`'s value and the op record of the one k-means it ran. */
  private def kmeansRecord[T](body: => T): (T, OpRecord) = {
    val (out, snap) = instrumented(body)
    assert(snap.ops.map(_.op) === Seq("kmeans"), snap.ops)
    (out, snap.ops.head)
  }

  /** The regime of `body`'s one k-means. */
  private def regimeOf(body: => Any): String = kmeansRecord(body)._2.regime

  /** cell -> centroid bits, so -0.0 and NaN payloads count too. */
  private def bits(centroids: DataFrame): Map[Long, Seq[Long]] =
    centroids.collect().map { r =>
      r.getLong(0) -> r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits)
    }.toMap

  /** The centroids under the default threshold, with the record of the
   *  regime they took, and under the threshold off, checked distributed. */
  private def bothRegimes(df: DataFrame, nlist: Int, iters: Int): (DataFrame, OpRecord, DataFrame) = {
    val (local, record) = kmeansRecord(Similarity.kmeansCentroids(df, "vec", nlist, iters))
    val (dist, off) = withSQLConf(Off)(kmeansRecord(Similarity.kmeansCentroids(df, "vec", nlist, iters)))
    assert((off.regime, off.reason) === ("distributed", "threshold off"))
    (local, record, dist)
  }

  /** The outcome of `f`: its value, or the class and message of its error. */
  private def outcome[T](f: => T): Either[(String, String), T] =
    try Right(f) catch {
      case e: Exception =>
        val root = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last
        Left(root.getClass.getName -> String.valueOf(root.getMessage).takeWhile(_ != '\n'))
    }

  Seq((16, 3), (8, 3), (4, 2), (1, 1), (8, 0)).foreach { case (nlist, iters) =>
    test(s"kmeansCentroids: local centroids are the distributed ones bit for bit ($nlist/$iters)") {
      val (local, record, dist) = bothRegimes(corpus(), nlist, iters)
      assert(record.regime === "local")
      assert(record.rounds === iters)
      assert(local.schema.map(_.dataType) === dist.schema.map(_.dataType))
      val want = bits(dist)
      if (iters == 0) assert(want.size === nlist)
      assert(bits(local) === want)
    }
  }

  test("the gate charges what the rounds hold, and takes a corpus at exactly its charge") {
    val df = corpus(n = 2000, dim = 32)
    val charged = DriverLocal.charge(df -> LocalKmeans.bytesOf(col("vec"))).head.bytes.get
    assert(charged === 2000L * 24 + 2000L * 32 * 8)
    // the vectors are held as primitive arrays, not as boxed rows
    val (vecs, seeds) = LocalKmeans.collect(df, "vec", 16)
    assert(SizeEstimator.estimate(vecs) <= charged + 64)
    assert(seeds.length === 16)
    def gate(threshold: Long) = withSQLConf(Threshold -> threshold.toString)(
      kmeansRecord(Similarity.kmeansCentroids(df, "vec", 16, 1))._2)
    assert((gate(charged).regime, gate(charged).reason) ===
      ("local", s"vectors $charged bytes <= threshold $charged"))
    assert((gate(charged - 1).regime, gate(charged - 1).reason) ===
      ("distributed", s"vectors $charged bytes > threshold ${charged - 1}"))
  }

  test("build writes the same index in both regimes, locally in at most 5 jobs") {
    withTempDir("graft_ivf_local")(local => withTempDir("graft_ivf_dist")(dist => buildBoth(local, dist)))
  }

  private def buildBoth(local: String, dist: String): Unit = {
    val vecs = corpus()
    val queries = vecs.where(col("id") % 20 === 0)
    val (_, built) = instrumented(IvfIndex.build(vecs, "id", "vec", local, nlist = 16, kmeansIters = 3))
    assert(built.jobs <= 5, s"${built.jobs} jobs")
    assert(built.ops.map(r => (r.op, r.regime, r.rounds)) === Seq(("kmeans", "local", 3)))
    assert(withSQLConf(Off)(regimeOf(
      IvfIndex.build(vecs, "id", "vec", dist, nlist = 16, kmeansIters = 3))) === "distributed")

    assert(bits(spark.read.parquet(s"$local/centroids")) ===
      bits(spark.read.parquet(s"$dist/centroids")))
    def cells(p: String) = spark.read.parquet(s"$p/cells")
      .select("id", "cell", "vec").orderBy("id").collect().toSeq
    assert(cells(local) === cells(dist))
    // one parquet file per cell
    val dirs = new java.io.File(s"$local/cells").listFiles().filter(_.isDirectory)
    assert(dirs.length > 1)
    dirs.foreach(d => assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1, d))

    def ranked(df: DataFrame) = df.orderBy("query_id", "rk").collect().toSeq
    val fromLocal = ranked(IvfIndex.query(spark, local, queries, "id", "vec", k = 3, nprobe = 4))
    assert(fromLocal.nonEmpty)
    assert(fromLocal === ranked(IvfIndex.query(spark, dist, queries, "id", "vec", k = 3, nprobe = 4)))
    assert(fromLocal === ranked(
      Similarity.ivfKnn(vecs, queries, "id", "vec", k = 3, nlist = 16, nprobe = 4)))
  }

  test("build leaves no cache entry behind in either regime") {
    val vecs = corpus()
    val cache = spark.sharedState.cacheManager
    Seq(None, Some(Off)).foreach { conf =>
      cache.clearCache()
      withTempDir("graft_ivf_cache") { path =>
        conf.fold(IvfIndex.build(vecs, "id", "vec", path, nlist = 8))(c =>
          withSQLConf(c)(IvfIndex.build(vecs, "id", "vec", path, nlist = 8)))
      }
      assert(cache.isEmpty, s"threshold ${conf.fold("default")(_._2)}")
    }
  }

  test("query plus collect leaves no cache entry behind on an index from either regime") {
    val vecs = corpus()
    val cache = spark.sharedState.cacheManager
    Seq(None, Some(Off)).foreach { conf =>
      withTempDir("graft_ivf_query_cache") { path =>
        conf.fold(IvfIndex.build(vecs, "id", "vec", path, nlist = 8))(c =>
          withSQLConf(c)(IvfIndex.build(vecs, "id", "vec", path, nlist = 8)))
        cache.clearCache()
        assert(IvfIndex.query(spark, path, vecs.where(col("id") % 20 === 0), "id", "vec", k = 3)
          .collect().nonEmpty)
        assert(cache.isEmpty, s"threshold ${conf.fold("default")(_._2)}")
      }
    }
  }

  test("ivfKnn and semanticDedup agree across regimes and cache nothing locally") {
    val vecs = corpus(n = 180, dim = 8, seed = 11)
    // planted near-copies, so dedup has pairs to find
    val planted = vecs.where(col("id") < 12)
      .select((col("id") + 1000).as("id"), transform(col("vec"), x => x * 1.0000001).as("vec"))
    val all = vecs.unionByName(planted)
    val queries = vecs.where(col("id") % 15 === 0)
    val cache = spark.sharedState.cacheManager
    Seq((16, 3), (4, 2), (1, 1)).foreach { case (nlist, iters) =>
      def knn() = Similarity.ivfKnn(all, queries, "id", "vec", k = 4, nlist = nlist,
        nprobe = 2, kmeansIters = iters).orderBy("query_id", "rk").collect().toSeq
      def dedup() = Dedup.semanticDedup(all, "id", "vec", threshold = 0.9999, nlist = nlist,
        kmeansIters = iters).orderBy("removed_id").collect().toSeq
      cache.clearCache()
      val local = knn()
      assert(cache.isEmpty, s"ivfKnn $nlist/$iters")
      assert(local === withSQLConf(Off)(knn()), s"ivfKnn $nlist/$iters")
      cache.clearCache()
      val localDedup = dedup()
      assert(localDedup.nonEmpty)
      assert(localDedup === withSQLConf(Off)(dedup()), s"semanticDedup $nlist/$iters")
    }
    cache.clearCache()
  }

  test("edge corpora: empty, fewer distinct vectors than nlist, duplicates, mixed lengths") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def v(d: Int) = Array.fill(d)(rnd.nextGaussian())
    val few = Seq.fill(4)(v(6))
    val cases = Seq(
      "empty" -> Seq.empty[Array[Double]],
      "fewer distinct than nlist" -> (0 until 20).map(i => few(i % 4)),
      "duplicates" -> (few ++ few ++ few.take(2) ++ Seq.fill(10)(v(6))),
      "mixed lengths" -> (Seq.fill(15)(v(6)) ++ Seq.fill(15)(v(9)) ++ Seq.fill(5)(v(2))),
      "some empty vectors" -> (Seq.fill(20)(v(5)) ++ Seq.fill(4)(Array.empty[Double])))
    cases.foreach { case (name, vs) =>
      val df = vs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("id", "vec")
      Seq((16, 3), (3, 2), (1, 1), (4, 0)).foreach { case (nlist, iters) =>
        val (local, record, dist) = bothRegimes(df, nlist, iters)
        assert(record.regime === "local", s"$name $nlist/$iters")
        assert(bits(local) === bits(dist), s"$name $nlist/$iters")
      }
    }
  }

  test("equal scores go to the smaller cell, so a duplicate seed's cell drops out") {
    import spark.implicits._
    val df = Seq(Array(1.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.5))
      .zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("id", "vec")
    val seeds = bits(Similarity.kmeansCentroids(df, "vec", 4, 0))
    val dup = seeds.groupBy(_._2).collectFirst { case (_, cs) if cs.size == 2 => cs.keys.toSeq.sorted }
      .getOrElse(fail(s"no duplicate seed pair in $seeds"))
    Seq(None, Some(Off)).foreach { conf =>
      def run() = bits(Similarity.kmeansCentroids(df, "vec", 4, 1))
      val got = conf.fold(run())(c => withSQLConf(c)(run()))
      assert(got.keySet === seeds.keySet - dup(1), conf)
    }
  }

  test("nearest cells: equal scores by ascending cell, NaN scores in stable-sort order") {
    val v = Array(1.0, 0.0)
    val cells = Array(3L, 1L, 2L)
    // three equal scores, listed out of cell order
    val same = Array(Array(1.0, 0.0), Array(2.0, 0.0), Array(3.0, 0.0))
    assert(NearestCells.nearest(v, cells, same, 3).toSeq === Seq(1L, 2L, 3L))
    assert(NearestCells.nearest(v, cells, same, 1).toSeq === Seq(1L))
    // cell 1's zero centroid scores NaN, which ties with every score: the
    // stable sort leaves it ahead of cell 2, and cell 2 ahead of cell 3
    val zero = Array(Array(1.0, 0.0), Array(0.0, 0.0), Array(2.0, 0.0))
    assert(NearestCells.nearest(v, cells, zero, 3).toSeq === Seq(1L, 2L, 3L))
    assert(NearestCells.nearest(v, cells, zero, 1).toSeq === Seq(1L))
  }

  test("a cell whose members are all empty arrays drops out in both regimes") {
    import spark.implicits._
    val df = Seq.fill(5)(Array.empty[Double]).zipWithIndex
      .map { case (x, i) => (i.toLong, x) }.toDF("id", "vec")
    // one round: every member of the one live cell is empty, so none is
    // left, and the local regime declines
    val (local, record, dist) = bothRegimes(df, 3, 1)
    assert((record.regime, record.reason) === ("distributed", "a round left no centroid"))
    assert(bits(local).isEmpty && bits(dist).isEmpty)
    // a second round over no centroid: the local regime declines, and both
    // give Spark's answer
    val again = outcome(bits(Similarity.kmeansCentroids(df, "vec", 3, 2)))
    assert(again === outcome(withSQLConf(Off)(bits(Similarity.kmeansCentroids(df, "vec", 3, 2)))))
  }

  test("a null, NaN or out-of-range element keeps the distributed plan") {
    import spark.implicits._
    val base = corpus(n = 40, dim = 4).as[(Long, Array[Double])].collect().toSeq
    val bad: Seq[(String, Seq[(Long, Array[java.lang.Double])])] = Seq(
      "null element" -> Seq(41L -> Array[java.lang.Double](1.0, null, 0.5, 0.5)),
      "NaN element" -> Seq(41L -> Array[java.lang.Double](1.0, Double.NaN, 0.5, 0.5)),
      "1e12 element" -> Seq(41L -> Array[java.lang.Double](1e12, 1.0, 0.5, 0.5)),
      "null vector" -> Seq(41L -> null))
    bad.foreach { case (name, extra) =>
      val df = (base.map { case (i, x) => i -> x.map(Double.box) } ++ extra).toDF("id", "vec")
      Seq((4, 2), (8, 0)).foreach { case (nlist, iters) =>
        val (local, record) = kmeansRecord(Similarity.kmeansCentroids(df, "vec", nlist, iters))
        assert((record.regime, record.reason) === ("distributed", "a null, NaN or out-of-range element"),
          name)
        val got = outcome(bits(local))
        assert(got === outcome(withSQLConf(Off)(
          bits(Similarity.kmeansCentroids(df, "vec", nlist, iters)))), s"$name $nlist/$iters")
      }
    }
  }
}
