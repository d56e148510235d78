package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.tools.OpRecord

/**
 * MinHash+LSH near-dup pairs give one answer in both regimes: driver-local
 * (the shingle sets fit `spark.sql.autoBroadcastJoinThreshold`) and
 * distributed (threshold off). The corpus plants near-dups among random
 * texts and carries the awkward rows: texts shorter than n words, empty,
 * whitespace-only and null texts, null ids and duplicate ids.
 */
class MinHashRegimeSuite extends AnyFunSuite with GraftSparkSession {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** 60 random texts of 20 to 49 words over a 40-word vocabulary, ids
   *  0 until 60; ids 1000 + i copy text i with a word appended (even i)
   *  or its first word changed (odd i), for i < 15. */
  private def planted(seed: Int): Seq[(Option[Long], Option[String])] = {
    val rnd = new scala.util.Random(seed)
    def text(words: Int) = Seq.fill(words)(s"w${rnd.nextInt(40)}").mkString(" ")
    val base = (0 until 60).map(i => i.toLong -> text(20 + rnd.nextInt(30)))
    val dups = base.take(15).map { case (i, t) =>
      (1000L + i, if (i % 2 == 0) t + " dup" else t.replaceFirst("w", "x"))
    }
    (base ++ dups).map { case (i, t) => (Option(i), Option(t)) }
  }

  /** [[planted]] plus every awkward row. */
  private def awkward(seed: Int): DataFrame = {
    import spark.implicits._
    val texts = planted(seed).toMap
    val extra = Seq[(Option[Long], Option[String])](
      // shorter than n = 5 words: a whole-text shingle, twice
      Some(2000L) -> Some("short text here"), Some(2001L) -> Some("short text here"),
      Some(2002L) -> Some("two words"),
      // empty and whitespace-only texts, which share the empty shingle
      Some(2010L) -> Some(""), Some(2011L) -> Some("   "), Some(2012L) -> Some(""),
      Some(2013L) -> Some("\t\n"),
      // null texts and null ids
      Some(2020L) -> None, Some(2021L) -> None, None -> texts(Some(4L)), None -> None,
      // duplicate ids: 3 again, near text 5; 1000 again, near text 0
      Some(3L) -> texts(Some(5L)).map(_ + " again"), Some(1000L) -> texts(Some(0L)))
    (planted(seed) ++ extra).toDF("doc_id", "text")
  }

  private def pairs(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
      r.getLong(2), r.getLong(3))).toSeq.sorted

  /** `body`'s value and the op record of the one minhash call it ran. */
  private def minhashRecord[T](body: => T): (T, OpRecord) = {
    val (out, snap) = instrumented(body)
    assert(snap.ops.map(_.op) === Seq("minhashLshPairs"), snap.ops)
    (out, snap.ops.head)
  }

  /** The pairs under the default threshold, checked local, and under the
   *  threshold off, checked distributed and equal. */
  private def sameInBothRegimes(df: DataFrame, numHashes: Int = 64, bands: Int = 16,
      num: Int = 4, den: Int = 5): Seq[(Long, Long, Long, Long)] = {
    def run() = {
      val out = Dedup.minhashLshPairs(df, "doc_id", "text", 5, numHashes, bands, num, den)
      (out.schema.map(f => (f.name, f.dataType)), pairs(out))
    }
    val (local, record) = minhashRecord(run())
    assert(record.regime === "local", record)
    val (dist, off) = withSQLConf(Threshold -> "-1")(minhashRecord(run()))
    assert((off.regime, off.reason) === ("distributed", "threshold off"))
    assert(local === dist)
    local._2
  }

  for ((num, den) <- Seq((1, 2), (4, 5)); (numHashes, bands) <- Seq((64, 16), (8, 8))) {
    test(s"local and distributed regimes agree ($num/$den, $numHashes hashes in $bands bands)") {
      Seq(1, 2).foreach { seed =>
        val df = awkward(seed)
        val got = sameInBothRegimes(df, numHashes, bands, num, den)
        val ids = got.map(p => (p._1, p._2)).toSet
        // the whole-text shingle of the short twins, the empty shingle
        assert(ids(2000L -> 2001L) && ids(2010L -> 2011L) && ids(2010L -> 2012L), got)
        // duplicate id 3 is near 5 as well as its first text's twin 1003
        assert(got.count(p => (p._1, p._2) == (3L, 1003L)) === 1, got)
        assert(ids(3L -> 5L), got)
        // the second row of id 1000 pairs 0 exactly; its first, 0 with " dup"
        assert(got.count(p => (p._1, p._2) == (0L, 1000L)) === 2, got)
        // null ids and null texts never pair
        assert(!ids.exists(p => Set(2020L, 2021L)(p._1) || Set(2020L, 2021L)(p._2)), got)
        // int ids give the same pairs
        assert(sameInBothRegimes(df.withColumn("doc_id", col("doc_id").cast("int")),
          numHashes, bands, num, den) === got)
      }
    }
  }

  test("string ids and legacy size-of-null keep the distributed plan") {
    val df = awkward(1)
    // string ids order "1003" before "3": compare the pairs unordered
    def unordered(ps: Seq[(Long, Long, Long, Long)]) =
      ps.map(p => (p._1.min(p._2), p._1.max(p._2), p._3, p._4)).sorted
    val (strings, record) = minhashRecord(
      pairs(Dedup.minhashLshPairs(df.withColumn("doc_id", col("doc_id").cast("string")), "doc_id", "text")
        .select(col("id_a").cast("long"), col("id_b").cast("long"), col("inter"), col("uni"))))
    assert((record.regime, record.reason) === ("distributed", "non-integral ids"))
    assert(unordered(strings) === unordered(sameInBothRegimes(df)))
    // where size(null) is -1, the distributed plan pairs null texts at num >= den
    val legacy = withSQLConf("spark.sql.ansi.enabled" -> "false")(minhashRecord(
      pairs(Dedup.minhashLshPairs(df, "doc_id", "text", num = 1, den = 1))))
    assert((legacy._2.regime, legacy._2.reason) === ("distributed", "legacy sizeOfNull"))
    assert(legacy._1.contains((2020L, 2021L, -1L, -1L)))
  }

  test("the gate takes shingle sets at exactly their charge and declines a byte less") {
    val df = awkward(3)
    val sizes = df.where(col("doc_id").isNotNull && col("text").isNotNull)
      .select(size(Dedup.shingleHashes(col("text"), 5))).collect().map(_.getInt(0))
    val charge = sizes.map(24L + 8L * _).sum
    def decision(t: Long) = withSQLConf(Threshold -> t.toString)(
      minhashRecord(Dedup.minhashLshPairs(df, "doc_id", "text"))._2)
    assert((decision(charge).regime, decision(charge).reason) ===
      ("local", s"shingles $charge bytes <= threshold $charge"))
    assert((decision(charge - 1).regime, decision(charge - 1).reason) ===
      ("distributed", s"shingles $charge bytes > threshold ${charge - 1}"))
  }

  test("a cluster of copies whose row pairs exceed the threshold keeps the distributed plan") {
    import spark.implicits._
    // 200 copies of one 10-word text: 6 shingles, 72 bytes a document, and
    // every band's bucket holds all 200 of them
    val df = (0L until 200L).map(_ -> "a b c d e f g h i j").toDF("doc_id", "text")
    val rowPairs = 200L * 199 / 2
    val bytes = 16 * 16 * rowPairs
    def run(t: Long) = withSQLConf(Threshold -> t.toString)(
      minhashRecord(pairs(Dedup.minhashLshPairs(df, "doc_id", "text"))))
    val (dist, declined) = run(bytes - 1)
    assert((declined.regime, declined.reason) ===
      ("distributed", s"pairs $bytes bytes > threshold ${bytes - 1}"))
    val (local, taken) = run(bytes)
    assert((taken.regime, taken.reason) === ("local", s"shingles ${200 * 72} bytes <= threshold $bytes"))
    assert(local === dist)
    assert(dist.length === rowPairs && dist.forall(p => p._1 < p._2 && p._3 == 6 && p._4 == 6))
  }

  test("the local regime runs a charge job and a collect, and caches nothing") {
    // read from parquet: a collect of a local relation would run no job
    withTempDir("graft_minhash") { path =>
      awkward(4).write.mode("overwrite").parquet(path)
      val df = spark.read.parquet(path)
      val cache = spark.sharedState.cacheManager
      cache.clearCache()
      val (out, snap) = instrumented(Dedup.minhashLshPairs(df, "doc_id", "text").collect())
      assert(out.nonEmpty)
      assert(snap.jobs === 2)
      assert(snap.ops.map(_.regime) === Seq("local"))
      assert(cache.isEmpty)
      // an entry for the same shingle sets taken earlier stays for its readers
      val earlier = df.select(col("doc_id").as("id"), Dedup.shingleHashes(col("text"), 5).as("sh")).cache()
      Dedup.minhashLshPairs(df, "doc_id", "text").collect()
      assert(earlier.storageLevel.useMemory)
      earlier.unpersist()
    }
  }
}
