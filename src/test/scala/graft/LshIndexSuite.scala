package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, LshIndex}

/** Persisted MinHash+LSH near-dup index: build/append/query vs the inline operator. */
class LshIndexSuite extends AnyFunSuite with GraftSparkSession {

  private def crossParity(df: org.apache.spark.sql.DataFrame) = df
    .select(least(col("id_a"), col("id_b")).as("id_a"),
      greatest(col("id_a"), col("id_b")).as("id_b"), col("inter"), col("uni"))
    .orderBy("id_a", "id_b")

  test("index query equals the inline operator's cross-split pairs and prunes buckets") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    withTempDir("graft_lsh") { path =>
      LshIndex.build(docs.where(col("doc_id") % 2 === 0), "doc_id", "text", path)

      val fromIndex = crossParity(
        LshIndex.query(spark, path, docs.where(col("doc_id") % 2 === 1), "doc_id", "text"))
      // inline all-pairs over the union, restricted to cross-parity pairs —
      // both sides run the same banding and the same exact verification
      val inline = crossParity(
        Dedup.minhashLshPairs(docs, "doc_id", "text")
          .where(col("id_a") % 2 =!= col("id_b") % 2))
      val got = fromIndex.collect().toSeq
      assert(got === inline.collect().toSeq)
      assert(got.nonEmpty, "planted near-dups must straddle the parity split")

      // the postings scan carries static bucket partition filters
      val plan = LshIndex.query(spark, path,
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("bucket"))
    }
  }

  test("append extends the index: post-append query equals a fresh full build") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val third = (col("doc_id") % 3)
    withTempDir("graft_lsh_app") { appended =>
      LshIndex.build(docs.where(third === 0), "doc_id", "text", appended)
      LshIndex.append(docs.where(third === 1), "doc_id", "text", appended)

      withTempDir("graft_lsh_fresh") { fresh =>
        LshIndex.build(docs.where(third < 2), "doc_id", "text", fresh)

        val queryBatch = docs.where(third === 2)
        val a = crossParity(LshIndex.query(spark, appended, queryBatch, "doc_id", "text"))
        val f = crossParity(LshIndex.query(spark, fresh, queryBatch, "doc_id", "text"))
        assert(a.collect().toSeq === f.collect().toSeq)
      }
    }
  }

  test("query with no matching documents returns an empty frame, not an error") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    withTempDir("graft_lsh_empty") { path =>
      LshIndex.build(docs.where(col("doc_id") < 50), "doc_id", "text", path)
      val novel = Seq((900001L, "entirely novel text with no counterpart whatsoever in the index"))
        .toDF("doc_id", "text")
      assert(LshIndex.query(spark, path, novel, "doc_id", "text").count() === 0L)
    }
  }

  test("a failing build leaves no cached plan behind") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where(col("doc_id") < 50)
    val cache = spark.sharedState.cacheManager
    withTempDir("graft_lsh_fail") { dir =>
      // the index's parent is a regular file, so its first write fails
      val file = new java.io.File(dir, "file")
      assert(file.createNewFile())
      cache.clearCache()
      intercept[Exception](LshIndex.build(docs, "doc_id", "text", s"$file/index"))
      assert(cache.isEmpty)
    }
  }
}
