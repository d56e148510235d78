package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Retrieval, TextIndex}

/** Persisted inverted text index: build-once/query-many BM25 with
  * partition-pruned bucket probes, bit-identical to the inline operator. */
class TextIndexSuite extends AnyFunSuite with GraftSparkSession {

  private val queries = Seq(1 -> "hash join table", 2 -> "slow scan filter")

  test("index query equals inline bm25TopK and physically prunes buckets") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val path = Files.createTempDirectory("graft_tidx").toString
    TextIndex.build(docs, "doc_id", "text", path, buckets = 16)

    val fromIndex = TextIndex.query(spark, path, queries, k = 10, buckets = 16)
    val inline = Retrieval.bm25TopK(docs, "doc_id", "text", queries, k = 10)
    val a = fromIndex.orderBy("qid", "rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val b = inline.orderBy("qid", "rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(a.nonEmpty && a.toSeq === b.toSeq)

    // pruning is physical: the postings scan carries a bucket partition
    // filter, so unprobed buckets' files are never read
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)

    // scoring never joins a documents table: the doc length rides the
    // postings (only index-internal scans appear in the plan)
    assert(!plan.contains("documents.parquet"), plan)
  }

  test("index stats match the corpus and empty-match queries return nothing") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val path = Files.createTempDirectory("graft_tidx2").toString
    TextIndex.build(docs, "doc_id", "text", path, buckets = 4)
    val stats = spark.read.parquet(s"$path/stats").collect()(0)
    assert(stats.getLong(0) === docs.count())
    val totalTokens = docs
      .agg(sum(size(split(trim(lower(col("text"))), "\\s+")))).collect()(0).getLong(0)
    assert(stats.getLong(1) === totalTokens)
    // a query of absent terms matches no documents
    val none = TextIndex.query(spark, path, Seq(9 -> "zzzz yyyy"), k = 5, buckets = 4)
    assert(none.count() === 0L)
  }

  test("append equals a fresh rebuild over the union") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val part1 = docs.where(col("doc_id") % 3 =!= 0)
    val part2 = docs.where(col("doc_id") % 3 === 0)
    val inc = Files.createTempDirectory("graft_tidx_inc").toString
    TextIndex.build(part1, "doc_id", "text", inc, buckets = 8)
    TextIndex.append(part2, "doc_id", "text", inc, buckets = 8)
    val full = Files.createTempDirectory("graft_tidx_full").toString
    TextIndex.build(docs, "doc_id", "text", full, buckets = 8)
    val a = TextIndex.query(spark, inc, queries, k = 10, buckets = 8)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val b = TextIndex.query(spark, full, queries, k = 10, buckets = 8)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(a.nonEmpty && a.toSeq === b.toSeq)
  }

  test("compact folds append generations into a fresh baseline") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val inc = Files.createTempDirectory("graft_tidx_cmp_src").toString
    TextIndex.build(docs.where(col("doc_id") % 2 === 0), "doc_id", "text", inc, buckets = 8)
    TextIndex.append(docs.where(col("doc_id") % 2 =!= 0), "doc_id", "text", inc, buckets = 8)
    val dst = Files.createTempDirectory("graft_tidx_cmp_dst").toString + "/idx"
    TextIndex.compact(spark, inc, dst)
    // one stats row, df rows unique per (bucket, term) after the fold
    assert(spark.read.parquet(s"$dst/stats").count() === 1L)
    val terms = spark.read.parquet(s"$dst/terms")
    assert(terms.count() === terms.select("bucket", "term").distinct().count())
    val a = TextIndex.query(spark, dst, queries, k = 10, buckets = 8)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val b = TextIndex.query(spark, inc, queries, k = 10, buckets = 8)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(a.nonEmpty && a.toSeq === b.toSeq)
    intercept[IllegalArgumentException] { TextIndex.compact(spark, inc, inc) }
  }

  test("an index persisting no bucket count answers explicit-bucket queries") {
    import spark.implicits._
    val docs = Seq(1L -> "hash join table scan", 2L -> "slow scan filter", 3L -> "join order",
      4L -> "table filter pushdown", 5L -> "hash table probe").toDF("doc_id", "text")
    val path = Files.createTempDirectory("graft_tidx_legacy").toString
    TextIndex.build(docs, "doc_id", "text", path, buckets = 8)
    def top(p: String) = TextIndex.query(spark, p, queries, k = 10, buckets = 8)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val expected = top(path)
    // the oldest layout: stats without the count and no meta/ directory
    val legacy = Files.createTempDirectory("graft_tidx_legacy2").toString
    Seq("postings", "terms").foreach { t =>
      spark.read.parquet(s"$path/$t").write.partitionBy("bucket").parquet(s"$legacy/$t")
    }
    spark.read.parquet(s"$path/stats").drop("buckets").write.parquet(s"$legacy/stats")
    assert(expected.nonEmpty && top(legacy) === expected)
    val e = intercept[IllegalArgumentException] {
      TextIndex.query(spark, legacy, queries, k = 10)
    }
    assert(e.getMessage.contains("persists no bucket count"), e.getMessage)
  }

  test("streaming ingestion: foreachBatch appends keep the index queryable") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val path = Files.createTempDirectory("graft_tidx_stream").toString
    TextIndex.build(b1.toSeq.toDF("doc_id", "text"), "doc_id", "text", path, buckets = 8)
    val input = MemoryStream[(Long, String)](spark)
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        TextIndex.append(batch, "doc_id", "text", path, buckets = 8)
      }
      .start()
    try {
      input.addData(b2.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = TextIndex.query(spark, path, queries, k = 10, buckets = 8)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val full = Files.createTempDirectory("graft_tidx_stream_full").toString
    TextIndex.build(docs.toSeq.toDF("doc_id", "text"), "doc_id", "text", full, buckets = 8)
    val expected = TextIndex.query(spark, full, queries, k = 10, buckets = 8)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(streamed.nonEmpty && streamed.toSeq === expected.toSeq)
  }
}
