package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted MinHash+LSH near-duplicate index: the deployment shape of
 * [[Dedup.minhashLshPairs]] for INCREMENTAL ingestion — the near-dup
 * sibling of [[IvfIndex]] / [[TextIndex]]. `build` shingles and signs
 * the corpus ONCE and writes banded LSH postings partitioned by key
 * bucket; `query` checks a batch of NEW documents against the indexed
 * corpus without re-shingling or re-shuffling it.
 *
 * This is the operation an at-scale pipeline actually runs: the corpus
 * is deduped once, then every incoming crawl batch must answer "is this
 * document a near-dup of ANYTHING already kept?" — re-running the
 * all-pairs self-join over corpus+batch costs O(corpus) per batch;
 * querying the index costs O(batch + touched slice).
 *
 * Layout at `path`:
 *   - `postings/` (band, key, id) partitioned by `bucket` = pmod(key,
 *     buckets) — key is the xxhash64 of the band's signature slice, the
 *     same 8-byte band key [[Dedup.minhashLshPairs]] self-joins on.
 *   - `shingles/` (id, sh) partitioned by `sbucket` = pmod(xxhash64(id),
 *     buckets) — each document's 8-byte shingle-hash set, kept so query
 *     hits are verified with EXACT Jaccard (not signature similarity);
 *     only candidate documents' rows are ever read back.
 *   - `meta/` one row (num_hashes, bands, shingle_n, buckets): query
 *     re-derives the signing parameters from the index itself, so a
 *     caller cannot accidentally probe with mismatched banding.
 *
 * Why it pays at 100 TB: a query batch's band keys hash into a bounded
 * set of buckets, so the postings scan is pruned at the parquet-file
 * level (static `bucket IN (...)` PartitionFilters, like the term
 * buckets of [[TextIndex]]); the batch side of both joins is broadcast
 * (an ingest batch is small by contract); and the exact-verify step
 * reads only the candidate documents' shingle rows via the same
 * bucket pruning. The indexed corpus is never shuffled — the only
 * full-corpus passes are the one-time `build` and O(batch) `append`s.
 *
 * Determinism: signatures come from the seeded `graft_minhash` family
 * and banding is positional, so build+query over a given split computes
 * the same candidate set as [[Dedup.minhashLshPairs]] over the union
 * restricted to cross pairs — and exact verification makes the OUTPUT
 * exactly the cross-split pairs with Jaccard >= num/den (modulo the
 * same vanishing band-miss probability q22 already pins green).
 */
object LshIndex {

  /** Banded LSH keys for signed documents: (id, band, key). */
  private def bandedKeys(
      sets: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    sets
      .select(col("id"), Dedup.minhashSignature(col("sh"), numHashes).as("sig"))
      .select(col("id"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows))))))
      .toDF("id", "band", "key")
  }

  private def prune(df: DataFrame, bucketCol: String, bs: Seq[Long]): DataFrame =
    if (bs.isEmpty) df.where(lit(false)) else df.where(col(bucketCol).isin(bs: _*))

  /** Build the index at `path` (overwrites). `buckets = 0` (the
   *  default) derives a scale-adaptive count from the corpus size
   *  estimate ([[graft.operators.adaptiveBuckets]]); the chosen count is
   *  persisted in `meta/`, so `query`/`append` follow automatically. */
  def build(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      n: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      buckets: Int = 0): Unit = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    require(buckets >= 0, "buckets must be positive (or 0 = derive)")
    val b = if (buckets == 0) adaptiveBuckets(corpus) else buckets
    write(corpus, idCol, textCol, path, n, numHashes, bands, b, "overwrite")
    val spark = corpus.sparkSession
    import spark.implicits._
    Seq((numHashes, bands, n, b))
      .toDF("num_hashes", "bands", "shingle_n", "buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /**
   * Incrementally index a batch of NEW documents: postings and shingle
   * rows append under the SAME banding parameters (read back from
   * `meta/`), so post-append queries see the union. O(batch) — existing
   * index bytes are never read or rewritten. Same ingestion contract as
   * [[IvfIndex.append]]: EXACTLY-ONCE per batch with fresh ids (the
   * partitioned append is not atomic across buckets; a replayed batch
   * double-indexes, surfacing as duplicate candidate rows).
   */
  def append(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      path: String): Unit = {
    val m = newDocs.sparkSession.read.parquet(s"$path/meta").collect()(0)
    write(newDocs, idCol, textCol, path,
      m.getAs[Int]("shingle_n"), m.getAs[Int]("num_hashes"),
      m.getAs[Int]("bands"), m.getAs[Int]("buckets"), "append")
  }

  private def write(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      n: Int,
      numHashes: Int,
      bands: Int,
      buckets: Int,
      mode: String): Unit = {
    withCached(Dedup.shingled(docs, idCol, textCol, n)) { sets =>
      // bucket-aligned files, as in TextIndex.build: without the
      // repartition every task emits a file per bucket it sees
      bandedKeys(sets, numHashes, bands)
        .withColumn("bucket", pmod(col("key"), lit(buckets.toLong)))
        .repartition(col("bucket"))
        .write.mode(mode).partitionBy("bucket").parquet(s"$path/postings")
      sets
        .withColumn("sbucket", pmod(xxhash64(col("id")), lit(buckets.toLong)))
        .repartition(col("sbucket"))
        .write.mode(mode).partitionBy("sbucket").parquet(s"$path/shingles")
    }
  }

  /**
   * Near-dup pairs between a batch of new documents and the indexed
   * corpus: (id_a = indexed id, id_b = query id, inter, uni) for pairs
   * with EXACT shingle Jaccard >= num/den — the cross-split slice of
   * [[Dedup.minhashLshPairs]]'s output schema. Within-batch duplicates
   * are NOT reported (run the inline operator on the batch for those);
   * batch ids present in the index match themselves and are filtered.
   */
  def query(
      spark: SparkSession,
      path: String,
      queryDocs: DataFrame,
      idCol: String,
      textCol: String,
      num: Int = 4,
      den: Int = 5): DataFrame = {
    val m = spark.read.parquet(s"$path/meta").collect()(0)
    val (n, numHashes, bands, buckets) =
      (m.getAs[Int]("shingle_n"), m.getAs[Int]("num_hashes"),
        m.getAs[Int]("bands"), m.getAs[Int]("buckets"))

    // batch-sized frames are cached across the probe collects and the
    // returned plan; long-lived sessions release them with
    // spark.catalog.clearCache()
    val qsets = Dedup.shingled(queryDocs, idCol, textCol, n).cache()
    val qkeys = bandedKeys(qsets, numHashes, bands)
      .toDF("qid", "band", "key")
      .withColumn("bucket", pmod(col("key"), lit(buckets.toLong)))
      .cache()
    // the probe set is <= `buckets` longs — bounded driver-side, like
    // the IVF probe cells and the text-index term buckets
    val kbuckets = qkeys.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val candidates = prune(spark.read.parquet(s"$path/postings"), "bucket", kbuckets)
      .join(broadcast(qkeys.select("qid", "band", "key")), Seq("band", "key"))
      .where(col("id") =!= col("qid"))
      .select(col("id"), col("qid"))
      .distinct()
      .cache()
    // candidate ids live in <= `buckets` shingle partitions; collecting
    // the DISTINCT bucket set stays bounded no matter the candidate count
    val cbuckets = candidates
      .select(pmod(xxhash64(col("id")), lit(buckets.toLong)).as("sbucket"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val iShingles = prune(spark.read.parquet(s"$path/shingles"), "sbucket", cbuckets)
      .join(candidates, Seq("id"))
    // qkeys is fully consumed: both its readers (the bucket collect and
    // the materialized `candidates`) have run
    qkeys.unpersist()
    iShingles
      .join(broadcast(qsets.select(col("id").as("qid"), col("sh").as("qsh"))), Seq("qid"))
      .withColumn("inter", size(array_intersect(col("sh"), col("qsh"))))
      .withColumn("uni", size(col("sh")) + size(col("qsh")) - col("inter"))
      .where(col("inter") * den >= col("uni") * num)
      .select(col("id").as("id_a"), col("qid").as("id_b"),
        col("inter").cast("long").as("inter"), col("uni").cast("long").as("uni"))
  }
}
