package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Persisted inverted text index: the deployment shape of
 * [[Retrieval.bm25TopK]] for a corpus queried many times — the
 * text-retrieval sibling of [[IvfIndex]]. `build` tokenizes the corpus
 * ONCE and writes length-normalized posting lists PARTITIONED BY TERM
 * BUCKET; `query` reads back only the buckets its terms hash into.
 *
 * Layout at `path`:
 *   - `postings/` (term, id, tf, dl) partitioned by `bucket` =
 *     pmod(xxhash64(term), buckets) — the doc length rides every posting
 *     (classic norm denormalization), so scoring never joins a documents
 *     table.
 *   - `terms/` (term, df) partitioned by `bucket` — per-term document
 *     frequencies, aggregated at build time.
 *   - `stats/` one row per generation (n_docs, tot_tokens, buckets) —
 *     the bucket count rides the stats so readers resolve ALL index
 *     metadata with a single tiny read (pre-r12 indexes kept it in a
 *     separate `meta/` parquet, still honored on read).
 *
 * Why it pays at 100 TB: a query batch touches |query terms| buckets of
 * `buckets` total — static `bucket IN (...)` partition filters prune at
 * the parquet-file level (visible as PartitionFilters), and the `term
 * IN (...)` predicate pushes into the scan of just those buckets. The
 * index itself is the aggregated (term, doc) matrix — large, but built
 * with one map-side-combined aggregation and never rescanned at query
 * time beyond the probed slice.
 *
 * Scoring is IDENTICAL to [[Retrieval.bm25TopK]] — the same BIGINT
 * fixed-point BM25 (quantized-ln idf, exact-rational tf factor,
 * integral division), so a built index answers queries bit-for-bit like
 * the inline operator and shares its DuckDB oracle.
 */
object TextIndex {

  private val IdfScale = 1000000.0
  private val FpScale = 22000L

  /** One driver-side row of index metadata: corpus stats aggregated
   *  across append generations, plus the persisted bucket count (None for
   *  an index that persists none — its callers pass explicit buckets). */
  private case class IndexStats(nDocs: Long, totTokens: Long, buckets: Option[Int]) {
    def bucketCount(path: String): Int = buckets.getOrElse(throw new IllegalArgumentException(
      s"index at $path persists no bucket count (neither in stats nor " +
        "in a legacy meta/ directory) — pass an explicit buckets " +
        "argument or rebuild the index"))
  }

  /**
   * Read the index's stats table ONCE (it is needed driver-side anyway:
   * the bucket count keys the client-side probe hashing, exactly like
   * any index lookup needs its keys on the coordinator). The bucket
   * count rides the stats parquet since r12 — its own `meta/` file was
   * a second tiny parquet read (footer + job) on EVERY query/append.
   * Legacy layout (pre-r12 `meta/` directory) is still read; an index
   * with neither fails with an actionable message instead of a raw
   * parquet path error downstream, but only where the count is needed.
   */
  private def readStats(spark: SparkSession, path: String): IndexStats = {
    val raw = spark.read.parquet(s"$path/stats")
    val withB =
      if (raw.columns.contains("buckets")) raw
      else raw.withColumn("buckets", lit(null).cast("int"))
    val r = withB.agg(
      sum(col("n_docs")).as("n_docs"),
      sum(col("tot_tokens")).as("tot_tokens"),
      max(col("buckets")).as("buckets")).collect()(0)
    val b =
      if (!r.isNullAt(2)) Some(r.getInt(2))
      else scala.util.Try(
        spark.read.parquet(s"$path/meta").collect()(0).getAs[Int]("buckets")).toOption
    IndexStats(r.getLong(0), r.getLong(1), b)
  }

  private def resolveBuckets(spark: SparkSession, path: String, buckets: Int): Int = {
    require(buckets >= 0, "buckets must be positive (or 0 = read from the index stats)")
    if (buckets == 0) readStats(spark, path).bucketCount(path) else buckets
  }

  /** Build the index at `path` from scratch (overwrites). `buckets = 0`
   *  (the default) derives a scale-adaptive count from the corpus size
   *  estimate ([[graft.operators.adaptiveBuckets]]) and persists it in
   *  the stats row; `append`/`query`/`compact` with `buckets = 0` read
   *  it back. */
  def build(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      buckets: Int = 0): Unit = {
    require(buckets >= 0, "buckets must be positive (or 0 = derive)")
    write(corpus, idCol, textCol, path, if (buckets == 0) adaptiveBuckets(corpus) else buckets,
      "overwrite")
  }

  /** Writes `corpus`'s postings, per-term df rows and stats row into
   *  `b` buckets with save `mode`: a new index, or one more generation. */
  private def write(corpus: DataFrame, idCol: String, textCol: String, path: String, b: Int,
      mode: String): Unit = {
    val toks = corpus.select(col(idCol).as("id"),
        TextOps.words(col(textCol)).as("ws"))
      .select(col("id"), size(col("ws")).cast("long").as("dl"),
        explode(col("ws")).as("term"))
    withCached(toks.groupBy("term", "id", "dl").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(b.toLong)))) { postings =>
      // bucket-aligned files: without the repartition every write task
      // emits a file per bucket it sees (tasks x buckets small files);
      // aligned, each bucket directory gets contiguous files
      postings.repartition(col("bucket")).write.mode(mode).partitionBy("bucket")
        .parquet(s"$path/postings")
      postings.groupBy("bucket", "term").agg(count(lit(1)).as("df"))
        .write.mode(mode).partitionBy("bucket").parquet(s"$path/terms")
      // corpus stats from the postings themselves: n_docs counts distinct
      // posting docs (== docs with at least one token), tot_tokens sums tf.
      // The bucket count rides this row — one table serves both purposes,
      // so query/append pay one metadata read instead of two
      postings.agg(countDistinct(col("id")).as("n_docs"),
          sum(col("tf")).as("tot_tokens"))
        .withColumn("buckets", lit(b))
        .write.mode(mode).parquet(s"$path/stats")
    }
  }

  /**
   * Incrementally index a batch of NEW documents without touching the
   * existing index bytes: the batch's postings and per-term df rows
   * append as additional generations, and the stats table gains one
   * more row — [[query]] aggregates across generations (df summed per
   * term, stats summed), so answers after an append equal a fresh
   * rebuild over the union. O(batch), like [[IvfIndex.append]].
   *
   * Ingestion contract: EXACTLY-ONCE per batch, and batch ids must be
   * new — a replayed batch double-counts its postings and stats (the
   * same non-atomic partitioned-append caveat as the IVF index;
   * periodic rebuilds re-baseline).
   */
  def append(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      buckets: Int = 0): Unit = {
    write(corpus, idCol, textCol, path, resolveBuckets(corpus.sparkSession, path, buckets), "append")
  }

  /**
   * Re-baseline an appended index: fold every generation of `src` into
   * a single-generation index at `dst` (terms' dfs summed, stats rows
   * collapsed, postings rewritten bucket-aligned). Appends accumulate
   * small per-batch files and extra df/stats rows; periodic compaction
   * restores build-fresh layout without re-tokenizing the corpus — one
   * pass over the index bytes, the corpus is never touched. `dst` must
   * differ from `src` (the standard swap-after-write pattern; an
   * in-place overwrite would delete inputs mid-read).
   */
  def compact(spark: SparkSession, src: String, dst: String): Unit = {
    require(src != dst, "compact writes a fresh baseline: dst must differ from src")
    // the bucketing parameter travels with the stats row; readStats
    // resolves it from either layout (including a legacy src whose count
    // only lives in meta/). A src that persists NO count — a pre-meta
    // index whose callers pass explicit buckets everywhere — still
    // compacts; its dst then reports the actionable missing-count error
    // on a buckets=0 read, and explicit-buckets reads keep working.
    val srcBuckets = readStats(spark, src).buckets
    spark.read.parquet(s"$src/postings")
      .repartition(col("bucket")).write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dst/postings")
    spark.read.parquet(s"$src/terms")
      .groupBy("bucket", "term").agg(sum(col("df")).as("df"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dst/terms")
    val folded = spark.read.parquet(s"$src/stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot_tokens")).as("tot_tokens"))
    srcBuckets.fold(folded)(b => folded.withColumn("buckets", lit(b)))
      .write.mode("overwrite").parquet(s"$dst/stats")
  }

  /**
   * BM25 top-k against a built index for a literal query set — same
   * signature and same fixed-point scores as [[Retrieval.bm25TopK]].
   * Returns (qid, rank, id, score_fp).
   */
  def query(
      spark: SparkSession,
      path: String,
      queries: Seq[(Int, String)],
      k: Int,
      buckets: Int = 0): DataFrame = {
    require(queries.nonEmpty, "at least one query is required")
    require(k > 0, "k must be positive")
    require(buckets >= 0, "buckets must be positive (or 0 = read from the index stats)")
    // one metadata read serves both the bucket count (drives the
    // client-side probe hashing) and the corpus stats (n_docs /
    // tot_tokens enter the scoring as LITERALS — the former stats
    // crossJoin was a second read of the same table plus a broadcast
    // on every query)
    val st = readStats(spark, path)
    val b = if (buckets == 0) st.bucketCount(path) else buckets
    def termsOf(q: String): Seq[String] =
      q.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
        .filter(_.nonEmpty).distinct.toSeq
    val qTerms: Seq[(Int, String)] =
      queries.flatMap { case (qid, q) => termsOf(q).map(qid -> _) }
    val allTerms = qTerms.map(_._2).distinct
    val bucketOf: String => Long = t => {
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(t),
        org.apache.spark.sql.types.StringType, 42L)
      ((h % b) + b) % b
    }
    val probeBuckets = allTerms.map(bucketOf).distinct

    // per-term dfs aggregate across append generations
    val postings = spark.read.parquet(s"$path/postings")
      .where(col("bucket").isin(probeBuckets: _*) &&
        col("term").isin(allTerms: _*))
    val dfs = spark.read.parquet(s"$path/terms")
      .where(col("bucket").isin(probeBuckets: _*) &&
        col("term").isin(allTerms: _*))
      .groupBy("term").agg(sum(col("df")).as("df"))
    // (qid, term) pairs as a tiny literal relation, broadcast onto the
    // probed postings
    import spark.implicits._
    val qrel = broadcast(qTerms.toDF("qid", "term"))

    val dec = "decimal(38,0)"
    val n = lit(st.nDocs)
    val t = lit(st.totTokens)
    val idfQ = round(
      log((n - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
        lit(IdfScale)).cast("long")
    val scored = postings
      .join(qrel, Seq("term"))
      .join(broadcast(dfs), Seq("term"))
      .withColumn("__num",
        idfQ.cast(dec) * lit(FpScale).cast(dec) * t.cast(dec) * col("tf").cast(dec))
      .withColumn("__den",
        lit(10L).cast(dec) * t.cast(dec) * col("tf").cast(dec) +
          lit(3L).cast(dec) * t.cast(dec) +
          lit(9L).cast(dec) * col("dl").cast(dec) * n.cast(dec))
      .withColumn("__s", expr("__num div __den"))
      .groupBy("qid", "id").agg(sum(col("__s")).as("score_fp"))
    val w = Window.partitionBy("qid").orderBy(col("score_fp").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("score_fp"))
  }
}
