package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted membership index for CROSS-RUN incremental dedup — the
 * missing piece between [[Dedup.incrementalDedup]] (which re-scans the
 * existing corpus every batch to rebuild its filter) and a real
 * ingestion pipeline: at 100 TB the corpus is scanned ONCE at build
 * time, the bounded filter bytes persist, and every later batch dedups
 * against the stored filter in O(batch) — the corpus is never read
 * again. Appends union the new batch's partial filter into the stored
 * image (bitwise OR — associative, so daily appends equal one big
 * build).
 *
 * The on-disk artifact is ONE row of standard DataSketches BloomFilter
 * bytes (`bloom_accumulate`'s image) plus its frozen (maxItems, fpp)
 * build parameters — readable by any DataSketches consumer, so a filter
 * built here serves a non-Spark ingest path and vice versa.
 *
 * Semantics (inherent to bloom membership, documented not hidden):
 * definite-negative — a row [[filterNew]] keeps is GUARANTEED not in
 * the indexed corpus (no false negatives); a dropped row is in the
 * corpus with probability ~1-fpp, i.e. ~fpp of genuinely-new rows are
 * lost per batch. Size maxItems for the CORPUS-LIFETIME key count — an
 * overfull filter degrades fpp, it never drops true members.
 */
object BloomIndex {

  /** Build the index: ONE corpus scan, partial filters OR-merge map-side,
   *  one bounded row lands on disk. */
  def build(
      spark: SparkSession,
      path: String,
      corpus: DataFrame,
      keyCol: String,
      maxItems: Long = 1000000L,
      fpp: Double = 0.01): Unit = {
    corpus
      .agg(graft.functions.bloom_accumulate(col(keyCol).cast("string"), maxItems, fpp)
        .as("filter"))
      .select(col("filter"), lit(maxItems).as("max_items"), lit(fpp).as("fpp"))
      .write.mode("overwrite").parquet(path)
  }

  /** Union a new batch's keys into the stored filter: O(batch) scan +
   *  one bounded-bytes rewrite; the indexed corpus is never read. */
  def append(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keyCol: String): Unit = {
    val stored = spark.read.parquet(path)
    val (maxItems, fpp) = params(stored)
    val delta = batch
      .agg(graft.functions.bloom_accumulate(col(keyCol).cast("string"), maxItems, fpp)
        .as("filter"))
    val merged = stored.select("filter").unionByName(delta)
      .agg(graft.functions.bloom_union(col("filter"), maxItems, fpp).as("filter"))
      .select(col("filter"), lit(maxItems).as("max_items"), lit(fpp).as("fpp"))
    // parquet cannot overwrite a path it is reading: stage + swap (the
    // compactSummaryTable pattern)
    val staging = path.stripSuffix("/") + "__staging"
    merged.write.mode("overwrite").parquet(staging)
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(target, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(staging), target),
      s"failed to move refreshed bloom index into place at $path")
  }

  /**
   * Rows of `batch` whose key is definitely NOT in the indexed corpus —
   * the pre-filter of an ingest pipeline. A one-row broadcast of the
   * stored filter rides a scalar subquery; the probe is a pure map-side
   * pass over the batch (zero shuffle, zero corpus IO).
   */
  def filterNew(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keyCol: String): DataFrame = {
    val stored = spark.read.parquet(path).select("filter").scalar()
    batch.where(!graft.functions.bloom_might_contain(stored, col(keyCol).cast("string")))
  }

  private def params(stored: DataFrame): (Long, Double) = {
    val row = stored.select("max_items", "fpp").head()
    (row.getLong(0), row.getDouble(1))
  }
}
