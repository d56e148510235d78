package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.SummaryCatalog

/**
 * Public API for the automatic summary-table rewrite (see
 * [[org.apache.spark.sql.graft.SummaryRewriteRule]]): register a
 * materialized sketch summary for a base parquet table, flip
 * `spark.sql.graft.summaryRewrite.enabled`, and one-shot sketch aggregates
 * over the base whose grouping coarsens the summary keys are answered from
 * the summary — no rescan of raw data.
 */
object GraftSummaries {
  val ENABLED_KEY: String = SummaryCatalog.ENABLED_KEY

  /**
   * `summary` = SELECT keys..., approx_count_distinct_accumulate(valueCol)
   * AS sketchCol. Pass the summary's defining query as `definition` when a
   * key is a derived bucket (e.g. `window(ts, '1 day')`): queries grouping
   * by the same window — or any coarser tumbling window whose slide is a
   * multiple of it — then rewrite onto the summary too.
   */
  def registerDistinctSummary(
      basePath: String,
      summary: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      sketchCol: String,
      definition: Option[DataFrame] = None,
      countCol: Option[String] = None): Unit =
    SummaryCatalog.register(
      basePath, summary, keyCols, valueCol, sketchCol, "distinct", definition, countCol)

  /** `summary` = SELECT keys..., approx_percentile_accumulate(valueCol) AS sketchCol. */
  def registerQuantileSummary(
      basePath: String,
      summary: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      sketchCol: String,
      definition: Option[DataFrame] = None,
      countCol: Option[String] = None): Unit =
    SummaryCatalog.register(
      basePath, summary, keyCols, valueCol, sketchCol, "quantile", definition, countCol)

  /** `summary` = SELECT keys..., approx_freqitems_accumulate(valueCol) AS sketchCol. */
  def registerFreqItemsSummary(
      basePath: String,
      summary: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      sketchCol: String,
      definition: Option[DataFrame] = None,
      countCol: Option[String] = None): Unit =
    SummaryCatalog.register(
      basePath, summary, keyCols, valueCol, sketchCol, "freq", definition, countCol)

  /** `summary` = SELECT keys..., tdigest_accumulate(valueCol) AS sketchCol. */
  def registerTDigestSummary(
      basePath: String,
      summary: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      sketchCol: String,
      definition: Option[DataFrame] = None,
      countCol: Option[String] = None): Unit =
    SummaryCatalog.register(
      basePath, summary, keyCols, valueCol, sketchCol, "tdigest", definition, countCol)

  def unregister(basePath: String): Unit = SummaryCatalog.unregister(basePath)
  def clear(): Unit = SummaryCatalog.clear()

  /**
   * Build, persist, and register a summary table in one call — the
   * materialized-view-style workflow the register* methods leave to the
   * caller: aggregate the base table at `basePath` with the `kind`'s
   * accumulate function grouped by `keyCols`, write the result as
   * parquet to `summaryPath`, and register the written table (re-read,
   * so rewrites serve from the compact on-disk summary, not the
   * original plan). Returns the registered summary DataFrame.
   *
   * One pass over the base table; the summary is keyCols-cardinality
   * rows of bounded sketch state — the 100 TB pre-aggregation pattern
   * where the raw table is scanned once and every later estimate reads
   * only the summary. `kind`: "distinct" | "quantile" | "freq" | "tdigest".
   *
   * A per-key `count(*)` is stored alongside the sketch (column
   * `countCol`) for free — it rides the same aggregate pass — so MIXED
   * query aggregate lists (`sketch_agg(v), count(*)`, the most common
   * dashboard shape) also rewrite onto the summary instead of falling
   * back to the base scan.
   */
  def buildSummaryTable(
      spark: org.apache.spark.sql.SparkSession,
      basePath: String,
      summaryPath: String,
      keyCols: Seq[String],
      valueCol: String,
      kind: String,
      sketchCol: String = "sketch",
      countCol: String = "n_rows"): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column is required")
    val (accumulate, _) = SummaryCatalog.functions(kind)
    import org.apache.spark.sql.functions.{call_function, col, count, lit}
    val base = spark.read.parquet(basePath)
    base.groupBy(keyCols.map(col): _*)
      .agg(call_function(accumulate, col(valueCol)).as(sketchCol),
        count(lit(1)).as(countCol))
      .write.mode("overwrite").parquet(summaryPath)
    val summary = spark.read.parquet(summaryPath)
    SummaryCatalog.register(basePath, summary, keyCols, valueCol, sketchCol, kind,
      countCol = Some(countCol))
    summary
  }

  /**
   * Incrementally refresh a built summary with a NEW batch of base rows
   * — the ingestion path of the materialized-view workflow: accumulate
   * sketches over `newData` ONLY, union with the existing on-disk
   * summary, and combine per key (sketch merge is associative, so
   * combine-of-combines equals one accumulate over the full history);
   * stored row counts sum. The refresh never re-reads the base: at
   * 100 TB the base is appended to daily and re-reading it to rebuild
   * the summary is exactly what this avoids. It is not O(increment):
   * every stored summary row is re-combined (shuffled with the
   * increment's rows by key) and the whole summary is rewritten, so an
   * append costs O(summary + increment): on a fine summary, about one
   * base row a key, it does as much work as a rebuild or more.
   *
   * The merged summary replaces `summaryPath` via a staging write +
   * directory swap (parquet cannot overwrite a path it is reading), and
   * the registration for `basePath` is refreshed to serve rewrites from
   * the new file. Callers append `newData` to the base table themselves
   * (this mirrors how the data lands there in the first place); the
   * sketch params frozen at build time must still be in effect.
   */
  def appendToSummaryTable(
      spark: org.apache.spark.sql.SparkSession,
      basePath: String,
      summaryPath: String,
      newData: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      kind: String,
      sketchCol: String = "sketch",
      countCol: String = "n_rows"): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column is required")
    val (accumulate, combine) = SummaryCatalog.functions(kind)
    import org.apache.spark.sql.functions.{call_function, col, count, lit, sum}
    val existing = spark.read.parquet(summaryPath)
    require(existing.columns.contains(countCol),
      s"existing summary at $summaryPath has no count column $countCol " +
        "(built before counts were stored? rebuild with buildSummaryTable)")
    val old = existing.select((keyCols.map(col) :+ col(sketchCol) :+ col(countCol)): _*)
    val delta = newData.groupBy(keyCols.map(col): _*)
      .agg(call_function(accumulate, col(valueCol)).as(sketchCol),
        count(lit(1)).as(countCol))
    val merged = old.unionByName(delta)
      .groupBy(keyCols.map(col): _*)
      .agg(call_function(combine, col(sketchCol)).as(sketchCol),
        sum(col(countCol)).cast("long").as(countCol))
    val staging = summaryPath.stripSuffix("/") + "__staging"
    merged.write.mode("overwrite").parquet(staging)
    val target = new org.apache.hadoop.fs.Path(summaryPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(target, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(staging), target),
      s"failed to move refreshed summary into place at $summaryPath")
    val summary = spark.read.parquet(summaryPath)
    SummaryCatalog.register(basePath, summary, keyCols, valueCol, sketchCol, kind,
      countCol = Some(countCol))
    summary
  }
}
