package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions.{call_function, col, count, lit, sum}
import org.apache.spark.sql.graft.SummaryCatalog

import graft.operators.record

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
    val base = spark.read.parquet(basePath)
    base.groupBy(keyCols.map(col): _*)
      .agg(call_function(accumulate, col(valueCol)).as(sketchCol),
        count(lit(1)).as(countCol))
      .write.mode("overwrite").parquet(summaryPath)
    serve(spark.read.parquet(summaryPath), basePath, keyCols, valueCol, sketchCol, kind,
      countCol)
  }

  /**
   * Incrementally refresh a built summary with a NEW batch of base rows
   * — the ingestion path of the materialized-view workflow: accumulate
   * sketches over `newData` ONLY and append the increment's `(keys,
   * sketch, count)` rows to `summaryPath` as one more write (a delta).
   * No stored row is read, combined or rewritten, so an append costs
   * O(increment); the base is never re-read either. A summary may then
   * hold several rows for one key, which every reader re-aggregates: the
   * summary rewrite combines the sketches per group and answers
   * `count(*)` as `sum(countCol)`, explicit rollups group and combine.
   *
   * Each delta costs every later scan of the summary one more file, so
   * once the deltas since the last build or compaction would exceed
   * `defaultParallelism` (one wave of scan tasks) the append folds its
   * increment into a [[compactSummaryTable]] instead. Deltas are counted
   * from the directory listing: every file of one Spark write carries
   * that write's job UUID.
   *
   * Before any file lands the stored summary must have the key, sketch
   * and count columns with the increment's types; the registration for
   * `basePath` is then refreshed to serve rewrites from the grown
   * summary. Callers append `newData` to the base table themselves (this
   * mirrors how the data lands there in the first place); the sketch
   * params frozen at build time must still be in effect.
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
    val (accumulate, _) = SummaryCatalog.functions(kind)
    val existing = spark.read.parquet(summaryPath)
    require(existing.columns.contains(countCol),
      s"existing summary at $summaryPath has no count column $countCol " +
        "(built before counts were stored? rebuild with buildSummaryTable)")
    val delta = newData.groupBy(keyCols.map(col): _*)
      .agg(call_function(accumulate, col(valueCol)).as(sketchCol),
        count(lit(1)).as(countCol))
    val names = keyCols :+ sketchCol :+ countCol
    names.zip(delta.schema.fields).foreach { case (name, field) =>
      val stored = existing.schema.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"existing summary at $summaryPath has no column $name"))
      if (!DataTypeUtils.sameType(stored.dataType, field.dataType)) {
        throw new IllegalArgumentException(
          s"existing summary at $summaryPath stores column $name as " +
            s"${stored.dataType.simpleString}, the increment has ${field.dataType.simpleString}")
      }
    }
    val deltas = deltaWrites(existing) + 1
    val bound = spark.sparkContext.defaultParallelism
    if (deltas > bound) {
      compact(spark, basePath, summaryPath, existing, Some(delta), keyCols, valueCol, kind,
        sketchCol, countCol, deltas, s"deltas $deltas > parallelism $bound")
    } else {
      delta.select(existing.columns.filter(names.contains).map(col): _*)
        .write.mode("append").parquet(summaryPath)
      record(delta, "summary_append", "delta", deltas, s"deltas $deltas <= parallelism $bound")
      serve(spark.read.schema(existing.schema).parquet(summaryPath), basePath, keyCols,
        valueCol, sketchCol, kind, countCol)
    }
  }

  /**
   * Combine a summary's rows per key into one row a key and register the
   * result: the deltas [[appendToSummaryTable]] wrote since the last build
   * or compaction fold into one write, so later scans read as few files
   * as a fresh build. Sketch merge is associative, so combine-of-combines
   * equals one accumulate over the full history; stored row counts sum.
   * The combined summary replaces `summaryPath` via a staging write +
   * directory swap (parquet cannot overwrite a path it is reading).
   */
  def compactSummaryTable(
      spark: org.apache.spark.sql.SparkSession,
      basePath: String,
      summaryPath: String,
      keyCols: Seq[String],
      valueCol: String,
      kind: String,
      sketchCol: String = "sketch",
      countCol: String = "n_rows"): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column is required")
    val existing = spark.read.parquet(summaryPath)
    compact(spark, basePath, summaryPath, existing, None, keyCols, valueCol, kind, sketchCol,
      countCol, deltaWrites(existing), "requested")
  }

  private def compact(
      spark: org.apache.spark.sql.SparkSession,
      basePath: String,
      summaryPath: String,
      existing: DataFrame,
      increment: Option[DataFrame],
      keyCols: Seq[String],
      valueCol: String,
      kind: String,
      sketchCol: String,
      countCol: String,
      deltas: Int,
      reason: String): DataFrame = {
    val (_, combine) = SummaryCatalog.functions(kind)
    val old = existing.select((keyCols.map(col) :+ col(sketchCol) :+ col(countCol)): _*)
    val merged = increment.fold(old)(old.unionByName)
      .groupBy(keyCols.map(col): _*)
      .agg(call_function(combine, col(sketchCol)).as(sketchCol),
        sum(col(countCol)).cast("long").as(countCol))
    val staging = summaryPath.stripSuffix("/") + "__staging"
    merged.write.mode("overwrite").parquet(staging)
    val target = new Path(summaryPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(target, true)
    require(fs.rename(new Path(staging), target),
      s"failed to move refreshed summary into place at $summaryPath")
    record(existing, "summary_append", "compact", deltas, reason)
    serve(spark.read.parquet(summaryPath), basePath, keyCols, valueCol, sketchCol, kind,
      countCol)
  }

  /** Writes [[appendToSummaryTable]] made since `summary` was built or
   *  compacted: its files' distinct write UUIDs, less the build's. */
  private def deltaWrites(summary: DataFrame): Int =
    math.max(0, summary.inputFiles.flatMap(WriteUuid.findFirstMatchIn).map(_.group(1))
      .distinct.length - 1)

  /** Spark names a write's files `part-<split>-<job uuid>...`. */
  private val WriteUuid = "/part-\\d+-([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})".r

  private def serve(summary: DataFrame, basePath: String, keyCols: Seq[String],
      valueCol: String, sketchCol: String, kind: String, countCol: String): DataFrame = {
    SummaryCatalog.register(basePath, summary, keyCols, valueCol, sketchCol, kind,
      countCol = Some(countCol))
    summary
  }
}
