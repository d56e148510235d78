package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Write-side operators: producing the PHYSICAL layout downstream readers
 * depend on — globally range-partitioned, within-file-sorted output,
 * without a global sort.
 *
 * [[writeRangeSorted]] is the "export the corpus ordered by key" sink:
 * range boundaries come from ONE `approx_partition_bounds` sketch pass
 * (no sample job, no global exchange-and-sort), rows map to their range
 * with the codegen'd `graft_bucket_index` binary search, and each range
 * sorts independently — `shards` parallel sorts of ~1/shards of the
 * data each. The output parquet is partitioned by `shard`, shard
 * directories are globally ordered (every key in shard i <= every key
 * in shard i+1, up to boundary ties), and rows within each file are
 * sorted — the layout a downstream range-pruning reader or merge-style
 * consumer needs. Spark's own `repartitionByRange.sortWithinPartitions`
 * produces the same layout but pays a row-sampling job and gives no
 * control over boundary reuse; the sketch bounds here can be persisted
 * and shared across exports.
 */
object Sinks {

  /**
   * Write `df` to `path` as parquet partitioned into `shards`
   * near-equal-frequency ranges of `keyCol` (double-valued keys),
   * sorted by (`keyCol`, tiebreaker columns) within each shard.
   * Returns the boundary array used (size shards - 1) so callers can
   * persist/reuse it.
   */
  def writeRangeSorted(
      df: DataFrame,
      keyCol: String,
      path: String,
      shards: Int,
      tiebreakCols: Seq[String] = Nil): Array[Double] = {
    require(shards >= 2, s"shards must be >= 2, got $shards")
    val bounds = df
      .agg(call_function("approx_partition_bounds",
        col(keyCol).cast("double"), lit(shards)).as("bs"))
      .collect()(0).getSeq[Double](0).toArray
    val keyed = df.withColumn("shard",
      graft.functions.graft_value_bucket(col(keyCol).cast("double"), bounds.toSeq))
    keyed
      .repartition(shards, col("shard"))
      .sortWithinPartitions((col("shard") +: col(keyCol) +:
        tiebreakCols.map(col)): _*)
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    bounds
  }

  /**
   * Write the corpus as deterministic hash-sharded parquet
   * (`path/data/shard=N/`) plus a per-shard MANIFEST
   * (`path/manifest/`): row count, total token count, and an
   * order-independent 64-bit id checksum (`bit_xor` of each id's
   * md5-derived fingerprint). Returns the manifest as read back from
   * disk.
   *
   * The integrity artifact a 100 TB export needs: any shard can later be
   * re-validated (or an incremental re-export diffed) by recomputing
   * count/tokens/xor over that ONE shard directory — no global re-read,
   * and the xor checksum is insensitive to row order within the shard,
   * so a recompute after any repartitioning still matches. Shard
   * assignment reuses the seeded-md5 hash-space mechanics of
   * [[Sampling.shuffleShards]] (deterministic across engines and runs).
   * The manifest aggregates the WRITTEN files, not the input plan —
   * what's attested is what landed.
   *
   * A null id cannot be fingerprinted, so an input containing one FAILS
   * the export instead of silently shrinking a release that claims
   * integrity. The check is FUSED into the shard expression
   * (`raise_error` on a null id) so validation costs zero extra passes
   * — a clean 100 TB input is scanned once, by the write itself. On
   * failure the data directory may hold partial output; consumers
   * already gate on the manifest, which is only written after the data
   * write succeeds. An empty input writes an empty manifest with the
   * explicit (shard, n_rows, n_tokens, xor_fp) schema and returns it.
   */
  def writeShardsWithManifest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numShards: Int,
      seed: Long = 0L): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val spark = df.sparkSession
    val manifestSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "shard INT, n_rows BIGINT, n_tokens BIGINT, xor_fp BIGINT")
    if (df.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          manifestSchema)
        .write.mode("overwrite").parquet(s"$path/manifest")
      return spark.read.parquet(s"$path/manifest")
    }
    val key = md5(concat(lit(s"$seed:"), col(idCol).cast("string")).cast("binary"))
    val shard = when(col(idCol).isNull, raise_error(lit(
        s"writeShardsWithManifest: null $idCol — every exported row must be fingerprintable")))
      .otherwise((conv(substring(key, 1, 15), 16, 10).cast("long") % numShards)
        .cast("int"))
    df.withColumn("shard", shard)
      .repartition(numShards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$path/data")
    val fp = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 15),
      16, 10).cast("long")
    spark.read.parquet(s"$path/data")
      .withColumn("__graft_fp", fp)
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).as("n_rows"),
        sum(TextOps.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
        expr("bit_xor(__graft_fp)").as("xor_fp"))
      .write.mode("overwrite").parquet(s"$path/manifest")
    spark.read.parquet(s"$path/manifest")
  }

  /** The manifest aggregation shared by export and delete-propagation:
   *  per shard, row count, token mass, and the id-fingerprint XOR that
   *  attests shard membership order-independently. */
  private def manifestAgg(data: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 15),
      16, 10).cast("long")
    data.withColumn("__graft_fp", fp)
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).as("n_rows"),
        sum(TextOps.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
        expr("bit_xor(__graft_fp)").as("xor_fp"))
  }

  /**
   * Right-to-erasure propagation into a [[writeShardsWithManifest]]
   * export: rewrite ONLY the shard partitions that contain deleted ids
   * and recompute ONLY their manifest rows; untouched shards keep their
   * bytes and manifest entries verbatim. Returns the updated manifest
   * (shard, n_rows, n_tokens, xor_fp, n_deleted), written back to
   * `path/manifest`; shards left empty by the deletion disappear from
   * both the data layout and the manifest.
   *
   * Scale design: the delete list broadcasts (it is always tiny next to
   * the export), the touched-shard set is at most `numShards` scalars
   * on the driver, the rewrite runs under DYNAMIC partition overwrite
   * so Spark replaces only the `shard=` directories the anti-join
   * touched, and the xor fingerprint gives an O(1) before/after
   * attestation per shard (old xor ⊕ new xor = xor of deleted ids).
   */
  def applyDeletes(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String,
      textCol: String,
      deletes: DataFrame): DataFrame = {
    val del = deletes.select(col(idCol)).distinct()
    val data = spark.read.parquet(s"$path/data")
    // idempotent re-application: a manifest that already carries
    // n_deleted from a previous round normalizes back to the base shape
    val oldManifest = spark.read.parquet(s"$path/manifest")
      .select(col("shard"), col("n_rows"), col("n_tokens"), col("xor_fp"))

    val hits = data.join(broadcast(del), Seq(idCol))
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).as("n_deleted")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val touched = hits.keys.toSeq.sorted
    if (touched.isEmpty) {
      return oldManifest.withColumn("n_deleted", lit(0L)).orderBy("shard")
    }

    // survivors of the touched shards, lineage CUT from the files about
    // to be overwritten (Spark refuses an overwrite that reads its own
    // output path). localCheckpoint is bounded by the touched fraction;
    // a production deployment on a copy-on-write table format would
    // version the shard files instead of checkpointing.
    val survivors = data.where(col("shard").isin(touched: _*))
      .join(broadcast(del), Seq(idCol), "left_anti")
      .withColumn("shard", col("shard").cast("int"))
      .localCheckpoint(true)
    val keptShards = survivors.select("shard").distinct()
      .collect().map(_.getInt(0)).toSet

    survivors.repartition(touched.size, col("shard"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard").parquet(s"$path/data")

    // dynamic overwrite only replaces partitions PRESENT in the written
    // data — a fully-deleted shard's stale directory must go explicitly
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    (touched.toSet -- keptShards).foreach { sh =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/data/shard=$sh"), true)
    }

    val newTouched = manifestAgg(survivors, idCol, textCol)
    val nd = typedlit(hits)
    val merged = oldManifest.where(!col("shard").isin(touched: _*))
      .unionByName(newTouched)
      .withColumn("n_deleted",
        coalesce(element_at(nd, col("shard")), lit(0L)))
      // manifest rows are O(numShards) — cut lineage so the overwrite
      // below doesn't read its own output path
      .localCheckpoint(true)
    merged.write.mode("overwrite").parquet(s"$path/manifest")
    spark.read.parquet(s"$path/manifest").orderBy("shard")
  }

  /**
   * Vacuum audit for a [[writeShardsWithManifest]] export: list the
   * files under `path/data` and classify every one against the
   * manifest's shard set — `kept` (a data/metadata file inside an
   * attested shard partition) or `orphan` (a file in a shard directory
   * the manifest doesn't attest, or a stray file outside any shard
   * directory: zombie-task leftovers, aborted-attempt temp files).
   * With `deleteOrphans = true` the orphans are removed after the audit
   * (audit-then-delete, never delete-while-listing).
   *
   * Returns one row per location: (shard, n_kept, n_orphans) with
   * shard NULL for the root. Hidden files (`_SUCCESS`, dotfiles) count
   * as kept metadata inside attested shards and are never deleted.
   *
   * Scale note: the listing is driver-side `listStatus` per directory —
   * the shard fan-out is the manifest's numShards (bounded, chosen by
   * the exporter), not the row count. At object-store scale swap in a
   * parallel lister; the classification contract is the point here.
   */
  def vacuumOrphans(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      deleteOrphans: Boolean = false): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val attested = spark.read.parquet(s"$path/manifest")
      .select(col("shard").cast("int")).collect().map(_.getInt(0)).toSet
    val dataDir = new Path(s"$path/data")
    val shardRe = "^shard=(\\d+)$".r
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Option[Int], Long, Long)]
    val orphanPaths = scala.collection.mutable.ArrayBuffer.empty[Path]
    var rootKept = 0L
    var rootOrphans = 0L
    fs.listStatus(dataDir).foreach { st =>
      st.getPath.getName match {
        case shardRe(n) if st.isDirectory =>
          val sh = n.toInt
          val files = fs.listStatus(st.getPath).filter(_.isFile)
          if (attested(sh)) {
            rows += ((Some(sh), files.length.toLong, 0L))
          } else {
            rows += ((Some(sh), 0L, files.length.toLong))
            orphanPaths += st.getPath // whole unattested partition goes
          }
        case name if st.isFile =>
          // metadata files (_SUCCESS, dotfiles) are commit-protocol
          // artifacts, kept; anything else at the root is a stray
          if (name.startsWith("_") || name.startsWith(".")) rootKept += 1
          else { rootOrphans += 1; orphanPaths += st.getPath }
        case _ =>
          // a non-shard DIRECTORY at the root is a stray too
          rootOrphans += 1
          orphanPaths += st.getPath
      }
    }
    rows += ((None, rootKept, rootOrphans))
    if (deleteOrphans) orphanPaths.foreach(p => fs.delete(p, true))
    import spark.implicits._
    rows.toSeq.toDF("shard_opt", "n_kept", "n_orphans")
      .select(col("shard_opt").as("shard"), col("n_kept"), col("n_orphans"))
      .orderBy(col("shard").asc_nulls_last)
  }

  /**
   * Small-file compaction: rewrite the parquet table at `inDir` into
   * exactly `ceil(rows / targetRows)` files at `outDir` and report
   * (n_files_before, n_rows, n_files_after). The writer splits at
   * `maxRecordsPerFile` from ONE task, which is the only layout whose
   * file count is an exact function of the row count — `repartition(n)`
   * round-robin can leave partitions empty (fewer files) and hash keys
   * can collide (more), so neither is attestable. One writer is the
   * honest shape for the "compact a small-file table" maintenance job
   * this implements; at lakehouse scale run it PER PARTITION/bucket
   * (each bucket its own single-writer compaction, all buckets in
   * parallel) and the per-bucket counts stay exact. Content is
   * preserved exactly (row-level, order-free).
   */
  def compactFiles(
      spark: org.apache.spark.sql.SparkSession,
      inDir: String,
      outDir: String,
      targetRows: Long): DataFrame = {
    require(targetRows >= 1, s"targetRows must be >= 1, got $targetRows")
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inDir), spark.sparkContext.hadoopConfiguration)
    def parquetFiles(dir: String): Long =
      fs.listStatus(new Path(dir))
        .count(st => st.isFile && st.getPath.getName.endsWith(".parquet")).toLong
    val before = parquetFiles(inDir)
    val src = spark.read.parquet(inDir)
    val n = src.count()
    src.coalesce(1).write.option("maxRecordsPerFile", targetRows)
      .mode("overwrite").parquet(outDir)
    import spark.implicits._
    Seq((before, n, parquetFiles(outDir)))
      .toDF("n_files_before", "n_rows", "n_files_after")
  }

  /**
   * Persist `df` as a BUCKETED parquet table: hash-bucketed and sorted
   * by `keyCol` into `nBuckets` files, registered as `tableName` with
   * its data at `path`. Two tables bucketed the same way join WITHOUT
   * any Exchange — the co-located join that at 100 TB turns the
   * fact-to-fact join from the dominant shuffle into a local merge
   * per bucket ([[bucketedEquiJoin]] asserts the plan shape). The
   * `repartition` before the write pins ONE file per bucket, which is
   * what lets the reader trust the sort order and skip its own sort.
   *
   * The catalog entry is session-scoped metadata (in-memory catalog —
   * nothing lands in a metastore); the parquet + bucket spec at `path`
   * is the durable artifact.
   */
  def writeBucketedTable(
      df: DataFrame,
      tableName: String,
      path: String,
      keyCol: String,
      nBuckets: Int): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    df.repartition(nBuckets, col(keyCol))
      .write.format("parquet")
      .bucketBy(nBuckets, keyCol)
      .sortBy(keyCol)
      .option("path", path)
      .mode("overwrite")
      .saveAsTable(tableName)
  }

  /**
   * Re-register a bucketed table written by [[writeBucketedTable]] in
   * a NEW session: the parquet files survive, but the in-memory
   * catalog's bucket spec dies with the session that wrote it — and a
   * plain `spark.read.parquet(path)` silently forgets the bucketing
   * (the join shuffles again with no error). This re-attaches the
   * spec via `CREATE TABLE ... USING parquet CLUSTERED BY ... INTO n
   * BUCKETS LOCATION path`, restoring exchange-free joins. The spec
   * (`keyCol`, `nBuckets`) is the caller's contract to carry across
   * sessions — persist it next to the data (a manifest) in real
   * deployments.
   */
  def registerBucketedTable(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String,
      path: String,
      keyCol: String,
      keyType: String,
      nBuckets: Int,
      otherCols: Seq[(String, String)]): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val colsDdl = ((keyCol, keyType) +: otherCols)
      .map { case (n, t) => s"`$n` $t" }.mkString(", ")
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    spark.sql(
      s"""CREATE TABLE `$tableName` ($colsDdl) USING parquet
         |CLUSTERED BY (`$keyCol`) SORTED BY (`$keyCol`) INTO $nBuckets BUCKETS
         |LOCATION '$path'""".stripMargin)
  }

  /**
   * Join two same-bucketed tables on their bucket keys and ASSERT the
   * co-location paid off: the executed plan must contain no shuffle
   * exchange (a changed bucket count, disabled bucketing conf, or a
   * non-bucket join key would silently reintroduce the full shuffle —
   * at 100 TB the single most expensive regression a layout can have,
   * so it fails loudly here instead).
   */
  def bucketedEquiJoin(
      spark: org.apache.spark.sql.SparkSession,
      leftTable: String,
      leftKey: String,
      rightTable: String,
      rightKey: String): DataFrame = {
    val joined = spark.table(leftTable)
      .join(spark.table(rightTable),
        col(leftKey) === col(rightKey))
    // AQE wraps the real plan in a childless AdaptiveSparkPlanExec —
    // a naive collect() would find no exchanges VACUOUSLY; unwrap it
    def exchangesIn(p: org.apache.spark.sql.execution.SparkPlan): Seq[Any] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          exchangesIn(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          // post-execution stages are leaf wrappers too (defensive: the
          // plan here is pre-execution, but a cached/reused one may not be)
          exchangesIn(q.plan)
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
          e +: e.children.flatMap(exchangesIn)
        case other => other.children.flatMap(exchangesIn)
      }
    val exchanges = exchangesIn(joined.queryExecution.executedPlan)
    require(exchanges.isEmpty,
      s"bucketed join $leftTable x $rightTable still shuffles " +
        s"(${exchanges.size} exchange(s)) — bucket specs do not line up")
    joined
  }
}
