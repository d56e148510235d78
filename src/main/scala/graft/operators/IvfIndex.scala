package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Persisted IVF index: the deployment shape of [[Similarity.ivfKnn]] for
 * a corpus that is queried many times. `build` runs the k-means quantizer
 * ONCE and writes the corpus parquet PARTITIONED BY CELL (plus the
 * centroids); `query` reads back only the probed cells.
 *
 * This is the piece that makes IVF pay at 100 TB: with `nlist` cells and
 * `nprobe` probes, a query batch physically scans ~nprobe/nlist of the
 * index bytes — partition pruning happens at the parquet-file level
 * (static `cell IN (...)` filters from the collected probe set, visible
 * as PartitionFilters in the scan), not as a post-scan filter. The probe
 * set is |queries| * nprobe cell ids — driver-side by construction, the
 * same way any index lookup needs its keys on the coordinator.
 */
object IvfIndex {

  /**
   * Build the index at `path`: `centroids/` (cell, centroid) and `cells/`
   * (id, vec) partitioned by cell. Deterministic for a given corpus and
   * (nlist, kmeansIters) — see [[Similarity.kmeansCentroids]].
   *
   * A corpus that fits the driver-local k-means ([[LocalKmeans]]) is
   * written by one task per directory: one centroid file and one file per
   * cell, with no shuffle. Otherwise the Lloyd rounds run in Spark too.
   * Either way the caches it takes are released before it returns.
   */
  def build(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      nlist: Int = 16,
      kmeansIters: Int = 3): Unit = {
    val c0 = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .where(Similarity.dot(col("vec"), col("vec")) > 0)
    withCached(c0) { c =>
      LocalKmeans(c, "vec", nlist, kmeansIters) match {
        case Some(km) => write(c.coalesce(1), km.centroids.coalesce(1), km.packed, path)
        case None =>
          withCached(Similarity.distributedKmeans(c, "vec", nlist, kmeansIters)) { centroids =>
            write(c, centroids, Similarity.packedCentroids(centroids), path)
          }
      }
    }
  }

  /** Writes `centroids/`, then `c` assigned to the `packed` centroids
   *  under `cells/`, partitioned by cell. */
  private def write(c: DataFrame, centroids: DataFrame, packed: DataFrame, path: String): Unit = {
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    c.join(broadcast(packed))
      .select(col("id"), col("vec"), Similarity.bestCell(col("vec"), col("cents")).as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
  }

  /**
   * Incrementally add vectors to a built index WITHOUT re-training the
   * quantizer: assign each new vector to its nearest existing centroid
   * and append to that cell's partition — standard IVF practice (the
   * quantizer stays fixed between periodic rebuilds; recall degrades
   * only as the data distribution drifts away from the trained
   * centroids). One broadcast of the packed centroids, one map-side
   * assignment pass, an append-mode partitioned write — the existing
   * index bytes are never read or rewritten, so ingesting a batch costs
   * O(batch), not O(index).
   *
   * Ingestion contract: the plain append assumes EXACTLY-ONCE delivery
   * of each batch — the partitioned append-mode write is not atomic
   * across cells, so re-running a batch after a partial failure would
   * double-index its vectors (which then surface twice in query results
   * under distinct ranks). For at-least-once upstreams, pass
   * `skipExistingIds = true`: new ids are anti-joined against the ids
   * already present in their ASSIGNED cells (the quantizer is
   * deterministic, so a replayed vector lands in the same cell — only
   * those partitions are read, keeping the check O(touched cells), not
   * O(index)).
   */
  def append(
      spark: SparkSession,
      path: String,
      newVectors: DataFrame,
      idCol: String,
      vecCol: String,
      skipExistingIds: Boolean = false): Unit = {
    val centroids = spark.read.parquet(s"$path/centroids")
    val cents = broadcast(Similarity.packedCentroids(centroids))
    val assigned = newVectors
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .where(Similarity.dot(col("vec"), col("vec")) > 0)
      .join(cents)
      .select(col("id"), col("vec"), Similarity.bestCell(col("vec"), col("cents")).as("cell"))
    if (skipExistingIds) {
      val a = assigned.cache()
      val touched = a.select("cell").distinct().collect().map(_.getLong(0)).toSeq
      val existing = spark.read.parquet(s"$path/cells")
        .where(col("cell").isin(touched: _*)).select("id")
      a.join(existing, Seq("id"), "left_anti")
        .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
      a.unpersist()
    } else {
      assigned.write.mode("append").partitionBy("cell").parquet(s"$path/cells")
    }
  }

  /**
   * Approximate top-k against a built index: probe each query's `nprobe`
   * nearest cells, scanning only those partitions. Returns
   * (query_id, rk, neighbor_id) — identical to [[Similarity.ivfKnn]] run
   * with the same quantizer parameters.
   */
  def query(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    val centroids = spark.read.parquet(s"$path/centroids")
    val cents = broadcast(Similarity.packedCentroids(centroids).cache())
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
    val probes = q.join(cents)
      .select(col("query_id"), col("qv"),
        explode(Similarity.probeCells(col("qv"), col("cents"), nprobe)).as("cell"))
      .cache()
    // the probe set (|queries| * nprobe cell ids) prunes the parquet scan
    // statically: only the probed cell partitions are read at all
    val probedCells = probes.select("cell").distinct().collect().map(_.getLong(0)).toSeq
    val corpus = spark.read.parquet(s"$path/cells")
      .where(col("cell").isin(probedCells: _*))
    val scored = probes.join(corpus, Seq("cell"))
      .where(col("query_id") =!= col("id"))
      .withColumn("cosine", Similarity.cosine(col("qv"), col("vec")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id"))
    scored
      .withColumn("rk", row_number().over(w).cast("int"))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("id").as("neighbor_id"))
  }
}
