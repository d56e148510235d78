package graft

/**
 * Batch pipeline operators over DataFrames.
 *
 * ==Cache lifecycle contract==
 *
 * Several operators `.cache()` an intermediate frame that the returned
 * (lazy) plan references from more than one branch — funnel stages,
 * retention activity, shingle/word projections, k-means assignments,
 * coverage models. Spark performs no cross-branch plan deduplication, so
 * without the cache the shared subtree would recompute once per
 * consuming branch; with it, each branch reads the materialized blocks.
 *
 * Because the result is lazy, the operator CANNOT unpersist before
 * returning — the blocks are populated only when the caller executes the
 * plan, and live until released. Operators with a bounded internal loop
 * (`Dedup.connectedComponents`, `IvfIndex.build`, k-means) unpersist
 * their own loop state before returning; the caches backing the
 * ''returned'' plan transfer to the caller; a [[DriverLocal]] regime's
 * local relation has none. The round loops of [[Rounds]] (Graph's kCore,
 * kTruss, BFS and distributed label propagation, the distributed connected
 * components) return a plan over the last round's leaf instead, reliable
 * when the SparkContext has a checkpoint dir, local otherwise: no cache to
 * release, and Spark's context cleaner frees a local checkpoint's blocks
 * once the plan is unreachable. In a long-lived session, release the
 * caches after the result is materialized (written / collected / no
 * longer re-queried) with either:
 *
 *  - `spark.sharedState.cacheManager.clearCache()` — drop everything
 *    (what `graft.Verify` and `graft.Bench` do between queries), or
 *  - `spark.catalog.clearCache()` — the public equivalent.
 *
 * Unreleased caches are not a correctness issue — the storage layer
 * evicts LRU under memory pressure and recomputes — but repeated
 * operator invocations in one session accumulate storage blocks and the
 * eviction churn shows up as latency noise (observed as the round-5
 * q21 bench regression before per-query clearing).
 */
package object operators {

  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.graft.ListenerBusAccess
  import org.apache.spark.sql.functions.{array, element_at, transform}

  /**
   * `body` over `df` cached, with the cache released afterwards — unless
   * the caller has already cached the same plan: `cache()` is then a
   * no-op, and `unpersist()` would drop the caller's own blocks (every
   * later read of them recomputing the whole upstream).
   */
  private[operators] def withCached[T](df: DataFrame)(body: DataFrame => T): T = {
    val owned = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val c = if (owned) df.cache() else df
    try body(c) finally if (owned) c.unpersist(blocking = false)
  }

  /** The session's broadcast-join threshold in bytes; <= 0 means off.
   *  It is the one gate of the operators' driver-local and broadcast
   *  regimes: graph rounds, and the k-means behind IVF and semantic
   *  dedup. Callers are
   *  conservative: unknown/overflowed size estimates do not broadcast —
   *  at true scale the per-round small side of an iterative op stops
   *  being broadcastable, and the caller must pick the shuffle-avoiding
   *  layout for the SMJ regime instead. */
  private[operators] def broadcastThreshold(df: DataFrame): Long = {
    val raw = df.sparkSession.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try raw.toLong
    catch {
      case _: NumberFormatException =>
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
    }
  }

  /** The gate's comparison of `what`'s `bytes` (not computed when the
   *  threshold is off) with `threshold`: Right when it fits, Left when it
   *  declines, e.g. "edges 38200000 bytes > threshold 10485760". */
  private[operators] def fit(what: String, bytes: => Long, threshold: Long): Either[String, String] =
    if (threshold <= 0) Left("threshold off")
    else {
      val b = bytes
      val s = s"$what $b bytes ${if (b > threshold) ">" else "<="} threshold $threshold"
      if (b > threshold) Left(s) else Right(s)
    }

  /** Posts `op`'s regime decision for [[graft.tools.Instrument]]. It only
   *  enqueues, so it is safe inside a timed pass. */
  private[graft] def record(df: DataFrame, op: String, regime: String, rounds: Int,
      reason: String): Unit =
    ListenerBusAccess.post(df.sparkSession.sparkContext, graft.tools.OpRecord(op, regime, rounds, reason))

  /**
   * Round-robin fan-out for a CPU-heavy per-row stage downstream of an
   * unsplittable input (optimization guide §2.5 "input skew: one huge
   * unsplittable file — repartition immediately after the read"): the
   * bench's sf tables are single-file single-row-group parquet, so every
   * scan is ONE task and a per-row-expensive stage (image decode, k·d
   * distance evaluation, brute-force cosine) serializes on one core
   * while the other 31 idle.
   *
   * Scale-adaptive, not a local-mode constant: the input is repartitioned
   * to `defaultParallelism` only when the optimizer's size estimate says
   * the scan yields fewer splits than the session's parallelism
   * (estimate < parallelism × maxPartitionBytes). A 100 TB input is
   * already thousands of splits and passes through untouched; size
   * overestimates (Long.MaxValue join stats) also skip the shuffle —
   * the safe direction. Callers must be row-order insensitive (every
   * user here is: per-row deterministic projections, exact-integer
   * lattice sums, or id-tie-broken windows).
   */
  private[graft] def fanOut(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val par = sc.defaultParallelism
    val maxPartitionBytes = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(df.sparkSession.conf
        .get("spark.sql.files.maxPartitionBytes", "128m"))
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (par > 1 && size < BigInt(par.toLong) * maxPartitionBytes)
      df.repartition(par)
    else df
  }

  /**
   * Scale-adaptive bucket count for persisted bucket-partitioned indexes
   * (LshIndex / TextIndex): one bucket per ~4 MB of estimated input, with
   * a floor of 8 (pruning granularity stays meaningful on tiny corpora)
   * and a cap of 4096 (filesystem metadata; raise explicitly for a truly
   * huge corpus). A FIXED default (the old 64) was wrong in both
   * directions: at bench scale it writes 64 near-empty directories per
   * dataset and the file-commit overhead dominates the whole operator
   * (measured: LSH build+query 6.1 s at 64 buckets vs 2.7 s at 8 on the
   * sf0.1 corpus), while at 100 TB it leaves buckets far too coarse for
   * partition pruning to bite. Unknown/overflowed size estimates land on
   * the cap — the safe direction at scale. The chosen count is persisted
   * in the index meta, so readers never need to re-derive it.
   */
  private[graft] def adaptiveBuckets(df: DataFrame, floor: Int = 8, cap: Int = 4096): Int = {
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val perBucket = BigInt(4L << 20)
    ((size + perBucket - 1) / perBucket).max(floor).min(cap).toInt
  }

  /**
   * Evaluate `f` with `arr` computed ONCE per row: wraps it in a
   * single-element array and binds it as a lambda variable. Higher-order
   * functions don't codegen, and a captured subtree in a lambda BODY
   * re-evaluates per element — so `transform(sequence(...), i =>
   * slice(words(text), ...))` tokenizes the document once per output
   * element (quadratic). Any expression that feeds a derived array into
   * per-element lambdas should route through this hoist.
   */
  private[operators] def boundOnce(arr: Column)(f: Column => Column): Column =
    element_at(transform(array(arr), f), 1)
}
