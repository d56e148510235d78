package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Record linkage (entity resolution) for dirty metadata: match noisy
 * records (scraped titles, OCR'd names, user-typed fields) against a
 * clean reference by edit distance — the join that standard equi-joins
 * cannot express. The classic use in a training-data pipeline is
 * canonicalizing source metadata before dedup groups on it.
 *
 * Scale design — never all-pairs, and never all-ROWS:
 *
 *  1. *Name-type collapse.* Real metadata repeats: a 20k-row `part`
 *     table carries 64 distinct names, a 100 TB crawl repeats titles
 *     millions of times. The match depends only on the NAME, so both
 *     sides collapse to distinct name types first (the [[Dedup]]
 *     word-type discipline) and every record joins back to its type's
 *     answer at the end. Cost scales with type-pair count, not
 *     row-pair count — the difference between 64x64 and 20k x 20k
 *     levenshteins here, and between millions and quadrillions on a
 *     real crawl. Tie-breaks stay record-exact: each clean type
 *     carries its smallest clean id as representative, so
 *     `min (dist, clean_id)` over types equals the same min over rows.
 *  2. *Blocking join on types.* Each type emits a small set of block
 *     keys (3-char prefix, 3-char suffix, and a length band) and only
 *     same-key type pairs are scored. Blocking is the standard
 *     recall/cost knob of record linkage: a typo that mangles every
 *     block key escapes matching (bounded misses, linear cost); the
 *     multi-key union keeps single-typo records recallable since one
 *     edit breaks at most two of the three keys.
 *  3. *Block purging.* A degenerate key (every name in one length
 *     band) would still go quadratic in types, so blocks whose
 *     dirty-type x clean-type product exceeds `maxBlockPairs` are
 *     dropped — the record-linkage literature's block-purging guard,
 *     same shape as the wedge-join hub cap in
 *     [[Graph.commonNeighborPairs]]. Purged blocks are noise blocks by
 *     construction (they pair everything with everything); the
 *     remaining keys keep their recall contract.
 *
 * The expensive `levenshtein` runs only on surviving blocked type
 * pairs, and the final best-match pick is a partial-aggregable `min`
 * struct — no windows, no driver state.
 */
object Linkage {

  /** Default block keys: 3-char prefix, 3-char suffix, and the
   *  length band `len DIV 4` prefixed to dodge collisions with the
   *  text keys. One edit changes at most two of the three. */
  private def blockKeys(c: String): org.apache.spark.sql.Column = array(
    concat(lit("p:"), substring(col(c), 1, 3)),
    concat(lit("s:"), substring(col(c), -3, 3)),
    concat(lit("l:"), (length(col(c)).cast("long") / lit(4L)).cast("long").cast("string")))

  /**
   * Link each record of `dirty` to its best match in `clean`:
   * levenshtein distance <= `maxDist`, ties broken by smallest clean
   * id (deterministic). Returns
   * (dirty_id, clean_id, dist) — dirty records with no candidate
   * within `maxDist` are absent (left-join downstream if the miss set
   * is needed). Ids must be long-castable; names are matched verbatim
   * (normalize case/whitespace upstream — that's a cleaning decision,
   * not a linkage one).
   */
  def linkByEditDistance(
      dirty: DataFrame,
      dirtyId: String,
      dirtyName: String,
      clean: DataFrame,
      cleanId: String,
      cleanName: String,
      maxDist: Int,
      maxBlockPairs: Long = 10000000L): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(maxBlockPairs >= 1,
      s"maxBlockPairs must be >= 1, got $maxBlockPairs")
    val dRec = dirty
      .select(col(dirtyId).cast("long").as("dirty_id"), col(dirtyName).as("dn"))
      .where(col("dirty_id").isNotNull && col("dn").isNotNull)
    // name-type tables: the clean side carries its min-id representative
    // so the (dist, clean_id) tie-break is row-exact on type pairs.
    // Both type tables feed TWO consumers (the purge counts and the
    // candidate join) — cache + materialize so neither recomputes the
    // distinct/groupBy over the full input (the [[Dedup]] discipline)
    val dTypes = dRec.select("dn").distinct()
      .withColumn("bk", explode(blockKeys("dn")))
    val cTypes = clean
      .select(col(cleanId).cast("long").as("clean_id"), col(cleanName).as("cn"))
      .where(col("clean_id").isNotNull && col("cn").isNotNull)
      .groupBy("cn").agg(min(col("clean_id")).as("rep_id"))
      .withColumn("bk", explode(blockKeys("cn")))
    // Checkpointing the candidate set is the last consumer of the two
    // type-table caches, which are released after it rather than left to
    // accumulate in a long-lived session
    val cand = withCached(dTypes)(dT => withCached(cTypes) { cT =>
      dT.count(); cT.count()
      // block purging: degenerate keys pair everything with everything;
      // cap the per-key type-pair product and drop offenders
      val okBks = dT.groupBy("bk").agg(count(lit(1)).as("n_dk"))
        .join(cT.groupBy("bk").agg(count(lit(1)).as("n_ck")), Seq("bk"))
        .where(col("n_dk") * col("n_ck") <= maxBlockPairs)
        .select("bk")
      // a type pair sharing 2+ surviving keys would score twice —
      // distinct BEFORE the levenshtein so each candidate is scored once
      dT.join(okBks, Seq("bk")).join(cT, Seq("bk"))
        .select(col("dn"), col("cn"), col("rep_id"))
        .distinct()
        .localCheckpoint()
    })
    val byName = cand
      .withColumn("dist", levenshtein(col("dn"), col("cn")))
      .where(col("dist") <= maxDist)
      .groupBy("dn")
      // min over (dist, rep_id) struct = best distance, then smallest id
      .agg(min(struct(col("dist"), col("rep_id"))).as("best"))
    // one row per dirty ID, not per dirty record: duplicate rows and
    // multi-name ids re-minimize over everything the id's names matched
    dRec.join(byName, Seq("dn"))
      .groupBy("dirty_id")
      .agg(min(struct(col("best.dist").as("dist"),
        col("best.rep_id").as("rep_id"))).as("b"))
      .select(col("dirty_id"), col("b.rep_id").as("clean_id"),
        col("b.dist").cast("long").as("dist"))
  }
}
