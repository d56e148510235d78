package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.TextOps

/**
 * Streaming variants of the training-data pipeline operators, for
 * continuous ingestion (`readStream` -> curate -> `writeStream`).
 *
 * State-bounded by design — at 100 TB/day the state store, not the
 * micro-batch, is what fails first:
 *  - dedup keys the state on the 16-byte binary md5 digest (never the
 *    document, never the 32-char hex rendering)
 *    and uses `dropDuplicatesWithinWatermark`, so entries are evicted once
 *    the watermark passes — memory is bounded by the dedup horizon, not
 *    the stream's lifetime. Duplicates arriving WITHIN the horizon are
 *    dropped exactly; a re-occurrence after eviction re-emits (the
 *    documented at-least-once-unique semantics of horizon-bounded dedup).
 *  - sessionization uses `session_window`, whose state closes and emits as
 *    soon as the watermark passes a session's gap — the streaming analogue
 *    of the batch q27 sessionize query.
 *
 * Stateless operators (quality scoring, language ID, token counts,
 * fingerprints, simhash) need no streaming variant: the `TextOps` /
 * `graft_*` expressions apply to streaming DataFrames unchanged.
 */
object StreamingOps {

  /**
   * Streaming exact (or whitespace/case-normalized) dedup: keep the first
   * document per content hash within the watermark horizon.
   */
  def dedupByContent(
      df: DataFrame,
      textCol: String,
      eventTimeCol: String,
      watermarkDelay: String,
      normalized: Boolean = false): DataFrame = {
    // unhex folds the 32-char hex rendering back to the true 16-byte
    // digest, halving per-key state size vs keying on the hex string
    val key: Column =
      if (normalized) unhex(TextOps.fingerprint(col(textCol)))
      else unhex(md5(col(textCol).cast("binary")))
    df.withColumn("__graft_content_hash", key)
      .withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__graft_content_hash")
      .drop("__graft_content_hash")
  }

  /**
   * Streaming sessionization: one row per (key, session) with bounds and
   * event count, emitted (append mode) once the watermark closes the
   * session. Gap semantics match the batch `session_window` operator.
   */
  def sessionize(
      df: DataFrame,
      keyCol: String,
      eventTimeCol: String,
      gap: String,
      watermarkDelay: String): DataFrame =
    df.withWatermark(eventTimeCol, watermarkDelay)
      .groupBy(col(keyCol), session_window(col(eventTimeCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Buffered per-key state for [[asofEnrich]]: left rows awaiting the
   *  watermark, right rows still matchable, and the key's latest event
   *  time (anchors the idle TTL). Row values are stored as plain value
   *  arrays (kryo state encoding), never whole Row objects with schemas.
   *  Public only because `Encoders.kryo` rejects non-public classes —
   *  not part of the operator's API. */
  case class AsofState(
      lefts: List[Array[Any]],
      rights: List[(Long, Array[Any])],
      lastEventMs: Long)

  /**
   * Streaming as-of enrich — the streaming analogue of
   * [[graft.operators.AsofJoin.asofBackward]]: every left-stream row is
   * enriched with the most recent right-stream row of the same key with
   * `right.ts <= left.ts` (inclusive), emitted in append mode once the
   * watermark passes the left row's event time (at which point every
   * right row at or before it has arrived, so the match is FINAL —
   * out-of-order arrival across the two streams cannot change it).
   * Unmatched left rows emit with null `outCol`/payloads (left-join
   * semantics, as in batch). Spark's stream-stream join surface cannot
   * express the argmax directly (a time-range join emits ALL rights in
   * the window), hence the custom stateful operator.
   *
   * State bound (the 100 TB/day failure mode): per key, only (a) left
   * rows younger than the watermark delay, (b) right rows younger than
   * the watermark, plus (c) ONE floor row — the latest right at or
   * before the watermark, which is still the answer for a future left
   * that precedes the next right. Everything older is evicted each
   * invocation, and idle keys are removed wholesale by an event-time
   * timeout `stateTtlMs` after the key's latest event (anchored to the
   * key's OWN latest event, not the watermark — see [[quotaPerKey]]).
   * So state is bounded by the in-horizon working set, not stream
   * lifetime. `tsCol` must be a TIMESTAMP column present on BOTH sides;
   * ties on exact equal right timestamps resolve arbitrarily (same as
   * the batch operator's window ordering).
   */
  def asofEnrich(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      watermarkDelay: String,
      payloadCols: Seq[String] = Nil,
      outCol: String = "asof_ts",
      stateTtlMs: Long = 24L * 3600 * 1000): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    require(stateTtlMs > 0, s"state TTL must be positive, got $stateTtlMs")
    // Null keys/timestamps can neither be watermarked nor matched — drop
    // up front (quarantine upstream if they must be kept), as quotaPerKey.
    val l = left.where(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .withColumn("__graft_kind", lit(1))
    val r = right.where(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol), col(tsCol),
        struct((col(tsCol).as("__ts") +: payloadCols.map(col)): _*).as("__graft_rv"),
        lit(0).as("__graft_kind"))
    val u = l.unionByName(r, allowMissingColumns = true)
      .withWatermark(tsCol, watermarkDelay)
    val uSchema = u.schema
    val nLeft = left.schema.size
    val kindIdx = uSchema.fieldIndex("__graft_kind")
    val rvIdx = uSchema.fieldIndex("__graft_rv")
    val tsIdx = uSchema.fieldIndex(tsCol)
    val payloadFields = payloadCols.map(p => right.schema(right.schema.fieldIndex(p)))
    val outSchema = StructType(left.schema.fields.toSeq ++
      (StructField(outCol, right.schema(right.schema.fieldIndex(tsCol)).dataType,
        nullable = true) +:
        payloadFields.map(f => StructField(s"${outCol}_${f.name}", f.dataType,
          nullable = true))))
    val nOut = 1 + payloadCols.size
    implicit val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    implicit val stateEnc: Encoder[AsofState] = Encoders.kryo[AsofState]

    u.groupByKey((row: Row) => String.valueOf(row.getAs[Any](keyCol)))(Encoders.STRING)
      .flatMapGroupsWithState[AsofState, Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[Row], state: GroupState[AsofState]) =>
          val st0 = state.getOption.getOrElse(AsofState(Nil, Nil, Long.MinValue))
          var lefts = st0.lefts
          var rights = st0.rights
          var lastEvent = st0.lastEventMs
          // match at MICROsecond precision — Timestamp.getTime floors to
          // milliseconds, which let a right row 600us AFTER a left match
          // it (diverging from the micro-exact batch asofBackward);
          // watermark/timeout arithmetic stays in ms (the engine's unit)
          def micros(ts: java.sql.Timestamp): Long =
            ts.getTime / 1000 * 1000000L + ts.getNanos / 1000
          rows.foreach { row =>
            val tsv = row.getAs[java.sql.Timestamp](tsIdx)
            if (tsv.getTime > lastEvent) lastEvent = tsv.getTime
            if (row.getInt(kindIdx) == 1) lefts ::= row.toSeq.toArray
            else rights ::= (micros(tsv), row.getStruct(rvIdx).toSeq.toArray)
          }
          val wm = state.getCurrentWatermarkMs()
          def lts(lv: Array[Any]): Long = micros(lv(tsIdx).asInstanceOf[java.sql.Timestamp])
          val (ready, pending) = lefts.partition(lv => lts(lv) / 1000 <= wm)
          val sortedRights = rights.sortBy(_._1)
          val out = ready.map { lv =>
            val t = lts(lv)
            // latest right at or before the left ts (list is tiny: the
            // in-horizon rows of one key in one micro-batch)
            val m = sortedRights.foldLeft(null: Array[Any]) {
              case (acc, (rts, rv)) => if (rts <= t) rv else acc
            }
            val tail = if (m == null) Seq.fill[Any](nOut)(null) else m.toSeq
            Row.fromSeq(lv.take(nLeft).toSeq ++ tail)
          }
          // evict finalized rights, keeping the single floor row
          val (future, past) = sortedRights.partition(_._1 / 1000 > wm)
          val keptRights = past.lastOption.toList ++ future
          val idleExpired = pending.isEmpty && lastEvent != Long.MinValue &&
            wm >= lastEvent + stateTtlMs
          if (idleExpired || (pending.isEmpty && keptRights.isEmpty)) {
            state.remove()
          } else {
            state.update(AsofState(pending, keptRights, lastEvent))
            // pending lefts must flush as soon as the watermark advances
            // (wm+1 fires on the next no-data batch); an idle key with
            // only a floor row just ages out
            val target = if (pending.nonEmpty) wm + 1 else lastEvent + stateTtlMs
            state.setTimeoutTimestamp(math.max(target, wm + 1))
          }
          out.iterator
      }
  }

  /**
   * Streaming per-key admission quota: pass through at most `k` rows per
   * key, then drop the rest — the ingestion-side "cap documents per
   * domain/source" control of a curation pipeline, as a custom stateful
   * operator (`flatMapGroupsWithState`) rather than an aggregation.
   *
   * State is ONE Long per key (rows admitted so far) and is removed by
   * an event-time timeout `stateTtlMs` after the key's LATEST event
   * (anchoring the TTL to the watermark instead would expire everything
   * the moment the watermark first jumps) — so state is bounded by the
   * number of keys active within the horizon, not the stream's lifetime
   * (same bound class as [[dedupByContent]]). After expiry a key's
   * quota resets: the documented per-horizon-quota semantics, not a
   * lifetime quota. `eventTimeCol` must be a TIMESTAMP column.
   *
   * Which k rows win within one micro-batch is arrival-order dependent
   * (inherent to admission control under concurrency); the COUNT
   * admitted is exact.
   */
  def quotaPerKey(
      df: DataFrame,
      keyCol: String,
      eventTimeCol: String,
      watermarkDelay: String,
      k: Int,
      stateTtlMs: Long = 24L * 3600 * 1000): DataFrame = {
    require(k > 0, s"quota must be positive, got $k")
    require(stateTtlMs > 0, s"state TTL must be positive, got $stateTtlMs")
    implicit val stateEnc: Encoder[Long] = Encoders.scalaLong
    implicit val rowEnc: Encoder[Row] = Encoders.row(df.schema)
    val tsIdx = df.schema.fieldIndex(eventTimeCol)
    // A null event time cannot anchor the TTL (getTime would NPE) and a
    // null key stringified as "null" would silently share a quota with a
    // literal "null" key — drop both up front. Null-keyed/null-timed rows
    // never count against any quota; route them to a quarantine sink
    // upstream if they must be kept. With nulls gone, String.valueOf
    // below only ever renders real keys.
    df.where(col(keyCol).isNotNull && col(eventTimeCol).isNotNull)
      .withWatermark(eventTimeCol, watermarkDelay)
      .groupByKey((r: Row) => String.valueOf(r.getAs[Any](keyCol)))(Encoders.STRING)
      .flatMapGroupsWithState[Long, Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[Row], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val seen = state.getOption.getOrElse(0L)
            val admitted = Vector.newBuilder[Row]
            var nAdmitted = 0L
            var maxEventMs = Long.MinValue
            rows.foreach { r =>
              val t = r.getAs[java.sql.Timestamp](tsIdx).getTime
              if (t > maxEventMs) maxEventMs = t
              if (seen + nAdmitted < k) {
                admitted += r
                nAdmitted += 1
              }
            }
            state.update(seen + nAdmitted)
            // timeout must land strictly past the current watermark; a
            // fully-late batch clamps to watermark+1 (expires next batch)
            state.setTimeoutTimestamp(
              math.max(maxEventMs + stateTtlMs, state.getCurrentWatermarkMs() + 1))
            admitted.result().iterator
          }
      }
  }

  /**
   * Streaming MinHash-LSH NEAR-duplicate pair detection — the streaming
   * variant of the batch `Dedup.minhashLshPairs` (q22): as documents
   * arrive, each is banded into `bands` LSH buckets; per bucket, the new
   * document is exact-Jaccard-verified against the documents already
   * seen in that bucket, and every verified pair `(id_a < id_b, inter,
   * uni)` with `inter/uni >= num/den` is emitted. Batch and streaming
   * agree: the pair set (after a downstream `distinct()` — a pair found
   * in several bands emits once per band) equals the batch operator's
   * output whenever the banding recall holds, which the shared oracle
   * (q21/q22/q123's brute-force Jaccard replay) pins.
   *
   * Scale design:
   *  - the stateless prefix (shingle hashing, MinHash signatures, band
   *    keys) is the same native-expression pipeline as batch — runs
   *    inside whole-stage codegen on the micro-batch;
   *  - state is PER LSH BUCKET (groupByKey on the band key), holding the
   *    (id, shingle-set) of bucket members — near-dup buckets are small
   *    by construction (a hot bucket means actual duplicates, which a
   *    pipeline deletes downstream); `maxPerBucket` hard-caps degenerate
   *    buckets (e.g. the empty-text bucket): beyond it, new members are
   *    verified against, but not appended to, the bucket (documented
   *    recall loss only among 257+-deep duplicate swarms);
   *  - verification happens IN-STATE (the stored shingle sets), so the
   *    streaming path needs no second join against the corpus.
   */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      num: Int = 4,
      den: Int = 5,
      maxPerBucket: Int = 256): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val sh = graft.operators.Dedup.shingleHashes(col(textCol), n)
    val sig = call_function("graft_minhash", sh, lit(numHashes))
    val banded = df.select(col(idCol).cast("long").as("id"), sh.as("sh"), sig.as("sig"))
      .select(col("id"), col("sh"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows))))))
      .toDF("id", "sh", "band", "key")

    implicit val stateEnc: Encoder[Vector[(Long, Array[Long])]] =
      Encoders.kryo[Vector[(Long, Array[Long])]]
    implicit val outEnc: Encoder[(Long, Long, Long, Long)] =
      Encoders.product[(Long, Long, Long, Long)]

    banded
      .groupByKey((r: Row) => (r.getInt(2), r.getLong(3)))(
        Encoders.product[(Int, Long)])
      .flatMapGroupsWithState[Vector[(Long, Array[Long])], (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), members: Iterator[Row],
         state: GroupState[Vector[(Long, Array[Long])]]) =>
          var bucket = state.getOption.getOrElse(Vector.empty)
          val out = Vector.newBuilder[(Long, Long, Long, Long)]
          // id-sorted within the batch: same-batch pairs emit exactly once
          members.toVector.sortBy(_.getLong(0)).foreach { r =>
            val id = r.getLong(0)
            val mySh: Array[Long] =
              r.getSeq[Long](1).toArray.sorted
            bucket.foreach { case (oid, osh) =>
              if (oid != id) {
                val inter = sortedIntersect(mySh, osh)
                val uni = mySh.length.toLong + osh.length - inter
                if (inter * den >= uni * num && uni > 0) {
                  out += ((math.min(oid, id), math.max(oid, id), inter, uni))
                }
              }
            }
            if (bucket.length < maxPerBucket && !bucket.exists(_._1 == id)) {
              bucket = bucket :+ (id -> mySh)
            }
          }
          state.update(bucket)
          out.result().iterator
      }
      .toDF("id_a", "id_b", "inter", "uni")
  }

  /**
   * Streaming TOKEN-budget admission per key: admit each arriving
   * document while the key's cumulative admitted token count (including
   * the candidate) stays within `budgetTokens` — the ingestion-time
   * form of the batch mixture-rebalance step (q128): cap what each
   * language/source/tenant may contribute to a training corpus AS IT
   * STREAMS, by token mass rather than row count (quotaPerKey's axis).
   *
   * State is ONE Long per key: the cumulative token mass of EVERY
   * arrival (admitted or not), which is monotone — so "admit while the
   * running total fits" is a pure prefix rule, and a bounded replay
   * equals the batch window `sum(toks) OVER (ORDER BY id) <= budget`
   * exactly (q130's oracle). The first overflow closes the key for
   * good: predictable cut semantics under re-runs and backfills, the
   * same reason assignSplits uses prefix hash ranges. Within a
   * micro-batch, arrival ties resolve in ascending `idCol` order (the
   * q69 bounded-replay convention).
   */
  def tokenQuotaPerKey(
      df: DataFrame,
      keyCol: String,
      idCol: String,
      textCol: String,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, s"budget must be >= 0, got $budgetTokens")
    val keyIdx = df.schema.fieldIndex(keyCol)
    val idIdx = df.schema.fieldIndex(idCol)
    val withToks = df.where(col(keyCol).isNotNull)
      .withColumn("__graft_toks", TextOps.tokenCount(col(textCol)).cast("long"))
    val outSchema = withToks.schema
    val tokIdx = outSchema.fieldIndex("__graft_toks")
    withToks
      .groupByKey((r: Row) => String.valueOf(r.getAs[Any](keyIdx)))(Encoders.STRING)
      .flatMapGroupsWithState[Long, Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row], state: GroupState[Long]) =>
          var seen = state.getOption.getOrElse(0L)
          val admitted = Vector.newBuilder[Row]
          rows.toVector.sortBy(_.getAs[Long](idIdx)).foreach { r =>
            seen += r.getLong(tokIdx)
            if (seen <= budgetTokens) admitted += r
          }
          state.update(seen)
          admitted.result().iterator
      }(Encoders.scalaLong, Encoders.row(outSchema))
      .drop("__graft_toks")
  }

  /**
   * Streaming per-window distribution sketch: one serialized quantile
   * sketch per tumbling event-time window of `valCol`, emitted (append
   * mode) once the watermark finalizes the window. The continuous
   * drift-monitor front half: downstream, any window's sketch compares
   * against a golden reference with `approx_ks_distance` (or rolls up
   * across shards with `approx_percentile_combine`) without touching the
   * raw stream again.
   *
   * Scale design: this is a plain streaming windowed aggregation — state
   * per (window, keys) is ONE sketch buffer (KB-scale, k-bounded),
   * partial aggregation happens map-side per micro-batch, and eviction
   * follows the watermark. Nothing here grows with stream length. Pass
   * `keyCols` for per-key monitoring (per-source daily length sketches);
   * state then scales with |keys| per horizon, not with rows.
   */
  def windowedDistributionSketch(
      df: DataFrame,
      eventTimeCol: String,
      valCol: String,
      windowDuration: String,
      watermarkDelay: String,
      keyCols: Seq[String] = Nil): DataFrame =
    df.withWatermark(eventTimeCol, watermarkDelay)
      .groupBy(window(col(eventTimeCol), windowDuration) +: keyCols.map(col): _*)
      .agg(expr(s"approx_percentile_accumulate($valCol)").as("sk"))
      .select(col("window.start").as("window_start") +: keyCols.map(col) :+ col("sk"): _*)

  /**
   * Streaming per-window heavy-hitters sketch: one serialized
   * frequent-items sketch per tumbling event-time window of `itemCol`
   * (the categorical companion to [[windowedDistributionSketch]] — "what
   * were the top sources/types this hour"). Downstream,
   * `inline(approx_freqitems_estimate(sk))` explodes any window into
   * (item, estimated) rows, and windows roll up across shards with
   * `approx_freqitems_combine`. Same bounded-state properties: one
   * maxMapSize-bounded sketch per window, map-side partials,
   * watermark-driven eviction.
   */
  def windowedTopItemsSketch(
      df: DataFrame,
      eventTimeCol: String,
      itemCol: String,
      windowDuration: String,
      watermarkDelay: String,
      keyCols: Seq[String] = Nil): DataFrame =
    df.withWatermark(eventTimeCol, watermarkDelay)
      .groupBy(window(col(eventTimeCol), windowDuration) +: keyCols.map(col): _*)
      .agg(expr(s"approx_freqitems_accumulate($itemCol)").as("sk"))
      .select(col("window.start").as("window_start") +: keyCols.map(col) :+ col("sk"): _*)

  /**
   * Stream-static dimension enrichment + windowed rollup: join each
   * event to a STATIC dimension table on `keyCol` and aggregate counts
   * and value sums per (tumbling window, dimension attribute) — the
   * "revenue by segment per day" shape, continuously. Events with no
   * dimension match land in the `unmatchedLabel` bucket instead of
   * silently vanishing (an inner join here is how ingestion loses the
   * rows that most need investigating).
   *
   * Scale design: the dimension side is broadcast (stream-static joins
   * never shuffle the stream; Spark re-broadcasts per micro-batch, so
   * dimension updates between batches are picked up), and the rollup
   * state is one row per (window, attr) — eviction follows the
   * watermark. `value` sums in DECIMAL(28,6): order-independent exact
   * addition, so totals are reproducible across partitionings and
   * retries — a double sum here would drift run to run.
   */
  def enrichedWindowStats(
      events: DataFrame,
      eventTimeCol: String,
      keyCol: String,
      valCol: String,
      dim: DataFrame,
      dimKeyCol: String,
      dimAttrCol: String,
      windowDuration: String,
      watermarkDelay: String,
      unmatchedLabel: String = "__unmatched__"): DataFrame =
    events.withWatermark(eventTimeCol, watermarkDelay)
      .join(broadcast(dim.select(col(dimKeyCol).as(keyCol),
        col(dimAttrCol).as("__graft_attr"))), Seq(keyCol), "left")
      .withColumn("__graft_attr", coalesce(col("__graft_attr"), lit(unmatchedLabel)))
      .groupBy(window(col(eventTimeCol), windowDuration),
        col("__graft_attr").as("attr"))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valCol).cast("decimal(28,6)")).as("total_value"))
      .select(col("window.start").as("window_start"), col("attr"),
        col("n_events"), col("total_value"))

  /**
   * Continuous CDC apply: a stream of change rows (`idCol`, `opCol` in
   * {I,U,D}, `seqCol`, payload...) maintains a parquet snapshot at
   * `snapshotDir`, bucket-partitioned by `pmod(id, nBuckets)`. Each
   * micro-batch collapses to the LATEST op per key (by `seqCol` —
   * within-batch upsert/delete races resolve deterministically), reads
   * ONLY the touched buckets, merges via [[graft.operators.Cdc
   * .mergeChanges]], and rewrites exactly those bucket partitions under
   * dynamic partition overwrite — the q181 delete-propagation shape,
   * continuously. Cross-batch ordering is the stream's arrival order
   * (standard CDC contract: feed the log in commit order).
   *
   * Scale design: per batch, work is proportional to the touched
   * buckets, never the snapshot (untouched partitions are not read OR
   * rewritten); the only driver state is the touched-bucket id list
   * (bounded by `nBuckets`). The merged frame is localCheckpoint-ed
   * before the write — that truncates the plan to a leaf, which is
   * what makes the read-then-overwrite of the same path legal, and
   * means a mid-write failure can replay the batch from the stream
   * (the snapshot is only swapped at partition-commit time).
   *
   * Returns the DataStreamWriter — caller picks trigger/checkpoint and
   * starts it. The snapshot at `snapshotDir` must already exist with a
   * `__bucket` partition column (write the seed batch with
   * [[seedCdcSnapshot]]).
   */
  def cdcSnapshotSink(
      changes: DataFrame,
      idCol: String,
      opCol: String,
      seqCol: String,
      snapshotDir: String,
      nBuckets: Int): org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    changes.writeStream.outputMode("update").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(idCol)).orderBy(col(seqCol).desc)
          val latest = batch
            .withColumn("__rn", row_number().over(w))
            .where(col("__rn") === 1)
            .drop("__rn", seqCol)
            // long on BOTH sides: parquet partition discovery re-infers
            // __bucket as int, and a long/int mismatch would re-type the
            // merge union — pin the type at every boundary instead
            .withColumn("__bucket",
              pmod(col(idCol).cast("long"), lit(nBuckets.toLong)))
          val touched = latest.select("__bucket").distinct()
            .collect().map(_.getLong(0)) // bounded by nBuckets
          val snap = spark.read.parquet(snapshotDir)
            .withColumn("__bucket", col("__bucket").cast("long"))
            .where(col("__bucket").isin(touched.toSeq: _*))
          val merged = graft.operators.Cdc
            .mergeChanges(snap, latest, idCol, opCol)
            .localCheckpoint(true) // cut lineage off snapshotDir pre-overwrite
          merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket").parquet(snapshotDir)
          // dynamic overwrite only replaces partitions PRESENT in the
          // written data — a batch that deletes every row of a touched
          // bucket leaves the stale partition on disk and the deleted
          // rows would resurrect. Drop those partition dirs explicitly.
          val survivors = merged.select("__bucket").distinct()
            .collect().map(_.getLong(0)).toSet // bounded by nBuckets
          val emptied = touched.filterNot(survivors)
          if (emptied.nonEmpty) {
            val root = new org.apache.hadoop.fs.Path(snapshotDir)
            val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
            emptied.foreach { b =>
              fs.delete(new org.apache.hadoop.fs.Path(root, s"__bucket=$b"),
                true)
            }
          }
        }
        ()
    }
  }

  /** Seed the bucket-partitioned snapshot layout [[cdcSnapshotSink]]
   *  maintains: writes `df` to `snapshotDir` partitioned by
   *  `__bucket = pmod(id, nBuckets)`. */
  def seedCdcSnapshot(
      df: DataFrame, idCol: String, snapshotDir: String, nBuckets: Int): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    df.withColumn("__bucket",
        pmod(col(idCol).cast("long"), lit(nBuckets.toLong)))
      .write.mode("overwrite").partitionBy("__bucket").parquet(snapshotDir)
  }

  /**
   * Watermarked stream-stream INTERVAL join on Spark's native join
   * surface: every left row pairs with the right rows of the same key
   * whose event time falls in `[left.ts - lookback, left.ts]` — the
   * "views in the 10 minutes before this purchase" shape. Unlike
   * [[asofEnrich]] (argmax, custom state), the all-matches semantics
   * IS expressible declaratively, so this stays on the built-in
   * `StreamingSymmetricHashJoinExec`: both sides carry watermarks and
   * the join condition bounds the time range in both directions, which
   * is exactly what Spark needs to evict state — per key, only rows
   * inside the lookback horizon are retained, so state is bounded by
   * the in-horizon working set at any corpus scale. Inner join: each
   * match emits exactly once, as soon as both rows have arrived.
   *
   * Output: all left columns plus the right side's non-key columns
   * suffixed `_r`.
   */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      lookback: String,
      watermarkDelay: String,
      joinType: String = "inner"): DataFrame = {
    require(Seq("inner", "left_outer").contains(joinType),
      s"joinType must be inner or left_outer, got $joinType")
    val l = left.withWatermark(tsCol, watermarkDelay).alias("l")
    val rRenamed = right.select(col(keyCol) +:
      right.columns.filter(_ != keyCol)
        .map(c => col(c).as(s"${c}_r")).toSeq: _*)
    val r = rRenamed.withWatermark(s"${tsCol}_r", watermarkDelay).alias("r")
    // left_outer: Spark holds the unmatched left row until the
    // watermark proves no future right row can land in its interval,
    // then emits it null-padded — the "purchases with NO prior view"
    // rows arrive watermark-late by design, matches still emit eagerly
    l.join(r,
      expr(s"l.`$keyCol` = r.`$keyCol` AND " +
        s"`${tsCol}_r` >= `$tsCol` - INTERVAL $lookback AND " +
        s"`${tsCol}_r` <= `$tsCol`"), joinType)
      .select(left.columns.map(c => col(s"l.`$c`")) ++
        rRenamed.columns.filter(_ != keyCol).map(c => col(s"r.`$c`")): _*)
  }

  /** Intersection size of two ascending-sorted long arrays. */
  private def sortedIntersect(a: Array[Long], b: Array[Long]): Long = {
    var i = 0; var j = 0; var c = 0L
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    c
  }
}
