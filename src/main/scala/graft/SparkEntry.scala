package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.conf.GraftConf
import graft.conf.GraftConf.withConfs
import graft.operators.{AsofJoin, BloomIndex, Clustering, Contracts, Dedup, Embeddings, EventOps,
  Graph, IvfIndex, JoinStats, Linkage, Multimodal, Pq, Privacy, Profiler, RangeJoin, Retrieval,
  Sampling, Similarity, SkewJoin, Spectral, Sq8, TextOps, UrlOps}

/**
 * Driver contract: named queries + DuckDB oracle SQL for the correctness
 * gate (see repo README / SURVEY.md §7).
 *
 * Oracle-design notes (how approximate operators get EXACT oracles):
 *  - Quantile sketches are exact while a group's row count stays within the
 *    sketch's exact region (KLL k=200: n<=200; MERGEABLE k=128: n<=256; all
 *    impls for tiny groups). Queries group so that holds at sf0.01, and the
 *    oracle picks the identical element: with the EXCLUSIVE search criterion
 *    the quantile at rank p over n items is the first value whose cumulative
 *    count exceeds p*n, i.e. the element at row_number
 *    `least(floor(p*n)+1, n)` in sort order.
 *  - CPC/HLL estimates are exact (after Long truncation) at the
 *    cardinalities used (verified: 150 users at sf0.01 / lgK 11-12). A
 *    deliberately-large-cardinality query instead asserts a relative-error
 *    bound, with the exact count alongside.
 *  - Freq-items sketches are exact below ~0.75*maxMapSize distinct items;
 *    all frequent-item queries target low-cardinality columns.
 *  - Float narrowing: quantile sketches store Float, so oracles over
 *    double columns with a fractional part order by / return
 *    `CAST(CAST(v AS REAL) AS DOUBLE)`.
 *  - `events.ts` is normalized to epoch-nanos BIGINT at view registration
 *    (parquet timestamp[us] -> `unix_micros(ts) * 1000`, see
 *    `normalizeEvents`); the oracle mirrors with `epoch_ns(ts)`.
 *  - Sums are cast to DECIMAL before aggregation (exact, order-independent)
 *    and to DOUBLE only in the final projection; PMF values are rounded to
 *    9 dp on both sides to absorb last-ulp differences in fraction
 *    subtraction.
 */
object SparkEntry {

  /** Idempotent session prep: sketch functions + timezone pinning.
   *  Every environment-sensitive conf a query depends on is set HERE (not in
   *  the Verify/Bench mains) so results are identical no matter which
   *  harness builds the session: UTC pins date-bucketing (q03's
   *  `unix_timestamp(DATE)` is session-timezone-dependent) and the
   *  TIMESTAMP_NTZ->epoch-nanos normalization of events.ts (see
   *  [[normalizeEvents]]). */
  def prep(spark: SparkSession): SparkSession = {
    Graft.install(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }

  /** The harness session (Bench, Verify, Profile, Explain): `local[cpus]`
   *  with as many shuffle partitions, AQE on, graft installed. */
  def localSession(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** KLL, exact while a group holds at most k = 200 rows. A query scopes
   *  it around the frames it builds: the impl freezes into their plans at
   *  analysis time, so later queries on the session keep the default. */
  private val KllImpl = GraftConf.QUANTILE_SKETCH_IMPL_KEY -> "KLL"

  /** Shuffle partitions of a bounded streaming replay: see q69. */
  private val StateParts = "spark.sql.shuffle.partitions" -> "4"

  private def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    prep(spark)
    val dir = "/root/testdata/sf0.001"
    table(spark, dir, "lineitem").createOrReplaceTempView("entry_lineitem")
    spark.sql("""
      SELECT l_returnflag,
             approx_percentile_ex(l_quantity, 0.95) AS p95_qty,
             approx_count_distinct_ex(l_orderkey) AS approx_orders,
             approx_percentile_estimate(approx_percentile_accumulate(l_extendedprice), 0.5) AS p50_price
      FROM entry_lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""")
  }

  /** (name, query fn, oracle duckdb SQL or None). */
  private case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, (s, d) => { prep(s); fn(s, d) }, Some(oracle))

  /** Scratch directories made by [[scratchDir]] and not yet deleted. */
  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A new temp directory for the running query's files (an index, shard
   *  sink or snapshot). The query's result may still read it lazily, so
   *  the harness deletes it with [[deleteScratchDirs]] once the result is
   *  written. */
  private def scratchDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(dir)
    dir.toString
  }

  /** Deletes every directory [[scratchDir]] made since the last call:
   *  Verify, Bench, Profile and Explain call it after each query. */
  def deleteScratchDirs(): Unit =
    Iterator.continually(scratchDirs.poll()).takeWhile(_ != null)
      .foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))

  /** Register the sf tables for `name` as temp views (idempotent). */
  private def view(spark: SparkSession, dir: String, names: String*): Unit =
    names.foreach { n =>
      val df = table(spark, dir, n)
      val fixed = if (n == "events") normalizeEvents(df) else df
      fixed.createOrReplaceTempView(n)
    }

  /** The engine's canonical event-time unit is epoch-nanos BIGINT (DuckDB
   *  oracles mirror with `epoch_ns(ts)`). The driver's events.parquet has
   *  stored `ts` as TIMESTAMP(NANOS) (read as BIGINT via nanosAsLong) and,
   *  since r6, as timestamp[us] (TIMESTAMP_NTZ in Spark) — normalize both
   *  here, and fail ALL event queries with one clear message if the
   *  testdata schema drifts again instead of 11 scattered analysis errors. */
  private def normalizeEvents(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case TimestampNTZType | TimestampType =>
        // session tz is pinned UTC in prep(), so the NTZ->LTZ cast is exact
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case LongType => df
      case other => throw new IllegalStateException(
        s"events.ts: expected timestamp or bigint, got $other — driver testdata " +
          "schema drift; update SparkEntry.normalizeEvents")
    }
  }

  // ---------------------------------------------------------------------
  // Query inventory. Sketch-function queries first (SURVEY.md §2 surface),
  // then relational/bench queries, then pipeline operators.
  // ---------------------------------------------------------------------
  // shared by q96 (inline BM25) and q101 (persisted text index): the
  // index path must answer bit-for-bit like the inline operator, so both
  // queries check against the SAME DuckDB replay
  private val bm25Queries: Seq[(Int, String)] =
    Seq(1 -> "hash join table", 2 -> "slow scan filter",
      3 -> "stream window agg", 4 -> "customer order data zzz",
      5 -> "vector merge batch")

  private val bm25OracleSql: String =
    """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |  FROM documents),
        |stats AS (SELECT count(*) AS n, sum(len(ts)) AS t FROM toks),
        |q(qid, term) AS (VALUES
        |  (1,'hash'),(1,'join'),(1,'table'),
        |  (2,'slow'),(2,'scan'),(2,'filter'),
        |  (3,'stream'),(3,'window'),(3,'agg'),
        |  (4,'customer'),(4,'order'),(4,'data'),(4,'zzz'),
        |  (5,'vector'),(5,'merge'),(5,'batch')),
        |terms AS (SELECT DISTINCT term FROM q),
        |tft AS (
        |  SELECT term, doc_id, len(list_filter(ts, x -> x = term)) AS tf,
        |         len(ts) AS dl
        |  FROM toks CROSS JOIN terms),
        |dfreq AS (
        |  SELECT term, sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df
        |  FROM tft GROUP BY term),
        |scored AS (
        |  SELECT q.qid, tft.doc_id,
        |         sum(CASE WHEN tft.tf > 0 THEN
        |           CAST((CAST(round(ln((n - df + 0.5) / (df + 0.5) + 1) * 1000000)
        |                      AS HUGEINT) * 22000 * t * tft.tf)
        |                // (10 * CAST(t AS HUGEINT) * tft.tf + 3 * t + 9 * tft.dl * n)
        |                AS BIGINT)
        |           ELSE 0 END) AS score_fp,
        |         sum(tft.tf) AS anytf
        |  FROM tft JOIN q USING (term) CROSS JOIN stats JOIN dfreq USING (term)
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT qid, row_number() OVER (
        |           PARTITION BY qid ORDER BY score_fp DESC, doc_id) AS rank,
        |         doc_id, score_fp
        |  FROM scored WHERE anytf > 0)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id,
        |       CAST(score_fp AS BIGINT) AS score_fp
        |FROM ranked WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  private lazy val inventory: Seq[Q] = Seq(

    // #1 approx_percentile_ex (one-shot, scalar percentage)
    q("q01_percentile_by_order",
      """WITH ranked AS (
        |  SELECT l_orderkey, l_quantity v,
        |         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_quantity) rn,
        |         count(*) OVER (PARTITION BY l_orderkey) n
        |  FROM lineitem)
        |SELECT l_orderkey,
        |       max(CASE WHEN rn = least(CAST(floor(0.5*n)+1 AS BIGINT), n) THEN v END) AS p50
        |FROM ranked GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin) { (s, d) =>
      view(s, d, "lineitem")
      s.sql("""SELECT l_orderkey, approx_percentile_ex(l_quantity, 0.5) AS p50
              |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)
    },

    // #2 approx_percentile_kll (array percentages, float-narrowing oracle)
    q("q02_percentile_kll_custkey",
      """WITH ranked AS (
        |  SELECT o_custkey, CAST(CAST(o_totalprice AS REAL) AS DOUBLE) v,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY CAST(o_totalprice AS REAL)) rn,
        |         count(*) OVER (PARTITION BY o_custkey) n
        |  FROM orders)
        |SELECT o_custkey,
        |       max(CASE WHEN rn = least(CAST(floor(0.25*n)+1 AS BIGINT), n) THEN v END) AS p25,
        |       max(CASE WHEN rn = least(CAST(floor(0.5*n)+1 AS BIGINT), n) THEN v END) AS p50,
        |       max(CASE WHEN rn = least(CAST(floor(0.75*n)+1 AS BIGINT), n) THEN v END) AS p75
        |FROM ranked GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) { (s, d) =>
      view(s, d, "orders")
      s.sql("""SELECT o_custkey, ps[0] AS p25, ps[1] AS p50, ps[2] AS p75 FROM (
              |  SELECT o_custkey,
              |         approx_percentile_kll(o_totalprice, array(0.25, 0.5, 0.75)) AS ps
              |  FROM orders GROUP BY o_custkey) ORDER BY o_custkey""".stripMargin)
    },

    // #3/#4 approx_percentile_req + approx_percentile_mergeable (weekly buckets)
    q("q03_percentile_weekly",
      """WITH ranked AS (
        |  SELECT CAST(floor(epoch(l_shipdate)/604800) AS BIGINT) wk, l_quantity v,
        |         row_number() OVER (PARTITION BY CAST(floor(epoch(l_shipdate)/604800) AS BIGINT)
        |                            ORDER BY l_quantity) rn,
        |         count(*) OVER (PARTITION BY CAST(floor(epoch(l_shipdate)/604800) AS BIGINT)) n
        |  FROM lineitem)
        |SELECT wk,
        |       max(CASE WHEN rn = least(CAST(floor(0.95*n)+1 AS BIGINT), n) THEN v END) AS p95
        |FROM ranked GROUP BY wk ORDER BY wk""".stripMargin) { (s, d) =>
      view(s, d, "lineitem")
      // MERGEABLE classic sketch (k=128) is exact for the <=204-row weekly groups
      s.sql("""SELECT unix_timestamp(l_shipdate) DIV 604800 AS wk,
              |       approx_percentile_mergeable(l_quantity, 0.95) AS p95
              |FROM lineitem GROUP BY 1 ORDER BY wk""".stripMargin)
    },

    // #5/#6/#7/#8 quantile lifecycle: accumulate -> combine -> estimate + pmf
    q("q04_percentile_lifecycle",
      """WITH sub AS (
        |  SELECT l_quantity v FROM lineitem
        |  WHERE l_orderkey < 40
        |    AND to_timestamp(floor(epoch(l_shipdate)/604800)*604800) >= TIMESTAMP '1993-01-01'),
        |stats AS (SELECT min(v) mn, max(v) mx, count(*) n FROM sub),
        |ranked AS (SELECT v, row_number() OVER (ORDER BY v) rn FROM sub)
        |SELECT
        |  (SELECT max(CASE WHEN rn = least(CAST(floor(0.5*n)+1 AS BIGINT), n) THEN v END)
        |   FROM ranked, stats) AS p50,
        |  (SELECT max(CASE WHEN rn = least(CAST(floor(0.95*n)+1 AS BIGINT), n) THEN v END)
        |   FROM ranked, stats) AS p95,
        |  (SELECT round(sum(CASE WHEN v < 1*(mx-mn)/4 THEN 1 ELSE 0 END)/n, 9)
        |   FROM sub, stats GROUP BY n) AS pmf_0,
        |  (SELECT round(sum(CASE WHEN v >= 1*(mx-mn)/4 AND v < 2*(mx-mn)/4 THEN 1 ELSE 0 END)/n, 9)
        |   FROM sub, stats GROUP BY n) AS pmf_1,
        |  (SELECT round(sum(CASE WHEN v >= 2*(mx-mn)/4 AND v < 3*(mx-mn)/4 THEN 1 ELSE 0 END)/n, 9)
        |   FROM sub, stats GROUP BY n) AS pmf_2,
        |  (SELECT round(sum(CASE WHEN v >= 3*(mx-mn)/4 THEN 1 ELSE 0 END)/n, 9)
        |   FROM sub, stats GROUP BY n) AS pmf_3""".stripMargin) { (s, d) =>
      withConfs(s, KllImpl) {
        view(s, d, "lineitem")
        buildQ04(s)
      }
    },

    // approx_cdf_estimate + approx_rank_estimate (beyond reference surface;
    // same exact-region design as q04: KLL is exact for this small group,
    // EXCLUSIVE rank of v = fraction of items strictly below v, CDF uses
    // the same un-offset split points as the PMF)
    q("q32_quantile_cdf_rank",
      """WITH sub AS (
        |  SELECT l_quantity v FROM lineitem WHERE l_orderkey < 40),
        |stats AS (SELECT min(v) mn, max(v) mx, count(*) n FROM sub)
        |SELECT
        |  round((SELECT sum(CASE WHEN v < 25.0 THEN 1 ELSE 0 END)/n FROM sub, stats GROUP BY n), 9)
        |    AS rank_25,
        |  round((SELECT sum(CASE WHEN v < 1*(mx-mn)/4 THEN 1 ELSE 0 END)/n FROM sub, stats GROUP BY n, mn, mx), 9)
        |    AS cdf_0,
        |  round((SELECT sum(CASE WHEN v < 2*(mx-mn)/4 THEN 1 ELSE 0 END)/n FROM sub, stats GROUP BY n, mn, mx), 9)
        |    AS cdf_1,
        |  round((SELECT sum(CASE WHEN v < 3*(mx-mn)/4 THEN 1 ELSE 0 END)/n FROM sub, stats GROUP BY n, mn, mx), 9)
        |    AS cdf_2,
        |  CAST(1.0 AS DOUBLE) AS cdf_3""".stripMargin) { (s, d) =>
      withConfs(s, KllImpl) {
        view(s, d, "lineitem")
        s.sql("""
          |WITH m AS (
          |  SELECT approx_percentile_accumulate(l_quantity) s
          |  FROM lineitem WHERE l_orderkey < 40)
          |SELECT round(approx_rank_estimate(s, 25.0), 9) AS rank_25,
          |       round(approx_cdf_estimate(s, 4)[0], 9) AS cdf_0,
          |       round(approx_cdf_estimate(s, 4)[1], 9) AS cdf_1,
          |       round(approx_cdf_estimate(s, 4)[2], 9) AS cdf_2,
          |       round(approx_cdf_estimate(s, 4)[3], 9) AS cdf_3
          |FROM m""".stripMargin)
      }
    },

    // reservoir_sample (beyond reference surface): per-group uniform
    // sampling. Groups here have <= 7 rows < k=10, so the reservoir keeps
    // EVERYTHING — the sorted sample equals the sorted group values
    // exactly (the sketch's RNG only engages past k). The global column
    // exercises the over-full path (n > k): its size is deterministic
    // even though its contents are random. The sample is emitted as a
    // comma-joined STRING, not ARRAY: the driver's pandas-based row sort
    // crashes on array cells (unhashable numpy.ndarray).
    q("q33_reservoir_sample",
      """SELECT l_orderkey,
        |       array_to_string(list_sort(list(CAST(l_quantity AS VARCHAR))), ',') AS sample,
        |       100 AS global_sample_size
        |FROM lineitem WHERE l_orderkey < 40
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin) { (s, d) =>
      view(s, d, "lineitem")
      s.sql("""
        |SELECT l_orderkey,
        |       array_join(sort_array(reservoir_sample(CAST(l_quantity AS STRING), 10)), ',')
        |         AS sample,
        |       (SELECT size(reservoir_sample(CAST(l_orderkey AS STRING), 100))
        |        FROM lineitem) AS global_sample_size
        |FROM lineitem WHERE l_orderkey < 40
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)
    },

    // varopt_sample (beyond reference surface): weighted sampling. Buckets
    // of 10 docs < k=20, so the sketch keeps every item with its EXACT
    // original weight — inline'd rows equal the raw (bucket, id, length)
    // tuples.
    q("q34_varopt_sample",
      """SELECT doc_id % 50 AS bucket, CAST(doc_id AS VARCHAR) AS item,
        |       CAST(length(text) AS DOUBLE) AS weight
        |FROM documents ORDER BY bucket, item""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      s.sql("""
        |WITH s AS (
        |  SELECT doc_id % 50 AS bucket,
        |         varopt_sample(CAST(doc_id AS STRING),
        |                       CAST(length(text) AS DOUBLE), 20) AS smp
        |  FROM documents GROUP BY 1)
        |SELECT bucket, t.item, t.weight
        |FROM s LATERAL VIEW inline(smp) t AS item, weight
        |ORDER BY bucket, item""".stripMargin)
    },

    // #13 approx_count_distinct_ex (exact at this cardinality)
    q("q05_distinct_users",
      "SELECT count(DISTINCT user_id) AS n_users FROM events") { (s, d) =>
      view(s, d, "events")
      s.sql("SELECT approx_count_distinct_ex(user_id) AS n_users FROM events")
    },

    // #14/#15 CPC + HLL pinned variants, grouped
    q("q06_distinct_by_type",
      """SELECT event_type, count(DISTINCT user_id) AS n_cpc, count(DISTINCT user_id) AS n_hll
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      view(s, d, "events")
      s.sql("""SELECT event_type,
              |       approx_count_distinct_cpc(user_id) AS n_cpc,
              |       approx_count_distinct_hll(user_id) AS n_hll
              |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    // #16/#17/#18 distinct-count lifecycle
    q("q07_distinct_lifecycle",
      """SELECT count(DISTINCT user_id) AS n_users FROM events
        |WHERE event_type IN ('click', 'view')""".stripMargin) { (s, d) =>
      view(s, d, "events")
      s.sql("""
        |WITH summaries AS (
        |  SELECT event_type, approx_count_distinct_accumulate(CAST(user_id AS STRING)) s
        |  FROM events GROUP BY 1),
        |merged AS (
        |  SELECT approx_count_distinct_combine(s) m FROM summaries
        |  WHERE event_type IN ('click', 'view'))
        |SELECT approx_count_distinct_estimate(m) AS n_users FROM merged""".stripMargin)
    },

    // Honest large-cardinality accuracy assertion (approx != exact here)
    q("q08_distinct_orders_bound",
      "SELECT count(DISTINCT l_orderkey) AS exact_cnt, true AS within_3pct FROM lineitem") { (s, d) =>
      view(s, d, "lineitem")
      s.sql("""SELECT count(DISTINCT l_orderkey) AS exact_cnt,
              |       abs(approx_count_distinct_ex(l_orderkey) - count(DISTINCT l_orderkey))
              |         / count(DISTINCT l_orderkey) < 0.03 AS within_3pct
              |FROM lineitem""".stripMargin)
    },

    // #9 approx_freqitems (string) — exact below map capacity
    q("q09_freqitems_events",
      """SELECT event_type AS item, count(*) AS estimated FROM events
        |GROUP BY event_type ORDER BY estimated DESC, item""".stripMargin) { (s, d) =>
      view(s, d, "events")
      s.sql("""SELECT item, estimated
              |FROM (SELECT inline(approx_freqitems(event_type)) FROM events)
              |ORDER BY estimated DESC, item""".stripMargin)
    },

    // #9 approx_freqitems (integral)
    q("q10_freqitems_long",
      """SELECT CAST(l_linenumber AS BIGINT) AS item, count(*) AS estimated FROM lineitem
        |GROUP BY 1 ORDER BY estimated DESC, item""".stripMargin) { (s, d) =>
      view(s, d, "lineitem")
      s.sql("""SELECT item, estimated
              |FROM (SELECT inline(approx_freqitems(CAST(l_linenumber AS BIGINT))) FROM lineitem)
              |ORDER BY estimated DESC, item""".stripMargin)
    },

    // #10/#11/#12 freq-items lifecycle over day buckets of nanos timestamps
    q("q11_freqitems_lifecycle",
      """SELECT event_type AS item, count(*) AS estimated FROM events
        |WHERE (epoch_ns(ts)//86400000000000) % 3 = 0
        |GROUP BY 1 ORDER BY estimated DESC, item""".stripMargin) { (s, d) =>
      view(s, d, "events")
      s.sql("""
        |WITH summaries AS (
        |  SELECT ts DIV 86400000000000 AS day, approx_freqitems_accumulate(event_type) s
        |  FROM events GROUP BY 1),
        |merged AS (
        |  SELECT approx_freqitems_combine(s) m FROM summaries WHERE day % 3 = 0)
        |SELECT fi.item, fi.estimated
        |FROM merged LATERAL VIEW inline(approx_freqitems_estimate(m)) fi AS item, estimated
        |ORDER BY estimated DESC, item""".stripMargin)
    },

    // Theta set-operation sketches (beyond reference surface): audience
    // overlap between the first two activity days from independently-
    // built sketches — union, intersection, and difference cardinalities
    // (day slices chosen because every user emits every event type, so
    // event-type sets are all identical). Exact at this cardinality
    // (150 users << 2^12 nominal entries; set ops of exact sketches are
    // exact), so the oracle computes true set sizes.
    q("q31_theta_set_ops",
      """WITH d AS (
        |  SELECT user_id,
        |         epoch_ns(ts)//86400000000000
        |           - (SELECT min(epoch_ns(ts)//86400000000000) FROM events) AS day
        |  FROM events)
        |SELECT
        |  (SELECT count(*) FROM (SELECT DISTINCT user_id FROM d WHERE day = 0
        |   UNION SELECT user_id FROM d WHERE day = 1)) AS n_union,
        |  (SELECT count(*) FROM (SELECT DISTINCT user_id FROM d WHERE day = 0
        |   INTERSECT SELECT DISTINCT user_id FROM d WHERE day = 1)) AS n_inter,
        |  (SELECT count(*) FROM (SELECT DISTINCT user_id FROM d WHERE day = 0
        |   EXCEPT SELECT DISTINCT user_id FROM d WHERE day = 1)) AS n_a_only""".stripMargin) {
      (s, d) =>
      view(s, d, "events")
      s.sql("""
        |WITH dd AS (
        |  SELECT user_id,
        |         ts DIV 86400000000000
        |           - (SELECT min(ts DIV 86400000000000) FROM events) AS day
        |  FROM events),
        |s AS (
        |  SELECT theta_accumulate(CASE WHEN day = 0 THEN CAST(user_id AS STRING) END) ask,
        |         theta_accumulate(CASE WHEN day = 1 THEN CAST(user_id AS STRING) END) bsk
        |  FROM dd),
        |u AS (SELECT ask AS sk FROM s UNION ALL SELECT bsk FROM s)
        |SELECT (SELECT theta_estimate(theta_union(sk)) FROM u) AS n_union,
        |       (SELECT theta_estimate(theta_intersect(sk)) FROM u) AS n_inter,
        |       theta_estimate(theta_a_not_b(ask, bsk)) AS n_a_only
        |FROM s""".stripMargin)
    },

    // --- relational engine surface (stock Spark, exercised + benched) ---
    q("q12_agg_pricing",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      view(s, d, "lineitem")
      s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n,
              |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
              |       CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
              |FROM lineitem GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    },

    q("q13_revenue_by_nation",
      """SELECT n_name, count(*) AS n_items,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
        |                 * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))) AS DOUBLE)
        |         AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
      view(s, d, "lineitem", "orders", "customer", "nation")
      s.sql("""SELECT n_name, count(*) AS n_items,
              |       CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
              |                 * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))) AS DOUBLE)
              |         AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |GROUP BY n_name ORDER BY n_name""".stripMargin)
    },

    q("q14_window_topk",
      """SELECT o_orderpriority, rk, o_orderkey FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |         CAST(row_number() OVER (PARTITION BY o_orderpriority
        |                                 ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin) { (s, d) =>
      view(s, d, "orders")
      s.sql("""SELECT o_orderpriority, rk, o_orderkey FROM (
              |  SELECT o_orderpriority, o_orderkey,
              |         CAST(row_number() OVER (PARTITION BY o_orderpriority
              |                                 ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
              |  FROM orders)
              |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin)
    },

    // --- training-data pipeline operators -------------------------------

    // Exact dedup over an input with planted duplicate copies
    q("q15_dedup_exact",
      """WITH inp AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0)
        |SELECT md5(text) AS content_hash, min(doc_id) AS kept_id, count(*) AS n_copies
        |FROM inp GROUP BY 1 ORDER BY kept_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val dup = s.sql("""SELECT doc_id, text FROM documents UNION ALL
                        |SELECT doc_id + 1000000 AS doc_id, text FROM documents
                        |WHERE doc_id % 5 = 0""".stripMargin)
      Dedup.exactDedup(dup, "doc_id", "text").orderBy("kept_id")
    },

    // Normalized (case/whitespace) dedup: upper-cased copies collapse
    q("q16_dedup_normalized",
      """WITH inp AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, upper(text) FROM documents WHERE doc_id % 7 = 0)
        |SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS content_hash,
        |       min(doc_id) AS kept_id, count(*) AS n_copies
        |FROM inp GROUP BY 1 ORDER BY kept_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val dup = s.sql("""SELECT doc_id, text FROM documents UNION ALL
                        |SELECT doc_id + 1000000 AS doc_id, upper(text) AS text FROM documents
                        |WHERE doc_id % 7 = 0""".stripMargin)
      Dedup.normalizedDedup(dup, "doc_id", "text").orderBy("kept_id")
    },

    // Token counting, char-class metrics, fingerprint
    q("q17_text_stats",
      """SELECT doc_id,
        |       CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
        |       CAST(length(text) AS BIGINT) AS n_chars,
        |       CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha,
        |       CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
        |       md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      s.table("documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        TextOps.alphaCount(col("text")).cast("long").as("n_alpha"),
        TextOps.punctCount(col("text")).cast("long").as("n_punct"),
        TextOps.fingerprint(col("text")).as("fp")).orderBy("doc_id")
    },

    // Stopword-argmax language ID (hits = exact token-equality counts
    // over the shared whitespace tokenization, both engines)
    q("q18_langid", {
      def hits(w: String) =
        s"len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x = '$w'))"
      val scores = TextOps.langMarkers
        .map { case (l, ws) => l -> ws.map(hits).mkString(" + ") }
      val scoreCols = scores.map { case (l, e) => s"($e) AS s_$l" }.mkString(", ")
      val best = s"greatest(${scores.map("s_" + _._1).mkString(", ")})"
      val caseChain = scores
        .map { case (l, _) => s"WHEN s_$l = best AND best > 0 THEN '$l'" }
        .mkString(" ")
      s"""WITH scored AS (SELECT doc_id, $scoreCols FROM documents),
         |b AS (SELECT *, $best AS best FROM scored)
         |SELECT doc_id, CASE $caseChain ELSE 'und' END AS lang_pred,
         |       CAST(s_en AS BIGINT) AS en_hits
         |FROM b ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      view(s, d, "documents")
      s.table("documents").select(
        col("doc_id"),
        TextOps.languageId(col("text")).as("lang_pred"),
        TextOps.langScore(col("text"), "en").cast("long").as("en_hits")).orderBy("doc_id")
    },

    // Quality flag (integer-arithmetic heuristic)
    q("q19_quality",
      """SELECT doc_id,
        |       CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
        |       (len(regexp_split_to_array(trim(lower(text)), '\s+')) >= 5
        |        AND length(text) <= 20000
        |        AND length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 100 >= length(text) * 50
        |        AND (len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x = 'the'))
        |             + len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x = 'and'))
        |             + len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x = 'of'))
        |             + len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x = 'to'))) * 100
        |            >= len(regexp_split_to_array(trim(lower(text)), '\s+')) * 2) AS is_quality
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      s.table("documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.qualityFlag(col("text")).as("is_quality")).orderBy("doc_id")
    },

    // SimHash fingerprint (native expression vs mechanical SQL mirror)
    q("q20_simhash", simhashOracle) { (s, d) =>
      view(s, d, "documents")
      s.sql("""SELECT doc_id, graft_simhash(text) AS simhash
              |FROM documents ORDER BY doc_id""".stripMargin)
    },

    // Exact n-gram Jaccard near-dup pairs (inverted shingle index)
    q("q21_dedup_ngram", jaccardOracle) { (s, d) =>
      view(s, d, "documents")
      Dedup.ngramJaccardPairs(s.table("documents"), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },

    // MinHash+LSH banded near-dups, exact-verified; same oracle as q21
    q("q22_dedup_minhash", jaccardOracle) { (s, d) =>
      view(s, d, "documents")
      Dedup.minhashLshPairs(s.table("documents"), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },

    // Duplicate-cluster resolution: connected components over the exact
    // Jaccard near-dup pair graph — comp = smallest doc_id of the cluster
    // (the canonical keeper). Oracle computes the transitive closure of
    // the same brute-force pair set with a recursive CTE.
    q("q35_dedup_clusters",
      """WITH RECURSIVE w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') ws FROM documents),
        |d AS (
        |  SELECT doc_id,
        |         CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
        |              ELSE list_distinct(list_transform(range(len(ws) - 4),
        |                     i -> array_to_string(ws[i+1:i+5], ' '))) END sh
        |  FROM w),
        |pairs AS (
        |  SELECT a.doc_id id_a, b.doc_id id_b
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) * 5
        |        >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 4),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |  UNION SELECT doc_id, doc_id FROM documents),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT dst AS id, min(src) AS comp FROM reach GROUP BY dst ORDER BY id""".stripMargin) {
      (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      val edges = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
        .select("id_a", "id_b")
      Dedup.connectedComponents(docs.select(col("doc_id")), edges, "doc_id")
        .orderBy("id")
    },

    // Embedding-cosine near-dup pairs (exact double math)
    q("q23_embedding_pairs",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.47
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      Dedup.embeddingCosinePairs(s.table("embeddings"), "vec_id", "embedding", 0.47)
        .orderBy("id_a", "id_b")
    },

    // Brute-force cosine top-k (exact baseline)
    q("q24_knn_bruteforce",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.vec_id query_id, c.vec_id neighbor_id,
        |         list_dot_product(q.v, c.v)
        |         / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) cosine
        |  FROM q JOIN e c ON q.vec_id != c.vec_id)
        |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) rk
        |  FROM scored)
        |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      val e = s.table("embeddings")
      Similarity.bruteForceKnn(e, e.where(col("vec_id") < 20), "vec_id", "embedding", 3)
        .orderBy("query_id", "rk")
    },

    // IVF approximate top-k: recall vs the exact baseline must clear 0.9.
    // The measured recall value itself is corpus-dependent (the synthetic
    // embeddings are near-unclustered — organic max cosine ~0.51, the
    // worst case for any cell-partitioned index — and each sf draws a
    // different corpus), so the oracle checks a scale-independent contract
    // instead of pinning one corpus's measurement: the query count is
    // recomputed from the data and the >= 0.9 bar guards quantizer
    // quality at EVERY shipped sf. Parameter sweep (deterministic):
    // nlist=16/nprobe=12/iters=3 gives recall 0.933/0.983/0.933 at
    // sf0.001/0.01/0.1; the old 8/6/3 dipped to 0.867 off-sf0.01. The
    // high nprobe:nlist ratio is inherent to this corpus — the synthetic
    // vectors are near-uniform on the sphere, so true neighbors sit near
    // cell boundaries; on naturally clustered data nprobe/nlist shrinks.
    q("q25_knn_ivf_recall",
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      val e = s.table("embeddings")
      val queries = e.where(col("vec_id") < 20)
      val exact = Similarity.bruteForceKnn(e, queries, "vec_id", "embedding", 3)
      val approx = Similarity.ivfKnn(e, queries, "vec_id", "embedding", 3,
        nlist = 16, nprobe = 12)
      Similarity.recallAtK(exact, approx)
        .crossJoin(queries.agg(count(lit(1)).as("n_queries")))
        .select(col("n_queries"), (col("mean_recall") >= 0.9).as("recall_ok"))
    },

    // Multimodal: REAL javax.imageio round-trip — synthesize genuine PNG
    // payloads with per-id dimensions, then decode width/height/frames/
    // format from the actual bytes. The oracle recomputes the dimension
    // formula arithmetically: a hash match proves the codec really read
    // the planted image headers.
    q("q26_multimodal_decode",
      """SELECT doc_id,
        |       CAST(1 + doc_id % 16 AS INT) AS width,
        |       CAST(1 + (doc_id * 7) % 16 AS INT) AS height,
        |       CAST(1 AS INT) AS n_frames,
        |       'png' AS format
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val media = Multimodal.synthesizeImageContent(s.table("documents"), "doc_id")
      Multimodal.decodeImageFeatures(media, "doc_id")
        .select("doc_id", "width", "height", "n_frames", "format")
        .orderBy("doc_id")
    },

    // Multimodal audio: REAL javax.sound WAV round-trip — synthesize
    // genuine 16-bit mono PCM WAV payloads with per-id parameters, then
    // decode sample rate/channels/frames from the actual bytes. The
    // oracle recomputes the parameter formulas arithmetically.
    q("q36_multimodal_audio",
      """SELECT doc_id,
        |       8000 AS sample_rate,
        |       1 AS channels,
        |       CAST(100 + doc_id % 400 AS BIGINT) AS n_frames,
        |       'wav' AS format
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val media = Multimodal.synthesizeAudioContent(s.table("documents"), "doc_id")
      Multimodal.decodeAudioFeatures(media, "doc_id")
        .select("doc_id", "sample_rate", "channels", "n_frames", "format")
        .orderBy("doc_id")
    },

    // BPE-ish token counting + winnowing (rolling-hash) fingerprints.
    // The oracle recomputes each char-8-gram's Karp-Rabin hash (codepoints,
    // base 257, mod 1e9+7) NON-rolling — same values as graft_winnow's
    // rolling formulation, pure integer arithmetic on both engines.
    q("q29_text_tokens_fingerprints",
      """WITH n AS (
        |  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm,
        |         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT)
        |           AS n_bpe_tokens
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, n_bpe_tokens,
        |         CASE WHEN length(norm) < 8 THEN
        |           [list_reduce(list_prepend(CAST(0 AS BIGINT),
        |              list_transform(range(1, length(norm) + 1),
        |                             p -> CAST(unicode(substr(norm, p, 1)) AS BIGINT))),
        |            (a, c) -> (a * 257 + c) % 1000000007)]
        |         ELSE
        |           list_transform(range(1, length(norm) - 7 + 1), i ->
        |             list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                list_transform(range(0, 8),
        |                               j -> CAST(unicode(substr(norm, i + j, 1)) AS BIGINT))),
        |              (a, c) -> (a * 257 + c) % 1000000007))
        |         END AS grams
        |  FROM n),
        |fp AS (
        |  SELECT doc_id, n_bpe_tokens,
        |         list_distinct(list_transform(range(1, greatest(len(grams) - 3, 1) + 1),
        |                       i -> list_min(grams[i:i+3]))) AS fps
        |  FROM g)
        |SELECT doc_id, n_bpe_tokens,
        |       CAST(len(fps) AS BIGINT) AS n_fingerprints, list_min(fps) AS min_fp
        |FROM fp ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      TextOps.withWinnowingFingerprints(s.table("documents"), "text", "fps")
        .select(
          col("doc_id"),
          TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
          size(col("fps")).cast("long").as("n_fingerprints"),
          array_min(col("fps")).as("min_fp"))
        .orderBy("doc_id")
    },

    // Embedding near-dups via random-hyperplane LSH (at-scale path). The
    // organic corpus tops out at cosine ~0.51, so near-duplicate vectors
    // are PLANTED (pattern of q15's planted text dups): every 10th vector
    // gets a +0.001-perturbed copy at id+1M — self-cosine >= 0.99996,
    // far above the 0.95 threshold, while organic pairs stay far below.
    // The oracle therefore expects exactly the planted pairs, proving
    // at-driver-level that LSH recall on true near-dups is 1.0.
    q("q28_embedding_lsh",
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |e AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(v, x -> x + 0.001) FROM base
        |  WHERE vec_id % 10 = 0)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.95
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      val base = s.table("embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val planted = base.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.001)).as("embedding"))
      Dedup.embeddingLshPairs(base.unionByName(planted), "vec_id", "embedding", 0.95, dim = 64)
        .orderBy("id_a", "id_b")
    },

    // Benchmark decontamination: flag corpus docs sharing any word-8-gram
    // with the "eval benchmark" (docs with id % 50 = 0). The corpus gets
    // planted contaminated copies at id+2M; the benchmark originals flag
    // themselves (they are in the corpus too). The oracle recomputes the
    // shared-shingle counts brute-force on raw shingles; Spark joins on
    // xxhash64(shingle) (collision-safe at these set sizes).
    q("q30_decontamination",
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') ws
        |  FROM (SELECT doc_id, text FROM documents
        |        UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 50 = 0)),
        |shs AS (
        |  SELECT doc_id,
        |         CASE WHEN len(ws) < 8 THEN [array_to_string(ws, ' ')]
        |              ELSE list_distinct(list_transform(range(len(ws) - 7),
        |                     i -> array_to_string(ws[i+1:i+8], ' '))) END sh
        |  FROM w),
        |bsh AS (SELECT DISTINCT s FROM (SELECT unnest(sh) s FROM shs WHERE doc_id % 50 = 0 AND doc_id < 2000000)),
        |hits AS (
        |  SELECT doc_id, count(*) AS n
        |  FROM (SELECT doc_id, unnest(sh) s FROM shs) c JOIN bsh USING (s)
        |  GROUP BY doc_id)
        |SELECT doc_id AS id, CAST(n AS BIGINT) AS n_shared
        |FROM hits WHERE n >= 1 ORDER BY id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents").select(col("doc_id"), col("text"))
      val bench = docs.where(col("doc_id") % 50 === 0)
      val planted = bench.select((col("doc_id") + 2000000).as("doc_id"), col("text"))
      Dedup.contaminatedDocs(docs.unionByName(planted), bench, "doc_id", "text",
        n = 8, minShared = 1)
        .orderBy("id")
    },

    // Gopher-style repetition/boilerplate signals, computed array-locally
    // (no shuffle). The oracle replays the same token/gram constructions
    // with DuckDB list functions; fractions are integer-count divisions
    // rounded to 9 dp on both sides.
    q("q37_repetition_signals",
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, ws,
        |         CASE WHEN len(ws) >= 2 THEN
        |           list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
        |         ELSE CAST([] AS VARCHAR[]) END AS g2,
        |         CASE WHEN len(ws) >= 3 THEN
        |           list_transform(range(1, len(ws) - 1),
        |                          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |         ELSE CAST([] AS VARCHAR[]) END AS g3
        |  FROM w),
        |srt AS (SELECT doc_id, ws, g2, g3, list_sort(g2) AS s2 FROM g),
        |runs AS (
        |  SELECT doc_id, ws, g2, g3, s2,
        |         list_filter(range(0, len(s2)), i -> i = 0 OR s2[i+1] != s2[i]) AS starts
        |  FROM srt)
        |SELECT doc_id,
        |       CAST(len(ws) AS BIGINT) AS n_words,
        |       round(1 - len(list_distinct(ws)) / len(ws), 9) AS dup_word_frac,
        |       CASE WHEN len(g3) > 0
        |            THEN round(1 - len(list_distinct(g3)) / len(g3), 9)
        |            ELSE 0.0 END AS dup_3gram_frac,
        |       CASE WHEN len(g2) > 0
        |            THEN round(list_max(list_transform(range(1, len(starts) + 1),
        |                         j -> (CASE WHEN j = len(starts) THEN len(s2)
        |                               ELSE starts[j+1] END) - starts[j])) / len(g2), 9)
        |            ELSE 0.0 END AS top_2gram_frac
        |FROM runs ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      TextOps.repetitionSignals(s.table("documents"), "text")
        .select("doc_id", "n_words", "dup_word_frac", "dup_3gram_frac", "top_2gram_frac")
        .orderBy("doc_id")
    },

    // As-of join (an operator Spark lacks natively; see AsofJoin's scale
    // notes): every purchase matched to the user's most recent click at
    // or before the purchase time. The oracle is DuckDB's NATIVE ASOF
    // LEFT JOIN — two independent implementations of the same semantics.
    // events.ts is epoch-nanos BIGINT on the Spark side (nanosAsLong)
    // but DuckDB reads the same parquet at MICRO precision — so its ASOF
    // COMPARES micro-truncated timestamps. The Spark side must truncate
    // to micros BEFORE the as-of (not just in the output): a click and a
    // purchase landing in the same microsecond with the click later by
    // sub-micro nanos must still match, as it does in DuckDB.
    q("q38_asof_join",
      """SELECT l.event_id, l.user_id, epoch_ns(l.ts)//1000 AS t,
        |       epoch_ns(r.ts)//1000 AS last_click_ts
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin) { (s, d) =>
      view(s, d, "events")
      val ev = s.table("events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), expr("ts DIV 1000").as("ts"))
      AsofJoin.asofBackward(purchases, clicks, "user_id", "ts", outCol = "last_click_ts")
        .select(col("event_id"), col("user_id"),
          col("ts").as("t"), col("last_click_ts"))
        .orderBy("event_id")
    },

    // Deterministic stratified sampling: exactly 5 docs per language,
    // ranked by md5(id) — a seedless uniform draw both engines replay
    // bit-identically (md5 hex strings compare identically everywhere).
    q("q39_stratified_sample",
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents)
        |WHERE rnk <= 5 ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      Sampling.stratifiedSample(
        s.table("documents").select("doc_id", "lang"), Seq("lang"), "doc_id", 5)
        .orderBy("lang", "doc_id")
    },

    // PII-style pattern scrubbing counts. The organic corpus is clean
    // word-soup, so pattern-bearing copies are PLANTED (q15's pattern):
    // every 100th doc gets a copy at id+3M with an appended contact line.
    // Patterns stay in the Java-regex ∩ RE2 common dialect so both
    // engines' non-overlapping leftmost-match counts agree exactly.
    q("q40_pattern_signals",
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000,
        |         text || ' reach alice.w@example.com or bob@test.org'
        |              || ' call 555-123-4567 see https://docs.example.com/guide'
        |  FROM documents WHERE doc_id % 100 = 0)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(lower(text),
        |            '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(lower(text), '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |       CAST(len(regexp_extract_all(lower(text), 'https?://[^\s]+')) AS BIGINT) AS n_urls
        |FROM all_docs ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents").select(col("doc_id"), col("text"))
      val planted = docs.where(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"),
          concat(col("text"), lit(" reach alice.w@example.com or bob@test.org" +
            " call 555-123-4567 see https://docs.example.com/guide")).as("text"))
      docs.unionByName(planted)
        .select(col("doc_id"),
          TextOps.patternCount(lower(col("text")),
            "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}").cast("long").as("n_emails"),
          TextOps.patternCount(lower(col("text")),
            "[0-9]{3}-[0-9]{3}-[0-9]{4}").cast("long").as("n_phones"),
          TextOps.patternCount(lower(col("text")),
            "https?://[^\\s]+").cast("long").as("n_urls"))
        .orderBy("doc_id")
    },

    // SimHash-banded near-dup pairs (lossless for hamming <= 3 with 4
    // bands, by pigeonhole). Exact copies are PLANTED (q15 pattern) so
    // the output is non-empty (hamming 0 pairs); the oracle recomputes
    // simhash with the q20 mirror and filters ALL pairs by a bit-count
    // hamming — the banded plan must equal the brute-force filter.
    q("q49_simhash_pairs", {
      val ham = "CAST(list_sum(list_transform(range(1, 17), i -> " +
        "bit_count(xor(strpos('0123456789abcdef', substr(a.simhash, i, 1)) - 1, " +
        "strpos('0123456789abcdef', substr(b.simhash, i, 1)) - 1)))) AS BIGINT)"
      s"""WITH src AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 25 = 0),
         |t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
         |      FROM src),
         |s AS (SELECT doc_id, $simhashNibbles AS simhash FROM t)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, $ham AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE $ham <= 3
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents").select(col("doc_id"), col("text"))
      val planted = docs.where(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      Dedup.simhashNearDupPairs(docs.unionByName(planted), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },

    // Per-source boilerplate detection. The organic corpus has no real
    // boilerplate (max 3/25 docs share a 3-gram), so footers are
    // PLANTED in a MINORITY of every source's docs — the plant
    // condition uses doc_id DIV 20 because source cycles with doc_id
    // % 20, so a plain doc_id % 4 would footer ALL docs of 5 sources
    // and none elsewhere. Footer-interior grams hit 7/25 docs >= the
    // 1/5 bar; organic grams stay <= 3/25. Integer-rational threshold.
    q("q48_boilerplate",
      """WITH d AS (
        |  SELECT source,
        |         CASE WHEN (doc_id // 20) % 4 = 0
        |              THEN text || ' subscribe to ' || source || ' newsletter for daily updates now'
        |              ELSE text END AS text
        |  FROM documents),
        |w AS (SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') ws FROM d),
        |g AS (
        |  SELECT source,
        |         unnest(CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
        |                     ELSE list_distinct(list_transform(range(len(ws) - 4),
        |                            i -> array_to_string(ws[i+1:i+5], ' '))) END) AS gram
        |  FROM w),
        |c AS (SELECT source, gram, count(*) AS n_docs FROM g GROUP BY 1, 2),
        |t AS (SELECT source, count(*) AS total_docs FROM d GROUP BY 1)
        |SELECT c.source, c.gram, c.n_docs, t.total_docs
        |FROM c JOIN t USING (source)
        |WHERE c.n_docs * 5 >= t.total_docs * 1
        |ORDER BY source, gram""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val planted = s.table("documents").select(col("source"), col("doc_id"),
        when(expr("(doc_id DIV 20) % 4") === 0,
          concat(col("text"), lit(" subscribe to "), col("source"),
            lit(" newsletter for daily updates now")))
          .otherwise(col("text")).as("text"))
      TextOps.boilerplateNgrams(planted, "source", "doc_id", "text",
        n = 5, num = 1, den = 5)
        .orderBy("source", "gram")
    },

    // TF-IDF characteristic terms per document, top-3. Ranking runs on
    // the ROUNDED score (6 dp) with the term as tiebreak, so ln()
    // last-ulp differences between engines cannot flip ranks.
    q("q47_tfidf_terms",
      """WITH docs100 AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM docs100),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM docs100)
        |SELECT doc_id, CAST(rk AS INT) AS rk, term, score FROM (
        |  SELECT t.doc_id, t.term,
        |         round(t.tf * ln(n.n_docs / d.df), 6) AS score,
        |         row_number() OVER (PARTITION BY t.doc_id
        |           ORDER BY round(t.tf * ln(n.n_docs / d.df), 6) DESC, t.term) AS rk
        |  FROM tf t JOIN dfreq d USING (term), n)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      TextOps.tfIdfTopTerms(
        s.table("documents").where(col("doc_id") < 100), "doc_id", "text", 3)
        .orderBy("doc_id", "rk")
    },

    // Sketches meet the curation corpus: per-source profile (doc count,
    // median token count via KLL — exact at 25-row groups — and exact
    // distinct languages at cardinality 5). The oracle uses the
    // EXCLUSIVE-rank formula of q01/q02 over the same token expression.
    q("q46_source_profile",
      """WITH t AS (
        |  SELECT source, lang,
        |         CAST(CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS REAL)
        |              AS DOUBLE) v
        |  FROM documents),
        |ranked AS (
        |  SELECT source, v, row_number() OVER (PARTITION BY source ORDER BY v) rn,
        |         count(*) OVER (PARTITION BY source) n
        |  FROM t),
        |p AS (
        |  SELECT source,
        |         max(CASE WHEN rn = least(CAST(floor(0.5*n)+1 AS BIGINT), n) THEN v END)
        |           AS p50_tokens
        |  FROM ranked GROUP BY source),
        |l AS (SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs
        |      FROM t GROUP BY source)
        |SELECT p.source, CAST(l.n_docs AS BIGINT) AS n_docs, p.p50_tokens,
        |       CAST(l.n_langs AS BIGINT) AS n_langs
        |FROM p JOIN l USING (source) ORDER BY source""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      s.sql("""
        |SELECT source, count(*) AS n_docs,
        |       approx_percentile_kll(CAST(size(split(trim(lower(text)), '\\s+')) AS DOUBLE),
        |                             0.5) AS p50_tokens,
        |       approx_count_distinct_ex(lang) AS n_langs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)
    },

    // The curation funnel: exact dedup -> quality filter -> benchmark
    // decontamination -> stratified sample, composed end to end from the
    // individual operators, reporting each stage's surviving count in
    // one row. The oracle replays the ENTIRE funnel in SQL (q15 + q19 +
    // q30 + q39's formulas chained) — proving the operators compose
    // without interfering, not just pass in isolation.
    q("q45_curation_funnel",
      """WITH inp AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 5 = 0),
        |kept AS (SELECT min(doc_id) AS doc_id FROM inp GROUP BY md5(text)),
        |deduped AS (SELECT i.* FROM inp i JOIN kept USING (doc_id)),
        |quality AS (
        |  SELECT * FROM deduped
        |  WHERE len(regexp_split_to_array(trim(lower(text)), '\s+')) >= 5
        |    AND length(text) <= 20000
        |    AND length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 100 >= length(text) * 50
        |    AND (len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x = 'the'))
        |         + len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x = 'and'))
        |         + len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x = 'of'))
        |         + len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x = 'to'))) * 100
        |        >= len(regexp_split_to_array(trim(lower(text)), '\s+')) * 2),
        |w AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') ws FROM quality),
        |shs AS (
        |  SELECT doc_id,
        |         CASE WHEN len(ws) < 8 THEN [array_to_string(ws, ' ')]
        |              ELSE list_distinct(list_transform(range(len(ws) - 7),
        |                     i -> array_to_string(ws[i+1:i+8], ' '))) END sh
        |  FROM w),
        |bw AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') ws
        |       FROM documents WHERE doc_id % 50 = 0),
        |bsh AS (
        |  SELECT DISTINCT s FROM (
        |    SELECT unnest(CASE WHEN len(ws) < 8 THEN [array_to_string(ws, ' ')]
        |                       ELSE list_distinct(list_transform(range(len(ws) - 7),
        |                              i -> array_to_string(ws[i+1:i+8], ' '))) END) s
        |    FROM bw)),
        |contaminated AS (
        |  SELECT DISTINCT doc_id FROM (SELECT doc_id, unnest(sh) s FROM shs) c
        |  JOIN bsh USING (s)),
        |clean AS (SELECT * FROM quality
        |          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |smp AS (SELECT doc_id FROM (
        |          SELECT doc_id, row_number() OVER (PARTITION BY lang
        |                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) rnk
        |          FROM clean) WHERE rnk <= 10)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM inp) AS n_raw,
        |       (SELECT CAST(count(*) AS BIGINT) FROM deduped) AS n_dedup,
        |       (SELECT CAST(count(*) AS BIGINT) FROM quality) AS n_quality,
        |       (SELECT CAST(count(*) AS BIGINT) FROM clean) AS n_clean,
        |       (SELECT CAST(count(*) AS BIGINT) FROM smp) AS n_sample""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      // Each stage feeds multiple consumers (the next stage + its own
      // count); Spark re-derives a DataFrame subtree per consumer (no
      // cross-branch CSE), so the stages are cached — the in-memory
      // analogue of a production funnel's per-stage parquet
      // materialization. ContextCleaner evicts the blocks with the
      // lineage.
      val inp = docs.select("doc_id", "text", "lang").unionByName(
        docs.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text"), col("lang")))
        .cache()
      val deduped = inp.join(
        Dedup.exactDedup(inp, "doc_id", "text").select(col("kept_id").as("doc_id")),
        "doc_id")
      val quality = deduped.where(TextOps.qualityFlag(col("text"))).cache()
      val bench = docs.where(col("doc_id") % 50 === 0).select("doc_id", "text")
      val contaminated = Dedup.contaminatedDocs(quality, bench, "doc_id", "text",
        n = 8, minShared = 1).select(col("id").as("doc_id"))
      val clean = quality.join(contaminated, Seq("doc_id"), "left_anti").cache()
      val sample = Sampling.stratifiedSample(
        clean.select("doc_id", "lang"), Seq("lang"), "doc_id", 10)
      inp.agg(count(lit(1)).as("n_raw"))
        .crossJoin(deduped.agg(count(lit(1)).as("n_dedup")))
        .crossJoin(quality.agg(count(lit(1)).as("n_quality")))
        .crossJoin(clean.agg(count(lit(1)).as("n_clean")))
        .crossJoin(sample.agg(count(lit(1)).as("n_sample")))
    },

    // Random-projection dimensionality reduction: the oracle REBUILDS
    // the identical ±1 sign matrix from the same md5(seed:j:i) formula
    // and projects with list_dot_product — sequential double sums are
    // bit-identical across the engines (see q23/q24), rounded to 9 dp
    // anyway for safety.
    q("q44_random_projection",
      """WITH m AS (
        |  SELECT j, list(CASE WHEN strpos('01234567',
        |                        substr(md5('42:' || j || ':' || i), 1, 1)) > 0
        |                      THEN 1.0 ELSE -1.0 END ORDER BY i) AS row
        |  FROM range(16) t1(j), range(64) t2(i)
        |  GROUP BY j)
        |SELECT e.vec_id, CAST(m.j AS INT) AS dim,
        |       round(list_dot_product(CAST(e.embedding AS DOUBLE[]), m.row), 9) AS val
        |FROM embeddings e, m
        |WHERE e.vec_id < 50
        |ORDER BY e.vec_id, dim""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      Embeddings.randomProjection(
        s.table("embeddings").where(col("vec_id") < 50), "embedding", "proj",
        inDim = 64, outDim = 16, seed = 42L)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "v")))
        .select(col("vec_id"), col("dim"), round(col("v"), 9).as("val"))
        .orderBy("vec_id", "dim")
    },

    // Two-stage ANN: coarse top-50 in md5-seeded random-projected 16-d
    // space, exact rerank of those candidates in full 64-d. The oracle
    // replays the ENTIRE two-stage algorithm in SQL — possible because
    // the projection matrix is md5-derived (q44) and every cosine is a
    // sequential double sum (q23/q24) — so the match is row-exact, not
    // a recall bar.
    q("q50_projected_knn",
      """WITH pm AS (
        |  SELECT j, list(CASE WHEN strpos('01234567',
        |                        substr(md5('42:' || j || ':' || i), 1, 1)) > 0
        |                      THEN 1.0 ELSE -1.0 END ORDER BY i) AS row
        |  FROM range(16) t1(j), range(64) t2(i) GROUP BY j),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |pv AS (
        |  SELECT e.vec_id, list(list_dot_product(e.v, pm.row) ORDER BY pm.j) AS p
        |  FROM e, pm GROUP BY e.vec_id),
        |q AS (SELECT * FROM pv WHERE vec_id < 10),
        |coarse AS (
        |  SELECT q.vec_id qid, c.vec_id cid,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_dot_product(q.p, c.p)
        |                    / (sqrt(list_dot_product(q.p, q.p))
        |                       * sqrt(list_dot_product(c.p, c.p))) DESC, c.vec_id) rk
        |  FROM q JOIN pv c ON q.vec_id != c.vec_id),
        |cand AS (SELECT qid, cid FROM coarse WHERE rk <= 50),
        |rr AS (
        |  SELECT cand.qid, cand.cid,
        |         row_number() OVER (PARTITION BY cand.qid
        |           ORDER BY list_dot_product(eq.v, ec.v)
        |                    / (sqrt(list_dot_product(eq.v, eq.v))
        |                       * sqrt(list_dot_product(ec.v, ec.v))) DESC, cand.cid) rk
        |  FROM cand
        |  JOIN e eq ON eq.vec_id = cand.qid
        |  JOIN e ec ON ec.vec_id = cand.cid)
        |SELECT qid AS query_id, CAST(rk AS INT) AS rk, cid AS neighbor_id
        |FROM rr WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      val e = s.table("embeddings")
      Similarity.projectedKnn(e, e.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 3, m = 50)
        .orderBy("query_id", "rk")
    },

    // Multimodal video: REAL multi-frame animated GIFs written with
    // javax.imageio's sequence writer, then the frame count decoded back
    // from the actual container bytes (getNumImages(allowSearch=true)).
    // The oracle recomputes the parameter formulas arithmetically: a
    // hash match proves the codec really walked the planted frames.
    q("q42_multimodal_video",
      """SELECT doc_id,
        |       CAST(1 + doc_id % 8 AS INT) AS width,
        |       CAST(1 + (doc_id * 3) % 8 AS INT) AS height,
        |       CAST(2 + doc_id % 6 AS INT) AS n_frames,
        |       'gif' AS format
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val media = Multimodal.synthesizeVideoContent(s.table("documents"), "doc_id")
      Multimodal.decodeImageFeatures(media, "doc_id")
        .select("doc_id", "width", "height", "n_frames", "format")
        .orderBy("doc_id")
    },

    // Salted skew join: result must be IDENTICAL to the plain equi-join
    // (the oracle runs the plain join) — proving salting is a pure
    // physical rewrite. The aggregate sums as DECIMAL (exact,
    // order-independent) per the q12 pattern.
    q("q43_salted_join",
      """SELECT o.o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l
        |JOIN (SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderkey < 4000) o
        |  ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      view(s, d, "lineitem", "orders")
      val large = s.table("lineitem").select(col("l_orderkey").as("o_orderkey"),
        col("l_quantity"))
      val small = s.table("orders").where(col("o_orderkey") < 4000)
        .select(col("o_orderkey"), col("o_orderpriority"))
      SkewJoin.saltedEquiJoin(large, small, Seq("o_orderkey"), salts = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"))
        .orderBy("o_orderpriority")
    },

    // Bucketed range join (point-in-interval). Spark plans the naive
    // non-equi join as BroadcastNestedLoopJoin; RangeJoin derives a
    // bucket equi-key instead (see its scale notes). The oracle is the
    // naive BETWEEN join — fine at oracle scale, the very plan the
    // operator exists to avoid at corpus scale. IEEE double +-500
    // arithmetic is bit-identical in both engines, so boundary
    // comparisons agree exactly.
    q("q41_range_join",
      """SELECT i.o_orderkey AS interval_id, CAST(count(*) AS BIGINT) AS n_in_range
        |FROM orders p
        |JOIN (SELECT o_orderkey, o_totalprice - 500 AS lo, o_totalprice + 500 AS hi
        |      FROM orders WHERE o_orderkey % 200 = 0) i
        |  ON p.o_totalprice BETWEEN i.lo AND i.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      view(s, d, "orders")
      val o = s.table("orders")
      val intervals = o.where(col("o_orderkey") % 200 === 0)
        .select(col("o_orderkey").as("interval_id"),
          (col("o_totalprice") - 500).as("lo"),
          (col("o_totalprice") + 500).as("hi"))
      val points = o.select(col("o_totalprice").as("p"))
      RangeJoin.pointInInterval(points, intervals, "p", "lo", "hi", bucketWidth = 1000.0)
        .groupBy("interval_id").agg(count(lit(1)).as("n_in_range"))
        .orderBy("interval_id")
    },

    // Sessionization via session_window (12h gap). Oracle mirrors Spark's
    // merge rule — verified empirically: an event at exactly last+gap still
    // MERGES into the session, so a new session starts only when the gap is
    // STRICTLY exceeded — with a gaps-and-islands window query over micros.
    // NB: DuckDB's integer sum() yields HUGEINT (int128); pandas-based
    // hashers canonicalize that differently from Spark's BIGINT, so every
    // integer aggregate in the oracle must be CAST to BIGINT explicitly.
    q("q27_sessionize",
      """WITH o AS (
        |  SELECT user_id, epoch_ns(ts)//1000 t,
        |         lag(epoch_ns(ts)//1000) OVER (PARTITION BY user_id ORDER BY ts) p
        |  FROM events)
        |SELECT user_id,
        |       CAST(1 + sum(CASE WHEN p IS NOT NULL AND t - p > 43200000000 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_sessions,
        |       count(*) AS n_events
        |FROM o GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      view(s, d, "events")
      s.sql("""
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(sum(n) AS BIGINT) AS n_events
        |FROM (
        |  SELECT user_id, session_window(timestamp_micros(ts DIV 1000), '12 hours') w,
        |         count(*) AS n
        |  FROM events GROUP BY user_id, session_window(timestamp_micros(ts DIV 1000), '12 hours'))
        |GROUP BY user_id ORDER BY user_id""".stripMargin)
    },

    // Accent-insensitive dedup: diacritics folded by the native
    // graft_fold_accents (NFD, drop combining marks, NFC) before the
    // whitespace/case fingerprint; DuckDB mirrors with utf8proc
    // strip_accents. The organic corpus is ASCII, so accent variants are
    // PLANTED (q16's pattern): every 9th doc gets a copy at id+2M with
    // vowels swapped for accented forms — 56 two-copy groups at sf0.01.
    q("q51_dedup_accent",
      """WITH inp AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, translate(text, 'aeiou', 'áéíóú')
        |  FROM documents WHERE doc_id % 9 = 0)
        |SELECT md5(regexp_replace(strip_accents(lower(text)), '\s+', ' ', 'g')) AS content_hash,
        |       min(doc_id) AS kept_id, count(*) AS n_copies
        |FROM inp GROUP BY 1 ORDER BY kept_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      val dup = docs.select(col("doc_id"), col("text"))
        .unionAll(docs.where(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            translate(col("text"), "aeiou", "áéíóú").as("text")))
      Dedup.accentDedup(dup, "doc_id", "text").orderBy("kept_id")
    },

    // Paragraph-level dedup (the Dolma/RefinedWeb curation step): each
    // paragraph survives only at its FIRST corpus-wide occurrence
    // (smallest (id, pos)). The word-soup corpus has no paragraph breaks,
    // so structure is PLANTED: every doc is prefixed with one of 5 shared
    // boilerplate headers — docs 0-4 keep both paragraphs, every later
    // doc keeps only its own text. The oracle replays the exact
    // first-occurrence rule ((id, pos) encoded as id*1e6+pos; pos < 1e6
    // always, ids < 1e6 here, so the encoding is order-preserving).
    q("q52_paragraph_dedup",
      """WITH docs AS (
        |  SELECT doc_id AS id,
        |         concat('shared header ', CAST(doc_id % 5 AS VARCHAR), chr(10), chr(10), text) AS t
        |  FROM documents),
        |sp AS (SELECT id, string_split(t, chr(10)||chr(10)) AS paras FROM docs),
        |paras AS (
        |  SELECT id, u.pos AS pos, u.para AS para FROM (
        |    SELECT id, unnest(list_transform(range(len(paras)),
        |      i -> {'pos': i, 'para': paras[i+1]})) AS u
        |    FROM sp)),
        |winners AS (SELECT md5(para) AS h, min(id*1000000+pos) AS w FROM paras GROUP BY 1),
        |kept AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS n_kept,
        |         string_agg(para, chr(10)||chr(10) ORDER BY pos) AS text_kept
        |  FROM paras
        |  WHERE id*1000000+pos IN (SELECT w FROM winners)
        |  GROUP BY id)
        |SELECT d.id, CAST(len(sp.paras) AS BIGINT) AS n_paras,
        |       coalesce(k.n_kept, 0) AS n_kept, coalesce(k.text_kept, '') AS text_kept
        |FROM docs d JOIN sp USING (id) LEFT JOIN kept k ON d.id = k.id
        |ORDER BY id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val inp = s.table("documents").select(col("doc_id"),
        concat(lit("shared header "), (col("doc_id") % 5).cast("string"),
          lit("\n\n"), col("text")).as("text"))
      Dedup.paragraphDedup(inp, "doc_id", "text").orderBy("id")
    },

    // Token-budget sequence packing: per-lang shards, 256-token budget,
    // deterministic md5(id) layout order. All-integer arithmetic, so the
    // oracle replays the running sum exactly (sum cast to BIGINT — DuckDB
    // window sum over BIGINT yields HUGEINT, which the driver's pandas
    // hashing canonicalizes differently).
    q("q53_pack_sequences",
      """WITH toks AS (
        |  SELECT lang AS shard, doc_id AS id,
        |         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |acc AS (
        |  SELECT shard, id, n_tokens,
        |         CAST(sum(n_tokens) OVER (PARTITION BY shard
        |             ORDER BY md5(CAST(id AS VARCHAR)), id
        |             ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS tokens_before
        |  FROM toks)
        |SELECT shard, id, n_tokens, tokens_before // 256 AS seq_id,
        |       tokens_before % 256 AS seq_offset
        |FROM acc ORDER BY shard, id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      TextOps.packSequences(s.table("documents"), "doc_id", "text", "lang", 256)
        .orderBy("shard", "id")
    },

    // Incremental (bloom-prefiltered) dedup of a new batch against the
    // existing corpus: exact copies of every 4th doc must be dropped,
    // "novel tail" variants (planted twice, ids +6M/+7M) survive and
    // collapse in-batch to their min id. The bloom filter only PRUNES —
    // the oracle is the plain exact anti-join semantics, so a bloom
    // false positive that slipped past verification would hash-mismatch.
    q("q54_incremental_dedup",
      """WITH newb AS (
        |  SELECT doc_id + 5000000 AS doc_id, text FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 6000000, concat(text, ' novel tail') FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 7000000, concat(text, ' novel tail') FROM documents WHERE doc_id % 10 = 0),
        |ex AS (SELECT DISTINCT md5(text) AS h FROM documents),
        |nh AS (SELECT doc_id, md5(text) AS h FROM newb)
        |SELECT h AS content_hash, min(doc_id) AS kept_id, count(*) AS n_copies
        |FROM nh WHERE h NOT IN (SELECT h FROM ex)
        |GROUP BY 1 ORDER BY kept_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      def tail(m: Long) = docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + m).as("doc_id"),
          concat(col("text"), lit(" novel tail")).as("text"))
      val newBatch = docs.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
        .unionAll(tail(6000000L)).unionAll(tail(7000000L))
      Dedup.incrementalDedup(newBatch, docs, "doc_id", "text", expectedItems = 1000L)
        .orderBy("kept_id")
    },

    // Corpus mixing: per-source rational sampling rates via the 15-hex-
    // digit md5 fraction of the id against precomputed 2^60-scaled
    // integer thresholds — the oracle embeds the SAME BigInt-derived
    // literals (mixOracleCase below), so no float ever enters either
    // engine's comparison.
    q("q55_weighted_mix",
      s"""WITH v AS (
         |  SELECT doc_id, source,
         |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS hv
         |  FROM documents)
         |SELECT doc_id, source FROM v
         |WHERE hv < $mixOracleCase
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      Sampling.weightedMix(s.table("documents"), "doc_id", "source",
          mixRates.toMap, mixDefault)
        .select("doc_id", "source").orderBy("doc_id")
    },

    // Sequence-length cap: clip to the first 40 normalized tokens with
    // kept-count and truncation flag (corpus accounting).
    q("q56_truncate_tokens",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents)
        |SELECT doc_id, array_to_string(ws[1:40], ' ') AS clipped,
        |       CAST(least(len(ws), 40) AS BIGINT) AS n_tokens_kept,
        |       len(ws) > 40 AS was_truncated
        |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      TextOps.truncateToTokens(s.table("documents"), "text", "clipped", 40)
        .select("doc_id", "clipped", "n_tokens_kept", "was_truncated")
        .orderBy("doc_id")
    },

    // Overlapping token-window chunking (24-token windows, 8 overlap →
    // step 16): chunk starts are multiples of the step, so chunk_id is
    // pure integer arithmetic both engines replay identically.
    q("q57_chunk_documents",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |st AS (SELECT doc_id, ws, unnest(range(0, len(ws), 16)) AS s FROM t)
        |SELECT doc_id, s // 16 AS chunk_id,
        |       CAST(least(24, len(ws) - s) AS BIGINT) AS n_chunk_tokens,
        |       array_to_string(ws[s+1:s+24], ' ') AS chunk
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      TextOps.chunkDocuments(s.table("documents"), "doc_id", "text", 24, 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "chunk_id")
    },

    // Deterministic 8/1/1 train/val/test assignment over disjoint hash
    // ranges — same 2^60 space as q55, same shared-literal oracle
    // pattern (splitOracleCase).
    q("q58_split_assignment",
      s"""WITH v AS (
         |  SELECT doc_id,
         |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS hv
         |  FROM documents)
         |SELECT doc_id, $splitOracleCase AS split
         |FROM v ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      Sampling.assignSplits(s.table("documents"), "doc_id", splitWeights)
        .select("doc_id", "split").orderBy("doc_id")
    },

    // Reference-corpus LM coverage quality (integerized CCNet-style
    // filter): vocabulary (count >= 2) and bigram set trained on the
    // doc_id % 7 = 0 slice, every document scored for OOV rate and
    // bigram coverage. All counts are integers (a float log-prob sum
    // would be summation-order-sensitive); fractions are integer-count
    // divisions rounded to 9 dp on both sides (the q37 pattern). Spark
    // joins on xxhash64 token/bigram hashes, the oracle on the strings —
    // collision-equivalent (the model every hash join here accepts).
    q("q59_lm_quality",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') ws FROM documents),
        |vocab AS (
        |  SELECT w FROM (SELECT unnest(ws) w FROM t WHERE doc_id % 7 = 0)
        |  GROUP BY w HAVING count(*) >= 2),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(len(ws) - 1),
        |                        i -> ws[i+1] || ' ' || ws[i+2])) g
        |  FROM t WHERE len(ws) >= 2),
        |refbg AS (SELECT DISTINCT g FROM bg WHERE doc_id % 7 = 0),
        |tok AS (SELECT doc_id, unnest(ws) w FROM t),
        |oov AS (SELECT doc_id, count(*) n FROM tok
        |        WHERE w NOT IN (SELECT w FROM vocab) GROUP BY doc_id),
        |kb AS (SELECT doc_id, count(*) n FROM bg
        |       WHERE g IN (SELECT g FROM refbg) GROUP BY doc_id)
        |SELECT t.doc_id AS id,
        |       CAST(len(ws) AS BIGINT) AS n_tokens,
        |       CAST(coalesce(oov.n, 0) AS BIGINT) AS n_oov,
        |       round(coalesce(oov.n, 0) / CAST(len(ws) AS DOUBLE), 9) AS oov_frac,
        |       CAST(greatest(len(ws) - 1, 0) AS BIGINT) AS n_bigrams,
        |       CAST(coalesce(kb.n, 0) AS BIGINT) AS n_known_bigrams,
        |       CASE WHEN len(ws) >= 2
        |            THEN round(coalesce(kb.n, 0) / CAST(len(ws) - 1 AS DOUBLE), 9)
        |            ELSE 0.0 END AS bigram_cov
        |FROM t LEFT JOIN oov USING (doc_id) LEFT JOIN kb USING (doc_id)
        |ORDER BY id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      TextOps.lmCoverageSignals(docs, docs.where(col("doc_id") % 7 === 0),
        "doc_id", "text", minCount = 2)
        .orderBy("id")
    },

    // PII redaction (the scrub step q40 only counts): URLs, then emails,
    // then phone numbers replaced with tags, each count measured on the
    // text AFTER the previous replacement — the oracle chains the same
    // three regexp_replace stages, in the Java-regex ∩ RE2 common
    // dialect q40 established. Pattern-bearing copies are PLANTED
    // (q40's exact planting) since the organic corpus is clean.
    q("q60_pii_redact",
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000,
        |         text || ' reach alice.w@example.com or bob@test.org'
        |              || ' call 555-123-4567 see https://docs.example.com/guide'
        |  FROM documents WHERE doc_id % 100 = 0),
        |s0 AS (SELECT doc_id AS id, lower(text) t FROM all_docs),
        |s1 AS (SELECT id,
        |              CAST(len(regexp_extract_all(t, 'https?://[^\s]+')) AS BIGINT) n_urls,
        |              regexp_replace(t, 'https?://[^\s]+', '<URL>', 'g') t FROM s0),
        |s2 AS (SELECT id, n_urls,
        |              CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) n_emails,
        |              regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g') t FROM s1),
        |s3 AS (SELECT id, n_urls, n_emails,
        |              CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) n_phones,
        |              regexp_replace(t, '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') t FROM s2)
        |SELECT id, t AS clean_text, n_urls, n_emails, n_phones
        |FROM s3 ORDER BY id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents").select(col("doc_id"), col("text"))
      val planted = docs.where(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"),
          concat(col("text"), lit(" reach alice.w@example.com or bob@test.org" +
            " call 555-123-4567 see https://docs.example.com/guide")).as("text"))
      TextOps.redactPii(docs.unionByName(planted), "doc_id", "text")
        .orderBy("id")
    },

    // Int8-quantized two-stage KNN: coarse search over per-vector-scaled
    // integer vectors (exact integer dots — zero float-summation
    // sensitivity), exact rerank of the survivors (q50's pattern on the
    // bytes-per-dimension axis instead of the dimension-count axis).
    // round() is half-away-from-zero in BOTH engines (verified), so the
    // quantized vectors are identical.
    q("q61_quantized_knn",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |nz AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 s
        |       FROM e WHERE list_max(list_transform(v, x -> abs(x))) > 0),
        |pv AS (SELECT vec_id, list_transform(v, x -> CAST(round(x / s) AS DOUBLE)) p FROM nz),
        |q AS (SELECT vec_id, p FROM pv WHERE vec_id < 10),
        |coarse AS (
        |  SELECT q.vec_id qid, c.vec_id cid,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_dot_product(q.p, c.p)
        |                    / (sqrt(list_dot_product(q.p, q.p))
        |                       * sqrt(list_dot_product(c.p, c.p))) DESC, c.vec_id) rk
        |  FROM q JOIN pv c ON q.vec_id != c.vec_id),
        |cand AS (SELECT qid, cid FROM coarse WHERE rk <= 50),
        |rr AS (
        |  SELECT cand.qid, cand.cid,
        |         row_number() OVER (PARTITION BY cand.qid
        |           ORDER BY list_dot_product(eq.v, ec.v)
        |                    / (sqrt(list_dot_product(eq.v, eq.v))
        |                       * sqrt(list_dot_product(ec.v, ec.v))) DESC, cand.cid) rk
        |  FROM cand
        |  JOIN e eq ON eq.vec_id = cand.qid
        |  JOIN e ec ON ec.vec_id = cand.cid)
        |SELECT qid AS query_id, CAST(rk AS INT) AS rk, cid AS neighbor_id
        |FROM rr WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      val e = s.table("embeddings")
      Similarity.quantizedKnn(e, e.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 3, m = 50)
        .orderBy("query_id", "rk")
    },

    // Semi-structured JSON props: extraction (get_json_object — Spark's
    // codegen'd JSON path builtin vs DuckDB's json_extract_string) feeding
    // a grouped aggregate with integer bucketing. Exercises the
    // scalar-JSON delegated category of SURVEY.md §2.2 on the events
    // table's props column.
    q("q62_json_extract",
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       CAST(count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10) AS BIGINT) AS n_buckets
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      view(s, d, "events")
      // k is projected ONCE before the aggregate: inlined into the agg
      // expressions, the JSON parse would run per referencing aggregate
      s.table("events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          // integer DIV, matching the oracle's all-integer `// 10`
          // (floor of a double division drifts past 2^53)
          countDistinct(expr("k DIV 10")).as("n_buckets"))
        .orderBy("event_type")
    },

    // Term-distribution drift between two corpus snapshots (even vs odd
    // doc ids as the A/B halves). Drift = |cnt_a*total_b - cnt_b*total_a|
    // — the cross-multiplied relative-frequency difference, ALL-integer,
    // so the top-k ranking has zero float sensitivity; ties break on the
    // term string (both engines compare ASCII lowercase words
    // identically).
    q("q63_term_drift",
      """WITH ca AS (
        |  SELECT term, count(*) cnt_a FROM (
        |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) term
        |    FROM documents WHERE doc_id % 2 = 0) GROUP BY term),
        |cb AS (
        |  SELECT term, count(*) cnt_b FROM (
        |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) term
        |    FROM documents WHERE doc_id % 2 = 1) GROUP BY term),
        |j AS (
        |  SELECT coalesce(ca.term, cb.term) term,
        |         coalesce(cnt_a, 0) cnt_a, coalesce(cnt_b, 0) cnt_b
        |  FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
        |tot AS (SELECT CAST(sum(cnt_a) AS BIGINT) total_a,
        |               CAST(sum(cnt_b) AS BIGINT) total_b FROM j)
        |SELECT term, CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b,
        |       CAST(abs(cnt_a * total_b - cnt_b * total_a) AS BIGINT) AS drift
        |FROM j, tot
        |ORDER BY drift DESC, term LIMIT 20""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      TextOps.termDrift(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1),
        "text", k = 20)
        .orderBy(col("drift").desc, col("term"))
    },

    // Frequency capping over duplicate clusters: q35's components, but
    // keeping up to 2 docs per cluster (down-weighting, not collapsing).
    // Survivor rank is md5(id) — the seedless draw both engines replay
    // bit-identically.
    q("q64_cluster_cap",
      """WITH RECURSIVE w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') ws FROM documents),
        |d AS (
        |  SELECT doc_id,
        |         CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
        |              ELSE list_distinct(list_transform(range(len(ws) - 4),
        |                     i -> array_to_string(ws[i+1:i+5], ' '))) END sh
        |  FROM w),
        |pairs AS (
        |  SELECT a.doc_id id_a, b.doc_id id_b
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) * 5
        |        >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 4),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |  UNION SELECT doc_id, doc_id FROM documents),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT dst AS id, min(src) AS comp FROM reach GROUP BY dst),
        |r AS (SELECT id, comp,
        |        CAST(row_number() OVER (PARTITION BY comp
        |               ORDER BY md5(CAST(id AS VARCHAR)), id) AS INT) rk
        |      FROM comp)
        |SELECT id, comp, rk, rk <= 2 AS kept FROM r ORDER BY id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      val edges = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
        .select("id_a", "id_b")
      Dedup.capClusters(docs.select(col("doc_id")), edges, "doc_id", k = 2)
        .orderBy("id")
    },

    // Frame sampling: every 2nd frame of each synthesized animated GIF
    // becomes its own row, dimensions decoded per frame from the real
    // container bytes. The oracle replays the frame-count/dimension
    // parameter formulas arithmetically — a hash match proves the codec
    // walked and measured the planted frames.
    q("q65_frame_sample",
      """SELECT doc_id, CAST(u AS INT) AS frame_idx,
        |       CAST(1 + doc_id % 8 AS INT) AS width,
        |       CAST(1 + (doc_id * 3) % 8 AS INT) AS height
        |FROM (SELECT doc_id, unnest(range(0, 2 + doc_id % 6, 2)) u FROM documents)
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val media = Multimodal.synthesizeVideoContent(s.table("documents"), "doc_id")
      Multimodal.sampleFrames(media, "doc_id", every = 2)
        .orderBy("doc_id", "frame_idx")
    },

    // Ordered event funnel: first signup, first click strictly after it,
    // first purchase strictly after that — each within 3 days (micros)
    // of the previous step. Pure integer timestamp comparisons; the
    // oracle chains the identical min-aggregate stages.
    q("q66_event_funnel",
      """WITH ev AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS t FROM events),
        |s1 AS (SELECT user_id, min(t) t1 FROM ev WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(t) t2 FROM ev e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND t > t1 AND t <= t1 + 259200000000
        |       GROUP BY e.user_id, t1),
        |s3 AS (SELECT e.user_id, min(t) t3 FROM ev e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND t > t2 AND t <= t2 + 259200000000
        |       GROUP BY e.user_id, t2)
        |SELECT s1.user_id, s1.t1, s2.t2, s3.t3
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      view(s, d, "events")
      val ev = s.table("events").select(col("user_id"), col("event_type"),
        expr("ts DIV 1000").as("t"))
      EventOps.funnelStages(ev, "user_id", "event_type", "t",
        Seq("signup", "click", "purchase"), within = 259200000000L)
        .orderBy("user_id")
    },

    // Retention cohort triangle on integer day buckets: cohort = first
    // active day bucket, cells count distinct users per
    // (cohort, offset). All-integer arithmetic end to end.
    q("q67_retention_cohorts",
      """WITH a AS (
        |  SELECT DISTINCT user_id, (epoch_ns(ts)//1000) // 86400000000 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) cohort_bucket FROM a GROUP BY user_id)
        |SELECT cohort_bucket, wk - cohort_bucket AS bucket_offset,
        |       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      view(s, d, "events")
      val ev = s.table("events").select(col("user_id"), expr("ts DIV 1000").as("t"))
      EventOps.retentionCohorts(ev, "user_id", "t", bucket = 86400000000L)
        .orderBy("cohort_bucket", "bucket_offset")
    },

    // Persisted IVF index lifecycle: build on 90% of the corpus, APPEND
    // the remaining 10% against the frozen quantizer, then query the
    // on-disk (partition-pruned) index and check recall >= 0.9 against
    // exact brute force over the FULL corpus — q25's oracle pattern for
    // the deployed-index path. Two of the 20 query vectors (0, 10) are
    // themselves appended rows, so the append must be visible.
    q("q68_ivf_index_recall",
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_ok
        |FROM embeddings WHERE vec_id < 20""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      val e = s.table("embeddings")
      val path = scratchDir("graft_q68_ivf")
      IvfIndex.build(e.where(col("vec_id") % 10 =!= 0), "vec_id", "embedding", path,
        nlist = 16, kmeansIters = 3)
      IvfIndex.append(s, path, e.where(col("vec_id") % 10 === 0), "vec_id", "embedding",
        skipExistingIds = true)
      val queries = e.where(col("vec_id") < 20)
      val exact = Similarity.bruteForceKnn(e, queries, "vec_id", "embedding", 3)
      val approx = IvfIndex.query(s, path, queries, "vec_id", "embedding", 3, nprobe = 12)
      Similarity.recallAtK(exact, approx)
        .crossJoin(queries.agg(count(lit(1)).as("n_queries")))
        .select(col("n_queries"), (col("mean_recall") >= 0.9).as("recall_ok"))
    },

    // Streaming per-key quota, driver-checked by bounded replay: the
    // events table streams through `quotaPerKey` via MemoryStream in two
    // ts-ordered micro-batches (state carries across the batch boundary).
    // WHICH k rows win is arrival-order dependent by contract, but the
    // admitted COUNT per key is exact: least(k, rows-per-key), which is
    // what the oracle pins. The watermark delay exceeds the replayed
    // span, so no state expires mid-replay.
    q("q69_streaming_quota",
      """SELECT user_id, CAST(least(5, count(*)) AS BIGINT) AS n_admitted
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      view(s, d, "events")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      val rows = s.table("events")
        .select(col("event_id"), expr("timestamp_micros(ts DIV 1000)").as("t"),
          col("user_id"))
        .orderBy("t", "event_id").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      val input = MemoryStream[(Long, java.sql.Timestamp, Long)](s)
      val admitted = graft.streaming.StreamingOps.quotaPerKey(
        input.toDF().toDF("event_id", "t", "user_id"), "user_id", "t",
        watermarkDelay = "3650 days", k = 5, stateTtlMs = 3650L * 24 * 3600 * 1000)
      val sink = "graft_q69_" + java.util.UUID.randomUUID().toString.replace("-", "")
      // Stateful streaming commits ONE state store per shuffle partition
      // per micro-batch, so partitions size to STATE THROUGHPUT, not to
      // the batch-side core count: a bounded replay of this volume on 32
      // partitions spends 2x the wall clock on 32 store commits/batch
      // (measured 4.4 s -> 2.1 s at sf0.1 with 4). The conf is restored
      // only after the replay: the query thread reads it while planning
      // batch 0, which may run after start() returns.
      withConfs(s, StateParts) {
        val qy = admitted.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          val (b1, b2) = rows.splitAt(rows.length / 2)
          input.addData(b1.toSeq)
          qy.processAllAvailable()
          input.addData(b2.toSeq)
          qy.processAllAvailable()
        } finally qy.stop()
      }
      s.table(sink).groupBy("user_id")
        .agg(count(lit(1)).as("n_admitted")).orderBy("user_id")
    },

    // Streaming as-of enrich, driver-checked by bounded replay: purchases
    // (left) and views (right) stream through `asofEnrich`; two far-future
    // right-side rows then push the watermark so every pending left
    // finalizes and emits. The emitted matches must equal DuckDB's native
    // ASOF LEFT JOIN over the same micro-truncated timestamps — the batch
    // q38 semantics, reproduced by the stateful streaming operator.
    q("q70_streaming_asof",
      """SELECT l.event_id, l.user_id, epoch_ns(l.ts)//1000 AS t,
        |       epoch_ns(r.ts)//1000 AS asof_view_ts
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin) { (s, d) =>
      view(s, d, "events")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      val ev = s.table("events")
      // ONE scan + sort + collect feeds both stream sides (they were two
      // separate full passes over events for the same sort order)
      val feed = ev.where(col("event_type").isin("purchase", "view"))
        .select(col("event_id"), expr("timestamp_micros(ts DIV 1000)").as("t"),
          col("user_id"), col("event_type"))
        .orderBy("t", "event_id").collect()
      def side(t: String): Array[(Long, java.sql.Timestamp, Long)] =
        feed.filter(_.getString(3) == t)
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      val lrows = side("purchase")
      val rrows = side("view")
      val lin = MemoryStream[(Long, java.sql.Timestamp, Long)](s)
      val rin = MemoryStream[(Long, java.sql.Timestamp, Long)](s)
      val out = graft.streaming.StreamingOps.asofEnrich(
        lin.toDF().toDF("event_id", "t", "user_id"),
        rin.toDF().toDF("event_id", "t", "user_id"),
        "user_id", "t", watermarkDelay = "1 minute", payloadCols = Nil,
        outCol = "asof_view_ts")
      val sink = "graft_q70_" + java.util.UUID.randomUUID().toString.replace("-", "")
      // q69's state-partition sizing (one store commit per partition per
      // micro-batch; measured 7.3 s -> 3.4 s at sf0.1 with 4)
      withConfs(s, StateParts) {
        val qy = out.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          rin.addData(rrows.toSeq)
          lin.addData(lrows.toSeq)
          qy.processAllAvailable()
          // two watermark pushes: the first finalizes everything older than
          // max(real) - delay, the second flushes the final minute's lefts.
          // Far-future RIGHT rows emit nothing and can match no left.
          val maxMs = (lrows ++ rrows).map(_._2.getTime).max
          rin.addData((-1L, new java.sql.Timestamp(maxMs + 400L * 24 * 3600 * 1000), -1L))
          qy.processAllAvailable()
          rin.addData((-2L, new java.sql.Timestamp(maxMs + 800L * 24 * 3600 * 1000), -1L))
          qy.processAllAvailable()
        } finally qy.stop()
      }
      s.table(sink).select(col("event_id"), col("user_id"),
          unix_micros(col("t")).as("t"),
          unix_micros(col("asof_view_ts")).as("asof_view_ts"))
        .orderBy("event_id")
    },

    // One-pass table profiler: every column's (rows, nulls, distinct,
    // median, extremes) from ONE aggregate over ONE scan — per-column
    // sketches partially aggregate map-side, so width never multiplies
    // passes. Exact at this scale: 100 suppliers sit inside both the
    // distinct sketch's and the quantile sketch's exact regions, and the
    // oracle picks the median with the EXCLUSIVE rank identity (q01's
    // pattern, float-narrowed for the double column).
    q("q71_table_profile", profileOracle) { (s, d) =>
      view(s, d, "supplier")
      Profiler.profile(s.table("supplier")).orderBy("col_name")
    },

    // Pre-join cardinality estimation from theta sketches: one sketch
    // pass per side, set algebra on the serialized sketches — the join
    // never executes. At 1500 distinct custkeys (< 2^12 nominal) the
    // sketches are exact, so the estimates equal DuckDB's exact
    // distinct/INTERSECT counts, and the uniform-frequency join-size
    // formula reproduces bit-identically from the same integers.
    // Grouped profile — the per-source quality-dashboard shape: one
    // grouped aggregate carries the column's sketches for every group.
    // Groups of ~4 suppliers per nation sit deep inside the sketches'
    // exact regions, so the DuckDB mirror (EXCLUSIVE rank quartiles per
    // group) matches bit for bit.
    q("q73_grouped_profile",
      """WITH a AS (
        |  SELECT s_nationkey, count(*) AS cnt, count(s_acctbal) AS cnt_v,
        |         count(DISTINCT s_acctbal) AS nd,
        |         CAST(min(s_acctbal) AS DOUBLE) AS min_d,
        |         CAST(max(s_acctbal) AS DOUBLE) AS max_d
        |  FROM supplier GROUP BY s_nationkey),
        |r AS (
        |  SELECT s_nationkey, s_acctbal AS v,
        |         row_number() OVER (PARTITION BY s_nationkey
        |           ORDER BY CAST(s_acctbal AS REAL), s_acctbal) AS rn,
        |         count(*) OVER (PARTITION BY s_nationkey) AS n
        |  FROM supplier WHERE s_acctbal IS NOT NULL),
        |q25 AS (SELECT s_nationkey, CAST(CAST(v AS REAL) AS DOUBLE) AS p25 FROM r
        |        WHERE rn = least(CAST(floor(0.25*n)+1 AS BIGINT), n)),
        |q50 AS (SELECT s_nationkey, CAST(CAST(v AS REAL) AS DOUBLE) AS p50 FROM r
        |        WHERE rn = least(CAST(floor(0.5*n)+1 AS BIGINT), n)),
        |q75 AS (SELECT s_nationkey, CAST(CAST(v AS REAL) AS DOUBLE) AS p75 FROM r
        |        WHERE rn = least(CAST(floor(0.75*n)+1 AS BIGINT), n))
        |SELECT a.s_nationkey, 's_acctbal' AS col_name,
        |       CAST(cnt AS BIGINT) AS n_rows,
        |       CAST(cnt - cnt_v AS BIGINT) AS n_nulls,
        |       CAST(nd AS BIGINT) AS n_distinct,
        |       q25.p25, q50.p50, q75.p75, min_d, max_d
        |FROM a JOIN q25 USING (s_nationkey) JOIN q50 USING (s_nationkey)
        |       JOIN q75 USING (s_nationkey)
        |ORDER BY s_nationkey""".stripMargin) { (s, d) =>
      view(s, d, "supplier")
      Profiler.profileBy(s.table("supplier"), Seq("s_nationkey"), Seq("s_acctbal"))
        .orderBy("s_nationkey")
    },

    q("q72_join_cardinality",
      """WITH a AS (SELECT count(o_custkey) AS cnt_a,
        |            count(DISTINCT o_custkey) AS nd_a FROM orders),
        |b AS (SELECT count(c_custkey) AS cnt_b,
        |      count(DISTINCT c_custkey) AS nd_b FROM customer),
        |o AS (SELECT count(*) AS n_overlap FROM
        |  (SELECT DISTINCT o_custkey FROM orders
        |   INTERSECT SELECT DISTINCT c_custkey FROM customer))
        |SELECT CAST(nd_a AS BIGINT) AS n_distinct_left,
        |       CAST(nd_b AS BIGINT) AS n_distinct_right,
        |       CAST(n_overlap AS BIGINT) AS n_overlap,
        |       CAST(cnt_a AS BIGINT) AS n_rows_left,
        |       CAST(cnt_b AS BIGINT) AS n_rows_right,
        |       round(CAST(n_overlap AS DOUBLE)
        |             * (CAST(cnt_a AS DOUBLE) / CAST(nd_a AS DOUBLE))
        |             * (CAST(cnt_b AS DOUBLE) / CAST(nd_b AS DOUBLE)), 9)
        |         AS est_join_rows
        |FROM a, b, o""".stripMargin) { (s, d) =>
      view(s, d, "orders", "customer")
      JoinStats.keyOverlap(s.table("orders"), "o_custkey",
        s.table("customer"), "c_custkey")
    },

    // Tuple sketches (distinct keys + per-key double summaries in ONE
    // sketch pass — beyond the reference surface, whose sketches carry no
    // payload). 2000 distinct partkeys sit below the default 2^12 nominal
    // entries, so distinct counts AND summed summaries are exact; quantity
    // is integer-valued, so double sums are order-independent and match
    // DuckDB bit for bit. 'sum' mode re-adds shard repeats (= SUM(qty));
    // 'min' mode keeps one value per distinct key (= SUM of per-key MINs).
    q("q74_tuple_sketch",
      """WITH base AS (
        |  SELECT l_returnflag,
        |         CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
        |         CAST(sum(l_quantity) AS DOUBLE) AS qty_sum
        |  FROM lineitem GROUP BY l_returnflag),
        |m AS (
        |  SELECT l_returnflag, CAST(sum(mq) AS DOUBLE) AS dedup_min_qty FROM
        |    (SELECT l_returnflag, l_partkey, min(l_quantity) AS mq
        |     FROM lineitem GROUP BY l_returnflag, l_partkey) per_key
        |  GROUP BY l_returnflag)
        |SELECT base.l_returnflag, distinct_parts, qty_sum, dedup_min_qty
        |FROM base JOIN m USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      view(s, d, "lineitem")
      s.sql("""
        |SELECT l_returnflag,
        |       tuple_estimate(tuple_accumulate(l_partkey, l_quantity, 'sum')).distinct_keys
        |         AS distinct_parts,
        |       tuple_estimate(tuple_accumulate(l_partkey, l_quantity, 'sum')).value_sum
        |         AS qty_sum,
        |       tuple_estimate(tuple_accumulate(l_partkey, l_quantity, 'min')).value_sum
        |         AS dedup_min_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },

    // Tuple set algebra: which parts appear in BOTH the low-quantity and
    // high-quantity slices (intersection, min-of-mins summaries) and which
    // only in the low slice (difference, A's summaries kept) — corpus-
    // overlap-with-metrics from two independent sketch passes; the raw
    // slices are never co-shuffled. Both slices are < 2^12 distinct keys,
    // so the sketch set ops reproduce DuckDB's exact join/anti-join.
    q("q75_tuple_overlap",
      """WITH low AS (SELECT l_partkey, min(l_quantity) AS mq FROM lineitem
        |             WHERE l_quantity <= 5 GROUP BY l_partkey),
        |high AS (SELECT l_partkey, min(l_quantity) AS mq FROM lineitem
        |         WHERE l_quantity >= 45 GROUP BY l_partkey),
        |shared AS (SELECT low.l_partkey, least(low.mq, high.mq) AS mq
        |           FROM low JOIN high ON low.l_partkey = high.l_partkey),
        |lowonly AS (SELECT low.l_partkey, low.mq FROM low
        |            LEFT JOIN high ON low.l_partkey = high.l_partkey
        |            WHERE high.l_partkey IS NULL)
        |SELECT CAST((SELECT count(*) FROM shared) AS BIGINT) AS shared_parts,
        |       CAST((SELECT sum(mq) FROM shared) AS DOUBLE) AS shared_min_qty,
        |       CAST((SELECT count(*) FROM lowonly) AS BIGINT) AS low_only_parts,
        |       CAST((SELECT sum(mq) FROM lowonly) AS DOUBLE) AS low_only_min_qty""".stripMargin) {
      (s, d) =>
      view(s, d, "lineitem")
      s.sql("""
        |WITH slices AS (
        |  SELECT CASE WHEN l_quantity <= 5 THEN 'low' ELSE 'high' END AS slice,
        |         tuple_accumulate(l_partkey, l_quantity, 'min') AS sk
        |  FROM lineitem WHERE l_quantity <= 5 OR l_quantity >= 45
        |  GROUP BY 1),
        |inter AS (SELECT tuple_estimate(tuple_intersect(sk, 'min')) AS e FROM slices),
        |diff AS (SELECT tuple_estimate(tuple_a_not_b(
        |           (SELECT sk FROM slices WHERE slice = 'low'),
        |           (SELECT sk FROM slices WHERE slice = 'high'))) AS e)
        |SELECT (SELECT e.distinct_keys FROM inter) AS shared_parts,
        |       (SELECT e.value_sum FROM inter) AS shared_min_qty,
        |       (SELECT e.distinct_keys FROM diff) AS low_only_parts,
        |       (SELECT e.value_sum FROM diff) AS low_only_min_qty""".stripMargin)
    },

    // SemDeDup-style semantic dedup: cluster embeddings (deterministic
    // decimal-exact k-means), near-dup pairs WITHIN clusters only, remove
    // the higher id. Near-dups are PLANTED (q28's pattern): every 10th
    // vector gets a +0.001-perturbed copy at id+1M — self-cosine >=
    // 0.99996, organic pairs far below 0.95 — and a perturbed copy lands
    // in its source's cluster, so the removed set equals exactly the
    // planted copies with their sources as keepers.
    q("q76_semantic_dedup",
      """SELECT vec_id + 1000000 AS removed_id, vec_id AS kept_id
        |FROM embeddings WHERE vec_id % 10 = 0
        |ORDER BY removed_id""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      val base = s.table("embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val planted = base.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.001)).as("embedding"))
      Dedup.semanticDedup(base.unionByName(planted), "vec_id", "embedding",
        threshold = 0.95, nlist = 16)
        .orderBy("removed_id")
    },

    // Real pixel-level resize: decode the genuine PNG payloads, nearest-
    // neighbor resample to 8x6, and checksum the OUTPUT pixels. The
    // planted pixel at (x, y) is (id*31 + 7x + y) & 0xffffff, and the
    // nearest-neighbor source of output (x, y) is ((x*w)/8, (y*h)/6) in
    // integer floor arithmetic — so the oracle recomputes the checksum
    // arithmetically; a match proves the codec really decoded, resampled,
    // and read back the planted pixels (not just the headers).
    q("q77_image_resize",
      """WITH dims AS (
        |  SELECT doc_id, CAST(1 + doc_id % 16 AS BIGINT) AS w,
        |         CAST(1 + (doc_id * 7) % 16 AS BIGINT) AS h
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id,
        |         ((d.doc_id * 31 + 7 * ((x.x * d.w) // 8) + ((y.y * d.h) // 6))
        |          & 16777215) AS rgb
        |  FROM dims d, generate_series(0, 7) AS x(x), generate_series(0, 5) AS y(y))
        |SELECT doc_id, CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
        |       CAST(sum(rgb) AS BIGINT) AS checksum
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val media = Multimodal.synthesizeImageContent(s.table("documents"), "doc_id")
      Multimodal.resizeImages(media, "doc_id", 8, 6)
        .select("doc_id", "width", "height", "checksum")
        .orderBy("doc_id")
    },

    // URL provenance features: URLs are planted as a pure function of
    // (source, doc_id) — covering www./cdn./bare subdomains, single- and
    // multi-label public suffixes, and present/absent tracking params —
    // and the oracle recomputes the structure the PARSERS must recover
    // (parse_url host/path, eTLD+1 extraction, query stripping).
    q("q78_url_parse",
      s"""WITH u AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 3 = 0 THEN 'www.'
         |              WHEN doc_id % 5 = 0 THEN 'cdn.' ELSE '' END AS sub,
         |         source || '-' || CAST(doc_id % 50 AS VARCHAR) || '.' ||
         |           (CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'com' WHEN 1 THEN 'org'
         |                 WHEN 2 THEN 'co.uk' ELSE 'io' END) AS dom,
         |         '/p' || CAST(doc_id % 7 AS VARCHAR) || '/doc-' ||
         |           CAST(doc_id AS VARCHAR) || '.html' AS pth
         |  FROM documents)
         |SELECT doc_id, sub || dom AS host, dom AS domain, pth AS path,
         |       doc_id % 2 = 0 AS has_tracking,
         |       'https://' || sub || dom || pth AS clean_url
         |FROM u ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      UrlOps.parseUrls(
        UrlOps.synthesizeUrls(s.table("documents"), "doc_id", "source"), "url")
        .select("doc_id", "host", "domain", "path", "has_tracking", "clean_url")
        .orderBy("doc_id")
    },

    // Per-domain document quota (the RefinedWeb/C4 "cap any one site's
    // share of the corpus" step): registrable-domain extraction feeding
    // the deterministic stratified top-k — the oracle replays the
    // identical md5 ranking, so the KEPT SET is row-exact, not just the
    // counts.
    q("q79_domain_cap",
      s"""WITH u AS (
         |  SELECT doc_id,
         |         source || '-' || CAST(doc_id % 50 AS VARCHAR) || '.' ||
         |           (CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'com' WHEN 1 THEN 'org'
         |                 WHEN 2 THEN 'co.uk' ELSE 'io' END) AS domain
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, domain,
         |         row_number() OVER (PARTITION BY domain
         |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |  FROM u)
         |SELECT doc_id, domain FROM r WHERE rn <= 2 ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        view(s, d, "documents")
        val parsed = UrlOps.parseUrls(
          UrlOps.synthesizeUrls(s.table("documents"), "doc_id", "source"), "url")
        Sampling.stratifiedSample(parsed, Seq("domain"), "doc_id", k = 2)
          .select("doc_id", "domain")
          .orderBy("doc_id")
    },

    // Reproducible global corpus shuffle: shard + in-shard position as a
    // pure function of (seed, doc_id); the oracle replays the identical
    // md5 permutation, pinning both the shard split AND the full order.
    q("q80_corpus_shuffle",
      s"""WITH k AS (
         |  SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS key
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, key,
         |         CAST(CAST(('0x' || substr(key, 1, 15)) AS BIGINT) % 8 AS INT) AS shard
         |  FROM k)
         |SELECT doc_id, shard,
         |       CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id) AS INT)
         |         AS pos
         |FROM s ORDER BY shard, pos""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      Sampling.shuffleShards(s.table("documents"), "doc_id", numShards = 8, seed = 42L)
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    },

    // t-digest lifecycle (accumulate per group -> combine -> estimate +
    // rank): the q08 bound-check pattern — the exact row count anchors,
    // and the booleans pin that (a) the EXACT rank of the estimated
    // median is within 2% of 0.5 and (b) the digest's rank of the EXACT
    // median is within 2% of 0.5 (t-digest mid-rank error at k=200 is
    // well under that, even after the 5-way merge).
    q("q81_tdigest_quantiles",
      """SELECT count(*) AS n_rows, true AS med_rank_ok, true AS rank_ok
        |FROM orders""".stripMargin) { (s, d) =>
      view(s, d, "orders")
      s.sql("""
        |WITH est AS (
        |  SELECT tdigest_estimate(sk, 0.5d) AS m,
        |         tdigest_rank(sk, (SELECT CAST(percentile(o_totalprice, 0.5) AS DOUBLE)
        |                           FROM orders)) AS r
        |  FROM (SELECT tdigest_combine(s) AS sk
        |        FROM (SELECT tdigest_accumulate(o_totalprice) AS s
        |              FROM orders GROUP BY o_orderpriority)))
        |SELECT count(*) AS n_rows,
        |       abs(avg(CASE WHEN o.o_totalprice <= e.m THEN 1.0d ELSE 0.0d END) - 0.5)
        |         <= 0.02 AS med_rank_ok,
        |       bool_and(abs(e.r - 0.5) <= 0.02) AS rank_ok
        |FROM orders o CROSS JOIN est e""".stripMargin)
    },

    // Range-partition-boundary planning: ONE KLL pass proposes 7 split
    // points for an 8-way range partitioning of the price column, and the
    // gate replays the partitioning to verify every range really holds
    // 12.5% +- 4% of the rows (KLL rank error at k=200 is 1.65%) — the
    // property a 100 TB sorted-write planner actually needs.
    q("q82_partition_bounds",
      """SELECT CAST(8 AS BIGINT) AS n_buckets, true AS balanced
        |FROM (SELECT 1)""".stripMargin) { (s, d) =>
      view(s, d, "lineitem")
      s.sql("""
        |WITH b AS (SELECT approx_partition_bounds(l_extendedprice, 8) AS bs
        |           FROM lineitem),
        |a AS (SELECT graft_bucket_index(b.bs, CAST(l.l_extendedprice AS DOUBLE)) AS bucket
        |      FROM lineitem l CROSS JOIN b),
        |c AS (SELECT bucket, count(*) AS n FROM a GROUP BY bucket),
        |t AS (SELECT count(*) AS total FROM lineitem)
        |SELECT (SELECT count(*) FROM c) AS n_buckets,
        |       bool_and(abs(n / CAST(total AS DOUBLE) - 0.125) <= 0.04) AS balanced
        |FROM c CROSS JOIN t""".stripMargin)
    },

    // DataSketches BloomFilter membership: the filter is built over the
    // corpus's content fingerprints and probed with (a) every member —
    // ALL must hit, the no-false-negative guarantee — and (b) 10k known
    // absentees, whose hit count must stay near the configured 1% fpp.
    // The cross-system wire image is pinned by BloomFilterSuite.
    q("q83_bloom_membership",
      """SELECT count(*) AS n_docs, true AS all_found, true AS fp_ok
        |FROM documents""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      s.sql("""
        |WITH f AS (SELECT bloom_accumulate(md5(text)) AS bf FROM documents),
        |members AS (
        |  SELECT count(*) AS n_docs,
        |         sum(CASE WHEN bloom_might_contain(f.bf, md5(d.text))
        |             THEN 1 ELSE 0 END) AS found
        |  FROM documents d CROSS JOIN f),
        |fps AS (
        |  SELECT sum(CASE WHEN bloom_might_contain(f.bf, concat('absent-', id))
        |             THEN 1 ELSE 0 END) AS fp
        |  FROM range(10000) CROSS JOIN f)
        |SELECT m.n_docs, m.found = m.n_docs AS all_found, fps.fp <= 300 AS fp_ok
        |FROM members m CROSS JOIN fps""".stripMargin)
    },

    // String quantiles in the EXACT region (4 suppliers per nation, far
    // below k=128): per-group median name under natural string ordering —
    // the oracle replays the EXCLUSIVE rank identity (q01's pattern over
    // strings), so the match is row-exact, not bound-checked.
    q("q84_string_percentile",
      """WITH ranked AS (
        |  SELECT s_nationkey, s_name v,
        |         row_number() OVER (PARTITION BY s_nationkey ORDER BY s_name) rn,
        |         count(*) OVER (PARTITION BY s_nationkey) n
        |  FROM supplier)
        |SELECT s_nationkey,
        |       max(CASE WHEN rn = least(CAST(floor(0.5*n)+1 AS BIGINT), n) THEN v END)
        |         AS med_name
        |FROM ranked GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, d) =>
      view(s, d, "supplier")
      s.sql("""SELECT s_nationkey, approx_percentile_str(s_name, 0.5) AS med_name
              |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)
    },

    // Range-partition planning by a STRING key (q82's gate shape): one
    // sketch pass proposes 4-way split keys over the uniform md5 key
    // space, and the replay checks every range holds 25% +- 5% of rows.
    q("q85_string_partition_bounds",
      """SELECT CAST(4 AS BIGINT) AS n_buckets, true AS balanced
        |FROM (SELECT 1)""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      s.sql("""
        |WITH k AS (SELECT md5(CAST(doc_id AS STRING)) AS key FROM documents),
        |b AS (SELECT approx_partition_bounds_str(key, 4) AS bs FROM k),
        |a AS (SELECT graft_bucket_index(b.bs, k.key) AS bucket
        |      FROM k CROSS JOIN b),
        |c AS (SELECT bucket, count(*) AS n FROM a GROUP BY bucket),
        |t AS (SELECT count(*) AS total FROM k)
        |SELECT (SELECT count(*) FROM c) AS n_buckets,
        |       bool_and(abs(n / CAST(total AS DOUBLE) - 0.25) <= 0.05) AS balanced
        |FROM c CROSS JOIN t""".stripMargin)
    },

    // Persisted bloom index, the cross-run incremental-dedup flow: build
    // the index from the corpus ONCE, then filter an ingest batch of
    // replayed + planted-fresh docs against the STORED filter (map-side,
    // no corpus IO). Replays must all drop — the no-false-negative
    // guarantee is deterministic — and at most ~fpp of the fresh docs may
    // be collateral false positives.
    q("q86_bloom_index",
      """SELECT CAST(0 AS BIGINT) AS replays_kept, true AS fresh_ok
        |FROM (SELECT 1)""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      val dir = scratchDir("graft_q86_idx")
      BloomIndex.build(s, dir, docs, "text", maxItems = 100000L, fpp = 0.01)
      val replays = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("id"), col("text"))
      val fresh = docs.select((col("doc_id") + 1000000L).as("id"),
        concat(lit("planted-fresh-"), col("doc_id").cast("string")).as("text"))
      val freshTotal = fresh.count()
      BloomIndex.filterNew(s, dir, replays.unionByName(fresh), "text")
        .agg(
          coalesce(sum(when(col("id") < 1000000L, 1L).otherwise(0L)), lit(0L))
            .cast("long").as("replays_kept"),
          (coalesce(sum(when(col("id") >= 1000000L, 1L).otherwise(0L)), lit(0L))
            >= lit(0.95 * freshTotal)).as("fresh_ok"))
    },

    // Frequent distinct tuples: the top (source, lang) slices by DISTINCT
    // document count over a corpus deliberately ingested TWICE — the
    // ranking must ignore the replay (plain freq-items would double every
    // count), and below 2^lgK distinct tuples the sketch is exact, so the
    // oracle's exact count(DISTINCT) ranking matches row for row (both
    // sides break ties on the rendered key).
    q("q87_fdt_slices",
      """WITH g AS (
        |  SELECT source || ',' || lang AS key,
        |         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct
        |  FROM documents GROUP BY source, lang)
        |SELECT key, n_distinct FROM g
        |ORDER BY n_distinct DESC, key LIMIT 8""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      s.sql("""
        |WITH ingest AS (
        |  SELECT source, lang, doc_id FROM documents
        |  UNION ALL SELECT source, lang, doc_id FROM documents),
        |sk AS (
        |  SELECT fdt_accumulate(array(source, lang, CAST(doc_id AS STRING))) AS s
        |  FROM ingest)
        |SELECT inline(fdt_topk(s, array(0, 1), 8)) FROM sk""".stripMargin)
        .toDF("key", "n_distinct")
        .orderBy(col("n_distinct").desc, col("key"))
    },

    // Fractional contamination scoring (q30's graded companion): every
    // corpus doc gets the FRACTION of its distinct word-8-grams found in
    // the benchmark, not just an any-match flag. Planted full copies at
    // id+2M score 1.0; organic docs score their true partial overlap.
    // Same brute-force raw-shingle oracle as q30, extended per-doc.
    q("q88_contamination_frac",
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') ws
        |  FROM (SELECT doc_id, text FROM documents
        |        UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 50 = 0)),
        |shs AS (
        |  SELECT doc_id,
        |         CASE WHEN len(ws) < 8 THEN [array_to_string(ws, ' ')]
        |              ELSE list_distinct(list_transform(range(len(ws) - 7),
        |                     i -> array_to_string(ws[i+1:i+8], ' '))) END sh
        |  FROM w),
        |bsh AS (SELECT DISTINCT s FROM (SELECT unnest(sh) s FROM shs WHERE doc_id % 50 = 0 AND doc_id < 2000000)),
        |hits AS (
        |  SELECT c.doc_id, count(b.s) AS n_shared
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM shs) c
        |  LEFT JOIN bsh b ON c.s = b.s
        |  GROUP BY c.doc_id)
        |SELECT s2.doc_id AS id, CAST(len(s2.sh) AS BIGINT) AS n_shingles,
        |       CAST(h.n_shared AS BIGINT) AS n_shared,
        |       round(h.n_shared / len(s2.sh), 9) AS overlap_frac
        |FROM shs s2 JOIN hits h ON s2.doc_id = h.doc_id
        |ORDER BY id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents").select(col("doc_id"), col("text"))
      val bench = docs.where(col("doc_id") % 50 === 0)
      val planted = bench.select((col("doc_id") + 2000000).as("doc_id"), col("text"))
      graft.operators.Dedup.contaminationOverlap(
          docs.unionByName(planted), bench, "doc_id", "text", n = 8)
        .orderBy("id")
    },

    // Hashed linear classifier inference (fastText/CCNet-style quality
    // scoring): one map-only native-expression pass, the 64-slot weight
    // vector frozen into the plan. Integer-valued weights make the double
    // sum exact, so the oracle replays the identical md5-slot model and
    // the match is bit-exact, not tolerance-checked.
    q("q89_classifier_score",
      s"""WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') toks
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(list_sum(list_transform(toks, w -> ${bowWeightSql(64)}))
        |            AS DOUBLE) AS bow_score
        |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      s.table("documents")
        .select(col("doc_id"),
          graft.functions.graft_hashed_bow_score(col("text"), bowWeights(64))
            .as("bow_score"))
        .orderBy("doc_id")
    },

    // Token-budget curation: "highest-scoring docs until 12k tokens" —
    // the quantile-refinement selector against the plain cumulative-sum
    // window oracle. buckets=8 / refineLimit=50 force the distributed
    // walk to actually run multiple rounds at sf0.01 rather than
    // degenerating to the final window immediately.
    q("q90_token_budget",
      s"""WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         CAST(list_sum(list_transform(toks, w -> ${bowWeightSql(64)}))
        |              AS DOUBLE) AS score,
        |         len(toks) AS n_tokens
        |  FROM t),
        |c AS (
        |  SELECT doc_id, score, n_tokens,
        |         sum(n_tokens) OVER (ORDER BY score DESC, doc_id) AS cum
        |  FROM s)
        |SELECT doc_id, score, CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM c WHERE cum <= 12000 ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val scored = s.table("documents").select(col("doc_id"),
        graft.functions.graft_hashed_bow_score(col("text"), bowWeights(64))
          .as("score"),
        size(graft.operators.TextOps.words(col("text"))).cast("long")
          .as("n_tokens"))
      graft.operators.Sampling
        .selectByTokenBudget(scored, "doc_id", "score", "n_tokens",
          budget = 12000, buckets = 8, refineLimit = 50)
        .select(col("id").as("doc_id"), col("score"),
          col("tokens").as("n_tokens"))
        .orderBy("doc_id")
    },

    // Source redundancy matrix: pairwise distinct-8-gram overlap between
    // every pair of sources from ONE theta sketch per source + the new
    // scalar theta_intersect_pair on the tiny sketch table. Exact-mode
    // sketches at this scale (per-source distinct ~1.3k < 2^12), so the
    // brute-force distinct-intersection oracle matches exactly.
    q("q91_source_overlap",
      """WITH w AS (
        |  SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') ws
        |  FROM documents),
        |shs AS (
        |  SELECT source,
        |         CASE WHEN len(ws) < 8 THEN [array_to_string(ws, ' ')]
        |              ELSE list_distinct(list_transform(range(len(ws) - 7),
        |                     i -> array_to_string(ws[i+1:i+8], ' '))) END sh
        |  FROM w),
        |sh AS (SELECT DISTINCT source, s
        |       FROM (SELECT source, unnest(sh) AS s FROM shs)),
        |cnt AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
        |pairs AS (SELECT a.source AS sa, b.source AS sb, count(*) AS ns
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        |          GROUP BY 1, 2)
        |SELECT ca.source AS src_a, cb.source AS src_b,
        |       CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
        |       CAST(coalesce(p.ns, 0) AS BIGINT) AS n_shared,
        |       round(coalesce(p.ns, 0) / (ca.n + cb.n - coalesce(p.ns, 0)), 9)
        |         AS jaccard
        |FROM cnt ca JOIN cnt cb ON ca.source < cb.source
        |LEFT JOIN pairs p ON p.sa = ca.source AND p.sb = cb.source
        |ORDER BY src_a, src_b""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      graft.operators.Dedup.sourceOverlapMatrix(
          s.table("documents"), "source", "text", n = 8)
        .orderBy("src_a", "src_b")
    },

    // Byte-balanced output sharding (compaction planning): the exact
    // distributed global prefix sum vs the plain cumulative-window
    // oracle. buckets=16 forces real multi-bucket offset stitching at
    // sf0.01; target=5000 chars yields ~16 shards.
    q("q92_size_shards",
      """WITH c AS (
        |  SELECT doc_id, n_chars,
        |         coalesce(sum(n_chars) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM documents)
        |SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS bytes,
        |       CAST(cum // 5000 AS BIGINT) AS shard
        |FROM c ORDER BY id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      graft.operators.Sampling.sizeShards(
          s.table("documents"), "doc_id", "n_chars",
          targetBytes = 5000L, buckets = 16)
        .orderBy("id")
    },

    // Per-language token budgets (q90's grouped companion): within each
    // language, best-scoring docs until THAT language's budget is spent
    // — the partitioned cumulative-window oracle, exact.
    q("q93_group_token_budget",
      s"""WITH t AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\\s+') toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |         CAST(list_sum(list_transform(toks, w -> ${bowWeightSql(64)}))
        |              AS DOUBLE) AS score,
        |         len(toks) AS n_tokens
        |  FROM t),
        |c AS (
        |  SELECT doc_id, lang, score, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY lang
        |           ORDER BY score DESC, doc_id) AS cum
        |  FROM s)
        |SELECT lang, doc_id, score, CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM c
        |WHERE cum <= CASE lang WHEN 'en' THEN 6000 WHEN 'zh' THEN 1500 ELSE 2000 END
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val scored = s.table("documents").select(col("doc_id"), col("lang"),
        graft.functions.graft_hashed_bow_score(col("text"), bowWeights(64))
          .as("score"),
        size(graft.operators.TextOps.words(col("text"))).cast("long")
          .as("n_tokens"))
      graft.operators.Sampling
        .selectByTokenBudgetPerGroup(scored, "lang", "doc_id", "score",
          "n_tokens", budgets = Map("en" -> 6000L, "zh" -> 1500L),
          defaultBudget = 2000L)
        .select(col("grp").as("lang"), col("id").as("doc_id"), col("score"),
          col("tokens").as("n_tokens"))
        .orderBy("doc_id")
    },

    // In-engine classifier training (q89's other half): multinomial NB
    // token counts per hashed slot, label = "is English". The count
    // columns are exact integers against the replayed-md5-slot oracle;
    // the derived log-odds weights are pinned by the unit suite (train →
    // freeze into graft_hashed_bow_score → separates the classes).
    q("q94_classifier_train",
      s"""WITH t AS (
        |  SELECT lang = 'en' AS pos,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        |  FROM documents)
        |SELECT CAST(${bowSlotSql(64)} AS INT) AS slot,
        |       CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |       CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
        |FROM t GROUP BY 1 ORDER BY slot""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      graft.operators.Classifier.trainHashedBow(
          s.table("documents").withColumn("is_en", col("lang") === "en"),
          "is_en", "text", dim = 64)
        .select(col("slot"), col("n_pos"), col("n_neg"))
        .orderBy("slot")
    },

    // C4-style line filtering: every doc is augmented with a planted
    // boilerplate line (dropped by the "click here" marker) and a
    // one-word line (dropped by minWords=3) around its organic text —
    // the per-line keep/drop/rejoin replayed verbatim by the oracle.
    q("q95_filter_lines",
      """WITH aug AS (
        |  SELECT doc_id,
        |         text || chr(10) || 'buy now click here' || chr(10) ||
        |         'short' || chr(10) || text AS t
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, string_split(t, chr(10)) AS ls,
        |         list_filter(string_split(t, chr(10)), x ->
        |           len(list_filter(regexp_split_to_array(x, '\s+'),
        |               w -> w <> '')) >= 3
        |           AND NOT contains(lower(x), 'click here')) AS kept
        |  FROM aug)
        |SELECT doc_id, array_to_string(kept, chr(10)) AS text_filtered,
        |       CAST(len(ls) AS BIGINT) AS n_lines,
        |       CAST(len(kept) AS BIGINT) AS n_kept
        |FROM k ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val aug = s.table("documents").select(col("doc_id"),
        concat(col("text"), lit("\nbuy now click here\nshort\n"),
          col("text")).as("t"))
      graft.operators.TextOps.filterLines(aug, "doc_id", "t",
          minWords = 3, requirePunct = false, dropMarkers = Seq("click here"))
        .select(col("id").as("doc_id"), col("text_filtered"),
          col("n_lines"), col("n_kept"))
        .orderBy("doc_id")
    },

    // BM25 top-k retrieval: fixed-point scores (quantized-ln idf +
    // exact-rational tf factor, integral division) make the DuckDB
    // replay bit-identical; "zzz" exercises the df=0 idf path
    q("q96_bm25_topk", bm25OracleSql) { (s, d) =>
      view(s, d, "documents")
      graft.operators.Retrieval.bm25TopK(
          s.table("documents"), "doc_id", "text", bm25Queries, k = 10)
        .select(col("qid"), col("rank"), col("id").as("doc_id"), col("score_fp"))
        .orderBy("qid", "rank")
    },

    // Corpus snapshot diff: old drops doc_id%10==0 (-> added), new drops
    // %13==0 (-> removed) and rewrites %7==0 (-> changed); statuses come
    // from content fingerprints, so both engines replay the same edits
    q("q97_corpus_diff",
      """WITH old AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        |new AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN text || ' updated' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 0),
        |fp AS (
        |  SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
        |         md5(regexp_replace(lower(old.text), '\s+', ' ', 'g')) AS f_old,
        |         md5(regexp_replace(lower(new.text), '\s+', ' ', 'g')) AS f_new
        |  FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id)
        |SELECT doc_id,
        |       CASE WHEN f_old IS NULL THEN 'added'
        |            WHEN f_new IS NULL THEN 'removed'
        |            WHEN f_old <> f_new THEN 'changed'
        |            ELSE 'unchanged' END AS status
        |FROM fp ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      val oldSnap = docs.where(col("doc_id") % 10 =!= 0).select(col("doc_id"), col("text"))
      val newSnap = docs.where(col("doc_id") % 13 =!= 0).select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" updated")))
          .otherwise(col("text")).as("text"))
      graft.operators.CorpusDiff.diff(oldSnap, newSnap, "doc_id", "text")
        .select(col("id").as("doc_id"), col("status"))
        .orderBy("doc_id")
    },

    // Vocabulary builder: top-25 terms with exact cumulative coverage in
    // integer parts-per-million — the tokenizer-training-prep report
    q("q98_build_vocab",
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |counts AS (
        |  SELECT term, count(*) AS n_occ FROM toks
        |  WHERE term <> '' GROUP BY term),
        |total AS (SELECT sum(n_occ) AS total FROM counts),
        |top AS (
        |  SELECT term, n_occ,
        |         CAST(row_number() OVER (ORDER BY n_occ DESC, term) AS BIGINT) AS rank,
        |         CAST(sum(n_occ) OVER (ORDER BY n_occ DESC, term
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_occ
        |  FROM counts ORDER BY n_occ DESC, term LIMIT 25)
        |SELECT rank, term, n_occ, cum_occ,
        |       CAST(cum_occ * 1000000 // total AS BIGINT) AS cov_ppm
        |FROM top CROSS JOIN total ORDER BY rank""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      graft.operators.TextOps.buildVocab(s.table("documents"), "text", 25)
        .orderBy("rank")
    },

    // Repeated-span mining: every 17th doc's first-20-word span is also
    // copied into a fresh doc between per-id unique pad words (known
    // positives), and the corpus's own near-duplicate docs surface too —
    // so the oracle replays the WHOLE pipeline on gram STRINGS (words
    // can't contain whitespace, so gram strings and the operator's
    // 64-bit gram hashes are in bijection — q21's argument): positional
    // 8-gram explode, pair join, constant-offset run counting via the
    // row_number difference, max/sum per pair, minRun 3
    q("q99_repeated_spans",
      """WITH planted AS (
        |  SELECT doc_id + 3000000 AS doc_id,
        |         'xpada' || CAST(doc_id AS VARCHAR) || ' ' ||
        |         array_to_string(regexp_split_to_array(trim(lower(text)), '\s+')[1:20], ' ') ||
        |         ' xpadb' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents WHERE doc_id % 17 = 0),
        |aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM planted),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |      FROM aug),
        |g AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
        |         list_reduce(ws[u.i:u.i+7], (a, b) -> a || ' ' || b) AS gram
        |  FROM t, unnest(range(1, len(ws) - 6)) AS u(i)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa,
        |         a.pos - b.pos AS off
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |runs AS (
        |  SELECT id_a, id_b, off,
        |         pa - row_number() OVER (PARTITION BY id_a, id_b, off ORDER BY pa) AS grp
        |  FROM pairs),
        |counted AS (
        |  SELECT id_a, id_b, off, grp, count(*) AS run
        |  FROM runs GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b, CAST(max(run) AS BIGINT) AS max_run,
        |       CAST(sum(run) AS BIGINT) AS n_shared
        |FROM counted GROUP BY 1, 2 HAVING max(run) >= 3
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      val planted = docs.where(col("doc_id") % 17 === 0).select(
        (col("doc_id") + 3000000L).as("doc_id"),
        concat(
          lit("xpada"), col("doc_id"), lit(" "),
          array_join(slice(split(trim(lower(col("text"))), "\\s+"), 1, 20), " "),
          lit(" xpadb"), col("doc_id")).as("text"))
      graft.operators.Dedup.repeatedSpans(
          docs.select(col("doc_id"), col("text")).unionByName(planted),
          "doc_id", "text", n = 8, minRun = 3)
        .orderBy("id_a", "id_b")
    },

    // Span-removal rewrite over the organic corpus (its near-duplicate
    // docs get their copied passages cut from the higher-id side). The
    // oracle replays the whole flow on gram strings: q99's run mining,
    // then interval union per doc and a positional word filter. DuckDB
    // positions are 1-based where Spark's are 0-based — each side is
    // self-consistent, and the compared artifact is the rebuilt text.
    q("q100_dedup_spans_rewrite",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
        |         list_reduce(ws[u.i:u.i+7], (a, b) -> a || ' ' || b) AS gram
        |  FROM t, unnest(range(1, len(ws) - 6)) AS u(i)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa,
        |         a.pos - b.pos AS off
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |runs AS (
        |  SELECT id_a, id_b, off, pa,
        |         pa - row_number() OVER (PARTITION BY id_a, id_b, off ORDER BY pa) AS grp
        |  FROM pairs),
        |counted AS (
        |  SELECT id_a, id_b, off, grp, count(*) AS run, min(pa) AS pa0
        |  FROM runs GROUP BY 1, 2, 3, 4),
        |drops AS (
        |  SELECT DISTINCT id_b AS doc_id, CAST(u.p AS BIGINT) AS pos
        |  FROM counted, unnest(range(pa0 - off, pa0 - off + run + 7)) AS u(p)
        |  WHERE run >= 3),
        |dlist AS (
        |  SELECT doc_id, list_sort(list(pos)) AS ps FROM drops GROUP BY 1)
        |SELECT t.doc_id,
        |       CASE WHEN d.ps IS NULL THEN array_to_string(ws, ' ')
        |            -- array_to_string([]) is NULL in DuckDB; a fully-cut
        |            -- doc must compare as the empty string
        |            ELSE coalesce(array_to_string(list_filter(ws,
        |              (w, i) -> NOT list_contains(d.ps, CAST(i AS BIGINT))), ' '), '')
        |       END AS text_dedup,
        |       CAST(len(ws) AS BIGINT) AS n_words,
        |       CAST(coalesce(len(d.ps), 0) AS BIGINT) AS n_dropped
        |FROM t LEFT JOIN dlist d USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      graft.operators.Dedup.dedupSpansRewrite(
          s.table("documents"), "doc_id", "text", n = 8, minRun = 3)
        .select(col("id").as("doc_id"), col("text_dedup"),
          col("n_words"), col("n_dropped"))
        .orderBy("doc_id")
    },

    // Persisted inverted text index: build posting lists partitioned by
    // term bucket, answer the SAME query set as q96 against the SAME
    // oracle — proving the index path scores bit-for-bit like the
    // inline operator while scanning only the probed buckets
    q("q101_text_index", bm25OracleSql) { (s, d) =>
      view(s, d, "documents")
      val path = scratchDir("graft_q101_tidx")
      // bucket count left to the scale-adaptive default (persisted in
      // the index meta; query reads it back) — see adaptiveBuckets
      graft.operators.TextIndex.build(
        s.table("documents"), "doc_id", "text", path)
      graft.operators.TextIndex.query(s, path, bm25Queries, k = 10)
        .select(col("qid"), col("rank"), col("id").as("doc_id"), col("score_fp"))
        .orderBy("qid", "rank")
    },

    // Forward as-of: next view at-or-after each purchase, vs DuckDB's
    // native forward ASOF (l.ts <= r.ts, inclusive) — q38's mirror
    q("q102_asof_forward",
      """SELECT l.event_id, l.user_id, epoch_ns(l.ts)//1000 AS t,
        |       epoch_ns(r.ts)//1000 AS next_view_ts
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id AND l.ts <= r.ts
        |ORDER BY l.event_id""".stripMargin) { (s, d) =>
      view(s, d, "events")
      val ev = s.table("events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), expr("ts DIV 1000").as("ts"))
      graft.operators.AsofJoin.asofForward(
          purchases, views, "user_id", "ts", outCol = "next_view_ts")
        .select(col("event_id"), col("user_id"),
          col("ts").as("t"), col("next_view_ts"))
        .orderBy("event_id")
    },

    // Interval-overlap join: 1-hour windows after each purchase vs
    // each view, per user — overlap iff |t_p - t_v| <= 1 h (micros). The
    // oracle is the plain inequality join (fine at sf; the bucketed
    // derived-equi-key plan is the part under test)
    q("q103_interval_overlap",
      """WITH p AS (SELECT event_id AS p_id, user_id, epoch_ns(ts)//1000 AS t
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS v_id, user_id, epoch_ns(ts)//1000 AS t
        |      FROM events WHERE event_type = 'view')
        |SELECT p.p_id, v.v_id
        |FROM p JOIN v ON p.user_id = v.user_id
        |WHERE p.t <= v.t + 3600000000 AND v.t <= p.t + 3600000000
        |ORDER BY p_id, v_id""".stripMargin) { (s, d) =>
      view(s, d, "events")
      val ev = s.table("events")
      def side(t: String, idAs: String) = ev.where(col("event_type") === t)
        .select(col("event_id").as(idAs), col("user_id"),
          expr("ts DIV 1000").as(s"${idAs}_lo"),
          (expr("ts DIV 1000") + 3600000000L).as(s"${idAs}_hi"))
      graft.operators.RangeJoin.overlapJoin(
          side("purchase", "p_id"), side("view", "v_id"),
          "p_id_lo", "p_id_hi", "v_id_lo", "v_id_hi",
          bucketWidth = 3600000000.0, keyCols = Seq("user_id"))
        .select(col("p_id"), col("v_id"))
        .orderBy("p_id", "v_id")
    },

    // Capstone: the operators COMPOSED as one curation pipeline —
    // exact-dup drop (planted copies at id+5M) -> C4 line filter
    // (planted boilerplate lines) -> integer quality gate -> global
    // token-budget selection — with the whole flow replayed in SQL.
    // Every stage is provably non-vacuous: dedup removes the planted
    // copies, the line filter drops 2 of the 3 appended lines, the
    // budget stops mid-corpus.
    q("q104_curation_pipeline", {
      val wordcount = "len(list_filter(regexp_split_to_array(x, '\\s+'), w -> w <> ''))"
      s"""WITH all0 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 5000000, text FROM documents WHERE doc_id % 11 = 0),
        |d1 AS (SELECT doc_id, text,
        |              md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS h
        |       FROM all0),
        |keep AS (SELECT h, min(doc_id) AS k FROM d1 GROUP BY h),
        |ded AS (SELECT d1.doc_id, d1.text
        |        FROM d1 JOIN keep ON d1.h = keep.h AND d1.doc_id = keep.k),
        |aug AS (SELECT doc_id,
        |               text || chr(10) || 'buy now click here promo' ||
        |               chr(10) || 'no' || chr(10) ||
        |               'appended training words for quality score' AS t
        |        FROM ded),
        |fl AS (SELECT doc_id,
        |              array_to_string(list_filter(string_split(t, chr(10)),
        |                x -> $wordcount >= 3
        |                     AND NOT contains(lower(x), 'click here')),
        |                chr(10)) AS ft
        |       FROM aug),
        |qg AS (
        |  SELECT doc_id, ft,
        |         regexp_split_to_array(trim(lower(ft)), '\\s+') AS toks
        |  FROM fl
        |  WHERE len(regexp_split_to_array(trim(lower(ft)), '\\s+')) >= 5
        |    AND length(ft) <= 20000
        |    AND length(regexp_replace(ft, '[^a-zA-Z]', '', 'g')) * 100
        |        >= length(ft) * 50
        |    AND (len(list_filter(regexp_split_to_array(trim(lower(ft)), '\\s+'), x -> x = 'the'))
        |         + len(list_filter(regexp_split_to_array(trim(lower(ft)), '\\s+'), x -> x = 'and'))
        |         + len(list_filter(regexp_split_to_array(trim(lower(ft)), '\\s+'), x -> x = 'of'))
        |         + len(list_filter(regexp_split_to_array(trim(lower(ft)), '\\s+'), x -> x = 'to'))) * 100
        |        >= len(regexp_split_to_array(trim(lower(ft)), '\\s+')) * 2),
        |s AS (
        |  SELECT doc_id,
        |         CAST(list_sum(list_transform(toks, w -> ${bowWeightSql(64)}))
        |              AS DOUBLE) AS score,
        |         len(toks) AS n_tokens
        |  FROM qg),
        |c AS (
        |  SELECT doc_id, score, n_tokens,
        |         sum(n_tokens) OVER (ORDER BY score DESC, doc_id) AS cum
        |  FROM s)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM c WHERE cum <= 8000 ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      val all = docs.select(col("doc_id"), col("text")).unionByName(
        docs.where(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
      val winners = graft.operators.Dedup.normalizedDedup(all, "doc_id", "text")
        .select(col("kept_id").as("doc_id"))
      val deduped = all.join(winners, Seq("doc_id"), "left_semi")
      val aug = deduped.select(col("doc_id"),
        concat(col("text"), lit("\nbuy now click here promo\nno\n" +
          "appended training words for quality score")).as("t"))
      val filtered = graft.operators.TextOps.filterLines(
          aug, "doc_id", "t", minWords = 3, requirePunct = false,
          dropMarkers = Seq("click here"))
        .select(col("id").as("doc_id"), col("text_filtered"))
      val gated = filtered
        .where(graft.operators.TextOps.qualityFlag(col("text_filtered")))
      val scored = gated.select(col("doc_id"),
        graft.functions.graft_hashed_bow_score(col("text_filtered"), bowWeights(64))
          .as("score"),
        graft.operators.TextOps.tokenCount(col("text_filtered")).cast("long")
          .as("n_tokens"))
      graft.operators.Sampling
        .selectByTokenBudget(scored, "doc_id", "score", "n_tokens",
          budget = 8000, buckets = 8, refineLimit = 50)
        .select(col("id").as("doc_id"), col("tokens").as("n_tokens"))
        .orderBy("doc_id")
    },

    // Sketch aggregates under ROLLUP at the driver gate: per-(type, day)
    // distinct users, per-type subtotals, and the grand total from ONE
    // pass — the sketch agg plugs into Spark's Expand-based grouping
    // sets unchanged. HLL variant: its coupon-list mode is EXACT below
    // ~3/4*2^lgK distinct (CPC estimates 52 for a true 53 here)
    q("q105_rollup_sketch",
      """SELECT event_type, CAST(epoch_ns(ts)//1000//86400000000 AS BIGINT) AS day,
        |       count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events
        |GROUP BY ROLLUP(event_type, day)
        |ORDER BY event_type NULLS LAST, day NULLS LAST""".stripMargin) { (s, d) =>
      view(s, d, "events")
      s.sql("""SELECT event_type, (ts DIV 1000) DIV 86400000000 AS day,
              |       approx_count_distinct_hll(user_id) AS n_users,
              |       count(*) AS n_events
              |FROM events
              |GROUP BY ROLLUP(event_type, day)
              |ORDER BY event_type NULLS LAST, day NULLS LAST""".stripMargin)
    },

    // HTML stripping: every 5th doc is wrapped in markup with entities;
    // tags drop, entities decode (amp last, tags first so a literal
    // &lt;b&gt; survives as <b>), whitespace collapses — replayed with
    // the same regex/replace chain in DuckDB
    q("q106_strip_html",
      """WITH aug AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0 THEN
        |           '<html><body class="x"><p>' || text ||
        |           '</p><br/>&amp; more &lt;raw&gt; &nbsp;tail</body></html>'
        |         ELSE text END AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(t, '<[^>]*>')) AS BIGINT) AS n_tags,
        |         trim(regexp_replace(
        |           replace(replace(replace(replace(replace(replace(
        |             regexp_replace(t, '<[^>]*>', ' ', 'g'),
        |             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |             '&nbsp;', ' '), '&amp;', '&'),
        |           '\s+', ' ', 'g')) AS clean
        |  FROM aug)
        |SELECT doc_id, n_tags, clean FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val aug = s.table("documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("<html><body class=\"x\"><p>"), col("text"),
            lit("</p><br/>&amp; more &lt;raw&gt; &nbsp;tail</body></html>")))
          .otherwise(col("text")).as("t"))
      aug.select(col("doc_id"),
          graft.operators.TextOps.htmlTagCount(col("t")).cast("long").as("n_tags"),
          graft.operators.TextOps.stripHtml(col("t")).as("clean"))
        .orderBy("doc_id")
    },

    // Unicode NFC canonicalization: every 7th doc gets decomposed
    // accents appended (e + combining acute, i + combining diaeresis);
    // NFC composes them — java.text.Normalizer vs DuckDB/utf8proc
    // nfc_normalize, byte-for-byte
    q("q107_normalize_unicode",
      s"""WITH aug AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0
        |              THEN text || ' café naïve'
        |              ELSE text END AS t
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(t) AS norm,
        |       (nfc_normalize(t) <> t) AS changed
        |FROM aug ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val aug = s.table("documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" café naïve")))
          .otherwise(col("text")).as("t"))
      aug.select(col("doc_id"),
          call_function("graft_normalize_unicode", col("t"), lit("NFC")).as("norm"),
          (call_function("graft_normalize_unicode", col("t"), lit("NFC")) =!= col("t"))
            .as("changed"))
        .orderBy("doc_id")
    },

    // Temperature-balanced sampling (alpha = 0.5): per-language keep
    // rates (n_min/n_g)^0.5 over seedless md5 fractions — division,
    // sqrt, power-of-two scale and floor are all IEEE exactly-rounded,
    // so DuckDB computes the identical integer thresholds
    q("q108_temperature_sample",
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |m AS (SELECT min(n) AS nmin FROM c),
        |r AS (SELECT lang,
        |             CAST(floor(sqrt(CAST(nmin AS DOUBLE) / n)
        |                        * 1152921504606846976.0) AS BIGINT) AS thr
        |      FROM c CROSS JOIN m),
        |v AS (SELECT doc_id, lang,
        |             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |      FROM documents)
        |SELECT v.doc_id, v.lang FROM v JOIN r USING (lang)
        |WHERE hv < thr ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      graft.operators.Sampling.temperatureSample(
          s.table("documents"), "doc_id", "lang", alpha = 0.5)
        .select("doc_id", "lang").orderBy("doc_id")
    },

    // Canonicalization funnel: distinct-document counts as successive
    // normalization levels collapse planted variants — raw bytes >
    // case/whitespace (upper copies merge) > NFC (composed and
    // decomposed accent copies merge) > accent-fold (the plain-ASCII
    // copy joins them). One row; each level provably collapses more.
    q("q109_dedup_funnel",
      """WITH aug AS (
        |  SELECT text FROM documents
        |  UNION ALL SELECT upper(text) FROM documents WHERE doc_id % 9 = 0
        |  UNION ALL SELECT text || ' café' FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL SELECT text || ' café' FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL SELECT text || ' cafe' FROM documents WHERE doc_id % 13 = 0),
        |lv AS (
        |  SELECT md5(text) AS raw,
        |         md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
        |         md5(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS nfc,
        |         md5(strip_accents(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))) AS folded
        |  FROM aug)
        |SELECT count(*) AS n_docs,
        |       count(DISTINCT raw) AS raw_distinct,
        |       count(DISTINCT norm) AS norm_distinct,
        |       count(DISTINCT nfc) AS nfc_distinct,
        |       count(DISTINCT folded) AS folded_distinct
        |FROM lv""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      def planted(mod: Int, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        docs.where(col("doc_id") % mod === 0).select(f(col("text")).as("text"))
      val aug = docs.select(col("text"))
        .unionByName(planted(9, upper))
        .unionByName(planted(13, t => concat(t, lit(" café"))))
        .unionByName(planted(13, t => concat(t, lit(" café"))))
        .unionByName(planted(13, t => concat(t, lit(" cafe"))))
      val norm = regexp_replace(lower(col("text")), "\\s+", " ")
      val nfc = regexp_replace(
        lower(call_function("graft_normalize_unicode", col("text"), lit("NFC"))),
        "\\s+", " ")
      aug.select(
          md5(col("text").cast("binary")).as("raw"),
          md5(norm.cast("binary")).as("norm"),
          md5(nfc.cast("binary")).as("nfc"),
          md5(call_function("graft_fold_accents", nfc).cast("binary")).as("folded"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("raw")).as("raw_distinct"),
          countDistinct(col("norm")).as("norm_distinct"),
          countDistinct(col("nfc")).as("nfc_distinct"),
          countDistinct(col("folded")).as("folded_distinct"))
    },

    // Opt-in COUNT(DISTINCT) -> sketch rewrite, driver-proven: the flag
    // turns the exact per-type distinct-user count into the HLL sketch
    // aggregate (coupon-exact at this cardinality), collected while the
    // flag is on (the rewrite fires at optimization time) and returned
    // as a local relation; the oracle is the plain exact count
    q("q110_approx_rewrite",
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      view(s, d, "events")
      withConfs(s, "spark.sql.graft.approxCountDistinct.enabled" -> "true") {
        val df = s.sql("""SELECT event_type, count(DISTINCT user_id) AS n_users
                         |FROM events GROUP BY event_type
                         |ORDER BY event_type""".stripMargin)
        require(df.queryExecution.optimizedPlan.toString
            .contains("approx_count_distinct_ex"),
          "approx rewrite did not fire")
        val rows = df.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      }
    },

    // One-row corpus report card: volume, token extremes, language mix,
    // quality rate, duplicate rate — all integer-exact, replayed with
    // the shared tokenizer/langid/quality formulations
    q("q111_text_profile", {
      def hits(w: String) =
        s"len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x = '$w'))"
      val scores = graft.operators.TextOps.langMarkers
        .map { case (l, ws) => l -> ws.map(hits).mkString(" + ") }
      val scoreCols = scores.map { case (l, e) => s"($e) AS s_$l" }.mkString(", ")
      val best = s"greatest(${scores.map("s_" + _._1).mkString(", ")})"
      val caseChain = scores
        .map { case (l, _) => s"WHEN s_$l = best AND best > 0 THEN '$l'" }
        .mkString(" ")
      s"""WITH scored AS (
        |  SELECT doc_id, text,
        |         len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS nt,
        |         md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
        |         CASE WHEN len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 5
        |                AND length(text) <= 20000
        |                AND length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 100 >= length(text) * 50
        |                AND (${Seq("the", "and", "of", "to").map(hits).mkString(" + ")}) * 100
        |                    >= len(regexp_split_to_array(trim(lower(text)), '\\s+')) * 2
        |              THEN 1 ELSE 0 END AS q,
        |         $scoreCols
        |  FROM documents),
        |per AS (SELECT doc_id, nt, fp, q,
        |               CASE $caseChain ELSE 'und' END AS lang
        |        FROM (SELECT *, $best AS best FROM scored)),
        |l AS (SELECT lang, count(*) AS n FROM per GROUP BY lang),
        |top AS (SELECT lang AS top_lang, n AS top_n FROM l ORDER BY n DESC, lang LIMIT 1),
        |nl AS (SELECT count(*) AS n_langs FROM l)
        |SELECT count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens,
        |       CAST(min(nt) AS BIGINT) AS min_tokens, CAST(max(nt) AS BIGINT) AS max_tokens,
        |       CAST(n_langs AS BIGINT) AS n_langs, top_lang,
        |       CAST(top_n * 1000000 // count(*) AS BIGINT) AS top_lang_ppm,
        |       CAST(sum(q) AS BIGINT) AS quality_docs,
        |       CAST(count(DISTINCT fp) AS BIGINT) AS distinct_norm_docs
        |FROM per CROSS JOIN top CROSS JOIN nl
        |GROUP BY n_langs, top_lang, top_n""".stripMargin
    }) { (s, d) =>
      view(s, d, "documents")
      graft.operators.TextProfile.report(s.table("documents"), "doc_id", "text")
    },

    // Summary-table rewrite at the driver gate: a per-type distinct
    // sketch summary is materialized and registered, the flag turns the
    // one-shot aggregate into a summary-side combine (the base scan
    // must disappear from the plan — enforced), and the estimates are
    // coupon-exact at this cardinality, so the exact oracle matches
    q("q112_summary_rewrite",
      """SELECT event_type, count(DISTINCT props) AS n_props
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val basePath = s"$d/events.parquet"
      s.read.parquet(basePath).createOrReplaceTempView("q112_events")
      val summaryDir = scratchDir("graft_q112_summary")
      s.sql("""SELECT event_type, approx_count_distinct_accumulate(props) AS sk
              |FROM q112_events GROUP BY event_type""".stripMargin)
        .write.mode("overwrite").parquet(summaryDir)
      graft.plans.GraftSummaries.registerDistinctSummary(
        basePath, s.read.parquet(summaryDir), Seq("event_type"), "props", "sk")
      try withConfs(s, graft.plans.GraftSummaries.ENABLED_KEY -> "true") {
        val df = s.sql(
          """SELECT event_type, approx_count_distinct_ex(props) AS n_props
            |FROM q112_events GROUP BY event_type
            |ORDER BY event_type""".stripMargin)
        require(!df.queryExecution.executedPlan.toString.contains("events.parquet"),
          "summary rewrite did not fire: the base scan survived")
        val rows = df.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      } finally graft.plans.GraftSummaries.clear()
    },

    // ebpps_sample (beyond reference surface): strict-PPS sampling.
    // Equal weights with bucket size <= k make every inclusion
    // probability min(1, k*w/W) = 1 — integer expected size, no partial
    // item, so the sorted sample equals the sorted bucket exactly. The
    // global column runs the full accumulate -> combine -> estimate
    // lifecycle over-full (n=500 docs vs k=32): the SAMPLE is random
    // there, but `n` and the cumulative weight are exact bookkeeping —
    // length(text) weights are integer-valued doubles, so the sum is
    // order-independent.
    q("q113_ebpps_sample",
      """SELECT doc_id % 50 AS bucket,
        |       array_to_string(list_sort(list(CAST(doc_id AS VARCHAR))), ',') AS sample,
        |       (SELECT count(*) FROM documents) AS global_n,
        |       (SELECT CAST(round(sum(length(text))) AS BIGINT) FROM documents) AS global_weight
        |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      s.sql("""
        |WITH glob AS (
        |  SELECT ebpps_estimate(ebpps_combine(sk, 32)) AS est
        |  FROM (SELECT ebpps_accumulate(CAST(doc_id AS STRING),
        |                                CAST(length(text) AS DOUBLE), 32) AS sk
        |        FROM documents GROUP BY doc_id % 7))
        |SELECT doc_id % 50 AS bucket,
        |       array_join(sort_array(ebpps_sample(CAST(doc_id AS STRING), 1.0, 20)), ',')
        |         AS sample,
        |       glob.est.n AS global_n,
        |       CAST(round(glob.est.cum_weight) AS BIGINT) AS global_weight
        |FROM documents CROSS JOIN glob
        |GROUP BY doc_id % 50, glob.est.n, glob.est.cum_weight
        |ORDER BY bucket""".stripMargin)
    },

    // Persisted LSH near-dup index: build on the even-id half, append
    // nothing, query the odd-id half — the incremental-ingestion path
    // (is this NEW batch a near-dup of anything already indexed?).
    // Oracle: the exact-Jaccard pair oracle of q21/q22 restricted to
    // cross-parity pairs; exact verification inside query() makes the
    // probabilistic candidate step invisible (same banding q22 pins).
    q("q114_lsh_index",
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') ws FROM documents),
        |d AS (
        |  SELECT doc_id,
        |         CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
        |              ELSE list_distinct(list_transform(range(len(ws) - 4),
        |                     i -> array_to_string(ws[i+1:i+5], ' '))) END sh
        |  FROM w),
        |pairs AS (
        |  SELECT a.doc_id id_a, b.doc_id id_b,
        |         len(list_intersect(a.sh, b.sh)) inter,
        |         len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) uni
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |  WHERE a.doc_id % 2 != b.doc_id % 2)
        |SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni
        |FROM pairs WHERE inter * 5 >= uni * 4 ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      val path = scratchDir("graft_q114_lsh")
      graft.operators.LshIndex.build(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text", path)
      graft.operators.LshIndex.query(
        s, path, docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"), col("inter"), col("uni"))
        .orderBy("id_a", "id_b")
    },

    // Image perceptual-hash near-dup pairs — the multimodal x dedup
    // crossover: REAL PNG decode -> dHash -> hamming-banded self-join.
    // Exact-oracle design: content is planted (`synthesizeImageContent`
    // pixels are (seed*31 + 7x + y) & 0xffffff, PNG roundtrip lossless,
    // q77's invariant) and seeded with doc_id % 250, so each seed group
    // is an exact-duplicate image cluster (hamming 0); the oracle
    // recomputes the same 9x8 point-sampled integer dHash from the pixel
    // formula and takes ALL-pairs hamming — banding loses nothing for
    // maxHamming < bands, so the bucketed join must reproduce the
    // quadratic ground truth exactly. Different seeds sit ~32 bits apart
    // (planted formula decorrelates), far above the threshold.
    q("q115_image_phash_pairs",
      """WITH docs AS (
        |  SELECT doc_id, doc_id % 250 AS seed,
        |         1 + (doc_id % 250) % 16 AS w,
        |         1 + ((doc_id % 250) * 7) % 16 AS h
        |  FROM documents),
        |grid AS (SELECT gx.range AS x, gy.range AS y FROM range(0,9) gx, range(0,8) gy),
        |gray AS (
        |  SELECT doc_id, x, y,
        |         ((((seed*31 + (x*w//9)*7 + (y*h//8)) & 16777215) >> 16) +
        |          ((((seed*31 + (x*w//9)*7 + (y*h//8)) & 16777215) >> 8) & 255) +
        |          (((seed*31 + (x*w//9)*7 + (y*h//8)) & 16777215) & 255)) // 3 AS g
        |  FROM docs CROSS JOIN grid),
        |bits AS (
        |  SELECT a.doc_id, a.y*8 + a.x AS i,
        |         CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
        |  FROM gray a JOIN gray b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8),
        |ham AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS hamming
        |  FROM bits a JOIN bits b ON a.i = b.i AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
        |FROM ham WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
        .select(col("doc_id"), (col("doc_id") % 250).as("seed"))
      // synthesize each distinct seed's payload ONCE, broadcast to the
      // corpus (at 100 TB the content column arrives from ingestion and
      // this join disappears)
      val content = Multimodal.synthesizeImageContent(
        docs.select(col("seed").as("doc_id")).distinct(), "doc_id")
        .select(col("doc_id").as("seed"), col("content"))
      // fanOut the 16-byte (doc_id, seed) side BEFORE the broadcast join:
      // the single-split documents scan would otherwise run the fused
      // join+PNG-decode stage (50k ImageIO reads at sf0.1) as one task
      val hashed = Multimodal.imageDhash(
        operators.fanOut(docs).join(broadcast(content), "seed")
          .select("doc_id", "content"), "doc_id")
      Multimodal.imageNearDupPairs(hashed, "doc_id", "phash", maxHamming = 3, bands = 4)
        .orderBy("id_a", "id_b")
    },

    // theta_containment (beyond reference surface): |A ∩ B| / |A| between
    // independently-built sketches — the decontamination direction Jaccard
    // understates when |B| >> |A|. q31's exactness argument applies (150
    // users << 2^12 nominal; set ops of exact sketches are exact), and the
    // division of the two exact integer-valued double estimates is one
    // IEEE op, identical in DuckDB; both sides round to 9 dp.
    q("q116_theta_containment",
      """WITH d AS (
        |  SELECT user_id,
        |         epoch_ns(ts)//86400000000000
        |           - (SELECT min(epoch_ns(ts)//86400000000000) FROM events) AS day
        |  FROM events),
        |a AS (SELECT DISTINCT user_id FROM d WHERE day = 0),
        |b AS (SELECT DISTINCT user_id FROM d WHERE day = 1)
        |SELECT round(
        |  CAST((SELECT count(*) FROM (SELECT user_id FROM a
        |        INTERSECT SELECT user_id FROM b)) AS DOUBLE)
        |  / CAST((SELECT count(*) FROM a) AS DOUBLE), 9) AS containment""".stripMargin) {
      (s, d) =>
      view(s, d, "events")
      s.sql("""
        |WITH dd AS (
        |  SELECT user_id,
        |         ts DIV 86400000000000
        |           - (SELECT min(ts DIV 86400000000000) FROM events) AS day
        |  FROM events),
        |s AS (
        |  SELECT theta_accumulate(CASE WHEN day = 0 THEN CAST(user_id AS STRING) END) ask,
        |         theta_accumulate(CASE WHEN day = 1 THEN CAST(user_id AS STRING) END) bsk
        |  FROM dd)
        |SELECT round(theta_containment(ask, bsk), 9) AS containment FROM s""".stripMargin)
    },

    // Audio acoustic-fingerprint near-dup pairs — multimodal dedup's third
    // modality (image q115, video frames compose q42/q65, audio here):
    // REAL WAV decode -> 65-window integer energy envelope -> 64-bit
    // gradient hash -> the same banded hamming join as q115 (the pair
    // search is modality-agnostic). Oracle design: payloads are planted
    // per-seed duplicates (doc_id % 200), so ground truth is exactly the
    // same-seed pairs at hamming 0; the sine PCM is float-generated, so
    // unlike q115 the oracle asserts the PLANTED truth rather than
    // recomputing the hash — valid because distinct seeds differ in
    // length and frequency and sit ~32 bits apart (collision odds at
    // <= 2 bits are ~1e-16 per pair; verified absent on this corpus).
    q("q117_audio_fingerprint_pairs",
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id % 200 = b.doc_id % 200 AND a.doc_id < b.doc_id
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
        .select(col("doc_id"), (col("doc_id") % 200).as("seed"))
      val content = Multimodal.synthesizeAudioContent(
        docs.select(col("seed").as("doc_id")).distinct(), "doc_id")
        .select(col("doc_id").as("seed"), col("content"))
      // no fanOut on the WAV-decode side (unlike q115's image decode):
      // javax.sound serializes on a global provider lock, so a fanned-out
      // decode stage convoys and runs SLOWER than serial (measured
      // 1.13 -> 1.53 s; see synthesizeAudioContent)
      val fp = Multimodal.audioFingerprint(
        docs.join(broadcast(content), "seed")
          .select("doc_id", "content"), "doc_id")
      Multimodal.imageNearDupPairs(fp, "doc_id", "afp", maxHamming = 2, bands = 4)
        .orderBy("id_a", "id_b")
    },

    // sparse TF-IDF cosine near-neighbor pairs (inverted-index candidate
    // generation on rare terms, exact fixed-point verification) — the
    // lexical complement of q23/q28's dense-embedding paths
    q("q118_sparse_cosine_pairs",
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |         CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |              ELSE list_transform(range(len(ws) - 2),
        |                     i -> array_to_string(ws[i+1:i+3], ' ')) END AS gs
        |  FROM toks),
        |tf AS (
        |  SELECT doc_id, unnest(gs) AS term FROM grams),
        |tfc AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks),
        |dfreq AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
        |w AS (
        |  SELECT doc_id, term,
        |         tf * CAST(round(ln((n + 1.0) / (df + 1.0)) * 10000) AS BIGINT) AS w,
        |         df
        |  FROM tfc JOIN dfreq USING (term) CROSS JOIN n),
        |nrm AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY 1),
        |rare AS (SELECT doc_id, term FROM w WHERE df <= 10),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM rare a JOIN rare b ON a.term = b.term AND a.doc_id < b.doc_id),
        |num AS (
        |  SELECT c.id_a, c.id_b, sum(wa.w * wb.w) AS num
        |  FROM cand c
        |  JOIN w wa ON wa.doc_id = c.id_a
        |  JOIN w wb ON wb.doc_id = c.id_b AND wb.term = wa.term
        |  GROUP BY 1, 2)
        |SELECT num.id_a, num.id_b,
        |       round(num / (sqrt(na.n2) * sqrt(nb.n2)), 9) AS cosine
        |FROM num
        |JOIN nrm na ON na.doc_id = num.id_a
        |JOIN nrm nb ON nb.doc_id = num.id_b
        |WHERE num / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      Similarity.sparseCosinePairs(s.table("documents"), "doc_id", "text",
        threshold = 0.6, maxDf = 10, ngram = 3)
        .orderBy("id_a", "id_b")
    },

    // decode-QC pass: encoding-health signals per document (replacement
    // chars, raw control bytes, UTF-8-as-Latin-1 mojibake digraphs). The
    // word-soup corpus is pure ASCII, so the artifacts a crawl decoder
    // produces are PLANTED deterministically (same device as q51's
    // accented copies): legit diacritics on doc_id%7, mojibake digraphs
    // on %11, U+FFFD on %13, a raw control byte on %17.
    q("q119_encoding_qc",
      """WITH p1 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN 'café résumé ' || text
        |              ELSE text END AS t FROM documents),
        |p2 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 11 = 0 THEN t || ' Ã© â€™'
        |              ELSE t END AS t FROM p1),
        |p3 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 13 = 0 THEN t || ' ' || chr(65533)
        |              ELSE t END AS t FROM p2),
        |inp AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 17 = 0 THEN t || ' ' || chr(1) || 'x'
        |              ELSE t END AS text FROM p3)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[^\x00-\x7F]')) AS BIGINT) AS n_non_ascii,
        |  round(len(regexp_extract_all(text, '[^\x00-\x7F]'))
        |        / CAST(greatest(length(text), 1) AS DOUBLE), 9) AS non_ascii_frac,
        |  CAST(len(regexp_extract_all(text, '\x{FFFD}')) AS BIGINT) AS n_replacement,
        |  CAST(len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS BIGINT) AS n_ctrl,
        |  CAST(len(regexp_extract_all(text, 'Ã|Â|â€')) AS BIGINT) AS n_mojibake,
        |  (len(regexp_extract_all(text, '\x{FFFD}'))
        |   + len(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]'))
        |   + len(regexp_extract_all(text, 'Ã|Â|â€'))) > 0 AS enc_suspect
        |FROM inp ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      val t0 = col("text")
      val t1 = when(col("doc_id") % 7 === 0, concat(lit("café résumé "), t0)).otherwise(t0)
      val t2 = when(col("doc_id") % 11 === 0, concat(t1, lit(" Ã© â€™"))).otherwise(t1)
      val t3 = when(col("doc_id") % 13 === 0, concat(t2, lit(" �"))).otherwise(t2)
      val t4 = when(col("doc_id") % 17 === 0, concat(t3, lit(" \u0001x"))).otherwise(t3)
      TextOps.encodingSignals(
        docs.select(col("doc_id"), t4.as("text")), "doc_id", "text")
        .orderBy("doc_id")
    },

    // One-pass exact Gram matrix of the embedding corpus (covariance/PCA
    // input) via the mergeable vec_gram_agg aggregate — d^2 state per
    // partition, merged by elementwise addition; the corpus is read ONCE
    // and never shuffled (only the d^2 partials move). Vectors are
    // quantized to the 1/1000 integer lattice so every Gram entry is an
    // integer-valued double — exact in FP regardless of partitioning or
    // summation order — which is what lets DuckDB replay it bit-for-bit.
    q("q120_embedding_gram",
      """WITH v AS (
        |  SELECT list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) q
        |  FROM embeddings),
        |idx AS (SELECT CAST(unnest(range(0, 64)) AS INT) i)
        |SELECT a.i AS i, b.i AS j,
        |       CAST(sum(v.q[a.i + 1] * v.q[b.i + 1]) AS BIGINT) AS g
        |FROM v, idx a, idx b
        |WHERE a.i <= b.i
        |GROUP BY 1, 2 ORDER BY i, j""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      val quant = s.table("embeddings").select(
        transform(col("embedding"), x => round(x.cast("double") * 1000)).as("v"))
      val g = quant.agg(call_function("vec_gram_agg", col("v")).as("g"))
        .withColumn("d", sqrt(size(col("g"))).cast("int"))
      g.select(col("d"), posexplode(col("g")).as(Seq("k", "gv")))
        .select((col("k") / col("d")).cast("int").as("i"),
          (col("k") % col("d")).cast("int").as("j"),
          col("gv").cast("long").as("g"))
        .where(col("i") <= col("j"))
        .orderBy("i", "j")
    },

    // Frequent-Directions matrix sketch vs the exact Gram, checked
    // against its own proven spectral bound: every entry of |exact - FD|
    // must sit within ||A||_F^2/ell. Both aggregates run in the SAME
    // one-pass scan (one ObjectHashAggregate, two buffers). The bound is
    // a theorem, so the oracle pins the contract at every sf — the same
    // scale-independent-contract pattern as the q25/q68 recall gates.
    q("q121_fd_spectral_bound",
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors, 16 AS ell,
        |       true AS bound_ok, true AS trace_ok
        |FROM embeddings""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      val vecs = s.table("embeddings")
        .select(col("embedding").cast("array<double>").as("v"))
      vecs.agg(
        call_function("vec_gram_agg", col("v")).as("g"),
        call_function("fd_accumulate", col("v"), lit(16)).as("s"),
        count(lit(1)).as("n_vectors"))
        .select(
          col("n_vectors"),
          lit(16).as("ell"),
          (array_max(zip_with(col("g"),
            call_function("fd_gram_estimate", col("s")),
            (a, b) => abs(a - b)))
            <= call_function("fd_error_bound", col("s")) + lit(1e-6)).as("bound_ok"),
          (aggregate(call_function("fd_singular_values", col("s")),
            lit(0.0d), (acc, x) => acc + x)
            <= aggregate(col("g"), lit(0.0d), (acc, x) => acc + x) + lit(1e-6))
            .as("trace_ok"))
    },

    // Deterministic k-means (SemDeDup's clustering stage): seed = the 8
    // lowest-id vectors, 2 Lloyd iterations on the 1/1000 integer
    // lattice with floor-of-mean centroid updates — every distance and
    // centroid is an integer-valued double, so assignments are
    // bit-reproducible at any parallelism and DuckDB replays the exact
    // iteration. Assignment is a projection against broadcast centroid
    // literals (no corpus shuffle); the update shuffles only k*d
    // partial sums.
    q("q122_kmeans_assign",
      s"""$kmeansOracleCtes
         |SELECT vec_id AS id, CAST(cl AS BIGINT) AS cluster
         |FROM a2 ORDER BY id""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      Clustering.kmeansAssign(s.table("embeddings"), "vec_id", "embedding",
        k = 8, iters = 2)
        .orderBy("id")
    },

    // Streaming MinHash-LSH near-dup discovery, driver-checked by bounded
    // replay: documents stream through `StreamingOps.nearDupPairs` in two
    // doc_id-ordered micro-batches (LSH bucket state carries across the
    // batch boundary), and the emitted verified pairs — deduped across
    // bands — must equal the batch q21/q22 pair set, pinned by the same
    // brute-force Jaccard oracle.
    q("q123_streaming_neardup", jaccardOracle) { (s, d) =>
      view(s, d, "documents")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      val rows = s.table("documents").select(col("doc_id"), col("text"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val input = MemoryStream[(Long, String)](s)
      val pairs = graft.streaming.StreamingOps.nearDupPairs(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text")
      val sink = "graft_q123_" + java.util.UUID.randomUUID().toString.replace("-", "")
      // q69's state-partition sizing rationale: one state-store commit
      // per partition per micro-batch dominates a bounded replay
      withConfs(s, StateParts) {
        val qy = pairs.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          val (b1, b2) = rows.splitAt(rows.length / 2)
          input.addData(b1.toSeq)
          qy.processAllAvailable()
          input.addData(b2.toSeq)
          qy.processAllAvailable()
        } finally qy.stop()
      }
      s.table(sink).distinct().orderBy("id_a", "id_b")
    },

    // Exact n^2-scaled covariance matrix of the embedding corpus from ONE
    // homogeneous-coordinate Gram pass (gram, per-dim sums, and n in a
    // single aggregate): cov_n2 = n*gram - sum_i*sum_j, all integers on
    // the quantization lattice, LONG-exact in any engine at any
    // parallelism.
    q("q124_embedding_cov",
      """WITH v AS (
        |  SELECT list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) q
        |  FROM embeddings),
        |nn AS (SELECT CAST(count(*) AS BIGINT) n FROM v),
        |idx AS (SELECT CAST(unnest(range(0, 64)) AS INT) i),
        |s AS (SELECT i, CAST(sum(v.q[i + 1]) AS BIGINT) s FROM v, idx GROUP BY i),
        |g AS (SELECT a.i i, b.i j, CAST(sum(v.q[a.i + 1] * v.q[b.i + 1]) AS BIGINT) g
        |      FROM v, idx a, idx b WHERE a.i <= b.i GROUP BY 1, 2)
        |SELECT g.i, g.j, CAST(nn.n * g.g - sa.s * sb.s AS BIGINT) AS cov_n2
        |FROM g CROSS JOIN nn
        |     JOIN s sa ON sa.i = g.i
        |     JOIN s sb ON sb.i = g.j
        |ORDER BY g.i, g.j""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      Spectral.covarianceN2(s.table("embeddings"), "embedding")
        .orderBy("i", "j")
    },

    // PCA projection + residual outlier score: top-8 principal
    // directions from one Gram pass (driver-side Jacobi on the d x d
    // matrix), projection as a broadcast-literal stateless map. The
    // eigenbasis is corpus-deterministic but not engine-portable, so the
    // oracle pins the spectral CONTRACTS: per-component captured energy
    // strictly ordered, residuals non-negative, total energy conserved
    // (captured + residual = |v|^2 summed) — the q25/q121 pattern.
    q("q125_pca_project",
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors, 8 AS m,
        |       true AS energy_desc, true AS resid_ok, true AS energy_conserved
        |FROM embeddings""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      val proj = Spectral.pcaProject(s.table("embeddings"), "vec_id", "embedding", m = 8)
      val energies = (0 until 8).map(k =>
        sum(element_at(col("proj"), k + 1) * element_at(col("proj"), k + 1)).as(s"e$k"))
      val vecs = s.table("embeddings")
        .select(col("embedding").cast("array<double>").as("v"))
        .agg(sum(aggregate(col("v"), lit(0.0d), (acc, x) => acc + x * x)).as("total"))
      proj.agg(
        count(lit(1)).as("n_vectors"),
        energies: _*)
        .crossJoin(broadcast(
          proj.agg(sum(col("residual_sq")).as("resid_total"),
            min(col("residual_sq")).as("resid_min"),
            sum(aggregate(col("proj"), lit(0.0d), (acc, x) => acc + x * x))
              .as("captured_total"))))
        .crossJoin(broadcast(vecs))
        .select(
          col("n_vectors"), lit(8).as("m"),
          (0 until 7).map(k => col(s"e$k") >= col(s"e${k + 1}") - lit(1e-6))
            .reduce(_ && _).as("energy_desc"),
          (col("resid_min") >= lit(-1e-6)).as("resid_ok"),
          (abs(col("captured_total") + col("resid_total") - col("total"))
            <= lit(1e-4) * col("total")).as("energy_conserved"))
    },

    // SemDeDup with a fully-exact oracle: deterministic k-means clusters
    // (the q122 lattice iteration) restrict the pair search to
    // same-cluster candidates; a document is dropped when a LOWER-id
    // cluster-mate sits at cosine >= 0.47 (exact double math, the q23
    // convention). Work is sum of cluster-size^2 — SemDeDup's own
    // recall/cost contract — while removals stay precision-exact.
    // DuckDB replays clustering AND pair search bit-for-bit.
    q("q126_semdedup_exact",
      s"""$kmeansOracleCtes,
         |e2 AS (
         |  SELECT a2.vec_id id, a2.cl, CAST(embedding AS DOUBLE[]) ev
         |  FROM a2 JOIN embeddings ON a2.vec_id = embeddings.vec_id),
         |p AS (
         |  SELECT DISTINCT y.id FROM e2 x JOIN e2 y
         |    ON x.cl = y.cl AND x.id < y.id
         |  WHERE list_dot_product(x.ev, y.ev)
         |        / (sqrt(list_dot_product(x.ev, x.ev))
         |           * sqrt(list_dot_product(y.ev, y.ev))) >= 0.47)
         |SELECT id, CAST(cl AS BIGINT) AS cluster,
         |       id NOT IN (SELECT id FROM p) AS kept
         |FROM e2 ORDER BY id""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      val e = s.table("embeddings")
      val assigned = Clustering.kmeansAssign(e, "vec_id", "embedding", k = 8, iters = 2)
      val vecs = e.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("ev"))
        .withColumn("nrm", sqrt(Similarity.dot(col("ev"), col("ev"))))
      val a = assigned.join(vecs, "id")
      val removed = a.as("x").join(a.as("y"),
          col("x.cluster") === col("y.cluster") && col("x.id") < col("y.id"))
        .where(Similarity.dot(col("x.ev"), col("y.ev"))
          / (col("x.nrm") * col("y.nrm")) >= 0.47)
        .select(col("y.id").as("id")).distinct()
      assigned
        .join(removed.withColumn("removed", lit(true)), Seq("id"), "left")
        .select(col("id"), col("cluster"),
          coalesce(!col("removed"), lit(true)).as("kept"))
        .orderBy("id")
    },

    // Embedding distribution drift between corpus slices, exact: the
    // cross-normalized Gram difference n_B*G_A - n_A*G_B per (i, j) on
    // the integer lattice (LONG-exact at any parallelism). Two
    // comparisons side by side: even- vs odd-id halves (same
    // distribution — drift is sampling noise) and even half vs the odd
    // half with a PLANTED +0.5 shift on dim 0 (structured drift
    // concentrated in row/col 0). DuckDB replays every entry.
    q("q127_embedding_drift",
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |qa AS (SELECT list_transform(v, x -> round(x * 1000)) q
        |       FROM base WHERE vec_id % 2 = 0),
        |qb AS (SELECT list_transform(v, x -> round(x * 1000)) q
        |       FROM base WHERE vec_id % 2 = 1),
        |qc AS (SELECT list_transform([v[1] + 0.5] || v[2:], x -> round(x * 1000)) q
        |       FROM base WHERE vec_id % 2 = 1),
        |idx AS (SELECT CAST(unnest(range(0, 64)) AS INT) i),
        |na AS (SELECT CAST(count(*) AS BIGINT) n FROM qa),
        |nb AS (SELECT CAST(count(*) AS BIGINT) n FROM qb),
        |ga AS (SELECT x.i i, y.i j, CAST(sum(qa.q[x.i + 1] * qa.q[y.i + 1]) AS BIGINT) g
        |       FROM qa, idx x, idx y WHERE x.i <= y.i GROUP BY 1, 2),
        |gb AS (SELECT x.i i, y.i j, CAST(sum(qb.q[x.i + 1] * qb.q[y.i + 1]) AS BIGINT) g
        |       FROM qb, idx x, idx y WHERE x.i <= y.i GROUP BY 1, 2),
        |gc AS (SELECT x.i i, y.i j, CAST(sum(qc.q[x.i + 1] * qc.q[y.i + 1]) AS BIGINT) g
        |       FROM qc, idx x, idx y WHERE x.i <= y.i GROUP BY 1, 2)
        |SELECT ga.i, ga.j,
        |       CAST(nb.n * ga.g - na.n * gb.g AS BIGINT) AS drift_halves,
        |       CAST(nb.n * ga.g - na.n * gc.g AS BIGINT) AS drift_planted
        |FROM ga JOIN gb ON ga.i = gb.i AND ga.j = gb.j
        |        JOIN gc ON ga.i = gc.i AND ga.j = gc.j
        |        CROSS JOIN na CROSS JOIN nb
        |ORDER BY ga.i, ga.j""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      val e = s.table("embeddings").select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val a = e.where(col("vec_id") % 2 === 0).select(col("v").as("embedding"))
      val b = e.where(col("vec_id") % 2 === 1).select(col("v").as("embedding"))
      val c = e.where(col("vec_id") % 2 === 1).select(
        expr("concat(array(v[0] + 0.5d), slice(v, 2, size(v) - 1))").as("embedding"))
      Spectral.gramDrift(a, b, "embedding")
        .withColumnRenamed("drift", "drift_halves")
        .join(Spectral.gramDrift(a, c, "embedding")
          .withColumnRenamed("drift", "drift_planted"), Seq("i", "j"))
        .orderBy("i", "j")
    },

    // Mixture rebalancing under a token budget (the DoReMi-style data-
    // mixture curation step): retarget the corpus to en 40% / others 15%
    // at 60% of the total token mass. Per-language keep thresholds are
    // floor(2^60 * desired_tokens / actual_tokens) over the q55 md5 hash
    // space — integer-exact end to end, so the oracle replays the
    // thresholds AND the per-row selection bit-for-bit (HUGEINT for the
    // 2^60 * desired product, which overflows BIGINT).
    q("q128_mixture_rebalance",
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) toks,
        |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) hv
        |  FROM documents),
        |tot AS (SELECT lang, sum(toks) t FROM t GROUP BY 1),
        |b AS (SELECT sum(t) * 3 // 5 AS bud FROM tot),
        |thr AS (
        |  SELECT lang,
        |         CAST(least(
        |           CAST(1152921504606846976 AS HUGEINT),
        |           CAST(1152921504606846976 AS HUGEINT)
        |             * ((SELECT bud FROM b)
        |                * (CASE lang WHEN 'en' THEN 40 ELSE 15 END) // 100)
        |             // t) AS BIGINT) cut
        |  FROM tot)
        |SELECT t.doc_id, t.lang FROM t JOIN thr USING (lang)
        |WHERE t.hv < thr.cut ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val shares = Map("en" -> (40, 100), "zh" -> (15, 100), "es" -> (15, 100),
        "de" -> (15, 100), "fr" -> (15, 100))
      Sampling.rebalanceMixture(s.table("documents"), "doc_id", "lang", "text",
          shares, budgetNum = 3, budgetDen = 5)
        .select("doc_id", "lang").orderBy("doc_id")
    },

    // CCNet-style perplexity quality signal: every document scored under
    // an add-one-smoothed bigram LM trained on the corpus itself. The
    // per-bigram log-probs are FIXED-POINT (round(ln(p)*1e4) BIGINT — the
    // q47/q118 convention), so the per-doc sums are exact and
    // order-independent, and DuckDB replays training AND scoring.
    q("q129_bigram_lm_score",
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') ws
        |  FROM documents),
        |cu AS (SELECT w, count(*) cw FROM (SELECT unnest(ws) w FROM d) GROUP BY 1),
        |vv AS (SELECT count(*) v FROM cu),
        |bg AS (
        |  SELECT doc_id, b['w1'] w1, b['w2'] w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |             i -> {'w1': ws[i], 'w2': ws[i + 1]})) b
        |    FROM d WHERE len(ws) >= 2)),
        |cb AS (SELECT w1, w2, count(*) cb FROM bg GROUP BY 1, 2),
        |scored AS (
        |  SELECT doc_id, count(*) nb,
        |         sum(CAST(round(ln((cb.cb + 1.0) / (cu.cw + vv.v)) * 10000)
        |             AS BIGINT)) lp
        |  FROM bg JOIN cb USING (w1, w2) JOIN cu ON cu.w = bg.w1 CROSS JOIN vv
        |  GROUP BY doc_id)
        |SELECT d.doc_id AS id, coalesce(nb, 0) AS n_bigrams,
        |       CAST(coalesce(lp, 0) AS BIGINT) AS logprob_fp
        |FROM d LEFT JOIN scored USING (doc_id) ORDER BY id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      graft.operators.Classifier.bigramLmScore(
          s.table("documents"), "doc_id", "text")
        .orderBy("id")
    },

    // Streaming per-language TOKEN-budget admission, driver-checked by
    // bounded replay (the q69 pattern): documents stream through
    // `tokenQuotaPerKey` in two doc_id-ordered micro-batches; the
    // monotone prefix semantics make the admitted set equal the batch
    // running-sum window exactly, which the oracle replays.
    q("q130_streaming_token_quota",
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) toks
        |  FROM documents),
        |c AS (SELECT doc_id, lang,
        |             sum(toks) OVER (PARTITION BY lang ORDER BY doc_id) cum
        |      FROM t)
        |SELECT doc_id, lang FROM c WHERE cum <= 2000 ORDER BY doc_id""".stripMargin) {
      (s, d) =>
      view(s, d, "documents")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      val rows = s.table("documents").select(col("doc_id"), col("lang"), col("text"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val input = MemoryStream[(Long, String, String)](s)
      val admitted = graft.streaming.StreamingOps.tokenQuotaPerKey(
        input.toDF().toDF("doc_id", "lang", "text"),
        "lang", "doc_id", "text", budgetTokens = 2000L)
      val sink = "graft_q130_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withConfs(s, StateParts) {
        val qy = admitted.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          val (b1, b2) = rows.splitAt(rows.length / 2)
          input.addData(b1.toSeq)
          qy.processAllAvailable()
          input.addData(b2.toSeq)
          qy.processAllAvailable()
        } finally qy.stop()
      }
      s.table(sink).select("doc_id", "lang").orderBy("doc_id")
    },

    // Hard-negative mining for contrastive training: per query, the 3
    // most-similar corpus vectors BELOW the near-dup band (cosine <
    // 0.47, q23's threshold) — positives/duplicates are excluded before
    // ranking. Exact double math + 9-dp rounding, the q24 oracle shape.
    q("q131_hard_negatives",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.vec_id query_id, c.vec_id neighbor_id,
        |         list_dot_product(q.v, c.v)
        |         / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) cosine
        |  FROM q JOIN e c ON q.vec_id != c.vec_id)
        |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id,
        |       round(cosine, 9) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY cosine DESC, neighbor_id) rk
        |  FROM scored WHERE cosine < 0.47)
        |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      val e = s.table("embeddings")
      Similarity.hardNegatives(e, e.where(col("vec_id") < 20),
          "vec_id", "embedding", k = 3, maxCosine = 0.47)
        .orderBy("query_id", "rk")
    },

    // Per-document novelty in corpus order: distinct 5-gram shingles
    // first seen in this document vs the document's shingle count — the
    // "how much of this snapshot is actually new text" diagnostic.
    // First-occurrence is a min-id property, so the oracle replays it
    // with a plain grouped min over the same shingle definition.
    q("q132_novelty_scores",
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') ws FROM documents),
        |d AS (
        |  SELECT doc_id,
        |         CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
        |              ELSE list_distinct(list_transform(range(len(ws) - 4),
        |                     i -> array_to_string(ws[i+1:i+5], ' '))) END sh
        |  FROM w),
        |p AS (SELECT doc_id, unnest(sh) g FROM d),
        |f AS (SELECT g, min(doc_id) first_id FROM p GROUP BY g),
        |nv AS (SELECT p.doc_id, count(*) n_novel
        |       FROM p JOIN f ON p.g = f.g AND p.doc_id = f.first_id
        |       GROUP BY p.doc_id)
        |SELECT d.doc_id AS id, CAST(len(d.sh) AS BIGINT) AS n_shingles,
        |       CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel
        |FROM d LEFT JOIN nv USING (doc_id) ORDER BY id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      Dedup.noveltyScores(s.table("documents"), "doc_id", "text")
        .orderBy("id")
    },

    // approx_ks_distance (beyond reference surface): two-sample
    // Kolmogorov-Smirnov drift between the even/odd-linenumber slices of
    // a value-bounded subset. Each side is <= ~101 rows at every SF,
    // inside KLL k=200's exact (pre-compaction) regime even after the
    // per-suppkey accumulate -> combine rollup, so the sketch-side KS
    // walk equals the exact SQL ECDF KS bit-for-bit (both sides compute
    // count/ n as IEEE double division; round 9dp absorbs nothing here
    // but keeps the suite's convention).
    q("q133_ks_drift",
      """WITH a AS (SELECT CAST(CAST(l_quantity AS REAL) AS DOUBLE) v
        |           FROM lineitem WHERE l_orderkey < 40 AND l_linenumber % 2 = 0),
        |b AS (SELECT CAST(CAST(l_quantity AS REAL) AS DOUBLE) v
        |      FROM lineitem WHERE l_orderkey < 40 AND l_linenumber % 2 = 1),
        |na AS (SELECT CAST(count(*) AS DOUBLE) n FROM a),
        |nb AS (SELECT CAST(count(*) AS DOUBLE) n FROM b),
        |pts AS (SELECT DISTINCT v FROM (SELECT v FROM a UNION ALL SELECT v FROM b)),
        |ecdf AS (
        |  SELECT pts.v,
        |         CAST((SELECT count(*) FROM a WHERE a.v <= pts.v) AS DOUBLE) / na.n fa,
        |         CAST((SELECT count(*) FROM b WHERE b.v <= pts.v) AS DOUBLE) / nb.n fb
        |  FROM pts, na, nb)
        |SELECT round(max(abs(fa - fb)), 9) AS ks FROM ecdf""".stripMargin) { (s, d) =>
      withConfs(s, KllImpl) {
        view(s, d, "lineitem")
        s.sql("""
          |WITH a AS (SELECT approx_percentile_combine(s) sk FROM (
          |             SELECT approx_percentile_accumulate(l_quantity) s
          |             FROM lineitem WHERE l_orderkey < 40 AND l_linenumber % 2 = 0
          |             GROUP BY l_suppkey)),
          |b AS (SELECT approx_percentile_combine(s) sk FROM (
          |        SELECT approx_percentile_accumulate(l_quantity) s
          |        FROM lineitem WHERE l_orderkey < 40 AND l_linenumber % 2 = 1
          |        GROUP BY l_suppkey))
          |SELECT round(approx_ks_distance(a.sk, b.sk), 9) AS ks FROM a, b""".stripMargin)
      }
    },

    // Streaming drift monitor, driver-checked by bounded replay: the
    // bounded (user_id < 12, <= ~40 rows/day at every SF) event stream
    // flows through `windowedDistributionSketch` (per-day KLL sketches,
    // append mode); ONE far-future sentinel then pushes the watermark so
    // every real day finalizes in the no-data follow-up batch (the
    // sentinel's own window never does; a day-bound filter guards it
    // out regardless).
    // Each emitted day's sketch is compared against the FIRST day's with
    // approx_ks_distance — all windows are inside KLL k=200's exact
    // regime, so the streamed sketch KS equals DuckDB's exact per-day
    // ECDF KS (day 0 vs itself = 0.0 anchors the join).
    q("q134_streaming_drift",
      """WITH ev AS (SELECT epoch_us(ts)//86400000000 AS day,
        |                   CAST(CAST(value AS REAL) AS DOUBLE) v
        |            FROM events WHERE user_id < 12),
        |d0 AS (SELECT v FROM ev WHERE day = (SELECT min(day) FROM ev)),
        |n0 AS (SELECT CAST(count(*) AS DOUBLE) n FROM d0),
        |days AS (SELECT DISTINCT day FROM ev)
        |SELECT days.day AS day,
        |       (SELECT round(max(abs(
        |           CAST((SELECT count(*) FROM ev e2 WHERE e2.day = days.day AND e2.v <= p.v) AS DOUBLE)
        |             / (SELECT CAST(count(*) AS DOUBLE) FROM ev e3 WHERE e3.day = days.day)
        |           - CAST((SELECT count(*) FROM d0 WHERE d0.v <= p.v) AS DOUBLE) / n0.n)), 9)
        |        FROM (SELECT DISTINCT v FROM (SELECT v FROM ev e4 WHERE e4.day = days.day
        |                                      UNION ALL SELECT v FROM d0)) p, n0
        |       ) AS ks
        |FROM days ORDER BY day""".stripMargin) { (s, d) =>
      view(s, d, "events")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      withConfs(s, KllImpl, StateParts) {
        val rows = s.table("events").where(col("user_id") < 12)
          .select(expr("timestamp_micros(ts DIV 1000)").as("t"), col("value"))
          .orderBy("t").collect()
          .map(r => (r.getTimestamp(0), r.getDouble(1)))
        val maxT = rows.map(_._1.getTime).max
        val input = MemoryStream[(java.sql.Timestamp, Double)](s)
        val sketches = graft.streaming.StreamingOps.windowedDistributionSketch(
          input.toDF().toDF("t", "value"), "t", "value", "1 day", "0 seconds")
        val sink = "graft_q134_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val qy = sketches.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          input.addData(rows.toSeq)
          qy.processAllAvailable()
          input.addData(Seq((new java.sql.Timestamp(maxT + 100L * 86400000L), 0.0)))
          qy.processAllAvailable()
        } finally qy.stop()
        val maxRealDay = maxT / 86400000L
        val wins = s.table(sink)
          .select(expr("unix_micros(window_start) DIV 86400000000").as("day"), col("sk"))
          .where(col("day") <= lit(maxRealDay))
        val ref = wins.orderBy("day").limit(1).select(col("sk").as("ref_sk"))
        wins.crossJoin(broadcast(ref))
          .select(col("day"),
            round(expr("approx_ks_distance(sk, ref_sk)"), 9).as("ks"))
          .orderBy("day")
      }
    },

    // Classifier calibration: fixed-width reliability bins over the
    // frozen hashed-BoW score (the q89 scorer) against the lang='en'
    // label. Scores are integer-valued doubles (integer weights), so
    // binning, counts and the 9dp positive rate are all cross-engine
    // exact; fixed-width (not ntile) bins keep the plan a pure
    // map+groupBy at any scale.
    q("q135_calibration_bins",
      s"""WITH t AS (
        |  SELECT doc_id, lang = 'en' AS pos,
        |         CAST(list_sum(list_transform(
        |             regexp_split_to_array(trim(lower(text)), '\\s+'),
        |             w -> ${bowWeightSql(64)})) AS DOUBLE) AS score
        |  FROM documents)
        |SELECT CAST(floor(score / 250.0) AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |       round(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 9) AS pos_rate
        |FROM t GROUP BY 1 ORDER BY bin""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val scored = s.table("documents")
        .select(col("doc_id"), (col("lang") === "en").as("is_en"),
          graft.functions.graft_hashed_bow_score(col("text"), bowWeights(64))
            .as("bow_score"))
      graft.operators.Classifier
        .calibrationBins(scored, "is_en", "bow_score", 250.0)
        .orderBy("bin")
    },

    // Leakage-free splits: train/val/test assignment hashed on the
    // near-dup CLUSTER label (q35's connected components over n-gram
    // Jaccard edges), so near-copies can never straddle a split. The
    // oracle replays the recursive-CTE components and then q58's
    // md5-hash-space CASE on the component label.
    q("q136_leakage_free_splits",
      s"""WITH RECURSIVE w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') ws FROM documents),
        |d AS (
        |  SELECT doc_id,
        |         CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
        |              ELSE list_distinct(list_transform(range(len(ws) - 4),
        |                     i -> array_to_string(ws[i+1:i+5], ' '))) END sh
        |  FROM w),
        |pairs AS (
        |  SELECT a.doc_id id_a, b.doc_id id_b
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) * 5
        |        >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 4),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |  UNION SELECT doc_id, doc_id FROM documents),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |cc AS (SELECT dst AS id, min(src) AS comp FROM reach GROUP BY dst),
        |v AS (SELECT id, comp,
        |             CAST(('0x' || substr(md5(CAST(comp AS VARCHAR)),1,15)) AS BIGINT) AS hv
        |      FROM cc)
        |SELECT id, comp, $splitOracleCase AS split
        |FROM v ORDER BY id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      val edges = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
        .select("id_a", "id_b")
      Dedup.leakageFreeSplits(
          docs.select(col("doc_id")), edges, "doc_id", splitWeights)
        .orderBy("id")
    },

    // approx_histogram_estimate (fixed-bin PMF) + total-variation drift:
    // per-bin masses of two bounded slices (user_id < 3, <= ~115 rows
    // per side at every SF — KLL-exact) over SHARED split points, plus
    // the integerized per-bin |p_a - p_b| (summable to TVD as exact
    // longs, immune to float summation order). The oracle replays
    // datasketches' PMF arithmetic exactly: CDF value = count(v <
    // split)/n as double division, bucket = adjacent CDF difference
    // (NOT count-ratio directly — 1-ulp different), final bucket from
    // the constant 1.0.
    q("q137_tvd_drift",
      """WITH av AS (SELECT CAST(CAST(value AS REAL) AS DOUBLE) v FROM events
        |            WHERE user_id < 3 AND event_id % 2 = 0),
        |bv AS (SELECT CAST(CAST(value AS REAL) AS DOUBLE) v FROM events
        |       WHERE user_id < 3 AND event_id % 2 = 1),
        |na AS (SELECT CAST(count(*) AS DOUBLE) n FROM av),
        |nb AS (SELECT CAST(count(*) AS DOUBLE) n FROM bv),
        |bins(bin, lo, hi) AS (VALUES
        |  (0, CAST(NULL AS DOUBLE), 50.0), (1, 50.0, 100.0), (2, 100.0, 150.0),
        |  (3, 150.0, 200.0), (4, 200.0, 250.0), (5, 250.0, 300.0),
        |  (6, 300.0, CAST(NULL AS DOUBLE))),
        |pa AS (SELECT bin,
        |         (CASE WHEN hi IS NULL THEN 1.0
        |               ELSE CAST((SELECT count(*) FROM av WHERE v < hi) AS DOUBLE)/na.n END)
        |       - (CASE WHEN lo IS NULL THEN 0.0
        |               ELSE CAST((SELECT count(*) FROM av WHERE v < lo) AS DOUBLE)/na.n END) AS p
        |       FROM bins, na),
        |pb AS (SELECT bin,
        |         (CASE WHEN hi IS NULL THEN 1.0
        |               ELSE CAST((SELECT count(*) FROM bv WHERE v < hi) AS DOUBLE)/nb.n END)
        |       - (CASE WHEN lo IS NULL THEN 0.0
        |               ELSE CAST((SELECT count(*) FROM bv WHERE v < lo) AS DOUBLE)/nb.n END) AS p
        |       FROM bins, nb)
        |SELECT CAST(pa.bin AS BIGINT) AS bin, round(pa.p, 9) AS p_a, round(pb.p, 9) AS p_b,
        |       CAST(round(abs(pa.p - pb.p) * 1e9) AS BIGINT) AS absdiff_fp
        |FROM pa JOIN pb ON pa.bin = pb.bin ORDER BY bin""".stripMargin) { (s, d) =>
      withConfs(s, KllImpl) {
        view(s, d, "events")
        s.sql("""
          |WITH a AS (SELECT approx_percentile_accumulate(value) s FROM events
          |           WHERE user_id < 3 AND event_id % 2 = 0),
          |b AS (SELECT approx_percentile_accumulate(value) s FROM events
          |      WHERE user_id < 3 AND event_id % 2 = 1),
          |h AS (SELECT
          |  approx_histogram_estimate(a.s, array(50D, 100D, 150D, 200D, 250D, 300D)) pa,
          |  approx_histogram_estimate(b.s, array(50D, 100D, 150D, 200D, 250D, 300D)) pb
          |  FROM a, b)
          |SELECT CAST(e.pos AS BIGINT) AS bin, round(e.p, 9) AS p_a,
          |       round(pb[e.pos], 9) AS p_b,
          |       CAST(round(abs(e.p - pb[e.pos]) * 1e9) AS BIGINT) AS absdiff_fp
          |FROM h LATERAL VIEW posexplode(pa) e AS pos, p
          |ORDER BY bin""".stripMargin)
      }
    },

    // approx_emd_distance: 1-Wasserstein drift between the same bounded
    // even/odd slices as q133 — the magnitude-sensitive companion to KS
    // (value-unit shift, not max ECDF gap). Both sides integrate the
    // step-function |ECDF_a - ECDF_b| over the merged support; round 6dp
    // absorbs the summation-order ulps of the ~30-term float sum (terms
    // are identical doubles cross-engine; only the addition order
    // differs).
    q("q138_emd_drift",
      """WITH a AS (SELECT CAST(CAST(l_quantity AS REAL) AS DOUBLE) v
        |           FROM lineitem WHERE l_orderkey < 40 AND l_linenumber % 2 = 0),
        |b AS (SELECT CAST(CAST(l_quantity AS REAL) AS DOUBLE) v
        |      FROM lineitem WHERE l_orderkey < 40 AND l_linenumber % 2 = 1),
        |na AS (SELECT CAST(count(*) AS DOUBLE) n FROM a),
        |nb AS (SELECT CAST(count(*) AS DOUBLE) n FROM b),
        |pts AS (SELECT DISTINCT v FROM (SELECT v FROM a UNION ALL SELECT v FROM b)),
        |f AS (SELECT v,
        |        CAST((SELECT count(*) FROM a WHERE a.v <= pts.v) AS DOUBLE) / na.n
        |        - CAST((SELECT count(*) FROM b WHERE b.v <= pts.v) AS DOUBLE) / nb.n AS gap,
        |        lead(v) OVER (ORDER BY v) AS nv
        |      FROM pts, na, nb)
        |SELECT round(sum(abs(gap) * (nv - v)), 6) AS emd FROM f WHERE nv IS NOT NULL""".stripMargin) {
      (s, d) =>
      withConfs(s, KllImpl) {
        view(s, d, "lineitem")
        s.sql("""
          |WITH a AS (SELECT approx_percentile_accumulate(l_quantity) s
          |           FROM lineitem WHERE l_orderkey < 40 AND l_linenumber % 2 = 0),
          |b AS (SELECT approx_percentile_accumulate(l_quantity) s
          |      FROM lineitem WHERE l_orderkey < 40 AND l_linenumber % 2 = 1)
          |SELECT round(approx_emd_distance(a.s, b.s), 6) AS emd FROM a, b""".stripMargin)
      }
    },

    // Population stability index from the fixed-bin histogram — PURE
    // COMPOSITION, no new engine code: psi = sum (p-q)*ln(p/q) over
    // shared bins, each term integerized (round(term*1e8) as long) so
    // the cross-engine sum is exact integer arithmetic; the 1e-8
    // granularity absorbs the <=1-ulp difference between Java's and
    // DuckDB's ln. Splits (50,100,150) keep every bin non-empty on both
    // slices at every SF (PSI is undefined on empty bins).
    q("q139_psi_drift",
      """WITH av AS (SELECT CAST(CAST(value AS REAL) AS DOUBLE) v FROM events
        |            WHERE user_id < 3 AND event_id % 2 = 0),
        |bv AS (SELECT CAST(CAST(value AS REAL) AS DOUBLE) v FROM events
        |       WHERE user_id < 3 AND event_id % 2 = 1),
        |na AS (SELECT CAST(count(*) AS DOUBLE) n FROM av),
        |nb AS (SELECT CAST(count(*) AS DOUBLE) n FROM bv),
        |bins(bin, lo, hi) AS (VALUES
        |  (0, CAST(NULL AS DOUBLE), 50.0), (1, 50.0, 100.0), (2, 100.0, 150.0),
        |  (3, 150.0, CAST(NULL AS DOUBLE))),
        |pa AS (SELECT bin,
        |         (CASE WHEN hi IS NULL THEN 1.0
        |               ELSE CAST((SELECT count(*) FROM av WHERE v < hi) AS DOUBLE)/na.n END)
        |       - (CASE WHEN lo IS NULL THEN 0.0
        |               ELSE CAST((SELECT count(*) FROM av WHERE v < lo) AS DOUBLE)/na.n END) AS p
        |       FROM bins, na),
        |pb AS (SELECT bin,
        |         (CASE WHEN hi IS NULL THEN 1.0
        |               ELSE CAST((SELECT count(*) FROM bv WHERE v < hi) AS DOUBLE)/nb.n END)
        |       - (CASE WHEN lo IS NULL THEN 0.0
        |               ELSE CAST((SELECT count(*) FROM bv WHERE v < lo) AS DOUBLE)/nb.n END) AS p
        |       FROM bins, nb)
        |SELECT CAST(sum(CAST(round((pa.p - pb.p) * ln(pa.p / pb.p) * 1e8) AS BIGINT))
        |            AS BIGINT) AS psi_fp
        |FROM pa JOIN pb ON pa.bin = pb.bin""".stripMargin) { (s, d) =>
      withConfs(s, KllImpl) {
        view(s, d, "events")
        s.sql("""
          |WITH a AS (SELECT approx_percentile_accumulate(value) s FROM events
          |           WHERE user_id < 3 AND event_id % 2 = 0),
          |b AS (SELECT approx_percentile_accumulate(value) s FROM events
          |      WHERE user_id < 3 AND event_id % 2 = 1),
          |h AS (SELECT
          |  approx_histogram_estimate(a.s, array(50D, 100D, 150D)) pa,
          |  approx_histogram_estimate(b.s, array(50D, 100D, 150D)) pb
          |  FROM a, b)
          |SELECT CAST(sum(CAST(round((e.p - pb[e.pos]) * ln(e.p / pb[e.pos]) * 1e8)
          |                     AS BIGINT)) AS BIGINT) AS psi_fp
          |FROM h LATERAL VIEW posexplode(pa) e AS pos, p""".stripMargin)
      }
    },

    // Shard-manifest sink: hash-sharded parquet export + per-shard
    // (rows, tokens, order-independent xor-of-md5-fingerprints)
    // integrity manifest, aggregated from the WRITTEN files. The oracle
    // recomputes the manifest from the source table with the same
    // seeded-md5 shard assignment — equality proves the write round-trip
    // lost/duplicated nothing (count + checksum per shard).
    q("q140_shard_manifest",
      """WITH v AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |           % 8 AS shard,
        |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS fp,
        |         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS nt
        |  FROM documents)
        |SELECT CAST(shard AS INT) AS shard, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(nt) AS BIGINT) AS n_tokens,
        |       CAST(bit_xor(fp) AS BIGINT) AS xor_fp
        |FROM v GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val out = scratchDir("graft_q140_")
      operators.Sinks.writeShardsWithManifest(
          s.table("documents"), "doc_id", "text", out, numShards = 8)
        .orderBy("shard")
    },

    // Reciprocal-rank-fusion ensemble curation: three incommensurable
    // quality signals (token count, hashed-BoW classifier score,
    // distinct-token count) fused by integerized RRF. Ranks come from
    // the two-level distributed ranking (sketch range buckets +
    // within-bucket windows — no single-partition window), which is
    // EXACT, so the oracle's plain row_number() ranks match; RRF terms
    // are fixed-point longs, summed exactly.
    q("q141_rank_fusion",
      s"""WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') toks
        |  FROM documents),
        |sig AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS DOUBLE) s_tokens,
        |         CAST(list_sum(list_transform(toks, w -> ${bowWeightSql(64)})) AS DOUBLE) s_quality,
        |         CAST(len(list_distinct(toks)) AS DOUBLE) s_distinct
        |  FROM t),
        |r AS (
        |  SELECT doc_id,
        |         row_number() OVER (ORDER BY s_tokens DESC, doc_id) r1,
        |         row_number() OVER (ORDER BY s_quality DESC, doc_id) r2,
        |         row_number() OVER (ORDER BY s_distinct DESC, doc_id) r3
        |  FROM sig)
        |SELECT doc_id, CAST(r1 AS BIGINT) AS rank_s_tokens,
        |       CAST(r2 AS BIGINT) AS rank_s_quality,
        |       CAST(r3 AS BIGINT) AS rank_s_distinct,
        |       CAST(CAST(round(1e9/(60+r1)) AS BIGINT)
        |            + CAST(round(1e9/(60+r2)) AS BIGINT)
        |            + CAST(round(1e9/(60+r3)) AS BIGINT) AS BIGINT) AS rrf_fp
        |FROM r ORDER BY rrf_fp DESC, doc_id LIMIT 50""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val ws = split(trim(lower(col("text"))), "\\s+")
      val sig = s.table("documents").select(col("doc_id"),
        size(ws).cast("double").as("s_tokens"),
        graft.functions.graft_hashed_bow_score(col("text"), bowWeights(64))
          .as("s_quality"),
        size(array_distinct(ws)).cast("double").as("s_distinct"))
      graft.operators.Classifier.rrfEnsemble(
        sig, "doc_id", Seq("s_tokens", "s_quality", "s_distinct"), k = 50)
    },

    // Per-group drift monitor: one aggregation pass builds a sketch per
    // (event_type, day); each compares (KS) against its type's min-day
    // baseline via a tiny broadcastable join of per-type baselines. The
    // per-group granularity is where sketch drift pays off at scale — N
    // groups cost one groupBy, not N scans. Groups are <= ~86 rows at
    // sf0.01 (KLL-exact; the correctness gate's SF); larger SFs run the
    // same plan in the approximate regime.
    q("q142_group_drift",
      """WITH ev AS (SELECT event_type g, epoch_us(ts)//86400000000 AS day,
        |                   CAST(CAST(value AS REAL) AS DOUBLE) v FROM events),
        |base AS (SELECT g, min(day) d0 FROM ev GROUP BY g),
        |b AS (SELECT ev.g, v FROM ev JOIN base ON ev.g = base.g AND ev.day = base.d0),
        |grp AS (SELECT DISTINCT g, day FROM ev)
        |SELECT grp.g AS event_type, CAST(grp.day AS BIGINT) AS day,
        |  (SELECT round(max(abs(
        |      CAST((SELECT count(*) FROM ev e2
        |            WHERE e2.g = grp.g AND e2.day = grp.day AND e2.v <= p.v) AS DOUBLE)
        |        / (SELECT CAST(count(*) AS DOUBLE) FROM ev e3
        |           WHERE e3.g = grp.g AND e3.day = grp.day)
        |      - CAST((SELECT count(*) FROM b WHERE b.g = grp.g AND b.v <= p.v) AS DOUBLE)
        |        / (SELECT CAST(count(*) AS DOUBLE) FROM b b2 WHERE b2.g = grp.g))), 9)
        |   FROM (SELECT DISTINCT v FROM (
        |           SELECT v FROM ev e4 WHERE e4.g = grp.g AND e4.day = grp.day
        |           UNION ALL SELECT v FROM b WHERE b.g = grp.g)) p) AS ks
        |FROM grp ORDER BY event_type, day""".stripMargin) { (s, d) =>
      withConfs(s, KllImpl) {
        view(s, d, "events")
        s.sql("""
          |WITH sk AS (
          |  SELECT event_type, ts DIV 86400000000000 AS day,
          |         approx_percentile_accumulate(value) s
          |  FROM events GROUP BY 1, 2),
          |base AS (SELECT event_type, min_by(s, day) AS s0 FROM sk GROUP BY event_type)
          |SELECT sk.event_type, CAST(sk.day AS BIGINT) AS day,
          |       round(approx_ks_distance(sk.s, base.s0), 9) AS ks
          |FROM sk JOIN base ON sk.event_type = base.event_type
          |ORDER BY event_type, day""".stripMargin)
      }
    },

    // Deterministic T5-style span corruption: token i masks iff
    // (i + doc_id) % 7 == 0, sentinels numbered per doc, target pairs
    // each sentinel with the hidden token. Pure function of (id,
    // position) — the oracle rebuilds the same pairs with DuckDB list
    // lambdas; a restarted job regenerates byte-identical pairs (the
    // reproducibility RNG masking can't give).
    q("q143_span_corruption",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') ws FROM documents),
        |x AS (SELECT doc_id, ws, doc_id % 7 AS m, (7 - doc_id % 7) % 7 AS j0 FROM t)
        |SELECT doc_id AS id,
        |       array_to_string(list_transform(range(len(ws)), i ->
        |         CASE WHEN (i + m) % 7 = 0
        |              THEN '<extra_id_' || CAST((i - j0) // 7 AS VARCHAR) || '>'
        |              ELSE ws[i+1] END), ' ') AS corrupted,
        |       array_to_string(list_filter(list_transform(range(len(ws)), i ->
        |         CASE WHEN (i + m) % 7 = 0
        |              THEN '<extra_id_' || CAST((i - j0) // 7 AS VARCHAR) || '> ' || ws[i+1]
        |              ELSE NULL END), v -> v IS NOT NULL), ' ') AS target,
        |       CAST(len(list_filter(range(len(ws)), i -> (i + m) % 7 = 0)) AS BIGINT)
        |         AS n_masked
        |FROM x ORDER BY id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      graft.operators.TextOps.spanCorruptionPairs(
          s.table("documents"), "doc_id", "text", every = 7)
        .orderBy("id")
    },

    // Streaming per-window heavy-hitters, driver-checked by bounded
    // replay (the q134 harness shape): per-day frequent-items sketches
    // of event_type for the bounded user slice, flushed by one
    // far-future sentinel, then exploded to (day, item, estimated).
    // <= 5 distinct types and <= ~40 rows/day keep every sketch in the
    // exact regime, so estimates equal the oracle's exact counts.
    q("q144_streaming_topk",
      """SELECT epoch_us(ts)//86400000000 AS day, event_type AS item,
        |       count(*) AS estimated
        |FROM events WHERE user_id < 12
        |GROUP BY 1, 2 ORDER BY day, item""".stripMargin) { (s, d) =>
      view(s, d, "events")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      withConfs(s, StateParts) {
        val rows = s.table("events").where(col("user_id") < 12)
          .select(expr("timestamp_micros(ts DIV 1000)").as("t"), col("event_type"))
          .orderBy("t").collect()
          .map(r => (r.getTimestamp(0), r.getString(1)))
        val maxT = rows.map(_._1.getTime).max
        val input = MemoryStream[(java.sql.Timestamp, String)](s)
        val sketches = graft.streaming.StreamingOps.windowedTopItemsSketch(
          input.toDF().toDF("t", "event_type"), "t", "event_type", "1 day", "0 seconds")
        val sink = "graft_q144_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val qy = sketches.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          input.addData(rows.toSeq)
          qy.processAllAvailable()
          input.addData(Seq((new java.sql.Timestamp(maxT + 100L * 86400000L), "view")))
          qy.processAllAvailable()
        } finally qy.stop()
        val maxRealDay = maxT / 86400000L
        s.table(sink)
          .select(expr("unix_micros(window_start) DIV 86400000000").as("day"), col("sk"))
          .where(col("day") <= lit(maxRealDay))
          .select(col("day"), expr("inline(approx_freqitems_estimate(sk))"))
          .toDF("day", "item", "estimated")
          .orderBy("day", "item")
      }
    },

    // Per-source percentile normalization: rank-based percentile of the
    // classifier score WITHIN each language — the scale-free transform
    // that makes scores comparable across sources with different score
    // distributions. One window per group partition; no global stage.
    q("q145_group_percentile",
      s"""WITH t AS (
        |  SELECT doc_id, lang,
        |         CAST(list_sum(list_transform(
        |             regexp_split_to_array(trim(lower(text)), '\\s+'),
        |             w -> ${bowWeightSql(64)})) AS DOUBLE) score
        |  FROM documents)
        |SELECT doc_id, lang, score,
        |       CAST(row_number() OVER (PARTITION BY lang ORDER BY score, doc_id)
        |            AS BIGINT) AS rank_in_group,
        |       CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_in_group,
        |       round(CAST(row_number() OVER (PARTITION BY lang ORDER BY score, doc_id)
        |                  AS DOUBLE) / count(*) OVER (PARTITION BY lang), 9) AS pct
        |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val scored = s.table("documents").select(col("doc_id"), col("lang"),
        graft.functions.graft_hashed_bow_score(col("text"), bowWeights(64))
          .as("score"))
      Sampling.groupPercentile(scored, "doc_id", "lang", "score")
        .orderBy("doc_id")
    },

    // Deterministic curriculum interleave: fixed-width token-count
    // difficulty buckets, position within bucket; consuming in
    // (pos, bucket) order round-robins the difficulty spectrum. Pure
    // function of (difficulty, id) — byte-identical across runs.
    q("q146_curriculum",
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS DOUBLE) dif
        |  FROM documents)
        |SELECT doc_id, CAST(floor(dif / 10.0) AS BIGINT) AS bucket,
        |       CAST(row_number() OVER (PARTITION BY floor(dif / 10.0)
        |                               ORDER BY dif, doc_id) AS BIGINT) AS pos
        |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val dif = s.table("documents").select(col("doc_id"),
        graft.operators.TextOps.tokenCount(col("text")).cast("double").as("dif"))
      Sampling.curriculumInterleave(dif, "doc_id", "dif", binWidth = 10.0)
        .orderBy("doc_id")
    },

    // Token-distribution entropy (integerized): the concentration signal
    // length/stopword ratios miss — chant/boilerplate docs score low.
    // Per-type terms are fixed-point longs (exact order-free sum);
    // Spark groups token HASHES (8-byte shuffle keys), the oracle the
    // strings — collision-equivalent (the q59 model).
    q("q147_token_entropy",
      """WITH t AS (SELECT doc_id id,
        |                  unnest(regexp_split_to_array(trim(lower(text)), '\s+')) w
        |           FROM documents),
        |c AS (SELECT id, w, count(*) c FROM t GROUP BY 1, 2),
        |x AS (SELECT id, c, sum(c) OVER (PARTITION BY id) n FROM c)
        |SELECT id, CAST(max(n) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS n_types,
        |       CAST(sum(CAST(round(-(CAST(c AS DOUBLE)/n) * ln(CAST(c AS DOUBLE)/n) * 1e8)
        |                     AS BIGINT)) AS BIGINT) AS entropy_fp
        |FROM x GROUP BY id ORDER BY id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      graft.operators.TextOps.tokenEntropy(s.table("documents"), "doc_id", "text")
        .orderBy("id")
    },

    // Robust per-group scaling: (score - median)/IQR per language, the
    // quartiles from one sketch pass broadcast back to the corpus. KLL
    // k is raised to 400 for this query (largest group is 218 docs at
    // sf0.01) so every group sits in the exact regime and the sketch
    // quartiles equal the oracle's EXCLUSIVE-rank picks.
    q("q148_robust_scaling",
      s"""WITH t AS (
        |  SELECT doc_id, lang,
        |         CAST(list_sum(list_transform(
        |             regexp_split_to_array(trim(lower(text)), '\\s+'),
        |             w -> ${bowWeightSql(64)})) AS DOUBLE) score
        |  FROM documents),
        |r AS (SELECT doc_id, lang, score,
        |        row_number() OVER (PARTITION BY lang ORDER BY score, doc_id) rn,
        |        count(*) OVER (PARTITION BY lang) n
        |      FROM t),
        |p AS (SELECT lang,
        |        max(CASE WHEN rn = least(CAST(floor(0.25*n)+1 AS BIGINT), n) THEN score END) p25,
        |        max(CASE WHEN rn = least(CAST(floor(0.5*n)+1 AS BIGINT), n) THEN score END) p50,
        |        max(CASE WHEN rn = least(CAST(floor(0.75*n)+1 AS BIGINT), n) THEN score END) p75
        |      FROM r GROUP BY lang)
        |SELECT t.doc_id, t.lang, t.score,
        |       CASE WHEN p.p75 <> p.p25
        |            THEN round((t.score - p.p50) / (p.p75 - p.p25), 9) END AS robust
        |FROM t JOIN p USING (lang) ORDER BY doc_id""".stripMargin) { (s, d) =>
      withConfs(s, KllImpl, GraftConf.QUANTILE_KLL_K_KEY -> "400") {
        view(s, d, "documents")
        val scored = s.table("documents").select(col("doc_id"), col("lang"),
          graft.functions.graft_hashed_bow_score(col("text"), bowWeights(64))
            .as("score"))
        Sampling.groupRobustScale(scored, "doc_id", "lang", "score")
          .orderBy("doc_id")
      }
    },

    // Pairwise drift matrix: token-count distributions of all N language
    // slices compared KS-pairwise from ONE corpus scan — N sketches,
    // N(N-1)/2 comparisons, zero re-reads (the capability that makes
    // sketch drift O(slices^2) cheap where raw ECDF comparison is
    // O(slices^2) SCANS). KLL k=400 keeps the largest slice (218 docs at
    // sf0.01) exact.
    q("q149_drift_matrix",
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         CAST(CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS REAL)
        |              AS DOUBLE) v
        |  FROM documents),
        |n AS (SELECT lang, CAST(count(*) AS DOUBLE) n FROM t GROUP BY lang),
        |pr AS (SELECT a.lang la, b.lang lb FROM n a JOIN n b ON a.lang < b.lang)
        |SELECT pr.la AS lang_a, pr.lb AS lang_b,
        |  (SELECT round(max(abs(
        |      CAST((SELECT count(*) FROM t WHERE t.lang = pr.la AND t.v <= p.v) AS DOUBLE)
        |        / (SELECT n FROM n WHERE n.lang = pr.la)
        |      - CAST((SELECT count(*) FROM t WHERE t.lang = pr.lb AND t.v <= p.v) AS DOUBLE)
        |        / (SELECT n FROM n WHERE n.lang = pr.lb))), 9)
        |   FROM (SELECT DISTINCT v FROM t WHERE t.lang IN (pr.la, pr.lb)) p) AS ks
        |FROM pr ORDER BY lang_a, lang_b""".stripMargin) { (s, d) =>
      withConfs(s, KllImpl, GraftConf.QUANTILE_KLL_K_KEY -> "400") {
        view(s, d, "documents")
        s.sql("""
          |WITH sk AS (
          |  SELECT lang, approx_percentile_accumulate(
          |           size(split(trim(lower(text)), '\\s+'))) s
          |  FROM documents GROUP BY lang)
          |SELECT a.lang AS lang_a, b.lang AS lang_b,
          |       round(approx_ks_distance(a.s, b.s), 9) AS ks
          |FROM sk a JOIN sk b ON a.lang < b.lang
          |ORDER BY lang_a, lang_b""".stripMargin)
      }
    },

    // Drift report capstone: the full drift toolkit — KS (max ECDF
    // gap), EMD (value-unit shift), TVD and PSI (fixed-bin, integerized)
    // — off ONE pair of slice sketches, no re-reads between metrics.
    // Same bounded slices as q133/q138; bins (10,25,40) are non-empty
    // on both sides at every SF. The binned sums fold with
    // zip_with+aggregate into exact longs.
    q("q150_drift_report",
      """WITH a AS (SELECT CAST(CAST(l_quantity AS REAL) AS DOUBLE) v
        |           FROM lineitem WHERE l_orderkey < 40 AND l_linenumber % 2 = 0),
        |b AS (SELECT CAST(CAST(l_quantity AS REAL) AS DOUBLE) v
        |      FROM lineitem WHERE l_orderkey < 40 AND l_linenumber % 2 = 1),
        |na AS (SELECT CAST(count(*) AS DOUBLE) n FROM a),
        |nb AS (SELECT CAST(count(*) AS DOUBLE) n FROM b),
        |pts AS (SELECT DISTINCT v FROM (SELECT v FROM a UNION ALL SELECT v FROM b)),
        |f AS (SELECT v,
        |        CAST((SELECT count(*) FROM a WHERE a.v <= pts.v) AS DOUBLE) / na.n
        |        - CAST((SELECT count(*) FROM b WHERE b.v <= pts.v) AS DOUBLE) / nb.n AS gap,
        |        lead(v) OVER (ORDER BY v) AS nv
        |      FROM pts, na, nb),
        |bins(bin, lo, hi) AS (VALUES
        |  (0, CAST(NULL AS DOUBLE), 10.0), (1, 10.0, 25.0), (2, 25.0, 40.0),
        |  (3, 40.0, CAST(NULL AS DOUBLE))),
        |pa AS (SELECT bin,
        |         (CASE WHEN hi IS NULL THEN 1.0
        |               ELSE CAST((SELECT count(*) FROM a WHERE v < hi) AS DOUBLE)/na.n END)
        |       - (CASE WHEN lo IS NULL THEN 0.0
        |               ELSE CAST((SELECT count(*) FROM a WHERE v < lo) AS DOUBLE)/na.n END) AS p
        |       FROM bins, na),
        |pb AS (SELECT bin,
        |         (CASE WHEN hi IS NULL THEN 1.0
        |               ELSE CAST((SELECT count(*) FROM b WHERE v < hi) AS DOUBLE)/nb.n END)
        |       - (CASE WHEN lo IS NULL THEN 0.0
        |               ELSE CAST((SELECT count(*) FROM b WHERE v < lo) AS DOUBLE)/nb.n END) AS p
        |       FROM bins, nb)
        |SELECT
        |  (SELECT round(max(abs(gap)), 9) FROM f) AS ks,
        |  (SELECT round(sum(abs(gap) * (nv - v)), 6) FROM f WHERE nv IS NOT NULL) AS emd,
        |  (SELECT CAST(sum(CAST(round(abs(pa.p - pb.p) * 1e9) AS BIGINT)) AS BIGINT)
        |   FROM pa JOIN pb ON pa.bin = pb.bin) AS tvd_fp,
        |  (SELECT CAST(sum(CAST(round((pa.p - pb.p) * ln(pa.p / pb.p) * 1e8) AS BIGINT))
        |          AS BIGINT)
        |   FROM pa JOIN pb ON pa.bin = pb.bin) AS psi_fp""".stripMargin) { (s, d) =>
      withConfs(s, KllImpl) {
        view(s, d, "lineitem")
        s.sql("""
          |WITH a AS (SELECT approx_percentile_accumulate(l_quantity) s
          |           FROM lineitem WHERE l_orderkey < 40 AND l_linenumber % 2 = 0),
          |b AS (SELECT approx_percentile_accumulate(l_quantity) s
          |      FROM lineitem WHERE l_orderkey < 40 AND l_linenumber % 2 = 1),
          |h AS (SELECT a.s sa, b.s sb,
          |        approx_histogram_estimate(a.s, array(10D, 25D, 40D)) pa,
          |        approx_histogram_estimate(b.s, array(10D, 25D, 40D)) pb
          |      FROM a, b)
          |SELECT round(approx_ks_distance(sa, sb), 9) AS ks,
          |       round(approx_emd_distance(sa, sb), 6) AS emd,
          |       aggregate(zip_with(pa, pb,
          |           (x, y) -> CAST(round(abs(x - y) * 1e9) AS BIGINT)),
          |         CAST(0 AS BIGINT), (acc, t) -> acc + t) AS tvd_fp,
          |       aggregate(zip_with(pa, pb,
          |           (x, y) -> CAST(round((x - y) * ln(x / y) * 1e8) AS BIGINT)),
          |         CAST(0 AS BIGINT), (acc, t) -> acc + t) AS psi_fp
          |FROM h""".stripMargin)
      }
    },

    // Contrastive TRIPLET mining: per anchor, best positive (near-dup
    // band, cosine >= 0.47 — q23's threshold) and best hard negative
    // (cosine < 0.3) from ONE scored pass; anchors lacking either side
    // drop (a triplet loss needs both). Exact double cosine, the
    // q23/q131 arithmetic.
    q("q151_contrastive_triplets",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |s AS (SELECT a.vec_id anchor_id, b.vec_id neighbor_id,
        |        list_dot_product(a.v, b.v)
        |        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) c
        |      FROM e a JOIN e b ON a.vec_id < 200 AND a.vec_id != b.vec_id),
        |p AS (SELECT anchor_id, neighbor_id positive_id, round(c, 9) pos_cosine,
        |        row_number() OVER (PARTITION BY anchor_id ORDER BY c DESC, neighbor_id) rk
        |      FROM s WHERE c >= 0.47),
        |n AS (SELECT anchor_id, neighbor_id negative_id, round(c, 9) neg_cosine,
        |        row_number() OVER (PARTITION BY anchor_id ORDER BY c DESC, neighbor_id) rk
        |      FROM s WHERE c < 0.3)
        |SELECT p.anchor_id AS anchor_id, positive_id, pos_cosine,
        |       negative_id, neg_cosine
        |FROM p JOIN n ON p.anchor_id = n.anchor_id AND p.rk = 1 AND n.rk = 1
        |ORDER BY p.anchor_id""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      val e = s.table("embeddings")
      graft.operators.Similarity.contrastiveTriplets(
          e, e.where(col("vec_id") < 200), "vec_id", "embedding",
          minPositive = 0.47, maxNegative = 0.3)
        .orderBy("anchor_id")
    },

    // Language-ID confidence margin: q18's argmax pick plus best/second
    // stopword scores and their gap — margin 0 = tie/no evidence, the
    // threshold that drops mixed-language docs instead of trusting a
    // coin-flip label. Integer counts end to end.
    q("q152_langid_margin", {
      def hits(w: String) =
        s"len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x = '$w'))"
      val scores = operators.TextOps.langMarkers
        .map { case (l, ws) => l -> ws.map(hits).mkString(" + ") }
      val scoreCols = scores.map { case (l, e) => s"($e) AS s_$l" }.mkString(", ")
      val best = s"greatest(${scores.map("s_" + _._1).mkString(", ")})"
      val caseChain = scores
        .map { case (l, _) => s"WHEN s_$l = best AND best > 0 THEN '$l'" }
        .mkString(" ")
      val arr = s"list_reverse_sort([${scores.map("s_" + _._1).mkString(", ")}])"
      s"""WITH scored AS (SELECT doc_id, $scoreCols FROM documents),
         |b AS (SELECT *, $best AS best, $arr AS sorted FROM scored)
         |SELECT doc_id AS id, CASE $caseChain ELSE 'und' END AS lang_pred,
         |       CAST(sorted[1] AS BIGINT) AS best,
         |       CAST(sorted[2] AS BIGINT) AS second,
         |       CAST(sorted[1] - sorted[2] AS BIGINT) AS margin
         |FROM b ORDER BY id""".stripMargin
    }) { (s, d) =>
      view(s, d, "documents")
      graft.operators.TextOps.languageConfidence(s.table("documents"), "doc_id", "text")
        .orderBy("id")
    },

    // Incremental manifest diff: write the corpus manifest twice (full,
    // and with every 5th doc dropped — simulated deletions) and diff
    // per shard: row delta and whether the xor checksum moved. This is
    // the re-validation workflow q140's sink exists for — a changed
    // shard is detectable from two 8-row manifests, no corpus re-read.
    q("q153_manifest_diff",
      """WITH v AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |           % 8 AS shard,
        |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS fp
        |  FROM documents),
        |a AS (SELECT shard, count(*) n, bit_xor(fp) x FROM v GROUP BY shard),
        |b AS (SELECT shard, count(*) n, bit_xor(fp) x FROM v
        |      WHERE doc_id % 5 != 0 GROUP BY shard)
        |SELECT a.shard AS shard, CAST(a.n AS BIGINT) AS n_full,
        |       CAST(coalesce(b.n, 0) AS BIGINT) AS n_pruned,
        |       CAST(a.n - coalesce(b.n, 0) AS BIGINT) AS rows_removed,
        |       (b.x IS NULL OR a.x != b.x) AS checksum_changed
        |FROM a LEFT JOIN b ON a.shard = b.shard ORDER BY shard""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      val out1 = scratchDir("graft_q153a_")
      val out2 = scratchDir("graft_q153b_")
      val full = operators.Sinks.writeShardsWithManifest(
        docs, "doc_id", "text", out1, numShards = 8)
      val pruned = operators.Sinks.writeShardsWithManifest(
        docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text", out2, numShards = 8)
      full.select(col("shard"), col("n_rows").as("n_full"), col("xor_fp").as("xa"))
        .join(pruned.select(col("shard"), col("n_rows").as("n_pruned"),
          col("xor_fp").as("xb")), Seq("shard"), "left")
        .select(col("shard").cast("long").as("shard"), col("n_full"),
          coalesce(col("n_pruned"), lit(0L)).as("n_pruned"),
          (col("n_full") - coalesce(col("n_pruned"), lit(0L))).as("rows_removed"),
          (col("xb").isNull || col("xa") =!= col("xb")).as("checksum_changed"))
        .orderBy("shard")
    },

    // Dedup savings accounting: with q15's planted duplicates, how many
    // docs and how much token mass exact dedup keeps vs drops PER
    // LANGUAGE — the before/after report a data-mix owner reads on
    // every ingestion. Keep-first rule; exact integer token sums.
    q("q154_dedup_savings",
      """WITH inp AS (
        |  SELECT doc_id, lang, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, lang, text FROM documents
        |  WHERE doc_id % 5 = 0),
        |x AS (SELECT doc_id, lang,
        |        len(regexp_split_to_array(trim(lower(text)), '\s+')) toks,
        |        doc_id = min(doc_id) OVER (PARTITION BY md5(text)) keep
        |      FROM inp)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(sum(toks) AS BIGINT) AS tokens_total,
        |       CAST(sum(CASE WHEN keep THEN toks ELSE 0 END) AS BIGINT) AS tokens_kept,
        |       CAST(sum(toks) - sum(CASE WHEN keep THEN toks ELSE 0 END) AS BIGINT)
        |         AS tokens_dropped
        |FROM x GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val dup = s.sql("""SELECT doc_id, lang, text FROM documents UNION ALL
                        |SELECT doc_id + 1000000 AS doc_id, lang, text FROM documents
                        |WHERE doc_id % 5 = 0""".stripMargin)
      Dedup.dedupSavings(dup, "doc_id", "text", "lang").orderBy("lang")
    },

    // STREAMING per-source drift: the keyed windowed-sketch operator
    // builds one sketch per (event_type, day) from a bounded replay,
    // and after the sentinel flush the same per-type min-day KS join as
    // batch q142 runs on the emitted sketches — the streamed result
    // must equal the batch result bit-for-bit (shared oracle).
    q("q155_streaming_group_drift",
      """WITH ev AS (SELECT event_type g, epoch_us(ts)//86400000000 AS day,
        |                   CAST(CAST(value AS REAL) AS DOUBLE) v FROM events),
        |base AS (SELECT g, min(day) d0 FROM ev GROUP BY g),
        |b AS (SELECT ev.g, v FROM ev JOIN base ON ev.g = base.g AND ev.day = base.d0),
        |grp AS (SELECT DISTINCT g, day FROM ev)
        |SELECT grp.g AS event_type, CAST(grp.day AS BIGINT) AS day,
        |  (SELECT round(max(abs(
        |      CAST((SELECT count(*) FROM ev e2
        |            WHERE e2.g = grp.g AND e2.day = grp.day AND e2.v <= p.v) AS DOUBLE)
        |        / (SELECT CAST(count(*) AS DOUBLE) FROM ev e3
        |           WHERE e3.g = grp.g AND e3.day = grp.day)
        |      - CAST((SELECT count(*) FROM b WHERE b.g = grp.g AND b.v <= p.v) AS DOUBLE)
        |        / (SELECT CAST(count(*) AS DOUBLE) FROM b b2 WHERE b2.g = grp.g))), 9)
        |   FROM (SELECT DISTINCT v FROM (
        |           SELECT v FROM ev e4 WHERE e4.g = grp.g AND e4.day = grp.day
        |           UNION ALL SELECT v FROM b WHERE b.g = grp.g)) p) AS ks
        |FROM grp ORDER BY event_type, day""".stripMargin) { (s, d) =>
      view(s, d, "events")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      withConfs(s, KllImpl, StateParts) {
        val rows = s.table("events")
          .select(expr("timestamp_micros(ts DIV 1000)").as("t"),
            col("event_type"), col("value"))
          .orderBy("t", "event_type").collect()
          .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2)))
        val maxT = rows.map(_._1.getTime).max
        val input = MemoryStream[(java.sql.Timestamp, String, Double)](s)
        val sketches = graft.streaming.StreamingOps.windowedDistributionSketch(
          input.toDF().toDF("t", "event_type", "value"), "t", "value",
          "1 day", "0 seconds", keyCols = Seq("event_type"))
        val sink = "graft_q155_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val qy = sketches.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          input.addData(rows.toSeq)
          qy.processAllAvailable()
          input.addData(Seq(
            (new java.sql.Timestamp(maxT + 100L * 86400000L), "view", 0.0)))
          qy.processAllAvailable()
        } finally qy.stop()
        val maxRealDay = maxT / 86400000L
        val wins = s.table(sink)
          .select(col("event_type"),
            expr("unix_micros(window_start) DIV 86400000000").as("day"), col("sk"))
          .where(col("day") <= lit(maxRealDay))
        // the per-type baseline is |types| rows — materialize it into a
        // fresh DataFrame (broadcast-baseline pattern); joining two
        // reads of the same memory-sink view trips Catalyst's
        // conflicting-attribute check under min_by
        val base = wins.groupBy("event_type").agg(expr("min_by(sk, day)").as("s0"))
          .collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1))).toSeq
          .toDF("event_type", "s0")
        wins.join(base, Seq("event_type"))
          .select(col("event_type"), col("day"),
            round(expr("approx_ks_distance(sk, s0)"), 9).as("ks"))
          .orderBy("event_type", "day")
      }
    },

    // Distributed BPE tokenizer training: 8 merge rounds over the
    // word-type vocabulary. Counts are exact integers and the argmax
    // tie-break (count desc, then lexicographic pair) is total, so the
    // learned merge table is bit-identical across engines; DuckDB
    // replays the full train loop via the chained round CTEs.
    q("q156_bpe_merges",
      bpeRoundsCte(8) + "\n" +
        (1 to 8).map(k =>
          s"SELECT CAST($k AS INTEGER) AS round, l AS lhs, r AS rhs, cnt AS pair_count FROM m$k")
          .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY round")) {
      (s, d) =>
      view(s, d, "documents")
      graft.operators.Bpe.trainMerges(s.table("documents"), "text", 8)
        .orderBy("round")
    },

    // BPE inference + tokenizer-fertility audit: tokenize every document
    // with the 8 learned merges and report tokens-per-word in 1e4 fixed
    // point (pure integer half-up — no float in the comparison path).
    // The oracle reuses the training CTE chain: after 8 merge folds,
    // each word type's token count is just len(syms).
    q("q157_bpe_fertility",
      bpeRoundsCte(8) + """,
        |dw AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) w
        |       FROM documents)
        |SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_words,
        |       CAST(sum(len(s8.syms)) AS BIGINT) AS n_tokens,
        |       CAST((2 * CAST(sum(len(s8.syms)) AS BIGINT) * 10000 + count(*))
        |            // (2 * count(*)) AS BIGINT) AS fertility_fp
        |FROM dw JOIN s8 USING (w)
        |WHERE dw.w <> '' AND NOT contains(dw.w, chr(31))
        |GROUP BY doc_id ORDER BY id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      val merges = graft.operators.Bpe.trainMerges(docs, "text", 8)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Bpe.tokenizeFertility(docs, "doc_id", "text", merges)
        .orderBy("id")
    },

    // Fuzzy vocabulary pairs (SymSpell deletion-neighborhood blocking +
    // exact Levenshtein verify); the oracle brute-forces the tiny
    // verification-scale vocabulary — candidate GENERATION differs, the
    // verified pair set must not.
    q("q158_fuzzy_vocab",
      """WITH wx AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) w FROM documents),
        |v AS (SELECT w, CAST(count(*) AS BIGINT) n FROM wx WHERE w <> '' GROUP BY 1)
        |SELECT a.w AS w_a, b.w AS w_b, a.n AS n_a, b.n AS n_b,
        |       CAST(levenshtein(a.w, b.w) AS INTEGER) AS dist
        |FROM v a JOIN v b ON a.w < b.w AND levenshtein(a.w, b.w) <= 2
        |ORDER BY w_a, w_b""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      Dedup.fuzzyVocabPairs(s.table("documents"), "text", maxDist = 2)
        .orderBy("w_a", "w_b")
    },

    // Near-dup cluster representative selection: best n_chars per
    // connected component (ties to the smallest id) — keep-best curation
    // instead of keep-first. Clusters replayed by q35's recursive CTE.
    q("q159_keep_best_cluster",
      """WITH RECURSIVE w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') ws FROM documents),
        |d AS (
        |  SELECT doc_id,
        |         CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
        |              ELSE list_distinct(list_transform(range(len(ws) - 4),
        |                     i -> array_to_string(ws[i+1:i+5], ' '))) END sh
        |  FROM w),
        |pairs AS (
        |  SELECT a.doc_id id_a, b.doc_id id_b
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) * 5
        |        >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 4),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |  UNION SELECT doc_id, doc_id FROM documents),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |labeled AS (SELECT dst AS id, min(src) AS comp FROM reach GROUP BY dst),
        |ranked AS (
        |  SELECT comp, id, n_chars,
        |         row_number() OVER (PARTITION BY comp ORDER BY n_chars DESC, id) rk,
        |         count(*) OVER (PARTITION BY comp) nm
        |  FROM labeled JOIN documents ON id = doc_id)
        |SELECT comp, id AS kept_id, CAST(n_chars AS BIGINT) AS best_score,
        |       CAST(nm AS BIGINT) AS n_members
        |FROM ranked WHERE rk = 1 ORDER BY comp""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      val edges = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
        .select("id_a", "id_b")
      val comps = Dedup.connectedComponents(docs.select(col("doc_id")), edges, "doc_id")
      val scored = comps.join(
        docs.select(col("doc_id").as("id"), col("n_chars").as("score")), Seq("id"))
      Dedup.keepBestPerCluster(scored, "id", "comp", "score")
        .select(col("comp"), col("kept_id"), col("best_score"), col("n_members"))
        .orderBy("comp")
    },

    // Soft dedup over a dup-planted corpus: per normalized-content group
    // of size n, weight 1e4/n (integer half-up) and an unbiased seeded
    // keep decision hash60(0, id) * n < 2^60 — engine-replayable via the
    // md5 hash-space convention.
    q("q160_soft_dedup",
      """WITH inp AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 4 = 0),
        |g AS (SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) fp FROM inp),
        |n AS (SELECT fp, CAST(count(*) AS BIGINT) n_dups FROM g GROUP BY 1)
        |SELECT doc_id AS id, n_dups,
        |       (2 * 10000 + n_dups) // (2 * n_dups) AS weight_fp,
        |       CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)::HUGEINT
        |         * n_dups < 1152921504606846976 AS kept
        |FROM g JOIN n USING (fp) ORDER BY id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val dup = s.sql("""SELECT doc_id, text FROM documents UNION ALL
                        |SELECT doc_id + 1000000 AS doc_id, text FROM documents
                        |WHERE doc_id % 4 = 0""".stripMargin)
      Dedup.softDedupWeights(dup, "doc_id", "text").orderBy("id")
    },

    // k-anonymity profile over (lang, source) quasi-identifiers, k=5
    q("q161_k_anonymity",
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n, count(*) >= 5 AS anonymous
        |FROM documents GROUP BY 1, 2 ORDER BY lang, source""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      graft.operators.Privacy.kAnonymityProfile(
          s.table("documents"), Seq("lang", "source"), 5)
        .orderBy("lang", "source")
    },

    // k-anonymity suppression release: only rows hiding among >= 5
    // peers on (lang, source) survive
    q("q162_k_suppression",
      """WITH keep AS (
        |  SELECT lang, source FROM documents GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN keep k
        |  ON d.lang IS NOT DISTINCT FROM k.lang
        | AND d.source IS NOT DISTINCT FROM k.source
        |ORDER BY doc_id""".stripMargin) {
      (s, d) =>
      view(s, d, "documents")
      graft.operators.Privacy.kAnonymitySuppress(
          s.table("documents").select("doc_id", "lang", "source"),
          Seq("lang", "source"), 5)
        .orderBy("doc_id")
    },

    // Fixed-point PageRank (3 iterations, damping 85/100) on the
    // symmetrized near-dup similarity graph — centrality-based canonical
    // document selection. All mass is integer (1e12 scale), every update
    // DIV/sum on longs, so ranks are bit-identical across engines and
    // the oracle replays the iterations as chained CTEs.
    q("q163_pagerank", {
      val iterCtes = (1 to 3).map { k =>
        s"""i$k AS (
           |  SELECT nn.id, CAST((15 * c.base + 85 * coalesce(q.s, 0)) // 100 AS BIGINT) r
           |  FROM nn CROSS JOIN c LEFT JOIN (
           |    SELECT e.dst, CAST(sum(i${k - 1}.r // deg.deg) AS BIGINT) s
           |    FROM edges e JOIN i${k - 1} ON e.src = i${k - 1}.id
           |    JOIN deg ON deg.src = e.src
           |    GROUP BY e.dst) q ON q.dst = nn.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS (
         |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') ws FROM documents),
         |d AS (
         |  SELECT doc_id,
         |         CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
         |              ELSE list_distinct(list_transform(range(len(ws) - 4),
         |                     i -> array_to_string(ws[i+1:i+5], ' '))) END sh
         |  FROM w),
         |pairs AS (
         |  SELECT a.doc_id id_a, b.doc_id id_b
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) * 5
         |        >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 4),
         |edges AS (SELECT id_a src, id_b dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) deg FROM edges GROUP BY 1),
         |nn AS (SELECT doc_id AS id FROM documents),
         |c AS (SELECT CAST(1000000000000 // count(*) AS BIGINT) base FROM nn),
         |i0 AS (SELECT id, c.base r FROM nn CROSS JOIN c),
         |$iterCtes
         |SELECT id, r AS rank_fp FROM i3 ORDER BY id""".stripMargin
    }) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
        .select("id_a", "id_b")
      // symmetrize with ONE generator instead of a self-union: a union
      // re-evaluates the pairs subtree (the expensive similarity join)
      // once per branch — profiled as 4 duplicate join stages inside the
      // operator's single edge materialization
      val edges = pairs.select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.operators.Graph.pageRankFp(
          docs.select(col("doc_id")), edges, "doc_id", iters = 3)
        .orderBy("id")
    },

    // Release-pipeline capstone for the round-8 operators: planted-dup
    // corpus → soft dedup (seeded unbiased keep) → k-anonymity
    // suppression on (lang, source) → per-group release accounting.
    // Every stage is deterministic, so DuckDB replays the whole chain.
    q("q164_release_pipeline",
      """WITH inp AS (
        |  SELECT doc_id, text, lang, source FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text, lang, source
        |  FROM documents WHERE doc_id % 4 = 0),
        |g AS (SELECT *, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) fp FROM inp),
        |n AS (SELECT fp, CAST(count(*) AS BIGINT) n_dups FROM g GROUP BY 1),
        |kept AS (
        |  SELECT g.* FROM g JOIN n USING (fp)
        |  WHERE CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)::HUGEINT
        |        * n_dups < 1152921504606846976),
        |ok AS (SELECT lang, source FROM kept GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT k.lang, k.source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT) AS n_tokens
        |FROM kept k JOIN ok
        |  ON k.lang IS NOT DISTINCT FROM ok.lang
        | AND k.source IS NOT DISTINCT FROM ok.source
        |GROUP BY 1, 2 ORDER BY k.lang, k.source""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val dup = s.sql("""SELECT doc_id, text, lang, source FROM documents
                        |UNION ALL
                        |SELECT doc_id + 1000000 AS doc_id, text, lang, source
                        |FROM documents WHERE doc_id % 4 = 0""".stripMargin)
      val keptIds = Dedup.softDedupWeights(dup, "doc_id", "text")
        .where(col("kept")).select(col("id").as("doc_id"))
      val kept = dup.join(keptIds, Seq("doc_id"))
      graft.operators.Privacy.kAnonymitySuppress(kept, Seq("lang", "source"), 5)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"))
        .orderBy("lang", "source")
    },

    // Embedding-column QC over a corpus with planted anomalies (null
    // vector, wrong dimension, NaN elements, zero vector): per-label
    // failure-partitioned integer counts — the gate before any ANN
    // index build or semantic dedup trusts the table.
    q("q165_embedding_qc",
      """WITH inp AS (
        |  SELECT embedding v, label FROM embeddings
        |  UNION ALL SELECT NULL, 99
        |  UNION ALL SELECT [1.0, 2.0]::FLOAT[], 99
        |  UNION ALL SELECT list_transform(range(64), i -> 'NaN'::FLOAT), 99
        |  UNION ALL SELECT list_transform(range(64), i -> 0.0::FLOAT), 99)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(sum(CASE WHEN v IS NOT NULL AND len(v) != 64
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_dim,
        |  CAST(sum(CASE WHEN v IS NOT NULL AND len(v) = 64
        |                AND len(list_filter(v, x -> x IS NULL OR isnan(x) OR isinf(x))) > 0
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
        |  CAST(sum(CASE WHEN v IS NOT NULL AND len(v) = 64
        |                AND len(list_filter(v, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
        |                AND len(list_filter(v, x -> x != 0)) = 0
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |FROM inp GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      val planted = s.sql(
        """SELECT embedding, label FROM embeddings
          |UNION ALL SELECT CAST(NULL AS ARRAY<FLOAT>), 99
          |UNION ALL SELECT array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), 99
          |UNION ALL SELECT array_repeat(CAST('NaN' AS FLOAT), 64), 99
          |UNION ALL SELECT array_repeat(CAST(0.0 AS FLOAT), 64), 99""".stripMargin)
      graft.operators.Embeddings.embeddingQc(
          planted, "embedding", Seq("label"), expectedDim = 64)
        .orderBy("label")
    },

    // Filter-sweep report: rows/token-mass surviving each candidate
    // n_chars cutoff, from one conditional-sum pass (no |thresholds|x
    // corpus blowup) — the quality-vs-quantity curve read before
    // committing to a filter threshold.
    q("q166_filter_sweep",
      """WITH t AS (
        |  SELECT CAST(n_chars AS DOUBLE) v,
        |         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) w
        |  FROM documents)
        |SELECT CAST(th.t AS DOUBLE) AS threshold,
        |  CAST(count(d.v) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(d.w), 0) AS BIGINT) AS weight_kept
        |FROM (VALUES (0.0), (100.0), (200.0), (400.0), (800.0)) th(t)
        |LEFT JOIN t d ON d.v >= th.t
        |GROUP BY th.t ORDER BY threshold""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
        .withColumn("__w", TextOps.tokenCount(col("text")))
      graft.operators.Profiler.filterSweep(docs, "n_chars", "__w",
          Seq(0.0, 100.0, 200.0, 400.0, 800.0))
        .orderBy("threshold")
    },

    // Mixed-language document detection: per-paragraph language ID over
    // a corpus with planted French paragraphs appended to every 7th doc
    // — n_langs > 1 is the mixed flag languageId alone cannot raise.
    q("q167_mixed_lang", {
      def hits(w: String) =
        s"len(list_filter(regexp_split_to_array(trim(lower(para)), '\\s+'), x -> x = '$w'))"
      val scores = TextOps.langMarkers
        .map { case (l, ws) => l -> ws.map(hits).mkString(" + ") }
      val scoreCols = scores.map { case (l, e) => s"($e) AS s_$l" }.mkString(", ")
      val best = s"greatest(${scores.map("s_" + _._1).mkString(", ")})"
      val caseChain = scores
        .map { case (l, _) => s"WHEN s_$l = best AND best > 0 THEN '$l'" }
        .mkString(" ")
      s"""WITH docs AS (
         |  SELECT doc_id AS id,
         |         CASE WHEN doc_id % 7 = 0
         |              THEN text || chr(10) || 'le la les des le la'
         |              ELSE text END AS t
         |  FROM documents),
         |paras AS (SELECT id, unnest(string_split(t, chr(10))) AS para FROM docs),
         |scored AS (SELECT id, $scoreCols FROM paras),
         |b AS (SELECT *, $best AS best FROM scored),
         |pred AS (SELECT id, CASE $caseChain ELSE 'und' END AS lang_pred FROM b),
         |cnt AS (SELECT id, lang_pred, CAST(count(*) AS BIGINT) c FROM pred GROUP BY 1, 2),
         |tot AS (SELECT id, CAST(sum(c) AS BIGINT) np,
         |               CAST(count(CASE WHEN lang_pred <> 'und' THEN 1 END) AS BIGINT) nl
         |        FROM cnt GROUP BY 1),
         |rk AS (SELECT id, lang_pred, c,
         |              row_number() OVER (PARTITION BY id ORDER BY c DESC, lang_pred) r
         |       FROM cnt)
         |SELECT t.id, t.np AS n_paras, t.nl AS n_langs,
         |       rk.lang_pred AS major_lang,
         |       CAST(rk.c * 1000000 // t.np AS BIGINT) AS major_share_ppm
         |FROM tot t JOIN rk ON rk.id = t.id AND rk.r = 1 ORDER BY t.id""".stripMargin
    }) { (s, d) =>
      view(s, d, "documents")
      val planted = s.sql(
        """SELECT doc_id, CASE WHEN doc_id % 7 = 0
          |       THEN concat(text, '\n', 'le la les des le la')
          |       ELSE text END AS text
          |FROM documents""".stripMargin)
      TextOps.paragraphLangProfile(planted, "doc_id", "text", "\n")
        .orderBy("id")
    },

    // PMI collocations: top-20 adjacent pairs by fixed-point pointwise
    // mutual information (bigram-slot marginals; min bigram count 3).
    // The ratio inside ln is an exact integer quotient, so both engines
    // round the same double (the q129 log convention).
    q("q168_collocations",
      """WITH d AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') ws FROM documents),
        |bg AS (SELECT b['w1'] w1, b['w2'] w2 FROM (
        |    SELECT unnest(list_transform(range(1, len(ws)),
        |             i -> {'w1': ws[i], 'w2': ws[i+1]})) b
        |    FROM d WHERE len(ws) >= 2)
        |  WHERE b['w1'] <> '' AND b['w2'] <> ''),
        |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) cb FROM bg
        |       GROUP BY 1, 2 HAVING count(*) >= 3),
        |cu AS (SELECT w, CAST(count(*) AS BIGINT) cw FROM (
        |         SELECT unnest([w1, w2]) w FROM bg) GROUP BY 1),
        |nn AS (SELECT CAST(count(*) * 2 AS BIGINT) n FROM bg)
        |SELECT w1, w2, cb,
        |  CAST(round(ln(CAST(cb AS DOUBLE) * n / (CAST(a.cw AS DOUBLE) * b2.cw))
        |       * 10000) AS BIGINT) AS pmi_fp
        |FROM cb JOIN cu a ON a.w = cb.w1 JOIN cu b2 ON b2.w = cb.w2 CROSS JOIN nn
        |ORDER BY pmi_fp DESC, w1, w2 LIMIT 20""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      TextOps.collocations(s.table("documents"), "text", minCount = 3, k = 20)
    },

    // Heaps-law vocabulary growth at doc-id checkpoints: distinct word
    // types first seen at or below each id threshold + cumulative token
    // mass — the keep-crawling-this-source diagnostic.
    q("q169_vocab_growth",
      """WITH fs AS (
        |  SELECT w, min(doc_id) first_id FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) w
        |    FROM documents) WHERE w <> '' GROUP BY w),
        |tc AS (SELECT doc_id,
        |              CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) t
        |       FROM documents)
        |SELECT CAST(cp.c AS BIGINT) AS checkpoint,
        |  (SELECT CAST(count(*) AS BIGINT) FROM fs WHERE first_id <= cp.c) AS vocab_size,
        |  (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) FROM tc WHERE doc_id <= cp.c) AS tokens
        |FROM (VALUES (10), (50), (100), (250), (500)) cp(c)
        |ORDER BY checkpoint""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      TextOps.vocabGrowth(s.table("documents"), "doc_id", "text",
          Seq(10L, 50L, 100L, 250L, 500L))
        .orderBy("checkpoint")
    },

    // Zipf rank-frequency slope: OLS of ln(freq) on ln(rank) in pure
    // fixed-point/decimal arithmetic — the corpus-naturalness signal.
    // Ranks tie-break (freq desc, term asc) identically in both engines.
    q("q170_zipf_slope",
      """WITH v AS (
        |  SELECT w, CAST(count(*) AS BIGINT) n_occ FROM (
        |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) w
        |    FROM documents) WHERE w <> '' GROUP BY w),
        |r AS (SELECT n_occ, row_number() OVER (ORDER BY n_occ DESC, w) rk FROM v),
        |p AS (SELECT CAST(round(ln(CAST(rk AS DOUBLE)) * 10000) AS HUGEINT) x,
        |             CAST(round(ln(CAST(n_occ AS DOUBLE)) * 10000) AS HUGEINT) y
        |      FROM r),
        |s AS (SELECT CAST(count(*) AS HUGEINT) n, sum(x) sx, sum(y) sy,
        |             sum(x * y) sxy, sum(x * x) sxx FROM p)
        |SELECT CAST(n AS BIGINT) AS n_types,
        |  CAST(CASE
        |    WHEN n * sxx - sx * sx = 0 THEN 0
        |    WHEN n * sxy - sx * sy < 0
        |      THEN -((-(n * sxy - sx * sy) * 10000) // (n * sxx - sx * sx))
        |    ELSE ((n * sxy - sx * sy) * 10000) // (n * sxx - sx * sx)
        |  END AS BIGINT) AS slope_fp
        |FROM s""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      TextOps.zipfSlope(s.table("documents"), "text")
    },

    // Product quantization codes: 64-dim embeddings → 4 blocks of 16
    // dims, k=4 deterministic Lloyd (1 round) per block, code = seed
    // label of the winning codeword. One projection over the corpus;
    // the oracle replays each block's lattice k-means exactly.
    q("q171_pq_codes",
      s"""$pqOracleCtes
         |SELECT vec_id AS id,
         |       CAST(c0 AS BIGINT) AS code_0, CAST(c1 AS BIGINT) AS code_1,
         |       CAST(c2 AS BIGINT) AS code_2, CAST(c3 AS BIGINT) AS code_3
         |FROM codes ORDER BY id""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      Pq.encode(s.table("embeddings"), "vec_id", "embedding",
        dim = 64, m = 4, k = 4, iters = 1)
        .orderBy("id")
    },

    // ADC top-5 for the 3 lowest-id query vectors: per-query subspace
    // distance tables (m*k driver-side integers) looked up against the
    // codes in one scan — the compressed-domain ANN pattern. All
    // distances are lattice integers, so the oracle's join-based replay
    // hashes identically.
    q("q172_pq_adc_topk",
      s"""$pqOracleCtes,
         |qs AS (SELECT vec_id qid, q FROM v WHERE vec_id < 3),
         |${(0 until 4).map(pqAdcTableCte).mkString(",\n")},
         |adc AS (
         |  SELECT t0.qid, cd.vec_id, t0.d + t1.d + t2.d + t3.d adc
         |  FROM codes cd
         |  JOIN t0 ON t0.j = cd.c0
         |  JOIN t1 ON t1.qid = t0.qid AND t1.j = cd.c1
         |  JOIN t2 ON t2.qid = t0.qid AND t2.j = cd.c2
         |  JOIN t3 ON t3.qid = t0.qid AND t3.j = cd.c3)
         |SELECT qid AS query_id, vec_id, CAST(adc AS BIGINT) AS adc,
         |       CAST(rk AS INT) AS rk
         |FROM (SELECT qid, vec_id, adc,
         |             row_number() OVER (PARTITION BY qid
         |                                ORDER BY adc, vec_id) rk
         |      FROM adc WHERE vec_id <> qid)
         |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      Pq.adcSearch(s.table("embeddings"), "vec_id", "embedding",
        dim = 64, m = 4, k = 4, iters = 1, nq = 3, topK = 5)
        .orderBy("query_id", "rk")
    },

    // IVF-PQ: coarse cells (k=4 lattice Lloyd on full vectors) prune
    // the ADC scan to each query's 2 nearest cells — the partition-
    // pruned deployment shape of q172. The oracle replays coarse
    // assignment, probe selection, and the cell-filtered ADC join.
    q("q173_ivfpq_topk",
      s"""$pqOracleCtes,
         |$ivfpqCoarseCtes,
         |qs AS (SELECT vec_id qid, q FROM v WHERE vec_id < 3),
         |${(0 until 4).map(pqAdcTableCte).mkString(",\n")},
         |pr AS (
         |  SELECT qid, cell FROM (
         |    SELECT qid, j cell, row_number() OVER (PARTITION BY qid
         |                                           ORDER BY d, j) rk
         |    FROM (SELECT qs.qid, c.j,
         |                 list_sum(list_transform(range(1, 65),
         |                   i -> (qs.q[i] - c.c[i]) * (qs.q[i] - c.c[i]))) d
         |          FROM qs CROSS JOIN cc1 c))
         |  WHERE rk <= 2),
         |adcf AS (
         |  SELECT t0.qid, cd.vec_id, t0.d + t1.d + t2.d + t3.d adc
         |  FROM codes cd
         |  JOIN ca1 ON ca1.vec_id = cd.vec_id
         |  JOIN pr ON pr.cell = ca1.cl
         |  JOIN t0 ON t0.qid = pr.qid AND t0.j = cd.c0
         |  JOIN t1 ON t1.qid = pr.qid AND t1.j = cd.c1
         |  JOIN t2 ON t2.qid = pr.qid AND t2.j = cd.c2
         |  JOIN t3 ON t3.qid = pr.qid AND t3.j = cd.c3)
         |SELECT qid AS query_id, vec_id, CAST(adc AS BIGINT) AS adc,
         |       CAST(rk AS INT) AS rk
         |FROM (SELECT qid, vec_id, adc,
         |             row_number() OVER (PARTITION BY qid
         |                                ORDER BY adc, vec_id) rk
         |      FROM adcf WHERE vec_id <> qid)
         |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      Pq.ivfAdcSearch(s.table("embeddings"), "vec_id", "embedding",
        dim = 64, m = 4, k = 4, iters = 1, coarseK = 4, nprobe = 2,
        nq = 3, topK = 5)
        .orderBy("query_id", "rk")
    },

    // PQ quality gate: recall@5 of the ADC ranking against exact
    // lattice L2 top-5 — the number a deployment tunes (m, k) against.
    // Both rankings are deterministic, so recall is oracle-exact.
    q("q174_pq_recall",
      s"""$pqOracleCtes,
         |qs AS (SELECT vec_id qid, q FROM v WHERE vec_id < 3),
         |${(0 until 4).map(pqAdcTableCte).mkString(",\n")},
         |adc AS (
         |  SELECT t0.qid, cd.vec_id, t0.d + t1.d + t2.d + t3.d adc
         |  FROM codes cd
         |  JOIN t0 ON t0.j = cd.c0
         |  JOIN t1 ON t1.qid = t0.qid AND t1.j = cd.c1
         |  JOIN t2 ON t2.qid = t0.qid AND t2.j = cd.c2
         |  JOIN t3 ON t3.qid = t0.qid AND t3.j = cd.c3),
         |ap AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |                                           ORDER BY adc, vec_id) rk
         |    FROM adc WHERE vec_id <> qid) WHERE rk <= 5),
         |ex AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qs.qid, v.vec_id,
         |           row_number() OVER (PARTITION BY qs.qid ORDER BY
         |             list_sum(list_transform(range(1, 65),
         |               i -> (qs.q[i] - v.q[i]) * (qs.q[i] - v.q[i]))),
         |             v.vec_id) rk
         |    FROM qs CROSS JOIN v WHERE v.vec_id <> qs.qid) WHERE rk <= 5),
         |h AS (
         |  SELECT ap.qid, count(*) nh FROM ap
         |  JOIN ex ON ap.qid = ex.qid AND ap.vec_id = ex.vec_id
         |  GROUP BY ap.qid)
         |SELECT e.qid AS query_id,
         |       CAST(coalesce(h.nh, 0) AS BIGINT) AS n_hits,
         |       CAST(coalesce(h.nh, 0) * 10000 // 5 AS BIGINT) AS recall_fp
         |FROM (SELECT DISTINCT qid FROM ex) e LEFT JOIN h USING (qid)
         |ORDER BY query_id""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      Pq.adcRecall(s.table("embeddings"), "vec_id", "embedding",
        dim = 64, m = 4, k = 4, iters = 1, nq = 3, topK = 5)
        .orderBy("query_id")
    },

    // Median/MAD outlier summary per event type: the robust scale that
    // extreme rows cannot drag, on the integer lattice (lower medians
    // at rank (n+1)/2, total order (value, id)) — oracle-exact.
    q("q175_robust_outliers",
      """WITH x AS (
        |  SELECT event_type g, event_id id,
        |         CAST(round(value * 1000) AS BIGINT) x
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |n AS (SELECT g, count(*) n FROM x GROUP BY g),
        |r AS (SELECT g, id, x,
        |             row_number() OVER (PARTITION BY g ORDER BY x, id) rn
        |      FROM x),
        |med AS (SELECT r.g, r.x med FROM r JOIN n USING (g)
        |        WHERE rn = (n + 1) // 2),
        |d AS (SELECT x.g, x.id, abs(x.x - med.med) dev, med.med
        |      FROM x JOIN med USING (g)),
        |rd AS (SELECT g, id, dev,
        |              row_number() OVER (PARTITION BY g ORDER BY dev, id) rn
        |       FROM d),
        |mad AS (SELECT rd.g, rd.dev mad FROM rd JOIN n USING (g)
        |        WHERE rn = (n + 1) // 2)
        |SELECT d.g AS event_type, CAST(n.n AS BIGINT) AS n,
        |       CAST(d.med AS BIGINT) AS med_fp,
        |       CAST(mad.mad AS BIGINT) AS mad_fp,
        |       CAST(sum(CASE WHEN d.dev > 3 * mad.mad THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_outliers
        |FROM d JOIN mad USING (g) JOIN n USING (g)
        |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin) { (s, d) =>
      view(s, d, "events")
      Profiler.robustOutliers(s.table("events"), "event_type", "value",
        "event_id")
        .orderBy("event_type")
    },

    // Triangle census of the part co-occurrence graph (parts ordered
    // together): global clustering coefficient as the graph-health
    // signal. Spark enumerates via degree-ordered orientation (each
    // triangle exactly once, hub fan-out bounded); the oracle's
    // id-ordered a<b<c enumeration yields the same triangle set.
    q("q176_triangle_census",
      s"""$coPartGraphCtes
         |SELECT CAST(d.n AS BIGINT) AS n_nodes, CAST(ec.n AS BIGINT) AS n_edges,
         |       CAST(tc.n AS BIGINT) AS n_triangles,
         |       CAST(CASE WHEN d.w > 0 THEN (3 * tc.n * 10000) // d.w
         |            ELSE 0 END AS BIGINT) AS gcc_fp
         |FROM (SELECT count(*) n, sum(deg * (deg - 1)) // 2 w FROM deg) d,
         |     (SELECT count(*) n FROM e) ec,
         |     (SELECT count(*) n FROM tri) tc""".stripMargin) { (s, d) =>
      view(s, d, "lineitem")
      Graph.triangleStats(coPartEdges(s), "src", "dst")
    },

    // Local clustering for the 10 highest-degree parts: tight
    // co-purchase communities vs star-shaped hubs.
    q("q177_local_clustering",
      s"""$coPartGraphCtes
         |SELECT CAST(node AS BIGINT) AS node, CAST(deg AS BIGINT) AS deg,
         |       CAST(coalesce(t.n, 0) AS BIGINT) AS n_tri,
         |       CAST(CASE WHEN deg > 1
         |              THEN (2 * coalesce(t.n, 0) * 10000) // (deg * (deg - 1))
         |            ELSE 0 END AS BIGINT) AS lcc_fp
         |FROM (SELECT node, deg,
         |             row_number() OVER (ORDER BY deg DESC, node) rk
         |      FROM deg) d
         |LEFT JOIN (SELECT node, count(*) n FROM
         |             (SELECT unnest([a, b, c]) node FROM tri) GROUP BY 1) t
         |  USING (node)
         |WHERE rk <= 10 ORDER BY node""".stripMargin) { (s, d) =>
      view(s, d, "lineitem")
      Graph.localClustering(coPartEdges(s), "src", "dst", topN = 10)
        .orderBy("node")
    },

    // Link prediction on the co-part graph: top-20 NON-adjacent pairs
    // by common-neighbor count + neighborhood Jaccard. Super-hub
    // middles (deg > 100) are excluded before the wedge self-join —
    // the skew guard that bounds the candidate blow-up.
    q("q178_link_prediction",
      s"""$coPartGraphCtes,
         |adj AS MATERIALIZED (
         |  SELECT j.m, j.x FROM
         |    (SELECT a m, b x FROM e UNION ALL SELECT b m, a x FROM e) j
         |  JOIN deg ON deg.node = j.m WHERE deg.deg <= 100),
         |cn AS (
         |  SELECT l.x a, r.x b, count(*) cn FROM adj l
         |  JOIN adj r ON l.m = r.m AND l.x < r.x GROUP BY 1, 2),
         |na AS (
         |  SELECT cn.a, cn.b, cn.cn FROM cn
         |  LEFT JOIN e ON e.a = cn.a AND e.b = cn.b WHERE e.a IS NULL)
         |SELECT na.a, na.b, CAST(na.cn AS BIGINT) AS cn,
         |       CAST((na.cn * 10000) // (da.deg + db.deg - na.cn) AS BIGINT)
         |         AS jaccard_fp
         |FROM na JOIN deg da ON da.node = na.a JOIN deg db ON db.node = na.b
         |ORDER BY cn DESC, jaccard_fp DESC, a, b LIMIT 20""".stripMargin) { (s, d) =>
      view(s, d, "lineitem")
      Graph.commonNeighborPairs(coPartEdges(s), "src", "dst",
        topN = 20, maxMiddleDeg = 100L)
    },

    // Streaming PQ encode: vectors arriving in micro-batches encode
    // against FROZEN codebooks (trained once on the batch corpus) — a
    // stateless projection, so append mode needs no state store and
    // the stream's codes must equal the batch run's (q171's oracle).
    q("q179_streaming_pq_encode",
      s"""$pqOracleCtes
         |SELECT vec_id AS id,
         |       CAST(c0 AS BIGINT) AS code_0, CAST(c1 AS BIGINT) AS code_1,
         |       CAST(c2 AS BIGINT) AS code_2, CAST(c3 AS BIGINT) AS code_3
         |FROM codes ORDER BY id""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      val books = Pq.trainCodebooks(s.table("embeddings"), "vec_id",
        "embedding", dim = 64, m = 4, k = 4, iters = 1)
      val rows = s.table("embeddings").select(col("vec_id"), col("embedding"))
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      val input = MemoryStream[(Long, Seq[Float])](s)
      val codes = Pq.encodeWith(input.toDF().toDF("id", "vec"),
        "id", "vec", dim = 64, books)
      val sink = "graft_q179_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val qy = codes.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        val (b1, b2) = rows.splitAt(rows.length / 2)
        input.addData(b1.toSeq)
        qy.processAllAvailable()
        input.addData(b2.toSeq)
        qy.processAllAvailable()
      } finally qy.stop()
      s.table(sink).orderBy("id")
    },

    // MRR@5 of the ADC ranking: at what reciprocal rank does the TRUE
    // nearest neighbor (exact lattice L2) surface in the compressed-
    // domain top-5 — sharper than recall when only the first hit is
    // ever read.
    q("q180_retrieval_mrr",
      s"""$pqOracleCtes,
         |qs AS (SELECT vec_id qid, q FROM v WHERE vec_id < 3),
         |${(0 until 4).map(pqAdcTableCte).mkString(",\n")},
         |adc AS (
         |  SELECT t0.qid, cd.vec_id, t0.d + t1.d + t2.d + t3.d adc
         |  FROM codes cd
         |  JOIN t0 ON t0.j = cd.c0
         |  JOIN t1 ON t1.qid = t0.qid AND t1.j = cd.c1
         |  JOIN t2 ON t2.qid = t0.qid AND t2.j = cd.c2
         |  JOIN t3 ON t3.qid = t0.qid AND t3.j = cd.c3),
         |ap AS (
         |  SELECT qid, vec_id, rk FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |                                           ORDER BY adc, vec_id) rk
         |    FROM adc WHERE vec_id <> qid) WHERE rk <= 5),
         |gold AS (
         |  SELECT qid, vec_id gold_id FROM (
         |    SELECT qs.qid, v.vec_id,
         |           row_number() OVER (PARTITION BY qs.qid ORDER BY
         |             list_sum(list_transform(range(1, 65),
         |               i -> (qs.q[i] - v.q[i]) * (qs.q[i] - v.q[i]))),
         |             v.vec_id) rk
         |    FROM qs CROSS JOIN v WHERE v.vec_id <> qs.qid) WHERE rk = 1)
         |SELECT g.qid AS query_id, g.gold_id,
         |       CAST(coalesce(ap.rk, 0) AS BIGINT) AS gold_rank,
         |       CAST(CASE WHEN ap.rk IS NOT NULL THEN 10000 // ap.rk
         |            ELSE 0 END AS BIGINT) AS mrr_fp
         |FROM gold g LEFT JOIN ap ON ap.qid = g.qid AND ap.vec_id = g.gold_id
         |ORDER BY query_id""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      Pq.adcMrr(s.table("embeddings"), "vec_id", "embedding",
        dim = 64, m = 4, k = 4, iters = 1, nq = 3, topK = 5)
        .orderBy("query_id")
    },

    // Right-to-erasure propagation: export shards + manifest, delete
    // every 17th doc, rewrite ONLY the touched shard partitions under
    // dynamic overwrite, and attest the result per shard. The oracle
    // recomputes the post-delete manifest from scratch.
    q("q181_delete_propagation",
      """WITH v AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |           % 8 AS shard,
        |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS fp,
        |         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS nt
        |  FROM documents),
        |delc AS (SELECT shard, CAST(count(*) AS BIGINT) nd FROM v
        |         WHERE doc_id % 17 = 0 GROUP BY 1)
        |SELECT CAST(g.shard AS INT) AS shard, g.n_rows, g.n_tokens, g.xor_fp,
        |       CAST(coalesce(d.nd, 0) AS BIGINT) AS n_deleted
        |FROM (SELECT shard, CAST(count(*) AS BIGINT) n_rows,
        |             CAST(sum(nt) AS BIGINT) n_tokens,
        |             CAST(bit_xor(fp) AS BIGINT) xor_fp
        |      FROM v WHERE doc_id % 17 <> 0 GROUP BY shard) g
        |LEFT JOIN delc d USING (shard) ORDER BY shard""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val out = scratchDir("graft_q181_")
      operators.Sinks.writeShardsWithManifest(
        s.table("documents"), "doc_id", "text", out, numShards = 8)
      val deletes = s.table("documents")
        .where(col("doc_id") % 17 === 0).select("doc_id")
      operators.Sinks.applyDeletes(s, out, "doc_id", "text", deletes)
        .orderBy("shard")
    },

    // Tokenizer-coverage gate: per language, what fraction of token
    // occurrences (ppm) falls outside the corpus-global top-20
    // vocabulary — the byte-fallback early warning per group.
    q("q182_oov_rate",
      """WITH tk AS (
        |  SELECT g, term FROM (
        |    SELECT lang g,
        |           unnest(regexp_split_to_array(trim(lower(text)), '\s+')) term
        |    FROM documents) WHERE term <> ''),
        |counts AS (SELECT term, count(*) n FROM tk GROUP BY 1),
        |voc AS (SELECT term FROM counts ORDER BY n DESC, term LIMIT 20)
        |SELECT g AS lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_oov,
        |       CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
        |            * 1000000 // count(*) AS BIGINT) AS oov_ppm,
        |       CAST(count(DISTINCT CASE WHEN v.term IS NULL THEN tk.term END)
        |            AS BIGINT) AS n_oov_types
        |FROM tk LEFT JOIN voc v ON v.term = tk.term
        |GROUP BY g ORDER BY lang""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      TextOps.oovRate(s.table("documents"), "lang", "text", topN = 20)
        .orderBy("lang")
    },

    // Volume anomaly detection: per event type, every day's count
    // tagged with its robust deviation and a 2×MAD outlier flag — the
    // WHICH-day-spiked shape (q175 only counts them).
    q("q183_volume_anomaly",
      """WITH daily AS (
        |  SELECT event_type g, epoch_ns(ts)//86400000000000 AS day,
        |         CAST(count(*) AS BIGINT) n
        |  FROM events GROUP BY 1, 2),
        |cnt AS (SELECT g, count(*) c FROM daily GROUP BY g),
        |r AS (SELECT g, day, n,
        |             row_number() OVER (PARTITION BY g ORDER BY n, day) rn
        |      FROM daily),
        |med AS (SELECT r.g, r.n med FROM r JOIN cnt USING (g)
        |        WHERE rn = (c + 1) // 2),
        |d AS (SELECT daily.g, daily.day, daily.n,
        |             abs(daily.n - med.med) dev
        |      FROM daily JOIN med USING (g)),
        |rd AS (SELECT g, day, dev,
        |              row_number() OVER (PARTITION BY g ORDER BY dev, day) rn
        |       FROM d),
        |mad AS (SELECT rd.g, rd.dev mad FROM rd JOIN cnt USING (g)
        |        WHERE rn = (c + 1) // 2)
        |SELECT d.g AS event_type, CAST(d.day AS BIGINT) AS day, d.n,
        |       CAST(d.dev AS BIGINT) AS dev_fp,
        |       (d.dev > 2 * mad.mad) AS is_outlier
        |FROM d JOIN mad USING (g) ORDER BY event_type, day""".stripMargin) { (s, d) =>
      view(s, d, "events")
      val daily = s.table("events")
        .groupBy(col("event_type"), expr("ts DIV 86400000000000").as("day"))
        .agg(count(lit(1)).as("n"))
      Profiler.robustFlags(daily, "event_type", "n", "day",
          scale = 1, madK = 2)
        .select(col("event_type"), col("day"), col("x_fp").as("n"),
          col("dev_fp"), col("is_outlier"))
        .orderBy("event_type", "day")
    },

    // 80-core of the co-part graph: synchronous peeling to a fixpoint
    // (Spark loops until no node is dropped; the oracle replays 8 peel
    // rounds — idempotent past the fixpoint, which this graph reaches
    // in 5). Dense template-farm structure survives; organic chains and
    // stars peel away.
    q("q184_kcore", kCoreOracleSql(k = 80, rounds = 8)) { (s, d) =>
      view(s, d, "lineitem")
      Graph.kCore(coPartEdges(s), "src", "dst", k = 80).orderBy("node")
    },

    // Neyman-style allocation of a 10k-row sampling budget across event
    // types: budget ∝ N_h * (IQR + 1) over fixed-point values, with
    // DISCRETE rank-statistic quartiles — all-integer, so the division
    // and ordering replay exactly.
    q("q185_neyman_allocation",
      """WITH v AS (
        |  SELECT event_type g, event_id,
        |         CAST(round(value * 1000) AS BIGINT) v
        |  FROM events),
        |r AS (
        |  SELECT g, v,
        |         row_number() OVER (PARTITION BY g ORDER BY v, event_id) rn,
        |         count(*) OVER (PARTITION BY g) n
        |  FROM v),
        |qt AS (
        |  SELECT g, max(n) n_h,
        |         max(CASE WHEN rn = (n + 3) // 4 THEN v END) q25,
        |         max(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) q75
        |  FROM r GROUP BY g),
        |wt AS (SELECT g, n_h, q75 - q25 spread, n_h * (q75 - q25 + 1) w FROM qt),
        |tot AS (SELECT sum(w) wt FROM wt)
        |SELECT g AS event_type, CAST(n_h AS BIGINT) AS n_h,
        |       CAST(spread AS BIGINT) AS spread,
        |       CAST((10000 * w) // wt AS BIGINT) AS alloc
        |FROM wt CROSS JOIN tot ORDER BY event_type""".stripMargin) { (s, d) =>
      view(s, d, "events")
      Sampling.neymanAllocation(s.table("events"), "event_id", "event_type",
          "value", budget = 10000L)
        .select(col("g").as("event_type"), col("n_h"), col("spread"), col("alloc"))
        .orderBy("event_type")
    },

    // Top-3 distinctive terms per source by corpus lift — the
    // group-level drift alarm that names actual words. All-integer
    // scoring (see TextOps.groupLiftTerms).
    q("q186_lift_terms",
      """WITH toks AS (
        |  SELECT source g,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) term
        |  FROM documents),
        |gc AS (SELECT g, term, count(*) c_gw FROM toks GROUP BY 1, 2),
        |gt AS (SELECT g, sum(c_gw) t_g FROM gc GROUP BY 1),
        |tt AS (SELECT term, sum(c_gw) c_w FROM gc GROUP BY 1),
        |tot AS (SELECT sum(c_gw) t FROM gc),
        |scored AS (
        |  SELECT gc.g, gc.term, gc.c_gw,
        |         (gc.c_gw * tot.t * 10000) // (gt.t_g * tt.c_w) lift_fp
        |  FROM gc JOIN gt USING (g) JOIN tt USING (term) CROSS JOIN tot
        |  WHERE gc.c_gw >= 5),
        |rnk AS (
        |  SELECT g, term, c_gw, lift_fp,
        |         row_number() OVER (PARTITION BY g ORDER BY lift_fp DESC, term) rk
        |  FROM scored)
        |SELECT g AS source, CAST(rk AS INT) AS rk, term,
        |       CAST(c_gw AS BIGINT) AS c_gw, CAST(lift_fp AS BIGINT) AS lift_fp
        |FROM rnk WHERE rk <= 3 ORDER BY source, rk""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      TextOps.groupLiftTerms(s.table("documents"), "source", "text",
          minCount = 5L, k = 3)
        .select(col("g").as("source"), col("rk"), col("term"),
          col("c_gw"), col("lift_fp"))
        .orderBy("source", "rk")
    },

    // SQ8 int8-quantized top-5: per-vector max-abs scale, codes
    // floor(x/scale*127 + 0.5), dequantized-dot ranking. The whole
    // quantized pipeline replays bit-for-bit in the oracle — integer
    // dots, one fixed float association for the score.
    q("q188_sq8_topk",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |sc AS (SELECT vec_id, v,
        |              list_max(list_transform(v, x -> abs(x))) scale
        |       FROM e),
        |enc AS (SELECT vec_id, scale,
        |               list_transform(v, x -> floor(x / scale * 127 + 0.5)) codes
        |        FROM sc WHERE scale > 0),
        |scored AS (
        |  SELECT q.vec_id query_id, c.vec_id neighbor_id,
        |         list_dot_product(q.codes, c.codes) * q.scale * c.scale / 16129.0 score
        |  FROM (SELECT * FROM enc WHERE vec_id < 20) q
        |  JOIN enc c ON q.vec_id != c.vec_id),
        |r AS (
        |  SELECT query_id, neighbor_id, score,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY score DESC, neighbor_id) rk
        |  FROM scored)
        |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id,
        |       round(score, 9) AS score
        |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      val e = s.table("embeddings")
      Sq8.topK(e, e.where(col("vec_id") < 20), "vec_id", "embedding", 5)
        .orderBy("query_id", "rk")
    },

    // Matryoshka truncation QC: recall@10 of prefix-dim cosine top-k
    // against the full 64-dim ranking, for 8/16/32-dim prefixes —
    // "how many dims can retrieval drop". Integer hit counts, fixed-
    // point recall.
    q("q189_matryoshka_recall", matryoshkaOracleSql(Seq(8, 16, 32), k = 10)) {
      (s, d) =>
        view(s, d, "embeddings")
        val e = s.table("embeddings")
        val queries = e.where(col("vec_id") < 20)
        val exact = Similarity.bruteForceKnn(e, queries, "vec_id", "embedding", 10)
          .cache()
        exact.count() // one exact pass shared by all three prefix joins
        val per = Seq(8, 16, 32).map { dims =>
          def trunc(df: org.apache.spark.sql.DataFrame) =
            df.select(col("vec_id"), slice(col("embedding"), 1, dims).as("embedding"))
          val approx = Similarity.bruteForceKnn(trunc(e), trunc(queries),
            "vec_id", "embedding", 10)
          exact.as("e").join(approx.as("a"),
              col("e.query_id") === col("a.query_id") &&
                col("e.neighbor_id") === col("a.neighbor_id"), "left")
            .agg(count(col("a.neighbor_id")).as("hits"),
              count(lit(1)).as("total"))
            .select(lit(dims).as("dims"), col("hits"), col("total"),
              expr("(hits * 10000L) DIV total").as("recall_fp"))
        }
        per.reduce(_ unionAll _).orderBy("dims")
    },

    // Distinct l-diversity over (event_type, day) with user_id as the
    // sensitive attribute: group size (k-anonymity) plus how many
    // DISTINCT users hide in each group.
    q("q190_l_diversity",
      """WITH g AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |         count(*) n, count(DISTINCT user_id) diversity
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(day AS BIGINT) AS day, CAST(n AS BIGINT) AS n,
        |       CAST(diversity AS BIGINT) AS diversity,
        |       diversity >= 3 AS diverse
        |FROM g ORDER BY event_type, day""".stripMargin) { (s, d) =>
      view(s, d, "events")
      val ev = s.table("events")
        .withColumn("day", expr("ts DIV 86400000000000"))
      Privacy.lDiversityProfile(ev, Seq("event_type", "day"), "user_id", l = 3)
        .select(col("event_type"), col("day"), col("n"),
          col("diversity"), col("diverse"))
        .orderBy("event_type", "day")
    },

    // Exponentially decayed event counts (1-day buckets, 7-day half
    // life): dyadic 2^-age weights summed as exact BIGINTs in units of
    // 2^-40 — the freshness signal next to the raw count.
    q("q191_decayed_counts",
      """WITH b AS (
        |  SELECT event_type g, epoch_ns(ts) // 86400000000000 bk FROM events),
        |mx AS (SELECT max(bk) m FROM b),
        |w AS (
        |  SELECT g,
        |         CASE WHEN (m - bk) // 7 <= 40
        |              THEN (1::BIGINT << 40) >> ((m - bk) // 7)
        |              ELSE 0 END w
        |  FROM b CROSS JOIN mx)
        |SELECT g AS event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(w) AS BIGINT) AS decayed_fp
        |FROM w GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      view(s, d, "events")
      EventOps.decayedCounts(s.table("events"), "event_type", "ts",
          bucket = 86400000000000L, halfLifeBuckets = 7L)
        .select(col("g").as("event_type"), col("n"), col("decayed_fp"))
        .orderBy("event_type")
    },

    // Degree assortativity of the co-part graph: exact integer moment
    // sums, one final double division — the one-number structural
    // fingerprint for diffing corpus graphs across releases.
    q("q192_assortativity",
      """WITH lp AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT x.p a, y.p b FROM lp x
        |  JOIN lp y ON x.o = y.o AND x.p < y.p),
        |deg AS MATERIALIZED (
        |  SELECT node, count(*) deg FROM
        |    (SELECT a node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |ends AS (SELECT a x, b y FROM e UNION ALL SELECT b x, a y FROM e),
        |j AS (
        |  SELECT dx.deg dx, dy.deg dy FROM ends
        |  JOIN deg dx ON dx.node = ends.x
        |  JOIN deg dy ON dy.node = ends.y),
        |m AS (SELECT count(*) n, sum(dx) sx, sum(dx * dx) sxx,
        |             sum(dx * dy) sxy FROM j)
        |SELECT CAST(n AS BIGINT) AS n_edge_ends,
        |       CASE WHEN n * sxx - sx * sx > 0
        |            THEN round(CAST(n * sxy - sx * sx AS DOUBLE)
        |                       / CAST(n * sxx - sx * sx AS DOUBLE), 9)
        |       END AS assortativity
        |FROM m""".stripMargin) { (s, d) =>
      view(s, d, "lineitem")
      Graph.degreeAssortativity(coPartEdges(s), "src", "dst")
    },

    // 3-truss of the REPEAT co-part graph (pairs bought together in >= 2
    // orders): every surviving edge sits in at least one triangle of
    // repeat co-purchases — edge-level cohesion, one notch stricter
    // than q184's node-degree core.
    q("q193_ktruss", kTrussOracleSql(k = 3, rounds = 5)) { (s, d) =>
      view(s, d, "lineitem")
      Graph.kTruss(repeatCoPartEdges(s), "src", "dst", k = 3)
        .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"),
          col("support"))
        .orderBy("a", "b")
    },

    // Personalized PageRank from the ~1% seed parts (p % 97 = 0):
    // proximity-to-seeds in pure integer fixed point, the "find more
    // like these" primitive. Oracle replays all 3 iterations.
    q("q194_ppr", pprOracleSql(iters = 3)) { (s, d) =>
      view(s, d, "lineitem")
      val pairs = coPartEdges(s).distinct()
      // one-generator symmetrization — q163's rationale: the union's two
      // branches would each re-run the distinct + self-join subtree
      val sym = pairs.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val nodes = s.table("lineitem").select(col("l_partkey").as("id")).distinct()
      Graph.personalizedPageRankFp(nodes, sym, "id",
          nodes.where(col("id") % 97 === 0), iters = 3)
        .select(col("id").cast("long").as("id"), col("rank_fp"))
        .orderBy("id")
    },

    // Multi-source BFS blast radius: hop-distance histogram within 3
    // hops of the seed parts — how much of the graph a poisoned seed
    // set touches before a release gate cuts it.
    q("q195_bfs_reach",
      """WITH lp AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT x.p a, y.p b FROM lp x
        |  JOIN lp y ON x.o = y.o AND x.p < y.p),
        |adj AS MATERIALIZED (SELECT a m, b x FROM e UNION ALL SELECT b, a FROM e),
        |l0 AS MATERIALIZED (SELECT DISTINCT p node FROM lp WHERE p % 97 = 0),
        |f1 AS MATERIALIZED (
        |  SELECT DISTINCT adj.x node FROM adj JOIN l0 ON adj.m = l0.node
        |  WHERE adj.x NOT IN (SELECT node FROM l0)),
        |f2 AS MATERIALIZED (
        |  SELECT DISTINCT adj.x node FROM adj JOIN f1 ON adj.m = f1.node
        |  WHERE adj.x NOT IN (SELECT node FROM l0)
        |    AND adj.x NOT IN (SELECT node FROM f1)),
        |f3 AS MATERIALIZED (
        |  SELECT DISTINCT adj.x node FROM adj JOIN f2 ON adj.m = f2.node
        |  WHERE adj.x NOT IN (SELECT node FROM l0)
        |    AND adj.x NOT IN (SELECT node FROM f1)
        |    AND adj.x NOT IN (SELECT node FROM f2))
        |SELECT * FROM (
        |  SELECT 0 AS dist, CAST(count(*) AS BIGINT) AS n_nodes FROM l0
        |  UNION ALL SELECT 1, count(*) FROM f1
        |  UNION ALL SELECT 2, count(*) FROM f2
        |  UNION ALL SELECT 3, count(*) FROM f3)
        |WHERE n_nodes > 0 ORDER BY dist""".stripMargin) { (s, d) =>
      view(s, d, "lineitem")
      val nodes = s.table("lineitem").select(col("l_partkey").as("id")).distinct()
      Graph.bfsDistances(coPartEdges(s), "src", "dst",
          nodes.where(col("id") % 97 === 0), "id", maxDepth = 3)
        .groupBy("dist").agg(count(lit(1)).as("n_nodes"))
        .orderBy("dist")
    },

    // Bit-packed hyperplane-LSH top-10: 63 md5-seeded sign bits per
    // vector in ONE BIGINT, ranked by XOR+popcount. The oracle rebuilds
    // the identical matrix (q44's md5 convention), codes, and ranking —
    // row-exact, not a recall bar.
    q("q196_hamming_topk",
      """WITH pm AS (
        |  SELECT j, list(CASE WHEN strpos('01234567',
        |                        substr(md5('42:' || j || ':' || i), 1, 1)) > 0
        |                      THEN 1.0 ELSE -1.0 END ORDER BY i) AS row
        |  FROM range(63) t1(j), range(64) t2(i) GROUP BY j),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |codes AS (
        |  SELECT e.vec_id,
        |         CAST(sum(CASE WHEN list_dot_product(e.v, pm.row) >= 0
        |                       THEN (1::BIGINT << pm.j) ELSE 0 END) AS BIGINT) code
        |  FROM e, pm GROUP BY e.vec_id),
        |scored AS (
        |  SELECT q.vec_id query_id, c.vec_id neighbor_id,
        |         bit_count(xor(q.code, c.code)) h
        |  FROM (SELECT * FROM codes WHERE vec_id < 20) q
        |  JOIN codes c ON q.vec_id != c.vec_id),
        |r AS (
        |  SELECT query_id, neighbor_id, h,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY h, neighbor_id) rk
        |  FROM scored)
        |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id,
        |       CAST(h AS INT) AS hamming
        |FROM r WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      val e = s.table("embeddings")
      Embeddings.hammingKnn(e, e.where(col("vec_id") < 20), "vec_id",
          "embedding", k = 10, inDim = 64, bits = 63)
        .orderBy("query_id", "rk")
    },

    // Association rules over order baskets (2-itemset Apriori core):
    // support/confidence/lift in integer fixed point, top-20 by
    // confidence — the co-occurrence miner behind "documents citing X
    // also cite Y" and template detection.
    q("q197_assoc_rules",
      """WITH bi AS (SELECT DISTINCT l_orderkey b, l_partkey i FROM lineitem),
        |nb AS (SELECT count(DISTINCT b) n FROM bi),
        |ic AS (SELECT i, count(*) n_i FROM bi GROUP BY 1),
        |p AS (
        |  SELECT x.i a, y.i c, count(*) w FROM bi x
        |  JOIN bi y ON x.b = y.b AND x.i < y.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |rules AS (SELECT a ant, c cons, w FROM p
        |          UNION ALL SELECT c, a, w FROM p),
        |scored AS (
        |  SELECT ant, cons, w,
        |         (w * 10000) // nb.n support_fp,
        |         (w * 10000) // ia.n_i confidence_fp,
        |         (w * nb.n * 10000) // (ia.n_i * ico.n_i) lift_fp
        |  FROM rules
        |  JOIN ic ia ON ia.i = rules.ant
        |  JOIN ic ico ON ico.i = rules.cons
        |  CROSS JOIN nb)
        |SELECT CAST(ant AS BIGINT) AS ant, CAST(cons AS BIGINT) AS cons,
        |       CAST(w AS BIGINT) AS w, CAST(support_fp AS BIGINT) AS support_fp,
        |       CAST(confidence_fp AS BIGINT) AS confidence_fp,
        |       CAST(lift_fp AS BIGINT) AS lift_fp
        |FROM scored
        |ORDER BY confidence_fp DESC, lift_fp DESC, ant, cons
        |LIMIT 20""".stripMargin) { (s, d) =>
      view(s, d, "lineitem")
      graft.operators.Association.associationRules(
          s.table("lineitem"), "l_orderkey", "l_partkey",
          minPairCount = 2L, topN = 20)
        .select(col("ant").cast("long").as("ant"),
          col("cons").cast("long").as("cons"), col("w"),
          col("support_fp"), col("confidence_fp"), col("lift_fp"))
    },

    // Per-term burstiness (variance-to-mean of per-doc counts): clumpy
    // terms are topical-or-spam, VMR ~ 1 is Poisson scatter. Exact
    // integer moments, one floor division.
    q("q198_burstiness",
      """WITH tf AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) term
        |  FROM documents),
        |c AS (SELECT doc_id, term, count(*) c FROM tf GROUP BY 1, 2),
        |nd AS (SELECT count(*) n FROM documents),
        |m AS (
        |  SELECT term, count(*) n_docs_with, sum(c) s, sum(c * c) q
        |  FROM c GROUP BY term)
        |SELECT term, CAST(n_docs_with AS BIGINT) AS n_docs_with,
        |       CAST(s AS BIGINT) AS total,
        |       CAST(CASE WHEN nd.n > 1
        |                 THEN (10000 * (nd.n * q - s * s)) // ((nd.n - 1) * s)
        |            ELSE 0 END AS BIGINT) AS vmr_fp
        |FROM m CROSS JOIN nd ORDER BY term""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      TextOps.termBurstiness(s.table("documents"), "doc_id", "text")
        .orderBy("term")
    },

    // Streaming sessionization must agree with the batch operator: the
    // event slice replays through StreamingOps.sessionize (append mode,
    // session_window state) in two micro-batches plus one far-future
    // sentinel that flushes every real session; per-user session/event
    // counts then face q27's batch oracle.
    q("q199_streaming_sessionize",
      """WITH o AS (
        |  SELECT user_id, epoch_ns(ts)//1000 t,
        |         lag(epoch_ns(ts)//1000) OVER (PARTITION BY user_id ORDER BY ts) p
        |  FROM events WHERE user_id < 40)
        |SELECT user_id,
        |       CAST(1 + sum(CASE WHEN p IS NOT NULL AND t - p > 43200000000
        |                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |       count(*) AS n_events
        |FROM o GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      view(s, d, "events")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      val rows = s.table("events").where(col("user_id") < 40)
        .select(expr("timestamp_micros(ts DIV 1000)").as("t"), col("user_id"))
        .orderBy("t").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)))
      val maxT = rows.map(_._1.getTime).max
      // 4 state-store partitions for the bounded replay (q134's
      // pattern): 32 would mean 32 per-batch state commits for a
      // 40-user slice
      withConfs(s, StateParts) {
        val input = MemoryStream[(java.sql.Timestamp, Long)](s)
        val sess = graft.streaming.StreamingOps.sessionize(
          input.toDF().toDF("t", "user_id"), "user_id", "t",
          gap = "12 hours", watermarkDelay = "0 seconds")
        val sink = "graft_q199_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val qy = sess.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          val (b1, b2) = rows.splitAt(rows.length / 2)
          input.addData(b1.toSeq)
          qy.processAllAvailable()
          input.addData(b2.toSeq)
          qy.processAllAvailable()
          // sentinel user -1 far past every real session: watermark
          // jumps, all real sessions close and emit
          input.addData(Seq((new java.sql.Timestamp(maxT + 100L * 86400000L), -1L)))
          qy.processAllAvailable()
        } finally qy.stop()
        s.table(sink).where(col("user_id") >= 0)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
          .orderBy("user_id")
      }
    },

    // CDC merge: planted change batch (updates on %10, deletes on %17,
    // inserts at +3M on %23) applied to the documents snapshot; the
    // oracle replays merge semantics set-algebraically and checks
    // per-source row counts + a content checksum — order-free exact
    // integers, so a row lost or doubled by the merge cannot hide.
    q("q200_merge_upsert",
      """WITH ch AS (
        |  SELECT doc_id, 'U' op, 'updated ' || text AS text, lang, source
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, 'D', text, lang, source
        |  FROM documents WHERE doc_id % 17 = 0 AND doc_id % 10 != 0
        |  UNION ALL
        |  SELECT doc_id + 3000000, 'I', 'inserted doc ' || CAST(doc_id AS VARCHAR),
        |         lang, source
        |  FROM documents WHERE doc_id % 23 = 0),
        |merged AS (
        |  SELECT d.doc_id, d.text, d.source FROM documents d
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM ch)
        |  UNION ALL
        |  SELECT doc_id, text, source FROM ch WHERE op IN ('I', 'U'))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000)
        |            AS BIGINT) AS checksum_fp
        |FROM merged GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      val changes = docs.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit("U").as("op"),
          concat(lit("updated "), col("text")).as("text"), col("lang"), col("source"))
        .unionAll(docs.where(col("doc_id") % 17 === 0 && col("doc_id") % 10 =!= 0)
          .select(col("doc_id"), lit("D").as("op"), col("text"), col("lang"),
            col("source")))
        .unionAll(docs.where(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), lit("I").as("op"),
            concat(lit("inserted doc "), col("doc_id").cast("string")).as("text"),
            col("lang"), col("source")))
      graft.operators.Cdc.mergeChanges(
          docs, changes, "doc_id", "op", requireUniqueKeys = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(conv(substring(md5(col("text").cast("binary")), 1, 15), 16, 10)
            .cast("long") % 1000000L).as("checksum_fp"))
        .orderBy("source")
    },

    // Referential-integrity audit with PLANTED violations (dangling
    // orderkeys at +50M on every 1000th lineitem): exact dangling-row
    // counts per FK edge of the star schema — the pre-release gate that
    // catches a partial load before a join silently drops rows.
    q("q201_ref_integrity",
      """WITH li AS (
        |  SELECT l_orderkey, l_partkey FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey + 50000000, l_partkey FROM lineitem
        |  WHERE l_orderkey % 1000 = 0)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM li
        |   LEFT JOIN orders ON li.l_orderkey = orders.o_orderkey
        |   WHERE orders.o_orderkey IS NULL) AS dangling_li_orders,
        |  (SELECT CAST(count(*) AS BIGINT) FROM li
        |   LEFT JOIN part ON li.l_partkey = part.p_partkey
        |   WHERE part.p_partkey IS NULL) AS dangling_li_part,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   LEFT JOIN customer ON orders.o_custkey = customer.c_custkey
        |   WHERE customer.c_custkey IS NULL) AS dangling_orders_cust""".stripMargin) {
      (s, d) =>
        view(s, d, "lineitem", "orders", "part", "customer")
        val li = s.table("lineitem").select(col("l_orderkey"), col("l_partkey"))
          .unionAll(s.table("lineitem").where(col("l_orderkey") % 1000 === 0)
            .select((col("l_orderkey") + 50000000L).as("l_orderkey"), col("l_partkey")))
        val a = li.join(s.table("orders"),
            li("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("dangling_li_orders"))
        val b = li.join(s.table("part"),
            li("l_partkey") === col("p_partkey"), "left_anti")
          .agg(count(lit(1)).as("dangling_li_part"))
        val c = s.table("orders").join(s.table("customer"),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("dangling_orders_cust"))
        a.crossJoin(b).crossJoin(c)
    },

    // Benford leading-digit profile of event values: fabricated-data
    // smell test. Leading digit via the INTEGER decimal rendering (no
    // log10 boundary jitter), chi-square contributions in pure floor
    // division — bit-exact in any engine.
    q("q202_benford",
      """WITH v AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) v FROM events
        |  WHERE value IS NOT NULL AND value > 0),
        |o AS (
        |  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) digit,
        |         count(*) n_obs
        |  FROM v WHERE v > 0 GROUP BY 1),
        |e AS (
        |  SELECT unnest([1,2,3,4,5,6,7,8,9]) digit,
        |         unnest([301030,176091,124939,96910,79181,66947,57992,51153,45757])
        |           expected_ppm),
        |n AS (SELECT sum(n_obs) n FROM o)
        |SELECT e.digit, CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
        |       CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
        |       CAST(CASE WHEN (n.n * e.expected_ppm) // 1000 > 0
        |                 THEN ((1000 * coalesce(o.n_obs, 0)
        |                        - (n.n * e.expected_ppm) // 1000)
        |                       * (1000 * coalesce(o.n_obs, 0)
        |                          - (n.n * e.expected_ppm) // 1000))
        |                      // ((n.n * e.expected_ppm) // 1000)
        |            ELSE 0 END AS BIGINT) AS chi2_fp
        |FROM e LEFT JOIN o USING (digit) CROSS JOIN n
        |ORDER BY digit""".stripMargin) { (s, d) =>
      view(s, d, "events")
      Profiler.benfordProfile(s.table("events"), "value", scale = 100L)
        .orderBy("digit")
    },

    // Simplified silhouette over the q122 clustering: per-cluster mean
    // (b-a)/max(a,b) in 1e4 fixed point on exact lattice distances —
    // the cluster-quality gate before any per-cluster curation
    // decision. The oracle extends the full 2-round Lloyd replay.
    q("q203_silhouette",
      s"""$kmeansOracleCtes,
         |sil AS (
         |  SELECT s2.vec_id, a2.cl,
         |         CAST(max(CASE WHEN s2.j = a2.cl THEN s2.dist END) AS BIGINT) a,
         |         CAST(min(CASE WHEN s2.j != a2.cl THEN s2.dist END) AS BIGINT) b
         |  FROM s2 JOIN a2 USING (vec_id) GROUP BY 1, 2),
         |sfp AS (
         |  SELECT cl, CASE WHEN greatest(a, b) > 0
         |                  THEN ((b - a) * 10000) // greatest(a, b)
         |             ELSE 0 END s
         |  FROM sil)
         |SELECT CAST(cl AS BIGINT) AS cluster, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(s) // count(*) AS BIGINT) AS mean_sil_fp
         |FROM sfp GROUP BY cl ORDER BY cluster""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      Clustering.silhouetteProfile(s.table("embeddings"), "vec_id", "embedding",
          k = 8, iters = 2)
        .orderBy("cluster")
    },

    // WebDataset-style tar shard ROUNDTRIP: documents write as 4 ustar
    // shard files (byte-identical across runs — pinned mtime, id-
    // ordered entries, md5 shard hashing) and the result comes from
    // READING the tars back — the oracle recomputes the expected
    // manifest straight from the table, so a byte lost anywhere in the
    // write→parse cycle breaks the match.
    q("q204_tar_roundtrip",
      """SELECT CAST(CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |            AS BIGINT) % 4 AS INT) AS shard,
        |       CAST(count(*) AS BIGINT) AS n_entries,
        |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val out = scratchDir("graft_q204_")
      graft.sources.TarShards.write(s.table("documents"), "doc_id", "text",
        out, numShards = 4)
      graft.sources.TarShards.read(s, out)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_entries"),
          sum(length(col("content"))).as("n_bytes"))
        .orderBy("shard")
    },

    // Z-order layout report: Morton-interleave (partkey, suppkey) and
    // measure, per z-bucket, how tightly BOTH dimensions are bounded —
    // the Delta/Iceberg ZORDER-BY skipping argument as a measurable
    // query. Pure bit arithmetic, bit-exact in any engine.
    q("q205_zorder_layout", zOrderOracleSql(bits = 16, bucketBits = 6)) { (s, d) =>
      view(s, d, "lineitem")
      graft.operators.Layout.zOrderReport(s.table("lineitem"),
          "l_partkey", "l_suppkey", bits = 16, bucketBits = 6)
        .orderBy("bucket")
    },

    // Keyed pseudonymization: user_id replaced by the 60-bit salted-md5
    // surrogate; per-type event counts, distinct-user counts, and a
    // distinct-surrogate checksum must all survive the mapping — the
    // referential-consistency contract that makes pseudonymized data
    // still joinable.
    q("q206_pseudonymize",
      """WITH p AS (
        |  SELECT event_type,
        |         CAST(('0x' || substr(md5('r8:' || CAST(user_id AS VARCHAR)), 1, 15))
        |              AS BIGINT) surrogate
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(DISTINCT surrogate) AS BIGINT) AS n_users,
        |       CAST(sum(DISTINCT surrogate % 1000000) AS BIGINT) AS surrogate_sum
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      view(s, d, "events")
      Privacy.pseudonymize(s.table("events"), Seq("user_id"), salt = "r8")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum_distinct(col("user_id") % 1000000L).as("surrogate_sum"))
        .orderBy("event_type")
    },

    // Streaming content dedup parity: originals stream in batch 1,
    // planted exact copies in batch 2 — the copies must ALL die against
    // the first batch's state (and batch 1's organic duplicates must
    // collapse). Exactly one survivor per content hash, none lost:
    // the distinct-hash set equals the batch dedup's.
    q("q207_streaming_dedup",
      """WITH inp AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 4 = 0)
        |SELECT DISTINCT md5(text) AS content_hash, CAST(1 AS BIGINT) AS n_kept
        |FROM inp ORDER BY content_hash""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      val docs = s.table("documents").select(col("doc_id"), col("text"))
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
      val dups = docs.filter(_._1 % 4 == 0).map { case (i, t) => (i + 1000000L, t) }
      withConfs(s, StateParts) {
        val input = MemoryStream[(Long, String)](s)
        val deduped = graft.streaming.StreamingOps.dedupByContent(
          input.toDF().toDF("doc_id", "text")
            .withColumn("t", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))),
          "text", "t", watermarkDelay = "0 seconds")
        val sink = "graft_q207_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val qy = deduped.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          input.addData(docs.toSeq)
          qy.processAllAvailable()
          input.addData(dups.toSeq)
          qy.processAllAvailable()
        } finally qy.stop()
        s.table(sink)
          .select(md5(col("text").cast("binary")).as("content_hash"))
          .groupBy("content_hash").agg(count(lit(1)).as("n_kept"))
          .orderBy("content_hash")
      }
    },

    // Weighted PageRank over the co-part graph: rank mass flows
    // proportionally to co-occurrence counts (a pair bought together 5
    // times endorses 5x). Pure integer shares; the oracle replays all 3
    // iterations with the same weighted DIV update.
    q("q208_weighted_pagerank", weightedPrOracleSql(iters = 3)) { (s, d) =>
      view(s, d, "lineitem")
      val lp = s.table("lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val pairs = lp.as("x").join(lp.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("a"), col("y.p").as("b"))
        .agg(count(lit(1)).as("w"))
      // one-generator symmetrization — q163's rationale: the union's two
      // branches would each re-run the co-occurrence aggregation
      val sym = pairs.select(explode(array(
          struct(col("a").as("src"), col("b").as("dst"), col("w")),
          struct(col("b").as("src"), col("a").as("dst"), col("w")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
      val nodes = s.table("lineitem").select(col("l_partkey").as("id")).distinct()
      Graph.weightedPageRankFp(nodes, sym, "id", "w", iters = 3)
        .select(col("id").cast("long").as("id"), col("rank_fp"))
        .orderBy("id")
    },

    // Streaming windowed distinct users per day through the sketch
    // lifecycle: daily approx_count_distinct_accumulate state in append
    // mode, flushed by one far-future sentinel, estimated after the
    // fact — sub-capacity sketches are exact, so the oracle is plain
    // count(DISTINCT).
    q("q209_streaming_daily_users",
      """SELECT CAST(epoch_ns(ts)//86400000000000 AS BIGINT) AS day,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events WHERE user_id < 64
        |GROUP BY 1 ORDER BY day""".stripMargin) { (s, d) =>
      view(s, d, "events")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      val rows = s.table("events").where(col("user_id") < 64)
        .select(expr("timestamp_micros(ts DIV 1000)").as("t"), col("user_id"))
        .orderBy("t").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)))
      val maxT = rows.map(_._1.getTime).max
      withConfs(s, StateParts) {
        val input = MemoryStream[(java.sql.Timestamp, Long)](s)
        val agg = input.toDF().toDF("t", "user_id")
          .withWatermark("t", "0 seconds")
          .groupBy(window(col("t"), "1 day"))
          .agg(expr("approx_count_distinct_accumulate(cast(user_id as string))")
            .as("sk"))
        val sink = "graft_q209_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val qy = agg.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          val (b1, b2) = rows.splitAt(rows.length / 2)
          input.addData(b1.toSeq)
          qy.processAllAvailable()
          input.addData(b2.toSeq)
          qy.processAllAvailable()
          input.addData(Seq((new java.sql.Timestamp(maxT + 100L * 86400000L), -1L)))
          qy.processAllAvailable()
        } finally qy.stop()
        val maxRealDay = maxT / 86400000L
        s.table(sink)
          .select(expr("unix_micros(window.start) DIV 86400000000").as("day"),
            expr("approx_count_distinct_estimate(sk)").as("n_users"))
          .where(col("day") <= maxRealDay)
          .orderBy("day")
      }
    },

    // Pixel-level multimodal features: decode the REAL planted PNGs,
    // sum all three channels, and resize to an 8x8 nearest-neighbor
    // thumbnail. The oracle recomputes every pixel arithmetically from
    // the planting formula — a hash match proves the codec decoded
    // actual pixel data and the integer resize sampled the exact
    // source pixels.
    q("q210_image_features",
      """WITH d AS (
        |  SELECT doc_id, CAST(1 + doc_id % 16 AS INT) w,
        |         CAST(1 + (doc_id * 7) % 16 AS INT) h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, ((doc_id * 31 + x.i * 7 + y.j) & 16777215) v
        |  FROM d, range(16) x(i), range(16) y(j)
        |  WHERE x.i < w AND y.j < h),
        |sums AS (
        |  SELECT doc_id, CAST(sum((v >> 16) & 255) AS BIGINT) sum_r,
        |         CAST(sum((v >> 8) & 255) AS BIGINT) sum_g,
        |         CAST(sum(v & 255) AS BIGINT) sum_b
        |  FROM px GROUP BY 1),
        |th AS (
        |  SELECT d.doc_id,
        |         CAST(sum((d.doc_id * 31 + ((tx.i * d.w) // 8) * 7
        |                   + ((ty.j * d.h) // 8)) & 16777215) AS BIGINT) thumb_sum
        |  FROM d, range(8) tx(i), range(8) ty(j) GROUP BY 1)
        |SELECT d.doc_id, d.w AS width, d.h AS height,
        |       sums.sum_r, sums.sum_g, sums.sum_b, th.thumb_sum
        |FROM d JOIN sums USING (doc_id) JOIN th USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val media = Multimodal.synthesizeImageContent(s.table("documents"), "doc_id")
      Multimodal.imageFeatures(media, "doc_id", "content", thumb = 8)
        .orderBy("doc_id")
    },

    // Video frame sampling: decode the first and middle frame of each
    // real animated GIF and fingerprint their pixels. The oracle
    // replays the planted per-frame pixel formula THROUGH the 3-3-2
    // GIF palette arithmetic — a hash match proves the sampler decoded
    // the exact frames it claims.
    q("q211_video_frame_sample",
      """WITH d AS (
        |  SELECT doc_id, CAST(1 + doc_id % 8 AS INT) w,
        |         CAST(1 + (doc_id * 3) % 8 AS INT) h,
        |         CAST(2 + doc_id % 6 AS INT) frames
        |  FROM documents),
        |fi AS (
        |  SELECT doc_id, w, h, (k.i * frames) // 2 f
        |  FROM d, range(2) k(i)),
        |px AS (
        |  SELECT doc_id, f,
        |         ((doc_id * 31 + f * 131 + x.i * 7 + y.j) & 255) s
        |  FROM fi, range(8) x(i), range(8) y(j)
        |  WHERE x.i < w AND y.j < h),
        |rgb AS (
        |  SELECT doc_id, f,
        |         (((((s >> 5) & 7) * 255) // 7) << 16)
        |         | (((((s >> 2) & 7) * 255) // 7) << 8)
        |         | (((s & 3) * 255) // 3) v
        |  FROM px)
        |SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |       CAST(sum(v) AS BIGINT) AS pix_sum
        |FROM rgb GROUP BY 1, 2 ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val media = Multimodal.synthesizeVideoContent(s.table("documents"), "doc_id")
      Multimodal.sampleVideoFrames(media, "doc_id", "content", k = 2)
        .orderBy("doc_id", "frame_idx")
    },

    // Same truss, same oracle as q193 — but with deltaMinEdges=0 so the
    // INCREMENTAL support-maintenance path (frontier-sized triangle
    // re-derivation instead of a census per peel round) is what runs and
    // gets hash-checked against DuckDB on real data. q193 keeps the
    // production default, which censuses graphs this small.
    q("q212_ktruss_incremental", kTrussOracleSql(k = 3, rounds = 5)) { (s, d) =>
      view(s, d, "lineitem")
      Graph.kTruss(repeatCoPartEdges(s), "src", "dst", k = 3,
          deltaMinEdges = 0L)
        .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"),
          col("support"))
        .orderBy("a", "b")
    },

    // Inter-annotator agreement: rater A = event_type, rater B = the
    // same label except every 7th event flips to its reversed string —
    // a deterministic ~14% disagreement whose kappa the oracle replays
    // with the same all-integer (agree*n - S) / (n^2 - S) formula,
    // sign-safe truncated division on both engines.
    q("q213_label_agreement",
      """WITH lab AS (
        |  SELECT event_type a,
        |         CASE WHEN event_id % 7 = 0 THEN reverse(event_type)
        |              ELSE event_type END b
        |  FROM events),
        |ma AS (SELECT a, CAST(count(*) AS BIGINT) na FROM lab GROUP BY 1),
        |mb AS (SELECT b, CAST(count(*) AS BIGINT) nb FROM lab GROUP BY 1),
        |ch AS (SELECT coalesce(CAST(sum(na * nb) AS BIGINT), 0) s
        |       FROM ma JOIN mb ON ma.a = mb.b),
        |base AS (SELECT CAST(count(*) AS BIGINT) n,
        |                CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) agree
        |         FROM lab)
        |SELECT n AS n_items, agree AS n_agree,
        |       CAST(CASE WHEN n * n = s THEN NULL
        |            WHEN agree * n - s < 0
        |              THEN -(((s - agree * n) * 10000) // (n * n - s))
        |            ELSE ((agree * n - s) * 10000) // (n * n - s) END
        |         AS BIGINT) AS kappa_fp
        |FROM base, ch""".stripMargin) { (s, d) =>
      view(s, d, "events")
      val lab = s.table("events").select(
        col("event_type").as("rater_a"),
        when(col("event_id") % 7 === 0, reverse(col("event_type")))
          .otherwise(col("event_type")).as("rater_b"))
      Profiler.labelAgreement(lab, "rater_a", "rater_b")
    },

    // Directional shingle containment at 4/5: the boilerplate-wrapper
    // near-dup signal (short doc embedded in a long one) that symmetric
    // Jaccard (q21) misses. Oracle brute-forces every ordered pair with
    // the same 5-gram shingle sets.
    q("q214_containment_pairs",
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') ws
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |         CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
        |              ELSE list_distinct(list_transform(range(len(ws) - 4),
        |                     i -> array_to_string(ws[i+1:i+5], ' '))) END sh
        |  FROM w),
        |pairs AS (
        |  SELECT a.doc_id id_a, b.doc_id id_b,
        |         len(list_intersect(a.sh, b.sh)) inter,
        |         len(a.sh) sz_a, len(b.sh) sz_b
        |  FROM d a JOIN d b ON a.doc_id <> b.doc_id)
        |SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
        |       CAST(sz_a AS BIGINT) AS sz_a, CAST(sz_b AS BIGINT) AS sz_b
        |FROM pairs WHERE inter * 5 >= sz_a * 4 ORDER BY id_a, id_b""".stripMargin) {
      (s, d) =>
      view(s, d, "documents")
      Dedup.containmentPairs(s.table("documents"), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },

    // Fleiss' kappa over a synthetic 3-rater panel: events bucket into
    // 997 items, each item's first three events (by event_id) are its
    // ratings, and every 11k-th-ish rating flips to the reversed label —
    // the oracle replays the all-integer ((T-Nm)Nm - Q(m-1)) /
    // ((m-1)((Nm)^2 - Q)) formula with sign-safe division.
    q("q215_fleiss_kappa",
      """WITH r AS (
        |  SELECT event_id, event_type,
        |         row_number() OVER (PARTITION BY event_id % 997
        |                            ORDER BY event_id) rn
        |  FROM events),
        |lab AS (
        |  SELECT event_id % 997 item,
        |         CASE WHEN (event_id * 7) % 11 < 2 THEN reverse(event_type)
        |              ELSE event_type END lab
        |  FROM r WHERE rn <= 3),
        |cell AS (SELECT item, lab, CAST(count(*) AS BIGINT) nik
        |         FROM lab GROUP BY 1, 2),
        |tt AS (SELECT CAST(sum(nik * nik) AS BIGINT) t2,
        |              CAST(count(DISTINCT item) AS BIGINT) n FROM cell),
        |qq AS (SELECT CAST(sum(sk * sk) AS BIGINT) q FROM
        |         (SELECT CAST(sum(nik) AS BIGINT) sk FROM cell GROUP BY lab))
        |SELECT n AS n_items, n * 3 AS n_ratings,
        |       CAST(CASE WHEN (n * 3) * (n * 3) = q THEN NULL
        |            WHEN (t2 - n * 3) * (n * 3) - q * 2 < 0
        |              THEN -(((q * 2 - (t2 - n * 3) * (n * 3)) * 10000)
        |                     // (2 * ((n * 3) * (n * 3) - q)))
        |            ELSE (((t2 - n * 3) * (n * 3) - q * 2) * 10000)
        |                 // (2 * ((n * 3) * (n * 3) - q)) END AS BIGINT) AS kappa_fp
        |FROM tt, qq""".stripMargin) { (s, d) =>
      view(s, d, "events")
      Profiler.fleissKappa(raterPanel(s), "item", "lab", m = 3)
    },

    // Majority-vote consensus labels over the same 3-rater panel:
    // winning label per item, vote share in 1e4 fixed point, ties to
    // the lexicographically smallest label (deterministic across
    // engines and retries).
    q("q216_consensus_labels",
      """WITH r AS (
        |  SELECT event_id, event_type,
        |         row_number() OVER (PARTITION BY event_id % 997
        |                            ORDER BY event_id) rn
        |  FROM events),
        |lab AS (
        |  SELECT event_id % 997 item,
        |         CASE WHEN (event_id * 7) % 11 < 2 THEN reverse(event_type)
        |              ELSE event_type END lab
        |  FROM r WHERE rn <= 3),
        |cell AS (SELECT item, lab, CAST(count(*) AS BIGINT) n_votes
        |         FROM lab GROUP BY 1, 2),
        |w AS (SELECT item, lab, n_votes,
        |        CAST(sum(n_votes) OVER (PARTITION BY item) AS BIGINT) n_raters,
        |        row_number() OVER (PARTITION BY item
        |                           ORDER BY n_votes DESC, lab) rk
        |      FROM cell)
        |SELECT item, lab AS label, n_votes, n_raters,
        |       CAST((n_votes * 10000) // n_raters AS BIGINT) AS share_fp
        |FROM w WHERE rk = 1 ORDER BY item""".stripMargin) { (s, d) =>
      view(s, d, "events")
      Profiler.consensusLabels(raterPanel(s), "item", "lab")
        .orderBy("item")
    },

    // Per-label precision/recall/F1 of a "predictor" (event_type with
    // every 7th event flipped to its reversed string) against gold
    // event_type — the classifier-eval primitive. F1 replays exactly as
    // 2tp/(2tp+fp+fn) (no nested division); labels never predicted have
    // NULL precision, never gold NULL recall.
    q("q217_confusion_stats",
      """WITH lab AS (
        |  SELECT event_type g,
        |         CASE WHEN event_id % 7 = 0 THEN reverse(event_type)
        |              ELSE event_type END p
        |  FROM events),
        |cm AS (SELECT g, p, CAST(count(*) AS BIGINT) n FROM lab GROUP BY 1, 2),
        |tp AS (SELECT g AS label, n tp FROM cm WHERE g = p),
        |pt AS (SELECT p AS label, CAST(sum(n) AS BIGINT) pred_n FROM cm GROUP BY 1),
        |gt AS (SELECT g AS label, CAST(sum(n) AS BIGINT) gold_n FROM cm GROUP BY 1),
        |j AS (
        |  SELECT coalesce(pt.label, gt.label) AS label,
        |         coalesce(tp.tp, 0) tp,
        |         coalesce(pt.pred_n, 0) - coalesce(tp.tp, 0) fp,
        |         coalesce(gt.gold_n, 0) - coalesce(tp.tp, 0) fn
        |  FROM pt FULL OUTER JOIN gt ON pt.label = gt.label
        |  LEFT JOIN tp ON coalesce(pt.label, gt.label) = tp.label)
        |SELECT label, tp, fp, fn,
        |       CAST(CASE WHEN tp + fp > 0 THEN (tp * 10000) // (tp + fp) END
        |         AS BIGINT) AS precision_fp,
        |       CAST(CASE WHEN tp + fn > 0 THEN (tp * 10000) // (tp + fn) END
        |         AS BIGINT) AS recall_fp,
        |       CAST(CASE WHEN 2 * tp + fp + fn > 0
        |            THEN (2 * tp * 10000) // (2 * tp + fp + fn) END
        |         AS BIGINT) AS f1_fp
        |FROM j ORDER BY label""".stripMargin) { (s, d) =>
      view(s, d, "events")
      val scored = s.table("events").select(
        col("event_type").as("gold"),
        when(col("event_id") % 7 === 0, reverse(col("event_type")))
          .otherwise(col("event_type")).as("pred"))
      Profiler.confusionStats(scored, "gold", "pred").orderBy("label")
    },

    // Data-contract gate over the orders snapshot: six declarative rules
    // (presence, range, pattern, enum domain, key uniqueness, referential
    // integrity against the customer dimension) validated in one pass +
    // one key agg + one anti-join. The range/enum/pattern rules are
    // deliberately tight enough to catch real rows, so both report
    // branches (pass and fail) are exercised.
    q("q218_data_contract",
      """WITH t AS (SELECT CAST(count(*) AS BIGINT) n FROM orders),
        |v AS (
        |  SELECT 'in_dim:o_custkey' AS rule,
        |         (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |          WHERE o.o_custkey IS NOT NULL
        |            AND o.o_custkey NOT IN (SELECT c_custkey FROM customer)) AS violations
        |  UNION ALL SELECT 'in_range:o_totalprice',
        |         (SELECT CAST(count(*) AS BIGINT) FROM orders
        |          WHERE o_totalprice IS NOT NULL
        |            AND (o_totalprice < 0 OR o_totalprice > 400000))
        |  UNION ALL SELECT 'in_set:o_orderstatus',
        |         (SELECT CAST(count(*) AS BIGINT) FROM orders
        |          WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O', 'F'))
        |  UNION ALL SELECT 'matches:o_orderpriority',
        |         (SELECT CAST(count(*) AS BIGINT) FROM orders
        |          WHERE o_orderpriority IS NOT NULL
        |            AND NOT regexp_matches(o_orderpriority, '^[1-4]-'))
        |  UNION ALL SELECT 'not_null:o_custkey',
        |         (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_custkey IS NULL)
        |  UNION ALL SELECT 'unique:o_orderkey',
        |         (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM
        |            (SELECT count(*) c FROM orders GROUP BY o_orderkey)))
        |SELECT v.rule, v.violations, t.n AS n_rows, v.violations = 0 AS pass
        |FROM v CROSS JOIN t ORDER BY rule""".stripMargin) { (s, d) =>
      view(s, d, "orders", "customer")
      Contracts.check(s.table("orders"), Seq(
        Contracts.NotNull("o_custkey"),
        Contracts.InRange("o_totalprice", 0.0, 400000.0),
        Contracts.Matches("o_orderpriority", "^[1-4]-"),
        Contracts.InSet("o_orderstatus", Seq("O", "F")),
        Contracts.Unique(Seq("o_orderkey")),
        Contracts.InDim("o_custkey", s.table("customer"), "c_custkey")))
    },

    // Entity resolution: every part name gets a deterministic one-char
    // deletion (position p_partkey % len) and an offset id, then links
    // back to the clean catalog via blocked levenshtein (prefix / suffix
    // / length-band keys, dist <= 2, ties to the smallest clean id). The
    // oracle replays blocking + scoring, so the recall contract of the
    // block design is pinned, not just the distance math.
    q("q219_entity_linkage",
      """WITH cl AS (SELECT p_partkey AS id, p_name AS nm FROM part),
        |dt AS (SELECT p_partkey + 100000 AS id,
        |              concat(substr(p_name, 1, CAST(p_partkey % length(p_name) AS INT)),
        |                     substr(p_name, CAST(p_partkey % length(p_name) + 2 AS INT))) AS nm
        |       FROM part),
        |db AS (SELECT id, nm, bk FROM dt,
        |       UNNEST(['p:' || substr(nm, 1, 3), 's:' || right(nm, 3),
        |               'l:' || CAST(length(nm) // 4 AS VARCHAR)]) AS u(bk)),
        |cb AS (SELECT id, nm, bk FROM cl,
        |       UNNEST(['p:' || substr(nm, 1, 3), 's:' || right(nm, 3),
        |               'l:' || CAST(length(nm) // 4 AS VARCHAR)]) AS u(bk)),
        |cand AS (SELECT DISTINCT db.id AS dirty_id, db.nm AS dn,
        |                cb.id AS clean_id, cb.nm AS cn
        |         FROM db JOIN cb USING (bk)),
        |scored AS (SELECT dirty_id, clean_id, levenshtein(dn, cn) AS dist
        |           FROM cand WHERE levenshtein(dn, cn) <= 2),
        |best AS (SELECT dirty_id, clean_id, dist,
        |                row_number() OVER (PARTITION BY dirty_id
        |                                   ORDER BY dist, clean_id) rk
        |         FROM scored)
        |SELECT dirty_id, clean_id, CAST(dist AS BIGINT) AS dist
        |FROM best WHERE rk = 1 ORDER BY dirty_id""".stripMargin) { (s, d) =>
      view(s, d, "part")
      val part = s.table("part")
      val dirty = part.select((col("p_partkey") + lit(100000L)).as("id"),
        expr("concat(substring(p_name, 1, cast(p_partkey % length(p_name) as int)), " +
          "substring(p_name, cast(p_partkey % length(p_name) + 2 as int)))").as("nm"))
      Linkage.linkByEditDistance(dirty, "id", "nm", part, "p_partkey", "p_name", 2)
        .orderBy("dirty_id")
    },

    // Ranking-quality eval: exact-cosine retrieval over the embeddings
    // corpus scored against label relevance with nDCG@5 + recall@5. The
    // discounts and ideal-DCG prefix sums are driver-frozen literals
    // shared with this oracle (see Retrieval.ndcgDiscounts), so the nDCG
    // doubles match bit-for-bit with no tolerance.
    q("q220_retrieval_ndcg", ndcgOracleSql(k = 5, nq = 8)) { (s, d) =>
      view(s, d, "embeddings")
      val e = s.table("embeddings")
      Retrieval.labelNdcgAtK(e, e.where(col("vec_id") < 8),
          "vec_id", "embedding", "label", k = 5)
        .orderBy("query_id")
    },

    // Krippendorff's alpha over a VARIABLE-panel rater table (2-4
    // ratings per item, ~18% flipped labels) — the agreement gate for
    // labeling campaigns where Fleiss' fixed-panel assumption (q215)
    // doesn't hold. All integer via the lcm(1..15) common denominator.
    q("q221_krippendorff_alpha",
      """WITH r AS (
        |  SELECT event_id, event_type, event_id % 991 AS item,
        |         row_number() OVER (PARTITION BY event_id % 991
        |                            ORDER BY event_id) rn
        |  FROM events),
        |lab AS (
        |  SELECT item,
        |         CASE WHEN (event_id * 7) % 11 < 2 THEN reverse(event_type)
        |              ELSE event_type END lab
        |  FROM r WHERE rn <= 2 + item % 3),
        |cell AS (SELECT item, lab, CAST(count(*) AS BIGINT) nik
        |         FROM lab GROUP BY 1, 2),
        |pi AS (SELECT item, CAST(sum(nik) AS BIGINT) ni FROM cell GROUP BY 1),
        |inc AS (SELECT item, ni FROM pi WHERE ni >= 2),
        |ds AS (SELECT CAST(coalesce(sum(c.nik * (i.ni - c.nik)
        |                 * (360360 // (i.ni - 1))), 0) AS BIGINT) do_scaled
        |       FROM cell c JOIN inc i USING (item)),
        |nt AS (SELECT CAST(count(*) AS BIGINT) n_items,
        |              CAST(coalesce(sum(ni), 0) AS BIGINT) n FROM inc),
        |qq AS (SELECT CAST(coalesce(sum(tc * tc), 0) AS BIGINT) qq FROM
        |         (SELECT CAST(sum(c.nik) AS BIGINT) tc FROM cell c
        |          JOIN inc i USING (item) GROUP BY c.lab))
        |SELECT nt.n_items, nt.n AS n_ratings,
        |       CAST(CASE WHEN nt.n * nt.n = qq.qq THEN NULL
        |            WHEN 360360 * (nt.n * nt.n - qq.qq)
        |                 - ds.do_scaled * (nt.n - 1) < 0
        |              THEN -(((ds.do_scaled * (nt.n - 1)
        |                       - 360360 * (nt.n * nt.n - qq.qq)) * 10000)
        |                     // (360360 * (nt.n * nt.n - qq.qq)))
        |            ELSE ((360360 * (nt.n * nt.n - qq.qq)
        |                   - ds.do_scaled * (nt.n - 1)) * 10000)
        |                 // (360360 * (nt.n * nt.n - qq.qq)) END AS BIGINT) AS alpha_fp
        |FROM nt, ds, qq""".stripMargin) { (s, d) =>
      view(s, d, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_id") % 991).orderBy(col("event_id"))
      val panel = s.table("events")
        .withColumn("item", col("event_id") % 991)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= lit(2) + pmod(col("item"), lit(3)))
        .select(col("item"),
          when((col("event_id") * 7) % 11 < 2, reverse(col("event_type")))
            .otherwise(col("event_type")).as("lab"))
      Profiler.krippendorffAlpha(panel, "item", "lab")
    },

    // Theil-Sen robust trend of daily event volume per type: the median
    // pairwise slope shrugs off the outlier days that wreck a least-
    // squares fit (cf. the q183 volume-anomaly detector). Lower-median
    // pick + single IEEE division per slope = bit-stable doubles.
    q("q222_theil_sen",
      """WITH daily AS (
        |  SELECT event_type, CAST(epoch_ns(ts) // 86400000000000 AS DOUBLE) x,
        |         CAST(count(*) AS DOUBLE) y
        |  FROM events GROUP BY event_type, epoch_ns(ts) // 86400000000000),
        |np AS (SELECT event_type, CAST(count(*) AS BIGINT) n_points
        |       FROM daily GROUP BY 1),
        |sl AS (SELECT a.event_type, (b.y - a.y) / (b.x - a.x) slope
        |       FROM daily a JOIN daily b
        |         ON a.event_type = b.event_type AND a.x < b.x),
        |m AS (SELECT event_type, slope,
        |             row_number() OVER (PARTITION BY event_type ORDER BY slope) rk,
        |             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) c
        |      FROM sl)
        |SELECT np.event_type, np.n_points,
        |       CAST(coalesce(m.c, 0) AS BIGINT) AS n_pairs, m.slope
        |FROM np LEFT JOIN m
        |  ON m.event_type = np.event_type AND m.rk = (m.c + 1) // 2
        |ORDER BY np.event_type""".stripMargin) { (s, d) =>
      view(s, d, "events")
      val daily = s.table("events")
        .groupBy(col("event_type"), expr("ts DIV 86400000000000").as("day"))
        .agg(count(lit(1)).as("n"))
      Profiler.theilSenTrend(daily, "event_type", "day", "n")
        .select(col("g").as("event_type"), col("n_points"), col("n_pairs"),
          col("slope"))
        .orderBy("event_type")
    },

    // Flesch reading-ease QC per source, on text given deterministic
    // sentence marks (literal ' the ' -> ' the. ' — no regex dialect in
    // the injection path). Scores are milli-point longs; the aggregate
    // avoids dividing possibly-negative totals so Spark's DIV (toward
    // zero) vs DuckDB's // (floor) semantics never meet a negative.
    q("q223_readability",
      """WITH t AS (SELECT source, replace(text, ' the ', ' the. ') t2
        |           FROM documents),
        |c AS (SELECT source, t2,
        |             CAST(len(regexp_split_to_array(trim(lower(t2)), '\s+'))
        |               AS BIGINT) w,
        |             CAST(len(regexp_extract_all(t2, '[.!?]+')) AS BIGINT) sraw,
        |             CAST(len(regexp_extract_all(lower(t2), '[aeiouy]+'))
        |               AS BIGINT) vraw
        |      FROM t),
        |sc AS (SELECT source,
        |              CASE WHEN w > 0 THEN
        |                206835 - (1015 * w) // greatest(sraw, 1)
        |                       - (84600 * greatest(vraw, w)) // w END AS score
        |       FROM c)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(score) AS BIGINT) AS total_score_milli,
        |       CAST(min(score) AS BIGINT) AS min_score_milli,
        |       CAST(max(score) AS BIGINT) AS max_score_milli
        |FROM sc GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      s.table("documents")
        .select(col("source"),
          TextOps.readabilityMilli(expr("replace(text, ' the ', ' the. ')"))
            .as("score"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("score").as("total_score_milli"),
          min("score").as("min_score_milli"),
          max("score").as("max_score_milli"))
        .orderBy("source")
    },

    // Streaming stream-static enrichment: events keyed off the customer
    // dimension (keys shifted so part of the stream is UNMATCHED and
    // lands in the quarantine bucket), broadcast-joined per micro-batch,
    // rolled up per (day, segment) with exact DECIMAL value sums.
    q("q224_streaming_enrich",
      """SELECT CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day,
        |       coalesce(c.c_mktsegment, '__unmatched__') AS attr,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
        |FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id + 1400
        |GROUP BY 1, 2 ORDER BY day, attr""".stripMargin) { (s, d) =>
      view(s, d, "events", "customer")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      val rows = s.table("events")
        .select(expr("timestamp_micros(ts DIV 1000)").as("t"),
          (col("user_id") + 1400L).as("key"), col("value"))
        .orderBy("t").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      val maxT = rows.map(_._1.getTime).max
      val dim = s.table("customer").select("c_custkey", "c_mktsegment")
      withConfs(s, StateParts) {
        val input = MemoryStream[(java.sql.Timestamp, Long, Double)](s)
        val agg = graft.streaming.StreamingOps.enrichedWindowStats(
          input.toDF().toDF("t", "key", "value"), "t", "key", "value",
          dim, "c_custkey", "c_mktsegment", "1 day", "0 seconds")
        val sink = "graft_q224_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val qy = agg.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          val (b1, b2) = rows.splitAt(rows.length / 2)
          input.addData(b1.toSeq)
          qy.processAllAvailable()
          input.addData(b2.toSeq)
          qy.processAllAvailable()
          // watermark flush: one far-future row closes every real window
          input.addData(Seq((new java.sql.Timestamp(maxT + 100L * 86400000L),
            -1L, 0.0)))
          qy.processAllAvailable()
        } finally qy.stop()
        val maxRealDay = maxT / 86400000L
        s.table(sink)
          .select(expr("unix_micros(window_start) DIV 86400000000").as("day"),
            col("attr"), col("n_events"),
            col("total_value").cast("double").as("total_value"))
          .where(col("day") <= maxRealDay)
          .orderBy("day", "attr")
      }
    },

    // Continuous CDC apply: two micro-batches of ordered change ops
    // (upsert/delete/insert, including a same-key upsert+delete race
    // WITHIN batch 1 and a cross-batch re-update) maintain a
    // bucket-partitioned parquet snapshot, rewriting only touched
    // buckets per batch. The oracle recomputes the final snapshot as
    // global last-op-wins — which the batched apply must equal when the
    // log is fed in commit order.
    q("q225_streaming_cdc",
      """WITH ops AS (
        |  SELECT doc_id, 1 seq, 'U' op, 'updated ' || text AS text, source
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id, 2, 'D', text, source
        |  FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL SELECT doc_id + 3000000, 3, 'I',
        |    'inserted doc ' || CAST(doc_id AS VARCHAR), source
        |  FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL SELECT doc_id, 4, 'U', 'final ' || text, source
        |  FROM documents WHERE doc_id % 20 = 0),
        |last AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) rn
        |    FROM ops) WHERE rn = 1),
        |final AS (
        |  SELECT d.doc_id, d.text, d.source FROM documents d
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM ops)
        |  UNION ALL
        |  SELECT doc_id, text, source FROM last WHERE op IN ('I', 'U'))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000)
        |            AS BIGINT) AS checksum_fp
        |FROM final GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      val docs = s.table("documents").select(col("doc_id"), col("text"),
        col("source"))
      val dir = scratchDir("graft_q225")
      graft.streaming.StreamingOps.seedCdcSnapshot(docs, "doc_id", dir, nBuckets = 8)
      def ops(df: DataFrame): Array[(Long, Long, String, String, String)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3), r.getString(4)))
      val b1 = ops(docs.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit(1L), lit("U"),
          concat(lit("updated "), col("text")), col("source"))
        .unionAll(docs.where(col("doc_id") % 17 === 0)
          .select(col("doc_id"), lit(2L), lit("D"), col("text"), col("source"))))
      val b2 = ops(docs.where(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), lit(3L), lit("I"),
          concat(lit("inserted doc "), col("doc_id").cast("string")),
          col("source"))
        .unionAll(docs.where(col("doc_id") % 20 === 0)
          .select(col("doc_id"), lit(4L), lit("U"),
            concat(lit("final "), col("text")), col("source"))))
      withConfs(s, StateParts) {
        val input = MemoryStream[(Long, Long, String, String, String)](s)
        val qy = graft.streaming.StreamingOps.cdcSnapshotSink(
            input.toDF().toDF("doc_id", "seq", "op", "text", "source"),
            "doc_id", "op", "seq", dir, nBuckets = 8)
          .start()
        try {
          input.addData(b1.toSeq)
          qy.processAllAvailable()
          input.addData(b2.toSeq)
          qy.processAllAvailable()
        } finally qy.stop()
        s.read.parquet(dir)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(expr("conv(substring(md5(cast(text as binary)), 1, 15), 16, 10)")
              .cast("long") % 1000000L).as("checksum_fp"))
          .orderBy("source")
      }
    },

    // Streaming SLIDING-window volume: 2-day windows hopping by 1 day,
    // so every event lands in exactly two windows — the overlap shape
    // tumbling-window gates (q209/q224) never exercise. The oracle
    // derives both window starts per event arithmetically.
    q("q226_streaming_sliding",
      """WITH ev AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS d, event_type FROM events),
        |w AS (SELECT u.win, ev.event_type
        |      FROM ev, UNNEST([ev.d - 1, ev.d]) AS u(win))
        |SELECT CAST(win AS BIGINT) AS win_day, event_type,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM w GROUP BY 1, 2 ORDER BY win_day, event_type""".stripMargin) { (s, d) =>
      view(s, d, "events")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      val rows = s.table("events")
        .select(expr("timestamp_micros(ts DIV 1000)").as("t"), col("event_type"))
        .orderBy("t").collect()
        .map(r => (r.getTimestamp(0), r.getString(1)))
      val maxT = rows.map(_._1.getTime).max
      withConfs(s, StateParts) {
        val input = MemoryStream[(java.sql.Timestamp, String)](s)
        val agg = input.toDF().toDF("t", "event_type")
          .withWatermark("t", "0 seconds")
          .groupBy(window(col("t"), "2 days", "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n_events"))
        val sink = "graft_q226_" + java.util.UUID.randomUUID().toString.replace("-", "")
        val qy = agg.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          val (h1, h2) = rows.splitAt(rows.length / 2)
          input.addData(h1.toSeq)
          qy.processAllAvailable()
          input.addData(h2.toSeq)
          qy.processAllAvailable()
          input.addData(Seq((new java.sql.Timestamp(maxT + 200L * 86400000L), "zz")))
          qy.processAllAvailable()
        } finally qy.stop()
        val maxRealDay = maxT / 86400000L
        s.table(sink)
          .select(expr("unix_micros(window.start) DIV 86400000000").as("win_day"),
            col("event_type"), col("n_events"))
          .where(col("win_day") <= maxRealDay)
          .orderBy("win_day", "event_type")
      }
    },

    // Privacy-preserving release: per-language document counts noised
    // by the truncated two-sided geometric mechanism (the discrete
    // Laplace of epsilon-DP counting). Thresholds are driver-frozen
    // literals shared with this oracle; the keyed-hash draw makes the
    // release re-verifiable bit-for-bit (see the operator's caveat on
    // swapping in a CSPRNG for a formally-DP release).
    q("q227_dp_release", dpReleaseOracleSql(eps = 0.5, seed = "r9", maxNoise = 16)) {
      (s, d) =>
        view(s, d, "documents")
        Privacy.geometricNoisyCounts(s.table("documents"), Seq("lang"),
            eps = 0.5, seed = "r9", maxNoise = 16)
          .orderBy("lang")
    },

    // Sketch summaries under CUBE: per-(lang,source) distinct sketches
    // combine/estimate across every grouping-set of the cube — the
    // pre-aggregation lifecycle composing with Spark's grouping-set
    // machinery (SURVEY §2.2 claims this works unchanged; this pins
    // it). Estimates are exact at these cardinalities (HLL coupon
    // region), so the oracle is plain COUNT(DISTINCT) under CUBE.
    q("q228_cube_sketch",
      """SELECT lang, source, count(DISTINCT doc_id % 97) AS n_shards_distinct,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents
        |GROUP BY CUBE(lang, source)
        |ORDER BY lang NULLS LAST, source NULLS LAST""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      // HLL pinned for the run: its coupon region keeps MERGED unions
      // exact at this cardinality (<= 97 distinct shards per grouping
      // set). The impl freezes into the expressions at build time, so
      // the conf restores immediately after — no leak into later
      // queries sharing this session.
      withConfs(s, GraftConf.DISTINCT_CNT_SKETCH_IMPL_KEY -> "HLL")(s.sql(
        """WITH sk AS (
          |  SELECT lang, source,
          |         approx_count_distinct_accumulate(cast(doc_id % 97 AS string)) AS sk,
          |         count(*) AS n
          |  FROM documents GROUP BY lang, source)
          |SELECT lang, source,
          |       approx_count_distinct_estimate(approx_count_distinct_combine(sk))
          |         AS n_shards_distinct,
          |       sum(n) AS n_docs
          |FROM sk GROUP BY CUBE(lang, source)
          |ORDER BY lang NULLS LAST, source NULLS LAST""".stripMargin))
    },

    // PIVOT: daily event volume spread into one column per event type
    // (the report shape BI exports want). Spark's pivot with an
    // EXPLICIT value list — never the value-discovering overload, which
    // costs an extra distinct pass and breaks plan determinism.
    q("q229_pivot_volume",
      """SELECT day,
        |       CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
        |       CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS error,
        |       CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
        |       CAST(coalesce(sum(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS signup,
        |       CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS view
        |FROM (SELECT epoch_ns(ts) // 86400000000000 AS day, event_type FROM events)
        |GROUP BY day ORDER BY day""".stripMargin) { (s, d) =>
      view(s, d, "events")
      val types = Seq("click", "error", "purchase", "signup", "view")
      val piv = s.table("events")
        .select(expr("ts DIV 86400000000000").as("day"), col("event_type"))
        .groupBy("day")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      piv.select(col("day") +: types.map(t =>
          coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("day")
    },

    // Resample / gap-fill: a sparse daily series (rare high-value
    // events) re-gridded onto the complete (type x day) frame with
    // explicit zeros — the step every volume-anomaly detector needs
    // first, since a MISSING day is invisible to a groupBy. The day
    // grid comes from one sequence() explode of a one-row bounds
    // aggregate; the type dimension is a broadcast cross.
    q("q230_resample_gapfill",
      """WITH ev AS (SELECT epoch_ns(ts) // 86400000000000 AS day, event_type, value
        |            FROM events),
        |b AS (SELECT min(day) lo, max(day) hi FROM ev),
        |days AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
        |t AS (SELECT DISTINCT event_type FROM ev),
        |d AS (SELECT event_type, day, CAST(count(*) AS BIGINT) n FROM ev
        |      WHERE value > 480 GROUP BY 1, 2)
        |SELECT t.event_type AS event_type, CAST(days.day AS BIGINT) AS day,
        |       CAST(coalesce(d.n, 0) AS BIGINT) AS n_events
        |FROM t CROSS JOIN days
        |LEFT JOIN d ON d.event_type = t.event_type AND d.day = days.day
        |ORDER BY t.event_type, days.day""".stripMargin) { (s, d) =>
      view(s, d, "events")
      val ev = s.table("events").select(
        expr("ts DIV 86400000000000").as("day"), col("event_type"), col("value"))
      val days = ev.agg(min("day").as("lo"), max("day").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val types = ev.select("event_type").distinct()
      val daily = ev.where(col("value") > 480)
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      types.crossJoin(broadcast(days))
        .join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n_events"))
        .orderBy("event_type", "day")
    },

    // Table-maintenance: vacuum audit of a sharded export. Two zombie
    // files are planted in an UNATTESTED shard partition plus one stray
    // at the data root; the audit must classify every location against
    // the manifest (1 kept data file per attested shard, the _SUCCESS
    // commit marker kept at the root) without touching row data.
    q("q231_vacuum_orphans",
      """SELECT CAST(s AS INT) AS shard, CAST(1 AS BIGINT) AS n_kept,
        |       CAST(0 AS BIGINT) AS n_orphans
        |FROM range(8) t(s)
        |UNION ALL SELECT 99, 0, 2
        |UNION ALL SELECT NULL, 1, 1
        |ORDER BY shard NULLS LAST""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val dir = scratchDir("graft_q231")
      graft.operators.Sinks.writeShardsWithManifest(
        s.table("documents"), "doc_id", "text", dir, numShards = 8)
      val stale = java.nio.file.Paths.get(dir, "data", "shard=99")
      java.nio.file.Files.createDirectories(stale)
      java.nio.file.Files.write(stale.resolve("zombie-1.parquet"),
        "not really parquet".getBytes("UTF-8"))
      java.nio.file.Files.write(stale.resolve("zombie-2.parquet"),
        "also not parquet".getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "data", "stale-attempt.tmp"),
        "leftover".getBytes("UTF-8"))
      graft.operators.Sinks.vacuumOrphans(s, dir)
    },

    // Table-maintenance: small-file compaction with an attestable file
    // count — 64 hash-partitioned input files rewrite into exactly
    // ceil(rows/500) output files, a pure function of the row count the
    // oracle recomputes.
    q("q232_compaction",
      """SELECT CAST(64 AS BIGINT) AS n_files_before,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST((count(*) + 499) // 500 AS BIGINT) AS n_files_after
        |FROM documents""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val base = scratchDir("graft_q232")
      // hash-by-value partitioning: the 64-file input layout must not
      // depend on session parallelism (round-robin does)
      s.table("documents").repartition(64, col("doc_id"))
        .write.mode("overwrite").parquet(s"$base/in")
      graft.operators.Sinks.compactFiles(s, s"$base/in", s"$base/out",
        targetRows = 500L)
    },

    // Confident-learning label-noise matrix over a deterministically
    // mislabeled panel (every 7th label flipped; confidence = hash-ppm
    // base + a boost when the model "agrees"): off-diagonal confident
    // cells are the suspected label errors. Per-class thresholds are
    // floor-division means, so the whole matrix replays exactly.
    q("q233_label_noise",
      """WITH r AS (
        |  SELECT event_type g,
        |         CASE WHEN event_id % 7 = 0 THEN reverse(event_type)
        |              ELSE event_type END p,
        |         400000 + ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
        |                  % 300000
        |                + CASE WHEN event_id % 7 = 0 THEN 0 ELSE 250000 END c
        |  FROM events),
        |t AS (SELECT g AS p, CAST(sum(c) // count(*) AS BIGINT) t FROM r GROUP BY 1),
        |ng AS (SELECT g, CAST(count(*) AS BIGINT) n_given FROM r GROUP BY 1)
        |SELECT r.g AS given_label, r.p AS pred_label,
        |       CAST(count(*) AS BIGINT) AS n_confident, ng.n_given
        |FROM r JOIN t ON t.p = r.p JOIN ng ON ng.g = r.g
        |WHERE r.c >= t.t
        |GROUP BY r.g, r.p, ng.n_given
        |ORDER BY given_label, pred_label""".stripMargin) { (s, d) =>
      view(s, d, "events")
      val scored = s.table("events").select(
        col("event_type").as("given"),
        when(col("event_id") % 7 === 0, reverse(col("event_type")))
          .otherwise(col("event_type")).as("pred"),
        (lit(400000L) +
          conv(substring(md5(col("event_id").cast("string").cast("binary")),
            1, 15), 16, 10).cast("long") % 300000L +
          when(col("event_id") % 7 === 0, 0L).otherwise(250000L)).as("conf_ppm"))
      graft.operators.Classifier
        .labelNoiseMatrix(scored, "given", "pred", "conf_ppm")
        .orderBy("given_label", "pred_label")
    },

    // Pareto skyline of orders: the value/recency/priority frontier —
    // "no other order is at least as valuable, at least as early, and
    // at least as urgent, and strictly better on one axis". Exercises
    // the two-phase distributed skyline (per-partition prune +
    // broadcast dominance anti-join); the oracle is the brute-force
    // NOT EXISTS dominance scan.
    q("q234_skyline",
      """WITH o AS (SELECT o_orderkey,
        |                  CAST(round(o_totalprice * 100) AS BIGINT) price_c,
        |                  datediff('day', DATE '1970-01-01',
        |                           CAST(o_orderdate AS DATE)) day_n,
        |                  CAST(substr(o_orderpriority, 1, 1) AS BIGINT) prio
        |           FROM orders)
        |SELECT o_orderkey, price_c, CAST(day_n AS BIGINT) AS day_n, prio
        |FROM o r
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM o s
        |  WHERE s.price_c >= r.price_c AND s.day_n <= r.day_n
        |    AND s.prio <= r.prio
        |    AND (s.price_c > r.price_c OR s.day_n < r.day_n
        |         OR s.prio < r.prio))
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      view(s, d, "orders")
      val o = s.table("orders").select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day_n"),
        substring(col("o_orderpriority"), 1, 1).cast("long").as("prio"))
      graft.operators.Skyline.skyline(o, Seq("price_c"), Seq("day_n", "prio"))
        .orderBy("o_orderkey")
    },

    // Deterministic label propagation (3 synchronous rounds, min-label
    // tie-break) over the co-purchase part graph: community size
    // distribution. The oracle unrolls the same rounds as windowed
    // argmax CTEs.
    q("q235_label_propagation", lpaOracleSql(rounds = 3)) { (s, d) =>
      view(s, d, "lineitem")
      Graph.labelPropagation(
          s.table("lineitem").select(col("l_partkey")), coPartEdges(s),
          "l_partkey", "src", "dst", rounds = 3)
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy("community")
    },

    // t-closeness release gate: per (lang, source) group, fixed-point
    // EMD between the group's doc-length-bucket distribution and the
    // corpus-wide one — the "this source's lengths leak" companion to
    // q161 k-anonymity / q190 l-diversity.
    q("q236_t_closeness",
      s"""WITH s AS (SELECT lang, source, least(n_chars // 80, 9) b FROM documents),
         |gb AS (SELECT lang, source, b, CAST(count(*) AS BIGINT) c
         |       FROM s GROUP BY 1, 2, 3),
         |g AS (SELECT b, CAST(sum(c) AS BIGINT) gc FROM gb GROUP BY 1),
         |nt AS (SELECT CAST(sum(gc) AS BIGINT) nt FROM g),
         |tot AS (SELECT lang, source, CAST(sum(c) AS BIGINT) n
         |        FROM gb GROUP BY 1, 2),
         |spine AS (SELECT unnest(range(10)) b),
         |qq AS (SELECT spine.b, coalesce(gc, 0) * 1000000000 // nt.nt q_fp
         |       FROM spine LEFT JOIN g USING (b) CROSS JOIN nt),
         |p AS (SELECT tot.lang, tot.source, tot.n, spine.b,
         |             coalesce(gb.c, 0) * 1000000000 // tot.n - qq.q_fp diff_fp
         |      FROM tot CROSS JOIN spine
         |      LEFT JOIN gb ON gb.lang IS NOT DISTINCT FROM tot.lang
         |                  AND gb.source IS NOT DISTINCT FROM tot.source
         |                  AND gb.b = spine.b
         |      JOIN qq ON qq.b = spine.b),
         |cm AS (SELECT lang, source, n, b,
         |              sum(diff_fp) OVER (PARTITION BY lang, source
         |                                 ORDER BY b) cum_fp
         |       FROM p)
         |SELECT lang, source, n,
         |       CAST(sum(CASE WHEN b < 9 THEN abs(cum_fp) END) // 9 AS BIGINT)
         |         AS t_fp
         |FROM cm GROUP BY 1, 2, 3 ORDER BY lang, source""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      graft.operators.Privacy.tCloseness(
          s.table("documents")
            .withColumn("len_bin", least(expr("n_chars DIV 80"), lit(9L))),
          Seq("lang", "source"), "len_bin", nBins = 10)
        .orderBy("lang", "source")
    },

    // Additive seasonal decomposition of the daily event volume:
    // count = trend (centered 7-day MA) + weekday seasonal + residual,
    // all integer fixed-point — "is today's ingest low, or is it just
    // Sunday?" made bit-exact.
    q("q237_seasonal_decompose",
      """WITH ev AS (SELECT epoch_ns(ts) // 86400000000000 dy FROM events),
        |daily AS (SELECT dy, CAST(count(*) AS BIGINT) n FROM ev GROUP BY 1),
        |b AS (SELECT min(dy) d0, max(dy) d1 FROM daily),
        |spine AS (SELECT unnest(range(b.d0, b.d1 + 1)) dy FROM b),
        |dn AS (SELECT spine.dy, coalesce(n, 0) n
        |       FROM spine LEFT JOIN daily USING (dy)),
        |t AS (SELECT dy, n, count(*) OVER w win_n,
        |             (sum(n * 1000000) OVER w) // 7 trend_fp, dy % 7 phase
        |      FROM dn
        |      WINDOW w AS (ORDER BY dy ROWS BETWEEN 3 PRECEDING
        |                   AND 3 FOLLOWING)),
        |f AS (SELECT dy, n, trend_fp, phase, n * 1000000 - trend_fp det_fp
        |      FROM t WHERE win_n = 7),
        |sr AS (SELECT phase,
        |              (sum(det_fp + 1000000000000) // count(*))
        |                - 1000000000000 seasonal_raw
        |       FROM f GROUP BY 1),
        |adj AS (SELECT (sum(seasonal_raw + 1000000000000) // count(*))
        |               - 1000000000000 adj FROM sr),
        |se AS (SELECT phase, seasonal_raw - adj seasonal_fp
        |       FROM sr CROSS JOIN adj)
        |SELECT f.dy AS day, f.n, CAST(f.trend_fp AS BIGINT) AS trend_fp,
        |       CAST(se.seasonal_fp AS BIGINT) AS seasonal_fp,
        |       CAST(f.det_fp - se.seasonal_fp AS BIGINT) AS resid_fp
        |FROM f JOIN se USING (phase) ORDER BY day""".stripMargin) { (s, d) =>
      view(s, d, "events")
      graft.operators.EventOps.seasonalDecompose(
          s.table("events").withColumn("day", expr("ts div 86400000000000")),
          "day", period = 7)
        .orderBy("day")
    },

    // Sorted-neighborhood near-dup pairs: prefix-key global sort +
    // 5-row sliding window + exact Jaccard verify — the record-linkage
    // blocking strategy, on the same corpus and threshold as q21 (LSH)
    // so the two blocking families are directly comparable.
    q("q238_snm_dedup",
      """WITH k AS (SELECT doc_id,
        |             substr(regexp_replace(lower(text), '\s+', ' ', 'g'),
        |                    1, 20) bk
        |           FROM documents WHERE text IS NOT NULL),
        |r2 AS (SELECT doc_id, row_number() OVER (ORDER BY bk, doc_id) rk
        |       FROM k),
        |cand AS (SELECT least(a.doc_id, b.doc_id) ia,
        |                greatest(a.doc_id, b.doc_id) ib
        |         FROM r2 a JOIN r2 b ON b.rk > a.rk AND b.rk <= a.rk + 5),
        |w AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') ws
        |      FROM documents),
        |d AS (SELECT doc_id,
        |        CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
        |             ELSE list_distinct(list_transform(range(len(ws) - 4),
        |                    i -> array_to_string(ws[i+1:i+5], ' '))) END sh
        |      FROM w)
        |SELECT ia AS id_a, ib AS id_b,
        |       CAST(len(list_intersect(da.sh, db.sh)) AS BIGINT) AS inter,
        |       CAST(len(da.sh) + len(db.sh)
        |            - len(list_intersect(da.sh, db.sh)) AS BIGINT) AS uni
        |FROM cand JOIN d da ON da.doc_id = ia JOIN d db ON db.doc_id = ib
        |WHERE len(list_intersect(da.sh, db.sh)) * 5
        |      >= (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))) * 4
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      Dedup.sortedNeighborhoodPairs(s.table("documents"), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },

    // Native watermarked stream-stream interval join (Spark's
    // StreamingSymmetricHashJoin, not custom state): every purchase
    // paired with the same user's views in the preceding 60 minutes.
    // Complements q70's asof (argmax) enrich, which DOES need custom
    // state — all-matches is the declaratively expressible case.
    q("q239_streaming_interval_join",
      """SELECT l.event_id, r.event_id AS event_id_r
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |JOIN (SELECT * FROM events WHERE event_type = 'view') r
        |  ON l.user_id = r.user_id
        | AND r.ts >= l.ts - INTERVAL 60 MINUTE AND r.ts <= l.ts
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      view(s, d, "events")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      val ev = s.table("events")
      def side(t: String): Array[(Long, java.sql.Timestamp, Long)] =
        ev.where(col("event_type") === t)
          .select(col("event_id"), expr("timestamp_micros(ts DIV 1000)").as("t"),
            col("user_id"))
          .orderBy("t", "event_id").collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      val lin = MemoryStream[(Long, java.sql.Timestamp, Long)](s)
      val rin = MemoryStream[(Long, java.sql.Timestamp, Long)](s)
      val out = graft.streaming.StreamingOps.intervalJoin(
        lin.toDF().toDF("event_id", "t", "user_id"),
        rin.toDF().toDF("event_id", "t", "user_id"),
        "user_id", "t", lookback = "60 MINUTE", watermarkDelay = "1 minute")
      val sink = "graft_q239_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withConfs(s, StateParts) {
        val qy = out.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          lin.addData(side("purchase").toSeq)
          rin.addData(side("view").toSeq)
          qy.processAllAvailable() // inner join: matches emit eagerly
        } finally qy.stop()
      }
      s.table(sink)
        .select(col("event_id"), col("event_id_r"))
        .orderBy("event_id", "event_id_r")
    },

    // Blocking-quality report: SNM (q238) evaluated against the exact
    // pair set (q21) — pair completeness (verified pairs found / true
    // pairs) vs reduction ratio (candidates avoided / all C(n,2)
    // pairs), the standard record-linkage blocking tradeoff as one
    // measurable row.
    q("q240_blocking_quality",
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') ws
        |           FROM documents),
        |d AS (SELECT doc_id,
        |        CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
        |             ELSE list_distinct(list_transform(range(len(ws) - 4),
        |                    i -> array_to_string(ws[i+1:i+5], ' '))) END sh
        |      FROM w),
        |ex AS (SELECT a.doc_id ia, b.doc_id ib
        |       FROM d a JOIN d b ON a.doc_id < b.doc_id
        |       WHERE len(list_intersect(a.sh, b.sh)) * 5
        |             >= (len(a.sh) + len(b.sh)
        |                 - len(list_intersect(a.sh, b.sh))) * 4),
        |k AS (SELECT doc_id,
        |        substr(regexp_replace(lower(text), '\s+', ' ', 'g'), 1, 20) bk
        |      FROM documents WHERE text IS NOT NULL),
        |r2 AS (SELECT doc_id, row_number() OVER (ORDER BY bk, doc_id) rk FROM k),
        |cand AS (SELECT least(a.doc_id, b.doc_id) ia,
        |                greatest(a.doc_id, b.doc_id) ib
        |         FROM r2 a JOIN r2 b ON b.rk > a.rk AND b.rk <= a.rk + 5),
        |sn AS (SELECT cand.ia, cand.ib FROM cand
        |       JOIN d da ON da.doc_id = cand.ia
        |       JOIN d db ON db.doc_id = cand.ib
        |       WHERE len(list_intersect(da.sh, db.sh)) * 5
        |             >= (len(da.sh) + len(db.sh)
        |                 - len(list_intersect(da.sh, db.sh))) * 4),
        |nn AS (SELECT CAST(count(*) AS BIGINT) n FROM documents)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact,
        |       (SELECT CAST(count(*) AS BIGINT) FROM sn) AS n_snm,
        |       (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
        |       CAST((SELECT count(*) FROM sn) * 1000000
        |            // (SELECT count(*) FROM ex) AS BIGINT) AS pc_ppm,
        |       CAST((nn.n * (nn.n - 1) // 2 - (SELECT count(*) FROM cand))
        |            * 1000000 // (nn.n * (nn.n - 1) // 2) AS BIGINT) AS rr_ppm
        |FROM nn""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val docs = s.table("documents")
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
        .agg(count(lit(1)).as("n_exact"))
      // ONE candidate pipeline feeds both the candidate count and the
      // verify stage (running sortedNeighborhoodPairs separately would
      // recompute the whole rank/block join a second time)
      val candidates = Dedup
        .sortedNeighborhoodCandidates(docs, "doc_id", "text").cache()
      val snm = Dedup.verifyCandidatePairs(candidates, docs, "doc_id", "text")
        .agg(count(lit(1)).as("n_snm"))
      val cand = candidates.agg(count(lit(1)).as("n_cand"))
      val nd = docs.agg(count(lit(1)).as("nn"))
      exact.crossJoin(snm).crossJoin(cand).crossJoin(nd)
        .select(col("n_exact"), col("n_snm"), col("n_cand"),
          expr("(n_snm * 1000000L) DIV n_exact").as("pc_ppm"),
          expr("((nn * (nn - 1) DIV 2 - n_cand) * 1000000L)" +
            " DIV (nn * (nn - 1) DIV 2)").as("rr_ppm"))
    },

    // Approximate functional-dependency strength: does `source`
    // determine `lang` (and vice versa) in this crawl, and is
    // doc_id -> lang exact? One (lhs, rhs) hash count + lhs-level max
    // per declared pair — schema inference as a measurable quantity.
    q("q241_fd_strength",
      """WITH p1 AS (SELECT max(c) mx, sum(c) tot FROM (
        |    SELECT lang, source, count(*) c FROM documents GROUP BY 1, 2)
        |  GROUP BY lang),
        |p2 AS (SELECT max(c) mx, sum(c) tot FROM (
        |    SELECT source, lang, count(*) c FROM documents GROUP BY 1, 2)
        |  GROUP BY source),
        |p3 AS (SELECT max(c) mx, sum(c) tot FROM (
        |    SELECT doc_id, lang, count(*) c FROM documents GROUP BY 1, 2)
        |  GROUP BY doc_id)
        |SELECT 'lang' AS lhs, 'source' AS rhs,
        |       CAST(sum(tot) AS BIGINT) AS n,
        |       CAST(sum(mx) * 1000000 // sum(tot) AS BIGINT) AS strength_ppm,
        |       sum(mx) * 1000000 // sum(tot) = 1000000 AS exact
        |FROM p1
        |UNION ALL
        |SELECT 'source', 'lang', CAST(sum(tot) AS BIGINT),
        |       CAST(sum(mx) * 1000000 // sum(tot) AS BIGINT),
        |       sum(mx) * 1000000 // sum(tot) = 1000000 FROM p2
        |UNION ALL
        |SELECT 'doc_id', 'lang', CAST(sum(tot) AS BIGINT),
        |       CAST(sum(mx) * 1000000 // sum(tot) AS BIGINT),
        |       sum(mx) * 1000000 // sum(tot) = 1000000 FROM p3
        |ORDER BY lhs, rhs""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      graft.operators.Profiler.fdStrength(s.table("documents"),
          Seq("lang" -> "source", "source" -> "lang", "doc_id" -> "lang"))
        .orderBy("lhs", "rhs")
    },

    // First-order event-type transition matrix per user stream:
    // Markov-chain counts + fixed-point conditional probabilities —
    // session simulation / bot-loop detection / funnel-drift input.
    q("q242_transition_matrix",
      """WITH s AS (SELECT user_id, event_type from_type,
        |             lead(event_type) OVER (PARTITION BY user_id
        |                                    ORDER BY ts, event_id) to_type
        |           FROM events),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) n
        |      FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, sum(n) tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |       CAST(c.n * 1000000 // t.tot AS BIGINT) AS p_ppm
        |FROM c JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin) { (s, d) =>
      view(s, d, "events")
      graft.operators.EventOps.transitionMatrix(s.table("events"),
          "user_id", "ts", "event_id", "event_type")
        .orderBy("from_type", "to_type")
    },

    // One-pass filter audit via Dataset.observe (CollectMetrics):
    // pre-filter counts ride accumulators on the SAME scan the filter
    // runs on — no second input pass, no read-twice disagreement.
    q("q243_observed_metrics",
      """SELECT CAST(count(*) AS BIGINT) AS n_in,
        |       CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS chars_in,
        |       CAST(count(CASE WHEN length(text) >= 200 THEN 1 END) AS BIGINT)
        |         AS n_kept,
        |       CAST(coalesce(sum(CASE WHEN length(text) >= 200
        |                          THEN length(text) END), 0) AS BIGINT)
        |         AS chars_kept,
        |       CAST(count(CASE WHEN length(text) >= 200 THEN 1 END)
        |            * 1000000 // count(*) AS BIGINT) AS kept_ppm
        |FROM documents""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      graft.operators.Observed.filterAudit(
        s.table("documents"), "text", length(col("text")) >= 200)
    },

    // Bucketed-table co-located join: both fact tables persisted
    // hash-bucketed+sorted on the join key, then joined with ZERO
    // exchanges (Sinks.bucketedEquiJoin raises if the plan still
    // shuffles) — the layout that turns the 100 TB fact-to-fact join's
    // dominant shuffle into per-bucket local merges.
    q("q244_bucketed_join",
      """SELECT o_orderpriority, count(*) AS n_items,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
        |                 * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))) AS DOUBLE)
        |         AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      view(s, d, "lineitem", "orders")
      val dir = scratchDir("graft_q244_")
      // force the sort-merge path: at test scale the orders side is
      // under the broadcast threshold and a BHJ has no shuffle to
      // detect, making the exchange-free assertion VACUOUS — the
      // bucketed co-location must carry the join for the proof to mean
      // anything
      try withConfs(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        graft.operators.Sinks.writeBucketedTable(
          s.table("lineitem"), "graft_q244_li", s"$dir/li", "l_orderkey", 8)
        graft.operators.Sinks.writeBucketedTable(
          s.table("orders"), "graft_q244_ord", s"$dir/ord", "o_orderkey", 8)
        val out = graft.operators.Sinks.bucketedEquiJoin(s,
            "graft_q244_li", "l_orderkey", "graft_q244_ord", "o_orderkey")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            sum(expr("CAST(l_extendedprice AS DECIMAL(14,2)) * " +
              "(CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))"))
              .cast("double").as("revenue"))
          .orderBy("o_orderpriority")
          .collect()
        // terminal query: materialized above, so the scratch tables can
        // be dropped instead of leaking per execution
        s.createDataFrame(
          s.sparkContext.parallelize(out.toIndexedSeq, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("o_orderpriority",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_items",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("revenue",
              org.apache.spark.sql.types.DoubleType))))
      } finally {
        s.sql("DROP TABLE IF EXISTS graft_q244_li")
        s.sql("DROP TABLE IF EXISTS graft_q244_ord")
      }
    },

    // Deterministic systematic PPS sampling per language: ~20 marks on
    // each group's integer weight line (weight = n_chars) — the
    // reproducible weighted pick behind data mixing; no RNG anywhere,
    // so the draw replays bit-for-bit on any engine.
    q("q245_pps_sample",
      """WITH c AS (SELECT lang, doc_id, n_chars w,
        |             sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum,
        |             sum(n_chars) OVER (PARTITION BY lang) tot
        |           FROM documents),
        |m AS (SELECT lang, doc_id, w, cum,
        |             greatest(tot // 20, 1) step FROM c)
        |SELECT lang, doc_id, CAST(w AS BIGINT) AS weight,
        |       CAST(cum // step - (cum - w) // step AS BIGINT) AS multiplicity
        |FROM m WHERE cum // step - (cum - w) // step > 0
        |ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      graft.operators.Sampling.systematicPpsSample(
          s.table("documents"), Seq("lang"), "doc_id", "n_chars", k = 20)
        .orderBy("lang", "doc_id")
    },

    // Event-time RANGE-frame window: each event sees the SAME USER's
    // trailing hour by timestamp VALUE, not row position — the
    // velocity/burst feature a row-frame can't express when event
    // spacing is irregular. Value sums ride integer fixed-point so the
    // frame aggregation is order-free.
    q("q246_rolling_window",
      """SELECT user_id, event_id,
        |       CAST(count(*) OVER w AS BIGINT) AS n_hour,
        |       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) OVER w
        |            AS BIGINT) AS sum_value_fp
        |FROM (SELECT user_id, event_id, epoch_ns(ts) tsn, value FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY tsn
        |             RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      view(s, d, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
        .rangeBetween(-3600000000000L, 0L)
      s.table("events")
        .select(col("user_id"), col("event_id"), col("ts"),
          round(col("value") * 1000000).cast("long").as("v_fp"))
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_hour"),
          sum(col("v_fp")).over(w).as("sum_value_fp"))
        .orderBy("user_id", "event_id")
    },

    // Sequence packing (concat-then-chunk, the LLM-pretraining idiom):
    // each lang's docs concatenate on one token line in doc_id order
    // and cut into 2048-token chunks; per doc, which chunks it spans
    // and where it starts. The running sum is the bucketed distributed
    // prefix sum (no per-group single-task window), the chunk math a
    // stateless integer projection — engine-exact.
    q("q247_chunk_pack",
      """WITH c AS (
        |  SELECT lang, doc_id, n_chars w,
        |         sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
        |  FROM documents)
        |SELECT lang, doc_id, CAST(w AS BIGINT) AS n_tokens,
        |       CAST((cum - w) // 2048 AS BIGINT) AS first_chunk,
        |       CAST((cum - 1) // 2048 AS BIGINT) AS last_chunk,
        |       CAST((cum - w) % 2048 AS BIGINT) AS chunk_offset,
        |       CAST((cum - 1) // 2048 - (cum - w) // 2048 + 1 AS BIGINT)
        |         AS n_chunks
        |FROM c ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      graft.operators.Packing.chunkPack(
          s.table("documents"), Seq("lang"), "doc_id", "n_chars", budget = 2048L)
        .orderBy("lang", "doc_id")
    },

    // Mixture reweighting: target lang shares (ppm) vs the corpus's
    // actual shares -> inverse-propensity weight per group, all ppm
    // integer math. 'ja' is a target with NO data rows (visible, not
    // silently unreachable); 'en' is over-represented (weight < 1e6).
    q("q248_mixture_reweight",
      """WITH t(grp, target_ppm) AS (VALUES
        |    ('en', CAST(400000 AS BIGINT)), ('zh', CAST(200000 AS BIGINT)),
        |    ('de', CAST(150000 AS BIGINT)), ('es', CAST(150000 AS BIGINT)),
        |    ('fr', CAST(50000 AS BIGINT)), ('ja', CAST(50000 AS BIGINT))),
        |c AS (SELECT lang grp, CAST(count(*) AS BIGINT) n_rows
        |      FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |j AS (SELECT coalesce(c.grp, t.grp) grp,
        |             CAST(coalesce(c.n_rows, 0) AS BIGINT) n_rows,
        |             CAST(coalesce(t.target_ppm, 0) AS BIGINT) target_ppm
        |      FROM c FULL OUTER JOIN t ON c.grp = t.grp),
        |n AS (SELECT CAST(sum(n_rows) AS BIGINT) nn FROM j)
        |SELECT j.grp, j.n_rows,
        |       CAST(CASE WHEN nn > 0 THEN (n_rows * 1000000) // nn
        |            ELSE 0 END AS BIGINT) AS share_ppm,
        |       j.target_ppm,
        |       CAST(CASE WHEN n_rows > 0 THEN (target_ppm * nn) // n_rows
        |            ELSE 0 END AS BIGINT) AS weight_ppm
        |FROM j, n ORDER BY 1""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      graft.operators.Sampling.mixtureReweight(
          s.table("documents"), "lang",
          Seq("en" -> 400000L, "zh" -> 200000L, "de" -> 150000L,
            "es" -> 150000L, "fr" -> 50000L, "ja" -> 50000L))
        .orderBy("grp")
    },

    // The loader-side chunk manifest over q247's packing: per (lang,
    // chunk), contributing docs and exact token fill — every interior
    // chunk must be full (exactly 2048), only each lang's last may be
    // partial; straddling docs contribute the exact clipped span. The
    // table a trainer's data loader validates before an epoch starts.
    q("q249_chunk_manifest",
      """WITH c AS (
        |  SELECT lang, doc_id, n_chars w,
        |         sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
        |  FROM documents),
        |s AS (SELECT lang, cum - w AS st, cum AS en,
        |             CAST((cum - w) // 2048 AS BIGINT) AS f,
        |             CAST((cum - 1) // 2048 AS BIGINT) AS l
        |      FROM c),
        |e AS (SELECT lang, st, en, unnest(generate_series(f, l)) AS chunk
        |      FROM s)
        |SELECT lang, CAST(chunk AS BIGINT) AS chunk,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(least(en, (chunk + 1) * 2048)
        |                - greatest(st, chunk * 2048)) AS BIGINT) AS n_tokens,
        |       (sum(least(en, (chunk + 1) * 2048)
        |            - greatest(st, chunk * 2048)) = 2048) AS is_full
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      graft.operators.Packing.chunkManifest(
          s.table("documents"), Seq("lang"), "doc_id", "n_chars", budget = 2048L)
        .orderBy("lang", "chunk")
    },

    // Interval union coverage per user: each event opens a
    // deterministic 1-7 minute activity interval; the sweep reports
    // union-covered time, dead gaps, and double-booked overlaps — the
    // utilization/continuity audit for session, device, or job logs.
    // All integer micros; per-row sweep values are tie-order dependent
    // but every output is a tie-symmetric aggregate.
    q("q250_interval_coverage",
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) st,
        |         epoch_us(ts) + (event_id % 7 + 1) * 60000000 en
        |  FROM events),
        |w AS (
        |  SELECT user_id, st, en,
        |         max(en) OVER (PARTITION BY user_id ORDER BY st, en
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) pmax
        |  FROM iv)
        |SELECT user_id,
        |       CAST(count(*) AS BIGINT) AS n_intervals,
        |       CAST(sum(greatest(0, en - greatest(st, coalesce(pmax, st))))
        |         AS BIGINT) AS covered,
        |       CAST(max(en) - min(st) AS BIGINT) AS span,
        |       CAST(sum(CASE WHEN pmax IS NOT NULL AND st > pmax
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        |       CAST(coalesce(max(CASE WHEN pmax IS NOT NULL AND st > pmax
        |                     THEN st - pmax END), 0) AS BIGINT) AS max_gap,
        |       CAST(sum(CASE WHEN pmax IS NOT NULL AND st < pmax
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_overlaps
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      view(s, d, "events")
      // the events view carries ts as epoch NANOS (long); micros here
      val iv = s.table("events").select(
        col("user_id"),
        expr("ts DIV 1000").as("st"),
        (expr("ts DIV 1000") +
          (pmod(col("event_id"), lit(7L)) + 1L) * 60000000L).as("en"))
      graft.operators.EventOps.intervalCoverage(iv, "user_id", "st", "en")
        .orderBy("user_id")
    },

    // Versioned snapshot store with TIME TRAVEL: v1 = the corpus, two
    // CDC commits (update/delete with a within-batch race, then
    // insert/re-update) -> v2, v3 — each commit rewriting ONLY touched
    // buckets — and all three versions remain readable. The oracle
    // replays last-op-wins over the same change-log prefixes; xor
    // fingerprints make the compare content-exact and order-free.
    q("q251_versioned_time_travel",
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |raw1 AS (
        |  SELECT doc_id, 1 seq, 'U' op, 'updated ' || text AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id, 2, 'D', text
        |  FROM documents WHERE doc_id % 17 = 0),
        |b1 AS (SELECT doc_id, op, text FROM (
        |         SELECT doc_id, op, text,
        |                row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY seq DESC) rn
        |         FROM raw1) WHERE rn = 1),
        |v2 AS (
        |  SELECT v1.doc_id, v1.text FROM v1 LEFT JOIN b1 USING (doc_id)
        |  WHERE b1.doc_id IS NULL
        |  UNION ALL SELECT doc_id, text FROM b1 WHERE op IN ('I', 'U')),
        |b2(doc_id, op, text) AS (
        |  SELECT doc_id + 3000000, 'I',
        |         'inserted doc ' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL SELECT doc_id, 'U', 'final ' || text
        |  FROM documents WHERE doc_id % 20 = 0),
        |v3 AS (
        |  SELECT v2.doc_id, v2.text FROM v2 LEFT JOIN b2 USING (doc_id)
        |  WHERE b2.doc_id IS NULL
        |  UNION ALL SELECT doc_id, text FROM b2 WHERE op IN ('I', 'U')),
        |allv AS (
        |  SELECT 1 v, doc_id, text FROM v1
        |  UNION ALL SELECT 2, doc_id, text FROM v2
        |  UNION ALL SELECT 3, doc_id, text FROM v3)
        |SELECT CAST(v AS BIGINT) AS version,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
        |       CAST(bit_xor(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT))
        |         AS BIGINT) AS fp_xor
        |FROM allv GROUP BY v ORDER BY version""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      import graft.operators.Versioned
      val docs = s.table("documents").select(col("doc_id"), col("text"))
      val dir = scratchDir("graft_q251")
      Versioned.init(docs, "doc_id", dir, nBuckets = 8)
      val b1 = docs.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit(1L).as("seq"), lit("U").as("op"),
          concat(lit("updated "), col("text")).as("text"))
        .unionAll(docs.where(col("doc_id") % 17 === 0)
          .select(col("doc_id"), lit(2L), lit("D"), col("text")))
      Versioned.commit(b1, "doc_id", "op", "seq", dir, nBuckets = 8)
      val b2 = docs.where(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), lit(3L).as("seq"),
          lit("I").as("op"),
          concat(lit("inserted doc "), col("doc_id").cast("string")).as("text"))
        .unionAll(docs.where(col("doc_id") % 20 === 0)
          .select(col("doc_id"), lit(4L), lit("U"),
            concat(lit("final "), col("text"))))
      Versioned.commit(b2, "doc_id", "op", "seq", dir, nBuckets = 8)
      (1 to 3).map { v =>
        Versioned.read(s, dir, v).agg(
          count(lit(1)).as("n_rows"),
          expr("bit_xor(doc_id)").as("id_xor"),
          expr("bit_xor(cast(conv(substring(md5(cast(text as binary)), 1, 15)" +
            ", 16, 10) as bigint))").as("fp_xor"))
          .select(lit(v.toLong).as("version"), col("n_rows"),
            col("id_xor"), col("fp_xor"))
      }.reduce(_ unionAll _).orderBy("version")
    },

    // Cross-family composition: TIME-TRAVEL DIFF. One CDC commit on the
    // versioned store, then CorpusDiff between version 1 and version 2
    // as read back from the store — "what changed between the corpus
    // run X trained on and the corpus run Y trained on", the audit that
    // needs BOTH MVCC reads and fingerprint classification.
    q("q252_time_travel_diff",
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |raw1 AS (
        |  SELECT doc_id, 1 seq, 'U' op, 'updated ' || text AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id, 2, 'D', text
        |  FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL SELECT doc_id + 3000000, 3, 'I',
        |    'inserted doc ' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id % 23 = 0),
        |b1 AS (SELECT doc_id, op, text FROM (
        |         SELECT doc_id, op, text,
        |                row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY seq DESC) rn
        |         FROM raw1) WHERE rn = 1),
        |v2 AS (
        |  SELECT v1.doc_id, v1.text FROM v1 LEFT JOIN b1 USING (doc_id)
        |  WHERE b1.doc_id IS NULL
        |  UNION ALL SELECT doc_id, text FROM b1 WHERE op IN ('I', 'U')),
        |fp AS (
        |  SELECT coalesce(a.doc_id, b.doc_id) AS id,
        |         md5(regexp_replace(lower(a.text), '\s+', ' ', 'g')) f_old,
        |         md5(regexp_replace(lower(b.text), '\s+', ' ', 'g')) f_new
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT CASE WHEN f_old IS NULL THEN 'added'
        |            WHEN f_new IS NULL THEN 'removed'
        |            WHEN f_old <> f_new THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM fp GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      import graft.operators.{CorpusDiff, Versioned}
      val docs = s.table("documents").select(col("doc_id"), col("text"))
      val dir = scratchDir("graft_q252")
      Versioned.init(docs, "doc_id", dir, nBuckets = 8)
      val batch = docs.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit(1L).as("seq"), lit("U").as("op"),
          concat(lit("updated "), col("text")).as("text"))
        .unionAll(docs.where(col("doc_id") % 17 === 0)
          .select(col("doc_id"), lit(2L), lit("D"), col("text")))
        .unionAll(docs.where(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), lit(3L),
            lit("I"),
            concat(lit("inserted doc "), col("doc_id").cast("string"))))
      Versioned.commit(batch, "doc_id", "op", "seq", dir, nBuckets = 8)
      CorpusDiff.diffSummary(
          Versioned.read(s, dir, 1), Versioned.read(s, dir, 2),
          "doc_id", "text")
        .orderBy("status")
    },

    // Cross-source score normalization: each doc's n_chars mapped to
    // its within-source ECDF in ppm — quality scores from different
    // sources become comparable on one integer [0,1e6] axis ("mix by
    // per-source quantile, not raw score"). Exact, sketch-free: the
    // corpus collapses to (source, score) counts and the ECDF is a
    // distributed prefix sum over that droplet table.
    q("q253_quantile_normalize",
      """SELECT doc_id, source, n_chars,
        |       CAST(count(*) OVER (PARTITION BY source ORDER BY n_chars
        |              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            * 1000000 // count(*) OVER (PARTITION BY source)
        |         AS BIGINT) AS ecdf_ppm
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      graft.operators.Sampling.quantileNormalize(
          s.table("documents").select("doc_id", "source", "n_chars"),
          Seq("source"), "n_chars")
        .orderBy("doc_id")
    },

    // CHANGE DATA FEED over the versioned store: replay what commits 2
    // and 3 did as (version, op, id) rows — ops classified by STATE
    // diff (a 'U' upserting a deleted key reads as I; a rewrite that
    // didn't change the row emits nothing), each step reading only the
    // buckets whose manifest pointer moved. The oracle replays the
    // same last-op-wins CDC in SQL and diffs consecutive snapshots.
    q("q254_change_data_feed",
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |raw1 AS (
        |  SELECT doc_id, 1 seq, 'U' op, 'updated ' || text AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id, 2, 'D', text
        |  FROM documents WHERE doc_id % 17 = 0),
        |b1 AS (SELECT doc_id, op, text FROM (
        |         SELECT doc_id, op, text,
        |                row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY seq DESC) rn
        |         FROM raw1) WHERE rn = 1),
        |v2 AS (
        |  SELECT v1.doc_id, v1.text FROM v1 LEFT JOIN b1 USING (doc_id)
        |  WHERE b1.doc_id IS NULL
        |  UNION ALL SELECT doc_id, text FROM b1 WHERE op IN ('I', 'U')),
        |b2(doc_id, op, text) AS (
        |  SELECT doc_id + 3000000, 'I',
        |         'inserted doc ' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL SELECT doc_id, 'U', 'final ' || text
        |  FROM documents WHERE doc_id % 20 = 0),
        |v3 AS (
        |  SELECT v2.doc_id, v2.text FROM v2 LEFT JOIN b2 USING (doc_id)
        |  WHERE b2.doc_id IS NULL
        |  UNION ALL SELECT doc_id, text FROM b2 WHERE op IN ('I', 'U')),
        |d2 AS (
        |  SELECT 2 v, CASE WHEN a.doc_id IS NULL THEN 'I'
        |                   WHEN b.doc_id IS NULL THEN 'D'
        |                   WHEN a.text <> b.text THEN 'U' END op,
        |         coalesce(a.doc_id, b.doc_id) id,
        |         CASE WHEN b.doc_id IS NULL THEN a.text ELSE b.text END txt
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id),
        |d3 AS (
        |  SELECT 3 v, CASE WHEN a.doc_id IS NULL THEN 'I'
        |                   WHEN b.doc_id IS NULL THEN 'D'
        |                   WHEN a.text <> b.text THEN 'U' END op,
        |         coalesce(a.doc_id, b.doc_id) id,
        |         CASE WHEN b.doc_id IS NULL THEN a.text ELSE b.text END txt
        |  FROM v2 a FULL OUTER JOIN v3 b ON a.doc_id = b.doc_id),
        |ch AS (SELECT * FROM d2 WHERE op IS NOT NULL
        |       UNION ALL SELECT * FROM d3 WHERE op IS NOT NULL)
        |SELECT CAST(v AS BIGINT) AS version, op,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(bit_xor(id) AS BIGINT) AS id_xor,
        |       CAST(bit_xor(CAST(('0x' || substr(md5(txt), 1, 15)) AS BIGINT))
        |         AS BIGINT) AS fp_xor
        |FROM ch GROUP BY 1, 2 ORDER BY version, op""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      import graft.operators.Versioned
      val docs = s.table("documents").select(col("doc_id"), col("text"))
      val dir = scratchDir("graft_q254")
      Versioned.init(docs, "doc_id", dir, nBuckets = 8)
      val b1 = docs.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit(1L).as("seq"), lit("U").as("op"),
          concat(lit("updated "), col("text")).as("text"))
        .unionAll(docs.where(col("doc_id") % 17 === 0)
          .select(col("doc_id"), lit(2L), lit("D"), col("text")))
      Versioned.commit(b1, "doc_id", "op", "seq", dir, nBuckets = 8)
      val b2 = docs.where(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), lit(3L).as("seq"),
          lit("I").as("op"),
          concat(lit("inserted doc "), col("doc_id").cast("string")).as("text"))
        .unionAll(docs.where(col("doc_id") % 20 === 0)
          .select(col("doc_id"), lit(4L), lit("U"),
            concat(lit("final "), col("text"))))
      Versioned.commit(b2, "doc_id", "op", "seq", dir, nBuckets = 8)
      Versioned.changes(s, dir, "doc_id", fromVersion = 1, toVersion = 3)
        .groupBy(col("version").cast("long").as("version"), col("op"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(doc_id)").as("id_xor"),
          expr("bit_xor(cast(conv(substring(md5(cast(text as binary)), 1, 15)" +
            ", 16, 10) as bigint))").as("fp_xor"))
        .orderBy("version", "op")
    },

    // One-sided CUSUM change-point detection on each event type's daily
    // volume: the max(0, s + x - mean) recurrence in closed window form
    // (running sum minus running min), alarming past 2x the type's mean
    // — "did this source's ingest shift, and on which day". All 1e6
    // fixed-point integers.
    q("q255_cusum_changepoint",
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 dy,
        |         CAST(count(*) AS BIGINT) n
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) np,
        |             (sum(n) * 1000000) // count(*) mean_fp
        |      FROM daily GROUP BY 1),
        |c AS (SELECT d.event_type, d.dy, m.np, m.mean_fp,
        |             sum(d.n * 1000000 - m.mean_fp) OVER
        |               (PARTITION BY d.event_type ORDER BY d.dy
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) c
        |      FROM daily d JOIN m USING (event_type)),
        |s AS (SELECT event_type, dy, np, mean_fp,
        |             c - least(0, min(c) OVER
        |               (PARTITION BY event_type ORDER BY dy
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) s_fp
        |      FROM c)
        |SELECT event_type,
        |       CAST(max(np) AS BIGINT) AS n_periods,
        |       CAST(max(mean_fp) AS BIGINT) AS mean_fp,
        |       CAST(max(s_fp) AS BIGINT) AS max_s_fp,
        |       CAST(sum(CASE WHEN s_fp > (2000000 * mean_fp) // 1000000
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
        |       CAST(min(CASE WHEN s_fp > (2000000 * mean_fp) // 1000000
        |                THEN dy END) AS BIGINT) AS first_alarm
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      view(s, d, "events")
      val daily = s.table("events")
        .groupBy(col("event_type"), expr("ts div 86400000000000").as("dy"))
        .agg(count(lit(1)).as("n"))
      graft.operators.EventOps.cusumChangepoint(
          daily, "event_type", "dy", "n", thresholdPpm = 2000000L)
        .orderBy("event_type")
    },

    // Mutual-kNN density degrees over the embedding corpus: (a, b) is
    // an edge iff each is in the other's cosine top-5 — the symmetric
    // dense-region graph behind embedding-curation prototypicality /
    // diversity pruning. Exact brute-force kNN at verify scale; at
    // 100 TB the same mutualKnnPairs composes over IvfIndex.query /
    // LSH candidate pairs instead.
    q("q256_mutual_knn",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |           FROM embeddings),
        |f AS (SELECT vec_id, v FROM e WHERE list_dot_product(v, v) > 0),
        |scored AS (
        |  SELECT q.vec_id qa, c.vec_id nb,
        |         list_dot_product(q.v, c.v)
        |         / (sqrt(list_dot_product(q.v, q.v))
        |            * sqrt(list_dot_product(c.v, c.v))) cosine
        |  FROM f q JOIN f c ON q.vec_id != c.vec_id),
        |knn AS (SELECT qa, nb FROM (
        |          SELECT qa, nb, row_number() OVER (PARTITION BY qa
        |                   ORDER BY cosine DESC, nb) rk
        |          FROM scored) WHERE rk <= 5),
        |mut AS (SELECT a.qa a, a.nb b FROM knn a
        |        JOIN knn b ON a.qa = b.nb AND a.nb = b.qa
        |        WHERE a.qa < a.nb)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_mutual FROM (
        |  SELECT a node FROM mut UNION ALL SELECT b FROM mut)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      view(s, d, "embeddings")
      val e = s.table("embeddings")
      val knn = Similarity.bruteForceKnn(e, e, "vec_id", "embedding", 5,
        fanOutCorpus = true)
      Similarity.mutualKnnDegree(knn).orderBy("node")
    },

    // Rank-biased overlap (p = 1/2, exact long weights) between the
    // by-chars and by-tokens top-10 rankings per language: the
    // top-weighted "do my two rankers agree where it matters" metric
    // NDCG (needs labels) and Kendall tau (uniform weights) don't give.
    q("q257_rank_biased_overlap",
      """WITH t AS (SELECT lang, doc_id, n_chars,
        |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
        |      AS BIGINT) n_tok
        |  FROM documents),
        |r AS (SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY n_chars DESC, doc_id) ra,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY n_tok DESC, doc_id) rb
        |  FROM t),
        |wgt AS (SELECT d, 1000000000000 // ((1 << d) * d) w
        |        FROM (SELECT unnest(range(1, 11)) d)),
        |sfx AS (SELECT d, CAST(sum(w) OVER (ORDER BY d DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) sw
        |        FROM wgt),
        |c AS (SELECT lang, greatest(ra, rb) d0 FROM r
        |      WHERE ra <= 10 AND rb <= 10),
        |langs AS (SELECT DISTINCT lang FROM t)
        |SELECT langs.lang,
        |       CAST(count(c.d0) AS BIGINT) AS n_common,
        |       CAST(coalesce(sum(sfx.sw), 0) AS BIGINT) AS rbo_fp
        |FROM langs LEFT JOIN c ON c.lang = langs.lang
        |LEFT JOIN sfx ON sfx.d = c.d0
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      view(s, d, "documents")
      val w1 = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("n_chars").desc, col("doc_id"))
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("n_tok").desc, col("doc_id"))
      val ranked = s.table("documents")
        .select(col("lang"), col("doc_id"), col("n_chars"),
          graft.operators.TextOps.tokenCount(col("text")).as("n_tok"))
        .withColumn("ra", row_number().over(w1).cast("long"))
        .withColumn("rb", row_number().over(w2).cast("long"))
        .where(col("ra") <= 10 || col("rb") <= 10)
      graft.operators.Retrieval.rankBiasedOverlap(
          ranked, Seq("lang"), "ra", "rb", depth = 10)
        .orderBy("lang")
    }
  )

  /** Synthetic 3-rater labeling panel shared by q215/q216: events bucket
   *  into 997 items, each item's first three events (by event_id) are
   *  its ratings, ~18% flip to the reversed label for disagreement. */
  private def raterPanel(s: SparkSession): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_id") % 997).orderBy(col("event_id"))
    s.table("events")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select((col("event_id") % 997).as("item"),
        when((col("event_id") * 7) % 11 < 2, reverse(col("event_type")))
          .otherwise(col("event_type")).as("lab"))
  }

  /** DuckDB replay of [[Privacy.geometricNoisyCounts]] over documents
   *  per lang: the SAME driver-frozen thresholds, inverted by an
   *  in-order CASE chain (first match = smallest k with u < t(k)). */
  private def dpReleaseOracleSql(eps: Double, seed: String, maxNoise: Int): String = {
    val th = Privacy.geometricThresholds(eps, maxNoise)
    val cases = (-maxNoise until maxNoise).zip(th).map { case (k, t) =>
      s"WHEN u < $t THEN CAST($k AS BIGINT)"
    }.mkString("\n              ")
    s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) n_true
       |           FROM documents GROUP BY 1),
       |u AS (SELECT lang, n_true,
       |        CAST(('0x' || substr(md5('$seed:' ||
       |          coalesce(CAST(lang AS VARCHAR), chr(0) || 'null')), 1, 15)) AS BIGINT) u
       |      FROM c)
       |SELECT lang,
       |       greatest(n_true + CASE $cases
       |              ELSE CAST($maxNoise AS BIGINT) END, 0) AS released
       |FROM u ORDER BY lang""".stripMargin
  }

  /** DuckDB replay of [[Retrieval.labelNdcgAtK]]: q24's exact-cosine
   *  ranking + label relevance + the SAME driver-frozen discount /
   *  ideal-DCG literals (Double.toString round-trips exactly, so both
   *  engines combine identical doubles in identical order). */
  private def ndcgOracleSql(k: Int, nq: Int): String = {
    val disc = Retrieval.ndcgDiscounts(k).map(java.lang.Double.toString)
    val ideal = Retrieval.idealDcg(k).map(java.lang.Double.toString)
    val hCols = (1 to k).map(r =>
      s"CAST(coalesce(sum(CASE WHEN rk = $r AND nl = ql THEN 1 END), 0) AS BIGINT) h$r")
      .mkString(",\n         ")
    val hSum = (1 to k).map(r => s"h$r").mkString(" + ")
    // explicit left-assoc chain, mirroring the operator's fold order
    val dcg = (1 to k).map(r => s"h$r * ${disc(r - 1)}")
      .reduce((a, b) => s"($a + $b)")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v, label FROM embeddings),
       |q AS (SELECT * FROM e WHERE vec_id < $nq),
       |scored AS (
       |  SELECT q.vec_id query_id, q.label ql, c.vec_id neighbor_id, c.label nl,
       |         list_dot_product(q.v, c.v)
       |         / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) cosine
       |  FROM q JOIN e c ON q.vec_id != c.vec_id),
       |top AS (SELECT query_id, ql, nl, rk FROM (
       |  SELECT query_id, ql, nl,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, neighbor_id) rk
       |  FROM scored) WHERE rk <= $k),
       |fl AS (SELECT query_id, ql,
       |         $hCols
       |       FROM top GROUP BY 1, 2),
       |cls AS (SELECT label ql, CAST(count(*) AS BIGINT) cn FROM e GROUP BY 1)
       |SELECT query_id, cls.cn - 1 AS n_rel,
       |       CAST($hSum AS BIGINT) AS hits,
       |       CAST(CASE WHEN cls.cn - 1 >= 1
       |            THEN (($hSum) * 10000) // (cls.cn - 1) END AS BIGINT) AS recall_fp,
       |       CASE WHEN cls.cn - 1 >= 1 THEN
       |         $dcg / list_extract([${ideal.mkString(", ")}],
       |                             CAST(least($k, cls.cn - 1) AS INT))
       |       END AS ndcg
       |FROM fl JOIN cls USING (ql) ORDER BY query_id""".stripMargin
  }

  /** DuckDB replay of [[Graph.weightedPageRankFp]] on the weighted
   *  co-part graph. */
  private def weightedPrOracleSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""i$i AS MATERIALIZED (
         |  SELECT nn.id, CAST((15 * c.base + 85 * coalesce(q.s, 0)) // 100 AS BIGINT) r
         |  FROM nn CROSS JOIN c LEFT JOIN (
         |    SELECT e.dst, CAST(sum((i${i - 1}.r * e.w) // ws.wsum) AS BIGINT) s
         |    FROM edges e JOIN i${i - 1} ON e.src = i${i - 1}.id
         |    JOIN ws ON ws.src = e.src
         |    GROUP BY e.dst) q ON q.dst = nn.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH lp AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
       |pairs AS MATERIALIZED (
       |  SELECT x.p a, y.p b, count(*) w FROM lp x
       |  JOIN lp y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
       |edges AS MATERIALIZED (
       |  SELECT a src, b dst, w FROM pairs UNION ALL SELECT b, a, w FROM pairs),
       |ws AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) wsum FROM edges GROUP BY 1),
       |nn AS MATERIALIZED (SELECT DISTINCT p id FROM lp),
       |c AS (SELECT CAST(1000000000000 // count(*) AS BIGINT) base FROM nn),
       |i0 AS MATERIALIZED (SELECT id, c.base r FROM nn CROSS JOIN c),
       |$iterCtes
       |SELECT CAST(id AS BIGINT) AS id, CAST(r AS BIGINT) AS rank_fp
       |FROM i$iters ORDER BY id""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Layout.zOrderReport]]: the same
   *  Morton interleave as generated bit expressions. */
  private def zOrderOracleSql(bits: Int, bucketBits: Int): String = {
    val terms = (0 until bits).flatMap { b =>
      Seq(s"(((xs >> $b) & 1) << ${2 * b})", s"(((ys >> $b) & 1) << ${2 * b + 1})")
    }.mkString(" | ")
    s"""WITH raw AS (
       |  SELECT CAST(l_partkey AS BIGINT) x, CAST(l_suppkey AS BIGINT) y
       |  FROM lineitem
       |  WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
       |    AND l_partkey >= 0 AND l_suppkey >= 0),
       |mx AS (SELECT max(x) xmax, max(y) ymax FROM raw),
       |m AS (
       |  SELECT x, y,
       |         (x * ${1L << bits}) // (xmax + 1) xs,
       |         (y * ${1L << bits}) // (ymax + 1) ys
       |  FROM raw CROSS JOIN mx),
       |z AS (SELECT x, y, ($terms) z FROM m)
       |SELECT CAST(z >> ${2 * bits - bucketBits} AS INT) AS bucket,
       |       CAST(count(*) AS BIGINT) AS n,
       |       CAST(max(x) - min(x) AS BIGINT) AS x_span,
       |       CAST(max(y) - min(y) AS BIGINT) AS y_span
       |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  /** Repeat co-purchase edges: part pairs sharing >= 2 distinct orders. */
  private def repeatCoPartEdges(s: SparkSession): DataFrame = {
    val lp = s.table("lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    lp.as("x").join(lp.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("src"), col("y.p").as("dst"))
      .agg(count(lit(1)).as("w")).where(col("w") >= 2)
      .select("src", "dst")
  }

  /** DuckDB replay of [[Graph.kTruss]] on the repeat co-part graph:
   *  `rounds` synchronous support-peel rounds (idempotent past the
   *  fixpoint), then one final support pass over the fixpoint edges. */
  private def kTrussOracleSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append("WITH lp AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),\n")
    sb.append("e0 AS MATERIALIZED (SELECT x.p a, y.p b FROM lp x " +
      "JOIN lp y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2 HAVING count(*) >= 2),\n")
    def tri(i: Int) =
      s"t$i AS MATERIALIZED (SELECT e1.a x, e1.b y, e2.b z FROM e$i e1 " +
        s"JOIN e$i e2 ON e2.a = e1.a AND e1.b < e2.b " +
        s"JOIN e$i e3 ON e3.a = e1.b AND e3.b = e2.b),\n" +
        s"s$i AS MATERIALIZED (SELECT a, b, count(*) sup FROM " +
        s"(SELECT x a, y b FROM t$i UNION ALL SELECT x, z FROM t$i " +
        s"UNION ALL SELECT y, z FROM t$i) GROUP BY 1, 2),\n"
    for (i <- 0 until rounds) {
      sb.append(tri(i))
      sb.append(s"e${i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e$i e " +
        s"JOIN s$i s ON s.a = e.a AND s.b = e.b WHERE s.sup >= ${k - 2}),\n")
    }
    sb.append(tri(rounds))
    sb.append(s"fin AS (SELECT 1)\n")
    sb.append(s"SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, " +
      s"CAST(sup AS BIGINT) AS support FROM s$rounds " +
      s"WHERE sup >= ${k - 2} ORDER BY a, b")
    sb.toString
  }

  /** DuckDB replay of [[Graph.personalizedPageRankFp]] on the co-part
   *  graph with seeds p % 97 = 0, all `iters` iterations in integer
   *  fixed point. */
  private def pprOracleSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""i$i AS MATERIALIZED (
         |  SELECT b.id, CAST((15 * b.base + 85 * coalesce(q.s, 0)) // 100 AS BIGINT) r
         |  FROM b LEFT JOIN (
         |    SELECT e.dst, CAST(sum(i${i - 1}.r // deg.deg) AS BIGINT) s
         |    FROM edges e JOIN i${i - 1} ON e.src = i${i - 1}.id
         |    JOIN deg ON deg.src = e.src
         |    GROUP BY e.dst) q ON q.dst = b.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH lp AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
       |pairs AS MATERIALIZED (
       |  SELECT DISTINCT x.p a, y.p b FROM lp x
       |  JOIN lp y ON x.o = y.o AND x.p < y.p),
       |edges AS MATERIALIZED (
       |  SELECT a src, b dst FROM pairs UNION ALL SELECT b, a FROM pairs),
       |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) deg FROM edges GROUP BY 1),
       |nn AS MATERIALIZED (SELECT DISTINCT p id FROM lp),
       |sc AS (SELECT count(*) c FROM nn WHERE id % 97 = 0),
       |b AS MATERIALIZED (
       |  SELECT nn.id,
       |         CASE WHEN nn.id % 97 = 0 THEN 1000000000000 // sc.c ELSE 0 END base
       |  FROM nn CROSS JOIN sc),
       |i0 AS MATERIALIZED (SELECT id, base r FROM b),
       |$iterCtes
       |SELECT CAST(id AS BIGINT) AS id, CAST(r AS BIGINT) AS rank_fp
       |FROM i$iters ORDER BY id""".stripMargin
  }

  /** DuckDB replay of [[Graph.kCore]]: `rounds` synchronous peel rounds
   *  as a chained MATERIALIZED CTE pipeline (idempotent once the
   *  fixpoint is reached, so rounds only needs to be >= the true peel
   *  depth at the oracle's sf). */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append("WITH lp AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),\n")
    sb.append("e0 AS MATERIALIZED (SELECT DISTINCT x.p a, y.p b FROM lp x " +
      "JOIN lp y ON x.o = y.o AND x.p < y.p),\n")
    for (i <- 0 until rounds) {
      sb.append(s"d$i AS MATERIALIZED (SELECT node, count(*) deg FROM " +
        s"(SELECT a node FROM e$i UNION ALL SELECT b FROM e$i) GROUP BY 1),\n")
      sb.append(s"e${i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e$i e " +
        s"JOIN d$i da ON da.node = e.a JOIN d$i db ON db.node = e.b " +
        s"WHERE da.deg >= $k AND db.deg >= $k),\n")
    }
    sb.append(s"dF AS (SELECT node, count(*) deg FROM " +
      s"(SELECT a node FROM e$rounds UNION ALL SELECT b FROM e$rounds) GROUP BY 1)\n")
    sb.append(s"SELECT CAST(node AS BIGINT) AS node, CAST(deg AS BIGINT) AS core_deg " +
      s"FROM dF WHERE deg >= $k ORDER BY node")
    sb.toString
  }

  /** DuckDB replay of the matryoshka recall gate: full-dim exact top-k
   *  vs prefix-dim top-k for each width in `dims`. */
  private def matryoshkaOracleSql(dims: Seq[Int], k: Int): String = {
    def knn(name: String, vexpr: String): String =
      s"""$name AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id query_id, c.vec_id neighbor_id,
         |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |             list_dot_product(q.w, c.w)
         |             / (sqrt(list_dot_product(q.w, q.w))
         |                * sqrt(list_dot_product(c.w, c.w))) DESC,
         |             c.vec_id) rk
         |    FROM (SELECT vec_id, $vexpr w FROM e WHERE vec_id < 20) q
         |    JOIN (SELECT vec_id, $vexpr w FROM e) c ON q.vec_id != c.vec_id)
         |  WHERE rk <= $k)""".stripMargin
    val blocks = dims.map { dcount =>
      s"""SELECT $dcount dims, count(a$dcount.neighbor_id) hits, count(*) total
         |FROM exact x LEFT JOIN a$dcount
         |  ON a$dcount.query_id = x.query_id
         | AND a$dcount.neighbor_id = x.neighbor_id""".stripMargin
    }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       |${knn("exact", "v")},
       |${dims.map(dc => knn(s"a$dc", s"v[1:$dc]")).mkString(",\n")},
       |per AS (
       |${blocks.mkString("\nUNION ALL\n")})
       |SELECT CAST(dims AS INT) AS dims, CAST(hits AS BIGINT) AS hits,
       |       CAST(total AS BIGINT) AS total,
       |       CAST((hits * 10000) // total AS BIGINT) AS recall_fp
       |FROM per ORDER BY dims""".stripMargin
  }

  /** Part co-occurrence edges: two parts appearing in the same order.
   *  Pair-level duplicates are NOT dropped here — every Graph operator
   *  canonicalizes (dedups) its edge input anyway, so a distinct here
   *  would just add a full shuffle of the pair stream. */
  private def coPartEdges(s: SparkSession): DataFrame = {
    val lp = s.table("lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    lp.as("x").join(lp.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("src"), col("y.p").as("dst"))
  }

  /** DuckDB replay of the co-part graph + id-ordered triangle list. */
  private def coPartGraphCtes: String =
    """WITH lp AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT x.p a, y.p b FROM lp x
      |  JOIN lp y ON x.o = y.o AND x.p < y.p),
      |deg AS MATERIALIZED (
      |  SELECT node, count(*) deg FROM
      |    (SELECT a node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      |tri AS MATERIALIZED (
      |  SELECT e1.a, e1.b, e2.b c FROM e e1
      |  JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)""".stripMargin

  /** DuckDB replay of [[Graph.labelPropagation]] over the co-part
   *  graph: `rounds` unrolled (histogram, windowed argmax with the
   *  same count-desc/label-asc tie-break, coalesce-keep) CTE blocks,
   *  then the community size distribution. */
  private def lpaOracleSql(rounds: Int): String = {
    val iters = (1 to rounds).map { k =>
      s"""m$k AS (
         |  SELECT node, lab FROM (
         |    SELECT se.src node, p.lab, count(*) c,
         |           row_number() OVER (PARTITION BY se.src
         |                              ORDER BY count(*) DESC, p.lab ASC) rn
         |    FROM se JOIN l${k - 1} p ON p.node = se.dst
         |    GROUP BY se.src, p.lab) t WHERE rn = 1),
         |l$k AS (SELECT p.node, coalesce(m.lab, p.lab) lab
         |        FROM l${k - 1} p LEFT JOIN m$k m ON m.node = p.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH lp AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT x.p a, y.p b FROM lp x
       |  JOIN lp y ON x.o = y.o AND x.p < y.p),
       |se AS (SELECT a src, b dst FROM e UNION ALL SELECT b, a FROM e),
       |l0 AS (SELECT DISTINCT p node, p lab FROM lp),
       |$iters
       |SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_members
       |FROM l$rounds GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Bpe.trainMerges]]'s first
   *  `rounds` rounds: word-type table with counts, then per round a
   *  pair-count CTE, a LIMIT-1 argmax CTE, and a merge-application CTE.
   *  The merge fold runs in `list_reduce` over a chr(31)-delimited
   *  symbol string: appending `x` WITHOUT the delimiter when the
   *  accumulator's last token equals the round's lhs IS the merge
   *  (lhs || rhs = their concatenation), and a freshly-merged tail can
   *  never re-match as lhs — exactly the greedy left-to-right
   *  non-overlapping semantics of the Spark-side array fold. Words
   *  containing chr(31) are excluded on both sides by contract. */
  private def bpeRoundsCte(rounds: Int): String = {
    val head =
      """WITH wx AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) w FROM documents),
        |wt AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) c FROM wx
        |       WHERE w <> '' AND NOT contains(w, chr(31)) GROUP BY 1),
        |s0 AS MATERIALIZED (SELECT w, string_split(w, '') syms, c FROM wt)""".stripMargin
    // Every chained CTE is MATERIALIZED: the rounds reference each other
    // multiple times, and DuckDB's default CTE inlining would otherwise
    // re-expand the whole prefix per reference (exponential in rounds).
    // mg$k pads the argmax to exactly one (possibly all-NULL) row, so an
    // early-exhausted training run (no pairs left before round `rounds`)
    // leaves s$k = s$k-1 (the NULL lhs never matches the fold condition)
    // instead of emptying every later CTE through the CROSS JOIN —
    // mirroring the Spark side's early stop
    val steps = (1 to rounds).map { k =>
      s"""p$k AS MATERIALIZED (SELECT p['l'] l, p['r'] r, CAST(sum(c) AS BIGINT) cnt FROM (
         |  SELECT unnest(list_transform(range(1, len(syms)),
         |           i -> {'l': syms[i], 'r': syms[i+1]})) p, c FROM s${k - 1}) GROUP BY 1, 2),
         |m$k AS MATERIALIZED (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
         |mg$k AS MATERIALIZED (SELECT l, r FROM m$k
         |  UNION ALL SELECT NULL, NULL WHERE NOT EXISTS (SELECT 1 FROM m$k)),
         |s$k AS MATERIALIZED (SELECT w, string_split(list_reduce(syms,
         |  (acc, x) -> CASE WHEN x = mg$k.r AND (acc = mg$k.l OR ends_with(acc, chr(31) || mg$k.l))
         |              THEN acc || x ELSE acc || chr(31) || x END), chr(31)) syms, c
         |  FROM s${k - 1} CROSS JOIN mg$k)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** q89/q90's deterministic integer-valued weight vector: slot i weighs
   *  (i*37 mod 101) - 50 — integer-valued doubles, so sums are exact and
   *  order-independent in every engine. */
  private def bowWeights(dim: Int): Seq[Double] =
    (0 until dim).map(i => ((i * 37) % 101 - 50).toDouble)

  /** The [[org.apache.spark.sql.graft.HashedBowScore]] slot in DuckDB
   *  SQL, applied to a token variable `w`: first-4-md5-bytes (big-endian
   *  unsigned) mod dim. */
  private def bowSlotSql(dim: Int): String = {
    val hex = (1 to 8).map { i =>
      val p = BigInt(16).pow(8 - i)
      s"(strpos('0123456789abcdef', substr(md5(w), $i, 1)) - 1) * $p"
    }.mkString(" + ")
    s"(($hex) % $dim)"
  }

  /** The same model as [[bowWeights]] in DuckDB SQL on token variable
   *  `w`, hashed through the [[bowSlotSql]] slot. */
  private def bowWeightSql(dim: Int): String =
    s"CAST(((${bowSlotSql(dim)} * 37) % 101 - 50) AS DOUBLE)"

  /** DuckDB mirror of [[graft.operators.Profiler.profile]] over supplier. */
  private def profileOracle: String = {
    def pct(c: String, p: String, alias: String): String =
      s"""  (SELECT CAST(CAST(v AS REAL) AS DOUBLE) FROM
         |     (SELECT $c AS v, row_number() OVER (ORDER BY CAST($c AS REAL), $c) AS rn,
         |             count(*) OVER () AS n
         |      FROM supplier WHERE $c IS NOT NULL) rr
         |   WHERE rn = least(CAST(floor($p*n)+1 AS BIGINT), n)) AS $alias""".stripMargin
    def numericCol(c: String): String =
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |${pct(c, "0.25", "p25")},
         |${pct(c, "0.5", "p50")},
         |${pct(c, "0.75", "p75")},
         |  CAST(min($c) AS DOUBLE) AS min_d, CAST(max($c) AS DOUBLE) AS max_d
         |FROM supplier""".stripMargin
    def stringCol(c: String): String =
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(NULL AS DOUBLE) AS p25, CAST(NULL AS DOUBLE) AS p50,
         |  CAST(NULL AS DOUBLE) AS p75,
         |  CAST(NULL AS DOUBLE) AS min_d, CAST(NULL AS DOUBLE) AS max_d
         |FROM supplier""".stripMargin
    Seq(numericCol("s_suppkey"), stringCol("s_name"),
      numericCol("s_nationkey"), numericCol("s_acctbal"))
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY col_name")
  }

  /** q58's split mixture: 80% train, 10% val, 10% test. */
  private val splitWeights: Seq[(String, Int)] =
    Seq("train" -> 8, "val" -> 1, "test" -> 1)

  /** The identical cumulative floor(2^60*cum/total) boundaries
   *  [[graft.operators.Sampling.assignSplits]] computes, as a SQL CASE. */
  private def splitOracleCase: String = {
    val total = splitWeights.map(_._2).sum
    val bounds = splitWeights.map(_._2).scanLeft(0)(_ + _).tail
      .map(c => (BigInt(2).pow(60) * c / total).toLong)
    splitWeights.init.zip(bounds.init).map { case ((name, _), b) =>
      s"WHEN hv < $b THEN '$name'"
    }.mkString("CASE ", " ", s" ELSE '${splitWeights.last._1}' END")
  }

  /** q55's mixture: listed sources at their own rate, the rest at 1/4. */
  private val mixRates: Seq[(String, (Int, Int))] =
    Seq("src0" -> (3, 4), "src1" -> (1, 2), "src2" -> (1, 10), "src3" -> (0, 1))
  private val mixDefault: (Int, Int) = (1, 4)

  /** The identical floor(2^60*num/den) thresholds [[graft.operators.Sampling.weightedMix]]
   *  computes, rendered as a SQL CASE over the source — the oracle and the
   *  operator share one integer definition of the cut. */
  private def mixOracleCase: String = {
    def thresh(r: (Int, Int)): Long = (BigInt(2).pow(60) * r._1 / r._2).toLong
    mixRates.map { case (s, r) => s"WHEN '$s' THEN ${thresh(r)}" }
      .mkString("CASE source ", " ", s" ELSE ${thresh(mixDefault)} END")
  }

  private def buildQ04(s: SparkSession): DataFrame = s.sql("""
    |WITH summaries AS (
    |  SELECT window(l_shipdate, '7 days') w, approx_percentile_accumulate(l_quantity) s
    |  FROM lineitem WHERE l_orderkey < 40 GROUP BY 1),
    |merged AS (
    |  SELECT approx_percentile_combine(s) m FROM summaries
    |  WHERE w.start >= timestamp'1993-01-01 00:00:00')
    |SELECT approx_percentile_estimate(m, 0.5) AS p50,
    |       approx_percentile_estimate(m, 0.95) AS p95,
    |       round(approx_pmf_estimate(m, 4)[0], 9) AS pmf_0,
    |       round(approx_pmf_estimate(m, 4)[1], 9) AS pmf_1,
    |       round(approx_pmf_estimate(m, 4)[2], 9) AS pmf_2,
    |       round(approx_pmf_estimate(m, 4)[3], 9) AS pmf_3
    |FROM merged""".stripMargin)

  /** DuckDB mirror of [[org.apache.spark.sql.graft.SimHash64]] bit semantics. */
  private def simhashOracle: String = {
    def bit(d: Int, k: Int): String =
      s"(CASE WHEN ((strpos('0123456789abcdef', substr(md5(w), ${d + 1}, 1)) - 1) >> $k) & 1 = 1" +
        " THEN 1 ELSE -1 END)"
    def nibble(d: Int): String = {
      val terms = (0 until 4).map { k =>
        s"(CASE WHEN list_sum(list_transform(toks, w -> ${bit(d, k)})) > 0 THEN ${1 << k} ELSE 0 END)"
      }
      s"substr('0123456789abcdef', 1 + ${terms.mkString(" + ")}, 1)"
    }
    "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks " +
      "FROM documents) SELECT doc_id, " +
      (0 until 16).map(nibble).mkString(" || ") +
      " AS simhash FROM t ORDER BY doc_id"
  }

  /** Per-doc simhash select list over a `toks` CTE column (shared by the
   *  q20 oracle above and q49's pair oracle). */
  private def simhashNibbles: String = {
    def bit(d: Int, k: Int): String =
      s"(CASE WHEN ((strpos('0123456789abcdef', substr(md5(w), ${d + 1}, 1)) - 1) >> $k) & 1 = 1" +
        " THEN 1 ELSE -1 END)"
    def nibble(d: Int): String = {
      val terms = (0 until 4).map { k =>
        s"(CASE WHEN list_sum(list_transform(toks, w -> ${bit(d, k)})) > 0 THEN ${1 << k} ELSE 0 END)"
      }
      s"substr('0123456789abcdef', 1 + ${terms.mkString(" + ")}, 1)"
    }
    (0 until 16).map(nibble).mkString(" || ")
  }

  /** DuckDB replay of [[graft.operators.Clustering.kmeansAssign]] with
   *  k=8, iters=2 on the 1/1000 integer lattice: CTE chain ending in
   *  `a2(vec_id, cl)`, every distance and centroid an integer-valued
   *  double so the unrolled iteration is bit-exact in any engine.
   *  Shared by q122 (assignments) and q126 (SemDeDup composition). */
  private def kmeansOracleCtes: String = {
    def step(cTbl: String, sAs: String, aAs: String): String =
      s"""$sAs AS (
         |  SELECT v.vec_id, $cTbl.j,
         |         list_sum(list_transform(range(1, 65),
         |           i -> (v.q[i] - $cTbl.c[i]) * (v.q[i] - $cTbl.c[i]))) dist
         |  FROM v CROSS JOIN $cTbl),
         |$aAs AS (
         |  SELECT vec_id, j AS cl FROM (
         |    SELECT vec_id, j,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) rk
         |    FROM $sAs) WHERE rk = 1)""".stripMargin
    def lloyd(aTbl: String, mAs: String, cAs: String): String =
      s"""$mAs AS (
         |  SELECT $aTbl.cl, i.i, CAST(floor(sum(v.q[i.i]) / count(*)) AS DOUBLE) ci
         |  FROM $aTbl JOIN v USING (vec_id)
         |       CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INT) i) i
         |  GROUP BY $aTbl.cl, i.i),
         |$cAs AS (SELECT cl j, list(ci ORDER BY i) c FROM $mAs GROUP BY cl)""".stripMargin
    s"""WITH v AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) q
       |  FROM embeddings),
       |c0 AS (SELECT vec_id j, q c FROM v WHERE vec_id < 8),
       |${step("c0", "s0", "a0")},
       |${lloyd("a0", "m1", "c1")},
       |${step("c1", "s1", "a1")},
       |${lloyd("a1", "m2", "c2")},
       |${step("c2", "s2", "a2")}""".stripMargin
  }

  /** DuckDB replay of [[graft.operators.Pq]]: per 16-dim block b of the
   *  quantized 64-dim vectors, the same lattice Lloyd as
   *  [[kmeansOracleCtes]] with k=4 seeds (vec_id < 4) and ONE update
   *  round, ending in the per-block code assignment a1_b; `codes` joins
   *  the four blocks. Chained CTEs that are referenced more than once
   *  are MATERIALIZED (DuckDB inlines CTEs per reference — re-expansion
   *  is exponential otherwise). */
  private def pqOracleCtes: String = {
    def block(b: Int): String = {
      val off = b * 16
      def step(cTbl: String, sAs: String, aAs: String): String =
        s"""$sAs AS (
           |  SELECT v.vec_id, $cTbl.j,
           |         list_sum(list_transform(range(1, 17),
           |           i -> (v.qb[i] - $cTbl.c[i]) * (v.qb[i] - $cTbl.c[i]))) dist
           |  FROM vb$b v CROSS JOIN $cTbl),
           |$aAs AS (
           |  SELECT vec_id, j AS cl FROM (
           |    SELECT vec_id, j,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) rk
           |    FROM $sAs) WHERE rk = 1)""".stripMargin
      s"""vb$b AS MATERIALIZED (
         |  SELECT vec_id, q[${off + 1}:${off + 16}] qb FROM v),
         |c0_$b AS (SELECT vec_id j, qb c FROM vb$b WHERE vec_id < 4),
         |${step(s"c0_$b", s"s0_$b", s"a0_$b")},
         |m1_$b AS (
         |  SELECT a.cl, i.i, CAST(floor(sum(v.qb[i.i]) / count(*)) AS DOUBLE) ci
         |  FROM a0_$b a JOIN vb$b v USING (vec_id)
         |       CROSS JOIN (SELECT CAST(unnest(range(1, 17)) AS INT) i) i
         |  GROUP BY a.cl, i.i),
         |c1_$b AS MATERIALIZED (SELECT cl j, list(ci ORDER BY i) c FROM m1_$b GROUP BY cl),
         |${step(s"c1_$b", s"s1_$b", s"a1_$b")}""".stripMargin
    }
    s"""WITH v AS MATERIALIZED (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000)) q
       |  FROM embeddings),
       |${(0 until 4).map(block).mkString(",\n")},
       |codes AS MATERIALIZED (
       |  SELECT a1_0.vec_id, a1_0.cl c0, a1_1.cl c1, a1_2.cl c2, a1_3.cl c3
       |  FROM a1_0 JOIN a1_1 USING (vec_id) JOIN a1_2 USING (vec_id)
       |       JOIN a1_3 USING (vec_id))""".stripMargin
  }

  /** Coarse quantizer replay for IVF-PQ (q173): full-vector lattice
   *  Lloyd, k=4 seeds (vec_id < 4), one update round — cc1 is the
   *  post-round centroid table and ca1 the cell assignment, mirroring
   *  [[graft.operators.Pq.ivfAdcSearch]]'s coarse stage. Appends to
   *  [[pqOracleCtes]] (reuses its MATERIALIZED `v`). */
  private def ivfpqCoarseCtes: String = {
    def step(cTbl: String, sAs: String, aAs: String): String =
      s"""$sAs AS (
         |  SELECT v.vec_id, $cTbl.j,
         |         list_sum(list_transform(range(1, 65),
         |           i -> (v.q[i] - $cTbl.c[i]) * (v.q[i] - $cTbl.c[i]))) dist
         |  FROM v CROSS JOIN $cTbl),
         |$aAs AS (
         |  SELECT vec_id, j AS cl FROM (
         |    SELECT vec_id, j,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) rk
         |    FROM $sAs) WHERE rk = 1)""".stripMargin
    s"""cc0 AS (SELECT vec_id j, q c FROM v WHERE vec_id < 4),
       |${step("cc0", "cs0", "ca0")},
       |cm1 AS (
       |  SELECT a.cl, i.i, CAST(floor(sum(v.q[i.i]) / count(*)) AS DOUBLE) ci
       |  FROM ca0 a JOIN v USING (vec_id)
       |       CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INT) i) i
       |  GROUP BY a.cl, i.i),
       |cc1 AS MATERIALIZED (SELECT cl j, list(ci ORDER BY i) c FROM cm1 GROUP BY cl),
       |${step("cc1", "cs1", "ca1")}""".stripMargin
  }

  /** ADC distance table for block `b`: query subvector (exact, on the
   *  lattice) vs each surviving codeword of that block's codebook. */
  private def pqAdcTableCte(b: Int): String = {
    val off = b * 16
    s"""t$b AS (
       |  SELECT qs.qid, c.j,
       |         list_sum(list_transform(range(1, 17),
       |           i -> (qs.q[$off + i] - c.c[i]) * (qs.q[$off + i] - c.c[i]))) d
       |  FROM qs CROSS JOIN c1_$b c)""".stripMargin
  }

  /** DuckDB brute-force word-5-gram Jaccard pairs at threshold 4/5 (integer
   *  compare). Documents shorter than 5 words mirror Dedup.shingles's
   *  fallback: the whole normalized text as a single shingle (DuckDB's
   *  range(len-4) would otherwise yield an empty list, making any two
   *  short docs a vacuous 0/0 pair Spark would never emit). */
  private def jaccardOracle: String =
    """WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') ws FROM documents),
      |d AS (
      |  SELECT doc_id,
      |         CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
      |              ELSE list_distinct(list_transform(range(len(ws) - 4),
      |                     i -> array_to_string(ws[i+1:i+5], ' '))) END sh
      |  FROM w),
      |pairs AS (
      |  SELECT a.doc_id id_a, b.doc_id id_b,
      |         len(list_intersect(a.sh, b.sh)) inter,
      |         len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) uni
      |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
      |SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni
      |FROM pairs WHERE inter * 5 >= uni * 4 ORDER BY id_a, id_b""".stripMargin

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    inventory.map(x => x.name -> x.fn).toMap

  /** DuckDB-equivalent SQL for each query (omitted => rows-only check). */
  def oracleSql: Map[String, String] =
    inventory.collect { case Q(n, _, Some(o)) => n -> o }.toMap

  /** Query ids intentionally absent from the suite — every hole must be
   *  declared here or the contiguity gate below fails. (q187 was never
   *  assigned; documenting beats silently renumbering 24 queries.) */
  val tombstoneIds: Set[Int] = Set(187)

  /** Highest assigned query id. Declared (not derived) so the contiguity
   *  gate also catches a silently dropped HIGHEST query — with only
   *  `ids.max` the range would shrink with the loss and still pass.
   *  Bump when adding a query; the gate fails loudly if forgotten. */
  val maxQueryId: Int = 257

  /** Fail fast if the declared query ids skip a number: a query
   *  accidentally dropped from [[inventory]] would otherwise vanish from
   *  the correctness gate with no signal. [[Verify]] calls this at
   *  startup and a unit test pins it; returns the query count so doc
   *  counts are generated, not hand-maintained. */
  def assertContiguousQueryIds(): Int = {
    val idRe = "^q(\\d+)_.*$".r
    val ids = queries.keys.map {
      case idRe(n) => n.toInt
      case other => sys.error(s"query name without a qNN_ id prefix: $other")
    }.toSet
    val missing = ((1 to maxQueryId).toSet -- tombstoneIds -- ids).toSeq.sorted
    val zombie = (ids & tombstoneIds).toSeq.sorted
    val beyond = ids.filter(_ > maxQueryId).toSeq.sorted
    require(missing.isEmpty && zombie.isEmpty && beyond.isEmpty,
      s"query id gaps — missing: $missing, tombstoned-but-present: $zombie, " +
        s"over maxQueryId($maxQueryId): $beyond (bump the declared max)")
    ids.size
  }
}
