package graft.conf

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftConfEntries

/**
 * Session configuration for the graft sketch engine.
 *
 * Keys and defaults mirror the reference plugin's surface
 * (reference: DataSketchConf.scala:27-124) so existing users can switch
 * without changing their configs. Entries are REGISTERED into SQLConf's
 * registry (see [[org.apache.spark.sql.graft.GraftConfEntries]]): typed,
 * visible in `SET -v`, and validated with a helpful message at `SET`
 * time. Unlike the reference — which re-reads `SQLConf.get` inside
 * executor-side buffer factories (reference: quantileSketches.scala:52-62)
 * — graft resolves every sketch parameter ONCE on the driver when the
 * expression is constructed and freezes it into the expression tree. On a
 * 1000-executor cluster this guarantees all partial aggregates use
 * identical sketch parameters even if task-local conf propagation is
 * altered, and makes plans self-describing.
 */
object GraftConf {
  val QUANTILE_SKETCH_IMPL_KEY = "spark.sql.dataSketches.quantiles.sketchImpl"
  val QUANTILE_KLL_K_KEY = "spark.sql.dataSketches.quantiles.kll.k"
  val QUANTILE_REQ_K_KEY = "spark.sql.dataSketches.quantiles.req.k"
  val QUANTILE_MERGEABLE_K_KEY = "spark.sql.dataSketches.quantiles.mergeable.k"
  val FREQITEMS_MAX_MAP_SIZE_KEY = "spark.sql.dataSketches.freqItems.maxMapSize"
  val DISTINCT_CNT_SKETCH_IMPL_KEY = "spark.sql.dataSketches.distinctCnt.sketchImpl"
  val DISTINCT_CNT_CPC_LGK_KEY = "spark.sql.dataSketches.distinctCnt.cpc.lgK"
  val DISTINCT_CNT_HLL_LGK_KEY = "spark.sql.dataSketches.distinctCnt.hll.lgK"
  val THETA_LGK_KEY = "spark.sql.dataSketches.theta.lgK"
  val TUPLE_LGK_KEY = "spark.sql.dataSketches.tuple.lgK"
  val TDIGEST_K_KEY = "spark.sql.dataSketches.tdigest.k"
  val FD_ELL_KEY = "spark.sql.dataSketches.fd.ell"

  /** Default quantile algorithm: REQ, k=12 (reference: DataSketchConf.scala:36-55). */
  def quantileSketchImpl: String = GraftConfEntries.getString(GraftConfEntries.QUANTILE_SKETCH_IMPL)
  def quantileKllK: Int = GraftConfEntries.getInt(GraftConfEntries.QUANTILE_KLL_K)
  def quantileReqK: Int = GraftConfEntries.getInt(GraftConfEntries.QUANTILE_REQ_K)
  def quantileMergeableK: Int = GraftConfEntries.getInt(GraftConfEntries.QUANTILE_MERGEABLE_K)

  /** Misra-Gries map size; sketch is exact while #distinct < 0.75 * this. */
  def freqItemsMaxMapSize: Int = GraftConfEntries.getInt(GraftConfEntries.FREQITEMS_MAX_MAP_SIZE)

  /** Default distinct-count algorithm: CPC, lgK=11 (reference: DataSketchConf.scala:73-85). */
  def distinctCntSketchImpl: String =
    GraftConfEntries.getString(GraftConfEntries.DISTINCT_CNT_SKETCH_IMPL)
  def distinctCntCpcLgK: Int = GraftConfEntries.getInt(GraftConfEntries.DISTINCT_CNT_CPC_LGK)
  def distinctCntHllLgK: Int = GraftConfEntries.getInt(GraftConfEntries.DISTINCT_CNT_HLL_LGK)

  /** Theta set-operation sketches: exact below 2^lgK distinct items. */
  def thetaLgK: Int = GraftConfEntries.getInt(GraftConfEntries.THETA_LGK)

  /** Tuple (key + double summary) sketches: exact below 2^lgK distinct keys. */
  def tupleLgK: Int = GraftConfEntries.getInt(GraftConfEntries.TUPLE_LGK)

  /** t-digest compression: more centroids = tighter tail-weighted rank error. */
  def tdigestK: Int = GraftConfEntries.getInt(GraftConfEntries.TDIGEST_K)

  /** Frequent-Directions sketch rows; spectral error <= ||A||_F^2 / ell. */
  def fdEll: Int = GraftConfEntries.getInt(GraftConfEntries.FD_ELL)

  /** Run `body` with the given session confs set, then put each key back:
   *  its old value if it had one, unset otherwise. The confs are
   *  session-wide while `body` runs, so this is for single-threaded code
   *  that owns its session (the query catalogue, the tests); operator
   *  code passes per-write options or uses its own session instead. */
  def withConfs[T](spark: SparkSession, pairs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val explicit = conf.getAll // set keys only: a key left at its default is unset again
    val saved = pairs.map { case (k, _) => k -> explicit.get(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
