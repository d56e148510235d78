/**
 * Opt-in approximate-query rewriting: `COUNT(DISTINCT x)` → the graft
 * distinct-count sketch aggregate, BlinkDB-style, under an explicit
 * session flag.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/**
 * Rewrites exact `COUNT(DISTINCT x)` aggregates to
 * `approx_count_distinct`-family sketch aggregates when
 * `spark.sql.graft.approxCountDistinct.enabled` is set — the classic
 * approximate-query-processing trade: an exact distinct count plans as
 * EXPAND + a second full shuffle of the (group, value) pairs, where the
 * sketch is ONE pass with bounded state per group, so at 100 TB the
 * rewrite removes the most expensive exchange in the plan. Off by
 * default: results become estimates (exact below the sketch's
 * deterministic region — HLL's coupon mode up to ~3/4·2^lgK distinct
 * values — then within its published error bounds).
 *
 * Scope guards (each keeps exact semantics where the rewrite can't):
 *   - single-argument COUNT(DISTINCT x) only — multi-column distinct
 *     tuples have no single-sketch equivalent here;
 *   - no FILTER clause (the sketch aggregate carries none);
 *   - only string and integral child types: integrals widen losslessly
 *     to the sketch's long domain, while fractional/binary/etc. have no
 *     injective mapping the sketch accepts.
 *
 * The sketch family comes from `spark.sql.graft.approxCountDistinct.impl`
 * (default HLL — its sub-capacity exactness makes the flag safe for
 * moderate-cardinality dashboards; CPC estimates everywhere), with lgK
 * from the family's own `spark.sql.dataSketches.distinctCnt.*.lgK`.
 * Parameters freeze at rewrite time on the driver, like every other
 * graft aggregate.
 */
case class ApproxCountDistinctRewriteRule(spark: SparkSession)
  extends Rule[LogicalPlan] {

  private def eligible(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!GraftConfEntries.getBoolean(GraftConfEntries.APPROX_COUNT_DISTINCT_ENABLED)) {
      return plan
    }
    val impl = GraftConfEntries.getString(GraftConfEntries.APPROX_COUNT_DISTINCT_IMPL)
    val family = DistinctFamily.forAlgo(impl)
    plan.transform {
      case agg: Aggregate =>
        agg.transformExpressionsUp {
          case ae @ AggregateExpression(Count(Seq(c)), _, true, None, _)
              if eligible(c.dataType) =>
            val child = c.dataType match {
              case StringType | LongType => c
              case _ => Cast(c, LongType) // lossless integral widening
            }
            // keep the AggregateExpression shell (mode, resultId) so the
            // aggregate's output attribute ids and LongType stay intact
            ae.copy(
              aggregateFunction =
                SketchOneShot(Seq(child), family, "approx_count_distinct_ex"),
              isDistinct = false)
        }
    }
  }
}
