package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.graft.GraftFunctionRegistry

/**
 * Session-extensions entry point: registers all 92 graft SQL functions
 * (the reference's 18 sketch functions plus the theta/sampling/cdf-rank
 * families and the text/vector pipeline primitives).
 * Use with `--conf spark.sql.extensions=graft.GraftExtensions`, or rely on
 * ServiceLoader auto-discovery (META-INF/services), or call
 * [[Graft.install]] on a live session.
 */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    org.apache.spark.sql.graft.GraftConfEntries.ensureRegistered()
    GraftFunctionRegistry.expressions.foreach(ext.injectFunction)
    // summary-table rewrite (no-op unless a summary is registered AND
    // spark.sql.graft.summaryRewrite.enabled is set)
    ext.injectOptimizerRule(session =>
      org.apache.spark.sql.graft.SummaryRewriteRule(session))
    // COUNT(DISTINCT) -> sketch rewrite (no-op unless
    // spark.sql.graft.approxCountDistinct.enabled is set)
    ext.injectOptimizerRule(session =>
      org.apache.spark.sql.graft.ApproxCountDistinctRewriteRule(session))
  }
}

/** Imperative API mirror of the reference's `DataSketches.install()`. */
object Graft {
  def install(spark: SparkSession): Unit = {
    org.apache.spark.sql.graft.GraftConfEntries.ensureRegistered()
    GraftFunctionRegistry.install(spark)
  }
}
