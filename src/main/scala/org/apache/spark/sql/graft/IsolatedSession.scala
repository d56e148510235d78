package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.{Dataset, SparkSession}

import graft.conf.GraftConf

/**
 * Bridge to the `private[sql]` `cloneSession`: runs one action under
 * confs that differ from the caller's, without the caller's session ever
 * seeing them. The clone shares the SparkContext, cache and listeners
 * (query-execution listeners are copied) but has its own SQLConf, so a
 * concurrent query on the caller's session keeps its settings.
 */
object IsolatedSession {
  /** `action` applied to `df` on a clone of its session with `confs` set;
   *  the result is rebound to the caller's session. */
  def run(df: DataFrame, confs: (String, String)*)(
      action: DataFrame => DataFrame): DataFrame = {
    val caller = df.sparkSession.asInstanceOf[SparkSession]
    val clone = caller.cloneSession()
    val out = GraftConf.withConfs(clone, confs: _*) {
      action(Dataset.ofRows(clone, df.asInstanceOf[Dataset[Row]].logicalPlan))
    }
    Dataset.ofRows(caller, out.asInstanceOf[Dataset[Row]].logicalPlan)
  }
}
