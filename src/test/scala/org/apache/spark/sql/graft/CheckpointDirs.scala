package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Test-side bridge to the `private[spark]` checkpoint dir of a
 *  SparkContext, which is global to every session on it. */
object CheckpointDirs {
  /** `body` with `sc`'s checkpoint dir under `dir`; the previous setting,
   *  none included, is restored afterwards, so no other test sees it. */
  def withCheckpointDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    val saved = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = saved
  }
}
