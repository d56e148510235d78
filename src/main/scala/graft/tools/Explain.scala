package graft.tools

import graft.SparkEntry

/**
 * Dev tool: print formatted physical plans for selected SparkEntry queries.
 * Usage: runMain graft.tools.Explain <sfDir> [queryName ...]
 */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkEntry.localSession("4")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      finally SparkEntry.deleteScratchDirs()
    }
    spark.stop()
  }
}
