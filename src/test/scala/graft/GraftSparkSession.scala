package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for the test suites, with graft functions installed. */
trait GraftSparkSession extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = GraftSparkSession.session

  /** Run `body` with the given SQL confs set, restoring them afterwards. */
  def withSQLConf[T](pairs: (String, String)*)(body: => T): T =
    graft.conf.GraftConf.withConfs(spark, pairs: _*)(body)
}

object GraftSparkSession {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
