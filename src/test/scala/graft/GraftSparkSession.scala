package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

import graft.tools.{Instrument, Snapshot}

/** Shared local SparkSession for the test suites, with graft functions installed. */
trait GraftSparkSession extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = GraftSparkSession.session

  /** Run `body` with the given SQL confs set, restoring them afterwards. */
  def withSQLConf[T](pairs: (String, String)*)(body: => T): T =
    graft.conf.GraftConf.withConfs(spark, pairs: _*)(body)

  /** `body` over a new temp dir, deleted afterwards. The only place the
   *  tests create one (a `StyleSuite` rule), so none is left behind. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  /** `body`'s value and the Spark work and op records it caused. */
  def instrumented[T](body: => T): (T, Snapshot) = {
    val inst = new Instrument(spark)
    try {
      inst.reset()
      val out = body
      (out, inst.snapshot())
    } finally inst.close()
  }

  /** The Spark jobs `body` starts. */
  def jobsIn(body: => Any): Int = instrumented(body)._2.jobs.toInt
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
