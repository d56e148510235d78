package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBusAccess
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

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

  /** The Spark jobs `body` starts. Listener events arrive asynchronously,
   *  so the bus is drained before counting starts and before it ends. */
  def jobsIn(body: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }
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
