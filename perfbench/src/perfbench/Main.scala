package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run; `run.py` passes every field. */
final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean, cores: Int,
    work: String, out: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, need("work"), need("out"))
  }
}

/** One timed call: a rollup, an append, an operator call, a pass or a batch. */
final class Op(val kind: String, val ms: Double) {
  var ok = true
  var err: String = ""
  def fail(why: String): Unit = if (ok) { ok = false; err = why }
  def toMap: Map[String, Any] =
    Map("kind" -> kind, "ms" -> ms, "ok" -> ok, "err" -> err)
}

/** Everything one run measured, written as JSON for `run.py`. */
final class Report {
  val setupS = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[Op]
  val values = mutable.LinkedHashMap.empty[String, Any]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** Time `body` as one op. A throw fails the op and yields None. */
  def op[T](kind: String)(body: => T): (Op, Option[T]) = {
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case NonFatal(e) => Left(e) }
    val o = new Op(kind, (System.nanoTime() - t0) / 1e6)
    ops += o
    r match {
      case Right(v) => (o, Some(v))
      case Left(e) =>
        o.fail(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        System.err.println(s"[perfbench] $kind threw: $e")
        (o, None)
    }
  }

  def check(name: String, ok: Boolean, detail: String = ""): Boolean = synchronized {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
    ok
  }

  def toMap: Map[String, Any] = Map(
    "setup_s" -> setupS.toSeq, "ops" -> ops.map(_.toMap).toSeq, "values" -> values.toMap,
    "layer" -> layer.toMap, "checks" -> checks.toSeq)
}

trait Workload {
  def run(): Unit
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.cores, a.work)
    val report = new Report
    val runId = s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}"
    val tracer = new Tracer(spark, a.trace, runId)
    val workload: Workload = a.workload match {
      case "sketch_lifecycle" => new Lifecycle(spark, a, report, tracer)
      case "curation" => new Curation(spark, a, report, tracer)
      case "stream_ingest" => new StreamIngest(spark, a, report, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    report.values("session_s") = (System.currentTimeMillis() - jvmStart) / 1000.0
    val t0 = System.nanoTime()
    tracer.span(a.workload)(workload.run())
    report.values("wall_s") = (System.nanoTime() - t0) / 1e9
    tracer.resolve()
    val out = report.toMap ++ Map("run_id" -> runId, "spans" -> tracer.spansJson)
    Json.write(a.out, out)
    spark.stop()
  }

  /** The run's SparkSession: no tuning conf, only the graft extensions and
   *  the summary rewrite. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(graft.plans.GraftSummaries.ENABLED_KEY, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** A short run that loads the classes the workloads share, for the
 *  class-data archive `build.py` records: a session, a sketch aggregate,
 *  a parquet round trip. Measures nothing. */
object Warm {
  def main(argv: Array[String]): Unit = {
    val work = argv(0)
    val spark = Main.session(2, work)
    spark.range(0, 1000, 1, 2).selectExpr("id % 7 AS k", "CAST(id AS DOUBLE) AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.expr("approx_percentile_accumulate(v)"))
      .write.parquet(s"$work/w")
    spark.read.parquet(s"$work/w").count()
    spark.stop()
  }
}

object Json {
  def write(path: String, v: Any): Unit = {
    val s = org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), s.getBytes("UTF-8"))
  }
}

/** Seeded column generators: every value is a hash of (seed, row id,
 *  salt), so the same seed yields the same rows on any partitioning. */
object Gen {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  private val Two53 = 9007199254740992L

  /** Uniform double in [0, 1). */
  def u(seed: Long, salt: Int, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(Two53)).cast("double") / lit(Two53.toDouble)

  /** Run `tasks` on threads of their own and wait for all; the checks run
   *  this way, outside every timed region, to keep runs short. */
  def parallel[T](tasks: (() => T)*): Seq[T] = {
    val futures = tasks.map { t =>
      val f = new java.util.concurrent.FutureTask[T](() => t())
      new Thread(f).start()
      f
    }
    futures.map { f =>
      try f.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    }
  }

  /** The same kind of seeded value for rows built on the driver:
   *  splitmix64 over (seed, salt, id). */
  def hash(seed: Long, salt: Long, id: Long): Long =
    Seq(seed, salt, id).foldLeft(0x9E3779B97F4A7C15L) { (acc, x) =>
      var z = acc ^ x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }

  def unit(seed: Long, salt: Long, id: Long): Double = (hash(seed, salt, id) >>> 11) / 9007199254740992.0

  /** Deterministic scala RNG for driver-side choices. */
  def rng(seed: Long, salt: Long): scala.util.Random = new scala.util.Random(seed * 1000003L + salt)

  def deleteTree(p: java.nio.file.Path): Unit = if (java.nio.file.Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    val all = java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(java.nio.file.Files.deleteIfExists(_))
  }
}
