package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // a query silently dropped from the inventory must kill the run, not
    // shrink the correctness gate by one
    SparkEntry.assertContiguousQueryIds()
    new java.io.File(outDir).mkdirs()
    def deleteRecursively(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        // close the walk stream (try-with-resources) — 250+ per-query
        // cleanup calls would otherwise leak directory handles
        scala.util.Using.resource(Files.walk(p)) { st =>
          st.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(Files.delete)
        }
      }
    // SPARK_GRAFT_ONLY=q96_bm25_topk,q01_... scopes the dump for local
    // iteration; the driver never sets it, so its runs stay exhaustive
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None =>
        // exhaustive run: a leftover result from a PRIOR run in the same
        // dir must not survive as this run's artifact (a query that
        // throws before its overwrite-delete would otherwise leave the
        // stale parquet to be hash-compared — the r9 q237 failure mode)
        deleteRecursively(Paths.get(outDir))
        new java.io.File(outDir).mkdirs()
        SparkEntry.queries
    }
    // SPARK_GRAFT_DUMP_TYPES=1: print each result's Catalyst schema so a
    // Spark-vs-oracle physical-type skew (r9/r10 q237: BIGINT vs DuckDB's
    // HUGEINT->decimal128) is visible here; tools/compare.py --dump-types
    // prints the Arrow types of BOTH sides at compare time.
    val dumpTypes = sys.env.get("SPARK_GRAFT_DUMP_TYPES").contains("1")
    selected.foreach { case (name, fn) =>
      try {
        val res = fn(spark, sfDir)
        if (dumpTypes) System.err.println(s"[types] $name: " +
          res.schema.fields.map(f => s"${f.name}:${f.dataType.sql}")
            .mkString(", "))
        res.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must read as MISSING downstream, never as the
        // previous run's (possibly half-deleted) output
        try deleteRecursively(Paths.get(s"$outDir/$name"))
        catch { case _: Throwable => () }
      }
      // operator-internal caches (shingle sets, funnel stages, CC labels)
      // are per-query working state here — drop them so 67+ queries'
      // cached frames don't accumulate into block-eviction churn
      spark.sharedState.cacheManager.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
