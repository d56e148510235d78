package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Harness-level contracts: the query inventory itself (id contiguity,
  * generated doc counts — a silently dropped query must fail loudly, not
  * shrink the correctness gate) and cross-cutting schema guarantees the
  * migration notes promise. */
class HarnessContractSuite extends AnyFunSuite with GraftSparkSession {

  test("query ids are contiguous modulo declared tombstones; README count is generated") {
    val n = SparkEntry.assertContiguousQueryIds()
    assert(n === SparkEntry.queries.size)
    // the README's stated suite size must be this computed count — a
    // hand-maintained number drifts the moment a query lands
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    assert(readme.contains(s"All $n queries"),
      s"README.md must state the generated query count ($n queries)")
    // every oracle belongs to a declared query (no orphan SQL)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("estimate lifecycle is DOUBLE for any input type; one-shot preserves the type") {
    // deliberate reference parity (its quantileSketches.scala:601-605
    // TODO): the wire image carries no source type, so estimate-over-
    // sketch can only promise Double — for ints AND for Decimal
    val estInt = spark.sql(
      """SELECT approx_percentile_estimate(approx_percentile_accumulate(c), 0.5) AS p
        |FROM VALUES (1), (2), (3) AS t(c)""".stripMargin)
    assert(estInt.schema("p").dataType === DoubleType)
    val estDec = spark.sql(
      """SELECT approx_percentile_estimate(approx_percentile_accumulate(c), 0.5) AS p
        |FROM VALUES (CAST(1.25 AS DECIMAL(10,2))) AS t(c)""".stripMargin)
    assert(estDec.schema("p").dataType === DoubleType)
    // ...while the one-shot aggregate keeps the input type end to end
    val oneInt = spark.sql(
      "SELECT approx_percentile_ex(c, 0.5) AS p FROM VALUES (1), (2) AS t(c)")
    assert(oneInt.schema("p").dataType === IntegerType)
    val oneDec = spark.sql(
      """SELECT approx_percentile_ex(c, 0.5) AS p
        |FROM VALUES (CAST(1.25 AS DECIMAL(10,2))) AS t(c)""".stripMargin)
    assert(oneDec.schema("p").dataType === DecimalType(10, 2))
  }

  test("a query's scratch dirs are gone once the harness has written its result") {
    import spark.implicits._
    def scratch(): Set[String] =
      Option(new java.io.File(System.getProperty("java.io.tmpdir")).list()).toSet.flatten
        .filter(_.matches("graft_q\\d+.*"))
    val before = scratch()
    withTempDir("graft_harness_sf")(sf => withTempDir("graft_harness_out") { out =>
      (1 to 40).map(i => (i.toLong, s"doc $i says ${"word " * (i % 7)}end")).toDF("doc_id", "text")
        .write.parquet(s"$sf/documents.parquet")
      Seq("q140_shard_manifest", "q231_vacuum_orphans").foreach { name =>
        Verify.dump(spark, sf, out, name, SparkEntry.queries(name))
        assert(new java.io.File(out, name).isDirectory, s"$name wrote no result")
      }
    })
    assert(scratch() -- before === Set.empty)
  }
}
