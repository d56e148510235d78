package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ThetaUnion}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.graft.GraftFunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

/** The contract every installed SQL function keeps: the expression its
  * documented examples resolve to reports the function's own name (it
  * names result columns and appears in plans), and `DESCRIBE FUNCTION
  * EXTENDED` documents its arguments and examples. */
class FunctionContractSuite extends AnyFunSuite with GraftSparkSession {

  // functions that delegate to a Spark built-in, which keeps its own name
  private val delegating = Map("graft_bloom_agg" -> "bloom_filter_agg")

  private val functions = GraftFunctionRegistry.expressions.map { case (id, info, _) =>
    id.funcName -> info
  }

  private def examples(docs: String): Seq[String] =
    docs.split("\n").map(_.trim).filter(_.startsWith("> ")).map(_.drop(2)).toSeq

  test("every installed function has examples that resolve to its own prettyName") {
    assert(functions.size === 92)
    val wrong = functions.flatMap { case (name, info) =>
      val queries = examples(info.getExamples)
      val names = queries.flatMap { q =>
        spark.sql(q).queryExecution.analyzed.collectWithSubqueries {
          case p => p.expressions.flatMap(_.collect { case e: Expression => e.prettyName })
        }.flatten
      }.toSet
      val expected = delegating.getOrElse(name, name)
      if (queries.nonEmpty && names.contains(expected)) None
      else Some(s"$name: examples resolve to ${names.toSeq.sorted.mkString(", ")}")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("DESCRIBE FUNCTION EXTENDED shows arguments and examples for every function") {
    val undocumented = functions.map(_._1).filterNot { name =>
      val d = spark.sql(s"DESCRIBE FUNCTION EXTENDED $name")
        .collect().map(_.getString(0)).mkString("\n")
      d.contains("Arguments:") && d.contains("Examples:")
    }
    assert(undocumented.isEmpty, undocumented.mkString(", "))
  }

  test("no graft function shares a name with a Spark built-in except theta_union") {
    val shared = functions.map(_._1).filter(n => FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
    assert(shared === Seq("theta_union"))
  }

  test("theta_union with two or three arguments is Spark's built-in; with one, graft's aggregate") {
    val sketches = "(SELECT theta_sketch_agg(a) sa, theta_sketch_agg(b) sb FROM VALUES (1, 2), (3, 4), (1, 5) t(a, b))"
    Seq("theta_union(sa, sb)", "theta_union(sa, sb, 12)").foreach { call =>
      val df = spark.sql(s"SELECT theta_sketch_estimate($call) FROM $sketches")
      assert(df.head().getLong(0) === 5L, call)
      assert(df.queryExecution.analyzed.collectFirst { case p: Project =>
        p.projectList.head.collectFirst { case u: ThetaUnion => u } }.flatten.isDefined, call)
    }
    val graft = spark.sql("SELECT theta_estimate(theta_union(s)) FROM " +
      "(SELECT theta_accumulate(col) s FROM VALUES ('a'), ('b'), ('a') tab(col) GROUP BY col)")
    assert(graft.head().getLong(0) === 2L)
  }
}
