package graft

import org.apache.spark.sql.catalyst.expressions.Expression
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
}
