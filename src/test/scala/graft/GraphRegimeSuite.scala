package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBusAccess
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Graph}

/**
 * The iterative graph operators give one answer in every regime:
 * driver-local (nodes and edges fit `spark.sql.autoBroadcastJoinThreshold`),
 * broadcast-distributed (only the nodes fit) and sort-merge (threshold
 * off). Each regime is forced through the threshold, and the graphs
 * carry the awkward cases: duplicate edges, self-loops, dangling nodes,
 * endpoints outside the node table, null ids and Int ids.
 */
class GraphRegimeSuite extends AnyFunSuite with GraftSparkSession with AdaptiveSparkPlanHelper {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** A graph with every awkward case, ids `0 until 30` plus a null node. */
  private def awkward(): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val random = Seq.fill(90)((Option(rnd.nextInt(30).toLong), Option(rnd.nextInt(30).toLong)))
    val edges = random ++ random.take(10) ++ // duplicates
      Seq((Some(3L), Some(3L)), (Some(7L), Some(7L))) ++ // self-loops
      Seq((Some(4L), Some(100L)), (Some(101L), Some(5L))) ++ // foreign endpoints
      Seq((Some(6L), None), (None, Some(8L))) // null endpoints
    // 25..29 send nothing: dangling nodes
    val kept = edges.filterNot(e => e._1.exists(_ >= 25L) && e._1.exists(_ < 30L))
    val nodes = ((0L until 30L).map(Option(_)) :+ None).toDF("id")
    (nodes, kept.toDF("src", "dst"))
  }

  /** The same shape with Int ids and no nulls. */
  private def intGraph(): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val edges = Seq.fill(120)((rnd.nextInt(40), rnd.nextInt(40))) ++ Seq((1, 1), (2, 77))
    ((0 until 40).toDF("id"), edges.toDF("src", "dst"))
  }

  /** Thresholds forcing each regime: everything fits; only the nodes
   *  fit (32 bytes a node, 16 an edge); nothing broadcasts. */
  private def regimes(nodes: DataFrame, edges: DataFrame): Seq[(String, String)] = {
    val n = nodes.distinct().count()
    val m = edges.count()
    assert(m * 16 > n * 32, "the graph must be edge-heavy enough to split the regimes")
    Seq("local" -> "10485760", "broadcast" -> (n * 32).toString, "sort-merge" -> "-1")
  }

  private def isLocal(df: DataFrame): Boolean = df.queryExecution.logical match {
    case _: LocalRelation => true
    case _ => false
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => if (r.isNullAt(0)) Long.MinValue else r.getAs[Number](0).longValue)

  /** Runs `op` in every regime; checks that only the local threshold
   *  gives a local frame and that all regimes agree. */
  private def sameInEveryRegime(nodes: DataFrame, edges: DataFrame)(op: => DataFrame): Unit = {
    val out = regimes(nodes, edges).map { case (name, t) =>
      withSQLConf(Threshold -> t) {
        val df = op
        assert(isLocal(df) === (name == "local"), name)
        name -> (df.schema.map(f => (f.name, f.dataType)), rows(df))
      }
    }
    out.tail.foreach { case (name, got) => assert(got === out.head._2, s"$name vs local") }
  }

  Seq(1, 5).foreach { iters =>
    test(s"pageRankFp: local, broadcast and sort-merge regimes agree ($iters iterations)") {
      Seq(awkward(), intGraph()).foreach { case (nodes, edges) =>
        sameInEveryRegime(nodes, edges)(Graph.pageRankFp(nodes, edges, "id", iters))
      }
    }
  }

  Seq(3, 10).foreach { rounds =>
    test(s"labelPropagation: local, broadcast and sort-merge regimes agree ($rounds rounds)") {
      Seq(awkward(), intGraph()).foreach { case (nodes, edges) =>
        var counted = Seq.empty[Int]
        sameInEveryRegime(nodes, edges) {
          val df = Graph.labelPropagation(nodes, edges, "id", "src", "dst", rounds)
          counted :+= Graph.IterationDiagnostics.lastLpaRounds
          df
        }
        assert(counted.distinct.size === 1, s"rounds per regime: $counted")
      }
    }
  }

  test("pageRankFp: string ids stay distributed under the local threshold") {
    import spark.implicits._
    val nodes = Seq("a", "b", "c").toDF("id")
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "b")).toDF("src", "dst")
    val (local, smj) = Seq("10485760", "-1").map { t =>
      withSQLConf(Threshold -> t)(Graph.pageRankFp(nodes, edges, "id", 3))
    } match { case Seq(a, b) => (a, b) }
    assert(!isLocal(local))
    assert(local.collect().toSet === smj.collect().toSet)
  }

  test("labelPropagation: non-numeric ids still raise in the local regime") {
    import spark.implicits._
    val nodes = Seq("docA", "docB").toDF("id")
    val edges = Seq(("docA", "docB")).toDF("src", "dst")
    val e = intercept[Exception] {
      withSQLConf(Threshold -> "10485760") {
        Graph.labelPropagation(nodes, edges, "id", "src", "dst", 3).collect()
      }
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(x => Option(x.getMessage))
    assert(messages.exists(_.contains("long-castable")), e.getMessage)
  }

  test("connectedComponents: a pair with a null endpoint links nothing, locally too") {
    import spark.implicits._
    val nodes = (1L to 5L).toDF("id")
    val pairs = Seq((Option(1L), Option(2L)), (Option(2L), None), (None, Option(4L)))
      .toDF("id_a", "id_b")
    def comps(threshold: Long) =
      Dedup.connectedComponents(nodes, pairs, "id", localEdgeThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1000000L) === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
    assert(comps(0L) === comps(1000000L))
  }

  test("connectedComponents leaves a pair set the caller cached in the cache") {
    import spark.implicits._
    val nodes = (1L to 4L).toDF("id")
    val pairs = Seq((1L, 2L, 0.9), (3L, 4L, 0.8)).toDF("id_a", "id_b", "j")
      .select("id_a", "id_b").cache()
    try {
      pairs.count()
      Seq(1000000L, 0L).foreach { threshold =>
        Dedup.connectedComponents(nodes, pairs, "id", localEdgeThreshold = threshold).collect()
        assert(pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE, threshold)
      }
    } finally pairs.unpersist()
  }

  test("bfsDistances: a frontier that outgrows the broadcast bound re-partitions the adjacency once") {
    import spark.implicits._
    // a star 0 -> 1..12, then a chain of fans: each leaf i reaches 100+i,
    // which reaches 200+i, so rounds 2 and 3 run after the demotion
    val edges = ((1L to 12L).map(i => (0L, i)) ++ (1L to 12L).map(i => (i, 100L + i)) ++
      (1L to 12L).map(i => (100L + i, 200L + i))).toDF("s", "t")
    val seeds = Seq(0L).toDF("id")
    val want = (Seq(0L -> 0) ++ (1L to 12L).map(_ -> 1) ++ (1L to 12L).map(i => (100L + i) -> 2) ++
      (1L to 12L).map(i => (200L + i) -> 3)).toMap
    // one exchange over the adjacency (m, x) per repartition that built it
    val adjExchanges = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = adjExchanges.addAndGet(collect(qe.executedPlan) {
        case x: ShuffleExchangeExec if x.child.output.map(_.name) == Seq("m", "x") => x
      }.size)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    // the seed (64 bytes) fits, the 12-node first frontier does not
    val got = withSQLConf(Threshold -> "100") {
      spark.listenerManager.register(listener)
      try {
        val out = Graph.bfsDistances(edges, "s", "t", seeds, "id", maxDepth = 5)
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        ListenerBusAccess.drain(spark.sparkContext)
        out
      } finally spark.listenerManager.unregister(listener)
    }
    assert(got === want)
    assert(Graph.bfsDistances(edges, "s", "t", seeds, "id", maxDepth = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap === want)
    // setup by `x`, once more by `m` at the demotion; none in rounds 2-4
    assert(adjExchanges.get === 2)
  }
}
