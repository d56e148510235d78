package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBusAccess
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Graph, Similarity}
import graft.tools.Snapshot

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

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => if (r.isNullAt(0)) Long.MinValue else r.getAs[Number](0).longValue)

  /** Runs `op` in every regime; checks that each threshold records its
   *  regime and that all regimes agree. Returns what each regime ran,
   *  the result's collect included. */
  private def sameInEveryRegime(nodes: DataFrame, edges: DataFrame)(
      op: => DataFrame): Map[String, Snapshot] = {
    val out = regimes(nodes, edges).map { case (name, t) =>
      withSQLConf(Threshold -> t) {
        val (got, snap) = instrumented {
          val df = op
          (df.schema.map(f => (f.name, f.dataType)), rows(df))
        }
        assert(snap.ops.map(_.regime) === Seq(name), snap.ops)
        (name, got, snap)
      }
    }
    out.tail.foreach { case (name, got, _) => assert(got === out.head._2, s"$name vs local") }
    out.map { case (name, _, snap) => name -> snap }.toMap
  }

  /** The value of `f`, or the class of its error's root cause. */
  private def outcome[T](f: => T): Either[String, T] =
    try Right(f) catch {
      case e: Exception =>
        Left(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last
          .getClass.getName)
    }

  /** The seeds of the personalized runs: every 7th node. */
  private def seedsOf(nodes: DataFrame): DataFrame = nodes.where(col("id") % 7 === 0)

  /** The edges with a weight in 1..5 derived from the endpoints. */
  private def weighted(edges: DataFrame): DataFrame =
    edges.withColumn("w", (abs(hash(col("src"), col("dst"))) % 5 + 1).cast("long"))

  /** The jobs each operator ran in the broadcast and sort-merge regimes
   *  before the three PageRanks shared one core, on both graphs, the
   *  result's collect included: operator -> iterations -> regime -> jobs. */
  private val jobsBefore = Map(
    "pageRankFp" -> Map(1 -> Map("broadcast" -> 17, "sort-merge" -> 13),
      5 -> Map("broadcast" -> 31, "sort-merge" -> 20)),
    "personalizedPageRankFp" -> Map(1 -> Map("broadcast" -> 21, "sort-merge" -> 17),
      5 -> Map("broadcast" -> 35, "sort-merge" -> 24)),
    "weightedPageRankFp" -> Map(1 -> Map("broadcast" -> 16, "sort-merge" -> 13),
      5 -> Map("broadcast" -> 30, "sort-merge" -> 20)))

  private def pageRank(name: String, nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame =
    name match {
      case "pageRankFp" => Graph.pageRankFp(nodes, edges, "id", iters)
      case "personalizedPageRankFp" =>
        Graph.personalizedPageRankFp(nodes, edges, "id", seedsOf(nodes), iters)
      case "weightedPageRankFp" => Graph.weightedPageRankFp(nodes, weighted(edges), "id", "w", iters)
    }

  for (name <- jobsBefore.keys.toSeq.sorted; iters <- Seq(1, 5)) {
    test(s"$name: local, broadcast and sort-merge regimes agree ($iters iterations)") {
      Seq(awkward(), intGraph()).foreach { case (nodes, edges) =>
        val jobs = sameInEveryRegime(nodes, edges)(pageRank(name, nodes, edges, iters))
          .map { case (regime, snap) => regime -> snap.jobs }
        assert(jobs("local") <= 2, jobs)
        Seq("broadcast", "sort-merge").foreach { regime =>
          assert(jobs(regime) <= jobsBefore(name)(iters)(regime), s"$regime: $jobs")
        }
      }
    }
  }

  test("personalizedPageRankFp: seed edge cases agree in every regime") {
    import spark.implicits._
    val (nodes, edges) = awkward()
    val (intNodes, intEdges) = intGraph()
    Seq(
      // a seed outside the node set and a null seed are ignored
      (nodes, edges, Seq(Option(3L), Option(1000L)).toDF("id")),
      (nodes, edges, Seq(Option(3L), None).toDF("id")),
      // every node a seed (the null node matches no seed)
      (nodes, edges, nodes),
      (intNodes, intEdges, intNodes),
      (intNodes, intEdges, Seq(5L, 77L).toDF("id"))).foreach { case (n, e, seeds) =>
      sameInEveryRegime(n, e)(Graph.personalizedPageRankFp(n, e, "id", seeds, 3))
    }
    // no seed in the node set: the same error in every regime
    regimes(nodes, edges).foreach { case (name, t) =>
      val e = intercept[IllegalArgumentException](withSQLConf(Threshold -> t) {
        Graph.personalizedPageRankFp(nodes, edges, "id", Seq(1000L, 2000L).toDF("id"), 3)
      })
      assert(e.getMessage.contains("no seed overlaps the node set"), name)
    }
  }

  test("weightedPageRankFp: null, non-positive and overflowing weights stay with Spark's plan") {
    val (nodes, edges) = intGraph()
    val bound = Long.MaxValue / Graph.RankScale
    // the first edge, whose weight most cases replace
    val first = edges.head()
    val isFirst = col("src") === first.getInt(0) && col("dst") === first.getInt(1)
    def firstWeighs(w: Column): Column = when(isFirst, w).otherwise(col("w"))
    Seq(
      "a null weight" -> firstWeighs(lit(null).cast("long")),
      "a zero weight beside positive ones" -> firstWeighs(lit(0L)),
      "a node whose weights sum to 0" -> when(col("src") === first.getInt(0), 0L).otherwise(col("w")),
      "a negative weight" -> firstWeighs(lit(-3L)),
      "a weight just above the bound" -> firstWeighs(lit(bound + 1)),
      "a weight whose rank * w overflows" -> firstWeighs(lit(Long.MaxValue / 2))).foreach {
      case (name, w) =>
        val e = weighted(edges).withColumn("w", w)
        val got = Seq("10485760" -> ("broadcast", "a weight outside the local range"),
          "-1" -> ("sort-merge", "threshold off")).map { case (t, decision) =>
          withSQLConf(Threshold -> t) {
            val (out, snap) = instrumented(outcome(Graph.weightedPageRankFp(nodes, e, "id", "w", 3)))
            assert(snap.ops.map(r => (r.regime, r.reason)) === Seq(decision), name)
            out.map(rows)
          }
        }
        assert(got.head === got.last, name)
    }
    // the largest weight the local regime takes
    sameInEveryRegime(nodes, edges)(
      Graph.weightedPageRankFp(nodes, weighted(edges).withColumn("w", firstWeighs(lit(bound))),
        "id", "w", 3))
  }

  test("a zero weight declines weighted PageRank in the charge job, before any collect") {
    val (nodes, edges) = intGraph()
    val first = edges.head()
    val e = weighted(edges).withColumn("w",
      when(col("src") === first.getInt(0) && col("dst") === first.getInt(1), 0L).otherwise(col("w")))
    spark.sharedState.cacheManager.clearCache()
    val (_, snap) = instrumented(Graph.weightedPageRankFp(nodes, e, "id", "w", 3).collect())
    assert(snap.ops.map(r => (r.regime, r.reason)) === Seq(("broadcast", "a weight outside the local range")))
    // a gate that collected the edges and then scanned their weights ran 22
    assert(snap.jobs === 21)
  }

  test("each driver-local gate takes an input at exactly its charge and declines a byte less") {
    import spark.implicits._
    val (nodes, edges) = intGraph()
    val m = edges.count()
    val pairs = edges.select(col("src").as("id_a"), col("dst").as("id_b"))
    val vecs = (0 until 50).map(i => i.toLong -> Array.tabulate(4)(j => math.sin(4.0 * i + j))).toDF("id", "vec")
    // op, its call, what its gate charges, the bytes, and the regime a decline takes
    Seq[(String, () => Any, String, Long, String)](
      ("pageRankFp", () => Graph.pageRankFp(nodes, edges, "id", 3), "edges", m * 16, "broadcast"),
      ("weightedPageRankFp", () => Graph.weightedPageRankFp(nodes, weighted(edges), "id", "w", 3),
        "edges", m * 24, "broadcast"),
      ("labelPropagation", () => Graph.labelPropagation(nodes, edges, "id", "src", "dst", 3),
        "edges", m * 16, "broadcast"),
      ("connectedComponents", () => Dedup.connectedComponents(nodes, pairs), "pairs", m * 16, "distributed"),
      ("kmeans", () => Similarity.kmeansCentroids(vecs, "vec", 4, 2), "vectors", 50L * 24 + 50L * 4 * 8,
        "distributed")).foreach { case (op, run, what, n, declined) =>
      def decision(t: Long) = withSQLConf(Threshold -> t.toString)(instrumented(run()))
        ._2.ops.map(r => (r.op, r.regime, r.reason))
      assert(decision(n) === Seq((op, "local", s"$what $n bytes <= threshold $n")))
      assert(decision(n - 1) === Seq((op, declined, s"$what $n bytes > threshold ${n - 1}")))
    }
  }

  Seq(3, 10).foreach { rounds =>
    test(s"labelPropagation: local, broadcast and sort-merge regimes agree ($rounds rounds)") {
      Seq(awkward(), intGraph()).foreach { case (nodes, edges) =>
        val counted = sameInEveryRegime(nodes, edges)(
          Graph.labelPropagation(nodes, edges, "id", "src", "dst", rounds)).map { case (regime, snap) =>
          regime -> snap.ops.head.rounds
        }
        assert(counted.values.toSet.size === 1, s"rounds per regime: $counted")
      }
    }
  }

  test("pageRankFp: string ids stay distributed under the local threshold") {
    import spark.implicits._
    val nodes = Seq("a", "b", "c").toDF("id")
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "b")).toDF("src", "dst")
    val (local, snap) = withSQLConf(Threshold -> "10485760")(instrumented(Graph.pageRankFp(nodes, edges, "id", 3)))
    assert(snap.ops.map(r => (r.regime, r.reason)) === Seq(("broadcast", "non-integral ids")))
    val smj = withSQLConf(Threshold -> "-1")(Graph.pageRankFp(nodes, edges, "id", 3))
    assert(local.collect().toSet === smj.collect().toSet)
  }

  test("two labelPropagation calls at once each record their own rounds") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    // a path: synchronous LPA keeps relabeling it for more than 4 rounds
    val nodes = (0L until 30L).toDF("id")
    val edges = (0L until 29L).map(i => (i, i + 1)).toDF("src", "dst")
    val (_, snap) = instrumented(Await.result(Future.sequence(Seq(1, 4).map(r => Future(
      Graph.labelPropagation(nodes, edges, "id", "src", "dst", r).collect()))),
      scala.concurrent.duration.Duration(5, "min")))
    assert(snap.ops.map(r => (r.op, r.regime, r.rounds)).sortBy(_._3) ===
      Seq(("labelPropagation", "local", 1), ("labelPropagation", "local", 4)))
  }

  test("kCore and connectedComponents record their regime and rounds") {
    import spark.implicits._
    // a 10-node path peels two ends a round: 5 rounds to the empty 2-core
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val (_, core) = instrumented(Graph.kCore(path, "src", "dst", k = 2).collect())
    assert(core.ops.map(r => (r.op, r.regime, r.rounds)) === Seq(("kCore", "distributed", 5)))
    val (nodes, edges) = intGraph()
    val pairs = edges.select(col("src").as("id_a"), col("dst").as("id_b"))
    val decisions = Seq("10485760", "-1").map { t =>
      withSQLConf(Threshold -> t)(instrumented(Dedup.connectedComponents(nodes, pairs).collect()))
        ._2.ops.map(r => (r.op, r.regime, r.reason))
    }
    val fits = s"pairs ${edges.count() * 16} bytes <= threshold 10485760"
    assert(decisions === Seq(Seq(("connectedComponents", "local", fits)),
      Seq(("connectedComponents", "distributed", "threshold off"))))
  }

  test("kTruss and bfsDistances post one record each") {
    import spark.implicits._
    // K4 plus a tail 3-4-5: the 4-truss drops the tail in one round, and
    // BFS from 0 reaches the tail's end in round 3 and stops in round 4
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val g = (k4 ++ Seq((3L, 4L), (4L, 5L))).toDF("s", "t")
    val (_, truss) = instrumented(Graph.kTruss(g, "s", "t", k = 4).collect())
    assert(truss.ops.map(r => (r.op, r.regime, r.rounds, r.reason)) ===
      Seq(("kTruss", "distributed", 1, "no local regime")))
    val (_, bfs) = instrumented(Graph.bfsDistances(g, "s", "t", Seq(0L).toDF("id"), "id", maxDepth = 5).collect())
    assert(bfs.ops.map(r => (r.op, r.regime, r.rounds, r.reason)) ===
      Seq(("bfsDistances", "distributed", 4, "no local regime")))
  }

  test("kCore's jobs add up over its per-round rows, and the caller's graft.op is restored") {
    import spark.implicits._
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val sc = spark.sparkContext
    sc.setLocalProperty(graft.operators.Rounds.OpProperty, "caller")
    try {
      val (_, snap) = withSQLConf(Threshold -> "-1")(instrumented(Graph.kCore(path, "src", "dst", k = 2)))
      assert(sc.getLocalProperty(graft.operators.Rounds.OpProperty) === "caller")
      // the setup is round 0; five peel rounds follow
      assert(snap.rounds.map(_.op) === (0 to 5).map(r => s"kCore#$r"))
      assert(snap.rounds.map(_.jobs).sum === snap.jobs)
      assert(snap.rounds.map(_.stages).sum === snap.stages.size)
    } finally sc.setLocalProperty(graft.operators.Rounds.OpProperty, null)
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
    def comps(threshold: String) = withSQLConf(Threshold -> threshold) {
      Dedup.connectedComponents(nodes, pairs, "id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(comps("10485760") === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
    assert(comps("-1") === comps("10485760"))
  }

  test("connectedComponents' distributed rounds write each checkpoint in the round's label-sum job") {
    import spark.implicits._
    val nodes = (1L to 4L).toDF("id")
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    spark.sharedState.cacheManager.clearCache()
    val (labels, snap) = withSQLConf(Threshold -> "-1")(instrumented(
      Dedup.connectedComponents(nodes, chain, "id").collect().map(_.getLong(1)).toSet))
    assert(labels === Set(1L))
    // an eager checkpoint a round, written by a job of its own, ran 36
    assert(snap.jobs === 31)
  }

  test("connectedComponents leaves a pair set the caller cached in the cache") {
    import spark.implicits._
    val nodes = (1L to 4L).toDF("id")
    val pairs = Seq((1L, 2L, 0.9), (3L, 4L, 0.8)).toDF("id_a", "id_b", "j")
      .select("id_a", "id_b").cache()
    try {
      pairs.count()
      Seq("10485760", "-1").foreach { threshold =>
        withSQLConf(Threshold -> threshold)(Dedup.connectedComponents(nodes, pairs, "id").collect())
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
