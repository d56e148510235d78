package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Graph, Sinks}
import graft.streaming.StreamingOps

/**
 * graft runs inside the caller's session, so its operators must never
 * write a session conf that the caller's other queries read. A planner
 * strategy that plans nothing records the caller session's watched confs
 * every time any query is planned while an operator runs; each reading
 * must equal what the caller set before the call.
 */
class SharedSessionSuite extends AnyFunSuite with GraftSparkSession {

  private val Aqe = "spark.sql.adaptive.enabled"
  private val OverwriteMode = "spark.sql.sources.partitionOverwriteMode"
  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"
  private val Caller = Seq(Aqe -> "true", OverwriteMode -> "static")

  /** Plans nothing; records the caller session's watched confs. */
  private class ConfProbe extends SparkStrategy {
    val seen = new ConcurrentLinkedQueue[Seq[(String, String)]]()
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = {
      seen.add(Caller.map { case (k, _) => k -> spark.conf.get(k) })
      Nil
    }
  }

  /** Runs `body` with the caller's confs set and the probe installed;
   *  fails on any reading that differs from them. */
  private def probed[T](extra: (String, String)*)(body: => T): T = {
    val probe = new ConfProbe
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    exp.extraStrategies = exp.extraStrategies :+ probe
    val out = try withSQLConf(Caller ++ extra: _*)(body)
    finally exp.extraStrategies = exp.extraStrategies.filterNot(_ eq probe)
    val readings = probe.seen.asScala.toSeq
    assert(readings.nonEmpty, "no query was planned")
    assert(readings.distinct === Seq(Caller))
    out
  }

  /** A star 0 -> 1..12 with a chain behind each leaf: the frontier
   *  outgrows a 100-byte threshold, so BFS also re-partitions. */
  private def bfs(): Map[Long, Int] = {
    import spark.implicits._
    val edges = ((1L to 12L).map(i => (0L, i)) ++ (1L to 12L).map(i => (i, 100L + i)) ++
      (1L to 12L).map(i => (100L + i, 200L + i))).toDF("s", "t")
    Graph.bfsDistances(edges, "s", "t", Seq(0L).toDF("id"), "id", maxDepth = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  private val bfsWant = (Seq(0L -> 0) ++ (1L to 12L).map(_ -> 1) ++
    (1L to 12L).map(i => (100L + i) -> 2) ++ (1L to 12L).map(i => (200L + i) -> 3)).toMap

  /** A fresh 4-shard export of 40 docs; deletes every third id and
   *  returns the manifest rows (shard, n_rows, n_deleted). */
  private def deleteFromShards(): Set[(Int, Long, Long)] = {
    import spark.implicits._
    withTempDir("graft_shared_del") { path =>
      val docs = Seq.tabulate(40)(i => (i.toLong, s"doc $i text")).toDF("id", "text")
      Sinks.writeShardsWithManifest(docs, "id", "text", path, numShards = 4)
      Sinks.applyDeletes(spark, path, "id", "text", docs.where(col("id") % 3 === 0))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(4))).toSet
    }
  }

  test("bfsDistances leaves the caller's confs alone in the broadcast regime") {
    assert(probed(Threshold -> "10485760")(bfs()) === bfsWant)
  }

  test("bfsDistances leaves the caller's confs alone in the sort-merge regime") {
    assert(probed(Threshold -> "-1")(bfs()) === bfsWant)
  }

  test("distributed labelPropagation leaves the caller's confs alone") {
    import spark.implicits._
    val nodes = (0L until 20L).toDF("id")
    val edges = (0L until 19L).map(i => (i, i + 1)).toDF("src", "dst")
    def lpa(): DataFrame = Graph.labelPropagation(nodes, edges, "id", "src", "dst", rounds = 3)
    val local = lpa().collect().toSet
    assert(probed(Threshold -> "-1")(lpa().collect().toSet) === local)
  }

  test("a Sinks delete leaves the caller's confs alone") {
    val got = probed()(deleteFromShards())
    assert(got.toSeq.map(_._2).sum === 26L)
    assert(got.toSeq.map(_._3).sum === 14L)
  }

  test("a StreamingOps snapshot-merge batch leaves the caller's confs alone") {
    import spark.implicits._
    withTempDir("graft_shared_cdc") { dir =>
      StreamingOps.seedCdcSnapshot(
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "payload"), "id", dir, nBuckets = 2)
      val input = MemoryStream[(Long, Long, String, String)](spark)
      probed() {
        val qy = StreamingOps.cdcSnapshotSink(
          input.toDF().toDF("id", "seq", "op", "payload"), "id", "op", "seq", dir, nBuckets = 2)
          .start()
        try {
          input.addData(Seq((1L, 1L, "U", "a2"), (2L, 2L, "D", ""), (4L, 3L, "I", "d")))
          qy.processAllAvailable()
        } finally qy.stop()
      }
      val got = spark.read.parquet(dir).select("id", "payload")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === Map(1L -> "a2", 3L -> "c", 4L -> "d"))
    }
  }

  test("two conf-sensitive operators run concurrently on one session") {
    val seqBfs = probed(Threshold -> "100")(bfs()) // the frontier demotes its hint
    assert(seqBfs === bfsWant)
    val seqDel = probed()(deleteFromShards())
    val before = spark.conf.getAll
    val (bothBfs, bothDel) = probed(Threshold -> "100") {
      val b = Future(bfs())
      val d = Future(deleteFromShards())
      (Await.result(b, 5.minutes), Await.result(d, 5.minutes))
    }
    assert(bothBfs === seqBfs)
    assert(bothDel === seqDel)
    assert(spark.conf.getAll === before)
  }
}
