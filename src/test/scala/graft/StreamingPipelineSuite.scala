package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** Streaming variants of the pipeline operators: bounded-state dedup and
 *  session_window sessionization. */
class StreamingPipelineSuite extends AnyFunSuite with GraftSparkSession {

  private val ts = (s: String) => java.sql.Timestamp.valueOf(s)

  test("streaming dedup drops in-horizon duplicates and evicts state at the watermark") {
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, Long, String)](spark)
    val deduped = StreamingOps.dedupByContent(
      input.toDF().toDF("t", "doc_id", "text"), "text", "t", "10 minutes")
    val q = deduped.writeStream
      .format("memory").queryName("dedup_stream").outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        (ts("2021-01-01 00:00:00"), 1L, "alpha"),
        (ts("2021-01-01 00:01:00"), 2L, "alpha"), // in-horizon dup: dropped
        (ts("2021-01-01 00:02:00"), 3L, "beta"))
      q.processAllAvailable()
      // advance the watermark far past the horizon -> "alpha" state evicted
      input.addData((ts("2021-01-01 02:00:00"), 4L, "gamma"))
      q.processAllAvailable()
      // same content after eviction: re-emitted (horizon-bounded semantics)
      input.addData((ts("2021-01-01 02:01:00"), 5L, "alpha"))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids === Seq(1L, 3L, 4L, 5L)) // 2 dropped as dup; 5 survives post-eviction
    } finally q.stop()
  }

  test("stateless text operators apply to streams unchanged") {
    import spark.implicits._
    val input = MemoryStream[(Long, String)](spark)
    // map-only operators (native expressions + codegen'd builtins) need no
    // state, watermark, or output-mode ceremony on a stream
    val out = graft.operators.TextOps.redactPii(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .withColumn("lang", graft.operators.TextOps.languageId(col("clean_text")))
    val q = out.writeStream
      .format("memory").queryName("stateless_text").outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        (1L, "mail the team at a@b.co and see https://x.example.com of the site"),
        (2L, "der die und das"))
      q.processAllAvailable()
      val rows = spark.table("stateless_text")
        .select("id", "clean_text", "n_emails", "n_urls", "lang")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getString(4))).sortBy(_._1)
      assert(rows(0)._2 === "mail the team at <EMAIL> and see <URL> of the site")
      assert((rows(0)._3, rows(0)._4) === ((1L, 1L)))
      assert(rows(0)._5 === "en")
      assert(rows(1)._5 === "de")
    } finally q.stop()
  }

  test("foreachBatch maintains a summary table incrementally across micro-batches") {
    import spark.implicits._
    SparkEntry.prep(spark)
    withTempDir("graft_stream_sum") { root =>
      val baseDir = root + "/base"
      val sumDir = root + "/sum"
      val input = MemoryStream[(String, String)](spark)
      // the continuous-ingestion shape: each micro-batch lands in the base
      // table AND refreshes the materialized sketch summary, appending the
      // batch's sketch rows as a delta — the base is never re-read after
      // its batch is written
      val q = input.toDF().toDF("event_type", "props").writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          batch.persist()
          batch.write.mode("append").parquet(baseDir)
          if (id == 0) {
            graft.plans.GraftSummaries.buildSummaryTable(
              spark, baseDir, sumDir, Seq("event_type"), "props", "distinct")
          } else {
            graft.plans.GraftSummaries.appendToSummaryTable(
              spark, baseDir, sumDir, batch, Seq("event_type"), "props", "distinct")
          }
          batch.unpersist()
          ()
        }
        .start()
      try {
        input.addData(("click", "p1"), ("click", "p2"), ("view", "p1"))
        q.processAllAvailable()
        input.addData(("click", "p2"), ("click", "p3"), ("scroll", "p9"))
        q.processAllAvailable()
        spark.read.parquet(baseDir).createOrReplaceTempView("stream_base")
        val sql =
          """SELECT event_type, approx_count_distinct_ex(props) AS nd, count(*) AS n
            |FROM stream_base GROUP BY event_type ORDER BY event_type""".stripMargin
        val baseline = spark.sql(sql).collect()
        withSQLConf(graft.plans.GraftSummaries.ENABLED_KEY -> "true") {
          val fromSummary = spark.sql(sql)
          // click: distinct {p1,p2,p3} = 3 across batches; counts sum 4
          assert(fromSummary.collect() === baseline)
          val plans = fromSummary.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              l.relation.toString
          }
          assert(!plans.mkString.contains("/base"),
            "summary-maintained stream must answer without re-scanning the base")
        }
      } finally {
        q.stop()
        graft.plans.GraftSummaries.clear()
      }
    }
  }

  test("normalized streaming dedup collapses case/whitespace variants") {
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, Long, String)](spark)
    val deduped = StreamingOps.dedupByContent(
      input.toDF().toDF("t", "doc_id", "text"), "text", "t", "10 minutes",
      normalized = true)
    val q = deduped.writeStream
      .format("memory").queryName("ndedup_stream").outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        (ts("2021-01-01 00:00:00"), 1L, "Hello  World"),
        (ts("2021-01-01 00:01:00"), 2L, "hello world")) // normalized dup
      q.processAllAvailable()
      val ids = spark.table("ndedup_stream").select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids === Seq(1L))
    } finally q.stop()
  }

  test("streaming quota admits k rows per key, then resets after state expiry") {
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String, Long)](spark)
    val admitted = StreamingOps.quotaPerKey(
      input.toDF().toDF("t", "domain", "doc_id"),
      "domain", "t", "1 minute", k = 2, stateTtlMs = 10 * 60 * 1000)
    val q = admitted.writeStream
      .format("memory").queryName("quota_stream").outputMode(OutputMode.Append())
      .start()
    try {
      // 3 docs for d1 in one batch: only 2 admitted
      input.addData(
        (ts("2021-01-01 00:00:00"), "d1", 1L),
        (ts("2021-01-01 00:00:10"), "d1", 2L),
        (ts("2021-01-01 00:00:20"), "d1", 3L),
        (ts("2021-01-01 00:00:30"), "d2", 4L))
      q.processAllAvailable()
      // quota carried across batches: d1 is full, d2 has one slot left
      input.addData(
        (ts("2021-01-01 00:01:00"), "d1", 5L),
        (ts("2021-01-01 00:01:00"), "d2", 6L))
      q.processAllAvailable()
      assert(spark.table("quota_stream").count() === 4) // 2 of d1, 2 of d2
      // push the watermark far past the TTL -> quota state expires
      input.addData((ts("2021-01-01 06:00:00"), "d3", 7L))
      q.processAllAvailable()
      // d1 re-admits after expiry (per-horizon quota semantics)
      input.addData((ts("2021-01-01 06:00:10"), "d1", 8L))
      q.processAllAvailable()
      val ids = spark.table("quota_stream").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids.intersect(Set(5L, 6L)) === Set(6L)) // d1's 5 rejected, d2's 6 admitted
      assert(ids.contains(7L) && ids.contains(8L))
      assert(ids.size === 6)
    } finally q.stop()
  }

  test("streaming token quota: monotone prefix cut, state carries across batches") {
    import spark.implicits._
    val input = MemoryStream[(Long, String, String)](spark)
    // 4 tokens per doc; budget 10 => the first two docs per key fit
    // (cum 4, 8), the third overflows (12) and CLOSES the key
    val admitted = StreamingOps.tokenQuotaPerKey(
      input.toDF().toDF("doc_id", "src", "text"),
      "src", "doc_id", "text", budgetTokens = 10L)
    val sink = "tok_quota_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = admitted.writeStream
      .format("memory").queryName(sink).outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        (1L, "a", "w w w w"), (2L, "a", "w w w w"),
        (10L, "b", "w w w w"))
      q.processAllAvailable()
      // a is at 8/10: doc 3 (4 tokens) overflows and the key closes —
      // even the later 1-token doc 4 is rejected (prefix semantics);
      // b admits one more then closes
      input.addData(
        (3L, "a", "w w w w"), (4L, "a", "w"),
        (11L, "b", "w w w w"), (12L, "b", "w w w"))
      q.processAllAvailable()
      val ids = spark.table(sink).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 2L, 10L, 11L))
    } finally q.stop()
  }

  test("streaming quota drops null-key/null-time rows and keeps literal 'null' keys distinct") {
    import spark.implicits._
    val input = MemoryStream[(Option[java.sql.Timestamp], Option[String], Long)](spark)
    val admitted = StreamingOps.quotaPerKey(
      input.toDF().toDF("t", "domain", "doc_id"),
      "domain", "t", "1 minute", k = 1, stateTtlMs = 10 * 60 * 1000)
    val q = admitted.writeStream
      .format("memory").queryName("quota_null_stream").outputMode(OutputMode.Append())
      .start()
    try {
      // regression: a null event time NPE'd in the state function, and a
      // null key stringified to "null" shared its quota with this real key
      input.addData(
        (Some(ts("2021-01-01 00:00:00")), None, 1L),             // null key: dropped
        (Some(ts("2021-01-01 00:00:01")), Some("null"), 2L),     // literal "null": admitted
        (None, Some("d1"), 3L),                                  // null time: dropped
        (Some(ts("2021-01-01 00:00:02")), Some("d1"), 4L))       // admitted
      q.processAllAvailable()
      val ids = spark.table("quota_null_stream").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids === Set(2L, 4L))
    } finally q.stop()
  }

  test("streaming sessionization emits closed sessions with correct bounds") {
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String)](spark)
    val sessions = StreamingOps.sessionize(
      input.toDF().toDF("t", "user"), "user", "t", "30 minutes", "1 minute")
    val q = sessions.writeStream
      .format("memory").queryName("session_stream").outputMode(OutputMode.Append())
      .start()
    try {
      // two bursts for u1 separated by > gap, one event for u2
      input.addData(
        (ts("2021-01-01 00:00:00"), "u1"),
        (ts("2021-01-01 00:10:00"), "u1"),
        (ts("2021-01-01 01:00:00"), "u1"),
        (ts("2021-01-01 00:05:00"), "u2"))
      q.processAllAvailable()
      // advance watermark far enough to close everything
      input.addData((ts("2021-01-01 12:00:00"), "u3"))
      q.processAllAvailable()
      val out = spark.table("session_stream")
        .select("user", "session_start", "n_events")
        .collect().map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2)))
        .sortBy(x => (x._1, x._2)).toSeq
      assert(out === Seq(
        ("u1", "2021-01-01 00:00:00.0", 2L), // burst merged: gap 10m < 30m
        ("u1", "2021-01-01 01:00:00.0", 1L), // 50m gap -> new session
        ("u2", "2021-01-01 00:05:00.0", 1L)))
    } finally q.stop()
  }

  test("streaming as-of enrich: final matches, null no-match, floor row survives eviction") {
    import spark.implicits._
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val lin = MemoryStream[(java.sql.Timestamp, String, Long)](spark)
    val rin = MemoryStream[(java.sql.Timestamp, String, String)](spark)
    val out = StreamingOps.asofEnrich(
      lin.toDF().toDF("ts", "k", "amount"),
      rin.toDF().toDF("ts", "k", "page"),
      "k", "ts", "10 seconds", payloadCols = Seq("page"))
    val q = out.writeStream
      .format("memory").queryName("asof_stream").outputMode(OutputMode.Append())
      .start()
    try {
      // rights and lefts interleaved within one batch; nothing can emit
      // until the watermark passes each left's ts
      rin.addData((t(100), "a", "p1"), (t(105), "a", "p2"), (t(100), "b", "q1"))
      lin.addData((t(103), "a", 7L), (t(106), "a", 8L), (t(99), "b", 9L))
      q.processAllAvailable()
      // advance the watermark past all three lefts (wm = 195-10 = 185);
      // this also EVICTS a's rights at 100/105 down to the floor row (105)
      lin.addData((t(195), "a", 10L))
      q.processAllAvailable()
      // a left between the floor and the next right must still match the
      // floor; one after the new right must match the new right
      rin.addData((t(200), "a", "p3"))
      lin.addData((t(198), "a", 11L), (t(202), "a", 12L))
      q.processAllAvailable()
      rin.addData((t(400), "b", "q2")) // watermark push only
      q.processAllAvailable()
      val rows = spark.table("asof_stream")
        .collect().map(r => (r.getLong(2),
          if (r.isNullAt(3)) null else r.getTimestamp(3).getTime / 1000,
          if (r.isNullAt(4)) null else r.getString(4))).toSet
      assert(rows === Set(
        (7L, 100L, "p1"),   // a@103 -> right@100
        (8L, 105L, "p2"),   // a@106 -> right@105 (inclusive would be 106; latest <= wins)
        (9L, null, null),   // b@99 precedes b's only right@100 -> no match
        (10L, 105L, "p2"),  // a@195 -> floor row kept across eviction
        (11L, 105L, "p2"),  // a@198 -> floor still (200 > 198)
        (12L, 200L, "p3"))) // a@202 -> right@200
    } finally q.stop()
  }
}
