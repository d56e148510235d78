package perfbench

import scala.collection.mutable

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.cpc.CpcSketch
import org.apache.datasketches.frequencies.ItemsSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.req.ReqSketch
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.GraftSummaries

/**
 * Sketch lifecycle: build quantile, distinct and freq summaries at a
 * coarse grain (per day: few groups, many rows each) and a fine grain
 * (per day and supplier: many groups, few rows each), then serve a seeded
 * closed-loop mix of rollups (half raw `approx_*` aggregates on the base
 * path, answered by the summary rewrite; half explicit combine/estimate
 * over the summary), summary appends and summary rebuilds. Every rollup
 * is checked after the timed loop against exact aggregates of the same
 * data version.
 */
final class Lifecycle(spark: SparkSession, a: Args, r: Report, tr: Tracer) extends Workload {
  import Lifecycle._

  private val families = Seq("quantile", "distinct", "freq")
  private val dir = s"${a.work}/lifecycle"
  private def base(f: String) = s"$dir/base_$f"
  private def summary(f: String, grain: String) = s"$dir/summary_${f}_$grain"
  private val grains = Seq("coarse" -> Seq("day"), "fine" -> Seq("day", "suppkey"))

  /** Rows of one data version: ids [from, from + n), tagged `ver`. Each
   *  family's value has the distribution of a lineitem column at sf0.1:
   *  the extended price, the order key and the part key. */
  private def rows(f: String, from: Long, n: Long, ver: Int): DataFrame = {
    val s = a.seed
    val value = f match {
      case "quantile" => round(lit(MinPrice) + Gen.u(s, 3) * (MaxPrice - MinPrice), 2)
      case "distinct" => concat(lit("o"), floor(Gen.u(s, 4) * (BaseRows / LinesPerOrder)).cast("string"))
      case "freq" => concat(lit("p"), floor(Gen.u(s, 5) * (BaseRows / LinesPerPart)).cast("string"))
    }
    spark.range(from, from + n, 1, a.cores).select(
      date_add(lit(Day0).cast("date"), floor(Gen.u(s, 1) * Days).cast("int")).as("day"),
      floor(Gen.u(s, 2) * Suppliers).cast("long").as("suppkey"),
      lit(ver).as("ver"),
      value.as("value"))
  }

  private final case class Rollup(
      idx: Int, fam: String, raw: Boolean, ver: Int, lo: Int, hi: Int, keys: Seq[Long],
      op: Op, var result: Any = null, var bytes: Array[Byte] = null)

  override def run(): Unit = {
    tr.span("setup") {
      for (rep <- 1 to SetupReps) {
        val t0 = System.nanoTime()
        Gen.deleteTree(java.nio.file.Paths.get(dir))
        families.foreach(f => rows(f, 0, BaseRows, 0).write.parquet(base(f)))
        r.setupS += (System.nanoTime() - t0) / 1e9
      }
    }
    // Every summary is built once, untimed: the serve needs them, and the
    // first build of a family takes two to four times as long as a warm one
    // (the JIT and Spark's code generation). The timed builds are rebuilds
    // spread over the serve, so that builds, appends and rollups are all
    // sampled across the same stretch of the run.
    tr.span("warmup") {
      for (f <- families; (g, keys) <- grains) {
        GraftSummaries.buildSummaryTable(spark, base(f), summary(f, g), keys, "value", f)
      }
    }
    families.foreach { f =>
      spark.read.parquet(base(f)).createOrReplaceTempView(s"base_$f")
      spark.read.parquet(summary(f, "fine")).createOrReplaceTempView(s"summary_$f")
    }
    r.values("summary_bytes") = summaryBytes()
    tr.span("warmup") {
      for (f <- families; raw <- Seq(true, false); keys <- Seq(Nil, Seq(1L, 2L))) {
        spark.sql(query(f, raw, 0, 30, keys)).collect()
      }
    }
    val rng = Gen.rng(a.seed, 7)
    val rollups = mutable.ArrayBuffer.empty[Rollup]
    val appends = mutable.ArrayBuffer.empty[(String, Op)]
    val builds = mutable.ArrayBuffer.empty[(String, String, Op)]
    // base rows of each family now, and when its coarse summary was built
    val rowsOf = mutable.Map(families.map(_ -> BaseRows): _*)
    val coarseRows = mutable.Map(families.map(_ -> BaseRows): _*)
    var buildRows = 0L
    var ver = 0
    var i = 0
    var writes = 0
    val serveStart = System.nanoTime()
    def elapsed = (System.nanoTime() - serveStart) / 1e9
    tr.span("serve") {
      while (rollups.size < MinRollups || appends.size < MinAppends ||
          builds.size < MinRebuilds * grains.size || elapsed < a.seconds) {
        // the kinds of op take turns, so every run has the same mix of
        // families, raw and explicit rollups, key filters, appends and
        // rebuilds
        val k = rollups.size
        val write = i % WriteEvery == WriteEvery - 1
        if (write && writes % RebuildEvery == RebuildEvery - 1) {
          // a rebuild: both grains of a family from its base table as it
          // is now, the fine one last, as the rewrite answers from that
          val f = families(builds.size / grains.size % families.size)
          for ((g, keys) <- grains) {
            val (o, _) = r.op("build")(tr.span(s"build.$f.$g") {
              GraftSummaries.buildSummaryTable(spark, base(f), summary(f, g), keys, "value", f)
            })
            builds += ((f, g, o))
            buildRows += rowsOf(f)
          }
          coarseRows(f) = rowsOf(f)
          spark.read.parquet(summary(f, "fine")).createOrReplaceTempView(s"summary_$f")
        } else if (write) {
          val f = families(appends.size % families.size)
          ver += 1
          val v = ver
          val (o, _) = r.op("append")(tr.span(s"append.$f") {
            val inc = rows(f, BaseRows + v * AppendRows, AppendRows, v)
            inc.write.mode("append").parquet(base(f))
            spark.read.parquet(base(f)).createOrReplaceTempView(s"base_$f")
            GraftSummaries.appendToSummaryTable(spark, base(f), summary(f, "fine"), inc,
              Seq("day", "suppkey"), "value", f).createOrReplaceTempView(s"summary_$f")
          })
          appends += f -> o
          rowsOf(f) += AppendRows
        } else {
          val f = families(k % families.size)
          val raw = k / families.size % 2 == 0
          val lo = rng.nextInt(Days)
          val hi = math.min(Days - 1, lo + rng.nextInt(MaxRangeDays))
          val keys =
            if (k / (2 * families.size) % 2 == 0) Nil
            else Seq.fill(1 + rng.nextInt(10))(rng.nextInt(Suppliers).toLong).distinct.sorted
          val kind = if (raw) "rollup_raw" else "rollup_explicit"
          var df: DataFrame = null
          val (o, row) = r.op(kind)(tr.span(s"$kind.$f") {
            df = spark.sql(query(f, raw, lo, hi, keys))
            df.collect().head
          })
          val ru = Rollup(i, f, raw, ver, lo, hi, keys, o)
          row.foreach { x =>
            ru.result = if (x.isNullAt(0)) null else x.get(0)
            if (!raw && f == "freq" && !x.isNullAt(1)) ru.bytes = x.getAs[Array[Byte]](1)
          }
          if (a.trace && row.isDefined) planLayer(df, f, raw)
          rollups += ru
        }
        if (write) writes += 1
        i += 1
      }
    }
    r.values("serve_s") = elapsed
    r.values("build_rows") = buildRows
    r.values("build_s") = builds.map(_._3.ms).sum / 1000.0
    val checkStart = System.nanoTime()
    tr.span("check") {
      def of(f: String) = rollups.filter(_.fam == f).filter(_.op.ok).toSeq
      Gen.parallel(
        () => checkSummaries(builds.toSeq, appends.toSeq, coarseRows.toMap),
        () => { checkQuantiles(of("quantile")); 0L },
        () => { checkDistinct(of("distinct")); 0L },
        () => { checkFreq(of("freq")); 0L })
    }
    r.values("check_s") = (System.nanoTime() - checkStart) / 1e9
    if (a.trace) traceLayers()
  }

  private def day(d: Int): String = java.time.LocalDate.parse(Day0).plusDays(d).toString

  private def where(lo: Int, hi: Int, keys: Seq[Long]): String =
    s"day BETWEEN DATE'${day(lo)}' AND DATE'${day(hi)}'" +
      (if (keys.isEmpty) "" else s" AND suppkey IN (${keys.mkString(",")})")

  /** A raw rollup reads the base table; an explicit one combines summary rows.
   *  Both tables are views, registered after the build and after each
   *  append, as a serving client would hold them. */
  private def query(f: String, raw: Boolean, lo: Int, hi: Int, keys: Seq[Long]): String = {
    val w = where(lo, hi, keys)
    if (raw) {
      val agg = f match {
        case "quantile" => s"approx_percentile_ex(value, array(${Pcts.mkString("D, ")}D))"
        case "distinct" => "approx_count_distinct_ex(value)"
        case "freq" => "approx_freqitems(value)"
      }
      s"SELECT $agg FROM base_$f WHERE $w"
    } else {
      val (combine, estimate) = f match {
        case "quantile" => ("approx_percentile_combine",
          s"approx_percentile_estimate(c, array(${Pcts.mkString("D, ")}D))")
        case "distinct" => ("approx_count_distinct_combine", "approx_count_distinct_estimate(c)")
        case "freq" => ("approx_freqitems_combine", "approx_freqitems_estimate(c), c")
      }
      s"SELECT $estimate FROM (SELECT $combine(sketch) AS c FROM summary_$f WHERE $w)"
    }
  }

  private val planMs = mutable.ArrayBuffer.empty[Double]
  private var rewriteEligible = 0
  private var rewriteHits = 0

  /** Planning time of a rollup, and whether a raw one avoided the base files. */
  private def planLayer(df: DataFrame, f: String, raw: Boolean): Unit = {
    val phases = df.queryExecution.tracker.phases
    planMs += phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    if (raw) {
      rewriteEligible += 1
      val b = base(f)
      if (!PlanWalk.scannedPaths(df.queryExecution.executedPlan)
          .exists(_.stripPrefix("file:").stripSuffix("/") == b)) rewriteHits += 1
    }
  }

  /** The exact rows of every rollup's data version, with the rollup's index. */
  private def matched(f: String, ops: Seq[Rollup], extra: Seq[String] = Nil): DataFrame = {
    import spark.implicits._
    val o = ops.map(x => (x.idx, x.ver, day(x.lo), day(x.hi), x.keys)).toDF("idx", "over", "lo", "hi", "keys")
      .select(col("idx"), col("over"), col("lo").cast("date").as("lo"),
        col("hi").cast("date").as("hi"), col("keys"))
    spark.read.parquet(base(f)).join(broadcast(o),
      col("day").between(col("lo"), col("hi")) && col("ver") <= col("over") &&
        (size(col("keys")) === 0 || array_contains(col("keys"), col("suppkey"))))
  }

  private def fail(x: Rollup, why: String): Unit = {
    x.op.fail(why)
    r.check(s"rollup ${x.idx} ${x.fam} ${if (x.raw) "raw" else "explicit"}", ok = false, why)
  }

  /** Rank of each estimate within [p - lo, p + hi] of the exact ranks, the
   *  bounds being those of a REQ sketch over the same rows (3 std devs). */
  private def checkQuantiles(ops: Seq[Rollup]): Unit = if (ops.nonEmpty) {
    val byIdx = ops.map(x => x.idx -> x).toMap
    val est = ops.map { x =>
      val v = Option(x.result).map(_.asInstanceOf[scala.collection.Seq[Double]].toSeq)
      (x.idx, v.map(_(0)).getOrElse(Double.NaN), v.map(_(1)).getOrElse(Double.NaN))
    }
    import spark.implicits._
    val e = est.toDF("idx", "e0", "e1")
    val exact = matched("quantile", ops).join(e, "idx").groupBy("idx").agg(
      count(lit(1)).as("n"),
      sum(when(col("value").cast("float") < col("e0").cast("float"), 1).otherwise(0)).as("lt0"),
      sum(when(col("value").cast("float") <= col("e0").cast("float"), 1).otherwise(0)).as("le0"),
      sum(when(col("value").cast("float") < col("e1").cast("float"), 1).otherwise(0)).as("lt1"),
      sum(when(col("value").cast("float") <= col("e1").cast("float"), 1).otherwise(0)).as("le1"),
      expr("approx_percentile_accumulate(value)").as("ref"))
      .collect().map(row => row.getInt(0) -> row).toMap
    ops.foreach { x =>
      exact.get(x.idx) match {
        case None => if (x.result != null) fail(x, "estimate for an empty range")
        case Some(row) =>
          val n = row.getLong(1).toDouble
          val ref = ReqSketch.heapify(Memory.wrap(row.getAs[Array[Byte]]("ref")))
          if (x.result == null) fail(x, s"null estimate over $n rows")
          else Pcts.zipWithIndex.foreach { case (p, j) =>
            val lt = row.getLong(2 + 2 * j) / n
            val le = row.getLong(3 + 2 * j) / n
            val lb = ref.getRankLowerBound(p, 3)
            val ub = ref.getRankUpperBound(p, 3)
            if (le < lb || lt > ub) fail(x, f"p$p rank [$lt%.5f, $le%.5f] outside [$lb%.5f, $ub%.5f]")
          }
      }
    }
    r.check("quantile rollups within rank bounds", ops.forall(_.op.ok), s"${ops.size} rollups")
  }

  /** Distinct estimates within 3 standard errors of the exact count,
   *  the errors being those of a CPC sketch over the same rows. */
  private def checkDistinct(ops: Seq[Rollup]): Unit = if (ops.nonEmpty) {
    val exact = matched("distinct", ops).groupBy("idx").agg(
      countDistinct(col("value")).as("n"),
      expr("approx_count_distinct_accumulate(value)").as("ref"))
      .collect().map(row => row.getInt(0) -> row).toMap
    ops.foreach { x =>
      exact.get(x.idx) match {
        case None => if (x.result != null && x.result != 0L) fail(x, "estimate for an empty range")
        case Some(row) =>
          val n = row.getLong(1)
          val ref = CpcSketch.heapify(Memory.wrap(row.getAs[Array[Byte]]("ref")))
          val rse = (ref.getUpperBound(1) - ref.getLowerBound(1)) / 2
          val e = Option(x.result).map(_.asInstanceOf[Long]).getOrElse(-1L)
          // + 1: the estimate is the sketch's double estimate truncated to a long
          if (math.abs(e - n) > 3 * rse + 1) fail(x, f"estimate $e vs exact $n (3 rse ${3 * rse}%.1f)")
      }
    }
    r.check("distinct rollups within 3 rse", ops.forall(_.op.ok), s"${ops.size} rollups")
  }

  /** Every reported item's lower and upper bounds bracket its exact count. */
  private def checkFreq(ops: Seq[Rollup]): Unit = if (ops.nonEmpty) {
    val items = ops.flatMap { x =>
      Option(x.result).toSeq.flatMap(_.asInstanceOf[scala.collection.Seq[Row]])
        .map(it => (x.idx, it.getString(0), it.getLong(1)))
    }
    import spark.implicits._
    val m = matched("freq", ops)
    val totals = m.groupBy("idx").agg(count(lit(1)).as("n")).collect()
      .map(row => row.getInt(0) -> row.getLong(1)).toMap
    val counts = m.join(items.toDF("idx", "value", "est"), Seq("idx", "value"))
      .groupBy("idx", "value").agg(count(lit(1)).as("c")).collect()
      .map(row => (row.getInt(0), row.getString(1)) -> row.getLong(2)).toMap
    ops.foreach { x =>
      val n = totals.getOrElse(x.idx, 0L)
      if (x.result == null) { if (n > 0) fail(x, s"null estimate over $n rows") }
      else {
        val sk = Option(x.bytes).map(b => ItemsSketch.getInstance(Memory.wrap(b), new ArrayOfStringsSerDe()))
        x.result.asInstanceOf[scala.collection.Seq[Row]].foreach { it =>
          val item = it.getString(0)
          val est = it.getLong(1)
          val truth = counts.getOrElse((x.idx, item), 0L)
          // the raw path returns only the estimate (the upper bound); its
          // lower bound is the sketch's a-priori error for n rows
          val (lb, ub) = sk match {
            case Some(s) => (s.getLowerBound(item), s.getUpperBound(item))
            case None => (est - math.ceil(ItemsSketch.getAprioriError(MaxMapSize, n)).toLong, est)
          }
          if (truth < lb || truth > ub) fail(x, s"item $item exact $truth outside [$lb, $ub]")
        }
      }
    }
    r.check("freq rollups bracket exact counts", ops.forall(_.op.ok), s"${ops.size} rollups")
  }

  /** Serialized sketch bytes of the six summaries as built, before any append. */
  private def summaryBytes(): Long =
    families.flatMap(f => grains.map { case (g, _) => spark.read.parquet(summary(f, g)) })
      .map(_.select(length(col("sketch")).cast("long").as("b")))
      .reduce(_ unionAll _).agg(sum("b")).head().getLong(0)

  /** Summary row counts equal base row counts (the coarse summary's as of
   *  its last build): a build or append that dropped or doubled rows fails
   *  here. */
  private def checkSummaries(builds: Seq[(String, String, Op)], appends: Seq[(String, Op)],
      coarseRows: Map[String, Long]): Unit = {
    val tables = families.flatMap { f =>
      spark.read.parquet(base(f)).select(lit(f).as("f"), lit("base").as("t"), lit(1L).as("n")) +:
        grains.map { case (g, _) => spark.read.parquet(summary(f, g)).select(lit(f), lit(g), col("n_rows")) }
    }
    val totals = tables.reduce(_ unionAll _).groupBy("f", "t").agg(sum("n"))
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    for (f <- families; (g, _) <- grains) {
      val want = if (g == "fine") totals((f, "base")) else coarseRows(f)
      val got = totals((f, g))
      if (!r.check(s"summary $f $g rows", got == want, s"$got vs $want")) {
        builds.filter(b => b._1 == f && b._2 == g).foreach(_._3.fail("summary row count"))
        if (g == "fine") appends.filter(_._1 == f).foreach(_._2.fail("summary row count"))
      }
    }
  }

  private def traceLayers(): Unit = tr.span("layer_probe") {
    tr.resolve()
    val spans = tr.allSpans
    CatalystLayer.record(r, tr,
      spans.filter(s => s.name.startsWith("build.") || s.name.startsWith("append.")))
    r.layer("plans.rewrite_hit_frac") =
      if (rewriteEligible > 0) rewriteHits.toDouble / rewriteEligible else 0.0
    r.layer("plans.plan_ms") = Stats.median(planMs.toSeq)
    val sample = (f: String) => spark.read.parquet(base(f)).where(col("ver") === 0)
      .select("value").limit(ProbeValues).collect().map(_.get(0))
    val q = sample("quantile").map(_.asInstanceOf[Double].toFloat)
    SketchProbe.quantiles(r, q, GroupRows)
    SketchProbe.distinct(r, sample("distinct").map(_.asInstanceOf[String]), GroupRows)
    SketchProbe.freq(r, sample("freq").map(_.asInstanceOf[String]), GroupRows)
    SparkLayer.record(r, tr, spans.filter(s => s.name.startsWith("rollup_") || s.name.startsWith("append.")),
      a.cores)
  }
}

object Lifecycle {
  // sf0.1's lineitem scaled down in rows only: 240 rows a ship date,
  // 1,000 uniform suppliers (so about 1.1 rows a non-empty (day,
  // supplier) group), prices uniform in [900, 105000], about 4 lines an
  // order and 30 lines a part
  val BaseRows = 60000L
  val Days = 250
  val Suppliers = 1000
  val MinPrice = 900.0
  val MaxPrice = 105000.0
  val LinesPerOrder = 4
  val LinesPerPart = 30
  val Day0 = "2024-01-01"
  val SetupReps = 3
  val MinRollups = 28
  val WriteEvery = 4
  val RebuildEvery = 3
  val MinAppends = 6
  val MinRebuilds = 3
  val AppendRows = 1000L
  val MaxRangeDays = 30
  val MaxMapSize = 1024
  val ProbeValues = 50000
  val GroupRows: Int = (BaseRows / Days).toInt
  val Pcts: Seq[Double] = Seq(0.5, 0.9)
}
