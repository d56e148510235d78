package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, IvfIndex}

/**
 * Training-data curation: near-dup pairs, duplicate clusters, one keeper
 * per cluster and PageRank over the near-dup graph on documents; an IVF
 * index build and probe on embeddings; label propagation on a co-part
 * graph. One pass runs all seven operators; the run repeats passes for
 * the measured time.
 *
 * Rows have the shapes of the sf0.1 tables: documents of 10 to 100
 * words over a 31-word vocabulary, about 10% of them in near-dup pairs
 * and a few triples; unit-norm 64-d vectors; 4 lines per order and about
 * 30 lines per part. Two structures are planted: vectors scatter around
 * 10 seeded centres, and parts are only ever bought with parts of their
 * own category. So the exact answer of every operator is known from the
 * generator, and near-dup pairs, components and communities grow
 * linearly with the input.
 */
final class Curation(spark: SparkSession, a: Args, r: Report, tr: Tracer) extends Workload {
  import Curation._

  private val dir = s"${a.work}/curation"
  private def path(t: String) = s"$dir/$t"

  private def writeInputs(): Unit = {
    import spark.implicits._
    val s = a.seed
    // ids come in groups of three. In a near-dup group the first document
    // is an original, the second a copy with " dup" appended, as in sf0.1,
    // and in some groups the third is another such copy; any other
    // document is unique
    val docs = (0L until Docs).map { id =>
      val cluster = id / 3
      val dup = Gen.unit(s, 11, cluster) < DupShare
      val member = dup && (id % 3 < 2 || Gen.unit(s, 19, cluster) < TripleShare)
      val key = if (member) cluster else -id - 1
      val n = MinWords + java.lang.Math.floorMod(Gen.hash(s, 18, key), MaxWords - MinWords + 1L).toInt
      val words = (0 until n).map(p =>
        "w" + java.lang.Math.floorMod(Gen.hash(s, key, p), Vocab.toLong))
      val text = if (member && id % 3 != 0) (words :+ "dup").mkString(" ") else words.mkString(" ")
      (id, text, Gen.unit(s, 12, id), if (member) cluster else -1L)
    }
    docs.toDF("doc_id", "text", "score", "cluster").write.parquet(path("documents"))
    val vecs = (0L until Vectors).map { id =>
      val centre = java.lang.Math.floorMod(Gen.hash(s, 13, id), Centres.toLong)
      val v = Array.tabulate(Dim) { j =>
        Gen.unit(s, 14, centre * Dim + j) * 2 - 1 + (Gen.unit(s, 15, id * Dim + j) - 0.5) * Noise
      }
      val norm = math.sqrt(v.map(x => x * x).sum)
      id -> v.map(x => (x / norm).toFloat)
    }
    vecs.toDF("vec_id", "embedding").write.parquet(path("embeddings"))
    val id = col("id")
    val order = (id / LinesPerOrder).cast("long")
    val category = pmod(xxhash64(lit(s), order, lit(16)), lit(Categories.toLong))
    spark.range(0, Orders * LinesPerOrder, 1, a.cores).select(order.as("l_orderkey"),
      (category * PartsPerCategory + floor(Gen.u(s, 17) * PartsPerCategory)).cast("long")
        .as("l_partkey"))
      .write.parquet(path("lineitem"))
    spark.range(0, Categories.toLong * PartsPerCategory, 1, a.cores).select(id.as("l_partkey"))
      .write.parquet(path("part"))
  }

  private final case class PassOut(
      pairs: DataFrame, comps: DataFrame, best: DataFrame, ranks: DataFrame,
      ann: Array[(Long, Int, Long)], labels: DataFrame) {
    def release(): Unit = Seq(pairs, comps, best, ranks, labels).foreach(_.unpersist())
  }

  private val opNames = Seq(
    "minhash_pairs", "components", "keep_best", "pagerank", "ivf_build", "ivf_query", "lpa")

  /** Each operator's output is cached and counted inside its own call, so
   *  a call's time is the operator's work and nothing later in the pass. */
  private def pass(passOps: mutable.ArrayBuffer[Op]): Option[PassOut] = {
    val docs = spark.read.parquet(path("documents"))
    val vecs = spark.read.parquet(path("embeddings"))
    val line = spark.read.parquet(path("lineitem"))
    val parts = spark.read.parquet(path("part"))
    def call[T](name: String)(body: => T): T = {
      val (o, v) = r.op(name)(tr.span(s"op.$name")(body))
      passOps += o
      v.getOrElse(throw new RuntimeException(s"$name failed: ${o.err}"))
    }
    def pinned(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    try {
      val pairs = call("minhash_pairs")(pinned(Dedup.minhashLshPairs(docs, "doc_id", "text")
        .select("id_a", "id_b")))
      val comps = call("components")(pinned(
        Dedup.connectedComponents(docs.select("doc_id"), pairs, "doc_id")))
      val best = call("keep_best")(pinned(Dedup.keepBestPerCluster(
        comps.join(docs.select(col("doc_id").as("id"), col("score")), "id"), "id", "comp", "score")))
      val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      val ranks = call("pagerank")(pinned(Graph.pageRankFp(docs.select("doc_id"), sym, "doc_id", 3)))
      val index = path("ivf")
      call("ivf_build")(IvfIndex.build(vecs, "vec_id", "embedding", index))
      val ann = call("ivf_query")(IvfIndex.query(spark, index,
        vecs.where(col("vec_id") % (Vectors / QuerySample) === 0), "vec_id", "embedding", K,
        nprobe = Probes).collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))))
      val lp = line.select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val coPart = lp.as("x").join(lp.as("y"), col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      val labels = call("lpa")(pinned(
        Graph.labelPropagation(parts, coPart, "l_partkey", "src", "dst", rounds = 3)))
      Some(PassOut(pairs, comps, best, ranks, ann, labels))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  override def run(): Unit = {
    tr.span("setup") {
      for (_ <- 1 to SetupReps) {
        val t0 = System.nanoTime()
        Gen.deleteTree(java.nio.file.Paths.get(dir))
        writeInputs()
        r.setupS += (System.nanoTime() - t0) / 1e9
      }
    }
    val passes = mutable.ArrayBuffer.empty[(Op, mutable.ArrayBuffer[Op], Option[PassOut])]
    var last: Option[PassOut] = None
    val t0 = System.nanoTime()
    tr.span("passes") {
      while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        val passOps = mutable.ArrayBuffer.empty[Op]
        val (o, out) = r.op("pass")(tr.span("pass")(pass(passOps)))
        last = out.flatten
        if (last.isEmpty) o.fail("an operator failed")
        passes += ((o, passOps, last))
      }
    }
    r.values("timed_s") = (System.nanoTime() - t0) / 1e9
    r.values("rows") = Docs + Vectors + Orders * LinesPerOrder + Categories.toLong * PartsPerCategory
    r.values("docs") = Docs
    r.values("index_bytes") = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(path("ivf"))).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) && !p.toString.endsWith(".crc"))
        .map(java.nio.file.Files.size).sum
    }
    val checkStart = System.nanoTime()
    tr.span("check") {
      last.foreach(check)
      // every earlier pass must give the checked pass's answer
      lazy val want = last.map(fingerprint)
      passes.foreach { case (o, ops, out) =>
        if (out.isEmpty || (out ne last) && out.map(fingerprint) != want) {
          o.fail("pass output differs")
          ops.foreach(_.fail("pass output differs"))
        }
      }
    }
    r.values("check_s") = (System.nanoTime() - checkStart) / 1e9
    if (a.trace) tr.span("layer_probe")(traceLayers())
  }

  private def fingerprint(p: PassOut): Map[String, Long] = Map(
    "pairs" -> p.pairs.count(),
    "comps" -> p.comps.select("comp").distinct().count(),
    "best" -> p.best.agg(sum(col("kept_id"))).head().getLong(0),
    "rank" -> p.ranks.agg(sum(col("rank_fp"))).head().getLong(0),
    "ann" -> p.ann.map(x => x._1 * 31 + x._2 * 7 + x._3).sum,
    "labels" -> p.labels.agg(sum(col("label"))).head().getLong(0))

  private def check(p: PassOut): Unit = {
    val collected = Gen.parallel(
      () => spark.read.parquet(path("documents")).select("doc_id", "score", "cluster").collect(),
      () => p.pairs.collect(), () => p.comps.collect(), () => p.best.collect(),
      () => p.ranks.collect(), () => spark.read.parquet(path("embeddings")).collect(),
      () => p.labels.agg(count(lit(1)), sum(when(
        floor(col("label") / PartsPerCategory) =!= floor(col("node") / PartsPerCategory), 1)
        .otherwise(0))).collect())
    val Seq(docRows, pairRows, compRows, bestRows, rankRows, vecRows, labRows) = collected
    val docs = docRows.map(x => (x.getLong(0), x.getDouble(1), x.getLong(2)))
    val opsOf = (name: String) => r.ops.filter(_.kind == name).toSeq
    def verdict(name: String, ok: Boolean, detail: String): Unit =
      if (!r.check(name, ok, detail)) opsOf(name).foreach(_.fail(detail))

    // near-dup pairs: only pairs inside a generated cluster (their Jaccard
    // is at least 6/7; any other pair shares almost no shingle), and LSH recall
    // of those at or above a floor
    val pairs = pairRows.map(x => (x.getLong(0), x.getLong(1))).toSet
    val truth = docs.filter(_._3 >= 0).groupBy(_._3).values.flatMap { m =>
      val ids = m.map(_._1).sorted
      for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
    }.toSet
    val pairRecall = (pairs & truth).size.toDouble / truth.size
    r.values("minhash_recall") = pairRecall
    verdict("minhash_pairs", (pairs -- truth).isEmpty && pairRecall >= PairRecallFloor,
      f"${pairs.size} pairs, ${(pairs -- truth).size} not near-dups, recall $pairRecall%.4f " +
        f"of ${truth.size}, floor $PairRecallFloor")

    // components: a driver-side union-find over the emitted pairs
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val q = parent.getOrElse(x, x)
      if (q == x) x else { val root = find(q); parent(x) = root; root }
    }
    pairs.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    val comps = compRows.map(x => x.getLong(0) -> x.getLong(1)).toMap
    val compOk = comps.size == docs.length && docs.forall(d => comps.get(d._1).contains(find(d._1)))
    verdict("components", compOk, s"${comps.size} rows for ${docs.length} documents")

    // keep_best: one keeper per component, the best score (ties to the smaller id)
    val bestWant = docs.groupBy(d => comps.getOrElse(d._1, -1L)).map { case (c, m) =>
      c -> m.maxBy(d => (d._2, -d._1))._1
    }
    val best = bestRows.map(x => x.getLong(0) -> x.getLong(1)).toMap
    verdict("keep_best", best == bestWant, s"${best.size} keepers, ${bestWant.size} expected")

    val ranks = rankRows.map(_.getLong(1))
    verdict("pagerank", ranks.length == docs.length && ranks.forall(_ > 0),
      s"${ranks.length} ranks for ${docs.length} documents")

    // IVF recall@K against brute-force cosine over the same vectors
    val vecs = vecRows.map(x => x.getLong(0) -> x.getSeq[Float](1).map(_.toDouble).toArray)
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val queries = vecs.filter(_._1 % (Vectors / QuerySample) == 0)
    val got = p.ann.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).toSet }
    val recalls = queries.map { case (q, qv) =>
      val exact = vecs.filter(_._1 != q).map { case (id, v) =>
        (id, qv.zip(v).map { case (x, y) => x * y }.sum / (norm(qv) * norm(v)))
      }.sortBy(x => (-x._2, x._1)).take(K).map(_._1).toSet
      (exact & got.getOrElse(q, Set.empty)).size.toDouble / K
    }
    val recall = recalls.sum / recalls.length
    r.values("ivf_recall") = recall
    verdict("ivf_query", recall >= RecallFloor, f"recall@$K $recall%.3f, floor $RecallFloor")

    // LPA: every node labelled, and labels never cross a part category
    val lab = labRows.head
    verdict("lpa", lab.getLong(0) == Categories.toLong * PartsPerCategory && lab.getLong(1) == 0,
      s"${lab.getLong(0)} labels, ${lab.getLong(1)} across categories")
  }

  private def traceLayers(): Unit = {
    tr.resolve()
    val spans = tr.allSpans
    val regimes = mutable.ArrayBuffer.empty[Map[String, Any]]
    opNames.foreach { op =>
      val calls = spans.filter(_.name == s"op.$op")
      val c = new Counters
      calls.foreach(s => c.add(tr.subtree(s)))
      val n = math.max(1, calls.size).toDouble
      val p = s"operators.$op"
      r.layer(s"$p.wall_s") = calls.map(s => (s.endNs - s.startNs) / 1e9).sum / n
      r.layer(s"$p.jobs") = c.jobs / n
      r.layer(s"$p.stages") = c.stages / n
      r.layer(s"$p.shuffle_read_bytes") = c.shuffleRead / n
      r.layer(s"$p.shuffle_write_bytes") = c.shuffleWrite / n
      r.layer(s"$p.spill_bytes") = c.spill / n
      r.layer(s"$p.task_run_s") = c.runMs / 1000.0 / n
      r.layer(s"$p.gc_s") = c.gcMs / 1000.0 / n
      regimes += Map("op" -> op, "planned" -> c.plannedJoins.toMap, "executed" -> c.joins.toMap)
    }
    r.values("joins_by_operator") = regimes.toSeq
    SparkLayer.record(r, tr, spans.filter(_.name.startsWith("op.")), a.cores)
  }
}

object Curation {
  val Docs = 2000L
  // sf0.1's documents: 10 to 100 words over 31 words; 9.5% of them in
  // near-dup groups, nearly all pairs
  val MinWords = 10
  val MaxWords = 100
  val Vocab = 31
  val DupShare = 0.14
  val TripleShare = 0.05
  val Vectors = 1000L
  val Dim = 64
  val Centres = 10
  val Noise = 0.6
  val QuerySample = 50L
  val K = 10
  val Probes = 4
  val RecallFloor = 0.9
  val PairRecallFloor = 0.99
  val Orders = 15000L
  val LinesPerOrder = 4
  val Categories = 20
  val PartsPerCategory = 100
  val SetupReps = 3
}
