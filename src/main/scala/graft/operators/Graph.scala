package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.IsolatedSession
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Graph analytics over corpus-derived graphs (near-dup similarity edges,
 * link/citation structure): fixed-point PageRank for centrality-based
 * canonical-document selection and spam-farm detection. Complements the
 * connected-components labeling in [[Dedup.connectedComponents]].
 *
 * All rank mass is INTEGER (a global scale of 1e12 per unit), every
 * per-iteration update is `DIV`/`sum` on longs — order-independent and
 * overflow-free (total mass 1e12 << 2^63), so the result is
 * bit-identical across engines, partitionings, and retries: the
 * property a 100 TB re-run needs to be diff-able against yesterday's.
 */
object Graph {

  /** Total fixed-point mass distributed across the graph (1e12). */
  val RankScale: Long = 1000000000000L

  /** PageRank-family iterations between cache/count barriers: small
   *  enough that a lazy segment's plan stays shallow (each step adds
   *  one join over cached leaves), large enough that per-round job
   *  latency stops dominating small graphs. */
  private val MaterializeEvery: Int = 4

  /** The largest weight the driver-local rank rounds take: rank mass
   *  never exceeds [[RankScale]], so `rank * w` cannot overflow. */
  private val MaxLocalWeight: Long = Long.MaxValue / RankScale

  /**
   * `iters` synchronous PageRank iterations with damping
   * `dampNum/dampDen` (default 85/100). `nodes` is one column `idCol`;
   * `edges` has `src`/`dst` columns (directed; symmetrize upstream for
   * similarity graphs). Returns (id, rank_fp).
   *
   * Update rule (pure integer):
   *   share(u)  = rank(u) DIV outdeg(u)
   *   rank'(v)  = ((dampDen - dampNum) * (SCALE DIV N)
   *               + dampNum * sum_{u->v} share(u)) DIV dampDen
   * Dangling-node mass is dropped (the standard simplification; ranks
   * remain comparable, they just don't sum to SCALE). This is
   * [[weightedPageRankFp]]'s rule with every weight 1; all three
   * PageRanks run one core, [[pageRankCore]], which describes the
   * regimes.
   */
  def pageRankFp(
      nodes: DataFrame,
      edges: DataFrame,
      idCol: String,
      iters: Int,
      dampNum: Int = 85,
      dampDen: Int = 100): DataFrame =
    pageRankCore("pageRankFp", nodes.select(col(idCol).as("id")), None,
      edges.select(col("src"), col("dst")), iters, dampNum, dampDen)

  /**
   * Personalized PageRank (integer fixed point): teleport mass restarts
   * at the `seeds` set instead of uniformly — ranks measure proximity
   * to the seeds, the "find more like these" primitive (seed = known-
   * good documents, rank = curation priority; seed = known spam, rank =
   * contamination risk). Same integer update rule, regimes and cache
   * discipline as [[pageRankFp]]; non-seed nodes get zero restart
   * mass, so their rank is purely inherited.
   *
   * `seeds` is one column `idCol`; seeds not present in `nodes` are
   * ignored. Returns (id, rank_fp) with total restart mass `RankScale
   * DIV |seeds|` per seed.
   */
  def personalizedPageRankFp(
      nodes: DataFrame,
      edges: DataFrame,
      idCol: String,
      seeds: DataFrame,
      iters: Int,
      dampNum: Int = 85,
      dampDen: Int = 100): DataFrame =
    pageRankCore("personalizedPageRankFp",
      nodes.select(col(idCol).as("id")), Some(seeds.select(col(idCol).as("id"))),
      edges.select(col("src"), col("dst")), iters, dampNum, dampDen)

  /**
   * Weighted PageRank (integer fixed point): rank mass flows along
   * edges proportionally to their weights — on a co-occurrence graph,
   * a pair seen together in 5 baskets carries 5x the endorsement of a
   * one-off. Update per edge: `share = (rank * w) DIV wsum(src)`, so
   * `rank_fp * w` must stay under 2^63 (w <= ~9e6 at the 1e12 rank
   * scale; rescale weights upstream beyond that). Same iteration
   * shape, regimes, cache discipline, and determinism contract as
   * [[pageRankFp]]; `edges` carries (src, dst, `weightCol`), weights
   * must be positive integers.
   */
  def weightedPageRankFp(
      nodes: DataFrame,
      edges: DataFrame,
      idCol: String,
      weightCol: String,
      iters: Int,
      dampNum: Int = 85,
      dampDen: Int = 100): DataFrame =
    pageRankCore("weightedPageRankFp", nodes.select(col(idCol).as("id")), None,
      edges.select(col("src"), col("dst"), col(weightCol).cast("long").as("w")),
      iters, dampNum, dampDen)

  /**
   * The rank core of the three PageRanks. `nodeIds` and `seedIds` are one
   * column `id`; `edges` is (src, dst) or (src, dst, w) with a long `w`.
   * The restart (base) mass is `RankScale DIV nSeeds` on each seed that is
   * a node and 0 elsewhere; with no `seedIds` every node, a null id
   * included, is a seed. Unweighted edges weigh the literal 1, so their
   * share `(rank * 1) DIV sum(1)` is `rank DIV outdeg`. Per round:
   *   share(u->v) = (rank(u) * w) DIV wsum(u)   (wsum over all u's edges)
   *   rank'(v)    = ((dampDen - dampNum) * base(v)
   *                  + dampNum * sum_{u->v} share(u->v)) DIV dampDen
   * Mass sent outside the node set and dangling mass are dropped.
   *
   * Scale design: three regimes behind one bound, Spark's own
   * `spark.sql.autoBroadcastJoinThreshold` (T; T <= 0 means sort-merge):
   *  - nodes (and seeds) x 32 bytes and edges x 8 bytes a column both
   *    within T, integral ids, and every weight in 1..[[MaxLocalWeight]]:
   *    the edge list is charged, collected once into primitive arrays,
   *    and every iteration runs on the driver; the result is a local
   *    frame ([[DriverLocal]]). A null, non-positive or larger weight
   *    declines in the charge job, before the collect, so Spark's plan
   *    keeps owning their nulls and errors.
   *  - only nodes x 32 within T: each iteration is one join of the
   *    broadcast (src, rank, wsum) vector against the edge list plus one
   *    partial-aggregable sum by `dst`, with no exchange.
   *  - otherwise the same join sort-merges; only the rank vector moves.
   * Document payloads never participate. Distributed iterations
   * re-cache the rank vector and unpersist the previous one, so lineage
   * stays O(1) regardless of `iters`. The call posts `op`'s record.
   */
  private def pageRankCore(
      op: String,
      nodeIds: DataFrame,
      seedIds: Option[DataFrame],
      edges: DataFrame,
      iters: Int,
      dampNum: Int,
      dampDen: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"damping must satisfy 0 <= num <= den, got $dampNum/$dampDen")
    val emptyMessage =
      s"$op: ${if (seedIds.isEmpty) "empty node set" else "no seed overlaps the node set"}"
    // (id, is_seed) over the distinct ids, which the distributed rounds
    // join against; its node and seed counts come from one job, which the
    // driver-local regime skips when the raw node rows already fit
    lazy val ids = seedIds.fold(nodeIds.distinct().withColumn("is_seed", lit(true))) { s =>
      nodeIds.distinct()
        .join(s.distinct().withColumn("is_seed", lit(true)), Seq("id"), "left")
    }.cache()
    lazy val counts = DriverLocal.rows(ids, ids.where(col("is_seed")))
    // Driver-local regime (see [[localGraph]]): every round runs on the
    // driver over primitive arrays — two jobs in all (charge, collect)
    // instead of a join, an aggregation and their exchanges per round,
    // which on a small graph cost far more in per-job latency than the
    // data does. Same integer rule, so the ranks are bit-identical.
    // Integral ids only: the arrays are longs, and other id types keep
    // Spark's comparison semantics on the distributed paths. The gate
    // pins the edges, charged and then collected or read every round, so
    // an expensive upstream (e.g. a similarity join) runs once.
    val integral = (Seq(nodeIds.schema.head, edges.schema("src"), edges.schema("dst")) ++
      seedIds.map(_.schema.head)).forall(f => DriverLocal.isIntegral(f.dataType))
    DriverLocal.gate(nodeIds, op, Option.when(!integral)("non-integral ids"), Some(edges)) { t =>
      localGraph(nodeIds, ids.select(col("id")), counts.head, edges, t, seedIds).map { g =>
        ids.unpersist(blocking = false) // the gate may have cached it to count it
        // a null id matches no seed and no edge; it is a seed only
        // when every node is, and keeps its restart mass alone
        val seeded = g.ids.map(id => g.seeds.forall(indexOf(_, id) >= 0)) ++
          (if (g.hasNull) Seq(seedIds.isEmpty) else Nil)
        val nSeeds = seeded.count(identity)
        require(nSeeds > 0, emptyMessage)
        val base = seeded.map(s => if (s) RankScale / nSeeds else 0L)
        val ranks = localRanks(g.ids, base, g.edges, iters, dampNum, dampDen)
        (g.frame(nodeIds.schema.head, "rank_fp", ranks.toSeq), iters, g.reason)
      }
    }(distributedRank(op, _, emptyMessage, ids, counts, edges, iters, dampNum, dampDen))
  }

  /** [[pageRankCore]]'s Spark rounds over the cached (id, is_seed)
   *  `ids`, whose `counts` are its rows and its seeds; the driver-local
   *  regime was `declined` for the reason given. */
  private def distributedRank(
      op: String,
      declined: String,
      emptyMessage: String,
      ids: DataFrame,
      counts: => Seq[Long],
      edges: DataFrame,
      iters: Int,
      dampNum: Int,
      dampDen: Int): DataFrame = {
    val Seq(n, nSeeds) = counts
    require(nSeeds > 0, emptyMessage)
    val base = ids.select(col("id"),
      when(col("is_seed"), RankScale / nSeeds).otherwise(0L).as("base_fp"))
    // the weight term of the share: the weight column, or the literal 1
    val w = if (edges.columns.contains("w")) "w" else "1L"
    // Two edge layouts, picked by whether the rank vector is
    // broadcastable (the [[labelPropagation]] regime gate):
    //  - broadcast regime: cache the bare edge list hash-partitioned by
    //    `dst` — the per-iteration inbound aggregation's key — and carry
    //    the rank-and-wsum side into the join as a STATIC broadcast.
    //    cache() preserves the explicit partitioning (AQE leaves cached
    //    plan partitioning alone by default), so every iteration's join
    //    + sum-by-dst run with ZERO exchange; the per-src weight totals
    //    come from one tiny aggregation over the cache instead of a
    //    2|E| window exchange.
    //  - rank vector too big to broadcast: the original shape — the
    //    weight total as a window sum over src, cache hash-partitioned
    //    by src so the per-iteration sort-merge join never re-exchanges
    //    the edge side; only the rank vector (small relative to edges)
    //    moves.
    // Gated on the EXACT node count (already in hand) x 32 bytes/row,
    // not the plan estimate: narrow-projection estimates overestimate
    // severalfold and mis-file moderate graphs into the SMJ regime
    // (see [[labelPropagation]]).
    val gate = fit("nodes", n * 32L, broadcastThreshold(ids))
    val bcast = gate.isRight
    record(ids, op, if (bcast) "broadcast" else "sort-merge", iters, gate.fold(identity, _ => declined))
    val e =
      if (bcast) edges.repartition(col("dst")).cache()
      else edges.withColumn("wsum", sum(expr(w)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src")))).cache()
    DriverLocal.rows(e) // materialize before the loop references it per iteration
    // toDF: fresh attribute ids, so joining the rank side back against
    // the edge cache (wsumF derives FROM e) is not an ambiguous self-join
    val wsumF =
      if (bcast) e.groupBy("src").agg(sum(expr(w)).as("wsum"))
        .toDF("psrc", "wsum").cache()
      else null
    val share = expr(s"(rank_fp * $w) DIV wsum").as("share")
    var ranks: DataFrame = base.withColumnRenamed("base_fp", "rank_fp")
    var pinned: DataFrame = null
    for (i <- 1 to iters) {
      val shares =
        if (bcast) {
          // the share is per EDGE, so the broadcast side carries
          // (src, rank_fp, wsum) and the division runs on the edge rows
          val srcSide = ranks.join(wsumF, ranks("id") === wsumF("psrc"))
            .select(col("psrc"), col("rank_fp"), col("wsum"))
          broadcast(srcSide).join(e, col("psrc") === e("src")).select(col("dst"), share)
        } else ranks.join(e, ranks("id") === e("src")).select(col("dst"), share)
      val inbound = shares.groupBy(col("dst").as("id")).agg(sum("share").as("s"))
      ranks = base.join(inbound, Seq("id"), "left")
        .select(col("id"),
          expr(s"(${(dampDen - dampNum).toLong}L * base_fp + " +
            s"${dampNum.toLong}L * coalesce(s, 0L)) DIV ${dampDen.toLong}L")
            .as("rank_fp"))
      // materialize every 4th round (and at the end), not every round:
      // a barrier per iteration costs a fixed job latency that dominates
      // small/medium graphs, while a 4-step lazy segment keeps the plan
      // shallow (each step adds one join over cached leaves) and lineage
      // stays O(1) via the rolling pin
      if (i % MaterializeEvery == 0 || i == iters) {
        val c = ranks.cache()
        DriverLocal.rows(c)
        if (pinned != null) pinned.unpersist()
        pinned = c
        ranks = c
      }
    }
    // the final rank vector is already materialized, so the working
    // tables can go; the returned frame itself stays cached (per-query
    // working state; the harness/caller clears it) — unpersisting IT
    // would force a full all-iterations recompute on first use
    e.unpersist(blocking = false)
    if (wsumF != null) wsumF.unpersist(blocking = false)
    ids.unpersist(blocking = false)
    ranks
  }

  /** [[pageRankCore]]'s rounds on the driver: `ids` sorted and
   *  distinct, `base` their restart mass plus, when the node set holds a
   *  null id, one more entry for it (no edge reaches it); ranks are
   *  returned in `base`'s order. Exactly the distributed rule — wsum
   *  counts every edge of a node (duplicates, self-loops, edges to
   *  foreign or null endpoints), mass sent outside `ids` and dangling
   *  mass are dropped. Weights are in 1..[[MaxLocalWeight]]. */
  private def localRanks(
      ids: Array[Long],
      base: Array[Long],
      e: LongPairs,
      iters: Int,
      dampNum: Int,
      dampDen: Int): Array[Long] = {
    val n = base.length
    val wsum = new Array[Long](n)
    // the edges that carry mass, as (src, dst) node indices and weight
    val from = new Array[Int](e.size)
    val to = new Array[Int](e.size)
    val w = new Array[Long](e.size)
    var m = 0
    for (i <- 0 until e.size) {
      val u = if (e.aNull(i)) -1 else indexOf(ids, e.a(i))
      if (u >= 0) {
        val wi = if (e.width > 2) e.c(i) else 1L
        wsum(u) = Math.addExact(wsum(u), wi)
        val v = if (e.bNull(i)) -1 else indexOf(ids, e.b(i))
        if (v >= 0) { from(m) = u; to(m) = v; w(m) = wi; m += 1 }
      }
    }
    var ranks = base
    for (_ <- 1 to iters) {
      val s = new Array[Long](n)
      for (k <- 0 until m) s(to(k)) += ranks(from(k)) * w(k) / wsum(from(k))
      ranks = Array.tabulate(n)(v => Math.addExact(
        Math.multiplyExact((dampDen - dampNum).toLong, base(v)),
        Math.multiplyExact(dampNum.toLong, s(v))) / dampDen)
    }
    ranks
  }

  /**
   * k-truss: the maximal subgraph where every edge sits in at least
   * k-2 triangles — EDGE-level cohesion, one notch stricter than
   * [[kCore]]'s node degrees (a hub with many leaf neighbors has high
   * degree but zero-support edges). Synchronous peel: each round
   * recomputes per-edge triangle support on the surviving subgraph and
   * drops every edge below k-2, to a fixpoint. Returns the surviving
   * canonical edges with their in-truss support (a, b, support).
   *
   * Scale shape: support comes from the degree-oriented adjacency
   * intersection of [[edgeTriangles]] (never the wedge blow-up) computed
   * ONCE; later rounds maintain it INCREMENTALLY — only triangles that
   * contained a dropped edge are re-derived (common neighbors of each
   * dropped edge's endpoints), so per-round cost is proportional to the
   * peel frontier, not |E|. A full census per round made rounds × census
   * the dominant term on large graphs; below `deltaMinEdges` surviving
   * edges (or when a round sheds over a third of the graph) a round
   * censuses the shrunk graph instead, which is cheaper there. Each
   * round's frames are
   * materialized (the [[kCore]] plan-explosion discipline; reliable
   * checkpoints when `checkpointDir` is set), and the driver holds one
   * scalar per round. Peel depth, not |E|, bounds the rounds. Node ids
   * must be long-castable (non-numeric ids raise).
   */
  def kTruss(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxIters: Int = 50,
      checkpointDir: Option[String] = None,
      deltaMinEdges: Long = 200000L): DataFrame = {
    require(k >= 3, s"k must be >= 3 for a triangle-based truss, got $k")
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val mat = materializer(edges, checkpointDir)
    // normalize ids to LONG at the boundary: downstream the census mixes
    // original-typed endpoints with exploded BIGINT common-neighbors
    // (least/struct would fail analysis on string ids with a cryptic
    // DATATYPE_MISMATCH); normalizing here makes numeric-string ids work
    // and non-numeric ids raise longId's message, as documented
    var cur = mat(canonical(edges, srcCol, dstCol)
      .select(longId(col("a")).as("a"), longId(col("b")).as("b")))
    var curCount = cur.count()
    // full triangle census exactly once up front (the expensive step)
    var sup = mat(edgeSupport(cur))
    var it = 0
    var result: DataFrame = null
    while (result == null && it < maxIters) {
      val strong = sup.where(col("support") >= k - 2)
      // edges in no triangle never reach `sup` (inner joins inside the
      // census): the semi-join drops them too, exactly as support
      // 0 < k-2 requires
      val next = mat(cur.join(strong, Seq("a", "b"), "left_semi"))
      val nextCount = next.count()
      val nDropped = curCount - nextCount
      if (nDropped == 0L) result = strong // fixpoint
      else {
        // incremental maintenance pays off only when a census would be
        // expensive: early rounds can shed most of the graph at once
        // (every edge outside a triangle dies in round 1) — there a
        // fresh census of the SHRUNK graph beats decrementing a huge
        // frontier (the classic 1/3 peel heuristic) — and on a small
        // surviving graph (< `deltaMinEdges`) one census is a few
        // fixed-latency stages while the delta machinery is five, so
        // census wins there too. Both comparisons are driver-local
        // longs, no extra job; the delta path engages exactly where it
        // matters, on big graphs peeling small frontiers.
        sup = if (nDropped * 3L > curCount || nextCount < deltaMinEdges) {
          mat(edgeSupport(next))
        } else {
          // triangles destroyed this round: each dropped edge (a,b)
          // killed the triangles {a,b,c} for c in commonNbrs(a,b) of the
          // PRE-drop graph. Adjacency lists are built ONLY for nodes
          // touching a dropped edge (left_semi against the frontier's
          // endpoints — AQE broadcasts it), so this stage is
          // frontier-sized, not O(|E|). DISTINCT canonical node-triples
          // before decrementing: a triangle losing two edges in the same
          // round dies once, so its surviving edge loses exactly one
          // triangle, not two. `dropped` stays lazy: both its consumers
          // are frontier-sized jobs over two already-materialized leaves.
          val dropped = cur.join(strong, Seq("a", "b"), "left_anti")
          val ends = dropped.select(col("a").as("m"))
            .unionAll(dropped.select(col("b").as("m"))).distinct()
          val adjacency = symmetric(cur)
            .join(ends, Seq("m"), "left_semi")
            .groupBy("m")
            .agg(sort_array(collect_list(longId(col("x")))).as("nbrs"))
          val destroyed = dropped
            .join(adjacency.select(col("m").as("a"), col("nbrs").as("na")), Seq("a"))
            .join(adjacency.select(col("m").as("b"), col("nbrs").as("nb")), Seq("b"))
            .select(longId(col("a")).as("ta"), longId(col("b")).as("tb"),
              explode(graft.functions.graft_sorted_intersect(col("na"), col("nb"))).as("tc"))
            .select(array_sort(array(col("ta"), col("tb"), col("tc"))).as("t"))
            .distinct()
          val lost = destroyed.select(explode(array(
              struct(col("t")(0).as("a"), col("t")(1).as("b")),
              struct(col("t")(0).as("a"), col("t")(2).as("b")),
              struct(col("t")(1).as("a"), col("t")(2).as("b")))).as("e"))
            .select(col("e.a").as("a"), col("e.b").as("b"))
            .groupBy("a", "b").agg(count(lit(1)).as("lost"))
          mat(strong.join(lost, Seq("a", "b"), "left")
            .select(col("a"), col("b"),
              (col("support") - coalesce(col("lost"), lit(0L))).as("support"))
            .where(col("support") > 0))
        }
        cur = next
        curCount = nextCount
        it += 1
      }
    }
    require(result != null, s"kTruss did not converge within $maxIters rounds")
    result
  }

  /** Reference implementation of [[kTruss]] that re-runs the full
   *  triangle census every peel round — kept (test-visible) as the
   *  equivalence oracle for the incremental support maintenance. */
  private[graft] def kTrussFullRecompute(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxIters: Int = 50): DataFrame = {
    require(k >= 3, s"k must be >= 3 for a triangle-based truss, got $k")
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    var cur = canonical(edges, srcCol, dstCol)
      .select(longId(col("a")).as("a"), longId(col("b")).as("b"))
      .localCheckpoint(true)
    var it = 0
    var result: DataFrame = null
    while (result == null && it < maxIters) {
      val sup = edgeSupport(cur).localCheckpoint(true)
      val strong = sup.where(col("support") >= k - 2)
      val next = cur.join(strong, Seq("a", "b"), "left_semi")
        .localCheckpoint(true)
      if (next.count() == cur.count()) result = strong // fixpoint
      else { cur = next; it += 1 }
    }
    require(result != null, s"kTruss did not converge within $maxIters rounds")
    result
  }

  /** Per-canonical-edge triangle support: (a, b, support > 0) — each
   *  triangle (u, v, c) from the oriented census credits its three
   *  canonical edges. Edges in no triangle are absent. */
  private def edgeSupport(canon: DataFrame): DataFrame = {
    val et = edgeTriangles(canon)
    val tri = et.select(col("u"), col("v"), explode(col("common")).as("c"))
    tri.select(explode(array(
        struct(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("c")).as("a"), greatest(col("u"), col("c")).as("b")),
        struct(least(col("v"), col("c")).as("a"), greatest(col("v"), col("c")).as("b"))))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("support"))
  }

  /**
   * Multi-source BFS to `maxDepth` hops: every node reachable from any
   * seed within the bound gets its exact hop distance — the blast-
   * radius primitive (how far does a poisoned document's influence
   * propagate through the near-dup graph before release gates cut it).
   * Returns (node, dist), dist in [0, maxDepth]; unreached nodes are
   * absent.
   *
   * Scale shape: classic frontier expansion — each round joins the
   * CURRENT frontier (not the whole label set) against the symmetric
   * adjacency, anti-joins the labels accumulated so far, and
   * checkpoints ONLY the new frontier; the visited set stays a lazy
   * union over the already-checkpointed frontier leaves (linear plan
   * growth — not the 3^rounds blowup [[kCore]]'s discipline guards
   * against). Rounds = maxDepth, each one edge-list join whose probe
   * side only ever shrinks on expander-like graphs.
   */
  def bfsDistances(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxDepth: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val mat = materializer(edges, checkpointDir)
    val canon = canonical(edges, srcCol, dstCol)
    val seedsFrame = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0))
    // Pre-partition the adjacency once by the key of each round's dominant
    // exchange (the [[labelPropagation]] rationale, mirrored): with a
    // broadcastable frontier the per-round join is forced to a STATIC
    // broadcast (checkpointed frontiers report unknown stats, so the
    // planner would stage a sort-merge join whose ~2|E| adjacency
    // exchange is fully written before AQE flips it — measured 21 MB
    // dead exchange per round at sf0.1); the adjacency is partitioned by
    // `x`, which the joined output keeps, so the neighbor DISTINCT needs
    // no exchange either. With a frontier too big to broadcast the join
    // legitimately sort-merges on `m`: partition by `m` so only the
    // frontier side moves. The hint is gated on the EXACT row count of
    // each materialized frontier (one cheap job over its checkpointed
    // blocks, doubling as the emptiness probe) times a deliberately
    // generous 64 bytes/row — plan estimates of narrow projections
    // overestimate several-fold and would mis-file moderate graphs into
    // the SMJ regime (see [[labelPropagation]]); a frontier that truly
    // outgrows the threshold demotes the hint for all later rounds, and
    // the adjacency is re-partitioned by `m` once, at the demotion, so
    // the sort-merge rounds after it move only the frontier.
    val bcThresh = broadcastThreshold(seedsFrame)
    var lab = mat(seedsFrame)
    var frontierRows = lab.count()
    var hintFrontier = bcThresh > 0 && frontierRows * 64L <= bcThresh
    var adjKey = if (hintFrontier) "x" else "m"
    var adj = matPartitioned(mat, symmetric(canon).repartition(col(adjKey)))
    // the visited accumulator stays a LAZY union of the per-round
    // checkpointed frontiers: each leaf is already materialized, so
    // re-checkpointing the whole union every round (a full copy of all
    // labels, O(depth · |reached|) writes over the loop) bought nothing —
    // the union plan grows linearly in rounds over leaf nodes, not
    // exponentially (the kCore hazard this discipline guards against)
    var labParts = Vector(lab)
    var frontier = lab
    var d = 1
    while (d <= maxDepth && frontierRows > 0) {
      if (!hintFrontier && adjKey == "x") {
        adj = matPartitioned(mat, adj.repartition(col("m")))
        adjKey = "m"
      }
      val fSide = if (hintFrontier) broadcast(frontier) else frontier
      val nbrs = fSide.join(adj, fSide("node") === adj("m"))
        .select(col("x").as("node")).distinct()
      val fresh = mat(nbrs.join(lab, Seq("node"), "left_anti")
        .withColumn("dist", lit(d)))
      // one cheap job over the just-checkpointed blocks: doubles as the
      // emptiness probe AND the next round's broadcast-hint gate
      frontierRows = fresh.count()
      hintFrontier = hintFrontier && frontierRows * 64L <= bcThresh
      labParts :+= fresh
      lab = labParts.reduce(_ unionAll _)
      frontier = fresh
      d += 1
    }
    lab
  }

  /** Symmetric (both-directions) edge list (m, x) of a canonical
   *  undirected edge set — the shared first step of BFS, the wedge
   *  join, and the truss delta path. */
  private def symmetric(canon: DataFrame): DataFrame =
    canon.select(col("a").as("m"), col("b").as("x"))
      .unionAll(canon.select(col("b").as("m"), col("a").as("x")))

  /** Materialize a deliberately-partitioned frame with AQE off for that
   *  one eager action: AQE coalesces the repartition's shuffle read and
   *  records UnknownPartitioning on the checkpointed RDD — erasing
   *  exactly the layout the pre-partition paid for. Without AQE the
   *  LogicalRDD keeps its HashPartitioning, and every later consumer
   *  (with AQE on) skips its exchange when the layout satisfies its
   *  distribution. The action runs on a clone of the caller's session,
   *  so the caller's own queries never see AQE off. */
  private def matPartitioned(
      mat: DataFrame => DataFrame, df: DataFrame): DataFrame =
    IsolatedSession.run(df, "spark.sql.adaptive.enabled" -> "false")(mat)

  /** A graph on the driver: the node ids sorted and distinct, whether a
   *  null is among them, the edges, the seed ids (sorted, distinct,
   *  nulls dropped) when seeds were given, and the gate's comparison. */
  private final case class LocalGraph(spark: SparkSession, ids: Array[Long], hasNull: Boolean,
      edges: LongPairs, seeds: Option[Array[Long]], reason: String) {
    /** `values` in `ids` order, the null id's last, as a local relation. */
    def frame(id: StructField, value: String, values: Seq[Any]): DataFrame =
      DriverLocal.frame(spark, values.indices.map(i =>
        Row(if (i < ids.length) DriverLocal.ofLong(ids(i), id.dataType) else null, values(i))),
        StructType(Seq(id, StructField(value, LongType, nullable = true))))
  }

  /**
   * The driver-local regime's graph, or why it declines. The regime needs
   * the edges at 8 bytes a column (16 a pair, 24 weighted) and the
   * distinct node ids (and any seed rows) at 32 bytes each — the
   * broadcast regime's own gate — both within `threshold`, and every
   * weight in 1..[[MaxLocalWeight]]. One [[DriverLocal.charge]] job counts
   * the raw node rows, an upper bound of the distinct ids, the edge rows
   * with their weights checked, and the seed rows; only when the raw node
   * rows do not fit does the exact distinct count decide, which the
   * distributed regimes need anyway. When all fit, one more job collects
   * the node ids, the edges and the seeds. `edges` is read twice.
   */
  private def localGraph(
      nodeIds: DataFrame,
      distinctIds: => DataFrame,
      distinctCount: => Long,
      edges: DataFrame,
      threshold: Long,
      seeds: Option[DataFrame] = None): Either[String, LocalGraph] = {
    val width = edges.columns.length
    // a weight the driver rounds cannot take charges null; a null weight
    // is outside the range too
    val edgeCharge =
      if (width < 3) lit(8L * width) else when(col("w").between(1L, MaxLocalWeight), 8L * width)
    val node +: edge +: seedCharges = DriverLocal.charge(
      Seq(nodeIds -> lit(32L), edges -> edgeCharge) ++ seeds.map(_ -> lit(32L)): _*)
    val seedRows = seedCharges.map(_.rows).sum
    val edgeFit = fit("edges", edge.rows * 8L * width, threshold)
    val nodeSource = edgeFit.flatMap { _ =>
      if ((node.rows + seedRows) * 32L <= threshold) Right(nodeIds)
      else fit("nodes", (distinctCount + seedRows) * 32L, threshold)
        .map(_ => distinctIds.select(col(nodeIds.columns.head)))
    }
    for {
      source <- nodeSource
      _ <- edge.bytes.toRight("a weight outside the local range")
    } yield {
      val collected = LongPairs.collect(source +: edges +: seeds.toSeq: _*)
      def sortedIds(p: LongPairs) =
        (0 until p.size).filterNot(p.aNull).map(p.a).distinct.sorted.toArray
      val ns = collected.head
      LocalGraph(nodeIds.sparkSession, sortedIds(ns), (0 until ns.size).exists(ns.aNull), collected(1),
        collected.lift(2).map(sortedIds), edgeFit.merge)
    }
  }

  /** Position of `v` in the sorted `ids`, or -1. */
  private def indexOf(ids: Array[Long], v: Long): Int = {
    val i = java.util.Arrays.binarySearch(ids, v)
    if (i >= 0) i else -1
  }

  /** Node id cast to long that FAILS FAST on non-numeric ids: a string
   *  id casts to null, and `collect_list` would silently drop it —
   *  triangle counts, truss supports, and core degrees would all be
   *  wrong with no error. The triangle/truss/core family requires
   *  long-castable node ids; anything else raises here. */
  private def longId(c: Column): Column = {
    // try_cast: null on failure in ANSI mode too, so the raise below
    // owns the error message in every SQL mode
    val l = c.try_cast("long")
    when(c.isNotNull && l.isNull,
      raise_error(concat(
        lit("graft graph ops require long-castable node ids, got: "),
        c.cast("string")))).otherwise(l)
  }

  /** Canonical undirected edge list: self-loops dropped, endpoints
   *  ordered (a < b), duplicates collapsed. */
  private def canonical(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.where(col(srcCol) =!= col(dstCol))
      .select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()

  /** Triangles via degree-ordered orientation + adjacency intersection:
   *  orient every edge from the endpoint with the smaller (degree, id)
   *  to the larger (a DAG — each triangle appears exactly once as edge
   *  (u,v) plus a common out-neighbor c), collect each node's
   *  out-neighbors once, and intersect the two lists per edge. The
   *  intermediate is |E| rows carrying O(d_out) arrays — NOT the
   *  Σ C(d_out, 2) wedge blow-up a three-way edge self-join
   *  materializes — and d_out ≈ d/2 toward higher-degree nodes only,
   *  the bound that survives hub skew at 100 TB. The adjacency table is
   *  |V| rows (broadcast-able on most graphs; AQE decides).
   *  Output: one row (u, v, common) per oriented edge. */
  private def edgeTriangles(canon: DataFrame): DataFrame = {
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = canon
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), Seq("a"))
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), Seq("b"))
    // the oriented edge list feeds the adjacency build AND the probe
    // join, and each broadcast computes its child independently — cache
    // both, and materialize via adj (whose scan fills o's cache on the
    // way), or the degree+orientation joins run three times per census
    // (measured ~2x the whole census wall-clock at sf0.1)
    val o = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("a")).otherwise(col("b")).as("u"),
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("b")).otherwise(col("a")).as("v"))
      .cache()
    // adjacency sorted ONCE per node; per-edge intersection is then an
    // allocation-free sorted merge (graft_sorted_intersect codegen) —
    // array_intersect would rebuild a hash set of the larger side per
    // edge, which dominates wall-clock on million-edge graphs. The
    // adjacency table is |V| rows / O(|E|) longs — BROADCAST it so the
    // edge stream never shuffles with duplicated neighbor arrays
    // attached (that duplication is Σd², the wedge blow-up in disguise).
    val adj = o.groupBy(col("u").as("node"))
      .agg(sort_array(collect_list(longId(col("v")))).as("nbrs"))
      .cache()
    adj.count()
    // a v with no out-edges closes no triangle — inner joins suffice
    o.join(broadcast(adj.select(col("node").as("u"), col("nbrs").as("nu"))), Seq("u"))
      .join(broadcast(adj.select(col("node").as("v"), col("nbrs").as("nv"))), Seq("v"))
      .select(col("u"), col("v"),
        graft.functions.graft_sorted_intersect(col("nu"), col("nv")).as("common"))
  }

  /**
   * Global triangle census of an undirected graph: one row
   * (n_nodes, n_edges, n_triangles, gcc_fp) where gcc is the global
   * clustering coefficient 3T / #wedges in 1e4 fixed point (0 when the
   * graph has no wedges). The quality signal for corpus-derived
   * similarity graphs: a near-dup graph whose gcc collapses after a
   * pipeline change usually means the candidate generator broke.
   * Node ids must be long-castable (non-numeric ids raise, they are
   * never silently dropped — see [[longId]]).
   */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val canon = canonical(edges, srcCol, dstCol).cache()
    // materialize before fanning out: the aggregate branches otherwise
    // race to fill the cache and each recomputes the (expensive) edge
    // producer — the pageRankFp e.count() pattern
    canon.count()
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val tris = edgeTriangles(canon)
      .agg(coalesce(sum(size(col("common"))), lit(0)).cast("long")
        .as("n_triangles"))
    // n_edges = Σdeg/2 — one deg pass feeds nodes, wedges, AND edges
    val degAgg = deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("deg")) / 2).cast("long").as("n_edges"),
      (sum(col("deg") * (col("deg") - 1)) / 2).cast("long").as("n_wedges"))
    degAgg.crossJoin(tris)
      .select(
        col("n_nodes"), col("n_edges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          expr("(3L * n_triangles * 10000L) DIV n_wedges"))
          .otherwise(0L).as("gcc_fp"))
  }

  /**
   * Link prediction by neighborhood overlap: the `topN` NON-adjacent
   * node pairs with the most common neighbors, scored also by
   * neighborhood Jaccard in 1e4 fixed point — the "these two documents
   * share every near-dup partner but never matched directly" signal
   * that catches candidate-generation misses in a dedup graph.
   *
   * Wedge generation is the skew hazard: a middle node of degree d
   * emits C(d,2) candidate pairs, so super-hubs (which carry no
   * discriminative signal — everything is their neighbor) are excluded
   * by `maxMiddleDeg` BEFORE the self-join; the cost bound is then
   * nodes × C(maxMiddleDeg, 2) regardless of how skewed the graph is.
   * Returns (a, b, cn, jaccard_fp), ordered (cn desc, jaccard desc,
   * a, b) — fully deterministic.
   */
  def commonNeighborPairs(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      topN: Int,
      maxMiddleDeg: Long = Long.MaxValue): DataFrame = {
    val canon = canonical(edges, srcCol, dstCol).cache()
    canon.count() // materialize before branches fan out (see above)
    // deg has three consumers (middle filter + both endpoint joins) —
    // cached, and materialized as a side effect of adj.count() below
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .cache()
    // symmetric adjacency, hub middles dropped before the wedge join;
    // CACHED: the wedge self-join references it on both sides, and each
    // side would otherwise recompute the union+degree join
    val adj = symmetric(canon)
      .join(deg.withColumnRenamed("node", "m"), Seq("m"))
      .where(col("deg") <= maxMiddleDeg)
      .select(col("m"), col("x"))
      .cache()
    // materialize BEFORE the self-join references it on both sides:
    // without this the two join children race to fill the cache and each
    // recomputes the union+degree join (the canon.count() discipline
    // above; was the suite's slowest query until fixed)
    adj.count()
    val cn = adj.as("l").join(adj.as("r"),
        col("l.m") === col("r.m") && col("l.x") < col("r.x"))
      .select(col("l.x").as("a"), col("r.x").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cn"))

    // anti-join + top-N + scoring over a candidate subset of cn
    def finish(cand: DataFrame): DataFrame = {
      val nonAdj = cand.join(canon, Seq("a", "b"), "left_anti")
      // per-`a` partial top-N ahead of the global TakeOrdered: a row
      // beaten by topN strictly-higher cn values WITHIN its own `a`
      // partition is beaten by them globally too, so rank() <= topN
      // (rank, not row_number — cn ties must all survive for the
      // jaccard tie-break) is a lossless prune. Spark plans it as a
      // WindowGroupLimit, i.e. a map-side top-N BEFORE the shuffle —
      // the degree joins and final sort then see O(nodes × topN) rows,
      // not every wedge pair. Must sit AFTER the anti-join: adjacent
      // pairs would otherwise inflate ranks and prune rows that win
      // once those pairs are removed.
      val pruned = nonAdj
        .withColumn("rk", rank().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("a")).orderBy(col("cn").desc)))
        .where(col("rk") <= topN)
        .drop("rk")
      pruned
        .join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), Seq("a"))
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), Seq("b"))
        .select(col("a"), col("b"), col("cn"),
          expr("(cn * 10000L) DIV (da + db - cn)").as("jaccard_fp"))
        .orderBy(col("cn").desc, col("jaccard_fp").desc, col("a"), col("b"))
        .limit(topN)
    }
    // cn >= 2 fast path: on co-occurrence graphs the candidate set is
    // dominated by one-wedge pairs (observed ~15 of 16M at bench scale)
    // that can never out-rank a multi-wedge pair under the (cn desc, ...)
    // order — so when the >= 2 subset already yields a full top-N, the
    // anti-join and window shuffles skip ~95% of their input. Lossless
    // by the driver-side check: a short result (sparse graph, tiny
    // topology) falls back to the complete candidate set. The fast
    // result is cached so the count() probe isn't recomputed on use.
    val strong = finish(cn.where(col("cn") >= 2L)).cache()
    if (strong.count() >= topN) strong
    else { strong.unpersist(blocking = false); finish(cn) }
  }

  /**
   * k-core of an undirected graph by synchronous peeling: repeatedly
   * drop ALL nodes of degree < k (degrees recomputed on the surviving
   * subgraph each round) until a fixpoint. Returns the surviving nodes
   * with their in-core degree — every returned node has core_deg >= k.
   * The dedup-graph use: a near-dup cluster that survives a high-k core
   * is a template farm (every member similar to many others), while
   * chains and stars — organic near-dups — peel away. Node ids must be
   * long-castable (non-numeric ids raise, never silently dropped).
   *
   * Scale shape: each round is one degree aggregation over the current
   * edge list plus two anti-joins against the (small, shrinking) set of
   * peeled nodes — AQE broadcasts the weak side; the edge list only
   * ever shrinks. The driver holds ONE scalar per round (the peeled
   * count); the surviving edge set is re-cached and the parent
   * unpersisted, so lineage stays O(1) across rounds. Synchronous
   * peeling converges in O(peel-depth) rounds — single digits on
   * real corpus graphs — not O(|V|).
   */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxIters: Int = 100,
      checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    // each round is CHECKPOINTED, not just cached: a cached round's plan
    // embeds the previous round's plan THREE times (both anti-join sides
    // carry the degree pass), so plan TEXT grows ~3^rounds and the
    // explain string Spark builds per executed query OOMs the driver by
    // round 5 (measured; the data itself is tiny). Materialization
    // (local by default, reliable when `checkpointDir` is set — see
    // [[materializer]]) persists the shrinking edge set AND truncates
    // the plan to a leaf — the standard iterative-algorithm hygiene.
    val mat = materializer(edges, checkpointDir)
    var cur = mat(canonical(edges, srcCol, dstCol))
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val deg = cur.select(col("a").as("node"))
        .unionAll(cur.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      withCached(deg.where(col("deg") < k).select("node")) { weak =>
        if (weak.count() == 0L) converged = true
        else {
          val next = mat(cur
            .join(weak.withColumnRenamed("node", "a"), Seq("a"), "left_anti")
            .join(weak.withColumnRenamed("node", "b"), Seq("b"), "left_anti"))
          // eager: materialized before parents drop
          cur.unpersist(blocking = false)
          cur = next
          it += 1
        }
      }
    }
    require(converged || it < maxIters,
      s"kCore did not converge within $maxIters rounds")
    record(edges, "kCore", "distributed", it, "no local regime")
    cur.select(col("a").as("node"))
      .unionAll(cur.select(col("b").as("node")))
      .groupBy(longId(col("node")).as("node"))
      .agg(count(lit(1)).cast("long").as("core_deg"))
  }

  /**
   * Degree assortativity: Pearson correlation of endpoint degrees over
   * all directed edge-ends (each undirected edge contributes both
   * orientations — the standard Newman 2002 convention). Positive on
   * social-style graphs (hubs link hubs), negative on template/spam
   * farms (hubs link leaves) — a one-number structural fingerprint for
   * diffing a dedup graph across pipeline releases.
   *
   * All moment sums (Σx, Σx², Σxy) are EXACT integers — one aggregate
   * over the degree-joined edge list, no sampling — and only the final
   * correlation touches doubles (a fixed expression over those
   * integers, reproducible bit-for-bit). Output one row:
   * (n_edge_ends, assortativity) with the correlation rounded 9 dp, or
   * NULL when the degree distribution is degenerate (zero variance).
   */
  def degreeAssortativity(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val canon = canonical(edges, srcCol, dstCol).cache()
    canon.count()
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .cache()
    deg.count() // materialize before the three consumer branches race
    // Over the 2|E| directed edge-ends, node v appears as `x` exactly
    // deg(v) times — so three of the four moments collapse onto the
    // degree table with NO join at all:
    //   n = Σ deg, Σdx = Σ deg², Σdx² = Σ deg³  (exact integers).
    // Only Σ dx·dy needs endpoint degrees side by side, and by symmetry
    // it is 2·Σ_{(a,b)∈canon} da·db — one degree join over |E| canonical
    // rows instead of two joins over the 2|E| exploded ends (the old
    // shape shuffled twice the rows through twice the joins; bit-
    // identical sums, half the join volume).
    // coalesce: an empty edge set must report n_edge_ends = 0 (the
    // pre-rewrite count(lit(1)) behavior), not null — sum() over zero
    // rows is null
    val degMoments = deg.agg(
      coalesce(sum(col("deg")), lit(0L)).as("n"),
      coalesce(sum(col("deg") * col("deg")), lit(0L)).as("sx"),
      coalesce(sum(col("deg") * col("deg") * col("deg")), lit(0L)).as("sxx"))
    val sxyAgg = canon
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .agg((lit(2L) * sum(col("da") * col("db"))).as("sxy"))
    // symmetric by construction: Σdx = Σdy and Σdx² = Σdy², so one
    // moment set suffices; n*Σxy - (Σx)² and n*Σx² - (Σx)² are the
    // exact covariance/variance numerators (shared denominator n²
    // cancels in the ratio)
    degMoments.crossJoin(sxyAgg)
      .select(
        col("n").cast("long").as("n_edge_ends"),
        when(col("n") * col("sxx") - col("sx") * col("sx") > 0,
          round((col("n") * col("sxy") - col("sx") * col("sx")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 9))
          .as("assortativity"))
  }

  /**
   * Local clustering coefficients for the `topN` highest-degree nodes
   * (ties to the lower id): (node, deg, n_tri, lcc_fp) with
   * lcc = 2*tri / (deg*(deg-1)) in 1e4 fixed point — which hub
   * neighborhoods are tight communities vs star-shaped spam.
   * Node ids must be long-castable (non-numeric ids raise).
   */
  def localClustering(
      edges: DataFrame, srcCol: String, dstCol: String, topN: Int): DataFrame = {
    val canon = canonical(edges, srcCol, dstCol).cache()
    canon.count() // materialize before branches fan out (see above)
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // each edge's common-list contributes size(common) triangles to
    // BOTH endpoints and one apiece to every common node — only the
    // middle attribution explodes (one row per triangle)
    val et = edgeTriangles(canon).cache()
    val asEnds = et
      .select(explode(array(col("u"), col("v"))).as("node"),
        size(col("common")).cast("long").as("w"))
      .where(col("w") > 0)
    val asMid = et.select(explode(col("common")).as("node"), lit(1L).as("w"))
    val perNode = asEnds.unionAll(asMid)
      .groupBy("node").agg(sum("w").as("n_tri"))
    // orderBy+limit plans as TakeOrderedAndProject (per-partition top-N
    // then a driver merge of topN rows) — no single-partition window
    val top = deg.orderBy(col("deg").desc, col("node")).limit(topN)
    top.join(perNode, Seq("node"), "left")
      .select(
        col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") > 1,
          expr("(2L * coalesce(n_tri, 0L) * 10000L) DIV (deg * (deg - 1L))"))
          .otherwise(0L).as("lcc_fp"))
  }

  /**
   * Synchronous label propagation for community detection: every node
   * starts labeled with its own id; each round it adopts the most
   * frequent label among its neighbors, ties broken by the SMALLEST
   * label, isolated nodes keep their current label. `rounds` is an
   * upper bound (synchronous LPA on bipartite-ish structure can
   * oscillate, so it cannot be the ONLY stop condition), but a round
   * in which no label changed is a fixed point — the same histograms
   * recur forever — so the loop exits early then, sparing the
   * remaining rounds' shuffles on an already-settled community
   * structure. Both stop rules are pure functions of the input.
   * Returns (node, label).
   *
   * The deterministic tie-break makes the output bit-identical across
   * engines, partitionings, and retries — unlike classical
   * random-order LPA.
   *
   * Scale shape: the [[pageRankFp]] regimes. When nodes x 32 and
   * edges x 16 bytes both fit `spark.sql.autoBroadcastJoinThreshold`,
   * the edge list is collected once and the rounds run on the driver.
   * Otherwise, per round, one join of the (node, label) vector
   * (broadcast while nodes x 32 fits) against the symmetric edge list,
   * one partial-aggregable (node, label) count, one argmax aggregation
   * and one left join back — all keyed on node. Distributed rounds
   * materialize via [[materializer]] (localCheckpoint, or reliable
   * `checkpoint()` when `checkpointDir` is set) so lineage stays O(1)
   * in `rounds`.
   */
  def labelPropagation(
      nodes: DataFrame,
      edges: DataFrame,
      idCol: String,
      srcCol: String,
      dstCol: String,
      rounds: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val mat = materializer(edges, checkpointDir)
    val idEdges = edges.select(longId(col(srcCol)).as("s"), longId(col(dstCol)).as("d"))
    val nodeIds = nodes.select(longId(col(idCol)).as("node"))
    // The regime gate uses the EXACT node count of the just-materialized
    // label vector (one cheap job over its blocks) times a conservative
    // 32 bytes/row, not the optimizer's estimate: the plan estimate of
    // an 8-byte projection overestimates 3-5x and mis-filed the bench's
    // x10 probe (200k nodes ~ 6 MB of broadcast) into the SMJ regime,
    // putting the per-round exchanges back at exactly the scale the
    // probe measures. At true cluster scale the count is billions and
    // the gate still flips to SMJ.
    lazy val matLabels = mat(nodeIds.distinct().withColumn("label", col("node")))
    lazy val n = matLabels.count()
    // Driver-local regime (the [[pageRankFp]] rationale): when nodes
    // and edges both fit, the rounds run on the driver with the same
    // rule, tie-break and early stop
    DriverLocal.gate(nodes, "labelPropagation", pin = Some(idEdges)) { t =>
      localGraph(nodeIds, matLabels, n, idEdges, t).map { g =>
        val (labels, r) = localLabelPropagation(g.ids, g.edges, rounds)
        // a null id joins no edge and keeps its (null) label
        (g.frame(StructField("node", LongType, nullable = true), "label",
          labels.toSeq ++ (if (g.hasNull) Seq(null) else Nil)), r, g.reason)
      }
    }(distributedLabelPropagation(mat, matLabels, n, idEdges, rounds, _))
  }

  /** [[labelPropagation]]'s Spark rounds from the materialized label
   *  vector `labels0` (`n` nodes) over the long-id edges `idEdges`; the
   *  driver-local regime was `declined` for the reason given. */
  private def distributedLabelPropagation(
      mat: DataFrame => DataFrame,
      labels0: DataFrame,
      n: Long,
      idEdges: DataFrame,
      rounds: Int,
      declined: String): DataFrame = {
    val gate = fit("nodes", n * 32L, broadcastThreshold(labels0))
    val bcastRegime = gate.isRight
    // Pre-partition the adjacency ONCE, by the key every round's dominant
    // exchange would otherwise re-derive (guide §2.4 exchange reuse):
    //  - label side broadcastable (the common case until |V| outgrows the
    //    threshold): the per-round join is forced to a STATIC broadcast —
    //    checkpointed frames report unknown stats, so the planner would
    //    otherwise stage a sort-merge join whose adjacency exchange is
    //    fully written before AQE flips it to broadcast (measured 21 MB
    //    dead exchange per round at sf0.1). With the hint, the join
    //    streams the adjacency, hash(m) flows through (m ⊆ {m, nl}
    //    satisfies both groupBys), and the neighbor-label histogram +
    //    argmax run with ZERO per-round exchange.
    //  - label side too big to broadcast: the join legitimately
    //    sort-merges on `x` — partition by `x` so only the (unavoidably
    //    shuffled) label side moves each round.
    // Either way: one 2|E| exchange at setup vs one or two per round.
    // The materialization runs with AQE off ([[matPartitioned]]) so the
    // checkpointed RDD RECORDS the hash partitioning.
    val canon = canonical(idEdges, "s", "d")
    val adjKey = if (bcastRegime) "m" else "x"
    val adj = matPartitioned(mat, symmetric(canon).repartition(col(adjKey)))
    var matLabels = labels0
    var labels = matLabels
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      // neighbor-label histogram: for edge (m, x), m sees x's label.
      // argmax via max_by on the (count, -label) pair — one extra hash
      // agg instead of a partitioned window's repartition + SORT; the
      // (m, nl) histogram rows are unique, so the ordering struct is
      // tie-free and max c / min label wins deterministically
      val labSide = if (bcastRegime) broadcast(labels) else labels
      val best = adj.join(labSide, adj("x") === labels("node"))
        .groupBy(col("m"), col("label").as("nl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("m"))
        .agg(expr("max_by(nl, named_struct('c', c, 'inv', -nl))").as("nl"))
      val bestSide = if (bcastRegime) broadcast(best) else best
      val next = labels.join(bestSide, labels("node") === best("m"), "left")
        .select(labels("node"), coalesce(col("nl"), col("label")).as("label"),
          (coalesce(col("nl"), col("label")) =!= labels("label")).as("__chg"))
      val pinned = matLabels
      matLabels = mat(next)
      // convergence probe reads the just-materialized round — one
      // partial-aggregable count, no recompute
      converged = matLabels.where(col("__chg")).limit(1).isEmpty
      labels = matLabels.select(col("node"), col("label"))
      pinned.unpersist(blocking = false)
      r += 1
    }
    record(idEdges, "labelPropagation", if (bcastRegime) "broadcast" else "sort-merge", r,
      gate.fold(identity, _ => declined))
    labels
  }

  /** [[labelPropagation]]'s rounds on the driver: `ids` sorted and
   *  distinct, labels returned in the same order. The graph is the
   *  distributed one — undirected, self-loops and duplicate edges
   *  dropped, edges with an endpoint outside `ids` ignored — and so is
   *  the rule: the most frequent neighbor label, ties to the larger
   *  `-label` (`max_by(nl, (c, -nl))`), neighborless nodes keep theirs,
   *  and a round that changes no label ends the loop. Also returns the
   *  rounds run. */
  private def localLabelPropagation(ids: Array[Long], e: LongPairs, rounds: Int): (Array[Long], Int) = {
    val n = ids.length
    // canonical edges as lo * n + hi over node indices, deduplicated
    val keys = new Array[Long](e.size)
    var m = 0
    for (i <- 0 until e.size if !e.aNull(i) && !e.bNull(i)) {
      val a = indexOf(ids, e.a(i))
      val b = indexOf(ids, e.b(i))
      if (a >= 0 && b >= 0 && a != b) {
        keys(m) = math.min(a, b).toLong * n + math.max(a, b)
        m += 1
      }
    }
    val uniq = keys.take(m).distinct
    // symmetric adjacency in CSR form
    val start = new Array[Int](n + 1)
    uniq.foreach { k => start((k / n).toInt + 1) += 1; start((k % n).toInt + 1) += 1 }
    for (v <- 0 until n) start(v + 1) += start(v)
    val nbr = new Array[Int](start(n))
    val fill = start.clone()
    uniq.foreach { k =>
      val (a, b) = ((k / n).toInt, (k % n).toInt)
      nbr(fill(a)) = b; fill(a) += 1
      nbr(fill(b)) = a; fill(b) += 1
    }
    var labels = ids.clone()
    val maxDegree = (0 until n).map(v => start(v + 1) - start(v)).maxOption.getOrElse(0)
    val scratch = new Array[Long](maxDegree)
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val next = labels.clone()
      var changed = false
      for (v <- 0 until n if start(v + 1) > start(v)) {
        val d = start(v + 1) - start(v)
        for (j <- 0 until d) scratch(j) = labels(nbr(start(v) + j))
        java.util.Arrays.sort(scratch, 0, d)
        var best = scratch(0)
        var bestC = 0
        var j = 0
        while (j < d) {
          val l = scratch(j)
          var c = 0
          while (j < d && scratch(j) == l) { c += 1; j += 1 }
          if (c > bestC || (c == bestC && -l > -best)) { best = l; bestC = c }
        }
        if (best != labels(v)) changed = true
        next(v) = best
      }
      labels = next
      converged = !changed
      r += 1
    }
    (labels, r)
  }
}
