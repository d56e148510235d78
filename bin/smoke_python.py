"""Python-surface smoke test: run via bin/pyspark or spark-submit.

    bin/pyspark < /dev/null  # interactive
    /opt/spark/bin/spark-submit --jars <graft jar> bin/smoke_python.py

Proves the two install paths (extension conf + Py4J hook) and that sketch
SQL executes JVM-side from Python.
"""
from pyspark.sql import SparkSession

spark = (SparkSession.builder
         .master("local[2]")
         .appName("graft-python-smoke")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.sql.session.timeZone", "UTC")
         .getOrCreate())

# Py4J hook (idempotent even when the extension already registered everything)
spark._jvm.org.apache.spark.api.python.GraftPythonApi.install(spark._jsparkSession)

from pyspark.sql import functions as F

import os
import sys

# Real testdata when present (local runs); schema-compatible synthetic
# tables otherwise (CI runners have no testdata tree). Pass an alternate
# data dir as argv[1].
DATA = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

_WORDS = ("the quick brown fox jumps over lazy dog "
          "hash join slow scan click here")


def tbl(name):
    path = os.path.join(DATA, name + ".parquet")
    if os.path.exists(path):
        return spark.read.parquet(path)
    r = spark.range
    if name == "lineitem":
        return r(600).selectExpr(
            "id % 150 AS l_orderkey",
            "CAST(1 + id % 37 AS DOUBLE) AS l_quantity",
            "CASE WHEN id % 3 = 0 THEN 'A' WHEN id % 3 = 1 THEN 'N' "
            "ELSE 'R' END AS l_returnflag")
    if name == "supplier":
        return r(50).selectExpr("id AS s_suppkey",
                                "concat('sup#', id) AS s_name")
    if name == "orders":
        return r(300).selectExpr("id AS o_orderkey", "id % 80 AS o_custkey")
    if name == "customer":
        return r(100).selectExpr("id AS c_custkey", "concat('c', id) AS c_name")
    if name == "documents":
        # 14-word vocabulary stepped by 3 per position: ~14 distinct texts
        # over 200 docs (dedup has work), "hash join"/"slow scan" terms
        # present for BM25, never the adjacent bigram "click here"
        return (r(200).selectExpr(
            "id AS doc_id",
            "concat_ws(' ', transform(sequence(0, 20 + CAST(id % 7 AS INT)), "
            "i -> element_at(split('" + _WORDS + "', ' '), "
            "1 + CAST((id * 7 + i * 3) % 14 AS INT)))) AS text",
            "CASE WHEN id % 4 = 0 THEN 'fr' ELSE 'en' END AS lang")
            .withColumn("n_chars", F.length("text")))
    if name == "events":
        return r(500).selectExpr(
            "id AS event_id", "id % 25 AS user_id",
            "timestamp_micros(1700000000000000 + id * 1000000) AS ts")
    if name == "embeddings":
        return r(300).selectExpr(
            "id AS vec_id",
            "transform(sequence(0, 63), "
            "i -> CAST(sin(id * 0.37 + i) AS FLOAT)) AS embedding")
    raise ValueError("no synthetic fallback for table: " + name)


df = tbl("lineitem")
agg = (df.selectExpr(
    "approx_percentile_ex(l_quantity, 0.5) AS p50",
    "approx_count_distinct_ex(l_orderkey) AS nd")
    .collect()[0])
assert agg.p50 is not None and agg.nd > 0, agg
scalar = (df.selectExpr("size(graft_minhash(split(lower(l_returnflag), ' '), 16)) AS mh")
          .collect()[0])
assert scalar.mh == 16, scalar

# Pipeline operators from Python: plan handles cross Py4J, execution
# stays JVM-side (no Python UDF boundary anywhere).
from pyspark.sql import DataFrame

api = spark._jvm.org.apache.spark.api.python.GraftPythonApi
sup = tbl("supplier")
prof = DataFrame(api.profile(sup._jdf), spark)
rows = {r.col_name: r for r in prof.collect()}
assert rows["s_suppkey"].n_nulls == 0 and rows["s_suppkey"].n_distinct == sup.count(), rows

orders = tbl("orders")
cust = tbl("customer")
js = DataFrame(api.keyOverlap(orders._jdf, "o_custkey", cust._jdf, "c_custkey"), spark).collect()[0]
assert js.n_overlap > 0 and js.est_join_rows > 0, js

docs = tbl("documents")
dd = DataFrame(api.exactDedup(docs._jdf, "doc_id", "text"), spark)
assert dd.count() > 0

# classifier training counts + byte-balanced sharding + token budget
labeled = docs.withColumn("is_en", F.col("lang") == "en")
trained = DataFrame(api.trainHashedBow(labeled._jdf, "is_en", "text", 32, 1.0), spark)
assert trained.count() > 0 and trained.agg(F.sum("n_pos")).collect()[0][0] > 0
shards = DataFrame(api.sizeShards(docs._jdf, "doc_id", "n_chars", 5000, 16), spark)
assert shards.groupBy("shard").count().count() > 1
scored = docs.selectExpr(
    "doc_id", "graft_hashed_bow_score(text, array(1.0d, -2.0d, 3.0d)) AS score",
    "n_chars AS n_tokens")
sel = DataFrame(api.selectByTokenBudget(scored._jdf, "doc_id", "score", "n_tokens", 20000), spark)
assert 0 < sel.count() < docs.count()

# line filtering + BM25 retrieval
fl = DataFrame(api.filterLines(docs._jdf, "doc_id", "text", 3, False, ["click here"]), spark)
assert fl.count() == docs.count() and fl.agg(F.sum("n_kept")).collect()[0][0] > 0
hits = DataFrame(api.bm25TopK(docs._jdf, "doc_id", "text",
                              [[1, "hash join"], [2, "slow scan"]], 5), spark)
assert hits.count() == 10 and hits.agg(F.min("score_fp")).collect()[0][0] > 0

# corpus diff + vocab + span mining/rewrite
newer = docs.withColumn("text", F.when(F.col("doc_id") % 9 == 0,
                                       F.concat(F.col("text"), F.lit(" upd")))
                        .otherwise(F.col("text")))
cd = DataFrame(api.corpusDiff(docs._jdf, newer._jdf, "doc_id", "text"), spark)
assert cd.where("status = 'changed'").count() > 0
vocab = DataFrame(api.buildVocab(docs._jdf, "text", 10), spark)
assert vocab.count() == 10 and vocab.orderBy("rank").collect()[-1]["cov_ppm"] <= 1000000
spans = DataFrame(api.repeatedSpans(docs._jdf, "doc_id", "text", 8, 3, 1000), spark)
rw = DataFrame(api.dedupSpansRewrite(docs._jdf, "doc_id", "text", 8, 3, 1000), spark)
assert rw.count() == docs.count()
assert rw.agg(F.sum("n_dropped")).collect()[0][0] >= 0

# persisted text index + forward as-of
import shutil
import tempfile
tidx = tempfile.mkdtemp(prefix="graft_smoke_tidx")
try:
    api.textIndexBuild(docs._jdf, "doc_id", "text", tidx, 8)
    ih = DataFrame(api.textIndexQuery(spark._jsparkSession, tidx,
                                      [[1, "hash join"]], 5, 8), spark)
    assert ih.count() == 5
finally:
    shutil.rmtree(tidx, ignore_errors=True)
# events.ts is parquet timestamp[us] (TIMESTAMP_NTZ) since r6 — micros as
# the asof key; NTZ->LTZ cast is exact under the UTC session timezone
ev = tbl("events") \
    .selectExpr("event_id", "user_id",
                "unix_micros(CAST(ts AS TIMESTAMP)) AS t")
fwd = DataFrame(api.asofForward(ev.limit(200)._jdf, ev._jdf, "user_id", "t"), spark)
assert fwd.count() == 200

# html strip + temperature sampling + NFC normalization via SQL
sh = DataFrame(api.stripHtml(docs._jdf, "doc_id", "text"), spark)
assert sh.count() == docs.count()
ts = DataFrame(api.temperatureSample(docs._jdf, "doc_id", "lang", 0.5), spark)
assert 0 < ts.count() <= docs.count()
nfc = docs.selectExpr("graft_normalize_unicode(text, 'NFC') AS t").count()
assert nfc == docs.count()

rep = DataFrame(api.textProfile(docs._jdf, "doc_id", "text"), spark)
assert rep.count() == 1 and rep.collect()[0]["n_docs"] == docs.count()

# matrix sketches + deterministic k-means over embeddings
emb = tbl("embeddings")
fdrow = emb.selectExpr("CAST(embedding AS ARRAY<DOUBLE>) v") \
    .selectExpr("vec_gram_agg(v) g", "fd_accumulate(v, 8) s") \
    .selectExpr("size(g) d2", "fd_error_bound(s) eps",
                "fd_singular_values(s)[0] sv0").collect()[0]
assert fdrow["d2"] == 64 * 64 and fdrow["eps"] > 0 and fdrow["sv0"] > 0
km = DataFrame(api.kmeansAssign(emb._jdf, "vec_id", "embedding", 4, 2), spark)
assert km.count() == emb.count()
assert km.select("cluster").distinct().count() <= 4
# persisted IVF index round trip: every vector indexed once, k rows a query
ivf = tempfile.mkdtemp(prefix="graft_smoke_ivf")
try:
    api.ivfIndexBuild(emb._jdf, "vec_id", "embedding", ivf, 8, 2)
    n_emb = emb.count()
    cells = spark.read.parquet(os.path.join(ivf, "cells"))
    assert cells.count() == n_emb, (cells.count(), n_emb)
    assert cells.select("id").distinct().count() == n_emb
    probes = emb.where("vec_id % 50 = 0")
    hits = DataFrame(api.ivfIndexQuery(spark._jsparkSession, ivf, probes._jdf,
                                       "vec_id", "embedding", 3, 8), spark)
    per_query = hits.groupBy("query_id").count().collect()
    assert len(per_query) == probes.count(), per_query
    assert all(r["count"] == 3 for r in per_query), per_query
finally:
    shutil.rmtree(ivf, ignore_errors=True)
# product quantization: m = 4 codes a vector; IVF-PQ top-k never returns
# the query itself
codes = DataFrame(api.pqEncode(emb._jdf, "vec_id", "embedding", 64, 4, 4, 1), spark)
assert codes.columns == ["id", "code_0", "code_1", "code_2", "code_3"], codes.columns
assert codes.count() == n_emb and codes.select("id").distinct().count() == n_emb
pq_hits = DataFrame(api.pqIvfAdcSearch(emb._jdf, "vec_id", "embedding",
                                       64, 4, 4, 1, 4, 2, 3, 5), spark).collect()
assert pq_hits and all(r["query_id"] != r["vec_id"] for r in pq_hits), pq_hits
per_pq_query = {}
for r in pq_hits:
    per_pq_query[r["query_id"]] = per_pq_query.get(r["query_id"], 0) + 1
assert len(per_pq_query) <= 3 and max(per_pq_query.values()) <= 5, per_pq_query
cov = DataFrame(api.covarianceN2(emb._jdf, "embedding"), spark)
assert cov.count() == 64 * 65 // 2
pca = DataFrame(api.pcaProject(emb._jdf, "vec_id", "embedding", 4), spark)
assert pca.agg(F.min("residual_sq")).collect()[0][0] >= -1e-9

# fixed-point PageRank over a small edge table (node 5 has no edges):
# one row a node, and rank mass never exceeds the 1e12 scale
nodes = spark.range(6)
edges = spark.createDataFrame(
    [(0, 1), (1, 2), (2, 0), (3, 2), (4, 3), (2, 4), (1, 1)], "src long, dst long")
ranks = DataFrame(api.pageRankFp(nodes._jdf, edges._jdf, "id", 3, 85, 100), spark).collect()
assert sorted(r["id"] for r in ranks) == list(range(6)), ranks
assert sum(r["rank_fp"] for r in ranks) <= 10 ** 12, ranks

# connected components of a small pair table: two chains (1-2-3 and
# 10-11-12-13, pairs out of order) and a singleton (20); one row a node,
# comp = the smallest id of its component
cc_nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 12, 13, 20)], "id long")
cc_pairs = spark.createDataFrame(
    [(2, 3), (1, 2), (12, 13), (10, 11), (11, 12)], "id_a long, id_b long")
cc_rows = DataFrame(api.connectedComponents(cc_nodes._jdf, cc_pairs._jdf, "id"), spark).collect()
assert len(cc_rows) == 8, cc_rows
assert {r["id"]: r["comp"] for r in cc_rows} == {
    1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10, 20: 20}, cc_rows

# MinHash near-dup pairs chained into components: doc 2 is doc 1 with a
# word appended (Jaccard 10/11 over 5-word shingles), doc 3 shares no
# shingle, so the one pair is (1, 2) and 3 stays a singleton
nd_docs = spark.createDataFrame([
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today again"),
    (3, "hash join slow scan click here and nothing else is shared at all")],
    "doc_id long, text string")
nd_pairs = DataFrame(api.minhashLshPairs(nd_docs._jdf, "doc_id", "text"), spark)
nd_rows = nd_pairs.collect()
assert [(r.id_a, r.id_b, r.inter, r.uni) for r in nd_rows] == [(1, 2, 10, 11)], nd_rows
nd_comps = DataFrame(api.connectedComponents(
    nd_docs.select("doc_id")._jdf, nd_pairs._jdf, "doc_id"), spark).collect()
assert {r["id"]: r["comp"] for r in nd_comps} == {1: 1, 2: 1, 3: 3}, nd_comps

print("PYTHON-SMOKE OK", agg, scalar, js)
spark.stop()
