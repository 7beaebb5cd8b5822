"""connected_components / grid_cluster (functions/graph.py), BM25
(operators/ranking.py), KMV sketch (operators/sketch.py)."""

import math
import random

import pytest
from pyspark.sql import functions as F

from cartwright_spark.functions import graph
from cartwright_spark.functions.graph import connected_components, grid_cluster
from cartwright_spark.operators.ranking import bm25_scores, bm25_topk
from cartwright_spark.operators.sketch import kmv_distinct, kmv_sketch


# ---------------------------------------------------------------- graph

def _force_distributed(monkeypatch):
    """Make the graph layer's small-input guard decline, so every
    guarded operator runs its distributed leg."""
    monkeypatch.setattr(graph, "_driver_rows", lambda df, limit: None)


@pytest.fixture(params=("driver", "distributed"))
def leg(request, monkeypatch):
    """Run a test once per leg of `graph._driver_rows`. Test inputs are
    far below every guard limit, so the unpatched guard takes the
    driver leg."""
    if request.param == "distributed":
        _force_distributed(monkeypatch)
    return request.param


def _uf_components(edges):
    nodes = sorted({x for e in edges for x in e})
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for mem in comp.values():
        m = min(mem)
        for n in mem:
            out[n] = m
    return out


@pytest.mark.parametrize("n,m,seed", [(60, 50, 1), (400, 700, 2)])
def test_cc_matches_union_find(spark, n, m, seed):
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {r["id"]: r["component"]
           for r in connected_components(df).collect()}
    assert got == _uf_components(edges)


def test_cc_long_chain_and_megastar(spark):
    # chain stresses O(log n) convergence; megastar stresses the skewed
    # min-aggregation key
    chain = list(zip(range(100), range(1, 100)))
    star = [(200, x) for x in range(201, 400)]
    edges = chain + star
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {r["id"]: r["component"]
           for r in connected_components(df).collect()}
    assert all(got[x] == 0 for x in range(100))
    assert all(got[x] == 200 for x in range(200, 400))


def test_cc_self_loops_and_duplicates(spark):
    edges = [(5, 5), (1, 2), (2, 1), (1, 2), (7, 7)]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {r["id"]: r["component"]
           for r in connected_components(df).collect()}
    # pure-self-loop nodes never appear in the cleaned edge list
    assert got == {1: 1, 2: 1}


def test_grid_cluster_two_blobs_with_diagonal(spark):
    # blob A: three points in diagonally-adjacent 1° cells; blob B far
    # away. Diagonal adjacency must merge A into one cluster.
    pts = [(1, 0.5, 0.5), (2, 1.5, 1.5), (3, 2.5, 1.5),
           (4, 40.5, 40.5), (5, 40.6, 40.7)]
    df = spark.createDataFrame(pts, "pid: long, lat: double, lon: double")
    out = grid_cluster(df, cell_deg=1.0).collect()
    clusters = {r["pid"]: r["cluster_id"] for r in out}
    assert clusters[1] == clusters[2] == clusters[3]
    assert clusters[4] == clusters[5]
    assert clusters[1] != clusters[4]


def test_grid_cluster_gap_splits(spark):
    # two points two empty cells apart stay separate clusters
    pts = [(1, 0.5, 0.5), (2, 0.5, 3.5)]
    df = spark.createDataFrame(pts, "pid: long, lat: double, lon: double")
    out = {r["pid"]: r["cluster_id"]
           for r in grid_cluster(df, cell_deg=1.0).collect()}
    assert out[1] != out[2]


# ---------------------------------------------------------------- bm25

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_bm25_tf_monotone_and_idf(spark):
    # 'rare' appears in 1 of 4 docs, 'common' in all 4. Doc 1 repeats
    # 'rare'; equal lengths so only tf/df drive scores.
    rows = [(1, "rare rare common pad"), (2, "common pad pad pad"),
            (3, "common pad pad pad"), (4, "common pad pad pad")]
    s = {r["doc_id"]: r for r in
         bm25_scores(_docs(spark, rows), ["rare", "common"]).collect()}
    assert s[1]["n_terms"] == 2
    assert s[2]["n_terms"] == 1
    # the rare-term doc dominates any common-only doc
    assert s[1]["score"] > s[2]["score"]
    # identical docs score identically
    assert s[2]["score"] == s[3]["score"] == s[4]["score"]


def test_bm25_length_normalization(spark):
    # same tf, longer doc scores lower (b > 0)
    rows = [(1, "hit pad"), (2, "hit pad pad pad pad pad pad pad")]
    s = {r["doc_id"]: r["score"] for r in
         bm25_scores(_docs(spark, rows), ["hit"]).collect()}
    assert s[1] > s[2]


def test_bm25_topk_rank_and_plan(spark):
    rows = [(i, ("hit " * (i + 1)) + "pad") for i in range(8)]
    top = bm25_topk(_docs(spark, rows), ["hit"], topk=3)
    plan = top._jdf.queryExecution().executedPlan().toString()
    # top-k must be TakeOrdered (per-partition heads), never a global sort
    assert "TakeOrderedAndProject" in plan
    got = [(r["doc_id"], r["rank"]) for r in top.collect()]
    assert got == [(7, 1), (6, 2), (5, 3)]


def test_bm25_empty_terms_raises(spark):
    with pytest.raises(ValueError):
        bm25_scores(_docs(spark, [(1, "a")]), [])


# ---------------------------------------------------------------- kmv

def test_kmv_exact_below_k(spark):
    df = spark.range(40).select(
        F.lit("g").alias("grp"), F.col("id").alias("v"))
    row = kmv_distinct(df, "grp", "v", k=64).first()
    assert row["n_kept"] == 40
    assert row["est_distinct"] == 40.0


def test_kmv_estimate_accuracy(spark):
    # 5000 distinct values, k=256 → relative σ ≈ 1/sqrt(254) ≈ 6.3%;
    # assert within 4σ
    df = spark.range(5000).select(
        F.lit("g").alias("grp"), F.col("id").alias("v"))
    row = kmv_distinct(df, "grp", "v", k=256).first()
    assert row["n_kept"] == 256
    assert abs(row["est_distinct"] - 5000) / 5000 < 0.25


def test_kmv_duplicates_ignored(spark):
    # distinct-ness: each value replicated 7x changes nothing
    rep = (spark.range(500)
           .select(F.lit("g").alias("grp"),
                   F.explode(F.array_repeat(F.col("id"), 7)).alias("v")))
    one = kmv_distinct(spark.range(500).select(
        F.lit("g").alias("grp"), F.col("id").alias("v")), "grp", "v").first()
    many = kmv_distinct(rep, "grp", "v").first()
    assert one["kth_hash"] == many["kth_hash"]
    assert one["est_distinct"] == many["est_distinct"]


def test_kmv_sketch_mergeable(spark):
    # sketch(A ∪ B) == re-ranked union of sketch(A), sketch(B)
    a = spark.range(0, 800).select(F.lit("g").alias("grp"),
                                   F.col("id").alias("v"))
    b = spark.range(400, 1200).select(F.lit("g").alias("grp"),
                                      F.col("id").alias("v"))
    k = 32
    direct = sorted(r["h"] for r in
                    kmv_sketch(a.union(b), "grp", "v", k=k).collect())
    from pyspark.sql import Window
    merged_rows = kmv_sketch(a, "grp", "v", k=k).select("grp", "h").union(
        kmv_sketch(b, "grp", "v", k=k).select("grp", "h")).distinct()
    w = Window.partitionBy("grp").orderBy("h")
    merged = sorted(r["h"] for r in merged_rows
                    .withColumn("rn", F.row_number().over(w))
                    .where(F.col("rn") <= k).collect())
    assert direct == merged


def test_kmv_salted_window_plan(spark):
    # the heavy sort must be partitioned on (grp, salt), not grp alone
    df = spark.range(1000).select(F.lit("g").alias("grp"),
                                  F.col("id").alias("v"))
    plan = kmv_sketch(df, "grp", "v", k=16)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Window") >= 2
    assert "salt" in plan


# ------------------------------------------------------ centroid/linear

def test_centroid_outlier_flags_outlier(spark):
    import numpy as np
    from cartwright_spark.operators.simsearch import centroid_outlier
    rows = [(1, [1.0, 0.0, 0.0], 0), (2, [0.9, 0.1, 0.0], 0),
            (3, [-1.0, 0.0, 0.0], 0),   # the outlier
            (4, [0.0, 1.0, 0.0], 1), (5, [0.0, 0.9, 0.1], 1)]
    df = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>, label: int")
    got = {r["vec_id"]: r["cos_centroid"]
           for r in centroid_outlier(df).collect()}
    # numpy cross-check
    for lab in (0, 1):
        vs = np.array([e for _, e, l in rows if l == lab])
        cent = vs.mean(axis=0)
        for vid, e, l in rows:
            if l != lab:
                continue
            e = np.array(e)
            exp = float(e @ cent / (np.linalg.norm(e) * np.linalg.norm(cent)))
            assert abs(got[vid] - exp) < 1e-12
    assert got[3] == min(got[1], got[2], got[3])


def test_hashed_linear_score_matches_reference(spark):
    import hashlib
    import math
    from cartwright_spark.operators.ranking import hashed_linear_score
    text = "Alpha beta GAMMA beta"
    df = spark.createDataFrame([(9, text)], "doc_id: long, text: string")
    row = hashed_linear_score(df, dim=1024).first()

    def wt(tok):
        b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 1024
        return ((b * 2654435761) % 2000003) / 1000001.5 - 1.0

    toks = text.lower().split()
    raw = sum(wt(t) for t in toks)
    assert row["n_tokens"] == 4
    assert abs(row["raw"] - raw) < 1e-9
    assert abs(row["prob"] - 1.0 / (1.0 + math.exp(-raw / 4))) < 1e-12


def test_hashed_linear_score_deterministic(spark):
    from cartwright_spark.operators.ranking import hashed_linear_score
    df = spark.createDataFrame([(1, "a b c"), (2, "a b c")],
                               "doc_id: long, text: string")
    got = {r["doc_id"]: (r["raw"], r["prob"])
           for r in hashed_linear_score(df).collect()}
    assert got[1] == got[2]


# ------------------------------------------------------------- pagerank

def _np_pagerank(edges, iters=10, d=0.85):
    """Reference power iteration with the same dangling-redistribution
    semantics as functions/graph.py pagerank."""
    nodes = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = {}
    for a, b in edges:
        out.setdefault(a, set()).add(b)
    r = [1.0 / n] * n
    for _ in range(iters):
        contrib = [0.0] * n
        dang = 0.0
        for v in nodes:
            if v in out:
                share = r[idx[v]] / len(out[v])
                for w in out[v]:
                    contrib[idx[w]] += share
            else:
                dang += r[idx[v]]
        r = [(1 - d) / n + d * (contrib[i] + dang / n) for i in range(n)]
    return {v: r[idx[v]] * n for v in nodes}


def test_pagerank_matches_reference_with_dangling(spark):
    from cartwright_spark.functions.graph import pagerank
    # 1→2, 1→3, 2→3, 4→1; node 3 is dangling (no out-edges)
    edges = [(1, 2), (1, 3), (2, 3), (4, 1)]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {r["id"]: r["rank_x_n"]
           for r in pagerank(df, iters=10).collect()}
    exp = _np_pagerank(edges, iters=10)
    assert set(got) == set(exp)
    for k in exp:
        assert abs(got[k] - exp[k]) < 1e-12
    # probability mass conserved: mean normalized rank is exactly 1
    assert abs(sum(got.values()) / len(got) - 1.0) < 1e-12


def test_pagerank_uniform_on_cycle(spark):
    from cartwright_spark.functions.graph import pagerank
    cyc = [(i, (i + 1) % 8) for i in range(8)]
    df = spark.createDataFrame(cyc, "src: long, dst: long")
    for r in pagerank(df, iters=5).collect():
        assert abs(r["rank_x_n"] - 1.0) < 1e-12


def test_pagerank_hub_ranks_highest(spark):
    from cartwright_spark.functions.graph import pagerank
    # everyone links to 0; 0 links back to 1 only
    edges = [(i, 0) for i in range(1, 20)] + [(0, 1)]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {r["id"]: r["rank_x_n"] for r in pagerank(df, iters=10).collect()}
    # the hub and its sole beneficiary (which inherits the hub's whole
    # rank each round) dominate every leaf
    leaves = max(v for k, v in got.items() if k > 1)
    assert min(got[0], got[1]) > 5 * leaves
    exp = _np_pagerank(edges, iters=10)
    for k in exp:
        assert abs(got[k] - exp[k]) < 1e-12


# ------------------------------------------------------------ count-min

def test_cms_estimate_never_undercounts_and_is_exact_without_collisions(spark):
    from cartwright_spark.operators.sketch import cms_build, cms_estimate
    import collections
    vals = [f"v{i % 7}" for i in range(700)] + ["rare"] * 3
    truth = collections.Counter(vals)
    df = spark.createDataFrame([(v,) for v in vals], "x: string")
    for width in (8, 4096):  # heavy collisions vs effectively none
        sk = cms_build(df, "x", depth=4, width=width)
        got = {r["x"]: r["est"]
               for r in cms_estimate(sk, df, "x", width=width).collect()}
        assert set(got) == set(truth)
        for v, t in truth.items():
            assert got[v] >= t  # CMS never undercounts
        if width == 4096:
            assert got == dict(truth)  # no collisions at this width


def test_cms_sketch_is_mergeable(spark):
    from pyspark.sql import functions as F
    from cartwright_spark.operators.sketch import cms_build
    df = spark.createDataFrame([(f"v{i % 11}",) for i in range(500)],
                               "x: string")
    whole = {(r["row"], r["bucket"]): r["cnt"]
             for r in cms_build(df, "x", depth=3, width=32).collect()}
    # deterministic halves: split by hash parity
    from cartwright_spark.operators.sketch import hash32
    h = hash32(F.col("x"))
    left = cms_build(df.where(h % 2 == 0), "x", 3, 32)
    right = cms_build(df.where(h % 2 == 1), "x", 3, 32)
    merged = {(r["row"], r["bucket"]): r["cnt"]
              for r in left.unionByName(right)
              .groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))
              .collect()}
    assert merged == whole


def test_pagerank_round_reuses_edge_partitioning(spark):
    """The 100 TB contract of the iteration: the edge table (pre-
    partitioned on src, checkpoint-preserved) must NOT be re-exchanged
    inside a round — only node-sized sides shuffle. Run with broadcast
    off so the sort-merge requirement is what's tested."""
    from cartwright_spark.functions.graph import _pagerank_round
    with _no_broadcast(spark):
        e = (spark.range(5000)
             .select((F.col("id") % 500).alias("a"),
                     ((F.col("id") * 7 + 1) % 500).alias("b"))
             .repartition(F.col("a")).localCheckpoint(eager=True))
        nodes = (e.select(F.col("a").alias("id"))
                 .union(e.select(F.col("b").alias("id"))).distinct()
                 .join(e.groupBy(F.col("a").alias("id"))
                       .agg(F.count("*").alias("outdeg")), "id", "left")
                 .repartition(F.col("id")).localCheckpoint(eager=True))
        ranks = nodes.withColumn("rank", F.lit(1.0 / 500))
        plan = _pagerank_round(e, nodes, ranks, 0.85, 500) \
            ._jdf.queryExecution().executedPlan().toString()
    import re
    # every Exchange must hash on id/share-side keys that are node-sized;
    # the edge scan (ExistingRDD with columns a,b) must join exchange-free.
    ex = [l.strip() for l in plan.split("\n") if "Exchange hash" in l]
    # contrib partial-agg exchange + contrib->nodes join exchange only
    assert len(ex) <= 2, plan
    # the e-side of the first join is a bare checkpointed scan
    assert re.search(r"Scan ExistingRDD[^\n]*\[a#\d+L?,b#\d+L?\]", plan), plan


class _no_broadcast:
    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        self.prev_aqe = self.spark.conf.get("spark.sql.adaptive.enabled")
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")

    def __exit__(self, *a):
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", self.prev)
        self.spark.conf.set("spark.sql.adaptive.enabled", self.prev_aqe)


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

def test_hll_estimate_accuracy(spark):
    from cartwright_spark.operators.sketch import hll_distinct
    # p=8 → 256 registers, σ ≈ 1.04/16 ≈ 6.5%; assert within 4σ
    df = spark.range(20_000).select(
        F.lit("g").alias("grp"), F.col("id").alias("v"))
    row = hll_distinct(df, "grp", "v", p=8).first()
    assert abs(row["est_distinct"] - 20_000) / 20_000 < 0.26


def test_hll_duplicates_ignored(spark):
    from cartwright_spark.operators.sketch import hll_distinct
    base = spark.range(3_000).select(
        F.lit("g").alias("grp"), F.col("id").alias("v"))
    dup = base.unionAll(base).unionAll(base)
    a = hll_distinct(base, "grp", "v", p=6).first()
    b = hll_distinct(dup, "grp", "v", p=6).first()
    assert a["est_distinct"] == b["est_distinct"]
    assert a["n_regs"] == b["n_regs"]


def test_hll_linear_counting_branch_is_exactish_when_sparse(spark):
    from cartwright_spark.operators.sketch import hll_distinct
    # 10 distinct over 64 registers → V>0 and raw ≤ 2.5m, so the
    # linear-counting branch fires: est = m·ln(m/V), within ~σ of truth
    df = spark.range(10).select(F.lit("g").alias("grp"),
                                F.col("id").alias("v"))
    row = hll_distinct(df, "grp", "v", p=6).first()
    assert row["n_regs"] <= 10
    assert abs(row["est_distinct"] - 10) < 4


def test_hll_sketch_mergeable(spark):
    from cartwright_spark.operators.sketch import hll_sketch
    left = spark.range(0, 4_000).select(
        F.lit("g").alias("grp"), F.col("id").alias("v"))
    right = spark.range(2_000, 6_000).select(
        F.lit("g").alias("grp"), F.col("id").alias("v"))
    merged = (hll_sketch(left, "grp", "v", p=6)
              .unionByName(hll_sketch(right, "grp", "v", p=6))
              .groupBy("grp", "reg").agg(F.max("rho").alias("rho")))
    direct = hll_sketch(left.unionByName(right), "grp", "v", p=6)
    got = {(r["reg"], r["rho"]) for r in merged.collect()}
    want = {(r["reg"], r["rho"]) for r in direct.collect()}
    assert got == want


def test_hll_layout_invariant(spark):
    # the harmonic sum is a sum of exact powers of two, so the estimate
    # is bit-identical across partition layouts (no float-order drift)
    from cartwright_spark.operators.sketch import hll_distinct
    df = spark.range(5_000).select(
        (F.col("id") % 7).cast("string").alias("grp"),
        F.col("id").alias("v"))
    a = sorted(hll_distinct(df, "grp", "v", p=6).collect())
    b = sorted(hll_distinct(df.repartition(17), "grp", "v", p=6).collect())
    assert [r["est_distinct"] for r in a] == [r["est_distinct"] for r in b]


# ---------------------------------------------------------------------------
# triangle counting / local clustering coefficient
# ---------------------------------------------------------------------------

def _tri_df(spark, pairs):
    return spark.createDataFrame(
        [(str(a), str(b)) for a, b in pairs], "src string, dst string")


def test_triangle_counts_known_graphs(spark):
    from cartwright_spark.functions.graph import triangle_counts
    # K4 (complete): every vertex d=3, T=3, lcc=1.0 — plus duplicate,
    # reversed, and self-loop edges that must all be ignored
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noisy = k4 + [(1, 0), (2, 2), (0, 1), (3, 1)]
    out = triangle_counts(_tri_df(spark, noisy)).toPandas() \
        .set_index("id").sort_index()
    assert (out["degree"] == 3).all()
    assert (out["triangles"] == 3).all()
    assert (out["lcc"] == 1.0).all()
    # path graph: no triangles, endpoints d=1 get lcc 0 (guarded div)
    path = [(0, 1), (1, 2), (2, 3)]
    out = triangle_counts(_tri_df(spark, path)).toPandas().set_index("id")
    assert (out["triangles"] == 0).all()
    assert (out["lcc"] == 0.0).all()


def test_triangle_counts_random_vs_bruteforce(spark):
    import numpy as np
    from cartwright_spark.functions.graph import triangle_counts
    rng = np.random.RandomState(11)
    n = 40
    adj = np.triu(rng.rand(n, n) < 0.25, k=1)
    adj = adj | adj.T
    pairs = [(a, b) for a in range(n) for b in range(n) if a < b and adj[a, b]]
    out = triangle_counts(_tri_df(spark, pairs)).toPandas()
    out["idn"] = out["id"].astype(int)
    out = out.set_index("idn").sort_index()
    a = adj.astype(np.int64)
    tri_per_vertex = np.diag(a @ a @ a) // 2
    deg = a.sum(1)
    present = deg > 0
    assert (out["degree"].to_numpy() == deg[present]).all()
    assert (out["triangles"].to_numpy() == tri_per_vertex[present]).all()
    d = deg[present].astype(float)
    want_lcc = np.where(d >= 2, 2.0 * tri_per_vertex[present] / (d * (d - 1)), 0.0)
    assert np.allclose(out["lcc"].to_numpy(), want_lcc, atol=0, rtol=0)


def test_triangle_counts_megastar_no_wedge_blowup(spark):
    # a 3000-leaf star: the hub's (degree,id) orientation key is maximal,
    # so every edge points INTO the hub and the wedge join sees zero rows
    # from it — the Suri-Vassilvitskii "curse of the last reducer" guard
    from cartwright_spark.functions.graph import triangle_counts
    star = [("hub", f"leaf{i}") for i in range(3000)]
    star += [("leaf0", "leaf1")]   # one triangle-free chord pair
    out = triangle_counts(_tri_df(spark, star)).toPandas().set_index("id")
    assert out.loc["hub", "degree"] == 3000
    assert out.loc["hub", "triangles"] == 1   # hub-leaf0-leaf1
    assert out.loc["leaf5", "triangles"] == 0


# ---------------------------------------------------------------------------
# exact distributed quantiles (selection without sorting)
# ---------------------------------------------------------------------------

def test_exact_quantiles_vs_sorted_reference(spark):
    import numpy as np
    from cartwright_spark.operators.quantile import exact_quantiles
    rng = np.random.RandomState(5)
    # continuous + a 50%-of-rows duplicate + integer clumps + nulls
    vals = np.concatenate([rng.randn(8000) * 100.0,
                           np.full(12000, 42.5),
                           rng.randint(-5, 5, 4000).astype(float)])
    import pandas as pd
    pdf = pd.DataFrame({"x": vals})
    pdf.loc[len(pdf)] = [None]
    df = spark.createDataFrame(pdf)
    qs = [0.0, 0.1, 0.5, 0.75, 0.99, 1.0]
    out = exact_quantiles(df, "x", qs).toPandas().set_index("q")
    s = np.sort(vals)
    for q in qs:
        k = int(np.floor(q * (len(s) - 1)))
        assert out.loc[q, "k"] == k
        assert out.loc[q, "value"] == s[k]


def test_exact_order_stat_bounds_and_degenerate(spark):
    import pytest as _pytest
    from cartwright_spark.operators.quantile import exact_order_stat
    one = spark.range(1).select(F.lit(7.0).alias("v"))
    assert exact_order_stat(one, "v", 0) == 7.0
    const = spark.range(5000).select(F.lit(3.25).alias("v"))
    assert exact_order_stat(const, "v", 2499) == 3.25   # single-value cell
    with _pytest.raises(ValueError):
        exact_order_stat(one, "v", 1)
    with _pytest.raises(ValueError):
        exact_order_stat(one.where(F.col("v") < 0), "v", 0)


def test_exact_quantiles_no_global_sort_plan(spark):
    # the whole point: no round plans a total sort/range-exchange of the
    # data — each round is filter + hash-agg over ≤4096 cells
    import io
    from contextlib import redirect_stdout
    from cartwright_spark.operators.quantile import exact_order_stat
    df = spark.range(200_000).select(
        ((F.col("id") * 7919) % 100_000).cast("double").alias("v"))
    # capture every executed plan via the SQL listener-free route:
    # run once and assert the job's final value; plan audit on the
    # histogram round itself
    src = df.where(F.col("v").isNotNull())
    cells = (src.select(F.least(F.floor((F.col("v") - F.lit(0.0))
                                        / F.lit(25.0)),
                                F.lit(4095)).alias("cell"), "v")
             .groupBy("cell").agg(F.count("*").alias("cnt")))
    plan = cells._jdf.queryExecution().executedPlan().toString()
    assert "RangePartitioning" not in plan   # no total-order exchange
    assert "HashAggregate" in plan           # map-side-combinable agg
    assert exact_order_stat(df, "v", 100_000) == float(
        sorted(((i * 7919) % 100_000) for i in range(200_000))[100_000])


def test_grouped_exact_quantile_both_paths(spark):
    import numpy as np
    import pandas as pd
    from cartwright_spark.operators.quantile import grouped_exact_quantile
    rng = np.random.RandomState(13)
    rows = []
    for g in range(60):   # small groups
        rows += [(f"g{g}", float(v)) for v in rng.randn(40) * 10]
    rows += [("hotA", float(v)) for v in rng.randn(30_000) * 100]
    rows += [("hotB", 7.5)] * 10_000   # megadup: single-value cell path
    rows += [("hotB", float(v)) for v in rng.randn(10_000)]
    pdf = pd.DataFrame(rows, columns=["grp", "x"])
    df = spark.createDataFrame(pdf).repartition(16)
    for q in (0.5, 0.9):
        out = grouped_exact_quantile(df, "grp", "x", q,
                                     hot_threshold=1000) \
            .toPandas().set_index("grp")
        for g, sub in pdf.groupby("grp"):
            s = np.sort(sub["x"].to_numpy())
            k = int(np.floor(q * (len(s) - 1)))
            assert out.loc[g, "value"] == s[k], (g, q)
            assert out.loc[g, "k"] == k
            assert out.loc[g, "n"] == len(s)


def test_grouped_exact_quantile_guard(spark):
    import pytest as _pytest
    from cartwright_spark.operators.quantile import grouped_exact_quantile
    df = spark.range(10_000).select(
        (F.col("id") % 20).cast("string").alias("grp"),
        F.col("id").cast("double").alias("v"))
    with _pytest.raises(ValueError, match="max_hot_groups"):
        grouped_exact_quantile(df, "grp", "v", 0.5, hot_threshold=10,
                               max_hot_groups=5)


# ---------------------------------------------------------------- bloom

def test_bloom_no_false_negatives_and_join_identity(spark):
    from cartwright_spark.operators.bloom import (bloom_build,
                                                  bloom_prefilter_join,
                                                  bloom_probe)
    small = spark.range(3000).select((F.col("id") * 7919 % 1_000_000)
                                     .alias("k"))
    big = spark.range(300_000).select((F.col("id") % 1_000_000).alias("k"),
                                      F.col("id").alias("v"))
    bm = bloom_build(small, "k", m_bits=1 << 16, k=5)
    # NO false negatives: every build key probes true
    missed = small.where(~bloom_probe(F.col("k"), bm, 1 << 16, 5)).count()
    assert missed == 0
    # composed join is identical to the exact semi join
    exact = big.join(small.distinct(), "k", "left_semi")
    got = bloom_prefilter_join(big, small, "k", m_bits=1 << 16, k=5)
    assert sorted(r["v"] for r in got.collect()) \
        == sorted(r["v"] for r in exact.collect())


def test_bloom_probe_is_codegen_and_selective(spark):
    from cartwright_spark.operators.bloom import bloom_build, bloom_probe
    small = spark.range(500).select((F.col("id") * 31 % 10_000_000)
                                    .alias("k"))
    big = spark.range(200_000).select((F.col("id") % 10_000_000)
                                      .alias("k"))
    bm = bloom_build(small, "k", m_bits=1 << 19, k=5)
    filtered = big.where(bloom_probe(F.col("k"), bm, 1 << 19, 5))
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan
    kept = filtered.count()
    exact = big.join(small.distinct(), "k", "left_semi").count()
    assert exact <= kept <= exact + 200_000 // 50   # fp rate ≪ 2%


def test_bloom_bitmaps_mergeable(spark):
    from cartwright_spark.operators.bloom import bloom_build, bloom_probe
    a = spark.range(0, 1000).select((F.col("id") * 13).alias("k"))
    b = spark.range(1000, 2000).select((F.col("id") * 13).alias("k"))
    m = 1 << 16
    merged = [x | y for x, y in zip(bloom_build(a, "k", m),
                                    bloom_build(b, "k", m))]
    direct = bloom_build(a.unionByName(b), "k", m)
    assert merged == direct


def test_grid_cluster_driver_and_distributed_paths_identical(spark,
                                                            monkeypatch):
    """The cell graph's driver union-find and the distributed CC leg
    must label identically: cluster_id = min cell_id of the blob either
    way."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(23)
    pdf = pd.DataFrame({
        "lat": np.concatenate([rng.uniform(10, 14, 300),
                               rng.uniform(40, 41, 200),
                               rng.uniform(-60, -59, 1)]),
        "lon": np.concatenate([rng.uniform(10, 14, 300),
                               rng.uniform(40, 41, 200),
                               rng.uniform(100, 101, 1)])})
    df = spark.createDataFrame(pdf)
    a = grid_cluster(df, cell_deg=1.0).collect()
    _force_distributed(monkeypatch)
    b = grid_cluster(df, cell_deg=1.0).collect()
    ka = sorted((r["lat"], r["lon"], r["cell_id"], r["cluster_id"])
                for r in a)
    kb = sorted((r["lat"], r["lon"], r["cell_id"], r["cluster_id"])
                for r in b)
    assert ka == kb


def _docs4(spark):
    return spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog ran"),
         (3, "the cat ran ran"), (4, "lonely")],
        "doc_id long, text string")


def test_inverted_index_df_and_postings(spark):
    from cartwright_spark.operators.ranking import inverted_index
    out = {r.term: r for r in inverted_index(_docs4(spark)).collect()}
    assert out["the"].df == 3 and out["the"].postings == "1,2,3"
    assert out["cat"].df == 2 and out["cat"].postings == "1,3"
    assert out["ran"].df == 2 and out["ran"].postings == "2,3"  # dedup in doc 3
    assert out["lonely"].df == 1 and out["lonely"].postings == "4"
    assert len(out) == 6  # the cat sat dog ran lonely


def test_inverted_index_min_df_and_posting_cap(spark):
    from cartwright_spark.operators.ranking import inverted_index
    out = {r.term: r for r in
           inverted_index(_docs4(spark), min_df=2, max_postings=2).collect()}
    assert sorted(out) == ["cat", "ran", "the"]
    assert out["the"].df == 3 and out["the"].postings is None  # suppressed
    assert out["cat"].postings == "1,3"


def test_inverted_index_cap_gates_before_collect(spark):
    """The plan joins pairs to the df-gated term dim BEFORE the
    collect_list — a stop-word never reaches the collect state."""
    from cartwright_spark.operators.ranking import inverted_index
    with pytest.raises(ValueError):
        inverted_index(_docs4(spark), min_df=3, max_postings=2)
    plan = inverted_index(_docs4(spark), max_postings=2) \
        ._jdf.queryExecution().optimizedPlan().toString()
    # the collect_list aggregate must sit ABOVE the df<=cap join (its
    # child subtree prints after it), i.e. the gate runs pre-collect
    i_collect = plan.index("collect_list")
    assert "Join" in plan[i_collect:], plan


def _grid_pts(spark, cells_with_seed):
    """cells_with_seed = [(ix, iy, is_seed)] -> one point per entry at
    the 5-degree cell's interior."""
    rows = [(-90.0 + 5.0 * ix + 2.0, -180.0 + 5.0 * iy + 2.0, bool(s))
            for ix, iy, s in cells_with_seed]
    return spark.createDataFrame(rows, "lat double, lon double, is_seed boolean")


def test_grid_bfs_line_and_unreachable(spark):
    from cartwright_spark.functions.graph import grid_bfs_hops
    # a 4-cell east-west line seeded at the west end, plus a far blob
    pts = _grid_pts(spark, [(10, 4, True), (10, 5, False), (10, 6, False),
                            (10, 7, False), (3, 30, False)])
    out = {r.cell_id: r.hops for r in grid_bfs_hops(pts).collect()}
    assert out == {10 * 100000 + 4: 0, 10 * 100000 + 5: 1,
                   10 * 100000 + 6: 2, 10 * 100000 + 7: 3}


def test_grid_bfs_max_hops_and_min_over_two_seeds(spark):
    from cartwright_spark.functions.graph import grid_bfs_hops
    # seeds at both ends of a 5-cell line: middle cell is 2 from both
    pts = _grid_pts(spark, [(8, 10, True), (8, 11, False), (8, 12, False),
                            (8, 13, False), (8, 14, True)])
    out = {r.cell_id - 800000: r.hops
           for r in grid_bfs_hops(pts, max_hops=1).collect()}
    assert out == {10: 0, 14: 0, 11: 1, 13: 1}
    out2 = {r.cell_id - 800000: r.hops for r in grid_bfs_hops(pts).collect()}
    assert out2[12] == 2


def test_grid_bfs_driver_vs_distributed_parity(spark, monkeypatch):
    from cartwright_spark.functions.graph import grid_bfs_hops
    import random
    rng = random.Random(7)
    cells = [(rng.randrange(6, 16), rng.randrange(4, 14), i % 9 == 0)
             for i in range(60)]
    pts = _grid_pts(spark, cells)
    a = sorted(map(tuple, grid_bfs_hops(pts, max_hops=6).collect()))
    _force_distributed(monkeypatch)
    b = sorted(map(tuple, grid_bfs_hops(pts, max_hops=6).collect()))
    assert a == b and len(a) > 0


def test_grid_bfs_no_seeds_empty(spark):
    from cartwright_spark.functions.graph import grid_bfs_hops
    pts = _grid_pts(spark, [(10, 4, False), (10, 5, False)])
    assert grid_bfs_hops(pts).count() == 0


def _cost_pts(spark, cells):
    """cells = [(ix, iy, n_points, is_seed)] -> n_points rows per cell."""
    rows = []
    for ix, iy, n, s in cells:
        rows += [(-90.0 + 5.0 * ix + 2.0, -180.0 + 5.0 * iy + 2.0,
                  bool(s))] * n
    return spark.createDataFrame(rows,
                                 "lat double, lon double, is_seed boolean")


def test_cost_distance_line_and_detour(spark):
    from cartwright_spark.functions.graph import cost_distance
    # S at (10,10); heavy direct neighbour X=(10,11) w=50; cheap detour
    # Y=(11,10) w=1 -> Z=(11,11) w=1; Z's best cost is 2 via the detour
    pts = _cost_pts(spark, [(10, 10, 3, True), (10, 11, 50, False),
                            (11, 10, 1, False), (11, 11, 1, False)])
    out = {r.cell_id: r.cost for r in cost_distance(pts).collect()}
    c = lambda ix, iy: ix * 100000 + iy
    assert out[c(10, 10)] == 0          # seed enters free despite w=3
    assert out[c(11, 10)] == 1
    assert out[c(11, 11)] == 2          # detour beats 50+1 via X
    assert out[c(10, 11)] == 50         # entering X always pays 50


def test_cost_distance_hop_bound(spark):
    from cartwright_spark.functions.graph import cost_distance
    pts = _cost_pts(spark, [(5, 5, 1, True), (5, 6, 2, False),
                            (5, 7, 4, False)])
    out1 = {r.cell_id % 100000: r.cost
            for r in cost_distance(pts, max_hops=1).collect()}
    assert out1 == {5: 0, 6: 2}
    out2 = {r.cell_id % 100000: r.cost
            for r in cost_distance(pts, max_hops=2).collect()}
    assert out2 == {5: 0, 6: 2, 7: 6}


def test_cost_distance_driver_vs_distributed_parity(spark, monkeypatch):
    from cartwright_spark.functions.graph import cost_distance
    import random
    rng = random.Random(11)
    cells = [(rng.randrange(6, 13), rng.randrange(4, 11),
              rng.randrange(1, 6), i % 7 == 0) for i in range(40)]
    pts = _cost_pts(spark, cells)
    a = sorted(map(tuple, cost_distance(pts, max_hops=5).collect()))
    _force_distributed(monkeypatch)
    b = sorted(map(tuple, cost_distance(pts, max_hops=5).collect()))
    assert a == b and len(a) > 0


def test_kmv_set_estimate_exact_regime(spark):
    """Below k distinct values the sketches are the full hash sets, so
    union / jaccard / intersection estimates are EXACT."""
    from pyspark.sql import functions as F

    from cartwright_spark.operators.sketch import kmv_set_estimate
    a = spark.range(0, 30).select(F.col("id").alias("v"))       # 0..29
    b = spark.range(20, 50).select(F.col("id").alias("v"))      # 20..49
    r = kmv_set_estimate(a, b, "v", k=64).collect()[0]
    assert r.union_kept == 50
    assert r.n_common == 10
    assert r.est_union == 50.0
    assert abs(r.jaccard - 10 / 50) < 1e-12
    assert abs(r.est_intersection - 10.0) < 1e-9


def test_kmv_set_estimate_sketch_regime_accuracy(spark):
    """Above k: estimates land within the ~1/sqrt(k-2) error envelope."""
    from pyspark.sql import functions as F

    from cartwright_spark.operators.sketch import kmv_set_estimate
    a = spark.range(0, 3000).select(F.col("id").alias("v"))
    b = spark.range(1500, 4500).select(F.col("id").alias("v"))
    r = kmv_set_estimate(a, b, "v", k=256).collect()[0]
    assert r.union_kept == 256
    assert abs(r.est_union - 4500) / 4500 < 0.25
    assert abs(r.est_intersection - 1500) / 1500 < 0.4


# ------------------------------------------------------- label propagation

def test_lpa_two_cliques_bridge(spark):
    from cartwright_spark.functions.graph import label_propagation
    # two 4-cliques joined by one bridge edge: LPA must keep them as
    # two communities labelled by each clique's min node
    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = spark.createDataFrame(c1 + c2 + [(3, 10)], ["src", "dst"])
    got = {r["id"]: r["label"]
           for r in label_propagation(edges, iters=5).collect()}
    assert {got[i] for i in range(4)} == {0}
    assert {got[i] for i in range(10, 14)} == {10}


def test_lpa_star_converges_to_center(spark):
    from cartwright_spark.functions.graph import label_propagation
    edges = spark.createDataFrame([(i, 0) for i in range(1, 8)],
                                  ["src", "dst"])
    got = label_propagation(edges, iters=3).collect()
    assert {r["label"] for r in got} == {0}


def test_lpa_partition_invariant_and_string_ids(spark):
    from cartwright_spark.functions.graph import label_propagation
    import pyspark.sql.functions as SF
    edges = spark.createDataFrame(
        [(f"h{a}", f"h{b}") for a in range(6) for b in range(6)
         if a < b and (a // 3 == b // 3)] + [("h2", "h3")],
        ["src", "dst"])
    a = sorted(map(tuple, label_propagation(
        edges.repartition(1), iters=4).collect()))
    b = sorted(map(tuple, label_propagation(
        edges.repartition(7), iters=4).collect()))
    assert a == b
    assert dict(a)["h4"] == "h3"  # second triangle labelled by its min


def test_hits_numpy_reference(spark):
    """HITS on a small digraph must match a dense numpy power iteration
    with the same L1 half-step normalization."""
    import numpy as np
    from cartwright_spark.functions.graph import hits
    edges = [(1, 4), (1, 5), (2, 4), (2, 5), (3, 5), (4, 6), (5, 6)]
    ids = sorted({u for e in edges for u in e})
    idx = {v: i for i, v in enumerate(ids)}
    A = np.zeros((len(ids), len(ids)))
    for u, v in edges:
        A[idx[u], idx[v]] = 1.0
    h = np.full(len(ids), 1.0 / len(ids))
    for _ in range(8):
        a = A.T @ h
        a /= a.sum()
        h = A @ a
        h /= h.sum()
    out = {r["id"]: (r["auth_x_n"], r["hub_x_n"])
           for r in hits(spark.createDataFrame(edges, ["src", "dst"]),
                         iters=8).collect()}
    for v in ids:
        assert abs(out[v][0] - a[idx[v]] * len(ids)) < 1e-9
        assert abs(out[v][1] - h[idx[v]] * len(ids)) < 1e-9


def test_hits_pure_hub_and_authority(spark):
    """In a star u1,u2,u3 -> c, the center is a pure authority (hub 0)
    and the leaves pure hubs (auth 0)."""
    from cartwright_spark.functions.graph import hits
    out = {r["id"]: r for r in hits(
        spark.createDataFrame([(1, 9), (2, 9), (3, 9)], ["src", "dst"]),
        iters=4).collect()}
    assert out[9]["hub_x_n"] == 0.0 and out[9]["auth_x_n"] == 4.0
    for leaf in (1, 2, 3):
        assert out[leaf]["auth_x_n"] == 0.0
        assert abs(out[leaf]["hub_x_n"] - 4.0 / 3.0) < 1e-12


def test_sssp_bounded_chain_and_hop_cap(spark):
    """On a weighted chain 0-1-2-3-4 the k-round result must expose
    exactly the <=k-hop distances; full rounds match dijkstra by hand;
    a cheaper parallel edge wins the min."""
    from cartwright_spark.functions.graph import sssp_bounded
    edges = [(0, 1, 5), (1, 2, 1), (2, 3, 1), (3, 4, 1),
             (0, 2, 9), (0, 2, 7)]  # parallel edges collapse to 7
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    seeds = spark.createDataFrame([(0,)], ["id"])
    d2 = {r["id"]: r["dist"]
          for r in sssp_bounded(e, seeds, rounds=2).collect()}
    assert d2 == {0: 0, 1: 5, 2: 6, 3: 8}  # 4 unreachable in 2 hops
    d4 = {r["id"]: r["dist"]
          for r in sssp_bounded(e, seeds, rounds=4).collect()}
    assert d4 == {0: 0, 1: 5, 2: 6, 3: 7, 4: 8}
    # extra rounds past convergence are no-ops
    d6 = {r["id"]: r["dist"]
          for r in sssp_bounded(e, seeds, rounds=6).collect()}
    assert d6 == d4


def test_sssp_bounded_multi_source_min(spark):
    from cartwright_spark.functions.graph import sssp_bounded
    e = spark.createDataFrame(
        [(0, 5, 10), (1, 5, 3), (5, 6, 1)], ["src", "dst", "w"])
    seeds = spark.createDataFrame([(0,), (1,)], ["id"])
    d = {r["id"]: r["dist"]
         for r in sssp_bounded(e, seeds, rounds=3).collect()}
    assert d == {0: 0, 1: 0, 5: 3, 6: 4}


def test_rrf_fuse_hand_computed(spark):
    """Three tiny rankings, fused scores computed by hand in exact
    fixed point."""
    from cartwright_spark.operators.ranking import rrf_fuse
    r1 = spark.createDataFrame([(10, 1), (20, 2), (30, 3)],
                               ["doc_id", "rank"])
    r2 = spark.createDataFrame([(20, 1), (10, 2)], ["doc_id", "rank"])
    out = {r["doc_id"]: r
           for r in rrf_fuse([r1, r2], k0=60, topk=10).collect()}
    s = 10 ** 12
    assert out[10]["rrf_score_e12"] == s // 61 + s // 62
    assert out[20]["rrf_score_e12"] == s // 62 + s // 61
    assert out[30]["rrf_score_e12"] == s // 63
    assert out[30]["n_lists"] == 1
    # 10 and 20 tie exactly (same contribution multiset) -> doc_id
    # breaks the tie deterministically
    assert out[10]["rrf_rank"] == 1 and out[20]["rrf_rank"] == 2
    assert out[30]["rrf_rank"] == 3


def test_rrf_fuse_topk_prune_equals_unpruned(spark):
    """The per-partition prune must not change the global top-k."""
    from cartwright_spark.operators.ranking import rrf_fuse
    rows1 = [(i, i + 1) for i in range(500)]
    rows2 = [(i, 500 - i) for i in range(500)]
    r1 = spark.createDataFrame(rows1, ["doc_id", "rank"]).repartition(16)
    r2 = spark.createDataFrame(rows2, ["doc_id", "rank"]).repartition(16)
    got = rrf_fuse([r1, r2], topk=20).collect()
    s = 10 ** 12
    truth = sorted(
        ((i, s // (60 + i + 1) + s // (60 + 500 - i)) for i in range(500)),
        key=lambda t: (-t[1], t[0]))[:20]
    assert [(r["doc_id"], r["rrf_score_e12"]) for r in
            sorted(got, key=lambda r: r["rrf_rank"])] == truth


# ------------------------------------------------------- proximity search

def test_proximity_pairs_counts_and_gap(spark):
    from cartwright_spark.operators.ranking import proximity_pairs
    docs = spark.createDataFrame([
        (1, "alpha beta ALPHA gamma beta"),     # case-folded positions
        (2, "alpha x x x x x beta"),            # gap 6 > window 5 -> out
        (3, "beta alpha"),                      # order-free, gap 1
        (4, "alpha alpha beta"),                # two a-positions -> 2 pairs
        (5, "nothing relevant here"),
    ], "doc_id long, text string")
    out = {r.doc_id: (r.n_pairs, r.min_gap)
           for r in proximity_pairs(docs, "alpha", "beta", window=5)
           .collect()}
    # doc1: alpha@{1,3}, beta@{2,5}: pairs (1,2)g1 (1,5)g4 (3,2)g1 (3,5)g2
    assert out[1] == (4, 1)
    assert 2 not in out
    assert out[3] == (1, 1)
    assert out[4] == (2, 1)
    assert 5 not in out


def test_proximity_window_boundary_inclusive(spark):
    from cartwright_spark.operators.ranking import proximity_pairs
    docs = spark.createDataFrame(
        [(1, "a x x x x b")], "doc_id long, text string")
    assert proximity_pairs(docs, "a", "b", window=5).count() == 1
    assert proximity_pairs(docs, "a", "b", window=4).count() == 0


def test_proximity_bucket_edges(spark):
    from cartwright_spark.operators.ranking import proximity_pairs
    # positions straddling bucket boundaries at several windows: the
    # banded join must find exactly the brute-force pairs
    text = " ".join(["a" if i % 7 == 0 else
                     "b" if i % 5 == 0 else "x" for i in range(60)])
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    toks = text.split()
    for w in (1, 3, 8):
        pa = [i + 1 for i, t in enumerate(toks) if t == "a"]
        pb = [i + 1 for i, t in enumerate(toks) if t == "b"]
        brute = [(i, j) for i in pa for j in pb if abs(i - j) <= w]
        got = proximity_pairs(docs, "a", "b", window=w).collect()
        if brute:
            assert got[0].n_pairs == len(brute)
            assert got[0].min_gap == min(abs(i - j) for i, j in brute)
        else:
            assert got == []


def test_proximity_validation(spark):
    import pytest
    from cartwright_spark.operators.ranking import proximity_pairs
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="distinct"):
        proximity_pairs(docs, "a", "a")
    with pytest.raises(ValueError, match="window"):
        proximity_pairs(docs, "a", "b", window=0)


# ------------------------------------------------------- link prediction

def test_link_prediction_hand_graph(spark):
    import math
    from cartwright_spark.functions.graph import link_prediction
    # square a-b-c-d-a plus chord hub e linked to a and c
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
             ("e", "a"), ("e", "c")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {(r.u, r.v): (r.common, r.aa)
           for r in link_prediction(df).collect()}
    # a and c share b (deg2), d (deg2), e (deg2): common 3, aa 3/ln2
    assert out[("a", "c")][0] == 3
    assert abs(out[("a", "c")][1] - 3 / math.log(2)) < 1e-12
    # b and d share a (deg3) and c (deg3)
    assert out[("b", "d")][0] == 2
    assert abs(out[("b", "d")][1] - 2 / math.log(3)) < 1e-12
    # b-e share a and c; no EXISTING edge ever appears
    assert out[("b", "e")][0] == 2
    assert ("a", "b") not in out and ("a", "e") not in out


def test_link_prediction_dedups_direction_and_multiplicity(spark):
    from cartwright_spark.functions.graph import link_prediction
    edges = [("x", "y"), ("y", "x"), ("x", "y"),   # one undirected edge
             ("x", "z"), ("w", "y"), ("w", "z")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {(r.u, r.v): r.common for r in link_prediction(df).collect()}
    # y-z share x and w
    assert out[("y", "z")] == 2


def test_link_prediction_hub_cap_drops_megahub(spark):
    from cartwright_spark.functions.graph import link_prediction
    # star: hub h connected to 10 leaves; leaves share ONLY h
    edges = [("h", f"l{i}") for i in range(10)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    assert link_prediction(df, max_hub=1024).count() == 45
    assert link_prediction(df, max_hub=9).count() == 0


def test_link_prediction_validation(spark):
    import pytest
    from cartwright_spark.functions.graph import link_prediction
    df = spark.createDataFrame([("a", "b")], ["src", "dst"])
    with pytest.raises(ValueError, match="max_hub"):
        link_prediction(df, max_hub=1)


# ------------------------------------------------------- snippet selection

def test_best_snippet_dense_window_wins(spark):
    from cartwright_spark.operators.ranking import best_snippet
    docs = spark.createDataFrame([
        (1, "q x x x x x x x x x q q x q"),   # dense cluster at the end
        (2, "no hits at all"),
        (3, "q"),                              # single hit
    ], "doc_id long, text string")
    out = {r.doc_id: (r.start_pos, r.n_hits)
           for r in best_snippet(docs, ["q"], window=5).collect()}
    # doc1 hits at 1, 11, 12, 14; window 5 from 11 covers {11,12,14}=3
    assert out[1] == (11, 3)
    assert 2 not in out
    assert out[3] == (1, 1)


def test_best_snippet_tie_earliest_start(spark):
    from cartwright_spark.operators.ranking import best_snippet
    docs = spark.createDataFrame(
        [(1, "q q x x x x x x q q")], "doc_id long, text string")
    r = best_snippet(docs, ["q"], window=3).collect()[0]
    assert (r.start_pos, r.n_hits) == (1, 2)  # both clusters tie at 2


def test_best_snippet_brute_force_parity(spark):
    import itertools
    from cartwright_spark.operators.ranking import best_snippet
    rngtext = " ".join("abc"[(i * 7 + i * i) % 3] for i in range(80))
    docs = spark.createDataFrame([(1, rngtext)],
                                 "doc_id long, text string")
    toks = rngtext.split()
    for w in (1, 4, 9):
        hits = [i + 1 for i, t in enumerate(toks) if t in ("a", "b")]
        best = max(((p, sum(1 for h in hits if p <= h < p + w))
                    for p in hits), key=lambda t: (t[1], -t[0]))
        r = best_snippet(docs, ["a", "b"], window=w).collect()[0]
        assert (r.start_pos, r.n_hits) == best


def test_best_snippet_validation(spark):
    import pytest
    from cartwright_spark.operators.ranking import best_snippet
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="window"):
        best_snippet(docs, ["a"], window=0)
    with pytest.raises(ValueError, match="terms"):
        best_snippet(docs, [], window=3)


# ------------------------------------------------------------ NDCG@k

def _py_ndcg(rows, k):
    import math
    byq = {}
    for qid, did, sc, rel in rows:
        byq.setdefault(qid, []).append((did, sc, rel))
    out = {}
    for qid, cand in byq.items():
        sys_o = sorted(cand, key=lambda t: (-t[1], t[0]))[:k]
        ide_o = sorted(cand, key=lambda t: (-t[2], t[0]))[:k]
        dcg = sum((2 ** rel - 1) / math.log2(r + 2)
                  for r, (_, _, rel) in enumerate(sys_o))
        idcg = sum((2 ** rel - 1) / math.log2(r + 2)
                   for r, (_, _, rel) in enumerate(ide_o))
        if idcg > 0:
            out[qid] = (len(sys_o), dcg, idcg, dcg / idcg)
    return out


def test_ndcg_brute_force_parity(spark):
    from cartwright_spark.operators.ranking import ndcg_at_k
    rows = [("q%d" % (i % 3), i, ((i * 37) % 101) / 101.0, (i * 13) % 4)
            for i in range(60)]
    df = spark.createDataFrame(
        rows, "qid string, doc_id long, score double, rel int")
    for k in (1, 5, 10, 100):
        got = {r.qid: (r.n_ranked, r.dcg, r.idcg, r.ndcg)
               for r in ndcg_at_k(df, k=k).collect()}
        want = _py_ndcg(rows, k)
        assert set(got) == set(want)
        for qid in want:
            assert got[qid][0] == want[qid][0]
            for a, b in zip(got[qid][1:], want[qid][1:]):
                assert abs(a - b) < 1e-9


def test_ndcg_perfect_ranking_is_one(spark):
    from cartwright_spark.operators.ranking import ndcg_at_k
    rows = [("q", i, float(10 - i), 10 - i) for i in range(5)]
    df = spark.createDataFrame(
        rows, "qid string, doc_id long, score double, rel int")
    r = ndcg_at_k(df, k=3).collect()[0]
    assert abs(r.ndcg - 1.0) < 1e-12 and r.n_ranked == 3


def test_ndcg_all_zero_rel_query_dropped(spark):
    from cartwright_spark.operators.ranking import ndcg_at_k
    df = spark.createDataFrame(
        [("q", 1, 0.5, 0), ("q", 2, 0.1, 0), ("p", 1, 0.9, 2)],
        "qid string, doc_id long, score double, rel int")
    out = {r.qid for r in ndcg_at_k(df, k=5).collect()}
    assert out == {"p"}


def test_ndcg_validation(spark):
    import pytest
    from cartwright_spark.operators.ranking import ndcg_at_k
    df = spark.createDataFrame([("q", 1, 0.5, 1)],
                               "qid string, doc_id long, score double, rel int")
    with pytest.raises(ValueError, match="k must"):
        ndcg_at_k(df, k=0)
    bad = spark.createDataFrame([("q", 1, 0.5, 63)],
                                "qid string, doc_id long, score double, rel int")
    with pytest.raises(Exception, match="overflow|rel outside"):
        ndcg_at_k(bad, k=5).collect()


# ----------------------------------------- strongly connected components

def _py_scc(E):
    import collections
    nodes = sorted({x for e in E for x in e})
    adj = collections.defaultdict(set)
    for a, b in E:
        adj[a].add(b)

    def reach(s):
        seen, st = {s}, [s]
        while st:
            u = st.pop()
            for v in adj[u]:
                if v not in seen:
                    seen.add(v)
                    st.append(v)
        return seen

    R = {v: reach(v) for v in nodes}
    return {v: min(u for u in nodes if u in R[v] and v in R[u])
            for v in nodes}


def test_scc_cycles_chains_and_tails(spark, leg):
    from cartwright_spark.functions.graph import (
        strongly_connected_components as scc)
    E = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (6, 1), (7, 8)]
    df = spark.createDataFrame(E, "src long, dst long")
    got = {r.id: r.scc_id for r in scc(df).collect()}
    assert got == _py_scc(E)


def test_scc_pure_dag_all_singletons(spark):
    from cartwright_spark.functions.graph import (
        strongly_connected_components as scc)
    E = [(i, i + 1) for i in range(20)] + [(0, 10), (5, 15)]
    df = spark.createDataFrame(E, "src long, dst long")
    got = {r.id: r.scc_id for r in scc(df).collect()}
    assert got == {i: i for i in range(21)}


def test_scc_one_big_cycle(spark):
    from cartwright_spark.functions.graph import (
        strongly_connected_components as scc)
    n = 12
    E = [(i, (i + 1) % n) for i in range(n)]
    df = spark.createDataFrame(E, "src long, dst long")
    got = {r.id: r.scc_id for r in scc(df).collect()}
    assert got == {i: 0 for i in range(n)}


def test_scc_brute_force_random_graph(spark, leg):
    from cartwright_spark.functions.graph import (
        strongly_connected_components as scc)
    E = sorted({((i * 7 + 3) % 30, (i * 13 + 5) % 30) for i in range(120)}
               - {(i, i) for i in range(30)})
    df = spark.createDataFrame(E, "src long, dst long")
    got = {r.id: r.scc_id for r in scc(df).collect()}
    assert got == _py_scc(E)


def test_scc_self_loops_and_round_cap(spark, monkeypatch):
    import pytest
    from cartwright_spark.functions.graph import (
        strongly_connected_components as scc)
    df = spark.createDataFrame([(1, 1), (1, 2), (2, 1)],
                               "src long, dst long")
    got = {r.id: r.scc_id for r in scc(df).collect()}
    assert got == {1: 1, 2: 1}
    chain = spark.createDataFrame([(i, i + 1) for i in range(30)],
                                  "src long, dst long")
    _force_distributed(monkeypatch)      # the cap bounds the peel's rounds
    with pytest.raises(RuntimeError, match="rounds"):
        scc(chain, max_rounds=3)


# ------------------------------------------------- harmonic centrality

def _py_harmonic(E, sources, max_hops=12):
    import collections
    adj = collections.defaultdict(set)
    for a, b in E:
        if a != b:
            adj[a].add(b)
    out = collections.defaultdict(lambda: [0, 0.0])
    for s in sources:
        dist = {s: 0}
        q = collections.deque([s])
        while q:
            u = q.popleft()
            if dist[u] >= max_hops:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        for v, d in dist.items():
            if d > 0:
                out[v][0] += 1
                out[v][1] += 1.0 / d
    return {v: (c, h) for v, (c, h) in out.items()}


def test_harmonic_centrality_brute_force(spark, leg):
    from cartwright_spark.functions.graph import harmonic_centrality
    E = sorted({((i * 7 + 3) % 25, (i * 11 + 5) % 25) for i in range(80)}
               - {(i, i) for i in range(25)})
    df = spark.createDataFrame(E, "src long, dst long")
    want = _py_harmonic(E, [0, 1, 2])
    got = {r.id: (r.n_reached, r.h_sum)
           for r in harmonic_centrality(df, sources=[0, 1, 2]).collect()}
    assert set(got) == set(want)
    for v in want:
        assert got[v][0] == want[v][0]
        assert abs(got[v][1] - want[v][1]) < 1e-12


def test_harmonic_centrality_chain_distances(spark):
    from cartwright_spark.functions.graph import harmonic_centrality
    E = [(i, i + 1) for i in range(6)]
    df = spark.createDataFrame(E, "src long, dst long")
    got = {r.id: r.h_sum
           for r in harmonic_centrality(df, sources=[0]).collect()}
    for v in range(1, 7):
        assert got[v] == 1.0 / v
    assert 0 not in got                       # source contributes nothing


def test_harmonic_centrality_hop_cap(spark):
    from cartwright_spark.functions.graph import harmonic_centrality
    E = [(i, i + 1) for i in range(20)]
    df = spark.createDataFrame(E, "src long, dst long")
    got = harmonic_centrality(df, sources=[0], max_hops=5).collect()
    assert {r.id for r in got} == {1, 2, 3, 4, 5}


def test_harmonic_centrality_validation(spark):
    import pytest
    from cartwright_spark.functions.graph import harmonic_centrality
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="sources"):
        harmonic_centrality(df, sources=[])
    with pytest.raises(ValueError, match="max_hops"):
        harmonic_centrality(df, sources=[1], max_hops=0)


# ---------------------------------------------------- assortativity

def test_assortativity_brute_force(spark):
    import math
    from cartwright_spark.functions.graph import degree_assortativity
    E = ([(0, i) for i in range(1, 6)]
         + [(i, i + 1) for i in range(5, 11)]
         + [(3, 7), (7, 3), (2, 9), (9, 2), (4, 7), (8, 1)])
    df = spark.createDataFrame(E, "src long, dst long")
    row = degree_assortativity(df).collect()[0]
    import collections
    od, idg = collections.Counter(), collections.Counter()
    for a, b in E:
        od[a] += 1
        idg[b] += 1
    xs = [od[a] for a, b in E]
    ys = [idg[b] for a, b in E]
    m = len(E)
    num = m * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)
    dx = m * sum(x * x for x in xs) - sum(xs) ** 2
    dy = m * sum(y * y for y in ys) - sum(ys) ** 2
    assert row.m == m and row.sx == sum(xs) and row.syy == sum(
        y * y for y in ys)
    assert abs(row.r - num / math.sqrt(dx * dy)) < 1e-12


def test_assortativity_perfectly_assortative(spark):
    from cartwright_spark.functions.graph import degree_assortativity
    # two disjoint cliques of different sizes: outdeg(u) == indeg(v)
    # within each edge, so x and y are perfectly correlated
    E = [(a, b) for a in range(3) for b in range(3) if a != b] + \
        [(a, b) for a in range(10, 15) for b in range(10, 15) if a != b]
    df = spark.createDataFrame(E, "src long, dst long")
    row = degree_assortativity(df).collect()[0]
    assert abs(row.r - 1.0) < 1e-12


def test_assortativity_star_is_degenerate(spark):
    from cartwright_spark.functions.graph import degree_assortativity
    # star: hub -> leaves; x constant (hub outdeg), y constant 1
    E = [(0, i) for i in range(1, 8)]
    df = spark.createDataFrame(E, "src long, dst long")
    row = degree_assortativity(df).collect()[0]
    assert row.r is None and row.m == 7


# ------------------------------------------------ diameter double sweep

def test_diameter_sweep_path_graph_exact(spark, monkeypatch):
    from cartwright_spark.functions.graph import diameter_double_sweep
    E = [(i, i + 1) for i in range(10)]
    df = spark.createDataFrame(E, "src long, dst long")
    _force_distributed(monkeypatch)      # the other sweep tests: driver leg
    r = diameter_double_sweep(df, start=4).collect()[0]
    # from 4 the far end is 10 (d=6, ties broken toward min id — 10
    # beats nothing; 0 is at d=4); sweep from 10 spans the whole path
    assert r.start_ecc == 6 and r.far_id == 10
    assert r.diameter_lb == 10 and r.n_reached == 11


def test_diameter_sweep_cycle(spark):
    from cartwright_spark.functions.graph import diameter_double_sweep
    n = 9
    E = [(i, (i + 1) % n) for i in range(n)]
    df = spark.createDataFrame(E, "src long, dst long")
    r = diameter_double_sweep(df, start=0).collect()[0]
    assert r.start_ecc == 4 and r.diameter_lb == 4   # floor(9/2)
    assert r.n_reached == n


def test_diameter_sweep_component_only(spark):
    from cartwright_spark.functions.graph import diameter_double_sweep
    E = [(0, 1), (1, 2), (10, 11)]
    df = spark.createDataFrame(E, "src long, dst long")
    r = diameter_double_sweep(df, start=0).collect()[0]
    assert r.n_reached == 3 and r.diameter_lb == 2


def test_tfidf_top_terms_known_corpus(spark):
    import math
    from cartwright_spark.operators.ranking import tfidf_top_terms
    docs = spark.createDataFrame(
        [(1, "apple apple banana shared"),
         (2, "cherry shared"),
         (3, "banana shared")],
        "doc_id long, text string")
    out = [(r.term, r.tf, r.df, r.rank) for r in
           tfidf_top_terms(docs, topk=2).collect() if r.doc_id == 1]
    # 'apple' (tf=2, df=1) beats 'banana' (tf=1, df=2); 'shared'
    # appears in every doc -> tfidf 0, never makes top-2
    assert out == [("apple", 2, 1, 1), ("banana", 1, 2, 2)]
    rows = {r.term: r.tfidf for r in
            tfidf_top_terms(docs, topk=3).collect() if r.doc_id == 1}
    assert abs(rows["apple"] - 2 * math.log(3.0 / 1.0)) < 1e-12
    assert rows["shared"] == 0.0


def test_tfidf_tiebreak_is_term_ascending(spark):
    from cartwright_spark.operators.ranking import tfidf_top_terms
    docs = spark.createDataFrame(
        [(1, "zz aa"), (2, "other words")], "doc_id long, text string")
    out = [r.term for r in
           sorted(tfidf_top_terms(docs, topk=2).collect(),
                  key=lambda r: r.rank) if r.doc_id == 1]
    # equal tf and df -> identical tfidf -> lexicographic term order
    assert out == ["aa", "zz"]


def test_tfidf_validation_and_min_len(spark):
    import pytest
    from cartwright_spark.operators.ranking import tfidf_top_terms
    docs = spark.createDataFrame([(1, "a ab abc")],
                                 "doc_id long, text string")
    terms = {r.term for r in tfidf_top_terms(docs, topk=9).collect()}
    assert terms == {"ab", "abc"}       # single chars dropped
    with pytest.raises(ValueError, match="topk"):
        tfidf_top_terms(docs, topk=0)


def test_cc_driver_and_distributed_paths_identical(spark, monkeypatch):
    from cartwright_spark.functions.graph import connected_components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (20, 21)],
        ["src", "dst"])
    fast = sorted(map(tuple, connected_components(edges).collect()))
    _force_distributed(monkeypatch)
    dist = sorted(map(tuple, connected_components(edges).collect()))
    assert fast == dist
    assert dict(fast) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10,
                          20: 20, 21: 20}


# ------------------------------- guarded graph operators: edge-case inputs

# directed: a 3-cycle with a tail (1->2->3->1, 3->4) plus a lone edge
_CYCLE_TAIL = [(1, 2), (2, 3), (3, 1), (3, 4), (10, 11)]


@pytest.mark.parametrize("call, on_graph, on_empty, schema", [
    (lambda e: graph.connected_components(e),
     [(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)], [],
     "struct<id:int,component:int>"),
    (lambda e: graph.strongly_connected_components(e),
     [(1, 1), (2, 1), (3, 1), (4, 4), (10, 10), (11, 11)], [],
     "struct<id:int,scc_id:int>"),
    (lambda e: graph.harmonic_centrality(e, sources=[1]),
     [(2, 1, 1.0), (3, 1, 0.5), (4, 1, 1 / 3)], [],
     "struct<id:bigint,n_reached:bigint,h_sum:double>"),
    (lambda e: graph.diameter_double_sweep(e, start=1),
     [(1, 2, 4, 2, 4)], [(1, 0, 1, 0, 1)],
     "struct<start_id:bigint,start_ecc:int,far_id:bigint,diameter_lb:int,"
     "n_reached:bigint>"),
], ids=["cc", "scc", "harmonic", "diameter"])
@pytest.mark.parametrize("edges", ["int32", "empty"])
def test_guarded_graph_ops_int32_and_empty(spark, leg, call, on_graph,
                                           on_empty, schema, edges):
    """Both legs give the same rows and the same schema on int32 ids and
    on an empty edge list; node ids keep the input's int type."""
    rows = _CYCLE_TAIL if edges == "int32" else []
    out = call(spark.createDataFrame(rows, "src int, dst int"))
    want = on_graph if edges == "int32" else on_empty
    assert sorted(map(tuple, out.collect())) == want
    assert out.schema.simpleString() == schema


@pytest.mark.parametrize("call, schema", [
    (graph.grid_bfs_hops, "struct<cell_id:bigint,hops:bigint>"),
    (graph.cost_distance, "struct<cell_id:bigint,cost:bigint>"),
], ids=["grid_bfs_hops", "cost_distance"])
def test_guarded_grid_ops_without_seeds(spark, leg, call, schema):
    """No seed cell: both legs return no rows, with the same schema."""
    out = call(_grid_pts(spark, [(10, 4, False), (10, 5, False)]))
    assert out.collect() == []
    assert out.schema.simpleString() == schema
