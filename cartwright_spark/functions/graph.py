"""Distributed connected components — the transitive-closure layer dedup
pipelines need to turn near-duplicate PAIRS into CLUSTERS.

`minhash_lsh_pairs` / `simhash_pairs` emit an edge list; assigning every
document to one canonical keeper is connected components over that graph.
The alternating large-star / small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", ACM SoCC 2014 — public)
converges in O(log n) rounds on any graph, including the long chains that
defeat plain min-label propagation (O(diameter) rounds) and the megastars
that defeat per-component collection.

Spark-first shape: every round is two algebraic aggregations
(`groupBy().min()` — map-side partial agg absorbs megastar skew because
min is algebraic) plus an equi-join back to the neighbor list. No driver
data path; per-round lineage is truncated with an eager localCheckpoint so
the plan stays O(1) deep across iterations. Convergence is detected by an
exact edge-set fingerprint (count + sum of xxhash64) — two scalar aggs,
no exceptAll shuffle.

At 100 TB scale: the edge list from LSH is linear in corpus size (bounded
candidates per doc — see dedup.minhash_dedup_assign), rounds are
logarithmic, and the only skewed key (the component minimum, which
accumulates the whole component's neighborhood) flows through an
AQE-splittable equi-join, not a sort.

Reference parity: the reference (jataware/cartwright) has no graph layer;
this serves the training-data-pipeline dedup scope from the brief.
"""

from __future__ import annotations

import collections

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(nbrs: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of v to min(Γ(v) ∪ {v}).

    `nbrs` is the symmetric neighbor list (a, b) with both orientations
    present. Emits the new directed edge set (child ≥ parent invariant
    restored for large nodes)."""
    m = (nbrs.groupBy("a").agg(F.min("b").alias("mb"))
         .select("a", F.least("a", "mb").alias("m")))
    return (nbrs.join(m, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient every edge large→small, then connect each node's small
    neighborhood (and itself) to its minimum."""
    nbrs = (edges.select(F.greatest("a", "b").alias("a"),
                         F.least("a", "b").alias("b"))
            .where(F.col("a") != F.col("b")))
    m = nbrs.groupBy("a").agg(F.min("b").alias("m"))
    # neighbors below the minimum keep an edge to it; the center node
    # itself re-attaches to the minimum.
    out1 = (nbrs.join(m, "a")
            .where(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b")))
    out2 = m.select(F.col("a"), F.col("m").alias("b"))
    return out1.union(out2).where(F.col("a") != F.col("b")).distinct()


def _fingerprint(edges: DataFrame) -> tuple:
    row = edges.agg(
        F.count("*").alias("n"),
        # decimal(38,0) sum: exact and overflow-free under ANSI mode at
        # any realistic edge count (long sum overflows at ~10^9 edges)
        F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h")).first()
    return (row["n"], row["h"])


def _driver_rows(df: DataFrame, limit: int) -> list | None:
    """The graph layer's one small-input guard: count ``df`` once and,
    when it has at most ``limit`` rows, collect it for the caller's
    driver mirror; otherwise return None and the caller runs its
    distributed loop. At that size the loops spend their wall on round
    latency (one or more jobs per round), not data. Callers pass a
    checkpointed frame, so the count and the collect read one
    materialization. Tests force the distributed leg by patching this
    function to return None."""
    if df.count() > limit:
        return None
    return df.collect()


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 25) -> DataFrame:
    """(id, component) for every node in the undirected edge list, where
    `component` is the minimum node id of its connected component.

    Nodes are whatever integer type the edge columns carry. Self-loops
    are ignored. Isolated nodes never appear in an edge list, so callers
    with a node table should left-join and coalesce(component, id).

    max_iter bounds the alternation (convergence is O(log n) rounds —
    25 covers graphs far beyond 10^12 edges); raises RuntimeError if the
    fingerprint hasn't stabilized by then, rather than returning a
    partially-contracted forest.

    Small input: the checkpointed distinct edge table is counted by
    `_driver_rows`; at <= 250k edges (~8 MB of int pairs) a driver
    union-find (`_union_find_min`) replaces the star-contraction rounds.
    Min-label components make the two legs result-identical."""
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
         .where(F.col(src) != F.col(dst))
         .distinct()
         .localCheckpoint(eager=True))

    rows = _driver_rows(e, 250_000)
    if rows is not None:
        comp = _union_find_min([(r["a"], r["b"]) for r in rows])
        id_t = e.schema["a"].dataType.simpleString()
        return e.sparkSession.createDataFrame(
            sorted(comp.items()), f"id {id_t}, component {id_t}")

    nodes = (e.select(F.col("a").alias("id"))
             .union(e.select(F.col("b").alias("id")))
             .distinct()
             .localCheckpoint(eager=True))
    prev = None
    for _ in range(max_iter):
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        e = _small_star(_large_star(sym)).localCheckpoint(eager=True)
        fp = _fingerprint(e)
        if fp == prev:
            break
        prev = fp
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")

    # converged edge set is a star forest: every non-root points at its
    # component minimum; roots have no outgoing edge.
    return (nodes.join(e, nodes["id"] == e["a"], "left")
            .select("id", F.coalesce(e["b"], nodes["id"]).alias("component")))


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iters: int = 10, damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — the classic
    host-graph quality prior a web-corpus curation pipeline mixes into
    its sampling weights (and the reason the crawl's link structure is
    worth keeping next to the text).

    Output: (id, rank_x_n) where rank_x_n = rank · |V| (the normalized
    form — 1.0 is the uniform baseline; emitting the raw probability at
    web scale would push every value below float-compare resolution).

    Semantics (exactly the textbook power iteration, so an unrolled SQL
    re-derivation can check it value-for-value):
      rank_0(v)   = 1/N
      rank_t+1(v) = (1-d)/N + d·(Σ_{u→v} rank_t(u)/outdeg(u) + D_t/N)
    where D_t is the dangling mass (Σ rank_t over nodes with no
    out-edges) — redistributed uniformly, so Σ rank stays 1 every round.

    Scale shape: each round is one equi-join (edges ⋈ ranks on src — the
    hot dst of a megahub arrives via an algebraic sum, map-side partial
    agg absorbs in-link skew) plus one left join back to the node table;
    the dangling mass is a 1-row aggregate CROSS-joined back in
    (broadcast — no driver data path). Per-round lineage is truncated
    with an eager localCheckpoint, so the plan stays O(1) deep and a
    megagraph's DAG never grows with the iteration count. Edges and the
    static outdeg/node tables are checkpointed once and reused — at
    10^12 edges each round touches the edge list exactly once."""
    # The edge table is hash-partitioned on src ONCE and checkpointed —
    # localCheckpoint preserves outputPartitioning, so every round's
    # e ⋈ share sort-merge join reuses it and only the node-sized rank
    # side is exchanged. Without this, each iteration re-shuffles the
    # full edge list (the dominant volume at web scale: edges ≈ 20-50×
    # nodes); with it, per-round shuffle volume is O(nodes), not
    # O(edges) — the difference between a bandwidth-bound iteration and
    # a rank-table-sized one.
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
         .where(F.col(src) != F.col(dst))
         .distinct()
         .repartition(F.col("a"))
         .localCheckpoint(eager=True))
    # outdeg is carried ON the node table (one static join, checkpointed,
    # id-partitioned) so no per-round ranks ⋈ outdeg shuffle exists and
    # the nodes ⋈ contrib join never re-exchanges the node table.
    nodes = (e.select(F.col("a").alias("id"))
             .union(e.select(F.col("b").alias("id")))
             .distinct()
             .join(e.groupBy(F.col("a").alias("id"))
                   .agg(F.count("*").alias("outdeg")), "id", "left")
             .repartition(F.col("id"))
             .localCheckpoint(eager=True))
    n = nodes.count()

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iters):
        ranks = _pagerank_round(e, nodes, ranks, damping, n) \
            .localCheckpoint(eager=True)
    return ranks.select("id", (F.col("rank") * n).alias("rank_x_n"))


def _pagerank_round(e: DataFrame, nodes: DataFrame, ranks: DataFrame,
                    damping: float, n: int) -> DataFrame:
    """One power-iteration round (un-checkpointed — pagerank() owns the
    lineage truncation). Exposed so tests can gate the round's physical
    plan: with e pre-partitioned on `a` and nodes/ranks on `id`, the edge
    table must join WITHOUT a fresh Exchange."""
    contrib = (e.join(ranks.where(F.col("outdeg").isNotNull())
                      .select(F.col("id").alias("a"),
                              (F.col("rank") / F.col("outdeg"))
                              .alias("share")), "a")
               .groupBy(F.col("b").alias("id"))
               .agg(F.sum("share").alias("contrib")))
    dang = (ranks.where(F.col("outdeg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang")))
    return (nodes.join(contrib, "id", "left")
            .crossJoin(F.broadcast(dang))
            .select("id", "outdeg",
                    (F.lit((1.0 - damping) / n)
                     + F.lit(damping)
                     * (F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dang") / n)).alias("rank")))


def _union_find_min(pairs) -> dict:
    """Driver-side union-find over (a, b) int pairs; returns
    node -> component-minimum for every node that appears."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:        # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in list(parent)}


def grid_cluster(points: DataFrame, lat: str = "lat", lon: str = "lon",
                 cell_deg: float = 5.0, max_iter: int = 25) -> DataFrame:
    """Density-grid spatial clustering: snap points to an integer
    lat/lon cell, link occupied cells that are 8-neighbor adjacent, and
    label each point with its cell cluster (DBSCAN's grid approximation
    with minPts=1, eps=cell edge).

    Output: input columns + (cell_id bigint, cluster_id bigint) where
    cluster_id = min cell_id of the connected cell blob.

    Scale shape: the heavy table (points) is touched twice with a single
    groupBy(cell) each; the CC iteration runs over OCCUPIED CELLS only —
    bounded by the grid (≤ (180/cell_deg)·(360/cell_deg) cells) no matter
    how many points, so a 10^12-point corpus clusters over at most a few
    million cell nodes. The final label join back to points is an
    equi-join on cell_id (dense urban cells are hot keys — AQE skew-join
    splits them).

    Small input: the cell graph goes through `connected_components`,
    whose `_driver_rows` guard counts the distinct cell-adjacency edges
    (<= 250k takes the driver union-find). At 5 degrees the whole
    planet is <= 2,592 cells, so contract-scale grids take the driver
    leg. Results match on either leg."""
    ix = F.floor((F.col(lat) + 90.0) / cell_deg).cast("long")
    iy = F.floor((F.col(lon) + 180.0) / cell_deg).cast("long")
    pts = points.withColumn("cell_id", ix * 100000 + iy)
    cells = pts.select("cell_id").distinct().localCheckpoint(eager=True)

    # 8-neighborhood candidate edges: each occupied cell proposes its
    # E/SE/S/SW neighbor (half the stencil — the symmetric closure inside
    # connected_components supplies the rest), realized only when the
    # neighbor is occupied (equi-join against the occupied set).
    offs = [(0, 1), (1, 1), (1, 0), (1, -1)]
    props = cells.select(
        F.col("cell_id").alias("src"),
        F.explode(F.array(*[F.lit(dx * 100000 + dy) for dx, dy in offs])
                  ).alias("off"))
    cand = props.select("src", (F.col("src") + F.col("off")).alias("dst"))
    edges = cand.join(cells.withColumnRenamed("cell_id", "dst"), "dst")

    comp = connected_components(edges, "src", "dst", max_iter=max_iter)
    labels = (cells.join(comp, cells["cell_id"] == comp["id"], "left")
              .select("cell_id",
                      F.coalesce("component", "cell_id").alias("cluster_id")))
    return pts.join(labels, "cell_id")


def triangle_counts(edges: DataFrame, src: str = "src",
                    dst: str = "dst") -> DataFrame:
    """(id, degree, triangles, lcc): per-vertex triangle participation and
    local clustering coefficient lcc = 2T/(d(d-1)) over the UNDIRECTED
    simple graph induced by ``edges`` (direction, duplicates, and self
    loops are dropped).

    Degree-ordered orientation (the standard distributed-triangle trick,
    e.g. Suri & Vassilvitskii "Counting triangles and the curse of the
    last reducer", WWW 2011 — public): orient every undirected edge from
    its lower-(degree, id) endpoint to the higher. Each vertex's
    out-degree is then O(sqrt(m)) regardless of hub degree, so the wedge
    self-join that dominates the cost never explodes on a power-law hub
    (a 10^8-degree crawl hub contributes NO wedges from its own
    adjacency — its edges all point INTO it from smaller vertices).
    Wedges (a→b, a→c with b<c in orientation order) equi-join against the
    oriented edge set on (b, c); each triangle is found exactly once and
    credited to all three corners via one explode.

    Shape: degree agg (one shuffle) + wedge self-join + closing equi-join
    — all key-partitioned, AQE-skewable; no window, no driver path.
    Reference scope note: no graph layer in jataware/cartwright — engine
    scope (link-graph quality signals for crawl curation)."""
    e = (edges.select(F.col(src).cast("string").alias("u"),
                      F.col(dst).cast("string").alias("v"))
         .where(F.col("u") != F.col("v"))
         .select(F.least("u", "v").alias("u"),
                 F.greatest("u", "v").alias("v"))
         .distinct())
    deg = (e.select(F.col("u").alias("id"))
           .unionAll(e.select(F.col("v").alias("id")))
           .groupBy("id").agg(F.count("*").alias("degree")))

    # orientation key (degree, id); broadcast-join degrees onto both
    # endpoints — the degree table is |V|, typically far smaller than |E|
    du = deg.select(F.col("id").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("degree").alias("dv"))
    keyed = e.join(du, "u").join(dv, "v")
    fwd = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    oriented = keyed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("db"))

    # wedges a→b, a→c with (db,b) < (dc,c): the oriented order is total,
    # so each unordered wedge appears once
    l = oriented.select(F.col("a"), F.col("b"), F.col("db"))
    r = oriented.select(F.col("a"), F.col("b").alias("c"),
                        F.col("db").alias("dc"))
    wedges = l.join(r, "a").where(
        F.struct(F.col("db"), F.col("b")) < F.struct(F.col("dc"), F.col("c")))
    closing = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select("a", "b", "c")

    per_vertex = (tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
                  .groupBy("id").agg(F.count("*").alias("triangles")))
    lcc = F.when(F.col("degree") >= 2,
                 F.lit(2.0) * F.col("triangles")
                 / (F.col("degree") * (F.col("degree") - F.lit(1)))) \
           .otherwise(F.lit(0.0))
    return (deg.join(per_vertex, "id", "left")
            .withColumn("triangles",
                        F.coalesce("triangles", F.lit(0)))
            .select("id", "degree", "triangles", lcc.alias("lcc")))


def grid_bfs_hops(points: DataFrame, lat: str = "lat", lon: str = "lon",
                  cell_deg: float = 5.0, seed_col: str = "is_seed",
                  max_hops: int = 10) -> DataFrame:
    """Multi-source BFS hop distance over the occupied-cell grid graph:
    -> (cell_id, hops) for every occupied cell reachable within
    ``max_hops`` 4-neighbour steps of any SEED cell (a cell seeds the
    search when any of its points has ``seed_col`` true); ``hops`` is
    the exact minimum hop count (seeds = 0).

    The "distance to the nearest depot/POI over the road-served grid"
    primitive — iterative frontier expansion, the BFS sibling of
    grid_cluster's connected components. Cell packing and (non-)wrap
    convention match grid_cluster exactly (cell_id = ix*100000 + iy).

    Scale shape: the corpus is touched ONCE (groupBy cell with map-side
    combine folds the seed flag via max); every BFS round runs over
    OCCUPIED CELLS only — grid-bounded regardless of corpus size. Each
    distributed round is frontier expand -> occupied equi-join ->
    anti-join visited, plan truncated with an eager localCheckpoint.

    Small input: `_driver_rows` counts the occupied-cell table; at
    <= 100k cells the BFS runs on the driver. Result-identical.
    """
    max_hops = int(max_hops)
    if max_hops < 0:
        raise ValueError("grid_bfs_hops: max_hops must be >= 0")
    ix = F.floor((F.col(lat) + 90.0) / cell_deg).cast("long")
    iy = F.floor((F.col(lon) + 180.0) / cell_deg).cast("long")
    pts = points.withColumn("cell_id", ix * 100000 + iy)
    cells = (pts.groupBy("cell_id")
             .agg(F.max(F.col(seed_col).cast("int")).alias("s"))
             .localCheckpoint(eager=True))
    spark = points.sparkSession
    offs = (1, -1, 100000, -100000)

    rows = _driver_rows(cells, 100_000)
    if rows is not None:
        occupied = {r["cell_id"] for r in rows}
        dist = {r["cell_id"]: 0 for r in rows if r["s"]}
        frontier = list(dist)
        for h in range(1, max_hops + 1):
            nxt = []
            for c in frontier:
                for o in offs:
                    n = c + o
                    if n in occupied and n not in dist:
                        dist[n] = h
                        nxt.append(n)
            if not nxt:
                break
            frontier = nxt
        return spark.createDataFrame(
            [(int(c), int(h)) for c, h in dist.items()],
            "cell_id long, hops long")

    occupied = cells.select("cell_id")
    dist = (cells.where(F.col("s") == 1)
            .select("cell_id", F.lit(0).cast("long").alias("hops"))
            .localCheckpoint(eager=True))
    frontier = dist.select("cell_id")
    for h in range(1, max_hops + 1):
        nxt = (frontier
               .select(F.explode(F.array(
                   *[F.col("cell_id") + F.lit(o) for o in offs]))
                   .alias("cell_id"))
               .distinct()
               .join(occupied, "cell_id")
               .join(dist, "cell_id", "left_anti")
               .select("cell_id", F.lit(h).cast("long").alias("hops"))
               .localCheckpoint(eager=True))
        if nxt.rdd.isEmpty():
            break
        dist = dist.union(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("cell_id")
    return dist


def cost_distance(points: DataFrame, lat: str = "lat", lon: str = "lon",
                  cell_deg: float = 5.0, seed_col: str = "is_seed",
                  max_hops: int = 10) -> DataFrame:
    """Cost-distance over the occupied-cell grid: -> (cell_id, cost)
    where cost = the MINIMUM over 4-neighbour paths of <= ``max_hops``
    edges from any seed cell of the sum of point counts of the cells
    ENTERED (seeds enter free) — the classic cost-surface accumulation
    (congestion-aware reachability), with the corpus itself as the
    cost surface.

    Exact: weights are BIGINT point counts; costs are BIGINT sums. The
    hop bound is part of the SEMANTICS (both engines compute "best
    path using at most max_hops edges"), so a SQL oracle can mirror it
    with a bounded recursive CTE.

    Scale shape: ONE corpus shuffle builds (cell, weight, seed); every
    relaxation round is Bellman-Ford over OCCUPIED CELLS (grid-bounded
    regardless of corpus size), relaxing via expand -> union ->
    min-groupBy with an eager localCheckpoint per round, and stops early
    at a fixed point (a no-improvement round is a Bellman-Ford fixed
    point, so early exit cannot change the result).

    Small input: `_driver_rows` counts the occupied-cell table; at
    <= 100k cells the relaxation runs on the driver. Result-identical.
    """
    max_hops = int(max_hops)
    if max_hops < 0:
        raise ValueError("cost_distance: max_hops must be >= 0")
    ix = F.floor((F.col(lat) + 90.0) / cell_deg).cast("long")
    iy = F.floor((F.col(lon) + 180.0) / cell_deg).cast("long")
    cells = (points.withColumn("cell_id", ix * 100000 + iy)
             .groupBy("cell_id")
             .agg(F.count(F.lit(1)).cast("bigint").alias("w"),
                  F.max(F.col(seed_col).cast("int")).alias("s"))
             .localCheckpoint(eager=True))
    spark = points.sparkSession
    offs = (1, -1, 100000, -100000)

    rows = _driver_rows(cells, 100_000)
    if rows is not None:
        weight = {r["cell_id"]: r["w"] for r in rows}
        dist = {r["cell_id"]: 0 for r in rows if r["s"]}
        for _ in range(max_hops):
            improved = False
            for c, d in list(dist.items()):
                for o in offs:
                    n = c + o
                    if n in weight:
                        nd = d + weight[n]
                        if nd < dist.get(n, nd + 1):
                            dist[n] = nd
                            improved = True
            if not improved:
                break
        return spark.createDataFrame(
            [(int(c), int(d)) for c, d in dist.items()],
            "cell_id long, cost long")

    dist = (cells.where(F.col("s") == 1)
            .select("cell_id", F.lit(0).cast("long").alias("cost"))
            .localCheckpoint(eager=True))
    wdim = cells.select("cell_id", "w")
    for _ in range(max_hops):
        cand = (dist
                .select(F.explode(F.array(
                    *[F.col("cell_id") + F.lit(o) for o in offs]))
                    .alias("cell_id"), "cost")
                .groupBy("cell_id").agg(F.min("cost").alias("cost"))
                .join(wdim, "cell_id")
                .select("cell_id", (F.col("cost") + F.col("w"))
                        .alias("cost")))
        new = (dist.unionByName(cand)
               .groupBy("cell_id").agg(F.min("cost").alias("cost"))
               .localCheckpoint(eager=True))
        # fixed point: same cells, same total cost => no relaxation
        a = dist.agg(F.count(F.lit(1)), F.sum("cost")).collect()[0]
        b = new.agg(F.count(F.lit(1)), F.sum("cost")).collect()[0]
        dist = new
        if tuple(a) == tuple(b):
            break
    return dist


def label_propagation(edges: DataFrame, src: str = "src",
                      dst: str = "dst", iters: int = 5) -> DataFrame:
    """Synchronous label propagation communities (Raghavan/Albert/
    Kumara 2007, Phys. Rev. E 76) — deterministic variant: undirected
    symmetrized graph, label_0(v) = v, and each round every node takes
    the most frequent label among its neighbours AND ITSELF, ties
    broken by the SMALLEST label. The self-vote replaces the paper's
    random tie order (which cannot reproduce across engines) and damps
    the synchronous-update oscillation on bipartite subgraphs; a fixed
    ``iters`` round count makes the output a pure function of the edge
    list, so an unrolled SQL re-derivation checks it value-for-value.

    Output: (id, label) after ``iters`` rounds.

    Scale shape (the 100 TB audit): the symmetrized edge list is
    hash-partitioned on `a` ONCE and localCheckpoint'ed (same contract
    as pagerank above — per-round shuffle volume is O(nodes), never
    O(edges)). Each round is: one edges ⋈ labels equi-join, one
    (node, label) count agg, one per-node max agg, one argmin-label agg
    — ALL algebraic with map-side partials, so a megahub's million
    neighbour-label rows combine per-mapper instead of piling onto one
    reducer; there is no per-node window sort anywhere. Per-round
    lineage is truncated with an eager localCheckpoint so the DAG
    stays O(1) deep at any iteration count. There is no driver leg: on
    the contract input at sf0.1 (298k symmetrized rows, 4 cores) a
    driver mirror of the vote ran no faster than these rounds.
    """
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .where(F.col(src).isNotNull() & F.col(dst).isNotNull()))
    e = (e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
         .where(F.col("a") != F.col("b"))
         .distinct()
         .repartition(F.col("a"))
         .localCheckpoint(eager=True))
    labels = (e.select(F.col("a").alias("id"))
              .distinct()
              .withColumn("label", F.col("id"))
              .localCheckpoint(eager=True))
    for _ in range(int(iters)):
        votes = (e.join(labels.select(F.col("id").alias("a"), "label"),
                        "a")
                 .select(F.col("b").alias("id"), "label")
                 .union(labels.select("id", "label"))   # the self-vote
                 .groupBy("id", "label")
                 .agg(F.count(F.lit(1)).alias("cnt")))
        mx = votes.groupBy("id").agg(F.max("cnt").alias("mx"))
        labels = (votes.join(mx, "id")
                  .where(F.col("cnt") == F.col("mx"))
                  .groupBy("id")
                  .agg(F.min("label").alias("label"))
                  .localCheckpoint(eager=True))
    return labels.select("id", "label")


def kcore(edges: DataFrame, k: int = 2, src: str = "src",
          dst: str = "dst") -> DataFrame:
    """Nodes of the k-core — the maximal induced subgraph where every
    node has (undirected, deduplicated) degree >= k — by iterative
    peeling (Seidman 1983; the degeneracy tier crawl-graph pipelines
    use to strip link-farm tendrils and pendant spam chains before
    community / centrality passes).

    Output: (node,) — the k-core membership set. Deterministic: the
    fixpoint of "drop nodes with degree < k in the current induced
    subgraph" is unique (the k-core is well-defined), so round order
    cannot matter.

    Scale shape (the 100 TB audit): the symmetrized distinct edge list
    is built once; each peel round is ONE degree aggregation (count on
    `a`, map-side partials) and TWO semi-joins filtering edge endpoints
    against the survivors — all equi-joins, no windows, no collects
    beyond the per-round convergence COUNT (a scalar). Rounds =
    peel depth of the graph (the length of the longest pendant chain,
    typically tiny on web graphs even at billions of edges); per-round
    lineage truncates with an eager localCheckpoint. Early exit when
    the survivor count stops shrinking — the oracle's fixed unrolled
    round count R is an upper bound the fixture's peel depth must not
    exceed (converged rounds are no-ops in both engines, so any R >=
    depth agrees value-for-value).
    """
    if k < 1:
        raise ValueError("kcore: k must be >= 1")
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .where(F.col(src).isNotNull() & F.col(dst).isNotNull()))
    e = (e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
         .where(F.col("a") != F.col("b"))
         .distinct()
         .repartition(F.col("a"))
         .localCheckpoint(eager=True))
    prev = None
    while True:
        deg = e.groupBy("a").agg(F.count("*").alias("deg"))
        keep = (deg.where(F.col("deg") >= k).select("a")
                .localCheckpoint(eager=True))
        n = keep.count()                       # scalar convergence probe
        if prev is not None and n == prev:
            return keep.select(F.col("a").alias("node"))
        if n == 0:
            return keep.select(F.col("a").alias("node"))
        prev = n
        e = (e.join(keep, "a", "left_semi")
             .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
             .localCheckpoint(eager=True))


def hits(edges: DataFrame, src: str = "src", dst: str = "dst",
         iters: int = 8) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg hubs & authorities) over a
    directed edge list — the complementary link-quality signal to
    :func:`pagerank` for crawl curation: authorities are pages many
    good hubs point AT, hubs are pages that point at many good
    authorities (directory/index pages a frontier scheduler should
    expand first).

    Semantics (textbook mutual recursion, L1-normalized every half-step
    so an unrolled SQL re-derivation checks value-for-value):
      hub_0(u)  = 1/N
      auth_t(v) = Σ_{u→v} hub_{t-1}(u)   then auth_t /= Σ_v auth_t(v)
      hub_t(u)  = Σ_{u→v} auth_t(v)      then hub_t  /= Σ_u hub_t(u)
    Nodes with no in-links hold auth 0; no out-links, hub 0.

    Output: (id, auth_x_n, hub_x_n) — scores · |V|, the same
    uniform-baseline scaling pagerank emits (raw probabilities at web
    scale sink below float-compare resolution).

    Scale shape: the two half-steps join the edge list on DIFFERENT
    keys (src to pull hubs, dst to pull auths), so the edge table is
    checkpointed TWICE — once partitioned on each key — trading 2×
    edge storage for per-round shuffle volume of O(nodes), not
    O(edges) (edges ≈ 20-50× nodes on crawl graphs). Normalization
    totals are 1-row aggregates broadcast back — no driver data path.
    Per-round eager localCheckpoints keep the DAG O(1) deep."""
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
         .where(F.col(src) != F.col(dst))
         .distinct())
    e_a = e.repartition(F.col("a")).localCheckpoint(eager=True)
    e_b = e_a.repartition(F.col("b")).localCheckpoint(eager=True)
    nodes = (e_a.select(F.col("a").alias("id"))
             .union(e_a.select(F.col("b").alias("id")))
             .distinct()
             .repartition(F.col("id"))
             .localCheckpoint(eager=True))
    n = nodes.count()

    hubs = nodes.withColumn("hub", F.lit(1.0 / n))
    auths = None
    for _ in range(iters):
        raw_a = (e_a.join(hubs.select(F.col("id").alias("a"), "hub"), "a")
                 .groupBy(F.col("b").alias("id"))
                 .agg(F.sum("hub").alias("s")))
        tot_a = raw_a.agg(F.sum("s").alias("t"))
        auths = (nodes.join(raw_a, "id", "left")
                 .crossJoin(F.broadcast(tot_a))
                 .select("id", (F.coalesce(F.col("s"), F.lit(0.0))
                                / F.col("t")).alias("auth"))
                 .localCheckpoint(eager=True))
        raw_h = (e_b.join(auths.select(F.col("id").alias("b"), "auth"), "b")
                 .groupBy(F.col("a").alias("id"))
                 .agg(F.sum("auth").alias("s")))
        tot_h = raw_h.agg(F.sum("s").alias("t"))
        hubs = (nodes.join(raw_h, "id", "left")
                .crossJoin(F.broadcast(tot_h))
                .select("id", (F.coalesce(F.col("s"), F.lit(0.0))
                               / F.col("t")).alias("hub"))
                .localCheckpoint(eager=True))
    return (auths.join(hubs, "id")
            .select("id", (F.col("auth") * n).alias("auth_x_n"),
                    (F.col("hub") * n).alias("hub_x_n")))


def sssp_bounded(edges: DataFrame, sources: DataFrame, rounds: int,
                 src: str = "src", dst: str = "dst",
                 weight: str = "w") -> DataFrame:
    """Bounded-hop cheapest path: the cost of the cheapest directed
    path of at most ``rounds`` edges from any source node — k rounds of
    Bellman-Ford relaxation, the weighted generalization of
    :func:`grid_bfs_hops`. For a crawl graph this is "cheapest
    click-path from the seed set" with per-edge costs (latency,
    politeness delay, link depth).

    Semantics (exact in the integer domain — an unrolled SQL
    re-derivation checks it value-for-value):
      dist_0(v) = 0 for sources, unreached otherwise
      dist_t(v) = min(dist_{t-1}(v), min_{u→v} dist_{t-1}(u) + w(u,v))
    Output: (id, dist) for every node reached within ``rounds`` hops.
    Extra rounds past convergence are no-ops, so ``rounds`` >= graph
    diameter yields the true single-source distances.

    Scale shape: the weighted edge list is hash-partitioned on ``src``
    ONCE and checkpointed; each round's relax join reuses it, so
    per-round shuffle volume is O(frontier), not O(edges). The min
    over in-edges is an algebraic aggregate (map-side partials absorb
    megahub in-link skew); the union+min re-aggregation replaces a
    full-outer join. Per-round eager localCheckpoints keep the DAG
    O(1) deep. ``sources`` must be a 1-column (id) DataFrame."""
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"),
                      F.col(weight).alias("w"))
         .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
         .where(F.col(src) != F.col(dst))
         .groupBy("a", "b").agg(F.min("w").alias("w"))
         .repartition(F.col("a"))
         .localCheckpoint(eager=True))
    dist = (sources.select(F.col(sources.columns[0]).alias("id"))
            .distinct()
            .withColumn("dist", F.lit(0).cast("long"))
            .localCheckpoint(eager=True))
    for _ in range(rounds):
        relaxed = (e.join(dist.select(F.col("id").alias("a"), "dist"), "a")
                   .select(F.col("b").alias("id"),
                           (F.col("dist") + F.col("w")).alias("dist")))
        dist = (dist.unionByName(relaxed)
                .groupBy("id").agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=True))
    return dist


def link_prediction(edges: DataFrame, src: str = "src",
                    dst: str = "dst", max_hub: int = 1024,
                    min_common: int = 1) -> DataFrame:
    """Common-neighbor link prediction over the undirected simple graph
    induced by ``edges``: for every non-adjacent pair (u, v) sharing at
    least ``min_common`` neighbours, emit the two classic scores

        common = |N(u) ∩ N(v)|
        aa     = sum_{z in N(u) ∩ N(v)} 1 / ln(deg(z))   (Adamic-Adar)

    -> (u, v, common, aa) with u < v, existing edges anti-joined out.

    Scale shape (the 100 TB audit): pairs are generated THROUGH the
    common neighbour z — a self-join of the adjacency on z — so a hub
    of degree d would emit d^2 candidate pairs. That is not a plan
    problem AQE can fix (it is output size), so hubs with degree >
    ``max_hub`` are excluded from the z role up front, the same
    output-capping move as minhash LSH's bucket cap; the Adamic-Adar
    weight 1/ln(deg) of such a hub is near the floor anyway, which is
    the statistical justification (Adamic & Adar 2003). Degrees land
    on the adjacency rows via a |V|-sized broadcast-friendly join;
    the final rollup is one algebraic groupBy on the pair key.
    Reference scope note: no graph layer in jataware/cartwright —
    engine scope (crawl-frontier candidate discovery: "hosts that
    share many linkers probably link each other soon").
    """
    if max_hub < 2:
        raise ValueError("max_hub must be >= 2")
    e = (edges.select(F.col(src).cast("string").alias("u"),
                      F.col(dst).cast("string").alias("v"))
         .where(F.col("u") != F.col("v"))
         .select(F.least("u", "v").alias("u"),
                 F.greatest("u", "v").alias("v"))
         .distinct())
    adj = (e.select(F.col("u").alias("z"), F.col("v").alias("n"))
           .unionAll(e.select(F.col("v").alias("z"),
                              F.col("u").alias("n"))))
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("dz"))
    hub_ok = deg.where(F.col("dz") <= F.lit(int(max_hub)))
    za = adj.join(hub_ok, "z")
    l = za.select("z", F.col("n").alias("pu"), "dz")
    r = za.select("z", F.col("n").alias("pv"))
    pairs = (l.join(r, "z")
             .where(F.col("pu") < F.col("pv"))
             .groupBy(F.col("pu").alias("u"), F.col("pv").alias("v"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("common"),
                  F.sum(F.lit(1.0) / F.log(F.col("dz").cast("double")))
                  .alias("aa")))
    return (pairs.join(e, ["u", "v"], "left_anti")
            .where(F.col("common") >= F.lit(int(min_common))))


def _tarjan_min_labels(E: list) -> dict:
    """Iterative Tarjan SCC over an in-memory edge list; returns
    {node: min node id of its SCC} — the driver-side mirror of the
    distributed peel (same label convention)."""
    adj = collections.defaultdict(list)
    nodes = set()
    for a, b in E:
        adj[a].append(b)
        nodes.add(a)
        nodes.add(b)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    out = {}
    counter = [0]
    for root in nodes:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            succs = adj.get(v, ())
            for i in range(pi, len(succs)):
                w = succs[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == index[v]:
                scc = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    scc.append(w)
                    if w == v:
                        break
                m = min(scc)
                for w in scc:
                    out[w] = m
    return out


def strongly_connected_components(edges: DataFrame, src: str = "src",
                                  dst: str = "dst",
                                  max_rounds: int = 200) -> DataFrame:
    """(id, scc_id) over a DIRECTED edge list — scc_id is the minimum
    node id of each strongly connected component. The web-graph use:
    link spam rings and mutually-citing template farms are nontrivial
    SCCs of the host graph (a crawl-frontier dedup signal undirected
    connected_components cannot see, since reachability there ignores
    direction).

    Algorithm: iterative TRIM + forward-coloring + backward-mark
    (Orzan's coloring scheme; Slota/Rajamanickam/Madduri's trim step —
    public literature), each phase pure DataFrame algebra:

      1. TRIM — a vertex with no in-edges or no out-edges in the live
         subgraph is a singleton SCC: two anti-joins peel it. Repeats
         absorb the acyclic bulk of crawl graphs (most of a web DAG
         trims away without ever running a propagation round).
      2. COLOR — c(v) = min id that reaches v, by min-label propagation
         to fixpoint: per round ONE equi-join (push c along a->b) + ONE
         algebraic min-groupBy. Colors only decrease, so the exact
         (count, decimal-sum) fingerprint detects the fixpoint with two
         scalar aggs.
      3. MARK — roots r (c(r) = r) propagate BACKWARD over the
         same-color edge subgraph (one equi-join + distinct union per
         round). Standard invariant: every vertex on a v->r path with
         c(v) = r also has color r, so the restriction is lossless;
         the marked set is exactly SCC(r) for every root simultaneously.
      4. Marked vertices leave with scc_id = color; the live subgraph
         shrinks and the outer loop repeats.

    Cost model (the honest 100 TB audit): trim and mark rounds are
    diameter-bounded on the live subgraph; coloring is O(live diameter)
    rounds of one shuffle each — like suffix-array prefix doubling, the
    cost at scale is round LATENCY, not data volume (each round moves
    at most the live edge list once). ``max_rounds`` caps the TOTAL
    inner rounds across all phases and raises RuntimeError rather than
    returning a partially-peeled answer. Per-round lineage is truncated
    with eager localCheckpoints (the connected_components discipline).

    Self-loops are dropped (a self-loop never changes an SCC); isolated
    vertices never appear in an edge list — callers coalesce like
    connected_components. Output ids carry the edge columns' type.

    Small input: `_driver_rows` counts the checkpointed distinct edge
    table; at <= 100k edges one driver Tarjan pass
    (`_tarjan_min_labels`) replaces the peel. Result-identical (scc_id
    = component min on either leg). Reference scope: jataware/cartwright
    has no graph layer; engine scope for the crawl-graph axis.
    """
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
         .where(F.col(src) != F.col(dst))
         .distinct()
         .localCheckpoint(eager=True))
    spark = edges.sparkSession
    id_t = e.schema["a"].dataType.simpleString()
    out_schema = f"id {id_t}, scc_id {id_t}"

    rows = _driver_rows(e, 100_000)
    if rows is not None:
        comp = _tarjan_min_labels([(r["a"], r["b"]) for r in rows])
        return spark.createDataFrame(sorted(comp.items()), out_schema)

    nodes = (e.select(F.col("a").alias("id"))
             .union(e.select(F.col("b").alias("id")))
             .distinct()
             .localCheckpoint(eager=True))
    done_parts: list[DataFrame] = []
    rounds = 0

    def _spend(k: int = 1):
        nonlocal rounds
        rounds += k
        if rounds > max_rounds:
            raise RuntimeError(
                f"strongly_connected_components exceeded {max_rounds} "
                "rounds — raise max_rounds for this diameter")

    while nodes.limit(1).count() > 0:
        # --- 1. trim singleton SCCs (no in- or no out-edge live) ------
        while True:
            _spend()
            srcs = e.select(F.col("a").alias("id")).distinct()
            dsts = e.select(F.col("b").alias("id")).distinct()
            trivial = (nodes.join(srcs, "id", "left_anti")
                       .union(nodes.join(dsts, "id", "left_anti"))
                       .distinct()
                       .localCheckpoint(eager=True))
            if trivial.limit(1).count() == 0:
                break
            done_parts.append(
                trivial.select("id", F.col("id").alias("scc_id")))
            nodes = (nodes.join(trivial, "id", "left_anti")
                     .localCheckpoint(eager=True))
            e = (e.join(trivial.select(F.col("id").alias("a")),
                        "a", "left_anti")
                 .join(trivial.select(F.col("id").alias("b")),
                       "b", "left_anti")
                 .localCheckpoint(eager=True))
        if nodes.limit(1).count() == 0:
            break

        # --- 2. forward min-label coloring to fixpoint ---------------
        c = (nodes.select("id", F.col("id").alias("c"))
             .localCheckpoint(eager=True))
        prev = None
        while True:
            _spend()
            pushed = (e.join(c.withColumnRenamed("id", "a"), "a")
                      .select(F.col("b").alias("id"), "c"))
            c = (c.union(pushed)
                 .groupBy("id").agg(F.min("c").alias("c"))
                 .localCheckpoint(eager=True))
            row = c.agg(
                F.count("*").alias("n"),
                F.sum(F.col("c").cast("decimal(38,0)")).alias("s")).first()
            fp = (row["n"], row["s"])
            if fp == prev:
                break
            prev = fp

        # --- 3. backward mark within color classes -------------------
        ca = c.select(F.col("id").alias("a"), F.col("c").alias("__ca"))
        cb = c.select(F.col("id").alias("b"), F.col("c").alias("__cb"))
        ec = (e.join(ca, "a").join(cb, "b")
              .where(F.col("__ca") == F.col("__cb"))
              .select("a", "b")
              .localCheckpoint(eager=True))
        marked = (c.where(F.col("id") == F.col("c")).select("id")
                  .localCheckpoint(eager=True))
        while True:
            _spend()
            grown = (ec.join(marked.withColumnRenamed("id", "b"), "b")
                     .select(F.col("a").alias("id"))
                     .union(marked)
                     .distinct()
                     .localCheckpoint(eager=True))
            if grown.count() == marked.count():
                break
            marked = grown

        # --- 4. peel the finished SCCs --------------------------------
        done_parts.append(marked.join(c, "id")
                          .select("id", F.col("c").alias("scc_id")))
        nodes = (nodes.join(marked, "id", "left_anti")
                 .localCheckpoint(eager=True))
        e = (e.join(marked.select(F.col("id").alias("a")), "a", "left_anti")
             .join(marked.select(F.col("id").alias("b")), "b", "left_anti")
             .localCheckpoint(eager=True))

    if not done_parts:
        return spark.createDataFrame([], out_schema)
    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionByName(p)
    return out


def _py_bfs(adj: dict, s0, max_hops: int) -> dict:
    """Driver BFS from ``s0`` over an adjacency dict: {v: min hop count}
    for every v within ``max_hops`` (s0 at 0). The driver mirror of
    `_frontier_bfs` for one source."""
    dist = {s0: 0}
    q = collections.deque([s0])
    while q:
        u = q.popleft()
        if dist[u] >= max_hops:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def _adjacency(rows) -> dict:
    """{a: [b, ...]} from collected (a, b) edge rows."""
    adj = collections.defaultdict(list)
    for r in rows:
        adj[r["a"]].append(r["b"])
    return adj


def _frontier_bfs(e: DataFrame, sources: list, max_hops: int) -> DataFrame:
    """Multi-source frontier BFS over the directed edge table (a, b):
    -> (s bigint, v bigint, d int), d = the min hop count from source s
    to v, for every v within ``max_hops`` (each source at d = 0). Per
    round ONE equi-join frontier x edges + ONE anti-join against the
    visited set (a pair enters at its first reachable depth, so d is
    exact by construction); lineage truncated per round with eager
    localCheckpoints. State is |sources| x reachable, never quadratic."""
    dist = (e.sparkSession.createDataFrame(
                [(s, s, 0) for s in sorted({int(x) for x in sources})],
                "s long, v long, d int")
            .localCheckpoint(eager=True))
    frontier = dist
    for hop in range(1, max_hops + 1):
        nxt = (frontier.join(e, frontier["v"] == e["a"])
               .select("s", F.col("b").alias("v"),
                       F.lit(hop).cast("int").alias("d"))
               .distinct())
        frontier = (nxt.join(dist, ["s", "v"], "left_anti")
                    .localCheckpoint(eager=True))
        if frontier.limit(1).count() == 0:
            break
        dist = dist.union(frontier).localCheckpoint(eager=True)
    return dist


def harmonic_centrality(edges: DataFrame, sources: list,
                        src: str = "src", dst: str = "dst",
                        max_hops: int = 12) -> DataFrame:
    """k-source harmonic centrality (Boldi & Vigna 2014, "Axioms for
    centrality" — the sampled form every web-graph study uses, since
    exact all-pairs is quadratic): h(v) = sum over sample sources s of
    1/d(s, v), hop distances along DIRECTED edges. -> (id, n_reached,
    h_sum) for every vertex reached by >= 1 source (s = v contributes
    nothing, the convention). A high h_sum marks pages close to many
    seeds — the crawl-frontier prioritization signal PageRank's
    stationary view doesn't give (PageRank has no notion of DISTANCE
    from where you are crawling today).

    One `_frontier_bfs` over all sources, aggregated per vertex. Rounds
    = reachable diameter, capped by ``max_hops`` (beyond ~12 hops 1/d
    adds < 8% relative — the standard truncation argument). h_sum is a
    <= |sources|-term float sum of exact 1/d reciprocals — inside the
    6-dp compare tolerance at any sample size that fits a broadcast.

    Small input: `_driver_rows` counts the checkpointed distinct edge
    table; at <= 100k edges each source runs `_py_bfs` on the driver.
    Result-identical.
    """
    if not sources:
        raise ValueError("harmonic_centrality: sources must be non-empty")
    if max_hops < 1:
        raise ValueError("harmonic_centrality: max_hops must be >= 1")
    spark = edges.sparkSession
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
         .where(F.col(src) != F.col(dst))
         .distinct()
         .repartition(F.col("a"))
         .localCheckpoint(eager=True))
    rows = _driver_rows(e, 100_000)
    if rows is not None:
        adj = _adjacency(rows)
        acc: dict = {}
        for s0 in sorted({int(x) for x in sources}):
            for v, dv in _py_bfs(adj, s0, max_hops).items():
                if dv > 0:
                    c, h = acc.get(v, (0, 0.0))
                    acc[v] = (c + 1, h + 1.0 / dv)
        return spark.createDataFrame(
            [(v, c, h) for v, (c, h) in sorted(acc.items())],
            "id long, n_reached long, h_sum double")

    return (_frontier_bfs(e, sources, max_hops).where(F.col("d") > 0)
            .groupBy(F.col("v").alias("id"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_reached"),
                 F.sum(F.lit(1.0) / F.col("d")).alias("h_sum")))


def degree_assortativity(edges: DataFrame, src: str = "src",
                         dst: str = "dst") -> DataFrame:
    """Directed degree assortativity (Newman 2002, "Assortative mixing
    in networks"): the Pearson correlation, over edges (u, v), of
    x = outdeg(u) against y = indeg(v). Negative r is the web-graph
    signature (hubs point at leaves); a near-zero or positive r on a
    crawl slice flags link farms / template rings wiring high-degree
    nodes to each other. -> ONE row (m, sx, sy, sxy, sxx, syy, r),
    every moment an exact BIGINT:

        r = (m*sxy - sx*sy) / sqrt((m*sxx - sx^2) * (m*syy - sy^2))

    one float sqrt over exact integer moments (the ACF/Geary posture —
    no float accumulation anywhere; the covariance products are taken
    in DOUBLE only inside the final expression, after a raise_error
    guard keeps m * max_deg^2 products int64-exact).

    Scale shape (the 100 TB audit): two algebraic degree rollups, two
    equi-joins decorating the edge list (the hot hub key rides an
    AQE-splittable join), ONE scalar aggregation — no windows, no
    iteration. Edges with a dangling endpoint (outdeg or indeg would be
    0) cannot exist by construction (u has this out-edge; v has this
    in-edge), so every edge carries positive degrees.
    """
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
         .where(F.col(src) != F.col(dst))
         .distinct())
    outd = e.groupBy(F.col("a").alias("u")) \
            .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    ind = e.groupBy(F.col("b").alias("v")) \
           .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    dec = (e.join(outd, e["a"] == outd["u"])
           .join(ind, e["b"] == ind["v"])
           .select("x", "y"))
    mom = dec.agg(F.count(F.lit(1)).cast("bigint").alias("m"),
                  F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                  F.sum(F.col("x") * F.col("y")).alias("sxy"),
                  F.sum(F.col("x") * F.col("x")).alias("sxx"),
                  F.sum(F.col("y") * F.col("y")).alias("syy"),
                  F.max(F.greatest("x", "y")).alias("__dmax"))
    # guard: |m*sxy| <= m^2*dmax^2 must stay int64-exact
    guarded = mom.withColumn(
        "m",
        F.when(F.col("m").cast("double") * F.col("m")
               * F.col("__dmax") * F.col("__dmax")
               < F.lit(float(2 ** 62)), F.col("m"))
        .otherwise(F.raise_error(F.lit(
            "degree_assortativity: m^2 * max_deg^2 exceeds the "
            "int64-exact bound"))))
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    return guarded.select(
        "m", "sx", "sy", "sxy", "sxx", "syy",
        F.when((dx > 0) & (dy > 0),
               num.cast("double")
               / F.sqrt(dx.cast("double") * dy.cast("double")))
        .alias("r"))


def diameter_double_sweep(edges: DataFrame, start,
                          src: str = "src", dst: str = "dst",
                          max_hops: int = 64) -> DataFrame:
    """Double-sweep diameter lower bound (Magnien/Latapy/Habib 2009 —
    the standard cheap estimator; exact BFS diameter is all-pairs):
    BFS from ``start`` over the UNDIRECTED view, take the farthest
    vertex u (max hop, min id tiebreak — deterministic), BFS again from
    u; u's eccentricity is a lower bound on the graph diameter that is
    exact on trees and empirically tight on web graphs. -> ONE row
    (start_id, start_ecc, far_id, diameter_lb, n_reached): both
    eccentricities, the pivot, and the size of start's component.

    Scale shape: two single-source `_frontier_bfs` passes; the only
    driver data are two single-row argmax collects. ``max_hops`` caps
    each sweep.

    Small input: `_driver_rows` counts the checkpointed symmetrized
    edge table; at <= 100k rows both sweeps run `_py_bfs` on the
    driver with the same pivot rule. Result-identical."""
    if max_hops < 1:
        raise ValueError("diameter_double_sweep: max_hops must be >= 1")
    spark = edges.sparkSession
    d = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
         .where(F.col(src) != F.col(dst)))
    e = (d.union(d.select(F.col("b").alias("a"), F.col("a").alias("b")))
         .distinct()
         .repartition(F.col("a"))
         .localCheckpoint(eager=True))
    schema = ("start_id long, start_ecc int, far_id long, "
              "diameter_lb int, n_reached long")

    rows = _driver_rows(e, 100_000)
    if rows is not None:
        adj = _adjacency(rows)
        d1 = _py_bfs(adj, int(start), max_hops)
        far_v = min(d1, key=lambda v: (-d1[v], v))
        d2 = _py_bfs(adj, far_v, max_hops)
        return spark.createDataFrame(
            [(int(start), d1[far_v], far_v, max(d2.values()), len(d2))],
            schema)

    d1 = _frontier_bfs(e, [start], max_hops)
    far = (d1.orderBy(F.col("d").desc(), F.col("v").asc())
           .limit(1).collect()[0])
    d2 = _frontier_bfs(e, [far["v"]], max_hops)
    ecc2 = d2.agg(F.max("d").alias("m"),
                  F.count(F.lit(1)).alias("c")).collect()[0]
    return spark.createDataFrame(
        [(int(start), far["d"], far["v"], ecc2["m"], ecc2["c"])], schema)


def neighbor_jaccard(edges: DataFrame, src: str = "src",
                     dst: str = "dst", max_hub: int = 1024,
                     min_common: int = 1) -> DataFrame:
    """Neighborhood Jaccard similarity for non-adjacent candidate
    pairs: jaccard = |N(u) ∩ N(v)| / (deg(u) + deg(v) - common),
    -> (u, v, common, du, dv, jaccard) with u < v.

    Same wedge-generation shape as link_prediction (pairs materialize
    only THROUGH a shared neighbour z, existing edges anti-joined out)
    and the same output-capping move: nodes with degree > ``max_hub``
    are excluded from the z role, because a hub emits deg^2 candidate
    pairs — pure output volume no optimizer can shrink. deg(u)/deg(v)
    in the denominator stay the FULL degrees (a |V|-sized equi-join on
    the pair endpoints), so the cap only prunes which pairs surface,
    never distorts a surfaced pair's denominator; the oracle replays
    the identical cap arithmetic. Engine scope: crawl-host candidate
    discovery, the set-similarity twin of Adamic-Adar.
    """
    if max_hub < 2:
        raise ValueError("max_hub must be >= 2")
    e = (edges.select(F.col(src).cast("string").alias("u"),
                      F.col(dst).cast("string").alias("v"))
         .where(F.col("u") != F.col("v"))
         .select(F.least("u", "v").alias("u"),
                 F.greatest("u", "v").alias("v"))
         .distinct())
    adj = (e.select(F.col("u").alias("z"), F.col("v").alias("n"))
           .unionAll(e.select(F.col("v").alias("z"),
                              F.col("u").alias("n"))))
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("dz"))
    za = adj.join(deg.where(F.col("dz") <= F.lit(int(max_hub))), "z")
    pairs = (za.select("z", F.col("n").alias("pu"))
             .join(za.select("z", F.col("n").alias("pv")), "z")
             .where(F.col("pu") < F.col("pv"))
             .groupBy(F.col("pu").alias("u"), F.col("pv").alias("v"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("common")))
    cand = (pairs.join(e, ["u", "v"], "left_anti")
            .where(F.col("common") >= F.lit(int(min_common))))
    du = deg.select(F.col("z").alias("u"), F.col("dz").alias("du"))
    dv = deg.select(F.col("z").alias("v"), F.col("dz").alias("dv"))
    return (cand.join(du, "u").join(dv, "v")
            .select("u", "v", "common", "du", "dv",
                    (F.col("common").cast("double")
                     / (F.col("du") + F.col("dv") - F.col("common"))
                     ).alias("jaccard")))


def modularity(edges: DataFrame, communities: DataFrame,
               src: str = "src", dst: str = "dst",
               node_col: str = "node", comm_col: str = "comm"
               ) -> DataFrame:
    """Newman modularity contribution per community over the
    undirected simple graph: for community c with m_c intra-edges and
    total degree d_c in a graph of m edges,

        q_c = m_c / m  -  (d_c / (2 m))^2        (Q = sum_c q_c)

    -> (comm, m_c, d_c, q_c). m_c/d_c/m are EXACT bigint counts; q_c
    is two float divisions over them, so engine and oracle agree at
    hash tolerance trivially.

    Scale shape: community labels land on edge endpoints via TWO
    |V|-sized equi-joins (shuffle joins on the node key — communities
    is |V| rows, not broadcastable at 10^12 nodes); intra-edge and
    degree rollups are algebraic groupBys; the global edge count m
    rides in as a one-row broadcast crossJoin (the markov_transitions
    normalizer pattern). No window, no driver collect.
    """
    c = communities.select(F.col(node_col).alias("__n"),
                           F.col(comm_col).alias("__c"))
    e = (edges.select(F.col(src).cast("string").alias("u"),
                      F.col(dst).cast("string").alias("v"))
         .where(F.col("u") != F.col("v"))
         .select(F.least("u", "v").alias("u"),
                 F.greatest("u", "v").alias("v"))
         .distinct())
    m_row = e.agg(F.count(F.lit(1)).cast("bigint").alias("__m"))
    cu = c.select(F.col("__n").alias("u"), F.col("__c").alias("cu"))
    cv = c.select(F.col("__n").alias("v"), F.col("__c").alias("cv"))
    tagged = e.join(cu, "u").join(cv, "v")
    intra = (tagged.where(F.col("cu") == F.col("cv"))
             .groupBy(F.col("cu").alias("comm"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("m_c")))
    deg = (e.select(F.col("u").alias("__n"))
           .unionAll(e.select(F.col("v").alias("__n")))
           .groupBy("__n").agg(F.count(F.lit(1)).alias("__d")))
    dc = (deg.join(c, "__n")
          .groupBy(F.col("__c").alias("comm"))
          .agg(F.sum("__d").cast("bigint").alias("d_c")))
    out = (dc.join(intra, "comm", "left")
           .withColumn("m_c", F.coalesce("m_c", F.lit(0).cast("bigint")))
           .crossJoin(F.broadcast(m_row)))
    two_m = F.col("__m").cast("double") * 2.0
    return out.select(
        "comm", "m_c", "d_c",
        (F.col("m_c").cast("double") / F.col("__m").cast("double")
         - (F.col("d_c").cast("double") / two_m)
         * (F.col("d_c").cast("double") / two_m)).alias("q_c"))


def personalized_pagerank(edges: DataFrame, seeds: list,
                          src: str = "src", dst: str = "dst",
                          iters: int = 10,
                          damping: float = 0.85) -> DataFrame:
    """Random walk with restart (personalized PageRank): the teleport
    mass returns to the SEED SET instead of the uniform vector —
    "importance relative to these hosts", the crawl-frontier
    prioritizer and topical-slice weigher global pagerank can't give.

        r_0(v)     = s(v)
        r_{t+1}(v) = (1-d)·s(v) + d·(Σ_{u→v} r_t(u)/outdeg(u)
                                      + D_t·s(v))

    with s(v) = 1/|S| on seeds, 0 elsewhere; dangling mass D_t restarts
    at the seeds, so Σ r stays exactly 1 each round. Output: (id, ppr).

    Scale shape is pagerank's (see above): edges hash-partitioned on
    src ONCE and checkpointed, per-round shuffle volume O(nodes) not
    O(edges); the seed indicator is a literal IN-predicate column on
    the checkpointed node table — no seed-table join per round;
    dangling mass is a 1-row broadcast. Seeds must be a small literal
    list (a frontier batch), not a DataFrame — that variant would put
    a |S|-sized join inside the loop.
    """
    if not seeds:
        raise ValueError("seeds must be a non-empty list of node ids")
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
         .where(F.col(src) != F.col(dst))
         .distinct()
         .repartition(F.col("a"))
         .localCheckpoint(eager=True))
    sv = F.when(F.col("id").isin(list(seeds)),
                F.lit(1.0 / len(seeds))).otherwise(F.lit(0.0))
    nodes = (e.select(F.col("a").alias("id"))
             .union(e.select(F.col("b").alias("id")))
             .distinct()
             .join(e.groupBy(F.col("a").alias("id"))
                   .agg(F.count("*").alias("outdeg")), "id", "left")
             .withColumn("sv", sv)
             .repartition(F.col("id"))
             .localCheckpoint(eager=True))

    ranks = nodes.withColumn("rank", F.col("sv"))
    for _ in range(iters):
        contrib = (e.join(ranks.where(F.col("outdeg").isNotNull())
                          .select(F.col("id").alias("a"),
                                  (F.col("rank") / F.col("outdeg"))
                                  .alias("share")), "a")
                   .groupBy(F.col("b").alias("id"))
                   .agg(F.sum("share").alias("contrib")))
        dang = (ranks.where(F.col("outdeg").isNull())
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                     .alias("dang")))
        ranks = (nodes.join(contrib, "id", "left")
                 .crossJoin(F.broadcast(dang))
                 .select("id", "outdeg", "sv",
                         (F.lit(1.0 - damping) * F.col("sv")
                          + F.lit(damping)
                          * (F.coalesce(F.col("contrib"), F.lit(0.0))
                             + F.col("dang") * F.col("sv")))
                         .alias("rank"))
                 .localCheckpoint(eager=True))
    return ranks.select("id", F.col("rank").alias("ppr"))


def ktruss_edges(edges: DataFrame, k: int = 3,
                 rounds: int = 5, src: str = "src",
                 dst: str = "dst") -> DataFrame:
    """k-truss of the undirected simple graph: the maximal subgraph
    where every edge closes at least k-2 triangles — the standard
    community-core sharper than k-core (Cohen 2008). Iterative peel:
    count per-edge triangle support, drop edges under k-2, recount.

    -> (u, v, support) for surviving edges with their FINAL support.

    Fully declarative fixed-round form: exactly ``rounds`` peels with
    no driver-side convergence action (a converged graph makes the
    remaining rounds no-ops, so results at round R equal the fixpoint
    whenever R >= the peel depth — the SCC/k-core round-budget
    discipline). Per round: triangles enumerate ONCE each through the
    (a<b<c) smallest-vertex wedge join (two equi-joins over the u<v
    canonical edge list), explode to their 3 edges, one algebraic
    support count, one semijoin filter; lineage truncated per round
    with an eager localCheckpoint.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = (edges.select(F.col(src).cast("string").alias("a"),
                      F.col(dst).cast("string").alias("b"))
         .where(F.col("a") != F.col("b"))
         .select(F.least("a", "b").alias("u"),
                 F.greatest("a", "b").alias("v"))
         .distinct()
         .localCheckpoint(eager=True))

    def support(ed: DataFrame) -> DataFrame:
        w1 = ed.select(F.col("u").alias("a"), F.col("v").alias("b"))
        w2 = ed.select(F.col("u").alias("a"), F.col("v").alias("c"))
        tri = (w1.join(w2, "a")
               .where(F.col("b") < F.col("c"))
               .join(ed.select(F.col("u").alias("b"),
                               F.col("v").alias("c")), ["b", "c"]))
        sides = tri.select(F.col("a").alias("u"), F.col("b").alias("v")) \
            .unionAll(tri.select(F.col("a").alias("u"),
                                 F.col("c").alias("v"))) \
            .unionAll(tri.select(F.col("b").alias("u"),
                                 F.col("c").alias("v")))
        return (sides.groupBy("u", "v")
                .agg(F.count(F.lit(1)).cast("bigint").alias("support")))

    thresh = int(k) - 2
    for _ in range(rounds):
        sup = support(e)
        e = (e.join(sup, ["u", "v"], "left")
             .where(F.coalesce(F.col("support"), F.lit(0)) >= thresh)
             .select("u", "v")
             .localCheckpoint(eager=True))
    final = support(e)
    return (e.join(final, ["u", "v"], "left")
            .select("u", "v",
                    F.coalesce(F.col("support"),
                               F.lit(0).cast("bigint")).alias("support")))
