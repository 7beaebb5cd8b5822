"""Spatial autocorrelation: global + local Moran's I over grid cells.

Reference scope note: cartwright has no spatial-statistics layer (its
geo work stops at per-column classification, see reference
cartwright/categorize.py); this module is engine scope from the brief's
geospatial tier — the canonical "is this map clustered or dispersed?"
statistic over the same cell rollups the tiling layer (spatial/tiles.py,
s2.py, h3.py) produces.

Statistic (binary 8-neighbour contiguity weights over OCCUPIED cells,
longitude-wrapped):

    I       = (n / W) * sum_i (x_i - m)(s_i - deg_i * m) / sum_i (x_i - m)^2
    local_i = ((x_i - m) / m2) * (s_i - deg_i * m),   m2 = sum (x-m)^2 / n

where x_i is the cell's point count, s_i the sum of occupied-neighbour
counts, deg_i the occupied-neighbour count, m the mean count, W = sum deg.
The identity sum_ij w_ij (x_i-m)(x_j-m) = sum_i (x_i-m)(s_i - deg_i*m)
lets every input to the float math be an EXACT BIGINT aggregate
(sum x, sum x^2, sum x*s, sum x*deg, sum s, sum deg, n): the doubles are
then a single deterministic expression over exact integers, emitted from
ONE generator (`moran_global_sql` / `moran_local_sql`) into both the
Spark plan and the DuckDB oracle — no float-sum ordering anywhere.

Scale shape (the 100 TB audit):
  1. points -> cell counts: one shuffle with map-side partial agg; the
     output cardinality is bounded by the GRID (36*72 cells at 5 deg,
     ~8.4e6 at 0.25 deg), not the corpus — the classic rollup contract.
  2. occupied-cell 8-neighbour join: equi-join on (row, col) after a
     bounded 8-way explode of the CELL table (never the points). The
     cell table is grid-bounded, so AQE broadcasts it at coarse
     resolutions; at fine resolutions it is a plain shuffle equi-join
     with fan-out exactly 8.
  3. one global agg to a 1-row stats frame, broadcast back.
No driver paths, no cartesian, nothing proportional to the corpus after
step 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_OFFS = [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)
         if (dr, dc) != (0, 0)]


def moran_global_sql() -> str:
    """Global Moran's I as one expression over the exact BIGINT
    aggregates n_cells/w/sx/sxx/ss/sxs/sxd (columns of the 1-row stats
    frame). Same text runs in Spark and DuckDB — one generator, two
    engines. NULL (via nullif) when W or the variance is zero."""
    xbar = "(CAST(sx AS DOUBLE) / CAST(n_cells AS DOUBLE))"
    num = (f"(CAST(sxs AS DOUBLE) - {xbar} * CAST(ss AS DOUBLE)"
           f" - {xbar} * CAST(sxd AS DOUBLE)"
           f" + {xbar} * {xbar} * CAST(w AS DOUBLE))")
    den = (f"(CAST(sxx AS DOUBLE) - 2.0 * {xbar} * CAST(sx AS DOUBLE)"
           f" + CAST(n_cells AS DOUBLE) * {xbar} * {xbar})")
    return (f"(CAST(n_cells AS DOUBLE) / CAST(nullif(w, 0) AS DOUBLE))"
            f" * ({num} / nullif({den}, 0.0))")


def moran_local_sql() -> str:
    """Local Moran's I_i over per-cell columns x/deg/s plus the stats
    columns; same one-generator contract as `moran_global_sql`."""
    xbar = "(CAST(sx AS DOUBLE) / CAST(n_cells AS DOUBLE))"
    m2 = (f"((CAST(sxx AS DOUBLE) - 2.0 * {xbar} * CAST(sx AS DOUBLE)"
          f" + CAST(n_cells AS DOUBLE) * {xbar} * {xbar})"
          f" / CAST(n_cells AS DOUBLE))")
    return (f"((CAST(x AS DOUBLE) - {xbar}) / nullif({m2}, 0.0))"
            f" * (CAST(s AS DOUBLE) - CAST(deg AS DOUBLE) * {xbar})")


def cell_counts(points: DataFrame, lat_col: str = "lat",
                lon_col: str = "lon", cell_deg: float = 5.0) -> DataFrame:
    """points -> (cell_row, cell_col, x): one partial-agg'd shuffle,
    output bounded by the grid."""
    r = F.floor((F.col(lat_col) + F.lit(90.0)) / F.lit(float(cell_deg)))
    c = F.floor((F.col(lon_col) + F.lit(180.0)) / F.lit(float(cell_deg)))
    return (points
            .select(r.cast("bigint").alias("cell_row"),
                    c.cast("bigint").alias("cell_col"))
            .groupBy("cell_row", "cell_col")
            .agg(F.count(F.lit(1)).alias("x")))


def neighbour_stats(cells: DataFrame, cell_deg: float = 5.0,
                    include_sq: bool = False) -> DataFrame:
    """(cell_row, cell_col, x) -> + (deg, s[, q]): occupied 8-neighbour
    count, neighbour-x sum, and (with ``include_sq``) neighbour-x^2 sum
    `q` (the extra moment local Geary needs), longitude-wrapped.
    Explodes the CELL table 8x (grid-bounded), never the points."""
    ncols = int(round(360.0 / float(cell_deg)))
    off_arr = "array(" + ",".join(
        f"named_struct('dr', {dr}L, 'dc', {dc}L)" for dr, dc in _OFFS) + ")"
    probes = (cells
              .select("cell_row", "cell_col",
                      F.explode(F.expr(off_arr)).alias("o"))
              .select("cell_row", "cell_col",
                      (F.col("cell_row") + F.col("o.dr")).alias("nr"),
                      F.expr(f"((cell_col + o.dc) % {ncols} + {ncols})"
                             f" % {ncols}").alias("nc")))
    nbr = cells.select(F.col("cell_row").alias("nr"),
                       F.col("cell_col").alias("nc"),
                       F.col("x").alias("nx"))
    hits = (probes.join(nbr, ["nr", "nc"], "inner")
            .groupBy("cell_row", "cell_col")
            .agg(F.count(F.lit(1)).alias("deg"), F.sum("nx").alias("s"),
                 F.sum(F.col("nx") * F.col("nx")).alias("q")))
    out = (cells.join(hits, ["cell_row", "cell_col"], "left")
           .select("cell_row", "cell_col", "x",
                   F.coalesce("deg", F.lit(0)).cast("bigint").alias("deg"),
                   F.coalesce("s", F.lit(0)).cast("bigint").alias("s"),
                   F.coalesce("q", F.lit(0)).cast("bigint").alias("q")))
    if not include_sq:
        out = out.drop("q")
    return out


def morans_i(points: DataFrame, lat_col: str = "lat", lon_col: str = "lon",
             cell_deg: float = 5.0) -> DataFrame:
    """Per-cell Moran frame: (cell_row, cell_col, x, deg, s, local_i,
    morans_i) — `morans_i` is the global statistic repeated on every row
    (broadcast of a 1-row stats frame), `local_i` the cell's LISA term."""
    per_cell = neighbour_stats(
        cell_counts(points, lat_col, lon_col, cell_deg), cell_deg)
    stats = per_cell.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("deg").alias("w"),
        F.sum("s").alias("ss"),
        F.sum(F.col("x") * F.col("s")).alias("sxs"),
        F.sum(F.col("x") * F.col("deg")).alias("sxd"))
    return (per_cell.crossJoin(F.broadcast(stats))
            .select("cell_row", "cell_col", "x", "deg", "s",
                    F.expr(moran_local_sql()).alias("local_i"),
                    F.expr(moran_global_sql()).alias("morans_i")))


def geary_global_sql() -> str:
    """Global Geary's C (Geary 1954) as one expression over the exact
    BIGINT aggregates. With binary symmetric weights the double sum
    collapses to integer moments:

        sum_ij w_ij (x_i - x_j)^2 = 2 * (sxxd - sxs)
        C = ((n-1)/(2W)) * 2(sxxd - sxs) / (sxx - sx^2/n)

    (sxxd = sum x^2*deg, sxs = sum x*s, via sum_i q_i = sxxd for
    symmetric weights). NULL when W or the variance is zero — the same
    one-generator/two-engines contract as `moran_global_sql`."""
    den = ("(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
           " / CAST(n_cells AS DOUBLE))")
    return (f"((CAST(n_cells AS DOUBLE) - 1.0)"
            f" / CAST(nullif(w, 0) AS DOUBLE))"
            f" * ((CAST(sxxd AS DOUBLE) - CAST(sxs AS DOUBLE))"
            f" / nullif({den}, 0.0))")


def geary_local_sql() -> str:
    """Local Geary c_i = sum_{j in N(i)} (x_i - x_j)^2 / m2 with
    m2 = sum (x - m)^2 / n (Anselin 1995 local-Geary form on raw
    counts): the per-cell numerator expands to exact integers
    deg*x^2 - 2*x*s + q."""
    m2 = ("((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
          " / CAST(n_cells AS DOUBLE)) / CAST(n_cells AS DOUBLE))")
    num = ("(CAST(deg AS DOUBLE) * CAST(x AS DOUBLE) * CAST(x AS DOUBLE)"
           " - 2.0 * CAST(x AS DOUBLE) * CAST(s AS DOUBLE)"
           " + CAST(q AS DOUBLE))")
    return f"({num} / nullif({m2}, 0.0))"


def gearys_c(points: DataFrame, lat_col: str = "lat",
             lon_col: str = "lon", cell_deg: float = 5.0) -> DataFrame:
    """Per-cell Geary frame: (cell_row, cell_col, x, deg, s, q,
    local_c, gearys_c) — Moran's I's rate-of-change companion (C < 1
    clustered, C > 1 dispersed; local c_i flags cells unlike their
    neighbours, which Moran's covariance form can miss when a hot cell
    borders hot cells of very different magnitude). Same scale shape
    as `morans_i`: grid-bounded cell rollup, 8x cell-table explode,
    1-row broadcast stats frame; all float math is single expressions
    over exact BIGINT moments from the shared generators."""
    per_cell = neighbour_stats(
        cell_counts(points, lat_col, lon_col, cell_deg), cell_deg,
        include_sq=True)
    stats = per_cell.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("deg").alias("w"),
        F.sum(F.col("x") * F.col("s")).alias("sxs"),
        F.sum(F.col("x") * F.col("x") * F.col("deg")).alias("sxxd"))
    return (per_cell.crossJoin(F.broadcast(stats))
            .select("cell_row", "cell_col", "x", "deg", "s", "q",
                    F.expr(geary_local_sql()).alias("local_c"),
                    F.expr(geary_global_sql()).alias("gearys_c")))


def gistar_sql() -> str:
    """Getis-Ord Gi* (Ord & Getis 1995) hot/cold-spot z-score per cell,
    binary 8-neighbour + self weights, over the same exact BIGINT
    inputs as Moran's I (per-cell x/deg/s, stats n_cells/sx/sxx):

        Gi* = (s_i* - xbar*W_i) / (S * sqrt((n*W_i - W_i^2)/(n-1)))

    with s_i* = s + x (self included), W_i = deg + 1, S the population
    std-dev. One generator, two engines; NULL when n = 1 or S = 0."""
    n = "CAST(n_cells AS DOUBLE)"
    xbar = f"(CAST(sx AS DOUBLE) / {n})"
    s2 = f"greatest(CAST(sxx AS DOUBLE) / {n} - {xbar} * {xbar}, CAST(0 AS DOUBLE))"
    wi = "CAST(deg + 1 AS DOUBLE)"
    num = f"(CAST(s + x AS DOUBLE) - {xbar} * {wi})"
    den = (f"(sqrt({s2}) * sqrt(({n} * {wi} - {wi} * {wi})"
           f" / CAST(nullif(n_cells - 1, 0) AS DOUBLE)))")
    return f"({num} / nullif({den}, CAST(0 AS DOUBLE)))"


def getis_ord_gistar(points: DataFrame, lat_col: str = "lat",
                     lon_col: str = "lon",
                     cell_deg: float = 5.0) -> DataFrame:
    """Per-cell hotspot frame: (cell_row, cell_col, x, deg, s, gi_star).
    Same scale shape as `morans_i` (see module docstring): one grid-
    bounded rollup, one 8-way cell explode + equi-join, one 1-row stats
    broadcast — nothing proportional to the corpus after step 1."""
    return gistar_from_cells(
        cell_counts(points, lat_col, lon_col, cell_deg), cell_deg)


def gistar_from_cells(cells: DataFrame, cell_deg: float = 5.0) -> DataFrame:
    """Gi* from an existing (cell_row, cell_col, x) rollup — the
    incremental-maintenance entry point: per-batch cell counts are
    algebraically mergeable (sum by cell), and everything downstream of
    the counts is grid-bounded recomputation. Always the distributed
    plan; `_gistar_driver` is its driver mirror."""
    per_cell = neighbour_stats(cells, cell_deg)
    stats = per_cell.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"))
    return (per_cell.crossJoin(F.broadcast(stats))
            .select("cell_row", "cell_col", "x", "deg", "s",
                    F.expr(gistar_sql()).alias("gi_star")))


def _gistar_driver(rows, cell_deg: float) -> list[tuple]:
    """Driver mirror of neighbour_stats + gistar_sql. Its one caller is
    the pipeline's tile stage, which counts nothing: it takes this leg
    when the static bound 4^zoom <= 300k caps the tile rollup's rows.
    Every aggregate is an exact Python int (arbitrary precision,
    so it can only be MORE exact than the distributed BIGINT path —
    identical below 2^63), and the final float expression replays
    gistar_sql() operation-for-operation in IEEE doubles, so the result
    is bit-identical to the distributed plan."""
    ncols = int(round(360.0 / float(cell_deg)))
    occ = {(r["cell_row"], r["cell_col"]): r["x"] for r in rows}
    n_cells = len(occ)
    sx = 0
    sxx = 0
    for x in occ.values():
        sx += x
        sxx += x * x
    n_d = float(n_cells)
    xbar = float(sx) / n_d
    s2 = max(float(sxx) / n_d - xbar * xbar, 0.0)
    import math
    sqrt_s2 = math.sqrt(s2)
    out = []
    for (r, c), x in occ.items():
        deg = 0
        s = 0
        for dr, dc in _OFFS:
            nx = occ.get((r + dr, (c + dc) % ncols))
            if nx is not None:
                deg += 1
                s += nx
        if n_cells - 1 == 0:
            gi = None
        else:
            wi = float(deg + 1)
            num = float(s + x) - xbar * wi
            den = sqrt_s2 * math.sqrt(
                (n_d * wi - wi * wi) / float(n_cells - 1))
            gi = None if den == 0.0 else num / den
        out.append((int(r), int(c), int(x), deg, s, gi))
    return out


def ripley_k(points: DataFrame, lat_col: str = "lat",
             lon_col: str = "lon", cell_deg: float = 5.0,
             k: int = 3) -> DataFrame:
    """Ripley's K function, grid approximation (Ripley 1976): for each
    squared cell distance d2 <= k^2, count ORDERED point pairs whose
    cells differ by an offset of that length, cumulate over growing
    radius, and normalize by grid area over n(n-1):

        K_hat(d2) = (n_rows * n_cols / (n * (n-1))) * cum_pairs(d2)

    Pair counts come from the CELL table: for each offset (dr, dc) in
    the stencil, sum over cells of x(c) * x(c + offset) — and x*(x-1)
    at offset zero (no self-pairs). All counts are EXACT BIGINTs; the
    K values are one double division each.

    Scale shape: one corpus rollup to cells, one (2k+1)^2-bounded
    offset explode + equi-join of the CELL table, one ring rollup
    bounded by the number of distinct d2 values, and a tiny cumulative
    window. -> (d2, pairs_at, cum_pairs, k_hat) ordered by d2."""
    from pyspark.sql import Window
    ncols = int(round(360.0 / float(cell_deg)))
    nrows = int(round(180.0 / float(cell_deg)))
    if 2 * k + 1 > ncols:
        raise ValueError(
            f"ripley_k: stencil 2*k+1={2 * k + 1} exceeds the "
            f"{ncols}-column grid at cell_deg={cell_deg}")
    cells = cell_counts(points, lat_col, lon_col, cell_deg)
    offs = [(dr, dc) for dr in range(-k, k + 1) for dc in range(-k, k + 1)
            if dr * dr + dc * dc <= k * k]
    off_arr = "array(" + ",".join(
        f"named_struct('dr', {dr}L, 'dc', {dc}L)" for dr, dc in offs) + ")"
    probes = (cells
              .select("cell_row", "cell_col", "x",
                      F.explode(F.expr(off_arr)).alias("o"))
              .select("x",
                      (F.col("o.dr") * F.col("o.dr")
                       + F.col("o.dc") * F.col("o.dc")).alias("d2"),
                      (F.col("cell_row") + F.col("o.dr")).alias("nr"),
                      F.expr(f"((cell_col + o.dc) % {ncols} + {ncols})"
                             f" % {ncols}").alias("nc")))
    nbr = cells.select(F.col("cell_row").alias("nr"),
                       F.col("cell_col").alias("nc"),
                       F.col("x").alias("nx"))
    rings = (probes.join(nbr, ["nr", "nc"])
             .groupBy("d2")
             .agg(F.sum(F.when(F.col("d2") == 0,
                               F.col("x") * (F.col("nx") - 1))
                        .otherwise(F.col("x") * F.col("nx")))
                  .cast("bigint").alias("pairs_at")))
    n1 = cells.agg(F.sum("x").cast("bigint").alias("n"))
    w = Window.orderBy("d2").rowsBetween(Window.unboundedPreceding,
                                         Window.currentRow)
    cum = rings.select("d2", "pairs_at",
                       F.sum("pairs_at").over(w).cast("bigint")
                       .alias("cum_pairs"))
    area = float(nrows * ncols)
    return (cum.crossJoin(F.broadcast(n1))
            .select("d2", "pairs_at", "cum_pairs",
                    F.expr(f"CAST({area} AS DOUBLE)"
                           " * CAST(cum_pairs AS DOUBLE)"
                           " / nullif(CAST(n AS DOUBLE)"
                           " * CAST(n - 1 AS DOUBLE), CAST(0 AS DOUBLE))")
                    .alias("k_hat")))
