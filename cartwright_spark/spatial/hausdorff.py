"""Discrete Hausdorff distance join between trajectories / point sets.

H(A, B) = max( h(A->B), h(B->A) ),  h(A->B) = max_{p in A} min_{q in B} d(p, q)

— the classic set-similarity measure for GPS tracks, contours, and
shape outlines ("every point of A has a B point nearby, and vice
versa"). This operator returns every unordered pair of trajectories
with H <= max_dist, plus the exact squared distance.

Exactness: distances are squared planar degree-space sums
(dlat^2 + dlon^2) — pure products and sums of input doubles, so the
min/max cascade is bit-exact in any engine (no sqrt until the caller
wants one; sqrt is monotone so thresholding the square is faithful).

Plan (the 100 TB audit):
1. `distinct` points per trajectory (one shuffle; Hausdorff is a set
   measure, duplicates are pure waste).
2. Per-trajectory bounding boxes (one partial-agg shuffle; the bbox
   table has one row per trajectory, ~10^6 at fleet scale vs 10^11
   points).
3. Candidate pairs by coarse-grid bucketing of bboxes: cells of side
   `max_dist`; the lower-id side indexes its bbox EXPANDED by
   max_dist, the other its raw bbox. Completeness: every pair with
   H <= max_dist has L-inf bbox gap <= max_dist (all cross distances
   are >= the box gap, and h(A->B) is one of them), so the expanded
   box overlaps the other box and both cover every grid cell they
   intersect -> they share a cell. Never an all-pairs bbox product.
4. Exact refine: candidates x A-points x B-points through two
   hash joins; the per-(pair, a-point) MIN and per-pair MAX both
   combine map-side, so the shuffled volume is candidate_pairs x |A|
   rows, not the raw cross product. The |A| x |B| join output is the
   inherent cost of the EXACT discrete Hausdorff — it exists only for
   bbox-close pairs, and AQE splits any hot trajectory's key.

Degenerate/edge semantics: a trajectory is its distinct point set;
single-point trajectories work (h = the one min); self-pairs excluded;
output is symmetric canonical (id_a < id_b).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def hausdorff_join(pts: DataFrame, id_col: str = "traj_id",
                   lat_col: str = "lat", lon_col: str = "lon",
                   max_dist: float = 1.0, refine: str = "auto",
                   kernel_max_pts: int = 1_000_000) -> DataFrame:
    """All unordered trajectory pairs with discrete Hausdorff distance
    <= ``max_dist`` (degree-space planar): -> (id_a, id_b,
    hausdorff_sq) with hausdorff_sq = H^2 exact.

    ``refine`` picks the exact-refine engine (identical results,
    bit-identical IEEE arithmetic):
    * ``"dataframe"`` — the original pure-JVM min/max cascade. The
      candidate x |A| x |B| join OUTPUT is materialized as rows
      through a hash aggregate: robust at any trajectory length, but
      ~10^10 row-ops at 40x2.4k-point fleets.
    * ``"kernel"`` — per-pair chunked numpy inside mapInPandas (the
      dtw_pairs gather shape): trajectories collect to coordinate
      arrays ONCE, each candidate pair computes blockwise
      (256 x |B|) distance minima with vectorized float64 — the same
      subtract/square/add/min ops, ~50x the row-at-a-time agg
      throughput. Requires each trajectory to fit a row
      (<= kernel_max_pts points).
    * ``"auto"`` (default) — kernel when the LARGEST trajectory fits
      (one metadata-scale agg on the per-trajectory bbox/count table
      decides — the guarded small-input pattern of
      functions/graph.py `_driver_rows`),
      dataframe otherwise.
    """
    if not (max_dist > 0.0):
        raise ValueError("hausdorff_join: max_dist must be > 0")
    if refine not in ("auto", "kernel", "dataframe"):
        raise ValueError("refine must be auto|kernel|dataframe")
    d = float(max_dist)
    d2 = d * d

    p = (pts.select(F.col(id_col).alias("tid"),
                    F.col(lat_col).cast("double").alias("lat"),
                    F.col(lon_col).cast("double").alias("lon"))
         .where(F.col("lat").isNotNull() & F.col("lon").isNotNull())
         .distinct()
         .localCheckpoint(eager=True))          # reused 3x below

    bbox = p.groupBy("tid").agg(
        F.min("lat").alias("lat0"), F.max("lat").alias("lat1"),
        F.min("lon").alias("lon0"), F.max("lon").alias("lon1"),
        F.count(F.lit(1)).alias("npts"))

    def cells(lat0, lat1, lon0, lon1, max_cells: int = 100_000):
        """All grid cells (side = max_dist) intersecting the box. A
        world-spanning bbox with a tiny max_dist would explode the
        cover — fail loudly instead of OOMing an executor (the
        convex-hull _COORD_LIMIT precedent)."""
        cy0, cy1 = F.floor(lat0 / d), F.floor(lat1 / d)
        cx0, cx1 = F.floor(lon0 / d), F.floor(lon1 / d)
        n = (cy1 - cy0 + 1) * (cx1 - cx0 + 1)
        cy0 = F.when(n <= max_cells, cy0).otherwise(F.raise_error(F.concat(
            F.lit("hausdorff_join: bbox/max_dist cover exceeds "
                  f"{max_cells} cells for tid "), F.col("tid").cast("string"),
            F.lit(" — raise max_dist or pre-split the trajectory")))
            .cast("long"))
        return F.explode(F.flatten(F.transform(
            F.sequence(cy0, cy1),
            lambda cy: F.transform(F.sequence(cx0, cx1),
                                   lambda cx: F.struct(cy.alias("cy"),
                                                       cx.alias("cx"))))))

    lo = bbox.select("tid", cells(
        F.col("lat0") - d, F.col("lat1") + d,
        F.col("lon0") - d, F.col("lon1") + d).alias("c"))
    hi = bbox.select("tid", cells(
        F.col("lat0"), F.col("lat1"),
        F.col("lon0"), F.col("lon1")).alias("c"))
    cand = (lo.alias("l")
            .join(hi.alias("r"),
                  (F.col("l.c") == F.col("r.c"))
                  & (F.col("l.tid") < F.col("r.tid")))
            .select(F.col("l.tid").alias("ta"), F.col("r.tid").alias("tb"))
            .distinct())

    if refine == "auto":
        # metadata-scale decision: one row per trajectory in bbox
        mx = bbox.agg(F.max("npts").alias("m")).collect()[0]["m"] or 0
        refine = "kernel" if mx <= int(kernel_max_pts) else "dataframe"
    if refine == "kernel":
        return _kernel_refine(p, cand, d2)

    directed = cand.unionByName(
        cand.select(F.col("tb").alias("ta"), F.col("ta").alias("tb")))

    a = p.select(F.col("tid").alias("ta"), F.col("lat").alias("alat"),
                 F.col("lon").alias("alon"))
    b = p.select(F.col("tid").alias("tb"), F.col("lat").alias("blat"),
                 F.col("lon").alias("blon"))
    d2expr = ((F.col("alat") - F.col("blat")) * (F.col("alat") - F.col("blat"))
              + (F.col("alon") - F.col("blon")) * (F.col("alon") - F.col("blon")))
    h_dir = (directed.join(a, "ta").join(b, "tb")
             .groupBy("ta", "tb", "alat", "alon")
             .agg(F.min(d2expr).alias("md"))
             .groupBy("ta", "tb")
             .agg(F.max("md").alias("h")))

    fwd = h_dir.where(F.col("ta") < F.col("tb"))
    rev = h_dir.where(F.col("ta") > F.col("tb")).select(
        F.col("tb").alias("ta"), F.col("ta").alias("tb"),
        F.col("h").alias("h_rev"))
    return (fwd.join(rev, ["ta", "tb"])
            .select(F.col("ta").alias("id_a"), F.col("tb").alias("id_b"),
                    F.greatest("h", "h_rev").alias("hausdorff_sq"))
            .where(F.col("hausdorff_sq") <= F.lit(d2)))


def _kernel_refine(p: DataFrame, cand: DataFrame, d2: float,
                   block: int = 256) -> DataFrame:
    """Exact per-pair Hausdorff in a chunked numpy kernel: coordinate
    arrays gathered once per trajectory, candidate pairs fan out
    through two equi-joins, each pair computes h(A->B) and h(B->A) as
    blockwise (block x |B|) float64 distance minima — the identical
    (da*da + do*do) IEEE arithmetic as the DataFrame cascade, so
    results are bit-equal. Peak kernel memory is block x max|B| x 8 B
    per task, independent of |A|."""
    seqs = (p.groupBy("tid")
            .agg(F.collect_list("lat").alias("lats"),
                 F.collect_list("lon").alias("lons")))
    j = (cand
         .join(seqs.select(F.col("tid").alias("ta"),
                           F.col("lats").alias("alats"),
                           F.col("lons").alias("alons")), "ta")
         .join(seqs.select(F.col("tid").alias("tb"),
                           F.col("lats").alias("blats"),
                           F.col("lons").alias("blons")), "tb")
         .select("ta", "tb", "alats", "alons", "blats", "blons"))

    id_type = dict(j.dtypes)["ta"]
    schema = f"id_a {id_type}, id_b {id_type}, hausdorff_sq double"

    def kernel(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                alat = np.asarray(r.alats, dtype=np.float64)
                alon = np.asarray(r.alons, dtype=np.float64)
                blat = np.asarray(r.blats, dtype=np.float64)
                blon = np.asarray(r.blons, dtype=np.float64)

                def h_dir(xlat, xlon, ylat, ylon):
                    worst = 0.0
                    for s in range(0, len(xlat), block):
                        da = xlat[s:s + block, None] - ylat[None, :]
                        do = xlon[s:s + block, None] - ylon[None, :]
                        m = (da * da + do * do).min(axis=1).max()
                        if m > worst:
                            worst = float(m)
                    return worst

                h = max(h_dir(alat, alon, blat, blon),
                        h_dir(blat, blon, alat, alon))
                if h <= d2:
                    out.append((r.ta, r.tb, h))
            yield pd.DataFrame(out, columns=["id_a", "id_b",
                                             "hausdorff_sq"])

    return j.mapInPandas(kernel, schema)
