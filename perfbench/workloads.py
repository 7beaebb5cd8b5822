"""The two workloads: inputs from the seed, one timed pass, output checks.

Every workload is a list of ops; a pass runs each op once (the
pipeline's one op is a ``run_pipeline`` rep). ``setup`` builds the inputs
``SETUP_BUILDS`` times (the timed ops use the last build; ``build_s``
and ``build_cpu_s`` keep each build's wall and CPU time) and warms up,
untimed; ``run_pass`` times one pass (returning per-op latencies), and
``check`` verifies the outputs of every timed op outside the timed
region.
"""

from __future__ import annotations

import importlib.util
import inspect
import os
import random
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import datagen, procstat
from perfbench.trace import Tracer

# Contract queries timed by the `queries` workload: Cartwright's column
# classification, the slowest query of each spatial join and tiling
# module (PIP, distance join, raster cover, kNN), and the iterative
# connected-components loop, whose time is mostly driver-side. The list
# is a fixed slice of the contract so that the cold warm-up pass and one
# timed pass fit the run budget; the seed changes the data and the order,
# never the list.
QUERIES = ("cartwright_categorize", "j6_pip_boxes", "radius_join",
           "rasterize_polygons", "knn_hex", "connected_components")

SETUP_BUILDS = 3             # input builds per run; setup_s takes the median
PIPELINE_PAGES = 2000        # pages per rep: the seed keeps half of 4,000
WARMUP_REPS = 2              # untimed pipeline reps before the timed one
PIPELINE_ARGS = {"s2_level": 10, "h3_res": 6, "zoom": 8}
# pipeline stage table -> layer that owns its write
STAGE_LAYER = {"extracted": "operators.extract",
               "detections": "operators.detect",
               "cells": "spatial.cells",
               "tile_counts": "spatial.autocorr"}


def timed_builds(build) -> tuple[list[float], list[float]]:
    """Call ``build(i)`` for each of the SETUP_BUILDS builds; return the
    wall seconds and the process tree's CPU seconds of each."""
    walls, cpus = [], []
    for i in range(SETUP_BUILDS):
        t, c = time.perf_counter(), procstat.tree_cpu_s()
        build(i)
        walls.append(time.perf_counter() - t)
        cpus.append(procstat.tree_cpu_s() - c)
    return walls, cpus


def load_entry(root: str):
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(root, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def query_module(fn, root: str) -> str:
    """Engine module of a contract query: its first non-``sources`` import,
    as parsed by scripts/gen_operators_md.py, else the entry itself."""
    sys.path.insert(0, os.path.join(root, "scripts"))
    from gen_operators_md import _imports

    mods = []
    for entry in _imports(inspect.getsource(fn)):
        mod, name = entry.split(":")
        name = name.split(" as ")[0]
        sub = os.path.join(root, "cartwright_spark", *mod.split("."),
                           name + ".py")
        mods.append(f"{mod}.{name}" if os.path.isfile(sub) else mod)
    engine = [m for m in mods if not m.startswith("sources")]
    return (engine or mods or ["__spark_entry__"])[0]


class Queries:
    """One pass runs every query in QUERIES once, in a seeded order."""

    def __init__(self, spark, root: str, work: str, tracer: Tracer):
        self.spark, self.root, self.work, self.tracer = \
            spark, root, work, tracer
        self.results: list[tuple[str, object]] = []
        self.setup_parts: dict[str, float] = {}
        self.warm_s: dict[str, list[float]] = {}
        self.op_s: dict[str, list[float]] = {q: [] for q in QUERIES}
        t = time.perf_counter()
        self.entry = load_entry(root)
        self.setup_parts["spark_entry.import_s"] = time.perf_counter() - t

    def setup(self, seed: int) -> None:
        def build(i):
            self.sf_dir = datagen.write(os.path.join(self.work, f"sf{i}"),
                                        seed)
        self.build_s, self.build_cpu_s = timed_builds(build)
        self.setup_parts["inputs.generate_s"] = \
            statistics.median(self.build_s)
        self.queries = self.entry.queries()
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        self.layer = {q: query_module(self.queries[q], self.root)
                      for q in self.order}
        # warm-up pass, untimed and unchecked: the queries run at once, so
        # their cold starts (plan compilation, Python imports in the
        # workers) overlap; that halves the warm-up of a sequential pass
        t0 = time.perf_counter()
        with ThreadPoolExecutor(len(self.order)) as pool:
            for q, s in zip(self.order, pool.map(self._cold, self.order)):
                self.warm_s[q] = [s]
        self.setup_parts["warmup_s"] = time.perf_counter() - t0

    def _cold(self, q: str) -> float:
        t = time.perf_counter()
        try:
            self.queries[q](self.spark, self.sf_dir).toPandas()
        except Exception:  # noqa: BLE001 - a failing op shows in check
            pass
        return time.perf_counter() - t

    def ops(self) -> int:
        return len(self.order)

    def run_pass(self) -> list[float]:
        lat = []
        for q in self.order:
            t = time.perf_counter()
            with self.tracer.span(self.layer[q], op=q):
                try:
                    res = self.queries[q](self.spark, self.sf_dir).toPandas()
                except Exception as e:  # noqa: BLE001 - counted as failed
                    res = e
            lat.append(time.perf_counter() - t)
            self.op_s[q].append(lat[-1])
            self.results.append((q, res))
        return lat

    def check(self) -> tuple[int, list[str]]:
        """Hash each timed result against its DuckDB oracle."""
        import duckdb
        sys.path.insert(0, os.path.join(self.root, "scripts"))
        from check_oracles import value_hash

        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{self.sf_dir}/{t}.parquet')")
        oracles = self.entry.oracle_sql()
        want: dict[str, object] = {}
        bad = []
        for q, res in self.results:
            if q not in want:
                try:
                    odf = con.execute(oracles[q]).fetchdf()
                    want[q] = (len(odf), sorted(odf.columns),
                               value_hash(odf))
                except Exception as e:  # noqa: BLE001
                    want[q] = e
            w = want[q]
            if isinstance(res, Exception):
                bad.append(f"{q}: {type(res).__name__}: {res}"[:300])
            elif isinstance(w, Exception):
                bad.append(f"{q}: oracle {type(w).__name__}: {w}"[:300])
            elif (len(res), sorted(res.columns), value_hash(res)) != w:
                bad.append(f"{q}: result differs from its oracle")
        return len(self.results), bad


class Pipeline:
    """``run_pipeline`` over a pre-committed pages snapshot.

    Each rep copies the pages-only catalog into a fresh directory, so the
    rep runs extract, detect, cells and tiles and makes their four
    snapshot commits. A pass is one rep. The warm-up is two reps like the
    timed ones: the first loads the classes, compiles the plans and starts
    the Python workers; during the second the JIT is still compiling, and
    a rep timed right after the first one moves more from run to run, in
    CPU time too (see README.md)."""

    def __init__(self, spark, root: str, work: str, tracer: Tracer):
        self.spark, self.root, self.work, self.tracer = \
            spark, root, work, tracer
        self.reps: list[str] = []
        self.errors: list[str] = []
        self.setup_parts: dict[str, float] = {}
        self.warm_s: dict[str, list[float]] = {"run_pipeline": []}
        self.op_s: dict[str, list[float]] = {"run_pipeline": []}
        if tracer.sc is not None:
            self._instrument()

    def _instrument(self) -> None:
        """Span every catalog write and load (traced runs only): a stage's
        jobs run inside its ``write_table``, so they land in its layer."""
        from cartwright_spark.sources.iceberg_lite import Catalog

        write, load, tracer = Catalog.write_table, Catalog.load_table, \
            self.tracer

        def write_table(cat, df, name, *args, **kw):
            with tracer.span(STAGE_LAYER.get(name, "sources.iceberg_lite"),
                             op="write_table", table=name):
                return write(cat, df, name, *args, **kw)

        def load_table(cat, *args, **kw):
            with tracer.span("sources.iceberg_lite", op="load_table"):
                return load(cat, *args, **kw)

        Catalog.write_table, Catalog.load_table = write_table, load_table

    def _commit_pages(self, seed: int, dest: str) -> None:
        """The seed's pages: the half of a fixed 2n-page corpus whose url
        hashes even under the seed, committed as a pages-only catalog."""
        from pyspark.sql import functions as F

        from cartwright_spark.plans.pipeline import TIME_PARTITION
        from cartwright_spark.sources.corpus import generate_pages
        from cartwright_spark.sources.iceberg_lite import Catalog

        n = PIPELINE_PAGES
        pages = (generate_pages(self.spark, 2 * n)
                 .where(F.xxhash64("url", F.lit(seed)) % 2 == 0)
                 .withColumn("warc_part", TIME_PARTITION["year"]()))
        # the stage key run_pipeline looks up; a mismatch makes the rep
        # regenerate pages, which _rep reports as a failed rep
        snap = Catalog(dest).write_table(
            pages, "pages", stage="pages",
            stage_key=f"pages:n={n}:tp=year:v2",
            partition_by=["warc_part"], files_per_partition=4)
        self.pages = snap["row_count"]

    def setup(self, seed: int) -> None:
        def build(i):
            self.template = os.path.join(self.work, f"template{i}")
            self._commit_pages(seed, self.template)
        self.build_s, self.build_cpu_s = timed_builds(build)
        self.setup_parts["sources.corpus.generate_s"] = \
            statistics.median(self.build_s)
        t = time.perf_counter()
        for i in range(WARMUP_REPS):
            try:
                self._rep(f"warmup{i}", self.warm_s)
            except Exception:  # noqa: BLE001 - timed reps report it
                pass
        self.setup_parts["warmup_s"] = time.perf_counter() - t

    def ops(self) -> int:
        return 1

    def _rep(self, name: str, log: dict[str, list[float]]
             ) -> tuple[str, float]:
        from cartwright_spark.plans.pipeline import run_pipeline

        wd = os.path.join(self.work, name)
        shutil.copytree(self.template, wd)
        t = time.perf_counter()
        with self.tracer.span("plans.pipeline", rep=name):
            summary = run_pipeline(self.spark, wd, n_pages=PIPELINE_PAGES,
                                   **PIPELINE_ARGS)
        wall = time.perf_counter() - t
        log["run_pipeline"].append(wall)
        if not summary["stages"]["pages"]["reused"]:
            raise RuntimeError("run_pipeline did not reuse the committed "
                               "pages snapshot")
        return wd, wall

    def run_pass(self) -> list[float]:
        name = f"rep{len(self.reps) + len(self.errors)}"
        try:
            wd, wall = self._rep(name, self.op_s)
        except Exception as e:  # noqa: BLE001 - counted as failed
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
            wall = float("nan")
        else:
            self.reps.append(wd)
        return [wall]

    def manifests(self, wd: str) -> dict[str, dict]:
        from cartwright_spark.sources.iceberg_lite import Catalog
        cat = Catalog(wd)
        return {t: cat.latest_snapshot(t)
                for t in ["pages", *STAGE_LAYER]}

    def check(self) -> tuple[int, list[str]]:
        bad = list(self.errors)
        for i, wd in enumerate(self.reps):
            msgs = self._check_rep(wd, gistar=i == 0)
            if msgs:  # one entry per failed rep
                bad.append(f"{os.path.basename(wd)}: " + "; ".join(msgs))
        return len(self.reps) + len(self.errors), bad

    def _check_rep(self, wd: str, gistar: bool) -> list[str]:
        import duckdb
        import numpy as np

        m = self.manifests(wd)
        rows = {t: s["row_count"] for t, s in m.items()}
        bad = []
        if rows["extracted"] != rows["pages"]:
            bad.append(f"extracted {rows['extracted']} != pages "
                       f"{rows['pages']}")
        con = duckdb.connect()

        def scan(table):
            return (f"read_parquet('{os.path.join(wd, m[table]['data_dir'])}"
                    f"/**/*.parquet', hive_partitioning=true)")
        n_geo = con.execute(f"SELECT count(*) FROM {scan('detections')} "
                            f"WHERE lat IS NOT NULL").fetchone()[0]
        n_pts = con.execute(f"SELECT sum(n_points) FROM "
                            f"{scan('tile_counts')}").fetchone()[0]
        if not rows["cells"] == n_geo == n_pts:
            bad.append(f"cells {rows['cells']}, detections with lat "
                       f"{n_geo}, sum(n_points) {n_pts} differ")
        diff = con.execute(f"""
            WITH re AS (SELECT tile_id, count(*) AS n_points,
                               min(lat) AS lat_min, max(lat) AS lat_max,
                               min(lon) AS lon_min, max(lon) AS lon_max
                        FROM {scan('cells')} GROUP BY tile_id),
                 got AS (SELECT tile_id, n_points, lat_min, lat_max,
                                lon_min, lon_max FROM {scan('tile_counts')})
            SELECT count(*) FROM (
              (SELECT * FROM re EXCEPT SELECT * FROM got) UNION ALL
              (SELECT * FROM got EXCEPT SELECT * FROM re))""").fetchone()[0]
        if diff:
            bad.append(f"tile_counts differs from a re-aggregation of cells "
                       f"on {diff} rows")
        if gistar:
            from pyspark.sql import functions as F

            from cartwright_spark.spatial.autocorr import gistar_from_cells
            tiles = self.spark.read.parquet(
                os.path.join(wd, m["tile_counts"]["data_dir"]))
            ref = gistar_from_cells(
                tiles.select(F.col("tile_y").alias("cell_row"),
                             F.col("tile_x").alias("cell_col"),
                             F.col("n_points").alias("x")),
                cell_deg=360.0 / (1 << PIPELINE_ARGS["zoom"])).toPandas()
            got = tiles.select("tile_x", "tile_y", "gi_star").toPandas()
            j = got.merge(ref, left_on=["tile_y", "tile_x"],
                          right_on=["cell_row", "cell_col"], how="outer",
                          suffixes=("", "_ref"))
            ok = len(j) == len(got) == len(ref) and np.allclose(
                j["gi_star"].to_numpy(float), j["gi_star_ref"].to_numpy(float),
                rtol=1e-9, atol=1e-12, equal_nan=True)
            if not ok:
                bad.append("gi_star differs from gistar_from_cells")
        return bad


WORKLOADS = {"pipeline": Pipeline, "queries": Queries}
