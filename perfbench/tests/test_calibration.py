"""Calibration of the event-log parser on tiny probes with known answers.

    python3 -m pytest perfbench/tests -q

One local[2] session with the event log on runs four spans, each with a
known answer, then stops so the log is complete, and the tests read the
folded per-layer metrics.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # module-level: pandas_udf resolves the type hints here
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.trace import Tracer, event_log_conf, fold  # noqa: E402

SLEEP_S = 0.4          # per Arrow batch
PARTITIONS = 2
BATCHES = 2            # per partition: rows = 2 x maxRecordsPerBatch
BATCH_ROWS = 1000


@pytest.fixture(scope="module")
def layers(tmp_path_factory):
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from cartwright_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    conf = dict(event_log_conf(log_dir))
    conf["spark.sql.execution.arrow.maxRecordsPerBatch"] = str(BATCH_ROWS)
    conf["spark.ui.showConsoleProgress"] = "false"
    spark = get_spark("perfbench-calibration", master="local[2]",
                      extra_conf=conf)

    @pandas_udf("double")
    def sleepy(x: pd.Series) -> pd.Series:
        time.sleep(SLEEP_S)
        return x * 2.0

    def udf_probe():
        df = spark.range(0, PARTITIONS * BATCHES * BATCH_ROWS,
                         numPartitions=PARTITIONS)
        return df.select(sleepy(F.col("id").cast("double")).alias("y")) \
            .agg(F.sum("y")).collect()

    tracer = Tracer(spark)
    udf_probe()  # starts and warms the Python workers outside any span
    with tracer.span("udf"):
        udf_probe()
    with tracer.span("groupby"):
        spark.range(0, 100_000, numPartitions=4) \
            .groupBy((F.col("id") % 97).alias("k")).count().collect()
    with tracer.span("rdd"):
        rdd = spark.sparkContext.parallelize(range(1000), 3)
        rdd.count()
        rdd.map(lambda v: v + 1).sum()
    with tracer.span("driver"):
        time.sleep(0.5)
    spark.stop()
    return fold(tracer.spans, log_dir)


def test_python_run_time_matches_the_udf_sleep(layers):
    want = PARTITIONS * BATCHES * SLEEP_S
    got = layers["udf"]["python_run_s"]
    # lower bound is exact; the upper allows per-batch Arrow and pandas
    # conversion on a small box
    assert want <= got <= want * 1.5, got
    assert layers["udf"]["python_in_mb"] > 0
    assert layers["udf"]["python_out_mb"] > 0


def test_groupby_writes_shuffle(layers):
    assert layers["groupby"]["shuffle_write_mb"] > 0
    assert layers["groupby"]["shuffle_read_mb"] > 0
    assert layers["groupby"]["python_run_s"] == 0


def test_fixed_plan_has_exact_job_and_task_counts(layers):
    assert layers["rdd"]["jobs"] == 2
    assert layers["rdd"]["tasks"] == 6


def test_span_without_jobs_is_driver_time(layers):
    d = layers["driver"]
    assert d["jobs"] == 0
    assert d["driver_s"] == pytest.approx(d["wall_s"])
    assert 0.5 <= d["wall_s"] < 1.0


def test_driver_time_excludes_job_time(layers):
    u = layers["udf"]
    assert 0 <= u["driver_s"] < u["wall_s"]
    assert u["wall_s"] - u["driver_s"] >= BATCHES * SLEEP_S


def test_benchmark_json_lists_every_reported_metric():
    from perfbench.run import END_TO_END, per_layer_units

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        per_layer_units()
