"""SparkSession factory with scale-oriented defaults.

All engine entry points go through :func:`get_spark` so benchmarks, tests and
the driver contract share one configuration: Arrow on (every UDF in this
engine is a pandas/Arrow UDF — no per-row Python), AQE on (runtime coalescing
+ skew-join splitting), and a shuffle-partition count sized to the local core
count (on a real cluster this is ~2-3x total executor cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "cartwright_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    # multi-JVM masters (spark://, yarn): ship the package to executors'
    # python workers — every pandas UDF closure imports cartwright_spark
    # by name, so the zip must be on the executor PYTHONPATH (the
    # spark-submit --py-files path; this env serves launchers that build
    # the session themselves, e.g. bench.py under a standalone master)
    py_files = os.environ.get("SPARK_GRAFT_PYFILES")
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # the int64-exact sums and overflow guards rely on ANSI arithmetic
        # raising on overflow instead of wrapping
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # decode(binary,'UTF-8') replaces malformed bytes with U+FFFD
        # (python errors='replace' parity) instead of ANSI-erroring
        .config("spark.sql.legacy.codingErrorAction", "true")
        # throughput-oriented GC for the string/regex-heavy batch stages
        # (~15% on extraction); on a real cluster set executor opts too
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
    )
    if py_files:
        builder = builder.config("spark.submit.pyFiles", py_files)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
