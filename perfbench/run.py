"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 6 \\
        --trace 0

Run from the root of a source tree (the directory holding
``cartwright_spark/`` and ``__spark_entry__.py``). The run starts a
``local[4]`` session, builds the workload's inputs from the seed three
times, warms up untimed, then times passes until ``--seconds`` have
elapsed, checks every timed output, and prints a readable report followed
by one JSON line. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` turns on Spark's event log and reports the per-layer ones.
Scratch files live under ``.perfbench_work/`` in the source tree; each
run's result is kept in ``.perfbench_work/results/`` for ``diff.py``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4

# CPU seconds, not wall seconds: wall time moves with the host's CPU steal
# by more than any bound, so it is printed but not bounded (see README.md)
END_TO_END = {"setup_s": "s", "cpu_s": "s"}

# per-layer metrics: for each layer, the kinds that are non-zero on the
# workload that touches it (see README.md), plus whole-run totals and the
# set-up parts
_JOB = ("wall_s", "driver_s", "jobs", "exec_run_s", "task_skew")
LAYER_KINDS = {
    "operators.extract": _JOB + ("shuffle_write_mb",),
    "operators.detect": _JOB,
    "spatial.cells": _JOB + ("gc_s", "shuffle_write_mb", "python_run_s",
                             "python_in_mb", "python_out_mb"),
    "spatial.autocorr": _JOB,
    "plans.pipeline": _JOB + ("gc_s", "shuffle_write_mb"),
    "operators.classify": _JOB + ("shuffle_write_mb", "python_run_s"),
    "spatial.pip": _JOB + ("python_run_s",),
    # one task per stage, so no task_skew
    "spatial.distjoin": ("wall_s", "driver_s", "jobs", "exec_run_s",
                         "python_run_s"),
    "spatial.raster": _JOB + ("shuffle_write_mb", "python_run_s"),
    "spatial.knn": _JOB + ("gc_s", "shuffle_write_mb", "python_run_s"),
    "functions.graph": _JOB + ("shuffle_write_mb",),
}
TOTAL_KINDS = ("tasks", "scan_mb", "shuffle_read_mb", "peak_exec_mem_mb",
               "python_in_mb", "python_out_mb")
EXTRA = ("sources.iceberg_lite.write_s", "sources.iceberg_lite.manifest_s",
         "sources.iceberg_lite.load_s", "sources.iceberg_lite.files",
         "sources.iceberg_lite.bytes_mb", "session.start_s",
         "spark_entry.import_s", "sources.corpus.generate_s",
         "inputs.generate_s", "warmup_s", "trace.pass_s", "trace.cpu_s",
         "ops.p50_s",
         "ops.tail_s", "process.peak_rss_mb")


def _unit(kind: str) -> str:
    if kind.endswith("_s"):
        return "s"
    if kind.endswith("_mb"):
        return "MB"
    return "ratio" if kind == "task_skew" else "count"


def per_layer_units() -> dict[str, str]:
    out = {f"{layer}.{k}": _unit(k)
           for layer, kinds in LAYER_KINDS.items() for k in kinds}
    out.update({f"all.{k}": _unit(k) for k in TOTAL_KINDS})
    out.update({name: _unit(name) for name in EXTRA})
    return out


def tail(values: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it; the maximum
    when that percentile would fall below the median (under 21 samples)."""
    v = sorted(values)
    if len(v) < 21:
        return v[-1], f"max of {len(v)}"
    k = len(v) - 11
    return v[k], f"p{100.0 * k / (len(v) - 1):.0f} of {len(v)}"


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked).
    A second call does nothing."""
    import subprocess

    from pyspark import SparkContext

    from perfbench import procstat
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    kids = [p for p in procstat.tree_pids() if p != os.getpid()]
    spark.stop()
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)
        else:
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("cartwright_spark/__init__.py", "__spark_entry__.py",
                 "scripts/check_oracles.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"error: {need} not found under {ROOT}; run from a "
                  f"source tree", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from perfbench import procstat
    from perfbench.trace import Tracer, event_log_conf, fold
    from perfbench.workloads import WORKLOADS, STAGE_LAYER
    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    noise0 = procstat.cpu_times()
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # workers import cartwright_spark by name: put the tree on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # keep Python's and the JVM's temp files inside the work directory
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if o)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(event_log_conf(log_dir))

    t = time.perf_counter()
    from cartwright_spark.session import get_spark
    spark = get_spark("perfbench", master=f"local[{CORES}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    tracer = Tracer(spark, enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](spark, ROOT, work, tracer)
    ready_s, ready_cpu_s = procstat.process_age_s(), procstat.tree_cpu_s()
    try:
        wl.setup(args.seed)
        tracer.spans.clear()
        # CPU of the process tree from its start to a ready session, plus
        # the median input build; wall time is reported beside it
        setup_s = ready_cpu_s + statistics.median(wl.build_cpu_s)
        setup_wall_s = ready_s + statistics.median(wl.build_s)
        passes, ops, cpus = [], [], []
        t_run = time.perf_counter()
        while time.perf_counter() - t_run < args.seconds or not ops:
            c0 = procstat.tree_cpu_s()
            lat = wl.run_pass()
            cpus.append(procstat.tree_cpu_s() - c0)
            if not any(math.isnan(x) for x in lat):
                passes.append(sum(lat))
            ops.extend(lat)
        peak_rss = procstat.tree_peak_rss_mb()
        attempted, bad = wl.check()
        manifests = [wl.manifests(wd) for wd in getattr(wl, "reps", [])]
        if args.trace:
            stop_session(spark)
            layers = fold(tracer.spans, log_dir)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    noise = procstat.noise(noise0)
    noise["spark.ui.showConsoleProgress"] = "false"
    if not passes:
        print("error: every pass failed:\n  " + "\n  ".join(bad),
              file=sys.stderr)
        return 1

    ok = [x for x in ops if not math.isnan(x)]
    tail_v, tail_n = tail(ok)
    metrics = {
        "setup_s": setup_s,
        "cpu_s": statistics.median(cpus),
    }
    units = dict(END_TO_END)
    if args.trace:
        units = per_layer_units()
        metrics = layer_metrics(layers, manifests, len(passes), STAGE_LAYER,
                                units)
        metrics.update(wl.setup_parts)
        metrics["session.start_s"] = session_s
        metrics["trace.pass_s"] = statistics.median(passes)
        metrics["trace.cpu_s"] = statistics.median(cpus)
        metrics["ops.p50_s"] = statistics.median(ok)
        metrics["ops.tail_s"] = tail_v
        metrics["process.peak_rss_mb"] = peak_rss
        for name in units:
            metrics.setdefault(name, 0.0)

    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cores": CORES, "passes": len(passes),
        "pass_s": statistics.median(passes),
        "ops_per_pass": wl.ops(), "op_samples": len(ok),
        "op_p50_s": statistics.median(ok),
        "op_tail_s": tail_v, "op_tail": tail_n,
        "peak_rss_mb": peak_rss,
        "reps_discarded": max(len(v) for v in wl.warm_s.values()),
        "setup_parts": dict(wl.setup_parts, **{"session.start_s": session_s}),
        "setup_wall_s": setup_wall_s, "ready_s": ready_s,
        "ready_cpu_s": ready_cpu_s, "build_s": wl.build_s,
        "build_cpu_s": wl.build_cpu_s,
        "noise": noise, "fail_ratio": len(bad) / max(attempted, 1),
        "failures": bad,
    }
    # per op: the warm-up latencies and the timed ones
    report["op_s"] = {q: {"warmup": [round(x, 3) for x in wl.warm_s[q]],
                          "timed": [round(x, 3) for x in v]}
                      for q, v in wl.op_s.items()}
    if args.workload == "pipeline":
        report["docs_per_s"] = wl.pages / statistics.median(passes)
    result = {
        "correct": not bad,
        "attempted": max(attempted, 1),
        "failed": len(bad),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }
    print_report(report, result, args)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-t{args.trace}-s{args.seed}-"
                           f"{int(time.time())}.json"), "w") as f:
        json.dump({"report": report, **result}, f, indent=1)
    print(json.dumps(result))
    return 0


def layer_metrics(layers, manifests, n_passes, stage_layer, units):
    """Per-pass per-layer values from the folded trace and the manifests."""
    out = {}
    per = 1.0 / max(n_passes, 1)
    for layer, m in layers.items():
        for k, v in m.items():
            scale = 1.0 if k in ("task_skew", "peak_exec_mem_mb") else per
            name = f"{layer}.{k}"
            if name in units:
                out[name] = v * scale
            if f"all.{k}" in units:
                if k == "peak_exec_mem_mb":
                    out[f"all.{k}"] = max(out.get(f"all.{k}", 0.0), v)
                else:
                    out[f"all.{k}"] = out.get(f"all.{k}", 0.0) + v * per
    if manifests:
        ice = layers.get("sources.iceberg_lite", {})
        write_s = sum(m[t]["write_wall_sec"] for m in manifests
                      for t in stage_layer)
        span_s = sum(layers.get(lay, {}).get("wall_s", 0.0)
                     for lay in stage_layer.values())
        for t, lay in stage_layer.items():
            out[f"{lay}.wall_s"] = per * sum(
                m[t]["metrics"]["stage_wall_sec"] for m in manifests)
        out["sources.iceberg_lite.write_s"] = per * write_s
        out["sources.iceberg_lite.manifest_s"] = per * (span_s - write_s)
        out["sources.iceberg_lite.load_s"] = per * ice.get("wall_s", 0.0)
        out["sources.iceberg_lite.files"] = per * sum(
            len(m[t]["files"]) for m in manifests for t in stage_layer)
        out["sources.iceberg_lite.bytes_mb"] = per * sum(
            f["bytes"] for m in manifests for t in stage_layer
            for f in m[t]["files"]) / 1e6
    return out


def _untraced(report: dict) -> tuple[float, float, int] | None:
    """Median pass_s and cpu_s of the untraced runs kept in
    .perfbench_work/results with the same workload, pass size and run
    length."""
    d = os.path.join(WORK, "results")
    vals, cpus = [], []
    for fn in os.listdir(d) if os.path.isdir(d) else []:
        with open(os.path.join(d, fn)) as f:
            res = json.load(f)
        rep = res["report"]
        if (rep["trace"] == 0 and rep["workload"] == report["workload"]
                and rep["ops_per_pass"] == report["ops_per_pass"]
                and rep["seconds"] == report["seconds"]):
            vals.append(rep["pass_s"])
            cpus.append(res["metrics"]["cpu_s"]["value"])
    return (statistics.median(vals), statistics.median(cpus), len(vals)) \
        if vals else None


def print_report(report, result, args) -> None:
    p = print
    p(f"== perfbench {report['workload']} seed={report['seed']} "
      f"trace={report['trace']} local[{report['cores']}] "
      f"passes={report['passes']} ops/pass={report['ops_per_pass']}")
    for k, m in result["metrics"].items():
        p(f"  {k:<40} {m['value']:>12.4f} {m['unit']}")
    p(f"  pass_s (wall time of a pass, median): {report['pass_s']:.3f}s; "
      f"set-up wall time: {report['setup_wall_s']:.3f}s")
    p(f"  op latency: p50 {report['op_p50_s']:.3f}s, tail "
      f"{report['op_tail_s']:.3f}s ({report['op_tail']} samples)")
    p(f"  peak RSS of the process tree: {report['peak_rss_mb']:.0f} MB")
    for q, v in report["op_s"].items():
        p(f"    {q:<28} warm-up "
          + ", ".join(f"{x:.2f}s" for x in v["warmup"]) + "; timed "
          + ", ".join(f"{x:.2f}s" for x in v["timed"]))
    if "docs_per_s" in report:
        p(f"  docs_per_s: {report['docs_per_s']:.1f} 1/s")
    p(f"  setup parts: " + ", ".join(
        f"{k}={v:.2f}s" for k, v in report["setup_parts"].items()))
    n = report["noise"]
    p(f"  noise: steal={n['steal_pct']}% loadavg={n['loadavg']} "
      f"cpus={n['cpus']} reps_discarded={report['reps_discarded']}")
    if args.trace:
        base = _untraced(report)
        traced = result["metrics"]["trace.pass_s"]["value"]
        traced_cpu = result["metrics"]["trace.cpu_s"]["value"]
        if base:
            p(f"  tracing overhead: pass_s {traced:.3f} traced vs "
              f"{base[0]:.3f} untraced = "
              f"{100.0 * (traced / base[0] - 1):+.1f}%; cpu_s "
              f"{traced_cpu:.3f} vs {base[1]:.3f} = "
              f"{100.0 * (traced_cpu / base[1] - 1):+.1f}% "
              f"(untraced: median of {base[2]} runs)")
        else:
            p("  tracing overhead: no untraced run of this workload in "
              ".perfbench_work/results to compare with")
        if report["workload"] == "pipeline":
            mm = result["metrics"]
            stages = sum(mm[f"{lay}.wall_s"]["value"] for lay in
                         ("operators.extract", "operators.detect",
                          "spatial.cells", "spatial.autocorr"))
            p(f"  pipeline accounting per pass: run_pipeline {traced:.3f}s = "
              f"stage wall_s {stages:.3f}s + outside stages "
              f"{traced - stages:.3f}s "
              f"(plans.pipeline.driver_s "
              f"{mm['plans.pipeline.driver_s']['value']:.3f}s)")
    p(f"  output check: {'PASS' if result['correct'] else 'FAIL'} "
      f"fail_ratio={report['fail_ratio']:.4f} "
      f"({result['failed']}/{result['attempted']})")
    for b in report["failures"][:20]:
        p(f"    - {b}")


if __name__ == "__main__":
    sys.exit(main())
