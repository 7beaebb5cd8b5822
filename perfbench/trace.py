"""Spans around calls into the engine, and per-layer metrics from Spark's
event log.

A span is one timed call (a query, a pipeline stage's ``write_table``).
Before the call the benchmark sets the job-local property
``perfbench.span`` to the span's id, so every Spark job the call submits
carries that id in its ``SparkListenerJobStart`` properties. After the
session stops, :func:`fold` reads the event log (plain JSON lines) and
adds each job's tasks and stages to the layer that owns its span.

Kinds per layer (times in seconds, sizes in MB of 10^6 bytes):

* ``wall_s``  span wall time; ``driver_s`` span wall time minus the union
  of its own jobs' submit..complete intervals and its child spans
  (planning, collects, driver-side Python: time no Spark job covers);
* ``jobs``, ``tasks``, ``exec_run_s`` (executor run time), ``gc_s``;
* ``scan_mb`` (input bytes), ``shuffle_write_mb``, ``shuffle_read_mb``,
  ``spill_mb`` (disk bytes spilled), ``peak_exec_mem_mb`` (max per task);
* ``python_run_s``, ``python_in_mb``, ``python_out_mb`` from the Arrow
  operators' SQL metrics;
* ``task_skew``: sum over stages of the slowest task's time over the sum
  of the median task's time (stages with at least two tasks).

Spark's "time to start/initialize Python workers" is not reported: its
per-task clock includes waiting on upstream work and sums to many times a
stage's wall time (see README.md).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"

KINDS = ("wall_s", "driver_s", "jobs", "tasks", "exec_run_s", "gc_s",
         "scan_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
         "peak_exec_mem_mb", "python_run_s", "python_in_mb",
         "python_out_mb", "task_skew")

_PY_ACC = {"time to run Python workers": ("python_run_s", 1e-3),
           "data sent to Python workers": ("python_in_mb", 1e-6),
           "data returned from Python workers": ("python_out_mb", 1e-6)}


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


class Tracer:
    """Records spans in memory; ``enabled=False`` makes spans free."""

    def __init__(self, spark=None, enabled: bool = True):
        self.sc = spark.sparkContext if (spark is not None and enabled) \
            else None
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._n = 0

    @contextmanager
    def span(self, layer: str, **tags):
        """Time a call; jobs it submits are tagged with the span's id.
        A span opened inside another records it as ``parent``."""
        self._n += 1
        rec = {"id": f"{self._n}:{layer}", "layer": layer,
               "parent": self._open[-1]["id"] if self._open else None,
               **tags}
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, rec["id"])
        self._open.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(
                    SPAN_PROP, self._open[-1]["id"] if self._open else None)
            self.spans.append(rec)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_events(log_dir: str) -> dict:
    """Fold one application's event log into per-job records."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {len(files)}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"span": (ev.get("Properties") or {})
                             .get(SPAN_PROP),
                             "start": ev["Submission Time"] / 1000.0,
                             "end": None, "m": defaultdict(float)}
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if jid is None or not tm:
                    continue
                info = ev["Task Info"]
                m = jobs[jid]["m"]
                m["tasks"] += 1
                m["exec_run_s"] += tm["Executor Run Time"] / 1e3
                m["gc_s"] += tm["JVM GC Time"] / 1e3
                m["scan_mb"] += tm["Input Metrics"]["Bytes Read"] / 1e6
                m["shuffle_write_mb"] += \
                    tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
                rd = tm["Shuffle Read Metrics"]
                m["shuffle_read_mb"] += (rd["Remote Bytes Read"]
                                         + rd["Local Bytes Read"]) / 1e6
                m["spill_mb"] += tm["Disk Bytes Spilled"] / 1e6
                m["peak_exec_mem_mb"] = max(
                    m["peak_exec_mem_mb"], tm["Peak Execution Memory"] / 1e6)
                stage_tasks[ev["Stage ID"]].append(
                    (info["Finish Time"] - info["Launch Time"]) / 1e3)
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                jid = stage_job.get(si["Stage ID"])
                if jid is None:
                    continue
                m = jobs[jid]["m"]
                for a in si.get("Accumulables", []):
                    if a["Name"] in _PY_ACC:
                        key, scale = _PY_ACC[a["Name"]]
                        m[key] += float(a["Value"]) * scale
                durs = stage_tasks.pop(si["Stage ID"], [])
                if len(durs) >= 2:
                    m["_skew_max"] += max(durs)
                    m["_skew_med"] += statistics.median(durs)
    return jobs


def fold(spans: list[dict], log_dir: str) -> dict[str, dict[str, float]]:
    """Per-layer totals over the given spans: {layer: {kind: value}}."""
    jobs = read_events(log_dir)
    by_span: dict[str, list[dict]] = defaultdict(list)
    for j in jobs.values():
        if j["span"] is not None:
            by_span[j["span"]].append(j)
    children: dict[str, list[dict]] = defaultdict(list)
    for sp in spans:
        if sp["parent"] is not None:
            children[sp["parent"]].append(sp)
    layers: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for sp in spans:
        lm = layers[sp["layer"]]
        wall = sp["end"] - sp["start"]
        mine = by_span.get(sp["id"], [])
        # self time not covered by this span's jobs or by child spans
        covered = _union_s(
            [(max(j["start"], sp["start"]),
              min(j["end"] or sp["end"], sp["end"])) for j in mine]
            + [(c["start"], c["end"]) for c in children[sp["id"]]])
        lm["wall_s"] += wall
        lm["driver_s"] += max(0.0, wall - covered)
        lm["jobs"] += len(mine)
        for j in mine:
            for k, v in j["m"].items():
                if k == "peak_exec_mem_mb":
                    lm[k] = max(lm[k], v)
                else:
                    lm[k] += v
    out = {}
    for layer, lm in layers.items():
        med = lm.pop("_skew_med", 0.0)
        mx = lm.pop("_skew_max", 0.0)
        lm["task_skew"] = mx / med if med > 0 else 0.0
        out[layer] = {k: lm.get(k, 0.0) for k in KINDS}
    return out
