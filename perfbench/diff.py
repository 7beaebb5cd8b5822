"""Compare two sets of benchmark results: parent commit vs change.

    python3 perfbench/diff.py PARENT CHANGE

PARENT and CHANGE are directories of the result files ``run.py`` keeps,
one per run, in ``.perfbench_work/results/``. Runs are grouped by
workload and trace mode and paired in the order they ran (the time in
each file's name), so run the two sides alternately.

End-to-end metrics (untraced runs), per workload:

* ``better``: the change wins at least 9 of every 10 pairs (ties count
  for neither side) and the medians differ by more than the parent's own
  spread (its interquartile range);
* ``WORSE``: the change's median is worse than the parent's by more than
  the metric's bound in BENCHMARK.json;
* ``unresolved``: the parent's spread exceeds the bound and not every
  change run beats every parent run;
* ``same``: none of the above.

The wall time of a pass (``pass_s``) is printed beside them, without a
verdict.

Per-layer metrics (traced runs) that changed are ranked by the change in
their median: times by the absolute change in seconds first, then every
other metric by its relative change.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load(path: str) -> dict[tuple[str, int], list[dict]]:
    """{(workload, trace): [result, ...]} in run order."""
    # run.py names each file <workload>-t<trace>-s<seed>-<unix time>.json
    files = sorted((os.path.join(path, f) for f in os.listdir(path)
                    if f.endswith(".json")),
                   key=lambda f: int(f.rsplit("-", 1)[1][:-len(".json")]))
    out: dict[tuple[str, int], list[dict]] = {}
    for fp in files:
        with open(fp) as f:
            res = json.load(f)
        rep = res["report"]
        out.setdefault((rep["workload"], rep["trace"]), []).append(res)
    return out


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def verdict(a: list[float], b: list[float], bound: float,
            lower: bool) -> tuple[str, int, int]:
    sign = 1.0 if lower else -1.0
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (x - y) > 0)
    q1, ma, q3 = quartiles(a)
    mb = statistics.median(b)
    spread = q3 - q1
    worse_by = sign * (mb - ma) / ma if ma else 0.0
    if pairs and wins >= 0.9 * len(pairs) and abs(mb - ma) > spread:
        return "better", wins, len(pairs)
    if worse_by > bound:
        return "WORSE", wins, len(pairs)
    if ma and spread / ma > bound and not (
            max(sign * y for y in b) < min(sign * x for x in a)):
        return "unresolved", wins, len(pairs)
    return "same", wins, len(pairs)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    args = ap.parse_args()
    with open(BENCH) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    pa, ch = load(args.parent), load(args.change)

    status = 0
    for (wl, trace) in sorted(set(pa) & set(ch)):
        a_runs, b_runs = pa[(wl, trace)], ch[(wl, trace)]
        print(f"== {wl} trace={trace}: {len(a_runs)} parent runs, "
              f"{len(b_runs)} change runs")
        names = sorted(set(a_runs[0]["metrics"]) & set(b_runs[0]["metrics"]))
        if not trace:
            for n in names:
                if n not in e2e:
                    continue
                a = [r["metrics"][n]["value"] for r in a_runs]
                b = [r["metrics"][n]["value"] for r in b_runs]
                v, wins, n_pairs = verdict(
                    a, b, e2e[n]["bound"], e2e[n]["better"] == "lower")
                qa, qb = quartiles(a), quartiles(b)
                print(f"  {n:<14} {v:<10} parent {qa[1]:.4f} "
                      f"[{qa[0]:.4f}, {qa[2]:.4f}]  change {qb[1]:.4f} "
                      f"[{qb[0]:.4f}, {qb[2]:.4f}] {e2e[n]['unit']}  "
                      f"change wins {wins}/{n_pairs}  "
                      f"bound {e2e[n]['bound']:.0%}")
                status |= v == "WORSE"
            a = [r["report"]["pass_s"] for r in a_runs]
            b = [r["report"]["pass_s"] for r in b_runs]
            print(f"  {'pass_s':<14} {'(no bound)':<10} parent "
                  f"{statistics.median(a):.4f}  change "
                  f"{statistics.median(b):.4f} s  wall time, moves with "
                  f"the host's CPU steal")
            for side, runs in (("parent", a_runs), ("change", b_runs)):
                bad = sum(r["failed"] for r in runs)
                if bad:
                    print(f"  {side}: {bad} failed ops")
                    status |= side == "change"
            continue
        rows = []
        for n in names:
            a = statistics.median(r["metrics"][n]["value"] for r in a_runs)
            b = statistics.median(r["metrics"][n]["value"] for r in b_runs)
            if a == b:
                continue
            rel = (b - a) / a if a else float("inf")
            rows.append((abs(b - a) if n.endswith("_s") else 0.0,
                         abs(rel), n, a, b, rel,
                         a_runs[0]["metrics"][n]["unit"]))
        rows.sort(key=lambda r: (r[0], r[1]), reverse=True)
        for _, _, n, a, b, rel, unit in rows:
            print(f"  {n:<40} {a:>10.4f} -> {b:>10.4f} {unit:<6} "
                  f"({rel:+.1%})")
    return status


if __name__ == "__main__":
    sys.exit(main())
