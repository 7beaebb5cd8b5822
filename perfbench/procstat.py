"""Process-tree CPU and memory, and host noise, read from ``/proc``.

The tree is this process plus every descendant: the driver's Python, the
JVM that ``pyspark`` launches, and the Python workers the JVM forks. A
process that has exited and been reaped is folded into its parent's
``cutime``/``cstime``, so the tree's CPU total never loses work.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """user+sys CPU seconds of the live tree plus its reaped children."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            # fields 14-17 (1-based) = utime stime cutime cstime
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat(os.getpid())[19]) / _TICK


def cpu_times() -> dict[str, int]:
    """Host-wide jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq",
             "steal"]
    return dict(zip(names, vals))


def noise(before: dict[str, int]) -> dict:
    """CPU steal share and load average since ``before = cpu_times()``."""
    after = cpu_times()
    delta = {k: after[k] - before.get(k, 0) for k in after}
    busy = sum(delta.values()) or 1
    with open("/proc/loadavg") as f:
        load = [float(v) for v in f.read().split()[:3]]
    return {"steal_pct": round(100.0 * delta["steal"] / busy, 2),
            "loadavg": load, "cpus": os.cpu_count()}
