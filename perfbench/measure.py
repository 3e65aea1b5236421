"""Statistics, host provenance and memory readings for the benchmark.

Everything here is plain Python so the unit tests can run it without a
Spark session.
"""

from __future__ import annotations

import os
import platform
import resource
import subprocess
import sys

# A percentile is reported only when at least this many samples lie
# beyond it (choosing-metrics rule: p90 needs n >= 100, p50 needs 20).
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile, p in (0, 100]."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    rank = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(rank) - 1]


def reportable(n: int, p: float) -> bool:
    """True when at least MIN_BEYOND of n samples lie beyond percentile p."""
    return n - -(-n * p // 100) >= MIN_BEYOND


def highest_reportable(n: int,
                       candidates=(99.0, 90.0, 75.0, 50.0)) -> float | None:
    """Highest candidate percentile that n samples support, or None."""
    for p in candidates:
        if reportable(n, p):
            return p
    return None


def summarize(values: list[float]) -> dict:
    """Median, the highest reportable tail percentile, and the count."""
    out = {"n": len(values)}
    if values:
        out["p50"] = percentile(values, 50)
        tail = highest_reportable(len(values))
        if tail is not None and tail > 50:
            out["tail_p"] = tail
            out["tail"] = percentile(values, tail)
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval that its direct children cover (overlapping children are
    merged, and children are clipped to the parent)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# -- host provenance --------------------------------------------------------
def cpu_ticks() -> dict[str, int]:
    """Aggregate CPU tick counters from /proc/stat (Linux)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return {}
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq",
             "steal")
    return {k: int(v) for k, v in zip(names, fields[1:9])}


def tick_delta(before: dict, after: dict) -> dict:
    d = {k: after[k] - before[k] for k in before if k in after}
    total = sum(d.values())
    if total > 0:
        d["steal_share"] = d.get("steal", 0) / total
        d["user_share"] = d.get("user", 0) / total
    return d


def loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def versions(spark) -> dict:
    import pyspark

    return {"python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "platform": platform.platform()}


# -- memory -----------------------------------------------------------------
def python_peak_rss_mb() -> float:
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return kb / 1024.0 if sys.platform != "darwin" else kb / 2**20


def proc_peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of another process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def proc_cpu_s(pid: int) -> float:
    """User plus system CPU seconds a process has used (/proc/<pid>/stat)."""
    with open(f"/proc/{pid}/stat") as f:
        # fields after the parenthesized command name; utime, stime are
        # fields 14 and 15 of the whole line
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def cores() -> dict:
    return {"nproc": os.cpu_count(),
            "affinity": len(os.sched_getaffinity(0))
            if hasattr(os, "sched_getaffinity") else None,
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS")}
