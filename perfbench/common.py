"""Statistics, environment capture and process plumbing shared by the
workloads.

Nothing here imports pyspark at module import time, so the helpers can
be unit-tested without a JVM.
"""

from __future__ import annotations

import math
import os
import platform
import resource
import statistics
import subprocess
from dataclasses import dataclass, field

def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[min(rank, len(s)) - 1]


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile that still has at least ``beyond``
    samples above it in a sample of ``n``; None when even the median
    has fewer. 100 samples give p90, 30 give p66, 20 give p50."""
    best = None
    for q in range(50, 100):
        rank = max(1, math.ceil(q / 100.0 * n))
        if n - rank >= beyond:
            best = q
    return best


def latency_summary(values_ms: list[float]) -> dict:
    """Median, the tail percentile by :func:`tail_percentile`, and the
    sample count, as the benchmark reports every timing."""
    out = {"n": len(values_ms)}
    if not values_ms:
        return out
    out["p50_ms"] = statistics.median(values_ms)
    q = tail_percentile(len(values_ms))
    if q is not None:
        out["tail_q"] = q
        out[f"p{q}_ms"] = percentile(values_ms, q)
    return out


def hd_median(values: list[float], grid: int = 20_001) -> float:
    """Harrell-Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)
    weighted mean of all order statistics. A statement mix has gaps
    between its templates' latency clusters, and the plain sample median
    jumps across a gap when one sample moves; this estimate does not."""
    import numpy as np

    if not values:
        raise ValueError("median of an empty sample")
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a = (n + 1) / 2.0
    t = np.linspace(0.0, 1.0, grid)
    pdf = (t * (1.0 - t)) ** (a - 1.0)
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2.0)])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, t, cdf))
    return float(weights @ x)


def geomean(values: list[float]) -> float:
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def per_key_geomean_ms(samples: list[tuple[str, float]]) -> float:
    """Geometric mean over keys of each key's median latency, so a short
    statement weighs as much as a long one."""
    by_key: dict[str, list[float]] = {}
    for key, ms in samples:
        by_key.setdefault(key, []).append(ms)
    return geomean([statistics.median(v) for v in by_key.values()])


def duckdb_over(data_dir: str):
    """A DuckDB connection with one view per ``<data_dir>/<name>.parquet``."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.sql(f"CREATE VIEW {f[: -len('.parquet')]} AS SELECT * FROM read_parquet('{path}')")
    return con


def load_avg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return []


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit(root: str) -> str:
    """The checked-out commit, or ``unknown`` outside a git work tree."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def environment(root: str, seed: int, sf: float) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "load_before": load_avg(),
        "git_commit": git_commit(root),
        "seed": seed,
        "sf": sf,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set of a live process, from /proc (0 if gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """This process's peak RSS plus the Spark JVM's."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = vm_hwm_kb(jvm_pid) if jvm_pid else 0
    return (own_kb + jvm_kb) / 1024.0


@dataclass
class Outcome:
    """What one workload hands back to the runner."""

    attempted: int = 0
    failed: int = 0
    # name -> message for every correctness mismatch in this run
    mismatches: dict[str, str] = field(default_factory=dict)
    # end-to-end metrics: name -> (value, unit)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    # workload-specific figures reported beside the declared metrics
    detail: dict = field(default_factory=dict)

    def mismatch(self, name: str, message: str) -> None:
        self.failed += 1
        self.mismatches.setdefault(name, message[:300])

