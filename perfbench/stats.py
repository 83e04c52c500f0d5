"""Arithmetic behind the reported metrics, kept free of Spark so the unit
tests can check it directly."""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import subprocess
import sys

TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ``TAIL_MIN_BEYOND`` samples beyond it.

    With n samples sorted ascending, the sample at 1-based rank n-10 has
    exactly 10 samples above it, so it sits at percentile 100*(n-10)/n, and
    no higher rank has 10 beyond it. With n <= 10 no sample qualifies; the
    median is returned with percentile 50, and the caller records that the
    tail was not resolved."""
    if not values:
        raise ValueError("no samples")
    n = len(values)
    if n <= TAIL_MIN_BEYOND:
        return median(values), 50.0
    s = sorted(values)
    return float(s[n - TAIL_MIN_BEYOND - 1]), 100.0 * (n - TAIL_MIN_BEYOND) / n


def fail_ratio(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no op attempted")
    return failed / attempted


def recall_at_k(answers: dict, truth: dict, k: int = 10) -> float:
    """Mean over queries of |answer ∩ exact top-k| / k. ``answers`` and
    ``truth`` map a query id to a sequence of neighbor ids; a query the
    answer misses scores 0."""
    if not truth:
        raise ValueError("no queries")
    total = 0.0
    for q, exact in truth.items():
        top = set(list(exact)[:k])
        total += len(top & set(list(answers.get(q, ()))[:k])) / k
    return total / len(truth)


def cluster_pairs_found(canonical: dict, planted: list) -> int:
    """Planted (a, b) pairs that a (doc_id -> canonical_id) clustering put
    in one cluster. Ids absent from the clustering are singletons."""
    return sum(1 for a, b in planted
               if a in canonical and canonical.get(b) == canonical[a])


def iqr_share(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def source_id(root: str) -> str:
    """git sha of the checkout, or, outside a git repository, a hash of the
    engine's source files."""
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            out = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                text=True, timeout=10,
            )
            if out.returncode == 0 and out.stdout.strip():
                return out.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    pkg = os.path.join(root, "chatbot_spark")
    for d, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return "src-" + h.hexdigest()[:16]


# fields that must agree for two results to be compared
HOST_KEYS = ("cpus", "machine", "spark", "python")


def fingerprint(root: str, seed: int, spark_version: str) -> dict:
    return {
        "cpus": cpus(),
        "machine": platform.machine(),
        "spark": spark_version,
        "python": platform.python_version(),
        "source": source_id(root),
        "seed": seed,
        "loadavg_start": os.getloadavg()[0],
        "argv": sys.argv[1:],
    }
