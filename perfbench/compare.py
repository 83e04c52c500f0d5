"""Summarize or compare benchmark result files (``.bench_results/*.json``).

    python3 perfbench/compare.py spread RESULT...
        per workload and end-to-end metric: runs, median, and the quartile
        spread (Q3 - Q1) / median next to the metric's bound.

    python3 perfbench/compare.py diff --base RESULT... --head RESULT...
        per workload and end-to-end metric: base and head medians, the
        change in the metric's bad direction, and whether it exceeds the
        bound in BENCHMARK.json.

Both refuse (exit 2) when the results' host fingerprints differ: CPU
count, machine, Spark and Python versions must match. ``diff`` exits 1 when
a metric regressed by more than its bound, else 0.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        if r.get("trace"):
            continue  # traced runs carry per-layer numbers, not end-to-end ones
        out.append(r)
    return out


def host_mismatch(results: list[dict]) -> list[str]:
    hosts = {tuple((k, r["fingerprint"].get(k)) for k in stats.HOST_KEYS) for r in results}
    return [str(dict(h)) for h in sorted(hosts)] if len(hosts) > 1 else []


def by_workload(results: list[dict]) -> dict[str, list[dict]]:
    groups: dict[str, list[dict]] = {}
    for r in results:
        groups.setdefault(r["workload"], []).append(r)
    return groups


def spec() -> dict[str, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m for m in json.load(f)["end_to_end"]}


def cmd_spread(results: list[dict]) -> int:
    metrics = spec()
    print(f"{'workload':10s} {'metric':30s} {'runs':>4s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for wl, rs in sorted(by_workload(results).items()):
        for name, m in metrics.items():
            vals = [r["end_to_end"][name] for r in rs]
            spread = stats.iqr_share(vals) if len(vals) > 1 else 0.0
            flag = "" if spread <= m["bound"] / 3 else (" >1/3 bound" if spread <= m["bound"] else " >bound")
            print(f"{wl:10s} {name:30s} {len(vals):4d} {stats.median(vals):12.5g} "
                  f"{spread:8.4f} {m['bound']:6.3f}{flag}")
        loads = [r["fingerprint"].get("loadavg_start", 0.0) for r in rs]
        print(f"{wl:10s} {'(loadavg at start, max)':30s} {len(rs):4d} {max(loads):12.3g}")
    return 0


def cmd_diff(base: list[dict], head: list[dict]) -> int:
    metrics = spec()
    worse = 0
    gb, gh = by_workload(base), by_workload(head)
    print(f"{'workload':10s} {'metric':30s} {'base':>12s} {'head':>12s} {'worse_by':>9s} {'bound':>6s}")
    for wl in sorted(set(gb) & set(gh)):
        for name, m in metrics.items():
            b = stats.median([r["end_to_end"][name] for r in gb[wl]])
            h = stats.median([r["end_to_end"][name] for r in gh[wl]])
            change = (h - b) / b if b else 0.0
            bad = change if m["better"] == "lower" else -change
            verdict = "REGRESSED" if bad > m["bound"] else ""
            worse += bool(verdict)
            print(f"{wl:10s} {name:30s} {b:12.5g} {h:12.5g} {bad:9.4f} {m['bound']:6.3f} {verdict}")
    return 1 if worse else 0


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("results", nargs="+")
    dp = sub.add_parser("diff")
    dp.add_argument("--base", nargs="+", required=True)
    dp.add_argument("--head", nargs="+", required=True)
    args = p.parse_args(argv)
    if args.cmd == "spread":
        results = load(args.results)
    else:
        base, head = load(args.base), load(args.head)
        results = base + head
    mismatch = host_mismatch(results)
    if mismatch:
        print("refusing: results come from different hosts:\n  " + "\n  ".join(mismatch),
              file=sys.stderr)
        return 2
    return cmd_spread(results) if args.cmd == "spread" else cmd_diff(base, head)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
