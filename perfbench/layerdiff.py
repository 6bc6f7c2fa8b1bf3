"""Rank per-layer metrics by relative change between two traced outputs.

Usage: python3 perfbench/layerdiff.py BEFORE AFTER

BEFORE and AFTER are trace files written by ``run.py --trace 1``
(``.perfbench/traces/<workload>-seed<N>.json``) or directories of them.
Per workload found on both sides, each metric is the median over that
side's files; metrics are listed by the size of their relative change
``(after - before) / before``, largest first, so the layer where a saving
landed comes out on top. A metric that is 0 before and not after has an
infinite change.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import statistics
import sys


def load(path: str) -> dict[str, dict[str, list[float]]]:
    """``{workload: {metric: [value per trace file]}}``."""
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out: dict[str, dict[str, list[float]]] = {}
    for name in files:
        with open(name) as f:
            trace = json.load(f)
        per_metric = out.setdefault(trace["info"]["workload"], {})
        for metric, v in trace["metrics"].items():
            per_metric.setdefault(metric, []).append(v["value"])
    return out


def diff(before: dict, after: dict) -> dict[str, list[dict]]:
    report = {}
    for workload in sorted(before.keys() & after.keys()):
        rows = []
        for metric in sorted(before[workload].keys() & after[workload].keys()):
            b = statistics.median(before[workload][metric])
            a = statistics.median(after[workload][metric])
            rel = (a - b) / b if b else (0.0 if a == b else math.inf)
            rows.append({"metric": metric, "before": b, "after": a, "change": rel,
                         "n_before": len(before[workload][metric]), "n_after": len(after[workload][metric])})
        rows.sort(key=lambda r: -abs(r["change"]))
        report[workload] = rows
    return report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args(argv)
    report = diff(load(args.before), load(args.after))
    if not report:
        print("no workload is traced on both sides", file=sys.stderr)
        return 1
    for workload, rows in report.items():
        print(f"== {workload} (before n={rows[0]['n_before']}, after n={rows[0]['n_after']})")
        for r in rows:
            print(f"  {r['metric']:<36} {r['before']:>16.6g} -> {r['after']:<16.6g} {r['change']:+8.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
