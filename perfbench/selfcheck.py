"""Steadiness and repeatability evidence for the benchmark.

Usage: python3 perfbench/selfcheck.py [--runs 10]

For every workload in ``BENCHMARK.json`` it runs the benchmark command
exactly as ``BENCHMARK.json`` states it:

* ``--runs`` untraced runs, seeds 1..N: per end-to-end metric the median,
  quartiles, interquartile spread and min/max spread (both as a share of
  the median), the metric's bound, and every run's loadavg and steal share;
* one untraced run of 60 seconds: the pass-by-pass warm-up curve (wall,
  CPU and JVM garbage-collection seconds of every pass), so the plateau is
  shown;
* two traced runs: the tracing overhead (median traced warm pass
  minus median untraced warm pass) and, per query, which event-log counts
  repeat exactly across every measured pass of every traced run.

Runs are sequential; nothing else should run on the host meanwhile. The
report goes to ``perfbench/steadiness.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from run import HERE, ROOT

CURVE_SECONDS = 60
TRACED_RUNS = 2
REPEAT_COUNTS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "python_rows_in", "python_rows_out")


def run_once(bench: dict, workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict, float]:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    elapsed = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}")
    info = json.loads(lines[-2].split(" ", 1)[1])
    return info, json.loads(lines[-1]), elapsed


def spread(values: list[float], bound: float | None) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med,
            "min": min(values), "max": max(values), "minmax_share": (max(values) - min(values)) / med,
            "bound": bound, "n": len(values)}


def repeatability(traces: list[dict]) -> dict:
    """Per query: the counts that are identical in every measured pass of
    every traced run, and the ones that are not (with their values)."""
    values: dict[str, dict[str, set]] = {}
    for t in traces:
        for index, p in enumerate(t["info"]["passes"]):
            if p["kind"] != "measured":
                continue
            for name in p["order"]:
                c = t["counters"].get(f"{index}:{name}", {})
                for k in REPEAT_COUNTS:
                    values.setdefault(name, {}).setdefault(k, set()).add(c.get(k, 0.0))
    return {
        q: {"exact": sorted(k for k, v in counts.items() if len(v) == 1),
            "varies": {k: sorted(v) for k, v in counts.items() if len(v) > 1}}
        for q, counts in sorted(values.items())
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for name in (w["name"] for w in bench["workloads"]):
        wl: dict = {}
        runs = [run_once(bench, name, seed, bench["run_seconds"], 0) for seed in range(1, args.runs + 1)]
        wl["runs"] = [{"seed": i["seed"], "elapsed_s": e, "loadavg_start": i["loadavg_start"],
                       "loadavg_end": i["loadavg_end"], "steal_share": i["steal_share"],
                       "measured_passes": i["measured_passes"],
                       "correct": r["correct"], "failed": r["failed"],
                       **{k: v["value"] for k, v in r["metrics"].items()}} for i, r, e in runs]
        wl["end_to_end"] = {m: spread([r["metrics"][m]["value"] for _, r, _ in runs], bounds.get(m))
                            for m in runs[0][1]["metrics"]}
        info, _, _ = run_once(bench, name, 1, CURVE_SECONDS, 0)
        wl["warmup_curve"] = [[p["kind"], round(p["wall_s"], 3), round(p["cpu_s"], 2), round(p["gc_s"], 3)]
                             for p in info["passes"]]
        traced = [run_once(bench, name, seed, bench["run_seconds"], 1) for seed in range(1, TRACED_RUNS + 1)]
        traces = []
        for info, _, _ in traced:
            with open(os.path.join(ROOT, info["trace_file"])) as f:
                traces.append(json.load(f))
        traced_warm = statistics.median(r["metrics"]["trace.warm_pass_s"]["value"] for _, r, _ in traced)
        wl["tracing_overhead_s"] = traced_warm - wl["end_to_end"]["warm_pass_s"]["median"]
        wl["per_layer"] = {k: [r["metrics"][k]["value"] for _, r, _ in traced] for k in traced[0][1]["metrics"]}
        wl["count_repeatability"] = repeatability(traces)
        report["workloads"][name] = wl
        print(json.dumps({name: {k: v for k, v in wl.items() if k != "runs"}}, indent=1), flush=True)
    with open(os.path.join(HERE, "steadiness.json"), "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
