"""Closed-loop benchmark of registry queries over the sf0.1 testdata.

Usage:
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One client (this process) issues one registry query at a time into one
``get_spark()`` session. Each query is built with ``queries()[name](spark,
sf_dir)`` and forced with the noop sink; ``clearCache()`` runs before every
query, as in ``bench.py``. The seed permutes the query order of every pass;
the data is the fixed sf0.1 testdata (``SPARK_GRAFT_SF_DIR`` overrides it).

A run is: set-up (``get_spark`` + every ``load_table`` + one trivial job),
one cold pass (timed), one check pass that collects every query and
compares it with the DuckDB-oracle fingerprints in ``fingerprints.json``
(untimed), the workload's warm-up passes (untimed), then measured passes
until ``--seconds`` have elapsed (a pass that starts before then runs to
its end).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` enables Spark's
event log at JVM launch, joins it to the harness spans by job group and
prints the per-layer metrics; spans and per-execution counters go to
``.perfbench/traces/<workload>-seed<N>.json``. The last stdout line is the
result JSON; the line before it (``perfbench-info ...``) records the
environment and every pass.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import importlib.util
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

from eventlog import COUNTERS, layer_counters, read_events

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CONFIG = os.path.join(HERE, "workloads.json")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
# local[N] of the session, capped at nproc. spark.sql.shuffle.partitions is
# 8 at any N <= 8, so plan shapes do not depend on the host.
CORES = 2

HZ = os.sysconf("SC_CLK_TCK")


def process_start_perf() -> float:
    """``time.perf_counter()`` reading at the moment this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / HZ)


def _proc_table() -> dict[int, tuple[int, int]]:
    """``{pid: (ppid, utime+stime+cutime+cstime ticks)}`` for every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of this process and every descendant (the JVM and the
    Python workers), every thread included. Threads and children that
    ended are included through their process's and parent's counters."""
    table = _proc_table()
    me = os.getpid()
    return sum(table[p][1] for p in [me, *descendants(me, table)] if p in table) / HZ


def jvm_gc_s(spark) -> float:
    """Collection time, in seconds, of every garbage collector of the JVM so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host since boot: time the
    hypervisor gave this machine's CPUs to other guests shows as steal."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3
    return statistics.quantiles(values, n=4)


@functools.cache
def _load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def fingerprint(cols: list[str], rows: list[tuple]) -> dict:
    """Row count plus an order-insensitive value hash, normalised exactly
    as ``tools/check_oracle.py`` compares Spark with DuckDB."""
    table_key = _load_check_oracle().table_key
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for row in table_key(rows, cols):
        h.update(json.dumps(row).encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


class Spans:
    """Harness spans (name, start, end, parent, execution id), kept in
    memory and written out when the run ends."""

    def __init__(self) -> None:
        self.rows: list[dict] = []

    @contextmanager
    def __call__(self, name: str, parent: int | None = None, exec_id: str | None = None):
        row = {"id": len(self.rows), "name": name, "parent": parent, "exec": exec_id,
               "start": time.perf_counter(), "end": None}
        self.rows.append(row)
        try:
            yield row["id"]
        finally:
            row["end"] = time.perf_counter()


def configure_environment(cores: int, trace: bool, run_dir: str) -> str | None:
    """Environment the session is launched with; returns the event-log
    directory when tracing. Must run before pyspark starts the JVM."""
    local_dir = os.path.join(run_dir, "local")
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(local_dir)
    os.makedirs(tmp_dir)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = tmp_dir
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options",
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir}",
    ]
    log_dir = None
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])
    return log_dir


def stop_session(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


class Bench:
    def __init__(self, queries: list[str], seed: int) -> None:
        self.queries = queries
        self.rng = random.Random(seed)
        self.spans = Spans()
        self.passes: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []

    def setup(self, t_process_start: float) -> None:
        """Process start to ``get_spark`` + every ``load_table`` + one job."""
        with self.spans("setup") as parent:
            with self.spans("import", parent):
                from covid_custom_sql_engine_spark import get_spark
                from covid_custom_sql_engine_spark.catalog import DEFAULT_SF_DIR, TABLE_NAMES, load_table
                import __spark_entry__ as entrymod
            with self.spans("session.get_spark", parent):
                self.spark = get_spark("perfbench")
            self.sf_dir = DEFAULT_SF_DIR
            with self.spans("catalog.load_tables", parent):
                for table in TABLE_NAMES:
                    load_table(self.spark, self.sf_dir, table)
            with self.spans("trivial_job", parent):
                self.spark.range(1000).selectExpr("sum(id)").collect()
        self.setup_s = time.perf_counter() - t_process_start
        registry = entrymod.queries()
        self.fns = {q: registry[q] for q in self.queries}

    def run_pass(self, kind: str, fingerprints: dict | None = None) -> dict:
        """One pass over the workload's queries in a seeded order. With
        ``fingerprints``, collect each result and compare instead of the
        noop write."""
        index = len(self.passes)
        order = self.rng.sample(self.queries, len(self.queries))
        sc = self.spark.sparkContext
        with self.spans(f"pass.{kind}") as parent:
            gc0, cpu0, t0 = jvm_gc_s(self.spark), tree_cpu_s(), time.perf_counter()
            query_s = {}
            for name in order:
                exec_id = f"{index}:{name}"
                tq = time.perf_counter()
                self.attempted += 1
                try:
                    self.spark.catalog.clearCache()
                    sc.setJobGroup(exec_id, "build")
                    with self.spans("registry.build", parent, exec_id):
                        df = self.fns[name](self.spark, self.sf_dir)
                    sc.setJobGroup(exec_id, "action")
                    with self.spans("registry.action", parent, exec_id):
                        if fingerprints is None:
                            df.write.format("noop").mode("overwrite").save()
                        else:
                            rows = [tuple(r) for r in df.collect()]
                    if fingerprints is not None and fingerprint(df.columns, rows) != fingerprints[name]:
                        self.failed += 1
                        self.mismatches.append(name)
                        print(f"perfbench: {name}: output does not match its oracle fingerprint",
                              file=sys.stderr)
                except Exception:
                    self.failed += 1
                    print(f"perfbench: {name} raised:\n{traceback.format_exc()}", file=sys.stderr)
                query_s[name] = time.perf_counter() - tq
            wall = time.perf_counter() - t0
            record = {"index": index, "kind": kind, "wall_s": wall, "cpu_s": tree_cpu_s() - cpu0,
                      "gc_s": jvm_gc_s(self.spark) - gc0, "order": order, "query_s": query_s}
        self.spark.catalog.clearCache()
        self.passes.append(record)
        return record

    def measured(self) -> list[dict]:
        return [p for p in self.passes if p["kind"] == "measured"]


def per_layer_metrics(bench: Bench, counters: dict[str, dict[str, float]],
                      get_spark_s: float, load_tables_s: float, peak_rss_mb: float) -> dict:
    """Median over measured passes of each per-pass layer total.

    ``fetch_wait_s`` and ``python_start_s`` stay in the per-execution
    counters of the trace file but are not reported: in local mode no
    shuffle fetch waits, and Python workers start only in the cold pass,
    so both read 0 in every measured pass."""
    per_pass = []
    for p in bench.measured():
        total = dict.fromkeys(COUNTERS, 0.0)
        for name in p["order"]:
            for k, v in counters.get(f"{p['index']}:{name}", {}).items():
                total[k] += v
        spans = [s for s in bench.spans.rows if s["exec"] and s["exec"].startswith(f"{p['index']}:")]
        total["build_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == "registry.build")
        total["action_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == "registry.action")
        total["pass_s"] = p["wall_s"]
        per_pass.append(total)

    def med(key: str) -> float:
        return statistics.median(t[key] for t in per_pass)

    rows_in = med("python_rows_in")
    values = {
        "trace.warm_pass_s": (med("pass_s"), "s"),
        "session.get_spark_s": (get_spark_s, "s"),
        "session.peak_rss_mb": (peak_rss_mb, "MB"),
        "catalog.load_tables_s": (load_tables_s, "s"),
        "catalog.scan_bytes": (med("scan_bytes"), "bytes"),
        "catalog.scan_rows": (med("scan_rows"), "count"),
        "catalog.scan_files": (med("scan_files"), "count"),
        "catalog.scan_time_s": (med("scan_time_s"), "s"),
        "registry.build_s": (med("build_s"), "s"),
        "registry.action_s": (med("action_s"), "s"),
        "registry.jobs": (med("jobs"), "count"),
        "registry.stages": (med("stages"), "count"),
        "registry.tasks": (med("tasks"), "count"),
        "operators.shuffle_write_bytes": (med("shuffle_write_bytes"), "bytes"),
        "operators.shuffle_read_bytes": (med("shuffle_read_bytes"), "bytes"),
        "operators.exchanges": (med("exchanges"), "count"),
        "operators.broadcasts": (med("broadcasts"), "count"),
        "operators.spill_bytes": (med("spill_bytes"), "bytes"),
        "functions.python_run_s": (med("python_run_s"), "s"),
        "functions.python_bytes_sent": (med("python_bytes_sent"), "bytes"),
        "functions.python_bytes_returned": (med("python_bytes_returned"), "bytes"),
        "functions.python_rows_out_per_in": (med("python_rows_out") / rows_in if rows_in else 0.0, "ratio"),
        "spark.executor_cpu_s": (med("executor_cpu_s"), "s"),
        "spark.executor_run_s": (med("executor_run_s"), "s"),
        "spark.gc_s": (med("gc_s"), "s"),
        "spark.task_input_bytes": (med("task_input_bytes"), "bytes"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def run(args: argparse.Namespace, t_process_start: float, run_dir: str) -> tuple[Bench, dict, dict]:
    """One benchmark run; returns the bench, the info record and the metrics."""
    with open(CONFIG) as f:
        config = json.load(f)
    workload = config["workloads"][args.workload]
    with open(FINGERPRINTS) as f:
        fingerprints = json.load(f)
    missing = [q for q in workload["queries"] if q not in fingerprints]
    if missing:
        raise SystemExit(f"no oracle fingerprint for {missing}; run perfbench/fingerprint.py")

    nproc = os.cpu_count() or 1
    cores = min(CORES, nproc)
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": nproc, "cores": cores, "loadavg_start": loadavg()}
    steal0, ticks0 = host_ticks()
    log_dir = configure_environment(cores, bool(args.trace), run_dir)

    sys.path.insert(0, ROOT)
    bench = Bench(workload["queries"], args.seed)
    try:
        bench.setup(t_process_start)
        bench.run_pass("cold")
        bench.run_pass("check", fingerprints)
        for _ in range(workload["warmup_passes"]):
            bench.run_pass("warmup")
        t_measure = time.perf_counter()
        while not bench.measured() or time.perf_counter() - t_measure < args.seconds:
            bench.run_pass("measured")
        peak_rss_mb = jvm_peak_rss_mb()
    finally:
        if hasattr(bench, "spark"):
            stop_session(bench.spark)

    steal1, ticks1 = host_ticks()
    warm = [p["wall_s"] for p in bench.measured()]
    setup_spans = {s["name"]: s["end"] - s["start"] for s in bench.spans.rows if s["parent"] == 0}
    info.update(
        loadavg_end=loadavg(), steal_share=(steal1 - steal0) / max(ticks1 - ticks0, 1),
        setup_s=bench.setup_s, setup_spans=setup_spans,
        warm_pass_quartiles_s=quartiles(warm), measured_passes=len(warm), mismatches=bench.mismatches,
        passes=[{k: p[k] for k in ("kind", "wall_s", "cpu_s", "gc_s", "order", "query_s")}
                for p in bench.passes],
    )
    if not args.trace:
        return bench, info, {
            "setup_s": {"value": bench.setup_s, "unit": "s"},
            "cold_pass_s": {"value": bench.passes[0]["wall_s"], "unit": "s"},
            "warm_pass_s": {"value": statistics.median(warm), "unit": "s"},
            "cpu_s": {"value": statistics.median(p["cpu_s"] for p in bench.measured()), "unit": "cpu-s"},
        }
    counters = layer_counters(read_events(log_dir))
    metrics = per_layer_metrics(bench, counters, setup_spans["session.get_spark"],
                                setup_spans["catalog.load_tables"], peak_rss_mb)
    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    out_path = os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json")
    with open(out_path, "w") as f:
        json.dump({"info": info, "metrics": metrics, "spans": bench.spans.rows, "counters": counters}, f)
    info["trace_file"] = os.path.relpath(out_path, ROOT)
    return bench, info, metrics


def main(argv: list[str] | None = None) -> int:
    t_process_start = process_start_perf()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    try:
        bench, info, metrics = run(args, t_process_start, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("perfbench-info " + json.dumps(info))
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
