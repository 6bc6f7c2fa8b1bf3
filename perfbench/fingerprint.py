"""Regenerate ``fingerprints.json`` from the DuckDB oracles.

Usage: python3 perfbench/fingerprint.py [query ...]

For every query of every workload in ``workloads.json`` (or only the named
ones), runs its ``oracle_sql()`` on DuckDB over the sf0.1 parquet tables
and stores the row count plus the order-insensitive value hash that
``run.py`` compares Spark's output against. DuckDB takes up to a minute on
some oracles, which is why the benchmark reads these stored values instead
of running DuckDB itself.
"""

from __future__ import annotations

import json
import os
import sys
import time

from run import CONFIG, FINGERPRINTS, ROOT, fingerprint


def main(names: list[str]) -> int:
    import duckdb

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod
    from covid_custom_sql_engine_spark.catalog import DEFAULT_SF_DIR, TABLE_NAMES, table_path

    with open(CONFIG) as f:
        config = json.load(f)
    if not names:
        names = sorted({q for w in config["workloads"].values() for q in w["queries"]})
    stored = {}
    if os.path.exists(FINGERPRINTS):
        with open(FINGERPRINTS) as f:
            stored = json.load(f)

    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(DEFAULT_SF_DIR, t)}')")
    for name in names:
        t0 = time.perf_counter()
        res = con.execute(oracles[name])
        cols = [d[0] for d in res.description]
        stored[name] = fingerprint(cols, res.fetchall())
        print(f"{name}: {stored[name]['rows']} rows in {time.perf_counter() - t0:.1f}s")
    with open(FINGERPRINTS, "w") as f:
        json.dump(dict(sorted(stored.items())), f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
