"""Driver-replica correctness gate on a BARE SparkSession.

The grading driver builds its own SparkSession without any of
session.py's configs (UTC timezone, AQE, broadcast threshold, Arrow,
nanosAsLong, python filterPushdown...). Round 1 proved that queries can
pass the configured-session gate (tools/check_oracle.py) and still fail
under the driver: every events query crashed on the nanos read, and
synth_source_agg failed on the filterPushdown conf. This gate runs the
SAME Spark-vs-DuckDB comparison on a deliberately unconfigured session,
so any hidden dependency on session-build configs surfaces here first.

Usage: python tools/check_bare.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))
sys.path.insert(0, TOOLS)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    # what the grading driver does: a plain session, no configs
    spark = SparkSession.builder.master("local[8]").getOrCreate()

    import check_oracle as co
    import __spark_entry__ as entrymod

    con = co.oracle_connection(sf_dir, spark)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"OK(rows-only) {name}: {len(srows)} rows in {time.time()-t0:.1f}s")
            n_pass += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            sk = co.table_key(srows, scols)
            dk = co.table_key(drows, dcols)
            if sk != dk:
                diffs = [(a, b) for a, b in zip(sk, dk) if a != b][:3]
                problems.append(f"values differ; first diffs {diffs}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows in {time.time()-t0:.1f}s")
            n_pass += 1
    print(f"\nBARE-SESSION GATE: {n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
