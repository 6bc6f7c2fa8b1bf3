"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, then compares row count, column
names, and order-insensitive values (columns sorted by name, rows sorted
by all columns, NaN≡NULL normalization). Reports per-query PASS/FAIL
with first differing rows, the Spark and DuckDB seconds apart, and the
process's peak RSS so far. DuckDB runs under a memory limit of host RAM
minus the Spark driver heap, so a runaway oracle is a reported FAIL
(DuckDB's out-of-memory error), not an exhausted host.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The only DuckDB output types the driver's hash canonicalization is known
# to render identically to Spark's. Anything else (HUGEINT from integer
# sum(), DECIMAL, TIMESTAMP precision variants, ...) hash-FAILs at the
# driver even when the VALUES match — exactly the class that cost 7 rows
# in round 3 (VERDICT.md "What's wrong" #1/#2). An oracle whose relation
# types leave this set fails HERE, locally, before it ever reaches the
# driver.
ALLOWED_DUCK_TYPES = {"VARCHAR", "BIGINT", "DOUBLE", "BOOLEAN", "INTEGER"}


def oracle_type_violations(con, sql: str):
    """Column/type pairs of an oracle's output that fall outside the
    driver-safe type set (empty list = safe)."""
    rel = con.sql(f"SELECT * FROM ({sql}) q LIMIT 0")
    return [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if str(t) not in ALLOWED_DUCK_TYPES
    ]


TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def oracle_connection(sf_dir: str, spark):
    """DuckDB connection with a view per testdata table: the oracle side
    of every Spark-vs-DuckDB comparison. Its ``memory_limit`` is host
    RAM minus ``spark``'s driver heap (the JVM shares the host)."""
    import duckdb

    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{max(ram - heap, 1 << 30) >> 20}MiB'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def peak_rss_mb() -> int:
    """This process's peak resident set so far (DuckDB runs in it)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss >> 10


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    return str(v)


def table_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in order))
    out.sort()
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from covid_custom_sql_engine_spark import get_spark

    spark = get_spark("oracle_check")
    con = oracle_connection(sf_dir, spark)

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
            print(f"FAIL {name}: spark error: {e} (peak rss {peak_rss_mb()} MB)")
            n_fail += 1
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(
                f"OK(rows-only) {name}: {len(srows)} rows, spark {spark_s:.1f}s, "
                f"peak rss {peak_rss_mb()} MB"
            )
            n_pass += 1
            continue
        t0 = time.time()
        try:
            bad_types = oracle_type_violations(con, oracles[name])
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e} (peak rss {peak_rss_mb()} MB)")
            n_fail += 1
            continue
        times = (
            f"spark {spark_s:.1f}s, duckdb {time.time() - t0:.1f}s, "
            f"peak rss {peak_rss_mb()} MB"
        )
        problems = []
        if bad_types:
            problems.append(
                f"oracle emits driver-unsafe types {bad_types} "
                f"(allowed: {sorted(ALLOWED_DUCK_TYPES)}) — cast in the SQL"
            )
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            sk = table_key(srows, scols)
            dk = table_key(drows, dcols)
            if sk != dk:
                diffs = [(a, b) for a, b in zip(sk, dk) if a != b][:3]
                problems.append(f"values differ; first diffs {diffs}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} ({times})")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows, {times}")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
