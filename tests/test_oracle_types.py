"""Driver-faithfulness gates for the DuckDB oracle strings.

Round 3 lost 7 driver rows to a representation-level defect the local
gate could not see: DuckDB widens integer ``sum()`` to HUGEINT while
Spark emits BIGINT, and the driver's hash canonicalization distinguishes
the two even when every value matches (VERDICT.md r3, "What's wrong"
#1/#2). These tests make that whole bug class a local failure:

1. ``test_oracle_output_types_driver_safe`` — every oracle's DuckDB
   relation types must stay inside the agreed driver-safe set
   (VARCHAR/BIGINT/DOUBLE/BOOLEAN/INTEGER). A new oracle using a bare
   integer ``sum()`` (→ HUGEINT) or an unterminated DECIMAL fold fails
   here at commit time, not at the driver two rounds later.

2. ``test_oracle_fetch_paths_render_identically`` — each oracle is
   executed through BOTH DuckDB fetch paths (``fetchall`` and Arrow
   ``fetch_arrow_table``) and the canonical renderings must be
   identical, so representation skew of ANY future type (DECIMAL scale,
   TIMESTAMP precision, -0.0) is caught the way the driver — which
   reads Arrow — would see it, not the way ``str(int)`` hides it.
"""

from __future__ import annotations

import pytest

# Full-registry audit battery: excluded from the default (driver) test
# path by pytest.ini's `-m "not slow"` — run with `-m ""`. The same
# surface is gated standalone at round end (tools/check_oracle.py /
# check_plans.py / check_bare.py run the full 316-query versions).
pytestmark = pytest.mark.slow

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import ALLOWED_DUCK_TYPES, oracle_type_violations

@pytest.fixture(scope="module")
def oracles():
    import __spark_entry__ as em

    return em.oracle_sql()


def test_oracle_output_types_driver_safe(duck, oracles):
    offenders = {}
    for name, sql in oracles.items():
        bad = oracle_type_violations(duck, sql)
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"oracles emit types outside {sorted(ALLOWED_DUCK_TYPES)} — the driver's "
        f"hash canonicalization will flag them even on equal values: {offenders}"
    )


def _canon(v):
    """One canonical rendering for a cell regardless of fetch path."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return repr(v + 0.0)  # +0.0 folds -0.0 into 0.0
    return f"{type(v).__name__}:{v}"


def _canon_table(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def test_oracle_fetch_paths_render_identically(duck, oracles):
    skew = {}
    for name, sql in oracles.items():
        res = duck.execute(sql)
        cols = [d[0] for d in res.description]
        py = _canon_table(cols, res.fetchall())
        tbl = duck.execute(sql).fetch_arrow_table()
        ar = _canon_table(tbl.column_names,
                          list(zip(*[c.to_pylist() for c in tbl.columns]))
                          if tbl.num_rows else [])
        if py != ar:
            diffs = [(a, b) for a, b in zip(py, ar) if a != b][:2]
            skew[name] = diffs or f"rowcount {len(py)} vs {len(ar)}"
    assert not skew, f"fetchall vs Arrow render differently: {skew}"
