from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from covid_custom_sql_engine_spark import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def duck(spark, sf_dir):
    """DuckDB connection with a view per testdata table — the oracle
    side of tools/check_oracle.py."""
    from tools.check_oracle import oracle_connection

    con = oracle_connection(sf_dir, spark)
    yield con
    con.close()


@pytest.fixture(scope="session")
def matches_oracle(spark, sf_dir, duck):
    """Asserts that a registry query returns its DuckDB oracle's rows,
    compared as tools/check_oracle.py compares them (row count, column
    names, order-insensitive normalized values)."""
    import __spark_entry__ as entrymod
    from tools.check_oracle import table_key

    def check(name):
        sdf = entrymod.queries()[name](spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        res = duck.execute(entrymod.oracle_sql()[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        assert srows, "an empty result would compare equal vacuously"
        assert sorted(sdf.columns) == sorted(dcols)
        assert len(srows) == len(drows)
        assert table_key(srows, sdf.columns) == table_key(drows, dcols)

    return check
