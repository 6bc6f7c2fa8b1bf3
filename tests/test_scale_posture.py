"""Scale-posture evidence beyond the per-query plan guard: dimension
joins actually BROADCAST (not just avoid nested loops), and AQE's
runtime skew-join split actually fires on a skewed equi-join under the
session factory's config — the two mechanisms SCALE.md's join story
rests on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod


@pytest.mark.parametrize(
    "name",
    [
        "flagship_revenue_by_nation",
        "tpch_q3_shipping_priority",
        "tpch_q10_returned_items",
        "tpch_q14_promo_share",
        "tpch_q17_small_qty_revenue",
    ],
)
def test_dim_joins_broadcast(spark, sf_dir, name):
    """Every dim join in the headline relational queries must plan as
    BroadcastHashJoin — a silent fallback to SortMergeJoin on a dim
    table means the fact side started shuffling for no reason."""
    plan = (
        entrymod.queries()[name](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    # the big-side joins may legitimately sort-merge; what must NOT
    # happen is zero broadcasts (all dims demoted)


def test_aqe_splits_skewed_join(spark):
    """One key holding ~90% of the probe side: AQE's skew-join handler
    must split it (OptimizeSkewedJoin marks the SMJ with skew=true) so
    no single task owns the hot key's whole partition. This is the
    runtime defense the session factory turns on; joins.salted_join is
    the manual fallback beyond it."""
    # production thresholds are MB-scale; shrink them so this local[32]
    # fixture's ~11 MB hot partition counts as skewed, then restore.
    # Two lessons encoded here (each cost a debugging round): the
    # aggregate must CONSUME the payload or column pruning shrinks the
    # shuffle to bare keys, and MapStatus sizes are post-compression —
    # a constant-string payload compresses ~50:1 and ducks under any
    # threshold, so the payload is md5 text.
    overrides = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "262144",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "131072",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        skewed = spark.range(400_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(50_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("r")
        )
        joined = (
            skewed.hint("merge")
            .join(right.hint("merge"), "k")
            .groupBy()
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("payload")).alias("chars"),
            )
        )
        row = joined.collect()[0]
        # k=0: 360k probe rows × 1 build row; hot-key-exempt rows have
        # k=id with id%10==9, matching right's k<50k → 5k rows
        assert row.n == 360_000 + 5_000
        assert row.chars == 32 * row.n
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_local_parallelism_follows_host(monkeypatch):
    """With SPARK_GRAFT_CPUS unset the session is sized to the host's
    cores, not a fixed 32; set, it wins; partitions are at least 8."""
    import os

    from covid_custom_sql_engine_spark.session import local_parallelism

    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "cpu_count", lambda: 4)
    assert local_parallelism() == ("local[4]", 8)
    monkeypatch.setattr(os, "cpu_count", lambda: 12)
    assert local_parallelism() == ("local[12]", 12)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    assert local_parallelism() == ("local[2]", 8)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    assert local_parallelism() == ("local[*]", 12)
    monkeypatch.setenv("SPARK_MASTER", "local[3]")
    assert local_parallelism()[0] == "local[3]"
