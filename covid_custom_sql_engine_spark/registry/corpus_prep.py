"""Corpus-preparation operators: decontamination, chunking, packing, k-means step.

Split from the single-file registry (round 10); bodies unchanged.
"""

from __future__ import annotations

import math  # noqa: F401

from pyspark.sql import DataFrame, SparkSession, Window, functions as F  # noqa: F401

from covid_custom_sql_engine_spark.catalog import load_table, parallelize_small  # noqa: F401
from covid_custom_sql_engine_spark.operators import core as ops  # noqa: F401
from covid_custom_sql_engine_spark.operators import composites as comp  # noqa: F401
from covid_custom_sql_engine_spark.operators import joins as xjoins  # noqa: F401
from covid_custom_sql_engine_spark.functions import corpus as cp  # noqa: F401
from covid_custom_sql_engine_spark.functions import dedup as dd  # noqa: F401
from covid_custom_sql_engine_spark.functions import similarity as sim  # noqa: F401
from covid_custom_sql_engine_spark.functions import sketches as sks  # noqa: F401
from covid_custom_sql_engine_spark.functions import text as tx  # noqa: F401
from covid_custom_sql_engine_spark.registry._base import ORACLES, QUERIES, _sql_davg, _sql_dsum, query  # noqa: F401,E501
from covid_custom_sql_engine_spark.registry.text_dedup import _SQL_NORM, _SQL_TOKS  # noqa: F401,E501


# Phase 7 — corpus-preparation operators (decontamination, chunking,
# packing, k-means step): the stage between dedup and tokenization in a
# training-data pipeline.
# ---------------------------------------------------------------------------

# NOTE: _SQL_TOKS is defined ONCE (phase-3 header above) as the \s+
# whitespace-regex tokenizer — the exact DuckDB twin of
# functions/text.tokens. Do NOT shadow it with a single-space
# string_split variant: that passes only while fixture text contains no
# tabs/newlines/double-spaces, and a shadowed binding silently changes
# every oracle registered after it (r4 ADVICE).


def _sql_shingles(n: int) -> str:
    """DuckDB mirror of dedup.word_shingles at gram length ``n``
    (same shape as _sql_minhash_cte's 3-gram CTE)."""
    return f"""
    toks AS (SELECT doc_id, string_split({_SQL_NORM}, ' ') AS toks FROM documents),
    sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= {n}
             THEN list_transform(range(0, len(toks) - {n - 1}),
                                 i -> array_to_string(list_slice(toks, i + 1, i + {n}), ' '))
             ELSE [array_to_string(toks, ' ')] END) AS sh
          FROM toks)"""


@query(
    "decontaminate_ngrams",
    oracle=f"""
    WITH {_sql_shingles(cp.DECONTAM_N)},
    eg AS (SELECT DISTINCT unnest(sh) AS gram FROM sh WHERE doc_id % 97 = 0),
    dg AS (SELECT doc_id, unnest(sh) AS gram FROM sh WHERE doc_id % 97 <> 0),
    hits AS (SELECT dg.doc_id, count(*) AS n FROM dg JOIN eg USING (gram) GROUP BY dg.doc_id)
    SELECT d.doc_id, coalesce(h.n, 0) AS n_contaminated_grams,
           coalesce(h.n, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 97 <> 0
    """,
)
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    8-gram with a held-out eval set (here the doc_id % 97 == 0 slice —
    a stand-in for a benchmark suite). Eval grams broadcast against one
    exploded corpus scan; no document-pair comparison."""
    d = parallelize_small(load_table(spark, sf_dir, "documents"))
    ev = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return cp.ngram_decontaminate(corpus, ev)


@query(
    "chunk_documents",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    nz AS (SELECT doc_id, toks, len(toks) AS n FROM toks WHERE len(toks) > 0),
    st AS (SELECT doc_id, toks, n,
                  unnest(generate_series(1, greatest(n - {cp.CHUNK_WINDOW - cp.CHUNK_STRIDE}, 1),
                                         {cp.CHUNK_STRIDE})) AS s
           FROM nz)
    SELECT doc_id,
           (s - 1) // {cp.CHUNK_STRIDE} AS chunk_idx,
           s AS start_token,
           len(list_slice(toks, s, least(s + {cp.CHUNK_WINDOW - 1}, n))) AS n_tokens,
           md5(array_to_string(list_slice(toks, s, least(s + {cp.CHUNK_WINDOW - 1}, n)), ' ')) AS chunk_fp
    FROM st
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token windows every 24):
    the pre-tokenizer splitting step. Pure per-row sequence/slice
    expressions — no shuffle at any corpus size."""
    d = parallelize_small(load_table(spark, sf_dir, "documents"))
    return cp.chunk_tokens(d)


@query(
    "pack_token_budget",
    oracle=f"""
    WITH t AS (SELECT doc_id, len({_SQL_TOKS}) AS n_tokens FROM documents),
    c AS (SELECT doc_id, n_tokens,
                 coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM t)
    SELECT doc_id, n_tokens, (cum // {cp.PACK_BUDGET})::BIGINT AS shard,
           (cum % {cp.PACK_BUDGET})::BIGINT AS shard_offset
    FROM c
    """,
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard assignment in stable doc_id order via a
    distributed two-phase prefix sum (per-partition cumsums + an
    O(num_partitions) broadcast offset table) — never a single-partition
    global window."""
    d = load_table(spark, sf_dir, "documents")
    return cp.pack_token_budget(d)


@query(
    "kmeans_step",
    oracle=f"""
    WITH c AS (SELECT vec_id AS cell, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 8),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings),
    scored AS (SELECT vec_id, vv, cell,
                      list_dot_product(vv, cv)
                        / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(cv, cv))) AS sim
               FROM v CROSS JOIN c),
    assigned AS (SELECT vec_id, vv, cell FROM scored
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) = 1),
    expl AS (SELECT cell, generate_subscripts(vv, 1) - 1 AS dim, unnest(vv) AS val FROM assigned)
    SELECT cell, dim, round({_sql_dsum('val')} / count(*), 6) AS centroid,
           count(*) AS n_members
    FROM expl GROUP BY cell, dim
    """,
)
def kmeans_step_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One spherical k-means Lloyd iteration over the embeddings table
    (centroids: vec_id < 8). Assignment is a pure projection against
    driver-inlined centroid literals (no join, no shuffle); the update
    is one posexplode + hash aggregate."""
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    return sim.kmeans_step(e, k=8)


@query(
    "funnel_steps",
    oracle="""
    WITH s0 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1),
    s1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s0 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1),
    s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1),
    c AS (SELECT 0 AS step_idx, 'view' AS step, count(*) AS n_users FROM s0
          UNION ALL SELECT 1, 'click', count(*) FROM s1
          UNION ALL SELECT 2, 'purchase', count(*) FROM s2)
    SELECT CAST(step_idx AS BIGINT) AS step_idx, step, n_users,
           round(CASE WHEN first_value(n_users) OVER (ORDER BY step_idx) > 0
                      THEN n_users::DOUBLE / first_value(n_users) OVER (ORDER BY step_idx)
                 END, 6) AS conversion
    FROM c
    """,
)
def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel over the events log: users
    completing each step strictly after their first completion of the
    previous one, with conversion relative to step 0. Every shuffle is
    on the user key (operators/composites.funnel_counts)."""
    e = load_table(spark, sf_dir, "events")
    return comp.funnel_counts(e, ["view", "click", "purchase"])


@query(
    "merge_upsert",
    oracle="""
    WITH latest AS (
      SELECT user_id, value FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    ), upd AS (
      SELECT user_id AS k, value FROM latest
      UNION ALL
      SELECT user_id + 2000, value FROM latest
    )
    SELECT coalesce(c.c_custkey, u.k) AS c_custkey,
           c.c_name, c.c_nationkey,
           coalesce(u.value, c.c_acctbal) AS c_acctbal,
           c.c_mktsegment
    FROM customer c FULL OUTER JOIN upd u ON c.c_custkey = u.k
    """,
)
def merge_upsert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO the customer dimension: each user's latest event value
    becomes their new account balance (matched → partial-column update);
    the same change set shifted past the key range exercises the
    not-matched → insert path. One broadcast full-outer join on the key
    (operators/merge.merge_upsert)."""
    from covid_custom_sql_engine_spark.operators.merge import merge_upsert
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        e.select("user_id", "ts", "event_id", "value")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "value")
    )
    updates = latest.select(
        F.col("user_id").alias("c_custkey"), F.col("value").alias("c_acctbal")
    ).unionAll(
        latest.select(
            (F.col("user_id") + 2000).alias("c_custkey"),
            F.col("value").alias("c_acctbal"),
        )
    )
    return merge_upsert(c, updates, "c_custkey")


@query(
    "scd2_intervals",
    oracle="""
    SELECT user_id, event_type, value,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_type, value),
                    '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_type, value) IS NULL
             AS is_current
    FROM events
    """,
)
def scd2_intervals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from the events change log: one
    validity interval per change (valid_from/valid_to/is_current), one
    window pass partitioned by user (operators/merge.scd2_intervals)."""
    from covid_custom_sql_engine_spark.operators.merge import scd2_intervals

    e = load_table(spark, sf_dir, "events")
    out = scd2_intervals(e, "user_id", "ts", ["event_type", "value"])
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return out.select(
        "user_id",
        "event_type",
        "value",
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.date_format("valid_to", fmt).alias("valid_to"),
        "is_current",
    )


def _pagerank_oracle(iterations: int = 3) -> str:
    """Statically-unrolled PageRank oracle matching functions/graph.py:
    identical IEEE expression tree ((1.0 - 0.85) evaluated in DOUBLE on
    both engines), identical DECIMAL(38,18) contribution folding."""
    base = """
    WITH pairs AS (
        SELECT DISTINCT 'c:' || o.o_custkey AS c, 's:' || l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs
    ),
    deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
    ew AS (SELECT e.src, e.dst, 1.0::DOUBLE / d.out_deg AS w
           FROM edges e JOIN deg d USING (src)),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    n AS (SELECT count(*) AS _n FROM nodes),
    r0 AS (SELECT node, 1.0::DOUBLE / (SELECT _n FROM n) AS pr FROM nodes)"""
    for i in range(1, iterations + 1):
        base += f""",
    r{i} AS (
        SELECT ew.dst AS node,
               (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT _n FROM n)
               + 0.85::DOUBLE * CAST(sum(CAST(r{i-1}.pr * ew.w
                                              AS DECIMAL(38,18))) AS DOUBLE)
                 AS pr
        FROM r{i-1} JOIN ew ON r{i-1}.node = ew.src
        GROUP BY ew.dst
    )"""
    # round(10): double→DECIMAL(38,18) quantization rounds half-way
    # cases differently across engines (~1e-18 absolute skew, last ulp
    # of a ~1e-2 rank); 10 dp keeps full ranking signal and is 8 orders
    # of magnitude above the skew.
    return base + f"\n    SELECT node, round(pr, 10) AS pr FROM r{iterations}"


def _hits_oracle(iterations: int = 3) -> str:
    """Unrolled HITS oracle matching functions/graph.hits: identical
    DECIMAL(38,18) folds and L1 normalizations, round(10) at the end
    for the same double→decimal half-way-rounding reason as PageRank."""
    ds = "CAST(sum(CAST({x} AS DECIMAL(38,18))) AS DOUBLE)"
    base = """
    WITH pairs AS (
        SELECT DISTINCT 'c:' || o.o_custkey AS c, 's:' || l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    e AS (SELECT c AS src, s AS dst FROM pairs),
    h0 AS (SELECT DISTINCT src AS node, 1.0::DOUBLE AS h FROM e)"""
    prev_h = "h0"
    for i in range(1, iterations + 1):
        # totals via CROSS JOIN of a 1-row CTE, NOT a scalar subquery in
        # the projection — DuckDB re-evaluates the latter per row
        # (measured 10 s → 0.1 s at sf0.01)
        base += f""",
    a{i}r AS (SELECT e.dst AS node, {ds.format(x=f'{prev_h}.h')} AS a
              FROM e JOIN {prev_h} ON e.src = {prev_h}.node GROUP BY e.dst),
    a{i}t AS (SELECT {ds.format(x='a')} AS t FROM a{i}r),
    a{i} AS (SELECT node, a / t AS a FROM a{i}r CROSS JOIN a{i}t),
    h{i}r AS (SELECT e.src AS node, {ds.format(x=f'a{i}.a')} AS h
              FROM e JOIN a{i} ON e.dst = a{i}.node GROUP BY e.src),
    h{i}t AS (SELECT {ds.format(x='h')} AS t FROM h{i}r),
    h{i} AS (SELECT node, h / t AS h FROM h{i}r CROSS JOIN h{i}t)"""
        prev_h = f"h{i}"
    return base + f"""
    SELECT node, 'hub' AS side, round(h, 10) AS score FROM h{iterations}
    UNION ALL
    SELECT node, 'authority' AS side, round(a, 10) AS score FROM a{iterations}"""


@query("hits_bipartite", oracle=_hits_oracle(3))
def hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS on the directed customer→supplier purchase graph — hubs are
    broad-basket customers, authorities are widely-bought-from
    suppliers. 3 unrolled iterations of the mutual-reinforcement
    recurrence (functions/graph.hits), each an equi-join + combinable
    aggregate + 1-row L1-normalizer broadcast; per-round pinning keeps
    the plan linear in iteration count."""
    from covid_custom_sql_engine_spark.functions import graph as gr

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        # typed ids packed into order-preserving bigints (optimization
        # r13, guide §2.3): the distinct and all 6 per-round exchanges
        # hash longs; the decorated string is rebuilt once at the end
        .select(
            gr.encode_typed_key(F.col("o_custkey"), 0).alias("src"),
            gr.encode_typed_key(F.col("l_suppkey"), 1).alias("dst"),
        )
        .distinct()
    )
    out = gr.hits(edges, iterations=3)
    return out.select(
        gr.decode_typed_node("node").alias("node"),
        "side",
        F.round(F.col("score"), 10).alias("score"),
    )


@query("pagerank_bipartite", oracle=_pagerank_oracle(3))
def pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier bipartite graph (an edge per
    distinct customer/supplier trading pair, both directions, supplier
    nodes kept disjoint from customers via typed 'c:'/'s:' id prefixes
    — an arithmetic offset would silently alias the two key spaces once
    o_custkey outgrows it at larger scale factors, r4 ADVICE), 3 unrolled iterations,
    damping 0.85 (functions/graph.pagerank). The iterative-algorithm
    family member beyond connected components: each round is one
    equi-join + one map-side-combinable hash aggregate — the shuffle
    profile that survives 100 TB — and the DECIMAL(38,18) contribution
    fold makes ranks bit-identical to the oracle's unrolled SQL."""
    from covid_custom_sql_engine_spark.functions import graph as gr

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        # distinct on the INTEGER key pair; the typed 'c:'/'s:' ids are
        # then packed into ONE order-preserving bigint (optimization
        # r13, guide §2.3 — graph.encode_typed_key): every per-round
        # exchange of the iterative algorithm shuffles/hashes 8-byte
        # longs instead of strings, and the decorated string is rebuilt
        # once in the final projection (decode_typed_node) — same
        # min/tie-break winners by the codec's order proof
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            gr.encode_typed_key(F.col("o_custkey"), 0).alias("c"),
            gr.encode_typed_key(F.col("l_suppkey"), 1).alias("s"),
        )
    )
    # EAGER pin (optimization r12): both union orientations below (and
    # every per-round pin a graph function takes internally) read ONE
    # evaluation of the orders-x-lineitem distinct. Lazy pinning is not
    # enough here - the union puts both branches in one job, whose
    # concurrent tasks each compute the unmaterialized subtree (the
    # measured double lineitem scan + 'Block rdd already exists' race);
    # the eager pin materializes once, before the consumers plan.
    pairs = pairs.localCheckpoint(eager=True)
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionAll(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    return gr.pagerank(edges, iterations=3, damping=0.85).select(
        gr.decode_typed_node("node").alias("node"),
        F.round(F.col("rank"), 10).alias("pr"),
    )


@query(
    "triangle_counts",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY pa, pb HAVING count(*) >= 2
    ),
    und AS (SELECT pa AS src FROM e0 UNION ALL SELECT pb FROM e0),
    deg AS (SELECT src, count(*) AS d FROM und GROUP BY src),
    orient AS (
        SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.pa < e.pb)
                    THEN e.pa ELSE e.pb END AS src,
               CASE WHEN da.d < db.d OR (da.d = db.d AND e.pa < e.pb)
                    THEN e.pb ELSE e.pa END AS dst,
               CASE WHEN da.d < db.d OR (da.d = db.d AND e.pa < e.pb)
                    THEN db.d ELSE da.d END AS dd
        FROM e0 e JOIN deg da ON e.pa = da.src JOIN deg db ON e.pb = db.src
    ),
    tri AS (
        SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
        FROM orient o1 JOIN orient o2 ON o1.src = o2.src
        WHERE (o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst))
          AND EXISTS (SELECT 1 FROM orient o3
                      WHERE o3.src = o1.dst AND o3.dst = o2.dst)
    )
    SELECT vertex, count(*) AS n_triangles
    FROM (SELECT unnest([u, v, w]) AS vertex FROM tri)
    GROUP BY vertex
    """,
)
def triangle_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts in the co-purchase graph (parts bought
    together in ≥2 orders) via degree-ordered orientation
    (functions/graph.triangle_counts): every wedge generates at its
    ordering-minimal vertex so hub fan-out is bounded ~O(√m) — the
    formulation that keeps triangle counting feasible on power-law
    graphs at 100 TB. Each triangle closes with one equi-join; counts
    explode to the three corners and hash-aggregate."""
    from covid_custom_sql_engine_spark.functions import graph as gr

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("ea"))
    b = li.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("eb")
    )
    edges = (
        a.join(b, (a.l_orderkey == b._ok) & (F.col("ea") < F.col("eb")))
        .groupBy("ea", "eb")
        .agg(F.count(F.lit(1)).alias("_support"))
        .filter(F.col("_support") >= 2)
        .select("ea", "eb")
    )
    return gr.triangle_counts(edges, "ea", "eb")


@query(
    "incremental_mv_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           count(l_quantity) AS n_l_quantity,
           {_sql_dsum('l_quantity')} AS sum_l_quantity,
           {_sql_davg('l_quantity')} AS avg_l_quantity,
           min(l_quantity) AS min_l_quantity,
           max(l_quantity) AS max_l_quantity
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def incremental_mv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the lineitem rollup is
    built as three per-batch partial states (shipdate < 1997 as the
    "historical" view, 1997–98 and ≥ 1999 as two later ingest batches),
    key-wise merged, then finalized — and the oracle recomputes the view
    DIRECTLY from the full table. Equality is exact because every state
    field is a commutative monoid and the sum is fixed-point decimal:
    merge(state(A), state(B)) == state(A ∪ B) to the bit under any
    batch split (operators/merge.rollup_state/merge_rollup_states/
    finalize_rollup). At 100 TB only the newest batch is ever scanned;
    history lives as O(|keys|) state."""
    from covid_custom_sql_engine_spark.operators.merge import (
        finalize_rollup,
        merge_rollup_states,
        rollup_state,
    )

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_shipdate"
    )
    cut1 = F.lit("1997-01-01 00:00:00").cast("timestamp")
    cut2 = F.lit("1999-01-01 00:00:00").cast("timestamp")
    keys = ["l_returnflag", "l_linestatus"]
    batches = [
        l.filter(F.col("l_shipdate") < cut1),
        l.filter((F.col("l_shipdate") >= cut1) & (F.col("l_shipdate") < cut2)),
        l.filter(F.col("l_shipdate") >= cut2),
    ]
    states = [rollup_state(b, keys, "l_quantity") for b in batches]
    return finalize_rollup(merge_rollup_states(*states), "l_quantity")


@query(
    "bpe_pair_counts",
    oracle=f"""
    WITH toks AS (SELECT {_SQL_TOKS} AS toks FROM documents)
    SELECT toks[i] AS token_a, toks[i + 1] AS token_b, count(*) AS cnt
    FROM toks, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
    WHERE len(toks) >= 2
    GROUP BY 1, 2
    ORDER BY cnt DESC, token_a, token_b
    LIMIT {cp.BPE_TOP_K}
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent token pairs — the BPE merge-candidate scan. One
    explode + hash aggregate keyed by pair (group count = distinct
    observed pairs), top-k via TakeOrdered, never a global sort."""
    d = parallelize_small(load_table(spark, sf_dir, "documents"))
    return cp.bpe_pair_counts(d)


def _bpe_round_cte(r: int) -> str:
    """One unrolled BPE merge round: pairs → count → argmax (count
    desc, pair asc) → greedy non-overlapping positional pick (matches
    as gaps-and-islands runs; within a run of consecutive match
    positions greedy takes every other one starting at the run head —
    exactly the engine's left-to-right regex rewrite) → rebuild token
    arrays. ``bs`` is LEFT-joined, so a round without a pair leaves the
    token arrays as they are, as the engine's loop does. ``tk{r}`` is
    read by the next round's ``pr`` and ``ex`` (and ``tk0`` by the
    encode tail), so it is ``AS MATERIALIZED`` and computed once; an
    inlined CTE re-evaluates the earlier rounds once per read
    (``bpe_encoded_lengths`` took 78.8 s that way at sf0.1 on 2 DuckDB
    threads, 5.1 s materialized)."""
    p = r - 1
    return f"""
    pr{r} AS (SELECT doc_id, i, toks[i] AS x, toks[i + 1] AS y
              FROM tk{p}, UNNEST(generate_series(1, len(toks) - 1)) u(i)
              WHERE len(toks) >= 2),
    bs{r} AS (SELECT x, y, count(*) AS c FROM pr{r} GROUP BY 1, 2
              ORDER BY c DESC, x, y LIMIT 1),
    mt{r} AS (SELECT p.doc_id, p.i FROM pr{r} p, bs{r} b
              WHERE p.x = b.x AND p.y = b.y),
    rn{r} AS (SELECT doc_id, i,
                     i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g
              FROM mt{r}),
    pk{r} AS (SELECT doc_id, i FROM (
                SELECT doc_id, i, min(i) OVER (PARTITION BY doc_id, g) AS s
                FROM rn{r})
              WHERE (i - s) % 2 = 0),
    ex{r} AS (SELECT doc_id, i AS j, toks[i] AS tok
              FROM tk{p}, UNNEST(generate_series(1, len(toks))) u(i)),
    tk{r} AS MATERIALIZED (SELECT e.doc_id,
                     list(CASE WHEN p.i IS NOT NULL THEN b.x || '_' || b.y
                               ELSE e.tok END ORDER BY e.j) AS toks
              FROM ex{r} e
              LEFT JOIN bs{r} b ON TRUE
              LEFT JOIN pk{r} p ON p.doc_id = e.doc_id AND p.i = e.j
              LEFT JOIN pk{r} q ON q.doc_id = e.doc_id AND q.i = e.j - 1
              WHERE q.i IS NULL
              GROUP BY e.doc_id)"""


_BPE_ROUNDS = 3

_BPE_CTES = (
    f"""
    WITH tk0 AS MATERIALIZED (SELECT doc_id, toks FROM
                 (SELECT doc_id, {{toks}} AS toks FROM documents)
                 WHERE len(toks) >= 1),"""
    + ",".join(_bpe_round_cte(r) for r in range(1, _BPE_ROUNDS + 1))
)

_BPE_ORACLE = (
    _BPE_CTES
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, x AS token_a, y AS token_b,"
        f" c AS cnt FROM bs{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
)

# same unrolled rounds, different tail: per-document raw vs encoded
# token counts off the first and last token-state CTEs
_BPE_ENCODE_ORACLE = (
    _BPE_CTES
    + f"""
    SELECT t0.doc_id,
           CAST(len(t0.toks) AS BIGINT) AS n_tokens_raw,
           CAST(len(tn.toks) AS BIGINT) AS n_tokens_bpe
    FROM tk0 t0 JOIN tk{_BPE_ROUNDS} tn ON tn.doc_id = t0.doc_id"""
)


@query("bpe_train_merges", oracle=_BPE_ORACLE.format(toks=_SQL_TOKS))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated BPE trainer (cp.bpe_train): 3 merge rounds — count
    pairs, take the deterministic argmax, greedily apply the merge to
    every document, recount. The ordered merge table is the training
    artifact; the oracle unrolls the identical rounds with the greedy
    pick expressed positionally (gaps-and-islands parity pick), the
    label_propagation generated-oracle discipline; each round's token
    state is a MATERIALIZED CTE, computed once. Per round: one
    pair-count aggregate + a TakeOrdered(1) pulled to the driver, whose
    winning pair enters a zero-shuffle per-row ``regexp_replace``
    rewrite of the token array as literals; the last round's rewrite
    never runs."""
    d = parallelize_small(load_table(spark, sf_dir, "documents"))
    return cp.bpe_train(d, rounds=_BPE_ROUNDS)


@query("bpe_encoded_lengths", oracle=_BPE_ENCODE_ORACLE.format(toks=_SQL_TOKS))
def bpe_encoded_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer ENCODE step (cp.bpe_encode): the same 3 trained
    merge rounds applied through to the final per-document token
    arrays, reported as raw vs encoded token counts (every merge can
    only shrink a document). The oracle reuses bpe_train_merges'
    unrolled round CTEs with a different tail — the two queries cannot
    drift. Closing train→apply makes the merge table an artifact a
    packing/budgeting pipeline can actually consume (chunk_tokens /
    pack_token_budget read token counts; this is where post-BPE counts
    come from)."""
    d = parallelize_small(load_table(spark, sf_dir, "documents"))
    return cp.bpe_encode(d, rounds=_BPE_ROUNDS).select(
        "doc_id", "n_tokens_raw", "n_tokens_bpe"
    )


@query(
    "bigram_logprob",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    tk2 AS (SELECT doc_id, toks FROM tk WHERE len(toks) >= 2),
    bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
           FROM tk2, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)),
    occ2 AS (SELECT doc_id, w1, w2, count(*) AS occ FROM bg GROUP BY 1, 2, 3),
    big AS (SELECT w1, w2, sum(occ)::BIGINT AS c12 FROM occ2 GROUP BY 1, 2),
    uni AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM big GROUP BY 1),
    voc AS (SELECT count(*) AS v FROM
            (SELECT w1 AS w FROM big UNION SELECT w2 FROM big))
    SELECT occ2.doc_id, sum(occ)::BIGINT AS n_bigrams,
           round({_sql_dsum(
               "occ * (-ln((c12 + 0.5::DOUBLE) / (c1 + 0.5::DOUBLE * v)))"
           )} / CAST(sum(occ) AS DOUBLE), 6) AS avg_neg_logprob
    FROM occ2 JOIN big USING (w1, w2) JOIN uni USING (w1) CROSS JOIN voc
    GROUP BY occ2.doc_id
    """,
)
def bigram_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average −ln P(w₂|w₁) under the corpus's own add-k
    smoothed bigram LM (corpus.bigram_logprob) — the order-sensitive
    upgrade of `unigram_logprob` as a perplexity-style quality screen.
    Bigram occurrences pre-aggregate per doc before any join; V is a
    1-row broadcast."""
    d = parallelize_small(load_table(spark, sf_dir, "documents"))
    return cp.bigram_logprob(d)


@query(
    "unigram_logprob",
    oracle=f"""
    WITH occ0 AS (SELECT doc_id, unnest({_SQL_TOKS}) AS token FROM documents),
    o2 AS (SELECT doc_id, token, count(*) AS occ FROM occ0 GROUP BY 1, 2),
    uni AS (SELECT token, sum(occ) AS cnt FROM o2 GROUP BY 1),
    tot AS (SELECT sum(cnt) AS total FROM uni)
    SELECT o2.doc_id, CAST(sum(o2.occ) AS BIGINT) AS n_tokens,
           round({_sql_dsum('o2.occ * (-ln(uni.cnt::DOUBLE / tot.total::DOUBLE))')}
                 / CAST(sum(o2.occ) AS DOUBLE), 6) AS avg_neg_logprob
    FROM o2 JOIN uni USING (token) CROSS JOIN tot
    GROUP BY o2.doc_id
    """,
)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average −ln p(token) under the corpus's own unigram
    LM — the cheap perplexity-style quality filter. Occurrences are
    pre-aggregated per (doc, token) so stopword hot keys carry ≤1 row
    per document into the unigram join."""
    d = parallelize_small(load_table(spark, sf_dir, "documents"))
    return cp.unigram_logprob(d)


@query(
    "dataset_split",
    oracle="""
    WITH b AS (
      SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
                  ELSE 'test' END AS split,
             lang AS stratum, n_chars
      FROM (SELECT ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS h,
                   lang, n_chars
            FROM documents)
    ), per AS (
      SELECT split, stratum, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS tot_chars
      FROM b GROUP BY 1, 2
    )
    SELECT split, stratum, n_docs, tot_chars,
           round(n_docs::DOUBLE / sum(n_docs) OVER (PARTITION BY stratum), 6)
             AS frac_of_stratum
    FROM per
    """,
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-bucket train/val/test split (80/10/10) with a
    per-language audit row — stable under reruns and any partitioning,
    unlike rand() splits."""
    d = load_table(spark, sf_dir, "documents")
    return cp.dataset_split(d)


@query(
    "negative_samples",
    oracle="""
    WITH r AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rnk
               FROM documents),
    n AS (SELECT count(*) AS n FROM documents),
    s AS (SELECT r.doc_id, r.rnk, n.n, i.sample_idx
          FROM r CROSS JOIN n
          CROSS JOIN (SELECT unnest(range(3)) AS sample_idx) i
          WHERE n.n >= 2),
    h AS (SELECT *, ('0x' || substr(md5('neg:' || CAST(doc_id AS VARCHAR)
                       || ':' || CAST(sample_idx AS VARCHAR)), 1, 15))::BIGINT
                    % (n - 1) AS hv
          FROM s),
    x AS (SELECT doc_id, sample_idx, 1 + (rnk + hv) % n AS neg_rnk FROM h)
    SELECT x.doc_id, x.sample_idx, r2.doc_id AS neg_id
    FROM x JOIN r r2 ON r2.rnk = x.neg_rnk
    """,
)
def negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 deterministic uniform negative partners per document
    (functions/corpus.negative_samples) — contrastive-training pairing
    as pure hash arithmetic over a distributed dense rank, reproducible
    under any partitioning."""
    d = load_table(spark, sf_dir, "documents")
    out = cp.negative_samples(d, "doc_id", 3)
    return out.select(
        "doc_id", F.col("sample_idx").cast("bigint").alias("sample_idx"), "neg_id"
    )


@query(
    "quota_sample",
    oracle="""
    WITH r AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('quota:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents)
    SELECT doc_id, lang, n_chars FROM r WHERE rn <= 30
    """,
)
def quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quota sample (functions/corpus.quota_sample): at
    most 30 documents per lang, chosen by deterministic md5 hash order —
    the corpus-balancing cap applied before training, stable under
    reruns and any partitioning."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return cp.quota_sample(d, ["lang"], 30)


@query(
    "pca_power_step",
    oracle=f"""
    WITH v AS (SELECT embedding::DOUBLE[] AS vv FROM embeddings),
    w AS (SELECT list_transform(range(64), i -> 1.0 / sqrt(64)) AS ww),
    pr AS (SELECT vv, list_dot_product(vv, ww) AS proj FROM v CROSS JOIN w),
    ex AS (SELECT generate_subscripts(vv, 1) - 1 AS dim, unnest(vv) AS val, proj FROM pr),
    s AS (SELECT dim, {_sql_dsum('val * proj')} AS s, count(*) AS n FROM ex GROUP BY dim),
    nr AS (SELECT sqrt({_sql_dsum('s * s')}) AS nrm, max(n) AS cnt FROM s)
    SELECT CAST(dim AS BIGINT) AS dim,
           round(CASE WHEN nrm > 0 THEN s / nrm END, 6) AS component,
           round(nrm / cnt, 6) AS score
    FROM s CROSS JOIN nr
    """,
)
def pca_power_step_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the top principal direction of
    the embedding corpus: per-row literal-vector projection (no join),
    posexplode + hash aggregate update, 1-row normalizer broadcast —
    one scan per iteration, driver state O(dim)."""
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    return sim.pca_power_step(e, dim=64)


_SQL_RECALL_TAIL = """
    hits AS (SELECT ex.query_id, count(*) AS n_hits
             FROM ex JOIN ap ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
             GROUP BY ex.query_id),
    per AS (SELECT query_id, count(*) AS k FROM ex GROUP BY query_id)
    SELECT per.query_id, per.k, coalesce(hits.n_hits, 0) AS n_hits,
           round(coalesce(hits.n_hits, 0)::DOUBLE / per.k, 6) AS recall
    FROM per LEFT JOIN hits ON per.query_id = hits.query_id"""


def _recall_vs_exact(ex: DataFrame, ap: DataFrame) -> DataFrame:
    """Shared recall@k scaffold — per query, |exact ∩ approx| / |exact|
    over (query_id, vec_id) frames. Used by ann_recall /
    int8_topk_recall / pq_topk_recall so the formula exists ONCE per
    engine side; its SQL twin is `_SQL_RECALL_TAIL` (expects `ex` and
    `ap` CTEs in scope)."""
    hits = ex.join(ap, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    per = ex.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    n_hits = F.coalesce("n_hits", F.lit(0))
    return per.join(hits, "query_id", "left").select(
        "query_id",
        "k",
        n_hits.alias("n_hits"),
        F.round(n_hits / F.col("k"), 6).alias("recall"),
    )


@query(
    "ann_recall",
    oracle=f"""
    WITH ex AS ({ORACLES['cosine_topk']}),
    ap AS ({ORACLES['lsh_topk']}),{_SQL_RECALL_TAIL}
    """,
)
def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN evaluation as a first-class query: recall@k of the
    hyperplane-LSH top-k against the exact brute-force baseline, per
    query vector. The oracle COMPOSES the two queries' own oracle SQL
    as CTEs, so all three stay in lockstep. Both result sets are k·5
    rows — the join and aggregate are trivial; the cost is the two
    top-k pipelines themselves."""
    ex = QUERIES["cosine_topk"](spark, sf_dir).select("query_id", "vec_id")
    ap = QUERIES["lsh_topk"](spark, sf_dir).select("query_id", "vec_id")
    return _recall_vs_exact(ex, ap)


# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# DSIR-style importance resampling weights (round 12)
# ---------------------------------------------------------------------------

# Data Selection via Importance Resampling (Xie et al. 2023): score a
# RAW corpus against a small TARGET-domain sample with hashed-n-gram
# bag-of-words importance weights — the standard "make the pretraining
# mix look like the domain" selection pass. Per hashed bigram bucket b,
# λ_b = ln(p̂_target(b)) − ln(p̂_raw(b)) (0.5-Laplace smoothed); a
# document's weight is its mean bucket log-likelihood ratio. Runs on
# the vocabulary-separated two-pool corpus that also powers
# quality_classifier_lexical (same doc_id-arithmetic formula — the
# only registry fixture whose lexical statistics carry signal), with
# the pure-good mix (i % 11 == 10) as the target sample, so the
# planted mix ratio gives a closed-form monotonicity ground truth.
_DSIR_B = 16  # hashed bigram buckets
_DSIR_N, _DSIR_T = 2000, 20  # the quality_classifier_lexical corpus


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH syn AS (
      SELECT i AS doc_id, i % 11 AS mix,
             list_transform(range(0, {_DSIR_T}), j ->
               (CASE WHEN ((i * 7 + j * 13) % 10) < (i % 11)
                     THEN 'g' ELSE 'z' END)
               || CAST((i * 3 + j * 5) % 7 AS VARCHAR)) AS toks
      FROM range(0, {_DSIR_N}) t(i)),
    bg AS (SELECT doc_id, mix,
                  ('0x' || substr(md5(toks[j + 1] || ' ' || toks[j + 2]), 1, 15))::BIGINT
                    % {_DSIR_B} AS b
           FROM syn, range(0, {_DSIR_T - 1}) r(j)),
    tc AS (SELECT b, count(*) AS t FROM bg WHERE mix = 10 GROUP BY b),
    rc AS (SELECT b, count(*) AS r FROM bg GROUP BY b),
    sp AS (SELECT unnest(range(0, {_DSIR_B})) AS b),
    lam0 AS (SELECT sp.b,
                    coalesce(tc.t, 0) + 0.5 AS ts,
                    coalesce(rc.r, 0) + 0.5 AS rs
             FROM sp LEFT JOIN tc ON tc.b = sp.b LEFT JOIN rc ON rc.b = sp.b),
    tot AS (SELECT {_sql_dsum('ts')} AS st, {_sql_dsum('rs')} AS sr FROM lam0),
    lam AS (SELECT b, ln(ts / st) - ln(rs / sr) AS lam FROM lam0, tot),
    ds AS (SELECT bg.doc_id, bg.mix,
                  {_sql_dsum('lam.lam')} / count(*) AS w
           FROM bg JOIN lam ON lam.b = bg.b
           GROUP BY bg.doc_id, bg.mix)
    SELECT CAST(mix AS BIGINT) AS mix_ratio,
           CAST(count(*) AS BIGINT) AS n_docs,
           round({_sql_dsum('w')} / count(*), 6) AS avg_weight
    FROM ds GROUP BY mix
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023), the curation stage
    between quality filtering and mixture resampling: hashed-bigram
    bag-of-words log-likelihood ratios of a target-domain sample (the
    pure-good mix) against the raw corpus, averaged per document, then
    read out per planted mix ratio — avg_weight must increase with the
    ratio, the closed-form ground truth the pytest asserts (plus a
    numpy twin). Scale shape: the bucket table is O(B) (two hash
    aggregates over the exploded bigrams with map-side combine), λ
    rides a B-row broadcast join onto the bigram stream, and per-doc
    weights are one decimal-fold hash aggregate — one corpus scan
    end-to-end, no all-pairs, no vocabulary table (the hash IS the
    vocabulary, the point of DSIR at 100 TB). Resampling the weighted
    corpus is the existing `mixture_resample` / top-k machinery
    downstream."""
    from covid_custom_sql_engine_spark.registry.glm_survival import (
        _qcl_corpus,  # body-level import: keeps registry import order
    )

    syn = (
        _qcl_corpus(spark)
        .select("doc_id", (F.col("doc_id") % 11).alias("mix"), "toks")
        .localCheckpoint(eager=False)  # bigrams read twice (tc + scoring)
    )
    bucket = (
        lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")
        % _DSIR_B
    )
    bg = (
        syn.select(
            "doc_id",
            "mix",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(_DSIR_T - 2)),
                    lambda j: bucket(
                        F.concat(
                            F.element_at("toks", j + 1),
                            F.lit(" "),
                            F.element_at("toks", j + 2),
                        )
                    ),
                )
            ).alias("_j", "b"),
        )
        .select("doc_id", "mix", "b")
        .localCheckpoint(eager=False)  # target counts + raw counts + scoring
    )
    tc = bg.filter(F.col("mix") == 10).groupBy("b").agg(
        F.count(F.lit(1)).alias("t")
    )
    rc = bg.groupBy("b").agg(F.count(F.lit(1)).alias("r"))
    sp = spark.range(_DSIR_B).select(F.col("id").alias("b"))
    lam0 = (
        sp.join(tc, "b", "left")
        .join(rc, "b", "left")
        .select(
            "b",
            (F.coalesce("t", F.lit(0)) + 0.5).alias("ts"),
            (F.coalesce("r", F.lit(0)) + 0.5).alias("rs"),
        )
        .localCheckpoint(eager=False)  # totals + λ
    )
    tot = F.broadcast(
        lam0.agg(ops.dsum(F.col("ts")).alias("st"), ops.dsum(F.col("rs")).alias("sr"))
    )
    lam = lam0.crossJoin(tot).select(
        "b",
        (
            F.log(F.col("ts") / F.col("st")) - F.log(F.col("rs") / F.col("sr"))
        ).alias("lam"),
    )
    ds = (
        bg.join(F.broadcast(lam), "b")
        .groupBy("doc_id", "mix")
        .agg((ops.dsum(F.col("lam")) / F.count(F.lit(1))).alias("w"))
    )
    return ds.groupBy("mix").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(ops.dsum(F.col("w")) / F.count(F.lit(1)), 6).alias(
            "avg_weight"
        ),
    ).select(F.col("mix").cast("bigint").alias("mix_ratio"), "n_docs", "avg_weight")
