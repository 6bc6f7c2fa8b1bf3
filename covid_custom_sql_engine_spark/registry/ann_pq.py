"""PQ / IVFPQ / residual-IVFADC / filtered-ANN / MMR / NDCG retrieval stack.

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
from covid_custom_sql_engine_spark.registry.text_dedup import _SQL_TOKS, _sql_minhash_cte  # noqa: F401,E501
from covid_custom_sql_engine_spark.registry.sql_surface import _SQL_IVF_COARSE  # noqa: F401,E501
from covid_custom_sql_engine_spark.registry.corpus_prep import _SQL_RECALL_TAIL, _recall_vs_exact  # noqa: F401,E501


# The ONE set of PQ knobs driving both engine sides: the Python
# pq_topk/ivfpq_topk/ivfpq_rerank_topk calls AND the generated SQL
# fragments below read these, so changing a knob cannot desynchronize
# the oracle (it regenerates). _PQ_SUB is derived, never set.
_PQ_M = 4  # subspaces
_PQ_KCODES = 16  # codewords per subspace (seed ids 0..k-1)
_PQ_DIM = 64  # embedding dimension of the testdata corpus
assert _PQ_DIM % _PQ_M == 0
_PQ_SUB = _PQ_DIM // _PQ_M


# Shared PQ oracle fragments: the code-derivation CTE chain (normalize →
# seed codebooks → per-subspace argmin codes → wide code row) and the
# m-term ADC distance — used by pq_topk_recall, ivfpq_topk_recall AND
# ivfpq_rerank_recall so the oracles cannot drift. The ADC fragments
# expect the query rows aliased `q` (with normalized vector `v`) and the
# wide code row aliased `cw`.
def _pq_codes_sql(
    m: int,
    k: int,
    sub: int,
    src: str = "embeddings",
    vec: str = "embedding::DOUBLE[]",
    p: str = "",
) -> str:
    # src/vec/p parameterize the source table, raw-vector expression and
    # a CTE-name prefix (so two quantizers can coexist in one oracle —
    # opq_topk_recall); the DEFAULTS generate byte-identical text to the
    # round-10 fragment, so the existing PQ oracles do not move.
    code_cols = ",\n             ".join(
        f"max(CASE WHEN s={s} THEN code END) AS c{s}" for s in range(m)
    )
    return f"""{p}nc AS (SELECT vec_id, {vec} AS vd FROM {src}),
    {p}nv AS (SELECT vec_id,
             CASE WHEN list_dot_product(vd, vd) = 0
                  THEN list_transform(vd, x -> 0.0::DOUBLE)
                  ELSE list_transform(vd, x -> x / sqrt(list_dot_product(vd, vd))) END AS v
           FROM {p}nc),
    {p}cb AS (SELECT s, vec_id AS j, list_slice(v, s*{sub} + 1, (s+1)*{sub}) AS c
           FROM {p}nv, (SELECT unnest(range(0, {m})) AS s) WHERE vec_id < {k}),
    {p}enc AS (SELECT {p}nv.vec_id, {p}cb.s, {p}cb.j,
              -2 * list_dot_product(list_slice({p}nv.v, {p}cb.s*{sub} + 1, ({p}cb.s+1)*{sub}), {p}cb.c)
              + list_dot_product({p}cb.c, {p}cb.c) AS d
            FROM {p}nv CROSS JOIN {p}cb),
    {p}codes AS (SELECT vec_id, s, j AS code FROM {p}enc
              QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, j ASC) = 1),
    {p}cw AS (SELECT vec_id,
             {code_cols}
           FROM {p}codes GROUP BY vec_id)"""


def _pq_adc_terms_sql(m: int, sub: int) -> str:
    return (
        "\n              + ".join(
            f"(-2 * list_dot_product(list_slice(q.v, {s * sub + 1}, {(s + 1) * sub}), b{s}.c)"
            f" + list_dot_product(b{s}.c, b{s}.c))"
            for s in range(m)
        )
        + " AS d"
    )


def _pq_adc_joins_sql(m: int, p: str = "") -> str:
    return "\n            ".join(
        f"JOIN {p}cb b{s} ON b{s}.s = {s} AND b{s}.j = {p}cw.c{s}"
        for s in range(m)
    )


_SQL_PQ_CODES = _pq_codes_sql(_PQ_M, _PQ_KCODES, _PQ_SUB)
_SQL_PQ_ADC_TERMS = _pq_adc_terms_sql(_PQ_M, _PQ_SUB)
_SQL_PQ_ADC_JOINS = _pq_adc_joins_sql(_PQ_M)


@query(
    "pq_topk_recall",
    oracle=f"""
    WITH {_SQL_PQ_CODES},
    qs AS (SELECT vec_id AS query_id, v FROM nv WHERE vec_id <= 4),
    adc AS (SELECT q.query_id, cw.vec_id,
              {_SQL_PQ_ADC_TERMS}
            FROM qs q CROSS JOIN cw
            {_SQL_PQ_ADC_JOINS}
            WHERE cw.vec_id != q.query_id),
    ap AS (SELECT query_id, vec_id FROM adc
           QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id) <= 5),
    ex AS ({ORACLES['cosine_topk']}),{_SQL_RECALL_TAIL}
    """,
)
def pq_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization retrieval audit: recall@5 of PQ/ADC top-k
    (similarity.pq_topk — m=4 subspaces x 16 codewords, so each corpus
    vector is scanned as 4 small ints instead of 64 floats, the
    memory-bandwidth layout of billion-scale ANN) against the float
    cosine baseline, per query. Codebooks are the deterministic
    low-id-seed subvectors (the kmeans_step init convention), encoding
    is a shuffle-free map-side projection, and the ADC distance sums
    subspaces in fixed order — so the oracle derives identical codes
    and distances and the comparison is exact, not statistical."""
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    qs = e.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ap = sim.pq_topk(e, qs, m=_PQ_M, k_codes=_PQ_KCODES, k=5).select(
        "query_id", "vec_id"
    )
    ex = QUERIES["cosine_topk"](spark, sf_dir).select("query_id", "vec_id")
    return _recall_vs_exact(ex, ap)


@query(
    "ivfpq_topk_recall",
    oracle=f"""
    WITH {_SQL_IVF_COARSE},
    {_SQL_PQ_CODES},
    nq AS (SELECT vec_id AS query_id, v FROM nv WHERE vec_id <= 4),
    adc AS (SELECT p.query_id, s.vec_id,
              {_SQL_PQ_ADC_TERMS}
            FROM pr p
            JOIN nq q ON q.query_id = p.query_id
            JOIN corpus s ON s.cell = p.cell
            JOIN cw ON cw.vec_id = s.vec_id
            {_SQL_PQ_ADC_JOINS}
            WHERE s.vec_id != p.query_id),
    ap AS (SELECT query_id, vec_id FROM adc
           QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id) <= 5),
    ex AS ({ORACLES['cosine_topk']}),{_SQL_RECALL_TAIL}
    """,
)
def ivfpq_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC audit — the full billion-scale ANN composition in one
    query: IVF coarse cells prune the corpus to n_probe=2 probed cells
    per query, the in-cell scan reads only PQ codes (4 bytes/vector),
    and recall@5 is measured against the float cosine baseline
    (similarity.ivfpq_topk). The oracle COMPOSES the shared fragments
    of its two parents — `_SQL_IVF_COARSE` (ivf_topk's cell
    assignment/probing) and `_SQL_PQ_CODES` + ADC terms
    (pq_topk_recall's code derivation/distance) — so all three queries
    stay in lockstep, and the composition's comparison is exact, not
    statistical. Both reduction factors (cell pruning × code
    compression) are what a 100 TB vector store actually deploys;
    exact re-ranking of survivors is the trivial follow-up join."""
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    qs = e.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ap = sim.ivfpq_topk(e, qs, k=5, n_probe=2, m=_PQ_M, k_codes=_PQ_KCODES).select(
        "query_id", "vec_id"
    )
    ex = QUERIES["cosine_topk"](spark, sf_dir).select("query_id", "vec_id")
    return _recall_vs_exact(ex, ap)


@query(
    "ivfpq_rerank_recall",
    oracle=f"""
    WITH {_SQL_IVF_COARSE},
    {_SQL_PQ_CODES},
    nq AS (SELECT vec_id AS query_id, v FROM nv WHERE vec_id <= 4),
    adc AS (SELECT p.query_id, s.vec_id,
              {_SQL_PQ_ADC_TERMS}
            FROM pr p
            JOIN nq q ON q.query_id = p.query_id
            JOIN corpus s ON s.cell = p.cell
            JOIN cw ON cw.vec_id = s.vec_id
            {_SQL_PQ_ADC_JOINS}
            WHERE s.vec_id != p.query_id),
    cand AS (SELECT query_id, vec_id FROM adc
             QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id) <= 20),
    rescored AS (SELECT cand.query_id, cand.vec_id,
                   list_dot_product(qf.qv, cf.v)
                     / (sqrt(list_dot_product(qf.qv, qf.qv)) * sqrt(list_dot_product(cf.v, cf.v))) AS cos
                 FROM cand
                 JOIN q qf ON qf.query_id = cand.query_id
                 JOIN c cf ON cf.vec_id = cand.vec_id),
    ap AS (SELECT query_id, vec_id FROM rescored
           QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) <= 5),
    ex AS ({ORACLES['cosine_topk']}),{_SQL_RECALL_TAIL}
    """,
)
def ivfpq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE three-stage retrieval stack a 100 TB vector store
    deploys, audited end-to-end: IVF coarse cells prune to n_probe=2
    probed cells, the in-cell ADC scan over PQ codes shortlists
    k·cand_factor = 20 candidates per query, and ONLY those survivors
    are joined back to their float vectors and re-scored with the
    exact cosine (similarity.ivfpq_rerank_topk). Reported as recall@5
    vs the float brute-force baseline — by construction ≥ the ADC-only
    `ivfpq_topk_recall` (re-ranking a superset that contains every
    ADC top-5 can only fix ordering, not lose hits... unless the true
    neighbor was pruned by the coarse stage, which is exactly what the
    audit measures). The oracle composes the same shared fragments as
    its two parents plus an exact-cosine re-score on the raw vectors,
    so the comparison is exact, not statistical."""
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    qs = e.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ap = sim.ivfpq_rerank_topk(
        e, qs, k=5, cand_factor=4, n_probe=2, m=_PQ_M, k_codes=_PQ_KCODES
    ).select("query_id", "vec_id")
    ex = QUERIES["cosine_topk"](spark, sf_dir).select("query_id", "vec_id")
    return _recall_vs_exact(ex, ap)


@query(
    "ivf_incremental_assign",
    oracle="""
    WITH corpus AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                    FROM embeddings WHERE vec_id % 2 = 0),
    el AS (SELECT label, generate_subscripts(embedding, 1) AS i,
                  unnest(embedding::DOUBLE[]) AS x
           FROM embeddings WHERE vec_id % 2 = 0),
    ce AS (SELECT label, i, avg(x) AS ax FROM el GROUP BY label, i),
    cent AS (SELECT label AS cell, list(ax ORDER BY i) AS cv FROM ce GROUP BY label),
    nw AS (SELECT vec_id, embedding::DOUBLE[] AS v
           FROM embeddings WHERE vec_id % 2 = 1),
    asn AS (
      SELECT nw.vec_id, cent.cell, row_number() OVER (
        PARTITION BY nw.vec_id
        ORDER BY (list_dot_product(nw.v, cent.cv)
                  / (sqrt(list_dot_product(nw.v, nw.v)) * sqrt(list_dot_product(cent.cv, cent.cv))))
                 DESC NULLS FIRST, cent.cell ASC) AS rn
      FROM nw CROSS JOIN cent)
    SELECT vec_id, cell FROM asn WHERE rn = 1
    """,
)
def ivf_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-index MAINTENANCE path (the ANN sibling of
    guarded_incremental_dedup's parity-split convention): the corpus
    (even vec_ids) already has trained cells; an ingest batch (odd
    vec_ids) is assigned against the FROZEN centroids — the existing
    corpus is never rescanned and the centroids never retrained, so
    daily index upkeep at 100 TB costs |batch| · cells map-side work
    via the zero-shuffle HOF argmax (similarity._assign_nearest,
    nulls_first to mirror the oracle's DESC NULLS FIRST), not a corpus
    rebuild. Periodic re-clustering (when drift telemetry like
    psi_drift warrants) is kmeans_centroids on a snapshot — a separate,
    scheduled cost."""
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    corpus = e.filter(F.col("vec_id") % 2 == 0)
    new = e.filter(F.col("vec_id") % 2 == 1)
    cents = sim.label_centroids(corpus, "label", "embedding")
    return sim.assign_cells(new, cents, id_col="vec_id", vec_col="embedding")


@query(
    "rrf_fusion",
    oracle=f"""
    WITH {_SQL_PQ_CODES},
    qs AS (SELECT vec_id AS query_id, v FROM nv WHERE vec_id <= 4),
    adc AS (SELECT q.query_id, cw.vec_id,
              {_SQL_PQ_ADC_TERMS}
            FROM qs q CROSS JOIN cw
            {_SQL_PQ_ADC_JOINS}
            WHERE cw.vec_id != q.query_id),
    pqr AS (SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id) AS rank
            FROM adc
            QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id) <= 5),
    lshr AS ({ORACLES['lsh_topk']}),
    terms AS (
        SELECT query_id, vec_id, 1.0::DOUBLE / (60 + rank) AS t FROM lshr
        UNION ALL
        SELECT query_id, vec_id, 1.0::DOUBLE / (60 + rank) AS t FROM pqr),
    fused AS (SELECT query_id, vec_id, {_sql_dsum('t')} AS s
              FROM terms GROUP BY 1, 2)
    SELECT query_id, vec_id, round(s, 6) + 0.0 AS rrf_score,
           row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS rank
    FROM fused
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) <= 5
    """,
)
def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval rank ensemble (similarity.rrf_fuse — reciprocal
    rank fusion, Cormack et al. 2009, k=60): the hyperplane-LSH top-5
    and the PQ/ADC top-5 are two INDEPENDENT approximate candidate
    generators with different failure modes (bucket boundaries vs
    quantization error); each contributes 1/(60+rank) per candidate and
    the fused top-5 re-ranks by the summed score. The fusion layer
    itself never touches vectors: a union of two tiny top-k frames + one
    hash aggregate on (query, candidate) — at 100 TB the cost is the two
    retrieval pipelines, not the ensemble. Scores fold through the
    fixed-point dsum so the oracle reproduces them bit-for-bit; ties
    break on the candidate id."""
    lsh = QUERIES["lsh_topk"](spark, sf_dir).select("query_id", "vec_id", "rank")
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    qs = e.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pq = sim.pq_topk(e, qs, m=_PQ_M, k_codes=_PQ_KCODES, k=5).select(
        "query_id", "vec_id", "rank"
    )
    return sim.rrf_fuse([lsh, pq], k_const=60, k=5)


# Residual-IVFADC oracle fragments: unit-normalized centroids, the
# residual frame r = nv − cn(assigned cell), residual seed codebooks
# (id<k on the RESIDUAL frame — same determinism convention), residual
# codes, and the wide code row. Expects _SQL_IVF_COARSE's cent/corpus
# and _SQL_PQ_CODES' nv in scope.
def _pq_resid_sql(m: int, k: int, sub: int) -> str:
    code_cols = ",\n             ".join(
        f"max(CASE WHEN s={s} THEN code END) AS c{s}" for s in range(m)
    )
    return f"""cnn AS (SELECT cell,
             CASE WHEN list_dot_product(cv, cv) = 0
                  THEN list_transform(cv, x -> 0.0::DOUBLE)
                  ELSE list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv))) END AS cn
           FROM cent),
    rv AS (SELECT nv.vec_id, co.cell,
             list_transform(nv.v, (x, i) -> x - cnn.cn[i]) AS r
           FROM nv JOIN corpus co ON co.vec_id = nv.vec_id
                   JOIN cnn ON cnn.cell = co.cell),
    rcb AS (SELECT s, vec_id AS j, list_slice(r, s*{sub} + 1, (s+1)*{sub}) AS c
           FROM rv, (SELECT unnest(range(0, {m})) AS s) WHERE vec_id < {k}),
    renc AS (SELECT rv.vec_id, rcb.s, rcb.j,
              -2 * list_dot_product(list_slice(rv.r, rcb.s*{sub} + 1, (rcb.s+1)*{sub}), rcb.c)
              + list_dot_product(rcb.c, rcb.c) AS d
            FROM rv CROSS JOIN rcb),
    rcodes AS (SELECT vec_id, s, j AS code FROM renc
              QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, j ASC) = 1),
    rcw AS (SELECT vec_id,
             {code_cols}
           FROM rcodes GROUP BY vec_id)"""


_SQL_PQ_RESID = _pq_resid_sql(_PQ_M, _PQ_KCODES, _PQ_SUB)
# residual ADC: ⟨qr, qr⟩ is NOT constant across probed cells (each cell
# has its own query residual), so multi-probe ranking keeps it
_SQL_PQR_ADC_TERMS = (
    "list_dot_product(q.qr, q.qr)\n              + "
    + "\n              + ".join(
        f"(-2 * list_dot_product(list_slice(q.qr, {s * _PQ_SUB + 1}, {(s + 1) * _PQ_SUB}), b{s}.c)"
        f" + list_dot_product(b{s}.c, b{s}.c))"
        for s in range(_PQ_M)
    )
    + " AS d"
)
_SQL_PQR_ADC_JOINS = "\n            ".join(
    f"JOIN rcb b{s} ON b{s}.s = {s} AND b{s}.j = rcw.c{s}"
    for s in range(_PQ_M)
)


@query(
    "ivfpq_residual_recall",
    oracle=f"""
    WITH {_SQL_IVF_COARSE},
    {_SQL_PQ_CODES},
    nq AS (SELECT vec_id AS query_id, v FROM nv WHERE vec_id <= 4),
    {_SQL_PQ_RESID},
    qres AS (SELECT p.query_id, p.cell,
               list_transform(nq.v, (x, i) -> x - cnn.cn[i]) AS qr
             FROM pr p JOIN nq ON nq.query_id = p.query_id
                       JOIN cnn ON cnn.cell = p.cell),
    adc AS (SELECT q.query_id, s.vec_id,
              {_SQL_PQR_ADC_TERMS}
            FROM qres q
            JOIN corpus s ON s.cell = q.cell
            JOIN rcw ON rcw.vec_id = s.vec_id
            {_SQL_PQR_ADC_JOINS}
            WHERE s.vec_id != q.query_id),
    ap AS (SELECT query_id, vec_id FROM adc
           QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id) <= 5),
    ex AS ({ORACLES['cosine_topk']}),{_SQL_RECALL_TAIL}
    """,
)
def ivfpq_residual_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-IVFADC audit — the canonical Jégou et al. 2011
    composition: each corpus vector is PQ-encoded as its RESIDUAL
    against the assigned cell's unit-normalized centroid instead of
    the raw normalized vector (similarity.ivfpq_residual_topk).
    When the coarse quantizer explains real variance, residuals
    concentrate near the origin and the same m-byte code budget
    resolves what the cells haven't already explained — the standard
    recall improvement at identical storage
    (test_residual_ivfpq_beats_raw_on_clustered_corpus pins the win
    end-to-end on a clustered corpus: 0.53 vs 0.20). On THIS fixture
    the embeddings are near-random (mean cosine to own centroid
    ≈ 0.22; residual norms 1.25 > 1.0), so the premise fails and the
    audit honestly reports residual ≤ raw here — exactly the
    data-dependence a recall audit exists to expose. The ADC distance keeps the
    per-cell ⟨qr, qr⟩ term because the query's residual differs per
    probed cell — multi-probe ranking would be wrong without it. The
    oracle composes `_SQL_IVF_COARSE` + the residual chain
    (`_SQL_PQ_RESID`: centroid normalization → residual frame → id<k
    residual seed codebooks → argmin codes), so the comparison is
    exact, not statistical."""
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    qs = e.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ap = sim.ivfpq_residual_topk(
        e, qs, k=5, n_probe=2, m=_PQ_M, k_codes=_PQ_KCODES
    ).select("query_id", "vec_id")
    ex = QUERIES["cosine_topk"](spark, sf_dir).select("query_id", "vec_id")
    return _recall_vs_exact(ex, ap)


# Lloyd-refined codebook oracle fragments: one refinement round
# unrolled — members of each (subspace, codeword) from the SEED codes
# CTE, per-position mean, coalesce to the seed for empty codewords,
# then re-encode against the refined codebooks. Expects _SQL_PQ_CODES'
# nv/cb/codes in scope.
def _pq_refined_sql(m: int, k: int, sub: int) -> str:
    code_cols = ",\n             ".join(
        f"max(CASE WHEN s={s} THEN code END) AS c{s}" for s in range(m)
    )
    return f"""rmem AS (SELECT c.s, c.code AS j,
             generate_subscripts(list_slice(nv.v, c.s*{sub} + 1, (c.s+1)*{sub}), 1) AS p,
             unnest(list_slice(nv.v, c.s*{sub} + 1, (c.s+1)*{sub})) AS x
           FROM codes c JOIN nv ON nv.vec_id = c.vec_id),
    ravg AS (SELECT s, j, p,
               round({_sql_dsum('x')} / count(*), 6) AS ax
             FROM rmem GROUP BY s, j, p),
    rlist AS (SELECT s, j, list(ax ORDER BY p) AS c FROM ravg GROUP BY s, j),
    cb2 AS (SELECT cb.s, cb.j, coalesce(rlist.c, cb.c) AS c
            FROM cb LEFT JOIN rlist ON rlist.s = cb.s AND rlist.j = cb.j),
    enc2 AS (SELECT nv.vec_id, cb2.s, cb2.j,
              -2 * list_dot_product(list_slice(nv.v, cb2.s*{sub} + 1, (cb2.s+1)*{sub}), cb2.c)
              + list_dot_product(cb2.c, cb2.c) AS d
            FROM nv CROSS JOIN cb2),
    codes2 AS (SELECT vec_id, s, j AS code FROM enc2
              QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, j ASC) = 1),
    cw2 AS (SELECT vec_id,
             {code_cols}
           FROM codes2 GROUP BY vec_id)"""


_SQL_PQ_REFINED = _pq_refined_sql(_PQ_M, _PQ_KCODES, _PQ_SUB)
_SQL_PQ2_ADC_JOINS = "\n            ".join(
    f"JOIN cb2 b{s} ON b{s}.s = {s} AND b{s}.j = cw2.c{s}"
    for s in range(_PQ_M)
)


@query(
    "pq_refined_recall",
    oracle=f"""
    WITH {_SQL_PQ_CODES},
    {_SQL_PQ_REFINED},
    qs AS (SELECT vec_id AS query_id, v FROM nv WHERE vec_id <= 4),
    adc AS (SELECT q.query_id, cw2.vec_id,
              {_SQL_PQ_ADC_TERMS}
            FROM qs q CROSS JOIN cw2
            {_SQL_PQ2_ADC_JOINS}
            WHERE cw2.vec_id != q.query_id),
    ap AS (SELECT query_id, vec_id FROM adc
           QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id) <= 5),
    ex AS ({ORACLES['cosine_topk']}),{_SQL_RECALL_TAIL}
    """,
)
def pq_refined_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd-refined PQ audit — the production codebook path
    pq_codebooks' docstring names, now implemented
    (similarity.pq_codebooks_refined): one Lloyd round per subspace
    (encode against the seed codebooks → replace every codeword with
    the per-position mean of its assigned subvectors, empty codewords
    keep their seed), then PQ/ADC top-k against the REFINED codebooks,
    reported as recall@5 vs the float baseline (tests assert ≥ the
    seed-codebook `pq_topk_recall` on this fixture). Per refinement
    round the engine pays one map-side encode scan + one k·dim-row
    hash aggregate + a bounded k·dim driver fetch. The oracle unrolls
    the round exactly (seed codes CTE → per-(s, j, pos) avg →
    coalesce → re-encode), so the comparison is exact, not
    statistical."""
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    qs = e.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rcbs = sim.pq_codebooks_refined(e, m=_PQ_M, k=_PQ_KCODES, rounds=1)
    ap = sim.pq_topk(
        e, qs, m=_PQ_M, k_codes=_PQ_KCODES, k=5, codebooks=rcbs
    ).select("query_id", "vec_id")
    ex = QUERIES["cosine_topk"](spark, sf_dir).select("query_id", "vec_id")
    return _recall_vs_exact(ex, ap)


# Filtered-ANN predicate (ONE constant driving the Spark calls AND the
# generated SQL, the _PQ_* convention)
_FANN_LABEL = 2


@query(
    "filtered_ann_topk",
    oracle=f"""
    WITH {_SQL_IVF_COARSE},
    {_SQL_PQ_CODES},
    nq AS (SELECT vec_id AS query_id, v FROM nv WHERE vec_id <= 4),
    adc AS (SELECT p.query_id, s.vec_id,
              {_SQL_PQ_ADC_TERMS}
            FROM pr p
            JOIN nq q ON q.query_id = p.query_id
            JOIN corpus s ON s.cell = p.cell
            JOIN c cl ON cl.vec_id = s.vec_id AND cl.label = {_FANN_LABEL}
            JOIN cw ON cw.vec_id = s.vec_id
            {_SQL_PQ_ADC_JOINS}
            WHERE s.vec_id != p.query_id)
    SELECT query_id, vec_id, round(d, 6) + 0.0 AS pq_dist,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id) AS BIGINT) AS rank
    FROM adc
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id) <= 5
    """,
)
def filtered_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN — the query shape every production vector store
    serves: top-k under a metadata predicate (here ``label = 2``). The
    index (coarse cells + PQ codebooks) stays trained on the FULL
    corpus; the predicate prunes the scan side BEFORE the cell-scoped
    ADC (similarity.ivfpq_topk's corpus_predicate), so the result is
    the exact ADC top-k among MATCHING vectors — pre-filtering, not
    the silently-under-returning post-filter of an unfiltered top-k
    (that gap is measured by `filtered_ann_audit`). At 100 TB the
    predicate is an ordinary pushed filter on the codes table's
    metadata columns — the scan cost drops to the predicate's
    selectivity × n_probe/n_cells × m bytes per vector."""
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    qs = e.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.ivfpq_topk(
        e,
        qs,
        k=5,
        n_probe=2,
        m=_PQ_M,
        k_codes=_PQ_KCODES,
        corpus_predicate=(F.col("label") == _FANN_LABEL),
    )
    return out.select(
        "query_id",
        "vec_id",
        (F.round("pq_dist", 6) + 0.0).alias("pq_dist"),
        F.col("rank").cast("bigint").alias("rank"),
    )


@query(
    "filtered_ann_audit",
    oracle=f"""
    WITH {_SQL_IVF_COARSE},
    {_SQL_PQ_CODES},
    nq AS (SELECT vec_id AS query_id, v FROM nv WHERE vec_id <= 4),
    exf AS (SELECT q.query_id, cf.vec_id FROM q
            CROSS JOIN (SELECT vec_id, v FROM c WHERE label = {_FANN_LABEL}) cf
            WHERE cf.vec_id != q.query_id
            QUALIFY row_number() OVER (PARTITION BY q.query_id ORDER BY
              list_dot_product(q.qv, cf.v)
                / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cf.v, cf.v)))
              DESC, cf.vec_id) <= 5),
    adc AS (SELECT p.query_id, s.vec_id, cl.label,
              {_SQL_PQ_ADC_TERMS}
            FROM pr p
            JOIN nq q ON q.query_id = p.query_id
            JOIN corpus s ON s.cell = p.cell
            JOIN c cl ON cl.vec_id = s.vec_id
            JOIN cw ON cw.vec_id = s.vec_id
            {_SQL_PQ_ADC_JOINS}
            WHERE s.vec_id != p.query_id),
    pre AS (SELECT query_id, vec_id FROM adc WHERE label = {_FANN_LABEL}
            QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id) <= 5),
    post AS (SELECT query_id, vec_id FROM (
               SELECT query_id, vec_id, label FROM adc
               QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id) <= 5)
             WHERE label = {_FANN_LABEL}),
    hp AS (SELECT exf.query_id, count(*) AS n FROM exf
           JOIN pre ON pre.query_id = exf.query_id AND pre.vec_id = exf.vec_id
           GROUP BY exf.query_id),
    hq AS (SELECT exf.query_id, count(*) AS n FROM exf
           JOIN post ON post.query_id = exf.query_id AND post.vec_id = exf.vec_id
           GROUP BY exf.query_id),
    per AS (SELECT query_id, count(*) AS k FROM exf GROUP BY query_id)
    SELECT per.query_id, per.k,
           coalesce(hp.n, 0) AS hits_pre,
           round(coalesce(hp.n, 0)::DOUBLE / per.k, 6) AS recall_pre,
           coalesce(hq.n, 0) AS hits_post,
           round(coalesce(hq.n, 0)::DOUBLE / per.k, 6) AS recall_post
    FROM per LEFT JOIN hp ON hp.query_id = per.query_id
             LEFT JOIN hq ON hq.query_id = per.query_id
    """,
)
def filtered_ann_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-filter vs post-filter gap, measured: per query, recall
    of (a) PRE-filtering — the predicate prunes the scan before the
    cell-scoped ADC (`filtered_ann_topk`'s path) and (b)
    POST-filtering — take the unfiltered ADC top-5, then keep matches
    (the naive approach) — both against the exact filtered cosine
    top-5. Post-filter hits are PROVABLY a subset of pre-filter hits
    (a match in the unfiltered top-5 is among the 5 best matches of
    the probed cells), so recall_post ≤ recall_pre row by row; the
    audit shows how much the naive path under-returns on a selective
    predicate (~1-in-10 here). Fully oracled — both paths and the
    exact baseline are deterministic."""
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    qs = e.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pred = F.col("label") == _FANN_LABEL
    exf = sim.brute_force_topk(e.filter(pred), qs, k=5).select(
        "query_id", "vec_id"
    )
    kw = dict(k=5, n_probe=2, m=_PQ_M, k_codes=_PQ_KCODES)
    pre = sim.ivfpq_topk(e, qs, corpus_predicate=pred, **kw).select(
        "query_id", "vec_id"
    )
    post = (
        sim.ivfpq_topk(e, qs, **kw)
        .select("query_id", "vec_id")
        .join(e.filter(pred).select("vec_id"), "vec_id")
    )
    per = exf.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    hp = exf.join(pre, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("hits_pre")
    )
    hq = exf.join(post, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("hits_post")
    )
    n_pre = F.coalesce("hits_pre", F.lit(0))
    n_post = F.coalesce("hits_post", F.lit(0))
    return (
        per.join(hp, "query_id", "left")
        .join(hq, "query_id", "left")
        .select(
            "query_id",
            "k",
            n_pre.alias("hits_pre"),
            F.round(n_pre / F.col("k"), 6).alias("recall_pre"),
            n_post.alias("hits_post"),
            F.round(n_post / F.col("k"), 6).alias("recall_post"),
        )
    )


@query(
    "hierarchical_assign_agreement",
    oracle="""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cell, v AS cv FROM c WHERE vec_id < 16),
    sup AS (SELECT cell AS scell, cv AS scv FROM cent
            QUALIFY row_number() OVER (ORDER BY cell) <= 4),
    cs AS (SELECT cent.cell, sup.scell, row_number() OVER (
             PARTITION BY cent.cell
             ORDER BY (list_dot_product(cent.cv, sup.scv)
                       / (sqrt(list_dot_product(cent.cv, cent.cv)) * sqrt(list_dot_product(sup.scv, sup.scv))))
                      DESC NULLS FIRST, sup.scell ASC) AS rn
           FROM cent CROSS JOIN sup),
    csel0 AS (SELECT cell, scell FROM cs WHERE rn = 1),
    -- a childless super-seed stays selectable as its own single child
    -- (mirrors hierarchical_assign's left-join + coalesce-to-self)
    csel AS (SELECT cell, scell FROM csel0
             UNION ALL
             SELECT scell AS cell, scell FROM sup
             WHERE scell NOT IN (SELECT scell FROM csel0)),
    vs AS (SELECT c.vec_id, sup.scell, row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY (list_dot_product(c.v, sup.scv)
                       / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(sup.scv, sup.scv))))
                      DESC NULLS FIRST, sup.scell ASC) AS rn
           FROM c CROSS JOIN sup),
    vsel AS (SELECT vec_id, scell FROM vs WHERE rn = 1),
    vc AS (SELECT v.vec_id, cent.cell, row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY (list_dot_product(v.v, cent.cv)
                       / (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(cent.cv, cent.cv))))
                      DESC NULLS FIRST, cent.cell ASC) AS rn
           FROM c v JOIN vsel ON vsel.vec_id = v.vec_id
                    JOIN csel ON csel.scell = vsel.scell
                    JOIN cent ON cent.cell = csel.cell),
    hier AS (SELECT vec_id, cell FROM vc WHERE rn = 1),
    exv AS (SELECT c.vec_id, cent.cell, row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY (list_dot_product(c.v, cent.cv)
                       / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(cent.cv, cent.cv))))
                      DESC NULLS FIRST, cent.cell ASC) AS rn
           FROM c CROSS JOIN cent),
    ex AS (SELECT vec_id, cell FROM exv WHERE rn = 1)
    SELECT ex.cell, count(*) AS n_vectors,
           CAST(sum(CASE WHEN hier.cell = ex.cell THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           round(sum(CASE WHEN hier.cell = ex.cell THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS agreement
    FROM ex JOIN hier ON hier.vec_id = ex.vec_id
    GROUP BY ex.cell
    """,
)
def hierarchical_assign_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement audit for two-level coarse assignment
    (similarity.hierarchical_assign): 16 deterministic seed centroids
    (vec_id < 16), 4 super-seeds (the ⌈√k⌉ smallest cell ids), and
    per exact-cell agreement between hierarchical and exact
    assignment. The hierarchical path does n_super + k/n_super ≈ 2√k
    dots per vector instead of k — the standard fix for flat
    assignment's O(N·k) work at the k ≈ √N SemDeDup/IVF configuration
    (~100× less at N = 10⁹, k ≈ 31k; cost model in SCALE.md). It is
    APPROXIMATE (a vector whose true cell lives under a different
    super-seed is misassigned), so the exact zero-shuffle HOF path
    stays the default for every oracled dataflow; this audit reports
    where and how often the cheap path diverges. Both paths and the
    oracle are deterministic, so the comparison is exact."""
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    cents = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cell"), sim.as_double("embedding").alias("_cv")
    )
    exact = sim.assign_cells(e, cents).select(
        "vec_id", F.col("cell").alias("_ex")
    )
    hier = sim.hierarchical_assign(e, cents, n_super=4).select(
        "vec_id", F.col("cell").alias("_hr")
    )
    agree = F.sum(
        F.when(F.col("_hr") == F.col("_ex"), 1).otherwise(0)
    )
    return (
        exact.join(hier, "vec_id")
        .groupBy(F.col("_ex").alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            agree.alias("n_agree"),
            F.round(agree / F.count(F.lit(1)), 6).alias("agreement"),
        )
    )


# Binary-signature plane count (drives the Spark call AND the oracle)
_BSIG_PLANES = 32


@query(
    "binary_hamming_recall",
    oracle=f"""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pl AS (SELECT vec_id AS pid, v AS pv FROM c WHERE vec_id < {_BSIG_PLANES}),
    sig AS (SELECT c.vec_id,
              CAST(sum(CASE WHEN list_dot_product(c.v, pl.pv) >= 0
                            THEN CAST(2::DOUBLE ^ ({_BSIG_PLANES - 1} - pl.pid) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS s
            FROM c CROSS JOIN pl GROUP BY c.vec_id),
    qsig AS (SELECT vec_id AS query_id, s FROM sig WHERE vec_id <= 4),
    hd AS (SELECT q.query_id, c.vec_id,
                  CAST(bit_count(xor(q.s, c.s)) AS INTEGER) AS d
           FROM qsig q JOIN sig c ON c.vec_id != q.query_id),
    ap AS (SELECT query_id, vec_id FROM hd
           QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id) <= 5),
    ex AS ({ORACLES['cosine_topk']}),{_SQL_RECALL_TAIL}
    """,
)
def binary_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization audit — the 4th rung of the quantization
    ladder (float → int8 → PQ → binary: 8 bytes/vector at 32 planes,
    32× smaller than float32 dim=64): corpus vectors reduce to packed
    sign-bit signatures against the 32 deterministic seed hyperplanes
    (corpus vectors id < 32 — the plane convention of lsh_topk,
    widened), candidates rank by Hamming distance (one xor + popcount
    per pair), and recall@5 is measured against the float cosine
    baseline (similarity.hamming_topk). The signature fold, the xor,
    and the popcount are all exact integer arithmetic, so the oracle
    reproduces every signature and distance bit-for-bit — the
    comparison is exact, not statistical. The production composition
    is binary scan → shortlist → exact re-rank, same contract as
    PQ/IVFADC."""
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    planes = [
        [float(x) for x in r.embedding]
        for r in e.filter(F.col("vec_id") < _BSIG_PLANES)
        .orderBy("vec_id")
        .collect()
    ]
    qs = e.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ap = sim.hamming_topk(e, qs, planes, k=5).select("query_id", "vec_id")
    ex = QUERIES["cosine_topk"](spark, sf_dir).select("query_id", "vec_id")
    return _recall_vs_exact(ex, ap)


@query(
    "binary_rerank_recall",
    oracle=f"""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pl AS (SELECT vec_id AS pid, v AS pv FROM c WHERE vec_id < {_BSIG_PLANES}),
    sig AS (SELECT c.vec_id,
              CAST(sum(CASE WHEN list_dot_product(c.v, pl.pv) >= 0
                            THEN CAST(2::DOUBLE ^ ({_BSIG_PLANES - 1} - pl.pid) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS s
            FROM c CROSS JOIN pl GROUP BY c.vec_id),
    qsig AS (SELECT vec_id AS query_id, s FROM sig WHERE vec_id <= 4),
    hd AS (SELECT q.query_id, c.vec_id,
                  CAST(bit_count(xor(q.s, c.s)) AS INTEGER) AS d
           FROM qsig q JOIN sig c ON c.vec_id != q.query_id),
    cand AS (SELECT query_id, vec_id FROM hd
             QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id) <= 20),
    qv AS (SELECT vec_id AS query_id, v FROM c WHERE vec_id <= 4),
    rescored AS (SELECT cand.query_id, cand.vec_id,
                   list_dot_product(qv.v, cf.v)
                     / (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(cf.v, cf.v))) AS cos
                 FROM cand
                 JOIN qv ON qv.query_id = cand.query_id
                 JOIN c cf ON cf.vec_id = cand.vec_id),
    ap AS (SELECT query_id, vec_id FROM rescored
           QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) <= 5),
    ex AS ({ORACLES['cosine_topk']}),{_SQL_RECALL_TAIL}
    """,
)
def binary_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployed binary-quantization retrieval contract, audited
    end-to-end (similarity.hamming_rerank_topk — the Hamming sibling
    of `ivfpq_rerank_recall`): 8-byte signatures shortlist
    k·cand_factor = 20 candidates per query by xor+popcount alone,
    then ONLY those survivors join back to float vectors for exact
    cosine re-ranking; recall@5 vs the float brute-force baseline. By
    construction ≥ the signature-only `binary_hamming_recall` (exact
    re-scoring of a superset can only fix ordering — pytest asserts
    it). All shortlist arithmetic is integer, the re-score is the
    proven cosine chain, so the oracle is exact."""
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    planes = [
        [float(x) for x in r.embedding]
        for r in e.filter(F.col("vec_id") < _BSIG_PLANES)
        .orderBy("vec_id")
        .collect()
    ]
    qs = e.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ap = sim.hamming_rerank_topk(e, qs, planes, k=5, cand_factor=4).select(
        "query_id", "vec_id"
    )
    ex = QUERIES["cosine_topk"](spark, sf_dir).select("query_id", "vec_id")
    return _recall_vs_exact(ex, ap)


@query(
    "ivf_cell_stats",
    oracle=f"""
    WITH {_SQL_IVF_COARSE},
    cnt AS (SELECT cell, count(*) AS n_vectors FROM corpus GROUP BY cell),
    s AS (SELECT sum(n_vectors) AS n_rows, count(*) AS n_cells,
                 max(n_vectors) AS max_cnt FROM cnt)
    SELECT cnt.cell, cnt.n_vectors,
           round(cnt.n_vectors::DOUBLE / s.n_rows, 6) AS row_share,
           round(s.max_cnt::DOUBLE * s.n_cells / s.n_rows, 6) AS imbalance_ratio
    FROM cnt, s
    """,
)
def ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-index health telemetry — the ANN sibling of
    `key_skew_profile`: per IVF cell, its posting-list size and row
    share, plus the global imbalance ratio (max cell / mean cell). An
    imbalanced index makes probe cost unpredictable (a hot cell turns
    every probe into a near-full scan) and is the signal to re-train
    centroids or split cells; at 100 TB this is the number an index
    operator watches daily. One zero-shuffle HOF assignment + one
    bounded hash aggregate + a 1-row stats broadcast."""
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    cents = sim.label_centroids(e, "label", "embedding")
    cells = sim.assign_cells(e, cents)
    cnt = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    s = F.broadcast(
        cnt.agg(
            F.sum("n_vectors").alias("n_rows"),
            F.count(F.lit(1)).alias("n_cells"),
            F.max("n_vectors").alias("max_cnt"),
        )
    )
    return cnt.crossJoin(s).select(
        "cell",
        "n_vectors",
        F.round(F.col("n_vectors") / F.col("n_rows"), 6).alias("row_share"),
        F.round(
            F.col("max_cnt") * F.col("n_cells") / F.col("n_rows"), 6
        ).alias("imbalance_ratio"),
    )


@query(
    "retrieval_rr_at_k",
    oracle=f"""
    WITH ex AS ({ORACLES['cosine_topk']}),
    ap AS ({ORACLES['lsh_topk']}),
    hit AS (SELECT ap.query_id, min(ap.rank) AS first_rel
            FROM ap JOIN ex ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
            GROUP BY ap.query_id),
    per AS (SELECT DISTINCT query_id FROM ex)
    SELECT per.query_id,
           CAST(coalesce(hit.first_rel, 0) AS BIGINT) AS first_rel_rank,
           round(coalesce(1.0 / hit.first_rel, 0.0), 6) AS reciprocal_rank
    FROM per LEFT JOIN hit ON hit.query_id = per.query_id
    """,
)
def retrieval_rr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank — the ordering-sensitive retrieval metric
    recall@k can't see: per query, 1/rank of the FIRST approximate
    result (hyperplane-LSH top-5) that is truly relevant (in the exact
    cosine top-5); 0 when none is. Two systems with equal recall can
    differ badly in MRR when one buries its hits at rank 5 — this is
    the metric that catches it. Composes the two parents' own oracle
    SQL (the ann_recall convention), so all three stay in lockstep;
    both result sets are k·|queries| rows, so the metric costs one
    tiny join + aggregate beyond the retrieval pipelines."""
    ex = QUERIES["cosine_topk"](spark, sf_dir).select("query_id", "vec_id")
    ap = QUERIES["lsh_topk"](spark, sf_dir).select(
        "query_id", "vec_id", "rank"
    )
    hit = (
        ap.join(ex, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.min("rank").alias("first_rel"))
    )
    per = ex.select("query_id").distinct()
    return per.join(hit, "query_id", "left").select(
        "query_id",
        F.coalesce("first_rel", F.lit(0)).cast("bigint").alias(
            "first_rel_rank"
        ),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0)), 6
        ).alias("reciprocal_rank"),
    )


# Binary-relevance DCG weights 1/log2(rank+1), materialized ONCE as
# Python doubles and injected as identical literals into BOTH engine
# sides — immune to any cross-engine log2 ulp difference. IDCG is
# their sum (the exact baseline always returns k=5 relevant items).
_DCG_W = [1.0, 0.6309297535714575, 0.5, 0.43067655807339306, 0.38685280723454163]
_IDCG = 2.9484591188793923


@query(
    "retrieval_ndcg_at_k",
    oracle=f"""
    WITH ex AS ({ORACLES['cosine_topk']}),
    ap AS ({ORACLES['lsh_topk']}),
    rel AS (SELECT ap.query_id, ap.rank
            FROM ap JOIN ex ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id),
    dcg AS (SELECT query_id,
              sum(CASE rank {' '.join(f'WHEN {i + 1} THEN {w!r}' for i, w in enumerate(_DCG_W))} END) AS d
            FROM rel GROUP BY query_id),
    per AS (SELECT DISTINCT query_id FROM ex)
    SELECT per.query_id,
           round(coalesce(dcg.d, 0.0) / {_IDCG!r}, 6) AS ndcg
    FROM per LEFT JOIN dcg ON dcg.query_id = per.query_id
    """,
)
def retrieval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@5 with binary relevance — the position-weighted retrieval
    metric that completes the audit triad (recall@k = set overlap,
    RR = first hit, nDCG = ALL hits weighted by position): each
    truly-relevant result (in the exact cosine top-5) contributes
    1/log2(rank+1) at the rank the LSH ranking placed it, normalized
    by the ideal DCG. The weights are materialized once as Python
    doubles and injected as identical literals into both engines, so
    the comparison is exact regardless of either engine's log2
    implementation. Costs one tiny join + aggregate beyond the two
    top-k pipelines (the ann_recall composition convention)."""
    ex = QUERIES["cosine_topk"](spark, sf_dir).select("query_id", "vec_id")
    ap = QUERIES["lsh_topk"](spark, sf_dir).select(
        "query_id", "vec_id", "rank"
    )
    w = F.col("rank")
    weight = F.lit(None).cast("double")
    for i, wv in enumerate(_DCG_W):
        weight = F.when(w == i + 1, F.lit(wv)).otherwise(weight)
    dcg = (
        ap.join(ex, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.sum(weight).alias("d"))
    )
    per = ex.select("query_id").distinct()
    return per.join(dcg, "query_id", "left").select(
        "query_id",
        F.round(
            F.coalesce(F.col("d"), F.lit(0.0)) / F.lit(_IDCG), 6
        ).alias("ndcg"),
    )


@query(
    "diversified_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id <= 4),
    c AS (SELECT vec_id, label, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (SELECT query_id, vec_id, label,
                      list_dot_product(qv, cv)
                        / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
               FROM q CROSS JOIN c WHERE vec_id != query_id),
    capped AS (SELECT query_id, vec_id, label, cos FROM scored
               QUALIFY row_number() OVER (PARTITION BY query_id, label
                                          ORDER BY cos DESC NULLS LAST, vec_id) <= 1)
    SELECT query_id, vec_id, label, round(cos, 6) AS cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC NULLS LAST, vec_id) AS BIGINT) AS rank
    FROM capped
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC NULLS LAST, vec_id) <= 5
    """,
)
def diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-constrained retrieval — at most ONE result per label
    per query (the "diversify by field" policy: one passage per
    source, one product per brand), then the global top-5 among the
    survivors (similarity.diversified_topk). Fully declarative — two
    stacked ranking windows, the per-group stage running on
    (query, group) slices — so unlike greedy MMR it needs no
    iteration and its oracle is exact. Guarantees ≥ (k distinct
    labels) coverage where plain top-k can return 5 near-duplicates
    from one cluster."""
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    qs = e.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.diversified_topk(e, qs, k=5, per_group=1, group_col="label")
    return out.select(
        "query_id",
        "vec_id",
        "label",
        F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("bigint").alias("rank"),
    )


# Greedy-MMR oracle generator: unrolls the k selection steps as CTE
# blocks (selN = selected set after N picks). λ and 1−λ inject as the
# same Python doubles the Spark side multiplies with, and every sim
# reuses the bit-exact cosine chain, so the comparison is exact.
def _mmr_sql(k: int, shortlist: int, lam: float) -> str:
    one_m = 1.0 - lam
    parts = [
        f"""q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id <= 4),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (SELECT query_id, vec_id,
                      list_dot_product(qv, cv)
                        / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS rel
               FROM q CROSS JOIN c WHERE vec_id != query_id),
    cand AS (SELECT query_id, vec_id, rel FROM scored
             QUALIFY row_number() OVER (PARTITION BY query_id
                                        ORDER BY rel DESC NULLS LAST, vec_id) <= {shortlist}),
    pair AS (SELECT a.query_id, a.vec_id AS pa, b.vec_id AS pb,
                    list_dot_product(va.cv, vb.cv)
                      / (sqrt(list_dot_product(va.cv, va.cv)) * sqrt(list_dot_product(vb.cv, vb.cv))) AS sim
             FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.vec_id != b.vec_id
             JOIN c va ON va.vec_id = a.vec_id
             JOIN c vb ON vb.vec_id = b.vec_id),
    s1 AS (SELECT query_id, vec_id, {lam!r} * rel AS score, 1 AS rank FROM cand
           QUALIFY row_number() OVER (PARTITION BY query_id
                                      ORDER BY {lam!r} * rel DESC NULLS LAST, vec_id) = 1),
    sel1 AS (SELECT query_id, vec_id, score, rank FROM s1)"""
    ]
    for n in range(2, k + 1):
        parts.append(
            f"""mx{n} AS (SELECT cd.query_id, cd.vec_id, cd.rel, max(p.sim) AS msim
            FROM cand cd
            JOIN pair p ON p.query_id = cd.query_id AND p.pa = cd.vec_id
            JOIN sel{n - 1} s ON s.query_id = cd.query_id AND s.vec_id = p.pb
            WHERE NOT EXISTS (SELECT 1 FROM sel{n - 1} x
                              WHERE x.query_id = cd.query_id AND x.vec_id = cd.vec_id)
            GROUP BY cd.query_id, cd.vec_id, cd.rel),
    s{n} AS (SELECT query_id, vec_id,
                    {lam!r} * rel - {one_m!r} * msim AS score, {n} AS rank FROM mx{n}
           QUALIFY row_number() OVER (PARTITION BY query_id
                                      ORDER BY {lam!r} * rel - {one_m!r} * msim DESC NULLS LAST, vec_id) = 1),
    sel{n} AS (SELECT * FROM sel{n - 1} UNION ALL SELECT * FROM s{n})"""
        )
    body = ",\n    ".join(parts)
    return f"""{body}
    SELECT query_id, vec_id, round(score, 6) + 0.0 AS mmr_score,
           CAST(rank AS BIGINT) AS rank
    FROM sel{k}"""


@query("mmr_topk", oracle=f"WITH {_mmr_sql(5, 10, 0.5)}")
def mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximal-marginal-relevance re-ranking (Carbonell &
    Goldstein 1998), k=5 over the exact top-10 shortlist, λ=0.5
    (similarity.mmr_topk): each pick maximizes λ·rel − (1−λ)·max sim
    to the already-selected set — the standard diversifier when
    there is no grouping column to cap on (contrast
    `diversified_topk`). The greedy loop runs over the PINNED
    shortlist (bounded localCheckpoint, the centroid-pinning
    convention) — the corpus is touched once by the exact top-10
    stage — and the k steps are unrolled identically on both engines
    (same λ literals, bit-exact cosine chain, id tie-breaks), so this
    inherently ITERATIVE operator still carries an exact value
    oracle."""
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    qs = e.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.mmr_topk(e, qs, k=5, shortlist=10, lam=0.5)


@query(
    "hybrid_search",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKS} AS tks FROM documents),
    q AS (SELECT DISTINCT doc_id AS query_id, unnest(tks) AS term
          FROM tk WHERE doc_id <= 4),
    stats AS (SELECT count(*) AS n_docs, avg(len(tks)::DOUBLE) AS avgdl FROM tk),
    toks AS (SELECT doc_id, len(tks) AS dl, unnest(tks) AS term FROM tk),
    tf AS (SELECT q.query_id, t.doc_id, t.term, count(*) AS tf, min(t.dl) AS dl
           FROM toks t JOIN q USING (term) GROUP BY 1, 2, 3),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    bscored AS (
        SELECT tf.query_id, tf.doc_id,
               sum(CAST(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                        * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
                        AS DECIMAL(38,18))) AS s
        FROM tf JOIN dfreq USING (term) CROSS JOIN stats
        WHERE tf.doc_id != tf.query_id
        GROUP BY 1, 2
    ),
    lex AS (SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rank
            FROM bscored
            QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) <= 5),
    vecr AS ({ORACLES['lsh_topk']}),
    terms AS (
        SELECT query_id, doc_id, 1.0::DOUBLE / (60 + rank) AS t FROM lex
        UNION ALL
        SELECT query_id, vec_id AS doc_id, 1.0::DOUBLE / (60 + rank) AS t FROM vecr),
    fused AS (SELECT query_id, doc_id, {_sql_dsum('t')} AS s
              FROM terms GROUP BY 1, 2)
    SELECT query_id, doc_id, round(s, 6) + 0.0 AS rrf_score,
           row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rank
    FROM fused
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) <= 5
    """,
)
def hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE hybrid retrieval — the flagship query shape of every
    production search system: a LEXICAL leg (Okapi BM25 over the
    documents table, query terms = the query document's own distinct
    tokens, self excluded — more-like-this) and a SEMANTIC leg
    (hyperplane-LSH ANN over the aligned embeddings table, doc_id ≡
    vec_id) fused by reciprocal-rank fusion. The two legs have
    orthogonal failure modes (vocabulary mismatch vs quantization
    boundaries); RRF needs no score calibration between them — only
    ranks cross the fusion, so at 100 TB the ensemble costs the two
    retrieval pipelines plus one tiny hash aggregate
    (similarity.rrf_fuse). Every stage reuses a proven primitive
    (bm25_topk with exclude_self, lsh_topk's oracle, the fixed-point
    dsum fold), so the end-to-end oracle is exact."""
    from covid_custom_sql_engine_spark.functions.text import tokens

    d = parallelize_small(load_table(spark, sf_dir, "documents"))
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    qdf = (
        d.filter(F.col("doc_id") <= 4)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(tokens("text")).alias("term"),
        )
        .distinct()
    )
    lex = tx.bm25_topk(d, qdf, k=5, exclude_self=True).select(
        "query_id", "doc_id", F.col("rk").alias("rank")
    )
    vec = QUERIES["lsh_topk"](spark, sf_dir).select(
        "query_id", F.col("vec_id").alias("doc_id"), "rank"
    )
    return sim.rrf_fuse(
        [lex, vec], k_const=60, k=5, id_col="doc_id"
    ).select(
        "query_id",
        "doc_id",
        "rrf_score",
        F.col("rank").cast("bigint").alias("rank"),
    )


@query(
    "key_skew_profile",
    oracle="""
    WITH c AS (SELECT o_custkey AS key, count(*) AS cnt FROM orders GROUP BY 1),
    s AS (SELECT sum(cnt) AS n_rows, count(*) AS n_keys, max(cnt) AS max_cnt FROM c)
    SELECT c.key, c.cnt,
           round(c.cnt::DOUBLE / s.n_rows, 6) AS row_share,
           round(s.max_cnt::DOUBLE * s.n_keys / s.n_rows, 6) AS skew_ratio
    FROM c, s
    ORDER BY c.cnt DESC, c.key
    LIMIT 5
    """,
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the 5 heaviest order keys with their
    row share, plus the global skew ratio (max key count / mean key
    count) — the number that decides between a plain shuffle join, AQE
    skew split, and joins.salted_join. One bounded hash aggregate + a
    1-row stats broadcast + TakeOrdered; run it on any prospective join
    key before committing a 100 TB shuffle strategy."""
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy(F.col("o_custkey").alias("key")).agg(F.count(F.lit(1)).alias("cnt"))
    s = F.broadcast(
        c.agg(
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("cnt").alias("max_cnt"),
        )
    )
    return (
        c.crossJoin(s)
        .select(
            "key",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("n_rows"), 6).alias("row_share"),
            F.round(
                F.col("max_cnt").cast("double") * F.col("n_keys") / F.col("n_rows"), 6
            ).alias("skew_ratio"),
        )
        .orderBy(F.desc("cnt"), "key")
        .limit(5)
    )


@query(
    "k_anonymity_audit",
    oracle="""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS sz
        FROM customer GROUP BY 1, 2
    )
    SELECT 8 AS k,
           count(*) AS n_groups,
           sum(CASE WHEN sz < 8 THEN 1 ELSE 0 END)::BIGINT AS n_risky_groups,
           sum(CASE WHEN sz < 8 THEN sz ELSE 0 END)::BIGINT AS n_risky_rows,
           round(sum(CASE WHEN sz < 8 THEN sz ELSE 0 END)::DOUBLE / sum(sz), 6)
             AS risky_row_frac
    FROM g
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy gate for a release/training set: group by the quasi-
    identifier tuple (nation, market segment) and report how many
    equivalence classes — and rows — fall below k=8 (re-identifiable
    cohorts). One hash aggregate bounded by QI-combination cardinality
    + a ≤groups fold; run it before any export the same way
    data_quality_report gates schema contracts."""
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(F.count(F.lit(1)).alias("sz"))
    risky = F.when(F.col("sz") < 8, F.col("sz")).otherwise(0)
    return g.agg(
        F.lit(8).alias("k"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("sz") < 8, 1).otherwise(0)).alias("n_risky_groups"),
        F.sum(risky).cast("bigint").alias("n_risky_rows"),
        F.round(F.sum(risky).cast("double") / F.sum("sz"), 6).alias("risky_row_frac"),
    )


@query(
    "winsorize_values",
    oracle=f"""
    WITH q AS (
        SELECT event_type,
               quantile_cont(value, 0.01) AS p01,
               quantile_cont(value, 0.99) AS p99
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_events,
           sum(CASE WHEN value < p01 THEN 1 ELSE 0 END)::BIGINT AS n_capped_low,
           sum(CASE WHEN value > p99 THEN 1 ELSE 0 END)::BIGINT AS n_capped_high,
           round({_sql_davg('value')}, 6) AS avg_raw,
           round({_sql_davg('greatest(p01, least(p99, value))')}, 6) AS avg_winsorized
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type
    """,
)
def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier capping at exact per-group p01/p99 — computed with the
    scale-safe two-phase bucketed selection (selection.
    grouped_exact_quantiles: O(buckets) state per group, never the
    object-path percentile aggregate), broadcast back onto one event
    scan. Reports cap counts and the raw vs winsorized mean per type —
    the robust-statistics preprocessing step for noisy telemetry."""
    from covid_custom_sql_engine_spark.operators.selection import (
        grouped_exact_quantiles,
    )

    e = load_table(spark, sf_dir, "events")
    q = grouped_exact_quantiles(
        e, "event_type", "value", [0.01, 0.99], ["p01", "p99"]
    ).select("event_type", "p01", "p99")
    j = e.join(F.broadcast(q), "event_type")
    capped = F.greatest(F.col("p01"), F.least(F.col("p99"), F.col("value")))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("value") < F.col("p01"), 1).otherwise(0)).alias(
            "n_capped_low"
        ),
        F.sum(F.when(F.col("value") > F.col("p99"), 1).otherwise(0)).alias(
            "n_capped_high"
        ),
        F.round(ops.davg(F.col("value")), 6).alias("avg_raw"),
        F.round(ops.davg(capped), 6).alias("avg_winsorized"),
    )


@query(
    "split_divergence",
    oracle=f"""
    WITH tk AS (
        SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' END AS split,
               unnest({_SQL_TOKS}) AS tok
        FROM (SELECT ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                     % 100 AS h,
                     text
              FROM documents)
    ),
    counts AS (
        SELECT tok,
               sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ct,
               sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS cv
        FROM tk WHERE split IS NOT NULL GROUP BY tok
    ),
    tot AS (SELECT sum(ct) AS tt, sum(cv) AS tv, count(*) AS vocab FROM counts),
    pq AS (
        SELECT vocab, ct, cv,
               (ct + 1.0) / (tt + vocab) AS p,
               (cv + 1.0) / (tv + vocab) AS q
        FROM counts, tot
    )
    SELECT max(vocab) AS vocab_size,
           sum(CASE WHEN ct > 0 AND cv > 0 THEN 1 ELSE 0 END)::BIGINT AS overlap_tokens,
           round(sum(CAST(p * ln(p / q) AS DECIMAL(38,18)))::DOUBLE, 6) AS kl_train_val,
           round(sum(CAST(q * ln(q / p) AS DECIMAL(38,18)))::DOUBLE, 6) AS kl_val_train,
           round(sum(CAST(p * ln(p / ((p + q) / 2)) / 2 AS DECIMAL(38,18)))::DOUBLE
                 + sum(CAST(q * ln(q / ((p + q) / 2)) / 2 AS DECIMAL(38,18)))::DOUBLE,
                 6) AS js_divergence
    FROM pq
    """,
)
def split_divergence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val distribution drift on unigrams (corpus.split_divergence):
    add-one-smoothed KL both ways + Jensen–Shannon + vocab overlap.
    Aggregates bounded by vocab, never corpus size; KL terms summed as
    DECIMAL(38,18) so the fold is order-independent cross-engine."""
    d = parallelize_small(load_table(spark, sf_dir, "documents"))
    return cp.split_divergence(d)


@query(
    "length_bucket_stats",
    oracle=f"""
    WITH n AS (
        SELECT len({_SQL_TOKS}) AS n_tokens FROM documents
        WHERE len({_SQL_TOKS}) >= 1
    ),
    b AS (SELECT n_tokens, length(bin(n_tokens)) AS blen FROM n)
    SELECT CAST((1::BIGINT) << (blen - 1) AS BIGINT) AS bucket_min,
           CAST(((1::BIGINT) << blen) - 1 AS BIGINT) AS bucket_max,
           count(*) AS n_docs,
           sum(n_tokens)::BIGINT AS total_tokens,
           round(sum(n_tokens)::DOUBLE / (count(*) * (((1::BIGINT) << blen) - 1)), 6)
             AS fill_ratio
    FROM b GROUP BY blen
    """,
)
def length_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length power-of-two bucketing for batch packing: per
    bucket [2^(b−1), 2^b), document count, token total, and the fill
    ratio if every doc pads to the bucket cap — the padding-efficiency
    report that decides batching geometry before a training run. The
    bucket index is the integer bit-length of the token count (exact,
    no float log); one scan + a ≤64-group aggregate."""
    d = parallelize_small(load_table(spark, sf_dir, "documents"))
    n = d.select(tx.token_count("text").cast("bigint").alias("n_tokens")).filter(
        F.col("n_tokens") >= 1
    )
    b = n.withColumn("blen", F.length(F.bin(F.col("n_tokens"))).cast("int"))
    cap = F.expr("shiftleft(1L, blen)") - 1
    return (
        b.groupBy("blen")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .select(
            F.expr("shiftleft(1L, blen - 1)").alias("bucket_min"),
            cap.alias("bucket_max"),
            "n_docs",
            "total_tokens",
            F.round(
                F.col("total_tokens").cast("double") / (F.col("n_docs") * cap), 6
            ).alias("fill_ratio"),
        )
    )


@query(
    "windowed_hll_users",
    oracle=f"""
    WITH hll AS (
        {sks.sql_hll_grouped(
            "events",
            "user_id",
            "strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')",
            "window_start",
        )}
    ),
    ex AS (
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               count(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1
    )
    SELECT hll.window_start, hll.hll_distinct AS hll_users, ex.n_users,
           round(abs(hll.hll_distinct - ex.n_users) / ex.n_users, 4) AS rel_err
    FROM hll JOIN ex USING (window_start)
    """,
)
def windowed_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour sketched active users: grouped HyperLogLog (≤1024
    registers PER WINDOW, built in one map-side-combinable aggregate,
    folded with the exact-integer harmonic mean) next to the exact
    COUNT(DISTINCT) and the relative error. At 100 TB the exact column
    is the expensive audit you run once; the sketch column is what the
    hourly dashboard computes forever after — and because registers
    merge by max, late data or per-datacenter partial sketches fold in
    without recounting anything."""
    e = load_table(spark, sf_dir, "events")
    frame = e.select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "user_id",
    )
    hll = sks.hll_distinct_grouped(frame, "user_id", ["window_start"]).select(
        "window_start", F.col("hll_distinct").alias("hll_users")
    )
    ex = frame.groupBy("window_start").agg(
        F.count_distinct("user_id").alias("n_users")
    )
    return hll.join(ex, "window_start").select(
        "window_start",
        "hll_users",
        "n_users",
        F.round(F.abs(F.col("hll_users") - F.col("n_users")) / F.col("n_users"), 4).alias(
            "rel_err"
        ),
    )


@query(
    "minhash_accuracy",
    oracle=f"""
    {_sql_minhash_cte()}
    , est AS (
        SELECT c.id_a, c.id_b,
               round(({' + '.join(f'CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END' for i in range(12))}) / 12.0, 6) AS est_jaccard
        FROM cand c JOIN sigs a ON c.id_a = a.doc_id JOIN sigs b ON c.id_b = b.doc_id
    ),
    ex AS (
        SELECT c.id_a, c.id_b,
               round(CASE WHEN len(list_distinct(list_concat(x.sh, y.sh))) > 0
                    THEN CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                         / len(list_distinct(list_concat(x.sh, y.sh)))
                    ELSE 0.0 END, 6) AS jaccard
        FROM cand c JOIN sh x ON c.id_a = x.doc_id JOIN sh y ON c.id_b = y.doc_id
    )
    SELECT est.id_a, est.id_b, est.est_jaccard, ex.jaccard,
           round(abs(est.est_jaccard - ex.jaccard), 6) AS abs_err
    FROM est JOIN ex ON est.id_a = ex.id_a AND est.id_b = ex.id_b
    """,
)
def minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR audit, the dedup analogue of ann_recall: for
    every LSH candidate pair, the signature-agreement Jaccard estimate
    (matching rows / 12) next to the exact shingle Jaccard and the
    absolute error — the evaluation that justifies trusting signature
    agreement as the cheap similarity at 100 TB (12 ints per doc
    instead of the shingle set). All three frames reuse the candidate
    generation's equi-join shape; no all-pairs anywhere."""
    d = parallelize_small(load_table(spark, sf_dir, "documents"))
    sh = dd.shingle_sets(d)
    sigs = dd.minhash_signatures(sh, "doc_id", 12)
    bands = dd._bands_from_signatures(sigs, "doc_id", 12, 3)
    cand = dd.candidate_pairs_from_bands(bands)
    a = sigs.select(
        F.col("doc_id").alias("id_a"), *[F.col(f"mh_{i}").alias(f"a{i}") for i in range(12)]
    )
    b = sigs.select(
        F.col("doc_id").alias("id_b"), *[F.col(f"mh_{i}").alias(f"b{i}") for i in range(12)]
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(12)
    )
    est = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(matches / 12.0, 6).alias("est_jaccard"))
    )
    ex = dd.jaccard_from_shingles(sh, cand).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )
    return est.join(ex, ["id_a", "id_b"]).select(
        "id_a",
        "id_b",
        "est_jaccard",
        "jaccard",
        F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 6).alias("abs_err"),
    )


_BLOOM_M = 65536
_BLOOM_K = 3


def _bloom_oracle() -> str:
    def pos_case(expr: str) -> str:
        whens = " ".join(
            f"WHEN {i} THEN {sks.sql_bloom_position(expr, _BLOOM_M, i)}"
            for i in range(_BLOOM_K)
        )
        return f"CASE u.i {whens} END"

    return f"""
    WITH build AS (
        SELECT DISTINCT o_orderkey FROM orders WHERE o_totalprice >= 400000
    ),
    hashes AS (SELECT unnest(range({_BLOOM_K})) AS i),
    bits AS (
        SELECT DISTINCT {pos_case('o_orderkey')} AS bit
        FROM build, hashes u
    ),
    probe AS (SELECT DISTINCT l_orderkey FROM lineitem),
    probed AS (
        SELECT p.l_orderkey,
               min(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) = 1 AS maybe_present
        FROM (SELECT l_orderkey, {pos_case('l_orderkey')} AS bit
              FROM probe p, hashes u) p
        LEFT JOIN bits b USING (bit)
        GROUP BY p.l_orderkey
    ),
    flagged AS (
        SELECT pr.l_orderkey, pr.maybe_present,
               (bu.o_orderkey IS NOT NULL) AS is_member
        FROM probed pr LEFT JOIN build bu ON pr.l_orderkey = bu.o_orderkey
    )
    SELECT count(*) AS n_probe_keys,
           sum(CASE WHEN maybe_present THEN 1 ELSE 0 END)::BIGINT AS n_pass,
           sum(CASE WHEN is_member THEN 1 ELSE 0 END)::BIGINT AS n_members,
           sum(CASE WHEN maybe_present AND NOT is_member THEN 1 ELSE 0 END)::BIGINT AS n_false_pos,
           sum(CASE WHEN is_member AND NOT maybe_present THEN 1 ELSE 0 END)::BIGINT AS n_false_neg
    FROM flagged
    """


@query("bloom_filter_join_stats", oracle=_bloom_oracle())
def bloom_filter_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom pre-join filter, end to end with its own audit: build a
    {m}-bit filter from the high-value order keys, probe every lineitem
    order key, and report pass/membership/false-positive counts —
    n_false_neg MUST be 0 (the Bloom guarantee the pre-filter pattern
    rests on; false positives only cost the downstream join some extra
    rows). The bit table (≤m rows after a map-side-combinable distinct)
    broadcasts; the probe side shuffles only its per-key aggregate. At
    100 TB this is how a selective join avoids shuffling the big
    side: ship KBs of filter, drop most probe rows at the scan."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    build = o.filter(F.col("o_totalprice") >= 400000).select("o_orderkey").distinct()
    bits = sks.bloom_bits(build, "o_orderkey", _BLOOM_M, _BLOOM_K)
    probe = l.select("l_orderkey").distinct()
    probed = sks.bloom_probe(bits, probe, "l_orderkey", _BLOOM_M, _BLOOM_K)
    flagged = probed.join(
        F.broadcast(build.withColumnRenamed("o_orderkey", "l_orderkey")
                    .withColumn("_m", F.lit(1))),
        "l_orderkey",
        "left",
    ).select(
        "maybe_present", (F.col("_m").isNotNull()).alias("is_member")
    )
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))
    return flagged.agg(
        F.count(F.lit(1)).alias("n_probe_keys"),
        one(F.col("maybe_present")).alias("n_pass"),
        one(F.col("is_member")).alias("n_members"),
        one(F.col("maybe_present") & ~F.col("is_member")).alias("n_false_pos"),
        one(F.col("is_member") & ~F.col("maybe_present")).alias("n_false_neg"),
    )


@query(
    "weighted_sample_docs",
    oracle="""
    SELECT doc_id, n_chars,
           round(ln((('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1.0)
                    / 1152921504606846976.0) / n_chars, 6) + 0.0 AS es_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY ln((('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1.0)
                / 1152921504606846976.0) / n_chars DESC, doc_id
    LIMIT 50
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sample of 50 documents ∝ length —
    the reproducible mixture-sampling primitive (functions/corpus.
    weighted_sample): md5-hashed uniforms, key = ln(u)/w, top-k by
    per-partition heaps (TakeOrderedAndProject — no global sort)."""
    d = load_table(spark, sf_dir, "documents")
    return cp.weighted_sample(d, "n_chars", 50)


@query(
    "cms_heavy_hitters",
    oracle=sks.sql_cms_heavy_hitters(
        "lineitem", "l_partkey", "l_partkey", threshold=45
    ),
)
def cms_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters over lineitem part keys: a 4×1024-cell
    sketch (ONE bounded shuffle with map-side combine — O(sketch), not
    O(data)) probed by the distinct keys via a broadcast join. The
    estimate never undercounts, so the result is a guaranteed superset
    of the true ≥45-occurrence parts — the cheap 100 TB first pass that
    shrinks an exact follow-up to the candidate set."""
    l = load_table(spark, sf_dir, "lineitem")
    return sks.cms_heavy_hitters(l, "l_partkey", threshold=45)


@query(
    "hll_distinct_orders",
    oracle=sks.sql_hll_distinct("lineitem", "l_orderkey", p=10),
)
def hll_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog order-key cardinality from 1024 registers: one
    map-side-combinable max aggregate (mergeable state — union of
    datasets = cell-wise max), then exact-integer harmonic-mean folding
    (Σ 2^(Rmax−M_j) as a bigint — order-independent, hash-stable) with
    one final double division. ~1 KB of state for any input size; the
    exact `COUNT(DISTINCT)` it replaces shuffles every key."""
    l = load_table(spark, sf_dir, "lineitem")
    return sks.hll_distinct(l, "l_orderkey", p=10)


# ---------------------------------------------------------------------------


# --- Corpus × corpus ANN similarity join --------------------------------
# ONE set of knobs driving both engines (the _PQ_* convention); the
# ADC prefilter cut injects as the identical Python double on both
# sides (including the 0.35 − 0.2 float-arithmetic representation).
_AJ_TAU = 0.35  # the semdedup_prune threshold precedent
_AJ_MARGIN = 0.2
_AJ_NPROBE = 2
_AJ_CUT = _AJ_TAU - _AJ_MARGIN


def _adc_dot_terms_sql(m: int, sub: int) -> str:
    """SQL twin of the ADC inner product that similarity._adc_dot_lut
    + similarity._adc_lut_sum read off the per-query LUT: ⟨q, ĉ⟩ summed
    in fixed subspace order (left-assoc +, the engine fold order)."""
    return " + ".join(
        f"list_dot_product(list_slice(q.v, {s * sub + 1}, {(s + 1) * sub}), b{s}.c)"
        for s in range(m)
    )


_SQL_ADC_DOT_TERMS = _adc_dot_terms_sql(_PQ_M, _PQ_SUB)


@query(
    "ann_join_recall",
    oracle=f"""
    WITH {_SQL_IVF_COARSE},
    {_SQL_PQ_CODES},
    pro AS (SELECT vec_id, cell FROM asn WHERE rn <= {_AJ_NPROBE}),
    cd AS (SELECT p.vec_id AS qa, s.vec_id AS rb
           FROM pro p JOIN corpus s ON s.cell = p.cell AND s.vec_id <> p.vec_id),
    sc AS (SELECT DISTINCT least(cd.qa, cd.rb) AS ia, greatest(cd.qa, cd.rb) AS ib
           FROM cd JOIN nv q ON q.vec_id = cd.qa
           JOIN cw ON cw.vec_id = cd.rb
           {_SQL_PQ_ADC_JOINS}
           WHERE {_SQL_ADC_DOT_TERMS} >= {_AJ_CUT!r}),
    ap AS (SELECT sc.ia, sc.ib FROM sc
           JOIN nv a ON a.vec_id = sc.ia JOIN nv b ON b.vec_id = sc.ib
           WHERE list_dot_product(a.v, b.v) >= {_AJ_TAU!r}),
    ex AS (SELECT a.vec_id AS ia, b.vec_id AS ib
           FROM nv a JOIN nv b ON a.vec_id < b.vec_id
           WHERE list_dot_product(a.v, b.v) >= {_AJ_TAU!r}),
    nt AS (SELECT count(*) AS n_true FROM ex),
    nf AS (SELECT count(*) AS n_found FROM ap)
    SELECT n_true, n_found,
           round(CASE WHEN n_true > 0
                      THEN n_found::DOUBLE / n_true END, 6) AS recall
    FROM nt, nf
    """,
)
def ann_join_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus × corpus ANN similarity-join audit (similarity.ann_join —
    IVF residence ⋈ multi-probe on the cell key, ADC-dot prefilter over
    PQ codes, exact-cosine re-rank): recall of the cell-bounded join
    against the exact τ-threshold all-pairs join. Found pairs are
    exact-verified by construction (the final filter IS the exact
    cosine, so found ⊆ true and precision = 1); what can be lost — and
    what this audits — is a true pair the coarse stage never
    co-locates or the ADC margin screens out. The oracle COMPOSES the
    shared fragments (`_SQL_IVF_COARSE` cells/probes, `_SQL_PQ_CODES`
    codes, the ADC joins) plus the MIPS-form ADC-dot terms, so the
    pair sets match exactly, not statistically. Premise note
    (hierarchical_assign precedent): the testdata embeddings are
    near-random and per-label cells barely align with cosine geometry,
    so recall here is honest-but-modest; on clustered corpora (or
    trained kmeans_centroids) the same plan concentrates true pairs in
    probed cells."""
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    ap = sim.ann_join(
        e,
        threshold=_AJ_TAU,
        n_probe=_AJ_NPROBE,
        m=_PQ_M,
        k_codes=_PQ_KCODES,
        margin=_AJ_MARGIN,
    ).select(F.col("id_a").alias("_ia"), F.col("id_b").alias("_ib"))
    nv = sim.unit_norm_frame(e, "vec_id", "embedding", "_nv").localCheckpoint(
        eager=False
    )
    # exact all-pairs baseline via blocked-GEMM candidates + the same
    # sequential-fold dot ≥ τ verify the old row-level cross join
    # applied — bit-identical pair set (see exact_threshold_pairs),
    # ~dim× less interpreted-lambda arithmetic (optimization r12)
    ex = sim.exact_threshold_pairs(
        nv, _AJ_TAU, id_col="vec_id", vec_col="_nv"
    )
    nt = ex.agg(F.count(F.lit(1)).alias("n_true"))
    nf = ap.agg(F.count(F.lit(1)).alias("n_found"))
    return nt.crossJoin(nf).select(
        "n_true",
        "n_found",
        F.round(
            F.when(
                F.col("n_true") > 0, F.col("n_found") / F.col("n_true")
            ),
            6,
        ).alias("recall"),
    )


_ANN_PAIRS_CTES = f"""{_SQL_IVF_COARSE},
    {_SQL_PQ_CODES},
    pro AS (SELECT vec_id, cell FROM asn WHERE rn <= {_AJ_NPROBE}),
    cd AS (SELECT p.vec_id AS qa, s.vec_id AS rb
           FROM pro p JOIN corpus s ON s.cell = p.cell AND s.vec_id <> p.vec_id),
    sc AS (SELECT DISTINCT least(cd.qa, cd.rb) AS ia, greatest(cd.qa, cd.rb) AS ib
           FROM cd JOIN nv q ON q.vec_id = cd.qa
           JOIN cw ON cw.vec_id = cd.rb
           {_SQL_PQ_ADC_JOINS}
           WHERE {_SQL_ADC_DOT_TERMS} >= {_AJ_CUT!r}),
    ap AS (SELECT sc.ia, sc.ib FROM sc
           JOIN nv a ON a.vec_id = sc.ia JOIN nv b ON b.vec_id = sc.ib
           WHERE list_dot_product(a.v, b.v) >= {_AJ_TAU!r})"""


@query(
    "ann_join_clusters",
    oracle="WITH RECURSIVE "
    + _ANN_PAIRS_CTES[len("WITH ") if _ANN_PAIRS_CTES.startswith("WITH ") else 0:]
    + """,
    uedges AS (SELECT ia AS src, ib AS dst FROM ap
               UNION SELECT ib, ia FROM ap),
    reach(id, r) AS (
        SELECT DISTINCT src, src FROM uedges
        UNION
        SELECT reach.id, e.dst FROM reach JOIN uedges e ON e.src = reach.r
    ),
    comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
    SELECT em.vec_id AS id,
           coalesce(c.component, em.vec_id) AS component,
           em.vec_id = coalesce(c.component, em.vec_id) AS keep
    FROM embeddings em LEFT JOIN comp c ON em.vec_id = c.id
    """,
)
def ann_join_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup clustering END-TO-END at the embedding level:
    the corpus×corpus ANN join's exact-verified pairs (similarity.
    ann_join) feed connected components (iterative min-label
    propagation) and the min-id-representative keep policy — the
    embedding-space composition of near_dup_clusters (whose pairs come
    from MinHash/LSH over text). This is what "dedup a 100 TB corpus
    by embedding similarity" actually runs: cell-bounded pair
    generation (2·N^1.5 candidates at k=√N cells, SCALE.md round-10),
    CC rounds bounded by near-dup cluster diameter, one keep decision
    per vector. Oracle: the ann_join pair chain + a recursive
    reachability CTE (same fixpoint, declarative form)."""
    e = parallelize_small(load_table(spark, sf_dir, "embeddings"))
    pairs = sim.ann_join(
        e,
        threshold=_AJ_TAU,
        n_probe=_AJ_NPROBE,
        m=_PQ_M,
        k_codes=_PQ_KCODES,
        margin=_AJ_MARGIN,
    ).select("id_a", "id_b")
    return dd.near_dup_keep(e, pairs, id_col="vec_id")


# ---------------------------------------------------------------------------
# OPQ: Householder rotation before PQ (round 12)
# ---------------------------------------------------------------------------

# The OPQ audit runs on a SYNTHESIZED correlated corpus (the
# dbscan/trigram convention: generated from vec_id arithmetic inside
# BOTH engines, SF-independent): v_i[j] = s_i + ε_ij with the dominant
# component s_i = (i % 9) − 4 smeared across ALL coordinates (the
# worst case for subspace decomposition) and the discriminative noise
# ε_ij = (((i·31 + j·17) % 7) − 3)·0.1. On this fixture plain seed-PQ
# recall@5 is 0.56 and the Householder-rotated PQ is 1.00 (numpy
# prototype, reproduced by the driver row) — the regime OPQ exists for.
_OPQ_N, _OPQ_DIM, _OPQ_M, _OPQ_K = 512, 8, 4, 16
_OPQ_SUB = _OPQ_DIM // _OPQ_M
_OPQ_W0 = repr(1.0 / _OPQ_DIM**0.5)  # pca_power_step's fixed init, verbatim

_SQL_OPQ_SYN = f"""syn AS (
      SELECT i AS vec_id,
             list_transform(range(0, {_OPQ_DIM}), j ->
               CAST((i % 9) - 4 AS DOUBLE)
               + CAST(((i * 31 + j * 17) % 7) - 3 AS DOUBLE) * 0.1) AS v0
      FROM range(0, {_OPQ_N}) t(i))"""

# the power step + Householder reflector + rotation, mirroring
# similarity.pca_power_step / opq_householder_direction / opq_rotate
# expression-for-expression (decimal folds on the aggregates, round(6)
# on the direction components, float chains identical elsewhere)
_SQL_OPQ_ROT = f"""con AS (
      SELECT j AS dim,
             v0[j + 1] * list_dot_product(v0,
               list_transform(range(0, {_OPQ_DIM}), x -> {_OPQ_W0})) AS t
      FROM syn, range(0, {_OPQ_DIM}) r(j)),
    pw AS (SELECT dim, {_sql_dsum('t')} AS s FROM con GROUP BY dim),
    pn AS (SELECT sqrt({_sql_dsum('s * s')}) AS nrm FROM pw),
    wv AS (SELECT dim, round(CASE WHEN nrm > 0 THEN s / nrm END, 6) AS c
           FROM pw, pn),
    wa AS (SELECT list(c ORDER BY dim) AS w FROM wv),
    hd AS (SELECT list_transform(range(0, {_OPQ_DIM}),
                    k -> w[k + 1] - CASE WHEN k = 0 THEN 1.0 ELSE 0.0 END) AS d
           FROM wa),
    hu AS (SELECT CASE WHEN list_dot_product(d, d) < 1e-12
                       THEN list_transform(d, x -> 0.0)
                       ELSE list_transform(d, x -> x / sqrt(list_dot_product(d, d)))
                  END AS u
           FROM hd),
    rsyn AS (SELECT vec_id,
               list_transform(range(0, {_OPQ_DIM}),
                 k -> v0[k + 1] - 2.0 * list_dot_product(v0, u) * u[k + 1]) AS v0
             FROM syn, hu)"""


@query(
    "opq_topk_recall",
    oracle=f"""
    WITH {_SQL_OPQ_SYN},
    {_SQL_OPQ_ROT},
    {_pq_codes_sql(_OPQ_M, _OPQ_K, _OPQ_SUB, src="syn", vec="v0", p="p")},
    {_pq_codes_sql(_OPQ_M, _OPQ_K, _OPQ_SUB, src="rsyn", vec="v0", p="r")},
    pqs AS (SELECT vec_id AS query_id, v FROM pnv WHERE vec_id <= 4),
    rqs AS (SELECT vec_id AS query_id, v FROM rnv WHERE vec_id <= 4),
    padc AS (SELECT q.query_id, pcw.vec_id,
              {_pq_adc_terms_sql(_OPQ_M, _OPQ_SUB)}
            FROM pqs q CROSS JOIN pcw
            {_pq_adc_joins_sql(_OPQ_M, p="p")}
            WHERE pcw.vec_id != q.query_id),
    radc AS (SELECT q.query_id, rcw.vec_id,
              {_pq_adc_terms_sql(_OPQ_M, _OPQ_SUB)}
            FROM rqs q CROSS JOIN rcw
            {_pq_adc_joins_sql(_OPQ_M, p="r")}
            WHERE rcw.vec_id != q.query_id),
    ap_pq AS (SELECT query_id, vec_id FROM padc
           QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id) <= 5),
    ap_opq AS (SELECT query_id, vec_id FROM radc
           QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d ASC, vec_id) <= 5),
    ex AS (SELECT q.vec_id AS query_id, c.vec_id
           FROM syn q CROSS JOIN syn c
           WHERE q.vec_id <= 4 AND c.vec_id != q.vec_id
           QUALIFY row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.v0, c.v0)
               / (sqrt(list_dot_product(q.v0, q.v0)) * sqrt(list_dot_product(c.v0, c.v0))) DESC,
             c.vec_id) <= 5),
    h1 AS (SELECT ex.query_id, count(*) AS n
           FROM ex JOIN ap_opq ap ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
           GROUP BY ex.query_id),
    h2 AS (SELECT ex.query_id, count(*) AS n
           FROM ex JOIN ap_pq ap ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
           GROUP BY ex.query_id),
    per AS (SELECT query_id, count(*) AS k FROM ex GROUP BY query_id)
    SELECT per.query_id, per.k,
           CAST(coalesce(h1.n, 0) AS BIGINT) AS n_hits_opq,
           round(coalesce(h1.n, 0)::DOUBLE / per.k, 6) AS recall_opq,
           CAST(coalesce(h2.n, 0) AS BIGINT) AS n_hits_pq,
           round(coalesce(h2.n, 0)::DOUBLE / per.k, 6) AS recall_pq
    FROM per
    LEFT JOIN h1 ON per.query_id = h1.query_id
    LEFT JOIN h2 ON per.query_id = h2.query_id
    """,
)
def opq_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ audit — recall@5 of Householder-rotated PQ vs UNROTATED PQ,
    side by side per query, against the exact float-cosine baseline
    (rotation-invariant, computed on the raw vectors). The corpus is
    the synthesized correlated fixture above: one dominant component
    smeared across every coordinate — exactly what product
    quantization decomposes WORST (each subspace burns its codeword
    budget re-encoding the same global component; the low-id seed
    codewords only cover the seeds' range of it). The learned
    reflection (similarity.opq_householder_direction: one
    pca_power_step + the Householder map w → e₁) confines that
    component to subspace 0 and frees the rest for the discriminative
    noise: recall_opq = 1.00 vs recall_pq = 0.56 on this fixture. The
    oracle derives the identical direction (decimal-fold power step,
    round(6) components), reflector, rotation, seed codebooks, codes,
    and fixed-order ADC — exact, not statistical (the pq_topk_recall
    discipline; the shared `_pq_codes_sql` fragments instantiate twice
    under `p`/`r` prefixes, defaults untouched)."""
    from covid_custom_sql_engine_spark.registry.corpus_prep import (
        _recall_vs_exact,
    )

    i = F.col("id")
    syn = (
        spark.range(_OPQ_N)
        .select(
            i.alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(_OPQ_DIM - 1)),
                lambda j: ((i % 9) - 4).cast("double")
                + (((i * 31 + j * 17) % 7) - 3).cast("double") * F.lit(0.1),
            ).alias("embedding"),
        )
        .localCheckpoint(eager=False)  # power step + rotate + PQ + exact
    )
    u = sim.opq_householder_direction(syn, vec_col="embedding", dim=_OPQ_DIM)
    rot = sim.opq_rotate(syn, u).localCheckpoint(
        eager=False
    )  # codebook seeds + encode + query slice
    qs_raw = syn.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    qs_rot = rot.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ap_pq = sim.pq_topk(
        syn, qs_raw, m=_OPQ_M, k_codes=_OPQ_K, k=5
    ).select("query_id", "vec_id")
    ap_opq = sim.pq_topk(
        rot, qs_rot, m=_OPQ_M, k_codes=_OPQ_K, k=5
    ).select("query_id", "vec_id")
    ex = (
        sim.brute_force_topk(syn, qs_raw, k=5)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=False)  # two recall scaffolds read it
    )
    r_opq = _recall_vs_exact(ex, ap_opq).select(
        "query_id",
        "k",
        F.col("n_hits").alias("n_hits_opq"),
        F.col("recall").alias("recall_opq"),
    )
    r_pq = _recall_vs_exact(ex, ap_pq).select(
        "query_id",
        F.col("n_hits").alias("n_hits_pq"),
        F.col("recall").alias("recall_pq"),
    )
    return r_opq.join(r_pq, "query_id")
