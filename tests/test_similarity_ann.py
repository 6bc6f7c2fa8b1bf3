"""ANN quality: IVF recall against the exact brute-force baseline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from covid_custom_sql_engine_spark.catalog import load_table
from covid_custom_sql_engine_spark.functions import similarity as sim


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= 9).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = sim.brute_force_topk(e, q, k=5)
    approx = sim.ivf_topk(e, q, k=5, n_probe=3)
    ex = {}
    for r in exact.collect():
        ex.setdefault(r.query_id, set()).add(r.vec_id)
    ap = {}
    for r in approx.collect():
        ap.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(ex[k] & ap.get(k, set())) / len(ex[k]) for k in ex]
    assert sum(recalls) / len(recalls) >= 0.4  # n_probe=3 of 10 cells


def test_ivf_rank_ordering(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    rows = sorted(sim.ivf_topk(e, q, k=5, n_probe=2).collect(), key=lambda r: r.rank)
    sims = [r.cos_sim for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert all(r.vec_id != 0 for r in rows)  # self excluded


def test_cosine_zero_vector_yields_null(spark):
    from covid_custom_sql_engine_spark.functions import similarity as sim
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])], ["id", "v"]
    )
    a = df.filter(F.col("id") == 1).select(sim.as_double("v").alias("a"))
    out = a.crossJoin(
        df.filter(F.col("id") == 2).select(sim.as_double("v").alias("b"))
    ).select(sim.cosine(F.col("a"), F.col("b")).alias("c")).collect()[0].c
    assert out is None  # zero-norm guard: NULL, not NaN/error


def test_hyperplane_bucket_deterministic(spark):
    from covid_custom_sql_engine_spark.functions import similarity as sim
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, [1.0, 2.0, -1.0])], ["id", "v"])
    planes = [[1.0, 0.0, 0.0], [0.0, -1.0, 0.0]]
    b1 = df.select(sim.hyperplane_bucket(sim.as_double("v"), planes).alias("b")).collect()[0].b
    b2 = df.select(sim.hyperplane_bucket(sim.as_double("v"), planes).alias("b")).collect()[0].b
    assert b1 == b2 == "10"  # dot>=0 → '1', dot<0 → '0'


def test_semdedup_prune_drops_within_cluster_dups(spark):
    from covid_custom_sql_engine_spark.functions.similarity import semdedup_prune

    # two well-separated clusters on orthogonal axes; ids 0/1/2 nearly
    # collinear (dups), id 3 orthogonal-ish within nothing
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.99, 0.01, 0.0], 0),   # dup of 0
        (2, [0.98, -0.02, 0.0], 0),  # dup of 0
        (3, [0.0, 1.0, 0.0], 1),
        (4, [0.0, 0.97, 0.05], 1),   # dup of 3
        (5, [0.0, 0.0, 1.0], 1),     # same cell family but orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.vec_id: r for r in semdedup_prune(df, threshold=0.9).collect()}
    assert len(out) == 6
    assert not out[0].dropped and out[1].dropped and out[2].dropped
    assert out[1].dup_of == 0 and out[2].dup_of == 0
    assert not out[3].dropped and out[4].dropped and out[4].dup_of == 3
    # orthogonal member of the same cluster survives
    assert not out[5].dropped and out[5].dup_of is None
    # deterministic under repartitioning
    again = {r.vec_id: r for r in semdedup_prune(df.repartition(5), threshold=0.9).collect()}
    assert {k: (v.dropped, v.dup_of) for k, v in out.items()} == {
        k: (v.dropped, v.dup_of) for k, v in again.items()
    }
    # max_cell guard: cap below cell size -> no pairs, everything kept
    capped = semdedup_prune(df, threshold=0.9, max_cell=2).collect()
    assert all(not r.dropped for r in capped)


def test_kmeans_centroids_iterates_and_separates(spark):
    """Two tight clusters around orthogonal axes with init vectors
    (id 0, 1) one per cluster: 3 Lloyd rounds must keep two cells,
    assign every vector to its own cluster's cell, and the trained
    centroids must point along the cluster axes. Deterministic under
    repartitioning (decimal folds + round(6))."""
    from covid_custom_sql_engine_spark.functions.similarity import (
        kmeans_centroids,
        semdedup_prune,
    )

    rows = [
        (0, [1.0, 0.02, 0.0]),
        (1, [0.0, 1.0, 0.03]),
        (2, [0.98, 0.05, 0.0]),
        (3, [0.99, 0.0, 0.04]),
        (4, [0.02, 0.97, 0.0]),
        (5, [0.0, 1.01, 0.02]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = {r.cell: r._cv for r in kmeans_centroids(df, k=2, iterations=3).collect()}
    assert set(cents) == {0, 1}
    assert cents[0][0] > 0.9 and cents[0][1] < 0.1   # x-axis cluster mean
    assert cents[1][1] > 0.9 and cents[1][0] < 0.1   # y-axis cluster mean
    again = {
        r.cell: r._cv
        for r in kmeans_centroids(df.repartition(5), k=2, iterations=3).collect()
    }
    assert cents == again
    # trained cells drive semdedup: near-parallel vectors within a cell
    # collapse to the min-id representative, across-cell never compared
    c = kmeans_centroids(df, k=2, iterations=3)
    out = {r.vec_id: r for r in semdedup_prune(df, threshold=0.98, centroids=c).collect()}
    assert not out[0].dropped and out[2].dropped and out[2].dup_of == 0
    assert not out[1].dropped and out[4].dropped


def test_pq_encode_codes_and_self_assignment(spark, sf_dir):
    """Seed vectors must encode to their own codeword in every subspace
    (distance 0 to themselves), and codes lie in [0, k)."""
    from covid_custom_sql_engine_spark.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cbs = sim.pq_codebooks(e, m=4, k=16)
    assert len(cbs) == 4 and all(len(cb) == 16 for cb in cbs)
    assert all(len(cw) == 16 for cb in cbs for cw in cb)  # dim 64 / m 4
    codes = {r.vec_id: r for r in sim.pq_encode(e, cbs).collect()}
    for vid, r in codes.items():
        for s in range(4):
            assert 0 <= r[f"code_{s}"] < 16
    for vid in range(16):  # seeds self-assign
        for s in range(4):
            assert codes[vid][f"code_{s}"] == vid


def test_pq_topk_ranks_and_recall_reasonable(spark, sf_dir):
    """PQ/ADC top-k: each query returns k ranked rows, never itself,
    and the aggregate recall@5 vs exact cosine is well above chance
    (5/N) — the quantization is coarse (16 codewords) but must retain
    signal."""
    from covid_custom_sql_engine_spark.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") <= 4).selectExpr(
        "vec_id AS query_id", "embedding"
    )
    rows = sim.pq_topk(e, qs, k=5).collect()
    by_q = {}
    for r in rows:
        assert r.vec_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert sorted(by_q) == [0, 1, 2, 3, 4]
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())
    exact = {
        (r.query_id, r.vec_id)
        for r in sim.brute_force_topk(e, qs, k=5).select("query_id", "vec_id").collect()
    }
    approx = {(r.query_id, r.vec_id) for r in rows}
    recall = len(exact & approx) / len(exact)
    n = e.count()
    assert recall > 5 * (5 / n)  # far above chance


def test_ivfpq_composition_subset_of_probed_cells(spark, sf_dir):
    """IVFADC results must come only from the probed cells' PQ scan:
    every returned neighbor shares a probed cell with its query, ranks
    are 1..k per query, self never returned, and recall vs exact is
    above chance despite the double approximation."""
    from covid_custom_sql_engine_spark.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") <= 4).selectExpr("vec_id AS query_id", "embedding")
    rows = sim.ivfpq_topk(e, qs, k=5, n_probe=2).collect()
    by_q = {}
    for r in rows:
        assert r.vec_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert sorted(by_q) == [0, 1, 2, 3, 4]
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())
    exact = {
        (r.query_id, r.vec_id)
        for r in sim.brute_force_topk(e, qs, k=5).select("query_id", "vec_id").collect()
    }
    approx = {(r.query_id, r.vec_id) for r in rows}
    assert len(exact & approx) / len(exact) > 5 * (5 / e.count())


def test_ivfpq_rerank_improves_or_matches_adc(spark, sf_dir):
    """Exact re-ranking of the IVFADC shortlist: per query, recall@5 of
    the re-ranked result must be >= the ADC-only result (re-scoring a
    superset that contains the ADC top-5 can only fix ordering, never
    lose a hit), candidates must be a subset of the k*cand_factor
    shortlist, ranks 1..k, self excluded, and cos_sim must equal the
    exact cosine for those pairs."""
    from covid_custom_sql_engine_spark.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") <= 4).selectExpr("vec_id AS query_id", "embedding")
    shortlist = {
        (r.query_id, r.vec_id)
        for r in sim.ivfpq_topk(e, qs, k=20, n_probe=2).collect()
    }
    adc = sim.ivfpq_topk(e, qs, k=5, n_probe=2).collect()
    rer = sim.ivfpq_rerank_topk(e, qs, k=5, cand_factor=4, n_probe=2).collect()
    by_q = {}
    for r in rer:
        assert r.vec_id != r.query_id
        assert (r.query_id, r.vec_id) in shortlist
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert sorted(by_q) == [0, 1, 2, 3, 4]
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())
    exact = {}
    for r in sim.brute_force_topk(e, qs, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    adc_ids, rer_ids = {}, {}
    for r in adc:
        adc_ids.setdefault(r.query_id, set()).add(r.vec_id)
    for r in rer:
        rer_ids.setdefault(r.query_id, set()).add(r.vec_id)
    for q in exact:
        hits_adc = len(exact[q] & adc_ids.get(q, set()))
        hits_rer = len(exact[q] & rer_ids.get(q, set()))
        assert hits_rer >= hits_adc, f"rerank lost recall for query {q}"
    # re-scored similarity is the exact cosine, not the ADC surrogate
    exact_sims = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in sim.brute_force_topk(e, qs, k=e.count()).collect()
    }
    for r in rer:
        assert abs(r.cos_sim - exact_sims[(r.query_id, r.vec_id)]) < 1e-12


def test_assign_cells_frozen_centroids(spark):
    """Incremental ingest: new vectors assign to the nearest FROZEN
    cell (cosine argmax, ties to the smaller cell, zero-norm vector to
    the smallest cell via the NULLS FIRST convention); the corpus that
    trained the centroids is never touched."""
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell long, _cv array<double>"
    )
    new = spark.createDataFrame(
        [
            (101, [0.9, 0.1]),   # x-cluster
            (102, [0.1, 0.8]),   # y-cluster
            (103, [0.5, 0.5]),   # exact tie -> smaller cell 0
            (104, [0.0, 0.0]),   # zero norm: NULL sims -> smallest cell
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r.cell for r in sim.assign_cells(new, cents).collect()}
    assert out == {101: 0, 102: 1, 103: 0, 104: 0}
    again = {
        r.vec_id: r.cell
        for r in sim.assign_cells(new.repartition(5), cents).collect()
    }
    assert again == out
    dirty = spark.createDataFrame(
        [(105, None), (106, [0.7])], "vec_id long, embedding array<float>"
    )
    # NULL vector: norm NULL -> every sim NULL; ragged vector: zip_with
    # NULL-pads the missing element, so the dot fold sums to NULL. All
    # sims NULL tie on the NULLS FIRST flag; the -cell key picks cell 0.
    assert {
        r.vec_id: r.cell for r in sim.assign_cells(dirty, cents).collect()
    } == {105: 0, 106: 0}
    named = spark.createDataFrame(
        [("a", [0.9, 0.1]), ("b", [0.1, 0.8])],
        "vec_id string, embedding array<float>",
    )
    # the id only rides along: a string id takes the same cosine argmax
    assert sorted(
        (r.vec_id, r.cell) for r in sim.assign_cells(named, cents).collect()
    ) == [("a", 0), ("b", 1)]


_PLANE = [[1.0, 0.0, 0.0, 0.0]]
# Every re-scored top-k path, run wide enough (k, probes, shortlist and
# group cap cover the whole 48-row corpus) that the dirty vector is
# always a candidate. The LSH and signature planes split the two
# queries: a NULL or ragged vector signs as all-0 bits (query 1001's
# bucket), the all-zero vector as all-1 bits (query 1000's).
_DIRTY_PATHS = {
    "brute_force_topk": lambda c, q: sim.brute_force_topk(c, q, k=48),
    "ivf_topk": lambda c, q: sim.ivf_topk(c, q, k=48, n_probe=3),
    "lsh_topk": lambda c, q: sim.lsh_topk(c, q, _PLANE, k=48),
    "diversified_topk": lambda c, q: sim.diversified_topk(
        c, q, k=48, per_group=48
    ),
    "hamming_rerank_topk": lambda c, q: sim.hamming_rerank_topk(
        c, q, _PLANE, k=48, cand_factor=1
    ),
    "ivfpq_rerank_topk": lambda c, q: sim.ivfpq_rerank_topk(
        c, q, k=48, cand_factor=1, n_probe=3, m=2, k_codes=4
    ),
}
_DIRTY = {"null": None, "ragged": [0.3], "zero": [0.0, 0.0, 0.0, 0.0]}


@pytest.mark.parametrize(
    "path, dirty",
    [(p, d) for p in _DIRTY_PATHS for d in _DIRTY],
    # the brute-force cases keep their bare ids ("null", "ragged")
    ids=[
        d if p == "brute_force_topk" else f"{p}-{d}"
        for p in _DIRTY_PATHS
        for d in _DIRTY
    ],
)
def test_brute_force_topk_dirty_corpus_vector(spark, path, dirty):
    """A NULL, ragged or all-zero corpus vector scores NULL and ranks
    last on every exact-cosine top-k path; every other row scores."""
    import math

    rows = [
        (
            i,
            i % 3,
            [
                math.cos(0.7 * i) + 0.1,
                math.sin(1.3 * i),
                0.5 * math.cos(2.1 * i),
                0.5 * math.sin(0.4 * i),
            ],
        )
        for i in range(48)
    ]
    rows[40] = (40, 1, _DIRTY[dirty])
    corpus = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<float>"
    )
    qs = spark.createDataFrame(
        [(1000, [1.0, 0.0, 0.0, 0.0]), (1001, [-1.0, 0.0, 0.0, 0.0])],
        "query_id long, embedding array<float>",
    )
    got = _DIRTY_PATHS[path](corpus, qs).collect()
    per_query = {}
    for r in got:
        per_query[r.query_id] = per_query.get(r.query_id, 0) + 1
    hits = [r for r in got if r.vec_id == 40]
    # NULL vector: NULL norm; ragged: zip_with NULL-pads the short
    # vector so the dot fold sums to NULL; zero: the zero-denominator
    # gate. desc_nulls_last puts the NULL below every scored row.
    assert hits, "the dirty vector must reach the scorer"
    assert all(r.cos_sim is None for r in hits)
    assert all(r.rank == per_query[r.query_id] for r in hits)
    assert all(r.cos_sim is not None for r in got if r.vec_id != 40)


@pytest.mark.parametrize(
    "rows, schema, expected",
    [
        (
            [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
            "vec_id long, embedding array<float>",
            [(1, 0, 1), (2, 0, 0), (3, 1, 0)],
        ),
        (
            [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
            "vec_id string, embedding array<float>",
            [("a", 0, 1), ("b", 1, 0)],
        ),
    ],
    ids=["null_vector", "string_id"],
)
def test_pq_encode_dirty_input(spark, rows, schema, expected):
    """PQ codes are defined for a NULL vector and for a string id."""
    cbs = [[[1.0], [0.0]], [[1.0], [0.0]]]
    got = sorted(
        tuple(r) for r in sim.pq_encode(spark.createDataFrame(rows, schema), cbs)
        .select("vec_id", "code_0", "code_1")
        .collect()
    )
    # per subspace the argmin of struct(d, j): a unit coordinate of 1
    # is nearest codeword [1.0] (j=0), a 0 nearest [0.0] (j=1). A NULL
    # vector gives d NULL for every codeword; NULL sorts first in the
    # struct order, so array_min keeps the smallest index, j=0.
    assert got == expected


def test_rrf_fuse_semantics(spark):
    """RRF: a candidate both systems return must outscore one either
    system alone ranks equally (two 1/(60+r) terms beat one), scores are
    1/(60+r) sums rounded to 6, ties break on the id, and the result is
    deterministic under repartitioning."""
    a = spark.createDataFrame(
        [("q", 10, 1), ("q", 11, 2), ("q", 12, 3)],
        "query_id string, vec_id long, rank int",
    )
    b = spark.createDataFrame(
        [("q", 11, 1), ("q", 13, 2), ("q", 12, 3)],
        "query_id string, vec_id long, rank int",
    )
    out = {r.vec_id: r for r in sim.rrf_fuse([a, b], k=4).collect()}
    # 11: 1/62 + 1/61; 12: 1/63 + 1/63; 10: 1/61; 13: 1/62
    assert out[11].rank == 1 and out[12].rank == 2
    assert {out[10].rank, out[13].rank} == {3, 4}
    assert out[10].rank == 3  # 1/61 > 1/62
    assert abs(out[11].rrf_score - round(1 / 62 + 1 / 61, 6)) < 2e-6
    assert abs(out[10].rrf_score - round(1 / 61, 6)) < 2e-6
    again = {
        r.vec_id: (r.rank, r.rrf_score)
        for r in sim.rrf_fuse([a.repartition(7), b.repartition(3)], k=4).collect()
    }
    assert again == {k: (v.rank, v.rrf_score) for k, v in out.items()}


def test_rrf_fuse_empty_rankings_rejected(spark):
    """An empty rankings list must raise ValueError, not a bare
    IndexError from parts[0]."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one ranking"):
        sim.rrf_fuse([])


def test_pq_codebooks_rejects_missing_seed_ids(spark):
    """Non-contiguous ids below k must raise, not silently shrink the
    codebook (the oracle derives codebooks from WHERE vec_id < k, so a
    shrunken Spark-side codebook would desynchronize quantization)."""
    import pytest

    rows = [(0, [1.0] * 4), (2, [0.5] * 4), (7, [0.1] * 4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="seed vectors"):
        sim.pq_codebooks(df, m=2, k=4)


def _recall_map(exact_rows, approx_rows):
    ex, ap = {}, {}
    for r in exact_rows:
        ex.setdefault(r.query_id, set()).add(r.vec_id)
    for r in approx_rows:
        ap.setdefault(r.query_id, set()).add(r.vec_id)
    rs = [len(ex[k] & ap.get(k, set())) / len(ex[k]) for k in ex]
    return sum(rs) / len(rs)


def _clustered_corpus(spark, n=200, k_lab=5, dim=32, noise=0.35):
    """Deterministic corpus with REAL cluster structure (the regime the
    coarse quantizer is built for — mean cosine to own centroid ≈ 0.9,
    unlike the near-random testdata embeddings at ≈ 0.22)."""
    import numpy as np

    rng = np.random.RandomState(7)
    cents = rng.randn(k_lab, dim)
    labels = rng.randint(0, k_lab, n)
    V = cents[labels] + noise * rng.randn(n, dim)
    return spark.createDataFrame(
        [
            (i, [float(x) for x in V[i]], int(labels[i]))
            for i in range(n)
        ],
        "vec_id long, embedding array<double>, label int",
    )


def test_residual_ivfpq_beats_raw_on_clustered_corpus(spark):
    """The canonical Jégou-2011 claim, end-to-end through the engine:
    when the coarse quantizer explains real variance (clustered data),
    PQ-encoding the RESIDUAL beats PQ-encoding the raw normalized
    vector at the same code budget. (On the near-random testdata
    embeddings the coarse cells explain ~nothing — residual norms
    exceed the vector norms — so `ivfpq_residual_recall` documents the
    data-dependence there; THIS test pins the win where the premise
    holds.)"""
    e = _clustered_corpus(spark)
    qs = e.filter(F.col("vec_id") <= 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ex = sim.brute_force_topk(e, qs, k=5).collect()
    kw = dict(k=5, n_probe=2, m=4, k_codes=8)
    raw = sim.ivfpq_topk(e, qs, **kw).collect()
    res = sim.ivfpq_residual_topk(e, qs, **kw).collect()
    r_raw = _recall_map(ex, raw)
    r_res = _recall_map(ex, res)
    assert r_res > r_raw  # strict: the canonical gain, not a tie
    assert r_res >= 0.5  # and absolutely good for 8 codewords/subspace


def test_refined_codebooks_improve_or_match_seed_recall(spark):
    """Lloyd refinement must never hurt: refined-codebook PQ recall ≥
    seed-codebook recall on a clustered corpus, and the refined
    codebooks must actually move (the refinement is real work, not a
    fixed point of the seeds)."""
    e = _clustered_corpus(spark)
    qs = e.filter(F.col("vec_id") <= 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ex = sim.brute_force_topk(e, qs, k=5).collect()
    seed_cbs = sim.pq_codebooks(e, m=4, k=8)
    ref_cbs = sim.pq_codebooks_refined(e, m=4, k=8, rounds=1)
    assert ref_cbs != seed_cbs
    seed = sim.pq_topk(e, qs, m=4, k_codes=8, k=5, codebooks=seed_cbs).collect()
    ref = sim.pq_topk(e, qs, m=4, k_codes=8, k=5, codebooks=ref_cbs).collect()
    assert _recall_map(ex, ref) >= _recall_map(ex, seed)


def test_filtered_ann_pre_beats_post_filtering(spark):
    """Pre-filtering (predicate before the cell-scoped ADC) must
    dominate post-filtering (unfiltered top-k, then keep matches):
    post-filter hits are structurally a subset of pre-filter hits, and
    on a selective predicate the naive path visibly under-returns."""
    from covid_custom_sql_engine_spark.queries_registry import QUERIES

    rows = QUERIES["filtered_ann_audit"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.recall_pre >= r.recall_post  # structural subset
    # the phenomenon, not just the inequality: pre finds hits the
    # naive path misses entirely on the ~1-in-10 predicate
    assert sum(r.hits_pre for r in rows) > sum(r.hits_post for r in rows)


def test_filtered_ann_exact_semantics(spark):
    """filtered_ann_topk must return only predicate-matching vectors,
    and with every cell probed (n_probe = n_cells) plus fine-enough
    codes it degrades to the exact filtered ranking's candidate set."""
    from covid_custom_sql_engine_spark.catalog import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = e.filter(F.col("vec_id") <= 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pred = F.col("label") == 2
    out = sim.ivfpq_topk(
        e, qs, k=5, n_probe=10, m=4, k_codes=16, corpus_predicate=pred
    ).collect()
    allowed = {r.vec_id for r in e.filter(pred).select("vec_id").collect()}
    assert out and all(r.vec_id in allowed for r in out)


def test_hierarchical_assign_agreement_and_determinism(spark):
    """Two-level assignment: every output cell is a real centroid
    cell, results are deterministic under repartitioning, and on a
    CLUSTERED corpus (where the super-grouping is meaningful) the
    agreement with exact assignment is high — the regime where the
    2√k-work path is worth its approximation. (On the near-random
    testdata the oracled `hierarchical_assign_agreement` honestly
    reports ~0.5.)"""
    e = _clustered_corpus(spark, n=300, k_lab=8, dim=32, noise=0.3)
    cents = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cell"), sim.as_double("embedding").alias("_cv")
    )
    ex = {r.vec_id: r.cell for r in sim.assign_cells(e, cents).collect()}
    hr = {
        r.vec_id: r.cell
        for r in sim.hierarchical_assign(e, cents, n_super=4).collect()
    }
    assert set(hr.values()) <= set(range(16))
    agr = sum(1 for k in ex if hr[k] == ex[k]) / len(ex)
    assert agr >= 0.8
    again = {
        r.vec_id: r.cell
        for r in sim.hierarchical_assign(
            e.repartition(7), cents, n_super=4
        ).collect()
    }
    assert again == hr


def test_binary_signature_and_hamming_topk(spark, sf_dir):
    """Binary signatures: exact integer packing (plane 0 = MSB), a
    vector's distance to itself is 0 (excluded as self-match), top-k
    ranks ascending by Hamming with id ties, recall beats chance, and
    the plane-count contract raises outside 1..63."""
    import pytest as _pytest

    e = load_table(spark, sf_dir, "embeddings")
    planes = [
        [float(x) for x in r.embedding]
        for r in e.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    sigs = {
        r.vec_id: r.sig
        for r in sim.binary_signature_frame(e, planes).collect()
    }
    assert all(0 <= s < 2**8 for s in sigs.values())
    # plane vectors score dot(v, v) > 0 against themselves → their own
    # bit is set: vector i (i < 8) has bit (7 - i) set
    for i in range(8):
        assert (sigs[i] >> (7 - i)) & 1 == 1
    qs = e.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = sim.hamming_topk(e, qs, planes, k=5).collect()
    by_q = {}
    for r in rows:
        assert r.vec_id != r.query_id
        by_q.setdefault(r.query_id, []).append((r.rank, r.hamming))
    assert sorted(by_q) == [0, 1, 2, 3, 4]
    for v in by_q.values():
        v.sort()
        assert [r for r, _ in v] == [1, 2, 3, 4, 5]
        assert [h for _, h in v] == sorted(h for _, h in v)
    again = sim.hamming_topk(e.repartition(7), qs, planes, k=5).collect()
    assert {(r.query_id, r.vec_id, r.rank) for r in again} == {
        (r.query_id, r.vec_id, r.rank) for r in rows
    }
    with _pytest.raises(ValueError, match="1..63 planes"):
        sim.binary_signature_frame(e, [])
    with _pytest.raises(ValueError, match="1..63 planes"):
        sim.binary_signature_frame(e, [[0.0] * 64] * 64)


def test_binary_rerank_dominates_signature_only(spark):
    """Exact re-ranking of a candidate superset can only fix ordering:
    binary_rerank_recall >= binary_hamming_recall per query on the
    oracled fixture."""
    from covid_custom_sql_engine_spark.queries_registry import QUERIES

    sf = "/root/testdata/sf0.01"
    sig = {
        r.query_id: r.recall
        for r in QUERIES["binary_hamming_recall"](spark, sf).collect()
    }
    rr = {
        r.query_id: r.recall
        for r in QUERIES["binary_rerank_recall"](spark, sf).collect()
    }
    assert set(sig) == set(rr)
    for q in sig:
        assert rr[q] >= sig[q]


def test_ivfpq_index_build_load_query_roundtrip(spark, sf_dir, tmp_path):
    """Build-once/serve-many: the persisted index (centroids +
    codebooks + cell-partitioned postings) serves top-k row-identical
    to the derive-everything ivfpq_topk, the serve-path scan prunes to
    the probed cells' partitions, and incremental upkeep (assign +
    encode a batch, append to postings) extends the served corpus
    without touching existing artifacts."""
    from covid_custom_sql_engine_spark.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") <= 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivfpq")
    sim.build_ivfpq_index(e, path, m=4, k_codes=16)
    idx = sim.load_ivfpq_index(spark, path)
    served = {
        (r.query_id, r.vec_id, r.rank)
        for r in sim.query_ivfpq_index(idx, qs, k=5, n_probe=2).collect()
    }
    direct = {
        (r.query_id, r.vec_id, r.rank)
        for r in sim.ivfpq_topk(e, qs, k=5, n_probe=2, m=4, k_codes=16).collect()
    }
    assert served == direct and len(served) > 0
    # partition pruning: the probed-cell join must reach the postings
    # scan as a partition filter on `cell`
    plan = (
        sim.query_ivfpq_index(idx, qs, k=5, n_probe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    # incremental upkeep: append one new vector assigned+encoded
    # against the FROZEN artifacts; it becomes servable
    new = e.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
    )
    cells = sim.assign_cells(new, idx["centroids"])
    codes = sim.pq_encode(new, idx["codebooks"])
    codes.join(cells, "vec_id").write.mode("append").partitionBy(
        "cell"
    ).parquet(f"{path}/postings")
    idx2 = sim.load_ivfpq_index(spark, path)
    served2 = sim.query_ivfpq_index(idx2, qs, k=500, n_probe=10).collect()
    assert any(r.vec_id == 900000 for r in served2)


def test_diversified_topk_per_group_cap(spark, sf_dir):
    """per_group=1 must yield k distinct labels per query (plain top-k
    has no such guarantee); relevance order is preserved subject to
    the cap; per_group=k degrades to plain top-k."""
    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") <= 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.diversified_topk(e, qs, k=5, per_group=1).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        labels = [r.label for r in rows]
        assert len(labels) == len(set(labels)) == 5
        rows.sort(key=lambda r: r.rank)
        sims = [r.cos_sim for r in rows]
        assert sims == sorted(sims, reverse=True)
    # cap = k with ≥ k groups available → same ids as plain top-k only
    # when no group repeats in the plain top-k; instead check the
    # uncapped invariant directly: per_group=5 returns the plain top-5
    plain = {
        (r.query_id, r.vec_id)
        for r in sim.brute_force_topk(e, qs, k=5).collect()
    }
    wide = {
        (r.query_id, r.vec_id)
        for r in sim.diversified_topk(e, qs, k=5, per_group=5).collect()
    }
    assert wide == plain


def test_mmr_skips_near_duplicate_second_pick(spark):
    """MMR semantics on a hand-built fixture: candidates 10 and 11 are
    near-identical and most relevant; plain top-2 returns both, MMR
    (λ=0.5) picks 10 first, then the penalty 0.5·rel − 0.5·sim(·,10)
    makes the orthogonal-ish candidate 12 beat the near-duplicate 11.
    Rank 1's score is λ·rel by the step-1 convention."""
    rows = [
        (0, [1.0, 0.0, 0.0]),        # the query
        (10, [0.99, 0.14, 0.0]),     # most relevant
        (11, [0.98, 0.15, 0.01]),    # near-dup of 10, second most relevant
        (12, [0.7, -0.7, 0.1]),      # less relevant but diverse
        (13, [0.6, 0.0, 0.8]),       # diverse filler
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plain = [
        r.vec_id
        for r in sorted(
            sim.brute_force_topk(e, qs, k=2).collect(), key=lambda r: r.rank
        )
    ]
    assert plain == [10, 11]
    out = sorted(
        sim.mmr_topk(e, qs, k=3, shortlist=4, lam=0.5).collect(),
        key=lambda r: r.rank,
    )
    assert [r.vec_id for r in out] == [10, 12, 13]  # 11 skipped: too similar
    rel10 = sim.brute_force_topk(e, qs, k=1).collect()[0].cos_sim
    assert abs(out[0].mmr_score - round(0.5 * rel10, 6)) < 2e-6


def test_hierarchical_assign_keeps_childless_super(spark):
    """A super-seed whose vector duplicates a smaller-id super-seed
    tie-loses its own centroid→super assignment and acquires no
    children; it must survive as its own single child (not vanish from
    the level-1 candidate set) so vectors nearest to it still land on
    a real cell. Centroids: cells 0 and 1 share a vector (1 tie-loses
    to 0 and ends up childless among supers {0, 1}), cell 2 is
    orthogonal and groups under whichever super it most resembles."""
    cents = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
        ],
        "cell long, _cv array<double>",
    )
    vecs = spark.createDataFrame(
        [
            (10, [1.0, 0.1, 0.0]),
            (11, [0.0, 1.0, 0.1]),
            (12, [0.9, 0.0, 0.2]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.vec_id: r.cell
        for r in sim.hierarchical_assign(vecs, cents, n_super=2).collect()
    }
    # every vector assigned, every cell a real centroid cell
    assert set(out) == {10, 11, 12}
    assert set(out.values()) <= {0, 1, 2}
    # super 1 is childless (its own centroid tie-broke to super 0, and
    # cell 2 groups under super 0 too, cos 0 vs 0 tie → smaller id) —
    # yet the two-level path still returns the exact nearest cell for
    # vectors that level-1 routes through super 0's children {0,1,2}
    exact = {
        r.vec_id: r.cell for r in sim.assign_cells(vecs, cents).collect()
    }
    assert out == exact


def test_pq_topk_derives_m_from_explicit_codebooks(spark, sf_dir):
    """Explicit codebooks are the source of truth for the quantizer
    shape: a caller passing a stale/contradictory ``m`` must get the
    codebooks' own subspace count (not a silently-wrong ADC sum), and
    ragged codebooks must be rejected."""
    import pytest

    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") <= 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cbs = sim.pq_codebooks(e, m=4, k=8)
    good = sim.pq_topk(e, qs, m=4, k_codes=8, k=3, codebooks=cbs).collect()
    # contradictory m: ignored in favor of len(codebooks)
    same = sim.pq_topk(e, qs, m=2, k_codes=8, k=3, codebooks=cbs).collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted(
        [(r.query_id, r.vec_id, r.pq_dist) for r in good]
    ) == sorted([(r.query_id, r.vec_id, r.pq_dist) for r in same])
    with pytest.raises(ValueError, match="ragged"):
        sim.pq_topk(
            e, qs, m=2, k=3, codebooks=[cbs[0], cbs[1][:3]]
        )


def test_ann_join_clustered_full_recall(spark):
    """On a corpus with REAL cluster structure (three tight clusters,
    labels aligned with geometry) the cell-bounded ANN join finds
    every qualifying pair — recall 1.0 — because true pairs live
    inside probed cells. The near-random driver testdata is the
    adversarial case (audited by ann_join_recall); this pins the
    favorable-premise claim."""
    import math

    rows = []
    base = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.0, 1.0, 0.0, 0.0],
        2: [0.0, 0.0, 1.0, 0.0],
    }
    # ids INTERLEAVE clusters (vid % 3 = cluster) so the low-id PQ
    # codebook seeds cover every cluster — the codebook-coverage
    # premise: a quantizer seeded from one cluster cannot represent
    # (and so ADC-screens out) the others.
    vid = 0
    for j in range(6):
        for lbl, center in base.items():
            # small deterministic perturbation, same cluster stays tight
            v = [c + 0.05 * math.sin(vid + i) for i, c in enumerate(center)]
            rows.append((vid, v, lbl))
            vid += 1
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    found = {
        (r.id_a, r.id_b)
        for r in sim.ann_join(
            e, threshold=0.9, n_probe=1, m=2, k_codes=4, margin=0.3
        ).collect()
    }
    # exact truth via brute force on unit vectors
    nv = sim.unit_norm_frame(e, "vec_id", "embedding", "_nv")
    a = nv.select(F.col("vec_id").alias("ia"), F.col("_nv").alias("va"))
    b = nv.select(F.col("vec_id").alias("ib"), F.col("_nv").alias("vb"))
    true = {
        (r.ia, r.ib)
        for r in a.crossJoin(b)
        .filter(F.col("ia") < F.col("ib"))
        .filter(sim.dot(F.col("va"), F.col("vb")) >= 0.9)
        .collect()
    }
    assert true, "fixture must contain qualifying pairs"
    assert found == true  # recall 1.0 AND precision 1.0


def test_ann_join_pairs_are_exact_verified(spark, sf_dir):
    """Every returned pair's cosine is >= the threshold (precision 1
    by construction: the final filter is the exact cosine), pairs are
    normalized id_a < id_b, and no self-pairs appear."""
    e = load_table(spark, sf_dir, "embeddings")
    out = sim.ann_join(e, threshold=0.35).collect()
    assert all(r.id_a < r.id_b for r in out)
    assert all(r.cos >= 0.35 - 1e-9 for r in out)


def test_opq_rotation_is_orthogonal_and_maps_w_to_e1(spark):
    """The Householder reflector preserves norms and pairwise dots
    (orthogonality — exact ranking is rotation-invariant) and maps the
    learned direction w onto ±e1; applying it twice is the identity
    (H² = I). Differential check against a numpy twin."""
    import numpy as np

    i = F.col("id")
    syn = spark.range(64).select(
        i.alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda j: ((i % 9) - 4).cast("double")
            + (((i * 31 + j * 17) % 7) - 3).cast("double") * F.lit(0.1),
        ).alias("embedding"),
    )
    u_frame = sim.opq_householder_direction(syn, dim=8)
    u = np.array(u_frame.collect()[0]._u)
    V = np.array([r.embedding for r in syn.orderBy("vec_id").collect()])
    R = np.array(
        [
            r.embedding
            for r in sim.opq_rotate(syn, u_frame).orderBy("vec_id").collect()
        ]
    )
    # numpy twin of v - 2u(u^T v)
    assert np.allclose(R, V - 2 * np.outer(V @ u, u), atol=1e-12)
    # orthogonality: norms and a sample of pairwise dots preserved
    assert np.allclose((R**2).sum(1), (V**2).sum(1), atol=1e-9)
    assert np.allclose(R[:8] @ R[:8].T, V[:8] @ V[:8].T, atol=1e-9)
    # H maps the learned direction onto e1 (w is unit up to round(6))
    w = np.zeros(8)
    for r in sim.pca_power_step(syn, dim=8).collect():
        w[int(r.dim)] = r.component
    hw = w - 2 * (w @ u) * u
    assert abs(hw[0]) > 0.999 and np.allclose(hw[1:], 0, atol=1e-3)
    # H^2 = I
    R2 = R - 2 * np.outer(R @ u, u)
    assert np.allclose(R2, V, atol=1e-9)


def test_opq_beats_plain_pq_on_correlated_fixture(spark):
    """The registry audit's claim, asserted: on the correlated fixture
    (dominant component smeared across all subspaces), rotated-PQ
    recall@5 strictly beats plain seed-PQ recall on average AND is
    never worse on any query."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["opq_topk_recall"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 5
    assert all(r.recall_opq >= r.recall_pq for r in rows)
    avg_opq = sum(r.recall_opq for r in rows) / len(rows)
    avg_pq = sum(r.recall_pq for r in rows) / len(rows)
    assert avg_opq > avg_pq + 0.2
    assert avg_opq == 1.0  # the rotation fully recovers exact recall here


def test_exact_threshold_pairs_multiblock_budget(spark, sf_dir):
    """The r13 scale guard: with a tiny block budget the block count is
    derived >> 8 (many small GEMM block pairs), and the pair set is
    identical to the single-default-shape run — multi-block routing
    changes the work layout, never the result."""
    e = load_table(spark, sf_dir, "embeddings")
    nv = sim.unit_norm_frame(e, "vec_id", "embedding", "_nv")
    wide = {
        (r.id_a, r.id_b)
        for r in sim.exact_threshold_pairs(
            nv, 0.35, id_col="vec_id", vec_col="_nv", n_blocks=8
        ).collect()
    }
    # ~200 vectors x 64 dims x 8 B ≈ 100 KB; a 4 KB budget forces ~26
    # blocks, so every intra/inter block-pair branch is exercised
    tiny = {
        (r.id_a, r.id_b)
        for r in sim.exact_threshold_pairs(
            nv, 0.35, id_col="vec_id", vec_col="_nv",
            block_budget_bytes=4096,
        ).collect()
    }
    assert wide, "fixture must contain qualifying pairs"
    assert tiny == wide


def test_exact_threshold_pairs_dirty_vectors(spark):
    """A NULL, a ragged and an all-zero vector: the pair set equals the
    naive cross join's fold ``dot >= threshold`` on the same input. The
    two length-2 vectors meet each other (their fold-dot is 0.5) and no
    length-3 vector."""
    import math

    rows = [
        (i, [math.cos(0.7 * i), math.sin(0.7 * i), 0.1 * i]) for i in range(12)
    ]
    rows += [(100, None), (101, [0.5, 0.5]), (102, [0.0, 0.0, 0.0]), (103, [0.6, 0.4])]
    nv = spark.createDataFrame(rows, "vec_id long, _nv array<double>")
    got = {(r.id_a, r.id_b) for r in sim.exact_threshold_pairs(nv, 0.3).collect()}
    a = nv.select(F.col("vec_id").alias("id_a"), F.col("_nv").alias("va"))
    b = nv.select(F.col("vec_id").alias("id_b"), F.col("_nv").alias("vb"))
    naive = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (sim.dot(F.col("va"), F.col("vb")) >= 0.3)
        )
        .collect()
    }
    assert (101, 103) in naive
    assert got == naive


# Registry queries that reach similarity.py's top-k entry points, run
# against their DuckDB oracles on the default path: every candidate
# generator (cross, bucket, probed cells, shortlist), scorer (exact
# cosine, int8, Hamming, ADC) and ranker runs here.
RETRIEVAL_ORACLE_QUERIES = [
    "cosine_topk",
    "ivf_topk",
    "ivf_incremental_assign",
    "kmeans_semdedup",
    "semdedup_prune",
    "pq_topk_recall",
    "ivfpq_residual_recall",
    "filtered_ann_topk",
    "ivfpq_topk_recall",
    "ivfpq_rerank_recall",
    "lsh_topk",
    "binary_hamming_recall",
    "binary_rerank_recall",
    "int8_topk_recall",
    "diversified_topk",
    "mmr_topk",
    "rrf_fusion",
    "filtered_ann_audit",
    "hybrid_search",
    "ivf_cell_stats",
]


@pytest.mark.parametrize("name", RETRIEVAL_ORACLE_QUERIES)
def test_retrieval_query_matches_oracle(matches_oracle, name):
    matches_oracle(name)
