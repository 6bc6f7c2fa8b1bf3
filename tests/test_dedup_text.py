"""Dedup family, text analysis, and similarity search semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from covid_custom_sql_engine_spark.functions import dedup as dd
from covid_custom_sql_engine_spark.functions import similarity as sim
from covid_custom_sql_engine_spark.functions import text as tx


def test_word_shingles_trigram(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    (r,) = df.select(dd.word_shingles("text").alias("sh")).collect()
    assert r.sh == ["a b c", "b c d"]


def test_word_shingles_short_doc_fallback(spark):
    df = spark.createDataFrame([("a b",)], "text string")
    (r,) = df.select(dd.word_shingles("text").alias("sh")).collect()
    assert r.sh == ["a b"]


def test_word_shingles_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame([("  A   b\tC d ",)], "text string")
    (r,) = df.select(dd.word_shingles("text").alias("sh")).collect()
    assert r.sh == ["a b c", "b c d"]


def test_exact_dedup_collapses(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")], "doc_id long, text string"
    )
    rows = {r.doc_id: r.n_copies for r in dd.exact_dedup(df).collect()}
    assert rows == {1: 2, 3: 1}  # min-id representative, case/ws-insensitive


def test_minhash_identical_docs_are_candidates_with_jaccard_one(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "completely different words entirely unrelated content here")],
        "doc_id long, text string",
    )
    out = dd.minhash_near_dups(df, threshold=None, use_cache=False).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert pairs.get((1, 2)) == 1.0
    assert all(k == (1, 2) for k in pairs)  # disjoint docs share no band


def test_simhash_identical_docs_equal_bits(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha  BETA gamma delta"), (3, "zeta eta theta iota")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.simhash for r in dd.simhash(df).collect()}
    assert rows[1] == rows[2]
    assert len(rows[1]) == 32 and set(rows[1]) <= {"0", "1"}
    assert rows[1] != rows[3]


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat in the hat and it was good for the dog"),
            (2, "der hund ist nicht mit der katze und das ist gut"),
            (3, "xyzzy plugh"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.lang for r in df.select("doc_id", tx.lang_id("text").alias("lang")).collect()}
    assert rows[1] == "en"
    assert rows[2] == "de"
    assert rows[3] == "und"
    assert rows[4] == "und"


def test_token_count_empty_text(spark):
    df = spark.createDataFrame([("",), ("  ",), ("one two",)], "text string")
    got = [r.n for r in df.select(tx.token_count("text").alias("n")).collect()]
    assert got == [0, 0, 2]


# whitespace runs (tab, newline, CR; NBSP and ideographic space are not
# in Java's \s), case, non-ASCII and regex-looking characters
_TOKEN_PARTS = [
    " ", "  ", "\t", "\n", "\r\n", " \t\n ", "\u00a0", "\u3000",
    "a", "B", "the", "Ünïcödé", "日本語", "é", ".*", "$1", "x_y", "",
]


def test_tokens_matches_filter_lambda(spark):
    """``tokens`` equals the higher-order ``filter(split(…), t -> t !=
    '')`` form on NULL, empty and blank text, tab/newline runs, leading
    and trailing whitespace and non-ASCII text, over seeded random
    strings."""
    import random

    rng = random.Random(11)
    texts = [None, "", " ", "   ", "\t", "\n\n", " \t\n ", " lead", "trail ",
             "\tboth\n", "Ünïcödé 日本語", "a b"]
    texts += [
        "".join(rng.choice(_TOKEN_PARTS) for _ in range(rng.randint(0, 12)))
        for _ in range(1000)
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    old = F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda t: t != "")
    rows = df.select("text", old.alias("old"), tx.tokens("text").alias("new")).collect()
    assert len(rows) == len(texts)
    assert sum(r.old is None for r in rows) == 1
    assert sum(r.old == [] for r in rows) > 10
    bad = [r for r in rows if r.old != r.new]
    assert not bad, bad[:5]


def test_quality_score_bounds(spark):
    df = spark.createDataFrame([("the and of to in is that it for was " * 20,), ("",)], "text string")
    rows = df.select(tx.quality_score("text").alias("q")).collect()
    assert 0.0 <= rows[1].q <= rows[0].q <= 1.0


def test_cosine_topk_hand_checked(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    out = sim.brute_force_topk(emb, q, k=3)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.vec_id for r in rows] == [1, 2, 3]  # by cosine desc
    assert rows[0].cos_sim == pytest.approx(0.9 / (0.9**2 + 0.1**2) ** 0.5)


def test_lsh_topk_same_bucket_found(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.1]), (1, [1.0, 0.2]), (2, [-1.0, -0.1])],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    planes = [[1.0, 0.0]]
    out = sim.lsh_topk(emb, q, planes, k=5)
    ids = {r.vec_id for r in out.collect()}
    assert ids == {1}  # vec 2 lands in the other half-space bucket


def test_jaccard_verify_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    (r,) = dd.jaccard_pairs(df, pairs).collect()
    # shingles: {abc,bcd,cde} vs {abc,bcd,cdx}: inter 2, union 4
    assert r.jaccard == pytest.approx(0.5)


def test_ngram_jaccard_inverted_index(spark):
    """Near-dup docs share rare shingles → paired; the df cap drops
    ubiquitous shingles; jaccard is exact on the shingle sets."""
    from covid_custom_sql_engine_spark.functions import dedup as dd
    from pyspark.sql import functions as F

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely unrelated words entirely different text"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dd.ngram_jaccard_pairs(df, shingle_n=2, threshold=0.3, max_df=10, use_cache=False)
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert set(got) == {(1, 2)}
    # 8 bigrams each, 7 shared -> 7/9
    assert got[(1, 2)] == pytest.approx(7 / 9)


def test_ngram_jaccard_max_df_cap(spark):
    """With max_df=1 every shared shingle is a stop shingle → no pairs."""
    from covid_custom_sql_engine_spark.functions import dedup as dd

    rows = [(1, "alpha beta gamma"), (2, "alpha beta delta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dd.ngram_jaccard_pairs(df, shingle_n=2, max_df=1, use_cache=False)
    assert out.count() == 0


def test_bpe_ish_token_count(spark):
    from covid_custom_sql_engine_spark.functions import text as tx
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "Hello, world! 42"), (2, ""), (3, "a.b.c")], ["doc_id", "text"]
    )
    got = {
        r.doc_id: (r.ws, r.bpe)
        for r in df.select(
            "doc_id",
            tx.token_count("text").alias("ws"),
            tx.bpe_ish_token_count("text").alias("bpe"),
        ).collect()
    }
    # "Hello" "," "world" "!" "4" "2" -> 6 ; "a" "." "b" "." "c" -> 5
    assert got[1] == (3, 6)
    assert got[2] == (0, 0)
    assert got[3] == (1, 5)


def test_connected_components_chain_and_clique(spark):
    from covid_custom_sql_engine_spark.functions import dedup as dd

    #  chain 1-2-3-4, clique 10-11-12, isolated edge 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    got = {r.id: r.component for r in dd.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_near_dup_keep_representatives(spark):
    from covid_custom_sql_engine_spark.functions import dedup as dd
    from pyspark.sql import functions as F

    docs = spark.createDataFrame([(i, f"d{i}") for i in range(6)], ["doc_id", "text"])
    pairs = spark.createDataFrame([(0, 3), (3, 5)], ["id_a", "id_b"])
    out = {r.id: (r.keep, r.component) for r in dd.near_dup_keep(docs, pairs).collect()}
    assert out[0] == (True, 0) and out[3] == (False, 0) and out[5] == (False, 0)
    # unpaired docs keep themselves
    assert out[1] == (True, 1) and out[2] == (True, 2) and out[4] == (True, 4)


def test_redact_pii_patterns_fire(spark):
    from covid_custom_sql_engine_spark.functions import text as tx

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.co.uk today"),
            (2, "call +1 (555) 123-4567 now"),
            (3, "server at 192.168.0.1 responded"),
            (4, "clean text stays clean"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.red for r in df.select("doc_id", tx.redact_pii("text").alias("red")).collect()}
    assert got[1] == "mail me at <EMAIL> today"
    assert got[2] == "call <PHONE> now"
    assert got[3] == "server at <IPV4> responded"
    assert got[4] == "clean text stays clean"


def test_repetition_ratio_detects_boilerplate(spark):
    from covid_custom_sql_engine_spark.functions import text as tx
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),  # 4 identical 3-grams
            (2, "all words here are fully unique"),
            (3, "ab"),  # < 3 tokens -> no grams -> 0.0
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.rr for r in df.select("doc_id", tx.repetition_ratio("text").alias("rr")).collect()}
    assert got[1] == 0.75  # 1 distinct / 4 total
    assert got[2] == 0.0
    assert got[3] == 0.0


def test_winnow_shared_substring_shares_fingerprint(spark):
    """Winnowing guarantee: a shared substring of length >= k+w-1 (11
    chars at k=8,w=4) yields at least one shared fingerprint."""
    from covid_custom_sql_engine_spark.functions import text as tx

    shared = "identical plagiarized passage kept verbatim"
    df = spark.createDataFrame(
        [
            (1, f"intro alpha {shared} outro one"),
            (2, f"completely different framing. {shared} and a new tail"),
            (3, "nothing in common with the others at all, truly"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: set(r.fps)
        for r in df.select(
            "doc_id", tx.winnow_fingerprints("text").alias("fps")
        ).collect()
    }
    assert got[1] & got[2], "docs sharing an 11+ char substring must overlap"
    assert len(got[1] & got[3]) <= 1  # unrelated docs: at most chance overlap


def test_winnow_edges(spark):
    from covid_custom_sql_engine_spark.functions import text as tx

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "short"), (4, "exactly8!"), (5, "Ünïcödé only ööö")],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.fps
        for r in df.select(
            "doc_id", tx.winnow_fingerprints("text").alias("fps")
        ).collect()
    }
    assert got[1] == [] and got[2] == [] and got[3] == []
    assert len(got[4]) >= 1  # length-9 text -> 2 grams -> 1+ fingerprints
    # unicode stripped -> "only" + spaces remain (< k after normalize... or not) — just no nulls
    assert all(v is not None for v in got[5])


def test_winnow_normalization_invariance(spark):
    """Case / extra whitespace / non-ASCII don't change fingerprints."""
    from covid_custom_sql_engine_spark.functions import text as tx

    df = spark.createDataFrame(
        [
            (1, "The Quick brown fox jumps over it"),
            (2, "  the   quick BROWN fox jumps over it  "),
            (3, "the quick brown fôx jumps over it"),  # ô stripped -> differs
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.fps
        for r in df.select(
            "doc_id", tx.winnow_fingerprints("text").alias("fps")
        ).collect()
    }
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_band_bucket_cap_blocks_quadratic_blowup(spark):
    """5k identical docs land in one (band, band_hash) bucket per band;
    without the MAX_BAND_BUCKET guard the self-join would emit ~12.5M
    pairs. With it, the hot buckets are dropped and candidate generation
    completes with zero pairs (exact_dedup is the right tool for mass
    duplication — the guard keeps LSH from paying for it)."""
    n = 5000
    df = spark.range(n).selectExpr(
        "id AS doc_id", "'the same boilerplate sentence repeated here' AS text"
    )
    pairs = dd.lsh_candidate_pairs(df)
    assert pairs.count() == 0
    # uncapped path on a small clone still works (guard is opt-out-able)
    small = spark.createDataFrame(
        [(1, "aa bb cc dd ee"), (2, "aa bb cc dd ee")], "doc_id long, text string"
    )
    bands = dd.minhash_bands(small)
    assert dd.candidate_pairs_from_bands(bands, max_bucket=None).count() == 1


def test_band_bucket_cap_keeps_normal_buckets(spark):
    """Buckets at or under the cap still produce their pairs."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base)], "doc_id long, text string"
    )
    assert dd.lsh_candidate_pairs(df).count() == 1


def test_band_bucket_cap_modes_equivalent(spark, sf_dir):
    """The fast single-pass size filter (default) and the constant-
    memory pre-drop anti-join (predrop=True) must emit the IDENTICAL
    pair set — they are two enforcement strategies for one semantic
    (buckets over the cap produce no pairs). Run on real documents plus
    an injected hot bucket so both the keep and drop paths are hit."""
    from covid_custom_sql_engine_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hot = spark.range(300).selectExpr(
        "id + 1000000 AS doc_id", "'identical boilerplate text block' AS text"
    )
    df = docs.unionByName(hot)
    bands = dd.minhash_bands(df)
    key = lambda d: sorted((r.id_a, r.id_b) for r in d.collect())
    fast = key(dd.candidate_pairs_from_bands(bands))
    slow = key(dd.candidate_pairs_from_bands(bands, predrop=True))
    assert fast == slow
    # the hot bucket produced nothing in either mode
    assert all(not (a >= 1000000 and b >= 1000000) for a, b in fast)


def test_incremental_cap_modes_equivalent(spark, sf_dir):
    from covid_custom_sql_engine_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.limit(60).selectExpr("doc_id + 500000 AS doc_id", "text")
    a = sorted(map(tuple, dd.incremental_lsh_pairs(new, docs).collect()))
    b = sorted(map(tuple, dd.incremental_lsh_pairs(new, docs, predrop=True).collect()))
    assert a == b and len(a) > 0


def test_guarded_incremental_healthy_corpus_stays_fast_path(spark, sf_dir):
    """On a healthy corpus (no joint bucket over the cap) the gate picks
    the default single-aggregation mode and the pairs equal the ungated
    incremental pairs."""
    from covid_custom_sql_engine_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.limit(60).selectExpr("doc_id + 500000 AS doc_id", "text")
    pairs, predrop = dd.guarded_incremental_lsh_pairs(new, docs)
    assert predrop is False
    got = sorted(map(tuple, pairs.collect()))
    want = sorted(map(tuple, dd.incremental_lsh_pairs(new, docs).collect()))
    assert got == want and len(got) > 0


def test_guarded_incremental_adversarial_batch_flips_predrop(spark):
    """The 5k-identical-docs adversarial batch: every copy lands in one
    joint bucket per band, so the monitor reports oversized buckets and
    the gate flips to predrop — the mode where the hot bucket's member
    array is never gathered. The batch must survive (no quadratic pair
    set: the capped bucket emits nothing) and the output must equal the
    forced-predrop run."""
    n = 5000
    corpus = spark.range(100).selectExpr(
        "id AS doc_id", "'identical boilerplate text block' AS text"
    )
    new = spark.range(n).selectExpr(
        "id + 1000000 AS doc_id", "'identical boilerplate text block' AS text"
    )
    pairs, predrop = dd.guarded_incremental_lsh_pairs(new, corpus)
    assert predrop is True
    assert pairs.count() == 0  # the oversized joint bucket emits no pairs
    forced = dd.incremental_lsh_pairs(new, corpus, predrop=True)
    assert sorted(map(tuple, pairs.collect())) == sorted(map(tuple, forced.collect()))


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches lineage truncation to reliable
    checkpoint() — same fixpoint, files written under the dir."""
    import os

    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    ckdir = str(tmp_path / "ck")
    got = {
        r.id: r.component
        for r in dd.connected_components(pairs, checkpoint_dir=ckdir).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert os.path.isdir(ckdir) and len(os.listdir(ckdir)) > 0


def test_incremental_lsh_pairs_only_cross(spark):
    """New-batch docs pair only against the corpus, never each other."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, base), (3, "completely different text about spark engines")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, base), (12, base)],  # near-dups of corpus doc 1 AND of each other
        "doc_id long, text string",
    )
    got = {tuple(r) for r in dd.incremental_lsh_pairs(new, corpus).collect()}
    assert got == {(10, 1), (12, 1)}  # no (10,12) new-internal pair


def test_connected_components_pairs_distinct_flag(spark):
    """Same fixpoint whether or not the edge-dedup shuffle runs."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (1, 2)], "id_a long, id_b long"
    )
    exp = {(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)}
    a = {tuple(r) for r in dd.connected_components(pairs).collect()}
    b = {tuple(r) for r in dd.connected_components(pairs, pairs_distinct=True).collect()}
    assert a == exp and b == exp


def test_bm25_ranking_properties(spark):
    from covid_custom_sql_engine_spark.functions.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "apple apple apple banana"),
            (2, "apple banana cherry"),
            (3, "banana banana cherry cherry"),
            (4, "cherry cherry cherry cherry cherry"),
            (5, "durian"),
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [("qa", "apple"), ("qm", "apple"), ("qm", "cherry")],
        "query_id string, term string",
    )
    out = bm25_topk(docs, q, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    # only docs containing >= 1 query term are scored
    assert {r.doc_id for r in by_q["qa"]} == {1, 2}
    # higher tf of the same term in comparable-length docs ranks first
    qa = sorted(by_q["qa"], key=lambda r: r.rk)
    assert qa[0].doc_id == 1 and qa[0].score > qa[1].score > 0
    # multi-term query unions postings; doc 5 never appears
    assert {r.doc_id for r in by_q["qm"]} <= {1, 2, 3, 4}
    assert len(by_q["qm"]) == 3  # k respected
    # deterministic under repartitioning
    again = bm25_topk(docs.repartition(7), q, k=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_minhash_signatures_drop_empty_shingle_arrays(spark):
    """Docs with empty (non-NULL) shingle arrays must emit NO signature
    row — a shared sentinel signature would collapse every empty doc
    into one LSH band bucket (review finding, round 4)."""
    from covid_custom_sql_engine_spark.functions.dedup import (
        minhash_signatures,
    )

    sh = spark.createDataFrame(
        [(1, ["a b c"]), (2, []), (3, None), (4, [])],
        "doc_id long, sh array<string>",
    )
    out = minhash_signatures(sh, num_hashes=4)
    assert [r.doc_id for r in out.collect()] == [1]


def test_band_skew_monitor_flags_mass_duplication(spark):
    """The same 5k-identical-doc corpus that trips the MAX_BAND_BUCKET
    guard must be flagged by the telemetry BEFORE pair generation:
    every band collapses to one bucket of 5000, so each band reports
    max_bucket_size == n_rows and n_oversized == 1."""
    n = 5000
    df = spark.range(n).selectExpr(
        "id AS doc_id", "'the same boilerplate sentence repeated here' AS text"
    )
    rows = dd.band_skew_monitor(dd.minhash_bands(df)).collect()
    assert len(rows) == 4  # 12 hashes / 3 rows per band
    for r in rows:
        assert r.n_rows == n
        assert r.n_buckets == 1
        assert r.max_bucket_size == n
        assert r.n_oversized == 1


def test_band_skew_monitor_healthy_corpus_not_flagged(spark):
    """Distinct documents spread across buckets: nothing oversized,
    hottest bucket small, HLL estimate close to the exact count."""
    df = spark.range(200).selectExpr(
        "id AS doc_id",
        "concat('unique document number ', id, ' with words ', id * 7, ' and ', id * 13) AS text",
    )
    rows = dd.band_skew_monitor(dd.minhash_bands(df)).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.n_oversized == 0
        assert r.max_bucket_size <= 5
        assert r.hll_rel_err <= 0.10  # p=10 sketch on ~200 keys


def test_band_skew_monitor_hll_state_is_mergeable(spark):
    """The monitor's HLL is usable over streaming micro-batches only if
    its per-(band, bucket) register state merges associatively: the
    max-merged registers of two disjoint halves must equal the
    registers of the full corpus (then the estimate, a pure function of
    registers, is identical) — the same merge(state(A), state(B)) ==
    state(A ∪ B) contract incremental_mv_rollup proves for its monoid."""
    from covid_custom_sql_engine_spark.functions.sketches import _hll_reg_cols

    df = spark.range(300).selectExpr(
        "id AS doc_id",
        "concat('doc number ', id, ' words ', id * 3, ' and ', id * 11) AS text",
    )
    bands = dd.minhash_bands(df).select("doc_id", "band", "band_hash")

    def regs(b):
        return (
            b.select("band", *_hll_reg_cols("band_hash", 10))
            .groupBy("band", "bucket")
            .agg(F.max("rho").alias("m_rho"))
        )

    full = {(r.band, r.bucket): r.m_rho for r in regs(bands).collect()}
    half_a = regs(bands.filter(F.col("doc_id") % 2 == 0))
    half_b = regs(bands.filter(F.col("doc_id") % 2 == 1))
    merged = {
        (r.band, r.bucket): r.m_rho
        for r in half_a.unionByName(half_b)
        .groupBy("band", "bucket")
        .agg(F.max("m_rho").alias("m_rho"))
        .collect()
    }
    assert merged == full


def test_prefix_filter_pairs_lossless_vs_brute_force(spark):
    """Prefix filtering must be LOSSLESS (the AllPairs pigeonhole
    guarantee): on seeded random corpora with planted near-duplicates,
    the result equals the all-pairs Jaccard spec exactly — ids AND
    values."""
    import random

    from covid_custom_sql_engine_spark.functions import dedup as dd

    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(60)]
    docs = []
    for i in range(80):
        n = rng.randrange(5, 25)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # planted: clones with 0-2 token edits (the high-Jaccard regime)
    for j in range(20):
        base = docs[j][1].split()
        if base and rng.random() < 0.7:
            base[rng.randrange(len(base))] = rng.choice(vocab)
        docs.append((1000 + j, " ".join(base)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for tau in (0.6, 0.8, 0.95):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in dd.prefix_filter_pairs(df, threshold=tau).collect()
        }
        # brute force on token sets
        sets = {i: set(t.lower().split()) for i, t in docs if t.strip()}
        want = {}
        ids = sorted(sets)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= tau:
                    want[(a, b)] = round(j, 6)
        assert got == want, (tau, len(got), len(want))


def test_prefix_filter_prefix_is_small(spark):
    """At tau=0.95 the posting stream carries ~5% of the corpus's
    tokens — the pruning that makes the join feasible at scale."""
    from pyspark.sql import functions as F

    from covid_custom_sql_engine_spark.functions import dedup as dd
    from covid_custom_sql_engine_spark.functions.text import tokens

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{(i * 7 + k) % 500}" for k in range(40)))
         for i in range(200)],
        "doc_id long, text string",
    )
    tk = docs.select(
        F.size(F.array_distinct(tokens("text"))).alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    # count posting rows the same way the operator builds them
    out = dd.prefix_filter_pairs(docs, threshold=0.95)
    out.collect()  # must run end-to-end
    # prefix length for n=40 at tau .95: 40 - ceil(38) + 1 = 3 tokens
    assert 40 - int(-(-0.95 * 40 // 1)) + 1 == 3
    assert tk == 200 * 40


def test_connected_components_long_chain_converges(spark):
    """Regression for the round-10 sf0.1 ann_join_clusters red: a path
    graph with diameter far above max_iter must still converge to the
    component minimum — the pointer jump (component := label(component))
    makes rounds O(log diameter), where pure neighborhood-min
    propagation silently stopped un-converged at max_iter=20."""
    from covid_custom_sql_engine_spark.functions import dedup as dd

    n = 300  # diameter 299 >> max_iter=20; needs ~log2(300) jump rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = {r.id: r.component for r in dd.connected_components(pairs).collect()}
    assert len(got) == n + 1
    assert set(got.values()) == {0}


def test_minhash_signatures_vectorized_equals_fold(spark, sf_dir):
    """The r13 vectorized Kirsch-Mitzenmacher fold is EXACT integer
    arithmetic (every operand < 2^44), so its signatures must be
    bit-identical to the pure-expression fold — pinned here on the
    real corpus plus edge cases (single-shingle docs, duplicate
    shingles, unicode)."""
    from covid_custom_sql_engine_spark.catalog import load_table
    from covid_custom_sql_engine_spark.functions import dedup as dd
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    sh = dd.shingle_sets(d)
    a = {tuple(r) for r in dd.minhash_signatures(sh, vectorized=True).collect()}
    b = {tuple(r) for r in dd.minhash_signatures(sh, vectorized=False).collect()}
    assert a and a == b

    edge = spark.createDataFrame(
        [(1, ["a b c"]), (2, ["a b c", "a b c", "x y z"]), (3, ["héllo wörld ünïc"])],
        "doc_id long, sh array<string>",
    )
    ae = {tuple(r) for r in dd.minhash_signatures(edge, vectorized=True).collect()}
    be = {tuple(r) for r in dd.minhash_signatures(edge, vectorized=False).collect()}
    assert len(ae) == 3 and ae == be
