"""Corpus-preparation operators for training-data pipelines.

The three ops a pretraining data pipeline runs between dedup and
tokenization:

- benchmark decontamination: flag documents sharing any word n-gram
  with an evaluation set (the GPT-3/Llama-style n-gram overlap check)
- chunking: split each document into overlapping token windows
- packing: assign documents to fixed token-budget shards in a stable
  global order (the batch/shard assignment step before tokenizer runs)

Scale posture: decontamination is an equi-join of corpus n-grams
against a broadcast eval-gram set (eval sets are small by definition);
chunking is per-row expression work (no shuffle); packing is a
two-phase distributed prefix sum — per-partition cumsums plus an
O(num_partitions) driver-side offset table, never a single-partition
global window. Everything is built-in-expression only (no Python UDFs)
and deterministic, so a DuckDB oracle can mirror it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from covid_custom_sql_engine_spark.functions.dedup import shingle_sets
from covid_custom_sql_engine_spark.functions.text import tokens

# Decontamination n-gram length: 8 words, the overlap window used by
# published LLM decontamination pipelines (long enough that shared
# grams indicate copied text, not common phrasing).
DECONTAM_N = 8

CHUNK_WINDOW = 32
CHUNK_STRIDE = 24

PACK_BUDGET = 512


def ngram_decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DECONTAM_N,
) -> DataFrame:
    """Flag corpus documents that share any word ``n``-gram with the
    evaluation set. Returns one row per corpus document:
    (id, n_contaminated_grams, contaminated).

    Shape: distinct eval grams (small — an eval set is thousands of
    documents at most) broadcast against the exploded corpus grams, one
    hash aggregate per document. The corpus side is a single scan; no
    all-pairs document comparison ever happens.
    """
    eval_grams = (
        shingle_sets(eval_docs, id_col, text_col, n)
        .select(F.explode("sh").alias("gram"))
        .distinct()
    )
    doc_grams = shingle_sets(docs, id_col, text_col, n).select(
        F.col(id_col), F.explode("sh").alias("gram")
    )
    # shingle sets are distinct per document, so count(*) counts
    # distinct contaminated grams
    hits = (
        doc_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )
    n_hits = F.coalesce("n_contaminated_grams", F.lit(0))
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            n_hits.alias("n_contaminated_grams"),
            (n_hits > 0).alias("contaminated"),
        )
    )


def chunk_tokens(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = CHUNK_WINDOW,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Split each document into overlapping token windows of ``window``
    tokens every ``stride`` tokens. Returns (id, chunk_idx, start_token,
    n_tokens, chunk_fp) — one row per chunk, chunk_fp = md5 of the
    space-joined chunk text.

    A chunk starts at 1-based token position s ∈ {1, 1+stride, …} while
    s ≤ n_tokens − (window − stride), so a tail chunk is emitted only
    when it covers tokens the previous chunk did not (no fully-redundant
    tail chunks). Documents with no tokens produce no chunks.

    Per-row expression work only (sequence/slice/explode) — chunking
    adds no shuffle at any corpus size.
    """
    toks = docs.select(F.col(id_col), tokens(text_col).alias("_toks")).filter(
        F.size("_toks") > 0
    )
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("_toks") - (window - stride), F.lit(1)),
        F.lit(stride),
    )
    chunk = F.slice(F.col("_toks"), F.col("start_token"), window)
    return (
        toks.select(F.col(id_col), "_toks", F.explode(starts).alias("start_token"))
        .select(
            F.col(id_col),
            F.expr(f"CAST((start_token - 1) DIV {stride} AS BIGINT)").alias("chunk_idx"),
            F.col("start_token").cast("bigint").alias("start_token"),
            F.size(chunk).cast("bigint").alias("n_tokens"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_fp"),
        )
    )


def pack_token_budget(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = PACK_BUDGET,
) -> DataFrame:
    """Assign documents (in ``id`` order) to fixed token-budget shards:
    shard k holds the documents whose exclusive running token total lies
    in [k·budget, (k+1)·budget). Returns (id, n_tokens, shard,
    shard_offset) for every document.

    The running total is a distributed prefix sum, not a global window
    (a single-partition global window would serialize the whole corpus
    through one task at scale): range-partition by id, PIN one
    evaluation of that exchange (``selection.pin_single_evaluation`` —
    the RangePartitioner samples its boundaries, so an unpinned subtree
    referenced by two branches can place rows differently per branch;
    the round-2 driver caught exactly that flake in this function),
    then per-partition exclusive running sums in parallel plus a
    ≤num_partitions-row cumulative offsets window broadcast-joined
    back. Fully declarative: no collect(), no cross-job lineage — the
    offsets branch and the prefix-sum branch read the same frozen rows.
    """
    from covid_custom_sql_engine_spark.operators.selection import (
        pin_single_evaluation,
    )

    spark = docs.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    base = pin_single_evaluation(
        docs.select(F.col(id_col), F.size(tokens(text_col)).cast("bigint").alias("n_tokens"))
        .repartitionByRange(parallelism, F.col(id_col))
        .sortWithinPartitions(id_col)
    ).withColumn("_pid", F.spark_partition_id())
    # exclusive per-partition prefix sum
    w = (
        Window.partitionBy("_pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = base.withColumn("_local", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    # O(num_partitions) rows: cumulative token total of preceding partitions
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        base.groupBy("_pid")
        .agg(F.sum("n_tokens").alias("_t"))
        .select(
            "_pid",
            F.coalesce(F.sum("_t").over(off_w), F.lit(0)).cast("bigint").alias("_off"),
        )
    )
    cum = F.col("_local") + F.col("_off")
    return local.join(F.broadcast(offsets), "_pid").select(
        F.col(id_col),
        "n_tokens",
        F.expr(f"CAST((_local + _off) DIV {budget} AS BIGINT)").alias("shard"),
        (cum % budget).cast("bigint").alias("shard_offset"),
    )


# Default split percentages for dataset_split: train/val/test 80/10/10.
SPLIT_BOUNDS = (80, 90)

# Merge-candidate scan: report the top-K most frequent adjacent pairs.
BPE_TOP_K = 50


def _adjacent_pairs(col: str) -> Column:
    """Adjacent (a, b) token pairs of the non-empty array ``col``: its
    head and tail zipped by the codegen'd ``arrays_zip``, no lambda."""
    n = F.size(col) - 1
    return F.arrays_zip(F.slice(col, 1, n).alias("a"), F.slice(col, 2, n).alias("b"))


def bpe_pair_counts(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = BPE_TOP_K,
) -> DataFrame:
    """Top-``top_k`` most frequent adjacent token pairs across the
    corpus — the first merge-candidate scan of BPE vocabulary induction.
    Returns (token_a, token_b, cnt), ties broken lexicographically.

    Shape: one scan; per-row :func:`_adjacent_pairs`, then one hash
    aggregate keyed by pair with map-side partial combine — group count
    is the number of DISTINCT observed pairs, far below corpus size. The
    top-k is a TakeOrdered (per-partition heaps merged on the driver),
    never a global sort shuffle.
    """
    toks = docs.select(tokens(text_col).alias("_t")).filter(F.size("_t") >= 2)
    return (
        toks.select(F.explode(_adjacent_pairs("_t")).alias("p"))
        .groupBy(
            F.col("p.a").alias("token_a"), F.col("p.b").alias("token_b")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token_a", "token_b")
        .limit(top_k)
    )


# Java regex metacharacters, and those of a regex replacement string
_REGEX_META = r"([\\^$.|?*+()\[\]{}])"
_REPLACEMENT_META = r"([\\$])"


def _apply_bpe_merge(tcol: Column, a: Column, b: Column) -> Column:
    """Greedy left-to-right non-overlapping application of ONE BPE merge
    (a, b) → "a_b" to a token array — per-row map work, ZERO shuffle.
    Canonical BPE greedy semantics: after a merge the produced token
    cannot re-match as ``a`` within the same pass ([b,b,b] with (b,b) →
    [b_b, b]). ONE codegen'd ``regexp_replace`` over ``' t1 … tn '``
    rewrites each ``' a b'`` followed by a space to ``' a_b'``; the scan
    resumes after each match, which is exactly the greedy pick.
    Precondition: no token is empty, NULL or holds an ASCII space
    (``text.tokens`` guarantees all three).

    Negative result kept here: the earlier body was an ``aggregate``
    fold with an array accumulator (``concat(acc, array(t))`` per
    token). Every step copies the accumulator, so a document costs
    O(n²), and higher-order functions are never codegen'd: it took
    3.2–3.5 s of a 3.9–4.1 s ``retrieval_iterative`` warm pass on 4
    vCPUs. Per-row rewrites belong on built-in string and array kernels.
    """
    quote = lambda c: F.regexp_replace(c, _REGEX_META, r"\\$1")
    pattern = F.concat(F.lit(" "), quote(a), F.lit(" "), quote(b), F.lit("(?= )"))
    merged = F.regexp_replace(F.concat(a, F.lit("_"), b), _REPLACEMENT_META, r"\\$1")
    s = F.concat(F.lit(" "), F.array_join(tcol, " "), F.lit(" "))
    s = F.regexp_replace(s, pattern, F.concat(F.lit(" "), merged))
    return F.array_remove(F.split(s, " "), "")  # drops the padding


def bpe_train(
    docs: DataFrame,
    rounds: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Iterated BPE vocabulary induction: ``rounds`` merge rounds, each
    = count adjacent pairs → argmax (count desc, pair asc — the
    deterministic tie-break) → greedily apply the winning merge to
    every document → recount. Returns the ordered merge table
    (round, token_a, token_b, cnt) — the training artifact a tokenizer
    pipeline persists. Word-level variant of the byte-level original
    (Sennrich et al. 2016, public); merged tokens join with "_".

    Shape: see :func:`_bpe_train_loop` — one planned query and one
    driver round trip per round; the merge table is a local relation
    of the collected winners, and the last round's merge is never
    applied. NULL or blank texts take no part; a round with no pair
    left ends training early and adds no row.
    """
    state = _bpe_state(docs.select(tokens(text_col).alias("_t")))
    return _bpe_train_loop(state, rounds)[0]


def _bpe_state(toks: DataFrame) -> DataFrame:
    """The loop's initial state: non-empty token arrays, pinned eagerly.
    Negative result kept here: a lazy pin, materialized inside round 1's
    count job, is no faster (``bpe_train_merges`` build, sf0.1,
    ``local[2]``: 1.37–1.46 s lazy vs 1.18–1.19 s eager in one run,
    medians 1.12 vs 1.11 s over 7 interleaved builds in another)."""
    return toks.filter(F.size("_t") >= 1).localCheckpoint(eager=True)


def _bpe_train_loop(
    state: DataFrame, rounds: int
) -> tuple[DataFrame, DataFrame]:
    """The shared BPE training loop over a pinned state frame carrying
    a ``_t`` token-array column (plus any passenger columns, e.g. a
    doc id — they ride through the apply step untouched). Returns
    (ordered merge table, final state).

    Each round is ONE planned query and ONE driver round trip: the
    pair count (a hash aggregate keyed by pair with map-side combine)
    and its argmax (a TakeOrdered(1), never a global sort) pulled with
    ``first()``. The winning pair enters :func:`_apply_bpe_merge` as
    literals — a zero-shuffle per-row rewrite, no broadcast — and the
    rewritten state is pinned lazily, so it materializes inside the
    next round's count job. The final state is left an unexecuted plan:
    ``bpe_train`` never reads it, ``bpe_encode`` applies the last merge
    in its own action."""
    merges: list[tuple] = []
    for r in range(1, rounds + 1):
        if merges:
            state = state.localCheckpoint(eager=False)
        best = (  # a one-token array explodes to no pair
            state.select(F.explode(_adjacent_pairs("_t")).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .first()
        )
        if best is None:  # no pair left, and merges never create one
            break
        merges.append((r, best.a, best.b, best.cnt))
        state = state.withColumn(
            "_t", _apply_bpe_merge(F.col("_t"), F.lit(best.a), F.lit(best.b))
        )
    table = F.array(*(F.struct(*map(F.lit, m)) for m in merges)).cast(
        "array<struct<round:bigint,token_a:string,token_b:string,cnt:bigint>>"
    )
    return state.sparkSession.range(1).select(F.inline(table)), state


def bpe_encode(
    docs: DataFrame,
    rounds: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train-then-ENCODE: run :func:`bpe_train`'s merge rounds and
    return the final per-document token arrays — the tokenizer's
    encode step, closing the train→apply loop (a production pipeline
    trains once and applies the frozen merge list with the same
    per-row greedy rewrite; here both halves run in one call so the
    result is self-consistent and oracle-able). Returns
    (id, tokens, n_tokens_raw, n_tokens_bpe): every merge can only
    shrink a document, so n_tokens_bpe ≤ n_tokens_raw with equality
    iff no merge pair occurred in it. The last round's merge is
    applied by this frame's own action, not by a pin."""
    state = _bpe_state(
        docs.select(F.col(id_col), tokens(text_col).alias("_t"))
    ).withColumn("n_tokens_raw", F.size("_t").cast("bigint"))
    _, final = _bpe_train_loop(state, rounds)
    return final.select(
        id_col,
        F.col("_t").alias("tokens"),
        "n_tokens_raw",
        F.size("_t").cast("bigint").alias("n_tokens_bpe"),
    )


def ngram_diversity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document bigram diversity: (id, n_bigrams, n_distinct,
    distinct_ratio) for documents with ≥2 tokens — the distinct-n
    self-repetition screen (a low ratio means the text loops over the
    same phrases; the corpus-prep complement of repeated_chunks, which
    looks for repetition ACROSS documents while this scores repetition
    WITHIN one).

    Everything is per-row higher-order functions on the token array —
    adjacent pairs from two offset slices zipped into joined strings,
    distinct via array_distinct — so the whole screen is map-side only: ZERO shuffle
    at any corpus size.
    """
    # filter BEFORE slicing: slice(t, 1, nt-1) throws on nt == 0
    # (negative length) — an empty/whitespace-only document must simply
    # produce no row, same as the oracle's len(toks) >= 2 guard.
    # (Caught by the hypothesis differential test.)
    toks = docs.select(F.col(id_col), tokens(text_col).alias("_t")).filter(
        F.size("_t") >= 2
    )
    nt = F.size("_t")
    # pairs as joined strings (tokens contain no whitespace, so ' ' is
    # an unambiguous separator) — struct pairs would work in Spark but
    # DuckDB's list_distinct cannot hash struct elements
    grams = F.zip_with(
        F.slice(F.col("_t"), 1, nt - 1),
        F.slice(F.col("_t"), 2, nt - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    base = toks.select(F.col(id_col), grams.alias("_g"))
    n = F.size("_g").cast("bigint")
    nd = F.size(F.array_distinct("_g")).cast("bigint")
    return base.select(
        id_col,
        n.alias("n_bigrams"),
        nd.alias("n_distinct"),
        F.round(nd.cast("double") / n, 6).alias("distinct_ratio"),
    )


def zipf_slope(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary-health check: OLS fit of ln(freq) against ln(rank)
    over the corpus's term-frequency table — a healthy natural-language
    corpus follows Zipf's law with slope ≈ −1; a slope far from it
    flags boilerplate floods (too flat) or tiny/truncated vocabularies
    (too steep). Returns one row: (n_terms, slope, intercept).

    The frequency ranking uses operators/selection.global_rank (ranks
    ascending on (−cnt, token)) — the two-phase range-partitioned plan,
    because a vocabulary at web scale is itself hundreds of millions of
    terms and a bare ROW_NUMBER() OVER (ORDER BY cnt DESC) would funnel
    all of them through one task. The OLS reduction is a single
    fixed-point-summed aggregate (Σx, Σy, Σxx, Σxy), so the fit is
    bit-identical to the oracle's closed form at any partitioning.
    """
    from covid_custom_sql_engine_spark.operators.core import dsum
    from covid_custom_sql_engine_spark.operators.selection import global_rank

    vocab = (
        docs.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("_negcnt", -F.col("cnt"))
    )
    ranked = global_rank(vocab, ["_negcnt", "token"], "rank")
    xy = ranked.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    agg = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n_terms")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return agg.select(
        "n_terms",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


def collocation_pmi(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-``top_k`` collocations by pointwise mutual information:
    PMI(w₁,w₂) = ln(c₁₂·N / (c₁·c₂)) over adjacent-pair counts, with a
    ``min_count`` support floor so rare coincidences don't dominate —
    the collocation detector behind multi-word-expression vocab entries
    ("new york", "machine learning") where raw pair counts
    (bpe_pair_counts) just resurface stopword pairs.

    N is the total bigram count; c₁/c₂ are LEFT/RIGHT slot marginals of
    the bigram table (so the identity Σc₁₂ = Σc₁ = Σc₂ = N holds
    exactly). Shape: one explode + three hash aggregates bounded by
    vocabulary, marginals equi-joined back on their slot word, N a
    1-row broadcast; top-k via TakeOrdered (never a global sort). PMI
    per row is ln of a double ratio — IEEE-deterministic; ordering ties
    break on (pair) text.
    """
    t = docs.select(tokens(text_col).alias("_t")).filter(F.size("_t") >= 2)
    pairs = t.select(F.explode(_adjacent_pairs("_t")).alias("p")).select(
        F.col("p.a").alias("w1"), F.col("p.b").alias("w2")
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    # pinned: the bigram table feeds both marginals and the scored join
    big = big.localCheckpoint(eager=False)
    left = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    right = big.groupBy("w2").agg(F.sum("c12").alias("c2"))
    n = F.broadcast(big.agg(F.sum("c12").alias("_n")))
    scored = (
        big.filter(F.col("c12") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(n)
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("c12"),
            F.round(
                F.log(
                    F.col("c12").cast("double")
                    * F.col("_n")
                    # c1·c2 as a DOUBLE product: the raw BIGINT product
                    # overflows int64 once two stopword marginals exceed
                    # ~3e9 each (web-scale corpora) — ANSI mode would
                    # kill the query; the oracle casts identically
                    / (F.col("c1").cast("double") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(top_k)


def unigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document average negative log-probability under the corpus's
    own unigram language model — the classic cheap perplexity-style
    quality signal (unusually improbable token mixes score high).
    Returns (id, n_tokens, avg_neg_logprob) for documents with ≥1 token.

    Shape: token occurrences are pre-aggregated to (doc, token, occ)
    BEFORE joining the unigram table, so a stopword like "the" carries
    at most one row per document into the join — the hot-key fan-in is
    capped at n_docs and AQE's skew split handles the rest. The unigram
    table itself is one hash aggregate; the grand total is a 1-row
    broadcast. Deterministic: fixed-point sums of occ·(−ln p), round(6)
    on the final average — ln is computed per-row in doubles on both
    engines and the decimal cast absorbs any last-ulp libm difference.
    """
    occ = (
        docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    uni = occ.groupBy("token").agg(F.sum("occ").alias("cnt"))
    total = uni.agg(F.sum("cnt").alias("_total"))
    nlp = -F.log(F.col("cnt") / F.col("_total"))
    from covid_custom_sql_engine_spark.operators.core import dsum

    return (
        occ.join(uni, "token")
        .join(F.broadcast(total), F.lit(True), "inner")
        .groupBy(id_col)
        .agg(
            F.sum("occ").cast("bigint").alias("n_tokens"),
            F.round(
                dsum(F.col("occ") * nlp) / F.sum("occ"), 6
            ).alias("avg_neg_logprob"),
        )
    )


BIGRAM_K = 0.5  # add-k smoothing mass per context


def bigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = BIGRAM_K,
) -> DataFrame:
    """Per-document average −ln P(w₂|w₁) under the corpus's own add-k
    smoothed bigram model — the step up from :func:`unigram_logprob`
    as a perplexity-style quality screen (it also penalizes improbable
    token ORDER, not just improbable token mix). Returns
    (id, n_bigrams, avg_neg_logprob) for documents with ≥2 tokens.

    P(w₂|w₁) = (c(w₁,w₂) + k) / (c(w₁) + k·V) with V = |vocab observed
    in any bigram slot|, so unseen continuations get mass and the
    estimate never hits ln(0).

    Shape: per-doc bigram occurrences pre-aggregate BEFORE any join
    (same stopword-context fan-in cap as the unigram scorer — "the …"
    carries at most one row per document into the join); the bigram and
    context tables are hash aggregates pinned once for their multiple
    consumers; V is a 1-row broadcast. Deterministic: fixed-point sums
    of occ·(−ln p), round(6) on the final average.
    """
    from covid_custom_sql_engine_spark.operators.core import dsum

    tk = docs.select(F.col(id_col), tokens(text_col).alias("_tk")).filter(
        F.size("_tk") >= 2
    )
    # adjacent pairs straight off the token array: transform index i is
    # 0-based, bracket indexing is 0-based, slice is 1-based — so the
    # first size-1 elements pair with their successor
    pairs = F.expr(
        "transform(slice(_tk, 1, size(_tk) - 1),"
        " (x, i) -> struct(x AS w1, _tk[i + 1] AS w2))"
    )
    occ2 = (
        tk.select(F.col(id_col), F.explode(pairs).alias("bg"))
        .select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("occ"))
        .localCheckpoint(eager=False)
    )
    big = (
        occ2.groupBy("w1", "w2")
        .agg(F.sum("occ").cast("bigint").alias("c12"))
        .localCheckpoint(eager=False)
    )
    uni = big.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    voc = F.broadcast(
        big.select(F.col("w1").alias("w"))
        .union(big.select(F.col("w2").alias("w")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("_v"))
    )
    nlp = -F.log(
        (F.col("c12") + F.lit(float(k)))
        / (F.col("c1") + F.lit(float(k)) * F.col("_v"))
    )
    return (
        occ2.join(big, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(voc)
        .groupBy(id_col)
        .agg(
            F.sum("occ").cast("bigint").alias("n_bigrams"),
            F.round(dsum(F.col("occ") * nlp) / F.sum("occ"), 6).alias(
                "avg_neg_logprob"
            ),
        )
    )


def dataset_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    strata_col: str = "lang",
    bounds: tuple[int, int] = SPLIT_BOUNDS,
) -> DataFrame:
    """Deterministic 3-way train/val/test assignment with a per-stratum
    audit. Each document lands in a split by hashing its id (md5, salt
    'split:') into a percentile bucket — stable under reruns, growing
    corpora, and any partitioning, unlike rand()-based splits. Returns
    one row per (split, stratum): (split, stratum, n_docs, tot_chars,
    frac_of_stratum) so imbalance is visible per language/source.

    Shape: per-row hash + one hash aggregate on (split, stratum) — group
    count is 3·|strata|; the per-stratum totals come from a window over
    those few rows, not a second scan.
    """
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split:"), F.col(id_col).cast("string"))), 1, 15),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < bounds[0], F.lit("train"))
        .when(bucket < bounds[1], F.lit("val"))
        .otherwise(F.lit("test"))
    )
    per = (
        docs.select(
            split.alias("split"),
            F.col(strata_col).alias("stratum"),
            F.col("n_chars"),
        )
        .groupBy("split", "stratum")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("tot_chars"),
        )
    )
    w = Window.partitionBy("stratum")
    return per.select(
        "split",
        "stratum",
        "n_docs",
        "tot_chars",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias(
            "frac_of_stratum"
        ),
    )


def quota_sample(
    df: DataFrame,
    strata_cols: list[str],
    n_per_stratum: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum quota sample: at most ``n_per_stratum``
    rows from each stratum, chosen by md5 hash order of the id — the
    per-source/per-language cap a corpus-balancing pass applies before
    training. Hash order makes the sample stable under reruns, growing
    input, and any partitioning (a rand()-based sample is none of
    these), and uncorrelated with any data attribute.

    Shape: one shuffle on the strata key; the per-stratum window keeps a
    top-``n`` heap per group — no global sort, no collect. A skewed
    stratum costs one fat partition bounded by that stratum's row count;
    output is bounded by |strata|·n.
    """
    w = Window.partitionBy(*strata_cols).orderBy(
        F.md5(F.concat(F.lit("quota:"), F.col(id_col).cast("string"))), id_col
    )
    return (
        df.withColumn("_qrn", F.row_number().over(w))
        .filter(F.col("_qrn") <= n_per_stratum)
        .drop("_qrn")
    )


def negative_samples(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """k deterministic pseudo-random negative partners per document —
    the contrastive-training baseline (uniform negatives; harder mining
    composes on top). Output: (id, sample_idx, neg_id), neg_id never
    the document itself.

    Every sample is pure hash arithmetic on a dense 1..n rank index
    (selection.global_rank — no single-partition window), so the
    pairing is reproducible under reruns, any partitioning, and corpus
    growth-by-append of the SAME prefix. neg_rank = 1 + (rank + h) mod
    n with h ∈ [0, n-2] hashed from (id, i) — a uniform draw over the
    other n-1 documents. One rank pass + an equi-join of the exploded
    samples back to the narrow (rank, id) frame.

    The ranked frame is referenced from TWO branches (the exploded
    sample side and the rank→id lookup); that is safe because
    global_rank pins a single evaluation of its range exchange
    (checkpoint) and every downstream step is deterministic arithmetic
    on those frozen rows — both branches necessarily see identical
    (rank, id) assignments, preserving the never-self and exactly-k
    guarantees at any scale.
    """
    from covid_custom_sql_engine_spark.operators.selection import global_rank

    ranked = global_rank(df.select(id_col), [id_col], out_col="_rnk")
    n_row = F.broadcast(ranked.agg(F.count(F.lit(1)).alias("_n")))
    with_n = ranked.crossJoin(n_row).filter(F.col("_n") >= 2)
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("neg:"),
                        F.col(id_col).cast("string"),
                        F.lit(":"),
                        F.col("sample_idx").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % (F.col("_n") - 1)
    )
    sampled = (
        with_n.select(
            F.col(id_col),
            F.col("_rnk"),
            F.col("_n"),
            F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("sample_idx"),
        )
        .withColumn("_neg_rnk", F.lit(1) + (F.col("_rnk") + h) % F.col("_n"))
    )
    lookup = ranked.select(
        F.col("_rnk").alias("_neg_rnk"), F.col(id_col).alias("neg_id")
    )
    return sampled.join(lookup, "_neg_rnk").select(id_col, "sample_idx", "neg_id")


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    Efraimidis–Spirakis one-pass scheme: each row draws a pseudo-random
    u ∈ (0,1) hashed from its id and keeps key = ln(u) / w; the k
    LARGEST keys are the sample, with inclusion probability
    proportional to weight. The mixture-composition primitive of a
    training pipeline (sample sources ∝ quality weight) made
    reproducible: the "randomness" is md5(id), so reruns, repartitions
    and engines agree.

    One scan + TakeOrderedAndProject (per-partition k-heaps, driver
    merges p·k rows) — no global sort, no shuffle of the data. Rows
    with NULL or non-positive weight are excluded (their theoretical
    key is −∞). Output: (id, weight, es_key rounded) ordered by key."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ws:"), F.col(id_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    # u in (0,1]: (h+1) / 2^60 — never 0, so ln is finite
    u = (h + F.lit(1).cast("double")) / F.lit(float(1 << 60))
    key = F.log(u) / F.col(weight_col)
    return (
        df.filter(F.col(weight_col) > 0)
        .select(
            F.col(id_col),
            F.col(weight_col),
            key.alias("_es"),
        )
        .orderBy(F.desc("_es"), id_col)
        .limit(k)
        # + 0.0 canonicalizes the sign of a rounded-to-zero negative key
        # (IEEE −0.0) so engines agree textually
        .select(id_col, weight_col, (F.round("_es", 6) + F.lit(0.0)).alias("es_key"))
    )


def split_divergence(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bounds: tuple[int, int] = SPLIT_BOUNDS,
) -> DataFrame:
    """Distribution drift between the train and val splits, measured on
    their unigram distributions: KL(train‖val), KL(val‖train), and the
    symmetric Jensen–Shannon divergence, plus vocabulary sizes and
    overlap — the corpus-health monitor that catches a skewed split or
    a drifting ingest before a model trains on it.

    Smoothing is add-one over the UNION vocabulary, so both
    distributions are strictly positive and the KLs are finite. Every
    aggregate is bounded by vocab size, never corpus size: one explode
    + hash aggregate per (token) with conditional split counters, a
    1-row totals broadcast, and a final 1-row fold. Float discipline:
    the per-token KL terms are summed as DECIMAL(38,18) (order-
    independent; ~1e-17-ulp ln() differences between engines stay far
    below the final round(6)).
    """
    from covid_custom_sql_engine_spark.functions.text import tokens

    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col(id_col).cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    split = F.when(bucket < bounds[0], F.lit("train")).when(
        bucket < bounds[1], F.lit("val")
    )
    tok = (
        docs.select(split.alias("split"), F.explode(tokens(text_col)).alias("tok"))
        .filter(F.col("split").isNotNull())
    )
    counts = tok.groupBy("tok").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("cv"),
    )
    totals = F.broadcast(
        counts.agg(
            F.sum("ct").alias("tt"),
            F.sum("cv").alias("tv"),
            F.count(F.lit(1)).alias("vocab"),
        )
    )
    j = counts.crossJoin(totals)
    p = (F.col("ct") + 1).cast("double") / (F.col("tt") + F.col("vocab"))
    q = (F.col("cv") + 1).cast("double") / (F.col("tv") + F.col("vocab"))
    m = (p + q) / 2
    dsum18 = lambda c: F.sum(c.cast("decimal(38,18)")).cast("double")
    return j.agg(
        F.first("vocab").alias("vocab_size"),
        F.sum(F.when((F.col("ct") > 0) & (F.col("cv") > 0), 1).otherwise(0)).alias(
            "overlap_tokens"
        ),
        F.round(dsum18(p * F.log(p / q)), 6).alias("kl_train_val"),
        F.round(dsum18(q * F.log(q / p)), 6).alias("kl_val_train"),
        F.round(
            dsum18(p * F.log(p / m) / 2) + dsum18(q * F.log(q / m) / 2), 6
        ).alias("js_divergence"),
    )


def mixture_resample(
    df: DataFrame,
    group_col: str,
    target_shares: dict[str, float],
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic down-sampling to a target mixture — the domain /
    language reweighting step of a pretraining pipeline (Pile-style
    mixture weights, DoReMi's output stage): given target proportions
    per group, keep each row with probability
    ``min(1, target_share · total / group_count)`` so the surviving
    corpus approaches the target mixture WITHOUT upsampling (groups
    under their target keep everything; over-represented groups are
    thinned). The accept draw is md5(id)-based, so reruns, repartitions
    and engines agree row-for-row.

    Scale shape: one hash aggregate over the group column (≤ |groups|
    rows, map-side combinable) broadcasts back as the acceptance table;
    the sample itself is a map-side filter on the single corpus scan —
    no shuffle of the data, identical at sf0.001 and 100 TB. Groups
    absent from ``target_shares`` get share 0 (dropped entirely).

    Output: the accepted rows as (id, group, accept_prob rounded 6).
    """
    # pinned: the ≤|groups|-row aggregate feeds BOTH the total fold and
    # the acceptance-table broadcast; unpinned, each consumer would
    # rescan the corpus (and a separate df.agg(count(*)) for the total
    # would be a third scan for a number counts already contains)
    counts = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_gn"))
        .localCheckpoint(eager=False)
    )
    total = counts.agg(F.sum("_gn").alias("_tot"))
    share = F.coalesce(
        *[
            F.when(F.col(group_col) == g, F.lit(float(s)))
            for g, s in sorted(target_shares.items())
        ],
        F.lit(0.0),
    )
    prob = F.least(F.lit(1.0), share * F.col("_tot") / F.col("_gn"))
    # u in [0, 1): 60-bit md5 prefix / 2^60 (same draw family as
    # weighted_sample / dataset_split — portable to the SQL oracle)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col(id_col).cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(float(1 << 60))
    )
    return (
        df.join(F.broadcast(counts), group_col)
        .join(F.broadcast(total))
        .filter(u < prob)
        .select(
            F.col(id_col),
            F.col(group_col),
            F.round(prob, 6).alias("accept_prob"),
        )
    )


def curation_pipeline(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    q_threshold: float = 0.45,
    score_col: str | None = None,
) -> DataFrame:
    """The curation pipeline END-TO-END: heuristic quality gate → exact
    dedup (min-id representative per normalized fingerprint) → MinHash/
    LSH near-dup clustering with min-id keep — every input document
    labeled with the stage that removed it
    ('quality' | 'exact_dup' | 'near_dup' | 'kept').

    Extracted from the ``corpus_curation_pipeline`` registered query so
    the composition is a first-class engine API (and property-testable
    against a pure-Python reference on arbitrary corpora — see
    tests/test_curation_property.py). Stage plans compose exactly as
    the standalone queries do: the quality gate is per-row codegen,
    exact dedup one fingerprint hash aggregate + equi-join, near-dup
    the banded LSH equi-join → iterative min-label CC; each stage's
    input strictly shrinks. The quality frame and the survivor frame
    each feed multiple consumers, so both are pinned (lazy
    localCheckpoint — the multi-consumer evaluate-once pattern).

    ``score_col`` swaps the heuristic gate for a caller-supplied
    quality score already present on ``df`` (e.g. the learned
    classifier probability from the quality_classifier_gate
    machinery) — the gate then keeps rows with score ≥ ``q_threshold``
    and the rest of the pipeline is unchanged."""
    from covid_custom_sql_engine_spark.functions import dedup as dd
    from covid_custom_sql_engine_spark.functions import text as tx

    score = (
        F.col(score_col) if score_col is not None else tx.quality_score(text_col)
    )
    q = (
        df.select(id_col, text_col, score.alias("_q"))
        .localCheckpoint(eager=False)
    )
    s1 = q.filter(F.col("_q") >= q_threshold)
    f = s1.select(id_col, text_col, tx.fingerprint(text_col).alias("_fp"))
    k2 = f.groupBy("_fp").agg(F.min(id_col).alias("_keep"))
    s2 = (
        f.join(k2, "_fp")
        .filter(F.col(id_col) == F.col("_keep"))
        .select(id_col, text_col)
        .localCheckpoint(eager=False)
    )
    nd = dd.near_dup_keep(
        s2, dd.lsh_candidate_pairs(s2, id_col, text_col), id_col
    )
    out = (
        q.select(id_col, "_q")
        .join(s2.select(id_col, F.lit(True).alias("_in2")), id_col, "left")
        .join(nd.select(F.col("id").alias(id_col), "keep"), id_col, "left")
    )
    stage = (
        F.when(F.col("_q") < q_threshold, F.lit("quality"))
        .when(F.col("_in2").isNull(), F.lit("exact_dup"))
        .when(F.col("keep"), F.lit("kept"))
        .otherwise(F.lit("near_dup"))
    )
    return out.select(id_col, stage.alias("stage"))


def repeated_token_spans(
    df: DataFrame, k: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact-substring dedup as an actionable EDIT PLAN (the removal
    step of Lee et al. 2022, arXiv:2107.06499): every ``k``-token
    window shared across ≥2 documents marks its positions, and
    overlapping/adjacent marked windows merge into per-document token
    spans [span_start, span_end) to cut. Plan shape: one gram explode
    + one hash aggregate for the cross-doc fingerprint set, an
    equi-join back, then PER-DOCUMENT windows (partitioned by the doc
    id — state bounded by document length, never corpus size) for the
    gaps-and-islands interval merge. Token indices are 1-based;
    span_end is exclusive.

    Gram fingerprints come from :func:`chunk_tokens` at stride 1 (the
    same md5-of-space-joined-window convention `repeated_chunks` uses
    — ONE fingerprint family, no drift), with partial tail windows
    dropped; the frame feeds both the cross-doc aggregate and the
    join-back, so it is pinned once (lazy localCheckpoint, the
    multi-consumer pattern) instead of re-tokenizing the corpus
    twice."""
    grams = (
        chunk_tokens(df, id_col=id_col, text_col=text_col, window=k, stride=1)
        .filter(F.col("n_tokens") == k)
        .select(
            id_col,
            F.col("start_token").alias("p"),
            F.col("chunk_fp").alias("fp"),
        )
        .localCheckpoint(eager=False)
    )
    dup = (
        grams.groupBy("fp")
        .agg(F.count_distinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("fp")
    )
    rp = grams.join(dup, "fp").select(id_col, "p")
    w = Window.partitionBy(id_col).orderBy("p")
    fl = rp.withColumn(
        "_brk",
        F.when(F.col("p") - F.lag("p").over(w) > k, F.lit(1)).otherwise(F.lit(0)),
    )
    isl = fl.withColumn(
        "_island",
        F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy(id_col, "_island")
        .agg(
            F.min("p").cast("bigint").alias("span_start"),
            (F.max("p") + k).cast("bigint").alias("span_end"),
            (F.max("p") + k - F.min("p")).cast("bigint").alias("span_tokens"),
        )
        .select(id_col, "span_start", "span_end", "span_tokens")
    )


def remove_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXECUTE a :func:`repeated_token_spans` edit plan: rebuild each
    document's text with the cut token ranges removed — the step that
    turns the Lee et al. 2022 (arXiv:2107.06499) removal plan into a
    cleaned corpus. Returns (id, text_clean, n_tokens, n_kept, n_cut)
    for EVERY input document (documents with no spans pass through with
    n_cut = 0; text is re-emitted in canonical single-space form, the
    tokenizer's domain).

    Plan shape: the spans collapse to one array per document (a hash
    aggregate bounded by document length — a document can hold at most
    n_tokens/k disjoint spans), equi-join onto the corpus, then a pure
    per-row higher-order ``filter`` drops tokens whose 1-based position
    falls inside any [span_start, span_end) — no UDF, no extra shuffle
    beyond the one equi-join, so applying an edit plan to a 100 TB
    corpus costs one join and one map pass. Token positions follow the
    1-based / end-exclusive convention of the plan producer.
    """
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    base = docs.select(F.col(id_col), tokens(text_col).alias("_toks")).join(
        sp, id_col, "left"
    )
    # coverage is order-independent, so the collect_list order (which
    # is partition-dependent) never affects the result; n_cut derives
    # from n_tokens − n_kept so the span-membership fold runs ONCE per
    # token, not twice
    kept = F.when(F.col("_spans").isNull(), F.col("_toks")).otherwise(
        F.filter(
            "_toks",
            lambda x, i: ~F.exists(
                "_spans",
                lambda s: (s["span_start"] <= i + 1) & (i + 1 < s["span_end"]),
            ),
        )
    )
    return base.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("text_clean"),
        F.size("_toks").cast("bigint").alias("n_tokens"),
        F.size(kept).cast("bigint").alias("n_kept"),
        (F.size("_toks") - F.size(kept)).cast("bigint").alias("n_cut"),
    )
