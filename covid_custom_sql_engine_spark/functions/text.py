"""Text-analysis operators over the ``documents`` table.

Scale posture: everything here is built-in-expression only (regexp /
split / aggregate — JVM-side, whole-stage codegen); no Python UDFs in
any hot path. All transforms are deterministic so a DuckDB oracle can
mirror them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# Tiny deterministic stopword lists for the language-ID heuristic.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "sich", "auf"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "pour", "que", "dans"],
    "es": ["el", "la", "los", "y", "es", "no", "una", "por", "que", "con"],
}

PUNCT_CLASS = "[.,;:!?]"


def tokens(text_col: str | Column) -> Column:
    """Lowercased whitespace tokens, empties removed; NULL text → NULL.
    ``array_remove`` is codegen'd; the equivalent ``filter(…, t -> t !=
    '')`` is an interpreted higher-order function. ``split`` never
    yields a NULL element, so the two agree on every input."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.array_remove(F.split(F.lower(F.trim(c)), r"\s+"), "")


def token_count(text_col: str | Column) -> Column:
    """Whitespace token count; empty/blank text → 0."""
    return F.size(tokens(text_col))


def char_count(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.length(c)


def punct_ratio(text_col: str | Column) -> Column:
    """Fraction of characters in a fixed punctuation class; 0 for empty."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n = F.length(c)
    n_punct = n - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))
    return F.when(n > 0, n_punct / n).otherwise(F.lit(0.0))


def stopword_ratio(text_col: str | Column, lang: str = "en") -> Column:
    """Fraction of tokens that are in the language's stopword list."""
    toks = tokens(text_col)
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def quality_score(text_col: str | Column) -> Column:
    """Composite heuristic quality score in [0, 1]:
    mean of (length component, 1 - punct ratio, stopword component).
    Deterministic arithmetic → oracle-mirrorable."""
    n = char_count(text_col)
    len_component = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_component = 1.0 - punct_ratio(text_col)
    sw_component = F.least(stopword_ratio(text_col, "en") * 5.0, F.lit(1.0))
    return (len_component + punct_component + sw_component) / 3.0


def lang_scores(text_col: str | Column) -> list[Column]:
    """Per-language stopword-hit fraction columns (``score_{lang}``),
    in sorted language-code order."""
    return [
        stopword_ratio(text_col, lang).alias(f"score_{lang}")
        for lang in sorted(LANG_STOPWORDS)
    ]


def lang_id(text_col: str | Column) -> Column:
    """Argmax-language over the stopword-ratio scores; ties break by
    language-code order; all-zero → 'und' (undetermined)."""
    pairs = [
        F.struct(stopword_ratio(text_col, lang).alias("s"), F.lit(lang).alias("l"))
        for lang in sorted(LANG_STOPWORDS)
    ]
    best = F.array_max(F.array(*pairs))
    return F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und"))


# BPE-ish pre-tokenizer: letter runs, single digits, punctuation runs —
# the shape GPT-style byte-pair pre-tokenization produces, without a
# merges table (not in-container). Counts from this regex track real BPE
# token counts within ~±15% on English text.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"


def bpe_ish_token_count(text_col: str | Column) -> Column:
    """Sub-word-ish token count via the BPE-style pre-tokenizer regex
    (JVM regexp_extract_all — no Python in the path)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def fingerprint(text_col: str | Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    (The cheap exact-dup key; near-dup fingerprints live in dedup.py.)"""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


# Winnowing (Schleimer et al., SIGMOD'03) rolling-hash parameters.
# B/M chosen so the unrolled k-gram polynomial stays far below int64
# overflow (126 * B^(k-1) * k ≈ 3e13) before the mod.
WINNOW_K = 8
WINNOW_W = 4
_WINNOW_B = 31
_WINNOW_M = 1_000_003


def winnow_fingerprints(text_expr: str, k: int = WINNOW_K, w: int = WINNOW_W) -> Column:
    """Winnowing document fingerprints: polynomial rolling hash over
    character ``k``-grams, then the min hash of each ``w``-window of
    consecutive gram hashes, deduped and sorted (``array<bigint>``).

    Guarantees any shared substring of length >= k+w-1 between two
    documents yields a shared fingerprint — the local near-dup property
    the md5 ``fingerprint`` (exact-dup key) lacks. All JVM-side
    expression code (transform/sequence/slice) — no Python in the path;
    per-row cost O(len * k) regardless of partitioning, so it scales
    linearly and needs no shuffle.

    Each stage binds the previous one as a higher-order-function lambda
    variable (``transform(array(prev), v -> ...)``) so normalization and
    gram hashing are each evaluated once per row, not once per term.

    ``text_expr``: column name or SQL expression for the text.
    """
    norm = (
        f"regexp_replace(regexp_replace(lower(trim(coalesce({text_expr}, ''))),"
        f" '[^ -~]', ''), ' +', ' ')"
    )
    # Unrolled k-term polynomial at 1-based gram position i.
    poly = " + ".join(
        f"ascii(substring(t, i + {j}, 1)) * {_WINNOW_B ** j}L" for j in range(k)
    )
    grams = (
        f"CASE WHEN length(t) < {k} THEN array() "
        f"ELSE transform(sequence(1, length(t) - {k} + 1), "
        f"i -> ({poly}) % {_WINNOW_M}L) END"
    )
    wins = (
        f"CASE WHEN size(g) = 0 THEN array() "
        f"ELSE transform(sequence(1, greatest(size(g) - {w} + 1, 1)), "
        f"i -> array_min(slice(g, i, {w}))) END"
    )
    return F.expr(
        f"element_at(transform(array({norm}), t -> "
        f"  element_at(transform(array({grams}), g -> "
        f"    array_sort(array_distinct({wins}))), 1)), 1)"
    )


def text_profile(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One-pass per-document text profile (tokens, chars, punct ratio,
    stopword ratio, quality, language, fingerprint)."""
    return df.select(
        F.col(id_col),
        token_count(text_col).alias("n_tokens"),
        char_count(text_col).alias("n_chars_measured"),
        punct_ratio(text_col).alias("punct_ratio"),
        stopword_ratio(text_col).alias("stopword_ratio"),
        quality_score(text_col).alias("quality"),
        lang_id(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fp"),
    )


# PII patterns (RE2-compatible: portable to the SQL oracle engines).
PII_PATTERNS: dict[str, str] = {
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "PHONE": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
    "IPV4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def redact_pii(text_col: str | Column) -> Column:
    """Replace emails/phones/IPv4s with <TYPE> tokens (order: email,
    phone, ip — all JVM regexp_replace, chained in one projection)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for name, pat in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, f"<{name}>")
    return c


def repetition_ratio(text_col: str | Column, n: int = 3) -> Column:
    """Intra-document boilerplate score: 1 - distinct/total word
    n-grams (0 = no repetition). The gopher-style repetition filter."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != "")
    k = F.size(toks)
    grams = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(k - j, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    grams = F.filter(grams, lambda g: g.isNotNull())
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return F.when(total > 0, 1.0 - distinct.cast("double") / total).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# BM25 retrieval (Okapi BM25 with the +1 idf floor, the Lucene variant) —
# the lexical-retrieval leg of a RAG / training-data search pipeline.
# Beyond-reference scope (the reference has no retrieval operator); the
# nearest analogue here is tfidf scoring in queries_registry.tfidf_top_terms.
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    docs: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
    exclude_self: bool = False,
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """Top-``k`` documents per query under Okapi BM25.

    ``exclude_self=True`` drops the (query_id == doc_id) row before
    the top-k window — the more-like-this convention where each query
    IS a corpus document (`hybrid_search`), mirroring the ANN
    baselines' self-exclusion.

    ``queries_df`` is (query_id, term) — one row per query term, tiny
    by definition (a query set), so it BROADCASTS. idf uses the
    non-negative Lucene form ln(1 + (N − df + 0.5)/(df + 0.5)).

    Scale shape (the whole point at 100 TB):
    - ONE corpus scan computes (N, avgdl) — a 1-row broadcast.
    - A SECOND corpus scan explodes tokens and immediately inner-joins
      the broadcast query terms, so only postings for query terms ever
      leave the map stage; the (query, doc, term) tf aggregate and
      everything after it is sized by matches, not by the corpus.
    - df comes from the tf table itself (docs containing a query term),
      never a full-vocabulary aggregate.
    - Per-(query, doc) scores fold term scores through DECIMAL(38,18)
      — order-independent, so ranking on the exact decimal is stable
      under any partitioning and bit-equal to the DuckDB oracle; ties
      break on doc_id. Top-k is a per-query window (WindowGroupLimit
      heap); query cardinality is small, so the query_id partition is
      not a skew risk — for a massive query log, swap in the two-phase
      selection of operators/selection.py.

    Output: (query_id, doc_id, score, rk), score rounded to 6.

    ``tokens_df`` (optional) is a precomputed ``(id_col, _tk)`` token
    frame — pass it when the CALLER already tokenized the same corpus
    (optimization r13: rocchio_prf runs bm25_topk twice plus its own
    expansion pass over one documents frame; a single eagerly-pinned
    token frame threaded through all three replaces three full
    tokenize+explode corpus scans with one).
    """
    # tokenize ONCE per document per scan: the token array feeds both
    # the doc length and the exploded postings from the same projection
    tk = (
        tokens_df
        if tokens_df is not None
        else docs.select(F.col(id_col), tokens(text_col).alias("_tk"))
    )
    toks = tk.select(
        F.col(id_col),
        F.size("_tk").alias("dl"),
        F.explode("_tk").alias("term"),
    )
    stats = F.broadcast(
        tk.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg(F.size("_tk").cast("double")).alias("avgdl"),
        )
    )
    tf = (
        toks.join(F.broadcast(queries_df), "term")
        .groupBy("query_id", id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        # tf is sized by matches but COSTS a corpus tokenize+explode to
        # build, and it has two consumers (dfreq and the score join).
        # Pin it so the corpus-sized subtree runs once (lazy checkpoint,
        # same pattern as semdedup_prune / candidate_pairs predrop).
        .localCheckpoint(eager=False)
    )
    dfreq = (
        tf.select("term", id_col)
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tfc = F.col("tf").cast("double")
    term_score = idf * (
        tfc * (k1 + 1.0)
        / (tfc + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(dfreq, "term")
        .join(stats)
        .groupBy("query_id", id_col)
        .agg(F.sum(term_score.cast("decimal(38,18)")).alias("_s"))
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col(id_col))
    w = Window.partitionBy("query_id").orderBy(F.desc("_s"), F.asc(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            id_col,
            (F.round(F.col("_s").cast("double"), 6) + F.lit(0.0)).alias("score"),
            "rk",
        )
    )


def oov_rate_report(
    docs: DataFrame,
    min_count: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a frequency-derived
    corpus vocabulary — the tokenizer-coverage screen of a training
    pipeline (documents full of tokens the tokenizer will shred into
    bytes are flagged by a high rate).

    Vocabulary = tokens with total corpus count ≥ ``min_count``; it is
    bounded by vocabulary size, not corpus size, so the (term) aggregate
    is map-side-combinable and its result BROADCASTS back onto the
    token stream — two corpus scans, no data-sized shuffle. Documents
    with zero tokens produce no row (nothing to rate).

    Output: (id, n_tokens, n_oov, oov_rate rounded 6).
    """
    toks = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("term", F.lit(1).alias("_in"))
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 6).alias(
                "oov_rate"
            ),
        )
    )
