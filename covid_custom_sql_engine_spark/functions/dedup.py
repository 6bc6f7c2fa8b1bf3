"""Deduplication operators for large-scale text pipelines.

Families (each oracle-mirrorable in ANSI SQL because every hash is
md5-based and every step is deterministic):

- exact:   hash-groupBy on a normalized fingerprint
- minhash: word-shingle MinHash signatures + LSH banding → candidate
           pairs via equi-join on (band, band_hash) → Jaccard verify
- simhash: per-bit majority over token md5 bits → fixed-width bitstring
- ngram:   direct Jaccard on distinct shingle sets (verification /
           small-scale baseline)

Scale posture: candidate generation is an equi-join on band hashes
(shuffle on a well-distributed key), never an all-pairs product. The
verify step only touches candidate pairs. MinHash derives all k hash
functions from ONE md5 per shingle via Kirsch–Mitzenmacher double
hashing (h_i = (h1 + i·h2) mod M) — deterministic, portable to any SQL
engine, and k× cheaper than hashing every shingle k times.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from covid_custom_sql_engine_spark.functions.text import fingerprint

# 12 hash functions → 4 bands × 3 rows (tunable).
DEFAULT_NUM_HASHES = 12
DEFAULT_BAND_ROWS = 3
DEFAULT_SHINGLE_N = 3

# Modulus for Kirsch–Mitzenmacher double hashing: prime just under 2^40,
# so h1 + i·h2 stays far from int64 overflow for any realistic k
# (k·2^40 < 2^63 up to k ≈ 8M) while keeping per-minhash collision
# probability ~2^-40 — negligible bias on Jaccard estimates.
KM_MODULUS = 1_099_511_627_689

# Band buckets larger than this are dropped from candidate generation:
# a (band, band_hash) bucket with B members yields B² /2 pairs, so one
# mass-duplicated document (thousands of exact copies all landing in one
# bucket) would make the self-join quadratic. Buckets this hot are
# exact-duplicate pathology — collapse them with exact_dedup FIRST; the
# cap is the LSH-side analogue of the ngram path's max_df stop-shingle
# guard.
MAX_BAND_BUCKET = 200


def normalized(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def word_shingles(text_col: str | Column, n: int = DEFAULT_SHINGLE_N) -> Column:
    """Distinct word n-grams of the normalized text; docs shorter than n
    tokens contribute their full token string as a single shingle.

    Built by zipping n-1 shifted copies of the token array rather than
    slicing per position — O(n) slices total instead of O(tokens), ~3×
    faster on the interpreted higher-order-function path.
    """
    toks = F.split(normalized(text_col), " ")
    k = F.size(toks)
    grams = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(k - j, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    ngrams = F.filter(grams, lambda g: g.isNotNull())
    whole = F.array(F.concat_ws(" ", toks))
    return F.array_distinct(F.when(k >= n, ngrams).otherwise(whole))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: group by normalized-text fingerprint, keep the min-id
    representative and the copy count. One hash-shuffle on a 32-char key
    regardless of document size."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = DEFAULT_SHINGLE_N,
) -> DataFrame:
    """(id, sh: array<string>) distinct shingle set per document."""
    return df.select(F.col(id_col), word_shingles(text_col, shingle_n).alias("sh"))


def minhash_signatures(
    sh_df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    vectorized: bool = True,
) -> DataFrame:
    """(id, mh_0..mh_{k-1}) MinHash signatures from a shingle-set frame.

    Hash family: ONE md5 per shingle, split into two 60-bit halves
    (h1 = hex[1:15], h2 = hex[16:30]), then Kirsch–Mitzenmacher double
    hashing h_i = (h1 + i·h2) mod KM_MODULUS. Same statistical guarantees
    as k independent hashes for MinHash/Bloom-style sketches, at 1/k the
    hashing cost.

    Shape matters for performance — this is the third formulation, each
    measured at sf0.1:

    - k × ``array_min(transform(...))`` columns straight off the text:
      Catalyst inlines the whole tokenize→ngram chain k times — ~50×
      slower. Never do this.
    - explode + hash-aggregate with k ``min`` columns: correct and
      map-side-combinable, but the explode materializes one row per
      (doc, shingle) and the aggregate is a full shuffle — 1.6 s.
    - THIS shape: per-row fold. One ``transform`` md5-hashes the
      shingle array, a second splits each hex into an (h1, h2) struct,
      and a single ``aggregate`` folds all k mins in one pass over the
      array into a k-field struct accumulator (each element's h1/h2
      computed once, referenced k times as struct fields) — 0.6 s, and
      ZERO shuffle: signatures are computed entirely map-side in the
      row that already holds the shingle array. At cluster scale the
      signature stage disappears from the shuffle profile; only the
      downstream band-bucket aggregate moves data.

    Optimization r13 (``vectorized=True``, the default — guide §4.2):
    the md5 + hex-split + mod stay in the JVM (codegen string/conv
    work), and ONLY the k-min Kirsch–Mitzenmacher fold moves to one
    numpy pass per Arrow batch — ``min_i over shingles of
    (h1 + i·h2) mod m`` vectorized as a (Σ shingles × k) int64
    broadcast + ``minimum.reduceat``. Every operand is a non-negative
    int64 < 2^44 (m ≈ 2^40, k ≤ 12 ⇒ h1 + i·h2 < 2^44), so the numpy
    arithmetic is EXACT integer arithmetic — provably bit-identical to
    the fold expression, with no float-rounding caveat at all (unlike
    :func:`exact_threshold_pairs`' float64 GEMM, which therefore keeps
    an exact JVM verify). ``vectorized=False`` keeps the pure-expression
    fold; a pytest pins the two paths equal on the corpus plus edge
    cases.
    """
    m = F.lit(KM_MODULUS)
    hexes = F.transform("sh", lambda s: F.md5(s))
    pairs = F.transform(
        hexes,
        lambda hx: F.struct(
            (F.conv(F.substring(hx, 1, 15), 16, 10).cast("bigint") % m).alias("h1"),
            (F.conv(F.substring(hx, 16, 15), 16, 10).cast("bigint") % m).alias("h2"),
        ),
    )
    if vectorized:
        nz = sh_df.where(F.col("sh").isNotNull() & (F.size("sh") > 0))
        # two chained Projects: _hp (one md5 per shingle) materializes
        # in the first, and the h1/h2 extraction reads the materialized
        # column — CollapseProject cannot inline the non-cheap,
        # twice-referenced _hp, so md5 runs ONCE per shingle, exactly
        # like the fold shape
        hp = nz.select(F.col(id_col), pairs.alias("_hp")).select(
            F.col(id_col),
            F.transform("_hp", lambda p: p["h1"]).alias("_h1"),
            F.transform("_hp", lambda p: p["h2"]).alias("_h2"),
        )
        id_type = sh_df.select(F.col(id_col)).schema[0].dataType.simpleString()

        def _fold(batches):
            import numpy as np

            ks = np.arange(num_hashes, dtype=np.int64)

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                lens = pdf["_h1"].map(len).to_numpy(dtype=np.int64)
                h1 = np.concatenate(
                    [np.asarray(a, dtype=np.int64) for a in pdf["_h1"]]
                )
                h2 = np.concatenate(
                    [np.asarray(a, dtype=np.int64) for a in pdf["_h2"]]
                )
                hk = (h1[:, None] + h2[:, None] * ks[None, :]) % KM_MODULUS
                offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
                mins = np.minimum.reduceat(hk, offs, axis=0)
                out = pdf[[id_col]].copy()
                for i in range(num_hashes):
                    out[f"mh_{i}"] = mins[:, i]
                yield out

        schema = f"{id_col} {id_type}, " + ", ".join(
            f"mh_{i} long" for i in range(num_hashes)
        )
        return hp.mapInPandas(_fold, schema)
    # init = KM_MODULUS (> any h_i): the fold's neutral element. Empty
    # arrays never reach the fold (filtered below), so no row can carry
    # the bare init as a signature.
    init = F.struct(
        *[F.lit(KM_MODULUS).cast("bigint").alias(f"mh_{i}") for i in range(num_hashes)]
    )
    sig = F.aggregate(
        pairs,
        init,
        lambda a, x: F.struct(
            *[
                F.least(a[f"mh_{i}"], (x["h1"] + F.lit(i) * x["h2"]) % m).alias(
                    f"mh_{i}"
                )
                for i in range(num_hashes)
            ]
        ),
    )
    # NULL or EMPTY shingle arrays (NULL/short text) are dropped — the
    # explode+aggregate shape this replaced emitted no row for them,
    # and keeping that contract matters: a shared sentinel signature
    # (the fold's all-KM_MODULUS init) would collapse every empty doc
    # into one LSH band bucket, exactly the false-candidate blow-up the
    # bucket cap exists to prevent. word_shingles never emits empty
    # arrays, but this is the public signature-stage API.
    return (
        sh_df.where(F.col("sh").isNotNull() & (F.size("sh") > 0))
        .select(F.col(id_col), sig.alias("_s"))
        .select(
            id_col, *[F.col(f"_s.mh_{i}").alias(f"mh_{i}") for i in range(num_hashes)]
        )
    )


def _bands_from_signatures(
    sigs: DataFrame, id_col: str, num_hashes: int, band_rows: int
) -> DataFrame:
    """(id, band, band_hash) — one row per document per band."""
    structs = [
        F.struct(
            F.lit(b).alias("band"),
            # '_' separator: mh values are variable-width decimal strings,
            # so bare concat would alias ('12','345') with ('123','45')
            F.md5(
                F.concat_ws(
                    "_", *[F.col(f"mh_{b * band_rows + r}") for r in range(band_rows)]
                )
            ).alias("band_hash"),
        )
        for b in range(num_hashes // band_rows)
    ]
    return sigs.select(
        F.col(id_col), F.explode(F.array(*structs)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"))


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_rows: int = DEFAULT_BAND_ROWS,
    shingle_n: int = DEFAULT_SHINGLE_N,
) -> DataFrame:
    """(id, band, band_hash) — one row per document per band."""
    sigs = minhash_signatures(
        shingle_sets(df, id_col, text_col, shingle_n), id_col, num_hashes
    )
    return _bands_from_signatures(sigs, id_col, num_hashes, band_rows)


def pair_combinations(array_col: str, a_name: str, b_name: str):
    """All ordered combinations (x, y with x before y) of a SORTED
    array column as an array of structs — the HOF pair-expansion shared
    by bucket-local candidate generation and the source-overlap matrix.
    1-based slice arithmetic: element i pairs with the i+2..end tail."""
    return F.flatten(
        F.expr(
            f"transform({array_col}, (x, i) -> transform("
            f"slice({array_col}, i + 2, size({array_col}) - i - 1), "
            f"y -> struct(x AS {a_name}, y AS {b_name})))"
        )
    )


def candidate_pairs_from_bands(
    bands: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int | None = MAX_BAND_BUCKET,
    predrop: bool = False,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing ≥1 LSH band bucket.

    Single-shuffle formulation: hash-partition once on
    (band, band_hash), gather each bucket's ids with ``collect_set``,
    and emit the sorted-array combinations with higher-order functions —
    no self-join, and the bands subtree executes exactly once (a
    self-join would re-execute it per branch or force a cache).
    Measured ~1.4× faster than the guarded self-join at sf0.1.

    Buckets with more than ``max_bucket`` members emit NO pairs, so a
    mass-duplicated corpus can't turn pair generation quadratic (see
    MAX_BAND_BUCKET); ``max_bucket=None`` disables the guard. Two
    enforcement modes with identical output:

    - default (``predrop=False``): ONE aggregation; the size filter
      runs on the gathered array before any pair is emitted. Peak agg
      memory is O(largest actual bucket) — ids only, so even a
      pathological 1M-member bucket is ~8 MB, and nothing quadratic
      ever materializes. Fastest: no second branch, no checkpoint
      (~0.5 s faster at sf0.1 than the pre-drop mode).
    - ``predrop=True``: bucket COUNTS (constant memory) are partially
      aggregated first, the rare oversized keys broadcast back as an
      anti-join, and no oversized bucket's member array is ever built.
      For adversarial corpora where a single bucket's id list itself
      would not fit an executor (billions of identical documents that
      exact-dedup should have removed first). Costs a lazy
      localCheckpoint pinning the bands so the count and pair branches
      share one minhash computation (deterministic either way — the
      pin is a cost optimization; blocks are freed by the
      ContextCleaner when the frame is GC'd)."""
    if max_bucket is not None and predrop:
        bands = bands.localCheckpoint(eager=False)
        oversized = (
            bands.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .filter(F.col("_bsz") > max_bucket)
            .select("band", "band_hash")
        )
        bands = bands.join(F.broadcast(oversized), ["band", "band_hash"], "left_anti")
    size_ok = F.size("ids") >= 2
    if max_bucket is not None and not predrop:
        size_ok = size_ok & (F.size("ids") <= max_bucket)
    buckets = (
        bands.groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .filter(size_ok)
    )
    return (
        buckets.select(F.explode(pair_combinations("ids", "id_a", "id_b")).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    use_cache: bool = True,
    **kw,
) -> DataFrame:
    """Candidate pairs straight from text. The grouped pair generation
    consumes the (id, band, band_hash) subtree exactly once, so no
    cache is needed; ``use_cache`` is kept for API compatibility and
    ignored."""
    del use_cache
    return candidate_pairs_from_bands(minhash_bands(df, id_col, text_col, **kw), id_col)


def band_skew_monitor(
    bands: DataFrame,
    max_bucket: int | None = MAX_BAND_BUCKET,
    p: int = 10,
) -> DataFrame:
    """Per-band LSH bucket-skew telemetry for ingest dedup — the
    monitor that says, BEFORE pair generation, whether a batch is about
    to hit the :data:`MAX_BAND_BUCKET` guard (mass duplication, boiler-
    plate shingles, adversarial content) and how hot the hottest bucket
    is.

    Two views per band, one scan each of the (id, band, band_hash)
    frame:

    - exact: per-bucket counts (one map-side-combinable hash aggregate,
      state O(buckets)) rolled up to n_rows / n_buckets /
      max_bucket_size / n_oversized per band;
    - sketched: a grouped HyperLogLog distinct-bucket estimate
      (sketches.hll_distinct_grouped, ≤2^p registers per band) with its
      relative error against the exact count. The HLL registers are
      MERGEABLE monoid state — the piece that runs unchanged over a
      streaming ingest's micro-batches or a 100 TB corpus where
      per-bucket exact maps are only tolerable batch-side, plus a
      live audit of the sketch's accuracy while the exact path is
      still cheap enough to run.

    avg bucket size ≈ n_rows/n_buckets; max_bucket_size ≫ that average
    (or n_oversized > 0) flags the skew that would make pair
    generation quadratic without the cap.
    """
    from covid_custom_sql_engine_spark.functions import sketches as sks

    b = bands.select(F.col("band").cast("bigint").alias("band"), "band_hash")
    sizes = b.groupBy("band", "band_hash").agg(F.count(F.lit(1)).alias("_sz"))
    over = (
        F.lit(0).cast("long")
        if max_bucket is None
        else F.sum(F.when(F.col("_sz") > max_bucket, 1).otherwise(0)).cast("long")
    )
    stats = sizes.groupBy("band").agg(
        F.sum("_sz").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("_sz").cast("bigint").alias("max_bucket_size"),
        over.alias("n_oversized"),
    )
    hll = sks.hll_distinct_grouped(b, "band_hash", ["band"], p=p).select(
        "band", F.col("hll_distinct").alias("hll_buckets")
    )
    return stats.join(hll, "band").select(
        "band",
        "n_rows",
        "n_buckets",
        "hll_buckets",
        F.round(
            F.abs(F.col("hll_buckets") - F.col("n_buckets")) / F.col("n_buckets"), 4
        ).alias("hll_rel_err"),
        "max_bucket_size",
        "n_oversized",
    )


def incremental_lsh_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = MAX_BAND_BUCKET,
    predrop: bool = False,
    **kw,
) -> DataFrame:
    """Incremental dedup: candidate pairs between a NEW document batch
    and an EXISTING corpus — (new_id, corpus_id) — without ever pairing
    the corpus against itself. The shape a production ingest pipeline
    needs: each arriving batch is checked against everything already
    accepted, and corpus×corpus work (already done on earlier batches)
    is never repeated.

    Same single-shuffle formulation as
    :func:`candidate_pairs_from_bands`: band both sides, tag provenance,
    hash-partition once on (band, band_hash); each surviving bucket
    gathers its new and corpus ids into two arrays and emits only the
    cross pairs. The bucket-size cap applies to the JOINT bucket, with
    the same two modes as candidate_pairs_from_bands: default = size
    filter on the gathered arrays in the one aggregation pass
    (O(bucket) id-only memory, nothing quadratic); ``predrop=True`` =
    constant-memory partial count + broadcast anti-join so oversized
    member arrays are never built (adversarial mass-duplication). In
    production the corpus side's bands would be a stored table
    maintained across batches — banding is per-document, so only the
    new batch needs hashing per ingest.
    """
    bn = minhash_bands(new_df, id_col, text_col, **kw).withColumn("_new", F.lit(True))
    bo = minhash_bands(corpus_df, id_col, text_col, **kw).withColumn(
        "_new", F.lit(False)
    )
    return incremental_pairs_from_bands(
        bn.unionByName(bo), id_col, max_bucket=max_bucket, predrop=predrop
    )


def incremental_pairs_from_bands(
    bands: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int | None = MAX_BAND_BUCKET,
    predrop: bool = False,
    _pin_for_predrop: bool = True,
) -> DataFrame:
    """The pair-generation body of :func:`incremental_lsh_pairs`, taking
    pre-computed provenance-tagged bands (id, band, band_hash, _new) —
    split out so a caller that already materialized the joint bands (the
    guarded ingest path, which also feeds them to the skew monitor) can
    generate pairs without re-hashing. ``_pin_for_predrop=False`` skips
    the predrop-mode localCheckpoint when the caller pinned the frame
    itself."""
    if max_bucket is not None and predrop:
        if _pin_for_predrop:
            bands = bands.localCheckpoint(eager=False)
        oversized = (
            bands.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .filter(F.col("_bsz") > max_bucket)
            .select("band", "band_hash")
        )
        bands = bands.join(F.broadcast(oversized), ["band", "band_hash"], "left_anti")
    size_ok = (F.size("new_ids") >= 1) & (F.size("corpus_ids") >= 1)
    if max_bucket is not None and not predrop:
        size_ok = size_ok & (F.size("new_ids") + F.size("corpus_ids") <= max_bucket)
    buckets = (
        bands.groupBy("band", "band_hash")
        .agg(
            F.array_sort(
                F.collect_set(F.when(F.col("_new"), F.col(id_col)))
            ).alias("new_ids"),
            F.array_sort(
                F.collect_set(F.when(~F.col("_new"), F.col(id_col)))
            ).alias("corpus_ids"),
        )
        .filter(size_ok)
    )
    return (
        buckets.select(
            F.explode(
                F.flatten(
                    F.expr(
                        "transform(new_ids, x -> transform(corpus_ids, "
                        "y -> struct(x AS new_id, y AS corpus_id)))"
                    )
                )
            ).alias("p")
        )
        .select("p.new_id", "p.corpus_id")
        .distinct()
    )


def guarded_incremental_lsh_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = MAX_BAND_BUCKET,
    **kw,
) -> tuple[DataFrame, bool]:
    """The closed ingest loop: :func:`band_skew_monitor` runs over the
    joint (new ∪ corpus) bands BEFORE pair generation, and its
    ``n_oversized`` telemetry picks the enforcement mode —
    ``predrop=True`` (constant-memory count + broadcast anti-join; no
    oversized member array is ever built) exactly when some joint
    bucket exceeds ``max_bucket``, the default single-aggregation mode
    otherwise. Returns ``(pairs, predrop_used)``.

    Both modes emit identical pairs (the cap itself is unconditional),
    so the gate is purely a memory-shape decision: an adversarial batch
    (mass duplication — thousands of identical documents hashing to one
    bucket) flips the ingest onto the path where the hot bucket's id
    list is never gathered. The gate read is one bounded action (a
    1-row sum of per-band oversized counts — "action, not plan", like
    the k-means centroid fetch); the joint bands are pinned once
    (lazy localCheckpoint) and shared by the monitor scan and the pair
    generation, so the minhash computation runs once regardless of
    mode."""
    bn = minhash_bands(new_df, id_col, text_col, **kw).withColumn("_new", F.lit(True))
    bo = minhash_bands(corpus_df, id_col, text_col, **kw).withColumn(
        "_new", F.lit(False)
    )
    bands = bn.unionByName(bo).localCheckpoint(eager=False)
    n_over = (
        band_skew_monitor(bands.drop("_new"), max_bucket=max_bucket)
        .agg(F.sum("n_oversized").alias("_n"))
        .collect()[0]["_n"]
    )  # 1-row action — the gate
    predrop = bool(n_over)
    pairs = incremental_pairs_from_bands(
        bands, id_col, max_bucket=max_bucket, predrop=predrop, _pin_for_predrop=False
    )
    return pairs, predrop


def jaccard_from_shingles(
    sh_df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (the verify step).
    Only candidate pairs are scored — never all-pairs."""
    a = sh_df.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh_df.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)).alias("jaccard"),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = DEFAULT_SHINGLE_N,
) -> DataFrame:
    return jaccard_from_shingles(shingle_sets(df, id_col, text_col, shingle_n), pairs, id_col)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = DEFAULT_SHINGLE_N,
    threshold: float | None = None,
    max_df: int = 50,
    use_cache: bool = True,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs via an inverted shingle index
    (the non-MinHash member of the dedup family).

    Pipeline: shingle sets → explode to (shingle, doc) postings →
    drop *stop shingles* (document frequency > ``max_df``, the standard
    prefix/frequency filter that bounds the posting self-join at corpus
    scale) → self-join postings on shingle for candidate pairs →
    exact Jaccard verify on candidates only.

    Scale shape: ONE equi-shuffle of the postings on the shingle
    string. The ``max_df`` stop-shingle cap is a window count over that
    same partitioning (applied BEFORE any aggregation, so no hot
    posting list is ever materialized), then each surviving shingle's
    ids gather once and emit their sorted combinations — fan-out
    bounded at max_df² per shingle, no posting self-join.
    """
    sh = shingle_sets(df, id_col, text_col, shingle_n)
    if use_cache:
        sh = sh.cache()
    postings = sh.select(F.col(id_col), F.explode("sh").alias("shingle"))
    w = Window.partitionBy("shingle")
    postings = (
        postings.withColumn("_df", F.count(F.lit(1)).over(w))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )
    cand = (
        postings.groupBy("shingle")
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.flatten(
                    F.expr(
                        "transform(ids, (x, i) -> transform("
                        "slice(ids, i + 2, size(ids) - i - 1), "
                        "y -> struct(x AS id_a, y AS id_b)))"
                    )
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    verified = jaccard_from_shingles(sh, cand, id_col)
    if threshold is not None:
        verified = verified.filter(F.col("jaccard") >= threshold)
    return verified


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float | None = 0.7,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_rows: int = DEFAULT_BAND_ROWS,
    shingle_n: int = DEFAULT_SHINGLE_N,
    use_cache: bool = True,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle → sign → band →
    candidate equi-join → Jaccard verify.

    ``use_cache`` persists the shingle sets, which THREE subtrees
    consume: the signature fold feeding candidate generation, and both
    sides of the Jaccard-verify join. Default ON: since the signature
    stage became a per-row fold (no shuffle whose exchange the
    optimizer could reuse), recompute means running the tokenize→
    shingle chain three times — measured at sf0.1 the cache wins 1.48 s
    vs 2.33 s including its own materialization (Spark's CacheManager
    keys on the logical plan, so repeated calls share one cached copy).
    At cluster scale the same reuse would be a checkpointed/persisted
    table between pipeline stages; MEMORY_AND_DISK spills rather than
    OOMs if the shingle corpus outgrows executor memory.
    """
    sh = shingle_sets(df, id_col, text_col, shingle_n)
    if use_cache:
        sh = sh.cache()
    sigs = minhash_signatures(sh, id_col, num_hashes)
    bands = _bands_from_signatures(sigs, id_col, num_hashes, band_rows)
    cand = candidate_pairs_from_bands(bands, id_col)
    verified = jaccard_from_shingles(sh, cand, id_col)
    if threshold is not None:
        verified = verified.filter(F.col("jaccard") >= threshold)
    return verified


SIMHASH_BITS = 32  # one bit per md5 hex nibble's high bit


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """SimHash: per-bit majority vote over token-occurrence md5 bits.

    Bit j of a token = high bit of hex nibble j of md5(token) (nibble
    ≥ 8). Documents with no tokens are dropped (no votes). Output: a
    32-char '0'/'1' bitstring — hamming distance on it = simhash
    distance. One explode + one hash aggregate; no UDFs.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalized(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    h = toks.withColumn("th", F.md5("tok"))
    votes = [
        F.sum(
            F.when(F.substring("th", j + 1, 1) >= "8", 1).otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = h.groupBy(id_col).agg(*votes)
    bits = F.concat(
        *[F.when(F.col(f"v_{j}") > 0, "1").otherwise("0") for j in range(SIMHASH_BITS)]
    )
    return agg.select(F.col(id_col), bits.alias("simhash"))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    pairs_distinct: bool = False,
) -> DataFrame:
    """Connected components of the near-dup pair graph by iterative
    min-label propagation: every vertex starts labeled with itself; each
    round every vertex takes the min label in its neighborhood; stop
    when no label changes. Returns (id, component) with component = min
    vertex id in the component.

    Scale shape: each round is one equi-join (edges ⋈ labels) + one
    hash aggregate — all shuffles on the vertex id — followed by a
    POINTER JUMP (component := label(component), one O(nodes)
    self-join on the label frame). The jump halves remaining chain
    depth every round, so convergence needs O(log diameter) rounds,
    not diameter rounds: a 1M-hop chain converges inside ``max_iter``
    = 20 (2^20 hops) where pure neighborhood-min propagation would
    silently stop un-converged at round 20 — exactly what the sf0.1
    ann_join_clusters graph exposed (thin τ-threshold chains with
    diameter > 20; the round-10 red). Labels initialize at the 1-hop
    minimum (``least(src, min(dst))``, one aggregate straight off the
    materialized edges) — the first propagation round costs an
    aggregate instead of a join+aggregate and the loop starts one hop
    ahead. The jump is label-algebra only: a label is always a vertex
    id inside the same component (initialization picks a neighbor or
    self; neighbor-min and label-of-label both stay inside the
    component), and labels only decrease, so the unique fixpoint —
    every vertex at its component minimum — is unchanged; the jump
    just reaches it exponentially faster.

    Lineage is truncated every round — the standard Spark idiom for
    iterative algorithms. Default is ``localCheckpoint`` (fast; blocks
    live on executor storage, fine for local mode and short jobs). For
    a long-running cluster job pass ``checkpoint_dir`` (HDFS/object
    store): rounds then use reliable ``checkpoint()``, so losing an
    executor cannot lose a round's labels mid-computation.
    """
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    # both edge directions from ONE scan of the pairs plan (a union of
    # two selects would execute the upstream candidate-pair pipeline
    # twice — explode duplicates rows after they're computed instead).
    # pairs_distinct=True skips the dedup shuffle: if the input pairs
    # are distinct with id_a < id_b (every candidate-pair generator in
    # this package ends with .distinct()), both orientations are
    # automatically distinct too. Duplicate edges would not change the
    # fixpoint anyway — only the per-round join fan-out.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    if not pairs_distinct:
        edges = edges.distinct()
    edges = _ckpt(edges)
    labels = _ckpt(
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("component"))
        .select(F.col("src").alias("id"), "component")
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("component").alias("n_comp"))
        )
        # checkpoint the stepped labels: the pointer jump reads this
        # frame from two branches (rows + the label lookup side), so
        # the eager pin both severs the self-join lineage and freezes
        # one evaluation for both readers
        stepped = _ckpt(
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("n_comp"), F.col("component"))
                ).alias("component"),
                F.col("component").alias("_prev"),
            )
        )
        # pointer jump: component := label(component). Every label is a
        # vertex id in the same component, so the lookup always lands
        # (left join + coalesce is belt-and-braces); chain depth halves
        # per round → O(log diameter) total rounds.
        lut = stepped.select(
            F.col("id").alias("_jid"), F.col("component").alias("_jcomp")
        )
        new_labels = _ckpt(
            stepped.join(lut, stepped["component"] == lut["_jid"], "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("_jcomp"), F.col("component")),
                ).alias("component"),
                "_prev",
            )
        )
        # carry the previous label through the checkpoint: the
        # convergence test is then a scan of already-materialized data
        # (limit-1 short-circuit) instead of a second join per round
        changed = (
            new_labels.filter(F.col("component") != F.col("_prev")).limit(1).count()
        )
        labels = new_labels.select("id", "component")
        if changed == 0:
            break
    return labels.select("id", "component")


def near_dup_keep(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Corpus minus near-duplicates: cluster the pair graph, keep the
    min-id representative of each cluster plus all unpaired documents.
    Output: (id, keep, component) for every input document.

    ``pairs`` is expected from a candidate-pair generator in this
    package (all end with .distinct()), so the edge-dedup shuffle is
    skipped."""
    comp = connected_components(pairs, id_a, id_b, pairs_distinct=True)
    out = df.select(F.col(id_col).alias("id")).join(comp, "id", "left")
    return out.select(
        "id",
        F.coalesce(F.col("component"), F.col("id")).alias("component"),
    ).withColumn("keep", F.col("id") == F.col("component"))


def prefix_filter_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT token-set Jaccard similarity join via PREFIX FILTERING —
    the AllPairs/PPJoin family (Bayardo et al. 2007, public): order
    every document's distinct tokens by a single global rarity order
    (document frequency asc, token asc — a total order, so both
    engines sort identically), keep only each document's PREFIX of
    length ``n − ⌈τ·n⌉ + 1``, and generate candidates from prefix
    postings alone. LOSSLESS by the pigeonhole argument: a pair with
    Jaccard ≥ τ shares ≥ ⌈τ·max(|A|,|B|)⌉ tokens, and the smallest-
    order shared token necessarily lands inside BOTH prefixes — so
    unlike the df-capped shingle index (ngram_jaccard_pairs) or
    MinHash banding, the candidate set provably contains every
    qualifying pair, and the SQL oracle can be the pure all-pairs
    spec with no algorithm mirrored. Exact Jaccard verification then
    keeps candidates with J ≥ τ.

    Scale shape: at τ = 0.95 each document contributes ~5% of its
    tokens to the postings, and those are its RAREST tokens — the
    short posting lists — so the candidate self-join's fan-out per
    token is small by construction (rarity ordering is what makes
    prefix filtering work at corpus scale; a frequent token never
    enters a prefix unless a document is almost all stop-words).
    One shuffle builds df, one orders tokens per doc, one self-joins
    the prefix postings, and the verify joins the (bounded) candidate
    set back to the token arrays. Returns (id_a, id_b, jaccard ≥ τ),
    jaccard rounded to 6 for cross-engine display while the FILTER
    compares the unrounded IEEE quotient (identical on both engines
    given identical integer operands).
    """
    from covid_custom_sql_engine_spark.functions.text import tokens

    return prefix_filter_pairs_sets(
        df.select(
            F.col(id_col), F.array_distinct(tokens(text_col)).alias("_t")
        ),
        threshold=threshold,
        id_col=id_col,
        set_col="_t",
    )


def prefix_filter_pairs_sets(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "doc_id",
    set_col: str = "_t",
) -> DataFrame:
    """:func:`prefix_filter_pairs` on a PREBUILT distinct-element array
    column — the same lossless AllPairs/PPJoin machinery (rarity-
    ordered prefixes + length + positional filters + exact verify)
    generalized beyond whitespace tokens, so character n-gram /
    shingle / feature-set similarity joins reuse one implementation
    (`trigram_name_match` feeds character trigrams through this).
    Semantics, epsilon guards, and plan shape identical to the text
    version; elements may contain any characters (including spaces)
    since no tokenization happens here.
    """
    tk = (
        df.select(F.col(id_col), F.array_distinct(F.col(set_col)).alias("_t"))
        .filter(F.size("_t") > 0)
        .localCheckpoint(eager=False)  # postings + both verify sides
    )
    posting = tk.select(F.col(id_col), F.explode("_t").alias("_tok"))
    df_tok = posting.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    pre = (
        posting.join(df_tok, "_tok")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_df", "_tok"))
            ).alias("_s")
        )
        .select(
            F.col(id_col),
            # safe-side epsilon (same discipline as the positional
            # filter): when tau*n is an exact integer, IEEE rounding
            # could push the product one ulp HIGH, shrink the prefix,
            # and silently break the lossless guarantee — subtracting
            # 1e-9 before ceil() can only LENGTHEN the prefix (extra
            # candidates are harmless; the exact verify decides).
            F.expr(
                "slice(transform(_s, s -> s._tok), 1, "
                f"size(_s) - cast(ceil({threshold!r} * size(_s) - 1e-9)"
                " as int) + 1)"
            ).alias("_pre"),
        )
    )
    # the size and the prefix POSITION ride with each posting so two
    # further lossless prunes apply inside the join (full PPJoin):
    # - LENGTH filter: J(A,B) ≥ τ forces τ·|A| ≤ |B| ≤ |A|/τ
    #   (intersection ≤ min size, union ≥ max size);
    # - POSITIONAL filter: both prefixes are sorted by the SAME global
    #   order, so the globally-smallest shared token sits at the
    #   minimum position in BOTH lists; every other shared token comes
    #   after it, hence overlap ≤ min(|A|−i₀, |B|−j₀). J ≥ τ forces
    #   overlap ≥ τ/(1+τ)·(|A|+|B|), so pairs whose positional bound
    #   can't reach that die before the verify join (a 1-ulp epsilon
    #   keeps the float comparison on the safe/lossless side — a
    #   borderline extra candidate is harmless, the verify decides).
    pp = (
        pre.join(tk.select(F.col(id_col), F.size("_t").alias("_n")), id_col)
        .select(
            F.col(id_col),
            F.col("_n"),
            F.posexplode("_pre").alias("_pos", "_tok"),
        )
    )
    alpha = (F.col("_na") + F.col("_nb")) * F.lit(
        float(threshold) / (1.0 + float(threshold))
    ) - F.lit(1e-9)
    cand = (
        pp.select(
            F.col(id_col).alias("id_a"),
            F.col("_n").alias("_na"),
            F.col("_pos").alias("_ia"),
            "_tok",
        )
        .join(
            pp.select(
                F.col(id_col).alias("id_b"),
                F.col("_n").alias("_nb"),
                F.col("_pos").alias("_jb"),
                "_tok",
            ),
            "_tok",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter with the same safe-side epsilon: a
            # borderline n*tau == integer must ADMIT the partner, not
            # reject a true J == tau pair one ulp early.
            & (
                F.col("_nb") * F.lit(float(threshold)) - F.lit(1e-9)
                <= F.col("_na")
            )
            & (
                F.col("_na") * F.lit(float(threshold)) - F.lit(1e-9)
                <= F.col("_nb")
            )
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.first("_na").alias("_na"),
            F.first("_nb").alias("_nb"),
            F.min("_ia").alias("_i0"),
            F.min("_jb").alias("_j0"),
        )
        .filter(
            F.least(
                F.col("_na") - F.col("_i0"), F.col("_nb") - F.col("_j0")
            )
            >= alpha
        )
        .select("id_a", "id_b")
    )
    a = tk.select(F.col(id_col).alias("id_a"), F.col("_t").alias("_ta"))
    b = tk.select(F.col(id_col).alias("id_b"), F.col("_t").alias("_tb"))
    inter = F.size(F.array_intersect("_ta", "_tb"))
    # |A∪B| = |A| + |B| − |A∩B| — exact on the array_distinct'd sets,
    # replacing the second per-pair hash-set build (optimization r12)
    union = F.size("_ta") + F.size("_tb") - inter
    j = inter.cast("double") / union
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .filter(j >= F.lit(threshold))
        .select("id_a", "id_b", F.round(j, 6).alias("jaccard"))
    )


def prefix_filter_pairs_sets_rs(
    df_a: DataFrame,
    df_b: DataFrame,
    threshold: float = 0.95,
    id_col: str = "doc_id",
    set_col: str = "_t",
) -> DataFrame:
    """BIPARTITE (R-S) variant of :func:`prefix_filter_pairs_sets`:
    every (a ∈ df_a, b ∈ df_b) pair with set-Jaccard ≥ τ. Identical
    rarity-ordered prefixes (document frequency taken over the UNION
    of both frames — one total order shared by both sides, exactly as
    if the self-join ran on the union), identical length/positional
    prunes and epsilon discipline, identical exact verify. LOSSLESS by
    the same pigeonhole argument — the prefix guarantee is a property
    of the two prefix SETS, not of which side each set lives on.

    Why it exists (optimization round 12, guide §2.3 "shuffle fewer
    bytes"): record-linkage queries (`trigram_name_match`,
    `trigram_match_scaled`) only ever keep ORIGINAL×CORRUPTED pairs,
    but the self-join on the union materializes A×A, B×B and both
    orientations of A×B before the caller's side filter discards ~75%
    of them. Joining the two posting sides directly generates exactly
    the cross pairs — 4× fewer joined rows into the candidate
    aggregate at equal halves — with byte-identical surviving pairs
    (caller contract: ids unique ACROSS both frames, as with the
    self-join's unique-id contract).

    Returns (id_a from df_a, id_b from df_b, jaccard) — no id_a < id_b
    constraint; the side split replaces it.
    """

    def _tk(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.col(id_col), F.array_distinct(F.col(set_col)).alias("_t")
            )
            .filter(F.size("_t") > 0)
            .localCheckpoint(eager=False)  # postings + verify side
        )

    tka, tkb = _tk(df_a), _tk(df_b)
    post_a = tka.select(F.col(id_col), F.explode("_t").alias("_tok"))
    post_b = tkb.select(F.col(id_col), F.explode("_t").alias("_tok"))
    # document frequency over BOTH sides: the same global rarity order
    # the self-join on the union would use; consumed by both prefix
    # builds, so pinned once
    df_tok = (
        post_a.unionAll(post_b)
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_df"))
        .localCheckpoint(eager=False)
    )

    def _pp(tk: DataFrame, posting: DataFrame) -> DataFrame:
        pre = (
            posting.join(df_tok, "_tok")
            .groupBy(id_col)
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("_df", "_tok"))
                ).alias("_s")
            )
            .select(
                F.col(id_col),
                # same safe-side epsilon as the self-join (see there)
                F.expr(
                    "slice(transform(_s, s -> s._tok), 1, "
                    f"size(_s) - cast(ceil({threshold!r} * size(_s) - 1e-9)"
                    " as int) + 1)"
                ).alias("_pre"),
            )
        )
        return pre.join(
            tk.select(F.col(id_col), F.size("_t").alias("_n")), id_col
        ).select(
            F.col(id_col),
            F.col("_n"),
            F.posexplode("_pre").alias("_pos", "_tok"),
        )

    ppa, ppb = _pp(tka, post_a), _pp(tkb, post_b)
    alpha = (F.col("_na") + F.col("_nb")) * F.lit(
        float(threshold) / (1.0 + float(threshold))
    ) - F.lit(1e-9)
    # EXPLICIT keyed repartition of both posting sides (optimization
    # r12): the prefix frames are tiny relative to their join OUTPUT
    # (measured: AQE coalesced the exchange to ONE task which then
    # exploded 5.7M candidate rows at 20k names), and AQE's coalescing
    # sees only map-output bytes. An explicit partition count is
    # honored by AQE; the value is the session's shuffle-partition
    # setting, so it stays scale-adaptive (cluster-tuned), not a local
    # constant. The join reuses these exchanges — no extra shuffle.
    try:
        nparts = int(
            df_a.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):
        # platforms that set the conf to a non-integer (e.g. "auto")
        # still get a scale-adaptive count from the scheduler
        nparts = df_a.sparkSession.sparkContext.defaultParallelism
    cand = (
        ppa.select(
            F.col(id_col).alias("id_a"),
            F.col("_n").alias("_na"),
            F.col("_pos").alias("_ia"),
            "_tok",
        )
        .repartition(nparts, "_tok")
        .join(
            ppb.select(
                F.col(id_col).alias("id_b"),
                F.col("_n").alias("_nb"),
                F.col("_pos").alias("_jb"),
                "_tok",
            ).repartition(nparts, "_tok"),
            "_tok",
        )
        # length filter, both directions, same epsilon as the self-join
        .filter(
            (
                F.col("_nb") * F.lit(float(threshold)) - F.lit(1e-9)
                <= F.col("_na")
            )
            & (
                F.col("_na") * F.lit(float(threshold)) - F.lit(1e-9)
                <= F.col("_nb")
            )
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.first("_na").alias("_na"),
            F.first("_nb").alias("_nb"),
            F.min("_ia").alias("_i0"),
            F.min("_jb").alias("_j0"),
        )
        .filter(
            F.least(
                F.col("_na") - F.col("_i0"), F.col("_nb") - F.col("_j0")
            )
            >= alpha
        )
        .select("id_a", "id_b")
    )
    a = tka.select(F.col(id_col).alias("id_a"), F.col("_t").alias("_ta"))
    b = tkb.select(F.col(id_col).alias("id_b"), F.col("_t").alias("_tb"))
    inter = F.size(F.array_intersect("_ta", "_tb"))
    # |A∪B| = |A| + |B| − |A∩B| — exact on the array_distinct'd sets,
    # replacing the second per-pair hash-set build (optimization r12)
    union = F.size("_ta") + F.size("_tb") - inter
    j = inter.cast("double") / union
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .filter(j >= F.lit(threshold))
        .select("id_a", "id_b", F.round(j, 6).alias("jaccard"))
    )
