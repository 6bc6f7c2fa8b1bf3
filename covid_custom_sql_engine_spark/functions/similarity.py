"""Similarity search over embedding columns (``array<float>``).

Every top-k entry point is a candidate generator, a scorer and a ranker.
All arithmetic is in double after casting the float arrays, with
sequential left-to-right summation (``zip_with`` + ``aggregate``, JVM
side, no Python in the loop), so a SQL oracle mirrors every value.

Candidate generators (query × corpus pairs):

- full broadcast cross: :func:`brute_force_topk`, :func:`int8_topk`,
  :func:`hamming_topk`, :func:`pq_topk`, :func:`diversified_topk`
- hyperplane bucket equi-join: :func:`lsh_topk`
- probed cells (:func:`_probe`) joined to the cell assignment
  (:func:`_assign_nearest`): :func:`ivf_topk` and, over PQ postings,
  the one IVF-PQ serve body :func:`_ivfpq_serve` behind
  :func:`ivfpq_topk`, :func:`ivfpq_residual_topk` and
  :func:`query_ivfpq_index`
- a shortlist from another entry point: the exact re-rank
  :func:`_exact_rerank` behind :func:`hamming_rerank_topk` and
  :func:`ivfpq_rerank_topk`; :func:`mmr_topk` over
  :func:`brute_force_topk`'s shortlist

Scorers: exact cosine is :func:`_cos` over norms hoisted to one per row
(:func:`_normed`), bit-identical to :func:`cosine`; the quantized
surrogates are the int8 dot, the Hamming distance and the ADC lookup
sum (:func:`_adc_dist_lut` + :func:`_adc_lut_sum`).

Rankers: full-corpus crosses rank with :func:`_two_phase_topk`; every
other per-query tail is the single window of :func:`_rank_topk`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def as_double(vec: str | Column) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _cos(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """The exact-cosine scorer: ``dot(a, b) / (na · nb)``, NULL when
    the denominator is not positive. With ``na``/``nb`` hoisted norm
    columns (:func:`_normed`) a pair costs one dot fold instead of
    three; the expression tree is :func:`cosine`'s, so every double is
    bit-identical to it."""
    denom = na * nb
    return F.when(denom > 0, dot(a, b) / denom)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either norm is zero."""
    return _cos(a, b, norm(a), norm(b))


def _normed(
    df: DataFrame, id_col: str, vec_col: str, p: str, *extra: Column
) -> DataFrame:
    """(id, *extra, {p}v, {p}n): the double-cast vector and its norm,
    computed once per row so :func:`_cos` never re-folds it per pair."""
    return df.select(
        F.col(id_col), *extra, as_double(vec_col).alias(f"{p}v")
    ).withColumn(f"{p}n", norm(F.col(f"{p}v")))


def _qc_cos() -> Column:
    """:func:`_cos` of a query × corpus pair frame built from
    ``_normed(queries, …, "_q")`` and ``_normed(corpus, …, "_c")``."""
    return _cos(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn"))


def _two_phase_topk(
    scored: DataFrame,
    k: int,
    query_id_col: str,
    order: list[Column],
    out_cols: list[str | Column],
) -> DataFrame:
    """Per-query top-k over a corpus-sized scored frame WITHOUT a
    corpus-sized single-partition sort: phase 1 ranks within
    (query, input-partition) — parallelism = input partitions, each
    task sorts only its slice — and phase 2 ranks the ≤ k·P survivors
    per query. The global top-k is a subset of the union of
    per-partition top-ks under the SAME total order (scores tie-broken
    by the unique id), so the result is identical to the
    single-window shape for ANY partitioning — values, ties, and
    determinism unchanged, which is why the oracles don't move. The
    naive ``Window.partitionBy(query_id)`` degenerates at scale to
    |queries| reducer tasks each sorting the full corpus; this shape's
    phase-2 input is k·P rows per query."""
    pre = scored.withColumn("_pid", F.spark_partition_id())
    w1 = Window.partitionBy(query_id_col, "_pid").orderBy(*order)
    w2 = Window.partitionBy(query_id_col).orderBy(*order)
    return (
        pre.withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= k)
        .withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .select(*out_cols)
    )


def _rank_topk(
    scored: DataFrame,
    k: int,
    query_id_col: str | list[str],
    order: list[Column],
    out_cols: list[str | Column],
) -> DataFrame:
    """Single-window per-key top-k (row number ``_rn`` ≤ k under
    ``order``) for frames already cut down to candidates — probed
    cells, buckets, shortlists, fused or capped rows. A full-corpus
    cross uses :func:`_two_phase_topk` instead."""
    w = Window.partitionBy(query_id_col).orderBy(*order)
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(*out_cols)
    )


def _cos_topk(
    scored: DataFrame, k: int, id_col: str, query_id_col: str
) -> DataFrame:
    """(query_id, id, cos_sim, rank) via :func:`_rank_topk`: highest
    cosine first, NULL last, ties on the id."""
    return _rank_topk(
        scored,
        k,
        query_id_col,
        [F.col("cos_sim").desc_nulls_last(), F.col(id_col).asc()],
        [query_id_col, id_col, "cos_sim", F.col("_rn").alias("rank")],
    )


def _exact_rerank(
    cand: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Re-score a (query_id, id) shortlist with the exact cosine: the
    survivors join back to their float vectors by id (never a scan)
    and the query side is broadcast; top-k as :func:`_cos_topk`."""
    c = _normed(embeddings, id_col, vec_col, "_c")
    q = F.broadcast(_normed(queries, query_id_col, vec_col, "_q"))
    scored = (
        cand.join(c, id_col)
        .join(q, query_id_col)
        .select(query_id_col, id_col, _qc_cos().alias("cos_sim"))
    )
    return _cos_topk(scored, k, id_col, query_id_col)


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The (broadcast) query side crosses the corpus once — a
    BroadcastNestedLoopJoin scanning the corpus a single time for ALL
    queries — then the per-query top-k runs as a TWO-PHASE ranking
    (:func:`_two_phase_topk`): per-input-partition top-k first, global
    top-k over the k·P survivors second, so the exact baseline itself
    never funnels the corpus through |queries| reducer tasks.
    Self-matches excluded. Deterministic tie-break on neighbor id.
    """
    # norms HOISTED to one per row before the cross (optimization r12,
    # guide §4.1 built-ins/§1.2 per-task work): the interpreted
    # zip_with/aggregate norm lambda used to re-run per PAIR —
    # |corpus|·|queries| times per side — inside cosine(); computing it
    # once per query row and once per corpus row cuts the per-pair
    # arithmetic to the dot alone (~3×). Same expressions, same
    # operand order (norm(q)·norm(c)), so every double — and the NULL
    # gate on zero denominators — is bit-identical to cosine().
    # Optimization r13 note: a numpy GEMM candidate screen in front of
    # this exact fold (mapInPandas over the corpus, a collect() of the
    # query side, the fold re-run on the survivors) LOST at
    # local[2]/sf0.1 — perfbench retrieval_iterative medians over 6
    # alternating pairs on 4 vCPUs: warm pass 4.30 s fold vs 5.00 s
    # screen, cold 14.1 vs 16.1 s, 9.0 vs 10.7 cpu-s per pass — and it
    # crashed its Python worker on NULL or ragged vectors and non-long
    # ids. Kept the single fold deliberately.
    q = F.broadcast(_normed(queries, query_id_col, vec_col, "_q"))
    c = _normed(embeddings, id_col, vec_col, "_c")
    scored = (
        c.crossJoin(q)
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, _qc_cos().alias("cos_sim"))
    )
    return _two_phase_topk(
        scored,
        k,
        query_id_col,
        [F.col("cos_sim").desc_nulls_last(), F.col(id_col).asc()],
        [query_id_col, id_col, "cos_sim", F.col("_rn").alias("rank")],
    )


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """LSH bucket id: sign-bit string of dot products against fixed
    hyperplanes. With p planes, keys land in 2^p buckets — candidate
    search joins on the bucket key (equi-join) instead of crossing."""
    bits = [
        F.when(dot(vec, F.array(*[F.lit(x) for x in plane])) >= 0, "1").otherwise("0")
        for plane in planes
    ]
    return F.concat(*bits)


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell, _cv) per-label mean vectors with NO driver action.

    The obvious shape — ``F.avg(vec[i])`` for each index — needs the
    vector dimension at plan-build time, and probing it costs a
    ``first()`` (one extra job per invocation locally; a partition scan
    on the driver path at cluster scale). Instead: posexplode the
    elements, average per (cell, position) — a map-side-combinable hash
    aggregate shuffling O(cells × dim) rows — and reassemble the array
    in position order. Same multiset averaged per slot, and the same
    shape the SQL oracles use (unnest + avg)."""
    return (
        embeddings.select(
            F.col(label_col).alias("cell"),
            F.posexplode(as_double(vec_col)).alias("_p", "_x"),
        )
        .groupBy("cell", "_p")
        .agg(F.avg("_x").alias("_ax"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_ax"))),
                lambda s: s["_ax"],
            ).alias("_cv")
        )
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    planes: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs: hyperplane-LSH bucket equi-join, then
    exact cosine on candidates only (id_a < id_b). The all-pairs product
    never materializes — candidates are bucket-local, so the join stays
    an equi-join on the bucket key at any corpus size."""
    # one norm per vector here = one dot per PAIR below instead of three
    c = _normed(embeddings, id_col, vec_col, "_").withColumn(
        "_bucket", hyperplane_bucket(F.col("_v"), planes)
    )
    a = c.select(
        F.col(id_col).alias("id_a"), F.col("_v").alias("_va"),
        F.col("_n").alias("_na"), "_bucket",
    )
    b = c.select(
        F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"), "_bucket",
    )
    cos = _cos(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb"))
    return (
        a.join(b, "_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    label_col: str = "label",
) -> DataFrame:
    """IVF-flat ANN skeleton: centroids = per-``label`` mean vectors
    (standing in for k-means cells), every corpus vector assigned to its
    nearest centroid, queries probe the ``n_probe`` nearest cells and
    scan only those inverted lists.

    Scale shape: the centroid table is tiny → broadcast everywhere; the
    corpus pass is one scan to assign cells (persisted in practice), and
    each query touches |corpus|·(n_probe/n_cells) vectors.
    """
    cents = label_centroids(embeddings, label_col, vec_col)
    # corpus-side cell assignment: the zero-shuffle HOF argmax over the
    # 1-row broadcast centroid array (r7 — previously an N×cells
    # crossJoin funneled through a per-vector row_number window), which
    # also carries each vector's hoisted norm. nulls_first=True mirrors
    # `sim DESC NULLS FIRST` — the oracle's exact wording.
    corpus_cells = _assign_nearest(
        embeddings.select(F.col(id_col).alias("_id"), as_double(vec_col).alias("_v")),
        cents,
        nulls_first=True,
    ).select(
        F.col("_id").alias(id_col),
        F.col("_v").alias("_cv"),
        F.col("_vn").alias("_cn"),
        "cell",
    )
    probe = _probe(queries, cents, n_probe, query_id_col, vec_col).join(
        _normed(queries, query_id_col, vec_col, "_q"), query_id_col
    )
    scored = (
        corpus_cells.join(F.broadcast(probe), "cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, _qc_cos().alias("cos_sim"))
    )
    return _cos_topk(scored, k, id_col, query_id_col)


def _assign_nearest(
    vecs: DataFrame, cents: DataFrame, nulls_first: bool = False
) -> DataFrame:
    """Assign every ``(_id, _v)`` vector to its most-cosine-similar
    centroid from the (cell, _cv) table → (_id, cell, _v).

    The centroid table collapses to ONE array-of-structs row (a hash
    aggregate over ≤ k rows) that is broadcast and crossed — the 1-row
    broadcast-normalizer shape the repo whitelists — so each vector
    scores all k centroids inside a single higher-order expression:
    ``array_max(transform(cents, c → struct(sim, -cell)))`` is the
    lexicographic argmax — highest similarity, ties to the smallest
    cell id — the exact ordering of the oracles' ``ORDER BY sim DESC,
    cell ASC``. NULL-similarity placement is caller-chosen to mirror
    each oracle's wording: the default mirrors plain ``DESC`` (DuckDB
    NULLS LAST — NULL loses, the structs' native comparison);
    ``nulls_first=True`` mirrors an explicit ``DESC NULLS FIRST``
    (semdedup/IVF assignment) by prefixing the sort key with an
    is-null flag so a NULL similarity outranks any value. Assignment therefore adds NO shuffle and no
    N·k row materialization (a per-row argmax over broadcast DATA, the
    execution profile of the old literal-inlined shape) while the plan
    stays O(1) size in k — unlike inlined literals (O(k·dim) plan
    nodes, driver-fatal at k ≈ √N), a row_number window (exchanges N·k
    rows), or a struct-max groupBy (materializes N·k structs carrying
    the vector through the aggregate).

    Each centroid's norm is computed once when the broadcast row is
    built, and each vector's norm once per row — NOT once per
    (vector, centroid) candidate as a naive ``cosine(...)`` call would
    (3 of the 4 array folds per candidate, measured ~3× on the
    assignment stage; the same hoist semdedup_prune documents for its
    pair stage). The arithmetic stays ``dot / (n_v · n_c)`` with the
    identical sqrt(sequential-fold) operands, so every similarity is
    bit-equal to the unhoisted expression and the oracles don't change.
    The vector norm rides along as ``_vn`` for callers that score the
    vector again.
    """
    # score once per candidate (one dot fold each), THEN optionally wrap
    # with the is-null flag — keeps the expensive fold single-evaluated
    scored = F.transform(
        "_cents",
        lambda c: F.struct(
            _cent_sim(c).alias("_sim"), (-c["cell"]).cast("long").alias("_negc")
        ),
    )
    if nulls_first:
        scored = F.transform(
            scored,
            lambda t: F.struct(
                t["_sim"].isNull().cast("int").alias("_nf"),
                t["_sim"].alias("_sim"),
                t["_negc"].alias("_negc"),
            ),
        )
    best = F.array_max(scored)
    return (
        vecs.withColumn("_vn", norm(F.col("_v")))
        .crossJoin(_cents_row(cents))
        .select(
            F.col("_id"), (-best["_negc"]).alias("cell"), F.col("_v"), F.col("_vn")
        )
    )


def _cents_row(cents: DataFrame) -> DataFrame:
    """The (cell, _cv) centroid table as ONE broadcast row ``_cents``:
    the array of (cell, _cv, _cn) structs sorted by cell, each norm
    computed once here."""
    return F.broadcast(
        cents.select(
            F.col("cell"), F.col("_cv"), norm(F.col("_cv")).alias("_cn")
        ).agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cell"), F.col("_cv"), F.col("_cn")))
            ).alias("_cents")
        )
    )


def _cent_sim(c: Column) -> Column:
    """:func:`_cos` of the row's ``(_v, _vn)`` against centroid struct
    ``c`` of :func:`_cents_row`."""
    return _cos(F.col("_v"), c["_cv"], F.col("_vn"), c["_cn"])


def _probe_cells(
    vecs: DataFrame, cents: DataFrame, n_probe: int
) -> DataFrame:
    """Top-``n_probe`` most-cosine-similar cells per ``(_id, _v)``
    vector → (_id, cell): the multi-probe generalization of
    :func:`_assign_nearest` (its ``n_probe=1`` case is exactly that
    argmax). Same ONE-row broadcast centroid array, same per-row
    higher-order scoring — ranking happens INSIDE a sorted array
    (reverse(array_sort) of the (is-null, sim, −cell) structs = the
    oracle's ``ORDER BY sim DESC NULLS FIRST, cell ASC``), so probing
    adds NO shuffle and no N·k row materialization at any corpus
    size — unlike the row_number-window probe shape, which exchanges
    N·k scored rows."""
    scored = F.transform(
        "_cents",
        lambda c: F.struct(
            _cent_sim(c).isNull().cast("int").alias("_nf"),
            _cent_sim(c).alias("_sim"),
            (-c["cell"]).cast("long").alias("_negc"),
        ),
    )
    top = F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
    return (
        vecs.withColumn("_vn", norm(F.col("_v")))
        .crossJoin(_cents_row(cents))
        .select(F.col("_id"), F.explode(top).alias("_p"))
        .select(F.col("_id"), (-F.col("_p")["_negc"]).alias("cell"))
    )


def _probe(
    queries: DataFrame,
    cents: DataFrame,
    n_probe: int,
    query_id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, cell): the query-side probe generator of every IVF
    path — the ``n_probe`` most-cosine-similar cells of each raw query
    vector via :func:`_probe_cells`' zero-window HOF top-n
    (optimization r13 — previously a crossJoin + row_number window, one
    exchange + sort of |queries|×cells rows; the reverse-sorted
    (is-null, sim, −cell) structs are exactly that window's `−cosine
    ASC, cell ASC` order with bit-equal similarities)."""
    return _probe_cells(
        queries.select(
            F.col(query_id_col).alias("_id"), as_double(vec_col).alias("_v")
        ),
        cents,
        n_probe,
    ).select(F.col("_id").alias(query_id_col), "cell")


def ann_join(
    embeddings: DataFrame,
    threshold: float = 0.35,
    n_probe: int = 2,
    m: int = 4,
    k_codes: int = 16,
    margin: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    centroids: DataFrame | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Corpus × corpus ANN SIMILARITY JOIN — every pair of vectors with
    cosine ≥ ``threshold``, found WITHOUT the all-pairs product: the
    symmetric generalization of :func:`ivfpq_topk` (query set = the
    corpus itself) and the pairs-producing sibling of
    :func:`semdedup_prune` (which keeps only per-cell prunes). This is
    the operator embedding-scale dedup actually needs at 100 TB.

    Pipeline (each stage the established deterministic machinery):

    1. IVF residence — every vector is assigned to its nearest coarse
       cell (:func:`_assign_nearest`, zero-shuffle HOF argmax).
    2. Multi-probe — every vector also probes its ``n_probe`` nearest
       cells (:func:`_probe_cells`, zero-shuffle HOF top-n).
    3. Candidates = probe ⋈ residence on the cell key — an EQUI-join:
       pair volume is Σ_cell |probes(cell)|·|residents(cell)| ≈
       (n_probe/n_cells)·N² instead of N², and every shuffle is on the
       cell key. A pair is a candidate if EITHER endpoint probes the
       other's residence cell.
    4. ADC prefilter — candidates are screened against the PQ CODES of
       the residence side (the :func:`_adc_dot_lut` +
       :func:`_adc_lut_sum` pair — the corpus side is read as m small
       ints, never floats), keeping pairs with approximate
       cosine ≥ threshold − ``margin`` (safe-side slack for the
       quantization error; bigger margin = more exact work, higher
       recall).
    5. Exact re-rank — only survivors join back to their float unit
       vectors; exact cosine ≥ threshold decides. Found pairs are
       therefore exact-verified (precision 1 by construction); recall
       is what `ann_join_recall` audits — a true pair is missed only
       when the coarse stage never co-locates it (or ADC under-
       estimates past the margin), which is exactly what the audit
       measures.

    Returns (id_a, id_b, cos) with id_a < id_b, cos rounded to 6 for
    display (the filter compares unrounded doubles; all arithmetic is
    the fold-ordered chain both engines reproduce bit-for-bit).

    Premise note (hierarchical_assign precedent): with the default
    per-``label`` centroids on the synthetic near-random testdata
    embeddings, cells barely align with cosine geometry — recall is
    honest-but-modest there. On genuinely clustered corpora (or with
    trained :func:`kmeans_centroids` passed as ``centroids``) the same
    plan concentrates true pairs inside probed cells.
    """
    cents = (
        centroids
        if centroids is not None
        else label_centroids(embeddings, label_col, vec_col)
    )
    cbs = (
        codebooks
        if codebooks is not None
        else pq_codebooks(embeddings, m, k_codes, id_col, vec_col)
    )
    m = len(cbs)
    sub = len(cbs[0][0])
    raw = embeddings.select(
        F.col(id_col).alias("_id"), as_double(vec_col).alias("_v")
    )
    # residence + probes + unit vectors each feed ≥2 consumers — pin
    res = (
        _assign_nearest(raw, cents, nulls_first=True)
        .select(F.col("_id").alias("_rb"), "cell")
        .localCheckpoint(eager=False)
    )
    probes = (
        _probe_cells(raw, cents, n_probe)
        .select(F.col("_id").alias("_qa"), "cell")
        .localCheckpoint(eager=False)
    )
    nv = unit_norm_frame(embeddings, id_col, vec_col, "_nv").localCheckpoint(
        eager=False
    )
    codes = _pq_encode_nv(
        nv.select(F.col(id_col).alias("_id"), F.col("_nv")), cbs, "_id"
    ).select(F.col("_id").alias("_rb"), *[f"code_{s}" for s in range(m)])
    cand = (
        probes.join(res, "cell")
        .filter(F.col("_qa") != F.col("_rb"))
        .select("_qa", "_rb")
    )
    # ADC LUT hoisted to ONE row per query (optimization r12, measured:
    # the screen stage was 24 s executor CPU at sf0.1 — §1.2 per-task
    # work): lut[s][j] = ⟨q_subvec_s, codeword_{s,j}⟩, the same dot()
    # fold the per-candidate screen evaluated inline, computed once per
    # QUERY (m·k_codes dots) instead of once per CANDIDATE (~300× more).
    # The screen becomes m LUT lookups summed in the same fixed
    # subspace order, so every double — and the margin compare — is
    # bit-identical; the oracle doesn't move.
    qlut = (
        nv.select(F.col(id_col).alias("_qa"), F.col("_nv").alias("_qn"))
        .crossJoin(_codebook_frame(embeddings.sparkSession, cbs))
        .select(
            "_qa", _adc_dot_lut(F.col("_qn"), sub).alias("_lut")
        )
    )
    adc = _adc_lut_sum(m)
    screened = (
        cand.join(qlut, "_qa")
        .join(codes, "_rb")
        .filter(adc >= F.lit(float(threshold) - float(margin)))
        .select(
            F.least("_qa", "_rb").alias("_ia"),
            F.greatest("_qa", "_rb").alias("_ib"),
        )
        .distinct()
    )
    a = nv.select(F.col(id_col).alias("_ia"), F.col("_nv").alias("_va"))
    b = nv.select(F.col(id_col).alias("_ib"), F.col("_nv").alias("_vb"))
    cos = dot(F.col("_va"), F.col("_vb"))
    return (
        screened.join(a, "_ia")
        .join(b, "_ib")
        .filter(cos >= F.lit(float(threshold)))
        .select(
            F.col("_ia").alias("id_a"),
            F.col("_ib").alias("id_b"),
            F.round(cos, 6).alias("cos"),
        )
    )


def kmeans_step(
    embeddings: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd iteration of spherical k-means over the embedding
    column: assign every vector to its most-cosine-similar centroid
    (deterministic init: the vectors with ``id < k``), then recompute
    per-dimension centroid means. Returns (cell, dim, centroid,
    n_members) — k·dim rows.

    Scale shape: the ≤ k centroids collapse to one array-of-structs row
    broadcast onto the corpus, and assignment is a per-row higher-order
    argmax over that broadcast DATA (``_assign_nearest``) — zero
    shuffle, no N·k materialization, and O(1) plan size regardless of
    k. (The earlier literal-inlined argmax had the same execution
    profile but its PLAN grew with k·dim — fatal at the k ≈ √N SemDeDup
    configuration where k reaches 10⁴-10⁵; the r6 verdict's one
    remaining driver-side growth term.) The update is one posexplode +
    hash aggregate with map-side partial combine: the only shuffle
    moves ≤ k·dim rows per map partition. Iterating = calling this on
    the previous step's output until movement is small; each pass is
    one scan of the corpus.

    Deterministic everywhere: ties in assignment break toward the
    smaller cell id; means use fixed-point sums + round(6) so a SQL
    oracle reproduces them bit-for-bit.
    """
    from covid_custom_sql_engine_spark.operators.core import dsum

    base = embeddings.select(
        F.col(id_col).alias("_id"), as_double(vec_col).alias("_v")
    )
    cents = base.filter(F.col("_id") < k).select(
        F.col("_id").alias("cell"), F.col("_v").alias("_cv")
    )
    assigned = _assign_nearest(base, cents)
    return (
        assigned.select("cell", F.posexplode("_v").alias("dim", "val"))
        .groupBy("cell", "dim")
        .agg(
            F.round(dsum(F.col("val")) / F.count(F.lit(1)), 6).alias("centroid"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select("cell", F.col("dim").cast("bigint").alias("dim"), "centroid", "n_members")
    )


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Iterated spherical k-means (Lloyd) — ``iterations`` rounds of
    assign→update from :func:`kmeans_step`'s deterministic init (the
    vectors with id < k). Returns (cell, _cv) trained centroid arrays,
    ≤ k rows — the shape :func:`semdedup_prune` accepts as ``centroids``.

    Per-round plan (same as kmeans_step, which is one round of this):
    assignment broadcasts the centroids as one array-of-structs row and
    argmaxes per vector inside a single higher-order expression
    (``_assign_nearest`` — zero shuffle, O(1) plan size in k; the
    pre-r7 literal-inlined shape grew the plan by k·dim nodes per
    round, which at the k ≈ √N SemDeDup configuration meant codegen
    fallback around 100× current scale and driver OOM near 10⁹
    vectors); the update is one posexplode + hash aggregate whose
    shuffle moves ≤ k·dim rows per map partition, reassembled into
    (cell, _cv) arrays in dimension order. Each round's centroid table
    is pinned with an eager localCheckpoint — single evaluation of a
    nondeterministically-partitioned subtree (the HITS/pagerank
    per-round concern): every later consumer sees frozen values, and
    lineage never grows with iteration count.

    Deterministic end-to-end: assignment ties break toward the smaller
    cell id (lexicographic array_max over (sim, -cell)); means fold
    through fixed-point sums + round(6) — so a SQL oracle unrolling the
    same rounds reproduces every centroid bit-for-bit. Cells that lose
    all members vanish (no empty-cell reseeding), matching the unrolled
    SQL's GROUP BY semantics.
    """
    from covid_custom_sql_engine_spark.operators.core import dsum

    # one consumer per round (assign) plus the init filter read this
    # subtree iterations+1 times — pin it so the scan+cast runs once
    # (lazy localCheckpoint, the repo's multi-consumer pattern)
    base = embeddings.select(
        F.col(id_col).alias("_id"), as_double(vec_col).alias("_v")
    ).localCheckpoint(eager=False)
    cents = base.filter(F.col("_id") < k).select(
        F.col("_id").cast("bigint").alias("cell"), F.col("_v").alias("_cv")
    )
    for _ in range(iterations):
        assigned = _assign_nearest(base, cents)
        cents = (
            assigned.select("cell", F.posexplode("_v").alias("dim", "val"))
            .groupBy("cell", "dim")
            .agg(F.round(dsum(F.col("val")) / F.count(F.lit(1)), 6).alias("_c"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "_c"))),
                    lambda s: s["_c"],
                ).alias("_cv")
            )
            # pin the round: ≤ k rows materialized once, lineage truncated
            .localCheckpoint(eager=True)
        )
    return cents


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: only candidates in the query's hyperplane
    bucket are scored. Recall grows with fewer planes / multiple tables;
    this single-table variant is the scale skeleton."""
    c = _normed(embeddings, id_col, vec_col, "_c").withColumn(
        "_bucket", hyperplane_bucket(F.col("_cv"), planes)
    )
    q = _normed(queries, query_id_col, vec_col, "_q").withColumn(
        "_bucket", hyperplane_bucket(F.col("_qv"), planes)
    )
    scored = (
        c.join(F.broadcast(q), "_bucket")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, _qc_cos().alias("cos_sim"))
    )
    return _cos_topk(scored, k, id_col, query_id_col)


def pca_power_step(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """One power-iteration step toward the corpus's top principal
    direction: w' = normalize(Σ_v v·(vᵀw)), starting from the fixed unit
    vector w = (1/√dim, …). Returns (dim, component, score) — ``dim``
    rows; ``score`` is the Rayleigh-quotient estimate ‖Σ v(vᵀw)‖ / n,
    identical on every row. Iterating = feeding the returned component
    back in until the direction stabilizes.

    Scale shape: the projection vᵀw is a per-row higher-order-function
    dot product (w is a literal — no join); the update is one posexplode
    + hash aggregate with map-side combine, shuffling ≤ dim rows per map
    partition; the normalizer is a 1-row aggregate over dim rows
    broadcast back. One scan of the corpus per iteration, driver state
    O(dim) — the same bounded-iteration pattern as ``kmeans_step``.

    Deterministic everywhere: fixed-point sums, round(6) on the final
    components, so a SQL oracle reproduces them bit-for-bit.
    """
    from covid_custom_sql_engine_spark.operators.core import dsum

    w0 = [1.0 / dim**0.5] * dim
    wlit = F.array(*[F.lit(x) for x in w0])
    v = as_double(vec_col)
    proj = dot(v, wlit)
    contrib = embeddings.select(
        F.posexplode(v).alias("dim", "val"), proj.alias("_proj")
    )
    s = contrib.groupBy("dim").agg(
        dsum(F.col("val") * F.col("_proj")).alias("_s"),
        F.count(F.lit(1)).alias("_n"),
    )
    nrm = s.agg(
        F.sqrt(dsum(F.col("_s") * F.col("_s"))).alias("_nrm"),
        F.max("_n").alias("_cnt"),
    )
    return (
        s.join(F.broadcast(nrm), F.lit(True), "inner")
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            F.round(
                F.when(F.col("_nrm") > 0, F.col("_s") / F.col("_nrm")), 6
            ).alias("component"),
            F.round(F.col("_nrm") / F.col("_cnt"), 6).alias("score"),
        )
    )


def _quantize_int8_cols(vec_col: str):
    """(unit-normalized v, scale, int8 qv) projection — absmax
    symmetric quantization AFTER unit normalization, with the
    floor(x/s + 0.5) rounding both engines compute identically."""
    v = (
        f"CASE WHEN aggregate(zip_with({vec_col}, {vec_col}, (x, y) -> x * y), "
        f"0.0D, (acc, w) -> acc + w) = 0 THEN transform({vec_col}, x -> 0.0D) "
        f"ELSE transform({vec_col}, x -> cast(x AS double) / "
        f"sqrt(aggregate(zip_with({vec_col}, {vec_col}, (x, y) -> x * y), "
        f"0.0D, (acc, w) -> acc + w))) END"
    )
    scale = (
        "CASE WHEN array_max(transform(_v, x -> abs(x))) = 0 THEN 1.0D "
        "ELSE array_max(transform(_v, x -> abs(x))) / 127.0D END"
    )
    qv = (
        "transform(_v, x -> cast(greatest(-127.0D, "
        "least(127.0D, floor(x / _scale + 0.5D))) AS bigint))"
    )
    return v, scale, qv


def int8_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k retrieval over int8-quantized unit vectors: score =
    integer dot product × both scales ≈ cosine. The quantized corpus is
    4× smaller to scan/ship than float32 and the hot inner product is
    exact bigint arithmetic (≤ 64·127² per pair — deterministic on any
    engine, no float-order sensitivity), which is why quantized
    retrieval is the memory-bound path at corpus scale. Same broadcast
    cross + two-phase per-query top-k as the float baseline so the two
    rank lists are directly comparable (see the `int8_topk_recall`
    evaluation query)."""

    def prep(df, in_id, alias_prefix):
        vexpr, sexpr, qexpr = _quantize_int8_cols("_vd")
        cast = F.expr(f"transform({vec_col}, x -> cast(x AS double))")
        return (
            df.withColumn("_vd", cast)
            .withColumn("_v", F.expr(vexpr))
            .withColumn("_scale", F.expr(sexpr))
            .withColumn("_q", F.expr(qexpr))
            .select(
                F.col(in_id),
                F.col("_scale").alias(f"{alias_prefix}_scale"),
                F.col("_q").alias(f"{alias_prefix}_q"),
            )
        )

    q = F.broadcast(prep(queries, query_id_col, "q"))
    c = prep(embeddings, id_col, "c")
    idot = F.aggregate(
        F.zip_with("q_q", "c_q", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            (idot.cast("double") * F.col("q_scale") * F.col("c_scale")).alias(
                "q_cos"
            ),
        )
    )
    return _two_phase_topk(
        scored,
        k,
        query_id_col,
        [F.col("q_cos").desc_nulls_last(), F.col(id_col).asc()],
        [query_id_col, id_col, "q_cos", F.col("_rn").alias("rank")],
    )


def _planes_frame(spark, planes: list[list[float]]) -> DataFrame:
    """ONE-ROW broadcast frame carrying the hyperplane set as DATA
    (`_planes[i]` = plane i) — the `_codebook_frame` convention applied
    to signatures, so the signature expression stays O(1) plan size at
    any plane count instead of inlining p·dim literals."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    data = [[float(x) for x in p] for p in planes]
    schema = StructType(
        [
            StructField(
                "_planes", ArrayType(ArrayType(DoubleType(), False), False), False
            )
        ]
    )
    return F.broadcast(spark.createDataFrame([(data,)], schema))


def binary_signature_frame(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "sig",
) -> DataFrame:
    """(id, sig BIGINT) — binary quantization: the sign bits of the
    vector's dot products against ``p ≤ 63`` fixed hyperplanes, packed
    into one bigint by an EXACT integer fold (``acc·2 + bit`` over the
    planes in order, so plane 0 is the most-significant bit and a SQL
    oracle reproduces the value as Σ bit_i·2^(p−1−i)). One map-side
    scan against the 1-row broadcast plane array: at 100 TB the
    signature column is 8 bytes/vector — 32× smaller than dim=64
    float32 — and downstream candidate scans become pure integer
    Hamming work (:func:`hamming_topk`)."""
    if not planes or len(planes) > 63:
        raise ValueError("binary signatures need 1..63 planes")
    pf = _planes_frame(df.sparkSession, planes)
    out = df.select(
        F.col(id_col), as_double(vec_col).alias("_v")
    ).crossJoin(pf)
    bits = F.transform(
        "_planes",
        lambda p: F.when(
            dot(F.col("_v"), p) >= 0, F.lit(1).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint")),
    )
    sig = F.aggregate(
        bits, F.lit(0).cast("bigint"), lambda acc, b: acc * 2 + b
    )
    return out.select(id_col, sig.alias(out_col))


def hamming_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Binary-quantized ANN — the 4th rung of the quantization ladder
    (float 256 B → int8 64 B → PQ m B → binary 8 B per vector at
    dim=64): corpus and queries reduce to packed sign-bit signatures
    (:func:`binary_signature_frame`), candidates rank by Hamming
    distance ``bit_count(sig_q XOR sig_c)`` — one xor + popcount per
    pair, the cheapest scan a vector store can run — with ties on the
    neighbor id. Exact re-ranking of survivors in float is the
    standard follow-up (same contract as PQ). Per-query top-k is
    two-phase (:func:`_two_phase_topk`); recall vs the float baseline
    is audited by `binary_hamming_recall` with an exact oracle (the
    fold, xor, and popcount are all integer arithmetic — no float
    ordering anywhere past the sign)."""
    sigs = binary_signature_frame(embeddings, planes, id_col, vec_col, "c_sig")
    qsig = F.broadcast(
        binary_signature_frame(
            queries, planes, query_id_col, vec_col, "q_sig"
        )
    )
    scored = (
        sigs.crossJoin(qsig)
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.bit_count(F.col("q_sig").bitwiseXOR(F.col("c_sig")))
            .cast("int")
            .alias("hamming"),
        )
    )
    return _two_phase_topk(
        scored,
        k,
        query_id_col,
        [F.col("hamming").asc(), F.col(id_col).asc()],
        [query_id_col, id_col, "hamming", F.col("_rn").alias("rank")],
    )


def hamming_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    cand_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Binary scan → shortlist → exact re-rank — the deployed
    binary-quantization retrieval contract (the Hamming sibling of
    :func:`ivfpq_rerank_topk`): :func:`hamming_topk` shortlists
    ``k·cand_factor`` candidates per query from 8-byte signatures
    alone, then ONLY those survivors join back to their float vectors
    for exact cosine re-scoring. At 100 TB the float vectors are
    touched for k·cand_factor rows per query via an equi-join on the
    id — never a scan; everything upstream is xor + popcount over the
    signature column. Output matches :func:`brute_force_topk`'s shape:
    (query_id, id, cos_sim, rank); the re-rank window sees only the
    tiny shortlist (:func:`_exact_rerank`)."""
    cand = hamming_topk(
        embeddings,
        queries,
        planes,
        k=k * cand_factor,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    ).select(query_id_col, id_col)
    return _exact_rerank(
        cand, embeddings, queries, k, id_col, vec_col, query_id_col
    )


def semdedup_prune(
    embeddings: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_cell: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Cluster-scoped semantic dedup (the SemDeDup recipe, Abbas et al.
    2023 — public arXiv:2303.09540): cluster the corpus, compare
    embeddings ONLY within a cluster, and drop every vector that has a
    lower-id cluster-mate with cosine ≥ ``threshold`` (greedy
    keep-lowest-id representative — deterministic, no iteration).

    Why this scales where naive cosine dedup cannot: the all-pairs
    product is confined to cluster cells. With k ≈ √N clusters a cell
    holds ~√N vectors, so total comparisons are ~N^1.5 instead of N² —
    and every step is an equi-join on the cell key, never a cross
    product (the only crossJoin is the ≤|labels|-row broadcast centroid
    table). Centroids here are the per-``label`` means (the same
    deterministic stand-in for trained k-means cells that ivf_topk
    uses); pass ``centroids`` (a (cell, _cv) frame — e.g.
    :func:`kmeans_centroids` output) to cluster against trained
    k-means cells instead.

    ``max_cell`` optionally excludes cells larger than the cap from
    pair generation (mirroring dedup.MAX_BAND_BUCKET): an adversarial
    mega-cluster then contributes no pairs instead of a quadratic blow-
    up; its members are all kept.

    Output: (id, cell, dropped, dup_of) — one row per vector; dup_of
    is the smallest-id duplicate partner (NULL for survivors).
    """
    # default cells: per-label means (the deterministic stand-in);
    # production path: pass trained kmeans_centroids(...) output.
    cents = (
        centroids
        if centroids is not None
        else label_centroids(embeddings, label_col, vec_col)
    )
    # nulls_first=True mirrors the SQL oracle's `DESC NULLS FIRST` (a
    # NULL similarity only arises for zero-norm vectors; aligning the
    # order keeps even that degenerate case engine-identical). The
    # assignment is the zero-shuffle HOF argmax over the 1-row broadcast
    # centroid array (r7 — previously an N×cells crossJoin funneled
    # through a per-vector row_number window, an N·k-row exchange that
    # grows to N^1.5 rows at the k ≈ √N production configuration).
    assigned = (
        _assign_nearest(
            embeddings.select(
                F.col(id_col).alias("_id"), as_double(vec_col).alias("_v")
            ),
            cents,
            nulls_first=True,
        )
        # the assignment's norm (once per vector) rides along; the pair
        # step below then costs one dot product per pair instead of
        # three (dot + both norms) — measured 3× on the intra-cell
        # comparison stage. The arithmetic stays dot/(na·nb), identical
        # to the oracle's expression tree, so values are bit-equal.
        .select(F.col("_id").alias(id_col), "cell", "_v", F.col("_vn").alias("_n"))
        # The assignment subtree has THREE consumers below — both
        # self-join branches and the final join-back — and Spark
        # re-executes a subtree per consumer. Pin it so assignment
        # computes once (same lazy-checkpoint pattern as
        # dedup.candidate_pairs_from_bands' predrop mode; blocks freed
        # by the ContextCleaner). Measured 3.6 s → ~1.6 s at sf0.1.
        .localCheckpoint(eager=False)
    )
    pair_src = assigned
    if max_cell is not None:
        oversized = (
            assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_cell)
            .select("cell")
        )
        pair_src = assigned.join(F.broadcast(oversized), "cell", "left_anti")
    a = pair_src.select(
        F.col(id_col).alias("_ida"),
        F.col("cell"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = pair_src.select(
        F.col(id_col).alias("_idb"),
        F.col("cell"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    pair_cos = _cos(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb"))
    dup = (
        a.join(b, "cell")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(pair_cos >= threshold)
        .groupBy(F.col("_idb").alias(id_col))
        .agg(F.min("_ida").alias("dup_of"))
    )
    return (
        assigned.select(id_col, "cell")
        .join(dup, id_col, "left")
        .select(
            id_col,
            "cell",
            F.col("dup_of").isNotNull().alias("dropped"),
            "dup_of",
        )
    )


def unit(v: Column) -> Column:
    """Unit-normalize an array<double> column with the zero-vector →
    all-zeros convention, using the exact float chain
    (``x / sqrt(dot(v, v))``, fold-ordered sums) a DuckDB oracle
    reproduces bit-for-bit (the `_SQL_INT8_NORM` convention).

    The norm recomputes inside the per-element lambda (O(dim²) per
    vector) — fine for small frames (query sides, seed fetches); on a
    whole-corpus path use :func:`unit_norm_frame`, whose hoisted norm
    column divides to bit-identical doubles."""
    return F.when(
        dot(v, v) == 0, F.transform(v, lambda _: F.lit(0.0))
    ).otherwise(F.transform(v, lambda x: x / F.sqrt(dot(v, v))))


def unit_norm_frame(
    df: DataFrame, id_col: str, vec_col: str, out_col: str = "_nv"
) -> DataFrame:
    """(id, out_col) frame of unit-normalized vectors with the ‖v‖²
    aggregate HOISTED into a sibling column, so normalization is
    O(dim) per vector instead of :func:`unit`'s O(dim²) lambda
    recompute — the corpus-scan shape. Same divisor value → doubles
    are bit-identical to `unit`, so oracle parity is unaffected."""
    return (
        df.select(F.col(id_col), as_double(vec_col).alias("_vd"))
        .withColumn("_n2", dot(F.col("_vd"), F.col("_vd")))
        .select(
            id_col,
            F.when(
                F.col("_n2") == 0, F.transform("_vd", lambda _: F.lit(0.0))
            )
            .otherwise(
                F.transform("_vd", lambda x: x / F.sqrt(F.col("_n2")))
            )
            .alias(out_col),
        )
    )


def exact_threshold_pairs(
    nv: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "_nv",
    n_blocks: int | None = None,
    block_budget_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """EXACT all-pairs dot-product threshold join — every unordered
    pair (id_a < id_b) whose sequential-fold :func:`dot` ≥ threshold —
    computed as blocked numpy GEMM candidate generation plus an exact
    JVM verify, instead of a row-level cross join evaluating the
    interpreted zip_with/aggregate lambda N²·dim times (guide §4.2:
    hand whole batches to vectorized native code; the candidate
    screen is where 99.9% of the arithmetic lives).

    Losslessness: the float64 GEMM dot differs from the sequential
    fold by at most ~dim·ε·Σ|xᵢyᵢ| ≈ 1e-14 for unit vectors, so every
    pair with fold-dot ≥ threshold has GEMM-dot ≥ threshold − 1e-9;
    candidates pass through the exact fold-ordered dot ≥ threshold
    filter (the same expression the naive cross join applies), so the
    surviving pair set — and every reported value — is bit-identical.

    Scale shape: vectors land in ``n_blocks`` deterministic id-hash
    blocks; each of the (n_blocks+1)·n_blocks/2 unordered block pairs
    is ONE Arrow row processed by one GEMM — constant memory per task,
    the exact-audit analogue of the chunked shapes everywhere else.
    ``n_blocks=None`` (the default) DERIVES the count from the actual
    corpus — ceil(N·dim·8 / block_budget_bytes), floored at 8 — via one
    cheap (count, dim) aggregate, so a block row can never outgrow the
    Arrow/JVM single-value limits at any scale (optimization r13: the
    fixed default the r12 advice flagged would have packed N/8 vectors
    into one collect_list row regardless of N). Requires a numeric
    unique ``id_col`` (block routing hashes it; candidate emission
    orders each pair by id). A NULL vector's fold-dot is NULL, and so is
    that of two vectors of different lengths (``zip_with`` NULL-pads the
    shorter), so neither can pass the verify: NULL vectors stay out of
    the screen, and each block holds one vector length and meets only
    blocks of that length.
    """
    import math

    import pandas as pd  # noqa: F401 — mapInPandas contract

    if n_blocks is None:
        szrow = nv.agg(
            F.count(F.lit(1)).alias("_n"),
            F.max(F.size(as_double(vec_col))).alias("_dim"),
        ).first()
        n_vecs, dim = szrow["_n"] or 0, szrow["_dim"] or 0
        n_blocks = max(8, math.ceil(n_vecs * dim * 8 / block_budget_bytes))

    g = nv.filter(F.col(vec_col).isNotNull()).select(
        F.size(vec_col).alias("_dim"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("_blk"),
        F.col(id_col).alias("_bid"),
        as_double(vec_col).alias("_bv"),
    )
    packed = (
        g.groupBy("_dim", "_blk")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_bid"), F.col("_bv")))
            ).alias("_s")
        )
        .select(
            "_dim",
            "_blk",
            F.expr("transform(_s, s -> s._bid)").alias("_ids"),
            F.flatten(F.expr("transform(_s, s -> s._bv)")).alias("_flat"),
        )
        # EAGER pin: both sides of the same-job block crossJoin read
        # this subtree — the dual-consumer-one-job pattern whose lazy
        # pin lets concurrent tasks race the unmaterialized subtree
        # (the r12 graph-edge 'Block rdd already exists' case)
        .localCheckpoint(eager=True)
    )
    pa = packed.select(
        F.col("_dim").alias("_da"),
        F.col("_blk").alias("_ba"),
        F.col("_ids").alias("_idsa"),
        F.col("_flat").alias("_fa"),
    )
    pb = packed.select(
        F.col("_dim").alias("_db"),
        F.col("_blk").alias("_bb"),
        F.col("_ids").alias("_idsb"),
        F.col("_flat").alias("_fb"),
    )
    blk_pairs = pa.join(
        pb, (F.col("_da") == F.col("_db")) & (F.col("_ba") <= F.col("_bb"))
    )
    cut = float(threshold) - 1e-9

    def _gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_a, out_b = [], []
            for _, row in pdf.iterrows():
                ids_a = np.asarray(row["_idsa"], dtype=np.int64)
                ids_b = np.asarray(row["_idsb"], dtype=np.int64)
                a = np.asarray(row["_fa"], dtype=np.float64).reshape(
                    len(ids_a), row["_da"]
                )
                b = np.asarray(row["_fb"], dtype=np.float64).reshape(
                    len(ids_b), row["_da"]
                )
                mask = (a @ b.T) >= cut
                if row["_ba"] == row["_bb"]:
                    # intra-block: ids are sorted ascending, so the
                    # strict upper triangle IS id_a < id_b (boolean
                    # triu — robust even for cut ≤ 0)
                    mask = np.triu(mask, k=1)
                ii, jj = np.nonzero(mask)
                la, lb = ids_a[ii], ids_b[jj]
                out_a.append(np.minimum(la, lb))
                out_b.append(np.maximum(la, lb))
            empty = np.array([], dtype=np.int64)
            yield pd.DataFrame(
                {
                    "_ca": np.concatenate(out_a) if out_a else empty,
                    "_cb": np.concatenate(out_b) if out_b else empty,
                }
            )

    cand = blk_pairs.mapInPandas(_gen, "_ca long, _cb long")
    # as_double on the verify side too: the GEMM screen casts via
    # as_double, so for an array<float> caller the verify must fold in
    # double as well or the 1e-9 losslessness bound stops covering it
    # (r12 advice; a no-op cast for the current array<double> caller)
    va = nv.select(
        F.col(id_col).alias("_ca"), as_double(vec_col).alias("_vva")
    )
    vb = nv.select(
        F.col(id_col).alias("_cb"), as_double(vec_col).alias("_vvb")
    )
    return (
        cand.join(va, "_ca")
        .join(vb, "_cb")
        .filter(dot(F.col("_vva"), F.col("_vvb")) >= F.lit(float(threshold)))
        .select(F.col("_ca").alias("id_a"), F.col("_cb").alias("id_b"))
    )


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: subspace ``s``'s
    codebook is the ``s``-th subvector of the unit-normalized vectors
    with ``id < k`` — the same deterministic-seed convention as
    :func:`kmeans_step`'s init, so a SQL oracle derives the identical
    codebooks (``WHERE vec_id < k``) without unrolling any training.
    Requires exactly ``k`` such vectors (ids 0..k-1 present): with
    non-contiguous ids below ``k`` the codebook would silently shrink
    and degrade quantization with no signal, so that case raises
    instead of proceeding. Bounded driver state (k·dim doubles, the
    IVF-probe/centroid-fetch "action, not plan" pattern).
    ``codebooks[s][j]`` is a dim/m float list. A production pipeline
    would Lloyd-refine each subspace codebook with
    :func:`kmeans_centroids`-style rounds; the seeds keep the
    cross-engine contract exact."""
    base = embeddings.select(
        F.col(id_col), unit(as_double(vec_col)).alias("_nv")
    )
    return _seed_codebooks(base, id_col, m, k, "pq_codebooks")


def _seed_codebooks(
    nv: DataFrame, id_col: str, m: int, k: int, who: str
) -> list[list[list[float]]]:
    """Split the ``_nv`` vectors of the rows with id < k (a bounded
    k·dim driver fetch, in id order) into m subspace codebooks of k
    codewords each; fewer than k such rows raises instead of silently
    shrinking the codebook."""
    seeds = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in nv.filter(F.col(id_col) < k).select(id_col, "_nv").collect()
    )
    if len(seeds) < k:
        raise ValueError(
            f"{who} needs {k} seed vectors with {id_col} < {k}, "
            f"found {len(seeds)} — non-contiguous ids would silently "
            f"shrink the codebook"
        )
    dim = len(seeds[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    return [
        [v[s * sub : (s + 1) * sub] for _, v in seeds] for s in range(m)
    ]


def pq_codebooks_refined(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 16,
    rounds: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Lloyd-refined PQ codebooks — the production path
    :func:`pq_codebooks`' docstring names: starting from the
    deterministic id<k seed codebooks, each round (a) encodes the
    corpus against the current codebooks (per-subspace argmin, the
    same :func:`_pq_encode_nv` expression the oracle unrolls) and
    (b) replaces every codeword with the per-position MEAN of its
    assigned subvectors; a codeword with no members keeps its previous
    value (the coalesce convention, so the codebook never shrinks).
    Deterministic given the seed convention AND the summation
    discipline: the per-position means fold through the fixed-point
    :func:`~covid_custom_sql_engine_spark.operators.core.dsum` +
    round(6) convention (label_centroids/kmeans_step's), so the value
    is order-independent — a plain double ``avg`` would be
    partition-order-dependent, and a last-ulp wobble here CASCADES
    (refined codewords feed encode argmin and ADC ranking). The SQL
    oracle unrolls the rounds exactly (codes CTE → per-(s, j, pos)
    fixed-point mean → coalesce), bit-for-bit.

    Scale shape per round: one corpus scan to encode (map-side, O(1)
    plan — broadcast codebooks), one posexplode + hash aggregate with
    map-side partial combine shuffling ≤ m·k·(dim/m) = k·dim rows per
    map partition, and a k·dim-double driver fetch (bounded state, the
    same "action, not plan" pattern as pq_codebooks' seed fetch).
    Jégou et al. 2011 report refined codebooks recover most of the
    quantization error of random/seed init — audited here by
    `pq_refined_recall` against the seed-codebook recall."""
    from covid_custom_sql_engine_spark.operators.core import dsum

    cbs = pq_codebooks(embeddings, m, k, id_col, vec_col)
    sub = len(cbs[0][0])
    nv = unit_norm_frame(embeddings, id_col, vec_col)
    for _ in range(rounds):
        codes = _pq_encode_nv(nv, cbs, id_col)
        joined = codes.join(nv, id_col)
        parts = [
            joined.select(
                F.lit(s).alias("s"),
                F.col(f"code_{s}").alias("j"),
                F.posexplode(F.slice("_nv", s * sub + 1, sub)).alias(
                    "p", "x"
                ),
            )
            for s in range(m)
        ]
        u = parts[0]
        for pr in parts[1:]:
            u = u.unionByName(pr)
        # per-(subspace, codeword, position) mean, reassembled in
        # position order — the label_centroids shape (posexplode + two
        # hash aggregates), then a bounded k·dim driver fetch
        refined = (
            u.groupBy("s", "j", "p")
            .agg(
                F.round(
                    dsum(F.col("x")) / F.count(F.lit(1)), 6
                ).alias("ax")
            )
            .groupBy("s", "j")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "ax"))),
                    lambda t: t["ax"],
                ).alias("c")
            )
            .collect()
        )
        got = {
            (int(r.s), int(r.j)): [float(x) for x in r.c] for r in refined
        }
        cbs = [
            [got.get((s, j), cbs[s][j]) for j in range(len(cbs[s]))]
            for s in range(m)
        ]
    return cbs


def _pq_dist(sub_col: Column, cb: Column) -> Column:
    """The per-subspace distance surrogate ``−2·⟨a, c⟩ + ⟨c, c⟩`` —
    L2² minus the ‖a‖² term that is constant across codewords, so
    argmin and ADC ranking are unchanged while the oracle's
    ``list_dot_product`` twin stays a two-term expression."""
    return -2.0 * dot(sub_col, cb) + dot(cb, cb)


def _codebook_frame(spark, codebooks: list[list[list[float]]]) -> DataFrame:
    """ONE-ROW broadcast frame carrying the PQ codebooks as DATA:
    ``_cb[s][j]`` (1-based via element_at) is codeword ``j`` of
    subspace ``s``. The same 1-row-broadcast shape `_assign_nearest`
    uses for centroids, applied to the quantizer: the codebooks travel
    in a serialized broadcast row instead of ``k_codes·dim`` literal
    nodes inlined into every encode/ADC expression, so the PLAN stays
    O(1) in the quantizer configuration (at production PQ parameters —
    k_codes = 256, dim ≥ 768 — the literal shape carries 200k-1M plan
    nodes per stage, twice: encode + ADC; this row carries none).
    Values are the identical doubles, so codes, distances, and
    tie-breaks are unchanged and the SQL oracles don't move."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    data = [[[float(x) for x in cw] for cw in sub] for sub in codebooks]
    schema = StructType(
        [
            StructField(
                "_cb",
                ArrayType(ArrayType(ArrayType(DoubleType(), False), False), False),
                False,
            )
        ]
    )
    return F.broadcast(spark.createDataFrame([(data,)], schema))


def _adc_dist_lut(qvec: Column, sub: int) -> Column:
    """The classic ADC lookup table (Jégou et al. 2011), hoisted to the
    QUERY side: ``lut[s][j] = _pq_dist(q_subvec_s, codeword_{s,j})``,
    the two-term subspace distance to every codeword of the broadcast
    ``_cb`` codebooks (:func:`_codebook_frame`), computed once per
    query/probe row (m·k_codes folds). :func:`_adc_lut_sum` then reads
    the m-term ADC distance of a code row (columns
    ``code_0..code_{m-1}``) as m array lookups summed in fixed subspace
    order 0..m-1 — per candidate, m lookups instead of m·O(sub)
    interpreted-lambda arithmetic (optimization r12, guide §1.2
    per-task work), with the identical doubles an inline per-candidate
    fold gives, so distances, ranks and ties match the SQL oracles.
    Must be projected with the broadcast ``_cb`` column in scope."""
    return F.transform(
        F.col("_cb"),
        lambda scb, s: F.transform(
            scb, lambda cw: _pq_dist(F.slice(qvec, s * sub + 1, sub), cw)
        ),
    )


def _adc_dot_lut(qvec: Column, sub: int) -> Column:
    """MIPS-form twin of :func:`_adc_dist_lut`: ``lut[s][j] =
    dot(q_subvec_s, codeword_{s,j})``, hoisted once per query row; with
    :func:`_adc_lut_sum` it gives the ADC inner product ⟨q, ĉ⟩ of a
    code row, summed in fixed subspace order (on unit vectors ⟨q, ĉ⟩
    estimates the cosine directly, so a similarity threshold applies to
    it without the ‖ĉ‖² correction term). Values are the doubles of the
    same zip_with/aggregate fold with the same 0.0 seed, so screens and
    the oracles match. Project with the broadcast ``_cb`` column in
    scope."""
    return F.transform(
        F.col("_cb"),
        lambda scb, s: F.transform(
            scb, lambda cw: dot(F.slice(qvec, s * sub + 1, sub), cw)
        ),
    )


def _adc_lut_sum(m: int) -> Column:
    """Scan-side pair of :func:`_adc_dist_lut` / :func:`_adc_dot_lut`:
    Σ_s lut[s][code_s] in fixed subspace order 0..m-1."""
    out = None
    for s in range(m):
        term = F.element_at(
            F.element_at("_lut", s + 1), F.col(f"code_{s}") + 1
        )
        out = term if out is None else out + term
    return out


def _pq_encode_nv(
    nv_frame: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode a prepared ``(id, _nv)`` frame (vectors already in the
    codebooks' space — unit-normalized for raw PQ, coarse-residual for
    IVFADC-with-residuals) into (id, code_0..code_{m-1}) PQ codes: per
    subspace, the argmin-distance codeword index (ties → smaller
    index). A pure per-row projection against the ONE-ROW broadcast
    codebook frame (:func:`_codebook_frame`) — no shuffle, map-side
    only, O(1) plan size at any quantizer configuration. The
    per-subspace argmin runs inside one higher-order expression over
    the broadcast codeword array (index lambda → struct(d, j) →
    array_min), the exact ordering of the oracle's
    ``ORDER BY d ASC, j ASC``."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    out = nv_frame.crossJoin(
        _codebook_frame(nv_frame.sparkSession, codebooks)
    )

    def _argmin(s: int) -> Column:
        ssub = F.slice("_nv", s * sub + 1, sub)
        cands = F.transform(
            F.element_at("_cb", s + 1),
            lambda cw, j: F.struct(
                _pq_dist(ssub, cw).alias("d"), j.cast("int").alias("j")
            ),
        )
        return F.array_min(cands)["j"].alias(f"code_{s}")

    return out.select(F.col(id_col), *[_argmin(s) for s in range(m)])


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code_0..code_{m-1}) PQ codes of the unit-normalized
    vectors — :func:`_pq_encode_nv` over :func:`unit_norm_frame`: the
    shape that re-encodes a 100 TB corpus in one scan, shrinking each
    vector to m small codes (m bytes vs dim·4 float32 bytes ≈ 64× at
    m=4, dim=64 when stored byte-aligned; 128× bit-packed at
    m·log2(k) bits)."""
    return _pq_encode_nv(
        unit_norm_frame(df, id_col, vec_col), codebooks, id_col
    )


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    m: int = 4,
    k_codes: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Product-quantization top-k with asymmetric distance computation
    (ADC): the corpus is scanned as PQ codes only; each query's
    approximate distance is the sum over subspaces of the exact
    distance to the ASSIGNED CODEWORD (query side stays float — the
    standard IVFADC inner loop). The scan reads m small ints per
    corpus vector instead of dim floats — the memory-bandwidth win
    that makes PQ the billion-scale ANN layout — and the ranking is
    refinable by exact re-scoring of the survivors (see
    `pq_topk_recall`, which audits recall@k against the float
    baseline). Summation is in fixed subspace order 0..m-1 on both
    engines, so distances are bit-identical and ranking ties break on
    the id deterministically."""
    if codebooks is not None:
        # explicit codebooks are the source of truth for the quantizer
        # shape: derive m from them (a caller passing m≠len(codebooks)
        # would otherwise silently sum the wrong number of subspace
        # terms in the ADC distance) and require rectangular k_codes
        cbs = codebooks
        m = len(cbs)
        if any(len(sub_cb) != len(cbs[0]) for sub_cb in cbs):
            raise ValueError(
                "pq_topk: ragged codebooks — every subspace must carry "
                f"the same codeword count, got {[len(s) for s in cbs]}"
            )
    else:
        cbs = pq_codebooks(embeddings, m, k_codes, id_col, vec_col)
    sub = len(cbs[0][0])
    codes = pq_encode(embeddings, cbs, id_col, vec_col)
    # ADC LUT hoisted to the broadcast query side (see _adc_dist_lut):
    # the corpus scan pays m lookups per code row instead of m
    # interpreted subvector folds — identical doubles
    qn = F.broadcast(
        queries.select(
            F.col(query_id_col), unit(as_double(vec_col)).alias("_qn")
        )
        .crossJoin(_codebook_frame(embeddings.sparkSession, cbs))
        .select(
            query_id_col, _adc_dist_lut(F.col("_qn"), sub).alias("_lut")
        )
    )
    joined = codes.crossJoin(qn).filter(
        F.col(id_col) != F.col(query_id_col)
    )
    dist = _adc_lut_sum(m)
    # flat ADC scans the whole corpus per query → two-phase top-k, the
    # same no-single-partition-sort discipline as brute_force_topk
    return _two_phase_topk(
        joined.select(query_id_col, id_col, dist.alias("pq_dist")),
        k,
        query_id_col,
        [F.col("pq_dist").asc(), F.col(id_col).asc()],
        [query_id_col, id_col, "pq_dist", F.col("_rn").alias("rank")],
    )


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    label_col: str = "label",
    corpus_predicate: Column | None = None,
) -> DataFrame:
    """IVFADC — the billion-scale ANN composition: IVF coarse
    quantization prunes the corpus to ``n_probe`` probed cells per
    query (as :func:`ivf_topk`), then the in-cell scan reads ONLY the
    PQ codes (as :func:`pq_topk`), never the float vectors. At 100 TB
    the scan cost is (n_probe / n_cells) of the corpus × m code bytes
    per vector — both reduction factors compose; exact re-ranking of
    the few survivors is a trivial follow-up join. Cell assignment
    uses the cosine rule of ivf_topk (scale-invariant, so raw vs
    normalized vectors agree); ADC uses the PQ fixed-order distance —
    both proven deterministic cross-engine, so the composition's
    oracle is exact.

    ``corpus_predicate`` serves FILTERED ANN — the query shape every
    production vector store serves (top-k under a metadata
    constraint): the index (centroids + codebooks) stays trained on
    the FULL corpus, and the predicate prunes the scan side BEFORE the
    cell-scoped ADC, so the result is the exact-ADC top-k over the
    ``n_probe`` probed cells' MATCHING vectors — still ANN (a matching
    vector in an unprobed cell is never scanned; ADC distance is the
    quantized surrogate), but pre-filtering guarantees k matching
    results whenever the probed cells hold k matches. The naive
    alternative — post-filtering an unfiltered top-k — silently
    under-returns whenever the global top-k is dominated by
    non-matching vectors; `filtered_ann_audit` measures that gap
    (post-filter hits ⊆ pre-filter hits, provably).
    At scale the predicate reaches the scan as an ordinary pushed
    filter on the codes table's metadata columns."""
    return query_ivfpq_index(
        _ivfpq_index(
            embeddings, m, k_codes, id_col, vec_col, label_col, corpus_predicate
        ),
        queries,
        k,
        n_probe,
        id_col,
        vec_col,
        query_id_col,
    )


def ivfpq_residual_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    label_col: str = "label",
) -> DataFrame:
    """IVFADC with RESIDUAL encoding — the canonical Jégou et al. 2011
    composition: instead of PQ-encoding the unit-normalized vector
    itself (:func:`ivfpq_topk`), each corpus vector is encoded as the
    residual ``r = nv − cn(cell)`` against its assigned cell's
    unit-normalized centroid. Residuals concentrate near the origin,
    so the same m-byte code budget spends its resolution on the part
    of the vector the coarse quantizer hasn't already explained — the
    standard, material recall improvement at identical storage
    (audited by `ivfpq_residual_recall` vs the raw-vector variant).

    The ADC distance is exact under the quantization: per probed cell
    the query forms its own residual ``qr = qn − cn(cell)`` and
    ``‖qr − r̂‖² = ⟨qr, qr⟩ + Σ_s (−2⟨qr_s, ĉ_s⟩ + ⟨ĉ_s, ĉ_s⟩)`` — the
    ⟨qr, qr⟩ term is NOT constant across probed cells, so multi-probe
    ranking keeps it (unlike raw-vector ADC, where the query-norm term
    cancels). Codebooks are the residuals of the deterministic id<k
    seed vectors (the pq_codebooks convention, so a SQL oracle derives
    them identically); everything else is the proven zero-shuffle
    composition: HOF cell assignment, one map-side residual + encode
    scan (the residual join is against a broadcast ≤cells-row centroid
    table, not a shuffle), ADC over codes in n_probe/n_cells of the
    corpus.
    """
    cents = label_centroids(embeddings, label_col, vec_col)
    # unit-normalized centroids — the residual reference frame (tiny,
    # broadcast everywhere)
    cn = cents.select("cell", unit(F.col("_cv")).alias("_cn"))
    corpus_cells = assign_cells(embeddings, cents, id_col, vec_col)
    resid = (
        unit_norm_frame(embeddings, id_col, vec_col)
        .join(corpus_cells, id_col)
        .join(F.broadcast(cn), "cell")
        .select(
            F.col(id_col),
            "cell",
            F.zip_with("_nv", "_cn", lambda x, y: x - y).alias("_nv"),
        )
    )
    # residual seed codebooks: the id<k_codes convention on the
    # RESIDUAL frame
    rcbs = _seed_codebooks(resid, id_col, m, k_codes, "ivfpq_residual_topk")
    postings = _pq_encode_nv(resid.select(id_col, "_nv"), rcbs, id_col).join(
        corpus_cells, id_col
    )
    return _ivfpq_serve(
        {"centroids": cents, "codebooks": rcbs, "postings": postings},
        queries,
        k,
        n_probe,
        id_col,
        vec_col,
        query_id_col,
        resid_cn=cn,
    )


def diversified_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    per_group: int = 1,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Diversity-constrained top-k — the "diversify by field" policy
    production retrieval serves (at most ``per_group`` results per
    group value, e.g. one passage per source document, one product
    per brand): score candidates exactly (cosine), keep the best
    ``per_group`` per (query, group) — a window over per-group slices,
    never corpus-wide — then take the global top-k among the
    survivors. Relevance order is preserved subject to the cap, ties
    break on the id, and the result is fully declarative (no greedy
    iteration), so the SQL oracle is two stacked ranking windows. At
    scale the group stage runs on (query, group) partitions and the
    final stage sees ≤ |groups|·per_group rows per query."""
    q = F.broadcast(_normed(queries, query_id_col, vec_col, "_q"))
    c = _normed(
        embeddings, id_col, vec_col, "_c", F.col(group_col).alias("_grp")
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, "_grp", _qc_cos().alias("cos_sim"))
    )
    order = [F.col("cos_sim").desc_nulls_last(), F.col(id_col).asc()]
    capped = _rank_topk(
        scored, per_group, [query_id_col, "_grp"], order, scored.columns
    )
    return _rank_topk(
        capped,
        k,
        query_id_col,
        order,
        [
            query_id_col,
            id_col,
            F.col("_grp").alias(group_col),
            "cos_sim",
            F.col("_rn").alias("rank"),
        ],
    )


def mmr_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 10,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998 — the standard greedy result diversifier): from the exact
    top-``shortlist`` candidates per query, greedily pick k results,
    each maximizing ``λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)`` against
    the already-selected set S (step 1's penalty term is empty → 0,
    so its score is λ·rel). Unlike the per-group cap
    (:func:`diversified_topk`) MMR needs no grouping column — it
    penalizes similarity to WHATEVER was already picked.

    Scale + determinism shape: the greedy loop runs over the PINNED
    shortlist (one eager localCheckpoint of ≤ shortlist rows/query +
    their ≤ shortlist² pairwise sims — the centroid-pinning
    convention), never the corpus, so each of the k steps is a
    driver-built plan over bounded frames; the corpus is touched once,
    by the exact top-shortlist stage. The k steps are UNROLLED (k is
    small and fixed), every sim reuses the bit-exact cosine chain, the
    score arithmetic is two multiplies and a subtract (identical IEEE
    ops on both engines), and ties break on the id — so the SQL
    oracle unrolls the same k steps exactly. Output: (query_id, id,
    mmr_score rounded to 6, rank 1..k)."""
    cand = (
        brute_force_topk(
            embeddings,
            queries,
            k=shortlist,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
        )
        .select(query_id_col, id_col, F.col("cos_sim").alias("_rel"))
        .localCheckpoint(eager=True)
    )
    v = _normed(embeddings, id_col, vec_col, "_")

    def side(x):
        return cand.select(
            F.col(query_id_col), F.col(id_col).alias(f"_{x}")
        ).join(
            v.select(
                F.col(id_col).alias(f"_{x}"),
                F.col("_v").alias(f"_v{x}"),
                F.col("_n").alias(f"_n{x}"),
            ),
            f"_{x}",
        )

    pairs = (
        side("a")
        .join(side("b"), query_id_col)
        .filter(F.col("_a") != F.col("_b"))
        .select(
            query_id_col,
            "_a",
            "_b",
            _cos(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")).alias(
                "_sim"
            ),
        )
        .localCheckpoint(eager=True)
    )
    order = [F.col("_score").desc_nulls_last(), F.col(id_col).asc()]

    def best(scored, rank):
        return _rank_topk(
            scored, 1, query_id_col, order,
            [query_id_col, id_col, "_score", F.lit(rank).alias("rank")],
        )

    sel = best(cand.withColumn("_score", F.lit(lam) * F.col("_rel")), 1)
    for step in range(2, k + 1):
        # every frame renamed to globally-unique column names before
        # joining, so no join needs dataset-qualified references
        rem = cand.join(
            sel.select(query_id_col, id_col), [query_id_col, id_col], "left_anti"
        ).select(
            F.col(query_id_col).alias("_rq"),
            F.col(id_col).alias("_rid"),
            "_rel",
        )
        sel_b = sel.select(
            F.col(query_id_col).alias("_sq"), F.col(id_col).alias("_sel_b")
        )
        mx = (
            rem.join(
                pairs,
                (F.col(query_id_col) == F.col("_rq"))
                & (F.col("_a") == F.col("_rid")),
            )
            .join(
                sel_b,
                (F.col("_sq") == F.col("_rq"))
                & (F.col("_b") == F.col("_sel_b")),
            )
            .groupBy("_rq", "_rid", "_rel")
            .agg(F.max("_sim").alias("_msim"))
            .select(
                F.col("_rq").alias(query_id_col),
                F.col("_rid").alias(id_col),
                "_rel",
                "_msim",
            )
        )
        pick = best(
            mx.withColumn(
                "_score",
                F.lit(lam) * F.col("_rel")
                - F.lit(1.0 - lam) * F.col("_msim"),
            ),
            step,
        )
        # pin the (≤ step·|queries|-row) selected set: keeps each
        # step's plan flat AND severs the pairs lineage so the next
        # step's joins aren't self-joins of the pairs subtree
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    return sel.select(
        query_id_col,
        id_col,
        (F.round("_score", 6) + 0.0).alias("mmr_score"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def build_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> None:
    """Materialize the IVFADC index as parquet artifacts — the
    build-once/serve-many deployment shape a production vector store
    runs (today's ivfpq_topk re-derives everything per query; a real
    index is built in one batch job and served many times):

    - ``{path}/centroids``: (cell, _cv) — the coarse quantizer,
      ≤ cells rows (broadcast at serve time).
    - ``{path}/codebooks``: (s, j, codeword) — m·k_codes rows, the PQ
      quantizer (collected to the broadcast codebook row at load).
    - ``{path}/postings``: (id, cell, code_0..code_{m-1}) — ONE row
      per corpus vector, m small ints + a cell id: the only
      corpus-sized artifact, and the only thing a serve-time scan
      reads. Partitioned BY CELL so a probe reads only its cells'
      files (partition pruning = the inverted-list seek).

    Daily upkeep appends to postings via :func:`assign_cells` +
    :func:`pq_encode` on the ingest batch (the
    `ivf_incremental_assign` / streaming-maintenance contract);
    re-training is a scheduled snapshot job. Serve with
    :func:`load_ivfpq_index` + :func:`query_ivfpq_index`, whose
    results are row-identical to :func:`ivfpq_topk` on the same
    corpus (pytest-pinned)."""
    index = _ivfpq_index(embeddings, m, k_codes, id_col, vec_col, label_col)
    index["centroids"].write.mode("overwrite").parquet(f"{path}/centroids")
    embeddings.sparkSession.createDataFrame(
        [
            (s, j, cw)
            for s, sub in enumerate(index["codebooks"])
            for j, cw in enumerate(sub)
        ],
        "s int, j int, codeword array<double>",
    ).write.mode("overwrite").parquet(f"{path}/codebooks")
    index["postings"].write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/postings"
    )


def _ivfpq_index(
    embeddings: DataFrame,
    m: int,
    k_codes: int,
    id_col: str,
    vec_col: str,
    label_col: str,
    corpus_predicate: Column | None = None,
) -> dict:
    """The IVF-PQ index as the in-memory dict :func:`load_ivfpq_index`
    returns: per-``label`` centroids and id<k seed codebooks, both
    trained on the FULL corpus, and postings (id, code_0..code_{m-1},
    cell) of the corpus rows matching ``corpus_predicate`` (all rows
    when it is None) — the filter runs before the postings are
    built."""
    src = embeddings if corpus_predicate is None else embeddings.filter(corpus_predicate)
    cents = label_centroids(embeddings, label_col, vec_col)
    cbs = pq_codebooks(embeddings, m, k_codes, id_col, vec_col)
    postings = pq_encode(src, cbs, id_col, vec_col).join(
        assign_cells(src, cents, id_col, vec_col), id_col
    )
    return {"centroids": cents, "codebooks": cbs, "postings": postings}


def load_ivfpq_index(spark, path: str) -> dict:
    """Load the :func:`build_ivfpq_index` artifacts: centroids and
    postings stay DataFrames (postings is read lazily — partition
    pruning on `cell` applies at query time); the m·k_codes codebook
    rows collect to the nested Python list the broadcast
    `_codebook_frame` shape consumes (bounded k·dim driver state)."""
    cb_rows = sorted(
        (int(r.s), int(r.j), [float(x) for x in r.codeword])
        for r in spark.read.parquet(f"{path}/codebooks").collect()
    )
    m = 1 + max(s for s, _, _ in cb_rows)
    cbs = [[cw for s2, _, cw in cb_rows if s2 == s] for s in range(m)]
    return {
        "centroids": spark.read.parquet(f"{path}/centroids"),
        "postings": spark.read.parquet(f"{path}/postings"),
        "codebooks": cbs,
    }


def query_ivfpq_index(
    index: dict,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Serve IVFADC top-k from a PREBUILT index (:func:`
    build_ivfpq_index`): probe the n_probe nearest cells per query
    against the tiny centroid table, equi-join the probed cells onto
    the postings table (partition pruning: only those cells' files are
    read), ADC over the stored codes with the broadcast codebook row.
    No training, no corpus float scan — the serve path reads m code
    bytes per vector in n_probe/n_cells of the corpus, exactly the
    ivfpq_topk dataflow minus every build-time step. Results are
    row-identical to :func:`ivfpq_topk` on the same corpus."""
    return _ivfpq_serve(
        index, queries, k, n_probe, id_col, vec_col, query_id_col
    )


def _ivfpq_serve(
    index: dict,
    queries: DataFrame,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    resid_cn: DataFrame | None = None,
) -> DataFrame:
    """The one IVF-PQ serve body, probe → scan → rank, over an index
    dict (:func:`_ivfpq_index` / :func:`load_ivfpq_index`): each query
    probes its n_probe nearest cells (:func:`_probe`, raw-vector
    cosine), each probe row carries the query's ADC LUT
    (:func:`_adc_dist_lut`, hoisted so the cell scan pays m lookups per
    code row), the probed cells equi-join the postings on ``cell``, and
    the per-query top-k is :func:`_rank_topk` over ``pq_dist`` ASC,
    ties on the id.

    With ``resid_cn`` (cell, _cn) the postings hold RESIDUAL codes
    (:func:`ivfpq_residual_topk`): each probe row's query vector
    becomes qr = qn − cn(cell), and the distance adds the ‖qr‖² term,
    which is not constant across probed cells."""
    cbs = index["codebooks"]
    m = len(cbs)
    sub = len(cbs[0][0])
    probes = _probe(
        queries, index["centroids"], n_probe, query_id_col, vec_col
    ).join(unit_norm_frame(queries, query_id_col, vec_col, "_qn"), query_id_col)
    qrr = []
    dist = _adc_lut_sum(m)
    if resid_cn is not None:
        # qr takes _qn's place, so one LUT projection serves both forms
        probes = probes.join(resid_cn, "cell").select(
            query_id_col,
            "cell",
            F.zip_with("_qn", "_cn", lambda x, y: x - y).alias("_qn"),
        )
        qrr = [dot(F.col("_qn"), F.col("_qn")).alias("_qrr")]
        dist = F.col("_qrr") + dist
    lut = probes.crossJoin(_codebook_frame(queries.sparkSession, cbs)).select(
        query_id_col, "cell", _adc_dist_lut(F.col("_qn"), sub).alias("_lut"), *qrr
    )
    scan = (
        index["postings"]
        .join(F.broadcast(lut), "cell")
        .filter(F.col(id_col) != F.col(query_id_col))
    )
    return _rank_topk(
        scan.select(query_id_col, id_col, dist.alias("pq_dist")),
        k,
        query_id_col,
        [F.col("pq_dist").asc(), F.col(id_col).asc()],
        [query_id_col, id_col, "pq_dist", F.col("_rn").alias("rank")],
    )


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nulls_first: bool = True,
) -> DataFrame:
    """Public cell-assignment entry point: nearest-centroid (cosine)
    cell per vector against a FROZEN (cell, _cv) centroid table —
    the operation behind IVF index maintenance and SemDeDup/k-means
    assignment, exposed for incremental-ingest pipelines where a batch
    of new vectors joins an already-clustered corpus without rescanning
    it. Wraps the zero-shuffle 1-row-broadcast HOF argmax
    (:func:`_assign_nearest`): O(|vectors| · cells) map-side work, no
    exchange, O(1) plan size. Returns (id, cell). ``nulls_first=True``
    (default) mirrors the IVF/semdedup oracles' DESC NULLS FIRST."""
    out = _assign_nearest(
        vectors.select(
            F.col(id_col).alias("_id"), as_double(vec_col).alias("_v")
        ),
        centroids,
        nulls_first=nulls_first,
    )
    return out.select(F.col("_id").alias(id_col), "cell")


def hierarchical_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    n_super: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-level APPROXIMATE cell assignment — the standard fix for
    flat assignment's O(N·k) dot products at the k ≈ √N configuration
    (N = 10⁹, k ≈ 31k → ~3×10¹³ subspace ops per Lloyd round): pick
    ``n_super`` super-seeds (the centroids with the smallest cell ids
    — the deterministic id-seed convention), group every centroid
    under its most-cosine-similar super-seed, then assign each vector
    in two stages — nearest super-seed first, nearest CHILD of that
    super-seed second. Work per vector: n_super + k/n_super dots on
    average (≈ 2√k at n_super = ⌈√k⌉) instead of k — ~100× less at
    k = 31k. Approximate: a vector whose true nearest centroid lives
    under a different super-seed is misassigned, so this NEVER
    replaces the exact oracled paths; `hierarchical_assign_agreement`
    audits the agreement rate against exact assignment.

    Plan shape: the whole two-level structure collapses to ONE
    broadcast row (supers array of structs, each carrying its children
    array with pre-hoisted norms — the `_assign_nearest` convention,
    nested), and both stages run inside per-row higher-order argmaxes
    over that broadcast DATA: zero shuffle, O(1) plan size in k,
    NULL-similarity outranks values (the DESC NULLS FIRST flavor,
    matching assign_cells' default). Returns (id, cell)."""
    # super-seeds: the n_super smallest cell ids (tiny frame — the
    # single-partition window only ever sees ≤ k centroid rows)
    w = Window.orderBy("cell")
    seeds = (
        centroids.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_super)
        .select(F.col("cell").alias("scell"), F.col("_cv").alias("_scv"))
    )
    # centroid → super-seed grouping (≤ k rows × n_super candidates)
    cent_sup = _assign_nearest(
        centroids.select(
            F.col("cell").alias("_id"), F.col("_cv").alias("_v")
        ),
        seeds.select(
            F.col("scell").alias("cell"), F.col("_scv").alias("_cv")
        ),
        nulls_first=True,
    ).select(
        F.col("_id").alias("ccell"),
        F.col("cell").alias("scell"),
        F.col("_v").alias("_ccv"),
    )
    # ONE nested broadcast row: supers (sorted by id), each with its
    # seed vector + norm and a sorted children array with norms.
    # LEFT join from the seeds so a super-seed that acquires no
    # children (possible when duplicate centroid vectors make it
    # tie-lose its own assignment) survives as its own single child
    # instead of silently vanishing from the level-1 candidate set.
    children_agg = cent_sup.groupBy("scell").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("ccell").alias("cell"),
                    F.col("_ccv").alias("_cv"),
                    norm(F.col("_ccv")).alias("_cn"),
                )
            )
        ).alias("_children")
    )
    sup = (
        seeds
        .join(F.broadcast(children_agg), "scell", "left")
        .withColumn(
            "_children",
            F.coalesce(
                F.col("_children"),
                F.array(
                    F.struct(
                        F.col("scell").alias("cell"),
                        F.col("_scv").alias("_cv"),
                        norm(F.col("_scv")).alias("_cn"),
                    )
                ),
            ),
        )
    )
    arr = F.broadcast(
        sup.select(
            F.struct(
                F.col("scell"),
                F.col("_scv"),
                norm(F.col("_scv")).alias("_sn"),
                F.col("_children"),
            ).alias("_s")
        ).agg(F.array_sort(F.collect_list("_s")).alias("_supers"))
    )

    # level 1: argmax over supers — the winner's children ride along
    # in the struct (compared only on the impossible total tie, since
    # super ids are unique)
    scored1 = F.transform(
        "_supers",
        lambda s: F.struct(
            _cos(F.col("_v"), s["_scv"], F.col("_vn"), s["_sn"])
            .isNull()
            .cast("int")
            .alias("_nf"),
            _cos(F.col("_v"), s["_scv"], F.col("_vn"), s["_sn"]).alias("_sim"),
            (-s["scell"]).cast("long").alias("_negs"),
            s["_children"].alias("_ch"),
        ),
    )
    best1 = F.array_max(scored1)
    # level 2: argmax over the chosen super's children only
    scored2 = F.transform(
        best1["_ch"],
        lambda c: F.struct(
            _cent_sim(c).isNull().cast("int").alias("_nf"),
            _cent_sim(c).alias("_sim"),
            (-c["cell"]).cast("long").alias("_negc"),
        ),
    )
    best2 = F.array_max(scored2)
    return (
        vectors.select(
            F.col(id_col), as_double(vec_col).alias("_v")
        )
        .withColumn("_vn", norm(F.col("_v")))
        .crossJoin(arr)
        .select(F.col(id_col), (-best2["_negc"]).alias("cell"))
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k_const: int = 60,
    k: int = 5,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009 — the standard
    hybrid-retrieval ensemble): each input ranking contributes
    ``1 / (k_const + rank)`` for every (query, candidate) it returns,
    the contributions sum per candidate, and the fused top-k re-ranks
    by that score. The fusion step never touches vectors or text — it
    is a union of the (tiny) per-system top-k frames plus one hash
    aggregate on (query, candidate), so fusing S systems over any
    corpus costs S top-k pipelines + an aggregate over ≤ S·k·|queries|
    rows. Scores fold through the fixed-point :func:`dsum` so the sum
    is order-independent across partitions and engines (each term is
    an exact double from integer ranks; k_const = 60 is the published
    default). Ties break on the candidate id. Output: (query_id, id,
    rrf_score rounded to 6, rank 1..k).
    """
    from covid_custom_sql_engine_spark.operators.core import dsum

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            F.col(query_id_col),
            F.col(id_col),
            (F.lit(1.0) / (F.lit(k_const) + F.col(rank_col))).alias("_t"),
        )
        for r in rankings
    ]
    allr = parts[0]
    for pr in parts[1:]:
        allr = allr.unionByName(pr)
    fused = allr.groupBy(query_id_col, id_col).agg(dsum(F.col("_t")).alias("_s"))
    return _rank_topk(
        fused,
        k,
        query_id_col,
        [F.col("_s").desc(), F.col(id_col).asc()],
        [
            query_id_col,
            id_col,
            (F.round("_s", 6) + 0.0).alias("rrf_score"),
            F.col("_rn").cast("bigint").alias("rank"),
        ],
    )


def ivfpq_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    cand_factor: int = 4,
    n_probe: int = 2,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    label_col: str = "label",
) -> DataFrame:
    """The third stage of the deployed billion-scale retrieval stack:
    IVFADC (:func:`ivfpq_topk`) shortlists ``k · cand_factor``
    candidates per query from PQ codes alone, then ONLY those survivors
    are joined back to their float vectors and re-scored with the exact
    cosine — the "exact re-ranking of survivors" follow-up the IVFADC
    docstring promises. At 100 TB the float vectors are touched for
    k·cand_factor rows per query (an equi-join on the id, never a
    scan); everything upstream reads m code bytes per vector in
    n_probe/n_cells of the corpus. Output matches
    :func:`brute_force_topk`'s shape: (query_id, id, cos_sim, rank),
    ties on the neighbor id, NULLS LAST like the exact baseline
    (:func:`_exact_rerank`).
    """
    cand = ivfpq_topk(
        embeddings,
        queries,
        k=k * cand_factor,
        n_probe=n_probe,
        m=m,
        k_codes=k_codes,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        label_col=label_col,
    ).select(query_id_col, id_col)
    return _exact_rerank(
        cand, embeddings, queries, k, id_col, vec_col, query_id_col
    )


def opq_householder_direction(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """ONE-ROW frame (`_u` array<double>) carrying the Householder
    reflector that maps the corpus's (one-power-step) top principal
    direction onto e₁ — the deterministic single-reflection slice of
    OPQ's learned rotation (Ge et al. 2013): when the corpus has one
    dominant correlated component smeared across subspaces, reflecting
    it onto the first coordinate confines its quantization error to
    subspace 0 and frees every other subspace's codeword budget for
    the discriminative residual (audited head-to-head by
    `opq_topk_recall`). The full OPQ alternation (SVD of the
    code-covariance) needs a dense dim×dim solve per iteration; one
    data-derived reflection H = I − 2uuᵀ keeps the rotation APPLICABLE
    AS AN EXPRESSION — rotating a vector is v − 2u(uᵀv), O(dim) per
    row with no matrix multiply and no shuffle — and keeps the
    cross-engine contract exact (the direction comes from
    :func:`pca_power_step`'s rounded components, so both engines build
    the identical reflector).

    Shape: one corpus scan (the power step) + two 1-row projections;
    u = (w − e₁)/‖w − e₁‖, with the ‖·‖² < 1e-12 guard collapsing to
    the zero reflector (H = I) when the top direction already IS e₁.
    """
    w = pca_power_step(embeddings, vec_col=vec_col, dim=dim)
    # reassemble the (dim, component) rows into an array in dim order —
    # the pq_codebooks_refined collect_list(struct) reassembly pattern
    warr = w.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "component"))),
            lambda t: t["component"],
        ).alias("_w")
    )
    d = warr.select(
        F.transform(
            "_w",
            lambda x, i: x
            - F.when(i == F.lit(0), F.lit(1.0)).otherwise(F.lit(0.0)),
        ).alias("_d")
    )
    n2 = dot(F.col("_d"), F.col("_d"))
    return d.select(
        F.when(n2 < F.lit(1e-12), F.transform("_d", lambda _: F.lit(0.0)))
        .otherwise(F.transform("_d", lambda x: x / F.sqrt(n2)))
        .alias("_u")
    )


def opq_rotate(
    df: DataFrame,
    u_frame: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "embedding",
) -> DataFrame:
    """Apply the Householder reflection v ← v − 2·(uᵀv)·u from a 1-row
    `_u` frame (:func:`opq_householder_direction`) to every vector —
    a pure map-side projection against ONE broadcast row (the
    `_codebook_frame` shape): uᵀv is hoisted once per row, the update
    is a zip_with, no shuffle, O(1) plan size in dim. Orthogonal, so
    norms, dots, and the exact cosine ranking are preserved up to
    float rounding — only the PQ subspace decomposition sees the
    difference, which is the point."""
    v = as_double(vec_col)
    return (
        df.crossJoin(F.broadcast(u_frame))
        .withColumn("_uv", dot(v, F.col("_u")))
        .select(
            id_col,
            F.zip_with(
                v,
                F.col("_u"),
                lambda x, uj: x - F.lit(2.0) * F.col("_uv") * uj,
            ).alias(out_col),
        )
    )
