"""Retrieval operators Q1-Q4 (SURVEY.md §2.9).

These are the reference's four query modes re-expressed as lazy
DataFrame programs:

- the query vector(s) are tiny → literal arrays / broadcast, never a
  shuffle side;
- scoring is a JVM-side dot product over the scanned vectors (exact
  KNN, same semantics as ES script_score which also scans);
- top-k is `orderBy(...).limit(k)` which Spark plans as
  TakeOrderedAndProject — per-partition heaps + driver merge, no
  global sort, so it scales to arbitrarily wide scans;
- the two-phase hybrid keeps the phase-1 candidate pool small
  (`max(20·k, 100)`, a few hundred rows) so phase 2's segment join is
  a broadcast join against the candidate ids.

Deterministic tie-breaks (score DESC, id ASC) everywhere — the
reference relies on ES's stable ordering; we make ours explicit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import vectors as V


def _query_vec_col(query_vec: Sequence[float]):
    return V.lit_vec(query_vec)


# Above this many query vectors the batched-literal path stops being
# "a tiny query artifact" and the crossJoin formulation takes over.
_MAX_BATCHED_QUERIES = 64


def _qrows_frame(like_df, qrows, qid_col: str, qvec_col: str):
    """Rebuild a queries DataFrame from driver-side (qid, vector) rows
    for the >_MAX_BATCHED_QUERIES crossJoin fallback. The fallback must
    score exactly the batch the caller supplied: callers on the serving
    path pass ``query_rows`` with NO queries DataFrame at all, and a
    caller passing both must not get a silently different query set the
    moment the batch outgrows the width-limited path."""
    spark = like_df.sparkSession
    qid_type = (
        "string" if qrows and isinstance(qrows[0][0], str) else "long"
    )  # same id-type latitude as the batched pair_scores path
    return spark.createDataFrame(
        [(q, [float(x) for x in v]) for q, v in qrows],
        f"{qid_col} {qid_type}, {qvec_col} array<double>",
    )


def pair_scores(
    df: DataFrame,
    query_rows,  # list of (qid, vector)
    keep_col: str,
    vec_col: str,
    qid_col: str,
    arrow: bool = True,
) -> DataFrame:
    """(row, query) similarity pairs via ONE batched sims array per row
    (V.sims_array) instead of a crossJoin with an interpreted per-pair
    dot — measured ~4× cheaper at 10 query vectors × 128k rows with
    the Arrow matmul, because each row's vector crosses to Python once
    and the Q dots are BLAS flops. ``arrow=False`` keeps the sims
    JVM-side for small cached frames where the UDF launch cost
    dominates (the caller's volume policy). Query ids keep their
    Python type's Spark mapping (int → bigint, str → string)."""
    qids = [r[0] for r in query_rows]
    qmat = [[float(x) for x in r[1]] for r in query_rows]
    sims = V.sims_array(vec_col, qmat, arrow=arrow)
    if all(isinstance(q, int) and not isinstance(q, bool) for q in qids):
        qid_lit = F.expr(f"array({', '.join(f'{q}L' for q in qids)})")
    else:
        qid_lit = F.lit(qids)
    return df.select(
        F.col(keep_col), F.posexplode(sims).alias("__pos", "sim")
    ).select(
        F.col(keep_col),
        F.element_at(qid_lit, F.col("__pos") + 1).alias(qid_col),
        F.col("sim"),
    )


def _query_rows_of(df: DataFrame, qid_col: str, qvec_col: str):
    return [(r[0], r[1]) for r in df.select(qid_col, qvec_col).collect()]


def grouped_query_maxima(
    df: DataFrame,
    query_rows,  # list of (qid, vector)
    group_col: str,
    vec_col: str,
    arrow: bool = True,
) -> tuple[DataFrame, list[str]]:
    """Per-group max similarity against each of Q query vectors, as Q
    codegen'd ``max`` aggregates over the batched-sims array — ONE
    shuffle of (group, Q doubles), no posexplode row amplification.

    The explode formulation ships Q rows per scanned row into a
    groupBy(group, qid) shuffle and then a second groupBy(group); here
    the per-row sims stay an array, the map side partially maxes all Q
    positions, and only one (group, Q-wide) row per group crosses the
    wire. Returns (aggregated frame, ordered per-query column names).
    ``arrow`` picks the sims strategy (V.sims_array volume policy).
    """
    qmat = [[float(x) for x in r[1]] for r in query_rows]
    sims = V.sims_array(vec_col, qmat, arrow=arrow)
    names = [f"__best_{i}" for i in range(len(query_rows))]
    aggs = [
        F.max(F.element_at(F.col("__sims"), i + 1)).alias(names[i])
        for i in range(len(query_rows))
    ]
    out = (
        df.select(F.col(group_col), sims.alias("__sims"))
        .groupBy(group_col)
        .agg(*aggs)
    )
    return out, names


def knn(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    calibrate: bool = True,
) -> DataFrame:
    """Q1 — whole-image KNN (search_with_segments.py:148-185).

    Score = dot(query, vec) [+ 1.0 when ``calibrate``, matching the ES
    Painless ``cosineSimilarity(...) + 1.0``]. Vectors are stored
    L2-normalized so dot ≡ cosine. Returns (id, score) ordered desc.

    Scale: one scan + TakeOrderedAndProject; the heavy vector column
    is pruned from the output (P1) so only k small rows reach the
    driver.
    """
    score = V.dot(F.col(vec_col), _query_vec_col(query_vec))
    if calibrate:
        score = V.calibrated_whole_score(score)
    return (
        embeddings.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def knn_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_rows=None,
    arrow: bool = True,
) -> DataFrame:
    """Per-query top-k for a small batch of query vectors.

    The query side is broadcast (it is tiny); candidates are ranked
    per query with a window — per-partition partial ranking under AQE,
    no driver loop. ``query_rows`` (list of (qid, vector)) skips the
    collect when the caller already holds the batch driver-side — the
    serving path, where queries arrive as request payloads.
    """
    qrows = (
        query_rows
        if query_rows is not None
        else _query_rows_of(queries, query_id_col, query_vec_col)
    )
    if 0 < len(qrows) <= _MAX_BATCHED_QUERIES:
        joined = pair_scores(
            embeddings, qrows, id_col, vec_col, query_id_col, arrow=arrow
        ).select(query_id_col, id_col, "sim")
    else:
        qdf = _qrows_frame(embeddings, qrows, query_id_col, query_vec_col)
        joined = embeddings.crossJoin(F.broadcast(qdf)).select(
            F.col(query_id_col),
            F.col(id_col),
            V.dot(F.col(vec_col), F.col(query_vec_col)).alias("sim"),
        )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.col(id_col))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def segment_search(
    segments: DataFrame,
    query_segments: DataFrame,
    top_k: int = 10,
    candidate_cap: int | None = None,
    image_col: str = "image_id",
    vec_col: str = "clip_features",
    qvec_col: str = "features",
    qid_col: str = "q_segment_id",
    query_rows=None,
    image_ids: DataFrame | None = None,
    arrow: bool = True,
) -> DataFrame:
    """Q2 — segment-level search (search_with_segments.py:188-301).

    For each candidate image: for each (≤10) query segment, the best
    cosine over the image's segments (per-query-segment argmax, W4);
    image score = mean of those maxima, with max also reported.

    ``candidate_cap`` reproduces the reference's ``top_k*3`` ES recall
    heuristic when set: only the first cap images (by image id) with
    segments are scored — a parity knob, not a semantic requirement.
    ``image_ids`` optionally supplies the distinct image-id frame the
    cap draws from — index metadata (the ids present in the segment
    index), so a serving session hands in the write-time artifact
    instead of re-distincting the corpus per query.

    Plan shape: segments ⋈ broadcast(query segments) → two-level
    aggregation. The only shuffle is the groupBy on (image, q-seg) —
    map-side partial max applies, and the query side never shuffles.
    ``query_rows`` skips the query-segment collect when the caller
    already holds them driver-side.
    """
    cand = segments
    if candidate_cap is not None:
        id_src = (
            image_ids
            if image_ids is not None
            else segments.select(image_col).distinct()
        )
        cand_ids = id_src.orderBy(image_col).limit(candidate_cap)
        cand = segments.join(F.broadcast(cand_ids), image_col, "left_semi")

    qrows = (
        query_rows
        if query_rows is not None
        else _query_rows_of(query_segments, qid_col, qvec_col)
    )
    if 0 < len(qrows) <= _MAX_BATCHED_QUERIES:
        best, names = grouped_query_maxima(
            cand, qrows, image_col, vec_col, arrow=arrow
        )
        total = F.col(names[0])
        for nm in names[1:]:
            total = total + F.col(nm)
        avg = total / F.lit(float(len(names)))
        mx = (
            F.greatest(*[F.col(nm) for nm in names])
            if len(names) > 1
            else F.col(names[0])
        )
        scored = best.select(
            F.col(image_col),
            avg.alias("avg_similarity"),
            mx.alias("max_segment_similarity"),
        )
    else:
        qdf = _qrows_frame(cand, qrows, qid_col, qvec_col)
        pairs = cand.crossJoin(F.broadcast(qdf)).select(
            F.col(image_col),
            F.col(qid_col),
            V.dot(F.col(vec_col), F.col(qvec_col)).alias("sim"),
        )
        best = pairs.groupBy(image_col, qid_col).agg(F.max("sim").alias("best_sim"))
        scored = best.groupBy(image_col).agg(
            F.avg("best_sim").alias("avg_similarity"),
            F.max("best_sim").alias("max_segment_similarity"),
        )
    # top-k selection orders on the ROUNDED score + id — the engine's
    # certification convention (module header of queries.py): the raw
    # doubles come from different fp accumulation orders per execution
    # strategy/engine, so a raw-score order could select a different
    # row SET than the oracle when two candidates round equal
    return scored.orderBy(
        F.desc(F.round("avg_similarity", 6)), F.col(image_col)
    ).limit(top_k)


def hybrid_search(
    images: DataFrame,
    segments: DataFrame,
    query_vec: Sequence[float],
    query_segments: DataFrame,
    top_k: int = 10,
    whole_weight: float = 0.4,
    segment_weight: float = 0.6,
    image_col: str = "image_id",
    whole_vec_col: str = "embedding",
    seg_vec_col: str = "clip_features",
    qvec_col: str = "features",
    qid_col: str = "q_segment_id",
    query_rows=None,
    arrow: bool = True,
) -> DataFrame:
    """Q3 — two-phase hybrid re-rank (search_with_segments.py:345-445).

    Phase 1: whole-image KNN with candidate pool ``max(top_k*20, 100)``
    (score shifted to 0..2). Phase 2: segment score (raw cosine in
    −1..1 — the reference's asymmetry, SURVEY.md §1.4) for candidates
    only, via a broadcast semi-join on the candidate ids. Phase 3:
    ``hybrid = w_w·whole + w_s·segment`` with missing segment score
    → 0.0; final top-k.
    """
    pool = max(top_k * 20, 100)
    phase1 = knn(
        images, query_vec, k=pool, id_col=image_col, vec_col=whole_vec_col
    ).withColumnRenamed("score", "whole_score")

    cand_segments = segments.join(
        F.broadcast(phase1.select(image_col)), image_col, "left_semi"
    )
    qrows = (
        query_rows
        if query_rows is not None
        else _query_rows_of(query_segments, qid_col, qvec_col)
    )
    if 0 < len(qrows) <= _MAX_BATCHED_QUERIES:
        best, names = grouped_query_maxima(
            cand_segments, qrows, image_col, seg_vec_col, arrow=arrow
        )
        total = F.col(names[0])
        for nm in names[1:]:
            total = total + F.col(nm)
        seg_score = best.select(
            F.col(image_col),
            (total / F.lit(float(len(names)))).alias("segment_score"),
        )
    else:
        qdf = _qrows_frame(cand_segments, qrows, qid_col, qvec_col)
        pairs = cand_segments.crossJoin(F.broadcast(qdf)).select(
            F.col(image_col),
            F.col(qid_col),
            V.dot(F.col(seg_vec_col), F.col(qvec_col)).alias("sim"),
        )
        seg_score = (
            pairs.groupBy(image_col, qid_col)
            .agg(F.max("sim").alias("best_sim"))
            .groupBy(image_col)
            .agg(F.avg("best_sim").alias("segment_score"))
        )

    combined = phase1.join(seg_score, image_col, "left").select(
        F.col(image_col),
        F.col("whole_score"),
        F.coalesce(F.col("segment_score"), F.lit(0.0)).alias("segment_score"),
        V.hybrid_score(
            F.col("whole_score"), F.col("segment_score"), whole_weight, segment_weight
        ).alias("hybrid_score"),
    )
    # rounded-score + id ordering — see segment_search
    return combined.orderBy(
        F.desc(F.round("hybrid_score", 6)), F.col(image_col)
    ).limit(top_k)


def hybrid_search_flat(
    segments: DataFrame,
    query_vec: Sequence[float],
    query_rows,  # list of (qid, vector)
    top_k: int = 10,
    whole_weight: float = 0.4,
    segment_weight: float = 0.6,
    image_col: str = "image_id",
    vec_col: str = "clip_features",
    whole_marker: F.Column | None = None,
    allowed_marker: F.Column | None = None,
    pool: int | None = None,
    arrow: bool = True,
) -> DataFrame:
    """Q3 over the reference's FLAT segment layout — one corpus pass.

    The flat index (`foto_atlas_sam`) denormalizes the whole-image
    vector into every segment row (SAM/upload_segments_to_
    elasticsearch.py:98-116), so both hybrid phases can be computed in
    a single scan: each row's sims against [whole query] + [Q segment
    queries], then ONE per-image aggregation producing the whole score
    (from the ``whole_marker`` row) and all Q per-query-segment maxima
    together. The phase-1 pool becomes a top-``pool`` selection over
    the per-IMAGE frame (identical membership to the two-phase
    formulation: ordered by whole score desc, image id asc), and no
    candidate semi-join, second scan, or intermediate persist exists.

    Exact same score algebra as :func:`hybrid_search` (whole shifted
    to 0..2, segment raw cosine, missing whole row → image excluded
    from phase 1 just as it is absent from the whole-image index).

    Scale: scan → (group, Q+1 doubles) shuffle → two tiny top-k
    stages. The per-image frame is |images| rows — the same frame any
    formulation must aggregate — and the pool selection is
    TakeOrderedAndProject, never a global sort.

    ``allowed_marker`` (optional row predicate): an image is in the
    candidate universe iff ANY of its rows satisfies it — the tag
    pre-filter FOLDED INTO the one-pass aggregation (``max(marker)``
    per image, filtered before pool selection) instead of a distinct +
    broadcast-semi-join pre-pass. At 100 TB that pre-pass is the wrong
    shape twice over: it re-scans the corpus to build the allowed set,
    and that set is a constant fraction of ALL image ids — far past
    any broadcast budget; the folded form costs Q+1 extra dots on
    disallowed rows inside the scan it already runs and shuffles
    nothing extra. Result-identical: the pool then scores only allowed
    images, and an allowed image's segment maxima aggregate over all
    its rows either way.
    """
    if whole_marker is None:
        raise ValueError("whole_marker column predicate required")
    if not query_rows:
        raise ValueError("hybrid_search_flat needs ≥1 query segment")
    pool = pool if pool is not None else max(top_k * 20, 100)
    qmat = [[float(x) for x in query_vec]] + [
        [float(x) for x in r[1]] for r in query_rows
    ]
    sims = V.sims_array(vec_col, qmat, arrow=arrow)
    cols = [F.col(image_col), whole_marker.alias("__w"), sims.alias("__s")]
    if allowed_marker is not None:
        cols.append(allowed_marker.alias("__a"))
    base = segments.select(*cols)
    names = [f"__best_{i}" for i in range(len(query_rows))]
    aggs = [
        F.max(F.when(F.col("__w"), F.element_at(F.col("__s"), 1))).alias("__whole")
    ] + [
        F.max(F.element_at(F.col("__s"), i + 2)).alias(names[i])
        for i in range(len(query_rows))
    ]
    if allowed_marker is not None:
        aggs.append(F.max(F.col("__a")).alias("__allowed"))
    per_image = base.groupBy(image_col).agg(*aggs).filter(
        F.col("__whole").isNotNull()
    )
    if allowed_marker is not None:
        per_image = per_image.filter(F.col("__allowed"))
    per_image = per_image.withColumn(
        "whole_score", V.calibrated_whole_score(F.col("__whole"))
    )
    pooled = per_image.orderBy(F.desc("whole_score"), F.col(image_col)).limit(pool)
    total = F.col(names[0])
    for nm in names[1:]:
        total = total + F.col(nm)
    seg_score = total / F.lit(float(len(names)))
    combined = pooled.select(
        F.col(image_col),
        F.col("whole_score"),
        F.coalesce(seg_score, F.lit(0.0)).alias("segment_score"),
        V.hybrid_score(
            F.col("whole_score"), seg_score, whole_weight, segment_weight
        ).alias("hybrid_score"),
    )
    # rounded-score + id ordering — see segment_search
    return combined.orderBy(
        F.desc(F.round("hybrid_score", 6)), F.col(image_col)
    ).limit(top_k)


def tag_search(
    segments: DataFrame,
    tags: Sequence[str],
    min_confidence: float = 0.1,
    top_k: int = 10,
    image_col: str = "image_id",
    tags_col: str = "tags",
) -> DataFrame:
    """Q4 — tag search (search_with_segments.py:304-342).

    OR-match on the nested tag structs with ``confidence >=
    min_confidence``. The reference ranks by ES's BM25-ish constant
    relevance; exact BM25 parity is a non-goal (SURVEY.md §2.9), so
    the deterministic relevance proxy is (#matching tags, max matching
    confidence).

    ``tags_col`` is ``array<struct<tag,confidence>>``; rows with no
    qualifying tag are filtered before the aggregate, so only matches
    shuffle.
    """
    matching = F.filter(
        F.col(tags_col),
        lambda t: t["tag"].isin(*[str(x) for x in tags])
        & (t["confidence"] >= F.lit(float(min_confidence))),
    )
    per_segment = segments.select(
        F.col(image_col),
        F.explode(matching).alias("m"),
    ).select(image_col, F.col("m.tag").alias("tag"), F.col("m.confidence").alias("confidence"))
    scored = per_segment.groupBy(image_col).agg(
        F.countDistinct("tag").alias("matched_tags"),
        F.max("confidence").alias("max_confidence"),
    )
    return scored.orderBy(
        F.desc("matched_tags"), F.desc("max_confidence"), F.col(image_col)
    ).limit(top_k)


def _term_eq(term: str):
    # Closure factory: Spark reads HOF-lambda arity from the Python
    # signature, so a default-arg capture (``lambda t, term=term:``)
    # would be mis-read as a 2-arg lambda.
    return lambda t: t == F.lit(term)


def _bm25_base(
    df: DataFrame,
    terms: list[str],
    id_col: str,
    text_col: str | None,
    tokens_col: str | None,
    keep_cols: Sequence[str],
    match_filter: bool = False,
) -> tuple[DataFrame, list[str]]:
    """Per-document (dl, tf_i...) projection shared by the scorer and
    the corpus-stats aggregate.

    ``match_filter=True`` applies the OR-match (≥1 query term present)
    as ONE ``arrays_overlap(toks, terms)`` predicate on the token
    array — exactly equivalent to ``any tf_i > 0`` — BEFORE the tf
    projection. The r10 shape filtered on the tf columns after the
    projection, and predicate pushdown substituted the aliases: the
    pushed filter re-tokenized the text once PER TERM at the scan
    (codegen does not collapse the repeated HOF trees — 4 query terms
    = 4 extra full tokenizations per row). The arrays_overlap form
    pushes as a single tokenize (r12 plan change, values identical).
    The stats aggregate never sets this — corpus statistics cover ALL
    documents."""
    from ..functions import text as X

    if tokens_col is not None:
        # NULL-array identity: a missing token list is the empty doc —
        # without the coalesce, F.size(NULL) is -1 and the dl/tf
        # arithmetic silently skews instead of scoring zero
        toks = F.coalesce(
            F.col(tokens_col), F.array().cast("array<string>")
        )
    else:
        toks = X.tokens(F.coalesce(F.col(text_col), F.lit("")))

    tf_names = [f"__tf_{i}" for i in range(len(terms))]
    # Tokenize ONCE into a column, then derive dl and every per-term
    # tf from it. Embedding the tokenization expression in each tf
    # column re-splits the text per term (codegen subexpression
    # elimination does not collapse the repeated HOF trees) — measured
    # 2× slower at 8 terms on the x10 corpus. CollapseProject leaves
    # the two-level select alone because __toks is referenced many
    # times.
    pre = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        toks.alias("__toks"),
    )
    if match_filter:
        pre = pre.filter(
            F.arrays_overlap(
                F.col("__toks"), F.array(*[F.lit(t) for t in terms])
            )
        )
    base = pre.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.size("__toks").alias("__dl"),
        *[
            F.size(F.filter(F.col("__toks"), _term_eq(t))).alias(n)
            for t, n in zip(terms, tf_names)
        ],
    )
    return base, tf_names


def _bm25_stats_agg(base: DataFrame, tf_names: list[str]) -> DataFrame:
    return base.agg(
        F.count("*").alias("__n"),
        F.sum("__dl").alias("__sumdl"),
        *[
            F.sum((F.col(n) > 0).cast("long")).alias(f"__df_{i}")
            for i, n in enumerate(tf_names)
        ],
    )


def bm25_corpus_stats(
    df: DataFrame,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str | None = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """The 1-row corpus-statistics frame ``bm25_topk`` needs —
    (N, Σdl, df per query term). This is WRITE-TIME state in a real
    deployment (Lucene keeps N/Σdl and per-term document frequencies
    in the index segment metadata; an ES ``match`` never rescans the
    corpus for them): collect it once per (corpus, terms), rebuild a
    literal 1-row frame per query, and pass it as ``stats_df`` — the
    scoring plan drops from two corpus scans to one."""
    terms = list(dict.fromkeys(str(t) for t in query_terms))
    if not terms:
        raise ValueError("bm25_corpus_stats needs at least one term")
    base, tf_names = _bm25_base(df, terms, id_col, text_col, tokens_col, ())
    return _bm25_stats_agg(base, tf_names)


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str | None = "text",
    tokens_col: str | None = None,
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    keep_cols: Sequence[str] = (),
    stats_df: DataFrame | None = None,
    stats_values: dict | None = None,
) -> DataFrame:
    """True Lucene BM25 relevance — the scoring an analyzed ES
    ``match`` query would rank the reference's corpus by. Precision on
    the parity claim: the reference's Q4 endpoint
    (search_with_segments.py:304-342, surfaced by app.py:256-293)
    issues an ES ``terms`` query, which Lucene scores CONSTANT (1.0
    per matching clause, no tf/idf) — its ``_score`` ordering is the
    match-count proxy ``tag_search`` already certifies. This operator
    is the capability EXTENSION past that endpoint: the full-text
    relevance an analyzed ``match``/``match_or`` query against the
    same index computes, using the exact Lucene 8+ formula (the
    ``(k1+1)`` numerator constant dropped, as Lucene dropped it — it
    rescales every score identically):

        score(d) = Σ_t idf(t) · tf / (tf + k1·(1 − b + b·dl/avgdl))
        idf(t)   = ln(1 + (N − df(t) + 0.5) / (df(t) + 0.5))

    Plan shape (the reason this scales): the query is a literal
    handful of terms, so per-document ``tf_i = size(filter(toks, =
    term_i))`` is a MAP-ONLY Catalyst expression — no explode, no
    (doc, term) shuffle, no posting-list join. The corpus statistics
    (N, Σdl, df per term) are ONE single-row aggregate (partial
    map-side, a 1-row exchange) broadcast back via crossJoin. Scoring
    is then map-only again and top-k is TakeOrderedAndProject. Two
    corpus scans total; a real deployment persists the stats row at
    index-build time exactly like ES does — pass it as ``stats_df``
    and the plan drops to one scan.

    Only matching documents (≥1 query-term hit) are returned, like an
    ES OR-match. NULL text scores as the empty document (coalesced
    before tokenization). Deterministic: contributions are added
    left-to-right in query-term order, ties break on (rounded score
    DESC, id ASC).
    """
    terms = list(dict.fromkeys(str(t) for t in query_terms))
    if not terms:
        raise ValueError("bm25_topk needs at least one query term")
    base, tf_names = _bm25_base(
        df, terms, id_col, text_col, tokens_col, keep_cols,
        match_filter=True,
    )
    if stats_values is None and stats_df is None:
        # corpus statistics cover ALL documents — aggregate an
        # UNFILTERED base (the match filter above restricts only the
        # scoring pass; folding it into the stats would skew N/Σdl/df)
        stats_base, _ = _bm25_base(
            df, terms, id_col, text_col, tokens_col, ()
        )
        stats_df = _bm25_stats_agg(stats_base, tf_names)

    if stats_values is not None:
        # Driver-held index metadata (the Lucene segment-stats model):
        # inline the statistics as LITERALS. Catalyst constant-folds a
        # broadcast stats row into the same literal expressions anyway
        # — this skips the vestigial BroadcastExchange/NestedLoopJoin
        # node AND the broadcast-materialization job it schedules per
        # execution (r12 plan change, values identical by folding).
        def _stat(name):
            v = stats_values.get(name)
            return (
                F.lit(None).cast("double")
                if v is None
                else F.lit(float(v))
            )

        scored = base
        nd = _stat("__n")
        sumdl = _stat("__sumdl")
        df_cols = [_stat(f"__df_{i}") for i in range(len(terms))]
    else:
        scored = base.crossJoin(F.broadcast(stats_df))
        nd = F.col("__n").cast("double")
        sumdl = F.col("__sumdl").cast("double")
        df_cols = [
            F.col(f"__df_{i}").cast("double") for i in range(len(terms))
        ]
    # Degenerate-corpus guard: with zero tokens anywhere, avgdl would
    # be 0 and ANSI Spark throws on dl/avgdl during evaluation even
    # though every row is filtered (tf=0 ⇒ no match). Any positive
    # stand-in is value-identical whenever a token exists.
    avgdl = F.when(sumdl > 0, sumdl / nd).otherwise(F.lit(1.0))
    dld = F.col("__dl").cast("double")
    contribs = []
    for i in range(len(terms)):
        dfd = df_cols[i]
        tfd = F.col(tf_names[i]).cast("double")
        idf = F.log(
            F.lit(1.0) + (nd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5))
        )
        norm = tfd / (
            tfd + F.lit(float(k1)) * (F.lit(1.0 - b) + F.lit(float(b)) * (dld / avgdl))
        )
        contribs.append(idf * norm)
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    # the OR-match itself was applied pre-projection (match_filter:
    # arrays_overlap ≡ any tf_i > 0) — a post-hoc tf filter here would
    # push back down and re-tokenize per term
    n_matched = (F.col(tf_names[0]) > 0).cast("int")
    for n in tf_names[1:]:
        n_matched = n_matched + (F.col(n) > 0).cast("int")

    out = scored.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        n_matched.alias("n_matched_terms"),
        F.round(score, 6).alias("bm25"),
    )
    return out.orderBy(F.desc("bm25"), F.col(id_col)).limit(top_k)


def rrf_fuse(
    text_hits: DataFrame,
    vector_hits: DataFrame,
    id_col: str = "doc_id",
    text_score: str = "bm25",
    vector_score: str = "cosine",
    k: int = 60,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of a lexical and a vector result list —
    the standard hybrid-retrieval combiner (Cormack et al. 2009; the
    shape Elasticsearch 8 ships as ``rrf``), fusing on RANKS so the
    two retrievers' incomparable score scales never need calibrating:

        rrf(d) = Σ_lists 1 / (k + rank_list(d))        (k = 60)

    This is the modality-level sibling of ``hybrid_search`` (which
    fuses two CALIBRATED cosine spaces with weights): BM25 and cosine
    live on unrelated scales, so the reference's weighted-sum recipe
    cannot combine them — rank fusion is the standard answer, and a
    user of the reference's ES index moving to full hybrid search
    gets it here.

    Inputs are the retrievers' top-N frames (``bm25_topk`` /
    ``brute_force_topk`` outputs, or anything carrying ``id_col`` +
    a score). Ranks are assigned here — (score desc, id asc), dense
    1-based row numbers — over a SINGLE partition, which is safe by
    construction: both inputs are already top-N-bounded result lists
    (N ≈ tens), never corpus-sized; the global window never sees more
    than N rows no matter the corpus. A document missing from one
    list contributes 0 from that list (the standard convention).
    Deterministic across engines: ranks are integers, each
    ``1/(k+r)`` is one IEEE division, and the two-term sum is
    evaluated text-then-vector — bit-identical everywhere.

    Output: (id, text_rank, vector_rank, rrf_score) ordered by the
    RAW fused score (desc, id) and cut to ``top_k``; ``rrf_score`` is
    rounded to 6 for display after the ordering.
    """
    wt = Window.orderBy(F.desc(text_score), F.col(id_col))
    wv = Window.orderBy(F.desc(vector_score), F.col(id_col))
    # The fusion itself is union + per-id max, NOT an outer join: both
    # sides are bounded top-N lists, and a FullOuter join of two
    # ≤N-row frames plans as SortMergeJoin (two exchanges + sorts +
    # merge) while union→HashAggregate is one tiny exchange over ≤2N
    # rows. max() over the disjoint rank columns reproduces the outer
    # join's NULL semantics exactly (each id has at most one non-null
    # value per rank column). Plan change r12, values identical.
    t = text_hits.select(
        F.col(id_col),
        F.row_number().over(wt).alias("text_rank"),
        F.lit(None).cast("int").alias("vector_rank"),
    )
    v = vector_hits.select(
        F.col(id_col),
        F.lit(None).cast("int").alias("text_rank"),
        F.row_number().over(wv).alias("vector_rank"),
    )
    kd = F.lit(float(k))
    fused = (
        t.unionByName(v)
        .groupBy(id_col)
        .agg(
            F.max("text_rank").alias("text_rank"),
            F.max("vector_rank").alias("vector_rank"),
        )
        .select(
            F.col(id_col),
            "text_rank",
            "vector_rank",
            (
                F.coalesce(
                    F.lit(1.0) / (kd + F.col("text_rank").cast("double")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(1.0) / (kd + F.col("vector_rank").cast("double")),
                    F.lit(0.0),
                )
            ).alias("__rrf"),
        )
        .orderBy(F.desc("__rrf"), F.col(id_col))
        .limit(int(top_k))
    )
    return fused.select(
        id_col,
        "text_rank",
        "vector_rank",
        F.round(F.col("__rrf"), 6).alias("rrf_score"),
    )
