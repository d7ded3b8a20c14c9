"""Physical-plan assertions: the plans we WANT at scale, not merely
plans that return correct rows (plans/inspect.py).

Each assertion encodes a scale property: pushdown keeps 100 TB scans
cheap, broadcast keeps dim joins shuffle-free, TakeOrderedAndProject
keeps top-k global-sort-free, and the LSH band join must stay a hash
join — an accidental cartesian (e.g. from a struct join key) is the
difference between minutes and days at production row counts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_feature_extraction_and_retrieval_pipeline_spark import queries as Q
from data_feature_extraction_and_retrieval_pipeline_spark.operators import (
    minhash_lsh_pairs,
)
from data_feature_extraction_and_retrieval_pipeline_spark.plans.inspect import (
    _plan_text,
    has_take_ordered,
    pushed_filters,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return Q.queries()


def test_knn_tag_filter_pushes_to_scan(spark, qs):
    df = qs["knn_tag_filtered"](spark, SF_DIR)
    pf = pushed_filters(df)
    assert "label" in pf, f"label predicate should reach the parquet scan:\n{pf}"


def test_scan_prunes_vector_column_when_unused(spark, qs):
    """agg_value_counts touches only event_type — the scan schema must
    not include the wide props column."""
    df = qs["agg_value_counts"](spark, SF_DIR)
    pf = pushed_filters(df)
    assert "props" not in pf, f"unused columns must be pruned:\n{pf}"


def test_topk_queries_avoid_global_sort(spark, qs):
    for name in ("knn_whole", "win_global_topk", "ann_brute_force"):
        df = qs[name](spark, SF_DIR)
        assert has_take_ordered(df), f"{name} should plan TakeOrderedAndProject"


def test_dim_joins_broadcast(spark, qs):
    for name in ("join_revenue_by_nation", "agg_rollup_acctbal"):
        text = _plan_text(qs[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in text, f"{name} should broadcast dims"
        assert "CartesianProduct" not in text


def test_minhash_band_join_is_hash_join(spark):
    """Regression: a struct-typed band key defeats equi-join key
    extraction and the self-join degrades to a cartesian compare
    (observed 128 s → 8 s at sf0.1 when flattened to scalar keys)."""
    docs = Q._docs_with_dups(spark, SF_DIR)
    df = minhash_lsh_pairs(docs, n=3, num_hashes=16, bands=4, threshold=0.5)
    text = _plan_text(df)
    assert "CartesianProduct" not in text, "band join fell back to cartesian"
    assert "BroadcastNestedLoopJoin" not in text


def test_q1_has_partial_aggregation(spark, qs):
    """Map-side partial agg (two HashAggregate levels around the
    exchange) — the single-shuffle shape that scales."""
    text = _plan_text(qs["q1_pricing_summary"](spark, SF_DIR))
    assert text.count("HashAggregate") >= 2
    assert text.count("Exchange") == 1


def test_revenue_join_broadcast_regimes(spark, qs):
    """join_revenue_by_nation is size-parameterized: below the
    threshold the whole orders-side broadcasts (lineitem streams
    through ONE BroadcastHashJoin, no SortMergeJoin anywhere); above
    it the plan falls back to a shuffled join on the fact keys with
    dims still broadcast. Both regimes pinned."""
    text = _plan_text(qs["join_revenue_by_nation"](spark, SF_DIR))
    assert "BroadcastHashJoin" in text
    assert "SortMergeJoin" not in text, "small regime must not shuffle lineitem"

    orig = Q._SIZE_THRESHOLD
    try:
        Q._SIZE_THRESHOLD = 0  # force the cluster-scale path
        big = _plan_text(Q._QUERIES["join_revenue_by_nation"](spark, SF_DIR))
    finally:
        Q._SIZE_THRESHOLD = orig
    assert "BroadcastHashJoin" in big, "dims must broadcast in both regimes"
    # Above the threshold the ENGINE stops forcing the orders-side
    # broadcast — Catalyst/AQE then picks from stats (at sf0.001 its
    # own autoBroadcast threshold still broadcasts; at real scale it
    # shuffles). The pin is the absence of our hint, not the final
    # physical choice: the plan must at least remain cartesian-free
    # and keep the hint-free fact join.
    assert "CartesianProduct" not in big


def test_dedup_verify_join_shape(spark):
    """Regression for the LSH verify stage: the corpus is touched by
    exactly one semi-join against the broadcast pair-ids, the pair
    verification itself is broadcast hash joins — a refactor that
    reintroduces a corpus-side SortMergeJoin (the r1 shape) fails
    here."""
    docs = Q._docs_with_dups(spark, SF_DIR)
    df = minhash_lsh_pairs(
        docs, n=3, num_hashes=16, bands=4, threshold=0.5, broadcast_buckets=True
    )
    text = _plan_text(df)
    assert "SortMergeJoin" not in text, (
        "verify stage must not sort-merge the corpus:\n" + text
    )
    assert text.count("BroadcastHashJoin") >= 3  # ids-semi + two pair joins
    assert "CartesianProduct" not in text


def test_chunk_windows_is_map_only(spark, qs):
    """Chunking must not shuffle: tokenize -> explode -> slice is one
    narrow pipeline at any scale."""
    df = qs["text_chunk_windows"](spark, SF_DIR)
    text = _plan_text(df)
    assert "Exchange" not in text, f"chunking must stay map-only:\n{text}"


def test_mixture_sample_is_map_side_filter(spark, qs):
    """The mixture predicate is a per-row hash compare; the only
    exchange in the query is the final per-stratum aggregation."""
    df = qs["etl_mixture_sample"](spark, SF_DIR)
    text = _plan_text(df)
    assert text.count("Exchange") <= 1, f"one agg exchange expected:\n{text}"
    assert "CartesianProduct" not in text


def test_unigram_logprob_broadcasts_vocab(spark, qs):
    """The token->frequency join must broadcast the vocab (bounded by
    Heaps' law), never sort-merge the exploded token stream."""
    df = qs["text_unigram_logprob"](spark, SF_DIR)
    text = _plan_text(df)
    assert "BroadcastHashJoin" in text
    assert "SortMergeJoin" not in text, f"token join must not SMJ:\n{text}"


def test_range_search_scan_only(spark, qs):
    """Radius search is one scan + codegen'd predicate — no join, no
    exchange before the collect."""
    df = qs["ann_range_search"](spark, SF_DIR)
    text = _plan_text(df)
    assert "Exchange" not in text and "Join" not in text, text


def test_pack_bins_single_exchange(spark, qs):
    """Packing partitions once on the shard key; the bin aggregate's
    (shard, bin) grouping is satisfied by the same partitioning
    (subset clustering), so no second exchange appears."""
    df = qs["text_pack_bins"](spark, SF_DIR)
    text = _plan_text(df)
    assert text.count("Exchange") == 1, f"one shard exchange expected:\n{text}"


def test_ngram_jaccard_single_corpus_shuffle(spark):
    """ngram_jaccard_pairs (posting-list form): never persists the
    corpus-scale (doc × shingle) explode (no InMemoryTableScan), no
    cartesian, no join at all — the corpus shuffles ONCE (on shingle)
    into posting lists that carry each document's shingle count,
    pairs stream out of two Generates, and the only other exchange is
    pair-keyed."""
    from data_feature_extraction_and_retrieval_pipeline_spark.operators import (
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    pairs = ngram_jaccard_pairs(docs)
    text = _plan_text(pairs)
    assert "InMemoryTableScan" not in text
    assert "CartesianProduct" not in text
    assert "SortMergeJoin" not in text, "no shingle self-join"
    assert text.count("collect_list") >= 1  # posting lists
    # exactly one exchange partitioned on the shingle key
    assert text.count("hashpartitioning(shingle") == 1, text[:2000]
    # the shingle counts ride in the posting lists: the text is
    # tokenized and shingled once (n=3 nests two zip_with), no size
    # frame is joined back, and no inferred filter re-embeds either tree
    opt = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(") == 1, opt
    assert opt.count("zip_with(") == 2, opt
    assert "Join" not in opt, opt
    assert "coalesce(size(" not in opt, opt


def test_portable_pq_serving_plan_is_jvm_only(spark, qs):
    """The portable PQ/IVF-PQ serving path must stay entirely
    JVM-side: no Python boundary anywhere (encode is pure Catalyst,
    the ADC scan is a literal-LUT aggregate), top-k plans as
    TakeOrderedAndProject, and the IVF probe is a pushable cluster
    filter — the shape that becomes partition pruning on a
    cluster-partitioned table."""
    pq_df = qs["ann_pq_portable"](spark, SF_DIR)
    pq = _plan_text(pq_df)
    assert "ArrowEvalPython" not in pq and "MapInPandas" not in pq
    assert has_take_ordered(pq_df)

    ivfpq_df = qs["ann_ivfpq_portable"](spark, SF_DIR)
    ivfpq = _plan_text(ivfpq_df)
    assert "ArrowEvalPython" not in ivfpq and "MapInPandas" not in ivfpq
    assert has_take_ordered(ivfpq_df)
    # the probe is a Filter over the (inline) assignment expression;
    # on a table with the write-time cluster column it pushes to the
    # scan / becomes partition pruning
    assert "Filter" in ivfpq, "probe filter missing from the IVF-PQ plan"


def test_curation_map_chain_stays_fused(spark):
    """The CurationPipeline's map-only stages (redact -> classifier
    gate -> mixture -> split -> chunks) must compose into ONE fused
    narrow plan: no Exchange, no Join — the facade's whole point is
    that chained row-local stages cost one corpus pass, and a stray
    shuffle or scored-frame join here multiplies at 100 TB."""
    from data_feature_extraction_and_retrieval_pipeline_spark.api import (
        CurationPipeline,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    out = (
        CurationPipeline(docs)
        .redact()
        .filter_classifier(threshold=0.0)
        .sample_mixture({"src0": 1.0}, default_rate=0.5)
        .split(90, 5)
        .chunks(window=16, stride=12, carry_cols=("split",))
    )
    text = _plan_text(out)
    assert "Exchange" not in text, f"map chain must stay fused:\n{text}"
    assert "Join" not in text, f"map chain must not join:\n{text}"
    assert "InMemoryTableScan" not in text


def test_runtime_bloom_filter_prunes_keeplist_semi_join(spark, tmp_path):
    """The 100 TB regime for the keep-list joins (dedup survivors,
    decontamination drop-lists, allow-lists) once the list outgrows a
    broadcast: Spark's runtime bloom filter builds a compact filter
    from the selective creation side and prunes the corpus BEFORE its
    shuffle. Default thresholds (creation side < 10 MB, application
    scan > 10 GB) are exactly that shape, so production needs no conf
    at all — here the app-side threshold is lowered only to make the
    regime reproducible at test size. Pins injection (bloom_filter_agg
    on the keep-list side) and that the filter never changes results."""
    fact = spark.range(0, 50000).select(
        F.col("id").alias("doc_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("text"),
    )
    dim = spark.range(0, 50000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37).alias("grp")
    )
    fact.write.parquet(str(tmp_path / "fact"))
    dim.write.parquet(str(tmp_path / "dim"))

    f = spark.read.parquet(str(tmp_path / "fact"))
    keep = spark.read.parquet(str(tmp_path / "dim")).filter(
        F.col("grp") == 0
    ).select("doc_id")

    def semi():
        return f.join(keep, "doc_id", "left_semi")

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_thr = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        # the non-broadcastable-keep-list regime
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        j = semi()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        with_bloom = sorted(r["doc_id"] for r in j.collect())

        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        try:
            j2 = semi()
            assert "bloom_filter_agg" not in (
                j2._jdf.queryExecution().optimizedPlan().toString()
            )
            assert sorted(r["doc_id"] for r in j2.collect()) == with_bloom
        finally:
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            prev_thr,
        )


def test_sorted_export_readback_pushes_range_predicate(spark, qs):
    """etl_sorted_export's read-back: the doc_id BETWEEN predicate must
    reach the parquet scan — with the range-disjoint sorted layout,
    that pushed filter is what turns footer/row-group min-max stats
    into skipped files and row groups at 100 TB."""
    df = qs["etl_sorted_export"](spark, SF_DIR)
    pf = pushed_filters(df)
    assert "doc_id" in pf and ("GreaterThan" in pf or "IsNotNull" in pf), (
        f"range predicate should reach the sorted-export scan:\n{pf}"
    )


def test_orc_readback_pushes_filters_like_parquet(spark):
    """The ORC face of the index sink keeps the parquet scan story:
    filters reach Spark's native vectorized ORC reader."""
    import tempfile

    from data_feature_extraction_and_retrieval_pipeline_spark.sources import (
        load_table,
    )
    from data_feature_extraction_and_retrieval_pipeline_spark.sources.writers import (
        write_table,
    )

    with tempfile.TemporaryDirectory() as td:
        docs = load_table(spark, SF_DIR, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        write_table(docs, td, fmt="orc")
        back = spark.read.orc(td).filter(F.col("doc_id") > 10)
        pf = pushed_filters(back)
        assert "doc_id" in pf, f"ORC scan should receive the filter:\n{pf}"


def test_lag_delta_single_exchange(spark, qs):
    """win_lag_delta: the window partitions by user_id and the
    follow-up aggregate groups by the same key — Catalyst must reuse
    the window's hash partitioning, so the whole plan carries exactly
    ONE shuffle of the events table."""
    text = _plan_text(qs["win_lag_delta"](spark, SF_DIR))
    n_exchanges = text.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected one exchange, got {n_exchanges}:\n{text[:2000]}"


def test_cube_has_partial_aggregation(spark, qs):
    """agg_cube_lang_source: the 4-way grouping-set expand must still
    combine map-side (partial_count/partial_sum before the exchange),
    so the shuffle carries group partials, not expanded input rows."""
    text = _plan_text(qs["agg_cube_lang_source"](spark, SF_DIR))
    assert "Expand" in text, "cube should plan an Expand"
    assert "partial_count" in text or "partial" in text.lower(), (
        f"cube aggregate should have a partial phase:\n{text[:2000]}"
    )


def test_gopher_rules_is_map_only(spark, qs):
    """text_gopher_rules (r12): the whole quality pass — including
    top_bigram_frac via the sorted-run mode — is ONE map-only stage:
    no exchange, no join, no explode. The shape is embarrassingly
    parallel at any corpus size."""
    text = _plan_text(qs["text_gopher_rules"](spark, SF_DIR))
    assert "Exchange" not in text, f"gopher must not shuffle:\n{text[:1500]}"
    assert "Join" not in text, "gopher must not join"
    assert "Generate" not in text, "gopher must not explode"


def test_tag_category_has_no_dim_join(spark, qs):
    """join_tag_category (r12): the static vocabulary compiles to a
    literal isin expression — one corpus scan, one multi-distinct
    aggregate, no join node and no broadcast build."""
    text = _plan_text(qs["join_tag_category"](spark, SF_DIR))
    assert "Join" not in text, f"vocab must be literal:\n{text[:1500]}"
    assert "BroadcastExchange" not in text
    assert text.count("Scan parquet") == 1, "one corpus scan"


def test_hybrid_tag_filter_folds_into_aggregate(spark, qs):
    """hybrid_search_tag_filtered (r12): the tag pre-filter rides the
    one-pass aggregation (max(marker) per image) — no second corpus
    scan, no broadcast id-set join."""
    text = _plan_text(qs["hybrid_search_tag_filtered"](spark, SF_DIR))
    assert "Join" not in text, f"allowed set must fold:\n{text[:1500]}"
    assert text.count("Scan parquet") == 1, "one corpus scan"


def test_rrf_fusion_has_no_join(spark, qs):
    """retrieval_rrf_fusion (r12): rank fusion is union → per-id max
    aggregate; the FullOuter SortMergeJoin of two ≤20-row lists (two
    exchanges + sorts) is gone, as is the BM25 stats broadcast."""
    text = _plan_text(qs["retrieval_rrf_fusion"](spark, SF_DIR))
    assert "Join" not in text, f"fusion must be union+agg:\n{text[:1500]}"
    assert "Union" in text


def test_bm25_scoring_path_has_no_hash_shuffle(spark, qs):
    """text_bm25_topk: literal query terms make per-doc tf MAP-ONLY —
    the plan must contain no explode (Generate) and no hash-partition
    exchange at all. The corpus stats are resident index metadata
    (Lucene-style) inlined as LITERAL expressions (r12 — the former
    1-row broadcast frame constant-folded to the same literals, so
    the vestigial BroadcastExchange/BNLJ node and its per-execution
    materialization job are gone); top-k is TakeOrderedAndProject.
    This is the shape that survives 100 TB: ONE scan, zero data
    shuffled, zero join nodes."""
    df = qs["text_bm25_topk"](spark, SF_DIR)
    text = _plan_text(df)
    assert "Generate" not in text, "bm25 tf must not explode tokens"
    assert "hashpartitioning" not in text, (
        f"bm25 must not hash-shuffle anything:\n{text[:1500]}"
    )
    assert "Join" not in text, (
        "literal resident stats must leave no join node at all"
    )
    assert "BroadcastExchange" not in text, (
        "no broadcast build job on the scoring path"
    )
    assert text.count("Scan parquet") <= 1, (
        "resident stats must leave ONE corpus scan"
    )
    assert has_take_ordered(df)


def test_tfidf_windows_share_one_doc_exchange(spark, qs):
    """text_tfidf_keywords: dl comes map-side from the token array
    (carried through the (doc, tok) aggregate), so the ONLY window is
    the rank limit — exactly one doc_id exchange total, planned as
    WindowGroupLimit (map-side ≤n pruning); the vocabulary joins back
    as a BroadcastHashJoin."""
    import re

    text = _plan_text(qs["text_tfidf_keywords"](spark, SF_DIR))
    assert "WindowGroupLimit" in text
    assert "BroadcastHashJoin" in text
    assert text.count("Window") >= 1
    doc_only = re.findall(r"hashpartitioning\(doc_id#\d+L?, \d+\)", text)
    assert len(doc_only) == 1, (
        f"the rank window should be the only doc_id exchange:\n{doc_only}"
    )


def test_report_members_substitute_shared_counting_pass(spark, qs):
    """report_dataset: the count-style members must all read their
    PERSISTED shared counting aggregate — Catalyst cannot be trusted
    to dedupe them (grouping-sets subtrees fail cache canonicalization
    under DeduplicateRelations, the round-11 regression class:
    operators/reports.py::_grouped_value_counts docstring). Since the
    round-12 fusion the token leaderboard rides the documents pass as
    an array-valued member, both event sections share one events pass,
    and the count-style sections assemble as ONE map-only projection
    per pass (not one filter branch per member), so the pin is:
    exactly 5 InMemoryTableScans (documents-side: fused counts, token
    top-k, counters; events-side: type counts, per-user stats), and NO
    uncached scan of the raw documents table except the per-lang stats
    pass (the one non-count-style aggregate) — two documents scans
    total, where the unshared plan ran 11."""
    import io
    from contextlib import redirect_stdout

    from data_feature_extraction_and_retrieval_pipeline_spark import caching

    df = qs["report_dataset"](spark, SF_DIR)
    df.collect()  # materialize the persist so substitution is final
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    fmt = buf.getvalue()
    nodes = [
        line.split(") ", 1)[1].split(" ")[0]
        for line in fmt.splitlines()
        if line.startswith("(") and ") " in line
    ]
    # every consumer substituted: one InMemoryTableScan per consumer
    # (3 documents-side + 2 events-side after the fused assembly)
    assert nodes.count("InMemoryTableScan") == 5, fmt[:2000]
    # the grouping-sets formulation is gone entirely — an Expand node
    # reappearing means the counting pass stopped canonicalizing
    assert "Expand" not in nodes, fmt[:2000]
    # one corpus scan for every count-style section: the only raw
    # documents scan left in the consuming plan is the per-lang stats
    # aggregate (the events scans are likewise absorbed by their
    # cached pass)
    assert fmt.count("documents.parquet") <= 2, fmt[:2000]
    assert fmt.count("events.parquet") <= 1, fmt[:2000]
    caching.release()


def test_percolate_scoring_is_map_only_after_stats_broadcast(spark):
    """Percolation (streaming/percolate.py): per-document scoring of
    ALL standing queries must be map-only — the only exchanges are the
    1-row frozen-stats aggregate (SinglePartition) and its broadcast
    back (BroadcastNestedLoopJoin); the per-query fan-out is a Generate
    over a literal-built struct array, never a join against a queries
    table. Zero hash shuffle is what lets the same plan run on every
    ingest micro-batch statelessly."""
    from data_feature_extraction_and_retrieval_pipeline_spark.sources import (
        load_table,
    )
    from data_feature_extraction_and_retrieval_pipeline_spark.streaming import (
        StandingQuery,
        bm25_stats,
        percolate,
    )

    docs = load_table(spark, SF_DIR, "documents")
    terms = ["data", "row"]
    stats = bm25_stats(docs, terms)
    out = percolate(
        docs.select("doc_id", "text"),
        [StandingQuery("q", ("data", "row"), 0.1)],
        stats,
        terms,
    )
    text = _plan_text(out)
    assert "hashpartitioning" not in text, (
        f"percolate must not hash-shuffle anything:\n{text[:1500]}"
    )
    assert "SinglePartition" in text  # the 1-row stats aggregate
    assert "BroadcastNestedLoopJoin" in text  # stats row broadcast back
    assert "Generate" in text  # per-query struct fan-out


def test_no_cartesian_product_anywhere_in_the_registry(spark, qs):
    """Registry-wide safety net, one pass over every non-stream
    query's physical plan at sf0.001 (~1 min):

    - NO CartesianProduct — the one join strategy that cannot survive
      any scale (every crossJoin in the engine must resolve to a
      broadcast against a literal/1-row frame, i.e.
      BroadcastNestedLoopJoin);
    - NO BatchEvalPython — row-at-a-time Python UDFs are banned
      engine-wide; any Python in a plan must be Arrow-batched
      (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas).

    Stream queries are excluded (calling them executes the drain);
    their batch twins are all covered. The pass also smoke-checks that
    each registry entry ANALYZES — a broken column reference fails
    here before the driver sees it."""
    cartesian, rowpython = [], []
    for name, fn in qs.items():
        if "_stream" in name:
            continue
        text = _plan_text(fn(spark, SF_DIR))
        if "CartesianProduct" in text:
            cartesian.append(name)
        if "BatchEvalPython" in text:
            rowpython.append(name)
    assert not cartesian, f"cartesian products planned by: {cartesian}"
    assert not rowpython, f"row-at-a-time Python UDFs planned by: {rowpython}"


def test_percolate_join_registry_rides_as_broadcast(spark, qs):
    """percolate_join_batch (round-9 shape): the standing-query
    registry and the frozen stats ride as EXACTLY ONE denormalized
    broadcast, built from an inline-VALUES LocalRelation (plan cost
    independent of the registry size — the past-the-codegen-wall
    contract), with no sort-merge join anywhere. The two hash
    exchanges — the per-(doc,query,term) tf count and the
    per-(doc,query) fold — are both downstream of the broadcast join,
    so they carry only standing-query vocab hits, never the raw token
    stream."""
    text = _plan_text(qs["percolate_join_batch"](spark, SF_DIR))
    assert text.count("BroadcastExchange") == 1, (
        f"one combined registry+stats broadcast expected:\n{text[:1500]}"
    )
    assert "BroadcastHashJoin" in text, text[:1500]
    assert "LocalTableScan" in text, (
        f"registry must be an inline-VALUES LocalRelation:\n{text[:1500]}"
    )
    assert "SortMergeJoin" not in text, (
        f"registry/stats joins must broadcast, not sort-merge:\n{text[:1500]}"
    )
    n = text.count("Exchange hashpartitioning")
    assert n == 2, f"expected the two fold exchanges, got {n}:\n{text[:1500]}"


def test_ann_staleness_assignment_stays_in_codegen(spark, qs):
    """ann_centroid_staleness: the monitor's centroid assignment is
    the pure-Catalyst twin — no Python evaluation anywhere (the sweep
    bans BatchEvalPython registry-wide; this pins ArrowEvalPython out
    of THIS plan too, since the drift pipeline evaluates the assigned
    frame four times and each Arrow pass would pay a Python round
    trip)."""
    text = _plan_text(qs["ann_centroid_staleness"](spark, SF_DIR))
    assert "ArrowEvalPython" not in text, (
        f"monitor assignment must be JVM-side:\n{text[:1500]}"
    )
    assert "BatchEvalPython" not in text


def test_ntile_aggregate_reuses_window_exchange(spark, qs):
    """win_ntile_quartiles: the follow-up (lang, quartile) aggregate
    must reuse the window's lang hash partitioning — exactly ONE hash
    exchange in the whole plan (the win_lag_delta contract applied to
    NTILE)."""
    text = _plan_text(qs["win_ntile_quartiles"](spark, SF_DIR))
    n = text.count("Exchange hashpartitioning")
    assert n == 1, f"expected one exchange, got {n}:\n{text[:1500]}"


def test_pivot_roundtrip_unpivot_is_map_only(spark, qs):
    """agg_pivot_roundtrip: the unpivot back to long form must plan as
    the map-only Expand over the pivoted frame — no extra exchange
    beyond the pivot aggregate's."""
    text = _plan_text(qs["agg_pivot_roundtrip"](spark, SF_DIR))
    assert "Expand" in text, "unpivot should plan an Expand"
    n = text.count("Exchange hashpartitioning")
    assert n <= 2, f"unpivot must not add exchanges, got {n}:\n{text[:1500]}"


def test_cosine_gate_single_pass_single_exchange(spark):
    """incremental_cosine_filter (round-9 shape): a pure-JVM
    expression assignment (NO Python at all before the exchange) and
    ONE grouped Arrow gate around a single hash exchange on the
    cluster key — the whole operator pays exactly one Arrow crossing.
    The round-7 cogroup formulation paid two assignment maps and two
    exchanges; round 8 fused them to one map; round 9 removed the
    assignment crossing entirely (HOF dot + argmax in Catalyst).
    Regressing re-adds a per-run Arrow worker round-trip."""
    from data_feature_extraction_and_retrieval_pipeline_spark.operators.similarity import (
        incremental_cosine_filter,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).collect()
    ]
    text = _plan_text(
        incremental_cosine_filter(batch, corpus, cents, threshold=0.99)
    )
    assert text.count("FlatMapGroupsInPandas") == 1
    assert text.count("MapInPandas") == 0, (
        f"pure-JVM assignment expected (gate is the only Python):\n"
        f"{text[:1500]}"
    )
    n = text.count("Exchange hashpartitioning")
    assert n == 1, f"expected one exchange, got {n}:\n{text[:1500]}"
    assert "CartesianProduct" not in text


def test_cosine_gate_expr_form_zero_python(spark):
    """incremental_cosine_filter(gate='expr'): the whole operator —
    assignment, cluster-blocked left join, higher-order dot,
    per-arrival aggregate — plans with NO Python stage of any kind.
    The zero-crossing option for small-batch / dim<=64 regimes (the
    Arrow matmul gate remains the at-scale default; SCALING.md
    "Cosine gate: expr vs arrow")."""
    from data_feature_extraction_and_retrieval_pipeline_spark.operators.similarity import (
        incremental_cosine_filter,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).collect()
    ]
    text = _plan_text(
        incremental_cosine_filter(
            batch, corpus, cents, threshold=0.99, gate="expr"
        )
    )
    for stage in (
        "FlatMapGroupsInPandas",
        "MapInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
    ):
        assert stage not in text, f"{stage} in expr-gate plan:\n{text[:1500]}"
    assert "CartesianProduct" not in text


def test_funnel_single_exchange(spark, qs):
    """events_funnel: the collect-sort-fold formulation keeps the
    whole funnel at ONE hash exchange (per-user grouping) — the
    chained-aggregate alternative would shuffle the events table once
    per step."""
    text = _plan_text(qs["events_funnel"](spark, SF_DIR))
    n = text.count("Exchange hashpartitioning")
    assert n == 1, f"expected one exchange, got {n}:\n{text[:1500]}"
    assert "CartesianProduct" not in text and "BatchEvalPython" not in text


def test_flagship_metadata_join_builds_on_topk_side(spark, qs):
    """The flagship's metadata join must build (broadcast) the TOP-K
    side and stream documents — a broadcast of the documents side
    would pin a plan that collects corpus-scale metadata into every
    executor at 100× (VERDICT r12 'What's wrong #1')."""
    text = _plan_text(Q.flagship(spark, SF_DIR))
    assert "BroadcastHashJoin" in text, text[:1500]
    import re

    m = re.search(r"BroadcastHashJoin \[vec_id[^\]]*\], \[doc_id[^\]]*\], Inner, (Build\w+)", text)
    assert m is not None, f"flagship join not found:\n{text[:2000]}"
    assert m.group(1) == "BuildLeft", f"metadata join must build the top-k (left) side:\n{text[:2000]}"


def test_flagship_fk_invariant_no_orphan_vec_ids(spark):
    """The flagship's metadata join is INNER on the documented FK
    invariant that every embeddings.vec_id derives from a document
    (extract_clip_features.py extracts features FROM the image
    corpus). Inner semantics silently drop any orphan vector, so the
    assumption is machine-checked here at every test SF instead of
    living in a docstring (VERDICT r13 'What's wrong #2')."""
    from data_feature_extraction_and_retrieval_pipeline_spark.sources import (
        readers,
    )

    from tests.conftest import SF_DIR_MED

    for sf in (SF_DIR, SF_DIR_MED):
        emb = readers.load_table(spark, sf, "embeddings")
        docs = readers.load_table(spark, sf, "documents")
        orphans = emb.join(
            docs, emb["vec_id"] == docs["doc_id"], "left_anti"
        ).count()
        assert orphans == 0, f"{sf}: {orphans} embeddings lack a document row"


def test_no_broadcast_hint_on_corpus_growing_frames():
    """Grep-level invariant: every F.broadcast() call site in the
    package must broadcast a bounded frame (top-k results, query
    vectors, fixed dims, caller-bounded batches, collision-bounded
    candidate pairs, 1-row stats) — never a frame that grows 1:1
    with the corpus. The five r12 offenders (flagship docs,
    join_meta_counters docs, join_ext_fallback meta,
    resolve_paths listing, Engine.search allowed ids) plus the
    segment/allow-list semi-joins are pinned removed here."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / (
        "data_feature_extraction_and_retrieval_pipeline_spark"
    )
    banned = [
        # (file, pattern that would reintroduce a corpus-side broadcast)
        ("queries.py", "F.broadcast(docs)"),
        ("queries.py", "F.broadcast(meta"),
        ("queries.py", "F.broadcast(allowed)"),
        ("operators/etl.py", "F.broadcast(listing)"),
        ("api.py", "allowed = F.broadcast("),
        ("sources/readers.py", "F.broadcast(allowed_filenames"),
    ]
    for rel, pat in banned:
        text = (root / rel).read_text()
        assert pat not in text, f"{rel}: corpus-growing broadcast reintroduced: {pat}"
