"""Concurrent-serving contract: one shared SparkSession, many request
threads — the resident-process shape the scratch/token machinery,
cache scoping, and the rebalance-conf lock exist for. Each test
asserts thread results are IDENTICAL to the serial baseline; a race in
scratch naming, cache substitution, or session-conf round-trips shows
up as a wrong row set or an exception on some thread.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from data_feature_extraction_and_retrieval_pipeline_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_mixed_queries_concurrent_equal_serial(spark):
    """8 threads × a mix of scan/join/window/dedup queries against one
    session return exactly the serial results. Covers the plan-build
    path (py4j is shared), the per-query cache scoping, and result
    isolation between unrelated plans."""
    qs = Q.queries()
    names = [
        "q1_pricing_summary",
        "join_revenue_by_nation",
        "win_topn_per_group",
        "dedup_exact",
        "text_gopher_rules",
        "agg_cube_lang_source",
        "text_bm25_topk",
        "text_tfidf_keywords",
    ]
    serial = {n: _rows(qs[n](spark, SF_DIR)) for n in names}

    def run(n):
        return n, _rows(qs[n](spark, SF_DIR))

    with ThreadPoolExecutor(max_workers=8) as ex:
        got = dict(ex.map(run, names * 2))  # each query raced twice
    for n in names:
        assert got[n] == serial[n], n


def test_scratch_roundtrips_concurrent(spark):
    """The write→read-back roundtrip family from FOUR threads at once:
    per-(pid, thread-token) scratch dirs must keep each thread's
    on-disk table private — a shared or reaped-in-use dir corrupts
    some thread's read-back. Includes the bucketed path (managed
    tables + the rebalance-conf lock territory)."""
    qs = Q.queries()
    names = [
        "etl_csv_roundtrip",
        "etl_partitioned_roundtrip",
        "etl_bucketed_roundtrip",
        "etl_sorted_export",
    ]
    serial = {n: _rows(qs[n](spark, SF_DIR)) for n in names}

    def run(n):
        return n, _rows(qs[n](spark, SF_DIR))

    with ThreadPoolExecutor(max_workers=4) as ex:
        got = list(ex.map(run, names * 3))  # 12 tasks over 4 dirs
    for n, rows in got:
        assert rows == serial[n], n


def test_percolate_concurrent_with_distinct_queries(spark):
    """Percolation from multiple threads with DIFFERENT standing-query
    sets sharing one frozen stats frame: each thread's matches reflect
    only its own queries (the literal-expression fan-out holds no
    shared mutable state)."""
    from data_feature_extraction_and_retrieval_pipeline_spark.sources import (
        load_table,
    )
    from data_feature_extraction_and_retrieval_pipeline_spark.streaming import (
        StandingQuery,
        bm25_stats,
        percolate,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    terms = ["data", "table", "vector", "row"]
    stats = bm25_stats(docs, terms)
    variants = [
        [StandingQuery(f"v{i}", (t,), 0.0)]
        for i, t in enumerate(terms)
    ]
    serial = [_rows(percolate(docs, v, stats, terms)) for v in variants]

    def run(i):
        return i, _rows(percolate(docs, variants[i], stats, terms))

    with ThreadPoolExecutor(max_workers=4) as ex:
        got = dict(ex.map(run, list(range(4)) * 2))
    for i in range(4):
        assert got[i] == serial[i]
        assert all(r[1] == f"v{i}" for r in got[i])


def test_retired_thread_scratch_reaped():
    """Rotating worker threads must not accumulate scratch dirs: after
    N short-lived threads each claim (and create) a scratch dir, a
    later call from a surviving thread reaps every retired thread's
    dir — bookkeeping AND on-disk — leaving a bounded count (the live
    thread's own dirs only)."""
    import os
    import threading

    made: list[str] = []

    def worker():
        d = Q._scratch_dir("dferp_reaptest", SF_DIR)
        os.makedirs(d, exist_ok=True)
        made.append(d)

    threads = [threading.Thread(target=worker) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # 6 distinct dirs were claimed; later workers may ALREADY have
    # reaped earlier retired workers' dirs (that's the feature)
    assert len(set(made)) == 6

    # a later claim from THIS (live) thread triggers the reap
    mine = Q._scratch_dir("dferp_reaptest", SF_DIR)
    assert all(not os.path.exists(d) for d in made)
    assert all(d not in Q._SCRATCH_DIRS for d in made)
    with Q._SCRATCH_BOOK_LOCK:
        live_tokens = set(Q._DIRS_BY_TOKEN)
    assert len(live_tokens) <= threading.active_count()
    import shutil

    shutil.rmtree(mine, ignore_errors=True)
