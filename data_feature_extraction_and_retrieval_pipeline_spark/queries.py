"""Named query registry — the driver-facing correctness contract.

Each entry pairs a Spark DataFrame program (built from the package's
operators) with an equivalent ANSI-SQL oracle that DuckDB runs on the
same parquet tables. Conventions that make the value-hash comparison
deterministic (FIXTURES.md §6):

- every computed column is aliased identically on both sides;
- float outputs are rounded to 6 decimals (money sums to 2);
- every LIMIT is preceded by a total order (rounded score DESC, id ASC)
  so the selected row SET is identical in both engines;
- timestamps are emitted as formatted strings;
- oracle aggregate types are cast to match Spark (BIGINT counts/sums,
  INT ranks).

Dot products are computed in DOUBLE on both sides over the same
float32-widened inputs, and accumulate left-to-right in both engines,
so scores agree bit-for-bit before rounding.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import re
import threading

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import indexes
from .functions import text as X
from .functions import vectors as V
from .operators import (
    analytics,
    curation,
    dedup,
    etl,
    multimodal,
    reports,
    retrieval,
    similarity,
    temporal,
)
from .ml import encoders
from .sources import load_table
from .streaming import hopping_window_counts, tumbling_window_counts

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# Round-trip queries write a scratch dir at plan-construction time.
# The dir name is a stable digest of sf_dir (Python's str hash is
# salted per process) PLUS the pid PLUS the constructing thread id:
# stable within a (process, thread), so a resident server reuses one
# dir per (query, sf_dir, worker) instead of leaking one per call —
# but isolated ACROSS processes (a fully-stable name would let a
# second harness process overwrite the directory while this one's
# lazily-executed scan is mid-collect) and ACROSS threads: the
# _SIDE_EFFECT_LOCK serializes the write itself, but the read-back
# DataFrame executes lazily AFTER the lock is released, so two
# threads constructing the same roundtrip query on one shared dir
# could still overwrite (mode=overwrite deletes files first) while
# the other thread's scan is running. Per-thread dirs make the
# overwrite race structurally impossible: the only writer of a dir is
# the thread that also runs its reads.
#
# Retired threads' dirs are reaped (round 7): every caller constructs,
# executes and discards its frame on ONE thread, so a retired thread's
# dirs are unreferenced and rotating worker threads do not accumulate
# one roundtrip dir per retired thread. (A caller that constructs on
# one thread and lazily executes on another after the first exits is
# outside this contract.)
# The lock remains to serialize catalog/warehouse side effects (the
# bucketed managed table below) and to bound concurrent write jobs
# during the bench's overlapped cold pass.
_SIDE_EFFECT_LOCK = threading.Lock()
_SCRATCH_DIRS: set[str] = set()
# bucketed managed tables created by this process: name -> location
_SCRATCH_TABLES: dict[str, str] = {}


def _cleanup_scratch_dirs() -> None:
    import shutil

    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    for table, loc in _SCRATCH_TABLES.items():
        try:
            from pyspark.sql import SparkSession

            sess = SparkSession.getActiveSession()
            if sess is not None and sess.sparkContext._jsc is not None:
                sess.sql(f"DROP TABLE IF EXISTS {table}")
        except Exception:
            pass  # session already gone — the rmtree below still runs
        shutil.rmtree(loc, ignore_errors=True)


import atexit  # noqa: E402

atexit.register(_cleanup_scratch_dirs)


# Per-thread token for scratch names. NOT threading.get_ident():
# CPython recycles idents after a thread exits, so a later thread
# could inherit a finished thread's ident and overwrite its scratch
# dir while the read-back scan (which may run on yet another thread)
# is mid-collect — the exact race the per-thread naming exists to
# prevent. A monotonic counter is unique for the process lifetime.
_THREAD_SEQ = itertools.count()
_THREAD_TOKEN = threading.local()
# token -> issuing Thread object / scratch dirs it created, so dirs
# of RETIRED threads can be reclaimed before interpreter exit (a
# resident server with rotating worker threads would otherwise hold
# one roundtrip dir per retired thread until atexit). Guarded by its
# own lock: bookkeeping is touched at plan-construction time only.
_SCRATCH_BOOK_LOCK = threading.Lock()
_TOKEN_THREADS: dict[int, threading.Thread] = {}
_DIRS_BY_TOKEN: dict[int, set[str]] = {}


def _thread_token() -> int:
    tok = getattr(_THREAD_TOKEN, "tok", None)
    if tok is None:
        tok = next(_THREAD_SEQ)  # C-level next: atomic under the GIL
        _THREAD_TOKEN.tok = tok
        with _SCRATCH_BOOK_LOCK:
            _TOKEN_THREADS[tok] = threading.current_thread()
    return tok


def _reap_retired_tokens() -> None:
    """Reclaim scratch dirs whose constructing thread has exited."""
    import shutil

    with _SCRATCH_BOOK_LOCK:
        dead = [
            tok
            for tok, thr in _TOKEN_THREADS.items()
            if not thr.is_alive()
        ]
        doomed: list[str] = []
        for tok in dead:
            del _TOKEN_THREADS[tok]
            for d in _DIRS_BY_TOKEN.pop(tok, ()):
                _SCRATCH_DIRS.discard(d)
                doomed.append(d)
    for d in doomed:
        shutil.rmtree(d, ignore_errors=True)


# Host tag embedded in scratch dir / managed-table names: orphan
# liveness is decided with a LOCAL os.kill(pid, 0), which is only
# meaningful for same-host pids — if the tempdir or warehouse is ever
# shared across hosts (NFS, a shared volume), a remote process's live
# scratch would look dead locally and get rmtree'd mid-read. Scoping
# both the names and the reap glob by host digest makes the reap
# same-host by construction; other hosts' dirs are invisible to it.
_HOST_TAG = hashlib.sha1(__import__("socket").gethostname().encode()).hexdigest()[:8]


def _reap_orphans(base: str, stem: str) -> None:
    """Remove ``{stem}_{host}_<pid>_<tok>`` dirs under ``base`` left by
    CRASHED processes (atexit never ran). Names embed the creating
    host + pid; the glob only matches THIS host's tag, so the
    ``os.kill(pid, 0)`` liveness probe is always asked about a local
    pid. Live processes' dirs are kept."""
    import glob
    import shutil

    for path in glob.glob(os.path.join(base, f"{stem}_{_HOST_TAG}_*_*")):
        parts = os.path.basename(path)[len(stem) + len(_HOST_TAG) + 2:].split("_")
        try:
            pid = int(parts[0])
        except (ValueError, IndexError):
            continue
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(path, ignore_errors=True)
        except Exception:
            pass  # e.g. PermissionError: pid exists under another uid


def _scratch_dir(prefix: str, sf_dir: str) -> str:
    import tempfile

    digest = hashlib.sha1(sf_dir.rstrip("/").encode()).hexdigest()[:12]
    base = tempfile.gettempdir()
    stem = f"{prefix}_{digest}"
    _reap_orphans(base, stem)
    _reap_retired_tokens()
    tok = _thread_token()
    d = os.path.join(base, f"{stem}_{_HOST_TAG}_{os.getpid()}_{tok}")
    with _SCRATCH_BOOK_LOCK:
        _SCRATCH_DIRS.add(d)
        _DIRS_BY_TOKEN.setdefault(tok, set()).add(d)
    return d


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from . import caching

            with caching.scope(name):
                return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# Driver-facing registry order. The driver evaluates only the first 50
# entries of queries(), so ordering is part of the contract. Round-13
# rotation: first the six round-13 plan changes (the de-broadcast
# family — corpus-growing join sides back to size-chosen planning —
# plus report_dataset's repartition-persist), then the stalest oracled
# witnesses: the lone r09-newest keeper, the ENTIRE r10-newest cohort
# (the rotation the round-12 verdict named, incl. etl_upsert_merge /
# etl_sentinel_cleanse / etl_prefix_split / etl_safe_cast /
# etl_multiformat_date / etl_regex_extract_path / dedup_exact /
# text_quality_classifier / agg_decade_orders), topped up with eight
# r11-newest keepers led by the flagship Q1-Q4 search family.
# Rows-only registry-tail entries keep their rows — weaker checks
# don't spend head slots. The full query -> newest-row /
# witness-floor table is generated into COVERAGE.md by
# tools/freshness_report.py and asserted current by
# tests/test_driver_contract.py.
_DRIVER_ORDER: list[str] = [
    # -- round-14 plan changes (floor 14 => head; the two pair-mining
    # queries are at floor 15 for the sizes-in-postings plan): the pair-mining
    # repartition + Generate-edge label propagation, the dup-injection
    # fixture Generates, the single-reference stopword/hash-split
    # expression fixes, the leveled salted-funnel chains (the two
    # plain funnel queries re-witnessed beside their facade twin), and
    # the curate chain that composes them --
    "dedup_ngram_jaccard",
    "dedup_cluster_canonical",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_minhash_lsh_portable",
    "dedup_simhash_portable",
    "dedup_image_phash",
    "text_contamination",
    "dedup_minhash_incremental",
    "dedup_cosine_incremental",
    "dedup_incremental",
    "text_quality_classifier",
    "etl_hash_split",
    "dedup_keep_best_per_source",
    "api_pipeline_curate",
    "api_events_funnel",
    "events_funnel",
    "events_funnel_windowed",
    # -- stalest oracled witnesses: the r11-newest keepers not
    # re-certified since (VERDICT r13 item 7) --
    "sql_api_revenue",
    "agg_explode_count",
    "agg_histogram_chars",
    "agg_group_stats",
    "agg_distinct_counts",
    "agg_bool_flags",
    "join_revenue_by_nation",
    "knn_tag_filtered",
    "knn_batch",
    "knn_percentage",
    "text_redact_pii",
    "text_quality",
    "text_lang_id",
    "text_token_count",
    "text_fingerprint",
    "api_percolate",
    "ann_ingest_assign",
    "ann_ingest_pq",
    "tag_search_and",
    "win_ntile_quartiles",
    "agg_pivot_roundtrip",
    "set_ops_users",
    "nested_roundtrip",
    "text_token_bpe",
    "ml_frame_sample",
    "zero_shot_topk_tags",
    "ml_stub_text_embeddings_portable",
    "ml_zero_shot_tags",
    "text_chunk_windows",
    "etl_mixture_sample",
    "etl_html_scrub",
    "text_pack_bins",
    "report_quality_constraints",
]

# Genuinely non-oracle-able entries only — each with its certified
# twin (same plan body, portable arithmetic) or its impossibility
# reason. Full mapping in COVERAGE.md "Rows-only registry tail".
# Members MAY also appear in _DRIVER_ORDER (they do in round 6, to
# collect their first rows-only driver rows); _ordered_names dedupes.
#
#   ann_pq                  numpy-trained float codebooks are fp-order-
#                           sensitive; the serving ADC scan + IVF-PQ
#                           composition are certified via
#                           ann_pq_portable / ann_ivfpq_portable
#                           (same pq_topk scoring expression)
#   dedup_minhash_lsh       SipHash band keys (pd.util.hash_array) not
#                           replayable; shared _lsh_pairs_from_banded
#                           body certified via dedup_minhash_lsh_portable
#   dedup_simhash           64-bit xxhash votes; shared vote body
#                           certified via dedup_simhash_portable
#   ml_stub_text_embeddings sha256→float32 projection (float32 rounding
#                           layer); certified via
#                           ml_stub_text_embeddings_portable
#   ml_segment_pipeline     float32 stability scores; fan-out + crop
#                           arithmetic certified via ml_segment_portable
#   ml_ingest_pipeline      composite file-IO pipeline; its stages are
#                           certified separately (ml_image_dir_scan,
#                           portable encoder, exact dedup)
#   agg_sketch_profile      HLL++/KLL sketch internals are
#                           implementation-specific — no SQL engine
#                           replays them; pytest bounds the sketches
#                           against the certified exact twins
_ROWS_ONLY_TAIL: list[str] = [
    "ann_pq",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ml_stub_text_embeddings",
    "ml_segment_pipeline",
    "ml_ingest_pipeline",
    "agg_sketch_profile",
]

# Witness floor: the earliest driver round whose CORRECTNESS row is
# acceptable evidence for each query's CURRENT code — i.e. the round
# of the query's last semantic change (or, for never-rowed entries,
# the round that first demands a row). The rotation invariant the
# driver head implements is machine-checked from this map by
# tests/test_driver_contract.py::test_freshness_invariants:
#   touched >= next round  → the query MUST sit in the 50-slot head;
#   otherwise              → some CORRECTNESS_r{N}.json with
#                            N >= touched must hold a green row.
# Update the entry whenever a change alters a query's plan or values;
# leave it alone for non-semantic edits (comments, formatting).
_TOUCHED: dict[str, int] = {
    # round 6: new queries, the rows-only first-witness set, and the
    # queries whose code round 6 touches
    "report_dataset": 13,  # r13: repartition-persist (full-parallelism agg)
    "report_segment_stats": 6,
    "ann_pq": 6,
    "dedup_minhash_lsh": 6,
    "dedup_simhash": 6,
    "ml_stub_text_embeddings": 6,
    "ml_segment_pipeline": 6,
    "ml_ingest_pipeline": 6,
    "agg_sketch_profile": 6,
    "ml_segment_portable": 6,
    "api_pipeline_curate": 6,
    "etl_compact_roundtrip": 6,
    "etl_csv_roundtrip": 6,
    "etl_partitioned_roundtrip": 6,
    "etl_bucketed_roundtrip": 6,
    "etl_json_feature_roundtrip": 6,
    "ml_image_dir_scan": 6,
    "api_engine_whole": 6,
    "api_engine_segment": 6,
    "api_engine_hybrid": 6,
    "api_engine_tags": 6,
    "dedup_minhash_incremental": 6,
    "ann_ivf_filtered": 6,
    "etl_orc_roundtrip": 6,
    "etl_sorted_export": 6,
    "agg_cube_lang_source": 6,
    "win_lag_delta": 6,
    # round 10 (late): tokenize-once tf block (bm25_topk) and the
    # map-side dl / single-window tfidf rebuild — plan changes,
    # values identical
    "text_bm25_topk": 12,  # r12: literal stats (BNLJ node dropped)
    "tag_search_bm25": 12,  # r12: literal stats (BNLJ node dropped)
    "text_tfidf_keywords": 12,  # r12: literal resident N (count agg dropped)
    "percolate_stream": 6,
    "etl_zorder_roundtrip": 6,
    # round 7: Percolator stats materialization (api_percolate plan),
    # unique-NULL semantics + new unique(lang) row (constraints), the
    # fused single-scan + DECIMAL(38,0) drift report, and the ANN
    # index-maintenance pair (new)
    "api_percolate": 7,
    "report_quality_constraints": 7,
    # round 8: drift_num surface canonicalized to plain-digit STRING
    # (exact decimal arithmetic unchanged) — the r7 driver hashed
    # Spark-Decimal vs DuckDB-decimal differently despite equal digits
    "report_corpus_drift": 8,
    "ann_ingest_assign": 7,
    "ann_centroid_staleness": 8,
    # round 9: percolate_join rebuilt around one denormalized registry
    # broadcast + vocab pushdown below the tf shuffle (bit-identical
    # scores, new plan); the cosine gate's assignment went pure
    # Catalyst (gate is the only Arrow crossing); retention offsets
    # are calendar datediff/7; recenter's dim probe is modal;
    # ml_kmeans_clusters certified end-to-end on the dyadic grid
    # round 10: parser-mode-aware registry escaping + non-finite
    # min_score rejection (join-form percolator), call-site arg
    # validation on the stream twin, and the Percolator auto
    # expression→join upgrade in register(); retention dedup moved
    # INSIDE retention_from_activity (raw sink reads are now exact)
    "percolate_join_batch": 10,
    "percolate_join_stream": 10,
    # round 10: new — perceptual image near-dup (dHash bands + banded
    # Hamming blocking over the integer-pure decode stub) and the
    # EventsAnalytics facade twins (the funnel one drives salted=True)
    "dedup_image_phash": 10,
    "api_events_funnel": 10,
    "api_events_retention": 10,
    # round 10: alpha_ratio recounted via regexp_count (same integer,
    # ~6x cheaper scan) — plan change for its Catalyst-form users
    "dedup_keep_best_per_source": 10,
    "text_quality_classifier": 10,
    "api_pipeline_curate": 10,
    "dedup_cosine_incremental": 9,
    "dedup_embedding_cosine": 9,
    "events_retention": 10,
    "ann_recenter_compact": 9,
    "ml_kmeans_clusters": 9,
    # round 9: avg_lag_s produced via exact integer half-up at the
    # microsecond boundary (ROUND(double,6) digit-7 ties split the
    # engines at the x10 synth corpus)
    "asof_join_clicks": 9,
    # round 10: step-type filter pushed below the funnel shuffle
    # (plan change, values identical); salted= fallback implemented
    "events_funnel_windowed": 15,  # r15: re-witnessed beside api_events_funnel
    "events_retention_stream": 10,
    "ann_ingest_pq": 7,
    # round 10: register() now auto-upgrades expr→join past the
    # threshold (incremental ≡ batch re-certified under the upgrade)
    "api_percolate_register": 10,
    # round 8: new — RRF hybrid lexical+vector fusion, the HTTP
    # service layer's facade path (service.py wraps Engine, no new
    # query semantics), and the F18 display-truncation function
    "retrieval_rrf_fusion": 12,  # r12: union-agg fusion + literal BM25 stats
    "etl_display_truncate": 8,
    "events_funnel": 15,  # r15: re-witnessed beside api_events_funnel
    "agg_pivot_roundtrip": 7,
    "win_ntile_quartiles": 7,
    # round 6 second half: layout-correct stream sources (the
    # _stream_table_src dir-vs-file branch; single-file driver
    # fixtures take the identical code path, but the touch is a touch)
    "events_sessionize_stream": 6,
    "dedup_minhash_stream": 6,
    "events_interval_join_stream": 6,
    # round 5: the NULL-identity oracle fix and stream sink names
    "text_quality_classifier": 5,
    # rounds ≤4: last semantic change per the per-round head notes
    # (keepers refreshed later without code changes keep older floors)
    "etl_row_range_select": 2,
    "join_ext_fallback": 13,  # r13: broadcast hint dropped (size-chosen join)
    "zero_shot_topk_tags": 2,
    "nested_tags_two_level": 2,
    "set_ops_users": 2,
    "sql_api_revenue": 3,
    "agg_decade_orders": 3,
    "etl_regex_extract_path": 3,
    "text_fingerprint": 3,
    "nested_roundtrip": 3,
    "text_token_bpe": 3,
    "ml_frame_sample": 3,
    "join_revenue_by_nation": 3,
    "etl_url_basename_join": 13,  # r13: resolve_paths listing hint dropped
    "knn_whole": 3,
    "knn_tag_filtered": 3,
    "knn_batch": 3,
    "knn_percentage": 3,
    "segment_search": 3,
    "segment_search_tag_filtered": 13,  # r13: allowed-ids hint dropped
    "hybrid_search": 3,
    "hybrid_search_tag_filtered": 12,  # r12: allowed_marker folded into the one-pass agg
    "tag_search": 3,
    "tag_search_and": 3,
    "ann_ivf": 3,
    "ann_lsh": 3,
    "ann_range_search": 3,
    "dedup_exact": 3,
    "dedup_minhash_lsh_portable": 3,
    "dedup_simhash_portable": 3,
    "dedup_keep_best_per_source": 3,
    "text_redact_pii": 3,
    # r10 late: tokenize-once shingle/feature branches (plan change)
    "text_contamination": 12,  # r12: resident eval-fingerprint index feeds the broadcast
    "text_gopher_rules": 12,  # r12: map-only sorted-run bigram mode
    "text_chunk_windows": 3,
    # r10 late: one-explode tf-level rebuild, tf-weighted mean (new
    # oracle formulation, same values)
    "text_unigram_logprob": 12,  # r12: single-broadcast vocab (windowed total)
    "text_pack_bins": 3,
    "etl_hash_split": 3,
    "etl_mixture_sample": 3,
    "etl_html_scrub": 3,
    "events_hopping_window": 3,
    "agg_rollup_acctbal": 3,
    "ml_stub_text_embeddings_portable": 3,
    "ml_zero_shot_tags": 3,
    "q1_pricing_summary": 4,
    "agg_value_counts": 4,
    "agg_explode_count": 4,
    "agg_histogram_chars": 4,
    "agg_group_stats": 4,
    "agg_distinct_counts": 4,
    "agg_bool_flags": 4,
    "win_topn_per_group": 4,
    "win_global_topk": 4,
    "join_meta_counters": 13,  # r13: broadcast hint dropped (size-chosen join)
    "join_semi_allowlist": 13,  # r13: broadcast hint dropped (size-chosen semi)
    "join_anti_customers": 4,
    "etl_sentinel_cleanse": 4,
    "etl_safe_cast": 4,
    "etl_multiformat_date": 4,
    "etl_prefix_split": 4,
    "vec_mean_per_label": 4,
    "ann_pq_portable": 4,
    "ann_ivfpq_portable": 4,
    "ann_brute_force": 4,
    "dedup_ngram_jaccard": 12,  # r12: posting-list pair mining, one corpus shuffle
    "dedup_cluster_canonical": 12,  # r12: consumes the posting-list jaccard pairs
    "text_quality": 4,
    "text_lang_id": 4,
    "text_token_count": 4,
    "events_sessionize": 4,
    "join_tag_category": 12,  # r12: literal resident vocab, no dim join
    "ml_multimodal_meta": 4,
    "ml_resize_plan": 4,
    "agg_salted_group": 4,
    "etl_upsert_merge": 4,
    "agg_keyword_scan": 4,
    "events_tumbling_window": 4,
    "dedup_chunks": 4,
    # r10 late: corpus side probes the write-time fingerprint index;
    # batch keys persisted across the probe/anti pair (plan change)
    "dedup_incremental": 10,
    "events_interval_join": 4,
    # -- round 14 (optimization round 2): plan changes, values
    # identical; every entry re-certified by the r14 driver head.
    # Pair mining: scale-adaptive repartition before the pair-count
    # aggregate + Generate-form edges in label propagation; r15: the
    # shingle counts ride in the posting lists (no size frame or size
    # joins) and a NULL text no longer pairs
    "dedup_ngram_jaccard": 15,
    "dedup_cluster_canonical": 15,
    # dup-injection fixtures: 3-branch unions -> one Generate /
    # when-chain projection over a single scan
    "dedup_exact": 14,
    "dedup_minhash_lsh": 14,
    "dedup_simhash": 14,
    "dedup_minhash_lsh_portable": 14,
    "dedup_simhash_portable": 14,
    "dedup_image_phash": 14,
    "text_contamination": 14,
    "dedup_minhash_incremental": 14,
    "dedup_cosine_incremental": 14,
    "dedup_incremental": 14,
    # single-reference stopword_ratio / hash_split; two-level
    # classifier select; curate chain composes all of the above
    "text_quality_classifier": 14,
    "etl_hash_split": 14,
    "dedup_keep_best_per_source": 14,
    "api_pipeline_curate": 14,
    # salted funnel: chain values leveled into named projections
    "api_events_funnel": 14,
}


def _ordered_names() -> list[str]:
    head = [n for n in _DRIVER_ORDER if n in _QUERIES]
    seen = set(head) | set(_ROWS_ONLY_TAIL)
    mid = [n for n in _QUERIES if n not in seen]
    tail = [n for n in _ROWS_ONLY_TAIL if n in _QUERIES and n not in head]
    return head + mid + tail


def queries() -> dict[str, QueryFn]:
    return {n: _QUERIES[n] for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {n: _ORACLES[n] for n in _ordered_names() if n in _ORACLES}


def _t(
    spark: SparkSession, sf_dir: str, name: str, wide: bool = False
) -> DataFrame:
    # wide=True → the cores-wide cached variant (readers.load_table):
    # for queries whose cost is a deep JVM expression per row (shingle
    # chains, regex stacks), where the byte-proportional cache width
    # under-parallelizes a 32-core session. No-op when the table cache
    # is off, so correctness-gate plans are untouched.
    return load_table(spark, sf_dir, name, wide=wide)


# Driver-side memo for tiny collected artifacts (query vectors,
# centroid/hyperplane lists). They are deterministic functions of the
# immutable test tables, and re-collecting them per query adds a
# driver round-trip to every retrieval query — the reference's
# analogue is the resident model/index of its serving process.
_VEC_CACHE: dict[tuple[str, int], list[float]] = {}
_CENTROID_CACHE: dict[tuple[str, int], list[list[float]]] = {}


def _query_vector(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """The seeded query vector: the embedding of a fixed row — the
    rebuild's analogue of the reference's seed=42 sample queries."""
    key = (sf_dir, vec_id)
    if key not in _VEC_CACHE:
        row = (
            _t(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == vec_id)
            .select("embedding")
            .first()
        )
        _VEC_CACHE[key] = [float(x) for x in row[0]]
    return _VEC_CACHE[key]


def _leading_vectors(spark: SparkSession, sf_dir: str, k: int) -> list[list[float]]:
    """The first k embeddings (by vec_id) — fixed centroids /
    hyperplanes, mirroring the reference's seed=42 convention."""
    key = (sf_dir, k)
    if key not in _CENTROID_CACHE:
        rows = (
            _t(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < k)
            .orderBy("vec_id")
            .select("embedding")
            .collect()
        )
        _CENTROID_CACHE[key] = [[float(x) for x in r[0]] for r in rows]
    return _CENTROID_CACHE[key]


def _query_segment_rows(spark: SparkSession, sf_dir: str):
    """Image 0's segments (vec_ids 0..9) as driver-side (qid, vector)
    rows — the memoized query artifact every segment/hybrid query
    scores against, so building a query plan never re-collects them."""
    return list(enumerate(_leading_vectors(spark, sf_dir, 10)))


def _table_bytes(sf_dir: str, name: str) -> int | None:
    try:
        return os.path.getsize(f"{sf_dir.rstrip('/')}/{name}.parquet")
    except OSError:
        return None


# Broadcast / Arrow volume thresholds, mirroring what a cluster's
# cost-based optimizer reads from table stats (parquet footprint is
# the cheap local stand-in). 32 MB ≈ a few× Spark's default
# autoBroadcastJoinThreshold — safely inside executor memory, safely
# above every local test table.
_SIZE_THRESHOLD = 32 << 20


def _vectors_arrow(sf_dir: str) -> bool:
    """Sims strategy policy (V.sims_array): the Arrow numpy matmul
    pays a fixed ~0.2 s worker/launch cost per query, amortized only
    when the embedding corpus is large; below the threshold the
    JVM-side HOF dots win outright."""
    nbytes = _table_bytes(sf_dir, "embeddings")
    return nbytes is None or nbytes >= _SIZE_THRESHOLD


def _docs_small(sf_dir: str) -> bool:
    """Broadcastability policy for document-corpus-derived frames
    (LSH band signatures): broadcast only below the size threshold;
    at cluster scale the bucket self-join shuffles on (band, key) —
    the co-located layout a bucketed index table gives for free."""
    nbytes = _table_bytes(sf_dir, "documents")
    return nbytes is not None and nbytes < _SIZE_THRESHOLD


def _doc_tag_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document ``tag_list`` index column — a WRITE-TIME
    artifact in the reference (foto_atlas_sam's flattened ``tag_list``,
    SAM/setup_elasticsearch_sam.py:83-84, populated at upload): tags
    are derived once at ingest, not per query. A serving session keeps
    it resident (indexes.py); correctness runs rebuild it inside the
    query."""
    docs = _t(spark, sf_dir, "documents")
    tag_list = F.slice(F.array_sort(F.array_distinct(X.tokens(F.col("text")))), 1, 5)
    return indexes.materialized(
        spark,
        f"doc_tag_list:{sf_dir}",
        lambda: docs.select("doc_id", tag_list.alias("tag_list")),
    )


# =====================================================================
# Relational core (SURVEY.md §2.4/§2.5; TPC-H-ish shapes)
# =====================================================================


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                          AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                     AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                  AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)    AS sum_charge,
           ROUND(AVG(l_quantity), 6)                                          AS avg_qty,
           ROUND(AVG(l_extendedprice), 6)                                     AS avg_price,
           ROUND(AVG(l_discount), 6)                                          AS avg_disc,
           COUNT(*)                                                           AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the canonical scan+aggregate; single shuffle
    with map-side partial aggregation (A1/A10 analytics shapes)."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "sql_api_revenue",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def sql_api_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql() entry path: tables registered as temp views
    (sources.register_views), query written as ANSI SQL — same
    Catalyst plan as the DataFrame API, proving the engine's SQL
    surface end-to-end."""
    from .sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_returnflag
        """
    )


@register(
    "agg_value_counts",
    """
    SELECT event_type, COUNT(*) AS count
    FROM events GROUP BY event_type
    """,
)
def agg_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — value_counts (analyze_dataset_distribution.py:62)."""
    return analytics.value_counts(_t(spark, sf_dir, "events"), "event_type")


@register(
    "agg_explode_count",
    """
    SELECT value, COUNT(*) AS count
    FROM (
        SELECT UNNEST(string_split_regex(LOWER(text), '\\s+')) AS value
        FROM documents
    )
    WHERE LENGTH(value) > 0
    GROUP BY value
    ORDER BY count DESC, value
    LIMIT 30
    """,
)
def agg_explode_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — explode-then-count leaderboard over the multi-valued text
    cell (analyze_dataset_distribution.py:78-83), top 30 words."""
    docs = _t(spark, sf_dir, "documents")
    # explode the raw split and filter AFTER: the WHERE is codegen'd,
    # while a filter() higher-order function inside the array is
    # interpreted per element (~4× slower on this shape)
    exploded = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("value")
    ).filter(F.length("value") > 0)
    return (
        exploded.groupBy("value")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), F.col("value"))
        .limit(30)
    )


@register(
    "agg_histogram_chars",
    """
    SELECT CAST(FLOOR(n_chars / 50) * 50 AS BIGINT) AS bin, COUNT(*) AS count
    FROM documents GROUP BY bin
    """,
)
def agg_histogram_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — fixed-width histogram binning of document lengths."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy(
        (F.floor(F.col("n_chars") / 50) * 50).cast("long").alias("bin")
    ).agg(F.count("*").alias("count"))


@register(
    "agg_decade_orders",
    """
    SELECT CAST(FLOOR(YEAR(o_orderdate) / 10) * 10 AS INT) AS decade,
           COUNT(*) AS count
    FROM orders GROUP BY decade
    """,
)
def agg_decade_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9/A1 — decade binning ``(y//10)*10``
    (analyze_dataset_distribution.py:102)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy(
        analytics.decade(F.year("o_orderdate")).alias("decade")
    ).agg(F.count("*").alias("count"))


@register(
    "agg_group_stats",
    """
    SELECT lang,
           COUNT(*)                                   AS n,
           ROUND(AVG(n_chars), 6)                     AS mean,
           ROUND(quantile_cont(n_chars, 0.5), 6)      AS median,
           MIN(n_chars)                               AS min,
           MAX(n_chars)                               AS max
    FROM documents GROUP BY lang
    """,
)
def agg_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — per-group mean/median/min/max
    (visualize_segmented_tags.py:171-177)."""
    docs = _t(spark, sf_dir, "documents")
    out = analytics.group_stats(docs, "lang", "n_chars")
    return out.select(
        "lang",
        "n",
        F.round("mean", 6).alias("mean"),
        F.round("median", 6).alias("median"),
        "min",
        "max",
    )


@register(
    "agg_distinct_counts",
    """
    SELECT COUNT(DISTINCT user_id)     AS n_users,
           COUNT(DISTINCT event_type)  AS n_types,
           COUNT(*)                    AS n_events
    FROM events
    """,
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — nunique counters (analyze_dataset_distribution.py:336-358)."""
    return _t(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.count("*").alias("n_events"),
    )


@register(
    "agg_bool_flags",
    """
    SELECT source,
           MAX(CASE WHEN lang = 'en' THEN TRUE ELSE FALSE END) AS has_en,
           COUNT(DISTINCT lang)                                AS n_langs,
           COUNT(*)                                            AS n_docs
    FROM documents GROUP BY source
    """,
)
def agg_bool_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — boolean any-flags per group (the has_architecture/
    has_nature/has_objects pattern,
    SAM/upload_segments_to_elasticsearch.py:88-96)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.max(F.when(F.col("lang") == "en", True).otherwise(False)).alias("has_en"),
        F.countDistinct("lang").alias("n_langs"),
        F.count("*").alias("n_docs"),
    )


@register(
    "win_topn_per_group",
    """
    SELECT p_brand, p_partkey, p_retailprice, rank
    FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY p_brand
                   ORDER BY p_retailprice DESC, p_partkey) AS INT) AS rank
        FROM part
    )
    WHERE rank <= 3
    """,
)
def win_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — top-N per group (the ≤10-segments-per-image cap,
    SAM/extract_sam_clip_features.py:65-78)."""
    part = _t(spark, sf_dir, "part")
    return analytics.top_n_per_group(
        part, "p_brand", "p_retailprice", 3, "p_partkey"
    ).select("p_brand", "p_partkey", "p_retailprice", "rank")


@register(
    "win_global_topk",
    """
    SELECT o_orderkey, o_totalprice,
           CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rank
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def win_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/W8 — global top-k with rank numbering.

    The top-k (TakeOrderedAndProject — per-partition heaps, no global
    sort) runs FIRST; the rank window then numbers only the k
    surviving rows. Ranking before limiting would force a
    single-partition sort of the whole table for ranks that are
    discarded — at 100 TB, the difference between a heap merge and an
    impossible global sort."""
    orders = _t(spark, sf_dir, "orders")
    topk = (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
        .limit(20)
    )
    w = Window.orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    return topk.select(
        "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rank")
    )


# =====================================================================
# Joins (SURVEY.md §2.3)
# =====================================================================


@register(
    "join_meta_counters",
    """
    SELECT COUNT(*)                                              AS n_vectors,
           SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS matched,
           SUM(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT     AS not_matched
    FROM embeddings e
    LEFT JOIN documents d ON e.vec_id = d.doc_id
    """,
)
def join_meta_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — features ⋈ metadata left join with matched/not-matched
    counters (upload_features_to_elasticsearch.py:160-205).

    No broadcast hint: metadata is row-per-image and grows 1:1 with
    the corpus (13.9k rows in the reference is an artifact of its
    corpus size, not a dimension table), so the right plan is
    size-chosen — BHJ while metadata fits the threshold, sort-merge
    on the equi key at 100× where both sides are corpus-scale."""
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    joined = emb.join(docs, emb["vec_id"] == docs["doc_id"], "left")
    return joined.agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.when(F.col("doc_id").isNotNull(), 1).otherwise(0)).alias("matched"),
        F.sum(F.when(F.col("doc_id").isNull(), 1).otherwise(0)).alias("not_matched"),
    )


@register(
    "join_semi_allowlist",
    """
    SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 45)
    GROUP BY l_returnflag
    """,
)
def join_semi_allowlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13/P14 — allow-list as left-semi join
    (extract_clip_features.py:79,94-96).

    No broadcast hint: the filtered ``part`` side is a constant
    fraction of a corpus-scale table (grows with SF), so the semi
    join stays size-chosen — BHJ while it fits, shuffle semi at
    100×."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") > 45)
    return (
        li.join(
            part.select(F.col("p_partkey").alias("l_partkey")),
            "l_partkey",
            "left_semi",
        )
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@register(
    "join_anti_customers",
    """
    SELECT c_mktsegment, COUNT(*) AS n_customers_without_orders
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
    )
    GROUP BY c_mktsegment
    """,
)
def join_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join — the complement-split analogue (P4) expressed as a
    proper left_anti instead of a double scan: customers with no
    recent orders."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp")
    )
    return (
        cust.join(
            orders.select(F.col("o_custkey").alias("c_custkey")),
            "c_custkey",
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers_without_orders"))
    )


@register(
    "join_revenue_by_nation",
    """
    SELECT n.n_name, r.r_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_lineitems
    FROM customer c
    JOIN orders o    ON o.o_custkey = c.c_custkey
    JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
    JOIN nation n    ON n.n_nationkey = c.c_nationkey
    JOIN region r    ON r.r_regionkey = n.n_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name, r.r_name
    """,
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — multi-join with a date-range filter that
    pushes to the orders scan.

    The join strategy is SIZE-PARAMETERIZED (the bench-scale vs
    cluster-scale decision the round-2 review asked for): nation and
    region always broadcast; when the orders footprint is below
    ``_SIZE_THRESHOLD`` the filtered orders⋈customer⋈dims side is
    broadcast too, so lineitem — always the giant side — streams
    through ONE broadcast hash join with no exchange before the final
    tiny aggregation. Above the threshold (cluster scale) the orders
    side shuffles on the join key, the correct plan when both inputs
    are huge; AQE (enabled by session.py default off-bench) makes the
    same call from runtime stats."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    obytes = _table_bytes(sf_dir, "orders")
    cbytes = _table_bytes(sf_dir, "customer")
    small = (
        obytes is not None
        and cbytes is not None
        and obytes + cbytes < _SIZE_THRESHOLD
    )
    if small:
        dims = (
            o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
            .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
            .join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"])
            .select("o_orderkey", "n_name", "r_name")
        )
        joined = li.join(F.broadcast(dims), li["l_orderkey"] == dims["o_orderkey"])
    else:
        joined = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(c, o["o_custkey"] == c["c_custkey"])
            .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
            .join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"])
        )
    return joined.groupBy("n_name", "r_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_lineitems"),
    )


# =====================================================================
# Metadata ETL (SURVEY.md §2.2; M1)
# =====================================================================


@register(
    "etl_sentinel_cleanse",
    """
    WITH injected AS (
        SELECT lang,
               CASE WHEN doc_id % 7 = 0 THEN 'NA'
                    WHEN doc_id % 7 = 1 THEN ''
                    WHEN doc_id % 7 = 2 THEN 'Konum Yok'
                    ELSE source END AS cell
        FROM documents
    ),
    cleaned AS (
        SELECT lang,
               CASE WHEN cell IS NULL OR TRIM(cell) = ''
                         OR contains(cell, 'NA')
                         OR contains(cell, 'Konum Yok')
                         OR contains(cell, 'Konum İşaretlenmedi')
                    THEN NULL ELSE cell END AS cell
        FROM injected
    )
    SELECT lang, COUNT(*) AS n, COUNT(cell) AS non_null,
           (COUNT(*) - COUNT(cell))::BIGINT AS cells_cleaned
    FROM cleaned GROUP BY lang
    """,
)
def etl_sentinel_cleanse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — sentinel/empty → null cleansing with cells-cleaned
    counters (clean_and_fill_na.py:4-17,28-95). Sentinels are injected
    deterministically since the synthetic table has none."""
    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "lang",
        F.when(F.col("doc_id") % 7 == 0, "NA")
        .when(F.col("doc_id") % 7 == 1, "")
        .when(F.col("doc_id") % 7 == 2, "Konum Yok")
        .otherwise(F.col("source"))
        .alias("cell"),
    )
    cleaned = injected.select("lang", X.sentinels_to_null("cell").alias("cell"))
    return cleaned.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.count("cell").alias("non_null"),
        (F.count("*") - F.count("cell")).alias("cells_cleaned"),
    )


@register(
    "etl_safe_cast",
    """
    WITH raw AS (
        SELECT event_type,
               CASE WHEN event_id % 13 = 0 THEN 'NA'
                    WHEN event_id % 13 = 1 THEN ''
                    ELSE regexp_extract(props, '"k":\\s*(\\d+)', 1) END AS k_str
        FROM events
    )
    SELECT event_type,
           COUNT(TRY_CAST(NULLIF(NULLIF(TRIM(k_str), 'NA'), '') AS DOUBLE)) AS n_parsed,
           SUM(CAST(TRY_CAST(NULLIF(NULLIF(TRIM(k_str), 'NA'), '') AS DOUBLE) AS BIGINT))::BIGINT AS sum_k
    FROM raw GROUP BY event_type
    """,
)
def etl_safe_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — safe_int: 'NA'/empty/bad → null, numeric via int(float(v))
    (upload_features_to_elasticsearch.py:95-114). Extracts the numeric
    field from the JSON-ish props string, with injected bad cells."""
    ev = _t(spark, sf_dir, "events")
    raw = ev.select(
        "event_type",
        F.when(F.col("event_id") % 13 == 0, "NA")
        .when(F.col("event_id") % 13 == 1, "")
        .otherwise(F.regexp_extract("props", '"k":\\s*(\\d+)', 1))
        .alias("k_str"),
    )
    parsed = raw.select("event_type", X.safe_int("k_str").alias("k"))
    return parsed.groupBy("event_type").agg(
        F.count("k").alias("n_parsed"), F.sum("k").alias("sum_k")
    )


@register(
    "etl_multiformat_date",
    """
    WITH formatted AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
                    WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%Y-%m-%d')
                    ELSE CAST(CAST(epoch(o_orderdate) AS BIGINT) * 1000 AS VARCHAR) END AS ds
        FROM orders
    ),
    parsed AS (
        SELECT o_orderkey,
               COALESCE(
                   try_strptime(ds, '%Y-%m-%d %H:%M:%S'),
                   try_strptime(ds, '%Y-%m-%d'),
                   CASE WHEN TRY_CAST(ds AS BIGINT) IS NOT NULL
                        THEN to_timestamp(TRY_CAST(ds AS BIGINT) / 1000) AT TIME ZONE 'UTC'
                        ELSE NULL END
               ) AS ts
        FROM formatted
    )
    SELECT YEAR(ts) AS y, COUNT(*) AS n,
           MIN(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS min_ts,
           MAX(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS max_ts
    FROM parsed GROUP BY y
    """,
)
def etl_multiformat_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 — the ES mapping's three accepted date formats
    (yyyy-MM-dd HH:mm:ss || yyyy-MM-dd || epoch_millis,
    upload_features_to_elasticsearch.py:40): round-trip through
    heterogeneous string formats and re-parse with one coalesce."""
    orders = _t(spark, sf_dir, "orders")
    formatted = orders.select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        )
        .when(F.col("o_orderkey") % 3 == 1, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .otherwise(
            (F.col("o_orderdate").cast("timestamp").cast("long") * 1000).cast("string")
        )
        .alias("ds"),
    )
    parsed = formatted.select(
        "o_orderkey", etl.multiformat_timestamp("ds").alias("ts")
    )
    return parsed.groupBy(F.year("ts").alias("y")).agg(
        F.count("*").alias("n"),
        F.min(F.date_format("ts", "yyyy-MM-dd HH:mm:ss")).alias("min_ts"),
        F.max(F.date_format("ts", "yyyy-MM-dd HH:mm:ss")).alias("max_ts"),
    )


@register(
    "etl_regex_extract_path",
    """
    WITH paths AS (
        SELECT 'dataset/' || strftime(o_orderdate, '%Y') || '/'
               || strftime(o_orderdate, '%m') || '/img_'
               || CAST(o_orderkey AS VARCHAR) || '.jpg' AS image_path
        FROM orders
    )
    SELECT regexp_extract(image_path, 'dataset/(\\d{4})/', 1)        AS year,
           regexp_extract(image_path, 'dataset/\\d{4}/(\\d{2})/', 1) AS month,
           COUNT(*) AS count
    FROM paths GROUP BY year, month
    """,
)
def etl_regex_extract_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — regex year/month extraction from dataset paths
    (analyze_dataset_distribution.py:55-56)."""
    orders = _t(spark, sf_dir, "orders")
    paths = orders.select(
        F.concat(
            F.lit("dataset/"),
            F.date_format("o_orderdate", "yyyy"),
            F.lit("/"),
            F.date_format("o_orderdate", "MM"),
            F.lit("/img_"),
            F.col("o_orderkey").cast("string"),
            F.lit(".jpg"),
        ).alias("image_path")
    )
    return paths.groupBy(
        F.regexp_extract("image_path", r"dataset/(\d{4})/", 1).alias("year"),
        F.regexp_extract("image_path", r"dataset/\d{4}/(\d{2})/", 1).alias("month"),
    ).agg(F.count("*").alias("count"))


@register(
    "etl_prefix_split",
    """
    SELECT CASE WHEN starts_with(source, 'src1') THEN 'keep' ELSE 'test' END AS split,
           COUNT(*) AS n, COUNT(DISTINCT lang) AS n_langs
    FROM documents GROUP BY split
    """,
)
def etl_prefix_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4 — prefix filter + complement split
    (filter_label_paths.py:41-54 / create_label_test.py:38-53)."""
    docs = _t(spark, sf_dir, "documents")
    keep, test = etl.prefix_split(docs, "source", "src1")
    keep = keep.withColumn("split", F.lit("keep"))
    test = test.withColumn("split", F.lit("test"))
    return (
        keep.unionByName(test)
        .groupBy("split")
        .agg(F.count("*").alias("n"), F.countDistinct("lang").alias("n_langs"))
    )


@register(
    "etl_url_basename_join",
    """
    WITH meta AS (
        SELECT doc_id,
               'http://archive.example.com/files/doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS source_url
        FROM documents
    ),
    listing AS (
        SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS filename,
               '/data/doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS path
        FROM documents WHERE doc_id % 2 = 0
    ),
    resolved AS (
        SELECT m.doc_id,
               COALESCE(l.path, m.source_url) AS resolved
        FROM meta m
        LEFT JOIN listing l
          ON regexp_extract(m.source_url, '([^/]+)$', 1) = l.filename
    )
    SELECT SUM(CASE WHEN resolved LIKE '/data/%' THEN 1 ELSE 0 END)::BIGINT AS n_resolved,
           SUM(CASE WHEN resolved LIKE 'http%' THEN 1 ELSE 0 END)::BIGINT   AS n_unresolved
    FROM resolved
    """,
)
def etl_url_basename_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/F4 — URL→local-path resolution join
    (update_label_paths.py:7-38,73-108): per-row rglob becomes one
    broadcast hash join on the URL basename."""
    docs = _t(spark, sf_dir, "documents")
    meta = docs.select(
        "doc_id",
        F.concat(
            F.lit("http://archive.example.com/files/doc_"),
            F.col("doc_id").cast("string"),
            F.lit(".txt"),
        ).alias("source_url"),
    )
    listing = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".txt")).alias(
            "filename"
        ),
        F.concat(
            F.lit("/data/doc_"), F.col("doc_id").cast("string"), F.lit(".txt")
        ).alias("path"),
    )
    resolved = etl.resolve_paths(meta, listing)
    return resolved.agg(
        F.sum(F.when(F.col("source_url").startswith("/data/"), 1).otherwise(0)).alias(
            "n_resolved"
        ),
        F.sum(F.when(F.col("source_url").startswith("http"), 1).otherwise(0)).alias(
            "n_unresolved"
        ),
    )


# =====================================================================
# Vector retrieval Q1-Q4 (SURVEY.md §2.9; M2/M4)
#
# The driver's flat `embeddings` table plays two roles, mirroring the
# reference's two data models (§1.4): whole-image vectors (one row per
# id), and a derived segment model where image_id = vec_id // 10 and
# each vector is one segment of its image — the flat per-segment
# layout of the foto_atlas_sam index.
# =====================================================================

# DuckDB CTE fragments reused by the retrieval oracles.
_SEG_CTE = """
    seg AS (
        SELECT CAST(vec_id // 10 AS BIGINT) AS image_id,
               vec_id,
               embedding::DOUBLE[] AS v
        FROM embeddings
    )
"""


@register(
    "knn_whole",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(list_dot_product(e.embedding::DOUBLE[], q.v) + 1.0, 6) AS score
    FROM embeddings e, q
    ORDER BY score DESC, e.vec_id
    LIMIT 10
    """,
)
def knn_whole(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 — whole-image KNN, the flagship retrieval path
    (search_with_segments.py:148-185): score = dot + 1.0 (Painless
    cosineSimilarity parity), top-10. One scan, no shuffle,
    TakeOrderedAndProject."""
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    scored = emb.select(
        "vec_id",
        F.round(
            V.calibrated_whole_score(
                V.dot(F.col("embedding"), F.lit(q).cast("array<double>"))
            ),
            6,
        ).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.col("vec_id")).limit(10)


@register(
    "knn_tag_filtered",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           ROUND(list_dot_product(e.embedding::DOUBLE[], q.v) + 1.0, 6) AS score
    FROM embeddings e, q
    WHERE e.label IN (1, 3, 5)
    ORDER BY score DESC, e.vec_id
    LIMIT 10
    """,
)
def knn_tag_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 with pre-filter — the tag terms filter inside script_score
    (search_with_segments.py:167-183): only matching rows are scored;
    the predicate pushes to the parquet scan."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("label").isin(1, 3, 5))
    q = _query_vector(spark, sf_dir, 0)
    scored = emb.select(
        "vec_id",
        "label",
        F.round(
            V.calibrated_whole_score(
                V.dot(F.col("embedding"), F.lit(q).cast("array<double>"))
            ),
            6,
        ).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.col("vec_id")).limit(10)


@register(
    "knn_batch",
    """
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv), 6) AS sim
        FROM embeddings e, q
    )
    SELECT query_id, vec_id, sim, rank FROM (
        SELECT query_id, vec_id, sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
        FROM scored
    )
    WHERE rank <= 5
    """,
)
def knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched Q1 — per-query top-k for a broadcast batch of query
    vectors (the Flask service's request fan-in, app.py:296-321, as
    one set-oriented plan)."""
    emb = _t(spark, sf_dir, "embeddings")
    qrows = list(enumerate(_leading_vectors(spark, sf_dir, 5)))
    joined = retrieval.pair_scores(
        emb, qrows, "vec_id", "embedding", "query_id",
        arrow=_vectors_arrow(sf_dir),
    ).select("query_id", "vec_id", F.round(F.col("sim"), 6).alias("sim"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("vec_id"))
    return joined.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 5
    )


@register(
    "vec_mean_per_label",
    """
    SELECT label, CAST(i - 1 AS INT) AS pos, ROUND(AVG(x), 6) AS mean_x
    FROM (SELECT label,
                 UNNEST(embedding::DOUBLE[]) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings)
    GROUP BY label, pos
    """,
)
def vec_mean_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — element-wise mean vector per group (np.mean(axis=0),
    SAM/upload_segments_to_elasticsearch.py:61-68), exploded form."""
    emb = _t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x")
    )
    return exploded.groupBy("label", "pos").agg(
        F.round(F.avg("x"), 6).alias("mean_x")
    )


@register(
    "segment_search",
    f"""
    WITH {_SEG_CTE},
    q AS (SELECT vec_id AS qid, v AS qv FROM seg WHERE image_id = 0),
    cand AS (
        SELECT * FROM seg
        WHERE image_id IN (SELECT DISTINCT image_id FROM seg ORDER BY image_id LIMIT 30)
    ),
    best AS (
        SELECT c.image_id, q.qid, MAX(list_dot_product(c.v, q.qv)) AS best_sim
        FROM cand c, q
        GROUP BY c.image_id, q.qid
    )
    SELECT image_id,
           ROUND(AVG(best_sim), 6) AS avg_similarity,
           ROUND(MAX(best_sim), 6) AS max_segment_similarity
    FROM best
    GROUP BY image_id
    ORDER BY avg_similarity DESC, image_id
    LIMIT 10
    """,
)
def segment_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 — segment-level search (search_with_segments.py:188-301):
    per-query-segment argmax over candidate segments, image score =
    mean of maxima; candidate pool capped at top_k*3 (the reference's
    ES recall heuristic, :193)."""
    emb = _t(spark, sf_dir, "embeddings")
    seg = emb.select(
        F.floor(F.col("vec_id") / 10).cast("long").alias("image_id"),
        "vec_id",
        F.col("embedding").alias("clip_features"),
    )
    qsegs = (
        seg.filter(F.col("image_id") == 0)
        .select(
            F.col("vec_id").alias("q_segment_id"),
            F.col("clip_features").alias("features"),
        )
    )
    # The candidate cap draws from the segment index's distinct image
    # ids — index METADATA, kept resident in a serving session
    # (indexes.py) instead of re-distincting the corpus per query.
    image_ids = indexes.materialized(
        spark,
        f"segment_image_ids:{sf_dir}",
        lambda: seg.select("image_id").distinct(),
    )
    out = retrieval.segment_search(
        seg, qsegs, top_k=10, candidate_cap=30,
        query_rows=_query_segment_rows(spark, sf_dir),
        image_ids=image_ids,
        arrow=_vectors_arrow(sf_dir),
    )
    return out.select(
        "image_id",
        F.round("avg_similarity", 6).alias("avg_similarity"),
        F.round("max_segment_similarity", 6).alias("max_segment_similarity"),
    )


# ONE oracle for both hybrid formulations: the flat single-pass fusion
# (hybrid_search query) and the two-phase dispatch through the Engine
# facade (api_engine_hybrid) compute the same pool-200 re-rank, so the
# SQL twin certifies each.
_HYBRID_ORACLE = f"""
    WITH {_SEG_CTE},
    whole AS (SELECT image_id, v FROM seg WHERE vec_id % 10 = 0),
    qwhole AS (SELECT v AS qv FROM seg WHERE vec_id = 0),
    qsegs AS (SELECT vec_id AS qid, v AS qv FROM seg WHERE image_id = 0),
    phase1 AS (
        SELECT w.image_id,
               list_dot_product(w.v, q.qv) + 1.0 AS whole_score
        FROM whole w, qwhole q
        ORDER BY whole_score DESC, w.image_id
        LIMIT 200
    ),
    best AS (
        SELECT s.image_id, q.qid, MAX(list_dot_product(s.v, q.qv)) AS best_sim
        FROM seg s
        JOIN phase1 p ON p.image_id = s.image_id
        CROSS JOIN qsegs q
        GROUP BY s.image_id, q.qid
    ),
    segscore AS (
        SELECT image_id, AVG(best_sim) AS segment_score FROM best GROUP BY image_id
    )
    SELECT p.image_id,
           ROUND(p.whole_score, 6) AS whole_score,
           ROUND(COALESCE(s.segment_score, 0.0), 6) AS segment_score,
           ROUND(0.4 * p.whole_score + 0.6 * COALESCE(s.segment_score, 0.0), 6) AS hybrid_score
    FROM phase1 p LEFT JOIN segscore s ON s.image_id = p.image_id
    ORDER BY hybrid_score DESC, p.image_id
    LIMIT 10
    """


@register("hybrid_search", _HYBRID_ORACLE)
def hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 — two-phase hybrid re-rank (search_with_segments.py:345-445)
    with the reference's exact score algebra: phase-1 whole score
    shifted to 0..2, phase-2 segment score raw cosine in −1..1,
    hybrid = 0.4·whole + 0.6·segment, missing segment score → 0."""
    emb = _t(spark, sf_dir, "embeddings")
    seg = emb.select(
        F.floor(F.col("vec_id") / 10).cast("long").alias("image_id"),
        "vec_id",
        F.col("embedding").alias("clip_features"),
    )
    qvec = _query_vector(spark, sf_dir, 0)
    # Flat-layout fusion: the whole-image vector is a row of the same
    # segment frame (the reference's denormalized foto_atlas_sam
    # layout), so both phases run in ONE corpus pass — see
    # retrieval.hybrid_search_flat. Identical pool membership and
    # score algebra to the two-phase form.
    out = retrieval.hybrid_search_flat(
        seg, qvec, _query_segment_rows(spark, sf_dir), top_k=10,
        whole_marker=F.col("vec_id") % 10 == 0,
        arrow=_vectors_arrow(sf_dir),
    )
    return out.select(
        "image_id",
        F.round("whole_score", 6).alias("whole_score"),
        F.round("segment_score", 6).alias("segment_score"),
        F.round("hybrid_score", 6).alias("hybrid_score"),
    )


@register(
    "hybrid_search_tag_filtered",
    f"""
    WITH {_SEG_CTE},
    labeled AS (
        SELECT CAST(vec_id // 10 AS BIGINT) AS image_id, vec_id, label
        FROM embeddings
    ),
    allowed AS (
        SELECT DISTINCT image_id FROM labeled WHERE label IN (0, 2, 4, 6)
    ),
    whole AS (
        SELECT s.image_id, s.v FROM seg s
        JOIN allowed a ON a.image_id = s.image_id
        WHERE s.vec_id % 10 = 0
    ),
    qwhole AS (SELECT v AS qv FROM seg WHERE vec_id = 0),
    qsegs AS (SELECT vec_id AS qid, v AS qv FROM seg WHERE image_id = 0),
    phase1 AS (
        SELECT w.image_id,
               list_dot_product(w.v, q.qv) + 1.0 AS whole_score
        FROM whole w, qwhole q
        ORDER BY whole_score DESC, w.image_id
        LIMIT 200
    ),
    best AS (
        SELECT s.image_id, q.qid, MAX(list_dot_product(s.v, q.qv)) AS best_sim
        FROM seg s
        JOIN phase1 p ON p.image_id = s.image_id
        CROSS JOIN qsegs q
        GROUP BY s.image_id, q.qid
    ),
    segscore AS (
        SELECT image_id, AVG(best_sim) AS segment_score FROM best GROUP BY image_id
    )
    SELECT p.image_id,
           ROUND(p.whole_score, 6) AS whole_score,
           ROUND(COALESCE(s.segment_score, 0.0), 6) AS segment_score,
           ROUND(0.4 * p.whole_score + 0.6 * COALESCE(s.segment_score, 0.0), 6) AS hybrid_score
    FROM phase1 p LEFT JOIN segscore s ON s.image_id = p.image_id
    ORDER BY hybrid_score DESC, p.image_id
    LIMIT 10
    """,
)
def hybrid_search_tag_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 with tag pre-filter (app.py:182-253 passes tags through to
    phase 1; search_with_segments.py:349-352): the filter restricts
    the phase-1 candidate universe BEFORE scoring; phase-2 re-rank is
    unchanged Q3 algebra."""
    emb = _t(spark, sf_dir, "embeddings")
    seg = emb.select(
        F.floor(F.col("vec_id") / 10).cast("long").alias("image_id"),
        "vec_id",
        "label",
        F.col("embedding").alias("clip_features"),
    )
    # The tag pre-filter FOLDS into the one-pass aggregation
    # (allowed_marker: any row with an allowed label admits the image)
    # — r12 plan change replacing the distinct + broadcast-semi-join
    # pre-pass, which re-scanned the corpus and broadcast a
    # corpus-fraction id set (the wrong shape at 100 TB — see
    # retrieval.hybrid_search_flat's allowed_marker note). Values
    # identical: phase-2 aggregates all rows of allowed images either
    # way.
    qvec = _query_vector(spark, sf_dir, 0)
    out = retrieval.hybrid_search_flat(
        seg, qvec, _query_segment_rows(spark, sf_dir), top_k=10,
        whole_marker=F.col("vec_id") % 10 == 0,
        allowed_marker=F.col("label").isin(0, 2, 4, 6),
        arrow=_vectors_arrow(sf_dir),
    )
    return out.select(
        "image_id",
        F.round("whole_score", 6).alias("whole_score"),
        F.round("segment_score", 6).alias("segment_score"),
        F.round("hybrid_score", 6).alias("hybrid_score"),
    )


@register(
    "tag_search",
    """
    WITH tagged AS (
        SELECT doc_id,
               list_sort(list_distinct(
                   list_filter(string_split_regex(LOWER(text), '\\s+'),
                               t -> LENGTH(t) > 0)))[1:5] AS tag_list
        FROM documents
    ),
    exploded AS (
        SELECT doc_id, UNNEST(tag_list) AS tag FROM tagged
    ),
    matched AS (
        SELECT doc_id, tag,
               ((doc_id + LENGTH(tag)) % 100) / 100.0 AS confidence
        FROM exploded
        WHERE tag IN ('data', 'table', 'row')
          AND ((doc_id + LENGTH(tag)) % 100) / 100.0 >= 0.1
    )
    SELECT doc_id,
           COUNT(DISTINCT tag) AS matched_tags,
           ROUND(MAX(confidence), 6) AS max_confidence
    FROM matched
    GROUP BY doc_id
    ORDER BY matched_tags DESC, max_confidence DESC, doc_id
    LIMIT 10
    """,
)
def tag_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 — tag search (search_with_segments.py:304-342): OR-match on
    nested (tag, confidence) structs with confidence ≥ 0.1; relevance
    proxy = (#matching tags, max confidence) per SURVEY.md §2.9. Tags
    are derived deterministically from document tokens."""
    tagged = _doc_tag_list(spark, sf_dir).select(
        F.col("doc_id").alias("image_id"),
        F.transform(
            F.col("tag_list"),
            lambda t: F.struct(
                t.alias("tag"),
                (((F.col("doc_id") + F.length(t)) % 100) / 100.0)
                .cast("float")
                .alias("confidence"),
            ),
        ).alias("tags"),
    )
    out = retrieval.tag_search(
        tagged, ["data", "table", "row"], min_confidence=0.1, top_k=10
    )
    return out.select(
        F.col("image_id").alias("doc_id"),
        "matched_tags",
        F.round(F.col("max_confidence").cast("double"), 6).alias("max_confidence"),
    )


def _bm25_sql(
    terms: list[str],
    toks_expr: str,
    keep: str = "",
    top_k: int = 10,
) -> str:
    """SQL-text twin of ``retrieval.bm25_topk`` — same Lucene-8 BM25
    formula (k1=1.2, b=0.75), same left-to-right per-term
    accumulation, same parenthesization, so the doubles agree
    bit-for-bit before the ROUND."""
    idx = range(len(terms))
    tfs = ",\n               ".join(
        f"LEN(list_filter(toks, t -> t = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    dfs = ",\n               ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}" for i in idx
    )
    contrib = "\n             + ".join(
        f"LN(1.0 + (CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df{i} AS DOUBLE) + 0.5))"
        f" * (CAST(tf{i} AS DOUBLE) / (CAST(tf{i} AS DOUBLE)"
        f" + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)"
        f" / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))))"
        for i in idx
    )
    matchsum = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)" for i in idx
    )
    any_match = " OR ".join(f"tf{i} > 0" for i in idx)
    return f"""
    WITH base AS (
        SELECT doc_id{keep}, {toks_expr} AS toks FROM documents
    ),
    tf AS (
        SELECT doc_id{keep}, LEN(toks) AS dl,
               {tfs}
        FROM base
    ),
    stats AS (
        SELECT COUNT(*) AS n, SUM(dl) AS sumdl,
               {dfs}
        FROM tf
    )
    SELECT doc_id{keep}, ({matchsum})::INT AS n_matched_terms,
           ROUND({contrib}, 6) AS bm25
    FROM tf CROSS JOIN stats
    WHERE {any_match}
    ORDER BY bm25 DESC, doc_id
    LIMIT {top_k}
    """


_BM25_DOC_TERMS = ["data", "table", "vector", "join"]
_BM25_TAG_TERMS = ["data", "table", "row"]


def _bm25_resident_stats(spark: SparkSession, key: str, build) -> dict:
    """ES-parity BM25 statistics: N, Σdl and the per-term document
    frequencies are INDEX METADATA in Lucene (segment stats + posting
    list df), not per-query work — so they are a
    ``materialized_value`` artifact: collected once per (corpus,
    terms), inlined per query as LITERALS via ``bm25_topk(
    stats_values=...)`` (r12: the former literal 1-row frame was
    constant-folded into the same expressions anyway, but its
    BroadcastExchange scheduled one materialization job per
    execution). Cache off ⇒ collected fresh inside the query under
    test (bounded driver state: one row of longs). Drops the scorer
    from two corpus scans to one, with zero join nodes."""
    return indexes.materialized_value(
        spark, key, lambda: build().first().asDict()
    )


@register(
    "text_bm25_topk",
    _bm25_sql(
        _BM25_DOC_TERMS,
        "list_filter(string_split_regex(LOWER(COALESCE(text, '')), '\\s+'),"
        " t -> LENGTH(t) > 0)",
        keep=", lang",
    ),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text BM25 top-k over the corpus — the Lucene relevance an
    analyzed ES ``match`` query against the reference's index computes
    (a capability extension past the Q4 endpoint, whose ``terms``
    query Lucene scores constant — see retrieval.bm25_topk's parity
    note). Literal query terms ⇒ per-doc tf is map-only (no posting
    shuffle); corpus stats are one 1-row aggregate broadcast back;
    top-k is TakeOrderedAndProject."""
    docs = _t(spark, sf_dir, "documents", wide=True)
    stats = _bm25_resident_stats(
        spark,
        f"bm25stats_doc:{sf_dir}",
        lambda: retrieval.bm25_corpus_stats(
            docs, _BM25_DOC_TERMS, id_col="doc_id", text_col="text"
        ),
    )
    return retrieval.bm25_topk(
        docs, _BM25_DOC_TERMS, id_col="doc_id", text_col="text",
        top_k=10, keep_cols=("lang",), stats_values=stats,
    )


@register(
    "tag_search_bm25",
    _bm25_sql(
        _BM25_TAG_TERMS,
        "list_sort(list_distinct(list_filter("
        "string_split_regex(LOWER(text), '\\s+'), t -> LENGTH(t) > 0)))[1:5]",
    ),
)
def tag_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 upgraded past the endpoint's ranking: BM25 relevance over
    the per-image ``tag_list`` index column. The reference's Q4 issues
    an ES ``terms`` query (search_with_segments.py:304-342), which
    Lucene scores CONSTANT per matching clause — that proxy ordering
    is what ``tag_search`` certifies; this variant scores the same
    keyword field the way an analyzed ``match`` query would (tf∈{0,1}
    per tag, dl = #tags, idf from the corpus tag distribution). Same
    write-time tag artifact `_doc_tag_list`; only the ranking
    changes."""
    tagged = _doc_tag_list(spark, sf_dir)
    stats = _bm25_resident_stats(
        spark,
        f"bm25stats_tag:{sf_dir}",
        lambda: retrieval.bm25_corpus_stats(
            tagged, _BM25_TAG_TERMS, id_col="doc_id", tokens_col="tag_list"
        ),
    )
    return retrieval.bm25_topk(
        tagged, _BM25_TAG_TERMS, id_col="doc_id", tokens_col="tag_list",
        top_k=10, stats_values=stats,
    )


_RRF_BM25_SUB = _bm25_sql(
    _BM25_DOC_TERMS,
    "list_filter(string_split_regex(LOWER(COALESCE(text, '')), '\\s+'),"
    " t -> LENGTH(t) > 0)",
    top_k=20,
)


@register(
    "retrieval_rrf_fusion",
    f"""
    WITH txt AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS text_rank
        FROM ({_RRF_BM25_SUB})
    ),
    vec AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id)
                   AS vector_rank
        FROM (
            SELECT e.vec_id AS doc_id,
                   list_dot_product(e.embedding::DOUBLE[], q.v) AS cosine
            FROM embeddings e,
                 (SELECT embedding::DOUBLE[] AS v FROM embeddings
                  WHERE vec_id = 0) q
            ORDER BY cosine DESC, doc_id
            LIMIT 20
        )
    ),
    fused AS (
        SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
               t.text_rank, v.vector_rank,
               COALESCE(1.0 / (60.0 + t.text_rank), 0.0)
                   + COALESCE(1.0 / (60.0 + v.vector_rank), 0.0) AS raw
        FROM txt t FULL OUTER JOIN vec v ON t.doc_id = v.doc_id
    )
    SELECT doc_id, text_rank, vector_rank, ROUND(raw, 6) AS rrf_score
    FROM fused
    ORDER BY raw DESC, doc_id
    LIMIT 10
    """,
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval via reciprocal-rank fusion
    (operators/retrieval.py::rrf_fuse — the ES 8 ``rrf`` shape): BM25
    top-20 over documents fused with cosine top-20 over the matching
    embedding ids, rrf = Σ 1/(60+rank). The capability a user of the
    reference's ES index needs to combine its text and kNN features
    in one query; ``hybrid_search`` (Q3) fuses two CALIBRATED cosine
    spaces with weights — this fuses INCOMPARABLE scales on ranks.
    Exact by construction: ranks are integers with (score desc, id)
    tie-breaks over bit-identical scores (raw left-to-right BM25
    accumulation; list_dot_product ≡ F.aggregate), each term is one
    IEEE division, and the two-term sum is evaluated text-then-vector
    on both engines."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    stats = _bm25_resident_stats(
        spark,
        f"bm25stats_doc:{sf_dir}",  # shared with text_bm25_topk
        lambda: retrieval.bm25_corpus_stats(
            docs, _BM25_DOC_TERMS, id_col="doc_id", text_col="text"
        ),
    )
    text_hits = retrieval.bm25_topk(
        docs, _BM25_DOC_TERMS, id_col="doc_id", text_col="text", top_k=20,
        stats_values=stats,
    )
    vec_hits = (
        emb.select(
            F.col("vec_id").alias("doc_id"),
            V.dot(
                F.col("embedding"), F.lit(q).cast("array<double>")
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col("doc_id"))
        .limit(20)
    )
    return retrieval.rrf_fuse(
        text_hits, vec_hits, id_col="doc_id", k=60, top_k=10
    )


# =====================================================================
# Similarity search (ANN) — M6 / training-data suite
# =====================================================================


@register(
    "ann_ivf",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 42),
    probe AS (
        SELECT cid FROM c, q
        ORDER BY list_dot_product(cv, qv) DESC, cid
        LIMIT 2
    ),
    assign AS (
        SELECT vec_id, v, cid AS cluster FROM (
            SELECT e.vec_id, e.v, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid) AS rn
            FROM e, c
        ) WHERE rn = 1
    )
    SELECT a.vec_id, ROUND(list_dot_product(a.v, q.qv), 6) AS cosine
    FROM assign a, q
    WHERE a.cluster IN (SELECT cid FROM probe)
    ORDER BY cosine DESC, a.vec_id
    LIMIT 10
    """,
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate NN: 8 fixed centroids (vectors 0..7), nprobe=2.
    At scale the cluster assignment happens at write time and the
    table is partitioned by cluster → partition pruning does the probe."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = _leading_vectors(spark, sf_dir, 8)
    q = _query_vector(spark, sf_dir, 42)
    assigned = indexes.materialized(
        spark,
        f"ivf8:{sf_dir}",
        lambda: similarity.assign_clusters_np(emb, centroids),
    )
    out = similarity.ivf_topk(emb, centroids, q, k=10, nprobe=2, assigned=assigned)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


@register(
    "ann_ivf_filtered",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 42),
    probe AS (
        SELECT cid FROM c, q
        ORDER BY list_dot_product(cv, qv) DESC, cid
        LIMIT 3
    ),
    assign AS (
        SELECT vec_id, v, label, cid AS cluster FROM (
            SELECT e.vec_id, e.v, e.label, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid) AS rn
            FROM e, c
        ) WHERE rn = 1
    )
    SELECT a.vec_id, ROUND(list_dot_product(a.v, q.qv), 6) AS cosine
    FROM assign a, q
    WHERE a.cluster IN (SELECT cid FROM probe)
      AND a.label % 4 = 1
    ORDER BY cosine DESC, a.vec_id
    LIMIT 10
    """,
)
def ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search (Q1+P10 at index scale): the IVF probe
    with a metadata predicate (label % 4 = 1, ~25% selectivity)
    applied conjunctively with the cluster pruning — a PRE-filter, so
    the returned k are the best MATCHING vectors, and both conditions
    reach the scan as pushed predicates (at cluster scale: partition
    pruning on cluster + row-group pruning on the metadata column).
    nprobe raised 2→3, the standard recall knob under selective
    filters. Shares the ivf8 resident artifact with ann_ivf — one
    index serves filtered and unfiltered queries, exactly like the
    reference's ES filter+knn query (search_test_image.py:63 script
    score with filter context)."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = _leading_vectors(spark, sf_dir, 8)
    q = _query_vector(spark, sf_dir, 42)
    assigned = indexes.materialized(
        spark,
        f"ivf8:{sf_dir}",
        lambda: similarity.assign_clusters_np(emb, centroids),
    )
    out = similarity.ivf_topk(
        emb, centroids, q, k=10, nprobe=3, assigned=assigned,
        predicate=F.col("label") % 4 == 1,
    )
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


_PQ_CACHE: dict[tuple[str, int, int], list] = {}


def _pq_books(spark: SparkSession, sf_dir: str, m: int, k: int) -> list:
    key = (sf_dir.rstrip("/"), m, k)
    if key not in _PQ_CACHE:
        emb = _t(spark, sf_dir, "embeddings")
        _PQ_CACHE[key] = similarity.pq_train(emb, m=m, k=k, max_iter=5)
    return _PQ_CACHE[key]


@register("ann_pq")  # iterative codebook training — rows-only
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 32×16 codebooks trained on a bounded
    driver sample (similarity.pq_train), vectors encoded to 8-byte
    codes (8× smaller than the float32 vectors) as a write-time
    artifact, and the query served by a pure
    whole-stage-codegen ADC scan over the codes (literal lookup
    table, no Python, no join — similarity.pq_topk). Iterative
    training → rows-only; recall/compression invariants in
    tests/test_dedup.py."""
    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_books(spark, sf_dir, 32, 16)
    codes = indexes.materialized(
        spark,
        f"pq32x16:{sf_dir}",
        lambda: similarity.pq_encode(emb, books),
    )
    q = _query_vector(spark, sf_dir, 42)
    out = similarity.pq_topk(codes, books, q, k=10)
    return out.select("vec_id", F.round("score", 6).alias("score"))


def _duck_mat(rows) -> str:
    """Render a 2-D float matrix as a DuckDB nested-list literal.
    Only used for exact-grid values (repr round-trips them exactly on
    both sides)."""
    return (
        "["
        + ", ".join(
            "[" + ", ".join(repr(float(x)) for x in r) + "]" for r in rows
        )
        + "]"
    )


# Fixed-grid quantizers for the oracle-certifiable PQ twin — exact
# 1/16-grid doubles, data-independent so they can be inlined into the
# oracle SQL at import time (similarity.py "Portable PQ twin").
_PQ_PORT_BOOKS = similarity.portable_pq_codebooks(m=8, k=16, d=8)
_PQ_PORT_BOOKS_SQL = (
    "[" + ", ".join(_duck_mat(b) for b in _PQ_PORT_BOOKS) + "]"
)
_IVFPQ_PORT_CENTS = similarity.portable_coarse_centroids(nlist=8, dim=64)
_IVFPQ_PORT_CENTS_SQL = _duck_mat(_IVFPQ_PORT_CENTS)

# Shared oracle fragment: per-subspace max-dot code (1-based index into
# the LUT row) — list_indexof returns the FIRST maximum, matching
# Spark's array_position tie-break to the lowest centroid id.
_PQ_PORT_CODE_SQL = """list_indexof(
                   list_transform(range(16), c ->
                       list_dot_product({v}[s*8+1 : s*8+8], cb.B[s+1][c+1])),
                   list_max(list_transform(range(16), c ->
                       list_dot_product({v}[s*8+1 : s*8+8], cb.B[s+1][c+1]))))"""


@register(
    "ann_pq_portable",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    q AS (SELECT ev AS qv FROM e WHERE vec_id = 42),
    cb AS (SELECT {_PQ_PORT_BOOKS_SQL}::DOUBLE[][][] AS B),
    lut AS (
        SELECT list_transform(range(8), s ->
            list_transform(range(16), c ->
                list_dot_product(q.qv[s*8+1 : s*8+8], cb.B[s+1][c+1]))) AS L
        FROM q, cb
    ),
    scored AS (
        SELECT e.vec_id,
               ROUND(list_reduce(
                   list_prepend(0.0::DOUBLE, list_transform(range(8), s ->
                       lut.L[s+1][{_PQ_PORT_CODE_SQL.format(v="e.ev")}])),
                   (a, b) -> a + b), 6) AS score
        FROM e, cb, lut
    )
    SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id LIMIT 10
    """,
)
def ann_pq_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ/ADC serving layout, oracle-certified end-to-end — the
    portable-twin move that certified the LSH pipelines, applied to
    the last rows-only flagship: FIXED exact-grid codebooks replace
    the numpy-trained ones (fp-order-sensitive, never replayable), the
    encode is pure Catalyst max-dot argmax (pq_encode_catalyst), and
    the scan is the PRODUCTION pq_topk literal-LUT aggregate with the
    LUT accumulated left-to-right (pq_lut) so DuckDB replays every
    score bit-for-bit. Write-time artifact: the 8-byte code column
    (materialized once per sf_dir under the index cache, like the IVF
    assignment)."""
    emb = _t(spark, sf_dir, "embeddings")
    codes = indexes.materialized(
        spark,
        f"pq_port8x16:{sf_dir}",
        lambda: similarity.pq_encode_catalyst(emb, _PQ_PORT_BOOKS),
    )
    q = _query_vector(spark, sf_dir, 42)
    lut = similarity.pq_lut(_PQ_PORT_BOOKS, q)
    return similarity.pq_topk(
        codes, _PQ_PORT_BOOKS, q, k=10, lut=lut, round_to=6
    )


@register(
    "ann_ivfpq_portable",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    q AS (SELECT ev AS qv FROM e WHERE vec_id = 42),
    cb AS (SELECT {_PQ_PORT_BOOKS_SQL}::DOUBLE[][][] AS B),
    cc AS (SELECT {_IVFPQ_PORT_CENTS_SQL}::DOUBLE[][] AS C),
    lut AS (
        SELECT list_transform(range(8), s ->
            list_transform(range(16), c ->
                list_dot_product(q.qv[s*8+1 : s*8+8], cb.B[s+1][c+1]))) AS L
        FROM q, cb
    ),
    probe AS (
        SELECT t.c AS cid
        FROM (SELECT UNNEST(range(8)) AS c) t, q, cc
        ORDER BY list_dot_product(q.qv, cc.C[t.c + 1]) DESC, t.c
        LIMIT 2
    ),
    assign AS (
        SELECT e.vec_id, e.ev,
               list_indexof(
                   list_transform(range(8), c ->
                       list_dot_product(e.ev, cc.C[c+1])),
                   list_max(list_transform(range(8), c ->
                       list_dot_product(e.ev, cc.C[c+1])))) - 1 AS cluster
        FROM e, cc
    ),
    scored AS (
        SELECT a.vec_id,
               ROUND(list_reduce(
                   list_prepend(0.0::DOUBLE, list_transform(range(8), s ->
                       lut.L[s+1][{_PQ_PORT_CODE_SQL.format(v="a.ev")}])),
                   (x, y) -> x + y), 6) AS score
        FROM assign a, cb, lut
        WHERE a.cluster IN (SELECT cid FROM probe)
    )
    SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id LIMIT 10
    """,
)
def ann_ivfpq_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the standard billion-vector layout — oracle-certified:
    coarse max-dot assignment against fixed exact-grid centroids
    (assign_clusters, pure Catalyst), the Catalyst PQ encode carrying
    BOTH write-time columns (cluster + 8-byte code), nprobe=2 pruning
    via the shared probe_clusters rule, and the production ADC scan
    over only the probed clusters. At scale the table is written
    partitionBy(cluster) with code-only reads — the isin probe IS
    partition pruning."""
    emb = _t(spark, sf_dir, "embeddings")

    def _build() -> DataFrame:
        assigned = similarity.assign_clusters(emb, _IVFPQ_PORT_CENTS)
        return similarity.pq_encode_catalyst(
            assigned, _PQ_PORT_BOOKS, keep_cols=("cluster",)
        )

    coded = indexes.materialized(spark, f"ivfpq_port:{sf_dir}", _build)
    q = _query_vector(spark, sf_dir, 42)
    lut = similarity.pq_lut(_PQ_PORT_BOOKS, q)
    return similarity.ivfpq_topk(
        coded,
        _IVFPQ_PORT_CENTS,
        _PQ_PORT_BOOKS,
        q,
        k=10,
        nprobe=2,
        lut=lut,
        round_to=6,
    )


@register(
    "ann_brute_force",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 42)
    SELECT e.vec_id,
           ROUND(list_dot_product(e.embedding::DOUBLE[], q.v), 6) AS cosine
    FROM embeddings e, q
    ORDER BY cosine DESC, e.vec_id
    LIMIT 10
    """,
)
def ann_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k — the ANN correctness baseline."""
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 42)
    out = similarity.brute_force_topk(emb, q, k=10)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


# =====================================================================
# Dedup + text analysis (training-data suite; M6)
# =====================================================================


def _docs_with_dups(
    spark: SparkSession, sf_dir: str, wide: bool = False
) -> DataFrame:
    """documents ∪ exact copies (doc_id%5=0) ∪ near copies (doc_id%11=0,
    one token appended) — deterministic dup injection shared with the
    oracles.

    Emitted by ONE Generate over a single scan instead of a 3-branch
    union: the union form scanned the (cached) documents table three
    times per consumer execution — same multiset of rows, one
    columnar decode instead of three (r14, VERDICT item 5)."""
    docs = _t(spark, sf_dir, "documents", wide=wide).select("doc_id", "text")
    variants = F.array(
        F.struct(F.col("doc_id"), F.col("text")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.struct(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.col("text"),
            ),
        ),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.struct(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" extra")).alias("text"),
            ),
        ),
    )
    return (
        docs.select(F.explode(variants).alias("__d"))
        .filter(F.col("__d").isNotNull())
        .select("__d.doc_id", "__d.text")
    )


_DOCS_DUPS_CTE = """
    docs2 AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text || ' extra' AS text
        FROM documents WHERE doc_id % 11 = 0
    )
"""


@register(
    "dedup_exact",
    f"""
    WITH {_DOCS_DUPS_CTE}
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS group_size
    FROM docs2 GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via (length, rolling-hash fingerprint) grouping —
    the shuffle carries 16 bytes/row instead of the document text.
    The oracle groups by raw text: same answer absent hash collisions."""
    return dedup.exact_dedup(_docs_with_dups(spark, sf_dir))


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_DOCS_DUPS_CTE},
    toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(LOWER(text), '\\s+'),
                           t -> LENGTH(t) > 0) AS t
        FROM docs2
    ),
    sh AS (
        SELECT doc_id, UNNEST(list_distinct(
            CASE WHEN len(t) >= 3
                 THEN [array_to_string(t[i:i+2], ' ')
                       FOR i IN generate_series(1, len(t) - 2)]
                 ELSE [array_to_string(t, ' ')] END)) AS shingle
        FROM toks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.id_a, c.id_b,
           ROUND(c.common / (sa.n_shingles + sb.n_shingles - c.common), 6) AS jaccard
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    WHERE c.common / (sa.n_shingles + sb.n_shingles - c.common) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 3-gram Jaccard ≥ 0.5 — the SQL-exact near-dup
    path (shingle equi-join; scales with colliding pairs, not N²)."""
    out = dedup.ngram_jaccard_pairs(_docs_with_dups(spark, sf_dir, wide=True), n=3, threshold=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@register("dedup_minhash_lsh")  # xxhash64 signatures — rows-only check
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates verified by exact Jaccard — the
    100 TB dedup path (banded signatures, bucket join). Signature
    hashes (xxhash64) have no DuckDB twin → rows-only check; the
    *verified* pairs are asserted against the exact path in
    tests/test_dedup.py."""
    docs2 = _docs_with_dups(spark, sf_dir)
    banded = indexes.materialized(
        spark,
        f"minhash16x4x3:{sf_dir}",
        lambda: dedup.banded_signatures(docs2, n=3, num_hashes=16, bands=4),
    )
    out = dedup.minhash_lsh_pairs(
        docs2, n=3, num_hashes=16, bands=4, threshold=0.5, banded=banded,
        broadcast_buckets=_docs_small(sf_dir),
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@register("dedup_simhash")  # xxhash64 signatures — rows-only check
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding: near-dup candidate buckets (band, key) with
    >1 member. Rows-only (xxhash64)."""
    buckets = dedup.simhash_buckets(_docs_with_dups(spark, sf_dir), band_bits=16)
    return (
        buckets.groupBy("band", "key")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


# Oracle SQL fragments for the portable-hash LSH pipeline. The hash
# constants are the SAME literals the Spark operators use
# (operators/dedup.py _PORT_*) — interpolated once at import so the
# two engines cannot drift.
_PORT_TOKS_CTE = """
    ptoks AS (
        SELECT doc_id, list_filter(string_split_regex(LOWER(text), '\\s+'),
                                   t -> LENGTH(t) > 0) AS t
        FROM docs2
    )
"""

_PORT_TH_CTE = f"""
    pth AS (
        SELECT doc_id, list_transform(t, tok ->
            list_reduce(
                list_prepend(0::BIGINT,
                    list_transform(generate_series(1, LENGTH(tok)),
                                   i -> ascii(tok[i])::BIGINT)),
                (acc, c) -> (acc * 31 + c) % {dedup._PORT_P})) AS th
        FROM ptoks WHERE len(t) > 0
    )
"""

_PORT_MINS = ",\n               ".join(
    f"list_min(list_transform(shh, h -> ({dedup._PORT_A[i]}::BIGINT * h "
    f"+ {dedup._PORT_C[i]}) % {dedup._PORT_P})) AS m{i}"
    for i in range(8)
)
_PORT_KEYS = ",\n               ".join(
    f"((m{2 * b} * {dedup._PORT_B} + m{2 * b + 1}) % {dedup._PORT_P}) AS k{b}"
    for b in range(4)
)
_PORT_BAND_ROWS = "\n        UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, k{b} AS key FROM pkeys" for b in range(4)
)


@register(
    "dedup_cluster_canonical",
    # Multi-statement oracle, deliberately: each propagation round is
    # MATERIALIZED into a temp table. The single-statement form
    # references l1 twice inside l2 and l2 twice inside l3; DuckDB
    # re-inlines those CTEs, so the 80M-row shingle-join pipeline is
    # re-derived multiplicatively per round — measured ~80 GB of temp
    # spill at the x10 scale corpus (each round individually computes
    # in seconds and yields <30k rows). Materializing per round bounds
    # the replay at one derivation of each stage — the exact per-round
    # shape the Spark side executes anyway.
    f"""
    CREATE OR REPLACE TEMP TABLE __dcc_edges AS
    WITH {_DOCS_DUPS_CTE},
    toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(LOWER(text), '\\s+'),
                           t -> LENGTH(t) > 0) AS t
        FROM docs2
    ),
    sh AS (
        SELECT doc_id, UNNEST(list_distinct(
            CASE WHEN len(t) >= 3
                 THEN [array_to_string(t[i:i+2], ' ')
                       FOR i IN generate_series(1, len(t) - 2)]
                 ELSE [array_to_string(t, ' ')] END)) AS shingle
        FROM toks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
        SELECT c.id_a, c.id_b FROM common c
        JOIN sizes sa ON sa.doc_id = c.id_a
        JOIN sizes sb ON sb.doc_id = c.id_b
        WHERE c.common / (sa.n_shingles + sb.n_shingles - c.common) >= 0.5
    )
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs;

    CREATE OR REPLACE TEMP TABLE __dcc_l1 AS
    SELECT src AS node, LEAST(src, MIN(dst)) AS label
    FROM __dcc_edges GROUP BY src;

    CREATE OR REPLACE TEMP TABLE __dcc_l2 AS
    SELECT l.node,
           LEAST(l.label, COALESCE(MIN(n.label), l.label)) AS label
    FROM __dcc_l1 l
    LEFT JOIN __dcc_edges e ON e.src = l.node
    LEFT JOIN __dcc_l1 n ON n.node = e.dst
    GROUP BY l.node, l.label;

    CREATE OR REPLACE TEMP TABLE __dcc_l3 AS
    SELECT l.node,
           LEAST(l.label, COALESCE(MIN(n.label), l.label)) AS label
    FROM __dcc_l2 l
    LEFT JOIN __dcc_edges e ON e.src = l.node
    LEFT JOIN __dcc_l2 n ON n.node = e.dst
    GROUP BY l.node, l.label;

    SELECT label AS canonical_id, COUNT(*) AS n_members,
           MAX(node) AS max_member_id
    FROM __dcc_l3 GROUP BY label
    """,
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → one canonical id per
    cluster (operators/dedup.py::label_propagation_canonical, 3 fixed
    min-label rounds): the keep-list step that makes pairwise dedup
    actionable. Edges are the exact n-gram-Jaccard pairs; the oracle
    unrolls the identical propagation rounds, so cluster membership is
    value-certified end-to-end."""
    docs2 = _docs_with_dups(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs2, n=3, threshold=0.5)
    lab = dedup.label_propagation_canonical(pairs, rounds=3)
    return lab.groupBy(F.col("canonical").alias("canonical_id")).agg(
        F.count("*").alias("n_members"),
        F.max("node").alias("max_member_id"),
    )


@register(
    "dedup_minhash_lsh_portable",
    f"""
    WITH {_DOCS_DUPS_CTE},
    {_PORT_TOKS_CTE},
    {_PORT_TH_CTE},
    pshh AS (
        SELECT doc_id,
               CASE WHEN len(th) >= 3
                    THEN [((th[i] * {dedup._PORT_B} + th[i+1]) % {dedup._PORT_P}
                           * {dedup._PORT_B} + th[i+2]) % {dedup._PORT_P}
                          FOR i IN generate_series(1, len(th) - 2)]
                    ELSE [list_reduce(list_prepend(0::BIGINT, th),
                                      (a, b) -> (a * {dedup._PORT_B} + b)
                                      % {dedup._PORT_P})]
               END AS shh
        FROM pth
    ),
    pmins AS (SELECT doc_id, {_PORT_MINS} FROM pshh),
    pkeys AS (SELECT doc_id, {_PORT_KEYS} FROM pmins),
    pbanded AS ({_PORT_BAND_ROWS}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pbanded a JOIN pbanded b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sh AS (
        SELECT doc_id, UNNEST(list_distinct(
            CASE WHEN len(t) >= 3
                 THEN [array_to_string(t[i:i+2], ' ')
                       FOR i IN generate_series(1, len(t) - 2)]
                 ELSE [array_to_string(t, ' ')] END)) AS shingle
        FROM ptoks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
    common AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS common
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b
    )
    SELECT c.id_a, c.id_b,
           ROUND(c.common / (sa.n_shingles + sb.n_shingles - c.common), 6) AS jaccard
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    WHERE c.common / (sa.n_shingles + sb.n_shingles - c.common) >= 0.5
    """,
)
def dedup_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with a PORTABLE polynomial hash
    family — the full LSH pipeline (shingle → 8 min-hashes → 4 banded
    keys → bucket self-join → exact-Jaccard verify) certified
    end-to-end by the DuckDB oracle, which replays the identical
    arithmetic (operators/dedup.py _PORT_* constants). Same plan
    shapes and shuffle structure as the xxhash production path
    (dedup_minhash_lsh); only the hash family differs."""
    docs2 = _docs_with_dups(spark, sf_dir, wide=True)
    banded = indexes.materialized(
        spark,
        f"minhash_portable8x4x3:{sf_dir}",
        lambda: dedup.portable_banded_signatures(docs2, n=3, num_hashes=8, bands=4),
    )
    out = dedup.minhash_lsh_pairs_portable(
        docs2, n=3, num_hashes=8, bands=4, threshold=0.5, banded=banded,
        broadcast_buckets=_docs_small(sf_dir),
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@register(
    "dedup_minhash_incremental",
    f"""
    WITH docs2 AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 3000000 AS doc_id, text || ' extra' AS text
        FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 7 = 1
    ),
    {_PORT_TOKS_CTE},
    {_PORT_TH_CTE},
    pshh AS (
        SELECT doc_id,
               CASE WHEN len(th) >= 3
                    THEN [((th[i] * {dedup._PORT_B} + th[i+1]) % {dedup._PORT_P}
                           * {dedup._PORT_B} + th[i+2]) % {dedup._PORT_P}
                          FOR i IN generate_series(1, len(th) - 2)]
                    ELSE [list_reduce(list_prepend(0::BIGINT, th),
                                      (a, b) -> (a * {dedup._PORT_B} + b)
                                      % {dedup._PORT_P})]
               END AS shh
        FROM pth
    ),
    pmins AS (SELECT doc_id, {_PORT_MINS} FROM pshh),
    pkeys AS (SELECT doc_id, {_PORT_KEYS} FROM pmins),
    pbanded AS ({_PORT_BAND_ROWS}),
    -- batch membership is a doc_id predicate: today's %10 slice plus
    -- the injected near-copies (ids offset by 3,000,000)
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pbanded a JOIN pbanded b
          ON a.band = b.band AND a.key = b.key
         AND NOT ((a.doc_id % 10 = 0 AND a.doc_id < 3000000)
                  OR a.doc_id >= 3000000)
         AND ((b.doc_id % 10 = 0 AND b.doc_id < 3000000)
              OR b.doc_id >= 3000000)
    ),
    sh AS (
        SELECT doc_id, UNNEST(list_distinct(
            CASE WHEN len(t) >= 3
                 THEN [array_to_string(t[i:i+2], ' ')
                       FOR i IN generate_series(1, len(t) - 2)]
                 ELSE [array_to_string(t, ' ')] END)) AS shingle
        FROM ptoks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
    common AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS common
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b
    ),
    verified AS (
        SELECT c.id_b,
               c.common / (sa.n_shingles + sb.n_shingles - c.common) AS jac
        FROM common c
        JOIN sizes sa ON sa.doc_id = c.id_a
        JOIN sizes sb ON sb.doc_id = c.id_b
        WHERE c.common / (sa.n_shingles + sb.n_shingles - c.common) >= 0.5
    ),
    agg AS (
        SELECT id_b, COUNT(*) AS n_matches, MAX(jac) AS best
        FROM verified GROUP BY id_b
    ),
    batchd AS (
        SELECT doc_id FROM docs2
        WHERE (doc_id % 10 = 0 AND doc_id < 3000000) OR doc_id >= 3000000
    )
    SELECT b.doc_id,
           COALESCE(a.n_matches, 0)::BIGINT AS n_matches,
           ROUND(COALESCE(a.best, 0), 6) AS best_jaccard,
           (a.id_b IS NULL) AS kept
    FROM batchd b LEFT JOIN agg a ON a.id_b = b.doc_id
    """,
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus NEAR-dup dedup — the daily-ingest decision
    table (operators/dedup.py::minhash_incremental_pairs with the
    portable hash family): the accumulated corpus is documents with
    doc_id %10 != 0 (its banded index resident, the write-time
    artifact); the arriving batch is the %10 slice plus injected
    near-copies of corpus docs (' extra' appended, ids +3,000,000).
    Per batch document: how many corpus docs it near-collides with,
    the best verified jaccard, and the keep decision — the exact
    output an ingest gate consumes. The corpus NEVER self-joins and
    never shuffles (bands stream past the broadcast batch bands);
    the oracle replays every band key and jaccard bit-for-bit."""
    docs = _t(spark, sf_dir, "documents", wide=True).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    # the branches are disjoint (%10==0 vs %10!=0 ∧ %7==1), so one
    # when-chain projection + notNull filter emits the same multiset
    # from ONE scan (r14; the union form decoded the table twice)
    batch_v = F.when(
        F.col("doc_id") % 10 == 0,
        F.struct(F.col("doc_id"), F.col("text")),
    ).when(
        F.col("doc_id") % 7 == 1,
        F.struct(
            (F.col("doc_id") + 3000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra")).alias("text"),
        ),
    )
    batch = (
        docs.select(batch_v.alias("__b"))
        .filter(F.col("__b").isNotNull())
        .select("__b.doc_id", "__b.text")
    )
    corpus_banded = indexes.materialized(
        spark,
        f"minhash_inc_portable8x4x3:{sf_dir}",
        lambda: dedup.portable_banded_signatures(
            corpus, n=3, num_hashes=8, bands=4
        ),
    )
    pairs = dedup.minhash_incremental_pairs(
        batch, corpus, n=3, num_hashes=8, bands=4, threshold=0.5,
        corpus_banded=corpus_banded, portable=True,
    )
    agg = pairs.groupBy("id_b").agg(
        F.count("*").alias("n_matches"), F.max("jaccard").alias("best")
    )
    return (
        batch.select("doc_id")
        .join(agg, batch["doc_id"] == agg["id_b"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_matches"), F.lit(0)).cast("long").alias("n_matches"),
            F.round(F.coalesce(F.col("best"), F.lit(0.0)), 6).alias("best_jaccard"),
            F.col("id_b").isNull().alias("kept"),
        )
    )


@register(
    "dedup_simhash_portable",
    f"""
    WITH {_DOCS_DUPS_CTE},
    tok AS (
        SELECT doc_id, UNNEST(list_filter(
            string_split_regex(LOWER(text), '\\s+'),
            t -> LENGTH(t) > 0)) AS t
        FROM docs2
    ),
    h AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(0::BIGINT,
                       list_transform(generate_series(1, LENGTH(t)),
                                      i -> ascii(t[i])::BIGINT)),
                   (acc, c) -> (acc * 31 + c) % {dedup._PORT_P}) AS h
        FROM tok
    ),
    votes AS (
        SELECT doc_id, j,
               SUM(CASE WHEN (h >> j::INTEGER) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT UNNEST(generate_series(0, 29)) AS j) bits
        GROUP BY doc_id, j
    ),
    sig AS (
        SELECT doc_id,
               SUM(CASE WHEN v > 0 THEN (1::BIGINT << j::INTEGER)
                        ELSE 0 END)::BIGINT AS simhash
        FROM votes GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, b AS band,
               ((simhash >> (15 * b)::INTEGER) & 32767)::BIGINT AS key
        FROM sig CROSS JOIN (SELECT UNNEST([0, 1]) AS b) bands
    )
    SELECT band, key, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
    FROM banded GROUP BY band, key HAVING COUNT(*) > 1
    """,
)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable 30-bit SimHash banding (two 15-bit bands) — the
    oracle-certifiable twin of dedup_simhash: the polynomial token
    hash is replayed exactly by DuckDB, certifying the vote-aggregate
    → signature → band → bucket pipeline end-to-end. The banded
    signature frame is a write-time artifact (kept resident in serving
    sessions, like the MinHash band index)."""
    docs2 = _docs_with_dups(spark, sf_dir)
    buckets = indexes.materialized(
        spark,
        f"simhash_portable30x15:{sf_dir}",
        lambda: dedup.simhash_buckets_portable(docs2, bits=30, band_bits=15),
    )
    return (
        buckets.groupBy("band", "key")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def _image_phash_sql(
    rows: int = 8, cols: int = 9, n_bands: int = 4, max_distance: int = 6
) -> str:
    """Generated DuckDB twin of dedup_image_phash: replays the stub
    decode (stride-37 byte samples — ascii(substr) == byte on the
    ASCII corpora), the dHash band assembly, the banded candidate
    join, and the Hamming verify, bit for bit."""
    n_px = rows * cols
    px_cols = ",\n               ".join(
        f"ascii(substr(text, (({k} * 37) % strlen(text)) + 1, 1)) AS p{k}"
        for k in range(n_px)
    )
    per_band = rows * (cols - 1) // n_bands
    band_exprs = []
    for b in range(n_bands):
        terms = []
        for j in range(per_band):
            g = b * per_band + j
            r, c = divmod(g, cols - 1)
            terms.append(
                f"CASE WHEN p{r * cols + c + 1} > p{r * cols + c} "
                f"THEN {1 << j} ELSE 0 END"
            )
        band_exprs.append(" + ".join(terms) + f" AS band{b}")
    bands_sql = ",\n               ".join(band_exprs)
    banded_union = "\n        UNION ALL ".join(
        f"SELECT filename, {b} AS band, band{b} AS key FROM h"
        for b in range(n_bands)
    )
    ham = " + ".join(
        f"bit_count(xor(ha.band{b}::BIGINT, hb.band{b}::BIGINT))"
        for b in range(n_bands)
    )
    return f"""
    WITH imgs AS (
        SELECT 'img_' || CAST(doc_id AS VARCHAR) AS filename, text
        FROM documents
        UNION ALL
        SELECT 'img_' || CAST(doc_id + 1000000 AS VARCHAR), text
        FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT 'img_' || CAST(doc_id + 3000000 AS VARCHAR),
               CASE WHEN strlen(text) >= 5
                    THEN substr(text, 1, strlen(text) - 5) || 'XXXXX'
                    ELSE text END
        FROM documents WHERE doc_id % 7 = 0
    ),
    px AS (
        SELECT filename,
               {px_cols}
        FROM imgs
    ),
    h AS (
        SELECT filename,
               {bands_sql}
        FROM px
    ),
    banded AS (
        {banded_union}
    ),
    cand AS (
        SELECT DISTINCT a.filename AS file_a, b.filename AS file_b
        FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
        WHERE a.filename < b.filename
    )
    SELECT file_a, file_b, hamming FROM (
        SELECT c.file_a, c.file_b, ({ham})::INT AS hamming
        FROM cand c
        JOIN h ha ON ha.filename = c.file_a
        JOIN h hb ON hb.filename = c.file_b
    ) WHERE hamming <= {max_distance}
    """


@register("dedup_image_phash", _image_phash_sql())
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup (operators/dedup.py::image_phash_pairs
    + operators/multimodal.py::decode_image_pixels_stub) — the
    multimodal analogue of the MinHash/SimHash text family, closing
    the image-dedup gap (text had four dedup families; images only
    exact bytes). Images are the usual binary-column simulation
    (content = utf-8 bytes of the document text; the decode kernel is
    the clearly-marked stub a real grayscale-resize replaces), with
    planted duplicates: exact byte copies (doc_id%5, Hamming 0 —
    banding is COMPLETE below n_bands so these are guaranteed found)
    and same-length tail edits (doc_id%7, last 5 bytes overwritten —
    few stride samples move, landing within the Hamming budget).
    Pipeline: mapInPandas stub decode → pure-Catalyst dHash as 4
    unsigned 16-bit bands → banded self-join (exact band equality =
    Hamming-ball blocking, O(n·bands) shuffle, never all-pairs) →
    exact per-band popcount verify ≤ 6."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fname = lambda c: F.concat(F.lit("img_"), c.cast("string"))  # noqa: E731
    t = F.col("text")
    edited = F.when(
        F.length(t) >= 5,
        F.concat(t.substr(F.lit(1), F.length(t) - 5), F.lit("XXXXX")),
    ).otherwise(t)
    # one Generate over one scan instead of a 3-branch union (same
    # multiset; see _docs_with_dups)
    img_variants = F.array(
        F.struct(fname(F.col("doc_id")).alias("filename"), t.alias("__t")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.struct(
                fname(F.col("doc_id") + 1000000).alias("filename"),
                t.alias("__t"),
            ),
        ),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.struct(
                fname(F.col("doc_id") + 3000000).alias("filename"),
                edited.alias("__t"),
            ),
        ),
    )
    imgs = (
        docs.select(F.explode(img_variants).alias("__v"))
        .filter(F.col("__v").isNotNull())
        .select(
            "__v.filename", F.encode(F.col("__v.__t"), "utf-8").alias("content")
        )
    )
    return dedup.image_phash_pairs(
        imgs, max_distance=6, broadcast_buckets=True
    )


@register(
    "text_redact_pii",
    """
    WITH inj AS (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                              || '@mail.example.com now'
                    WHEN doc_id % 4 = 1
                    THEN text || ' call +90 555 0199 today'
                    WHEN doc_id % 4 = 2
                    THEN text || ' from 192.168.1.50 addr'
                    ELSE text END AS text
        FROM documents
    ),
    redacted AS (
        SELECT doc_id,
               len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}'))::INT
                   AS n_email,
               len(regexp_extract_all(text,
                   '[+][0-9]{1,3}[- ][0-9]{3}[- ][0-9]{4}'))::INT AS n_phone,
               len(regexp_extract_all(text,
                   '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}'))::INT
                   AS n_ipv4,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                       '[+][0-9]{1,3}[- ][0-9]{3}[- ][0-9]{4}', '<PHONE>', 'g'),
                   '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}',
                   '<IP>', 'g') AS clean
        FROM inj
    )
    SELECT doc_id, n_email, n_phone, n_ipv4,
           list_reduce(
               list_prepend(0::BIGINT,
                   list_transform(generate_series(1, LENGTH(clean)),
                                  i -> ascii(clean[i])::BIGINT)),
               (acc, c) -> (acc * 31 + c) % 1000000007) AS clean_fp
    FROM redacted
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (training-data suite): e-mail / phone / IPv4 →
    typed placeholders (functions/text.py::redact_pii), with per-class
    audit counters and a portable fingerprint of the REDACTED text so
    the oracle certifies the scrubbed content, not just the counts.
    PII literals are injected deterministically (the synthetic corpus
    has none)."""
    docs = _t(spark, sf_dir, "documents", wide=True)
    inj = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com now"),
            ),
        )
        .when(F.col("doc_id") % 4 == 1, F.concat(F.col("text"), F.lit(" call +90 555 0199 today")))
        .when(F.col("doc_id") % 4 == 2, F.concat(F.col("text"), F.lit(" from 192.168.1.50 addr")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    counts = X.pii_counts(F.col("text"))
    return inj.select(
        "doc_id",
        *counts,
        X.rolling_hash_fingerprint(X.redact_pii(F.col("text"))).alias("clean_fp"),
    )


@register(
    "text_contamination",
    """
    WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
    corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
        UNION ALL
        SELECT doc_id + 3000000 AS doc_id, 'intro words ' || text AS text
        FROM bench
    ),
    c_sh AS (
        SELECT doc_id, UNNEST(list_distinct(
            CASE WHEN len(t) >= 8
                 THEN [array_to_string(t[i:i+7], ' ')
                       FOR i IN generate_series(1, len(t) - 7)]
                 ELSE [array_to_string(t, ' ')] END)) AS shingle
        FROM (
            SELECT doc_id,
                   list_filter(string_split_regex(LOWER(text), '\\s+'),
                               x -> LENGTH(x) > 0) AS t
            FROM corpus
        )
    ),
    b_sh AS (
        SELECT DISTINCT UNNEST(list_distinct(
            CASE WHEN len(t) >= 8
                 THEN [array_to_string(t[i:i+7], ' ')
                       FOR i IN generate_series(1, len(t) - 7)]
                 ELSE [array_to_string(t, ' ')] END)) AS shingle
        FROM (
            SELECT list_filter(string_split_regex(LOWER(text), '\\s+'),
                               x -> LENGTH(x) > 0) AS t
            FROM bench
        )
    )
    SELECT c.doc_id, COUNT(*) AS n_shared
    FROM c_sh c JOIN b_sh b ON b.shingle = c.shingle
    GROUP BY c.doc_id
    """,
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (training-data suite): corpus docs
    sharing any distinct 8-gram with the held-out benchmark subset
    (doc_id % 97 == 0) are flagged with their shared-shingle count
    (operators/dedup.py::contamination_flags — broadcast benchmark
    shingles, one corpus pass). Contaminated twins of each benchmark
    doc are injected so the check has guaranteed positives. The
    benchmark's shingle set is a resident fingerprint index (r12 —
    eval suites change ~never; their fingerprints are computed at
    registration, the write-time split), so the per-query broadcast
    collects from the persisted copy instead of re-scanning the
    benchmark."""
    docs = _t(spark, sf_dir, "documents", wide=True)
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    # the two union branches partition the table on doc_id%97, so ONE
    # projection emits exactly the same multiset from one scan (r14;
    # the union form decoded the cached table twice)
    is_bench = F.col("doc_id") % 97 == 0
    corpus = docs.select(
        F.when(is_bench, F.col("doc_id") + 3000000)
        .otherwise(F.col("doc_id"))
        .alias("doc_id"),
        F.when(is_bench, F.concat(F.lit("intro words "), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    bench_fp = indexes.materialized(
        spark,
        f"bench_shingles8:{sf_dir}",
        lambda: dedup.benchmark_shingles(bench, n=8),
    )
    return dedup.contamination_flags(
        corpus, n=8, benchmark_shingles_df=bench_fp
    )


@register(
    "text_gopher_rules",
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(LOWER(text), '\\s+'),
                           t -> LENGTH(t) > 0) AS t
        FROM documents
    ),
    feats AS (
        SELECT doc_id,
               len(t)::BIGINT AS n_words,
               CASE WHEN len(t) > 0
                    THEN list_reduce(
                             list_prepend(0::BIGINT,
                                 list_transform(t, x -> LENGTH(x)::BIGINT)),
                             (a, b) -> a + b) / CAST(len(t) AS DOUBLE)
                    ELSE 0.0 END AS mean_word_len,
               CASE WHEN len(t) > 0
                    THEN 1.0 - len(list_distinct(t)) / CAST(len(t) AS DOUBLE)
                    ELSE 0.0 END AS dup_word_frac
        FROM toks
    ),
    bigrams AS (
        SELECT doc_id, UNNEST(
            [array_to_string(t[i:i+1], ' ')
             FOR i IN generate_series(1, len(t) - 1)]) AS bg
        FROM toks
    ),
    bg_counts AS (
        SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY doc_id, bg
    ),
    bg_frac AS (
        SELECT doc_id, MAX(c) / CAST(SUM(c) AS DOUBLE) AS top_bigram_frac
        FROM bg_counts GROUP BY doc_id
    )
    SELECT f.doc_id, f.n_words,
           ROUND(f.mean_word_len, 6) AS mean_word_len,
           ROUND(f.dup_word_frac, 6) AS dup_word_frac,
           ROUND(COALESCE(b.top_bigram_frac, 0.0), 6) AS top_bigram_frac,
           (f.n_words >= 50 AND f.n_words <= 100000
            AND f.mean_word_len >= 3.0 AND f.mean_word_len <= 10.0
            AND f.dup_word_frac < 0.5
            AND COALESCE(b.top_bigram_frac, 0.0) < 0.2) AS keep
    FROM feats f LEFT JOIN bg_frac b ON b.doc_id = f.doc_id
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality rules (the published corpus
    filters: word-count bounds, mean-word-length window, duplicate-
    word fraction, top-bigram fraction) with a composite keep flag.
    The thresholds are the published shapes; the arithmetic is
    bit-identical in both engines so even the unrounded comparisons
    agree. Per-doc features are one scan; the bigram mode is one
    explode + two aggregations on the same doc_id partitioning."""
    docs = _t(spark, sf_dir, "documents", wide=True)
    # tokenize ONCE: embedding X.tokens in each feature column (and 5×
    # inside the shingle zip_with) re-splits the text per reference —
    # measured 2× slower on the x10 corpus (same finding as
    # bm25_topk's tokenize-once refactor)
    tok_df = docs.select("doc_id", X.tokens(F.col("text")).alias("__t"))
    # top_bigram_frac WITHOUT the explode → (doc,bg) shuffle → (doc)
    # shuffle → join-back (r12 plan change; the join-back planned as a
    # corpus-sized broadcast build — wrong at every scale): a doc's
    # max bigram count is the longest equal-run of its SORTED bigram
    # array, so the whole feature is one per-row O(k log k) Catalyst
    # expression and the query becomes a single map-only pass — zero
    # exchanges, zero joins, embarrassingly parallel at 100 TB. Values
    # identical: max run in the sorted multiset IS max(count) and the
    # denominator is the bigram total (= n_words − 1).
    bigrams_arr = F.expr(X.word_shingles_sql("__t", 2, distinct=False))
    run0 = F.lit(0).cast("long")
    best_run = F.aggregate(
        F.array_sort(bigrams_arr),
        F.struct(
            F.lit("").alias("prev"),
            run0.alias("run"),
            run0.alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    joined = tok_df.select(
        "doc_id",
        F.size("__t").cast("long").alias("n_words"),
        X.mean_word_length(F.col("__t")).alias("__mwl"),
        X.dup_word_fraction(F.col("__t")).alias("__dwf"),
        F.when(
            F.size("__t") >= 2,
            best_run / (F.size("__t") - 1).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("__tbf0"),
    )
    keep = (
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100000)
        & (F.col("__mwl") >= 3.0)
        & (F.col("__mwl") <= 10.0)
        & (F.col("__dwf") < 0.5)
        & (F.col("__tbf0") < 0.2)
    )
    return joined.select(
        "doc_id",
        "n_words",
        F.round("__mwl", 6).alias("mean_word_len"),
        F.round("__dwf", 6).alias("dup_word_frac"),
        F.round("__tbf0", 6).alias("top_bigram_frac"),
        keep.alias("keep"),
    )


@register(
    "etl_hash_split",
    """
    WITH s AS (
        SELECT doc_id, n_chars,
               list_reduce(
                   list_prepend(0::BIGINT,
                       list_transform(generate_series(1, LENGTH(text)),
                                      i -> ascii(text[i])::BIGINT)),
                   (acc, c) -> (acc * 31 + c) % 1000000007) % 100 AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           SUM(n_chars)::BIGINT AS total_chars
    FROM s GROUP BY split
    """,
)
def etl_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val/test split (90/5/5) —
    leakage-safe (identical text → identical split) and portable (the
    bucket is the rolling-hash fingerprint mod 100, replayed by the
    oracle). A seeded random split would neither survive re-ingest
    nor be verifiable across engines."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(X.hash_split(F.col("text")).alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register(
    "dedup_keep_best_per_source",
    """
    WITH toks AS (
        SELECT doc_id, source, text,
               list_filter(string_split_regex(LOWER(text), '\\s+'),
                           t -> LENGTH(t) > 0) AS t
        FROM documents
    ),
    feats AS (
        SELECT doc_id, source,
               (LEAST(LENGTH(text) / 200.0, 1.0)
                + CASE WHEN LENGTH(text) > 0
                       THEN LENGTH(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
                            / CAST(LENGTH(text) AS DOUBLE)
                       ELSE 0.0 END
                + LEAST(CASE WHEN len(t) > 0
                             THEN len(list_filter(t, x -> list_contains(
                                 ['the','a','an','and','of','to','in','is','it','that'], x)))
                                  / CAST(len(t) AS DOUBLE)
                             ELSE 0.0 END * 10.0, 1.0)) / 3.0 AS q
        FROM toks
    ),
    ranked AS (
        SELECT source, doc_id, q,
               COUNT(*) OVER (PARTITION BY source) AS n_docs,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY q DESC, doc_id) AS rn
        FROM feats
    )
    SELECT source, doc_id AS best_doc_id, ROUND(q, 6) AS quality,
           n_docs::BIGINT AS n_docs
    FROM ranked WHERE rn = 1
    """,
)
def dedup_keep_best_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best-per-source dedup policy (training-data suite): one
    document per source, chosen by the composite quality score
    (functions/text.py::quality_score, identical arithmetic both
    engines so the unrounded ORDER BY agrees bit-for-bit), doc_id
    tie-break. One window over one (source)-partitioned exchange
    carries both the ranking and the group count."""
    docs = _t(spark, sf_dir, "documents", wide=True)
    q = X.quality_score(F.col("text"))
    w = Window.partitionBy("source")
    wr = Window.partitionBy("source").orderBy(F.desc("__q"), F.col("doc_id"))
    return (
        docs.select("source", "doc_id", q.alias("__q"))
        .withColumn("n_docs", F.count("*").over(w))
        .withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") == 1)
        .select(
            "source",
            F.col("doc_id").alias("best_doc_id"),
            F.round("__q", 6).alias("quality"),
            "n_docs",
        )
    )


@register(
    "text_quality",
    """
    WITH toks AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(LOWER(text), '\\s+'),
                           t -> LENGTH(t) > 0) AS t
        FROM documents
    ),
    feats AS (
        SELECT doc_id,
               len(t)::BIGINT AS n_tokens,
               CASE WHEN len(t) > 0
                    THEN len(list_filter(t, x -> list_contains(
                        ['the','a','an','and','of','to','in','is','it','that'], x)))
                         / CAST(len(t) AS DOUBLE)
                    ELSE 0.0 END AS stop_ratio,
               CASE WHEN LENGTH(text) > 0
                    THEN LENGTH(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
                         / CAST(LENGTH(text) AS DOUBLE)
                    ELSE 0.0 END AS alpha_ratio,
               LEAST(LENGTH(text) / 200.0, 1.0) AS length_sig
        FROM toks
    )
    SELECT doc_id, n_tokens,
           ROUND(stop_ratio, 6) AS stop_ratio,
           ROUND(alpha_ratio, 6) AS alpha_ratio,
           ROUND((length_sig + alpha_ratio + LEAST(stop_ratio * 10.0, 1.0)) / 3.0, 6)
               AS quality
    FROM feats
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring per document: token count, stopword ratio,
    alpha ratio, composite quality in 0..1 (training-data suite).

    One Arrow kernel computes all four features per text
    (X.quality_features_udf) — the pure-Catalyst forms in
    functions/text.py are the semantic reference but tokenize each
    document up to three times."""
    docs = _t(spark, sf_dir, "documents")
    f = X.quality_features_udf("text")
    return docs.select("doc_id", f.alias("__f")).select(
        "doc_id",
        F.col("__f.n_tokens").alias("n_tokens"),
        F.round("__f.stop_ratio", 6).alias("stop_ratio"),
        F.round("__f.alpha_ratio", 6).alias("alpha_ratio"),
        F.round("__f.quality", 6).alias("quality"),
    )


@register(
    "text_lang_id",
    """
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(LOWER(text), '\\s+'),
                           t -> LENGTH(t) > 0) AS t
        FROM documents
    ),
    hits AS (
        SELECT doc_id, lang,
               len(list_filter(t, x -> list_contains(['the','a','and','of','is'], x))) AS h_en,
               len(list_filter(t, x -> list_contains(['der','die','das','und','ist'], x))) AS h_de,
               len(list_filter(t, x -> list_contains(['le','la','les','et','est'], x))) AS h_fr,
               len(list_filter(t, x -> list_contains(['el','la','los','y','es'], x))) AS h_es
        FROM toks
    ),
    pred AS (
        SELECT doc_id, lang,
               CASE WHEN GREATEST(h_en, h_de, h_es, h_fr) = 0 THEN 'und'
                    WHEN h_de = GREATEST(h_en, h_de, h_es, h_fr) THEN 'de'
                    WHEN h_en = GREATEST(h_en, h_de, h_es, h_fr) THEN 'en'
                    WHEN h_es = GREATEST(h_en, h_de, h_es, h_fr) THEN 'es'
                    ELSE 'fr' END AS predicted
        FROM hits
    )
    SELECT lang, predicted, COUNT(*) AS n FROM pred GROUP BY lang, predicted
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (marker-word argmax, alphabetical
    tie-break) vs the labeled lang column — confusion-matrix counts.

    Unrolled from the bare ``X.lang_id`` expression (r13, values
    identical — same argmax/tie-break semantics, the oracle's own CTE
    structure): the single-expression form embedded each language's
    hit-count tree (which embeds the tokenization) in the GREATEST and
    in every WHEN arm — ~24 full re-tokenizations per row at 4
    languages. Here tokens and the 4 hit counts materialize once per
    row as named columns; the argmax chain reads cheap column refs."""
    docs = _t(spark, sf_dir, "documents")
    langs = sorted(X.LANG_MARKERS)

    def _hits(ws):
        # single-arg lambda on purpose (see X.lang_id): a default-arg
        # capture would be mis-read as an (element, index) lambda
        return F.size(F.filter(F.col("__t"), lambda x: x.isin(*list(ws))))

    hits = docs.select(
        "lang", X.tokens(F.col("text")).alias("__t")
    ).select(
        "lang",
        *[
            _hits(X.LANG_MARKERS[lang]).alias(f"__h_{lang}")
            for lang in langs
        ],
    )
    best = F.greatest(*[F.col(f"__h_{lang}") for lang in langs])
    out = F.lit("und")
    for lang in reversed(langs):  # earlier alphabetical wins on tie
        out = F.when(
            (F.col(f"__h_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(out)
    return (
        hits.select("lang", out.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


@register(
    "text_token_count",
    """
    SELECT doc_id,
           len(list_filter(string_split_regex(LOWER(text), '\\s+'),
                           t -> LENGTH(t) > 0)) AS n_tokens,
           len(list_distinct(list_filter(string_split_regex(LOWER(text), '\\s+'),
                           t -> LENGTH(t) > 0))) AS n_distinct,
           n_chars
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + distinct vocabulary size."""
    docs = _t(spark, sf_dir, "documents")
    # tokenize once into a column (r13 — the inline form re-split the
    # text for each of the two derived counts; values identical)
    return docs.select(
        "doc_id", "n_chars", X.tokens(F.col("text")).alias("__t")
    ).select(
        "doc_id",
        F.size("__t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("__t")).cast("long").alias("n_distinct"),
        "n_chars",
    )


@register(
    "text_fingerprint",
    """
    SELECT doc_id,
           list_reduce(
               list_prepend(0::BIGINT,
                   list_transform(generate_series(1, LENGTH(text)),
                                  i -> ascii(text[i])::BIGINT)),
               (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash fingerprint (h = h·31 + cp mod 1e9+7) —
    portable across engines, unlike murmur/xxhash."""
    docs = _t(spark, sf_dir, "documents", wide=True)
    return docs.select(
        "doc_id", X.rolling_hash_fingerprint(F.col("text")).alias("fingerprint")
    )


# =====================================================================
# Embedding near-dup + LSH ANN (training-data suite; M6)
# =====================================================================


@register(
    "dedup_embedding_cosine",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    inj AS (SELECT vec_id + 1000000 AS vec_id, v FROM base WHERE vec_id % 10 = 0),
    allv AS (SELECT * FROM base UNION ALL SELECT * FROM inj),
    c AS (SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < 16),
    assign AS (
        SELECT vec_id, v, cid AS cluster FROM (
            SELECT a.vec_id, a.v, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_dot_product(a.v, c.cv) DESC, c.cid) AS rn
            FROM allv a, c
        ) WHERE rn = 1
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.v, b.v), 6) AS cosine
    FROM assign a JOIN assign b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) >= 0.99
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs with IVF-cluster blocking
    (operators/similarity.py::cosine_self_join_pairs): only vectors in
    the same coarse cluster are compared, so the O(N²) self-join
    becomes per-cluster joins co-partitioned on the cluster key.
    Exact duplicates are injected (vec_id%10==0 copies) to guarantee
    hits at the 0.99 threshold."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    inj = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    allv = emb.unionByName(inj)
    centroids = _leading_vectors(spark, sf_dir, 16)
    assigned = indexes.materialized(
        spark,
        f"cosdedup16:{sf_dir}",
        lambda: similarity.assign_clusters_np(allv, centroids),
    )
    out = similarity.cosine_self_join_pairs(
        allv, centroids, threshold=0.99, assigned=assigned
    )
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


@register(
    "dedup_cosine_incremental",
    """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < 16),
    corpus AS (SELECT vec_id, v FROM base WHERE vec_id % 2 = 0),
    batch AS (
        SELECT vec_id, v FROM base WHERE vec_id % 2 = 1
        UNION ALL
        SELECT vec_id + 1000000, v FROM base WHERE vec_id % 10 = 0
    ),
    ac AS (
        SELECT vec_id, v, cid AS cluster FROM (
            SELECT a.vec_id, a.v, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_dot_product(a.v, c.cv) DESC, c.cid) AS rn
            FROM corpus a, c
        ) WHERE rn = 1
    ),
    ab AS (
        SELECT vec_id, v, cid AS cluster FROM (
            SELECT a.vec_id, a.v, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_dot_product(a.v, c.cv) DESC, c.cid) AS rn
            FROM batch a, c
        ) WHERE rn = 1
    )
    SELECT b.vec_id,
           SUM(CASE WHEN list_dot_product(b.v, r.v) >= 0.99
                    THEN 1 ELSE 0 END)::BIGINT AS n_matches,
           ROUND(MAX(list_dot_product(b.v, r.v)), 6) AS best_cosine,
           SUM(CASE WHEN list_dot_product(b.v, r.v) >= 0.99
                    THEN 1 ELSE 0 END) = 0 AS keep
    FROM ab b LEFT JOIN ac r ON b.cluster = r.cluster
    GROUP BY b.vec_id
    """,
)
def dedup_cosine_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus embedding near-dup gate (operators/similarity.py
    ::incremental_cosine_filter) — the daily-ingest decision table at
    the vector layer, completing the incremental trio (exact
    fingerprints, MinHash bands, now cosine): resident corpus = even
    vec_ids, arriving batch = odd vec_ids ∪ exact copies of the
    %10==0 residents (guaranteed hits at the 0.99 threshold). Both
    sides coarse-assign against the frozen leading-16 centroids; each
    cluster scores with ONE cogrouped Arrow matmul (arrivals ×
    residents) — the corpus is never self-joined and only the batch
    moves. Emits (vec_id, n_matches, best_cosine, keep) per arrival;
    best_cosine is NULL for arrivals landing in resident-empty
    clusters (the nullable-dtype Arrow path, pinned by the oracle's
    MAX-over-no-rows NULL)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    # disjoint branches (%2==1 vs %10==0 ⊂ even): one when-chain
    # projection replaces the 2-scan union (r14; same multiset)
    batch_v = F.when(
        F.col("vec_id") % 2 == 1,
        F.struct(F.col("vec_id"), F.col("embedding")),
    ).when(
        F.col("vec_id") % 10 == 0,
        F.struct(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.col("embedding"),
        ),
    )
    batch = (
        emb.select(batch_v.alias("__b"))
        .filter(F.col("__b").isNotNull())
        .select("__b.vec_id", "__b.embedding")
    )
    centroids = _leading_vectors(spark, sf_dir, 16)
    # the resident side's assignment is a WRITE-TIME artifact (the
    # partitionBy(cluster) serving layout ann_ingest maintains) —
    # session-resident in the bench/serving path, rebuilt from scratch
    # in correctness runs (cache off)
    corpus_assigned = indexes.materialized(
        spark,
        f"cosine_corpus16:{sf_dir}",
        lambda: similarity.assign_clusters_np(corpus, centroids),
    )
    out = similarity.incremental_cosine_filter(
        batch, None, centroids, threshold=0.99,
        corpus_assigned=corpus_assigned,
    )
    return out.select(
        "vec_id", "n_matches",
        F.round("best_cosine", 6).alias("best_cosine"), "keep",
    )


@register(
    "ann_lsh",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    h AS (SELECT vec_id AS hid, v AS hv FROM e WHERE vec_id < 8),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 42),
    b AS (
        SELECT e.vec_id,
               SUM(CASE WHEN list_dot_product(e.v, h.hv) > 0
                        THEN 1 << hid ELSE 0 END)::INT AS bucket
        FROM e, h GROUP BY e.vec_id
    ),
    qb AS (
        SELECT SUM(CASE WHEN list_dot_product(q.qv, h.hv) > 0
                        THEN 1 << hid ELSE 0 END)::INT AS bucket
        FROM q, h
    )
    SELECT e.vec_id, ROUND(list_dot_product(e.v, q.qv), 6) AS cosine
    FROM e JOIN b ON b.vec_id = e.vec_id, q, qb
    WHERE bit_count(xor(b.bucket, qb.bucket)) <= 1
    ORDER BY cosine DESC, e.vec_id
    LIMIT 10
    """,
)
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN with multi-probe (hamming ≤ 1):
    8 sign-bits → 256 buckets; only vectors in the query's bucket or a
    1-bit neighbor are scored. At scale the bucket is a write-time
    partition column → partition pruning does the probe."""
    emb = _t(spark, sf_dir, "embeddings")
    hyperplanes = _leading_vectors(spark, sf_dir, 8)
    q = _query_vector(spark, sf_dir, 42)
    bucketed = indexes.materialized(
        spark,
        f"lsh8:{sf_dir}",
        lambda: emb.withColumn(
            "bucket", similarity.hyperplane_bucket_np("embedding", hyperplanes)
        ),
    )
    out = similarity.lsh_topk(emb, hyperplanes, q, k=10, hamming=1, bucketed=bucketed)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


# =====================================================================
# Temporal operators: as-of join + sessionization (M6)
# =====================================================================


@register(
    "asof_join_clicks",
    """
    WITH errors AS (
        SELECT user_id, ts FROM events WHERE event_type = 'error'
    ),
    clicks AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    ),
    j AS (
        SELECT e.user_id, e.ts AS ets, c.ts AS cts
        FROM errors e
        ASOF LEFT JOIN clicks c
          ON e.user_id = c.user_id AND e.ts >= c.ts
    )
    SELECT user_id,
           COUNT(*) AS n_errors,
           COUNT(cts) AS n_matched,
           (CASE WHEN COUNT(cts) = 0 THEN NULL
                 ELSE (2 * SUM(epoch_us(ets) - epoch_us(cts)) + COUNT(cts))
                      // (2 * COUNT(cts)) END)::DOUBLE / 1000000.0
               AS avg_lag_s
    FROM j GROUP BY user_id
    """,
)
def asof_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (union-merge formulation, operators/temporal.py):
    for every error event, the latest click by the same user at-or-
    before it — ONE shuffle on user_id, no range explosion. Absent
    from the reference; first-class for event pipelines."""
    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    joined = temporal.asof_join(
        errors, clicks, key="user_id", right_payload=["value"]
    )
    pre = joined.select(
        "user_id",
        "asof_ts",
        (F.unix_micros("ts") - F.unix_micros("asof_ts")).alias("lag_us"),
    )
    # ROUND(double, 6) at a digit-7 tie splits Spark's decimal HALF_UP
    # from DuckDB's binary rounding (hit at the x10 synth corpus), so
    # the 6-decimal seconds surface is produced EXACTLY: half-up of
    # the exact rational Σlag/n at the microsecond boundary via pure
    # integer arithmetic — (2S + n) div (2n) — then one /1e6 of the
    # same ≤2^42 integer on both engines.
    return pre.groupBy("user_id").agg(
        F.count("*").alias("n_errors"),
        F.count("asof_ts").alias("n_matched"),
        (
            F.expr(
                "CASE WHEN count(asof_ts) = 0 THEN CAST(NULL AS BIGINT) "
                "ELSE (2 * sum(lag_us) + count(asof_ts)) "
                "div (2 * count(asof_ts)) END"
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("avg_lag_s"),
    )


# ONE oracle for both sessionize formulations: the batch spans
# pipeline and the applyInPandasWithState stream drain summarize the
# SAME session set per user, so the SQL twin certifies each — the
# stream query's green row is the stateful path's value certification
# (its equality with the batch twin is additionally asserted in
# tests/test_streaming.py).
_SESSIONIZE_ORACLE = """
    WITH flag AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
        SELECT user_id, ts, value,
               SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flag
    ),
    per_session AS (
        SELECT user_id, sid, COUNT(*) AS n_events, SUM(value) AS s_value,
               MAX(ts) AS last_ts
        FROM sess GROUP BY user_id, sid
    )
    SELECT user_id,
           COUNT(*)::BIGINT AS n_sessions,
           SUM(n_events)::BIGINT AS total_events,
           MAX(n_events)::BIGINT AS max_session_events,
           ROUND(SUM(s_value), 2) AS total_value,
           strftime(MAX(last_ts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S') AS last_session_end
    FROM per_session GROUP BY user_id
    """


_FUNNEL_ORACLE = """
    WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS t
        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    u1 AS (
        SELECT user_id,
               MIN(t) FILTER (WHERE event_type = 'view') AS s1
        FROM ev GROUP BY user_id
    ),
    u2 AS (
        SELECT e.user_id, MIN(e.t) AS s2
        FROM ev e JOIN u1 USING (user_id)
        WHERE e.event_type = 'click' AND e.t > u1.s1
        GROUP BY e.user_id
    ),
    u3 AS (
        SELECT e.user_id, MIN(e.t) AS s3
        FROM ev e JOIN u2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.t > u2.s2
        GROUP BY e.user_id
    )
    SELECT u1.user_id,
           u1.s1 AS step1_us, u2.s2 AS step2_us, u3.s3 AS step3_us,
           (CASE WHEN u3.s3 IS NOT NULL THEN 3
                 WHEN u2.s2 IS NOT NULL THEN 2
                 WHEN u1.s1 IS NOT NULL THEN 1
                 ELSE 0 END)::INT AS depth
    FROM u1
    LEFT JOIN u2 ON u1.user_id = u2.user_id
    LEFT JOIN u3 ON u1.user_id = u3.user_id
    """


@register("events_funnel", _FUNNEL_ORACLE)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step conversion funnel (operators/temporal.py::funnel):
    per user, the first view, the first click STRICTLY AFTER it, and
    the first purchase strictly after that — exact unix-microsecond
    timestamps and a 0..3 depth. One shuffle: per-user events are
    collected and sorted once, a single left-to-right F.aggregate fold
    walks the array carrying the (s1,s2,s3) state (the sessionize
    shape applied to conversion); the oracle computes the same
    semantics as three chained MIN aggregates — first-after-the-
    previous-step over a sorted timeline IS the chained conditional
    minimum, so the two formulations must agree exactly."""
    ev = _t(spark, sf_dir, "events")
    return temporal.funnel(ev, ["view", "click", "purchase"])


@register(
    "events_funnel_windowed",
    """
    WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS t
        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    u1 AS (
        SELECT user_id,
               MIN(t) FILTER (WHERE event_type = 'view') AS s1
        FROM ev GROUP BY user_id
    ),
    u2 AS (
        SELECT e.user_id, MIN(e.t) AS s2
        FROM ev e JOIN u1 USING (user_id)
        WHERE e.event_type = 'click' AND e.t > u1.s1
          AND e.t <= u1.s1 + 3600000000
        GROUP BY e.user_id
    ),
    u3 AS (
        SELECT e.user_id, MIN(e.t) AS s3
        FROM ev e JOIN u2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.t > u2.s2
          AND e.t <= u2.s2 + 3600000000
        GROUP BY e.user_id
    )
    SELECT u1.user_id,
           u1.s1 AS step1_us, u2.s2 AS step2_us, u3.s3 AS step3_us,
           (CASE WHEN u3.s3 IS NOT NULL THEN 3
                 WHEN u2.s2 IS NOT NULL THEN 2
                 WHEN u1.s1 IS NOT NULL THEN 1
                 ELSE 0 END)::INT AS depth
    FROM u1
    LEFT JOIN u2 ON u1.user_id = u2.user_id
    LEFT JOIN u3 ON u1.user_id = u3.user_id
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conversion-deadline funnel (operators/temporal.py::funnel
    with ``within_seconds``): each step must land strictly after the
    previous anchor AND within one hour of it — "viewed, clicked
    within the hour, purchased within the hour of the click".
    First-touch greedy semantics (each step anchors on the earliest
    qualifying event; see the operator docstring). Same one-shuffle
    chained-conditional-MIN plan as `events_funnel`; the deadline is
    one extra bound inside each step's filter, mirrored exactly by
    the oracle's chained conditional MINs — the window is a function
    of the already-fixed previous anchor, so both formulations stay
    exactly equivalent."""
    ev = _t(spark, sf_dir, "events")
    return temporal.funnel(
        ev, ["view", "click", "purchase"], within_seconds=3600
    )


# ONE oracle for both retention formulations: the batch query derives
# the weekly-activity set inline; the stream drain maintains the SAME
# set incrementally (weekly_activity_stream) and reports over the
# read-back artifact — identical (user, week) sets ⇒ identical
# triangles, so the stream query's green row certifies the
# incremental-maintenance path.
_RETENTION_ORACLE = """
    WITH act AS (
        SELECT user_id, date_trunc('week', ts) AS week
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
        GROUP BY 1, 2
    ),
    c AS (SELECT user_id, MIN(week) AS cw FROM act GROUP BY user_id)
    SELECT strftime(c.cw, '%Y-%m-%d') AS cohort_week,
           ((epoch_us(act.week) - epoch_us(c.cw)) / 604800000000)::INT
               AS week_offset,
           COUNT(*) AS n_users
    FROM act JOIN c USING (user_id)
    GROUP BY 1, 2
    """


@register("events_retention", _RETENTION_ORACLE)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts (operators/temporal.py::
    retention_cohorts): users bucketed by their first active ISO week,
    counted per (cohort, weeks-since-cohort) cell — the activity
    triangle next to the conversion funnel. Exact by construction:
    ISO-Monday date_trunc on both engines, offsets as calendar
    datediff/7 between the two Monday dates (exact multiples of 7 in
    any session timezone), distinct-by-construction counts (the
    (user, week) set is deduplicated before counting)."""
    ev = _t(spark, sf_dir, "events")
    return temporal.retention_cohorts(ev)


@register("api_events_funnel", _FUNNEL_ORACLE)
def api_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The temporal family through the EventsAnalytics facade
    (api.py) — AND the salted two-phase fold certified end-to-end:
    the facade dispatches funnel(salted=True), whose per-entry-depth
    day partials + day-ordered fold must reproduce the chained
    conditional MINs of the shared `events_funnel` oracle exactly.
    One green row certifies both the facade wiring and the skew
    fallback's exactness against the SQL twin (the pytest pin covers
    salted ≡ plain; this covers salted ≡ oracle)."""
    from .api import EventsAnalytics

    ev = EventsAnalytics.from_sf_dir(spark, sf_dir)
    return ev.funnel(["view", "click", "purchase"], salted=True)


@register("api_events_retention", _RETENTION_ORACLE)
def api_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention through the EventsAnalytics facade — the facade twin
    of `events_retention` (same oracle; a dispatch bug shows as a red
    row), mirroring how api_engine_* certified the search
    dispatcher."""
    from .api import EventsAnalytics

    return EventsAnalytics.from_sf_dir(spark, sf_dir).retention()


@register("events_retention_stream", _RETENTION_ORACLE)
def events_retention_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention over an INCREMENTALLY MAINTAINED activity table
    (streaming/ingest.py::weekly_activity_stream + operators/
    temporal.py::retention_from_activity) — the steady-state 100 TB
    shape: events drain availableNow through foreachBatch, each
    micro-batch appends its batch-deduped (user, week) pairs to the
    activity sink (zero streaming state — the artifact is the one row
    per active user-week), and the cohort triangle is computed over
    the read-back artifact (retention_from_activity dedups the
    cross-batch appends internally), never rescanning raw events.
    The maintained activity set equals
    the batch derivation exactly, so this shares `events_retention`'s
    oracle — the green row certifies the incremental path."""
    import shutil

    from .streaming import weekly_activity_stream

    ev = _t(spark, sf_dir, "events")
    src = _stream_table_src(spark, sf_dir, "events", ev.schema)
    sink = _scratch_dir("dferp_wasink", sf_dir)
    ckpt = _scratch_dir("dferp_wack", sf_dir)
    with _SIDE_EFFECT_LOCK:
        # fresh drain per call: a stale checkpoint would skip the
        # source files; a stale sink would double-count appends
        shutil.rmtree(sink, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        q = weekly_activity_stream(src, sink, ckpt)
        _drain_or_fail(q, "events_retention_stream")
    activity = spark.read.parquet(sink)
    return temporal.retention_from_activity(activity)


@register("events_sessionize", _SESSIONIZE_ORACLE)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark-native session_window (30-min gap) —
    the same expression is stateful session aggregation on a stream.
    The applyInPandasWithState twin (streaming/sessionize.py) is
    asserted equal in tests/test_streaming.py.

    The query emits a per-user summary OF the sessions (counts, max
    session size, last session end) rather than every session row:
    the full sessionization still runs — the summary is wrong if any
    boundary is wrong — but only ~|users| rows reach the driver.
    Shipping every session to the driver is the anti-pattern this
    engine avoids; at scale sessions are written to a table, not
    collected."""
    ev = _t(spark, sf_dir, "events")
    # batch path: the lag/running-sum spans formulation — one exchange
    # for the whole sessionize → per-session → per-user pipeline
    # (sessionize_spans ≡ session_window, tests/test_temporal.py)
    sessions = temporal.sessionize_spans(ev, "30 minutes")
    return sessions.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("total_events"),
        F.max("n_events").alias("max_session_events"),
        F.round(F.sum("sum_value"), 2).alias("total_value"),
        F.date_format(F.max("session_end"), "yyyy-MM-dd HH:mm:ss").alias(
            "last_session_end"
        ),
    )


@register(
    "dedup_minhash_stream",
    f"""
    WITH docs2 AS (SELECT doc_id, text FROM documents),
    {_PORT_TOKS_CTE},
    {_PORT_TH_CTE},
    pshh AS (
        SELECT doc_id,
               CASE WHEN len(th) >= 3
                    THEN [((th[i] * {dedup._PORT_B} + th[i+1]) % {dedup._PORT_P}
                           * {dedup._PORT_B} + th[i+2]) % {dedup._PORT_P}
                          FOR i IN generate_series(1, len(th) - 2)]
                    ELSE [list_reduce(list_prepend(0::BIGINT, th),
                                      (a, b) -> (a * {dedup._PORT_B} + b)
                                      % {dedup._PORT_P})]
               END AS shh
        FROM pth
    ),
    pmins AS (SELECT doc_id, {_PORT_MINS} FROM pshh),
    pkeys AS (SELECT doc_id, {_PORT_KEYS} FROM pmins),
    pbanded AS ({_PORT_BAND_ROWS}),
    anchors AS (
        SELECT band, key, MIN(doc_id) AS anchor
        FROM pbanded GROUP BY band, key
    ),
    hits AS (
        SELECT b.doc_id, a.anchor
        FROM pbanded b
        JOIN anchors a ON a.band = b.band AND a.key = b.key
        WHERE b.doc_id <> a.anchor
    )
    SELECT doc_id, COUNT(*) AS n_bucket_hits, MIN(anchor) AS min_anchor
    FROM hits GROUP BY doc_id
    """,
)
def dedup_minhash_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup candidate detection
    (streaming/dedup.py::minhash_collision_stream): the documents
    table drained availableNow through the band-bucket state operator;
    flagged docs summarized as (doc_id, n_bucket_hits, min anchor).

    Oracle-certified since round 4: the band signatures are the
    PORTABLE polynomial family (pure Catalyst — the same arithmetic
    the dedup_minhash_lsh_portable oracle replays), and a one-shot
    single-batch drain makes each bucket's anchor the bucket-MIN
    doc_id (the state fn sorts arrivals within the batch), so the
    whole stateful flagging pass is a deterministic function DuckDB
    recomputes: per-bucket min anchor → every other bucket member
    flagged once per shared bucket. The stream≡batch equivalence is
    additionally asserted in test_streaming; on a multi-batch
    production stream the anchor generalizes to first-batch-min,
    which is exactly the streaming semantics documented there."""
    import tempfile

    from .streaming import minhash_collision_stream

    docs = _t(spark, sf_dir, "documents")
    src = _stream_table_src(spark, sf_dir, "documents", docs.schema)
    flagged = minhash_collision_stream(src.select("doc_id", "text"))
    name = f"mh_stream_" + hashlib.sha1(
        sf_dir.rstrip("/").encode()
    ).hexdigest()[:10]
    ckpt = tempfile.mkdtemp(prefix="dferp_mh_ckpt_")
    q = (
        flagged.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain_or_fail(q, "dedup_minhash_stream")
    # The oracle's per-bucket MIN(doc_id) anchor equals the state
    # operator's first-batch-min anchor ONLY when the whole drain is a
    # single micro-batch (true for the single-file fixture tables; a
    # multi-file layout or maxFilesPerTrigger would split it). Fail
    # LOUDLY on a layout change instead of surfacing it as a silent
    # value mismatch blamed on the operator.
    fed = [
        p for p in q.recentProgress if (p["numInputRows"] or 0) > 0
    ]
    if len(fed) > 1:
        raise RuntimeError(
            "dedup_minhash_stream: availableNow drain split into "
            f"{len(fed)} micro-batches — the bucket-min-anchor oracle "
            "assumes a single batch (single-file source layout)"
        )
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)  # see events_sessionize_stream
    return (
        spark.table(name)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bucket_hits"),
            F.min("anchor_id").alias("min_anchor"),
        )
    )


def _stream_table_src(spark: SparkSession, sf_dir: str, table: str, schema):
    """File-source stream over one fixture table, correct for BOTH
    layouts: the driver fixtures store each table as a single
    ``<table>.parquet`` FILE inside the shared sf_dir (glob-filter it
    out by leaf name), while Spark-written corpora (the synth scale
    fixtures) store a ``<table>.parquet`` DIRECTORY of part files —
    where a leaf-name glob matches NOTHING and the stream silently
    drains zero rows (caught by tools/scale_check.py at x10). Point
    the source at the directory itself in that case."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def _drain_or_fail(q, name: str, timeout: int = 120) -> None:
    """Block until an availableNow drain terminates; a drain that
    outlives the backstop is stopped AND raised — reading the sink
    after a partial drain would summarize a partially-maintained
    index / partial hit set and surface as a silent value mismatch
    blamed on the operator (round-7 advice: fail loudly instead)."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise RuntimeError(
            f"{name}: availableNow drain did not terminate within "
            f"{timeout}s — refusing to summarize a partial sink"
        )


# Percolation: standing-query terms (union), registered queries, and
# the SQL twin generator. Module-level so the Spark path and the
# oracle are built from ONE definition of the queries.
_PERC_TERMS = ["data", "table", "vector", "join", "row"]
_PERC_QUERIES = [
    ("q_pipeline", ("data", "table"), 0.3),
    ("q_vector", ("vector", "join"), 0.32),
    ("q_rows", ("row",), 0.15),
]


def _perc_stats(spark: SparkSession, sf_dir: str):
    """The frozen percolator corpus stats for the shared registry as
    DRIVER-SIDE rows: ``(term_rows, total_rows)`` — one ``(term, df)``
    tuple per vocab term plus the 1-row ``(n, sumdl)`` totals, a few
    KB of exact integers (the metadata file a write-time index ships
    next to the data). ``percolate_join`` turns them into a single
    inline-VALUES registry broadcast, so a warm call schedules one
    broadcast job + the main job. On the serving path (index cache
    ON) the rows are a session-resident artifact
    (``indexes.materialized_value``); r8's bench showed 5 jobs/warm
    call from re-aggregating corpus stats per invocation. Cache OFF
    (correctness runs) recollects the stats from the corpus inside
    every call."""
    from .streaming.percolate import bm25_stats_table

    def _collect():
        docs = _t(spark, sf_dir, "documents")
        term_stats, totals = bm25_stats_table(docs, _PERC_TERMS)
        return (
            [(r["term"], r["df"]) for r in term_stats.collect()],
            [(r["n"], r["sumdl"]) for r in totals.collect()],
        )

    return indexes.materialized_value(
        spark, f"perc_stats:{sf_dir}", _collect
    )


def _percolate_sql(
    union_terms: list[str],
    queries: list[tuple[str, tuple[str, ...], float]],
) -> str:
    """SQL-text twin of ``streaming.percolate`` — the same Lucene-8
    BM25 accumulation as ``_bm25_sql`` with the stats computed from
    the same corpus the stream drains, a per-query UNION ALL over one
    shared stats CTE, and the threshold compared on the RAW
    left-to-right accumulated double (bit-identical across engines)
    before the 6-digit display round."""
    idx = {t: i for i, t in enumerate(union_terms)}
    tfs = ",\n               ".join(
        f"LEN(list_filter(toks, t -> t = '{t}')) AS tf{i}"
        for i, t in enumerate(union_terms)
    )
    dfs = ",\n               ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(union_terms))
    )

    def contrib(i: int) -> str:
        return (
            f"LN(1.0 + (CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5)"
            f" / (CAST(df{i} AS DOUBLE) + 0.5))"
            f" * (CAST(tf{i} AS DOUBLE) / (CAST(tf{i} AS DOUBLE)"
            f" + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)"
            f" / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))))"
        )

    selects = []
    for qid, terms, min_score in queries:
        score = "\n             + ".join(contrib(idx[t]) for t in terms)
        nm = " + ".join(
            f"(CASE WHEN tf{idx[t]} > 0 THEN 1 ELSE 0 END)" for t in terms
        )
        any_match = " OR ".join(f"tf{idx[t]} > 0" for t in terms)
        selects.append(
            f"""SELECT doc_id, '{qid}' AS query_id,
           ({nm})::INT AS n_matched_terms,
           ROUND({score}, 6) AS bm25
    FROM scored WHERE ({any_match}) AND ({score}) >= {min_score}"""
        )
    body = "\n    UNION ALL\n    ".join(selects)
    return f"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(LOWER(COALESCE(text, '')),
                                              '\\s+'),
                           t -> LENGTH(t) > 0) AS toks
        FROM documents
    ),
    tf AS (
        SELECT doc_id, LEN(toks) AS dl,
               {tfs}
        FROM base
    ),
    stats AS (
        SELECT COUNT(*) AS n, SUM(dl) AS sumdl,
               {dfs}
        FROM tf
    ),
    scored AS (SELECT * FROM tf CROSS JOIN stats)
    {body}
    """


@register("percolate_stream", _percolate_sql(_PERC_TERMS, _PERC_QUERIES))
def percolate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing queries matched against documents at ingest — the ES
    percolator shape (queries are indexed, each arriving document is
    scored against all of them; the reference's ingest loop
    bulk_index_with_features.py composed with analyzed-match BM25
    relevance over its index — see retrieval.bm25_topk's parity note
    on the endpoint's constant-scored terms query). The documents
    table is drained
    availableNow through ``streaming.percolate``: BM25 against a
    FROZEN corpus-stats row (built batch-side like an index artifact),
    idf computed in-engine, map-only per micro-batch — stateless, so
    no watermark and exact restart semantics. The drained output IS
    the batch scoring (asserted in test_streaming), which is what the
    oracle replays."""
    import tempfile

    from .streaming import StandingQuery, bm25_stats, percolate

    docs = _t(spark, sf_dir, "documents")
    stats = bm25_stats(docs, _PERC_TERMS)
    standing = [StandingQuery(q, t, s) for q, t, s in _PERC_QUERIES]
    # layout-correct source (single-file fixture vs part-file dir);
    # stateless scoring is batch-count-invariant, both drain equal
    src = _stream_table_src(spark, sf_dir, "documents", docs.schema)
    matched = percolate(
        src.select("doc_id", "text"), standing, stats, _PERC_TERMS
    )
    name = "perc_stream_" + hashlib.sha1(
        sf_dir.rstrip("/").encode()
    ).hexdigest()[:10]
    ckpt = tempfile.mkdtemp(prefix="dferp_perc_ckpt_")
    q = (
        matched.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain_or_fail(q, "percolate_stream")
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)  # see events_sessionize_stream
    return spark.table(name)


@register("api_percolate", _percolate_sql(_PERC_TERMS, _PERC_QUERIES))
def api_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 — the ``Percolator`` serving facade (api.py) certified
    end-to-end on the BATCH path: construction freezes the corpus
    stats for the registered standing queries (term order = first
    appearance, matching the module-level registry), ``matches``
    scores the same corpus as a backfill batch. Shares ONE oracle with
    `percolate_stream` — the facade, the raw stream drain, and the SQL
    twin must agree row-for-row, which pins the facade's term-ordering
    and parameter threading, not just the operator underneath."""
    from .api import Percolator

    docs = _t(spark, sf_dir, "documents")
    p = Percolator(docs, _PERC_QUERIES)
    return p.matches(docs.select("doc_id", "text"))


@register("api_percolate_register", _percolate_sql(_PERC_TERMS, _PERC_QUERIES))
def api_percolate_register(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ES index-a-query lifecycle certified: construct the
    Percolator with only the FIRST standing query, then register() the
    other two after the fact — the second of which brings terms the
    frozen stats never covered, exercising the incremental df
    extension (one aggregate over just the new terms; N and Σdl stay
    frozen so pre-registered scores cannot shift). Over an unchanged
    corpus the incremental registry must match the all-at-once
    construction bit-for-bit — proven by sharing the SAME oracle as
    `api_percolate` / `percolate_stream` / `percolate_join_batch`."""
    from .api import Percolator

    docs = _t(spark, sf_dir, "documents")
    p = Percolator(docs, [_PERC_QUERIES[0]])
    for q in _PERC_QUERIES[1:]:
        p.register(q)
    return p.matches(docs.select("doc_id", "text"))


@register("percolate_join_batch", _percolate_sql(_PERC_TERMS, _PERC_QUERIES))
def percolate_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The broadcast-join percolator (streaming/percolate.py::
    percolate_join) — the registry-as-DATA formulation for standing-
    query sets too large to inline as expressions (plan cost
    independent of |queries|; crossover measured in SCALING.md). Same
    output contract and BIT-IDENTICAL scores as the expression form:
    per-(doc,query) contributions are folded left-to-right in the
    query's term order after an array_sort, reproducing the expression
    form's accumulation exactly — which is why all three shapes
    (expression stream drain, join batch, SQL) share ONE oracle."""
    from .streaming import StandingQuery, percolate_join

    docs = _t(spark, sf_dir, "documents")
    standing = [StandingQuery(q, t, s) for q, t, s in _PERC_QUERIES]
    term_rows, total_rows = _perc_stats(spark, sf_dir)
    return percolate_join(
        docs.select("doc_id", "text"), standing,
        stats_rows=term_rows, totals_rows=total_rows,
    )


@register(
    "percolate_join_stream", _percolate_sql(_PERC_TERMS, _PERC_QUERIES)
)
def percolate_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-form percolator ON A STREAM (streaming/percolate.py::
    percolate_join_stream) — the past-the-codegen-wall serving path
    for large standing-query registries: documents drained
    availableNow through foreachBatch, each micro-batch scored by the
    aggregation-based ``percolate_join`` against the FROZEN long-form
    stats and appended to a parquet sink; the sink read back IS the
    result. percolate_join is a deterministic per-document transform
    (scores depend only on the frozen stats, never on batch
    boundaries), so the drained union equals the one-shot batch
    scoring and all FOUR shapes — expression stream drain, join
    batch, join stream drain, SQL — share ONE oracle."""
    import shutil

    from .streaming import StandingQuery
    from .streaming.percolate import percolate_join_stream

    docs = _t(spark, sf_dir, "documents")
    standing = [StandingQuery(q, t, s) for q, t, s in _PERC_QUERIES]
    term_rows, total_rows = _perc_stats(spark, sf_dir)
    src = _stream_table_src(spark, sf_dir, "documents", docs.schema)
    sink = _scratch_dir("dferp_pjsink", sf_dir)
    ckpt = _scratch_dir("dferp_pjck", sf_dir)
    with _SIDE_EFFECT_LOCK:
        # fresh drain per call: a stale checkpoint would skip the
        # source files; a stale sink would double-count appends
        shutil.rmtree(sink, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        q = percolate_join_stream(
            src.select("doc_id", "text"), standing,
            sink_path=sink, checkpoint=ckpt,
            stats_rows=term_rows, totals_rows=total_rows,
        )
        _drain_or_fail(q, "percolate_join_stream")
    return spark.read.parquet(sink)


# ANN index maintenance: assignment CTE shared by both queries — the
# first 4 embeddings are the frozen coarse centroids, cluster = argmax
# dot (ties → lowest centroid id), exactly assign_clusters_np's rule.
_ANN_ASSIGN_CTE = """
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 4),
    a AS (
        SELECT vec_id, cid AS cluster FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid
                   ) AS rn
            FROM e CROSS JOIN c
        ) WHERE rn = 1
    )
"""


@register(
    "ann_ingest_assign",
    f"""
    WITH {_ANN_ASSIGN_CTE}
    SELECT cluster::INT AS cluster, COUNT(*) AS n_vecs,
           SUM(vec_id)::BIGINT AS id_checksum,
           SUM(vec_id * vec_id)::BIGINT AS id_sq_checksum
    FROM a GROUP BY cluster
    """,
)
def ann_ingest_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance certified END-TO-END
    (streaming/ann_ingest.py — the reference's upload→index lifecycle,
    upload_features_to_elasticsearch.py:207-229 / SRS §4.1-4.2, at the
    vector layer): embeddings staged as arriving files → availableNow
    stream → per-micro-batch nearest-centroid assignment against the
    FROZEN leading-4 centroids (Arrow matmul kernel) → append into the
    ``partitionBy(cluster)`` serving layout → read the maintained
    index back and summarize per cluster. Linear + quadratic vec_id
    checksums pin the COMPLETE assignment map (no swap of members
    between clusters can preserve both), so the oracle certifies the
    stream transform, the partitioned write, and the read-back —
    the assignment itself is the pure-Catalyst-twin rule (argmax dot,
    ties → lowest centroid id)."""
    import shutil

    from .streaming import start_ann_ingest

    emb = _t(spark, sf_dir, "embeddings")
    cents = _leading_vectors(spark, sf_dir, 4)
    src = _scratch_dir("dferp_annsrc", sf_dir)
    idx = _scratch_dir("dferp_annidx", sf_dir)
    ckpt = _scratch_dir("dferp_annck", sf_dir)
    with _SIDE_EFFECT_LOCK:
        emb.write.mode("overwrite").parquet(src)
        # fresh drain per call: a stale checkpoint would skip the
        # (re-written) source files and a stale index would double-count
        shutil.rmtree(idx, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        q = start_ann_ingest(spark, src, emb.schema, idx, ckpt, cents)
        _drain_or_fail(q, "ann_ingest_assign")
    back = spark.read.parquet(idx)
    return back.groupBy(F.col("cluster").cast("int").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("vec_id").alias("id_checksum"),
        F.sum(F.col("vec_id") * F.col("vec_id")).alias("id_sq_checksum"),
    )


@register(
    "ann_ingest_pq",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    cb AS (SELECT {_PQ_PORT_BOOKS_SQL}::DOUBLE[][][] AS B),
    cc AS (SELECT {_IVFPQ_PORT_CENTS_SQL}::DOUBLE[][] AS C),
    coded AS (
        SELECT e.vec_id,
               list_indexof(
                   list_transform(range(8), c ->
                       list_dot_product(e.ev, cc.C[c+1])),
                   list_max(list_transform(range(8), c ->
                       list_dot_product(e.ev, cc.C[c+1])))) - 1 AS cluster,
               list_reduce(
                   list_prepend(0::BIGINT,
                       list_transform(range(8), s ->
                           ({_PQ_PORT_CODE_SQL.format(v="e.ev")} - 1)::BIGINT
                       )),
                   (a, b) -> a * 16 + b) AS code_poly
        FROM e, cb, cc
    )
    SELECT cluster::INT AS cluster, COUNT(*) AS n_vecs,
           SUM(vec_id)::BIGINT AS id_checksum,
           SUM(code_poly)::BIGINT AS code_checksum
    FROM coded GROUP BY cluster
    """,
)
def ann_ingest_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained IVF-PQ serving layout certified END-TO-END
    (streaming/ann_ingest.py::start_ivfpq_ingest): embeddings staged
    as arriving files → availableNow stream → per-micro-batch coarse
    assignment (frozen exact-grid centroids) + Catalyst PQ encode
    (frozen exact-grid codebooks) → append into partitionBy(cluster)
    parquet carrying only (vec_id, cluster, pq_code) — the compressed
    ADC table, 8 bytes of code per 256-byte vector — → read the
    maintained index back and summarize per cluster. The polynomial
    code checksum (Σ rows of Σ_s code_s·16^s, exact BIGINT) pins every
    sub-quantizer decision of every row; the id checksum pins
    membership; together the oracle certifies assign, encode,
    partitioned write, and read-back in one row set."""
    import shutil

    from .streaming import start_ivfpq_ingest

    emb = _t(spark, sf_dir, "embeddings")
    src = _scratch_dir("dferp_pqsrc", sf_dir)
    idx = _scratch_dir("dferp_pqidx", sf_dir)
    ckpt = _scratch_dir("dferp_pqck", sf_dir)
    with _SIDE_EFFECT_LOCK:
        emb.write.mode("overwrite").parquet(src)
        shutil.rmtree(idx, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        q = start_ivfpq_ingest(
            spark, src, emb.schema, idx, ckpt,
            _IVFPQ_PORT_CENTS, _PQ_PORT_BOOKS,
        )
        _drain_or_fail(q, "ann_ingest_pq")
    back = spark.read.parquet(idx)
    # exact big-endian polynomial over the 8 sub-codes (code_s < 16)
    poly = F.lit(0).cast("long")
    for s in range(8):
        poly = poly * 16 + F.element_at(F.col("pq_code"), s + 1).cast("long")
    return back.groupBy(F.col("cluster").cast("int").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("vec_id").alias("id_checksum"),
        F.sum(poly).alias("code_checksum"),
    )


@register(
    "ann_centroid_staleness",
    f"""
    WITH {_ANN_ASSIGN_CTE},
    ref AS (SELECT cluster FROM a WHERE vec_id % 2 = 0),
    cur AS (SELECT cluster FROM a WHERE vec_id % 2 = 1),
    nm AS (
        SELECT (SELECT COUNT(*) FROM ref) AS n,
               (SELECT COUNT(*) FROM cur) AS m
    ),
    pivoted AS (
        SELECT 'cat:c' AS section, CAST(cluster AS VARCHAR) AS key,
               SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END)::BIGINT AS ref_n,
               SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END)::BIGINT AS cur_n
        FROM (
            SELECT cluster, 0 AS side FROM ref
            UNION ALL
            SELECT cluster, 1 FROM cur
        ) GROUP BY 2
    ),
    scored AS (
        SELECT section, key, ref_n, cur_n,
               ABS(ref_n::HUGEINT * m - cur_n::HUGEINT * n)
                   ::DECIMAL(38,0) AS drift_num
        FROM pivoted CROSS JOIN nm
    )
    SELECT section, key, ref_n, cur_n, drift_num::VARCHAR AS drift_num
    FROM scored
    UNION ALL
    SELECT section, '__TOTAL__', SUM(ref_n)::BIGINT, SUM(cur_n)::BIGINT,
           SUM(drift_num)::DECIMAL(38,0)::VARCHAR
    FROM scored GROUP BY section
    """,
)
def ann_centroid_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The centroid-staleness monitor (streaming/ann_ingest.py::
    centroid_staleness): cluster-occupancy drift between the resident
    index (even vec_ids) and an arriving batch (odd vec_ids), both
    assigned under the same frozen leading-4 centroids — drift_report
    over the cluster column, so "the data moved under the centroids"
    is an exact-integer alarm (cross-multiplied L1 numerator, no float
    surface). This is the measurement that triggers the
    recenter_compact batch job in the maintenance loop. Assignment
    uses the pure-Catalyst twin here (same argmax-dot rule as the
    ingest path's Arrow kernel): the drift pipeline evaluates the
    assigned frame four times (two sides × counts/totals), and the
    expression form keeps all four passes inside whole-stage codegen
    instead of four Python round trips — 1.34 s → JVM-side at sf0.1."""
    from .operators.similarity import assign_clusters
    from .streaming import centroid_staleness

    emb = _t(spark, sf_dir, "embeddings")
    cents = _leading_vectors(spark, sf_dir, 4)
    assigned = assign_clusters(emb, cents)
    return centroid_staleness(
        assigned.filter(F.col("vec_id") % 2 == 0),
        assigned.filter(F.col("vec_id") % 2 == 1),
    )


@register(
    "ann_recenter_compact",
    """
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              v -> FLOOR(v * 1000)) AS x,
               (vec_id % 4)::INT AS c0
        FROM embeddings WHERE vec_id < 256
    ),
    ex AS (
        SELECT e.c0, t.i, e.x[t.i] AS val
        FROM e, generate_series(1, 64) AS t(i)
    ),
    mu AS (
        SELECT c0, i, SUM(val) / 64.0 AS m
        FROM ex GROUP BY c0, i
    ),
    cent AS (
        SELECT c0 AS cid, list(m ORDER BY i) AS cv,
               0.5 * SUM(m * m) AS bias
        FROM mu GROUP BY c0
    ),
    newa AS (
        SELECT vec_id, cid AS cluster FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY (list_dot_product(e.x, c.cv) - c.bias)
                                DESC, c.cid
                   ) AS rn
            FROM e CROSS JOIN cent c
        ) WHERE rn = 1
    )
    SELECT n.cluster::INT AS cluster, COUNT(*) AS n_vecs,
           SUM(e.vec_id)::BIGINT AS id_checksum,
           SUM(e.x[1])::BIGINT AS coord0_checksum
    FROM newa n JOIN e ON n.vec_id = e.vec_id
    GROUP BY 1
    """,
)
def ann_recenter_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance loop's WRITE phase certified end-to-end
    (streaming/ann_ingest.py::recenter_compact — the batch job the
    staleness alarm triggers; reference lifecycle:
    upload_features_to_elasticsearch.py:207-229's rebuild-and-swap):
    read the accumulated partitionBy(cluster) index, one exact Lloyd
    step (per-cluster elementwise mean), re-assign every vector under
    the new centroids (L2 rule: argmax of dot − |c|²/2, ties → lowest
    cluster), rewrite the partitioned layout via the crash-safe rename
    swap, then probe the REWRITTEN index back — membership counts, id
    checksums, and a first-coordinate data checksum per new cluster.

    Cross-engine exact by construction: vectors are floor-quantized
    to an integer grid (FLOOR(v·1000) — floor, not round: no
    half-tie rounding-mode hazard) and the initial clusters are
    vec_id%4 over the first 256 ids, so every population is exactly
    64 = 2^6 — each mean coordinate s/64 is a dyadic rational carried
    EXACTLY by a double, every dot/bias term is an exact multiple of
    2^-12 well under 2^53, and therefore every product, partial sum,
    and comparison is exact in ANY accumulation order: numpy's
    blocked matmul (assign_clusters_np), Catalyst, and DuckDB's
    list_dot_product cannot disagree even at the ULP level, making
    the argmax decisions — and hence the rewritten index — identical
    by arithmetic, not by luck."""
    import shutil

    from .streaming.ann_ingest import recenter_compact

    emb = _t(spark, sf_dir, "embeddings")
    xq = emb.filter(F.col("vec_id") < 256).select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(v.cast("double") * 1000).cast("double"),
        ).alias("embedding"),
        F.pmod(F.col("vec_id"), F.lit(4)).cast("int").alias("cluster"),
    )
    idx = _scratch_dir("dferp_rcidx", sf_dir)
    with _SIDE_EFFECT_LOCK:
        shutil.rmtree(idx, ignore_errors=True)
        xq.write.mode("overwrite").partitionBy("cluster").parquet(idx)
        cents = recenter_compact(spark, idx)
        if len(cents) != 4:
            raise RuntimeError(
                f"ann_recenter_compact: expected 4 centroids, "
                f"got {len(cents)}"
            )
    back = spark.read.parquet(idx)
    return back.groupBy(F.col("cluster").cast("int").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("vec_id").alias("id_checksum"),
        F.sum(F.element_at("embedding", 1)).cast("bigint")
        .alias("coord0_checksum"),
    )


@register("events_sessionize_stream", _SESSIONIZE_ORACLE)
def events_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState sessionizer (streaming/sessionize.py)
    driven as a one-shot availableNow drain over the events table,
    summarized per user exactly like the batch twin. The stateful
    operator itself is not SQL, but its DRAINED OUTPUT is the exact
    session set the batch spans formulation computes — so the batch
    oracle certifies the stateful path on values (emit_open=True emits
    every still-open session at source exhaustion; nothing is held
    back)."""
    import tempfile

    from .streaming import sessionize_stream

    ev = _t(spark, sf_dir, "events")
    # layout-correct source (single-file fixture vs part-file dir)
    src = _stream_table_src(spark, sf_dir, "events", ev.schema)
    sessions = sessionize_stream(src, "30 minutes", emit_open=True)
    name = f"sessions_stream_" + hashlib.sha1(
        sf_dir.rstrip("/").encode()
    ).hexdigest()[:10]
    ckpt = tempfile.mkdtemp(prefix="dferp_sess_ckpt_")
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    # NoTimeout drain (sessionize_stream emit_open=True) terminates on
    # its own once the source is exhausted; the bounded wait is a
    # backstop, and a stream that somehow outlives it is stopped and
    # RAISED (partial session sets must not masquerade as values).
    _drain_or_fail(q, "events_sessionize_stream")
    # drained into the memory sink — the per-call checkpoint has no
    # further use; a resident process must not leak one per invocation
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("total_events"),
            F.max("n_events").alias("max_session_events"),
            F.round(F.sum("sum_value"), 2).alias("total_value"),
            F.date_format(F.max("session_end"), "yyyy-MM-dd HH:mm:ss").alias(
                "last_session_end"
            ),
        )
    )


# =====================================================================
# Tag dim join, AND-tag search, rollup, set ops, nested round-trip
# =====================================================================


@register(
    "join_tag_category",
    """
    WITH toks AS (
        SELECT doc_id,
               list_sort(list_distinct(
                   list_filter(string_split_regex(LOWER(text), '\\s+'),
                               t -> LENGTH(t) > 0)))[1:5] AS tag_list
        FROM documents
    ),
    vocab AS (
        SELECT tag,
               CASE (LENGTH(tag) % 3) WHEN 0 THEN 'architecture'
                                      WHEN 1 THEN 'nature'
                                      ELSE 'objects' END AS category
        FROM (
            SELECT DISTINCT UNNEST(
                list_filter(string_split_regex(LOWER(text), '\\s+'),
                            t -> LENGTH(t) > 0)) AS tag
            FROM documents
        )
        ORDER BY tag LIMIT 20
    ),
    tags AS (SELECT doc_id, UNNEST(tag_list) AS tag FROM toks)
    SELECT COALESCE(v.category, 'unknown') AS category,
           COUNT(*) AS n_tags,
           COUNT(DISTINCT t.tag) AS n_distinct_tags,
           COUNT(DISTINCT t.doc_id) AS n_docs
    FROM tags t LEFT JOIN vocab v ON v.tag = t.tag
    GROUP BY category
    """,
)
def join_tag_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — tag→category dim lookup with unknown fallback
    (SAM/upload_segments_to_elasticsearch.py:20-46). The vocabulary is
    a STATIC dim in the reference (a hand-written 50-term list), i.e.
    index metadata — so it is a ``materialized_value`` resident
    artifact (collected once per corpus: the lexicographic top-20
    distinct tokens), and the category lookup compiles to a literal
    ``isin`` + length expression: category is a pure function of the
    tag (LENGTH % 3) GATED on vocab membership. That removes the
    per-query second corpus scan, the broadcast-dim build job, and the
    join — one scan, one aggregate (plan change r12; values
    identical). Cache off ⇒ the vocab collect runs inside the query."""
    docs = _t(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    vocab_terms = indexes.materialized_value(
        spark,
        f"tagvocab20:{sf_dir}",
        lambda: [
            r["tag"]
            for r in docs.select(F.explode(toks).alias("tag"))
            .distinct()
            .orderBy("tag")
            .limit(20)
            .collect()
        ],
    )
    tags = docs.select(
        "doc_id",
        F.explode(
            F.slice(F.array_sort(F.array_distinct(toks)), 1, 5)
        ).alias("tag"),
    )
    category = F.when(
        F.col("tag").isin(*vocab_terms) if vocab_terms else F.lit(False),
        F.when(F.length("tag") % 3 == 0, "architecture")
        .when(F.length("tag") % 3 == 1, "nature")
        .otherwise("objects"),
    ).otherwise("unknown")
    return (
        tags.withColumn("category", category)
        .groupBy("category")
        .agg(
            F.count("*").alias("n_tags"),
            F.countDistinct("tag").alias("n_distinct_tags"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@register(
    "tag_search_and",
    """
    WITH tagged AS (
        SELECT doc_id,
               list_sort(list_distinct(
                   list_filter(string_split_regex(LOWER(text), '\\s+'),
                               t -> LENGTH(t) > 0)))[1:5] AS tag_list
        FROM documents
    )
    SELECT doc_id, len(tag_list) AS n_tags
    FROM tagged
    WHERE list_has_all(tag_list, ['a', 'big'])
    ORDER BY doc_id
    LIMIT 20
    """,
)
def tag_search_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 — AND-tag filter (SAM/test_similarity_search.py:74-84):
    document must have ALL requested tags —
    size(array_intersect) == size(requested)."""
    want = ["a", "big"]
    tagged = _doc_tag_list(spark, sf_dir)
    return (
        tagged.filter(
            F.size(F.array_intersect("tag_list", F.lit(want))) == len(want)
        )
        .select("doc_id", F.size("tag_list").alias("n_tags"))
        .orderBy("doc_id")
        .limit(20)
    )


@register(
    "agg_rollup_acctbal",
    """
    SELECT COALESCE(r_name, 'ALL') AS region,
           COALESCE(n_name, 'ALL') AS nation,
           COUNT(*) AS n_customers,
           ROUND(SUM(c_acctbal), 2) AS sum_acctbal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
)
def agg_rollup_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup (region → nation → grand total) — the grouping-sets
    surface SURVEY.md §2.4 notes Spark provides free; one shuffle,
    partial aggregation at every level."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]
    ).join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_customers",
            "sum_acctbal",
        )
    )


@register(
    "win_ntile_quartiles",
    """
    WITH t AS (
        SELECT lang, n_chars,
               NTILE(4) OVER (
                   PARTITION BY lang ORDER BY n_chars, doc_id
               ) AS quartile
        FROM documents
    )
    SELECT lang, quartile::INT AS quartile,
           COUNT(*) AS n_docs,
           SUM(n_chars)::BIGINT AS sum_chars,
           MIN(n_chars)::BIGINT AS min_chars,
           MAX(n_chars)::BIGINT AS max_chars
    FROM t GROUP BY lang, quartile
    """,
)
def win_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length quartiles — NTILE bucketing under a TOTAL
    order (n_chars, doc_id tiebreak, the determinism convention), then
    per-(lang, quartile) size/min/max — the corpus-profiling cut a
    curation run uses to balance length strata. One exchange: the
    follow-up aggregate reuses the window's lang partitioning (the
    win_lag_delta plan lesson)."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        docs.select(
            "lang", "n_chars", F.ntile(4).over(w).alias("quartile")
        )
        .groupBy("lang", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@register(
    "agg_pivot_roundtrip",
    """
    WITH langs AS (SELECT UNNEST(['de','en','es','fr','zh']) AS lang),
    srcs AS (SELECT DISTINCT source FROM documents),
    counts AS (
        SELECT source, lang, COUNT(*) AS n FROM documents
        GROUP BY source, lang
    )
    SELECT s.source, l.lang, COALESCE(c.n, 0)::BIGINT AS n_docs
    FROM srcs s CROSS JOIN langs l
    LEFT JOIN counts c ON c.source = s.source AND c.lang = l.lang
    """,
)
def agg_pivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The relational-reshape pair certified as a round trip: documents
    PIVOTed to a wide per-source frame (one lang column each, explicit
    pivot values so no extra distinct job and a deterministic schema;
    empty cells coalesced to 0 — Spark's pivot-count emits NULL there)
    then UNPIVOTed back to the long (source, lang, n_docs) form the
    oracle computes directly — including the zero cells, which is what
    distinguishes a true unpivot of the dense wide frame from a plain
    groupBy. One exchange for the pivot aggregate; unpivot is the
    map-only Expand."""
    docs = _t(spark, sf_dir, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    wide = docs.groupBy("source").pivot("lang", langs).count()
    wide = wide.select(
        "source",
        *[F.coalesce(F.col(l), F.lit(0)).alias(l) for l in langs],
    )
    return wide.unpivot(["source"], langs, "lang", "n_docs")


@register(
    "agg_cube_lang_source",
    """
    SELECT COALESCE(lang, 'ALL') AS lang_grp,
           COALESCE(source, 'ALL') AS source_grp,
           (2 * GROUPING(lang) + GROUPING(source))::INT AS gid,
           COUNT(*) AS n_docs,
           SUM(n_chars)::BIGINT AS sum_chars
    FROM documents
    GROUP BY CUBE(lang, source)
    """,
)
def agg_cube_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (lang, source) — all four grouping sets of the corpus
    composition report in one pass (the cube sibling of
    agg_rollup_acctbal; SURVEY.md §2.4's grouping-sets surface). The
    GROUPING() flags disambiguate a data NULL from a subtotal NULL, so
    the output is unambiguous even on corpora where lang/source can be
    missing. One shuffle: Spark expands each input row once per
    grouping set and partially aggregates map-side, so the exchange
    carries group partials, not row multiples — the same scale shape
    as a plain groupBy with a 4× key-space constant."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.cube("lang", "source")
        .agg(
            (
                2 * F.grouping("lang").cast("int")
                + F.grouping("source").cast("int")
            ).alias("gid"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang_grp"),
            F.coalesce("source", F.lit("ALL")).alias("source_grp"),
            "gid",
            "n_docs",
            "sum_chars",
        )
    )


@register(
    "win_lag_delta",
    """
    WITH d AS (
        SELECT user_id,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS gap_us
        FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           COUNT(gap_us) AS n_gaps,
           (SUM(gap_us) // COUNT(gap_us))::BIGINT AS avg_gap_us,
           ROUND(MAX(gap_us) / 1e6, 6) AS max_gap_s
    FROM d GROUP BY user_id
    """,
)
def win_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival gaps — the lag/lead window shape behind
    every sessionization and cadence report (operators/temporal.py
    uses the same primitive inside sessionize; this certifies it
    standalone). Gap arithmetic runs on unix MICROSECONDS (bigint) so
    both engines accumulate identical integers before the one
    float division at the end; ties on ts break on event_id, so the
    lag assignment is total-ordered and deterministic. The mean gap is
    emitted as EXACT integer microseconds (SUM div COUNT) — NOT a
    rounded AVG seconds — for two scale-dependent reasons found at
    sf0.1: AVG sums doubles in partition order (order-dependent
    rounding at ~1e15 partials), and even with an exact integer sum
    the true quotient can land on a .5 at the rounding digit, where
    Spark's decimal-string HALF_UP and DuckDB's binary rounding
    legitimately disagree. Integer division has no such boundary at
    any scale. max_gap keeps the seconds display: a single integer /
    1e6 is an exact 6-decimal value, tie-free to round.

    Scale: one shuffle. The window partitions by user_id and the
    follow-up groupBy keys on the same column, so Catalyst reuses the
    window's hash partitioning for the aggregate (no second
    exchange); per-user state is a sort of that user's events — the
    skew-prone hot-user case is the documented salted-aggregate
    territory (operators/skew.py), not this query's 10k-row fixture."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    )
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.count("gap_us").alias("n_gaps"),
        F.expr("sum(gap_us) div count(gap_us)").alias("avg_gap_us"),
        F.round(F.max("gap_us") / 1e6, 6).alias("max_gap_s"),
    )


@register(
    "set_ops_users",
    """
    WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    errorers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
    SELECT (SELECT COUNT(*) FROM (SELECT * FROM clickers INTERSECT SELECT * FROM errorers)) AS n_both,
           (SELECT COUNT(*) FROM (SELECT * FROM clickers EXCEPT SELECT * FROM errorers))    AS n_click_only,
           (SELECT COUNT(*) FROM (SELECT * FROM clickers UNION SELECT * FROM errorers))     AS n_either
    """,
)
def set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 set operations — INTERSECT / EXCEPT / UNION cardinalities
    of the clicker and errorer user sets (the oracle literally runs
    the set operators; Spark's intersect/exceptAll/union built-ins
    remain first-class engine API).

    Computed as ONE conditional aggregation: a single scan of events
    → per-user click/error flags → one global roll-up, instead of the
    round-1 three-aggregates + two-crossJoins plan that scanned the
    fact table multiple times."""
    ev = _t(spark, sf_dir, "events")
    flags = (
        ev.filter(F.col("event_type").isin("click", "error"))
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias("c"),
            F.max((F.col("event_type") == "error").cast("int")).alias("e"),
        )
    )
    return flags.agg(
        F.sum(((F.col("c") == 1) & (F.col("e") == 1)).cast("long")).alias("n_both"),
        F.sum(((F.col("c") == 1) & (F.col("e") == 0)).cast("long")).alias(
            "n_click_only"
        ),
        F.count("*").alias("n_either"),
    )


@register(
    "nested_roundtrip",
    """
    SELECT CAST(vec_id // 10 AS BIGINT) AS image_id,
           COUNT(*) AS n_segments,
           SUM(label)::BIGINT AS sum_labels,
           MIN(vec_id) AS first_vec
    FROM embeddings
    GROUP BY image_id
    """,
)
def nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.4 — the two parallel segment data models: flat rows →
    nested array<struct> per image (collect_list(struct), the
    foto_atlas nested layout) → aggregates computed FROM the nested
    form with higher-order functions. The oracle computes the same
    numbers from the flat model: round-trip equality."""
    emb = _t(spark, sf_dir, "embeddings")
    seg = emb.select(
        F.floor(F.col("vec_id") / 10).cast("long").alias("image_id"),
        "vec_id",
        "label",
    )
    nested = seg.groupBy("image_id").agg(
        F.array_sort(
            F.collect_list(F.struct("vec_id", "label"))
        ).alias("segments")
    )
    return nested.select(
        "image_id",
        F.size("segments").cast("long").alias("n_segments"),
        F.aggregate(
            "segments",
            F.lit(0).cast("long"),
            lambda acc, s: acc + s["label"],
        ).alias("sum_labels"),
        F.col("segments")[0]["vec_id"].alias("first_vec"),
    )


# =====================================================================
# BPE-ish tokenization + multimodal binary plumbing
# =====================================================================


@register(
    "text_token_bpe",
    """
    WITH toks AS (
        SELECT doc_id,
               regexp_extract_all(LOWER(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+') AS t
        FROM documents
    )
    SELECT doc_id,
           len(t) AS n_tokens,
           len(list_filter(t, x -> regexp_full_match(x, '[a-z]+'))) AS n_alpha,
           len(list_filter(t, x -> regexp_full_match(x, '[0-9]+'))) AS n_num
    FROM toks
    """,
)
def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex pre-tokenization (letter/digit/punct runs — the
    GPT-2 pre-tokenizer shape) for token budgeting; pure
    regexp_extract_all, identical RE semantics in the oracle."""
    docs = _t(spark, sf_dir, "documents", wide=True)
    # tokenize ONCE into a named column: the single-projection form
    # evaluated the full-document regexp_extract_all tree once per
    # derived column (3× per row — r13 plan fix, measured 2.9× on the
    # exec at x10; values identical). CollapseProject keeps the levels
    # apart because __t is non-cheap and referenced three times.
    return docs.select(
        "doc_id", X.bpe_tokens(F.col("text")).alias("__t")
    ).select(
        "doc_id",
        F.size("__t").alias("n_tokens"),
        F.size(F.filter(F.col("__t"), lambda x: x.rlike("^[a-z]+$"))).alias(
            "n_alpha"
        ),
        F.size(F.filter(F.col("__t"), lambda x: x.rlike("^[0-9]+$"))).alias(
            "n_num"
        ),
    )


def _image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decoded image metadata, shared by ml_multimodal_meta and
    ml_resize_plan — ONE mapInPandas decode pass per sf_dir instead of
    one per query. At scale decode-at-ingest writes these columns once
    and every consumer reads them; the index cache models that steady
    state (build cost priced in BENCH index_build_s), while
    correctness runs (cache off) still execute the full decode inside
    each query under test."""

    def _build() -> DataFrame:
        # Stub decode costs ~nothing per row, so fewer, fatter Arrow
        # batches win: coalesce (no shuffle) the cached 8-way table to
        # 4 before the Python stage — measured 0.40 -> 0.24 s at
        # sf0.1. A REAL decoder (ms/image) wants the full scan width
        # instead; the swap-in seam keeps that choice with the caller.
        docs = _t(spark, sf_dir, "documents").coalesce(4)
        images = docs.select(
            F.concat(F.lit("img_"), F.col("doc_id").cast("string")).alias(
                "filename"
            ),
            F.encode(F.col("text"), "utf-8").alias("content"),
        )
        return multimodal.decode_image_meta(images)

    return indexes.materialized(spark, f"imgmeta:{sf_dir}", _build)


@register(
    "ml_multimodal_meta",
    """
    WITH meta AS (
        SELECT 'img_' || CAST(doc_id AS VARCHAR) AS filename,
               strlen(text)::BIGINT AS n_bytes
        FROM documents
    ),
    decoded AS (
        SELECT filename, n_bytes,
               ((n_bytes * 7) % 1024 + 32)::INT AS width,
               ((n_bytes * 13) % 1024 + 32)::INT AS height,
               ['jpeg', 'png', 'gif'][(n_bytes % 3) + 1] AS format
        FROM meta
    )
    SELECT format,
           COUNT(*) AS n,
           SUM(n_bytes)::BIGINT AS total_bytes,
           ROUND(AVG(width), 6) AS avg_width,
           ROUND(AVG(height), 6) AS avg_height
    FROM decoded GROUP BY format
    """,
)
def ml_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing: opaque binary content →
    typed metadata via Arrow-batched mapInPandas
    (operators/multimodal.py). The decode kernel is a deterministic
    stub (no codec libs in this env) so the oracle can verify the
    full mapInPandas path, not just row counts."""
    meta = _image_meta(spark, sf_dir)
    return meta.groupBy("format").agg(
        F.count("*").alias("n"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(F.avg("width"), 6).alias("avg_width"),
        F.round(F.avg("height"), 6).alias("avg_height"),
    )


@register(
    "ml_resize_plan",
    """
    WITH meta AS (
        SELECT 'img_' || CAST(doc_id AS VARCHAR) AS filename,
               strlen(text)::BIGINT AS n_bytes
        FROM documents
    ),
    decoded AS (
        SELECT filename, n_bytes,
               ((n_bytes * 7) % 1024 + 32)::INT AS width,
               ((n_bytes * 13) % 1024 + 32)::INT AS height
        FROM meta
    ),
    plan AS (
        SELECT filename, width, height,
               CASE WHEN GREATEST(width, height) > 800
                    THEN 800.0 / GREATEST(width, height) ELSE 1.0 END AS scale
        FROM decoded
    )
    SELECT GREATEST(1, CAST(FLOOR(width * scale) AS INT)) AS target_width,
           GREATEST(1, CAST(FLOOR(height * scale) AS INT)) AS target_height,
           COUNT(*) AS n
    FROM plan GROUP BY target_width, target_height
    """,
)
def ml_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 — the ≤800 px downscale rule as a declarative resize plan
    (search_with_segments.py:62-67): target dims preserving aspect
    ratio, grouped to a small distribution. Pure Catalyst over the
    shared decoded-meta artifact (_image_meta) — the resize math never
    re-enters Python."""
    meta = _image_meta(spark, sf_dir)
    plan = multimodal.resize_plan(meta, max_side=800)
    return plan.groupBy("target_width", "target_height").agg(
        F.count("*").alias("n")
    )


# The kmeans certification grid: 4 well-separated axis clusters
# (coordinate g carries +1000 for group g = vec_id%4) of 64 points
# each, jittered per coordinate by ((vec_id div 4) div 2^j) % 4.
# Every value is a small integer, every cluster population is a power
# of two at every Lloyd iteration (assignments provably never move
# across a 1000-unit separation vs ≤3 jitter), so every intermediate
# — integer coordinate sums, /64 dyadic means, dot − |c|²/2 scores —
# is EXACT in double in any summation order: numpy (driver loop),
# Catalyst (sums), and DuckDB (oracle) agree bit for bit. The
# ann_recenter_compact certification trick applied to the full
# iterative loop.
_KMEANS_GRID = [
    f"CAST(1000 * (CASE WHEN vec_id % 4 = {j} THEN 1 ELSE 0 END)"
    f" + ((vec_id div 4) div {1 << j}) % 4 AS DOUBLE)"
    for j in range(4)
]

_KMEANS_ITER = """
CREATE OR REPLACE TEMP TABLE km_a AS
SELECT vec_id, v, cid AS cluster FROM (
    SELECT p.vec_id, p.v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
               list_dot_product(p.v, c.cv)
               - 0.5 * list_dot_product(c.cv, c.cv) DESC, c.cid) AS rn
    FROM km_pts p CROSS JOIN km_c c) WHERE rn = 1;
CREATE OR REPLACE TEMP TABLE km_c AS
SELECT cluster AS cid,
       [SUM(v[1]) / COUNT(*), SUM(v[2]) / COUNT(*),
        SUM(v[3]) / COUNT(*), SUM(v[4]) / COUNT(*)]::DOUBLE[] AS cv
FROM km_a GROUP BY cluster;
"""


@register(
    "ml_kmeans_clusters",
    f"""
    CREATE OR REPLACE TEMP TABLE km_pts AS
    SELECT vec_id, [
        (1000 * (CASE WHEN vec_id % 4 = 0 THEN 1 ELSE 0 END)
            + ((vec_id // 4) // 1) % 4)::DOUBLE,
        (1000 * (CASE WHEN vec_id % 4 = 1 THEN 1 ELSE 0 END)
            + ((vec_id // 4) // 2) % 4)::DOUBLE,
        (1000 * (CASE WHEN vec_id % 4 = 2 THEN 1 ELSE 0 END)
            + ((vec_id // 4) // 4) % 4)::DOUBLE,
        (1000 * (CASE WHEN vec_id % 4 = 3 THEN 1 ELSE 0 END)
            + ((vec_id // 4) // 8) % 4)::DOUBLE
    ] AS v
    FROM embeddings WHERE vec_id < 256;
    CREATE OR REPLACE TEMP TABLE km_c AS
    SELECT vec_id AS cid, v AS cv FROM km_pts WHERE vec_id < 4;
    {_KMEANS_ITER}
    {_KMEANS_ITER}
    {_KMEANS_ITER}
    SELECT a.cluster::INT AS cluster,
           COUNT(*)::BIGINT AS n_vectors,
           SUM(list_dot_product(a.v, c.cv)) / COUNT(*) AS avg_center_dot,
           ANY_VALUE(c.cv[1]) AS c0, ANY_VALUE(c.cv[2]) AS c1,
           ANY_VALUE(c.cv[3]) AS c2, ANY_VALUE(c.cv[4]) AS c3
    FROM (
        SELECT vec_id, v, cid AS cluster FROM (
            SELECT p.vec_id, p.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
                       list_dot_product(p.v, c.cv)
                       - 0.5 * list_dot_product(c.cv, c.cv) DESC,
                       c.cid) AS rn
            FROM km_pts p CROSS JOIN km_c c) WHERE rn = 1
    ) a JOIN km_c c ON a.cluster = c.cid
    GROUP BY a.cluster
    """,
)
def ml_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative k-means — 3 full Lloyd rounds through the REAL
    operator (operators/similarity.py::kmeans: numpy argmax-L2
    assignment, Catalyst coordinate sums, driver re-center, final
    reassignment) — certified END TO END against a DuckDB oracle that
    replays the identical iterations in SQL (per-round temp tables).
    Certifiable because the input is the dyadic-exact grid above
    (_KMEANS_GRID): integer coordinates, power-of-two populations at
    every iteration, so means and scores are exact doubles in any
    summation order on all three engines — no rounding surface at
    all; the output carries RAW doubles. Emits per-cluster size, mean
    dot-to-center, and the final centroid coordinates. The
    real-embedding invariants (determinism, monotone inertia, exact
    copies co-clustered) stay pytest-pinned in tests/test_dedup.py."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 256)
    pts = emb.select(
        "vec_id",
        F.array(*[F.expr(c) for c in _KMEANS_GRID]).alias("embedding"),
    )
    assigned, cents = similarity.kmeans(pts, k=4, max_iter=3)
    cents_lit = F.lit(cents).cast("array<array<double>>")
    center = F.element_at(cents_lit, F.col("cluster") + 1)
    return (
        assigned.withColumn("d2c", V.dot(F.col("embedding"), center))
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_vectors"),
            F.avg("d2c").alias("avg_center_dot"),
        )
        .select(
            "cluster",
            "n_vectors",
            "avg_center_dot",
            *[
                F.element_at(
                    F.element_at(cents_lit, F.col("cluster") + 1), i + 1
                ).alias(f"c{i}")
                for i in range(4)
            ],
        )
        .orderBy("cluster")
    )


@register(
    "ml_frame_sample",
    """
    WITH meta AS (
        SELECT 'vid_' || CAST(doc_id AS VARCHAR) AS filename,
               strlen(text)::BIGINT AS n_bytes
        FROM documents WHERE doc_id < 200
    )
    SELECT filename,
           LEAST((n_bytes % 240) // 30 + 1, 8)::BIGINT AS n_frames,
           (LEAST((n_bytes % 240) // 30 + 1, 8)::INT - 1) * 30 AS max_idx
    FROM meta
    """,
)
def ml_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (1 row → N frame rows, the UDTF fan-out
    shape of U2): deterministic stub decode, real mapInPandas
    batch-iteration and schema. The stub's frame count/index
    arithmetic is integer-pure, so the oracle certifies the whole
    mapInPandas fan-out path (stride 30, cap 8), not just row
    counts."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    videos = docs.select(
        F.concat(F.lit("vid_"), F.col("doc_id").cast("string")).alias("filename"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    frames = multimodal.sample_frames(videos, every_nth=30, max_frames=8)
    return frames.groupBy("filename").agg(
        F.count("*").alias("n_frames"),
        F.max("frame_idx").alias("max_idx"),
    )


@register(
    "knn_percentage",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(((list_dot_product(e.embedding::DOUBLE[], q.v) + 1.0) / 2.0) * 100.0, 6)
               AS percentage
    FROM embeddings e, q
    ORDER BY percentage DESC, e.vec_id
    LIMIT 10
    """,
)
def knn_percentage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 — the client-side percentage calibration
    ((score/2)·100, search_test_image.py:75 /
    search_with_segments.py:459) on top of Q1."""
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    scored = emb.select(
        "vec_id",
        F.round(
            V.percentage_score(
                V.calibrated_whole_score(
                    V.dot(F.col("embedding"), F.lit(q).cast("array<double>"))
                )
            ),
            6,
        ).alias("percentage"),
    )
    return scored.orderBy(F.desc("percentage"), F.col("vec_id")).limit(10)


@register(
    "agg_salted_group",
    """
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value,
           MAX(value) AS max_value
    FROM events GROUP BY event_type
    """,
)
def agg_salted_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase aggregation (operators/skew.py):
    groupBy (key, salt) partials then merge by key — identical result
    to the plain groupBy the oracle runs, but no single reducer ever
    sees a whole hot key. event_type is low-cardinality (5 keys ×
    2000 rows each at sf0.01) — exactly the shape that melts a single
    reducer at 100 TB."""
    from .operators.skew import salted_aggregate

    ev = _t(spark, sf_dir, "events")
    out = salted_aggregate(
        ev,
        ["event_type"],
        {
            "n": ("*", "count"),
            "sum_value_raw": ("value", "sum"),
            "max_value": ("value", "max"),
        },
        salt_buckets=16,
    )
    return out.select(
        "event_type",
        "n",
        F.round("sum_value_raw", 2).alias("sum_value"),
        "max_value",
    )


@register(
    "etl_row_range_select",
    """
    WITH ranked AS (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
        FROM documents
    )
    SELECT lang, COUNT(*) AS n, SUM(n_chars)::BIGINT AS sum_chars,
           MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
    FROM ranked
    WHERE rn BETWEEN 101 AND 300
    GROUP BY lang
    """,
)
def etl_row_range_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — 1-based row-range source selection
    (SAM/sam_segment_clip_pipeline.py:140-146): window row_number +
    between over a deterministic order; the seeded-sample variant is
    the same operator with orderBy(rand(seed)) (documented
    divergence from Python's random.sample)."""
    from .sources.readers import select_rows

    docs = _t(spark, sf_dir, "documents")
    sel = select_rows(docs, "doc_id", row_range=(101, 300))
    return sel.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("first_id"),
        F.max("doc_id").alias("last_id"),
    )


@register(
    "join_ext_fallback",
    """
    WITH features AS (
        SELECT doc_id,
               'doc_' || CAST(doc_id AS VARCHAR) ||
               CASE (doc_id % 3) WHEN 0 THEN '.jpg'
                                 WHEN 1 THEN '.jpeg'
                                 ELSE '.png' END AS filename
        FROM documents
    ),
    meta AS (
        SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.jpg' AS filename,
               source
        FROM documents WHERE doc_id % 2 = 0
    ),
    joined AS (
        SELECT f.doc_id, m.source
        FROM features f
        LEFT JOIN meta m
          ON regexp_replace(f.filename, '\\.(jpg|jpeg|png)$', '')
           = regexp_replace(m.filename, '\\.(jpg|jpeg|png)$', '')
    )
    SELECT COUNT(*) AS n,
           COUNT(source) AS n_matched,
           (COUNT(*) - COUNT(source))::BIGINT AS n_unmatched
    FROM joined
    """,
)
def join_ext_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — filename join with extension fallback
    (SAM/update_elasticsearch_with_segments.py:138-162): the reference
    retries .jpg/.jpeg/.png lookups per document; here both sides
    normalize to the stem once and it's a single equi join."""
    docs = _t(spark, sf_dir, "documents")
    ext = (
        F.when(F.col("doc_id") % 3 == 0, ".jpg")
        .when(F.col("doc_id") % 3 == 1, ".jpeg")
        .otherwise(".png")
    )
    features = docs.select(
        "doc_id",
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), ext).alias("filename"),
    )
    meta = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".jpg")).alias(
            "filename"
        ),
        "source",
    )
    stem = lambda c: F.regexp_replace(c, r"\.(jpg|jpeg|png)$", "")  # noqa: E731
    # no broadcast hint: meta is half the corpus (row-per-image),
    # so the join side must stay size-chosen — SMJ at 100×
    joined = features.withColumn("__stem", stem(F.col("filename"))).join(
        meta.withColumn("__stem", stem(F.col("filename"))).drop("filename"),
        "__stem",
        "left",
    )
    return joined.agg(
        F.count("*").alias("n"),
        F.count("source").alias("n_matched"),
        (F.count("*") - F.count("source")).alias("n_unmatched"),
    )


@register(
    "segment_search_tag_filtered",
    f"""
    WITH {_SEG_CTE},
    labeled AS (
        SELECT CAST(vec_id // 10 AS BIGINT) AS image_id, vec_id, label
        FROM embeddings
    ),
    allowed AS (
        SELECT DISTINCT image_id FROM labeled WHERE label IN (1, 3, 5)
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM seg WHERE image_id = 0),
    cand AS (
        SELECT s.* FROM seg s JOIN allowed a ON a.image_id = s.image_id
    ),
    best AS (
        SELECT c.image_id, q.qid, MAX(list_dot_product(c.v, q.qv)) AS best_sim
        FROM cand c, q
        GROUP BY c.image_id, q.qid
    )
    SELECT image_id,
           ROUND(AVG(best_sim), 6) AS avg_similarity,
           ROUND(MAX(best_sim), 6) AS max_segment_similarity
    FROM best
    GROUP BY image_id
    ORDER BY avg_similarity DESC, image_id
    LIMIT 10
    """,
)
def segment_search_tag_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 with tag pre-filter (search_with_segments.py:203-224): the
    ES terms filter inside the candidate query becomes a semi-join on
    the allowed image ids BEFORE any scoring — only matching images'
    segments are ever dotted (filter-before-expensive-work, §4)."""
    emb = _t(spark, sf_dir, "embeddings")
    seg = emb.select(
        F.floor(F.col("vec_id") / 10).cast("long").alias("image_id"),
        "vec_id",
        "label",
        F.col("embedding").alias("clip_features"),
    )
    allowed = (
        seg.filter(F.col("label").isin(1, 3, 5)).select("image_id").distinct()
    )
    # no broadcast hint on `allowed` — it is a constant fraction of
    # ALL image ids (corpus-growing), so the semi-join stays
    # size-chosen (BHJ while small, shuffle semi at 100×)
    cand = seg.join(allowed, "image_id", "left_semi")
    qsegs = seg.filter(F.col("image_id") == 0).select(
        F.col("vec_id").alias("q_segment_id"),
        F.col("clip_features").alias("features"),
    )
    out = retrieval.segment_search(
        cand, qsegs, top_k=10, query_rows=_query_segment_rows(spark, sf_dir),
        arrow=_vectors_arrow(sf_dir),
    )
    return out.select(
        "image_id",
        F.round("avg_similarity", 6).alias("avg_similarity"),
        F.round("max_segment_similarity", 6).alias("max_segment_similarity"),
    )


@register(
    "zero_shot_topk_tags",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    vocab AS (
        SELECT 'tag_' || CAST(vec_id AS VARCHAR) AS tag, v AS tv
        FROM e WHERE vec_id < 8
    ),
    body AS (SELECT vec_id, v FROM e WHERE vec_id >= 100 AND vec_id < 200),
    logits AS (
        SELECT b.vec_id, vo.tag,
               100.0 * list_dot_product(b.v, vo.tv) AS logit
        FROM body b CROSS JOIN vocab vo
    )
    SELECT vec_id, tag, ROUND(logit, 6) AS logit, rank FROM (
        SELECT vec_id, tag, logit,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY logit DESC, tag) AS INT) AS rank
        FROM logits
    ) WHERE rank <= 5
    """,
)
def zero_shot_topk_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5/U5 — zero-shot top-k tags, SQL-expressible core: logits =
    100·(img @ textᵀ) against a broadcast vocab matrix, explode +
    window top-5 per item (SAM/sam_segment_clip_pipeline.py:240-254;
    softmax is rank-preserving so ranking on raw logits is exact —
    the softmax'd confidence lives in the ml_zero_shot_tags twin)."""
    emb = _t(spark, sf_dir, "embeddings")
    vocab = emb.filter(F.col("vec_id") < 8).select(
        F.concat(F.lit("tag_"), F.col("vec_id").cast("string")).alias("tag"),
        F.col("embedding").alias("tag_vec"),
    )
    body = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200))
    logits = body.crossJoin(F.broadcast(vocab)).select(
        "vec_id",
        "tag",
        (F.lit(100.0) * V.dot(F.col("embedding"), F.col("tag_vec"))).alias("logit"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("logit"), F.col("tag"))
    return (
        logits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("vec_id", "tag", F.round("logit", 6).alias("logit"), "rank")
    )


@register(
    "etl_upsert_merge",
    """
    WITH base AS (SELECT doc_id, source, n_chars FROM documents),
    updates AS (
        SELECT doc_id, n_chars + 1000 AS n_chars
        FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id + 5000000 AS doc_id, 42 AS n_chars
        FROM documents WHERE doc_id % 50 = 0
    ),
    merged AS (
        SELECT COALESCE(b.doc_id, u.doc_id) AS doc_id,
               b.source AS source,
               COALESCE(u.n_chars, b.n_chars) AS n_chars
        FROM base b FULL OUTER JOIN updates u ON b.doc_id = u.doc_id
    )
    SELECT COUNT(*) AS n_rows,
           SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_inserted,
           SUM(n_chars)::BIGINT AS sum_chars
    FROM merged
    """,
)
def etl_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 — bulk partial update (upsert) as full-outer join + coalesce
    (SAM/update_elasticsearch_with_segments.py:205-268 merged per-doc;
    here one set-oriented merge, sources/writers.py::upsert_parquet).
    Updated rows get new n_chars; unmatched update keys insert."""
    from .sources.writers import upsert_parquet

    docs = _t(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", "n_chars")
    updates = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", (F.col("n_chars") + 1000).alias("n_chars"))
        .unionByName(
            docs.filter(F.col("doc_id") % 50 == 0).select(
                (F.col("doc_id") + 5000000).alias("doc_id"),
                F.lit(42).cast("long").alias("n_chars"),
            )
        )
    )
    merged = upsert_parquet(base, updates, "doc_id")
    return merged.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("source").isNull(), 1).otherwise(0)).alias("n_inserted"),
        F.sum("n_chars").alias("sum_chars"),
    )


@register(
    "agg_keyword_scan",
    """
    WITH kw AS (
        SELECT UNNEST(['table', 'stream', 'merge', 'window', 'missingkw']) AS keyword
    )
    SELECT UPPER(k.keyword[1]) || k.keyword[2:] AS keyword,
           SUM(CASE WHEN contains(LOWER(d.text), k.keyword) THEN 1 ELSE 0 END)::BIGINT
               AS n_docs
    FROM kw k CROSS JOIN documents d
    GROUP BY k.keyword
    """,
)
def agg_keyword_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F7 — keyword-dim × contains scan with initcap display
    (analyze_dataset_distribution.py:19-45): the 60-keyword location
    scan becomes one broadcast keyword dim crossed with the corpus —
    one pass over the text, not one pass per keyword."""
    docs = _t(spark, sf_dir, "documents")
    kw = spark.createDataFrame(
        [("table",), ("stream",), ("merge",), ("window",), ("missingkw",)],
        ["keyword"],
    )
    return (
        docs.crossJoin(F.broadcast(kw))
        .groupBy("keyword")
        .agg(
            F.sum(
                F.when(F.lower(F.col("text")).contains(F.col("keyword")), 1).otherwise(0)
            ).alias("n_docs")
        )
        .select(F.initcap("keyword").alias("keyword"), "n_docs")
    )


# =====================================================================
# Streaming-equivalent batch window aggregation (M6)
# =====================================================================


@register(
    "events_hopping_window",
    """
    WITH w AS (
        SELECT make_timestamp(
                   ((FLOOR(epoch(ts) / 1800))::BIGINT * 1800 - j * 1800)
                   * 1000000) AS window_start,
               event_type, value, ts
        FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS j)
    )
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM w GROUP BY window_start, event_type
    """,
)
def events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping 1-hour/30-minute sliding windows — each event counted
    in two overlapping windows (streaming/ingest.py::
    hopping_window_counts; identical transformation is streamable
    with a watermark). The oracle replays Spark's epoch-aligned
    window grid: starts at the 30-minute grid point and the one
    before it."""
    ev = _t(spark, sf_dir, "events")
    out = hopping_window_counts(ev, "1 hour", "30 minutes")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
    )


@register(
    "events_tumbling_window",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY window_start, event_type
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window counts — the batch twin of the
    Structured Streaming ingest aggregation (streaming/ingest.py);
    identical transformation runs on the stream in tests."""
    ev = _t(spark, sf_dir, "events")
    out = tumbling_window_counts(ev, "1 hour")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
    )


# =====================================================================
# ML UDF surface (U1-U5) — deterministic stubs, rows-only checks
# =====================================================================


@register("ml_stub_text_embeddings")  # sha256-seeded stub — rows-only
def ml_stub_text_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1-analog — Arrow-batched stub text encoder over documents:
    returns (doc_id, dim, l2_norm≈1). Exercises the pandas-UDF
    embedding plumbing end-to-end."""
    docs = _t(spark, sf_dir, "documents")
    enc = encoders.stub_text_encoder_udf(dim=64)
    emb = docs.select("doc_id", enc(F.col("text")).alias("embedding"))
    return emb.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        F.round(V.l2_norm(F.col("embedding")), 4).alias("l2_norm"),
    )


@register(
    "ml_stub_text_embeddings_portable",
    """
    WITH h AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(0::BIGINT,
                       list_transform(generate_series(1, LENGTH(text)),
                                      i -> ascii(text[i])::BIGINT)),
                   (acc, c) -> (acc * 31 + c) % 1000000007) AS h
        FROM documents
    ),
    raw AS (
        SELECT doc_id,
               list_transform(generate_series(0, 63),
                   i -> (((h + i) * 387420489 + 12345) % 1000000007)
                        / 1000000007.0 - 0.5) AS e
        FROM h
    ),
    nrm AS (SELECT doc_id, e, SQRT(list_dot_product(e, e)) AS n FROM raw)
    SELECT doc_id, 64 AS dim,
           ROUND(e[1] / n, 6) AS e0,
           ROUND(e[2] / n, 6) AS e1
    FROM nrm
    """,
)
def ml_stub_text_embeddings_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1-analog with the PORTABLE stub encoder
    (ml/encoders.py::portable_text_encoder_udf): the DuckDB oracle
    replays the hash-affine arithmetic and L2 normalization, so the
    Arrow-batched embedding-UDF plumbing is certified on VALUES —
    the certification the sha256 stub (ml_stub_text_embeddings,
    rows-only) cannot get."""
    docs = _t(spark, sf_dir, "documents")
    enc = encoders.portable_text_encoder_udf(dim=64)
    emb = docs.select("doc_id", enc(F.col("text")).alias("embedding"))
    return emb.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1), 6).alias("e0"),
        F.round(F.element_at("embedding", 2), 6).alias("e1"),
    )


@register(
    "ml_zero_shot_tags",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    body AS (SELECT vec_id, v FROM e WHERE vec_id < 50),
    vocab AS (
        SELECT vec_id AS tid, 'tag_' || CAST(vec_id AS VARCHAR) AS tag, v AS tv
        FROM e WHERE vec_id < 8
    ),
    logit AS (
        SELECT b.vec_id, vo.tid, vo.tag,
               100.0 * list_dot_product(b.v, vo.tv) AS l
        FROM body b, vocab vo
    ),
    mx AS (SELECT vec_id, MAX(l) AS lmax FROM logit GROUP BY vec_id),
    p AS (
        SELECT l.vec_id, l.tid, l.tag, EXP(l.l - m.lmax) AS ex
        FROM logit l JOIN mx m USING (vec_id)
    ),
    s AS (SELECT vec_id, SUM(ex) AS se FROM p GROUP BY vec_id),
    top AS (
        SELECT p.vec_id, p.tag, p.ex / s.se AS prob,
               ROW_NUMBER() OVER (
                   PARTITION BY p.vec_id ORDER BY p.ex DESC, p.tid) AS rn
        FROM p JOIN s USING (vec_id)
    )
    SELECT vec_id, 5 AS n_tags, tag AS top_tag,
           ROUND(prob, 4) AS top_conf
    FROM top WHERE rn = 1
    """,
)
def ml_zero_shot_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 — zero-shot tagger: logits = 100·(img @ textᵀ), softmax over
    the full vocabulary, top-5 — against a precomputed broadcast
    vocab matrix (fixes the reference's recompute-per-segment,
    SAM/sam_segment_clip_pipeline.py:229-241). The oracle replays the
    max-stabilized softmax arithmetic, certifying the pandas-UDF
    tagger end-to-end (top tag + rounded confidence)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    vocab = [
        (f"tag_{i}", v)
        for i, v in enumerate(_leading_vectors(spark, sf_dir, 8))
    ]
    tagged = encoders.zero_shot_tags(emb, "embedding", vocab, top_k=5)
    return tagged.select(
        "vec_id",
        F.size("tags").alias("n_tags"),
        F.col("tags")[0]["tag"].alias("top_tag"),
        F.round(F.col("tags")[0]["confidence"].cast("double"), 4).alias("top_conf"),
    )


@register("ml_segment_pipeline")  # stub SAM — rows-only
def ml_segment_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2/U3 — SAM segmentation UDTF plumbing: documents as fake image
    payloads → mapInPandas 1→N segment rows, sorted by area desc and
    capped (SAM/sam_segment_clip_pipeline.py:157-200)."""
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("img_"), F.col("doc_id").cast("string"), F.lit(".jpg")).alias(
            "filename"
        ),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    segs = encoders.segment_image(docs, max_segments=10, min_area=500)
    return segs.groupBy("filename").agg(
        F.count("*").alias("n_segments"),
        F.max("segment_area").alias("max_area"),
        F.round(F.avg("stability_score"), 4).alias("avg_stability"),
    )


@register(
    "ml_segment_portable",
    """
    WITH imgs AS (
        SELECT 'img_' || CAST(doc_id AS VARCHAR) || '.jpg' AS filename,
               sha256(text) AS h,
               LEAST(64, strlen(text))::INT AS crop_bytes
        FROM documents
    ),
    n AS (
        SELECT filename, h, crop_bytes,
               (('0x' || substr(h, 1, 2))::BIGINT % 10 + 1)::INT AS n_seg
        FROM imgs
    ),
    areas AS (
        -- the stub reads digest bytes [4i, 4i+2); past the 32-byte
        -- digest Python slices to b'' and int.from_bytes(b'') == 0
        SELECT filename, crop_bytes,
               (500 + CASE WHEN 8 * i + 4 <= 64
                           THEN ('0x' || substr(h, 8 * i + 1, 4))::BIGINT
                           ELSE 0 END)::INT AS segment_area
        FROM (SELECT filename, h, crop_bytes,
                     UNNEST(generate_series(0, n_seg - 1)) AS i
              FROM n)
    )
    SELECT filename,
           ROW_NUMBER() OVER (PARTITION BY filename
                              ORDER BY segment_area DESC)::INT AS segment_id,
           segment_area, crop_bytes
    FROM areas
    """,
)
def ml_segment_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAM-stub segmentation UDTF value-certified: the oracle
    replays the stub's sha256-derived segment count, big-endian area
    bytes, area-desc ordering, and crop byte-slice length (DuckDB's
    sha256 matches the UDF's hashlib digest on the same utf-8
    payload), so the mapInPandas 1→N fan-out is hash-checked row by
    row — integer-exact columns only; the float32 stability score
    stays on the rows-only twin (ml_segment_pipeline). Equal areas
    may swap ranks between engines, but tied rows are identical, so
    the value-hash is stable."""
    return _segstub(spark, sf_dir)


def _segstub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared portable segment corpus (filename, segment_id,
    segment_area, crop_bytes) — the plan body both ml_segment_portable
    and report_segment_stats certify against one sha256-replay CTE."""
    def _build() -> DataFrame:
        # stub kernel ≈ free per row → fewer, fatter Arrow batches (see
        # ml_multimodal_meta); a real SAM pass wants the full scan width
        docs = _t(spark, sf_dir, "documents").coalesce(4).select(
            F.concat(
                F.lit("img_"), F.col("doc_id").cast("string"), F.lit(".jpg")
            ).alias("filename"),
            F.encode(F.col("text"), "utf-8").alias("content"),
        )
        segs = encoders.segment_image(
            docs, max_segments=10, min_area=500,
            # projection pushed INTO the UDTF: bbox/stability are never
            # built or Arrow-transferred (encoders.segment_image columns=)
            columns=("filename", "segment_id", "segment_area", "crop"),
        )
        return segs.select(
            "filename",
            "segment_id",
            "segment_area",
            F.length("crop").alias("crop_bytes"),
        )

    # segmentation is INGEST work — the reference runs SAM once per
    # image and stores the segments (sam_segment_clip_pipeline.py
    # → Elasticsearch index); the index cache models that steady state
    # (build priced in index_build_s). Correctness runs (cache off)
    # still execute the UDTF inside the query under test.
    return indexes.materialized(spark, f"segstub:{sf_dir}", _build)


@register("ml_ingest_pipeline")  # file-IO pipeline, stub models — rows-only
def ml_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ingest — the reference's entry points A/B as ONE
    distributed flow (SURVEY.md §3.1-3.2: extract_clip_features.py
    walk→encode→store; SAM/sam_segment_clip_pipeline.py:117-381
    segment→crop→encode→tag→store):

    documents → binary files on disk → recursive binaryFile scan
    (S1) → SAM-stub segmentation UDTF (U2, 1→N rows) → crop encoder
    (U1) → broadcast zero-shot tagger (U5) → parquet index table
    (S7) → summary aggregate over the re-read index.

    Every model stage is the deterministic stub twin, so the output
    is stable across runs; file IO makes this rows-only (no SQL
    oracle). Fixed doc subset keeps the demo dir small."""
    import os
    import tempfile

    from .sources.readers import read_image_dir
    from .sources.writers import write_binary_files, write_parquet_table

    tail = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = os.path.join(tempfile.gettempdir(), f"dferp_ingest_{tail}")
    img_dir = os.path.join(base, "images")
    index_dir = os.path.join(base, "index.parquet")

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select(
            F.concat(F.lit("img_"), F.col("doc_id").cast("string"), F.lit(".jpg")).alias(
                "filename"
            ),
            F.encode(F.col("text"), "utf-8").alias("content"),
        )
    )
    write_binary_files(docs, img_dir)

    scanned = read_image_dir(spark, img_dir)
    segs = encoders.segment_image(scanned, max_segments=5, min_area=500)
    feats = segs.withColumn(
        "features", encoders.stub_image_encoder_udf(dim=64)(F.col("crop"))
    )
    vocab = [
        (t, encoders._hash_projection(t.encode("utf-8"), 64).tolist())
        for t in ("cat", "dog", "tree", "car", "house", "person", "sky", "water")
    ]
    tagged = encoders.zero_shot_tags(feats, "features", vocab, top_k=3)
    write_parquet_table(
        tagged.select(
            "filename", "segment_id", "segment_area", "stability_score", "tags"
        ),
        index_dir,
    )

    index = spark.read.parquet(index_dir)
    return (
        index.select("filename", "segment_id", F.explode("tags").alias("t"))
        .groupBy(F.col("t.tag").alias("tag"))
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("filename").alias("n_images"),
            F.round(F.avg("t.confidence"), 6).alias("avg_confidence"),
        )
        .orderBy(F.desc("n"), "tag")
    )


@register(
    "nested_tags_two_level",
    """
    WITH seg AS (
        SELECT CAST(vec_id // 10 AS BIGINT) AS image_id, vec_id, label
        FROM embeddings
    ),
    tags AS (
        SELECT image_id, vec_id,
               't' || CAST(label % 5 AS VARCHAR) AS tag,
               ((vec_id % 90) + 10) / 100.0 AS confidence
        FROM seg
        UNION ALL
        SELECT image_id, vec_id,
               't' || CAST((label + 2) % 5 AS VARCHAR) AS tag,
               ((vec_id % 50) + 25) / 100.0 AS confidence
        FROM seg
    )
    SELECT image_id,
           COUNT(DISTINCT vec_id)::BIGINT AS n_segments,
           COUNT(*)::BIGINT AS n_tags,
           COUNT(DISTINCT tag)::BIGINT AS n_distinct_tags,
           ROUND(MAX(confidence), 6) AS max_confidence,
           ROUND(SUM(confidence), 6) AS sum_confidence
    FROM tags GROUP BY image_id
    """,
)
def nested_tags_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.4 two-level nested tag model — the reference's per-image
    ``segment_tags: [{segment…, tags: [{tag, confidence}]}]`` document
    layout (SAM/update_elasticsearch_with_segments.py:60-79), i.e. an
    array<struct<…, array<struct<tag,confidence>>>> column.

    Flat (image, segment, tag, confidence) rows are rolled up into the
    double-nested form (inner tag array inline per segment, outer
    array via collect_list), then every output aggregate is computed
    FROM the nested column with higher-order functions — flatten /
    transform / aggregate — while the oracle derives the same numbers
    from the flat model. Any loss or reordering in the nesting
    round-trip breaks the hash match."""
    emb = _t(spark, sf_dir, "embeddings")
    seg = emb.select(
        F.floor(F.col("vec_id") / 10).cast("long").alias("image_id"),
        "vec_id",
        "label",
    )
    # level 2: the per-segment tags array (two deterministic tags)
    with_tags = seg.select(
        "image_id",
        F.struct(
            F.col("vec_id"),
            F.array(
                F.struct(
                    F.concat(F.lit("t"), (F.col("label") % 5).cast("string")).alias(
                        "tag"
                    ),
                    (((F.col("vec_id") % 90) + 10) / F.lit(100.0)).alias("confidence"),
                ),
                F.struct(
                    F.concat(
                        F.lit("t"), ((F.col("label") + 2) % 5).cast("string")
                    ).alias("tag"),
                    (((F.col("vec_id") % 50) + 25) / F.lit(100.0)).alias("confidence"),
                ),
            ).alias("tags"),
        ).alias("segment"),
    )
    # level 1: per-image array of segment structs (sorted for
    # deterministic downstream folds)
    nested = with_tags.groupBy("image_id").agg(
        F.array_sort(F.collect_list("segment")).alias("segment_tags")
    )
    all_tags = F.flatten(
        F.transform("segment_tags", lambda s: s["tags"])
    )
    return nested.select(
        "image_id",
        F.size("segment_tags").cast("long").alias("n_segments"),
        F.size(all_tags).cast("long").alias("n_tags"),
        F.size(
            F.array_distinct(F.transform(all_tags, lambda t: t["tag"]))
        ).cast("long").alias("n_distinct_tags"),
        F.round(
            F.array_max(F.transform(all_tags, lambda t: t["confidence"])), 6
        ).alias("max_confidence"),
        F.round(
            F.aggregate(
                F.transform(all_tags, lambda t: t["confidence"]),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("sum_confidence"),
    )


# =====================================================================
# Corpus curation II: chunking, mixture sampling, LM quality scoring,
# range similarity search (round-3 additions; driver slots in round 4)
# =====================================================================


@register(
    "text_chunk_windows",
    f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(LOWER(text), '\\s+'),
                                   t -> LENGTH(t) > 0) AS t
        FROM documents
    ),
    nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
    chunks AS (
        SELECT doc_id, t,
               UNNEST(generate_series(
                   0, (1 + GREATEST(CEIL((n - 16) / 12.0), 0))::BIGINT - 1
               ))::INT AS chunk_idx
        FROM nz
    ),
    sliced AS (
        SELECT doc_id, chunk_idx,
               t[chunk_idx * 12 + 1 : chunk_idx * 12 + 16] AS chunk
        FROM chunks
    )
    SELECT doc_id, chunk_idx, len(chunk)::BIGINT AS n_tokens,
           list_reduce(
               list_prepend(0::BIGINT, list_transform(chunk, tok ->
                   list_reduce(
                       list_prepend(0::BIGINT,
                           list_transform(generate_series(1, LENGTH(tok)),
                                          i -> ascii(tok[i])::BIGINT)),
                       (acc, c) -> (acc * 31 + c) % {dedup._PORT_P}))),
               (a, h) -> (a * {dedup._PORT_B} + h) % {dedup._PORT_P}
           ) AS chunk_fp
    FROM sliced
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing prep: overlapping 16-token chunks with
    stride 12 (operators/curation.py::chunk_windows), each carrying a
    portable content fingerprint for chunk-level dedup. Map-only — no
    shuffle at any scale; the oracle replays the chunking rule and the
    fingerprint arithmetic exactly."""
    docs = _t(spark, sf_dir, "documents", wide=True)
    out = curation.chunk_windows(docs, window=16, stride=12)
    return out.select(
        "doc_id",
        "chunk_idx",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "chunk_fp",
    )


@register(
    "etl_mixture_sample",
    f"""
    WITH kept AS (
        SELECT * FROM documents
        WHERE (((doc_id % {dedup._PORT_P} + {dedup._PORT_P})
                % {dedup._PORT_P}) * {curation._MIX_A} + {curation._MIX_C})
              % {dedup._PORT_P} % 1000
              < CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 500
                            WHEN 'src2' THEN 250 ELSE 100 END
    )
    SELECT source, lang, COUNT(*) AS n_kept,
           SUM(doc_id)::BIGINT AS id_checksum,
           ROUND(AVG(n_chars), 6) AS avg_chars
    FROM kept GROUP BY source, lang
    """,
)
def etl_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture sampling: deterministic per-source rates
    (src0 100%, src1 50%, src2 25%, rest 10%) via a portable hash
    predicate (operators/curation.py::mixture_sample) — the data-
    mixture knob as a reproducible map-only filter, no RNG state.
    The id checksum certifies the exact selected SET, not just
    counts."""
    docs = _t(spark, sf_dir, "documents")
    kept = curation.mixture_sample(
        docs, {"src0": 1.0, "src1": 0.5, "src2": 0.25}, default_rate=0.1
    )
    return kept.groupBy("source", "lang").agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").alias("id_checksum"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


@register(
    "text_unigram_logprob",
    """
    WITH toks AS (
        SELECT doc_id, UNNEST(list_filter(
            string_split_regex(LOWER(text), '\\s+'),
            t -> LENGTH(t) > 0)) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf
           FROM toks GROUP BY doc_id, tok),
    freq AS (SELECT tok, SUM(tf) AS c FROM tf GROUP BY tok),
    tot AS (SELECT SUM(c) AS total FROM freq)
    SELECT doc_id, SUM(tf)::BIGINT AS n_tokens,
           ROUND(SUM(tf * -LN(c / total)) / SUM(tf), 6) AS avg_nll
    FROM tf JOIN freq USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality proxy: per-document mean unigram
    negative log-likelihood under the corpus's own unigram model
    (operators/curation.py::unigram_logprob) — the standard
    "perplexity filter" one rung below a real KenLM. The unigram model
    (tok, c, total) is RESIDENT language-model metadata (r12 —
    curation.unigram_vocab via indexes.materialized: Lucene keeps
    exactly these term stats in segment metadata), so the scoring pass
    is one corpus tf aggregation joined to the broadcast of the
    persisted vocab; sublinear vocab state (Heaps' law) at scale."""
    docs = _t(spark, sf_dir, "documents", wide=True)
    vocab = indexes.materialized(
        spark,
        f"unigram_vocab:{sf_dir}",
        lambda: curation.unigram_vocab(docs),
    )
    out = curation.unigram_logprob(docs, vocab_df=vocab)
    return out.select(
        "doc_id", "n_tokens", F.round("avg_nll", 6).alias("avg_nll")
    )


@register(
    "text_tfidf_keywords",
    """
    WITH toks AS (
        SELECT doc_id, UNNEST(list_filter(
            string_split_regex(LOWER(COALESCE(text, '')), '\\s+'),
            t -> LENGTH(t) > 0)) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, COUNT(*) AS dfc FROM tf GROUP BY tok),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
        SELECT doc_id, tok AS term,
               ROUND((CAST(tf AS DOUBLE)
                      / CAST(SUM(tf) OVER (PARTITION BY doc_id) AS DOUBLE))
                     * LN(CAST(n + 1 AS DOUBLE) / CAST(dfc + 1 AS DOUBLE)),
                     6) AS tfidf
        FROM tf JOIN dfreq USING (tok) CROSS JOIN n
    )
    SELECT doc_id, rank, term, tfidf FROM (
        SELECT doc_id, term, tfidf,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term
               )::INT AS rank
        FROM scored
    ) WHERE rank <= 3
    """,
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 tokens by tf-idf
    (operators/curation.py::tfidf_keywords) — searchable topic keys
    for every document, the corpus-statistics analogue of the
    reference's per-image tag vocabulary. One full-token shuffle with
    document length carried map-side from the token array, a
    broadcast vocab join, and a single rank-limit window
    (WindowGroupLimit cuts to top-3 map-side). N is resident index
    metadata (r12): passed as a literal, so the 1-row count aggregate
    and its broadcast job leave the per-query plan."""
    docs = _t(spark, sf_dir, "documents", wide=True)
    n = indexes.materialized_value(
        spark, f"n_docs:{sf_dir}", lambda: docs.count()
    )
    return curation.tfidf_keywords(docs, top_n=3, n_docs=n)


@register(
    "ann_range_search",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 42)
    SELECT e.vec_id,
           ROUND(list_dot_product(e.embedding::DOUBLE[], q.v), 6) AS cosine
    FROM embeddings e, q
    WHERE ROUND(list_dot_product(e.embedding::DOUBLE[], q.v), 6) >= 0.2
      AND e.vec_id <> 42
    """,
)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range similarity search: ALL vectors within cosine ≥ τ of the
    query (not top-k) — the radius-query sibling of ann_brute_force,
    the primitive behind near-dup candidate pulls ("everything closer
    than τ"). One scan, predicate evaluated inside whole-stage
    codegen; at scale the same IVF/LSH partition pruning as the top-k
    paths applies (probe only clusters whose centroid distance admits
    τ). Threshold compares on the ROUNDED score so the boundary set is
    engine-exact."""
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 42)
    out = similarity.range_search(emb, q, threshold=0.2)
    return out.filter(F.col("vec_id") != 42)


@register(
    "dedup_chunks",
    f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(LOWER(text), '\\s+'),
                                   t -> LENGTH(t) > 0) AS t
        FROM documents
    ),
    nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
    chunks AS (
        SELECT doc_id, t,
               UNNEST(generate_series(
                   0, (1 + GREATEST(CEIL((n - 16) / 12.0), 0))::BIGINT - 1
               ))::INT AS chunk_idx
        FROM nz
    ),
    fps AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(0::BIGINT, list_transform(
                       t[chunk_idx * 12 + 1 : chunk_idx * 12 + 16], tok ->
                       list_reduce(
                           list_prepend(0::BIGINT,
                               list_transform(generate_series(1, LENGTH(tok)),
                                              i -> ascii(tok[i])::BIGINT)),
                           (acc, c) -> (acc * 31 + c) % {dedup._PORT_P}))),
                   (a, h) -> (a * {dedup._PORT_B} + h) % {dedup._PORT_P}
               ) AS chunk_fp
        FROM chunks
    )
    SELECT chunk_fp, COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS keep_doc
    FROM fps
    GROUP BY chunk_fp HAVING COUNT(*) > 1
    """,
)
def dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup — the consumer the chunk fingerprint exists
    for: repeated 16-token windows across (or within) documents,
    grouped on the 8-byte ``chunk_fp`` instead of chunk text, with the
    lowest doc as the canonical keeper. At 100 TB the shuffle carries
    one LONG per chunk; boilerplate (headers, licenses, navigation)
    surfaces here even when whole-document dedup misses it."""
    docs = _t(spark, sf_dir, "documents", wide=True)
    chunks = curation.chunk_windows(docs, window=16, stride=12)
    return (
        chunks.groupBy("chunk_fp")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keep_doc"),
        )
        .filter(F.col("n_occurrences") > 1)
    )


_ROLLING_FP_SQL = """list_reduce(
               list_prepend(0::BIGINT,
                   list_transform(generate_series(1, LENGTH(text)),
                                  i -> ascii(text[i])::BIGINT)),
               (acc, c) -> (acc * 31 + c) % 1000000007)"""


@register(
    "dedup_incremental",
    f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 4 < 3
    ),
    batch AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3
        UNION ALL
        SELECT doc_id + 3000000 AS doc_id, text
        FROM corpus WHERE doc_id % 10 = 0
    ),
    ck AS (
        SELECT DISTINCT LENGTH(text) AS len, {_ROLLING_FP_SQL} AS fp
        FROM corpus
    ),
    bk AS (
        SELECT doc_id, LENGTH(text) AS len, {_ROLLING_FP_SQL} AS fp
        FROM batch
    )
    SELECT b.doc_id, b.fp
    FROM bk b
    WHERE NOT EXISTS (
        SELECT 1 FROM ck c WHERE c.len = b.len AND c.fp = b.fp
    )
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) exact dedup — the daily-ingest
    shape (operators/dedup.py::incremental_exact_filter): a quarter of
    the documents arrive as the new batch, salted with injected copies
    of existing corpus rows; the filter must drop exactly the arrivals
    whose (length, fingerprint) identity already exists in the
    accumulated corpus, touching fingerprints only (never text vs
    text, never a corpus shuffle — broadcast semi/anti joins). The
    portable rolling-hash identity lets the oracle replay every keep/
    drop decision; production uses the dual-xxhash identity shared
    with exact_dedup."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 4 < 3)
    # disjoint branches (%4==3 vs %4<3 ∧ %10==0): one when-chain
    # projection replaces the 2-scan union (r14; same multiset)
    batch_v = F.when(
        F.col("doc_id") % 4 == 3,
        F.struct(F.col("doc_id"), F.col("text")),
    ).when(
        (F.col("doc_id") % 4 < 3) & (F.col("doc_id") % 10 == 0),
        F.struct(
            (F.col("doc_id") + 3000000).alias("doc_id"), F.col("text")
        ),
    )
    batch = (
        docs.select(batch_v.alias("__b"))
        .filter(F.col("__b").isNotNull())
        .select("__b.doc_id", "__b.text")
    )
    # keep_fingerprint: reuse the identity the filter already computed
    # instead of re-hashing every surviving document's full text.
    # The corpus side probes the WRITE-TIME fingerprint index (the
    # steady-state daily-ingest profile the operator documents —
    # session-resident here exactly like dedup_minhash_incremental's
    # band artifact; correctness runs build it inside the query).
    corpus_keys = indexes.materialized(
        spark,
        f"fpidx_portable:{sf_dir}",
        lambda: dedup.fingerprint_index(corpus, portable=True),
    )
    out = dedup.incremental_exact_filter(
        batch, corpus, portable=True, keep_fingerprint=True,
        corpus_keys=corpus_keys,
    )
    return out.select("doc_id", F.col("content_fp").alias("fp"))


@register(
    "text_quality_classifier",
    """
    WITH toks AS (
        -- COALESCE matches quality_logit's documented NULL identity
        -- (NULL text scores as the empty document, not as NULL)
        SELECT doc_id, COALESCE(text, '') AS text,
               list_filter(string_split_regex(LOWER(COALESCE(text, '')), '\\s+'),
                           t -> LENGTH(t) > 0) AS t
        FROM documents
    ),
    feats AS (
        SELECT doc_id,
               CASE WHEN len(t) > 0
                    THEN len(list_filter(t, x -> list_contains(
                        ['the','a','an','and','of','to','in','is','it','that'], x)))
                         / CAST(len(t) AS DOUBLE)
                    ELSE 0.0 END AS stop_ratio,
               CASE WHEN LENGTH(text) > 0
                    THEN LENGTH(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
                         / CAST(LENGTH(text) AS DOUBLE)
                    ELSE 0.0 END AS alpha_ratio,
               LEAST(LENGTH(text) / 200.0, 1.0) AS length_sig
        FROM toks
    )
    SELECT doc_id,
           ROUND(-1.25 + 2.5 * length_sig + 1.5 * alpha_ratio
                 + 0.875 * LEAST(stop_ratio * 10.0, 1.0), 6) AS logit,
           ROUND(-1.25 + 2.5 * length_sig + 1.5 * alpha_ratio
                 + 0.875 * LEAST(stop_ratio * 10.0, 1.0), 6) >= 1.0 AS keep
    FROM feats
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gate (operators/curation.py::
    quality_classifier) — the linear-classifier filter pattern between
    heuristics and training: a tiny linear model over the shared
    quality features scores every document, keep = logit ≥ threshold.
    Exact-grid weights + left-to-right accumulation + no
    transcendentals make the whole decision oracle-replayable; a real
    deployment swaps in trained weights with the identical map-only
    plan."""
    docs = _t(spark, sf_dir, "documents")
    return curation.quality_classifier(docs, threshold=1.0)


@register(
    "etl_html_scrub",
    """
    WITH noisy AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN '<span aria-hidden="true">\u2014</span><span class="screen-reader-text">' || text
                    ELSE text END AS text
        FROM documents
    ),
    scrubbed AS (
        SELECT doc_id,
               CASE WHEN contains(text, '<span aria-hidden="true">\u2014</span><span class="screen-reader-text">')
                    THEN '' ELSE text END AS text
        FROM noisy
    )
    SELECT doc_id, text = '' AS scrubbed,
           list_reduce(
               list_prepend(0::BIGINT,
                   list_transform(generate_series(1, LENGTH(text)),
                                  i -> ascii(text[i])::BIGINT)),
               (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
    FROM scrubbed
    """,
)
def etl_html_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 — the screen-reader-span scrub (functions/text.py::
    strip_html_noise, clean_label_etiketler.py:5-16) oracle-certified:
    the noise literal is injected deterministically (doc_id %% 7), the
    scrub must blank exactly those cells, and the fingerprint of the
    surviving text certifies untouched cells byte-for-byte."""
    docs = _t(spark, sf_dir, "documents")
    noisy = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(X.HTML_NOISE), F.col("text")),
        ).otherwise(F.col("text")).alias("text"),
    )
    scrubbed = noisy.select(
        "doc_id", X.strip_html_noise(F.col("text")).alias("text")
    )
    return scrubbed.select(
        "doc_id",
        (F.col("text") == "").alias("scrubbed"),
        X.rolling_hash_fingerprint(F.col("text")).alias("fp"),
    )


@register(
    "etl_display_truncate",
    """
    SELECT doc_id,
           CASE WHEN LENGTH(text) > 30
                THEN SUBSTR(text, 1, 30) || '...'
                ELSE text END AS title_display,
           LENGTH(text) > 30 AS truncated
    FROM documents
    """,
)
def etl_display_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18 — display truncation (functions/text.py::truncate_display;
    search_test_image.py:265-277, search_with_segments.py:545-556):
    the exact ``s[:30] + '...' if len(s) > 30 else s`` conditional —
    a string of exactly 30 characters passes through untouched — as a
    map-only Catalyst expression over every document, certified
    value-for-value. The last F-row of SURVEY §2.7 that previously
    lived only in the presentation layer."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.truncate_display(F.col("text"), 30).alias("title_display"),
        (F.length("text") > 30).alias("truncated"),
    )


@register(
    "text_pack_bins",
    """
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(LOWER(text), '\\s+'),
                           t -> LENGTH(t) > 0) AS t
        FROM documents
    ),
    nz AS (SELECT doc_id, source, t, len(t) AS n FROM toks WHERE len(t) > 0),
    chunks AS (
        SELECT doc_id, source,
               UNNEST(generate_series(
                   0, (1 + GREATEST(CEIL((n - 16) / 12.0), 0))::BIGINT - 1
               ))::INT AS chunk_idx,
               t
        FROM nz
    ),
    sized AS (
        SELECT doc_id, source, chunk_idx,
               len(t[chunk_idx * 12 + 1 : chunk_idx * 12 + 16])::BIGINT AS n_tokens
        FROM chunks
    ),
    offsets AS (
        SELECT source, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source
                                   ORDER BY doc_id, chunk_idx
                                   ROWS UNBOUNDED PRECEDING) - n_tokens AS off
        FROM sized
    )
    SELECT source, FLOOR(off / 256.0)::BIGINT AS bin_id,
           COUNT(*) AS n_chunks, SUM(n_tokens)::BIGINT AS token_total
    FROM offsets GROUP BY source, bin_id
    """,
)
def text_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan: the 16/12 token chunks assigned to
    256-token context bins by running offset within each source shard
    (operators/curation.py::pack_bins) — loader-side packing made
    declarative and engine-reproducible. One shuffle on the shard key;
    the bin aggregate reuses that partitioning (subset clustering), so
    the whole plan is a single exchange."""
    docs = _t(spark, sf_dir, "documents", wide=True)
    chunks = curation.chunk_windows(
        docs, window=16, stride=12, carry_cols=("source",)
    )
    return curation.pack_bins(chunks, capacity=256, shard_col="source")


# =====================================================================
# Source/sink round-trips: the file-format layer driver-certified
# against oracles computed directly on the canonical tables (the
# etl_upsert_merge / nested_roundtrip pattern extended to CSV, the
# per-file JSON feature layout, and the recursive binary image scan)
# =====================================================================


@register(
    "etl_csv_roundtrip",
    f"""
    SELECT lang, COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS sum_chars,
           SUM({_ROLLING_FP_SQL})::BIGINT AS fp_sum
    FROM documents GROUP BY lang
    """,
)
def etl_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 certified end-to-end: documents → header'd CSV → read_csv_bom
    → per-language counters PLUS the sum of portable content
    fingerprints, checked against the same aggregate computed straight
    off the parquet — any quoting/encoding corruption in the CSV layer
    breaks the fingerprint sum. The write is executor-side (one file
    per partition); the oracle never sees the CSV."""
    from .sources.readers import read_csv_bom

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    # deterministic per-sf_dir dir, overwritten each call — a resident
    # process re-running the query must not leak a directory per call
    tmp = _scratch_dir("dferp_csv_rt", sf_dir)
    with _SIDE_EFFECT_LOCK:
        docs.write.mode("overwrite").option("header", True).option(
            "escape", '"'
        ).csv(tmp)
    back = read_csv_bom(
        spark, tmp, schema="doc_id long, text string, lang string, n_chars long"
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(X.rolling_hash_fingerprint(F.col("text"))).alias("fp_sum"),
    )


@register(
    "etl_partitioned_roundtrip",
    f"""
    SELECT lang, COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS sum_chars,
           SUM({_ROLLING_FP_SQL})::BIGINT AS fp_sum
    FROM documents GROUP BY lang
    """,
)
def etl_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 + S9 certified end-to-end: the canonical partitioned-parquet
    index sink (sources/writers.py::write_parquet_table — the engine's
    bulk index write) exercised write → read-back → re-aggregate, with
    the per-language content-fingerprint sums checked against the same
    aggregate computed straight off the source parquet. The partition
    column round-trips through the Hive directory layout (lang moves
    into the path and back into the schema), so a corruption in either
    direction breaks the match."""
    from .sources.writers import write_parquet_table

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    tmp = _scratch_dir("dferp_part_rt", sf_dir)
    with _SIDE_EFFECT_LOCK:
        write_parquet_table(docs, tmp, partition_by=["lang"])
    back = spark.read.parquet(tmp)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(X.rolling_hash_fingerprint(F.col("text"))).alias("fp_sum"),
    )


@register(
    "etl_bucketed_roundtrip",
    """
    SELECT (doc_id % 8)::BIGINT AS bucket_mod,
           COUNT(*) AS n_docs,
           SUM(doc_id)::BIGINT AS id_checksum,
           SUM(n_chars)::BIGINT AS sum_chars
    FROM documents GROUP BY bucket_mod
    """,
)
def etl_bucketed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 at co-location scale, certified on VALUES: the bucketed
    managed table (sources/writers.py::write_bucketed_table — the
    shuffle-free-join layout pinned in test_bucketing) written and
    read back through the catalog, re-aggregated per doc_id mod-bucket
    group and checked against the source parquet. The oracle cannot
    see bucket metadata (that is the pytest plan assertion's job);
    what it certifies is that the bucketed write/read path loses or
    mangles no rows."""
    from .sources.writers import write_bucketed_table

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    digest = hashlib.sha1(sf_dir.rstrip("/").encode()).hexdigest()[:10]
    # pid + thread token mirror _scratch_dir: a digest-only name would
    # let a second harness process sharing the warehouse DROP/rmtree
    # the table while this process's lazily-executed spark.table() read
    # is mid-collect (and two in-process threads would overwrite each
    # other the same way). The table is dropped at interpreter exit via
    # _SCRATCH_TABLES; locations left by CRASHED processes (atexit
    # never ran, and their unique names mean no later run rewrites
    # them) are reclaimed by the dead-pid reap below.
    table = f"dferp_bkt_rt_{digest}_{_HOST_TAG}_{os.getpid()}_{_thread_token()}"
    with _SIDE_EFFECT_LOCK:
        # saveAsTable refuses a name whose location survives in the
        # warehouse (LOCATION_ALREADY_EXISTS) — possible within this
        # process if the catalog entry was dropped without its files.
        # Drop both, then reap crashed-process orphans under the same
        # digest stem so the shared warehouse never accumulates.
        import shutil

        spark.sql(f"DROP TABLE IF EXISTS {table}")
        wh = spark.conf.get("spark.sql.warehouse.dir")
        for pfx in ("file://", "file:"):
            if wh.startswith(pfx):
                wh = wh[len(pfx):]
                break
        loc = os.path.join(wh, table)
        shutil.rmtree(loc, ignore_errors=True)
        _reap_orphans(wh, f"dferp_bkt_rt_{digest}")
        _SCRATCH_TABLES[table] = loc
        write_bucketed_table(
            docs, table, bucket_col="doc_id", num_buckets=8, sort_col="doc_id"
        )
    back = spark.table(table)
    return back.groupBy(
        (F.col("doc_id") % 8).alias("bucket_mod")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("id_checksum"),
        F.sum("n_chars").alias("sum_chars"),
    )


@register(
    "etl_json_feature_roundtrip",
    """
    SELECT lang, COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS sum_chars,
           SUM(doc_id)::BIGINT AS id_checksum
    FROM documents WHERE doc_id % 4 = 0 GROUP BY lang
    """,
)
def etl_json_feature_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 + S5 certified end-to-end: a per-document JSON feature file
    layout (the reference's one-pretty-JSON-per-image,
    upload_features_to_elasticsearch.py:142-158) written row-per-file,
    scanned back with the multiLine JSON dir reader under an explicit
    schema, re-aggregated, and checked against the parquet-side
    oracle. Subset (doc_id % 4 == 0) keeps the file count bounded."""
    import shutil

    from .sources.readers import read_json_dir
    from .sources.writers import write_binary_files

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    payload = docs.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".json")).alias(
            "filename"
        ),
        F.encode(
            F.to_json(F.struct("doc_id", "lang", "n_chars")), "utf-8"
        ).alias("content"),
    )
    tmp = _scratch_dir("dferp_json_rt", sf_dir)
    with _SIDE_EFFECT_LOCK:
        shutil.rmtree(tmp, ignore_errors=True)  # no stale files in the scan
        os.makedirs(tmp, exist_ok=True)
        write_binary_files(payload, tmp)
    back = read_json_dir(
        spark, tmp, schema="doc_id long, lang string, n_chars long"
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("doc_id").alias("id_checksum"),
    )


@register(
    "etl_compact_roundtrip",
    f"""
    SELECT lang, COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS sum_chars,
           SUM({_ROLLING_FP_SQL})::BIGINT AS fp_sum
    FROM documents GROUP BY lang
    """,
)
def etl_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table maintenance certified end-to-end: documents fragmented
    into an ingest-tail of tiny parquet shards (8 partitions ×
    maxRecordsPerFile=64), compacted back to target-sized files by
    sources/writers.py::compact_shards (byte-priced coalesce — narrow,
    no shuffle), read back and re-aggregated with per-language content
    fingerprint sums against the parquet-side oracle. Certifies the
    whole fragment → compact → scan cycle loses or mangles no rows —
    the maintenance pass every incrementally ingested 100 TB store
    runs on its fresh partitions. The rebalance (AQE) variant of the
    same sink is plan-pinned and value-checked in test_sources."""
    from .sources.writers import compact_shards

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    frag = _scratch_dir("dferp_cmp_in", sf_dir)
    comp = _scratch_dir("dferp_cmp_out", sf_dir)
    with _SIDE_EFFECT_LOCK:
        # the ingest-tail shape: force many tiny files
        docs.repartition(8).write.mode("overwrite").option(
            "maxRecordsPerFile", 64
        ).parquet(frag)
        compact_shards(spark, frag, comp, target_file_bytes=64 << 20)
    back = spark.read.parquet(comp)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(X.rolling_hash_fingerprint(F.col("text"))).alias("fp_sum"),
    )


@register(
    "etl_orc_roundtrip",
    f"""
    SELECT lang, COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS sum_chars,
           SUM({_ROLLING_FP_SQL})::BIGINT AS fp_sum
    FROM documents GROUP BY lang
    """,
)
def etl_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORC face of the S7 index sink certified end-to-end:
    documents → ORC (sources/writers.py::write_table, fmt="orc",
    Spark's native vectorized ORC writer) → read back → per-language
    counters plus portable content-fingerprint sums, checked against
    the same aggregate computed straight off the parquet. Any
    encoding/compression corruption in the ORC layer breaks the
    fingerprint sum; the oracle never sees the ORC files. Same
    pushdown and partition-pruning story as parquet (both scans go
    through the vectorized columnar readers), so the format axis is a
    deployment choice, not a plan change."""
    from .sources.writers import write_table

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    tmp = _scratch_dir("dferp_orc_rt", sf_dir)
    with _SIDE_EFFECT_LOCK:
        write_table(docs, tmp, fmt="orc")
    back = spark.read.orc(tmp)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(X.rolling_hash_fingerprint(F.col("text"))).alias("fp_sum"),
    )


@register(
    "etl_sorted_export",
    f"""
    SELECT lang, COUNT(*) AS n_docs,
           SUM(doc_id)::BIGINT AS id_checksum,
           SUM(n_chars)::BIGINT AS sum_chars,
           SUM({_ROLLING_FP_SQL})::BIGINT AS fp_sum
    FROM documents WHERE doc_id BETWEEN 10 AND 40 GROUP BY lang
    """,
)
def etl_sorted_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered sorted export certified end-to-end: documents →
    sources/writers.py::write_range_sorted (repartitionByRange on
    doc_id + sortWithinPartitions — globally disjoint per-file key
    ranges, sorted rows inside each file) → read back UNDER A RANGE
    PREDICATE → re-aggregate with fingerprint sums against the same
    predicate applied to the source parquet. This is the
    scan-pruning layout for 100 TB range queries: the pushed
    BETWEEN skips every file whose footer min/max misses the range
    and most row groups of the one file it hits (layout disjointness
    + in-file sort are pinned in test_sources; the pushed filter in
    test_plans)."""
    from .sources.writers import write_range_sorted

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    tmp = _scratch_dir("dferp_sort_rt", sf_dir)
    with _SIDE_EFFECT_LOCK:
        write_range_sorted(
            docs, tmp, range_col="doc_id", extra_sort_cols=("lang",),
            num_files=8,
        )
    back = spark.read.parquet(tmp).filter(F.col("doc_id").between(10, 40))
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("id_checksum"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(X.rolling_hash_fingerprint(F.col("text"))).alias("fp_sum"),
    )


@register(
    "etl_zorder_roundtrip",
    f"""
    SELECT lang, COUNT(*) AS n_docs,
           SUM(doc_id)::BIGINT AS id_checksum,
           SUM(n_chars)::BIGINT AS sum_chars,
           SUM({_ROLLING_FP_SQL})::BIGINT AS fp_sum
    FROM documents
    WHERE n_chars BETWEEN 100 AND 400 AND doc_id BETWEEN 50 AND 200
    GROUP BY lang
    """,
)
def etl_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-clustered export certified end-to-end: documents →
    sources/writers.py::write_zorder on (n_chars, doc_id) — the Morton
    bit-interleave computed as a pure Catalyst expression, range-
    shuffled and sorted on the z key — → read back under a TWO-
    dimensional rectangle predicate → re-aggregate with fingerprint
    sums against the same predicate on the source parquet. This is the
    MULTI-column data-skipping layout (lakehouse OPTIMIZE ZORDER):
    after z-clustering, BOTH columns' per-file min/max are tight, so a
    conjunctive 2-D predicate prunes files the 1-D sorted layout
    cannot (measured in test_sources: the z layout reads strictly
    fewer files for the rectangle than the doc_id-sorted layout). The
    clustering is layout-only — row values are untouched, which is
    exactly what the oracle certifies."""
    from .sources.writers import write_zorder

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    tmp = _scratch_dir("dferp_zord_rt", sf_dir)
    with _SIDE_EFFECT_LOCK:
        write_zorder(docs, tmp, cols=("n_chars", "doc_id"), num_files=8)
    back = spark.read.parquet(tmp).filter(
        F.col("n_chars").between(100, 400) & F.col("doc_id").between(50, 200)
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("id_checksum"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(X.rolling_hash_fingerprint(F.col("text"))).alias("fp_sum"),
    )


@register(
    "report_quality_constraints",
    """
    WITH s AS (
        SELECT COUNT(*) AS n_rows,
               SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS nulls_text,
               COUNT(doc_id) - COUNT(DISTINCT doc_id) AS dups_doc_id,
               COUNT(lang) - COUNT(DISTINCT lang) AS dups_lang,
               SUM(CASE WHEN n_chars IS NULL OR n_chars < 0.0
                             OR n_chars > 500.0
                        THEN 1 ELSE 0 END) AS oob_n_chars,
               SUM(CASE WHEN lang IS NULL
                             OR lang NOT IN ('de', 'en', 'es', 'fr')
                        THEN 1 ELSE 0 END) AS bad_lang
        FROM documents
    )
    SELECT 'row_count_min(100)' AS check_name, n_rows::BIGINT AS metric,
           n_rows >= 100 AS passed FROM s
    UNION ALL
    SELECT 'not_null(text)', nulls_text::BIGINT, nulls_text = 0 FROM s
    UNION ALL
    SELECT 'unique(doc_id)', dups_doc_id::BIGINT, dups_doc_id = 0 FROM s
    UNION ALL
    SELECT 'unique(lang)', dups_lang::BIGINT, dups_lang = 0 FROM s
    UNION ALL
    SELECT 'bounds(n_chars,[0.0,500.0])', oob_n_chars::BIGINT,
           oob_n_chars = 0 FROM s
    UNION ALL
    SELECT 'values_in(lang)', bad_lang::BIGINT, bad_lang = 0 FROM s
    """,
)
def report_quality_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/reports.py::
    constraint_report) — the pre-training corpus validation pass: one
    scan evaluates every constraint as an aggregate, emitting a
    ``(check_name, metric, passed)`` frame a CI gate asserts on. The
    fixture mixes outcomes deliberately: row-count / not-null /
    unique(doc_id) PASS; the n_chars upper bound and the lang
    allow-list FAIL with exact violation counts; and unique(lang)
    FAILS with the exact DUPLICATE count among non-null values —
    certifying the round-7 NULL-explicit unique semantics (metric =
    count(c) − count(distinct c), NULLs are neither duplicates nor
    violations; pair with not_null for key columns)."""
    from .operators.reports import constraint_report

    docs = _t(spark, sf_dir, "documents")
    return constraint_report(
        docs,
        not_null=("text",),
        unique=("doc_id", "lang"),
        bounds={"n_chars": (0.0, 500.0)},
        values_in={"lang": ("de", "en", "es", "fr")},
        min_rows=100,
    )


@register(
    "report_corpus_drift",
    """
    WITH ref AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    cur AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    nm AS (
        SELECT (SELECT COUNT(*) FROM ref) AS n,
               (SELECT COUNT(*) FROM cur) AS m
    ),
    keyed AS (
        SELECT 'cat:lang' AS section, CAST(lang AS VARCHAR) AS key,
               COUNT(*) AS n, 0 AS side FROM ref GROUP BY lang
        UNION ALL
        SELECT 'cat:lang', CAST(lang AS VARCHAR), COUNT(*), 1
        FROM cur GROUP BY lang
        UNION ALL
        SELECT 'cat:source', CAST(source AS VARCHAR), COUNT(*), 0
        FROM ref GROUP BY source
        UNION ALL
        SELECT 'cat:source', CAST(source AS VARCHAR), COUNT(*), 1
        FROM cur GROUP BY source
        UNION ALL
        SELECT 'hist:n_chars/50',
               CAST(CAST(FLOOR(n_chars / 50) AS BIGINT) AS VARCHAR),
               COUNT(*), 0
        FROM ref GROUP BY 2
        UNION ALL
        SELECT 'hist:n_chars/50',
               CAST(CAST(FLOOR(n_chars / 50) AS BIGINT) AS VARCHAR),
               COUNT(*), 1
        FROM cur GROUP BY 2
    ),
    pivoted AS (
        SELECT section, key,
               SUM(CASE WHEN side = 0 THEN n ELSE 0 END)::BIGINT AS ref_n,
               SUM(CASE WHEN side = 1 THEN n ELSE 0 END)::BIGINT AS cur_n
        FROM keyed GROUP BY section, key
    ),
    scored AS (
        SELECT section, key, ref_n, cur_n,
               ABS(ref_n::HUGEINT * m - cur_n::HUGEINT * n)
                   ::DECIMAL(38,0) AS drift_num
        FROM pivoted CROSS JOIN nm
    )
    SELECT section, key, ref_n, cur_n, drift_num::VARCHAR AS drift_num
    FROM scored
    UNION ALL
    SELECT section, '__TOTAL__', SUM(ref_n)::BIGINT, SUM(cur_n)::BIGINT,
           SUM(drift_num)::DECIMAL(38,0)::VARCHAR
    FROM scored GROUP BY section
    """,
)
def report_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift detection (operators/reports.py::drift_report):
    the even-id half of documents as the reference snapshot, the
    odd-id half as the new ingest — per-value categorical composition
    (lang, source) and a 50-char length histogram compared side by
    side, with the exact cross-multiplied L1 numerator
    |ref_n·M − cur_n·N| per key and a per-section total. Counts are
    exact BIGINTs and the numerator is computed in exact DECIMAL(38,0)
    (round-7 fix: the long·long product wraps past 2^63 exactly in the
    billion-row regime this report targets) — shares are never
    divided out, so the report cannot hit a cross-engine rounding
    boundary (the win_lag_delta lesson applied at design time). Also
    round 7: ALL sections now count in ONE exploded (section, key)
    aggregate per side — adding sections adds zero scans. Round 8:
    the drift_num SURFACE is plain-digit STRING on both engines (the
    arithmetic stays decimal) — Decimal wire types hash differently
    across clients even when the digits agree."""
    from .operators.reports import drift_report

    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    cur = docs.filter(F.col("doc_id") % 2 == 1)
    return drift_report(
        ref, cur, cat_cols=("lang", "source"),
        bucket_col="n_chars", bucket_width=50,
    )


@register(
    "ml_image_dir_scan",
    """
    SELECT COUNT(*) AS n_images,
           SUM(strlen(text))::BIGINT AS total_bytes,
           SUM(doc_id)::BIGINT AS id_checksum
    FROM documents WHERE doc_id % 2 = 0
    """,
)
def ml_image_dir_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 + P9 certified end-to-end: binary content written one file
    per row with MIXED extensions (.png for even ids, .txt for odd),
    re-scanned with the recursive binaryFile reader whose extension
    predicate must select exactly the images — count, byte total, and
    the id checksum parsed back out of the filenames all match the
    parquet-side oracle over the even ids."""
    import shutil

    from .sources.readers import read_image_dir
    from .sources.writers import write_binary_files

    docs = _t(spark, sf_dir, "documents")
    files = docs.select(
        F.concat(
            F.lit("img_"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(".png")).otherwise(
                F.lit(".txt")
            ),
        ).alias("filename"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    tmp = _scratch_dir("dferp_imgdir", sf_dir)
    with _SIDE_EFFECT_LOCK:
        shutil.rmtree(tmp, ignore_errors=True)  # no stale files in the scan
        os.makedirs(tmp, exist_ok=True)
        write_binary_files(files, tmp)
    back = read_image_dir(spark, tmp)
    return back.agg(
        F.count("*").alias("n_images"),
        F.sum(F.length("content")).alias("total_bytes"),
        F.sum(
            F.regexp_extract("filename", r"img_(\d+)\.png", 1).cast("long")
        ).alias("id_checksum"),
    )


@register("agg_sketch_profile")  # approx sketches — rows-only by nature
def agg_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates (operators/analytics.py::sketch_profile):
    HyperLogLog++ distinct counts + KLL-style approximate quantiles
    per event type — the O(1)-state versions of the certified exact
    aggregates, for the cardinalities where exact countDistinct /
    percentile become the shuffle bottleneck. Implementation-specific
    sketch internals → no SQL oracle CAN replay them (rows-only by
    nature); pytest bounds them against the certified exact twins
    (agg_distinct_counts, agg_group_stats) instead."""
    ev = _t(spark, sf_dir, "events")
    return analytics.sketch_profile(
        ev, group_col="event_type", distinct_col="user_id", value_col="value"
    )


# ONE oracle for both interval-join formulations: the batch range join
# and the watermarked stream-stream join drain emit the same in-window
# match set, so the SQL twin certifies each.
_INTERVAL_JOIN_ORACLE = """
    WITH e AS (SELECT user_id, ts FROM events WHERE event_type = 'error'),
    c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
    j AS (
        SELECT e.user_id, e.ts AS lts, c.ts AS rts, c.value
        FROM e JOIN c ON c.user_id = e.user_id
         AND c.ts >= e.ts - INTERVAL 3600 SECONDS
         AND c.ts <= e.ts
    )
    SELECT user_id,
           COUNT(*) AS n_pairs,
           ROUND(SUM(epoch_us(lts) - epoch_us(rts))::DOUBLE / 1000000.0, 6)
               AS total_lag_s,
           ROUND(SUM(value), 2) AS total_value
    FROM j GROUP BY user_id
"""


def _interval_join_summary(j: DataFrame) -> DataFrame:
    """Shared per-user summary over the (user_id, lts, rts, value)
    match rows — both formulations aggregate identically."""
    return j.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        # exact integer micros sum, divided down to seconds where
        # ROUND(x, 6) is loss-free in both engines (see asof_join)
        F.round(
            F.sum(F.unix_micros("lts") - F.unix_micros("rts")).cast("double")
            / F.lit(1000000.0),
            6,
        ).alias("total_lag_s"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register("events_interval_join", _INTERVAL_JOIN_ORACLE)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded interval join (operators/temporal.py::
    interval_join): every click by the same user within the hour
    BEFORE each error — ALL in-window pairs, the bounded-window
    sibling of the as-of join. One shuffle on user_id; the range
    predicate prunes inside the join."""
    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    j = temporal.interval_join(
        errors, clicks, key="user_id", lower_seconds=3600, upper_seconds=0,
        right_payload=["value"],
    )
    return _interval_join_summary(j)


@register("events_interval_join_stream", _INTERVAL_JOIN_ORACLE)
def events_interval_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked STREAM-STREAM interval join
    (streaming/join.py::interval_join_stream) — two unbounded event
    streams joined on (user, 1-hour window), drained availableNow
    and summarized identically to the batch twin. The inner join's
    in-window match SET is deterministic regardless of micro-batch
    arrival (a buffered row joins whenever its partner arrives inside
    the watermark horizon), so the batch oracle certifies the stateful
    path on values."""
    import tempfile

    from .streaming import interval_join_stream

    ev = _t(spark, sf_dir, "events")
    src = lambda: _stream_table_src(  # noqa: E731 — two independent readers
        spark, sf_dir, "events", ev.schema
    )
    errors = src().filter(F.col("event_type") == "error").select("user_id", "ts")
    clicks = src().filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    joined = interval_join_stream(
        errors, clicks, key="user_id", lower_seconds=3600, upper_seconds=0,
        watermark="3 hours", right_payload=["value"],
    )
    name = f"ivj_stream_" + hashlib.sha1(
        sf_dir.rstrip("/").encode()
    ).hexdigest()[:10]
    ckpt = tempfile.mkdtemp(prefix="dferp_ivj_ckpt_")
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain_or_fail(q, "events_interval_join_stream")
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)  # see events_sessionize_stream
    return _interval_join_summary(spark.table(name))


# =====================================================================
# API facade certification (SURVEY.md §2.10) — the Engine dispatch
# path itself driver-certified, not just the operators under it
# =====================================================================


@register(
    "api_engine_whole",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
    imgs AS (
        SELECT (vec_id // 10)::BIGINT AS image_id, embedding::DOUBLE[] AS iv
        FROM embeddings WHERE vec_id % 10 = 0
    )
    SELECT i.image_id,
           ROUND(list_dot_product(i.iv, q.v) + 1.0, 6) AS score
    FROM imgs i, q
    ORDER BY score DESC, image_id
    LIMIT 10
    """,
)
def api_engine_whole(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 — Engine.search('whole') through the facade itself
    (api.py mode dispatcher → retrieval.knn over the from_sf_dir
    image model): certifies the dispatch path, the derived images
    table (one whole-image vector per ten segment rows), and the
    calibrated 0..2 score end to end."""
    from .api import Engine

    eng = Engine.from_sf_dir(spark, sf_dir)
    q = _query_vector(spark, sf_dir, 0)
    out = eng.search("whole", query_vec=q, top_k=10)
    return out.select("image_id", F.round("score", 6).alias("score"))


@register(
    "api_engine_segment",
    f"""
    WITH {_SEG_CTE},
    q AS (SELECT vec_id AS qid, v AS qv FROM seg WHERE image_id = 0),
    cand AS (
        SELECT * FROM seg
        WHERE image_id IN (SELECT DISTINCT image_id FROM seg ORDER BY image_id LIMIT 30)
    ),
    best AS (
        SELECT c.image_id, q.qid, MAX(list_dot_product(c.v, q.qv)) AS best_sim
        FROM cand c, q
        GROUP BY c.image_id, q.qid
    )
    SELECT image_id,
           ROUND(AVG(best_sim), 6) AS avg_similarity,
           ROUND(MAX(best_sim), 6) AS max_segment_similarity
    FROM best
    GROUP BY image_id
    ORDER BY avg_similarity DESC, image_id
    LIMIT 10
    """,
)
def api_engine_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 — Engine.search('segment') through the facade: the same
    Q2 semantics as segment_search (per-query-segment argmax, mean of
    maxima, top_k*3 candidate cap) reached via the mode dispatcher
    over the from_sf_dir segment model."""
    from .api import Engine

    eng = Engine.from_sf_dir(spark, sf_dir)
    qsegs = eng.segments.filter(F.col("image_id") == 0).select(
        F.col("vec_id").alias("q_segment_id"),
        F.col("clip_features").alias("features"),
    )
    out = eng.search(
        "segment", query_segments=qsegs, top_k=10,
        arrow=_vectors_arrow(sf_dir),
    )
    return out.select(
        "image_id",
        F.round("avg_similarity", 6).alias("avg_similarity"),
        F.round("max_segment_similarity", 6).alias("max_segment_similarity"),
    )


@register("api_engine_hybrid", _HYBRID_ORACLE)
def api_engine_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 — Engine.search('hybrid') through the facade: the
    TWO-PHASE formulation (retrieval.hybrid_search — pool-200 whole
    KNN, candidate semi-join, re-rank) dispatched by the Engine,
    certified against the same oracle as the flat fusion the
    hybrid_search query routes through. Two independent plan shapes,
    one SQL twin — the strongest equivalence evidence the registry
    can carry for Q3."""
    from .api import Engine

    eng = Engine.from_sf_dir(spark, sf_dir)
    qvec = _query_vector(spark, sf_dir, 0)
    qsegs = eng.segments.filter(F.col("image_id") == 0).select(
        F.col("vec_id").alias("q_segment_id"),
        F.col("clip_features").alias("features"),
    )
    out = eng.search(
        "hybrid", query_vec=qvec, query_segments=qsegs, top_k=10,
        arrow=_vectors_arrow(sf_dir),
    )
    return out.select(
        "image_id",
        F.round("whole_score", 6).alias("whole_score"),
        F.round("segment_score", 6).alias("segment_score"),
        F.round("hybrid_score", 6).alias("hybrid_score"),
    )


@register(
    "api_engine_tags",
    """
    WITH tagged AS (
        SELECT doc_id,
               list_sort(list_distinct(
                   list_filter(string_split_regex(LOWER(text), '\\s+'),
                               t -> LENGTH(t) > 0)))[1:5] AS tag_list
        FROM documents
    ),
    exploded AS (
        SELECT doc_id, UNNEST(tag_list) AS tag FROM tagged
    ),
    matched AS (
        SELECT doc_id, tag,
               ((doc_id + LENGTH(tag)) % 100) / 100.0 AS confidence
        FROM exploded
        WHERE tag IN ('data', 'table', 'row')
          AND ((doc_id + LENGTH(tag)) % 100) / 100.0 >= 0.1
    )
    SELECT doc_id AS image_id,
           COUNT(DISTINCT tag) AS matched_tags,
           ROUND(MAX(confidence), 6) AS max_confidence
    FROM matched
    GROUP BY image_id
    ORDER BY matched_tags DESC, max_confidence DESC, image_id
    LIMIT 10
    """,
)
def api_engine_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 — Engine.search('tags') through the facade: the Q4
    OR-match with confidence floor reached via the mode dispatcher
    over an engine bound to the deterministic segment_tags index."""
    from .api import Engine

    tagged = _doc_tag_list(spark, sf_dir).select(
        F.col("doc_id").alias("image_id"),
        F.transform(
            F.col("tag_list"),
            lambda t: F.struct(
                t.alias("tag"),
                (((F.col("doc_id") + F.length(t)) % 100) / 100.0)
                .cast("float")
                .alias("confidence"),
            ),
        ).alias("tags"),
    )
    eng = Engine(images=None, segment_tags=tagged)
    out = eng.search(
        "tags", tags=["data", "table", "row"], min_confidence=0.1, top_k=10
    )
    return out.select(
        "image_id",
        "matched_tags",
        F.round(F.col("max_confidence").cast("double"), 6).alias(
            "max_confidence"
        ),
    )


_CURATE_ORACLE = f"""
    WITH docs3 AS (
        SELECT doc_id, text, source FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text, source
        FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text || ' extra' AS text, source
        FROM documents WHERE doc_id % 11 = 0
    ),
    inj AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 4 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                              || '@mail.example.com now'
                    WHEN doc_id % 4 = 1
                    THEN text || ' call +90 555 0199 today'
                    WHEN doc_id % 4 = 2
                    THEN text || ' from 192.168.1.50 addr'
                    ELSE text END AS text
        FROM docs3
    ),
    seen AS (
        SELECT DISTINCT LENGTH(text) AS len, {_ROLLING_FP_SQL} AS fp
        FROM inj WHERE doc_id % 10 = 0
    ),
    arr AS (
        SELECT i.doc_id, i.source, i.text FROM (
            SELECT doc_id, source, text,
                   LENGTH(text) AS len, {_ROLLING_FP_SQL} AS fp
            FROM inj
        ) i
        WHERE NOT EXISTS (
            SELECT 1 FROM seen s WHERE s.len = i.len AND s.fp = i.fp
        )
    ),
    red AS (
        SELECT doc_id, source,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{{2,}}',
                           '<EMAIL>', 'g'),
                       '[+][0-9]{{1,3}}[- ][0-9]{{3}}[- ][0-9]{{4}}',
                       '<PHONE>', 'g'),
                   '[0-9]{{1,3}}[.][0-9]{{1,3}}[.][0-9]{{1,3}}[.][0-9]{{1,3}}',
                   '<IP>', 'g') AS text
        FROM arr
    ),
    gfeat AS (
        SELECT doc_id, source, text,
               list_filter(string_split_regex(LOWER(text), '\\s+'),
                           t -> LENGTH(t) > 0) AS t
        FROM red
    ),
    gate AS (
        SELECT doc_id, source, text FROM (
            SELECT doc_id, source, text,
                   ROUND(-1.25
                         + 2.5 * LEAST(LENGTH(text) / 200.0, 1.0)
                         + 1.5 * CASE WHEN LENGTH(text) > 0
                                      THEN LENGTH(regexp_replace(
                                               text, '[^A-Za-z ]', '', 'g'))
                                           / CAST(LENGTH(text) AS DOUBLE)
                                      ELSE 0.0 END
                         + 0.875 * LEAST(CASE WHEN len(t) > 0
                                    THEN len(list_filter(t, x -> list_contains(
                                        ['the','a','an','and','of','to','in',
                                         'is','it','that'], x)))
                                         / CAST(len(t) AS DOUBLE)
                                    ELSE 0.0 END * 10.0, 1.0), 6) AS logit
            FROM gfeat
        ) WHERE logit >= 1.0
    ),
    b_sh AS (
        SELECT DISTINCT UNNEST(list_distinct(
            CASE WHEN len(t) >= 8
                 THEN [array_to_string(t[i:i+7], ' ')
                       FOR i IN generate_series(1, len(t) - 7)]
                 ELSE [array_to_string(t, ' ')] END)) AS shingle
        FROM (
            SELECT list_filter(string_split_regex(LOWER(text), '\\s+'),
                               x -> LENGTH(x) > 0) AS t
            FROM documents WHERE doc_id % 97 = 0
        )
    ),
    g_sh AS (
        SELECT doc_id, UNNEST(list_distinct(
            CASE WHEN len(t) >= 8
                 THEN [array_to_string(t[i:i+7], ' ')
                       FOR i IN generate_series(1, len(t) - 7)]
                 ELSE [array_to_string(t, ' ')] END)) AS shingle
        FROM (
            SELECT doc_id,
                   list_filter(string_split_regex(LOWER(text), '\\s+'),
                               x -> LENGTH(x) > 0) AS t
            FROM gate
        )
    ),
    contaminated AS (
        SELECT DISTINCT g.doc_id
        FROM g_sh g JOIN b_sh b ON b.shingle = g.shingle
    ),
    docs2 AS (
        SELECT doc_id, source, text FROM gate g
        WHERE NOT EXISTS (
            SELECT 1 FROM contaminated c WHERE c.doc_id = g.doc_id
        )
    ),
    {_PORT_TOKS_CTE},
    {_PORT_TH_CTE},
    pshh AS (
        SELECT doc_id,
               CASE WHEN len(th) >= 3
                    THEN [((th[i] * {dedup._PORT_B} + th[i+1]) % {dedup._PORT_P}
                           * {dedup._PORT_B} + th[i+2]) % {dedup._PORT_P}
                          FOR i IN generate_series(1, len(th) - 2)]
                    ELSE [list_reduce(list_prepend(0::BIGINT, th),
                                      (a, b) -> (a * {dedup._PORT_B} + b)
                                      % {dedup._PORT_P})]
               END AS shh
        FROM pth
    ),
    pmins AS (SELECT doc_id, {_PORT_MINS} FROM pshh),
    pkeys AS (SELECT doc_id, {_PORT_KEYS} FROM pmins),
    pbanded AS ({_PORT_BAND_ROWS}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pbanded a JOIN pbanded b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sh AS (
        SELECT doc_id, UNNEST(list_distinct(
            CASE WHEN len(t) >= 3
                 THEN [array_to_string(t[i:i+2], ' ')
                       FOR i IN generate_series(1, len(t) - 2)]
                 ELSE [array_to_string(t, ' ')] END)) AS shingle
        FROM ptoks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
    common AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS common
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b
    ),
    pairs AS (
        SELECT c.id_a, c.id_b FROM common c
        JOIN sizes sa ON sa.doc_id = c.id_a
        JOIN sizes sb ON sb.doc_id = c.id_b
        WHERE c.common / (sa.n_shingles + sb.n_shingles - c.common) >= 0.5
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    l1 AS (
        SELECT src AS node, LEAST(src, MIN(dst)) AS label
        FROM edges GROUP BY src
    ),
    l2 AS (
        SELECT l.node,
               LEAST(l.label, COALESCE(MIN(n.label), l.label)) AS label
        FROM l1 l
        LEFT JOIN edges e ON e.src = l.node
        LEFT JOIN l1 n ON n.node = e.dst
        GROUP BY l.node, l.label
    ),
    l3 AS (
        SELECT l.node,
               LEAST(l.label, COALESCE(MIN(n.label), l.label)) AS label
        FROM l2 l
        LEFT JOIN edges e ON e.src = l.node
        LEFT JOIN l2 n ON n.node = e.dst
        GROUP BY l.node, l.label
    ),
    drops AS (SELECT node FROM l3 WHERE label <> node),
    kept3 AS (
        SELECT d.doc_id, d.source, d.text FROM docs2 d
        WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.node = d.doc_id)
    ),
    mixed AS (
        SELECT * FROM kept3
        WHERE (((doc_id % {dedup._PORT_P} + {dedup._PORT_P})
                % {dedup._PORT_P}) * {curation._MIX_A} + {curation._MIX_C})
              % {dedup._PORT_P} % 1000
              < CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 500
                            WHEN 'src2' THEN 250 ELSE 100 END
    ),
    labeled AS (
        SELECT doc_id, text,
               CASE WHEN {_ROLLING_FP_SQL} % 100 < 90 THEN 'train'
                    WHEN {_ROLLING_FP_SQL} % 100 < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM mixed
    ),
    ctoks AS (
        SELECT doc_id, split,
               list_filter(string_split_regex(LOWER(text), '\\s+'),
                           t -> LENGTH(t) > 0) AS t
        FROM labeled
    ),
    nz AS (SELECT doc_id, split, t, len(t) AS n FROM ctoks WHERE len(t) > 0),
    chunks AS (
        SELECT doc_id, split, t,
               UNNEST(generate_series(
                   0, (1 + GREATEST(CEIL((n - 16) / 12.0), 0))::BIGINT - 1
               ))::INT AS chunk_idx
        FROM nz
    ),
    sliced AS (
        SELECT doc_id, split, chunk_idx,
               t[chunk_idx * 12 + 1 : chunk_idx * 12 + 16] AS chunk
        FROM chunks
    )
    SELECT doc_id, split, chunk_idx, len(chunk)::BIGINT AS n_tokens,
           list_reduce(
               list_prepend(0::BIGINT, list_transform(chunk, tok ->
                   list_reduce(
                       list_prepend(0::BIGINT,
                           list_transform(generate_series(1, LENGTH(tok)),
                                          i -> ascii(tok[i])::BIGINT)),
                       (acc, c) -> (acc * 31 + c) % {dedup._PORT_P}))),
               (a, h) -> (a * {dedup._PORT_B} + h) % {dedup._PORT_P}
           ) AS chunk_fp
    FROM sliced
    """

# Pin the multiply-referenced stages of the composed curation oracle
# as MATERIALIZED: DuckDB's CTE heuristics re-inline several of them,
# and in a 30-CTE chain the re-inlining compounds (measured 142 s ->
# 3.8 s at sf0.1 for identical results). Semantics are unchanged —
# this is the oracle-side twin of the Spark plan's stage-boundary
# persists in CurationPipeline.
for _cte in (
    "inj", "gate", "docs2", "ptoks", "pkeys", "pbanded", "sh", "sizes",
    "pairs", "edges", "l1", "l2", "kept3",
):
    # word-boundary match: a plain str.replace on "sh AS (" would hit
    # the earlier "b_sh AS (" declaration and materialize the wrong
    # (single-referenced) CTE while leaving the doubly-joined one
    # re-inlined — silently undoing the 142 s -> 3.8 s fix above
    _CURATE_ORACLE, _n = re.subn(
        rf"(?<![\w]){_cte} AS \(",
        f"{_cte} AS MATERIALIZED (",
        _CURATE_ORACLE,
        count=1,
    )
    if _n != 1:
        raise AssertionError(
            f"curate oracle: CTE {_cte!r} not found for MATERIALIZED pin"
        )


@register("api_pipeline_curate", _CURATE_ORACLE)
def api_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 — the `CurationPipeline` facade certified END-TO-END, the
    same treatment the `Engine` facade got via api_engine_*: one fixed
    raw-corpus → training-chunks chain driven entirely through the
    facade (api.py::CurationPipeline), with the oracle replaying every
    stage's portable identity in composition order. What this
    certifies beyond the per-stage rows is exactly the facade's job:
    stage FUSION (the chain stays one lazy plan) and column THREADING
    (source survives to the mixture stage, the redacted text — not the
    raw text — feeds the classifier, the split label rides through the
    chunk explode). Reference analogue: the chained ETL scripts
    update_label_paths.py:62-108 → clean_and_fill_na.py:38-89.

    The chain (each stage's solo certification in parentheses):
      0. fixture: dup injection (dedup_exact's) + deterministic PII
         injection (text_redact_pii's) — near copies of email-bearing
         docs get DIFFERENT injected emails, which redaction then
         normalizes back together, so the near-dup stage downstream
         has real work only redaction makes possible;
      1. dedup_incremental vs the already-ingested %10==0 slice
         (dedup_incremental), portable fingerprints;
      2. redact() (text_redact_pii);
      3. filter_classifier(1.0) over the REDACTED text
         (text_quality_classifier);
      4. decontaminate vs the %97==0 benchmark, 8-gram shingles
         (text_contamination);
      5. dedup_near(portable=True) — MinHash 8×4 banding → bucket
         self-join → exact-Jaccard verify → 3-round min-label
         propagation, keep = canonical (dedup_minhash_lsh_portable +
         dedup_cluster_canonical);
      6. sample_mixture(src0/1/2 = 100/50/25%, default 10%)
         (etl_mixture_sample);
      7. split(90/5) content-hash over the redacted text
         (etl_hash_split);
      8. chunks(16, 12) carrying the split label (text_chunk_windows).
    """
    from .api import CurationPipeline

    docs = _t(spark, sf_dir, "documents", wide=True).select(
        "doc_id", "text", "source"
    )
    # dup-injection via ONE Generate over one scan (same multiset as
    # the former 3-branch union; see _docs_with_dups)
    variants3 = F.array(
        F.struct(F.col("doc_id"), F.col("text"), F.col("source")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.struct(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.col("text"),
                F.col("source"),
            ),
        ),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.struct(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" extra")).alias("text"),
                F.col("source"),
            ),
        ),
    )
    docs3 = (
        docs.select(F.explode(variants3).alias("__d"))
        .filter(F.col("__d").isNotNull())
        .select("__d.doc_id", "__d.text", "__d.source")
    )
    inj_raw = docs3.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.col("text"), F.lit(" call +90 555 0199 today")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.col("text"), F.lit(" from 192.168.1.50 addr")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # The broadcast-side fixtures (the already-ingested slice, the
    # held-out benchmark) branch off BEFORE the repartition exchange:
    # broadcast builds execute concurrently at the start of every run,
    # and on a cold cache each build that depended on the shuffled
    # chain re-executed the whole scan+shuffle independently (a
    # broadcast stampede — measured 5 copies of the 96-task upstream
    # stage per run). Off the narrow pre-shuffle branch they are pure
    # map scans over the cached table; the expensive repartitioned
    # chain materializes exactly once, in the main job.
    seen = inj_raw.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    # spread the corpus cores-wide up front: the chain makes several
    # full passes of deep per-row expression work (regex stacks, HOF
    # shingle chains), and the one-file parquet scan would otherwise
    # pin every pass to ~3 tasks; one tiny shuffle buys 32-wide
    # execution for every downstream stage boundary
    inj = inj_raw.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    out = (
        CurationPipeline(inj)
        .dedup_incremental(seen, portable=True)
        .redact()
        .filter_classifier(threshold=1.0)
        .decontaminate(bench, n=8)
        .dedup_near(portable=True)
        .sample_mixture(
            {"src0": 1.0, "src1": 0.5, "src2": 0.25}, default_rate=0.1
        )
        .split(90, 5)
        .chunks(window=16, stride=12, carry_cols=("split",))
    )
    return out.select(
        "doc_id",
        "split",
        "chunk_idx",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "chunk_fp",
    )


# =====================================================================
# Analytics report bundles (SURVEY.md §7 M7 — the reference's batch
# analytics jobs, driver-certified as single long-format frames)
# =====================================================================


@register(
    "report_dataset",
    r"""
    WITH tok AS (
        SELECT value, COUNT(*) AS count FROM (
            SELECT UNNEST(string_split_regex(LOWER(text), '\s+')) AS value
            FROM documents
        )
        WHERE LENGTH(value) > 0
        GROUP BY value ORDER BY count DESC, value LIMIT 30
    ),
    ls AS (
        SELECT COALESCE(lang, '<null>') AS lang,
               COUNT(*)::DOUBLE AS n,
               AVG(n_chars) AS mean,
               quantile_cont(n_chars, 0.5) AS median,
               MIN(n_chars)::DOUBLE AS mn,
               MAX(n_chars)::DOUBLE AS mx
        FROM documents GROUP BY 1
    ),
    eu AS (
        SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
    ),
    lv AS (
        SELECT label,
               COUNT(*)::DOUBLE AS n_vectors,
               AVG(sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[]))) AS mean_norm
        FROM embeddings GROUP BY label
    )
    SELECT 'source_counts' AS section, COALESCE(source, '<null>') AS key,
           ROUND(COUNT(*)::DOUBLE, 6) AS value
    FROM documents GROUP BY 2
    UNION ALL
    SELECT 'lang_counts', COALESCE(lang, '<null>'), ROUND(COUNT(*)::DOUBLE, 6)
    FROM documents GROUP BY 2
    UNION ALL
    SELECT 'token_leaderboard', value, ROUND(count::DOUBLE, 6) FROM tok
    UNION ALL
    SELECT 'length_histogram',
           CAST(CAST(FLOOR(n_chars / 50) * 50 AS BIGINT) AS VARCHAR),
           ROUND(COUNT(*)::DOUBLE, 6)
    FROM documents WHERE n_chars IS NOT NULL GROUP BY 2
    UNION ALL SELECT 'length_stats_by_lang', lang || ':n', ROUND(n, 6) FROM ls
    UNION ALL SELECT 'length_stats_by_lang', lang || ':mean', ROUND(mean, 6) FROM ls
    UNION ALL SELECT 'length_stats_by_lang', lang || ':median', ROUND(median, 6) FROM ls
    UNION ALL SELECT 'length_stats_by_lang', lang || ':min', ROUND(mn, 6) FROM ls
    UNION ALL SELECT 'length_stats_by_lang', lang || ':max', ROUND(mx, 6) FROM ls
    UNION ALL
    SELECT 'distinct_counters', m.key, ROUND(m.value, 6) FROM (
        SELECT COUNT(DISTINCT source)::DOUBLE AS s,
               COUNT(DISTINCT lang)::DOUBLE AS l,
               COUNT(*)::DOUBLE AS d
        FROM documents
    ) t, (VALUES ('n_sources'), ('n_langs'), ('n_docs')) dummy(nm),
    LATERAL (SELECT nm AS key,
                    CASE nm WHEN 'n_sources' THEN t.s
                            WHEN 'n_langs' THEN t.l
                            ELSE t.d END AS value) m
    UNION ALL
    SELECT 'coverage_split',
           CASE WHEN n_chars >= 100 THEN 'long' ELSE 'short' END,
           ROUND(COUNT(*)::DOUBLE, 6)
    FROM documents GROUP BY 2
    UNION ALL
    SELECT 'event_type_counts', COALESCE(event_type, '<null>'),
           ROUND(COUNT(*)::DOUBLE, 6)
    FROM events GROUP BY 2
    UNION ALL
    SELECT 'events_per_user_stats', m.key, ROUND(m.value, 6) FROM (
        SELECT COUNT(*)::DOUBLE AS nu, AVG(n_events) AS me,
               MIN(n_events)::DOUBLE AS mi, MAX(n_events)::DOUBLE AS ma
        FROM eu
    ) t, (VALUES ('n_users'), ('mean_events'), ('min_events'), ('max_events')) dummy(nm),
    LATERAL (SELECT nm AS key,
                    CASE nm WHEN 'n_users' THEN t.nu
                            WHEN 'mean_events' THEN t.me
                            WHEN 'min_events' THEN t.mi
                            ELSE t.ma END AS value) m
    UNION ALL
    SELECT 'label_vector_stats', 'label_' || CAST(label AS VARCHAR) || ':n_vectors',
           ROUND(n_vectors, 6) FROM lv
    UNION ALL
    SELECT 'label_vector_stats', 'label_' || CAST(label AS VARCHAR) || ':mean_norm',
           ROUND(mean_norm, 6) FROM lv
    """,
)
def report_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 — the whole analyze_dataset_distribution.py report bundle
    (operators/reports.py::dataset_report) flattened to one certified
    (section, key, value) frame: frequency counts (A1), token
    leaderboard (A2), length histogram (A7), per-lang stats (A6),
    distinct counters (A8), coverage split (A10), per-user event
    stats, and per-label embedding count + mean L2 norm
    (visualize_segmented_tags.py:98-102 analogue). Every count-style
    section — including the token leaderboard (array-valued member)
    — reads ONE persisted counting pass per table (documents scanned
    twice in total: the counting pass + the per-lang stats aggregate;
    events once), so the whole bundle costs two corpus scans at any
    scale (reports._grouped_value_counts; plan-pinned in
    test_plans)."""
    return reports.dataset_report_long(
        _t(spark, sf_dir, "documents"),
        _t(spark, sf_dir, "events"),
        _t(spark, sf_dir, "embeddings"),
    )


@register(
    "report_segment_stats",
    """
    WITH imgs AS (
        SELECT 'img_' || CAST(doc_id AS VARCHAR) || '.jpg' AS filename,
               sha256(text) AS h,
               LEAST(64, strlen(text))::INT AS crop_bytes
        FROM documents
    ),
    n AS (
        SELECT filename, h, crop_bytes,
               (('0x' || substr(h, 1, 2))::BIGINT % 10 + 1)::INT AS n_seg
        FROM imgs
    ),
    areas AS (
        SELECT filename, crop_bytes,
               (500 + CASE WHEN 8 * i + 4 <= 64
                           THEN ('0x' || substr(h, 8 * i + 1, 4))::BIGINT
                           ELSE 0 END)::INT AS segment_area
        FROM (SELECT filename, h, crop_bytes,
                     UNNEST(generate_series(0, n_seg - 1)) AS i
              FROM n)
    ),
    per_img AS (
        SELECT filename, COUNT(*) AS n_segments FROM areas GROUP BY filename
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    vocab AS (SELECT vec_id AS tid, v AS tv FROM e WHERE vec_id < 8),
    body AS (SELECT vec_id, v FROM e WHERE vec_id >= 100 AND vec_id < 200),
    logits AS (
        SELECT b.vec_id, 100.0 * list_dot_product(b.v, vo.tv) AS logit
        FROM body b CROSS JOIN vocab vo
    ),
    tc AS (
        SELECT vec_id,
               SUM(CASE WHEN logit >= 5.0 THEN 1 ELSE 0 END)::BIGINT AS n_tags
        FROM logits GROUP BY vec_id
    )
    SELECT 'segments_per_image' AS section,
           CAST(n_segments AS VARCHAR) AS key,
           ROUND(COUNT(*)::DOUBLE, 6) AS value
    FROM per_img GROUP BY 2
    UNION ALL SELECT 'segment_summary', 'n_images',
                     ROUND(COUNT(*)::DOUBLE, 6) FROM per_img
    UNION ALL SELECT 'segment_summary', 'n_segments',
                     ROUND(SUM(n_segments)::DOUBLE, 6) FROM per_img
    UNION ALL SELECT 'segment_summary', 'avg_segments_per_image',
                     ROUND(AVG(n_segments), 6) FROM per_img
    UNION ALL SELECT 'area_summary', 'mean_area',
                     ROUND(AVG(segment_area), 6) FROM areas
    UNION ALL SELECT 'area_summary', 'min_area',
                     ROUND(MIN(segment_area)::DOUBLE, 6) FROM areas
    UNION ALL SELECT 'area_summary', 'max_area',
                     ROUND(MAX(segment_area)::DOUBLE, 6) FROM areas
    UNION ALL SELECT 'tags_per_item', CAST(n_tags AS VARCHAR),
                     ROUND(COUNT(*)::DOUBLE, 6) FROM tc GROUP BY 2
    UNION ALL SELECT 'tag_summary', 'n_items',
                     ROUND(COUNT(*)::DOUBLE, 6) FROM tc
    UNION ALL SELECT 'tag_summary', 'avg_tags_per_item',
                     ROUND(AVG(n_tags), 6) FROM tc
    """,
)
def report_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 — segment-corpus statistics the reference prints after a
    segmentation run (visualize_segmented_tags.py:266-277 tags-per-
    segment value_counts; SAM/test_sam_inference.py:151-155 segments-
    per-image): histogram + summary over the certified SAM-stub
    segment corpus (same plan body as ml_segment_portable, sha256-
    replayed by the oracle), and the tags-per-item histogram over the
    zero-shot logit floor (same dot algebra the zero_shot_topk_tags
    oracle replays bit-for-bit; logit ≥ 5.0 is the confidence floor).
    Zero-tag items are counted — the len([]) == 0 bucket — because the
    count aggregates over ALL body items, not just floor survivors."""
    segs = _segstub(spark, sf_dir)

    emb = _t(spark, sf_dir, "embeddings")
    vocab = emb.filter(F.col("vec_id") < 8).select(
        F.col("embedding").alias("tag_vec")
    )
    body = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200))
    logits = body.crossJoin(F.broadcast(vocab)).select(
        "vec_id",
        (F.lit(100.0) * V.dot(F.col("embedding"), F.col("tag_vec"))).alias("logit"),
    )
    tag_counts = logits.groupBy("vec_id").agg(
        F.sum(F.when(F.col("logit") >= 5.0, 1).otherwise(0))
        .cast("long")
        .alias("n_tags")
    )
    return reports.segment_stats_long(segs, tag_counts)


# =====================================================================
# Flagship entry
# =====================================================================


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entry() — Q1 whole-image KNN joined to metadata (J1): top-10
    neighbors of the seeded query vector with their document metadata,
    the reference's core search → display flow as one plan.

    The metadata join builds on the TOP-K side (10 rows broadcast,
    BroadcastHashJoin BuildLeft; plan-pinned in tests/test_plans.py):
    the documents table is row-per-image and grows 1:1 with the
    corpus, so a broadcast of THAT side would pin a plan that dies at
    100× — docs must stream. Inner semantics are exact here because
    every vector derives from a document (the reference extracts
    features FROM the image corpus, extract_clip_features.py:68-84,
    so vec_id is a foreign key into documents; 0 orphans at every
    test SF)."""
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    q = _query_vector(spark, sf_dir, 0)
    topk = retrieval.knn(emb, q, k=10)
    return (
        F.broadcast(topk).join(
            docs, topk["vec_id"] == docs["doc_id"], "inner"
        )
        .select(
            "vec_id",
            F.round("score", 6).alias("score"),
            "lang",
            "source",
            "n_chars",
        )
        .orderBy(F.desc("score"), F.col("vec_id"))
    )
