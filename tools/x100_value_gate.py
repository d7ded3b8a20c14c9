#!/usr/bin/env python
"""The x100 VALUE spot-gate: full row + schema + value comparison of a
fast-oracle query subset against the x100 synth corpus (545,455 docs /
200,000 vectors — tools/scaling_report.py fixtures). The x10 gate
(tools/scale_check.py) replays EVERY doc/emb-only oracled query; at
x100 the heavy-oracle families (LSH/Jaccard self-joins, the curate
chain) outgrow DuckDB's temp space, so this gate pins the subset whose
oracles stay tractable — chosen to cover every family the round-7/8
verdicts flagged: exact dedup at 545k groups, the quality/gopher
passes, BM25, BOTH percolator forms plus the join-form stream drain,
interactive retrieval, the filtered IVF probe, the maintained-index
ingest pair, the staleness monitor + drift report (round-8 string
surface), the cogrouped cosine gate, the reshape pair, and the
recenter/rewrite maintenance phase.

Usage: python tools/x100_value_gate.py [synth_dir]
  synth_dir defaults to /tmp/dferp_scale/x100 (create with
  tools/scaling_report.py). Needs SPARK_DRIVER_MEMORY=32g for the
  x100 broadcasts (see SCALING.md).
"""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, ".")

# Round-7 set (12) + round-8 additions (6) + round-9 temporal pair.
QUERIES = [
    # round-7 spot set
    "dedup_exact",
    "text_quality",
    "text_gopher_rules",
    "text_bm25_topk",
    "percolate_stream",
    "percolate_join_batch",
    "knn_whole",
    "hybrid_search",
    "ann_ivf_filtered",
    "ann_ingest_assign",
    "ann_centroid_staleness",
    "report_corpus_drift",
    # round-8 additions — the r7 verdict's weak spots + new operators
    "dedup_cosine_incremental",
    "agg_pivot_roundtrip",
    "win_ntile_quartiles",
    "ann_ingest_pq",
    "ann_recenter_compact",
    "percolate_join_stream",
    # round-9 additions — the events family's first at-scale value
    # check (10M events, skewed users + one hot user with ~100k
    # events stressing the funnel's per-user collect+fold and
    # sessionize's merged mega-session), incl. the conversion-deadline
    # funnel and the incrementally-maintained retention drain
    "events_funnel",
    "events_retention",
    "events_funnel_windowed",
    "events_retention_stream",
    # round-10 additions — the late-round rebuilds whose formulations
    # changed (tf-weighted unigram mean, map-side-dl tfidf, the
    # grouping-sets + shared-aggregate report): re-prove the values at
    # 545k docs / 10M events where float-order and null-group hazards
    # would actually surface
    "text_unigram_logprob",
    "text_tfidf_keywords",
    "report_dataset",
    # round-11 additions — the perceptual near-dup (new in r10, x10-
    # certified only until now: the Hamming-ball banding's pigeonhole
    # completeness is exactly the property a 545k-doc corpus with real
    # band collisions stresses), the two tag-filtered retrieval modes
    # (the x10 over-2× churn list), and the BM25+cosine fusion
    "dedup_image_phash",
    "hybrid_search_tag_filtered",
    "segment_search_tag_filtered",
    "retrieval_rrf_fusion",
    # round-12 additions — the serving FACADE paths at scale (until
    # now only their operator twins ran at x100; these exercise the
    # Engine dispatch + tag-filter semi-join composition on the 200k-
    # vector corpus). The hot-tier equivalence phase below completes
    # the serving story.
    "api_engine_whole",
    "api_engine_hybrid",
]


def _serving_equivalence(synth_dir: str) -> int:
    """Round-12 serving-tier scale evidence: on the x100 corpus, the
    driver-resident hot index, a 3-way sharded split, AND a
    saved-then-loaded-from-disk copy must all reproduce the Spark
    plans' rows for the whole and hybrid modes (rounded-score + id
    ordering; float tolerance 1e-9, same as tests/test_serving.py).
    The resident and saved matrices keep the corpus's float32 vectors
    (a float32 screen, then a float64 decision), so the loaded copy is
    held to the same tolerance as the live one. Returns 0 on success."""
    import tempfile

    from data_feature_extraction_and_retrieval_pipeline_spark.api import (
        Engine,
    )
    from data_feature_extraction_and_retrieval_pipeline_spark.serving import (
        HotSearchIndex,
        ShardedHotIndex,
    )
    from data_feature_extraction_and_retrieval_pipeline_spark.session import (
        get_spark,
    )

    spark = get_spark(
        app_name="x100-serving-equiv",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        shuffle_partitions=32,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    eng = Engine.from_sf_dir(spark, synth_dir)
    payload = b"x100-serving-equivalence-payload"
    failures = 0
    for mode in ("whole", "hybrid"):
        spark_rows = [
            r.asDict()
            for r in eng.search_content(
                payload, filename="q.png", mode=mode, top_k=10,
                model_loader=lambda: None,
            ).collect()
        ]
        hot = eng.hot()
        hot_rows = eng.search_content_rows(
            payload, filename="q.png", mode=mode, top_k=10,
            model_loader=lambda: None,
        )
        with tempfile.TemporaryDirectory() as td:
            loaded = HotSearchIndex.load(hot.save(os.path.join(td, "hot.npz")))
            sharded = ShardedHotIndex.from_hot(hot, 3)
            qvec, seg_rows = eng._encode_query(
                payload, "q.png", mode, dim=hot.dim,
                model_loader=lambda: None,
            )
            if mode == "whole":
                alt = [loaded.whole(qvec, 10), sharded.whole(qvec, 10)]
            else:
                alt = [
                    loaded.hybrid(qvec, seg_rows, 10),
                    sharded.hybrid(qvec, seg_rows, 10),
                ]
        for label, rows in [
            ("hot", hot_rows),
            ("loaded", alt[0]),
            ("sharded3", alt[1]),
        ]:
            ok = len(rows) == len(spark_rows) and all(
                set(h) == set(s)
                and all(
                    (
                        abs(h[k] - s[k]) <= 1e-9
                        if isinstance(s[k], float)
                        else h[k] == s[k]
                    )
                    for k in s
                )
                for h, s in zip(rows, spark_rows)
            )
            status = "ok  " if ok else "FAIL"
            print(f"{status} serving[{mode}] {label} vs spark plans")
            failures += 0 if ok else 1
    spark.stop()
    return failures


def main() -> int:
    synth_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/dferp_scale/x100"
    if not os.path.isdir(synth_dir):
        print(
            f"synth dir {synth_dir} missing — run tools/scaling_report.py "
            "first (it writes the counter-seeded corpora)",
            file=sys.stderr,
        )
        return 2
    print(
        f"x100 value spot-gate: {len(QUERIES)} queries vs {synth_dir}",
        file=sys.stderr,
    )
    rc = subprocess.call(
        [sys.executable, "tools/check_correctness.py", synth_dir, *QUERIES]
    )
    print("x100 serving-tier equivalence phase", file=sys.stderr)
    failures = _serving_equivalence(synth_dir)
    return rc or (1 if failures else 0)


if __name__ == "__main__":
    raise SystemExit(main())
