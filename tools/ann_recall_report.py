#!/usr/bin/env python
"""Recall-vs-cost operating table for the ANN family.

Sweeps the probe knobs of each approximate index (IVF nprobe, LSH
multi-probe hamming radius, IVF-PQ nprobe) and records, per
operating point:

- recall@10 vs the exact brute-force top-10 (mean over a fixed,
  deterministic query set),
- candidate fraction (share of the corpus the probe actually scores —
  the quantity that becomes scanned-bytes at 100 TB, where the
  cluster/bucket column is a write-time partition key and the probe
  is partition pruning),
- mean warm per-query wall time through the REAL Spark operators
  (operators/similarity.py) over resident index frames; each frame
  is built and collected once untimed, then its re-collect is timed.

TWO corpora, because recall is a property of data structure, not just
of the index:

- the driver's embeddings table (uniform on the sphere) — the
  ADVERSARIAL regime: with no cluster structure, every probe's recall
  is bounded by its candidate fraction, for ANY index. This table is
  the lower envelope.
- a clustered corpus (synth.synth_embeddings, 16 well-separated
  centers) with kmeans-trained centroids and the L2 probe rule — the
  regime ANN indexes exist for, where nprobe=2 of nlist=16 reads ~1/8
  of the corpus at ≥0.9 recall.

The committed artifact is ANN_TUNING.md at the repo root;
tests/test_similarity_recall.py pins the clustered-regime recall
floor at the documented defaults so a regression in the probe math
cannot land silently.

Usage: python tools/ann_recall_report.py
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
K = 10
N_QUERIES = 10


def _query_ids(n_rows: int) -> list[int]:
    """Deterministic spread of query ids across the corpus."""
    step = max(n_rows // N_QUERIES, 1)
    return [(7 + i * step) % n_rows for i in range(N_QUERIES)]


def run_sweep(
    spark,
    emb,
    nlist: int = 8,
    kmeans_centroids: bool = False,
    nprobes=(1, 2, 4, 8),
    hammings=(0, 1, 2, 3),
) -> list[dict]:
    """One corpus's operating table. ``kmeans_centroids=True`` trains
    Lloyd's (L2 assignment + L2 probe rule); False uses the fixed
    leading-vector centroids the certified queries use (unit-norm, so
    dot == L2)."""
    from data_feature_extraction_and_retrieval_pipeline_spark import caching
    from data_feature_extraction_and_retrieval_pipeline_spark.operators import (
        similarity,
    )
    from pyspark.sql import functions as F

    # persist the corpus: a synthetic (mapInPandas-generated) frame
    # would otherwise re-generate through Python on every probe, and
    # the timings would measure the generator instead of the operator
    emb = emb.select("vec_id", "embedding").persist()
    n_rows = emb.count()
    rows = (
        emb.filter(F.col("vec_id").isin(_query_ids(n_rows)))
        .select("vec_id", "embedding")
        .collect()
    )
    queries = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}

    truth: dict[int, list[int]] = {}
    for qid, q in queries.items():
        truth[qid] = [
            r["vec_id"]
            for r in similarity.brute_force_topk(emb, q, k=K).collect()
        ]

    # shared write-time index artifacts (resident, like a serving node)
    l2 = kmeans_centroids
    if kmeans_centroids:
        assigned, centroids = similarity.kmeans(emb, k=nlist, max_iter=5)
        assigned = assigned.persist()
    else:
        centroids = [
            [float(x) for x in r["embedding"]]
            for r in emb.orderBy("vec_id").limit(nlist).collect()
        ]
        assigned = similarity.assign_clusters_np(emb, centroids).persist()
    assigned.count()
    hyperplanes = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    bucketed = emb.withColumn(
        "bucket", similarity.hyperplane_bucket_np("embedding", hyperplanes)
    ).persist()
    bucketed.count()
    books = similarity.pq_train(emb, m=8, k=16)
    pq_index = similarity.pq_encode_catalyst(
        assigned, books, keep_cols=("cluster",)
    ).persist()
    pq_index.count()

    def measure(name: str, knob: str, fn, cand_fn) -> dict:
        hits = 0
        wall = 0.0
        for qid, q in queries.items():
            df = fn(q)
            df.collect()  # warm (plan compile + JIT)
            t0 = time.perf_counter()
            got = [r["vec_id"] for r in df.collect()]
            wall += time.perf_counter() - t0
            hits += len(set(got) & set(truth[qid]))
        cand = sum(cand_fn(q) for q in queries.values()) / len(queries)
        return {
            "family": name,
            "knob": knob,
            "recall_at_10": round(hits / (K * len(queries)), 3),
            "candidate_frac": round(cand / n_rows, 3),
            "mean_query_s": round(wall / len(queries), 4),
        }

    out: list[dict] = []
    out.append(
        measure(
            "brute_force",
            "-",
            lambda q: similarity.brute_force_topk(emb, q, k=K),
            lambda q: n_rows,
        )
    )

    ivf_name = f"ivf(nlist={nlist}{',kmeans' if kmeans_centroids else ''})"
    for nprobe in nprobes:
        probe = lambda q, np_=nprobe: similarity.ivf_probe(
            assigned, centroids, q, k=K, nprobe=np_, l2=l2
        )
        cand = lambda q, np_=nprobe: assigned.filter(
            F.col("cluster").isin(
                *similarity.probe_clusters(centroids, q, np_, l2=l2)
            )
        ).count()
        out.append(measure(ivf_name, f"nprobe={nprobe}", probe, cand))

    for hamming in hammings:
        probe = lambda q, h=hamming: similarity.lsh_probe(
            bucketed, hyperplanes, q, k=K, hamming=h
        )

        def cand(q, h=hamming):
            qb = sum(
                1 << i
                for i, hp in enumerate(hyperplanes)
                if sum(x * y for x, y in zip(q, hp)) > 0
            )
            return bucketed.filter(
                F.bit_count(F.col("bucket").bitwiseXOR(F.lit(qb))) <= h
            ).count()

        out.append(measure("lsh(bits=8)", f"hamming={hamming}", probe, cand))

    pq_name = f"ivfpq(m=8,k=16,nlist={nlist})"
    for nprobe in nprobes:
        probe = lambda q, np_=nprobe: similarity.ivfpq_topk(
            pq_index, centroids, books, q, k=K, nprobe=np_, l2=l2
        )
        cand = lambda q, np_=nprobe: pq_index.filter(
            F.col("cluster").isin(
                *similarity.probe_clusters(centroids, q, np_, l2=l2)
            )
        ).count()
        out.append(measure(pq_name, f"nprobe={nprobe}", probe, cand))

    # ADC shortlist + exact re-rank (the FAISS refine pattern): raw
    # IVF-PQ recall plateaus when quantization error exceeds the
    # inter-neighbor gaps; re-ranking k*4 candidates restores it at
    # the cost of 40 exact vector reads per query
    for refine in (4, 8):
        for nprobe in nprobes[1:2]:
            probe = lambda q, np_=nprobe, rf=refine: similarity.pq_refine_topk(
                pq_index, emb, centroids, books, q,
                k=K, nprobe=np_, refine=rf, l2=l2,
            )
            cand = lambda q, np_=nprobe: pq_index.filter(
                F.col("cluster").isin(
                    *similarity.probe_clusters(centroids, q, np_, l2=l2)
                )
            ).count()
            out.append(
                measure(
                    pq_name + f"+refine{refine}", f"nprobe={nprobe}",
                    probe, cand,
                )
            )

    for df in (emb, assigned, bucketed, pq_index):
        df.unpersist()
    caching.release()
    return out


def _md_table(rows: list[dict]) -> list[str]:
    lines = [
        "| family | knob | recall@10 | candidate frac | mean query s |",
        "|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['family']} | {r['knob']} | {r['recall_at_10']} "
            f"| {r['candidate_frac']} | {r['mean_query_s']} |"
        )
    return lines


def main() -> None:
    from data_feature_extraction_and_retrieval_pipeline_spark import synth
    from data_feature_extraction_and_retrieval_pipeline_spark.session import (
        get_spark,
    )
    from data_feature_extraction_and_retrieval_pipeline_spark.sources import (
        load_table,
    )

    spark = get_spark(app_name="ann-recall-report")
    spark.sparkContext.setLogLevel("ERROR")

    uniform = run_sweep(
        spark, load_table(spark, SF_DIR, "embeddings"), nlist=8
    )
    clustered = run_sweep(
        spark,
        synth.synth_embeddings(
            spark, 2000, n_clusters=16, cluster_noise=0.18, seed=11
        ),
        nlist=16,
        kmeans_centroids=True,
        nprobes=(1, 2, 4),
        hammings=(0, 1, 2),
    )

    lines = [
        "# ANN recall-vs-cost operating table",
        "",
        f"Generated by `tools/ann_recall_report.py` "
        f"({N_QUERIES} fixed queries, k={K}; real operator paths, "
        "resident index frames, warm timings).",
        "",
        "Candidate fraction is the share of the corpus each probe "
        "scores — at 100 TB the cluster/bucket column is a write-time "
        "partition key, so this fraction IS the scan cost.",
        "",
        f"## Uniform corpus (`{SF_DIR}` embeddings — the adversarial "
        "regime)",
        "",
        "Uniform-on-the-sphere vectors have no cluster structure, so "
        "EVERY index's recall is bounded by its candidate fraction — "
        "the table below is that bound made visible, not an "
        "implementation defect. A deployment seeing this shape should "
        "conclude 'this corpus does not support sublinear ANN', and "
        "brute-force (or PQ-compressed brute-force, nprobe=nlist) is "
        "the honest operating point.",
        "",
        *_md_table(uniform),
        "",
        "## Clustered corpus (synth_embeddings, 16 centers — the "
        "regime ANN exists for)",
        "",
        "kmeans-trained centroids (nlist=16, 5 Lloyd rounds) with the "
        "L2 probe rule (`probe_clusters(l2=True)`).",
        "",
        *_md_table(clustered),
        "",
        "Documented operating defaults (clustered regime): IVF "
        "nprobe=2; IVF-PQ nprobe=2 **with refine=8** (raw ADC "
        "ordering collapses when quantization error exceeds the "
        "inter-neighbor gaps — the refine re-rank restores recall "
        "for 80 exact vector reads per query, and is not slower, "
        "because the exact scoring runs over 80 rows instead of the "
        "whole probed set). LSH trails IVF on every point of this "
        "curve, which is why the engine's primary vector layout is "
        "IVF(-PQ); LSH remains the right tool for the BANDED text "
        "signatures (MinHash), not for dense vectors.",
        "`tests/test_similarity_recall.py` pins recall@10 >= 0.9 at "
        "the defaults (IVF nprobe=2, IVF-PQ nprobe=2+refine8) on "
        "this fixture, so probe-math regressions cannot land "
        "silently.",
        "",
    ]
    md = "\n".join(lines)
    out_path = Path(__file__).resolve().parent.parent / "ANN_TUNING.md"
    out_path.write_text(md)
    print(md)


if __name__ == "__main__":
    main()
