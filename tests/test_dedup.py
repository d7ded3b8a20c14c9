"""Dedup family invariants (operators/dedup.py, operators/similarity.py):
the approximate paths (MinHash+LSH, SimHash, embedding-cosine
blocking) are checked against their exact counterparts.
"""

from __future__ import annotations

import itertools
import random
import re

import pytest
from pyspark.sql import functions as F

from data_feature_extraction_and_retrieval_pipeline_spark.operators import (
    cosine_self_join_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from data_feature_extraction_and_retrieval_pipeline_spark.operators.dedup import (
    simhash_buckets,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    return docs.unionByName(exact).unionByName(near)


def test_exact_dedup_finds_injected_copies(spark, docs_with_dups):
    n_docs = docs_with_dups.count()
    groups = exact_dedup(docs_with_dups)
    # every injected exact copy collapses into its source group
    n_copies = docs_with_dups.filter(F.col("doc_id") >= 1000000).filter(
        F.col("doc_id") < 2000000
    ).count()
    assert groups.agg(F.sum("group_size")).first()[0] == n_docs
    dup_members = groups.filter(F.col("group_size") > 1).agg(
        F.sum("group_size") - F.count("*")
    ).first()[0]
    assert dup_members >= n_copies


def _py_shingles(text, n):
    """Distinct word n-grams the way the operator defines them: ASCII
    whitespace split of the lowercased text, empty tokens dropped; a
    text shorter than n tokens is one shingle (its joined tokens, ""
    for an empty text); a NULL text has none."""
    if text is None:
        return set()
    toks = [t for t in re.split(r"\s+", text.lower(), flags=re.ASCII) if t]
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _py_jaccard_pairs(rows, n, threshold):
    sh = {i: _py_shingles(t, n) for i, t in rows}
    out = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        common = len(sh[a] & sh[b])
        if common:
            j = common / (len(sh[a]) + len(sh[b]) - common)
            if j >= threshold:
                out[(a, b)] = j
    return out


def test_ngram_jaccard_matches_python_reference(spark):
    """Exact pair values against a pure-Python Jaccard over edge cases
    (NULL text, empty and all-whitespace text sharing the "" shingle,
    docs shorter than n tokens, shingles repeated within a doc) and a
    small-vocabulary random corpus with many partial overlaps."""
    rows = [
        (1, None), (2, None),
        (3, ""), (4, " \t "),
        (5, "a b"), (6, "A  b"), (7, "a"),
        (8, "a b c a b c"), (9, "a b c a b c a b c"), (10, "a b c"),
        (11, "x y z x y z w"), (12, "x y z w"),
    ]
    rng = random.Random(7)
    vocab = ["red", "green", "blue", "cyan", "pink"]
    rows += [
        (100 + i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 8))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n, threshold in ((3, 0.5), (3, 0.2), (2, 0.5)):
        want = _py_jaccard_pairs(rows, n, threshold)
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(df, n=n, threshold=threshold).collect()
        }
        assert got.keys() == want.keys(), (n, threshold)
        for k, j in want.items():
            assert got[k] == pytest.approx(j, abs=1e-12), (n, threshold, k)
    assert (1, 2) not in got and (3, 4) in got and (8, 9) in got


def test_minhash_lsh_pairs_subset_of_exact(spark, docs_with_dups):
    """LSH candidates are verified with exact Jaccard, so every
    emitted pair must also be found by the exhaustive n-gram path."""
    exact_pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs_with_dups, n=3, threshold=0.5).collect()
    }
    lsh_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs_with_dups, n=3, num_hashes=16, bands=4, threshold=0.5
        ).collect()
    }
    assert lsh_pairs <= exact_pairs
    # identical docs always collide in every band → full recall there
    identical = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs_with_dups, n=3, threshold=0.9999).collect()
    }
    assert identical <= lsh_pairs


def test_portable_minhash_pairs_subset_of_exact(spark, docs_with_dups):
    """The portable-hash LSH variant (oracle-certifiable arithmetic)
    obeys the same invariants as the production xxhash path: verified
    pairs ⊆ exhaustive n-gram pairs, full recall on identical docs."""
    from data_feature_extraction_and_retrieval_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs_portable,
    )

    exact_pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs_with_dups, n=3, threshold=0.5).collect()
    }
    lsh_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs_portable(
            docs_with_dups, n=3, num_hashes=8, bands=4, threshold=0.5
        ).collect()
    }
    assert lsh_pairs <= exact_pairs
    identical = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs_with_dups, n=3, threshold=0.9999).collect()
    }
    assert identical <= lsh_pairs


def test_portable_simhash_identical_docs_share_all_bands(spark, docs_with_dups):
    from data_feature_extraction_and_retrieval_pipeline_spark.operators.dedup import (
        simhash_buckets_portable,
    )

    buckets = simhash_buckets_portable(docs_with_dups)
    pair = docs_with_dups.filter(F.col("doc_id").isin(0, 1000000))
    if pair.count() == 2:
        b = buckets.filter(F.col("doc_id").isin(0, 1000000))
        per_band = b.groupBy("band", "key").count().filter(F.col("count") == 2)
        assert per_band.count() == 2  # 30-bit signature → two 15-bit bands


def test_simhash_identical_docs_share_all_bands(spark, docs_with_dups):
    buckets = simhash_buckets(docs_with_dups)
    # exact copies have identical simhash → co-bucketed in all 4 bands
    pair = docs_with_dups.filter(F.col("doc_id").isin(0, 1000000))
    if pair.count() == 2:
        b = buckets.filter(F.col("doc_id").isin(0, 1000000))
        per_band = b.groupBy("band", "key").count().filter(F.col("count") == 2)
        assert per_band.count() == 4


def test_embedding_cosine_blocking_recall(spark):
    """Injected identical vectors land in the same cluster and are
    found at threshold ~1.0."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    inj = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    allv = emb.unionByName(inj)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    pairs = cosine_self_join_pairs(allv, cents, threshold=0.99)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    expected = {
        (r["vec_id"], r["vec_id"] + 1000000)
        for r in emb.filter(F.col("vec_id") % 10 == 0).collect()
    }
    assert expected <= got


def test_kmeans_invariants(spark):
    """Iterative k-means: deterministic, inertia non-increasing over
    rounds, exact duplicate vectors co-clustered."""
    import numpy as np
    from pyspark.sql import functions as F2

    from data_feature_extraction_and_retrieval_pipeline_spark.operators.similarity import (
        kmeans,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dup = emb.filter(F2.col("vec_id") == 3).select(
        F2.lit(999_999).alias("vec_id"), "embedding"
    )
    allv = emb.unionByName(dup)

    a1, c1 = kmeans(allv, k=4, max_iter=2)
    a2, c2 = kmeans(allv, k=4, max_iter=2)
    m1 = {r["vec_id"]: r["cluster"] for r in a1.collect()}
    m2 = {r["vec_id"]: r["cluster"] for r in a2.collect()}
    assert m1 == m2                      # deterministic
    assert m1[3] == m1[999_999]          # identical vectors co-cluster
    assert np.allclose(c1, c2)

    # inertia (sum of squared distances) must not increase with rounds
    def inertia(iters):
        assigned, cents = kmeans(allv, k=4, max_iter=iters)
        rows = assigned.collect()
        cents = np.asarray(cents)
        return sum(
            float(np.sum((np.asarray(r["embedding"], dtype=np.float64) - cents[r["cluster"]]) ** 2))
            for r in rows
        )

    i1, i3 = inertia(1), inertia(3)
    assert i3 <= i1 + 1e-9


def test_kmeans_sampled_fit(spark):
    """fit_sample fits centroids on a hash sample but still assigns
    every row; determinism holds and the centroid count is unchanged."""
    from pyspark.sql import functions as F2

    from data_feature_extraction_and_retrieval_pipeline_spark.operators.similarity import (
        kmeans,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    a1, c1 = kmeans(emb, k=4, max_iter=2, fit_sample=0.5)
    a2, c2 = kmeans(emb, k=4, max_iter=2, fit_sample=0.5)
    assert a1.count() == emb.count()      # full-corpus assignment
    assert len(c1) == 4
    m1 = {r["vec_id"]: r["cluster"] for r in a1.collect()}
    m2 = {r["vec_id"]: r["cluster"] for r in a2.collect()}
    assert m1 == m2                       # hash sample, no RNG state
    assert set(m1.values()) <= set(range(4))


def test_pq_ann_invariants(spark):
    """PQ: deterministic codebooks/codes, 32-byte codes (8x smaller
    than float32 vectors), and ADC top-10 recalls a solid fraction of
    the exact top-10 (quantization, not garbage)."""
    import numpy as np
    from pyspark.sql import functions as F2

    from data_feature_extraction_and_retrieval_pipeline_spark.operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    b1 = pq_train(emb, m=32, k=16, max_iter=5)
    b2 = pq_train(emb, m=32, k=16, max_iter=5)
    assert np.allclose(b1, b2)                    # deterministic
    assert len(b1) == 32 and all(len(b) == 16 for b in b1)

    codes = pq_encode(emb, b1)
    rows = codes.collect()
    assert len(rows) == emb.count()
    assert all(len(r.pq_code) == 32 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r.pq_code)

    q = [r.embedding for r in emb.filter(F2.col("vec_id") == 0).collect()][0]
    exact = {r.vec_id for r in brute_force_topk(emb, q, k=10).collect()}
    approx = {r.vec_id for r in pq_topk(codes, b1, q, k=10).collect()}
    assert len(exact & approx) >= 4               # recall@10 >= 0.4
    # the query vector itself must be its own (reconstructed) top hit
    assert 0 in {r.vec_id for r in pq_topk(codes, b1, q, k=3).collect()}


def test_ivfpq_composition(spark):
    """IVF-PQ = cluster pruning + ADC: results are pq_topk restricted
    to the probed clusters, and the probed scan reads fewer rows."""
    from pyspark.sql import functions as F2

    from data_feature_extraction_and_retrieval_pipeline_spark.operators.similarity import (
        assign_clusters_np,
        ivfpq_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = [
        [float(x) for x in r.embedding]
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    books = pq_train(emb, m=32, k=16, max_iter=3)
    coded = pq_encode(emb, books).join(
        assign_clusters_np(emb, cents).select("vec_id", "cluster"), "vec_id"
    )
    q = [r.embedding for r in emb.filter(F2.col("vec_id") == 0).collect()][0]

    got = ivfpq_topk(coded, cents, books, q, k=5, nprobe=3)
    rows = got.collect()
    assert len(rows) == 5
    # equivalence: ADC over the manually-pruned subset gives the same ids
    def _dot(a, b):
        return sum(x * y for x, y in zip(a, b))
    probe = sorted(range(8), key=lambda i: (-_dot(cents[i], q), i))[:3]
    manual = pq_topk(
        coded.filter(F2.col("cluster").isin(*probe)), books, q, k=5
    ).collect()
    assert [r.vec_id for r in rows] == [r.vec_id for r in manual]
    # the probe actually pruned
    assert coded.filter(F2.col("cluster").isin(*probe)).count() < coded.count()


def test_tracked_persists_release(spark):
    """Intra-query persists (the MinHash shingle frame) register with
    the caching ledger and are droppable by the harness after the
    result materializes — a resident session must not accumulate one
    dead cache entry per executed query."""
    from data_feature_extraction_and_retrieval_pipeline_spark import caching
    from data_feature_extraction_and_retrieval_pipeline_spark.operators import dedup as D

    caching.release()  # clean slate
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    D.minhash_lsh_pairs(docs).collect()
    assert caching.release() >= 1
    assert caching.release() == 0


def test_scoped_release_targets_one_query(spark):
    """bench.py's per-run release must pay only for the just-executed
    query's persists: plan construction tags each persist with the
    registry query under construction (caching.scope), release(name)
    drops only that query's ledger entries, and other scopes' entries
    survive untouched."""
    from data_feature_extraction_and_retrieval_pipeline_spark import (
        caching,
        queries as Q,
    )

    caching.release()  # clean slate
    try:
        qs = Q.queries()
        qs["dedup_minhash_lsh_portable"](spark, SF_DIR).collect()
        qs["dedup_minhash_lsh"](spark, SF_DIR).collect()
        qs["q1_pricing_summary"](spark, SF_DIR).collect()
        scopes = [sc for _, sc in caching._LIVE]
        others = [sc for sc in scopes if sc != "dedup_minhash_lsh_portable"]
        assert "dedup_minhash_lsh_portable" in scopes
        assert others and set(others) == {"dedup_minhash_lsh"}
        # a query with no intra-query persists has nothing to release
        assert caching.release("q1_pricing_summary") == 0
        n = caching.release("dedup_minhash_lsh_portable")
        assert n == len(scopes) - len(others)
        assert [sc for _, sc in caching._LIVE] == others
    finally:
        caching.release()


def test_release_counts_unpersist_failures(monkeypatch):
    """release() goes on past a failed unpersist (the harness must not
    die mid-run) but counts it in UNPERSIST_ERRORS, as unpersist()
    does, and the frame still leaves the ledger."""
    from data_feature_extraction_and_retrieval_pipeline_spark import caching

    class _LiveSession:
        class sparkContext:
            _jsc = object()

    class _Frame:
        sparkSession = _LiveSession

        def unpersist(self, blocking=False):
            raise RuntimeError("cache manager unreachable")

    monkeypatch.setitem(caching.UNPERSIST_ERRORS, "count", 0)
    monkeypatch.setitem(caching.UNPERSIST_ERRORS, "last", None)
    monkeypatch.setattr(caching, "_LIVE", [(_Frame(), "stub")])
    assert caching.release("stub") == 1
    assert caching.UNPERSIST_ERRORS["count"] == 1
    assert "cache manager unreachable" in caching.UNPERSIST_ERRORS["last"]
    assert caching._LIVE == []


def test_label_propagation_matches_union_find(spark, docs_with_dups):
    """The fixed-round min-label propagation must assign every node the
    true connected-component minimum (ground truth via union-find) —
    valid because near-dup clusters here have diameter < rounds — at 3
    and 5 rounds, and each call persists only its edge list (one ledger
    entry; every round reads the previous labels once, so no label
    frame needs a persist to keep the plan linear)."""
    from data_feature_extraction_and_retrieval_pipeline_spark import caching
    from data_feature_extraction_and_retrieval_pipeline_spark.operators.dedup import (
        label_propagation_canonical,
    )

    pairs = ngram_jaccard_pairs(docs_with_dups, n=3, threshold=0.5)
    edges = [(r["id_a"], r["id_b"]) for r in pairs.collect()]

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    truth = {x: find(x) for x in parent}

    for rounds in (3, 5):
        before = len(caching._LIVE)
        lab = label_propagation_canonical(pairs, rounds=rounds)
        assert len(caching._LIVE) == before + 1
        got = {r["node"]: r["canonical"] for r in lab.collect()}
        assert got == truth


def test_portable_pq_catalyst_encode_matches_python(spark):
    """The portable fixed-grid PQ twin: the pure-Catalyst max-dot
    encode must equal a plain-Python replay of the same quantizer
    (left-to-right accumulation, ties to the lowest centroid), and the
    production ADC scan over those codes with the left-to-right LUT
    must equal driver-side scoring."""
    from data_feature_extraction_and_retrieval_pipeline_spark.operators.similarity import (
        portable_pq_codebooks,
        pq_encode_catalyst,
        pq_lut,
        pq_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    books = portable_pq_codebooks(m=8, k=16, d=8)
    codes = {r.vec_id: r.pq_code for r in pq_encode_catalyst(emb, books).collect()}
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    assert set(codes) == set(vecs)

    def py_code(v):
        out = []
        for s in range(8):
            sims = []
            for cvec in books[s]:
                acc = 0.0
                for j in range(8):
                    acc += v[s * 8 + j] * cvec[j]
                sims.append(acc)
            out.append(sims.index(max(sims)))  # first max = lowest id
        return out

    for vid, v in vecs.items():
        assert codes[vid] == py_code(v), vid

    q = vecs[min(vecs)]
    lut = pq_lut(books, q)
    top = pq_topk(
        emb.sparkSession.createDataFrame(
            [(vid, c) for vid, c in codes.items()], "vec_id long, pq_code array<int>"
        ),
        books,
        q,
        k=5,
        lut=lut,
        round_to=6,
    ).collect()
    scored = sorted(
        (
            (round(sum(lut[s][codes[vid][s]] for s in range(8)), 6), vid)
            for vid in codes
        ),
        key=lambda t: (-t[0], t[1]),
    )
    assert [r.vec_id for r in top] == [vid for _, vid in scored[:5]]


def test_pq_encode_string_ids(spark):
    """pq_encode's output id type follows the input id column — a
    string/uuid id must not crash the Arrow return path."""
    from data_feature_extraction_and_retrieval_pipeline_spark.operators.similarity import (
        pq_encode,
        pq_train,
    )

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select(F.concat(F.lit("v"), F.col("vec_id")).alias("vec_id"), "embedding")
    )
    books = pq_train(emb, m=8, k=4, max_iter=2, id_col="vec_id")
    rows = pq_encode(emb, books, id_col="vec_id").collect()
    assert all(isinstance(r.vec_id, str) and len(r.pq_code) == 8 for r in rows)


def test_incremental_exact_filter_matches_reference_set(spark, docs_with_dups):
    """Batch-vs-corpus dedup (production dual-xxhash identity): the
    survivors equal the Python-set reference (batch docs whose text is
    not in the corpus), and both join strategies agree."""
    from data_feature_extraction_and_retrieval_pipeline_spark.operators.dedup import (
        incremental_exact_filter,
    )

    corpus = docs_with_dups.filter(F.col("doc_id") % 3 != 0)
    batch = docs_with_dups.filter(F.col("doc_id") % 3 == 0)

    seen = {r.text for r in corpus.collect()}
    expect = {r.doc_id for r in batch.collect() if r.text not in seen}

    got_b = {
        r.doc_id
        for r in incremental_exact_filter(batch, corpus).collect()
    }
    got_s = {
        r.doc_id
        for r in incremental_exact_filter(
            batch, corpus, broadcast_batch=False
        ).collect()
    }
    assert got_b == expect
    assert got_s == expect
    # the filter keeps full rows, not just ids
    cols = incremental_exact_filter(batch, corpus).columns
    assert set(cols) == {"doc_id", "text"}


def test_incremental_exact_filter_null_text_identity(spark):
    """NULL-text arrivals must match NULL corpus rows (exact_dedup's
    groupBy treats NULLs as equal to each other, distinct from '') —
    plain equi-joins would silently keep every NULL arrival."""
    from data_feature_extraction_and_retrieval_pipeline_spark.operators.dedup import (
        incremental_exact_filter,
    )

    corpus = spark.createDataFrame(
        [(10, None), (11, "same text")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(20, None), (21, "same text"), (22, ""), (23, "fresh")],
        "doc_id long, text string",
    )
    for bb in (True, False):
        got = {
            r.doc_id
            for r in incremental_exact_filter(
                batch, corpus, broadcast_batch=bb
            ).collect()
        }
        # 20 collides with the NULL corpus row; 21 with the text row;
        # '' is NOT null — no corpus '' exists, so 22 survives
        assert got == {22, 23}, (bb, got)


def test_minhash_incremental_matches_full_selfjoin_cross_pairs(spark):
    """The batch-vs-corpus incremental near-dup must find EXACTLY the
    cross-boundary subset of the full self-join's verified pairs
    (same hash family, same params) — the invariant that lets a daily
    ingest replace a full-corpus re-dedup. Also pins the keep-filter:
    incremental_near_filter drops precisely the flagged batch ids."""
    from data_feature_extraction_and_retrieval_pipeline_spark.operators.dedup import (
        incremental_near_filter,
        minhash_incremental_pairs,
        minhash_lsh_pairs_portable,
    )

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0).unionByName(
        corpus.filter(F.col("doc_id") % 5 == 1).select(
            (F.col("doc_id") + 900000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        )
    )

    inc = {
        (r["id_a"], r["id_b"])
        for r in minhash_incremental_pairs(
            batch, corpus, n=3, num_hashes=8, bands=4, threshold=0.5,
            portable=True,
        ).collect()
    }

    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    full = minhash_lsh_pairs_portable(
        corpus.unionByName(batch), n=3, num_hashes=8, bands=4, threshold=0.5
    ).collect()
    cross = {
        # normalize to (corpus_id, batch_id); self-join orders by id
        (r["id_b"], r["id_a"]) if r["id_a"] in batch_ids else (r["id_a"], r["id_b"])
        for r in full
        if (r["id_a"] in batch_ids) != (r["id_b"] in batch_ids)
    }
    assert inc == cross and inc, f"{len(inc)} vs {len(cross)}"

    kept = {
        r["doc_id"]
        for r in incremental_near_filter(
            batch, corpus, n=3, num_hashes=8, bands=4, threshold=0.5,
            portable=True,
        ).collect()
    }
    flagged = {b for _, b in inc}
    assert kept == batch_ids - flagged


def test_assign_three_forms_agree(spark):
    """The three cluster-assignment forms — pure-Catalyst expression
    (assign_clusters, HOF dot + argmax), mapInPandas numpy
    (assign_clusters_np), and the scalar-pandas-UDF column
    (assign_col_np) — share one rule: argmax dot with first-maximum
    tie-break, null cluster for null/wrong-dimension vectors. The
    cosine dedup family mixes the forms (expression before the gate
    exchange, numpy at write time), so any drift silently splits a
    near-dup pair across clusters."""
    from data_feature_extraction_and_retrieval_pipeline_spark.operators.similarity import (
        assign_clusters,
        assign_clusters_np,
        assign_col_np,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = [
        [float(x) for x in r.embedding]
        for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    dim = len(cents[0])
    bad = spark.createDataFrame(
        [(9001, None), (9002, [1.0] * (dim - 1))],
        f"vec_id long, embedding array<double>",
    )
    both = emb.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).unionByName(bad)

    expr = {
        r.vec_id: r.cluster
        for r in assign_clusters(both, cents).collect()
    }
    np_map = {
        r.vec_id: r.cluster
        for r in assign_clusters_np(both, cents).collect()
    }
    col = {
        r.vec_id: r.cluster
        for r in both.select(
            "vec_id", assign_col_np(cents).alias("cluster")
        ).collect()
    }
    assert expr == np_map == col and len(expr) > 2
    # null/ragged vectors -> null cluster in every form
    assert expr[9001] is None and expr[9002] is None


def test_image_phash_lsh_subset_and_complete_below_bands(spark):
    """image_phash_pairs vs brute-force Hamming over the full hash
    set: (soundness) every emitted pair appears in the brute-force
    table with the IDENTICAL hamming and within max_distance;
    (completeness) every pair with hamming < n_bands is emitted — the
    pigeonhole guarantee the banded blocking is built on (4 bands,
    <=3 differing bits leave >=1 band untouched)."""
    from data_feature_extraction_and_retrieval_pipeline_spark.operators.dedup import (
        image_dhash_bands,
        image_phash_pairs,
    )
    from data_feature_extraction_and_retrieval_pipeline_spark.operators.multimodal import (
        decode_image_pixels_stub,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    imgs = docs.select(
        F.concat(F.lit("img_"), F.col("doc_id").cast("string")).alias(
            "filename"
        ),
        F.encode(F.col("text"), "utf-8").alias("content"),
    ).unionByName(
        # planted near-dups: same-length tail edit (few stride samples
        # move) and exact copies (hamming 0)
        docs.filter(F.col("doc_id") % 3 == 0).select(
            F.concat(
                F.lit("img_"), (F.col("doc_id") + 500000).cast("string")
            ).alias("filename"),
            F.encode(
                F.concat(
                    F.col("text").substr(F.lit(1), F.length("text") - 3),
                    F.lit("ZZZ"),
                ),
                "utf-8",
            ).alias("content"),
        )
    )
    n_bands, max_d = 4, 6
    got = {
        (r.file_a, r.file_b): r.hamming
        for r in image_phash_pairs(
            imgs, max_distance=max_d, n_bands=n_bands
        ).collect()
    }
    hashes = {
        r.filename: [r.band0, r.band1, r.band2, r.band3]
        for r in image_dhash_bands(
            decode_image_pixels_stub(imgs), n_bands=n_bands
        ).collect()
    }
    names = sorted(hashes)
    brute = {}
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            h = sum(
                bin(x ^ y).count("1")
                for x, y in zip(hashes[a], hashes[b])
            )
            if h <= max_d:
                brute[(a, b)] = h
    # soundness: emitted == brute on every emitted pair
    for pair, h in got.items():
        assert brute.get(pair) == h, pair
    # completeness below n_bands (pigeonhole)
    guaranteed = {p: h for p, h in brute.items() if h < n_bands}
    missing = set(guaranteed) - set(got)
    assert not missing, f"pigeonhole-guaranteed pairs missed: {missing}"
    assert len(guaranteed) > 0  # the planted dups make this non-vacuous
