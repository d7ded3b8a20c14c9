"""Engine facade / mode dispatcher (api.py — SURVEY.md §2.10)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_feature_extraction_and_retrieval_pipeline_spark.api import (
    ALLOWED_EXTENSIONS,
    Engine,
    MAX_UPLOAD_BYTES,
    validate_upload,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def engine(spark):
    return Engine.from_sf_dir(spark, SF_DIR)


@pytest.fixture(scope="module")
def qvec(spark, engine):
    row = engine.images.filter(F.col("image_id") == 0).first()
    return [float(x) for x in row["embedding"]]


@pytest.fixture(scope="module")
def qsegs(engine):
    return engine.segments.filter(F.col("image_id") == 0).select(
        F.col("vec_id").alias("q_segment_id"),
        F.col("clip_features").alias("features"),
    )


def test_whole_mode(engine, qvec):
    out = engine.search("whole", query_vec=qvec, top_k=5).collect()
    assert len(out) == 5
    # self-match first: normalized vectors, dot(v,v)+1 = 2 is max
    assert out[0]["image_id"] == 0
    assert out[0]["score"] == pytest.approx(2.0, abs=1e-5)


def test_segment_mode(engine, qsegs):
    out = engine.search("segment", query_segments=qsegs, top_k=5).collect()
    assert len(out) == 5
    assert out[0]["image_id"] == 0  # self image has perfect matches
    assert out[0]["avg_similarity"] == pytest.approx(1.0, abs=1e-5)


def test_hybrid_mode(engine, qvec, qsegs):
    out = engine.search(
        "hybrid", query_vec=qvec, query_segments=qsegs, top_k=5
    ).collect()
    assert len(out) == 5
    top = out[0]
    assert top["image_id"] == 0
    # 0.4·(1+1) + 0.6·1 = 1.4 for the exact self match
    assert top["hybrid_score"] == pytest.approx(1.4, abs=1e-5)


def test_hybrid_mode_registers_no_cache_entry(engine, qvec, qsegs):
    """A Spark-tier hybrid request persists nothing: the service path
    never calls caching.release, so a persisted phase-1 pool would
    leave one ledger entry (and one cached plan) per request."""
    from data_feature_extraction_and_retrieval_pipeline_spark import caching

    before = len(caching._LIVE)
    for _ in range(2):
        engine.search(
            "hybrid", query_vec=qvec, query_segments=qsegs, top_k=5
        ).collect()
    assert len(caching._LIVE) == before


def test_tags_mode_roundtrip(spark):
    tags_df = spark.createDataFrame(
        [(1, [("dome", 0.9)]), (2, [("tree", 0.4)])],
        "image_id: long, tags: array<struct<tag:string,confidence:double>>",
    )
    eng = Engine(images=None, segment_tags=tags_df)
    out = eng.search("tags", tags=["dome"], top_k=5).collect()
    assert [r["image_id"] for r in out] == [1]


def test_mode_validation(engine):
    with pytest.raises(ValueError, match="unknown mode"):
        engine.search("nope")
    with pytest.raises(ValueError, match="needs query_vec"):
        engine.search("whole")
    with pytest.raises(ValueError, match="needs query_segments"):
        engine.search("segment")


def test_upload_validation():
    validate_upload("a.jpg", 1000)
    validate_upload("b.PNG", MAX_UPLOAD_BYTES)
    with pytest.raises(ValueError, match="too large"):
        validate_upload("a.jpg", MAX_UPLOAD_BYTES + 1)
    with pytest.raises(ValueError, match="extension"):
        validate_upload("a.exe", 10)
    with pytest.raises(ValueError, match="extension"):
        validate_upload("noext", 10)
    # upload gate (app.py:31) ⊃ scan filter (extract_clip_features.py:77):
    # the two reference sets differ on purpose — bmp/tiff upload fine
    # but are skipped by bulk directory scans
    validate_upload("c.bmp", 10)
    validate_upload("d.TIFF", 10)
    assert set(ALLOWED_EXTENSIONS) == {"png", "jpg", "jpeg", "gif", "bmp", "tiff"}
    from data_feature_extraction_and_retrieval_pipeline_spark.sources.readers import IMAGE_EXTENSIONS

    assert set(IMAGE_EXTENSIONS) == {"jpg", "jpeg", "png", "gif"}


def test_health(engine):
    h = engine.health()
    assert h["status"] == "ok" and h["images"] and h["segments"]


def test_search_content_roundtrip(spark):
    """An item indexed through the stub encoder is its own top hit
    when queried with the same payload (the encode→index→query loop)."""
    from data_feature_extraction_and_retrieval_pipeline_spark.ml.encoders import (
        stub_image_encoder_udf,
    )

    payloads = [(i, f"img_{i}.jpg", bytes([i]) * (i + 3)) for i in range(20)]
    df = spark.createDataFrame(payloads, ["image_id", "filename", "content"])
    enc = stub_image_encoder_udf(dim=32)
    indexed = df.select("image_id", enc(F.col("content")).alias("embedding"))
    eng = Engine(images=indexed)

    out = eng.search_content(bytes([7]) * 10, mode="whole", top_k=3).collect()
    assert out[0]["image_id"] == 7
    assert out[0]["score"] == pytest.approx(2.0, abs=1e-5)

    with pytest.raises(ValueError, match="extension"):
        eng.search_content(b"x", filename="query.exe")


def _make_fake_clip():
    """Deterministic stand-in satisfying the real-model protocol
    (``encode_image_batch(list[bytes]) -> (n, dim) array``): feature j
    = f(payload length, first byte, j). Unnormalized on purpose — the
    seam must L2-normalize whatever the model emits. Defined inside a
    function so cloudpickle ships the class BY VALUE to executor
    workers (a test-module-level class is pickled by reference, which
    workers cannot import)."""

    class FakeClip:
        dim = 16

        def encode_image_batch(self, payloads):
            import numpy as np

            out = np.zeros((len(payloads), self.dim), dtype=np.float32)
            for i, p in enumerate(payloads):
                first = p[0] if len(p) else 0
                for j in range(self.dim):
                    out[i, j] = ((len(p) * 31 + first * 7 + j * 13) % 97) - 48.0
            return out

    return FakeClip


def test_real_model_seam_udf(spark):
    """The real-model branch of the encoder UDF executes on workers:
    injecting a model via ``model_loader`` must produce the model's
    (normalized) vectors, not the hash-projection stub's."""
    import numpy as np
    from data_feature_extraction_and_retrieval_pipeline_spark.ml.encoders import (
        _hash_projection,
        stub_image_encoder_udf,
    )

    FakeClip = _make_fake_clip()
    payloads = [(i, bytes([i + 1]) * (i + 3)) for i in range(10)]
    df = spark.createDataFrame(payloads, ["image_id", "content"])
    enc = stub_image_encoder_udf(dim=FakeClip.dim, model_loader=lambda: FakeClip())
    got = {
        r["image_id"]: np.asarray(r["e"], dtype=np.float64)
        for r in df.select("image_id", enc(F.col("content")).alias("e")).collect()
    }
    fake = FakeClip()
    for i, payload in payloads:
        raw = fake.encode_image_batch([payload])[0].astype(np.float64)
        expect = raw / np.linalg.norm(raw)
        assert np.allclose(got[i], expect, atol=1e-6)
        assert np.linalg.norm(got[i]) == pytest.approx(1.0, abs=1e-5)
        stub = _hash_projection(payload, FakeClip.dim)
        assert not np.allclose(got[i], stub, atol=1e-3)


def test_real_model_seam_search_content(spark, monkeypatch):
    """search_content routes the query-side encoding through the same
    model seam: with a (monkeypatched) real model resident, an item
    indexed through that model is its own top hit."""
    from data_feature_extraction_and_retrieval_pipeline_spark.ml import encoders

    FakeClip = _make_fake_clip()
    # driver-side seam: search_content consults _MODEL_CACHE
    monkeypatch.setitem(encoders._MODEL_CACHE, "clip", FakeClip())
    payloads = [(i, bytes([i + 1]) * (i + 3)) for i in range(12)]
    df = spark.createDataFrame(payloads, ["image_id", "content"])
    # worker-side seam: executors don't see the driver monkeypatch, so
    # the index build injects the same model through the loader closure
    enc = encoders.stub_image_encoder_udf(
        dim=FakeClip.dim, model_loader=lambda: FakeClip()
    )
    indexed = df.select("image_id", enc(F.col("content")).alias("embedding"))
    eng = Engine(images=indexed)

    out = eng.search_content(bytes([6]) * 8, mode="whole", top_k=3).collect()
    assert out[0]["image_id"] == 5  # payload of image 5 is bytes([6]) * 8
    assert out[0]["score"] == pytest.approx(2.0, abs=1e-5)


def test_curation_pipeline_end_to_end(spark, tmp_path):
    """Raw docs -> redact -> quality filter -> decontaminate -> dedup
    -> mixture -> split -> chunk/export; each stage monotonically
    shrinks (or preserves) the corpus and the export round-trips."""
    import glob
    import json

    from pyspark.sql import functions as F

    from data_feature_extraction_and_retrieval_pipeline_spark.api import CurationPipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n0 = docs.count()
    bench = docs.filter(F.col("doc_id") % 13 == 0).select("doc_id", "text")

    p = CurationPipeline(docs).redact().filter_quality(0.0)
    p = p.decontaminate(bench, n=8).dedup_exact()
    p = p.sample_mixture({"src0": 1.0}, default_rate=0.5).split()
    n1 = p.df.count()
    assert 0 < n1 <= n0
    # benchmark docs must be gone (every bench doc shares its own 8-grams)
    bench_ids = {r.doc_id for r in bench.collect()}
    survived = {r.doc_id for r in p.df.select("doc_id").collect()}
    assert not (bench_ids & survived)
    assert set(r.split for r in p.df.select("split").distinct().collect()) <= {
        "train", "val", "test"
    }

    chunks = p.chunks(window=16, stride=12)
    assert chunks.filter(F.col("n_tokens") > 16).count() == 0
    assert "split" in chunks.columns

    out = str(tmp_path / "shards")
    p.export(out, max_records_per_file=50)
    rows = []
    for f in glob.glob(f"{out}/split=*/*.json"):
        with open(f) as fh:
            rows += [json.loads(line) for line in fh if line.strip()]
    assert len(rows) == n1


def test_curation_pipeline_dedup_near_drops_near_duplicates(spark):
    """dedup_near catches what dedup_exact cannot: planted copies with
    one token appended survive the exact stage but are dropped by the
    MinHash+LSH stage, which keeps each cluster's canonical (min-id)
    representative — on both the production (xxhash) and the portable
    hash family."""
    from data_feature_extraction_and_retrieval_pipeline_spark.api import (
        CurationPipeline,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    planted = {r.doc_id for r in near.select("doc_id").collect()}
    corpus = docs.unionByName(near)

    # exact dedup alone misses every planted near-copy
    exact_only = CurationPipeline(corpus).dedup_exact()
    exact_ids = {r.doc_id for r in exact_only.df.select("doc_id").collect()}
    assert planted <= exact_ids

    from data_feature_extraction_and_retrieval_pipeline_spark.operators.dedup import (
        label_propagation_canonical,
        minhash_lsh_pairs,
        minhash_lsh_pairs_portable,
    )

    all_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    for portable in (False, True):
        p = CurationPipeline(corpus).dedup_near(portable=portable)
        kept = {r.doc_id for r in p.df.select("doc_id").collect()}
        # every planted near-copy is gone (its base has the smaller id,
        # so the copy can never be its cluster's canonical)...
        assert not (planted & kept), f"portable={portable}: {planted & kept}"
        # ...the corpus's global minimum id is always canonical...
        assert min(all_ids) in kept
        # ...and the facade keeps EXACTLY the canonicals the operator
        # composition produces (wiring equivalence; bases that are
        # non-canonical members of natural near-dup clusters drop too)
        pairs_fn = (
            minhash_lsh_pairs_portable if portable else minhash_lsh_pairs
        )
        pairs = pairs_fn(
            corpus, n=3, num_hashes=8 if portable else 16, bands=4,
            threshold=0.5,
        )
        lab = label_propagation_canonical(pairs, rounds=3)
        expected_drops = {
            r.node for r in lab.filter("node <> canonical").collect()
        }
        assert kept == all_ids - expected_drops, f"portable={portable}"


# ---------------------------------------------------------------------------
# search_content end-to-end: upload → encode → (segment) → search, all
# four modes through the model seam with an injected fake encoder
# (SURVEY.md §3.3 lifecycle; app.py:203-218 defaults)
# ---------------------------------------------------------------------------

_PAYLOAD = b"query-image-bytes-for-the-lifecycle-test"


class _FakeClip:
    """Deterministic encoder double injected through ``model_loader``:
    the whole payload encodes toward image 2's embedding, every
    SAM-stub crop (payload prefix + 2-byte segment id) encodes to one
    of the three unit vectors image 1's segments cover."""

    def encode_image_batch(self, payloads):
        out = []
        for blob in payloads:
            if blob == _PAYLOAD:
                out.append([0.0, 1.0, 0.0, 0.0])
            else:
                sid = int.from_bytes(blob[-2:], "big")
                v = [0.0, 0.0, 0.0, 0.0]
                v[1 + (sid % 3)] = 1.0
                out.append(v)
        return out


@pytest.fixture(scope="module")
def content_engine(spark):
    images = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "image_id long, embedding array<float>",
    )
    segments = spark.createDataFrame(
        [
            (1, 10, [0.0, 1.0, 0.0, 0.0]),
            (1, 11, [0.0, 0.0, 1.0, 0.0]),
            (1, 12, [0.0, 0.0, 0.0, 1.0]),
            (2, 20, [-1.0, 0.0, 0.0, 0.0]),
        ],
        "image_id long, vec_id long, clip_features array<float>",
    )
    tags = spark.createDataFrame(
        [
            (1, [("dome", 0.9)]),
            (2, [("dome", 0.05), ("tree", 0.8)]),
        ],
        "image_id long, tags array<struct<tag:string,confidence:double>>",
    )
    return Engine(images=images, segments=segments, segment_tags=tags)


def test_search_content_whole_and_tag_filter(content_engine):
    # unfiltered: the payload encodes to image 2's embedding
    out = content_engine.search_content(
        _PAYLOAD, mode="whole", model_loader=lambda: _FakeClip()
    ).collect()
    assert out[0]["image_id"] == 2
    assert out[0]["score"] == pytest.approx(2.0, abs=1e-6)
    # tag_filter: image 2's 'dome' confidence (0.05) is below the 0.1
    # floor, so the filter leaves only image 1 in the universe
    flt = content_engine.search_content(
        _PAYLOAD,
        mode="whole",
        model_loader=lambda: _FakeClip(),
        tag_filter=["dome"],
    ).collect()
    assert [r["image_id"] for r in flt] == [1]


def test_search_content_segment_mode(content_engine):
    out = content_engine.search_content(
        _PAYLOAD, mode="segment", model_loader=lambda: _FakeClip()
    ).collect()
    # image 1's segments cover every crop vector exactly
    assert out[0]["image_id"] == 1
    assert out[0]["avg_similarity"] == pytest.approx(1.0, abs=1e-6)


def test_search_content_hybrid_weights(content_engine):
    # default 0.4/0.6 (app.py:210-211): segments dominate -> image 1
    # whole part: image1 calibrated 1.0, image2 2.0; segment part:
    # image1 1.0, image2 0.0 -> hybrid 1.0 vs 0.8
    out = content_engine.search_content(
        _PAYLOAD, mode="hybrid", model_loader=lambda: _FakeClip()
    ).collect()
    assert out[0]["image_id"] == 1
    assert out[0]["hybrid_score"] == pytest.approx(1.0, abs=1e-6)
    # explicit weights flip the outcome: whole-only ranks image 2 first
    flipped = content_engine.search_content(
        _PAYLOAD,
        mode="hybrid",
        model_loader=lambda: _FakeClip(),
        whole_weight=1.0,
        segment_weight=0.0,
    ).collect()
    assert flipped[0]["image_id"] == 2
    assert flipped[0]["hybrid_score"] == pytest.approx(2.0, abs=1e-6)


def test_search_content_tags_mode(content_engine):
    out = content_engine.search_content(
        _PAYLOAD,
        mode="tags",
        model_loader=lambda: _FakeClip(),
        tags=["tree"],
    ).collect()
    assert [r["image_id"] for r in out] == [2]


def test_search_content_stub_path_self_consistent(content_engine):
    """Without a model the hash-projection stub still runs the full
    lifecycle (dim inferred from the images table)."""
    out = content_engine.search_content(_PAYLOAD, mode="whole").collect()
    assert len(out) == 2  # both images scored, deterministic order
    assert all(-1e-6 <= r["score"] <= 2.0 + 1e-6 for r in out)


def test_curation_pipeline_incremental_and_classifier_stages(spark):
    """The round-4 stages compose in the one-plan chain: incremental
    dedup against an accumulated corpus drops exactly the already-seen
    arrivals, and the classifier gate is a fused row-local filter
    (single plan, no join for the gate)."""
    from data_feature_extraction_and_retrieval_pipeline_spark.api import (
        CurationPipeline,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    # arrivals: the odd docs plus copies of five even (seen) docs
    copies = corpus.limit(5).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1).unionByName(copies)

    p = CurationPipeline(batch).dedup_incremental(corpus).filter_classifier(0.0)
    survived = {r.doc_id for r in p.df.select("doc_id").collect()}
    # every injected copy is gone; no corpus row ever enters
    assert not any(d >= 900000 for d in survived)
    assert survived <= {r.doc_id for r in batch.collect()}

    # the classifier gate is a fused row-local Filter, not a join:
    # adding it to the chain must not add a single join node
    base = CurationPipeline(batch).dedup_incremental(corpus)
    base_plan = base.df._jdf.queryExecution().executedPlan().toString()
    full_plan = p.df._jdf.queryExecution().executedPlan().toString()
    assert full_plan.count("Join") == base_plan.count("Join"), full_plan


def test_curation_pipeline_release_scopes_and_drops_caches(spark):
    """Direct (non-harness) facade use must not leak stage-boundary
    caches: each chain's persists are tagged with a per-chain scope,
    release() (or the context manager) drops exactly that chain's
    frames, and an ambient harness scope still wins so bench's scoped
    release keeps covering registry-driven runs."""
    from data_feature_extraction_and_retrieval_pipeline_spark import caching
    from data_feature_extraction_and_retrieval_pipeline_spark.api import (
        CurationPipeline,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)

    before = len(caching._LIVE)
    p1 = CurationPipeline(batch).dedup_incremental(corpus).dedup_exact()
    # a fresh frame object: the persist ledger dedupes on frame
    # identity, so sharing `batch` would fold p2's persist into p1's
    p2 = CurationPipeline(batch.select("*")).dedup_exact()
    p1.df.count(), p2.df.count()

    mine1 = [sc for _, sc in caching._LIVE if sc == p1._cache_scope]
    mine2 = [sc for _, sc in caching._LIVE if sc == p2._cache_scope]
    # p1's stages share ONE scope (clones inherit it): two stage-source
    # persists + the incremental filter's internal batch-key persist;
    # p2 has its own scope with one
    assert len(mine1) == 3 and len(mine2) == 1
    assert p1._cache_scope != p2._cache_scope

    # release() drops only p1's frames; p2's survive until its release
    assert p1.release() == 3
    assert [sc for _, sc in caching._LIVE if sc == p1._cache_scope] == []
    assert len([sc for _, sc in caching._LIVE if sc == p2._cache_scope]) == 1
    assert p2.release() == 1
    assert len(caching._LIVE) == before

    # context manager releases on exit
    with CurationPipeline(batch) as p3:
        p3.dedup_exact().df.count()
        assert any(sc == p3._cache_scope for _, sc in caching._LIVE)
    assert not any(sc == p3._cache_scope for _, sc in caching._LIVE)

    # ambient harness scope wins: the registry/bench release contract
    with caching.scope("harness-query"):
        p4 = CurationPipeline(batch).dedup_exact()
    assert any(sc == "harness-query" for _, sc in caching._LIVE)
    assert not any(sc == p4._cache_scope for _, sc in caching._LIVE)
    assert caching.release(only="harness-query") == 1


class TestPercolator:
    def test_facade_equals_operator_and_serves_new_batches(self, spark):
        """Percolator.matches on the corpus equals the raw operator
        composition; a NEW batch is scored against the FROZEN stats
        (no recompute), and construction rejects an empty registry."""
        import pytest

        from data_feature_extraction_and_retrieval_pipeline_spark.api import (
            Percolator,
        )
        from data_feature_extraction_and_retrieval_pipeline_spark.streaming import (
            StandingQuery,
            bm25_stats,
            percolate,
        )

        docs = spark.createDataFrame(
            [(1, "apple banana"), (2, "banana"), (3, None)],
            "doc_id long, text string",
        )
        qspec = [("qa", ("apple",), 0.0), ("qb", ("banana",), 0.0)]
        p = Percolator(docs, qspec)

        terms = ["apple", "banana"]
        want = percolate(
            docs,
            [StandingQuery(*q) for q in qspec],
            bm25_stats(docs, terms),
            terms,
        )
        assert sorted(map(tuple, p.matches(docs).collect())) == sorted(
            map(tuple, want.collect())
        )

        fresh = spark.createDataFrame(
            [(9, "apple apple")], "doc_id long, text string"
        )
        got = {r.query_id: r.bm25 for r in p.matches(fresh).collect()}
        assert set(got) == {"qa"} and got["qa"] > 0

        with pytest.raises(ValueError):
            Percolator(docs, [])


class TestEventsAnalytics:
    """EventsAnalytics facade wiring: dispatch equals the raw
    operators (the oracled api_events_* rows certify funnel/retention
    against SQL; this pins the remaining surface + column binding)."""

    def test_dispatch_equals_operators(self, spark):
        from pyspark.sql import functions as F

        from data_feature_extraction_and_retrieval_pipeline_spark.api import (
            EventsAnalytics,
        )
        from data_feature_extraction_and_retrieval_pipeline_spark.operators import (
            temporal,
        )

        sf = "/root/testdata/sf0.001"
        ev = EventsAnalytics.from_sf_dir(spark, sf)
        raw = ev.events

        def rows(df):
            return sorted(map(tuple, df.collect()))

        assert rows(ev.sessionize("30 minutes")) == rows(
            temporal.sessionize_spans(raw, "30 minutes")
        )
        assert rows(ev.retention()) == rows(temporal.retention_cohorts(raw))
        steps = ["view", "click"]
        assert rows(ev.funnel(steps)) == rows(temporal.funnel(raw, steps))
        assert rows(ev.funnel(steps, within_seconds=600)) == rows(
            temporal.funnel(raw, steps, within_seconds=600)
        )

    def test_custom_column_binding(self, spark):
        from pyspark.sql import functions as F

        from data_feature_extraction_and_retrieval_pipeline_spark.api import (
            EventsAnalytics,
        )

        df = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00", "a"), (1, "2024-01-01 10:01:00", "b")],
            "uid long, at string, kind string",
        ).select("uid", F.to_timestamp("at").alias("at"), "kind")
        ev = EventsAnalytics(
            df, user_col="uid", ts_col="at", type_col="kind", value_col=None
        )
        out = {r.uid: r.depth for r in ev.funnel(["a", "b"]).collect()}
        assert out == {1: 2}


def _jobs_run(spark, fn, group):
    """(result of fn(), number of Spark jobs it ran) via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)


def _probed(spark, fn, group):
    """(result of fn(), whether it ran a Spark job) via a job group."""
    out, n = _jobs_run(spark, fn, group)
    return out, bool(n)


@pytest.mark.parametrize("mode", ["segment", "hybrid"])
def test_search_content_passes_segments_as_rows(spark, content_engine, mode):
    """The content path hands its driver-held query segments to the
    operators as rows: building the plan runs no Spark job, the request
    runs fewer jobs than the same rows sent as a frame (which the
    operators collect straight back), and the ids are unchanged."""
    clip = lambda: _FakeClip()  # noqa: E731
    qvec, seg_rows = content_engine._encode_query(
        _PAYLOAD, "query.jpg", mode, model_loader=clip
    )
    assert seg_rows

    def via_rows():
        df, n_build = _jobs_run(
            spark,
            lambda: content_engine.search_content(
                _PAYLOAD, mode=mode, model_loader=clip
            ),
            f"rows-build-{mode}",
        )
        assert n_build == 0
        return df.collect()

    def via_frame():
        frame = spark.createDataFrame(
            seg_rows, "q_segment_id long, features array<float>"
        )
        return content_engine.search(
            mode, query_vec=qvec, query_segments=frame
        ).collect()

    rows, n_rows = _jobs_run(spark, via_rows, f"rows-{mode}")
    framed, n_frame = _jobs_run(spark, via_frame, f"frame-{mode}")
    assert rows == framed
    assert n_rows < n_frame


def test_embedding_dim_probed_once_per_table_epoch(spark):
    """The stub encoder's dimension comes from the hot build when there
    is one, else from one Spark probe reused until the tables change;
    an empty images table still raises."""
    schema = "image_id long, embedding array<float>"
    eng = Engine(spark.createDataFrame([(0, [1.0, 0.0, 0.0])], schema))
    assert _probed(spark, eng._embedding_dim, "dim-a") == (3, True)
    assert _probed(spark, eng._embedding_dim, "dim-b") == (3, False)
    eng.ingest(images=spark.createDataFrame([(1, [0.0, 1.0, 0.0])], schema))
    assert _probed(spark, eng._embedding_dim, "dim-c") == (3, True)
    eng.images = spark.createDataFrame([(2, [1.0, 0.0])], schema)  # rebind
    assert _probed(spark, eng._embedding_dim, "dim-d") == (2, True)

    built = Engine(spark.createDataFrame([(0, [1.0] * 5)], schema))
    built.hot()
    assert _probed(spark, built._embedding_dim, "dim-e") == (5, False)

    empty = Engine(spark.createDataFrame([], schema))
    for _ in range(2):
        with pytest.raises(ValueError, match="images table is empty"):
            empty.search_content(
                b"x", filename="q.png", model_loader=lambda: None
            )


def test_checkpoint_guard_rejects_lazy_pairs(spark):
    """dedup_near's unpersist guard is an explicit raise (kept under
    ``python -O``): a lazy pair frame fails it, an eager checkpoint
    passes, and a frame with no JVM plan (Spark Connect) skips it."""
    from data_feature_extraction_and_retrieval_pipeline_spark.api import (
        _require_checkpointed,
    )

    lazy = spark.range(4).withColumnRenamed("id", "a")
    with pytest.raises(RuntimeError, match="eagerly checkpointed"):
        _require_checkpointed(lazy)
    _require_checkpointed(lazy.localCheckpoint(eager=True))
    _require_checkpointed(object())


def test_bypass_threshold_warning_numeric_and_once(monkeypatch):
    """get_spark compares the shuffle-bypass threshold as a number
    ("0" is "00") and warns once per process on a real mismatch."""
    import warnings

    from pyspark.sql import SparkSession

    from data_feature_extraction_and_retrieval_pipeline_spark import session

    class _Conf:
        value = "00"

        def get(self, key, default=None):
            return self.value

    conf = _Conf()

    class _Active:
        class sparkContext:
            @staticmethod
            def getConf():
                return conf

    monkeypatch.setattr(SparkSession, "getActiveSession", lambda: _Active)
    # attach without touching the real session's runtime confs
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: None)
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("default")  # the shipped filter: once
        session.get_spark()
        conf.value = "200"
        session.get_spark()
        session.get_spark()
    msgs = [
        str(w.message) for w in seen
        if "bypassMergeThreshold" in str(w.message)
    ]
    assert len(msgs) == 1 and "=200 differs" in msgs[0]
