"""Hot serving tier (serving.py, Engine.search_rows/search_content_rows,
Percolator.matches_rows) — equivalence against the Spark plans.

The hot tier exists to serve interactive traffic without the
per-request Spark plan cost; these tests are the contract that makes
it safe: for every mode and for the percolator, the resident-tier
result must match the operator layer's DataFrame result row for row
(ids and integer fields exactly; float scores to 1e-9 — the whole-image
dot accumulates SIMD-blocked in numpy vs left-to-right in the JVM HOF,
a ~1e-13 effect absorbed by the engine's 1e-6 rounded-score ordering).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_feature_extraction_and_retrieval_pipeline_spark.api import (
    Engine,
    Percolator,
)
from data_feature_extraction_and_retrieval_pipeline_spark.serving import (
    HotSearchIndex,
    py_tokens,
    round_half_up,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def engine(spark):
    eng = Engine.from_sf_dir(spark, SF_DIR)
    eng.segment_tags = spark.createDataFrame(
        [
            (0, [("cat", 0.9), ("dog", 0.2)]),
            (1, [("cat", 0.4)]),
            (2, [("fish", 0.8), ("cat", 0.15)]),
            (3, []),
        ],
        "image_id long, tags array<struct<tag string, confidence float>>",
    )
    return eng


def _spark_rows(df):
    return [r.asDict() for r in df.collect()]


def _assert_rows_equal(hot_rows, spark_rows, float_tol=1e-9):
    assert len(hot_rows) == len(spark_rows), (hot_rows, spark_rows)
    for h, s in zip(hot_rows, spark_rows):
        assert set(h) == set(s), (h, s)
        for k, sv in s.items():
            hv = h[k]
            if isinstance(sv, float):
                assert hv == pytest.approx(sv, abs=float_tol), (k, h, s)
            else:
                assert hv == sv, (k, h, s)


PAYLOADS = [f"serving-payload-{i}".encode() for i in range(4)]


@pytest.mark.parametrize("mode", ["whole", "segment", "hybrid"])
def test_content_modes_match_spark(engine, mode):
    for payload in PAYLOADS:
        hot = engine.search_content_rows(
            payload, filename="q.png", mode=mode, top_k=5,
            model_loader=lambda: None,
        )
        df = engine.search_content(
            payload, filename="q.png", mode=mode, top_k=5,
            model_loader=lambda: None,
        )
        _assert_rows_equal(hot, _spark_rows(df))


def test_hybrid_weights_match_spark(engine):
    hot = engine.search_content_rows(
        PAYLOADS[0], filename="q.png", mode="hybrid", top_k=4,
        model_loader=lambda: None, whole_weight=0.7, segment_weight=0.3,
    )
    df = engine.search_content(
        PAYLOADS[0], filename="q.png", mode="hybrid", top_k=4,
        model_loader=lambda: None, whole_weight=0.7, segment_weight=0.3,
    )
    _assert_rows_equal(hot, _spark_rows(df))


@pytest.mark.parametrize("mode", ["whole", "segment", "hybrid"])
def test_tag_filter_matches_spark(engine, mode):
    hot = engine.search_content_rows(
        PAYLOADS[1], filename="q.png", mode=mode, top_k=5,
        model_loader=lambda: None, tag_filter=["cat", "fish"],
        min_confidence=0.5,
    )
    df = engine.search_content(
        PAYLOADS[1], filename="q.png", mode=mode, top_k=5,
        model_loader=lambda: None, tag_filter=["cat", "fish"],
        min_confidence=0.5,
    )
    _assert_rows_equal(hot, _spark_rows(df))
    # the filter actually bites: allowed = {0, 2} under floor 0.5
    # (image 1's cat sits at 0.4, below the floor)
    assert {r["image_id"] for r in hot} <= {0, 2}


def test_tags_mode_matches_spark(engine):
    hot = engine.search_rows("tags", tags=["cat", "fish"], top_k=10)
    df = engine.search("tags", tags=["cat", "fish"], top_k=10)
    _assert_rows_equal(hot, _spark_rows(df))
    assert [r["image_id"] for r in hot] == [2, 0, 1]  # (n_tags, conf, id)


def test_search_rows_validation_parity(engine):
    for kwargs, msg in [
        (dict(mode="whole"), "whole mode needs query_vec"),
        (dict(mode="segment"), "segment mode needs query_segments"),
        (dict(mode="tags"), "tags mode needs tags"),
        (dict(mode="nope"), "unknown mode"),
    ]:
        with pytest.raises(ValueError, match=msg):
            engine.search_rows(**kwargs)


def test_hot_rebuild_after_table_swap(engine, spark):
    """hot() caches; rebuild=True re-collects the current tables."""
    hot0 = engine.hot()
    assert engine.hot() is hot0
    assert engine.hot(rebuild=True) is not hot0


# -- sharded gather (the horizontal posture, executable) -------------------


@pytest.mark.parametrize("n_shards", [2, 3, 7])
def test_sharded_equals_single_all_modes(engine, n_shards):
    """ShardedHotIndex over N shards must return the same rows as the
    single index for every mode — the exactness proof behind the
    'N serving processes behind a balancer' posture (SCALING.md):
    ids, ranks, and integer fields identical; float scores to 1e-12
    (BLAS dgemm blocking makes the same row's dot differ by ~1 ulp
    between shard-sized and corpus-sized matmuls — absorbed by the
    1e-6 rounded-score ordering, like every other fp-order effect in
    this engine)."""
    from data_feature_extraction_and_retrieval_pipeline_spark.serving import (
        ShardedHotIndex,
    )

    hot = engine.hot()
    sharded = ShardedHotIndex.from_hot(hot, n_shards)
    qvec, seg_rows = engine._encode_query(
        PAYLOADS[2], "q.png", "hybrid", dim=hot.dim,
        model_loader=lambda: None,
    )
    _assert_rows_equal(sharded.whole(qvec, 7), hot.whole(qvec, 7), 1e-12)
    _assert_rows_equal(
        sharded.segment(seg_rows, 5, candidate_cap=15),
        hot.segment(seg_rows, 5, candidate_cap=15), 1e-12,
    )
    _assert_rows_equal(
        sharded.hybrid(qvec, seg_rows, 5),
        hot.hybrid(qvec, seg_rows, 5), 1e-12,
    )
    assert sharded.tags(["cat", "fish"], 0.1, 10) == hot.tags(
        ["cat", "fish"], 0.1, 10
    )  # tag scoring is arithmetic-free: bit equality holds
    allowed = hot.tag_allowed(["cat"], 0.3)
    assert sharded.tag_allowed(["cat"], 0.3) == allowed
    _assert_rows_equal(
        sharded.whole(qvec, 7, allowed=allowed),
        hot.whole(qvec, 7, allowed=allowed), 1e-12,
    )
    _assert_rows_equal(
        sharded.hybrid(qvec, seg_rows, 5, allowed=allowed),
        hot.hybrid(qvec, seg_rows, 5, allowed=allowed), 1e-12,
    )
    _assert_rows_equal(
        sharded.segment(seg_rows, 5, candidate_cap=15, allowed=allowed),
        hot.segment(seg_rows, 5, candidate_cap=15, allowed=allowed),
        1e-12,
    )


def test_sharded_handles_empty_shards(engine):
    """More shards than distinct ids ⇒ some shards are empty; the
    gather must not care."""
    from data_feature_extraction_and_retrieval_pipeline_spark.serving import (
        ShardedHotIndex,
    )

    hot = engine.hot()
    n = int(len(hot.image_ids) + 5)
    sharded = ShardedHotIndex.from_hot(hot, n)
    qvec, _ = engine._encode_query(
        PAYLOADS[3], "q.png", "whole", dim=hot.dim,
        model_loader=lambda: None,
    )
    _assert_rows_equal(sharded.whole(qvec, 5), hot.whole(qvec, 5), 1e-12)
    # allowed-filter over empty shards (regression: a dtype-less empty
    # mask indexed the id array as float64)
    allowed = hot.tag_allowed(["cat"], 0.3)
    _assert_rows_equal(
        sharded.whole(qvec, 5, allowed=allowed),
        hot.whole(qvec, 5, allowed=allowed),
        1e-12,
    )
    seg_rows = [(1, [0.0] * hot.dim)]
    _assert_rows_equal(
        sharded.hybrid(qvec, seg_rows, 3, allowed=allowed),
        hot.hybrid(qvec, seg_rows, 3, allowed=allowed),
        1e-12,
    )


# -- primitive parity -----------------------------------------------------


def test_py_tokens_matches_spark_tokens(spark):
    from data_feature_extraction_and_retrieval_pipeline_spark.functions import (
        text as X,
    )

    texts = [
        "Data  Vector\tTable\nJOIN",
        "  leading and trailing  ",
        "", "one", "a\x0bb\fc\rd",
        "Ünïcode Mixed CASE tokens",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "t string").select(
        X.tokens("t").alias("toks")
    )
    got = [r["toks"] for r in df.collect()]
    assert got == [py_tokens(t) for t in texts]


def test_round_half_up_matches_spark_round_randomized(spark):
    """400 seeded random doubles across magnitudes (including values
    engineered to land near the digit-7 rounding boundary) — the
    display-rounding twin must match F.round(double, 6) bit-for-bit
    on all of them."""
    import random

    rng = random.Random(0xD0D0)
    vals = []
    for _ in range(300):
        vals.append(rng.uniform(-10, 10) * 10 ** rng.randint(-8, 3))
    for _ in range(100):  # near .5 at the 7th digit
        vals.append(rng.randint(-(10**7), 10**7) / 10**7 + 5e-7)
    df = spark.createDataFrame([(v,) for v in vals], "v double").select(
        "v", F.round("v", 6).alias("r")
    )
    for r in df.collect():
        assert r["r"] == round_half_up(r["v"], 6), r["v"]


def test_round_half_up_matches_spark_round(spark):
    vals = [
        0.1234565, 0.12345649999, -0.1234565, 1.9999995, 2.0000005,
        0.0, -0.0, 123.4567894999, 5e-7, -5e-7, 1.5e-6,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v double").select(
        F.round("v", 6).alias("r")
    )
    got = [r["r"] for r in df.collect()]
    assert got == [round_half_up(v, 6) for v in vals]


# -- percolator hot scorer -------------------------------------------------


_DOCS = [
    (0, "data table join vector"),
    (1, "DATA data Data\tdata"),
    (2, "nothing relevant here"),
    (3, ""),
    (4, "vector   vector\nvector table"),
    (5, "the quick data fox"),
]


def _perc_parity(spark, p):
    hot = p.matches_rows(_DOCS)
    batch = spark.createDataFrame(_DOCS, "doc_id long, text string")
    cold = [r.asDict() for r in p.matches(batch).collect()]
    key = lambda r: (r["doc_id"], r["query_id"])  # noqa: E731
    assert sorted(map(key, hot)) == sorted(map(key, cold))
    cold_by = {key(r): r for r in cold}
    for h in hot:
        c = cold_by[key(h)]
        assert h["n_matched_terms"] == c["n_matched_terms"]
        assert h["bm25"] == pytest.approx(c["bm25"], abs=1e-9)


def test_matches_rows_parity_expr_form(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    p = Percolator(
        docs,
        [
            ("q_ab", ("data", "table"), 0.1),
            ("q_v", ("vector",), 0.0),
            ("q_hi", ("data",), 5.0),  # threshold nobody clears
        ],
    )
    assert not p._join_form
    _perc_parity(spark, p)


def test_matches_rows_parity_join_form(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    p = Percolator(
        docs,
        [("q_ab", ("data", "table"), 0.1), ("q_v", ("vector",), 0.0)],
        strategy="join",
    )
    assert p._join_form
    _perc_parity(spark, p)


def test_matches_rows_sees_registration(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    p = Percolator(docs, [("q_v", ("vector",), 0.0)])
    before = p.matches_rows(_DOCS)
    p.register(("q_new", ("quick", "fox"), 0.0))
    after = p.matches_rows(_DOCS)
    assert {r["query_id"] for r in after} >= {r["query_id"] for r in before}
    assert any(r["query_id"] == "q_new" for r in after)
    _perc_parity(spark, p)  # frozen-stats extension stayed consistent


def test_matches_rows_expr_order(spark):
    """Emission order is doc input order × query registration order —
    the expression form's deterministic order."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    p = Percolator(
        docs, [("qa", ("data",), 0.0), ("qb", ("vector",), 0.0)]
    )
    rows = p.matches_rows([(7, "vector data"), (3, "data")])
    assert [(r["doc_id"], r["query_id"]) for r in rows] == [
        (7, "qa"), (7, "qb"), (3, "qa")
    ]


def test_matches_rows_tokens_col_rejected(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    p = Percolator(
        docs, [("q", ("data",), 0.0)], tokens_col="toks"
    )
    with pytest.raises(ValueError, match="matches_rows scores text rows"):
        p.matches_rows(_DOCS)


def test_matches_rows_bm25_value(spark):
    """One hand-checked BM25 score (frozen stats over a 3-doc corpus)."""
    corpus = spark.createDataFrame(
        [(0, "a b c"), (1, "a a"), (2, "x")], "doc_id long, text string"
    )
    p = Percolator(corpus, [("q", ("a",), 0.0)])
    # n=3, sumdl=6, avgdl=2; term a: df=2
    idf = math.log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))
    tf, dl = 2.0, 2.0
    norm = tf / (tf + 1.2 * (0.25 + 0.75 * (dl / 2.0)))
    expect = round_half_up(idf * norm, 6)
    got = p.matches_rows([(9, "a a")])
    assert len(got) == 1 and got[0]["bm25"] == expect


# -- durable artifact (save/load — the build-once/serve-forever split) -----


def _mode_rows(idx, qvec, seg_rows):
    """All four modes + the tag-filter primitive against one index."""
    allowed = idx.tag_allowed(["cat"], 0.3) if idx.tag_rows else None
    return {
        "whole": idx.whole(qvec, 7),
        "whole_filtered": idx.whole(qvec, 7, allowed=allowed),
        "segment": idx.segment(seg_rows, 5, candidate_cap=15),
        "hybrid": idx.hybrid(qvec, seg_rows, 5),
        "hybrid_filtered": idx.hybrid(qvec, seg_rows, 5, allowed=allowed),
        "tags": idx.tags(["cat", "fish"], 0.1, 10),
        "allowed": sorted(allowed) if allowed is not None else None,
    }


def test_save_load_roundtrip_spark_free(engine, tmp_path):
    """Build via Spark, save, load the .npz — the loaded copy must
    answer every mode with the exact rows of the live-built artifact
    (same bits: the matrices round-trip verbatim), and loading
    itself must not touch the SparkSession (serving.py imports no
    pyspark; the subprocess test below proves the boot path end to
    end)."""
    from data_feature_extraction_and_retrieval_pipeline_spark.serving import (
        HotSearchIndex,
    )

    hot = engine.hot(rebuild=True)
    path = str(tmp_path / "hot.npz")
    assert hot.save(path) == path
    loaded = HotSearchIndex.load(path)
    assert loaded.image_col == hot.image_col
    assert loaded.dim == hot.dim

    qvec, seg_rows = engine._encode_query(
        PAYLOADS[1], "q.png", "hybrid", dim=hot.dim,
        model_loader=lambda: None,
    )
    built, reloaded = _mode_rows(hot, qvec, seg_rows), _mode_rows(
        loaded, qvec, seg_rows
    )
    assert built == reloaded  # bit-exact: same resident matrices


def test_load_boots_without_pyspark(engine, tmp_path):
    """The N-shard deployment story: a serving process boots one shard
    from the durable artifact with numpy alone. Run the load + a whole
    query in a subprocess where importing pyspark is IMPOSSIBLE
    (masked via a broken stub on sys.path ahead of site-packages) —
    if any code path touched Spark, the subprocess would die."""
    import json as _json
    import subprocess
    import sys

    hot = engine.hot()
    path = str(tmp_path / "shard.npz")
    hot.save(path)
    qvec, _ = engine._encode_query(
        PAYLOADS[0], "q.png", "whole", dim=hot.dim,
        model_loader=lambda: None,
    )
    mask = tmp_path / "mask"
    (mask / "pyspark").mkdir(parents=True)
    (mask / "pyspark" / "__init__.py").write_text(
        'raise ImportError("pyspark is masked in the serving process")'
    )
    import pathlib

    pkg_root = str(
        pathlib.Path(
            __import__(
                "data_feature_extraction_and_retrieval_pipeline_spark"
            ).__file__
        ).resolve().parent.parent
    )
    code = (
        "import json, sys\n"
        "from data_feature_extraction_and_retrieval_pipeline_spark"
        ".serving import HotSearchIndex\n"
        "idx = HotSearchIndex.load(sys.argv[1])\n"
        "q = json.loads(sys.argv[2])\n"
        "print(json.dumps(idx.whole(q, 5)))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, path, _json.dumps(qvec)],
        capture_output=True, text=True, timeout=120,
        env={"PYTHONPATH": f"{mask}:{pkg_root}", "PATH": "/usr/bin:/bin"},
    )
    assert out.returncode == 0, out.stderr
    got = _json.loads(out.stdout)
    expect = [
        {k: (round(v, 12) if isinstance(v, float) else v) for k, v in r.items()}
        for r in hot.whole(qvec, 5)
    ]
    got = [
        {k: (round(v, 12) if isinstance(v, float) else v) for k, v in r.items()}
        for r in got
    ]
    assert got == expect


def test_sharded_from_paths_equals_single(engine, tmp_path):
    """save_shards → from_paths: the disk-booted sharded posture must
    merge to the single index's rows for every mode (the same
    equivalence the in-memory sharding pins)."""
    from data_feature_extraction_and_retrieval_pipeline_spark.serving import (
        ShardedHotIndex,
    )

    hot = engine.hot()
    paths = ShardedHotIndex.from_hot(hot, 3).save_shards(
        str(tmp_path / "shards")
    )
    assert len(paths) == 3
    sharded = ShardedHotIndex.from_paths(paths)
    qvec, seg_rows = engine._encode_query(
        PAYLOADS[2], "q.png", "hybrid", dim=hot.dim,
        model_loader=lambda: None,
    )
    _assert_rows_equal(sharded.whole(qvec, 7), hot.whole(qvec, 7), 1e-12)
    _assert_rows_equal(
        sharded.segment(seg_rows, 5, candidate_cap=15),
        hot.segment(seg_rows, 5, candidate_cap=15), 1e-12,
    )
    _assert_rows_equal(
        sharded.hybrid(qvec, seg_rows, 5),
        hot.hybrid(qvec, seg_rows, 5), 1e-12,
    )
    assert sharded.tags(["cat", "fish"], 0.1, 10) == hot.tags(
        ["cat", "fish"], 0.1, 10
    )


def test_engine_hot_path_builds_then_boots(engine, spark, tmp_path):
    """Engine.hot(path=...): first call builds from the tables and
    saves; a DIFFERENT engine pointed at the same path serves the
    saved artifact, not its own tables — proof the boot read the disk
    copy."""
    from data_feature_extraction_and_retrieval_pipeline_spark.serving import (
        HotSearchIndex,
    )

    path = str(tmp_path / "engine-hot.npz")
    hot = engine.hot(rebuild=True, path=path)
    import os

    assert os.path.exists(path)

    dim = hot.dim
    other = Engine(
        spark.createDataFrame(
            [(999999, [0.0] * dim)],
            "image_id long, embedding array<double>",
        )
    )
    booted = other.hot(path=path)
    assert len(booted.image_ids) == len(hot.image_ids)  # not 1
    assert 999999 not in set(booted.image_ids.tolist())
    # rebuild=True with a path overwrites from the CURRENT tables
    rebuilt = other.hot(rebuild=True, path=path)
    assert len(rebuilt.image_ids) == 1
    assert len(HotSearchIndex.load(path).image_ids) == 1


# -- freshness (ingest → staleness signal → rebuild policy) ----------------


def test_ingest_staleness_and_auto_rebuild(spark):
    """The hot artifact is an immutable snapshot: after an ingest the
    engine KNOWS it is stale (hot_stale()), default policy keeps
    serving the snapshot (documented lambda split), and
    hot(rebuild='auto') refreshes so the new row becomes servable.
    serving_epoch moves at both steps — the response-cache version."""
    eng = Engine.from_sf_dir(spark, SF_DIR)
    hot0 = eng.hot()
    epoch0 = eng.serving_epoch
    assert not eng.hot_stale()
    qvec = [1.0] + [0.0] * (hot0.dim - 1)

    new_img = spark.createDataFrame(
        [(777777, qvec)], "image_id long, embedding array<double>"
    )
    eng.ingest(images=new_img)
    assert eng.hot_stale()
    assert eng.serving_epoch != epoch0
    # default policy: snapshot keeps serving (pre-ingest rows)
    assert eng.hot() is hot0
    assert 777777 not in {r["image_id"] for r in hot0.whole(qvec, 3)}
    # auto policy: stale ⇒ rebuild; the ingested row is now the top hit
    hot1 = eng.hot(rebuild="auto")
    assert hot1 is not hot0
    assert not eng.hot_stale()
    assert eng.hot(rebuild="auto") is hot1  # fresh ⇒ cached
    assert {r["image_id"] for r in hot1.whole(qvec, 1)} == {777777}


def test_hot_stale_probe_sees_external_growth(spark):
    """Table growth that bypasses ingest() (no epoch bump) is invisible
    to the cheap signal but caught by the row-count probe."""
    eng = Engine.from_sf_dir(spark, SF_DIR)
    hot0 = eng.hot()
    extra = spark.createDataFrame(
        [(888888, [0.0] * hot0.dim)], "image_id long, embedding array<double>"
    )
    eng.images = eng.images.unionByName(extra)  # external rebind
    assert not eng.hot_stale()  # epoch unchanged — cheap check blind
    assert eng.hot_stale(probe=True)  # count probe sees the growth


def test_save_load_float32_artifact(engine, tmp_path):
    """The archive's vectors are float32, and the artifact keeps them at
    that width — resident, on disk and after a load — so the loaded
    copy answers every mode with exactly the live copy's rows."""
    import numpy as np

    from data_feature_extraction_and_retrieval_pipeline_spark.serving import (
        HotSearchIndex,
    )

    hot = engine.hot(rebuild=True)
    assert hot.image_mat.dtype == np.float32
    assert hot.seg_mat.dtype == np.float32
    path = str(tmp_path / "hot.npz")
    loaded = HotSearchIndex.load(hot.save(path))
    _assert_bits_equal(loaded.image_mat, hot.image_mat)
    _assert_bits_equal(loaded.seg_mat, hot.seg_mat)
    assert loaded.dim == hot.dim

    qvec, seg_rows = engine._encode_query(
        PAYLOADS[3], "q.png", "hybrid", dim=hot.dim,
        model_loader=lambda: None,
    )
    assert _mode_rows(loaded, qvec, seg_rows) == _mode_rows(hot, qvec, seg_rows)


def test_sharded_float32_from_paths(engine, tmp_path):
    """save_shards → from_paths keeps each shard's float32 matrices,
    and the disk-booted sharded posture merges to exactly the rows of
    the same shards held in memory."""
    import numpy as np

    from data_feature_extraction_and_retrieval_pipeline_spark.serving import (
        ShardedHotIndex,
    )

    hot = engine.hot()
    live = ShardedHotIndex.from_hot(hot, 3)
    sharded = ShardedHotIndex.from_paths(
        live.save_shards(str(tmp_path / "shards32"))
    )
    for a, b in zip(sharded.shards, live.shards):
        assert a.image_mat.dtype == np.float32
        _assert_bits_equal(a.image_mat, b.image_mat)
        _assert_bits_equal(a.seg_mat, b.seg_mat)
    qvec, seg_rows = engine._encode_query(
        PAYLOADS[0], "q.png", "hybrid", dim=hot.dim,
        model_loader=lambda: None,
    )
    assert sharded.whole(qvec, 7) == live.whole(qvec, 7)
    assert sharded.hybrid(qvec, seg_rows, 5) == live.hybrid(qvec, seg_rows, 5)
    _assert_rows_equal(sharded.whole(qvec, 7), hot.whole(qvec, 7), 1e-12)


# -- float32 screen, float64 decision --------------------------------------


def _near_tie_index(seed):
    """A float32 index built to defeat a loose screen: every row is one
    of a few base vectors nudged by one float32 step on one component,
    so exact scores sit within 1e-7 of each other around every cut, and
    a fifth of the rows are exact duplicates under other ids. Values
    are fixed-point (rows k·2⁻²⁴ with |k| < 2¹⁹, queries m·2⁻²⁹ with
    |m| < 2²⁹, 32 dims), so every float64 dot is exact in any summation
    order and the brute force below is the float64 truth; most queries
    are not float32-representable, so the query's rounding matters as
    well as the screen's own."""
    import numpy as np

    rng = np.random.default_rng(seed)
    dim, n = 32, 1500
    base = rng.integers(-(2**19) + 8, 2**19 - 8, (6, dim))
    ints = base[rng.integers(0, len(base), n)]
    ints[np.arange(n), rng.integers(0, dim, n)] += rng.integers(-3, 4, n)
    dup = rng.random(n) < 0.2
    ints[dup] = ints[rng.integers(0, n, int(dup.sum()))]
    ids = rng.permutation(n * 3)[:n].astype(np.int64)
    mat = (ints * 2.0**-24).astype(np.float32)
    owner = rng.integers(0, n, 3000)  # some images get no segments
    seg_ints = ints[owner].copy()
    seg_ints[np.arange(len(owner)), rng.integers(0, dim, len(owner))] += (
        rng.integers(-3, 4, len(owner))
    )
    seg_mat = (seg_ints * 2.0**-24).astype(np.float32)
    hot = HotSearchIndex(ids, mat, ids[owner], seg_mat, None)

    def qvec(bits=29):
        return (rng.integers(-(2**bits), 2**bits, dim) * 2.0**-bits).tolist()

    # the 24-bit query is float32-exact: only the screen's own rounding
    queries = [qvec(), qvec(), qvec(24)]
    seg_queries = [[(j, qvec()) for j in range(q)] for q in (1, 3)]
    return hot, ids, mat, ids[owner], seg_mat, queries, seg_queries


def _ref_whole(ids, mat, q, k, allowed=None):
    """float64 brute force: score every row, (score DESC, id ASC)."""
    import numpy as np

    scores = mat.astype(np.float64) @ np.asarray(q) + 1.0
    keep = np.ones(len(ids), bool) if allowed is None else np.isin(
        ids, list(allowed)
    )
    rows = sorted(
        zip(ids[keep].tolist(), scores[keep].tolist()),
        key=lambda r: (-r[1], r[0]),
    )
    return [{"image_id": i, "score": s} for i, s in rows[:k]]


def _ref_segment_avgs(seg_ids, seg_mat, seg_rows, images):
    """image id → (avg, max) of the per-query-segment maxima, the avg
    summed left to right."""
    import numpy as np

    qmat = np.asarray([v for _, v in seg_rows])
    out = {}
    for g in sorted(set(images) & set(seg_ids.tolist())):
        maxima = (seg_mat[seg_ids == g].astype(np.float64) @ qmat.T).max(axis=0)
        total = 0.0
        for x in maxima.tolist():
            total += x
        out[g] = (total / len(maxima), float(maxima.max()))
    return out


def _ref_hybrid(ids, mat, seg_ids, seg_mat, q, seg_rows, top_k, allowed=None):
    pool = _ref_whole(ids, mat, q, max(top_k * 20, 100), allowed)
    seg = _ref_segment_avgs(
        seg_ids, seg_mat, seg_rows, [r["image_id"] for r in pool]
    )
    rows = []
    for r in pool:
        w, s = r["score"], seg.get(r["image_id"], (0.0, 0.0))[0]
        rows.append((r["image_id"], w, s, 0.4 * w + 0.6 * s))
    rows.sort(key=lambda r: (-round_half_up(r[3], 6), r[0]))
    return [
        {"image_id": g, "whole_score": w, "segment_score": s,
         "hybrid_score": h}
        for g, w, s, h in rows[:top_k]
    ]


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_float32_screen_exact_on_near_ties(seed):
    """The float32 screen never drops a true top-k row or a tie at the
    cut: whole, hybrid and segment rows equal a float64 brute force
    exactly (ids and scores) on near-tied and duplicated rows, with and
    without ``allowed`` subsets, at k = 200 (the hybrid pool), around
    it, and at k ≥ n; and the float32 index answers exactly like the
    same matrices held in float64."""
    import numpy as np

    hot, ids, mat, seg_ids, seg_mat, queries, seg_queries = _near_tie_index(
        seed
    )
    assert hot.image_mat.dtype == np.float32
    wide = HotSearchIndex(
        ids, mat.astype(np.float64), seg_ids, seg_mat.astype(np.float64), None
    )
    rng = np.random.default_rng(seed + 100)
    subsets = [
        None,
        set(rng.choice(ids, len(ids) // 2, replace=False).tolist()),
        set(rng.choice(ids, 150, replace=False).tolist()) | {-1, 10**9},
    ]
    n = len(ids)
    for q in queries:
        for allowed in subsets:
            for k in (1, 7, 60, 199, 200, 201, n - 1, n, n + 5):
                got = hot.whole(q, k, allowed=allowed)
                assert got == _ref_whole(ids, mat, q, k, allowed), (k, allowed)
                assert got == wide.whole(q, k, allowed=allowed)
            for seg_rows in seg_queries:
                for top_k in (3, 10, 40):
                    got = hot.hybrid(q, seg_rows, top_k, allowed=allowed)
                    assert got == _ref_hybrid(
                        ids, mat, seg_ids, seg_mat, q, seg_rows, top_k,
                        allowed,
                    ), (top_k, allowed)
                    assert got == wide.hybrid(
                        q, seg_rows, top_k, allowed=allowed
                    )
    for seg_rows in seg_queries:
        for allowed in subsets:
            for cap in (None, 1, 30, 200):
                got = hot.segment(seg_rows, 25, candidate_cap=cap,
                                  allowed=allowed)
                groups = sorted(set(seg_ids.tolist()))
                if allowed is not None:
                    groups = [g for g in groups if g in allowed]
                groups = groups[:cap] if cap is not None else groups
                ref = sorted(
                    _ref_segment_avgs(seg_ids, seg_mat, seg_rows, groups).items(),
                    key=lambda r: (-round_half_up(r[1][0], 6), r[0]),
                )[:25]
                assert got == [
                    {"image_id": g, "avg_similarity": a,
                     "max_segment_similarity": m}
                    for g, (a, m) in ref
                ], (cap, allowed)
                assert got == wide.segment(
                    seg_rows, 25, candidate_cap=cap, allowed=allowed
                )


def test_float32_screen_keeps_no_float64_copy(engine):
    """A float32 source stays float32 after the build, its largest row
    norm is computed once there, and answering a whole query allocates
    no matrix-sized float64 temporary."""
    import tracemalloc

    import numpy as np

    hot = engine.hot()
    mat = hot.image_mat
    assert mat.dtype == np.float32 and hot.seg_mat.dtype == np.float32
    assert hot.image_maxnorm == pytest.approx(
        float(np.linalg.norm(mat.astype(np.float64), axis=1).max()), rel=1e-12
    )
    qvec = [float(x) for x in mat[3].astype(np.float64) * 0.5]
    hot.whole(qvec, 5)  # warm any lazy numpy/BLAS set-up
    tracemalloc.start()
    try:
        rows = hot.whole(qvec, 5)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert len(rows) == 5
    assert peak < mat.size * 8


# -- columnar artifact (Arrow build, flat tag arrays) ----------------------


_TAGS_SCHEMA = (
    "image_id long, tags array<struct<tag string, confidence float>>"
)


def _source_dtype(df, vec_col):
    """numpy dtype of an ``array<float|double>`` column's elements."""
    import numpy as np
    from pyspark.sql.types import FloatType

    element = df.schema[vec_col].dataType.elementType
    return np.float32 if isinstance(element, FloatType) else np.float64


def _row_build(eng):
    """The artifact as a row-wise ``collect()`` builds it, matrices in
    the source column's dtype — the reference the columnar build must
    reproduce bit for bit."""
    import numpy as np

    col = eng.image_col
    img = eng.images.select(col, "embedding").collect()
    seg = eng.segments.select(col, "clip_features").collect()
    seg_ids = np.asarray([r[0] for r in seg])
    order = np.argsort(seg_ids, kind="stable")
    tags = [
        (r[0], [(t["tag"], float(t["confidence"])) for t in (r[1] or [])])
        for r in eng.segment_tags.select(col, "tags").collect()
    ]
    return (
        np.asarray([r[0] for r in img]),
        np.asarray(
            [r[1] for r in img], dtype=_source_dtype(eng.images, "embedding")
        ),
        seg_ids[order],
        np.asarray(
            [r[1] for r in seg],
            dtype=_source_dtype(eng.segments, "clip_features"),
        )[order],
        tags,
    )


def _tag_lists(t):
    """TagRows back to (image_id, [(tag, confidence), …]) rows."""
    out, pos = [], 0
    for i, n in zip(t.ids.tolist(), t.lens.tolist()):
        pairs = zip(t.names[pos:pos + n].tolist(), t.confs[pos:pos + n].tolist())
        out.append((i, list(pairs)))
        pos += n
    return out


def _assert_bits_equal(a, b):
    assert a.dtype == b.dtype and a.shape == b.shape, (a.dtype, b.dtype)
    assert a.tobytes() == b.tobytes()


def _random_tag_rows(rng, n_rows, n_ids):
    """Tag rows over a few names with confidences on a float32-exact
    grid (so floors can sit exactly on a confidence), repeated tags
    within a row, rows with no tags and image ids shared by rows."""
    names = ["cat", "dog", "fish", "bird", "tree"]
    grid = [0.0, 0.125, 0.25, 0.5, 0.75, 1.0]
    rows = []
    for _ in range(n_rows):
        pairs = [
            (rng.choice(names), rng.choice(grid))
            for _ in range(rng.choice([0, 0, 1, 2, 3, 5]))
        ]
        if pairs and rng.random() < 0.3:
            pairs.append((pairs[0][0], rng.choice(grid)))  # repeated tag
        rows.append((rng.randrange(n_ids), pairs))
    return rows


@pytest.fixture(scope="module")
def shuffled_engine(spark):
    """Small tables whose segment rows are NOT in image-id order, with
    random tag rows (and one null tag list)."""
    import random

    rng = random.Random(0xA11)
    dim = 6
    vec = lambda: [rng.uniform(-1, 1) for _ in range(dim)]  # noqa: E731
    images = spark.createDataFrame(
        [(i, vec()) for i in rng.sample(range(40), 40)],
        "image_id long, embedding array<float>",
    )
    segments = spark.createDataFrame(
        [(rng.randrange(40), k, vec()) for k in range(150)],
        "image_id long, vec_id long, clip_features array<float>",
    )
    tag_rows = _random_tag_rows(rng, 80, 40) + [(41, None)]
    tags = spark.createDataFrame(tag_rows, _TAGS_SCHEMA)
    return Engine(images, segments=segments, segment_tags=tags)


@pytest.mark.parametrize("which", ["sf", "shuffled"])
def test_from_engine_bit_equal_to_row_collect(engine, shuffled_engine, which):
    """The Arrow build's ids, matrices (in the source dtype — float32
    here, never widened), segment order and tag rows equal a row-wise
    collect of the same tables, bit for bit."""
    eng = engine if which == "sf" else shuffled_engine
    img_ids, img_mat, seg_ids, seg_mat, tags = _row_build(eng)
    hot = HotSearchIndex.from_engine(eng)
    _assert_bits_equal(hot.image_ids, img_ids)
    _assert_bits_equal(hot.image_mat, img_mat)
    _assert_bits_equal(hot.seg_image_ids, seg_ids)
    _assert_bits_equal(hot.seg_mat, seg_mat)
    assert _tag_lists(hot.tag_rows) == tags
    assert hot.dim == img_mat.shape[1]


def test_from_engine_rejects_null_and_ragged_vectors(spark):
    schema = "image_id long, embedding array<float>"
    for rows in (
        [(0, [1.0, 0.0]), (1, None)],  # null vector
        [(0, [1.0, 0.0]), (1, [1.0, 0.0, 0.0])],  # ragged
        [(0, [1.0, None])],  # null element
    ):
        eng = Engine(spark.createDataFrame(rows, schema))
        with pytest.raises(ValueError, match="non-null and of one length"):
            HotSearchIndex.from_engine(eng)
    segs = spark.createDataFrame(
        [(0, 0, [1.0]), (0, 1, [1.0, 0.0])],
        "image_id long, vec_id long, clip_features array<float>",
    )
    eng = Engine(spark.createDataFrame([(0, [1.0])], schema), segments=segs)
    with pytest.raises(ValueError, match="non-null and of one length"):
        HotSearchIndex.from_engine(eng)


def test_from_engine_empty_tables(spark):
    eng = Engine(
        spark.createDataFrame([], "image_id long, embedding array<float>"),
        segments=spark.createDataFrame(
            [], "image_id long, vec_id long, clip_features array<float>"
        ),
        segment_tags=spark.createDataFrame([], _TAGS_SCHEMA),
    )
    hot = HotSearchIndex.from_engine(eng)
    assert hot.image_mat.shape == (0, 0) and hot.dim == 0
    assert len(hot.image_ids) == 0
    assert hot.seg_mat is None and hot.seg_groups is None
    assert len(hot.tag_rows) == 0
    assert hot.whole([], 5) == []
    assert hot.tags(["cat"], 0.1, 5) == []
    assert hot.tag_allowed(["cat"], 0.1) == set()


def _ref_tags(rows, tags, floor, top_k):
    """Pure-Python tag_search: matches pooled per image id over all of
    its rows (the Spark operator's groupBy)."""
    tagset = {str(t) for t in tags}
    by_id: dict = {}
    for image_id, pairs in rows:
        for t, c in pairs:
            if t in tagset and c >= floor:
                by_id.setdefault(image_id, []).append((t, c))
    out = [
        (i, len({t for t, _ in h}), max(c for _, c in h))
        for i, h in by_id.items()
    ]
    out.sort(key=lambda r: (-r[1], -r[2], r[0]))
    return [
        {"image_id": g, "matched_tags": n, "max_confidence": float(c)}
        for g, n, c in out[:top_k]
    ]


def _ref_tag_allowed(rows, tags, floor):
    tagset = {str(t) for t in tags}
    return {
        i for i, pairs in rows
        if any(t in tagset and c >= floor for t, c in pairs)
    }


def test_tags_and_tag_allowed_match_reference(shuffled_engine):
    """Randomized parity of the numpy tag kernels against a pure-Python
    reference, and on a few queries against the Spark plan: a tag
    repeated within a row counts once, a confidence exactly at the
    floor matches, rows with no tags never do, and rows sharing an
    image id pool their matches."""
    import random

    hot = HotSearchIndex.from_engine(shuffled_engine)
    rows = _tag_lists(hot.tag_rows)
    assert any(not p for _, p in rows)
    assert len({i for i, _ in rows}) < len(rows)
    rng = random.Random(7)
    names = ["cat", "dog", "fish", "bird", "tree", "absent"]
    for n in range(60):
        query = rng.sample(names, rng.randint(1, 4))
        floor = rng.choice([0.0, 0.125, 0.25, 0.5, 0.75, 1.0, 0.3])
        k = rng.choice([1, 3, 10, 100])
        got = hot.tags(query, floor, k)
        assert got == _ref_tags(rows, query, floor, k)
        assert hot.tag_allowed(query, floor) == _ref_tag_allowed(
            rows, query, floor
        )
        if n % 12 == 0:
            df = shuffled_engine.search(
                "tags", tags=query, min_confidence=floor, top_k=k
            )
            _assert_rows_equal(got, _spark_rows(df))


def test_save_load_keeps_columnar_tags(shuffled_engine, tmp_path):
    """save → load hands the four tag arrays back unchanged, and a file
    in the row-era layout (the same keys, built from Python lists)
    still loads and answers."""
    import numpy as np

    hot = HotSearchIndex.from_engine(shuffled_engine)
    path = str(tmp_path / "tags.npz")
    loaded = HotSearchIndex.load(hot.save(path))
    for name in ("ids", "lens", "names", "confs"):
        _assert_bits_equal(
            getattr(loaded.tag_rows, name), getattr(hot.tag_rows, name)
        )
    with np.load(path, allow_pickle=False) as z:
        assert z["tag_names"].dtype.kind == "U"

    rows = [(5, [("cat", 0.5), ("dog", 0.25)]), (3, []), (9, [("cat", 0.75)])]
    old = str(tmp_path / "old.npz")
    with open(old, "wb") as f:
        np.savez(
            f,
            image_col=np.asarray("image_id"),
            image_ids=np.asarray([3, 5, 9]),
            image_mat=np.eye(3),
            tag_row_ids=np.asarray([i for i, _ in rows]),
            tag_row_lens=np.asarray([len(p) for _, p in rows], dtype=np.int64),
            tag_names=np.asarray([t for _, p in rows for t, _ in p]),
            tag_confs=np.asarray(
                [c for _, p in rows for _, c in p], dtype=np.float64
            ),
        )
    booted = HotSearchIndex.load(old)
    assert _tag_lists(booted.tag_rows) == rows
    assert booted.tags(["cat"], 0.5, 5) == _ref_tags(rows, ["cat"], 0.5, 5)


def test_null_tag_pairs_never_match(spark):
    """A null tag, confidence or pair struct clears no floor — as in
    Spark's filter — while the row's other pairs still match."""
    eng = Engine(
        spark.createDataFrame(
            [(0, [1.0])], "image_id long, embedding array<float>"
        ),
        segment_tags=spark.createDataFrame(
            [
                (0, [(None, 0.9), ("cat", 0.5)]),
                (1, [("cat", None), None]),
                (2, [("dog", 0.75), None, (None, None)]),
            ],
            _TAGS_SCHEMA,
        ),
    )
    hot = HotSearchIndex.from_engine(eng)
    query = ["cat", "dog", ""]  # "" must not match a null tag
    spark_rows = _spark_rows(
        eng.search("tags", tags=query, min_confidence=0.0)
    )
    assert hot.tags(query, 0.0, 10) == spark_rows
    assert [r["image_id"] for r in spark_rows] == [2, 0]
    assert hot.tag_allowed(query, 0.0) == {0, 2}
