"""Deduplication suite for large-scale training-data pipelines.

Not present in the reference (its corpus is 14k curated photos) but a
first-class requirement at 100 TB. Four families:

- **exact**: hash-groupBy on a cheap fingerprint — one shuffle of
  (hash, id), never the payload.
- **n-gram Jaccard**: shingle → self-join on shingle → count common.
  Scales with colliding pairs, not O(N²); fully SQL-expressible so the
  DuckDB oracle can verify it exactly.
- **MinHash + LSH**: k independent min-hashes → band → bucket-join;
  candidate pairs verified with exact Jaccard. The 100 TB path — cost
  is O(N·k) plus bucket collisions.
- **SimHash**: 64-bit signature; near-dups share band keys.

All signatures use xxhash64 with distinct seeds — JVM-side, no Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from .. import caching
from ..functions import text as X
from ..functions import vectors as V


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the lowest id per identical text.

    Groups on (length, xxhash64, xxhash64∘reverse) — three cheap
    LONGs — rather than the raw text, so the shuffle carries
    ~24 bytes/row regardless of document size, and each fingerprint is
    ONE codegen'd hash call per row (the interpreted per-character
    rolling hash lives on only in the ``text_fingerprint``
    oracle-parity query). Two independent 64-bit hashes + the length
    put the silent-merge probability at the 2⁻¹²⁸ scale: at the
    10¹⁰-10¹¹-document corpora this module targets, a single 64-bit
    fingerprint's same-length collisions would no longer be
    negligible, and unlike the LSH path there is no exact-verify stage
    behind this one to catch a false merge. Returns (id, group_size).
    """
    keyed = df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("__len"),
        F.xxhash64(F.col(text_col)).alias("__fp"),
        F.xxhash64(F.reverse(F.col(text_col))).alias("__fp2"),
    )
    return (
        keyed.groupBy("__len", "__fp", "__fp2")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("group_size"))
        .select(id_col, "group_size")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by n-gram (word shingle) Jaccard ≥ threshold.

    Pairs are mined from shingle POSTING LISTS whose entries carry each
    document's shingle count: tokenize once → shingle once → explode
    (id, n_shingles, shingle) → ONE exchange on shingle →
    ``sort_array(collect_list(struct(id, n)))`` per shingle → streaming
    pairwise generation (posexplode × suffix-slice explode, so the i<j
    pairs come out id_a < id_b by construction, each with |A| + |B|)
    → per-pair count → Jaccard = common / (|A| + |B| − common).
    Only documents sharing ≥1 shingle ever pair, and the sizes never
    need a second pass or a join back. A NULL text has no shingles.

    Skew note: a stop-shingle with L docs generates L² pairs — that
    quadratic is what MinHash+LSH exists to avoid (the scale path);
    this operator is the exact-but-expensive sibling. The pair
    generation is Generate-streamed (never a materialized L² array in
    one row); the collect_list row itself is O(L) entries.
    """
    # NOT persisted: the exploded (doc × shingle) frame is
    # O(corpus·shingles) — pinning it in cache at the module's
    # 10¹⁰-document target evicts everything else. Tokens and shingles
    # are each bound to a column once: word_shingles(n) references its
    # input ~n+2 times, so an inlined tokenize tree re-splits the text
    # per reference.
    tok = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), X.tokens(F.col(text_col)).alias("__t")
    )
    sh = tok.select(F.col(id_col), X.word_shingles(F.col("__t"), n).alias("__sh"))
    # explode an EXPRESSION, not the __sh attribute: on an attribute
    # input InferFiltersFromGenerate adds size(__sh) > 0 and pushes it
    # below the projections, re-embedding the whole tokenize/shingle
    # tree in the filter
    exploded = sh.select(
        F.col(id_col),
        F.inline(
            F.transform(
                "__sh",
                lambda s: F.struct(
                    s.alias("shingle"), F.size("__sh").alias("n_shingles")
                ),
            )
        ),
    )
    postings = (
        exploded.groupBy("shingle")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col), F.col("n_shingles")))
            ).alias("__p")
        )
        .filter(F.size("__p") > 1)
    )
    # (i, a) × p[i+2..] — both Generates stream, no flatten of an L²
    # pair array in memory
    heads = postings.select(F.posexplode("__p").alias("__i", "__a"), F.col("__p"))
    # Jaccard needs only |A| + |B|, so one size column rides with the
    # pair: the slim shuffle below carries three fields, not four
    pairgen = heads.select(
        "__a",
        F.explode(
            F.slice(
                F.col("__p"),
                F.col("__i") + F.lit(2),
                F.size("__p") - F.col("__i") - F.lit(1),
            )
        ).alias("__b"),
    ).select(
        F.col("__a").getField(id_col).alias("id_a"),
        F.col("__b").getField(id_col).alias("id_b"),
        (
            F.col("__a").getField("n_shingles")
            + F.col("__b").getField("n_shingles")
        ).alias("__sizes"),
    )
    # The pair-count aggregate is THE wall of exact mining: ~sum(L²)
    # generated rows, ~94% of them DISTINCT pairs on uniform corpora
    # (measured x10: 88.2M generated / 82.7M distinct), so map-side
    # partial aggregation reduces almost nothing. Repartition the slim
    # pair rows FIRST at a cores-proportional width (floored by the
    # session's shuffle.partitions) so the partial+final aggregate runs
    # post-exchange at full parallelism with a cache-sized hash table
    # per task (measured x10: 15.9 s → 7.9 s for the count stage).
    # __sizes is a function of the ids, so grouping on it adds no
    # groups and the (id_a, id_b) hash partitioning already clusters
    # all three keys — no second exchange.
    spark = df.sparkSession
    npart = max(
        4 * spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    common = (
        pairgen.repartition(npart, "id_a", "id_b")
        .groupBy("id_a", "id_b", "__sizes")
        .agg(F.count("*").alias("common"))
    )
    return common.select(
        "id_a",
        "id_b",
        (
            F.col("common").cast("double")
            / (F.col("__sizes") - F.col("common"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= F.lit(float(threshold)))


def _minhash_band_udf(num_hashes: int, bands: int, n: int, text_col: str):
    """Arrow-batched kernel: text → array<bigint> of ``bands`` band
    keys (the band id is the array position — ``posexplode`` recovers
    it without a struct conversion).

    The whole batch is hashed in THREE vectorized sweeps, not a
    per-document loop: all shingles of the Arrow batch are flattened
    into one object array and hashed with pandas' C-level SipHash
    (``pd.util.hash_array`` — deterministic across workers, unlike
    Python's salted ``hash``); the affine min-hash family
    (h_i = a_i·b + c_i over wrapping uint64) reduces per-document with
    ``np.minimum.reduceat`` over the flat array; band-key folding is a
    vectorized xor-multiply. Shingle multiplicity is irrelevant to a
    min — min-hash(set) ≡ min-hash(multiset) — so no per-document
    ``set()`` is built. The applied column is memoized per parameter
    set (vectors.py).
    """
    from pyspark.sql.functions import pandas_udf

    assert num_hashes % bands == 0, (num_hashes, bands)
    key = ("minhash_band", num_hashes, bands, n, text_col)
    cached = V._UDF_COL_CACHE.get(key)
    if cached is not None:
        return cached

    rows = num_hashes // bands
    rng = np.random.RandomState(0x5EED)
    A = rng.randint(0, 2**62, size=num_hashes, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    C = rng.randint(0, 2**62, size=num_hashes, dtype=np.uint64)
    FOLD = np.uint64(0x9E3779B97F4A7C15)  # 64-bit golden ratio

    import re

    # ASCII-class \s+ split (NOT str.split()): the exact-Jaccard
    # verify stage tokenizes JVM-side with split(lower(text), '\s+'),
    # whose \s is the ASCII class — Python's str.split() also breaks
    # on Unicode spaces (NBSP, thin space), which would compute band
    # keys over a DIFFERENT shingle set than the verifier checks.
    _ws = re.compile(r"\s+", re.ASCII)

    @pandas_udf("array<bigint>")
    def _bandkeys(texts: pd.Series) -> pd.Series:
        flat: list[str] = []
        counts = np.empty(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            toks = [w for w in _ws.split((t or "").lower()) if w]
            if len(toks) >= n:
                flat.extend(
                    " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
                )
                counts[i] = len(toks) - n + 1
            else:
                flat.append(" ".join(toks))
                counts[i] = 1
        base = pd.util.hash_array(np.asarray(flat, dtype=object)).astype(np.uint64)
        starts = np.zeros(len(texts), dtype=np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        sigs = np.empty((num_hashes, len(texts)), dtype=np.uint64)
        for i in range(num_hashes):
            sigs[i] = np.minimum.reduceat(base * A[i] + C[i], starts)
        folded = sigs.reshape(bands, rows, len(texts))
        keys = np.zeros((bands, len(texts)), dtype=np.uint64)
        for r in range(rows):
            keys = (keys ^ folded[:, r, :]) * FOLD
        out_mat = np.ascontiguousarray(keys.T).view(np.int64)
        return pd.Series(list(out_mat))

    out = _bandkeys(text_col)
    V._UDF_COL_CACHE[key] = out
    return out


def banded_signatures(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, key) banded MinHash signature rows — the write-time
    LSH index artifact. One Arrow kernel per corpus scan; at scale this
    is computed at ingest and stored bucketed by (band, key)."""
    return df.select(
        F.col(id_col),
        F.posexplode(
            _minhash_band_udf(num_hashes, bands, n, text_col)
        ).alias("band", "key"),
    )


def _lsh_pairs_from_banded(
    df: DataFrame,
    banded: DataFrame,
    n: int,
    threshold: float,
    text_col: str,
    id_col: str,
    broadcast_buckets: bool,
) -> DataFrame:
    """Shared stages 2-3 of BOTH MinHash pipelines (production xxhash
    and oracle-portable): persist the banded frame if the caller
    hasn't, self-join buckets into candidate pairs, exact-Jaccard
    verify. One body so the two hash families can never drift on the
    join/verify semantics.

    The banded frame feeds both sides of the self-join, and Spark
    re-evaluates a Python UDF per plan reference (no exchange/CSE
    reuse through a broadcast) — the storage-level check guarantees
    the corpus scan runs once whether the caller passed a resident
    write-time artifact (indexes.materialized) or a fresh frame.
    """
    sl = banded.storageLevel
    if not (sl.useMemory or sl.useDisk):
        banded = caching.persist(banded)

    a = banded.alias("a")
    b = banded.alias("b")
    # The bucket self-join: at cluster scale it SHUFFLES on
    # (band, key) — the banded frame is O(corpus·bands) rows, and a
    # bucketed index table gives the co-location for free. A caller
    # whose corpus is known-small (size policy, queries.py) passes
    # broadcast_buckets=True to replace the exchange+sort with a
    # broadcast hash join — the local/serving fast path.
    if broadcast_buckets:
        b = F.broadcast(b)
    # candidate pairs are tiny (collisions, not the corpus) and feed
    # three consumers (both verify joins + the id semi-join) — persist
    # THEM, not the corpus-scale shingle frame (tracked, caching.py)
    cand = caching.persist(
        a.join(b, ["band", "key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    return jaccard_verify_pairs(
        df, cand, n=n, threshold=threshold, text_col=text_col, id_col=id_col
    )


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    banded: DataFrame | None = None,
    broadcast_buckets: bool = False,
) -> DataFrame:
    """MinHash+LSH near-dup candidates, verified with exact Jaccard.

    Stage 1: ONE Arrow-batched kernel computes each document's banded
    signature ((band, key) structs) in-row: shingle the tokens, hash
    each shingle (blake2b/8-byte), derive ``num_hashes`` min-hashes
    with a vectorized affine rehash family (h_i = a_i·b + c_i over
    wrapping uint64 — the standard universal family, e.g. datasketch),
    and fold each band's rows into a single 64-bit key. Per-document
    work never leaves the row, so signatures need NO explode and NO
    groupBy shuffle — the measured cost is ~0.1 s where the JVM
    formulation (explode + hashed projections + groupBy-min) paid
    ~0.9 s in interpreted-HOF shingle evaluation, and at 100 TB the
    whole stage is map-side.
    Stage 2: inline the structs into FLAT (band, key) scalar columns —
    a struct join key would defeat the hash-join planner and fall back
    to a cartesian compare — and self-join on the band key; docs
    sharing any band become candidate pairs. Only (id, band, key) rows
    ever shuffle, and the self-join's two sides reuse one exchange.
    Stage 3: exact n-gram Jaccard verify, recomputing DISTINCT shingle
    sets only for documents that appear in some candidate pair
    (broadcast semi-join — ~|pairs| docs regardless of corpus size).

    At 100 TB this is the dedup path: stage 2's shuffle is
    O(N · bands) tiny rows, versus the shingle join's O(collisions).
    """
    # banded is tiny (N·bands rows of three scalars) but feeds both
    # sides of the self-join, and Spark re-evaluates a Python UDF per
    # plan reference (no exchange/CSE reuse through a broadcast) —
    # persist it (tracked, caching.py) so the corpus scan runs once.
    # A caller holding the write-time artifact (indexes.materialized)
    # passes it in already persisted and the kernel never runs here; a
    # caller passing a fresh unpersisted frame (index cache off) still
    # gets the single-scan guarantee via the storage-level check.
    if banded is None:
        banded = banded_signatures(
            df, n=n, num_hashes=num_hashes, bands=bands,
            text_col=text_col, id_col=id_col,
        )
    return _lsh_pairs_from_banded(
        df, banded, n, threshold, text_col, id_col, broadcast_buckets
    )

def jaccard_verify_pairs(
    df: DataFrame,
    cand: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram-Jaccard verification of candidate (id_a, id_b)
    pairs — the shared final stage of every LSH bucketing scheme.

    ONE corpus pass: semi-join the corpus against the (broadcast)
    distinct ids appearing in any pair — ~|pair docs| matched rows —
    and compute each matched document's DISTINCT shingle set exactly
    once (the two-sided formulation scanned the corpus twice and
    shingled each doc once per side). The per-doc shingle frame is
    persisted (it is pair-scale, not corpus-scale) and joined back to
    the pair list twice as the build side of two broadcast hash joins,
    so the whole verify runs without a shuffle. At cluster scale the
    broadcasts are bounded by the collision count, exactly like the
    candidate-pair broadcast itself; if pairs outgrow memory the same
    plan degrades to shuffle joins by dropping the hints — the
    asymptotics (cost ∝ collisions, never corpus²) are unchanged.
    """
    # no .distinct() on the id list: the broadcast semi-join hashes the
    # build side anyway, so deduping first would only add a shuffle
    ids = cand.select(F.explode(F.array("id_a", "id_b")).alias(id_col))
    # tokenize ONCE into a column before shingling (same rule as every
    # other word_shingles site): word_shingles_sql references its
    # token argument ~8 times, so inlining tokens_sql re-split each
    # matched document ~8× per row (r13 plan fix; values identical)
    doc_sh = caching.persist(
        df.join(F.broadcast(ids), id_col, "left_semi")
        .selectExpr(id_col, f"{X.tokens_sql(text_col)} AS __t")
        .selectExpr(
            id_col,
            f"{X.word_shingles_sql('__t', n)} AS __sh",
        )
    )
    sh_a = doc_sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    sh_b = doc_sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    verified = (
        cand.join(F.broadcast(sh_a), "id_a")
        .join(F.broadcast(sh_b), "id_b")
        .filter((F.size("sh_a") > 0) & (F.size("sh_b") > 0))
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    return (
        verified.withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "jaccard")
    )


def label_propagation_canonical(
    pairs: DataFrame,
    rounds: int = 3,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dup pairs → canonical id per connected component, by
    ``rounds`` of min-label propagation — the step that turns pairwise
    dedup output into an actionable keep-list (keep the canonical,
    drop the rest).

    label⁰(x) = x; labelᵗ⁺¹(x) = min(labelᵗ(x), min over neighbors
    labelᵗ(nbr)). A FIXED round count keeps the plan static (no driver
    convergence loop) and is exact whenever rounds ≥ component
    diameter — true by construction for LSH dedup output, where
    components are tiny near-dup clusters. At web scale with long
    chains, swap in the alternating large-star/small-star contraction;
    the per-round dataflow (edge join + min-aggregate, both sides
    partitioned by node) is the same.

    Returns (node, canonical) for every node appearing in a pair.
    Deterministic integer mins — identical in any engine, which is
    what makes the DuckDB oracle replay possible.
    """
    # Both edge directions plus a self-loop per endpoint from ONE pass
    # over the pair frame: a 4-element Generate instead of a union.
    # The union form embedded the ENTIRE pair-mining subtree once per
    # branch, and while exchange reuse dedups the shuffles, every
    # post-exchange operator executed TWICE per run — measured 15.1 s →
    # ~10 s on the x10 cluster-canonical wall (guide §2.4: don't
    # recompute what one Generate can emit). With the self-loops, each
    # round is labelᵗ⁺¹(v) = min over edges (v, u) of labelᵗ(u) — the
    # recurrence above, reading the previous labels ONCE, so the plan
    # grows linearly in rounds (duplicate self-loops are harmless under
    # min). The edge list feeds every round, so it is persisted and
    # tracked for post-query release.
    edges = caching.persist(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
                    F.struct(F.col(id_a).alias("src"), F.col(id_a).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_b).alias("dst")),
                )
            ).alias("__e")
        ).select("__e.src", "__e.dst")
    )
    lab = edges.groupBy("src").agg(F.min("dst").alias("label"))
    for _ in range(rounds - 1):
        lab = (
            edges.join(lab.withColumnRenamed("src", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("label"))
        )
    return lab.select(
        F.col("src").alias("node"), F.col("label").alias("canonical")
    )


def benchmark_shingles(
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """The distinct benchmark n-gram set — the EVAL-SUITE FINGERPRINT
    INDEX a real decontamination deployment computes once when the
    benchmark is registered, not per corpus pass. Persist/materialize
    it (indexes.materialized) and pass to :func:`contamination_flags`
    so per-query broadcast builds collect from the resident copy
    instead of re-scanning + re-distincting the benchmark."""
    return (
        benchmark.select(X.tokens(F.col(text_col)).alias("__t"))
        .select(F.explode(X.word_shingles(F.col("__t"), n)).alias("shingle"))
        .distinct()
    )


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame | None = None,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    benchmark_shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share ANY
    distinct n-gram with a held-out benchmark set — the standard
    train/eval contamination check for pre-training corpora.

    The benchmark side is broadcast (eval suites are KB-MB even when
    the corpus is 100 TB), so the plan is one corpus shingle explode
    streaming through a broadcast hash join plus a per-document count
    — no corpus self-join, no shuffle of document text. Returns
    (id, n_shared) for flagged documents only; n_shared counts the
    DISTINCT shared n-grams (both shingle sides are de-duplicated).

    Pass ``benchmark_shingles_df`` (a :func:`benchmark_shingles`
    frame, typically persisted via indexes.materialized) to source the
    broadcast from the precomputed fingerprint index — the write-time
    split a real deployment uses (the eval suite changes ~never; its
    shingle set is index metadata, r12).
    """
    # tokenize once per side — word_shingles(n=8) references its input
    # ~10 times; embedding the tokenization re-splits per reference
    c_sh = corpus.select(
        F.col(id_col), X.tokens(F.col(text_col)).alias("__t")
    ).select(
        F.col(id_col),
        F.explode(X.word_shingles(F.col("__t"), n)).alias("shingle"),
    )
    if benchmark_shingles_df is not None:
        b_sh = benchmark_shingles_df
    elif benchmark is not None:
        b_sh = benchmark_shingles(benchmark, n=n, text_col=text_col)
    else:
        raise ValueError(
            "contamination_flags needs benchmark or benchmark_shingles_df"
        )
    return (
        c_sh.join(F.broadcast(b_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
    )


def contamination_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Existence-only variant of :func:`contamination_flags`: the ids
    of corpus documents sharing ANY n-gram with the benchmark — what a
    drop stage actually consumes. Two audit costs are shed relative to
    the counting form (measured ~2× on the flagging pass): the
    per-document ``array_distinct`` sort (a MIN/EXISTS check is
    duplicate-insensitive, so raw shingles suffice) and the post-join
    count aggregate (the broadcast semi-join short-circuits per
    shingle). Same flagged ID SET by construction — use
    ``contamination_flags`` when the n_shared audit column matters."""
    sh = F.expr(X.word_shingles_sql("__t", n, distinct=False))
    c_sh = corpus.select(
        F.col(id_col), F.expr(X.tokens_sql(text_col)).alias("__t")
    ).select(F.col(id_col), F.explode(sh).alias("shingle"))
    b_sh = (
        benchmark.select(X.tokens(F.col(text_col)).alias("__t"))
        .select(F.explode(X.word_shingles(F.col("__t"), n)).alias("shingle"))
        .distinct()
    )
    return (
        c_sh.join(F.broadcast(b_sh), "shingle", "left_semi")
        .select(id_col)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Portable-hash MinHash / SimHash (oracle-certifiable LSH)
# ---------------------------------------------------------------------------
#
# The production MinHash/SimHash above use SipHash/xxhash64 — fast, but
# with no DuckDB twin, so the driver can only rows-check them. These
# variants swap the hash family for portable polynomial arithmetic
# (every intermediate < 2^63, reproducible in any BIGINT SQL dialect)
# so the ENTIRE LSH pipeline — shingle→minhash→band→bucket-join→verify
# — is certified end-to-end by the DuckDB oracle. Same plan shapes,
# same shuffle structure; only the hash arithmetic differs.

_PORT_P = X._FP_MOD  # 1e9+7 — the rolling-hash modulus
_PORT_B = 1_000_003  # token-fold base: P·B < 2^63, no overflow
# Fixed affine MinHash family h_i(x) = (A_i·x + C_i) mod P. Arbitrary
# constants < P, hardcoded (not generated) so the DuckDB oracle embeds
# the same literals.
_PORT_A = [387420489, 268435399, 999999937, 97654321,
           123456791, 314159261, 271828183, 161803399]
_PORT_C = [12345, 6789101, 987654321, 192837465,
           55555333, 777000777, 424242421, 98765431]


def _portable_shingles_from_th(th: F.Column, n: int) -> F.Column:
    """The window-fold half of :func:`portable_shingle_hashes`, taking
    an already-computed token-hash array. Callers on a hot path
    materialize ``th`` as a named column first (see
    ``portable_banded_signatures``): this expression references ``th``
    ~8 times (slices, sizes, the zip chain), and neither codegen nor
    the interpreted projection collapses repeated HOF subtrees — fed
    the raw per-char hashing tree, those 8 references re-hash every
    token 8 times per row (r13 plan fix; values identical)."""
    z = th
    for j in range(1, n):
        shifted = F.slice(th, j + 1, F.greatest(F.size(th) - j, F.lit(0)))
        z = F.zip_with(
            z, shifted,
            lambda a, b: (a * F.lit(_PORT_B) + b) % F.lit(_PORT_P),
        )
    full = F.slice(z, 1, F.greatest(F.size(th) - F.lit(n - 1), F.lit(0)))
    short = F.array(
        F.aggregate(
            th,
            F.lit(0).cast("long"),
            lambda acc, h: (acc * F.lit(_PORT_B) + h) % F.lit(_PORT_P),
        )
    )
    return (
        F.when(F.size(th) == 0, F.array().cast("array<bigint>"))
        .when(F.size(th) >= n, full)
        .otherwise(short)
    )


def portable_shingle_hashes(
    text: F.Column | str, n: int = 3
) -> F.Column:
    """array<bigint> of portable n-gram shingle hashes: per-token
    rolling char hash, folded across each n-token window with
    ``fold(h·B + tok_hash) mod P`` (init 0). Documents shorter than n
    tokens yield one shingle folding all their tokens; token-less
    documents yield an empty array.

    This is the generic EXPRESSION form: the token-hash tree is
    embedded at every reference, so per-row cost multiplies by the
    ~8 references inside the window fold. Fine for tests and one-off
    columns; corpus-scale callers should materialize the token hashes
    as a column and use :func:`_portable_shingles_from_th` (what
    ``portable_banded_signatures`` does)."""
    toks = X.tokens(text if not isinstance(text, str) else F.col(text))
    return _portable_shingles_from_th(X.portable_token_hashes(toks), n)


def portable_banded_signatures(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, key) banded MinHash rows from the portable hash
    family — same artifact shape as ``banded_signatures`` (bucketed
    write-time index at scale), pure Catalyst expressions throughout
    (no Python workers in the plan)."""
    assert num_hashes % bands == 0 and num_hashes <= len(_PORT_A)
    rows = num_hashes // bands
    # Materialize the per-token hashes ONCE per row, then fold windows
    # off the named column. The one-projection form embedded the
    # per-char hashing tree at each of the window fold's ~8 references
    # AND in the pushed-down non-empty filter (plans/r13/
    # dedup_minhash_lsh_portable_before.txt: 9 copies in the Filter, 9
    # in the Project = ~16 full re-hashes of every token per corpus
    # row). Two-level select + a filter phrased on size(__th) (empty
    # shingles ⇔ empty token hashes, by the fold's construction) cuts
    # that to 2 (the pushed filter substitutes the tree once —
    # PushPredicateThroughNonJoin has no expression-cost guard);
    # CollapseProject keeps the levels apart because __th/__shh are
    # non-cheap and multiply referenced. Values identical — the oracle
    # replays the same arithmetic.
    # NULL-text nuance (ADVICE r13): tokens(NULL) is NULL, so a
    # NULL-text doc is DROPPED here, where the pre-r13 size(__shh)>0
    # form kept it as __shh=[NULL] and emitted band rows with NULL
    # keys. Pair output is unaffected (NULL keys never equi-join, and
    # NULL rows no longer form a spurious collision bucket in the
    # streaming groupBy), but the banded ARTIFACT's row membership
    # differs — any banded index materialized before r13
    # (indexes.materialized key 'minhash_portable…') must be rebuilt,
    # not mixed with fresh builds.
    th = X.portable_token_hashes(X.tokens(F.col(text_col)))
    base = (
        df.select(F.col(id_col), th.alias("__th"))
        .filter(F.size("__th") > 0)
        .select(
            F.col(id_col),
            _portable_shingles_from_th(F.col("__th"), n).alias("__shh"),
        )
    )
    def _affine(i: int):
        # single-parameter lambda on purpose: a second (default)
        # parameter would make PySpark treat it as an (element, index)
        # lambda and bind a Column over the default
        a, c = _PORT_A[i], _PORT_C[i]
        return lambda h: (F.lit(a) * h + F.lit(c)) % F.lit(_PORT_P)

    mins = [
        F.array_min(F.transform(F.col("__shh"), _affine(i)))
        for i in range(num_hashes)
    ]
    keys = []
    for b in range(bands):
        k = mins[b * rows]
        for r in range(1, rows):
            k = (k * F.lit(_PORT_B) + mins[b * rows + r]) % F.lit(_PORT_P)
        keys.append(k)
    return base.select(
        F.col(id_col),
        F.posexplode(F.array(*keys)).alias("band", "key"),
    )


def minhash_lsh_pairs_portable(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    banded: DataFrame | None = None,
    broadcast_buckets: bool = False,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with the portable hash family —
    identical pipeline to ``minhash_lsh_pairs`` (bucket self-join on
    (band, key), broadcast exact-Jaccard verify) with every hash value
    reproducible by the DuckDB oracle."""
    if banded is None:
        banded = portable_banded_signatures(
            df, n=n, num_hashes=num_hashes, bands=bands,
            text_col=text_col, id_col=id_col,
        )
    return _lsh_pairs_from_banded(
        df, banded, n, threshold, text_col, id_col, broadcast_buckets
    )

def minhash_incremental_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_banded: DataFrame | None = None,
    portable: bool = False,
) -> DataFrame:
    """Batch-vs-corpus NEAR-dup pairs — the daily-ingest shape
    (incremental_exact_filter's sibling for boilerplate-variant
    copies): arriving ``batch`` documents checked against the
    accumulated ``corpus`` WITHOUT a corpus self-join.

    (id_a = corpus doc, id_b = batch doc, jaccard) for every verified
    near-dup across the boundary. Pipeline:

    1. corpus band signatures — in steady state pass ``corpus_banded``
       from the resident write-time index (the same (id, band, key)
       artifact the full self-join path builds; bucketed by (band,
       key) at cluster scale). Only computed here when absent.
    2. batch band signatures — the arriving slice, computed fresh.
    3. candidates: corpus bands ⋈ BROADCAST(batch bands) on (band,
       key). The corpus side never shuffles — a broadcast hash join
       streams the bucketed corpus bands past the batch's keys; the
       batch is the daily slice, orders of magnitude smaller.
    4. exact n-gram-Jaccard verify over the pair documents only
       (broadcast semi-join, same shared stage as every LSH path).

    Batch-internal duplicates are NOT reported (batch ⋈ corpus only)
    — run the self-join path (minhash_lsh_pairs) within the batch if
    intra-batch dedup is also wanted. Assumes globally unique ids
    across batch and corpus (the ingest contract; identity-level
    re-ingests are the exact-incremental layer's job).

    ``portable=True`` swaps in the polynomial hash family so the
    DuckDB oracle replays every band key and jaccard bit-for-bit.
    """
    sig = portable_banded_signatures if portable else banded_signatures
    if corpus_banded is None:
        corpus_banded = sig(
            corpus, n=n, num_hashes=num_hashes, bands=bands,
            text_col=text_col, id_col=id_col,
        )
    batch_banded = sig(
        batch, n=n, num_hashes=num_hashes, bands=bands,
        text_col=text_col, id_col=id_col,
    )
    a = corpus_banded.alias("a")
    b = batch_banded.alias("b")
    cand = caching.persist(
        a.join(F.broadcast(b), ["band", "key"])
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    texts = corpus.select(id_col, text_col).unionByName(
        batch.select(id_col, text_col)
    )
    return jaccard_verify_pairs(
        texts, cand, n=n, threshold=threshold,
        text_col=text_col, id_col=id_col,
    )


def incremental_near_filter(
    batch: DataFrame,
    corpus: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_banded: DataFrame | None = None,
    portable: bool = False,
) -> DataFrame:
    """Keep-filter over :func:`minhash_incremental_pairs`: the batch
    rows that near-collide with NO corpus document (the rows safe to
    append). The drop list is bounded by the batch, so the anti-join's
    build side is small by construction."""
    pairs = minhash_incremental_pairs(
        batch, corpus, n=n, num_hashes=num_hashes, bands=bands,
        threshold=threshold, text_col=text_col, id_col=id_col,
        corpus_banded=corpus_banded, portable=portable,
    )
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return batch.join(F.broadcast(drops), id_col, "left_anti")


def simhash_signatures_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 30,
) -> DataFrame:
    """30-bit portable SimHash: bit_j = 1 iff
    Σ_tokens sign(portable_hash(token) bit j) > 0.

    Same single-shuffle vote-aggregation plan as
    ``simhash_signatures``; the polynomial token hash yields ~30
    usable bits (values < 1e9+7), so the signature is 30 bits in two
    15-bit bands rather than 64 in four — recall trades against
    having a DuckDB twin."""
    return _simhash_from_token_hash(
        df, X.rolling_hash_fingerprint, bits, text_col, id_col
    )

def simhash_buckets_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 30,
    band_bits: int = 15,
) -> DataFrame:
    """Portable-SimHash candidate buckets: (band, key, id) rows from
    ``bits // band_bits`` bands — the oracle-certifiable twin of
    ``simhash_buckets``."""
    sig = simhash_signatures_portable(df, text_col=text_col, id_col=id_col, bits=bits)
    bands = bits // band_bits
    mask = (1 << band_bits) - 1
    banded = sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), b * band_bits)
                    .bitwiseAND(F.lit(mask))
                    .cast("long")
                    for b in range(bands)
                ]
            )
        ).alias("band", "key"),
    )
    return banded.select("band", "key", F.col(id_col))


def _simhash_from_token_hash(
    df: DataFrame, hash_col_fn, bits: int, text_col: str, id_col: str
) -> DataFrame:
    """Shared vote-aggregation body of both SimHash builders: explode
    tokens → one hash per token via ``hash_col_fn`` → ``bits``
    codegen'd ±1 vote sums → assemble the signature long. One body so
    the production and portable variants can't drift on the vote or
    sign-bit assembly semantics. Bit 63, when used, is the sign bit —
    its addend must be the negative long.
    """
    tok = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("t"),
    ).filter(F.length("t") > 0)  # post-explode WHERE stays in codegen
    hashed = tok.select(F.col(id_col), hash_col_fn(F.col("t")).alias("h"))
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for j in range(bits):
        bit = F.lit(1 << j if j < 63 else -(1 << 63)).cast("long")
        sig = sig + F.when(F.col(f"v{j}") > 0, bit).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """64-bit SimHash per document: bit_j = 1 iff
    Σ_tokens sign(xxhash64(token) bit j) > 0.

    Plan shape: explode tokens → ONE xxhash64 per token (codegen) →
    64 codegen'd sum aggregations of ±1 votes → assemble the signature
    long. (The naive per-row formulation — 64 interpreted aggregate()
    lambdas over the token array — costs ~8 s in plan+eval overhead
    even on a few hundred docs; this shape is a plain single-shuffle
    aggregation.) Duplicate tokens vote multiply, matching the
    reference-style multiset semantics. Token-less documents drop out
    (no signature), which is what dedup wants anyway.
    """
    return _simhash_from_token_hash(
        df, F.xxhash64, 64, text_col, id_col
    )

def simhash_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
) -> DataFrame:
    """SimHash near-dup candidate buckets: documents sharing any
    16-bit band of their 64-bit simhash (≥1 identical band ⇒ hamming
    distance likely small). Returns (band, key, id) for bucket-join
    downstream."""
    sig = simhash_signatures(df, text_col=text_col, id_col=id_col)
    bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    banded = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    )
    return banded.select(
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"), F.col(id_col)
    )


def fingerprint_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """The write-time fingerprint index ``incremental_exact_filter``
    probes: one key row per corpus document — (__isnull, __len, __fp
    [, __fp2]) — 24 bytes/doc under the production dual-xxhash
    identity. Built once at ingest and maintained next to the table
    (the ES analogue: a stored ``content_hash`` field); passing it as
    ``corpus_keys=`` drops the filter's per-call corpus re-hash, the
    steady-state daily-ingest cost profile."""
    key_cols = ["__isnull", "__len", "__fp"] + ([] if portable else ["__fp2"])
    return _fingerprint_keys(corpus, text_col, id_col, portable).select(
        *key_cols
    )


def _fingerprint_keys(
    df: DataFrame, text_col: str, id_col: str, portable: bool
) -> DataFrame:
    from ..functions import text as X

    raw = F.col(text_col)
    c = F.coalesce(raw, F.lit(""))
    base = [
        F.col(id_col),
        raw.isNull().alias("__isnull"),
        F.length(c).alias("__len"),
    ]
    if portable:
        # coalesce marks __fp NON-NULLABLE (the hash of coalesced text
        # is never null, but Catalyst's nullability analysis cannot
        # prove it through the aggregate fold), so the isnotnull(__fp)
        # constraint inferred from the key joins folds to true instead
        # of being pushed below this projection with the whole
        # per-character hash tree substituted in — one full extra
        # corpus re-hash per build (r14 audit). Values identical.
        return df.select(
            *base,
            F.coalesce(
                X.rolling_hash_fingerprint(c), F.lit(0).cast("long")
            ).alias("__fp"),
        )
    return df.select(
        *base,
        F.xxhash64(c).alias("__fp"),
        F.xxhash64(F.reverse(c)).alias("__fp2"),
    )


def incremental_exact_filter(
    new_batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
    broadcast_batch: bool = True,
    keep_fingerprint: bool = False,
    corpus_keys: DataFrame | None = None,
) -> DataFrame:
    """Batch-vs-corpus exact dedup — the DAILY-INGEST shape: drop
    arriving documents whose content fingerprint already exists in the
    accumulated corpus, without ever joining text against text.

    Keys: (length, xxhash64, xxhash64∘reverse) — the same 24-byte
    identity ``exact_dedup`` groups on, so batch-vs-corpus and
    within-corpus dedup can never disagree on what "identical" means.
    ``portable=True`` swaps in (length, polynomial rolling hash) so an
    external engine can replay the decision (the oracle path; weaker
    64-bit identity, fine for certification fixtures).

    Plan: LEFT ANTI join on the key columns. With
    ``broadcast_batch=True`` the NEW side's keys build the hash table
    — at 100 TB the arriving batch is ≪ the corpus, so the corpus-side
    fingerprint index streams through a broadcast anti join and the
    corpus is never shuffled. (Spark broadcasts the right side of a
    left-anti build? No — the STREAMED side must be the left; we
    therefore probe corpus-keys INTO the batch: semi-join the batch
    against corpus keys to find collisions, then anti-join those ids
    away — both joins broadcast the small side.) At scale the corpus
    keys come from the write-time fingerprint index (24 bytes/doc),
    not a corpus re-scan.

    Intra-batch duplicates are exact_dedup's job — compose:
    ``exact_dedup(incremental_exact_filter(batch, corpus))``.

    NULL text: the key set carries an explicit ``__isnull`` indicator
    and fingerprints ``coalesce(text, '')`` — plain equi-joins skip
    NULL keys entirely, so an un-flagged NULL arrival would NEVER
    match a NULL corpus row and the documented agreement with
    ``exact_dedup`` (whose groupBy treats NULLs as equal to each
    other, distinct from '') would break.

    ``keep_fingerprint=True`` keeps the computed identity on the
    survivors as ``content_fp`` (+ ``content_len``) — consumers that
    need the fingerprint (index writes, the certification query)
    reuse it instead of re-hashing every surviving document.
    """
    from .. import caching

    key_cols = ["__isnull", "__len", "__fp"] + ([] if portable else ["__fp2"])
    # Persist the batch keys: both the collision probe and the final
    # anti-join consume them, and without the pin the arriving batch
    # is fingerprinted twice per call. Batch-sized, never corpus-sized
    # — the small-derived-frames-only persistence rule.
    batch_keys = caching.persist(
        _fingerprint_keys(new_batch, text_col, id_col, portable)
    )
    if corpus_keys is None:
        corpus_keys = fingerprint_index(corpus, text_col, id_col, portable)
    if broadcast_batch:
        # batch ≪ corpus: find which of the (broadcast) batch keys the
        # corpus-key stream collides with, then drop those ids from
        # the batch — two broadcast joins, zero corpus shuffle
        hit_keys = corpus_keys.join(
            F.broadcast(batch_keys.select(*key_cols).distinct()),
            key_cols,
            "left_semi",
        ).distinct()
        survivors = batch_keys.join(
            F.broadcast(hit_keys), key_cols, "left_anti"
        )
    else:
        survivors = batch_keys.join(corpus_keys, key_cols, "left_anti")
    if keep_fingerprint:
        fp = survivors.select(
            id_col,
            F.col("__len").alias("content_len"),
            F.col("__fp").alias("content_fp"),
        )
        return new_batch.join(F.broadcast(fp), id_col, "inner")
    return new_batch.join(
        F.broadcast(survivors.select(id_col)), id_col, "left_semi"
    )


# ---------------------------------------------------------------------------
# Image perceptual near-dup (dHash + banded Hamming blocking)
# ---------------------------------------------------------------------------

def image_dhash_bands(
    pixels: DataFrame,
    rows: int = 8,
    cols: int = 9,
    n_bands: int = 4,
    id_col: str = "filename",
    pixels_col: str = "pixels",
) -> DataFrame:
    """Difference hash over a rows×cols grayscale grid, emitted as
    ``n_bands`` SMALL unsigned band integers instead of one 64-bit
    long — ``(id, band0..band{n-1})``.

    dHash (the standard perceptual fingerprint: bit(r,c) =
    pixel[r][c+1] > pixel[r][c], gradient direction per adjacent
    pair) gives rows·(cols-1) bits; splitting them into bands at
    ASSEMBLY time serves both consumers at once — the banded LSH
    join keys AND the Hamming verify (Σ per-band popcounts) — while
    dodging every signed-64-bit portability hazard (no sign bit, no
    engine-specific shift semantics; each band fits an int). Pure
    Catalyst over the decoded pixel array: the whole hash is
    codegen'd comparisons + literal-weight sums, no Python.
    """
    n_bits = rows * (cols - 1)
    if n_bits % n_bands:
        raise ValueError(
            f"{n_bits} dhash bits do not split into {n_bands} bands"
        )
    per_band = n_bits // n_bands
    p = F.col(pixels_col)
    outs = []
    for b in range(n_bands):
        val = F.lit(0)
        for j in range(per_band):
            g = b * per_band + j
            r, c = divmod(g, cols - 1)
            bit = (p[r * cols + c + 1] > p[r * cols + c]).cast("int")
            val = val + bit * F.lit(1 << j)
        outs.append(val.alias(f"band{b}"))
    return pixels.select(F.col(id_col), *outs)


def image_phash_pairs(
    images: DataFrame,
    max_distance: int = 6,
    rows: int = 8,
    cols: int = 9,
    n_bands: int = 4,
    content_col: str = "content",
    filename_col: str = "filename",
    broadcast_buckets: bool = False,
    decode: str = "stub",
) -> DataFrame:
    """Perceptual image near-duplicate pairs — the multimodal analogue
    of the MinHash/SimHash text family (the reference corpus is ~13.9k
    photos with known near-duplicate scans, SRS §2; the reference
    itself ships no dedup): decode to a small grayscale grid
    (``decode="stub"`` → the oracle-replayable byte sampler;
    ``decode="real"`` → PIL grayscale + area resize,
    multimodal.decode_image_pixels_real — same grid contract, so
    everything downstream is decoder-agnostic), dHash into ``n_bands``
    band integers, block by EXACT band equality (two hashes within
    Hamming distance < n_bands must share at least one untouched band
    — pigeonhole — so blocking is COMPLETE below n_bands and
    best-effort up to ``max_distance``), then exact-Hamming verify on
    candidates only.

    Output: (file_a, file_b, hamming) with file_a < file_b and
    hamming <= max_distance.

    Scale posture — the MinHash recipe at the image layer: the banded
    frame is O(corpus·n_bands) rows, the self-join shuffles on
    (band, key) (or broadcasts, caller's size policy), candidate
    pairs are collisions-only, and the verify joins touch only the
    tiny per-image band tuple — the corpus pixels never self-join.
    """
    from . import multimodal

    if decode == "stub":
        decoder = multimodal.decode_image_pixels_stub
    elif decode == "real":
        decoder = multimodal.decode_image_pixels_real
    else:
        raise ValueError(f"decode must be 'stub' or 'real', got {decode!r}")
    px = decoder(
        images, content_col=content_col, filename_col=filename_col,
        rows=rows, cols=cols,
    )
    hashed = image_dhash_bands(
        px, rows=rows, cols=cols, n_bands=n_bands, id_col="filename"
    )
    # feeds both sides of the bucket join + both verify joins — one
    # decode pass, not four (mapInPandas re-evaluates per reference)
    hashed = caching.persist(hashed)

    banded = hashed.select(
        F.col("filename"),
        F.posexplode(
            F.array(*[F.col(f"band{b}") for b in range(n_bands)])
        ).alias("band", "key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    if broadcast_buckets:
        b = F.broadcast(b)
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("a.filename") < F.col("b.filename"))
        .select(
            F.col("a.filename").alias("file_a"),
            F.col("b.filename").alias("file_b"),
        )
        .dropDuplicates(["file_a", "file_b"])
    )
    ha = hashed.select(
        F.col("filename").alias("file_a"),
        *[F.col(f"band{i}").alias(f"__a{i}") for i in range(n_bands)],
    )
    hb = hashed.select(
        F.col("filename").alias("file_b"),
        *[F.col(f"band{i}").alias(f"__b{i}") for i in range(n_bands)],
    )
    ham = F.lit(0)
    for i in range(n_bands):
        ham = ham + F.bit_count(
            F.col(f"__a{i}").cast("long").bitwiseXOR(
                F.col(f"__b{i}").cast("long")
            )
        )
    return (
        cand.join(ha, "file_a")
        .join(hb, "file_b")
        .select(
            "file_a", "file_b", ham.cast("int").alias("hamming")
        )
        .filter(F.col("hamming") <= max_distance)
    )
