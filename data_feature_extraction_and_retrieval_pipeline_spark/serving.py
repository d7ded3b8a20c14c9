"""Hot serving tier — driver-resident scoring over Spark-built artifacts.

The reference serves interactive traffic from an always-hot
Elasticsearch index (app.py:182-253 → search_with_segments.py:148-185):
the corpus vectors are RESIDENT in the serving process, so a request
costs one in-memory scan, never a query-planning pass. This engine's
batch/query layer is Spark — and a Spark plan, even a cached one,
carries ~0.5-0.9 s of per-request driver cost at interactive corpus
sizes (Catalyst analysis + codegen + DAGScheduler submission;
measured in SCALING.md "Serving concurrency"). That floor is the right
trade for 100 TB scans and exactly the wrong one for a 10-result
lookup a user is waiting on.

:class:`HotSearchIndex` is the ES-parity piece: Spark BUILDS the
artifact (one bounded ``toArrow()`` per serving table — the same
"index build" step the reference runs when it bulk-loads ES), and
request scoring runs against the resident copy in microseconds.
The build is columnar: each vector matrix comes straight from the
Arrow list column's values buffer, and the tags stay the flat arrays
of :class:`TagRows`, so tag lookups are numpy masks, not Python loops
(build cost before/after in SCALING.md "Serving concurrency"). The score
algebra is the operator layer's, replicated term-for-term (whole
calibration +1.0, the hybrid 0..2/−1..1 asymmetry with missing→0,
rounded-score ordering with id tiebreaks) and pinned by equivalence
tests against the Spark plans (tests/test_serving.py) — the DataFrame
path stays the system of record; the hot tier is a view of it.

Scale posture (the 100 TB story):

- The resident artifact holds ONLY the serving columns — ids +
  vectors + the flat tag arrays — with each vector matrix at its
  source column's precision: 4·n·dim bytes for a float32 column (the
  archive's CLIP vectors: extract_clip_features.py emits float32),
  8·n·dim for a float64 one. One driver comfortably holds ~20M×64d
  (~5 GB) of float32; past that the deployment shards: partition the
  vectors by id range across N serving processes (each built by the
  same Spark job writing N artifacts), scatter the query, merge the
  per-shard top-k — exact, because every mode's score is per-image
  and the final cut is a k-way merge on the same (rounded score, id)
  order. This is the reference's posture too: ES scales script_score
  by sharding the index, not by making one shard bigger.
- Freshness: the artifact is immutable once built, like the parquet
  snapshot it came from; refresh = rebuild from the current tables
  (``Engine.hot(rebuild=True)``). Streaming ingest appends via the
  incremental-ANN path (streaming/ann_ingest.py) and periodic
  artifact rebuilds, the standard lambda-serving split.
- Anything that does NOT fit the resident tier — historical scans,
  analytics, curation — stays on the Spark plans. ``serve(...,
  hot=False)`` keeps the pure-Spark serving path alive and tested.

Float discipline: every score the tier serves is decided in float64,
whatever the matrix dtype. A float64 matrix is scored directly — the
same matmul as the operator layer's Arrow path (functions/vectors.py
``dot_batch``). A float32 matrix is never widened whole: the whole-
image top-k runs a float32 screen (``mat @ q32``) and keeps every row
within twice a rigorous rounding bound of the k-th screened score
(``_whole_top``), then widens those survivors — exactly — and rescores
them in float64; segment scoring widens only the candidate rows it
slices. So the served rows are the float64 rows, for either dtype, and
a saved artifact (matrices stored verbatim) scores bit for bit like
the live one. The whole-image dot accumulates in SIMD-blocked order
where the JVM HOF folds left-to-right; results agree to ~1e-13,
absorbed by the 1e-6 rounded-score ordering the engine certifies
under (queries.py module header). Display rounding replicates Spark's
HALF_UP-on-shortest-decimal exactly.
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

# Java \s — Spark's split(lower(text), '\\s+') tokenizer class. NOT
# Python \s (which adds unicode spaces); parity with functions/text.py
# ``tokens`` requires the Java set exactly.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def py_tokens(text: str | None) -> list[str]:
    """Driver-side twin of ``functions.text.tokens`` (lowercased
    whitespace tokens, empties dropped) — same Java-regex whitespace
    class, same lowercase-then-split order."""
    if not text:
        return []
    return [t for t in _JAVA_WS.split(text.lower()) if t]


def round_half_up(x: float, digits: int = 6) -> float:
    """Spark's ``F.round(double, d)``: HALF_UP on the shortest decimal
    representation (BigDecimal.valueOf ≡ repr round-trip)."""
    return float(
        Decimal(repr(float(x))).quantize(
            Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP
        )
    )


def _f32_floor(x: float) -> np.float32:
    """The largest float32 at or below ``x`` (a screen threshold must
    never round up past a row it has to keep)."""
    f = np.float32(x)
    return np.nextafter(f, np.float32(-np.inf)) if float(f) > x else f


class TagRows:
    """``segment_tags`` rows (image_id, [(tag, confidence), …]) held as
    the four flat arrays ``save()`` writes: row ids, per-row pair
    counts, pair names and confidences (row-major). A pair with a null
    tag or confidence gets confidence NaN, which clears no floor (as
    Spark's null comparison). ``len()`` is the row count."""

    def __init__(self, ids, lens, names, confs):
        self.ids = ids
        self.lens = np.asarray(lens, dtype=np.int64)
        self.names = names
        self.confs = np.asarray(confs, dtype=np.float64)
        self.pair_ids = np.repeat(ids, self.lens)  # each pair's image id
        # tag names as codes into the sorted vocabulary: a lookup
        # compares a few query codes against int codes, not strings
        self.vocab, self.codes = np.unique(names, return_inverse=True)

    def __len__(self) -> int:
        return len(self.ids)

    def hits(self, tags: Sequence[str], min_confidence: float) -> np.ndarray:
        """Pair mask: tag in ``tags`` at or above the confidence floor."""
        query = np.asarray([str(t) for t in tags], dtype=str)
        wanted = np.flatnonzero(np.isin(self.vocab, query))
        floor = float(min_confidence)
        return np.isin(self.codes, wanted) & (self.confs >= floor)

    def take(self, row_mask: np.ndarray) -> "TagRows":
        pair_mask = np.repeat(row_mask, self.lens)
        return TagRows(
            self.ids[row_mask], self.lens[row_mask],
            self.names[pair_mask], self.confs[pair_mask],
        )

    @classmethod
    def from_arrow(cls, ids, tags) -> "TagRows":
        """From the Arrow id and ``array<struct<tag, confidence>>``
        columns; a null tag list is a row with no pairs."""
        import pyarrow.compute as pc

        lens = pc.fill_null(pc.list_value_length(tags), 0).to_numpy()
        pairs = tags.flatten()  # struct nulls pass into the fields
        fields = dict(zip([f.name for f in pairs.type], pairs.flatten()))
        name, conf = fields["tag"], fields["confidence"]
        names = pc.fill_null(name, "").to_numpy(zero_copy_only=False)
        confs = np.where(
            name.is_valid().to_numpy(zero_copy_only=False),
            conf.to_numpy(zero_copy_only=False).astype(np.float64),
            np.nan,
        )
        return cls(_ids(ids), lens, names.astype(str), confs)


def _ids(arr) -> np.ndarray:
    """An Arrow id column as numpy; values numpy holds as objects
    (strings) take the dtype ``np.asarray`` picks for them."""
    ids = arr.to_numpy(zero_copy_only=False)
    return np.asarray(ids.tolist()) if ids.dtype == object else ids


def _vectors(arr) -> np.ndarray:
    """An Arrow ``array<float|double>`` column as an ``(n, dim)`` view
    of its flat values buffer, in the source dtype. A null or ragged
    vector (or null element) raises: the view would be mis-shaped."""
    if not len(arr):
        return np.zeros((0, 0))
    lens = np.diff(arr.offsets.to_numpy())
    values = arr.flatten()
    if arr.null_count or values.null_count or (lens != lens[0]).any():
        raise ValueError(
            "serving-table vectors must be non-null and of one length "
            f"(null rows {arr.null_count}, lengths {lens.min()}..{lens.max()})"
        )
    return values.to_numpy().reshape(len(arr), int(lens[0]))


class HotSearchIndex:
    """Driver-resident serving artifact for the four search modes.

    Built by :meth:`from_engine` (one bounded Arrow collect per
    table); scores with numpy against the resident copies. Output rows
    carry the SAME column names and ordering as the operator layer's
    DataFrames, so the service can swap tiers without touching its
    response envelope.
    """

    def __init__(
        self,
        image_ids: np.ndarray,
        image_mat: np.ndarray | None,
        seg_image_ids: np.ndarray | None,
        seg_mat: np.ndarray | None,
        tag_rows: TagRows | None,
        image_col: str = "image_id",
    ):
        self.image_col = image_col
        self.image_ids = image_ids
        self.image_mat = image_mat
        self.dim = int(image_mat.shape[1]) if image_mat is not None else None
        # the float32 screen's bound needs the largest row norm: summed
        # in float64 once here, row by row (no full-size temporary)
        self.image_maxnorm = None
        if image_mat is not None and image_mat.dtype == np.float32 and image_mat.size:
            sq = np.einsum("ij,ij->i", image_mat, image_mat, dtype=np.float64)
            self.image_maxnorm = float(np.sqrt(sq.max()))
        # segment rows sorted by image id → per-image contiguous slices:
        # group i (image seg_groups[i]) is rows seg_offsets[i] to
        # seg_offsets[i + 1]; from_engine and load hand them over sorted
        if seg_mat is not None and len(seg_image_ids):
            if (seg_image_ids[1:] < seg_image_ids[:-1]).any():
                order = np.argsort(seg_image_ids, kind="stable")
                seg_image_ids, seg_mat = seg_image_ids[order], seg_mat[order]
            self.seg_image_ids = seg_image_ids
            self.seg_mat = seg_mat
            self.seg_groups, starts = np.unique(seg_image_ids, return_index=True)
            self.seg_offsets = np.append(starts, len(seg_image_ids))
        else:
            self.seg_image_ids = self.seg_mat = None
            self.seg_groups = self.seg_offsets = None
        self.tag_rows = tag_rows

    # -- build ---------------------------------------------------------

    @classmethod
    def from_engine(cls, engine) -> "HotSearchIndex":
        """Collect the serving artifact from an Engine's tables — the
        hot tier's "index build". One ``toArrow()`` per table, projected
        to the serving columns only (P1 pruning: ids + vectors + tags).
        Each vector matrix is the Arrow list column's flat values buffer
        in the column's own dtype — 4·n·dim bytes for the archive's
        float32 vectors, never widened — used in place (read-only) for
        images and copied once into image-id order for segments."""
        col = engine.image_col

        def table(df, vec_col):
            t = df.select(col, vec_col).toArrow()
            return t.column(0).combine_chunks(), t.column(1).combine_chunks()

        img_ids = img_mat = None
        if engine.images is not None:
            ids, vecs = table(engine.images, "embedding")
            img_ids = _ids(ids)
            img_mat = _vectors(vecs)
        seg_ids = seg_mat = None
        if engine.segments is not None:
            ids, vecs = table(engine.segments, "clip_features")
            seg_ids = _ids(ids)
            order = np.argsort(seg_ids, kind="stable")
            seg_ids = seg_ids[order]
            seg_mat = _vectors(vecs)[order]
        tag_rows = None
        if engine.segment_tags is not None:
            tag_rows = TagRows.from_arrow(*table(engine.segment_tags, "tags"))
        return cls(
            img_ids, img_mat, seg_ids, seg_mat, tag_rows, image_col=col,
        )

    # -- durable artifact (build once with Spark, serve forever) --------

    def save(self, path: str) -> str:
        """Serialize the artifact to one ``.npz`` file — the durable
        half of the reference's build-once/serve-forever split
        (upload_features_to_elasticsearch.py:207-229 writes the ES
        index once; app.py boots against it with no feature-extraction
        stack). A serving process — one shard of
        :class:`ShardedHotIndex` — boots from this file via
        :meth:`load` with numpy alone: no SparkSession, no JVM.

        Layout: ids + matrices verbatim (already sorted, in the
        resident dtype — 4·n·dim bytes per float32 source table), tag
        rows as their four resident arrays (row ids, per-row pair
        counts, names, confidences) — no pickle anywhere, so the file is
        portable across Python versions and safe to load from shared
        storage. A loaded artifact holds the same matrices as the live
        one, so it scores bit for bit like it."""
        data: dict = {"image_col": np.asarray(self.image_col)}
        if self.image_mat is not None:
            data["image_ids"] = self.image_ids
            data["image_mat"] = self.image_mat
        if self.seg_mat is not None:
            data["seg_image_ids"] = self.seg_image_ids
            data["seg_mat"] = self.seg_mat
        if self.tag_rows is not None:
            t = self.tag_rows
            data.update(
                tag_row_ids=t.ids, tag_row_lens=t.lens,
                tag_names=t.names, tag_confs=t.confs,
            )
        with open(path, "wb") as f:
            np.savez(f, **data)
        return path

    @classmethod
    def load(cls, path: str) -> "HotSearchIndex":
        """Boot the artifact from a :meth:`save` file — numpy only, no
        SparkSession (equivalence with the live-built copy is pinned
        per mode in tests/test_serving.py)."""
        with np.load(path, allow_pickle=False) as z:
            image_col = (
                str(z["image_col"][()]) if "image_col" in z else "image_id"
            )
            tag_rows = None
            if "tag_row_lens" in z:
                tag_rows = TagRows(
                    z["tag_row_ids"], z["tag_row_lens"],
                    z["tag_names"], z["tag_confs"],
                )
            return cls(
                z.get("image_ids"), z.get("image_mat"),
                z.get("seg_image_ids"), z.get("seg_mat"), tag_rows,
                image_col=image_col,
            )

    # -- shared scoring kernels -----------------------------------------

    def _whole_top(self, query_vec, allowed, k: int):
        """(ids, calibrated whole scores) of the top ``k`` rows under
        (score DESC, id ASC) — the engine's deterministic tiebreak
        order — restricted to ``allowed``, every score decided in
        float64.

        A float32 matrix is screened first: ``s̃ = mat @ q32`` in float32
        is within ``eps = γ·maxnorm·‖q‖ + maxnorm·‖q32 − q‖`` of each
        row's exact dot, ``γ = (d+2)u / (1 − (d+2)u)``, ``u = 2⁻²⁴``
        (the dot-product rounding bound for any summation order, with
        a ``u`` of slack that covers the float64 decision's own
        rounding), plus ``d·2⁻¹⁴⁹`` for underflow. A row screened below
        ``s̃_(k) − 2·eps`` is then strictly below the k-th float64
        score, so the survivors — every true top-k row and every tie
        at the cut — are widened (exact) and rescored in float64."""
        mat, ids = self.image_mat, self.image_ids
        q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
        rows = None
        if allowed is not None:
            rows = np.flatnonzero(np.isin(ids, _id_array(allowed)))
        n, k = (len(ids) if rows is None else len(rows)), int(k)
        qnorm = float(np.linalg.norm(q))
        # the screen needs k < n and a finite bound far from float32
        # overflow (the comparison is False for NaN)
        if self.image_maxnorm is not None and 0 < k < n and (
            self.image_maxnorm * qnorm < 2.0**100
        ):
            q32 = q.astype(np.float32)
            approx = mat @ q32
            if rows is not None:
                approx = approx[rows]
            d = mat.shape[1]
            g = (d + 2) * 2.0**-24
            eps = (
                self.image_maxnorm
                * (g / (1 - g) * qnorm + float(np.linalg.norm(q32 - q)))
                + d * 2.0**-149
            )
            cut = float(np.partition(approx, n - k)[n - k])
            keep = np.flatnonzero(approx >= _f32_floor(cut - 2 * eps))
            rows = keep if rows is None else rows[keep]
        if rows is not None:
            mat, ids = mat[rows], ids[rows]
        scores = mat.astype(np.float64, copy=False) @ q + 1.0
        take = np.lexsort((ids, -scores))[:k]
        return ids[take], scores[take]

    def _segment_scores(self, images, query_rows) -> list[tuple]:
        """The W4 argmax kernel: for each of ``images`` that has
        segments, in id order, ``(id, avg, max)`` over the
        per-query-segment max cosines. The image's rows come from the
        group offsets; only those rows are widened to float64 and
        scored with the same float64 matmul as the Arrow path
        (vectors.dot_batch), grouped with reduceat; the avg sums left
        to right, like the Catalyst column sum."""
        images = np.unique(images)
        groups = self.seg_groups
        pos = np.minimum(np.searchsorted(groups, images), len(groups) - 1)
        pos = pos[groups[pos] == images]
        if not len(pos):
            return []
        lo = self.seg_offsets[pos]
        lens = self.seg_offsets[pos + 1] - lo
        starts = np.cumsum(lens) - lens  # each group's first gathered row
        rows = np.repeat(lo - starts, lens) + np.arange(int(lens.sum()))
        qmat = np.asarray(
            [[float(x) for x in v] for _, v in query_rows], dtype=np.float64
        )
        sims = self.seg_mat[rows].astype(np.float64, copy=False) @ qmat.T
        maxima = np.maximum.reduceat(sims, starts, axis=0)  # (groups, Q)
        out = []
        for g, row in zip(groups[pos].tolist(), maxima):
            total = 0.0 + row[0]
            for x in row[1:]:
                total = total + x
            out.append((g, total / float(len(row)), float(row.max())))
        return out

    # -- the four modes --------------------------------------------------

    def whole(
        self, query_vec: Sequence[float], k: int, allowed=None
    ) -> list[dict]:
        """retrieval.knn twin: score = dot + 1.0, (score DESC, id ASC),
        top k → [{image_col, score}]."""
        ids, scores = self._whole_top(query_vec, allowed, k)
        return [
            {self.image_col: i, "score": s}
            for i, s in zip(ids.tolist(), scores.tolist())
        ]

    def segment(
        self,
        query_rows: Sequence[tuple],
        top_k: int,
        candidate_cap: int | None = None,
        allowed=None,
    ) -> list[dict]:
        """retrieval.segment_search twin: per-query-segment argmax per
        image, avg + max of the maxima, candidate cap = first ``cap``
        image ids ascending (the reference's top_k·3 ES recall
        heuristic), ordering (round6(avg) DESC, id ASC)."""
        if self.seg_groups is None:  # shard/corpus with no segments
            return []
        groups = self.seg_groups
        if allowed is not None:
            groups = groups[np.isin(groups, _id_array(allowed))]
        if candidate_cap is not None:
            groups = groups[: int(candidate_cap)]  # unique() ⇒ sorted asc
        out = self._segment_scores(groups, query_rows)
        out.sort(key=lambda r: (-round_half_up(r[1], 6), r[0]))
        return [
            {
                self.image_col: g,
                "avg_similarity": float(a),
                "max_segment_similarity": m,
            }
            for g, a, m in out[: int(top_k)]
        ]

    def hybrid(
        self,
        query_vec: Sequence[float],
        query_rows: Sequence[tuple],
        top_k: int,
        whole_weight: float = 0.4,
        segment_weight: float = 0.6,
        allowed=None,
    ) -> list[dict]:
        """retrieval.hybrid_search twin: phase-1 pool max(20k, 100) on
        the calibrated whole score, phase-2 segment avg-of-maxima (raw
        cosine) for pool members only, missing → 0.0, hybrid =
        w·whole + w·segment, (round6(hybrid) DESC, id ASC)."""
        pool_ids, pool_scores = self._whole_top(
            query_vec, allowed, max(int(top_k) * 20, 100)
        )
        seg_by_id = (
            {g: a for g, a, _ in self._segment_scores(pool_ids, query_rows)}
            if self.seg_mat is not None
            else {}
        )
        whole_by_id = dict(zip(pool_ids.tolist(), pool_scores.tolist()))
        ww, ws = float(whole_weight), float(segment_weight)
        out = []
        for g, w in whole_by_id.items():
            s = seg_by_id.get(g, 0.0)
            out.append((g, w, s, ww * w + ws * s))
        out.sort(key=lambda r: (-round_half_up(r[3], 6), r[0]))
        return [
            {
                self.image_col: g,
                "whole_score": float(w),
                "segment_score": float(s),
                "hybrid_score": float(h),
            }
            for g, w, s, h in out[: int(top_k)]
        ]

    def tags(
        self,
        tags: Sequence[str],
        min_confidence: float = 0.1,
        top_k: int = 10,
    ) -> list[dict]:
        """retrieval.tag_search twin: OR-match ≥ confidence floor,
        pooled per image id, ranked by (#distinct matched tags DESC,
        max confidence DESC, id ASC)."""
        t = self.tag_rows
        hit = np.flatnonzero(t.hits(tags, min_confidence))
        if not len(hit):
            return []
        ids, inv = np.unique(t.pair_ids[hit], return_inverse=True)
        keys = np.unique(inv * len(t.vocab) + t.codes[hit])  # (id, tag)
        n_matched = np.bincount(keys // len(t.vocab), minlength=len(ids))
        max_conf = np.full(len(ids), -np.inf)
        np.maximum.at(max_conf, inv, t.confs[hit])
        take = np.lexsort((ids, -max_conf, -n_matched))[: int(top_k)]
        return [
            {
                self.image_col: ids[i].item(),
                "matched_tags": int(n_matched[i]),
                "max_confidence": float(max_conf[i]),
            }
            for i in take
        ]

    def tag_allowed(
        self, tag_filter: Sequence[str], min_confidence: float
    ) -> set:
        """Engine._tag_allowed_ids twin: ids with ≥1 tag in the filter
        at or above the confidence floor."""
        t = self.tag_rows
        hit = t.hits(tag_filter, min_confidence)
        return set(np.unique(t.pair_ids[hit]).tolist())


def _id_array(allowed) -> np.ndarray:
    """An ``allowed`` id set (or array) as an array for ``np.isin``."""
    if isinstance(allowed, np.ndarray):
        return allowed
    return np.asarray(list(allowed))


class ShardedHotIndex:
    """The horizontal posture as CODE: N :class:`HotSearchIndex`
    shards partitioned by image id, each answering locally, merged
    with an exact k-way gather — the layout SCALING.md's "Serving
    concurrency" describes for the SRS 1000-user line (N stateless
    serving processes over Spark-built artifacts behind a balancer).

    Exactness argument, per mode: every score this engine serves is a
    PER-IMAGE quantity (whole dot, avg/max of per-query-segment
    maxima, tag match counts), and sharding by image id co-locates an
    image's embedding, all its segments, and its tag row on one
    shard — so each shard's local result rows equal the rows a single
    index would produce for its id range (to the ~1-ulp BLAS dgemm
    blocking effect on the dots, absorbed like every fp-order effect
    by the 1e-6 rounded-score ordering), and the global answer is a
    merge-sort of bounded local lists:

    - ``whole`` / ``tags``: gather each shard's local top-k, re-sort
      under the same (score/rank, id) order, cut to k.
    - ``segment``: the candidate cap is the FIRST ``cap`` image ids
      ascending over the whole corpus — resolved globally from the
      shards' local first-``cap`` id lists (each is a superset of its
      shard's contribution to the global cap), then scored shard-
      locally against exactly that id set.
    - ``hybrid``: the phase-1 pool (global top ``max(20k,100)`` by
      whole score) gathers from per-shard local pools the same way,
      then each shard computes segment scores for its pool members.

    Equivalence with the single index (and therefore with the Spark
    plans) is pinned for every mode in tests/test_serving.py.

    In-process this class mainly exists as the executable proof +
    merge reference; a real deployment runs one shard per process
    (each built by a Spark job writing that shard's artifact) and a
    thin gather tier that concatenates the per-shard row lists exactly
    as these methods do.
    """

    def __init__(self, shards: list[HotSearchIndex], image_col: str):
        self.shards = shards
        self.image_col = image_col

    @classmethod
    def from_hot(cls, hot: HotSearchIndex, n_shards: int) -> "ShardedHotIndex":
        """Split a built artifact into ``n_shards`` by ``id %
        n_shards`` (any id-deterministic partitioner works; a Spark
        build writes the same split with one ``pmod`` column)."""
        n = int(n_shards)
        img_shard = hot.image_ids % n
        seg_shard = None if hot.seg_mat is None else hot.seg_image_ids % n
        tag_shard = None if hot.tag_rows is None else hot.tag_rows.ids % n
        shards = []
        for s in range(n):
            img = img_shard == s
            seg_ids = seg_mat = tag_rows = None
            if seg_shard is not None:
                seg = seg_shard == s
                seg_ids, seg_mat = hot.seg_image_ids[seg], hot.seg_mat[seg]
            if tag_shard is not None:
                tag_rows = hot.tag_rows.take(tag_shard == s)
            shards.append(
                HotSearchIndex(
                    hot.image_ids[img], hot.image_mat[img], seg_ids, seg_mat,
                    tag_rows, image_col=hot.image_col,
                )
            )
        return cls(shards, hot.image_col)

    @classmethod
    def from_paths(cls, paths: Sequence[str]) -> "ShardedHotIndex":
        """Boot the sharded posture from per-shard :meth:`save_shards`
        artifacts — numpy only, no SparkSession. This is the deployment
        shape: each path is one serving process's resident state; this
        in-process form is the executable merge reference."""
        shards = [HotSearchIndex.load(str(p)) for p in paths]
        image_col = shards[0].image_col if shards else "image_id"
        return cls(shards, image_col)

    def save_shards(self, directory: str) -> list[str]:
        """Write each shard to ``{directory}/shard-{i}.npz`` and return
        the paths (the Spark-side build writes the same split with one
        ``pmod(id, n)`` partition column; ``from_paths`` reloads)."""
        import os

        os.makedirs(directory, exist_ok=True)
        return [
            s.save(os.path.join(directory, f"shard-{i}.npz"))
            for i, s in enumerate(self.shards)
        ]

    def _gather(self, per_shard: list[list[dict]], sort_key, k: int):
        rows = [r for rows in per_shard for r in rows]
        rows.sort(key=sort_key)
        return rows[: int(k)]

    def whole(self, query_vec, k, allowed=None) -> list[dict]:
        col = self.image_col
        return self._gather(
            [s.whole(query_vec, k, allowed=allowed) for s in self.shards],
            lambda r: (-r["score"], r[col]),
            k,
        )

    def _global_cap_ids(self, cap: int, allowed) -> np.ndarray:
        if allowed is not None:
            allowed = _id_array(allowed)
        cand = [np.empty(0, dtype=np.int64)]
        for s in self.shards:
            groups = s.seg_groups
            if groups is None:
                continue
            if allowed is not None:
                groups = groups[np.isin(groups, allowed)]
            cand.append(groups[: int(cap)])  # seg_groups is sorted asc
        return np.sort(np.concatenate(cand))[: int(cap)]

    def segment(
        self, query_rows, top_k, candidate_cap=None, allowed=None
    ) -> list[dict]:
        col = self.image_col
        cap_ids = (
            self._global_cap_ids(candidate_cap, allowed)
            if candidate_cap is not None
            else allowed
        )
        return self._gather(
            [
                s.segment(
                    query_rows, top_k, candidate_cap=None, allowed=cap_ids
                )
                for s in self.shards
            ],
            lambda r: (-round_half_up(r["avg_similarity"], 6), r[col]),
            top_k,
        )

    def hybrid(
        self, query_vec, query_rows, top_k,
        whole_weight=0.4, segment_weight=0.6, allowed=None,
    ) -> list[dict]:
        col = self.image_col
        pool = max(int(top_k) * 20, 100)
        # phase 1: global pool from per-shard local pools (exact —
        # a shard's local top-pool is a superset of its members in
        # the global pool)
        local = [
            s.whole(query_vec, pool, allowed=allowed) for s in self.shards
        ]
        pool_rows = self._gather(
            local, lambda r: (-r["score"], r[col]), pool
        )
        pool_ids = {r[col] for r in pool_rows}
        per_shard = [
            s.hybrid(
                query_vec, query_rows, top_k,
                whole_weight=whole_weight, segment_weight=segment_weight,
                allowed=(
                    pool_ids
                    if allowed is None
                    else pool_ids & set(allowed)
                ),
            )
            for s in self.shards
        ]
        return self._gather(
            per_shard,
            lambda r: (-round_half_up(r["hybrid_score"], 6), r[col]),
            top_k,
        )

    def tags(self, tags, min_confidence=0.1, top_k=10) -> list[dict]:
        col = self.image_col
        return self._gather(
            [
                s.tags(tags, min_confidence=min_confidence, top_k=top_k)
                for s in self.shards
            ],
            lambda r: (-r["matched_tags"], -r["max_confidence"], r[col]),
            top_k,
        )

    def tag_allowed(self, tag_filter, min_confidence) -> set:
        out: set = set()
        for s in self.shards:
            if s.tag_rows is not None:
                out |= s.tag_allowed(tag_filter, min_confidence)
        return out
