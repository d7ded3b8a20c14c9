"""User-facing search API (SURVEY.md §2.10).

The reference exposes four retrieval modes through a Flask
microservice and a CLI (app.py:82-321; search_with_segments.py:628-717).
The engine's equivalent is a session-level facade: one ``Engine``
bound to the index tables, dispatching ``search(mode=...)`` to the
operator layer and returning DataFrames (the caller decides whether
to collect, serve, or write). A web layer, if ever needed, is a thin
driver-side wrapper over this — out of engine scope by design.

Ingest validations mirror the service's upload constraints
(16 MB cap, extension allow-list — app.py:27,31-35).
"""

from __future__ import annotations

import threading
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import caching
from .operators import retrieval
from .sources import load_table

MAX_UPLOAD_BYTES = 16 * 1024 * 1024  # app.py:27 MAX_CONTENT_LENGTH
# The reference keeps two deliberately DIFFERENT extension sets: the
# upload gate also admits bmp/tiff (app.py:31), while the directory
# scan indexes only the four web formats
# (extract_clip_features.py:77 — readers.IMAGE_EXTENSIONS). Keeping
# them separate means an uploaded .bmp is accepted and encoded even
# though a bulk scan would skip it — exactly the upstream behavior.
ALLOWED_EXTENSIONS = ("png", "jpg", "jpeg", "gif", "bmp", "tiff")


def validate_upload(filename: str, n_bytes: int) -> None:
    """The service's upload gate (app.py:27,31-35) as an ingest check."""
    if n_bytes > MAX_UPLOAD_BYTES:
        raise ValueError(
            f"upload too large: {n_bytes} bytes > {MAX_UPLOAD_BYTES}"
        )
    ext = filename.rsplit(".", 1)[-1].lower() if "." in filename else ""
    if ext not in ALLOWED_EXTENSIONS:
        raise ValueError(f"extension {ext!r} not in {ALLOWED_EXTENSIONS}")


class Engine:
    """Facade over the index tables + retrieval operators.

    ``images``: one row per item with an L2-normalized ``embedding``.
    ``segments``: flat per-segment rows (image_id, vec_id,
    clip_features) — the foto_atlas_sam layout (SURVEY.md §1.4).
    ``segment_tags``: (image_id, tags array<struct<tag,confidence>>).
    """

    def __init__(
        self,
        images: DataFrame,
        segments: DataFrame | None = None,
        segment_tags: DataFrame | None = None,
        image_col: str = "image_id",
    ):
        self.images = images
        self.segments = segments
        self.segment_tags = segment_tags
        self.image_col = image_col
        # snapshot versioning for the serving tiers: _table_epoch bumps
        # on ingest() (the tables changed), _hot_gen bumps whenever the
        # resident hot artifact is (re)built or (re)loaded. Together
        # they version every response-cache key in service.py — a
        # rebuild after a table refresh invalidates cached search
        # responses mechanically instead of by operator discipline.
        self._table_epoch = 0
        self._hot = None
        self._hot_gen = 0
        self._hot_table_epoch = None
        self._hot_counts = None
        # (table epoch, images frame, embedding dim) of the last probe
        self._dim_probe = None

    @property
    def serving_epoch(self) -> tuple:
        """Version of the serving snapshot: (table epoch, hot-artifact
        generation). Any change invalidates idempotent-response caches
        keyed on it (service.py ``_ResponseCache``)."""
        return (self._table_epoch, self._hot_gen)

    def ingest(
        self,
        images: DataFrame | None = None,
        segments: DataFrame | None = None,
        segment_tags: DataFrame | None = None,
    ) -> None:
        """Append rows to the bound tables (unionByName — the batch
        face of the streaming ingest path, streaming/ann_ingest.py).
        Bumps the table epoch: the hot artifact, if built, is now a
        STALE SNAPSHOT (``hot_stale()`` turns true) and every cached
        service response keyed on the old ``serving_epoch`` stops
        matching. The artifact itself keeps serving the pre-ingest
        snapshot until ``hot(rebuild=True)`` / ``hot(rebuild="auto")``
        — the documented lambda-serving split (serving.py module
        docstring)."""
        if images is not None:
            self.images = (
                images if self.images is None
                else self.images.unionByName(images)
            )
        if segments is not None:
            self.segments = (
                segments if self.segments is None
                else self.segments.unionByName(segments)
            )
        if segment_tags is not None:
            self.segment_tags = (
                segment_tags if self.segment_tags is None
                else self.segment_tags.unionByName(segment_tags)
            )
        self._table_epoch += 1

    @classmethod
    def from_sf_dir(cls, spark: SparkSession, sf_dir: str) -> "Engine":
        """Bind to the driver test tables using the derived segment
        model (image_id = vec_id // 10, SURVEY.md queries section)."""
        emb = load_table(spark, sf_dir, "embeddings")
        seg = emb.select(
            F.floor(F.col("vec_id") / 10).cast("long").alias("image_id"),
            "vec_id",
            F.col("embedding").alias("clip_features"),
        )
        images = seg.filter(F.col("vec_id") % 10 == 0).select(
            "image_id", F.col("clip_features").alias("embedding")
        )
        return cls(images, segments=seg)

    # -- the four modes (app.py /search/whole /segment /hybrid /tags) --

    def _tag_allowed_ids(
        self, tag_filter: Sequence[str], min_confidence: float
    ) -> DataFrame:
        """Image ids with ≥1 tag in ``tag_filter`` at or above the
        confidence floor — the candidate-restriction the reference
        applies when /api/search carries a tags form field
        (app.py:213-214 → search_with_segments.py:349-352)."""
        matching = F.filter(
            F.col("tags"),
            lambda t: t["tag"].isin(*[str(x) for x in tag_filter])
            & (t["confidence"] >= F.lit(float(min_confidence))),
        )
        return (
            self.segment_tags.filter(F.size(matching) > 0)
            .select(self.image_col)
            .distinct()
        )

    def search(
        self,
        mode: str,
        query_vec: Sequence[float] | None = None,
        query_segments: DataFrame | None = None,
        tags: Sequence[str] | None = None,
        top_k: int = 10,
        whole_weight: float = 0.4,
        segment_weight: float = 0.6,
        min_confidence: float = 0.1,
        tag_filter: Sequence[str] | None = None,
        arrow: bool = True,
        query_rows: Sequence[tuple] | None = None,
    ) -> DataFrame:
        """Mode dispatcher (app.py:296-321 POST /api/search).

        The query segments of the segment/hybrid modes come either as a
        ``query_segments`` frame or as driver-held ``query_rows``
        (``[(q_segment_id, features), …]``, what the content path
        already holds) — the rows skip the frame's collect.

        ``tag_filter`` restricts the candidate universe of the vector
        modes BEFORE any scoring (broadcast semi-join on the allowed
        image ids — filter-before-expensive-work), matching the
        reference's tags form field on /api/search.

        ``arrow`` selects the multi-query sims execution path for the
        segment/hybrid modes (numpy matmul per Arrow batch vs JVM HOF
        dots) — the same volume knob the operator layer exposes; a
        serving deployment keeps the Arrow default, tiny corpora /
        bit-exactness-sensitive callers pass False (SCALING.md
        "Size-parameterized physical strategies").
        """
        images, segments = self.images, self.segments
        if tag_filter:
            if self.segment_tags is None:
                raise ValueError("tag_filter needs a segment_tags table")
            # no broadcast hint: the allowed-id set is a constant
            # fraction of ALL image ids (grows with the corpus), so
            # the semi-join must stay size-chosen — BHJ while small,
            # shuffle semi at 100× (same reasoning that folded this
            # filter into hybrid_search_flat's allowed_marker)
            allowed = self._tag_allowed_ids(tag_filter, min_confidence)
            if images is not None:
                images = images.join(allowed, self.image_col, "left_semi")
            if segments is not None:
                segments = segments.join(allowed, self.image_col, "left_semi")
        if mode == "whole":
            if query_vec is None:
                raise ValueError("whole mode needs query_vec")
            return retrieval.knn(
                images, query_vec, k=top_k,
                id_col=self.image_col, vec_col="embedding",
            )
        has_segs = query_segments is not None or query_rows is not None
        if mode == "segment":
            if not has_segs:
                raise ValueError("segment mode needs query_segments")
            if segments is None:
                raise ValueError("engine has no segments table")
            return retrieval.segment_search(
                segments, query_segments,
                top_k=top_k, candidate_cap=top_k * 3,
                image_col=self.image_col, query_rows=query_rows, arrow=arrow,
            )
        if mode == "hybrid":
            if query_vec is None or not has_segs:
                raise ValueError("hybrid mode needs query_vec + query_segments")
            if segments is None:
                raise ValueError("engine has no segments table")
            return retrieval.hybrid_search(
                images, segments, query_vec, query_segments,
                top_k=top_k, whole_weight=whole_weight,
                segment_weight=segment_weight, image_col=self.image_col,
                query_rows=query_rows, arrow=arrow,
            )
        if mode == "tags":
            if not tags:
                raise ValueError("tags mode needs tags")
            if self.segment_tags is None:
                raise ValueError("engine has no segment_tags table")
            return retrieval.tag_search(
                self.segment_tags, tags,
                min_confidence=min_confidence, top_k=top_k,
                image_col=self.image_col,
            )
        raise ValueError(f"unknown mode {mode!r}")

    @staticmethod
    def _segment_payload(
        payload: bytes, max_segments: int = 10, min_area: int = 500
    ) -> list[tuple[int, bytes]]:
        """Driver-side twin of ``ml.encoders.segment_image``'s stub
        kernel for the ONE uploaded query image: same sha256-derived
        segment count and area ranking, returning (segment_id, crop)
        pairs largest-first. Each crop carries the segment id suffix
        so the stub encoder yields DISTINCT per-segment features —
        the shape real SAM crops have — while the real path replaces
        this whole function with mask-generation + white-background
        crops (SAM/sam_segment_clip_pipeline.py:157-200)."""
        import hashlib

        h = hashlib.sha256(payload).digest()
        n_seg = min((h[0] % max_segments) + 1, max_segments)
        areas = sorted(
            (
                min_area + int.from_bytes(h[4 * i:4 * i + 2], "big")
                for i in range(n_seg)
            ),
            reverse=True,
        )
        base = payload[: min(64, len(payload))]
        return [
            (sid, base + sid.to_bytes(2, "big"))
            for sid, _area in enumerate(areas, 1)
        ]

    def search_content(
        self,
        payload: bytes,
        filename: str = "query.jpg",
        mode: str = "whole",
        top_k: int = 10,
        dim: int | None = None,
        max_segments: int = 10,
        model_loader=None,
        **kwargs,
    ) -> DataFrame:
        """Query-side embedding + search — the reference's full
        upload → encode → search lifecycle (app.py:203-215 →
        search_with_segments.py:123-145): whole-image features for the
        whole/hybrid modes, SAM-style query segmentation + per-crop
        encode for the segment/hybrid modes (app.py:217-218
        ``segment_query_image(max_segments=...)``), then the mode
        dispatcher — including ``tag_filter`` and the 0.4/0.6
        whole/segment weight defaults (app.py:210-211).

        ``model_loader`` is the model seam (defaults to
        ``_try_real_clip`` — real CLIP on a GPU cluster, else the
        hash-projection stub); tests inject a fake to assert the
        lifecycle end-to-end. The payload is one row, encoded
        driver-side through the same seam the distributed encoder
        uses, so an item inserted through the encoder is its own top
        hit.
        """
        qvec, seg_rows = self._encode_query(
            payload, filename, mode, dim=dim,
            max_segments=max_segments, model_loader=model_loader,
        )
        return self.search(
            mode,
            query_vec=qvec,
            query_rows=seg_rows,
            top_k=top_k,
            **kwargs,
        )

    def _encode_query(
        self,
        payload: bytes,
        filename: str,
        mode: str,
        dim: int | None = None,
        max_segments: int = 10,
        model_loader=None,
    ) -> tuple[list[float] | None, list[tuple[int, list[float]]] | None]:
        """The upload → encode step shared by the Spark and hot
        serving paths: validate, segment the query payload when the
        mode needs segments, batch-encode through the model seam.
        Returns ``(query_vec | None, [(q_segment_id, features)] |
        None)`` — driver-side values, so BOTH tiers score the
        identical float32-exact query vectors."""
        from .ml.encoders import (
            _hash_projection,
            _l2_normalize_rows,
            _try_real_clip,
        )

        validate_upload(filename, len(payload))
        needs_vec = mode in ("whole", "hybrid")
        needs_segs = mode in ("segment", "hybrid")
        real = None
        if needs_vec or needs_segs:
            # tags mode never encodes — don't load a model (or infer a
            # dim, below) for a request that won't use either
            loader = (
                model_loader if model_loader is not None else _try_real_clip
            )
            real = loader()
            if real is None and dim is None:
                # dim lookup only on the stub path (the real encoder
                # knows its own dim); the hot tier passes its resident dim
                dim = self._embedding_dim()

        crops = (
            self._segment_payload(payload, max_segments=max_segments)
            if needs_segs
            else []
        )
        # ONE model invocation for the whole request (the adapter is
        # batch-shaped and the reference batch-encodes its crops too) —
        # not one GPU round-trip per segment
        blobs = ([payload] if needs_vec else []) + [c for _, c in crops]
        vecs: list[list[float]] = []
        if blobs:
            if real is not None:
                import numpy as np

                mat = np.asarray(
                    real.encode_image_batch(blobs), dtype=np.float32
                )
                vecs = [
                    [float(x) for x in row] for row in _l2_normalize_rows(mat)
                ]
            else:
                vecs = [
                    [float(x) for x in _hash_projection(b, dim)] for b in blobs
                ]
        qvec = vecs[0] if needs_vec else None
        seg_rows = None
        if needs_segs:
            seg_vecs = vecs[1:] if needs_vec else vecs
            seg_rows = [
                (sid, v) for (sid, _crop), v in zip(crops, seg_vecs)
            ]
        return qvec, seg_rows

    def _embedding_dim(self) -> int:
        """Embedding width of the images table: taken from the hot
        build, else one Spark probe, either reused until the tables
        change (table epoch or a rebound ``images`` frame)."""
        probe = self._dim_probe
        if probe and probe[0] == self._table_epoch and probe[1] is self.images:
            return probe[2]
        first = self.images.select("embedding").first()
        if first is None:
            raise ValueError(
                "search_content: images table is empty — no "
                "embedding dimension to infer"
            )
        self._dim_probe = (self._table_epoch, self.images, len(first[0]))
        return self._dim_probe[2]

    # -- hot serving tier (serving.py — the ES-parity resident index) --

    def hot(self, rebuild: bool | str = False, path: str | None = None):
        """The driver-resident :class:`~.serving.HotSearchIndex` built
        from this engine's tables (cached). One bounded Arrow collect
        (``toArrow()``) per table — the hot tier's index-build step.

        ``rebuild``: ``True`` forces a rebuild from the current tables;
        ``"auto"`` rebuilds only when :meth:`hot_stale` says the cached
        artifact predates an ingest — the freshness policy a serving
        deployment wires to its refresh cadence. The default (False)
        serves the immutable snapshot, matching the reference's
        build-once ES index (upload_features_to_elasticsearch.py:207-229
        writes once; app.py serves that index until the next bulk load).

        ``path``: durable-artifact seam (the build-once/serve-forever
        split). If the file exists it is LOADED — no Spark job runs, so
        a serving process (one shard of ``ShardedHotIndex``) boots
        without a SparkSession via ``HotSearchIndex.load(path)``; if it
        does not exist the artifact is built from the tables and saved
        there for the next boot. ``rebuild=True`` with a path rebuilds
        from the tables and overwrites the file.

        Every (re)build or (re)load bumps the hot generation, which
        versions the service's response-cache keys (serving_epoch)."""
        from .serving import HotSearchIndex

        cached = self._hot
        if rebuild == "auto":
            rebuild = cached is not None and self.hot_stale()
        if cached is None or rebuild:
            import os

            if path is not None and not rebuild and os.path.exists(path):
                cached = HotSearchIndex.load(path)
            else:
                cached = HotSearchIndex.from_engine(self)
                if path is not None:
                    cached.save(path)
                if cached.dim:
                    self._dim_probe = (self._table_epoch, self.images, cached.dim)
            # snapshot counts from the artifact itself (works for both
            # built and loaded copies) — the probe=True staleness check
            # compares live table counts against these
            self._hot_counts = {
                "images": len(cached.image_ids)
                if cached.image_ids is not None else None,
                "segments": len(cached.seg_image_ids)
                if cached.seg_image_ids is not None else None,
                "segment_tags": len(cached.tag_rows)
                if cached.tag_rows is not None else None,
            }
            self._hot = cached
            self._hot_gen += 1
            self._hot_table_epoch = self._table_epoch
        return cached

    def hot_stale(self, probe: bool = False) -> bool:
        """Whether the cached hot artifact predates the current
        tables. The cheap signal is the table epoch (bumped by
        :meth:`ingest`); ``probe=True`` additionally row-counts the
        serving tables against the counts snapshotted at build time —
        the measured staleness check (the serving twin of
        ``ann_centroid_staleness``'s occupancy drift), catching
        external table growth the epoch can't see (e.g. files appended
        to a parquet dir behind a re-read)."""
        if self._hot is None:
            return False
        if self._hot_table_epoch != self._table_epoch:
            return True
        if probe and self._hot_counts is not None:
            for name, df in (
                ("images", self.images),
                ("segments", self.segments),
                ("segment_tags", self.segment_tags),
            ):
                snap = self._hot_counts.get(name)
                if df is not None and snap is not None and df.count() != snap:
                    return True
        return False

    def search_rows(
        self,
        mode: str,
        query_vec: Sequence[float] | None = None,
        query_rows: Sequence[tuple] | None = None,
        tags: Sequence[str] | None = None,
        top_k: int = 10,
        whole_weight: float = 0.4,
        segment_weight: float = 0.6,
        min_confidence: float = 0.1,
        tag_filter: Sequence[str] | None = None,
    ) -> list[dict]:
        """Hot-tier twin of :meth:`search` for driver-held queries —
        same modes, same validation errors, same score algebra and row
        shape (equivalence-pinned by tests/test_serving.py), returning
        collected rows instead of a DataFrame. ``query_rows`` is the
        driver-side ``[(q_segment_id, features), …]`` the serving path
        already holds (no query DataFrame round-trip)."""
        hot = self.hot()
        allowed = None
        if tag_filter:
            if self.segment_tags is None:
                raise ValueError("tag_filter needs a segment_tags table")
            allowed = hot.tag_allowed(tag_filter, min_confidence)
        if mode == "whole":
            if query_vec is None:
                raise ValueError("whole mode needs query_vec")
            return hot.whole(query_vec, top_k, allowed=allowed)
        if mode == "segment":
            if query_rows is None:
                raise ValueError("segment mode needs query_segments")
            if self.segments is None:
                raise ValueError("engine has no segments table")
            return hot.segment(
                query_rows, top_k, candidate_cap=top_k * 3, allowed=allowed
            )
        if mode == "hybrid":
            if query_vec is None or query_rows is None:
                raise ValueError("hybrid mode needs query_vec + query_segments")
            if self.segments is None:
                raise ValueError("engine has no segments table")
            return hot.hybrid(
                query_vec, query_rows, top_k,
                whole_weight=whole_weight, segment_weight=segment_weight,
                allowed=allowed,
            )
        if mode == "tags":
            if not tags:
                raise ValueError("tags mode needs tags")
            if self.segment_tags is None:
                raise ValueError("engine has no segment_tags table")
            return hot.tags(
                tags, min_confidence=min_confidence, top_k=top_k
            )
        raise ValueError(f"unknown mode {mode!r}")

    def search_content_rows(
        self,
        payload: bytes,
        filename: str = "query.jpg",
        mode: str = "whole",
        top_k: int = 10,
        max_segments: int = 10,
        model_loader=None,
        **kwargs,
    ) -> list[dict]:
        """Hot-tier twin of :meth:`search_content`: the same validate →
        segment → encode lifecycle (shared ``_encode_query``, so both
        tiers score identical query vectors), dispatched to
        :meth:`search_rows`. Zero Spark jobs per request."""
        hot = self.hot()
        if mode in ("whole", "segment", "hybrid") and not hot.dim:
            # tier parity with the cold path's _encode_query dim probe:
            # an empty images table must raise the same ValueError here,
            # not silently encode a 0-dim query against a (0,0) matrix
            raise ValueError(
                "search_content: images table is empty — no "
                "embedding dimension to infer"
            )
        qvec, seg_rows = self._encode_query(
            payload, filename, mode, dim=hot.dim,
            max_segments=max_segments, model_loader=model_loader,
        )
        return self.search_rows(
            mode,
            query_vec=qvec,
            query_rows=seg_rows,
            top_k=top_k,
            **kwargs,
        )

    def health(self) -> dict:
        """GET /health analogue (app.py:72-79): table presence + lazy
        plan sanity (no data is scanned)."""
        return {
            "status": "ok",
            "images": self.images is not None,
            "segments": self.segments is not None,
            "segment_tags": self.segment_tags is not None,
        }


class EventsAnalytics:
    """Facade over the temporal/event suite — the product-analytics
    face of the engine (funnel, retention, sessionization, as-of and
    interval joins). Extension beyond the reference (which has no
    event processing); certified through the same facade-twin
    convention as ``Engine`` (api_events_* queries share the raw
    operators' oracles, so a dispatch bug shows as a red row).

    ``events`` needs (user, ts, type[, value]) columns; names are
    bound at construction so call sites stay positional."""

    def __init__(
        self,
        events: DataFrame,
        user_col: str = "user_id",
        ts_col: str = "ts",
        type_col: str = "event_type",
        value_col: str | None = "value",
    ):
        self.events = events
        self.user_col = user_col
        self.ts_col = ts_col
        self.type_col = type_col
        self.value_col = value_col

    @classmethod
    def from_sf_dir(cls, spark: SparkSession, sf_dir: str) -> "EventsAnalytics":
        return cls(load_table(spark, sf_dir, "events"))

    def funnel(
        self,
        steps: Sequence[str],
        within_seconds: int | None = None,
        salted: bool = False,
    ) -> DataFrame:
        """Ordered-step conversion funnel (operators/temporal.py::
        funnel — see its docstring for the first-touch greedy
        semantics, the deadline variant, and the salted skew
        fallback)."""
        from .operators import temporal

        return temporal.funnel(
            self.events,
            list(steps),
            user_col=self.user_col,
            ts_col=self.ts_col,
            type_col=self.type_col,
            within_seconds=within_seconds,
            salted=salted,
        )

    def retention(self) -> DataFrame:
        """Weekly cohort-retention triangle over raw events
        (operators/temporal.py::retention_cohorts)."""
        from .operators import temporal

        return temporal.retention_cohorts(
            self.events, user_col=self.user_col, ts_col=self.ts_col
        )

    def retention_from_activity(self, activity: DataFrame) -> DataFrame:
        """The triangle over an already-maintained (user, week)
        activity table — the steady-state serving shape
        (streaming/ingest.py::weekly_activity_stream maintains it)."""
        from .operators import temporal

        return temporal.retention_from_activity(
            activity, user_col=self.user_col
        )

    def sessionize(self, gap: str = "30 minutes") -> DataFrame:
        """Inactivity-gap sessions (the batch-optimized spans
        formulation; value-equal to session_window)."""
        from .operators import temporal

        return temporal.sessionize_spans(
            self.events,
            gap,
            key=self.user_col,
            ts_col=self.ts_col,
            value_col=self.value_col,
        )


# One-time eager-checkpoint seconds per pipeline scope (the near-dup
# pair-mining materialization at plan construction) — the excluded
# build cost bench_detail.json reports as curate_checkpoint_s next to
# indexes.BUILD_SECONDS, so the warm numbers' steady-state assumption
# is auditable for the facade too.
CHECKPOINT_SECONDS: dict[str, float] = {}


def _require_checkpointed(pairs: DataFrame) -> None:
    """Raise unless ``pairs`` is an eagerly checkpointed frame (its
    analyzed plan root is a ``LogicalRDD``) — an explicit check, so
    ``python -O`` keeps it. Skipped where the JVM plan is out of reach
    (a Spark Connect frame has no ``_jdf``)."""
    jdf = getattr(pairs, "_jdf", None)
    if jdf is None:
        return
    root = jdf.queryExecution().analyzed().getClass().getSimpleName()
    if root != "LogicalRDD":
        raise RuntimeError(
            "dedup_near: src may only be unpersisted after the pair "
            f"frame is eagerly checkpointed (got plan root {root})"
        )


class CurationPipeline:
    """Composable facade over the training-data suite: the standard
    raw-corpus → training-shards flow (redact → quality filter →
    decontaminate → dedup → mixture sample → split → chunk → export)
    as a chain of lazy DataFrame transforms — ONE Catalyst plan until
    a terminal step executes it, so filters fuse and nothing
    materializes between stages.

    Each step returns a new pipeline over the transformed frame;
    ``df`` exposes the current frame for ad-hoc composition. The
    operators are the same oracle-certified ones the query registry
    exercises (operators/curation.py, operators/dedup.py,
    functions/text.py, sources/writers.py).

    The dedup/decontaminate stages persist their input at the stage
    boundary (multi-consumer plans). Those persists are registered in
    a per-chain cache scope so a long-lived caller can drop them after
    materializing the result — call :meth:`release`, or use the
    pipeline as a context manager::

        with CurationPipeline(docs) as p:
            p.dedup_exact().chunks().write.parquet(out)
        # all stage-boundary caches released here

    A per-ingest-batch service that skips this leaks one corpus-sized
    cache entry per dedup stage per batch. (Inside the query registry
    the harness's own scoped release handles it instead.)
    """

    _SEQ = 0
    _SEQ_LOCK = threading.Lock()

    def __init__(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        _cache_scope: str | None = None,
    ):
        self.df = docs
        self.text_col = text_col
        self.id_col = id_col
        if _cache_scope is None:
            with CurationPipeline._SEQ_LOCK:
                CurationPipeline._SEQ += 1
                _cache_scope = f"_curation_pipeline_{CurationPipeline._SEQ}"
        self._cache_scope = _cache_scope

    def _with(self, df: DataFrame) -> "CurationPipeline":
        return CurationPipeline(
            df, self.text_col, self.id_col, _cache_scope=self._cache_scope
        )

    def _persist(self, df: DataFrame) -> DataFrame:
        # inside a harness scope (query registry / bench) the harness
        # owns the release lifecycle — keep its tag; otherwise tag
        # with the chain's own scope so release() can find the frames
        if caching.current_scope() is not None:
            return caching.persist(df)
        with caching.scope(self._cache_scope):
            return caching.persist(df)

    def release(self) -> int:
        """Drop the stage-boundary caches this chain registered
        (clones made by the fluent steps share one scope, so one call
        covers the whole chain). Returns the released count."""
        return caching.release(only=self._cache_scope)

    def __enter__(self) -> "CurationPipeline":
        return self

    def __exit__(self, *exc) -> None:
        self.release()

    def redact(self) -> "CurationPipeline":
        """PII scrub in place (functions/text.py::redact_pii)."""
        from .functions.text import redact_pii

        return self._with(
            self.df.withColumn(self.text_col, redact_pii(F.col(self.text_col)))
        )

    def filter_quality(self, min_score: float = 0.5) -> "CurationPipeline":
        """Drop rows below the composite quality score (map-only)."""
        from .functions.text import quality_score

        return self._with(
            self.df.filter(quality_score(F.col(self.text_col)) >= min_score)
        )

    def decontaminate(
        self, benchmark: DataFrame, n: int = 8
    ) -> "CurationPipeline":
        """Remove rows sharing any n-gram with a held-out benchmark
        (anti-join on the flagged ids; the BENCHMARK shingles broadcast
        inside the flagging pass — that side is genuinely small). The
        chain consumes only the flagged ID SET, so the pass is the
        existence-only ``contamination_ids`` (no per-doc shingle
        distinct, semi-join instead of count — same ids, ~2× cheaper);
        run ``contamination_flags`` separately when the n_shared audit
        column is wanted."""
        from .operators.dedup import contamination_ids

        # persist: the input feeds both the flagging pass and the
        # anti-join (see dedup_exact for the stage-boundary policy)
        src = self._persist(self.df)
        flagged = contamination_ids(
            src, benchmark, n=n, text_col=self.text_col, id_col=self.id_col
        )
        # Broadcast of the flagged IDS is deliberate and differs from
        # dedup_near's no-hint policy: near-dup drops run 30-50% of a
        # web corpus, but benchmark contamination is <<1% of N (the
        # flagged side is bounded by docs sharing an n-gram with a
        # KB-MB eval suite), so the id list broadcasts safely at any
        # corpus scale. The broadcast child does run on the exchange
        # thread at the start of the job — which is why the flagging
        # pass above is the existence-only semi-join form, not the
        # counting form (measured ~2× cheaper on the corpus pass).
        return self._with(
            src.join(
                F.broadcast(flagged.select(self.id_col)),
                self.id_col,
                "left_anti",
            )
        )

    def dedup_exact(self) -> "CurationPipeline":
        """Keep the lowest id per identical text (16-byte shuffle key)."""
        from .operators.dedup import exact_dedup

        # the input feeds both the key aggregation and the semi-join
        # back — persist at the stage boundary so the upstream chain's
        # lineage is not duplicated into each consumer (plan growth is
        # multiplicative across chained self-referencing stages)
        src = self._persist(self.df)
        keep = exact_dedup(src, text_col=self.text_col, id_col=self.id_col)
        return self._with(
            src.join(keep.select(self.id_col), self.id_col, "left_semi")
        )

    def dedup_incremental(
        self, corpus: DataFrame, portable: bool = False
    ) -> "CurationPipeline":
        """Drop rows whose content identity already exists in the
        accumulated ``corpus`` — the daily-ingest stage (broadcast
        semi/anti joins on fingerprints; the corpus never shuffles).
        ``portable=True`` swaps the xxhash identity for the rolling
        polynomial hash an external engine can replay (certification)."""
        from .operators.dedup import incremental_exact_filter

        # persist: the arriving batch feeds the key projection plus the
        # survivor semi-join (see dedup_exact for the stage-boundary
        # policy). The operator additionally persists its batch-key
        # frame internally — same scope policy as _persist: an ambient
        # harness scope owns the whole chain's release lifecycle
        # (a harness releasing by its own name must see the operator's
        # internal persist too); only without one does the chain's own
        # scope take ownership.
        src = self._persist(self.df)
        if caching.current_scope() is not None:
            out = incremental_exact_filter(
                src, corpus, text_col=self.text_col, id_col=self.id_col,
                portable=portable,
            )
        else:
            with caching.scope(self._cache_scope):
                out = incremental_exact_filter(
                    src, corpus, text_col=self.text_col,
                    id_col=self.id_col, portable=portable,
                )
        return self._with(out)

    def dedup_near(
        self,
        n: int = 3,
        num_hashes: int | None = None,
        bands: int | None = None,
        threshold: float = 0.5,
        portable: bool = False,
    ) -> "CurationPipeline":
        """Near-duplicate stage — the flagship MinHash+LSH path wired
        into the chain: banded signatures → bucket self-join → exact
        n-gram-Jaccard verify (operators/dedup.py::minhash_lsh_pairs)
        → fixed-round min-label propagation
        (label_propagation_canonical), keep = each near-dup cluster's
        canonical (minimum-id) representative. This is what catches
        the boilerplate-variant copies exact dedup misses.

        The drop list (non-canonical cluster members) joins back with
        a plain left-anti — NO broadcast hint: in a web corpus near-dup
        drops run 30-50% of N, far past broadcast range; AQE still
        picks a broadcast build when the list turns out tiny.

        ``portable=True`` swaps the xxhash band keys for the
        polynomial family the DuckDB oracle replays
        (minhash_lsh_pairs_portable — same pipeline, same plan
        shapes); defaults then follow the certified 8×4 configuration
        vs the production 16×4.
        """
        from .operators.dedup import (
            label_propagation_canonical,
            minhash_lsh_pairs,
            minhash_lsh_pairs_portable,
        )

        # persist: the heaviest multi-consumer stage — the input feeds
        # the banded signatures, the Jaccard-verify semi-join, and the
        # final anti-join (see dedup_exact for the boundary policy; at
        # cluster scale the banded frame would instead come from the
        # write-time index, but the input still has three consumers)
        src = self._persist(self.df)
        if portable:
            pairs = minhash_lsh_pairs_portable(
                src, n=n, num_hashes=num_hashes or 8, bands=bands or 4,
                threshold=threshold, text_col=self.text_col,
                id_col=self.id_col,
            )
        else:
            pairs = minhash_lsh_pairs(
                src, n=n, num_hashes=num_hashes or 16, bands=bands or 4,
                threshold=threshold, text_col=self.text_col,
                id_col=self.id_col,
            )
        # lineage-truncate the pairs frame before the label
        # propagation. The plan under the rounds is linear in rounds,
        # but the checkpoint still pays: in one traced 4-core perfbench
        # `curate` run each, dropping it cut the curation job's
        # construct from 22.9 to 10.2 s and raised its execute from
        # 3.8 to 23.1 s, a net loss of 6.6 s.
        # The eager materialization runs ONCE at plan construction —
        # the build-cost convention the write-time indexes follow —
        # and is priced in CHECKPOINT_SECONDS so a bench can report it
        # next to index_build_s instead of folding it invisibly into
        # cold totals.
        import time as _time

        _t0 = _time.perf_counter()
        pairs = pairs.localCheckpoint(eager=True)
        _key = caching.current_scope() or self._cache_scope
        CHECKPOINT_SECONDS[_key] = (
            CHECKPOINT_SECONDS.get(_key, 0.0)
            + round(_time.perf_counter() - _t0, 4)
        )
        # With the pair-mining subtree materialized, src's
        # multi-consumer phase is over: the only remaining reader is
        # the final anti-join below. Keeping the persist mark would
        # make every later execution re-materialize the whole upstream
        # chain into cache (a full extra columnar encode + read) for
        # that single consumer — unpersist so the anti-join streams
        # the chain directly (r13; measured ~-0.4 s/run on the curate
        # certification chain).
        # GUARD (ADVICE r13): the unpersist is only safe because the
        # localCheckpoint above was EAGER — pairs' mining subtree is
        # already materialized, so nothing re-reads src through that
        # path. If the checkpoint were ever made lazy, later
        # executions would recompute the whole upstream chain once
        # per remaining consumer with no cache. Check the coupling
        # instead of relying on statement order alone.
        _require_checkpointed(pairs)
        caching.unpersist(src)
        lab = label_propagation_canonical(pairs, rounds=3)
        drops = lab.filter(F.col("node") != F.col("canonical")).select(
            F.col("node").alias(self.id_col)
        )
        return self._with(src.join(drops, self.id_col, "left_anti"))

    def filter_classifier(self, threshold: float = 1.0) -> "CurationPipeline":
        """Model-based quality gate: keep rows whose linear-classifier
        logit clears the threshold — a row-local predicate
        (curation.quality_logit), so it FUSES with the neighboring
        filter stages instead of joining against a scored frame."""
        from .operators.curation import quality_logit

        return self._with(
            self.df.filter(
                F.round(quality_logit(self.text_col), 6)
                >= F.lit(float(threshold))
            )
        )

    def sample_mixture(
        self, rates: dict[str, float], default_rate: float = 1.0,
        stratum_col: str = "source",
    ) -> "CurationPipeline":
        """Deterministic per-stratum mixture rates (hash predicate)."""
        from .operators.curation import mixture_sample

        return self._with(
            mixture_sample(
                self.df, rates, default_rate=default_rate,
                stratum_col=stratum_col, id_col=self.id_col,
            )
        )

    def split(
        self, train_pct: int = 90, val_pct: int = 5
    ) -> "CurationPipeline":
        """Attach the leakage-safe content-hash split column."""
        from .functions.text import hash_split

        return self._with(
            self.df.withColumn(
                "split", hash_split(F.col(self.text_col), train_pct, val_pct)
            )
        )

    def chunks(
        self, window: int = 32, stride: int = 24,
        carry_cols: tuple[str, ...] = ("split",),
    ) -> DataFrame:
        """Terminal: overlapping token-window chunks (map-only); carries
        the split/shard columns through the explode."""
        from .operators.curation import chunk_windows

        carry = tuple(c for c in carry_cols if c in self.df.columns)
        return chunk_windows(
            self.df, window=window, stride=stride,
            text_col=self.text_col, id_col=self.id_col, carry_cols=carry,
        )

    def export(
        self, path: str, max_records_per_file: int = 100_000,
        shard_by: str | None = "split",
    ) -> None:
        """Terminal: bounded-shard JSONL export (executor-side split)."""
        from .sources.writers import write_sharded_jsonl

        shard = shard_by if shard_by and shard_by in self.df.columns else None
        write_sharded_jsonl(
            self.df, path, max_records_per_file=max_records_per_file,
            shard_by=shard,
        )


class Percolator:
    """Standing-query serving facade — the ES percolator client shape
    (register queries once against an index, then ask "which registered
    queries match this document?" for every arriving batch; the
    reference's ES deployment exposes exactly this reversed-search
    primitive next to the search endpoints the Engine facade mirrors).

    Construction freezes the corpus statistics (one aggregate over the
    reference corpus — the index-build-time artifact, like ES segment
    stats) for the union of all registered queries' terms, and
    MATERIALIZES the 1-row result into driver literals: matches()
    calls and streaming micro-batches replay the frozen row without
    rescanning the corpus, and a corpus source that later gains files
    cannot silently shift registered thresholds. ``matches``
    then scores ANY batch or streaming frame of documents against every
    standing query as a stateless map (streaming/percolate.py — zero
    hash shuffle, plan-pinned), so one Percolator serves both the
    backfill path and the ingest stream. Registered queries are fixed
    at construction: at 100 TB the query set is the SMALL side
    (thousands), re-freezing on registry change is one cheap aggregate.

    ``strategy`` picks the scoring formulation:

    - ``"expr"``: literal expression trees, one per query — zero hash
      shuffle, the only STATELESS shape (required for a direct
      readStream frame), but plan analysis+codegen is
      O(|queries|·|terms|) and falls off a cliff in the thousands.
    - ``"join"``: the registry as a broadcast TABLE
      (streaming/percolate.py::percolate_join) — plan cost independent
      of |queries|, bit-identical scores; aggregation-based, so batch
      (or foreachBatch) frames only.
    - ``"auto"`` (default): join for batch frames once the registry
      exceeds ``JOIN_THRESHOLD`` registered queries, expression
      otherwise; streaming frames always take the expression form (a
      10k-query streaming registry should percolate inside
      foreachBatch with the join form). Threshold from
      tools/percolate_scale.py (sf0.01, 2-term queries, 2026-08-15):
      the expression form's plan cost is ~linear in |queries| (1.9 s
      analysis+codegen at 10, 9.5 s at 100) and at 300 it does not
      degrade — it DIES, OOMing the JVM heap inside janino; the join
      form plans in a flat ~0.3 s at every size. 32 keeps the
      zero-shuffle expression plan where its per-plan cost is still
      interactive and switches well clear of the compile wall
      (SCALING.md "Percolator registry ceiling").
    """

    JOIN_THRESHOLD = 32

    def __init__(
        self,
        corpus: DataFrame,
        queries: Sequence,
        text_col: str = "text",
        id_col: str = "doc_id",
        tokens_col: str | None = None,
        k1: float = 1.2,
        b: float = 0.75,
        strategy: str = "auto",
    ):
        from .streaming.percolate import StandingQuery, bm25_stats

        if strategy not in ("auto", "expr", "join"):
            raise ValueError(f"unknown percolator strategy {strategy!r}")
        self.strategy = strategy
        # retained for register(): genuinely NEW terms need one
        # incremental df aggregate over the corpus (lazy plan only —
        # nothing is scanned unless registration brings new terms)
        self._corpus = corpus

        self.queries = [StandingQuery(*q) for q in queries]
        if not self.queries:
            raise ValueError("Percolator needs at least one standing query")
        for q in self.queries:
            if not q.terms:
                raise ValueError(
                    f"standing query {q.query_id!r} has no terms"
                )
        self.text_col = text_col
        self.id_col = id_col
        self.tokens_col = tokens_col
        self.k1 = float(k1)
        self.b = float(b)
        # stable term order: first appearance across registered queries
        self.terms = list(
            dict.fromkeys(t for q in self.queries for t in q.terms)
        )
        self._join_form = strategy == "join" or (
            strategy == "auto" and len(self.queries) >= self.JOIN_THRESHOLD
        )
        # MATERIALIZE the index-time artifact: the lazy stats frames
        # would re-run the full-corpus aggregate on every matches()
        # action (every micro-batch!) and silently re-freeze if the
        # corpus source gained files — breaking the "built once at
        # index time" contract. Bounded collects (one row wide-form /
        # |vocab| rows long-form) turn them into literal frames.
        # Which artifact depends on the formulation: the WIDE 1-row
        # stats of the expression form would itself be a |vocab|-column
        # codegen bomb at a 10k-term registry, so the join form builds
        # only the LONG (term, df) table and vice versa.
        spark = corpus.sparkSession
        if self._join_form:
            from .streaming.percolate import bm25_stats_table

            ts, tot = bm25_stats_table(
                corpus, self.terms, text_col=text_col, tokens_col=tokens_col
            )
            ts_rows = ts.collect()
            tot_rows = tot.collect()
            # rows are the primary artifact (percolate_join turns them
            # into a single inline-VALUES registry broadcast — one
            # broadcast job per matches() call); the literal frames
            # stay exposed for callers that inspect the frozen stats
            self._stats_rows = [(r["term"], r["df"]) for r in ts_rows]
            self._totals_rows = [(r["n"], r["sumdl"]) for r in tot_rows]
            self.term_stats = spark.createDataFrame(
                ts_rows, schema=ts.schema
            )
            self.totals = spark.createDataFrame(
                tot_rows, schema=tot.schema
            )
            self.stats = None
        else:
            stats_lazy = bm25_stats(
                corpus, self.terms, text_col=text_col, tokens_col=tokens_col
            )
            self.stats = spark.createDataFrame(
                stats_lazy.collect(), schema=stats_lazy.schema
            )
            self.term_stats = self.totals = None

    def register(self, query) -> None:
        """Register an additional standing query AFTER construction —
        the ES percolator's index-a-query operation (queries arrive at
        any time; documents keep flowing). Terms already covered by
        the frozen statistics are free; genuinely NEW terms cost one
        incremental aggregate over the corpus for THEIR df columns
        only (N and Σdl stay frozen from construction, so every
        previously-registered query's scores are unchanged —
        registration never perturbs running alerts; the new terms' df
        is measured against the corpus as of registration).

        Incremental ≡ batch: registering queries one at a time over an
        unchanged corpus yields bit-identical matches to constructing
        with all of them up front (oracle-certified:
        `api_percolate_register` shares the all-at-once SQL twin).

        Under ``strategy="auto"`` the formulation is RE-EVALUATED here:
        the moment the registry crosses ``JOIN_THRESHOLD`` the
        percolator upgrades itself expression→join in place (a pure
        driver-side re-shape of the already-frozen statistics — no
        corpus scan, no score change), so a percolator constructed
        with ONE query and grown incrementally (the HTTP lifecycle's
        exact pattern) never walks into the ~300-query codegen wall
        the expression form dies at."""
        from .streaming.percolate import StandingQuery

        q = StandingQuery(*query) if not isinstance(query, StandingQuery) else query
        if not q.terms:
            raise ValueError(f"standing query {q.query_id!r} has no terms")
        if any(p.query_id == q.query_id for p in self.queries):
            raise ValueError(f"query id {q.query_id!r} already registered")
        new_terms = [t for t in dict.fromkeys(q.terms) if t not in self.terms]
        if new_terms:
            self._extend_stats(new_terms)
            self.terms.extend(new_terms)
        self.queries.append(q)
        if (
            self.strategy == "auto"
            and not self._join_form
            and len(self.queries) >= self.JOIN_THRESHOLD
        ):
            self._upgrade_to_join_form()

    def _upgrade_to_join_form(self) -> None:
        """Re-shape the frozen wide-form statistics (one row,
        ``__n``/``__sumdl``/``__df_<i>`` positional on ``self.terms``)
        into the join form's long artifact — ``(term, df)`` rows plus
        the 1-row totals. Driver-side only: the statistics stay frozen
        bit-for-bit, so every registered query's scores are unchanged;
        only the PLAN SHAPE of future matches() calls switches (to the
        registry-as-data broadcast whose compile cost is independent
        of |queries|)."""
        row = self.stats.collect()[0]
        n_val = int(row["__n"] or 0)
        sumdl_val = int(row["__sumdl"] or 0)
        self._stats_rows = [
            (t, int(row[f"__df_{i}"] or 0)) for i, t in enumerate(self.terms)
        ]
        self._totals_rows = [(n_val, sumdl_val)]
        spark = self._corpus.sparkSession
        self.term_stats = spark.createDataFrame(
            self._stats_rows, "term string, df long"
        )
        self.totals = spark.createDataFrame(
            self._totals_rows, "n long, sumdl long"
        )
        self.stats = None
        self._join_form = True
        self._py_stats = None

    def unregister(self, query_id: str) -> None:
        """Drop a standing query. Frozen statistics keep covering its
        terms (harmless — unused df columns cost nothing), so
        unregistration is pure bookkeeping."""
        kept = [q for q in self.queries if q.query_id != query_id]
        if len(kept) == len(self.queries):
            raise KeyError(f"no standing query {query_id!r}")
        if not kept:
            raise ValueError("cannot unregister the last standing query")
        self.queries = kept

    def _extend_stats(self, new_terms: list) -> None:
        """Grow the frozen artifact by the NEW terms' df only: long
        form appends (term, df) rows; wide form appends __df_<i>
        columns at the tail of the frozen 1-row frame (positional
        naming follows self.terms order, so appending preserves every
        existing index)."""
        from .streaming.percolate import bm25_stats_table

        ts, _tot = bm25_stats_table(
            self._corpus,
            new_terms,
            text_col=self.text_col,
            tokens_col=self.tokens_col,
        )
        found = {r["term"]: r["df"] for r in ts.collect()}
        if self._join_form:
            spark = self._corpus.sparkSession
            new_rows = [(t, int(found.get(t, 0))) for t in new_terms]
            self._stats_rows = self._stats_rows + new_rows
            add = spark.createDataFrame(
                new_rows, schema=self.term_stats.schema
            )
            self.term_stats = self.term_stats.unionByName(add)
        else:
            from pyspark.sql.types import LongType, StructField, StructType

            base = len(self.terms)
            old = self.stats.collect()[0]
            vals = tuple(old) + tuple(
                int(found.get(t, 0)) for t in new_terms
            )
            schema = StructType(
                list(self.stats.schema.fields)
                + [
                    StructField(f"__df_{base + i}", LongType(), True)
                    for i in range(len(new_terms))
                ]
            )
            spark = self._corpus.sparkSession
            self.stats = spark.createDataFrame([vals], schema=schema)
        self._py_stats = None

    def _frozen_py(self) -> tuple[dict, int, int]:
        """The frozen statistics as plain driver values: (df-by-term,
        n, Σdl). Memoized — register()/unregister() invalidate via
        ``_py_stats = None`` so the hot scorer always reads the current
        frozen state (still FROZEN w.r.t. the corpus: registration is
        the only event that extends it, same contract as matches())."""
        cached = getattr(self, "_py_stats", None)
        if cached is not None:
            return cached
        if self._join_form:
            df_by_term = {str(t): int(d) for t, d in self._stats_rows}
            n, sumdl = (int(x) for x in self._totals_rows[0])
        else:
            row = self.stats.collect()[0]
            n = int(row["__n"] or 0)
            sumdl = int(row["__sumdl"] or 0)
            df_by_term = {
                t: int(row[f"__df_{i}"] or 0)
                for i, t in enumerate(self.terms)
            }
        self._py_stats = (df_by_term, n, sumdl)
        return self._py_stats

    def matches_rows(self, rows) -> list[dict]:
        """Hot-tier twin of :meth:`matches` for driver-held batches —
        the serving path (``rows`` = [(doc_id, text), …], e.g. one
        HTTP alerting call). Scores in pure Python against the SAME
        frozen statistics with the expression form's exact arithmetic
        (left-to-right accumulation, identical operator order), so a
        doc matches here iff it matches the Spark forms; equivalence
        is pinned by tests/test_serving.py. Emission order is the
        expression form's deterministic (doc input order × query
        registration order) — zero Spark jobs, microseconds per call,
        which is what lets one driver hold the SRS <2 s line under
        concurrent alerting traffic (SCALING.md "Serving
        concurrency"). Corpus-scale batches belong on
        :meth:`matches`; this path is O(|rows|·|queries|·|terms|)
        driver CPU."""
        import math

        from .serving import py_tokens, round_half_up

        if self.tokens_col is not None:
            raise ValueError(
                "matches_rows scores text rows; a tokens_col percolator "
                "must percolate through matches()"
            )
        df_by_term, n, sumdl = self._frozen_py()
        nd = float(n)
        avgdl = (float(sumdl) / nd) if sumdl > 0 else 1.0
        k1, b = self.k1, self.b
        out: list[dict] = []
        for doc_id, text in rows:
            toks = py_tokens(text)
            dl = float(len(toks))
            tf_cache: dict[str, int] = {}
            for q in self.queries:
                score = None
                matched = 0
                for t in q.terms:
                    tf = tf_cache.get(t)
                    if tf is None:
                        tf = sum(1 for tok in toks if tok == t)
                        tf_cache[t] = tf
                    dfd = float(df_by_term[t])
                    idf = math.log(1.0 + (nd - dfd + 0.5) / (dfd + 0.5))
                    norm = tf / (tf + k1 * ((1.0 - b) + b * (dl / avgdl)))
                    contrib = idf * norm
                    score = contrib if score is None else score + contrib
                    matched += 1 if tf > 0 else 0
                if matched > 0 and score >= q.min_score:
                    out.append(
                        {
                            self.id_col: doc_id,
                            "query_id": q.query_id,
                            "n_matched_terms": matched,
                            "bm25": round_half_up(score, 6),
                        }
                    )
        return out

    def matches(self, docs: DataFrame) -> DataFrame:
        """(doc_id, query_id, n_matched_terms, bm25) for every standing
        query a document clears — ``docs`` may be a batch frame or
        (expression form only) a readStream frame (append mode,
        stateless). Scores are bit-identical across the two forms."""
        from .streaming.percolate import percolate, percolate_join

        if self._join_form:
            if docs.isStreaming:
                raise ValueError(
                    "the join-form percolator is aggregation-based and "
                    "cannot run on a direct readStream frame — percolate "
                    "inside foreachBatch, or construct with "
                    "strategy='expr' (viable only for small registries)"
                )
            return percolate_join(
                docs,
                self.queries,
                id_col=self.id_col,
                text_col=self.text_col,
                tokens_col=self.tokens_col,
                k1=self.k1,
                b=self.b,
                stats_rows=self._stats_rows,
                totals_rows=self._totals_rows,
            )
        return percolate(
            docs,
            self.queries,
            self.stats,
            self.terms,
            id_col=self.id_col,
            text_col=self.text_col,
            tokens_col=self.tokens_col,
            k1=self.k1,
            b=self.b,
        )
