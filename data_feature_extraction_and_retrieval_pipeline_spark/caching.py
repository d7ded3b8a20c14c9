"""Tracked intra-query persists.

Operators persist an intermediate when it feeds multiple consumers in
the same plan (the MinHash shingle frame, the label-propagation edge
list). Those caches are scoped to ONE query execution — but a
DataFrame is lazy, so the operator that created the cache cannot know
when its consumer has materialized. Left alone, a resident session
(the serving model, or a bench loop) accumulates one cache entry per
query execution and the storage memory fills with dead blocks.

``persist()`` here registers the frame in a session-lifetime ledger;
the harness (bench.py, tools/check_correctness.py, or any caller that
drives queries to completion) calls ``release()`` after materializing
a result to drop intra-query caches while leaving long-lived table
caches (``sources.readers``) untouched. Every registry call constructs
a fresh plan with fresh persists, so the ledger holds only the frames
of queries constructed and not yet released.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame

# (frame, scope) pairs; scope is the registry name of the query whose
# plan construction created the persist (None outside any scope)
_LIVE: list[tuple[DataFrame, str | None]] = []

# Thread-local because bench.py overlaps plan construction across a
# small thread pool — each thread tags its own persists.
_SCOPE = threading.local()


@contextlib.contextmanager
def scope(name: str):
    """Tag every :func:`persist` inside the block with ``name`` (the
    registry query being constructed), so a harness can later
    :func:`release` just that query's intra-query caches instead of
    round-tripping the whole ledger through the JVM cache manager."""
    prev = getattr(_SCOPE, "name", None)
    _SCOPE.name = name
    try:
        yield
    finally:
        _SCOPE.name = prev


def current_scope() -> str | None:
    """The scope tag active on this thread, or None outside any
    :func:`scope` block — lets a facade decide whether a harness
    already owns the release lifecycle of its persists."""
    return getattr(_SCOPE, "name", None)


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for later :func:`release`."""
    out = df.persist()
    if all(out is not live for live, _ in _LIVE):
        _LIVE.append((out, getattr(_SCOPE, "name", None)))
    return out


# JVM-side unpersist failures swallowed by :func:`unpersist` and
# :func:`release` — kept observable (count + last message) instead of
# silently dropped (ADVICE r13); read it in tests or a debugging
# session.
UNPERSIST_ERRORS: dict[str, object] = {"count": 0, "last": None}


def unpersist(df: DataFrame) -> None:
    """Unpersist ``df`` and remove it from the ledger now, at plan
    construction, rather than at the harness's :func:`release`. For
    persists whose multi-consumer phase is OVER at plan-construction
    time — e.g. a stage input whose second consumer was an
    eagerly-checkpointed pair-mining pass: after the checkpoint the
    only remaining consumer should stream the chain directly instead
    of paying a cache materialization on execution.

    Only call this on frames whose EVERY registered consumer is
    finished: the ledger is keyed by object identity, so unpersisting
    a frame another scope still counts on silently drops that scope's
    entry."""
    _LIVE[:] = [(live, sc) for live, sc in _LIVE if live is not df]
    _unpersist_counted(df)


def _unpersist_counted(df: DataFrame) -> None:
    try:
        df.unpersist(blocking=False)
    except Exception as exc:
        UNPERSIST_ERRORS["count"] = int(UNPERSIST_ERRORS["count"]) + 1  # type: ignore[arg-type]
        UNPERSIST_ERRORS["last"] = repr(exc)


def release(only: str | None = None) -> int:
    """Unpersist tracked intra-query caches and empty their ledger
    entries; returns the released count.

    ``only`` restricts the pass to frames persisted under
    :func:`scope` ``only`` — the harness calls ``release(name)`` after
    executing query ``name`` so each release pays for that query's
    frames, not the whole ledger, and other queries' entries survive.
    A failed unpersist is counted in ``UNPERSIST_ERRORS`` (its entry
    still leaves the ledger).
    """
    n = 0
    survivors: list[tuple[DataFrame, str | None]] = []
    for df, sc in _LIVE:
        try:
            alive = df.sparkSession.sparkContext._jsc is not None
        except Exception:
            alive = False
        if not alive:
            continue  # dead session: drop the ledger entry entirely
        if only is not None and sc != only:
            survivors.append((df, sc))
            continue
        n += 1
        _unpersist_counted(df)
    _LIVE[:] = survivors
    return n
