"""Scoped cache registry (r10, VERDICT r9 task 4): frees persisted
frames after one unit of work. State kept for a whole session (plans,
scans, indexes) lives in the session-state store, ``session.memo``.

Operators persist intermediates for intra-query reuse (the
multi-branch lineage rule: a frame feeding N plan branches re-executes
its whole lineage per branch unpersisted) but cannot know when the
consumer is done with them. The old convention — "callers clearCache
between queries" — worked for the bench/test harness but was the one
systemic IOU left in the tree: a long-running production pipeline
would accumulate cache entries, and clearCache is a sledgehammer that
also evicts caches OTHER concurrent work still needs.

The registry retires the convention:

- operators route intra-query persists through ``scoped_persist(df)``
  — identical to ``df.persist()`` except the frame also registers in
  the INNERMOST open scope, if any;
- pipeline drivers open ``cache_scope()`` around one unit of work
  (bench.py: per timed query, after both best-of-2 runs;
  plans/runner.py: per materialized node) and every frame registered
  inside is unpersisted at scope exit — precise, per-unit cleanup
  instead of a global wipe;
- OUTSIDE any scope the behavior is exactly the old one (persist and
  leave) — interactive exploration keeps its caches, and operators
  that already manage their own lifetime (the kmeans training caches,
  the CC edge frame) keep calling plain ``persist``/``unpersist``.

``localCheckpoint`` results are NOT registered: they are lineage
truncation points whose cleanup Spark's ContextCleaner ties to object
lifetime, and dropping them would re-open the iterative-plan-depth
hazards they exist to close.

Scopes nest (a runner node that itself runs a bench scope is fine);
unpersist is idempotent, so a frame both registered and manually
unpersisted costs nothing.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_SCOPES: list[list[DataFrame]] = []


def scoped_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """``df.persist()`` that also registers the frame in the innermost
    open ``cache_scope`` (no-op registration when no scope is open —
    the pre-r10 behavior)."""
    df = df.persist() if storage_level is None else df.persist(storage_level)
    if _SCOPES:
        _SCOPES[-1].append(df)
    return df


@contextmanager
def cache_scope():
    """Open a cache scope: every ``scoped_persist`` frame registered
    while it is the innermost scope is unpersisted on exit (including
    on error). Yields the live registration list for inspection."""
    frames: list[DataFrame] = []
    _SCOPES.append(frames)
    try:
        yield frames
    finally:
        _SCOPES.pop()
        for df in frames:
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — session may be gone
                pass
