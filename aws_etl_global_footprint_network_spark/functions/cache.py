"""Scoped persist lifecycle for query builders.

Several operators persist intermediates that are read more than once
within one query (LSH band tables, shingle sets). A bare
``df.persist()`` leaks in a long-lived session: every re-invocation of
the builder caches a fresh copy and nothing drops the old one.

``CacheScope`` ties persisted DataFrames to a named scope (one per
query). Re-entering a scope unpersists everything the previous
generation cached, so repeated invocations of any registry query keep
executor storage flat — at most one live generation per query name.
The current generation stays cached after the builder returns (the
caller still has to execute the lazy plan); it is released on the
NEXT build or by an explicit :func:`release_all` (e.g. test teardown).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: dict[str, "CacheScope"] = {}


class CacheScope:
    """Generation-scoped persist: ``CacheScope("q").persist(df)``."""

    def __init__(self, name: str):
        prev = _LIVE.pop(name, None)
        if prev is not None:
            prev.release()
        _LIVE[name] = self
        self.name = name
        self._dfs: list[DataFrame] = []

    def persist(self, df: DataFrame) -> DataFrame:
        self._dfs.append(df)
        return df.persist()

    def release(self) -> None:
        for df in self._dfs:
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped
        self._dfs.clear()


def release_scopes() -> None:
    """Unpersist every live scope, keeping the cross-query memoized
    builds (basket arrays, co-purchase edges) warm."""
    for name in list(_LIVE):
        _LIVE.pop(name).release()


def release_all() -> None:
    """Unpersist every live scope AND every cross-query memoized build
    (test teardown / session shutdown) — the single 'release
    everything persisted by the engine' entry point."""
    release_scopes()
    # late import: keeps this module import-light (baskets pulls in
    # sources.readers and the operator constants); the call only
    # happens at teardown, never on the hot path
    from aws_etl_global_footprint_network_spark.functions.baskets import (
        release_builds,
    )

    release_builds()


def cut_lineage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and truncate its logical plan, choosing the
    checkpoint backend by environment (round-7 verdict item 5).

    Iterative operators (k-core peel, Pregel-style components /
    PageRank, k-means) reference each round's output several times, so
    an uncut plan grows exponentially in rounds. Locally,
    ``localCheckpoint`` (executor-local block storage) is the right
    cut — no distributed filesystem needed. On a cluster it is
    lineage-UNSAFE: losing an executor loses blocks with no lineage
    left to recompute them. When the context has a durable checkpoint
    dir configured (``sc.setCheckpointDir(...)``), use the reliable
    ``checkpoint`` instead — the caveat becomes code, not a comment.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()


def cut_lineage_disk(df: DataFrame) -> DataFrame:
    """:func:`cut_lineage` for frames too big to pin in executor
    memory: local checkpoints go straight to DISK_ONLY blocks.

    Found at the sf10 probe (round 11): an iterative operator in its
    over-cap regime (k-core at 2M nodes / ~90M edges) accumulates a
    checkpoint generation per cut, and the default memory-first
    blocks pin the protected storage region until concurrent
    execution memory is exhausted — 32 tasks OOM'd inside a 16 GB
    local JVM while three ~GB checkpoint generations sat in memory.
    Disk blocks cost one write + one read per generation (linear in
    frame size) and leave the whole execution pool to the joins —
    post-fix, sf10 kcore completes at every tested config where the
    memory-first cut OOM'd. Operators choose this variant
    exactly where they already dispatch to the non-broadcast recipe:
    past the cap the working set is by definition bigger than
    memory's share, at any cluster size."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint()
    from pyspark import StorageLevel

    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
