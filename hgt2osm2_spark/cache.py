"""Shared lifetime management for operator-internal DataFrame caches.

Several operators cache an intermediate DataFrame because Python
(FlatMapGroupsInPandas / MapInPandas) subtrees are NOT deduplicated by
ReuseExchange — branching such an output re-executes the Python stage
2-4x per action (SURVEY §9). The pattern everywhere is
register-and-release-on-NEXT-call: the cache must outlive the returned
(lazy) DataFrame, so it cannot be unpersisted inside the operator; the
next call of the same family releases it instead.

This module is the ONE copy of that boilerplate (VERDICT r6 #7). Each
operator family gets a named scope whose release semantics stay local
(releasing the text-family cache never drops the kNN cache), and
``release_all()`` lets session teardown — bench.py and the gate
mirror (tools/check_entry.py) — drop the final cache of every family
so the last one never outlives its use.
"""
from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["CacheScope", "scope", "release_all"]


class CacheScope:
    """Holds the live caches of one operator family."""

    def __init__(self, name: str) -> None:
        self.name = name
        self._live: list[DataFrame] = []

    def hold(self, df: DataFrame) -> DataFrame:
        """Register an already-.cache()'d or localCheckpoint'ed
        DataFrame for later release."""
        self._live.append(df)
        return df

    @staticmethod
    def drop(df: DataFrame) -> None:
        """Drop one frame's blocks now: its cache, and the blocks of a
        localCheckpoint result, which DataFrame.unpersist does not
        touch (they would otherwise stay in the block manager until the
        JVM's ContextCleaner finds them). The latter go through the
        context, not RDD.unpersist, which logs a lineage warning for
        every checkpointed RDD."""
        df.unpersist(blocking=False)
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() == "LogicalRDD":
            df.sparkSession.sparkContext._jsc.sc().unpersistRDD(plan.rdd().id(), False)

    def release(self) -> None:
        """Drop every held frame (errors swallowed: the session may
        already be stopped at teardown)."""
        while self._live:
            df = self._live.pop()
            try:
                self.drop(df)
            except Exception:
                pass

    def __len__(self) -> int:
        return len(self._live)


_SCOPES: dict[str, CacheScope] = {}


def scope(name: str) -> CacheScope:
    """Get (or create) the named cache scope — one per operator family."""
    if name not in _SCOPES:
        _SCOPES[name] = CacheScope(name)
    return _SCOPES[name]


def release_all() -> None:
    """Release every scope's caches — call at session teardown."""
    for s in _SCOPES.values():
        s.release()
