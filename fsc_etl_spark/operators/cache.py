"""One owner for the caches an eager builder makes.

A builder that persists a frame or local-checkpoints one runs inside
:func:`cache_scope` and makes its caches through the scope::

    with cache_scope() as cs:
        cp = cs.persist(pairs)
        ...
        return cs.result(out)

On leaving the block the scope releases every cache it made that the
builder's result does not read, also when the builder raises. The
engine runs in one long-lived session (a daily batch, or a function
per streaming micro-batch), where a cache nobody releases keeps
executor storage until the session ends.

A DataFrame cache is released with ``unpersist``. A local checkpoint
is a persisted RDD under a ``LogicalRDD`` leaf; ``clearCache()`` does
not see it, so the scope unpersists that RDD itself.

:func:`plan_only` is the plan-fingerprint context
(``planfp.plan_fingerprint``): there :meth:`CacheScope.result` returns
the builder's lazy plan instead of its checkpoint, and the scope keeps
every cache the plan may read. Callers must not execute such frames
and should ``spark.catalog.clearCache()`` afterwards.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

_PLAN_ONLY = False


@contextmanager
def plan_only() -> Iterator[None]:
    """Builders return lazy, un-checkpointed results (see module doc)."""
    global _PLAN_ONLY
    prev = _PLAN_ONLY
    _PLAN_ONLY = True
    try:
        yield
    finally:
        _PLAN_ONLY = prev


class CacheScope:
    """The persisted frames and local checkpoints of one builder."""

    def __init__(self) -> None:
        # (frame, checkpoint RDD or None for a DataFrame cache)
        self._made: list[tuple[DataFrame, object]] = []

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._made.append((df, None))
        return df

    def checkpoint(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """``df.localCheckpoint(eager)``, released with the scope."""
        df = df.localCheckpoint(eager=eager)
        rdd = df._jdf.queryExecution().analyzed().rdd()  # noqa: SLF001
        self._made.append((df, rdd))
        return df

    def release(self, *dfs: DataFrame) -> None:
        """Release caches this scope made before the scope ends, e.g.
        a loop's superseded round once the next one is materialised."""
        for df in dfs:
            i = next((i for i, (made, _) in enumerate(self._made) if made is df), None)
            if i is None:
                raise ValueError("release() of a frame this scope did not make")
            _free(*self._made.pop(i))

    def result(self, df: DataFrame) -> DataFrame:
        """The builder's result. A plan that reads a DataFrame cache is
        materialised by an eager local checkpoint, so the caches can be
        released; any other frame is returned as it is, and the local
        checkpoints it reads pass to the caller. Under
        :func:`plan_only` the frame is returned unchanged."""
        if _PLAN_ONLY:
            return df
        leaves = _leaves(df._jdf.queryExecution().withCachedData())  # noqa: SLF001
        if any(_kind(leaf) == "InMemoryRelation" for leaf in leaves):
            return df.localCheckpoint(eager=True)
        read = checkpoint_rdd_ids(df)
        self._made = [e for e in self._made if e[1] is None or e[1].id() not in read]
        return df

    def _close(self, failed: bool) -> None:
        # under plan_only the returned lazy plan may read any cache
        if failed or not _PLAN_ONLY:
            for entry in self._made:
                _free(*entry)
        self._made.clear()


def checkpoint_rdd_ids(df: DataFrame) -> set[int]:
    """Ids of the local-checkpoint RDDs ``df`` reads: the RDDs under
    the ``LogicalRDD`` leaves of its analyzed plan."""
    return {
        int(leaf.rdd().id())
        for leaf in _leaves(df._jdf.queryExecution().analyzed())  # noqa: SLF001
        if _kind(leaf) == "LogicalRDD"
    }


def _leaves(jplan) -> list:
    leaves = jplan.collectLeaves()
    return [leaves.apply(i) for i in range(leaves.size())]


def _kind(jnode) -> str:
    return jnode.getClass().getSimpleName()


def _free(df: DataFrame, rdd) -> None:
    if rdd is None:
        df.unpersist()
    else:
        rdd.unpersist(False)


@contextmanager
def cache_scope() -> Iterator[CacheScope]:
    """A :class:`CacheScope` whose caches are released on exit."""
    scope = CacheScope()
    failed = True
    try:
        yield scope
        failed = False
    finally:
        scope._close(failed)  # noqa: SLF001
