"""One owner for the relations operators pin under their lazy results.

Several operators persist a sketch (MinHash signatures, prefix postings,
range-partitioned inputs) or ``localCheckpoint`` an iteration's state and
return a lazy DataFrame that still reads it. The function cannot release
that state: the caller's action has not run yet. This module holds it for
the caller instead:

    from data_algorithms_with_pyspark_spark.operators.state import scope

    with scope():
        eng.run("near_dup_clusters").write.parquet(out)
    # everything the query pinned is released here

``scope()`` is re-entrant (an inner ``with`` joins the outer one) and per
thread (a ``contextvars`` variable), so a ``foreachBatch`` callback thread
opens its own. When the outermost scope exits it releases everything
registered inside it. Results built inside a scope are valid only inside
it: a checkpointed relation's blocks are gone afterwards, and re-reading
it fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.

Outside any scope ``persist`` and ``local_checkpoint`` just call the
DataFrame method, and the relation stays pinned until the session's
``clearCache()`` (persists) or its end (checkpoints).

Plan-identical persists share one cache entry, so a scope registers a
``persist`` only when the plan was not cached before the call: a cache
some other holder made stays that holder's. An iterative operator may
``release`` a round's checkpoint early, once the next round no longer
reads it.
"""

from __future__ import annotations

import contextvars
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

__all__ = ["scope", "persist", "local_checkpoint", "release"]

_Held = list[tuple[DataFrame, Callable[[], object]]]
_HELD: contextvars.ContextVar[_Held | None] = contextvars.ContextVar(
    "operator_state_held", default=None
)


@contextmanager
def scope() -> Iterator[None]:
    """Own every relation pinned inside; release them when the outermost
    scope of this thread exits."""
    if _HELD.get() is not None:
        yield
        return
    held: _Held = []
    token = _HELD.set(held)
    try:
        yield
    finally:
        _HELD.reset(token)
        for _, free in reversed(held):
            free()


def _held(df: DataFrame, free: Callable[[], object]) -> DataFrame:
    held = _HELD.get()
    if held is not None:
        held.append((df, free))
    return df


def persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """``df.persist(level)`` (the default is ``DataFrame.persist``'s),
    released with ``unpersist()`` when the open scope exits — unless the
    plan was already cached, in which case the cache is not this scope's
    to drop."""
    shared = _HELD.get() is None or df.storageLevel != StorageLevel.NONE
    out = df.persist(level)
    return out if shared else _held(out, out.unpersist)


def local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``; when the open scope exits the
    checkpointed RDD under the result's plan is unpersisted, which frees
    its blocks (``clearCache()`` does not)."""
    out = df.localCheckpoint(eager)
    return _held(
        out, lambda: out._jdf.queryExecution().logical().rdd().unpersist(False)
    )


def release(df: DataFrame) -> None:
    """Release ``df`` — a result of ``persist`` or ``local_checkpoint`` —
    now instead of at the scope's exit. Call it only once nothing lazy
    still reads ``df``: for a checkpoint, once every relation built on it
    has itself been materialized. Does nothing outside a scope or for a
    relation the scope does not hold."""
    held = _HELD.get() or []
    for i, (pinned, free) in enumerate(held):
        if pinned is df:
            del held[i]
            free()
            return
