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
"""

from __future__ import annotations

import contextvars
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

__all__ = ["scope", "persist", "local_checkpoint"]

_HELD: contextvars.ContextVar[list[Callable[[], object]] | None] = (
    contextvars.ContextVar("operator_state_held", default=None)
)


@contextmanager
def scope() -> Iterator[None]:
    """Own every relation pinned inside; release them when the outermost
    scope of this thread exits."""
    if _HELD.get() is not None:
        yield
        return
    held: list[Callable[[], object]] = []
    token = _HELD.set(held)
    try:
        yield
    finally:
        _HELD.reset(token)
        for release in reversed(held):
            release()


def _held(df: DataFrame, release: Callable[[], object]) -> DataFrame:
    held = _HELD.get()
    if held is not None:
        held.append(release)
    return df


def persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """``df.persist(level)`` (the default is ``DataFrame.persist``'s),
    released with ``unpersist()`` when the open scope exits."""
    out = df.persist(level)
    return _held(out, out.unpersist)


def local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``; when the open scope exits the
    checkpointed RDD under the result's plan is unpersisted, which frees
    its blocks (``clearCache()`` does not)."""
    out = df.localCheckpoint(eager)
    return _held(
        out, lambda: out._jdf.queryExecution().logical().rdd().unpersist(False)
    )
