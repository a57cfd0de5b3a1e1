"""operators/state.py: the query scope that owns what operators persist
or checkpoint under their lazy results."""

from __future__ import annotations

import threading

import pytest

from data_algorithms_with_pyspark_spark.operators.state import (
    local_checkpoint,
    persist,
    release,
    scope,
)
from tests.conftest import persisted_rdd_ids


def test_nested_scope_joins_the_outer_one(spark):
    before = persisted_rdd_ids(spark)
    with scope():
        with scope():
            df = persist(spark.range(10))
            assert df.count() == 10
        # the inner exit releases nothing: the outer scope owns it
        assert df.is_cached
        assert df.count() == 10
    assert not df.is_cached
    assert persisted_rdd_ids(spark) <= before


def test_checkpointed_relation_released_at_scope_exit(spark):
    before = persisted_rdd_ids(spark)
    with scope():
        eager = local_checkpoint(spark.range(20).selectExpr("id", "id * 2 AS x"))
        lazy = local_checkpoint(eager.where("id % 2 = 0"), eager=False)
        assert lazy.count() == 10
        assert len(persisted_rdd_ids(spark) - before) == 2
    assert persisted_rdd_ids(spark) <= before
    # results are valid only inside the scope: the blocks are gone
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        eager.count()


def test_persist_outside_any_scope_stays_cached(spark):
    df = persist(spark.range(5))
    try:
        assert df.count() == 5
        with scope():
            pass
        assert df.is_cached
    finally:
        df.unpersist()


def test_scope_is_per_thread(spark):
    """A thread (a foreachBatch callback, say) does not join the scope
    another thread has open."""
    held = []
    with scope():
        t = threading.Thread(target=lambda: held.append(persist(spark.range(3))))
        t.start()
        t.join(timeout=60)
        assert not t.is_alive()
    try:
        assert held[0].is_cached
    finally:
        held[0].unpersist()


def test_scope_leaves_a_cache_it_did_not_make(spark):
    """Plan-identical persists share one cache entry: a scope that
    persists a plan someone else already cached must not drop it."""
    rel = lambda: spark.range(17).selectExpr("id", "id * 3 AS x")  # noqa: E731
    a = rel().persist()
    try:
        assert a.count() == 17
        with scope():
            assert persist(rel()).count() == 17
        assert a.is_cached
    finally:
        a.unpersist()


def test_release_frees_one_checkpoint_before_the_scope_exits(spark):
    before = persisted_rdd_ids(spark)
    with scope():
        first = local_checkpoint(spark.range(8))
        second = local_checkpoint(first.selectExpr("id + 1 AS id"))
        release(first)
        assert len(persisted_rdd_ids(spark) - before) == 1
        assert second.count() == 8
        release(first)  # no longer held: nothing to do
    assert persisted_rdd_ids(spark) <= before
