"""The shared ANN search path (operators/ann.py): query fetch, probe
ranking and the per-row build cost of the catalog's ANN rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.operators import ann
from data_algorithms_with_pyspark_spark.plans.catalog import all_queries
from tests.conftest import SF_SMOKE, count_jobs


@pytest.fixture(scope="module")
def emb_without_query(spark, tmp_path_factory):
    """A 20-vector embeddings table (ids 0..19) read back from parquet,
    so every collect is a real scan job."""
    path = str(tmp_path_factory.mktemp("ann") / "emb.parquet")
    rows = [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(8)]) for i in range(20)]
    schema = "vec_id long, embedding array<float>"
    spark.createDataFrame(rows, schema).write.parquet(path)
    return spark.read.parquet(path)


def test_missing_query_raises_named_value_error_from_the_fetch(
    spark, emb_without_query
):
    """A query id absent from the table raises the one named ValueError
    from ``fetch_query`` — on every search entry point, after one collect
    and before any other job (the pre-fetch sites raised IndexError or
    KeyError)."""
    emb = emb_without_query
    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    cents = spark.createDataFrame(
        [(c, [1.0] * 8) for c in range(4)], "cid int, cvec array<double>"
    )
    calls = {
        "fetch": lambda: ann.fetch_query(vecs, 99),
        "fetch_with_centroids": lambda: ann.fetch_query(vecs, 99, 16),
        "ivf_topk": lambda: ann.ivf_topk(emb, query_id=99, n_lists=16),
        "ivf_topk_trained": lambda: ann.ivf_topk(
            emb, query_id=99, n_lists=4, centroids=cents
        ),
        "ivf_pq": lambda: ann.ivf_pq_standin(vecs, 99, 16, 4, 2, 16),
    }
    for name, call in calls.items():
        def run():
            with pytest.raises(ValueError, match="query_id 99 not found"):
                call()

        assert count_jobs(spark, run) <= 1, name


def test_fetch_query_returns_query_and_sorted_low_ids(spark, emb_without_query):
    vecs = emb_without_query.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    q = ann.fetch_query(vecs, 7, 4)
    assert q.id == 7 and len(q.vec) == 8
    assert [c for c, _ in q.low] == [0, 1, 2, 3]
    assert ann.fetch_query(vecs, 7).low == []


def test_probe_lists_grid_and_raw_orders():
    """Both probe policies rank (cosine DESC, cid ASC); the 1e15 grid
    merges cosines that differ below its resolution into a tie, which
    the lower cid wins, while raw cosine keeps them apart."""
    qv = [1.0, 0.0]
    cents = [(0, [1.0, 3e-8]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])]
    assert ann.probe_lists(cents, qv, 2, grid=False) == [1, 0]
    assert ann.probe_lists(cents, qv, 2, grid=True) == [0, 1]
    assert ann.probe_lists(cents, qv, 4, grid=True) == [0, 1, 2, 3]


def test_nprobe_curve_builds_with_no_more_jobs_than_one_ivf_search(spark):
    """ivf_nprobe_recall_curve fetches the query and the stand-in
    centroids once and searches five times, so building it runs no more
    jobs than building ivf_ann_topk (one search)."""
    qs = all_queries()
    one = count_jobs(spark, lambda: qs["ivf_ann_topk"].fn(spark, SF_SMOKE))
    curve = count_jobs(
        spark, lambda: qs["ivf_nprobe_recall_curve"].fn(spark, SF_SMOKE)
    )
    assert curve <= one, (curve, one)
