"""Distributed k-means (operators/clustering.py): convergence on planted
blobs, determinism, empty-cluster handling, and assignment agreement with
the packed-argmax encoding."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.operators.clustering import (
    assign_to_centroids,
    kmeans_fit_assign,
    kmeans_train,
)


def _blob_rows():
    """Three well-separated direction blobs in 4-d; ids 0,1,2 seed one blob
    each (init = lowest-k ids), remaining ids cycle through the blobs."""
    bases = [
        [10.0, 1.0, 0.0, 0.0],
        [0.0, 10.0, 1.0, 0.0],
        [0.0, 0.0, 10.0, 1.0],
    ]
    rows = []
    for i in range(30):
        blob = i % 3
        jitter = 0.01 * (i % 7)
        vec = [x + (jitter if j == (i % 4) else 0.0) for j, x in enumerate(bases[blob])]
        rows.append((i, vec))
    return rows


@pytest.fixture(scope="module")
def blobs(spark):
    return spark.createDataFrame(_blob_rows(), "vec_id long, vec array<double>")


def test_kmeans_recovers_planted_blobs(spark, blobs):
    assign = kmeans_fit_assign(blobs, k=3, max_iter=5, vec_col="vec")
    got = {r["vec_id"]: r["cid"] for r in assign.collect()}
    assert len(got) == 30
    # ids 0,1,2 seeded clusters 0,1,2; every id lands with its blob-mates
    for i in range(30):
        assert got[i] == got[i % 3], f"id {i} split from its blob"
    assert {got[0], got[1], got[2]} == {0, 1, 2}


def test_kmeans_centroids_near_blob_means(spark, blobs):
    cents = kmeans_train(blobs, k=3, max_iter=5, vec_col="vec")
    assert len(cents) == 3
    # cluster 0's centroid should stay dominated by axis 0, etc.
    for cid, dominant in ((0, 0), (1, 1), (2, 2)):
        vec = cents[cid]
        assert vec[dominant] == max(vec), (cid, vec)
        norm = math.sqrt(sum(x * x for x in vec))
        assert norm > 5.0


def test_kmeans_deterministic_across_runs(spark, blobs):
    a = kmeans_train(blobs, k=3, max_iter=3, vec_col="vec")
    b = kmeans_train(blobs, k=3, max_iter=3, vec_col="vec")
    assert a == b  # 1e-9 grid quantization absorbs partial-sum reordering


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # id 2's vector duplicates id 0's direction: cluster 2 receives nothing
    # (cos ties break to the lower cid) and must keep its init centroid.
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [1.0, 0.0]),
        (3, [1.0, 0.1]),
        (4, [0.1, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    cents = kmeans_train(df, k=3, max_iter=3, vec_col="vec")
    assert len(cents) == 3
    assert cents[2] == [1.0, 0.0]  # untouched init centroid


def test_assign_matches_brute_force(spark, blobs):
    cents_rows = [(i, v) for i, (_, v) in enumerate(_blob_rows()[:4])]
    cents = spark.createDataFrame(cents_rows, "cid int, cvec array<double>")
    got = {
        r["vec_id"]: r["cid"]
        for r in assign_to_centroids(blobs, cents, 4).collect()
    }
    # brute force on the driver
    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    for vid, vec in _blob_rows():
        best = max(
            ((cos(vec, cv), -cid) for cid, cv in cents_rows),
        )
        assert got[vid] == -best[1], vid


def test_kmeans_requires_k_vectors(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, vec array<double>"
    )
    with pytest.raises(ValueError, match="at least k=3"):
        kmeans_train(df, k=3, vec_col="vec")


def test_semdedup_with_trained_centroids(spark, blobs):
    """semdedup_prune accepts kmeans_train output: planted duplicate is
    dropped, unique vectors survive, every vector gets a cluster."""
    from data_algorithms_with_pyspark_spark.operators.dedup import semdedup_prune

    rows = _blob_rows()
    rows.append((999, list(rows[0][1])))  # exact duplicate of id 0
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    cents = kmeans_train(df, k=3, max_iter=3, vec_col="vec")
    out = semdedup_prune(
        df, threshold=0.999, id_col="vec_id", vec_col="vec", centroids=cents
    ).collect()
    verdict = {r["vec_id"]: r["is_kept"] for r in out}
    assert len(verdict) == 31
    assert verdict[0] is True and verdict[999] is False  # min-id survives
    assert all(r["cid"] in (0, 1, 2) for r in out)


def test_assign_rejects_overflowing_cluster_count(spark):
    import pytest

    from data_algorithms_with_pyspark_spark.operators.clustering import (
        assign_to_centroids,
    )
    from data_algorithms_with_pyspark_spark.operators.similarity import (
        ivf_assign,
    )

    vecs = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, vec array<double>")
    cents = spark.createDataFrame([(0, [1.0, 0.0])], "cid int, cvec array<double>")
    # packed argmax would overflow Long.MAX past ~4611 clusters; the guard
    # trips at the documented 4000 bound, in both assignment families and
    # before any Spark job runs
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup())
    with pytest.raises(ValueError, match="overflow"):
        assign_to_centroids(vecs, cents, 5000)
    with pytest.raises(ValueError, match="overflow"):
        ivf_assign(vecs, 5000)
    assert set(tracker.getJobIdsForGroup()) == jobs_before


def test_assign_literal_and_broadcast_paths_identical(spark, blobs, monkeypatch):
    """assign_to_centroids switches physical form on quantizer size
    (LITERAL_CELLS_MAX, VERDICT r11 #6): row-local literal projection
    below, broadcast-product + packed-argmax HashAggregate above. Both
    must produce bit-identical assignments — same cosine grid, same
    lower-cid tie-break."""
    import data_algorithms_with_pyspark_spark.operators.clustering as cl

    k = 4
    cents = kmeans_train(blobs, k=k, max_iter=3)

    def assigned():
        df = cl.assign_to_centroids(blobs, cents, k)
        return df.dtypes, sorted((r["vec_id"], r["cid"]) for r in df.collect())

    lit_rows = assigned()
    monkeypatch.setattr(cl, "LITERAL_CELLS_MAX", 0)  # force broadcast path
    bc_rows = assigned()
    assert lit_rows == bc_rows
    assert len({cid for _, cid in lit_rows[1]}) > 1  # non-degenerate
