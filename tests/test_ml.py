"""Known-answer and learning-behavior tests for the logistic-regression
trainer (operators/ml.py)."""

from __future__ import annotations

import hashlib
import math
import random

import pytest
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.functions.text_functions import words
from data_algorithms_with_pyspark_spark.operators.ml import (
    MICRO,
    hashed_token_features,
    logistic_regression_train,
    logistic_scores,
)
from tests.conftest import count_jobs, persisted_rdds


def test_hashed_token_features_buckets_and_bias(spark):
    toks = spark.createDataFrame(
        [(0, "apple apple banana"), (1, "")], ["doc_id", "text"]
    ).select("doc_id", words("text").alias("_t"))
    rows = hashed_token_features(toks, dims=8).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["j"]] = r["x"]
    j_apple = int(hashlib.md5(b"apple").hexdigest()[:8], 16) % 8
    j_banana = int(hashlib.md5(b"banana").hexdigest()[:8], 16) % 8
    assert by_doc[0][j_apple] == 2
    assert by_doc[0][j_banana] == 1
    assert by_doc[0][8] == 1  # bias feature
    assert by_doc[1] == {8: 1}  # empty doc: bias only


def test_logistic_regression_learns_separable_labels(spark):
    # label == presence of the token "good"; 40 docs, perfectly separable
    rows = [
        (i, "good stuff here" if i % 2 == 0 else "bad stuff here")
        for i in range(40)
    ]
    toks = spark.createDataFrame(rows, ["doc_id", "text"]).select(
        "doc_id", words("text").alias("_t")
    )
    labels = spark.createDataFrame(
        [(i, MICRO if i % 2 == 0 else 0) for i in range(40)],
        ["doc_id", "y_micro"],
    )
    feats = hashed_token_features(toks, dims=16).persist()
    w = logistic_regression_train(
        feats, labels, dims=16, iters=8, lr_num=2, lr_den=1
    )
    scored = {
        r["doc_id"]: r["s_micro"]
        for r in logistic_scores(feats, w).collect()
    }
    feats.unpersist()
    pos = [scored[i] for i in range(0, 40, 2)]
    neg = [scored[i] for i in range(1, 40, 2)]
    # every positive scores above every negative after training
    assert min(pos) > max(neg)
    assert min(pos) > MICRO // 2 > max(neg)


def test_logistic_regression_zero_iter_rejected(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(0, 0, 1)], ["doc_id", "j", "x"])
    lab = spark.createDataFrame([(0, 0)], ["doc_id", "y_micro"])
    with _pytest.raises(ValueError):
        logistic_regression_train(df, lab, dims=0)
    with _pytest.raises(ValueError):
        logistic_regression_train(df, lab, dims=4, iters=0)


def test_logistic_regression_failure_unpersists_packed(spark, monkeypatch):
    """A raise inside a gradient step must not leak the persisted packed
    relation, and the caller must receive no handle on the failure path
    (ADVICE r11 / VERDICT r11 #4): docs is persisted BEFORE the steps, so
    the except path owns the unpersist when no usable packed_out handle
    will be handed out."""
    import pytest as _pytest

    import data_algorithms_with_pyspark_spark.operators.ml as ml

    df = spark.createDataFrame([(0, 0, 1), (0, 8, 1)], ["doc_id", "j", "x"])
    lab = spark.createDataFrame([(0, MICRO)], ["doc_id", "y_micro"])
    spark.catalog.clearCache()
    monkeypatch.setattr(
        ml, "_sum_by", lambda *a: (_ for _ in ()).throw(RuntimeError("boom"))
    )
    reg: list = []
    with _pytest.raises(RuntimeError, match="boom"):
        ml.logistic_regression_train(df, lab, dims=8, packed_out=reg)
    assert reg == []  # no handle handed out on the failure path
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _separable(spark, n=40):
    toks = spark.createDataFrame(
        [(i, "good stuff" if i % 2 == 0 else "bad stuff") for i in range(n)],
        ["doc_id", "text"],
    ).select("doc_id", words("text").alias("_t"))
    labels = spark.createDataFrame(
        [(i, MICRO if i % 2 == 0 else 0) for i in range(n)],
        ["doc_id", "y_micro"],
    )
    return hashed_token_features(toks, dims=16), labels


def test_logistic_regression_steps_run_no_spark_job(spark):
    """The packed relation is collected once; every gradient step runs on
    the driver, so the job count does not grow with the step count."""
    feats, labels = _separable(spark)
    jobs = {
        iters: count_jobs(
            spark,
            lambda: logistic_regression_train(feats, labels, 16, iters=iters),
        )
        for iters in (1, 8)
    }
    assert jobs[1] == jobs[8], jobs


def test_logistic_regression_raises_past_train_docs_max(spark, monkeypatch):
    """A training set over TRAIN_DOCS_MAX raises the named error before
    any gradient step and leaves no persisted relation behind."""
    import data_algorithms_with_pyspark_spark.operators.ml as ml

    feats, labels = _separable(spark)
    spark.catalog.clearCache()
    before = persisted_rdds(spark)
    steps: list = []
    monkeypatch.setattr(ml, "TRAIN_DOCS_MAX", 39)
    monkeypatch.setattr(ml, "_sum_by", lambda *a: steps.append(a))
    with pytest.raises(ValueError, match="TRAIN_DOCS_MAX=39"):
        ml.logistic_regression_train(feats, labels, 16, packed_out=[])
    assert steps == []
    assert persisted_rdds(spark) == before


def _reference_train(rows, labels, dims, iters, lr_num, lr_den):
    """The gradient-descent steps as a plain Python-integer loop: rows is
    {doc: [(j, x), ...]}, labels {doc: y}."""
    n = len(labels)
    w = [0] * (dims + 1)
    for _ in range(iters):
        g = [0] * (dims + 1)
        for doc, y in labels.items():
            fx = rows.get(doc, [])
            z = sum(w[j] * x for j, x in fx)
            s = math.floor(MICRO / (1.0 + math.exp(-(float(z) / MICRO))) + 0.5)
            for j, x in fx:
                g[j] += (s - y) * x
        w = [
            wj - math.floor(lr_num * gj / (lr_den * n) + 0.5)
            for wj, gj in zip(w, g)
        ]
    return w


@pytest.mark.parametrize("x_max", [5, 2**39])
def test_logistic_regression_matches_python_reference(spark, x_max):
    """The vectorised driver steps equal a plain Python-integer loop,
    on the int64 fast path (small counts) and on the exact Python-integer
    path its bound selects for large ones; docs without features and
    feature rows without a label are both present."""
    rng = random.Random(x_max)
    dims = 6
    rows: dict = {}
    for doc in range(60):
        if doc % 7 == 3:
            continue  # labelled, no features
        js = rng.sample(range(dims), rng.randint(1, dims))
        rows[doc] = [(j, rng.randint(1, x_max)) for j in js] + [(dims, 1)]
    labels = {doc: rng.choice((0, MICRO)) for doc in range(55)}
    feats = spark.createDataFrame(
        [(d, j, x) for d, fx in rows.items() for j, x in fx],
        ["doc_id", "j", "x"],
    )
    lab = spark.createDataFrame(list(labels.items()), ["doc_id", "y_micro"])
    iters = 4 if x_max == 5 else 1
    got = logistic_regression_train(
        feats, lab, dims, iters=iters, lr_num=3, lr_den=2
    )
    assert got == _reference_train(rows, labels, dims, iters, 3, 2)


def test_logistic_regression_int64_guard(spark):
    """Sums that leave signed 64-bit raise (the Spark fold raised under
    ANSI) instead of wrapping; sums just inside the range train exactly.
    Both docs start at s = MICRO / 2, so step 1 gives g_0 = -(MICRO / 2)
    * x_0 and w_0 = (MICRO / 2) * x_0 / 4."""
    lab = spark.createDataFrame([(0, MICRO), (1, 0)], ["doc_id", "y_micro"])

    def feats(x0):
        return spark.createDataFrame(
            [(0, 0, x0), (0, 1, 1), (1, 1, 1)], ["doc_id", "j", "x"]
        )

    # g_0 = -5e5 * 2^44 ~ -8.8e18 fits (past the int64 fast path's bound)
    w = logistic_regression_train(feats(2**44), lab, dims=1, iters=1)
    assert w == [(MICRO // 2) * 2**44 // 4, 0]
    with pytest.raises(ValueError, match="gradient g overflows signed 64"):
        logistic_regression_train(feats(2**45), lab, dims=1, iters=1)
    # step 2: z_0 = w_0 * 2^44 ~ 3.9e31
    with pytest.raises(ValueError, match="score z overflows signed 64"):
        logistic_regression_train(feats(2**44), lab, dims=1, iters=2)


def test_embedding_gram_fp_known_answer(spark):
    import numpy as np

    from data_algorithms_with_pyspark_spark.operators.ml import (
        embedding_gram_fp,
    )

    vecs = [
        [0.5, -0.25, 0.125],
        [1.0, 0.0, -0.5],
        [-0.75, 0.3, 0.2],
        [0.1, 0.1, 0.1],
        [0.0, -1.0, 0.6],
    ]
    df = spark.createDataFrame([(v,) for v in vecs], ["vec"]).repartition(3)
    got = {
        (r["i"], r["j"]): (r["g"], r["s_i"], r["s_j"], r["n"])
        for r in embedding_gram_fp(df, dim=3).collect()
    }
    q = np.floor(np.array(vecs) * 1e6 + 0.5).astype(np.int64)
    gram = q.T @ q
    colsum = q.sum(axis=0)
    assert len(got) == 6  # upper triangle of 3x3
    for i in range(3):
        for j in range(i, 3):
            assert got[(i + 1, j + 1)] == (
                int(gram[i, j]),
                int(colsum[i]),
                int(colsum[j]),
                5,
            ), (i, j)


def test_embedding_gram_fp_rejects_bad_dim(spark):
    import pytest as _pytest

    from data_algorithms_with_pyspark_spark.operators.ml import (
        embedding_gram_fp,
    )

    df = spark.createDataFrame([([0.1],)], ["vec"])
    with _pytest.raises(ValueError):
        embedding_gram_fp(df, dim=0)


def test_pca_top_component_aligns_with_numpy_eigenvector(spark):
    import numpy as np

    from data_algorithms_with_pyspark_spark.operators.ml import (
        embedding_gram_fp,
        pca_top_component_fp,
    )

    rng = np.random.default_rng(11)
    dim, n = 6, 400
    # anisotropic cloud: a strong direction + noise
    strong = rng.standard_normal(dim)
    strong /= np.linalg.norm(strong)
    x = rng.standard_normal((n, 1)) * 3.0 * strong + 0.3 * rng.standard_normal(
        (n, dim)
    )
    x = np.clip(x, -0.99, 0.99)
    df = spark.createDataFrame(
        [(row.tolist(),) for row in x], ["vec"]
    ).repartition(4)
    rows = embedding_gram_fp(df, dim=dim).collect()
    comp = np.array(pca_top_component_fp(rows, dim=dim, iters=12), dtype=float)

    q = np.floor(x * 1e6 + 0.5)
    cov = np.cov(q, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, -1]
    cos = abs(comp @ top) / (np.linalg.norm(comp) * np.linalg.norm(top))
    assert cos > 0.999, cos


def test_pca_top_component_deterministic_and_guarded(spark):
    from data_algorithms_with_pyspark_spark.operators.ml import (
        embedding_gram_fp,
        pca_top_component_fp,
    )

    vecs = [[0.5, -0.2, 0.1], [0.4, -0.1, 0.0], [-0.3, 0.25, 0.05]]
    df = spark.createDataFrame([(v,) for v in vecs], ["vec"])
    rows = embedding_gram_fp(df, dim=3).collect()
    a = pca_top_component_fp(rows, dim=3)
    b = pca_top_component_fp(list(reversed(rows)), dim=3)
    assert a == b  # row order of the collected gram must not matter
    assert max(abs(v) for v in a) == 1_000_000  # max-normalized grid
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pca_top_component_fp(rows, dim=3, iters=0)
    with _pytest.raises(ValueError):
        pca_top_component_fp(rows[:-1], dim=3)  # missing triangle row


def test_psi_drift_known_answer(spark):
    import math

    from pyspark.sql import functions as F

    from data_algorithms_with_pyspark_spark.operators.drift import (
        fixed_width_bin,
        psi_drift,
    )

    ref = spark.createDataFrame(
        [("a", 1.0)] * 6 + [("a", 15.0)] * 4 + [("b", 1.0)] * 5,
        ["g", "v"],
    )
    new = spark.createDataFrame(
        [("a", 1.0)] * 2 + [("a", 15.0)] * 8 + [("c", 25.0)] * 3,
        ["g", "v"],
    )
    out = psi_drift(
        ref, new, fixed_width_bin(F.col("v"), 10.0, 3), ["g"], 3
    ).collect()
    got = {(r["g"], r["bin"]): (r["n_ref"], r["n_new"], r["psi_nano"]) for r in out}

    def term(nr, nn, tr, tn, b=3):
        pr = (nr + 1.0) / (tr + float(b))
        pn = (nn + 1.0) / (tn + float(b))
        return math.floor((pn - pr) * math.log(pn / pr) * 1e9 + 0.5)

    # group a: both sides present (totals 10 each)
    assert got[("a", 0)] == (6, 2, term(6, 2, 10, 10))
    assert got[("a", 1)] == (4, 8, term(4, 8, 10, 10))
    # group b: only in ref -> new total 0, smoothed p_new = 1/3
    assert got[("b", 0)] == (5, 0, term(5, 0, 5, 0))
    # group c: only in new -> ref total 0
    assert got[("c", 2)] == (0, 3, term(0, 3, 0, 3))
    assert len(got) == 4


def test_rolling_psi_by_period_known_answer(spark):
    """Day-over-day PSI: consecutive alignment, gap-day handling (an
    empty period inside the span is compared as zero-count), and the
    [min+1, max] emission window."""
    import math

    from pyspark.sql import functions as F

    from data_algorithms_with_pyspark_spark.operators.drift import (
        fixed_width_bin,
        rolling_psi_by_period,
    )

    rows = (
        [("a", 1, 1.0)] * 6 + [("a", 1, 15.0)] * 4      # period 1
        + [("a", 2, 1.0)] * 2 + [("a", 2, 15.0)] * 8    # period 2
        + [("a", 4, 25.0)] * 3                          # period 4 (gap at 3)
    )
    df = spark.createDataFrame(rows, ["g", "p", "v"])
    out = rolling_psi_by_period(
        df,
        ["g"],
        F.col("p").cast("long"),
        fixed_width_bin(F.col("v"), 10.0, 3),
        3,
    ).collect()
    got = {
        (r["g"], r["period"], r["bin"]): (r["n_ref"], r["n_new"], r["psi_nano"])
        for r in out
    }

    def term(nr, nn, tr, tn, b=3):
        pr = (nr + 1.0) / (tr + float(b))
        pn = (nn + 1.0) / (tn + float(b))
        return math.floor((pn - pr) * math.log(pn / pr) * 1e9 + 0.5)

    # period 2 vs 1: both present, totals 10/10
    assert got[("a", 2, 0)] == (6, 2, term(6, 2, 10, 10))
    assert got[("a", 2, 1)] == (4, 8, term(4, 8, 10, 10))
    # period 3 is an EMPTY day inside the span: compared as zero-count
    assert got[("a", 3, 0)] == (2, 0, term(2, 0, 10, 0))
    assert got[("a", 3, 1)] == (8, 0, term(8, 0, 10, 0))
    # period 4 vs the empty 3: ref total 0
    assert got[("a", 4, 2)] == (0, 3, term(0, 3, 0, 3))
    # nothing before min+1 (no period-1 rows) and nothing past max
    assert len(got) == 5
    # guards shared with psi_drift
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rolling_psi_by_period(
            df, [], F.col("p").cast("long"),
            fixed_width_bin(F.col("v"), 10.0, 3), 3,
        )
    with _pytest.raises(ValueError):
        rolling_psi_by_period(
            df, ["g"], F.col("p").cast("long"),
            fixed_width_bin(F.col("v"), 10.0, 1), 1,
        )


def test_psi_drift_guards(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_algorithms_with_pyspark_spark.operators.drift import (
        fixed_width_bin,
        psi_drift,
    )

    df = spark.createDataFrame([("a", 1.0)], ["g", "v"])
    with _pytest.raises(ValueError):
        psi_drift(df, df, fixed_width_bin(F.col("v"), 10.0, 1), ["g"], 1)
    with _pytest.raises(ValueError):
        psi_drift(df, df, fixed_width_bin(F.col("v"), 10.0, 3), [], 3)
