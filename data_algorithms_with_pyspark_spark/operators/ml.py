"""Logistic-regression training (hashed-feature classifier).

The fasttext-style quality-classifier shape of LLM data pipelines (e.g.
the CCNet/GPT-3 "quality filter": a linear model over hashed bag-of-words
features scores every document, and the corpus is filtered on the score).
Training is full-batch gradient descent. The one corpus-scale step is
packing each document's features into a per-doc array, in Spark; that
packed table, one row per training document, is collected to the driver
ONCE through Arrow, and every gradient step runs there over it
(``logistic_regression_train``). A step touches a table the size of the
training set, never the corpus, so no per-step Spark job or plan is paid.
Scoring stays distributed: ``packed_logistic_scores`` is one projection
over the trainer's persisted packed relation.

Cross-engine replay (the catalog-oracle discipline): all corpus-side
arithmetic is INTEGER — weights and sigmoid outputs live in micro-units
(1e6), features are token counts — so every sum is exact under any
accumulation order and a DuckDB oracle replays the whole training loop as
an unrolled CTE chain. The only float step is the sigmoid itself, whose
output is floor-quantized to the micro grid; engines' ``exp`` may differ
in the last ulp (Spark's ``StrictMath.exp``, DuckDB's, and the driver
steps' Python ``math.exp``), which flips a quantized value only when the
true sigmoid sits within ~1e-16 of a grid boundary (measure-zero in
practice — the same accepted risk as the kmeans cosine grid,
plans/curation.py).

Scale note: the training set is bounded by ``TRAIN_DOCS_MAX`` documents
(measured cost in ``logistic_regression_train``); a larger one must be
sampled first, while scoring runs at any size. Sums are exact int64 and
raise a ``ValueError`` past signed 64-bit; the quantized replay is what
makes the oracle possible, not a requirement of the operator shape.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.operators.state import persist

__all__ = [
    "MICRO",
    "TRAIN_DOCS_MAX",
    "embedding_gram_fp",
    "hashed_token_features",
    "logistic_regression_train",
    "logistic_scores",
    "packed_logistic_scores",
    "pca_top_component_fp",
]

MICRO = 1_000_000  # fixed-point scale for weights / sigmoid outputs

# Most training documents logistic_regression_train collects to the driver
# (its docstring has the measured cost).
TRAIN_DOCS_MAX = 1_000_000

_I64_SAFE = 2.0**62  # partial-sum bound under which int64 sums cannot wrap
# -z/MICRO past this makes exp overflow; the quantized sigmoid is 0 there
_EXP_MAX = 709.0


def hashed_token_features(
    toks: DataFrame,
    dims: int,
    tokens_col: str = "_t",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sparse hashed bag-of-words: ``(id_col, j, x)`` — bucket j in
    [0, dims) via an md5 lane (engine-portable, same construction as
    ``sketches.bloom_positions``), x = token count in the bucket, plus a
    constant bias feature at ``j = dims`` (x = 1) for every document.
    One explode + one partial+final count aggregate."""
    tok = toks.select(F.col(id_col), F.explode(tokens_col).alias("_tok"))
    j = (
        F.conv(F.substring(F.md5("_tok"), 1, 8), 16, 10).cast("long")
        % F.lit(dims)
    )
    tf = (
        tok.select(F.col(id_col), j.alias("j"))
        .groupBy(id_col, "j")
        .agg(F.count("*").alias("x"))
    )
    bias = toks.select(
        F.col(id_col),
        F.lit(dims).cast("long").alias("j"),
        F.lit(1).cast("long").alias("x"),
    )
    return tf.unionByName(bias)


def _w_lit(weights: list[int]) -> Column:
    """The weight vector as ONE parsed SQL array literal — the
    Column-by-Column ``F.array(lit, ...)`` form costs 2 Py4J round trips
    per weight PER EXPRESSION CONSTRUCTION (dims+1 weights, rebuilt every
    training iteration; functions/vectors.lit_long_array rationale).
    Micro-unit weights are exact longs, so the resolved plan is
    identical."""
    from data_algorithms_with_pyspark_spark.functions.vectors import (
        lit_long_array,
    )

    return lit_long_array(weights)


def _score_expr(weights: list[int]) -> Column:
    """Per-feature-row weighted contribution ``w[j] * x`` with the
    weights inlined as an array literal — broadcast-by-construction,
    no join, stays in whole-stage codegen."""
    w_lit = _w_lit(weights)
    return F.element_at(w_lit, (F.col("j") + 1).cast("int")) * F.col("x")


def logistic_scores(
    feats: DataFrame, weights: list[int], id_col: str = "doc_id"
) -> DataFrame:
    """Score documents under micro-unit weights: ``(id_col, s_micro)``
    with ``s_micro = floor(MICRO * sigmoid(z) + 0.5)``, z accumulated
    exactly in integer micro-units. One groupBy(id) aggregate."""
    z_micro = F.sum(_score_expr(weights)).alias("_z")
    z = F.col("_z").cast("double") / F.lit(float(MICRO))
    s = F.lit(float(MICRO)) / (F.lit(1.0) + F.exp(-z))
    return (
        feats.groupBy(id_col)
        .agg(z_micro)
        .select(
            F.col(id_col),
            F.floor(s + F.lit(0.5)).cast("long").alias("s_micro"),
        )
    )


def packed_logistic_scores(
    packed: DataFrame, weights: list[int], id_col: str = "doc_id"
) -> DataFrame:
    """Score documents from the TRAINER'S packed relation ``(id_col, _fx,
    y_micro)`` — the same integer z fold and sigmoid quantize the training
    loop evaluates (bit-identical to ``logistic_scores``: z is an exact
    integer sum, order-free), as one PROJECTION over the already-persisted
    packed table. Returns ``(id_col, y_micro, s_micro)``. The standalone
    ``logistic_scores`` re-aggregates the sparse feats relation by id —
    one more corpus shuffle plus (in the catalog query) a full feature
    recompute; use this whenever the packed relation exists."""
    w_lit = _w_lit(weights)
    z_micro = F.aggregate(
        "_fx",
        F.lit(0).cast("long"),
        lambda acc, e: acc
        + F.element_at(w_lit, (e["j"] + 1).cast("int")) * e["x"],
    )
    z = z_micro.cast("double") / F.lit(float(MICRO))
    s_micro = F.floor(
        F.lit(float(MICRO)) / (F.lit(1.0) + F.exp(-z)) + F.lit(0.5)
    ).cast("long")
    return packed.select(
        F.col(id_col), F.col("y_micro"), s_micro.alias("s_micro")
    )


def _training_arrays(
    docs: DataFrame,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The packed training relation ``(y_micro, _fx)`` as driver arrays —
    the trainer's one Spark action, an Arrow collect through
    ``limit(TRAIN_DOCS_MAX + 1)``. Returns ``(y, doc, j, x)``: one label
    per collected row, and one entry per packed feature with the row it
    belongs to. Rows without features (the LEFT join from labels) count
    in ``len(y)`` and own no entry."""
    import pyarrow.compute as pc  # ~20 ms: keep it off catalog set-up

    cap = TRAIN_DOCS_MAX
    tbl = docs.select("y_micro", "_fx").limit(cap + 1).toArrow()
    if tbl.num_rows > cap:
        raise ValueError(
            f"training set has more than TRAIN_DOCS_MAX={cap} documents; "
            "the trainer holds it on the driver, so sample it first"
        )
    if tbl.num_rows == 0:
        raise ValueError("empty training set")
    fx = tbl.column("_fx").combine_chunks()
    flat = fx.flatten()
    cols = (tbl.column("y_micro"), flat.field("j"), flat.field("x"))
    if any(c.null_count for c in cols):
        raise ValueError("null label or feature in the training set")
    y, j, x = (c.to_numpy().astype(np.int64) for c in cols)
    lengths = pc.fill_null(pc.list_value_length(fx), 0).to_numpy()
    doc = np.repeat(np.arange(tbl.num_rows), lengths)
    return y, doc, j, x


def _sum_by(index: np.ndarray, a: np.ndarray, x: np.ndarray, size: int,
            bound: float, what: str) -> np.ndarray:
    """Exact integer sums of ``a * x`` grouped by ``index`` (length
    ``size``). ``bound`` caps every partial sum in any order; under 2^62
    the int64 sums cannot wrap, past it they run on Python integers and
    raise a ``ValueError`` when a sum leaves signed 64-bit (the Spark fold
    raised on that overflow under ANSI)."""
    if bound < _I64_SAFE:
        out = np.zeros(size, np.int64)
        np.add.at(out, index, a * x)
        return out
    out = np.zeros(size, object)
    np.add.at(out, index, a.astype(object) * x.astype(object))
    if any(not _in_i64(v) for v in out):
        raise ValueError(f"logistic regression {what} overflows signed 64-bit")
    return out


def _in_i64(v: int) -> bool:
    return -(2**63) <= v < 2**63


def logistic_regression_train(
    feats: DataFrame,
    labels: DataFrame,
    dims: int,
    iters: int = 3,
    lr_num: int = 1,
    lr_den: int = 2,
    id_col: str = "doc_id",
    packed_out: list | None = None,
) -> list[int]:
    """Full-batch gradient descent; returns micro-unit weights
    (length ``dims + 1``, bias last).

    ``feats``: (id_col, j, x) sparse rows incl. the bias feature, j in
    [0, dims]; ``labels``: (id_col, y_micro) with y in [0, MICRO] (0 or
    MICRO for hard labels). Either outside its range raises.

    Features are packed once into a per-doc array ``collect_list(struct(j,
    x))``, LEFT-joined from the labels (so the packed relation has one row
    per label row and n is its row count), and persisted when the caller
    takes it through ``packed_out``. That relation is collected ONCE
    through Arrow (``_training_arrays``, capped at ``TRAIN_DOCS_MAX``)
    and every gradient step runs on the driver: no per-step Spark job or
    plan. A step is, in exact integers,

        z = sum_j w[j] * x                (per document)
        s = floor(MICRO / (1 + exp(-z / MICRO)) + 0.5)
        g_j = sum_docs (s - y) * x_j
        w_j -= floor(lr_num * g_j / (lr_den * n) + 0.5)

    — the same terms the unrolled SQL oracle
    (plans/curation.doc_quality_classifier) replays, so the weights are
    bit-identical to a Spark fold of the same expressions (z and g are
    order-free integer sums; the sigmoid is the one float step, see the
    module docstring). z, g or w leaving signed 64-bit raises a
    ``ValueError``.

    Size: the driver holds the collected table and three int64s per
    packed feature. Measured with ``scripts/classifier_train_scale.py``
    (``perfbench/gen.py`` documents, ~18 packed features each; 4 vCPU,
    ``local[4]``, 3 steps): 1e5 documents train in 13 s with a Python
    peak of 0.25 GB inside Spark's default 1 GB driver heap; 1e6 documents
    train in 97-115 s with a Python peak of 1.2 GB and need a 3 GB driver
    heap (2 GB runs out of memory in the collect). ``TRAIN_DOCS_MAX`` is
    that largest measured size; a larger training set must be sampled
    before it reaches the trainer. Scoring (``packed_logistic_scores``)
    stays distributed at any size.
    """
    if dims < 1 or iters < 1:
        raise ValueError("dims and iters must be >= 1")
    docs = labels.join(
        feats.groupBy(id_col).agg(
            F.collect_list(F.struct(F.col("j"), F.col("x"))).alias("_fx")
        ),
        on=id_col,
        how="left",
    )
    if packed_out is not None:  # else the one collect is its only reader
        docs = persist(docs)
    try:
        y, doc, j, x = _training_arrays(docs)
        if j.size and not (0 <= j.min() and j.max() <= dims):
            raise ValueError(f"feature index j outside [0, {dims}]")
        if not (0 <= y.min() and y.max() <= MICRO):
            raise ValueError(f"label y_micro outside [0, {MICRO}]")
        n = len(y)
        ax = np.abs(x.astype(np.float64))
        doc_mass = np.bincount(doc, ax, n).max()  # largest sum_j |x| of a doc
        j_mass = np.bincount(j, ax, dims + 1).max()  # ... of a feature
        w = [0] * (dims + 1)
        for _ in range(iters):
            z = _sum_by(doc, np.array(w, np.int64)[j], x, n,
                        max(map(abs, w)) * doc_mass, "score z")
            zf = np.minimum(-z.astype(np.float64) / MICRO, _EXP_MAX)
            s = np.array(
                [math.floor(MICRO / (1.0 + math.exp(v)) + 0.5)
                 for v in zf.tolist()],
                np.int64,
            )
            d = s - y  # |d| <= MICRO
            g = _sum_by(j, d[doc], x, dims + 1, MICRO * j_mass, "gradient g")
            w = [
                wj - math.floor((lr_num * int(gj)) / (lr_den * n) + 0.5)
                for wj, gj in zip(w, g)
            ]
            if not all(map(_in_i64, w)):
                raise ValueError(
                    "logistic regression weight w overflows signed 64-bit"
                )
    except BaseException:
        # the caller gets no usable handle on the failure path, so the
        # persisted relation must not outlive the exception (ADVICE r11)
        docs.unpersist()
        raise
    # packed_out: on SUCCESS the caller receives the persisted packed
    # relation, restricted to the rows that have features, to score from
    # (packed_logistic_scores) instead of recomputing features + one more
    # per-id shuffle; docs is NOT unpersisted here — the caller's
    # returned plan still reads it, and the caller's state.scope()
    # releases it.
    if packed_out is not None:
        packed_out.append(docs.where(F.col("_fx").isNotNull()))
    return w


def embedding_gram_fp(
    vecs: DataFrame,
    dim: int,
    vec_col: str = "vec",
    scale: int = MICRO,
) -> DataFrame:
    """Exact fixed-point Gram matrix + first moments over an embedding
    column — the single corpus pass that PCA / whitening / covariance
    estimation needs before any eigendecomposition (which is a
    driver-side O(dim^3) on the tiny dim x dim result).

    Each component is quantized to an integer lane ``q = floor(v * scale
    + 0.5)`` (int64); the output has one row per upper-triangle cell
    ``1 <= i <= j <= dim``::

        (i, j, g, s_i, s_j, n)   with   g   = sum_rows(q_i * q_j)
                                        s_i = sum_rows(q_i),  n = count

    so the covariance numerator ``n*g - s_i*s_j`` is derivable exactly.
    All sums are exact int64 — associative, order-independent, and
    hash-identical under any accumulation order, which is what lets a
    DuckDB oracle replay the pass bit-for-bit (the same micro-lane
    discipline as ``logistic_scores`` / events window sums).

    Plan shape: ONE pass over the corpus via ``mapInPandas`` (Arrow
    batches; a dim x dim int64 matmul per batch — the pq_encode lesson:
    2080 unrolled Catalyst sum() columns would pay seconds of driver
    planning per invocation), each batch emitting dim*(dim+1)/2 partial
    rows, then a partial+final HashAggregate on (i, j) — the shuffle
    carries only ~triangle_cells x batches rows, never the corpus.

    Exactness bound (100 TB note): with unit-normalized inputs
    (|v| <= 1) and scale = 1e6, |q_i * q_j| <= 1e12, so the int64 sums
    are exact up to ~9e6 rows per cell; beyond that, raise the batch
    partials to per-partition means (double) or split the lane — the
    operator shape (one pass, tiny shuffle) is unchanged. Testdata
    embeddings are |v| <= 0.6, good to ~2.5e7 rows.
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    iu, ju = np.triu_indices(dim)

    def gram_batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            if pdf.empty:
                continue
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if m.shape[1] != dim:
                raise ValueError(
                    f"embedding_gram_fp: expected {dim}-component vectors, "
                    f"got width {m.shape[1]} (ragged or mis-declared dim "
                    "would silently skew the moments; an oracle would "
                    "NULL-pad instead — refuse loudly)"
                )
            q = np.floor(m * float(scale) + 0.5).astype(np.int64)
            gram = q.T @ q  # int64-exact within the documented bound
            colsum = q.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": iu + 1,
                    "j": ju + 1,
                    "g": gram[iu, ju],
                    "s_i": colsum[iu],
                    "s_j": colsum[ju],
                    "n": np.int64(len(pdf)),
                }
            )

    partials = vecs.select(
        F.col(vec_col).cast("array<double>").alias(vec_col)
    ).mapInPandas(
        gram_batches, "i long, j long, g long, s_i long, s_j long, n long"
    )
    return partials.groupBy("i", "j").agg(
        F.sum("g").alias("g"),
        F.sum("s_i").alias("s_i"),
        F.sum("s_j").alias("s_j"),
        F.sum("n").alias("n"),
    )


def pca_top_component_fp(
    gram_rows,
    dim: int,
    iters: int = 8,
    scale: int = MICRO,
) -> list[int]:
    """Dominant covariance eigendirection by QUANTIZED power iteration over
    the exact ``embedding_gram_fp`` output — the driver-side half of a
    distributed PCA: the corpus work was the one-pass Gram scan; this is
    O(iters * dim^2) on the tiny dim x dim matrix.

    Exact-replay discipline (what lets a DuckDB oracle reproduce the
    iteration bit-for-bit, same contract as ``logistic_regression_train``):

    - covariance entries ``c_ij = n*g_ij - s_i*s_j`` are built from the
      EXACT int64 moments with one int64->f64 conversion per operand and
      one IEEE multiply/subtract each — no summation, so no order freedom;
    - each matvec row is an explicit LEFT-TO-RIGHT fold (DuckDB's
      ``list_dot_product`` folds the same way — verified bit-identical);
    - each iterate renormalizes by max|w| (an exact comparison, not a
      float norm) and re-quantizes to the integer ``scale`` grid, so the
      vector STATE between iterations is exact integers.

    Starts from the all-ones direction; fixed iteration count (no
    tolerance test) keeps the sequence reproducible. Returns ``dim``
    quantized ints (grid = ``scale``); the true eigenvector is recovered
    as ``q / scale`` up to sign and grid rounding.
    """
    if dim < 1 or iters < 1:
        raise ValueError("dim and iters must be >= 1")
    cov = [[0.0] * dim for _ in range(dim)]
    seen = 0
    for r in gram_rows:
        i, j = r["i"] - 1, r["j"] - 1
        c = float(r["n"]) * float(r["g"]) - float(r["s_i"]) * float(r["s_j"])
        cov[i][j] = c
        cov[j][i] = c
        seen += 1
    if seen != dim * (dim + 1) // 2:
        raise ValueError(
            f"expected {dim * (dim + 1) // 2} upper-triangle rows, got {seen}"
        )
    q = [float(scale)] * dim
    for _ in range(iters):
        w = []
        for i in range(dim):
            acc = 0.0
            row = cov[i]
            for j in range(dim):
                acc = acc + row[j] * q[j]
            w.append(acc)
        m = max(abs(x) for x in w)
        if m == 0.0:
            raise ValueError("zero covariance matrix: no dominant direction")
        q = [float(math.floor(x / m * scale + 0.5)) for x in w]
    return [int(v) for v in q]
