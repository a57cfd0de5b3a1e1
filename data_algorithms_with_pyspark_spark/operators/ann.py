"""Approximate nearest-neighbour search: the one search path behind the
catalog's ANN rows (IVF, PQ, IVF-PQ, residual IVF-PQ, SQ8).

Every search has the same driver/engine split:

  driver  — ``fetch_query``: ONE bounded collect of the query row plus,
            for IVF, the low-id stand-in centroids; ``probe_lists``: the
            probed list ids ranked in Python with the engine's own cosine
            folds; codebooks and LUTs (k*d doubles, corpus-independent).
  engine  — one corpus projection (row-local list id and/or codes), a
            static IN probe filter and a TakeOrderedAndProject top-k;
            only the k winners join back to the raw vectors for the
            exact-distance audit (``with_true_nano``).

The audits (``exact_topk``, ``recall_report``, ``trained_vs_standin``)
order by integer nano keys, ties by id, so their sets and counts are
engine-exact; recalls floor-round (small-integer ratio class).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.functions.vectors import (
    cosine_with_norms,
    lit_double_matrix,
    to_double_array,
)
from data_algorithms_with_pyspark_spark.operators.clustering import (
    collect_centroids,
    l2_norm_py,
    with_nearest_centroid,
)
from data_algorithms_with_pyspark_spark.operators.dedup import floor_round
from data_algorithms_with_pyspark_spark.operators.similarity import (
    _sub_d2,
    pq_adc_topk,
    pq_codebook_from_rows,
    pq_encode,
    pq_train_codebook,
    sq8_dot_topk,
    sq8_encode,
)
from data_algorithms_with_pyspark_spark.operators.state import persist
from data_algorithms_with_pyspark_spark.sources.writers import (
    write_partitioned_table,
)

__all__ = [
    "IvfPq",
    "Query",
    "exact_topk",
    "fetch_query",
    "ivf_pq_index_search",
    "ivf_pq_residual_search",
    "ivf_pq_standin",
    "ivf_search",
    "ivf_topk",
    "pq_search",
    "probe_lists",
    "recall_report",
    "sq8_search",
    "trained_vs_standin",
    "true_nano",
    "with_true_nano",
]

Cents = list[tuple[int, list[float]]]


@dataclass(frozen=True)
class Query:
    """The query row and the ``(id, vec)`` rows collected beside it (ids
    below ``fetch_query``'s ``n_low``, sorted by id)."""

    id: int
    vec: list[float]
    low: Cents


def fetch_query(
    vecs: DataFrame, query_id: int, n_low: int = 0, id_col: str = "vec_id"
) -> Query:
    """The query vector of ``vecs`` (``id_col``, ``vec``) and every row
    with id below ``n_low`` — the IVF stand-in centroids — from ONE
    bounded collect (both are low-id rows of the same table; two collects
    paid two scan jobs for one predicate's worth of data). A missing
    query row raises here, before any search plan is built."""
    rows = (
        vecs.where((F.col(id_col) < n_low) | (F.col(id_col) == query_id))
        .select(id_col, "vec")
        .collect()
    )
    small = {int(r[0]): [float(x) for x in r[1]] for r in rows}
    if query_id not in small:
        raise ValueError(f"query_id {query_id} not found")
    low = [(c, small[c]) for c in sorted(small) if c < n_low]
    return Query(query_id, small[query_id], low)


def _cosine_py(a: list[float], b: list[float]) -> float:
    """Driver-side twin of ``functions.vectors.cosine_similarity``: the
    identical op sequence (left-to-right dot fold, left-to-right norm
    folds, den = na*nb, zero-den guard) on IEEE doubles, so probe ranking
    computed here agrees bit-for-bit with the engine expression."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    den = l2_norm_py(a) * l2_norm_py(b)
    return 0.0 if den == 0.0 else acc / den


def probe_lists(cents: Cents, qv: list[float], n_probe: int, grid: bool) -> list[int]:
    """The ``n_probe`` list ids nearest the query, ranked on the driver
    (cosine DESC, cid ASC) over the bounded centroid list — no Spark job.

    ``grid=True`` ranks on ``floor((cos+1)*1e15 + 0.5)``, the packed-argmax
    grid of the IVF-PQ oracles' probes CTE: a last-ulp engine difference
    on near-tied centroids cannot flip which lists are probed.
    ``grid=False`` ranks on raw cosine, the order the ``ivf_topk`` oracles
    (ivf_ann_topk, the trained and n_probe audits) replay."""

    def key(cv: list[float]) -> float:
        cos = _cosine_py(cv, qv)
        return math.floor((cos + 1.0) * 1e15 + 0.5) if grid else cos

    return [cid for _, cid in sorted((-key(cv), cid) for cid, cv in cents)[:n_probe]]


def ivf_search(
    vecs: DataFrame,
    q: Query,
    cents: Cents,
    n_lists: int,
    n_probe: int,
    k: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF top-k ``(id_col, cosine)``: exact cosine (6dp) over the vectors
    of the ``n_probe`` lists nearest the query (raw-cosine probe order).

    The list id is the row-local ``clustering.with_nearest_centroid``, the
    probe set a static IN and the query a literal, so the scan is ONE
    projection -> Filter -> TakeOrderedAndProject: no corpus join on id,
    no broadcast join of the probe set."""
    probes = probe_lists(cents, q.vec, n_probe, grid=False)
    cos_q = cosine_with_norms(
        F.col("vec"), F.lit(q.vec), F.col("_vn"), F.lit(l2_norm_py(q.vec))
    )
    return (
        with_nearest_centroid(vecs, cents, n_lists, id_col=id_col)
        .where(F.col("cid").isin(probes))
        .where(F.col(id_col) != q.id)
        .select(F.col(id_col), F.round(cos_q, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the third ANN tier.

    Index: every vector is assigned to its nearest of ``n_lists`` coarse
    centroids (``similarity.ivf_assign``). Search: score the query against
    centroids only, probe the best ``n_probe`` lists, and run exact cosine
    on those candidates — at query time only ~n_probe/n_lists of the
    corpus is scored. Ties broken by centroid/vector id everywhere ->
    fully deterministic.

    The default quantizer is the first-``n_lists``-ids stand-in (sparse
    ids tolerated: whatever low-id rows exist), collected with the query.
    ``centroids`` (``(cid, cvec)`` rows, cid in [0, n_lists)) swaps in a
    TRAINED coarse quantizer (``clustering.kmeans_train``) — same plan,
    better lists.
    """
    vecs = embeddings.select(F.col(id_col), to_double_array(vec_col).alias("vec"))
    q = fetch_query(vecs, query_id, n_lists if centroids is None else 0, id_col)
    cents = (
        q.low
        if centroids is None
        else collect_centroids(vecs, n_lists, id_col=id_col, centroids=centroids)
    )
    return ivf_search(vecs, q, cents, n_lists, n_probe, k, id_col)


def pq_search(
    vecs: DataFrame, codebook: list[list[list[float]]], q: Query, k: int
) -> DataFrame:
    """PQ/ADC top-k ``(vec_id, pq_code, adc_nano)`` over the corpus
    without the query row: encode, then the integer-LUT scan."""
    corpus = vecs.where(F.col("vec_id") != q.id)
    return pq_adc_topk(pq_encode(corpus, codebook, vec_col="vec"), codebook, q.vec, k=k)


def sq8_search(vecs: DataFrame, q: Query, k: int) -> DataFrame:
    """SQ8 int8-dot top-k ``(vec_id, idot, score_nano)`` over the corpus
    without the query row."""
    return sq8_dot_topk(sq8_encode(vecs.where(F.col("vec_id") != q.id)), q.vec, k=k)


@dataclass(frozen=True)
class IvfPq:
    """The stand-in IVF-PQ quantizers: query, probed list ids (1e15 grid)
    and the PQ codebook; the coarse centroids are ``query.low``."""

    query: Query
    probes: list[int]
    codebook: list[list[list[float]]]

    def encode(self, vecs: DataFrame) -> DataFrame:
        """``(vec_id, pq_code, cid)``: the row-local list id rides the SAME
        projection as the PQ encode — no codes<->assignment join."""
        cents = self.query.low
        staged = with_nearest_centroid(vecs, cents, len(cents))
        return pq_encode(staged, self.codebook, vec_col="vec", keep_cols=("cid",))

    def search(self, codes: DataFrame, k: int) -> DataFrame:
        """ADC top-k ``(vec_id, cid, adc_nano)`` over ``codes`` (vec_id,
        pq_code, cid) restricted to the probed lists, query row excluded;
        cid rides the top-k, never a join back onto the codes scan."""
        cand = codes.where(F.col("cid").isin(self.probes)).where(
            F.col("vec_id") != self.query.id
        )
        topk = pq_adc_topk(
            cand, self.codebook, self.query.vec, k=k, keep_cols=("cid",)
        )
        return topk.select("vec_id", "cid", "adc_nano")


def ivf_pq_standin(
    vecs: DataFrame, query_id: int, n_lists: int, n_probe: int, m: int, ksub: int
) -> IvfPq:
    """The IVF-PQ stand-in quantizers from ONE bounded collect: the query
    row and the ``n_lists`` lowest-id vectors, which serve as the coarse
    centroids (ids must be exactly ``0..n_lists-1``) AND, sliced, as the
    PQ codebook — ``pq_codebook``'s ``ksub`` lowest-id vectors are these
    same rows, so the values are identical with one collect fewer."""
    q = fetch_query(vecs, query_id, n_lists)
    if [c for c, _ in q.low] != list(range(n_lists)):
        raise ValueError(f"need centroid ids 0..{n_lists - 1} in the corpus")
    cb = pq_codebook_from_rows([cv for _, cv in q.low], m, ksub)
    return IvfPq(q, probe_lists(q.low, q.vec, n_probe, grid=True), cb)


def ivf_pq_index_search(
    vecs: DataFrame,
    ix: IvfPq,
    table: str,
    k: int,
    increment: Column | None = None,
) -> DataFrame:
    """IVF-PQ top-k ``(vec_id, cid bigint, adc_nano)`` against a PERSISTED
    index: ``table`` holds ``(vec_id, pq_code)`` hive-partitioned on the
    list id ``cid``, written once per (session, corpus) — one file per
    list — so query time scans only the probed partitions (a static IN
    PartitionFilter). Rows matching ``increment`` stay out of the table
    and are encoded per run with the same frozen quantizers, then unioned
    into the probed scan: the top-k over history ∪ increment equals the
    full-corpus top-k."""
    spark = vecs.sparkSession
    if not spark.catalog.tableExists(table):
        history = vecs if increment is None else vecs.where(~increment)
        write_partitioned_table(
            ix.encode(history).repartition(F.col("cid")),
            table,
            partition_cols=("cid",),
        )
    codes = spark.table(table).select("vec_id", "pq_code", "cid")
    if increment is not None:
        codes = codes.unionByName(ix.encode(vecs.where(increment)))
    # hive partition discovery types cid as INT; the oracle's is BIGINT
    return ix.search(codes, k).withColumn("cid", F.col("cid").cast("long"))


def ivf_pq_residual_search(
    vecs: DataFrame,
    q: Query,
    cents: list[list[float]],
    n_probe: int,
    m: int,
    ksub: int,
    max_iter: int,
    k: int,
) -> DataFrame:
    """Residual IVFADC top-k ``(vec_id, cid bigint, adc_nano)`` over trained
    coarse centroids ``cents`` (row i = list i): PQ codebooks trained on
    the residuals (vec - assigned centroid, ``max_iter`` Lloyd rounds,
    exact fixpoint stop) and one query LUT per probed list, since the
    query residual differs per list — n_probe LUTs of m*ksub longs."""
    pairs = list(enumerate(cents))
    # persisted: the residual table feeds the PQ trainer's exploded
    # subvector build AND the encoder. Assignment and the residual
    # subtract are ROW-LOCAL (with_nearest_centroid + zip_with against
    # the centroid literal indexed by cid): one projection, no exchange.
    residuals = persist(
        with_nearest_centroid(vecs, pairs, len(cents)).select(
            "vec_id",
            "cid",
            F.zip_with(
                F.col("vec"),
                F.element_at(lit_double_matrix(cents), F.col("cid") + 1),
                lambda a, b: a - b,
            ).alias("vec"),
        )
    )
    rcb = pq_train_codebook(
        residuals.select("vec_id", "vec"),
        m=m,
        ksub=ksub,
        max_iter=max_iter,
        tol=0.0,
        vec_col="vec",
    )
    renc = persist(pq_encode(residuals, rcb, vec_col="vec", keep_cols=("cid",)))
    per_list = []
    for c in probe_lists(pairs, q.vec, n_probe, grid=True):
        qr = [x - y for x, y in zip(q.vec, cents[c])]
        part = renc.where(
            (F.col("cid") == c) & (F.col("vec_id") != q.id)
        ).select("vec_id", "pq_code")
        per_list.append(
            pq_adc_topk(part, rcb, qr, k=k).select(
                "vec_id", F.lit(c).cast("long").alias("cid"), "adc_nano"
            )
        )
    union = reduce(DataFrame.unionByName, per_list)
    return union.orderBy("adc_nano", "vec_id").limit(k)


# --- audits -------------------------------------------------------------------


def _dot_lit(vec_col: Column, qv: list[float]) -> Column:
    """Unrolled index-order dot product against a literal query — the
    left-assoc term chain replays DuckDB's list_aggregate(...,'sum')
    sequential fold bit-for-bit (the ``_sub_d2`` convention)."""
    terms = None
    for i, c in enumerate(qv):
        t = F.element_at(vec_col, i + 1) * F.lit(float(c))
        terms = t if terms is None else terms + t
    return terms


def true_nano(q: Query, metric: str = "l2") -> Column:
    """The exact distance from ``vec`` to the query on the 1e9 integer
    grid, as ``true_nano``: squared L2 (``"l2"``) or inner product
    (``"ip"``), both unrolled index-order folds the oracles replay."""
    v = F.col("vec")
    x = _dot_lit(v, q.vec) if metric == "ip" else _sub_d2(v, 0, q.vec)
    return F.floor(x * F.lit(1e9) + F.lit(0.5)).cast("long").alias("true_nano")


def with_true_nano(
    topk: DataFrame, vecs: DataFrame, q: Query, order: Column | str, metric: str = "l2"
) -> DataFrame:
    """``topk`` plus its ``true_nano`` audit, ordered by ``order`` then id:
    only the k winners join back to the raw vectors."""
    return (
        topk.join(vecs, on="vec_id")
        .select(*topk.columns, true_nano(q, metric))
        .orderBy(order, "vec_id")
    )


def exact_topk(
    vecs: DataFrame, q: Query, k: int, metric: str = "l2"
) -> DataFrame:
    """Exact top-k ``(vec_id, true_nano)`` of the corpus without the query
    row: smallest squared L2 first, or largest inner product first."""
    key = F.col("true_nano").desc() if metric == "ip" else F.col("true_nano")
    return (
        vecs.where(F.col("vec_id") != q.id)
        .select("vec_id", true_nano(q, metric))
        .orderBy(key, "vec_id")
        .limit(k)
    )


def _recall(n: Column, k: int) -> Column:
    return floor_round(n.cast("double") / F.lit(k), 4)


def _overlap(approx: DataFrame, exact: DataFrame, name: str) -> DataFrame:
    hits = approx.select("vec_id").join(exact, on="vec_id")
    return hits.agg(F.count("*").alias(name))


def recall_report(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """One row ``(k, n_overlap, recall)``: how many of the exact top-k
    the approximate top-k found."""
    n = F.col("n_overlap")
    return _overlap(approx, exact, "n_overlap").select(
        F.lit(k).cast("long").alias("k"), n, _recall(n, k).alias("recall")
    )


def trained_vs_standin(
    trained: DataFrame, standin: DataFrame, exact: DataFrame, k: int
) -> DataFrame:
    """One row: recall@k of a trained-quantizer search and of the stand-in
    search against the same exact top-k, and the trained gain."""
    nt, ns = F.col("n_overlap_trained"), F.col("n_overlap_standin")
    return (
        _overlap(trained, exact, "n_overlap_trained")
        .crossJoin(_overlap(standin, exact, "n_overlap_standin"))
        .select(
            F.lit(k).cast("long").alias("k"),
            nt,
            _recall(nt, k).alias("recall_trained"),
            ns,
            _recall(ns, k).alias("recall_standin"),
            (nt - ns).cast("long").alias("trained_gain"),
        )
    )
