"""Iterative graph algorithms (driver-loop + checkpoint pattern).

The reference explicitly defers iterative algorithms
(`/root/reference/src/chapter_06/README.md:160-163` lists PageRank and
connected components as "beyond these basics"); this module supplies them
with the canonical Spark pattern: a driver-side loop over DataFrame
transformations with ``localCheckpoint()`` every iteration to truncate the
lineage (without it, plan depth grows linearly and both planning time and
recovery cost blow up — the classic iterative-Spark failure mode). The
checkpoints go through ``state.local_checkpoint``: the caller's
``state.scope()`` frees their blocks when it exits. An operator that runs
an action every round releases round i-1 as soon as that action has
materialized round i, so a scope holds two rounds, not all of them.

Scale notes: each iteration is one shuffle keyed on vertex id. Ranks and
labels are (id, value) pairs — the 100 TB-scale state is O(V), never O(E);
edges stream through joins and are never collected or re-materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.operators.state import (
    local_checkpoint,
    release,
)

__all__ = [
    "connected_components",
    "connected_components_star",
    "label_propagation",
    "pagerank",
    "shortest_paths",
]


def _undirected(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _release_behind(prev: DataFrame, cur: DataFrame) -> None:
    """Release round ``prev`` once ``cur``, the checkpointed round computed
    from it, holds every partition (the round's action materialized it);
    until then ``prev`` stays held for the scope."""
    if cur._jdf.queryExecution().logical().rdd().isCheckpointed():
        release(prev)


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Min-label propagation; returns (id, component = min vertex id reachable).

    Converges in O(diameter) rounds. Each round: neighbors' current labels
    are min-merged into each vertex's label (one groupBy shuffle on id).
    Convergence is detected from the strictly-decreasing global label sum —
    one cheap scalar action per round, no full-table comparison join.
    """
    und = local_checkpoint(_undirected(edges))
    labels = local_checkpoint(
        und.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
    )
    prev_sum = labels.agg(F.sum("component")).collect()[0][0]
    for _ in range(max_iter):
        neighbor_labels = und.join(
            labels, und.src == labels.id, "inner"
        ).select(F.col("dst").alias("id"), "component")
        prev, labels = labels, local_checkpoint(
            labels.union(neighbor_labels)
            .groupBy("id")
            .agg(F.min("component").alias("component")),
            eager=False,
        )
        # the convergence scalar below materializes the lazy checkpoint:
        # one job per round instead of checkpoint-pass + collect-pass
        cur_sum = labels.agg(F.sum("component")).collect()[0][0]
        _release_behind(prev, labels)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def pagerank(
    edges: DataFrame, iterations: int = 10, damping: float = 0.85
) -> DataFrame:
    """Standard PageRank over a directed edge list; returns (id, rank).

    rank_{t+1}(v) = (1-d)/N + d * (sum of rank_t(u)/outdeg(u) over in-edges
    + dangling mass / N). Deterministic up to float addition order; fixed
    iteration count (no tolerance test) so results are reproducible.
    """
    edges = local_checkpoint(edges.select("src", "dst"))
    vertices = local_checkpoint(
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    n = vertices.count()
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_deg")
    )
    # (id, out_deg) with 0 for dangling vertices; broadcast-sized state is
    # avoided — everything stays keyed on id.
    deg = vertices.join(out_deg, on="id", how="left").fillna(0, subset=["out_deg"])
    ranks = vertices.select("id", F.lit(1.0 / n).alias("rank"))
    prev = None
    for _ in range(iterations):
        with_deg = ranks.join(deg, on="id")
        # summed over every joined row, not over a dangling-only filter:
        # the join then cannot be pruned to empty, so this collect reads
        # (and materializes) every partition of ``ranks``; non-dangling
        # rows add NULL, which sum skips
        dangling = (
            with_deg.agg(
                F.coalesce(
                    F.sum(F.when(F.col("out_deg") == 0, F.col("rank"))),
                    F.lit(0.0),
                )
            )
            .collect()[0][0]
        )
        if prev is not None:
            _release_behind(prev, ranks)
        contribs = (
            edges.join(with_deg.where(F.col("out_deg") > 0), edges.src == F.col("id"))
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("out_deg")).alias("contrib"),
            )
            .groupBy("id")
            .agg(F.sum("contrib").alias("in_rank"))
        )
        prev, ranks = ranks, local_checkpoint(
            vertices.join(contribs, on="id", how="left")
            .fillna(0.0, subset=["in_rank"])
            .select(
                "id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.col("in_rank") + F.lit(dangling / n))
                ).alias("rank"),
            ),
            eager=False,
        )
    return ranks


def shortest_paths(
    edges: DataFrame, source: int, max_hops: int = 10
) -> DataFrame:
    """Hop-bounded single-source shortest paths (BFS relaxation) over a
    directed edge list; returns (id, distance) for vertices reachable from
    ``source`` in <= max_hops hops.

    Each round relaxes the current distance table through the edges (one
    join + one min-aggregate shuffle, both keyed on vertex id) and stops
    early when no distance improves — detected from the (count, sum)
    pair, two cheap scalar actions, no full-table comparison join. The
    hop bound makes the result deterministic and oracle-reproducible
    even on cyclic graphs.
    """
    e = local_checkpoint(edges.select("src", "dst"))
    dist = local_checkpoint(
        e.sparkSession.createDataFrame([(source, 0)], ["id", "distance"])
        .select(F.col("id").cast("long"), F.col("distance").cast("long"))
    )
    signature = (1, 0)
    for _ in range(max_hops):
        relaxed = dist.join(e, dist["id"] == e["src"]).select(
            F.col("dst").alias("id"), (F.col("distance") + 1).alias("distance")
        )
        prev, dist = dist, local_checkpoint(
            dist.union(relaxed)
            .groupBy("id")
            .agg(F.min("distance").alias("distance")),
            eager=False,
        )
        row = dist.agg(
            F.count("*").alias("n"), F.sum("distance").alias("s")
        ).collect()[0]
        _release_behind(prev, dist)
        new_signature = (row["n"], row["s"])
        if new_signature == signature:
            break
        signature = new_signature
    return dist


def label_propagation(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """Synchronous label-propagation community detection (LPA); returns
    (id, label) after a FIXED number of rounds.

    Each round every vertex adopts the most frequent label among its
    neighbors (undirected view), ties broken by the smallest label — the
    classic Raghavan-Albert-Kumara update made deterministic: synchronous
    updates + min tie-break + a fixed round count (synchronous LPA can
    oscillate on bipartite structures, so a convergence test would be
    nondeterministic across graphs; a fixed count is also what lets a
    foreign engine replay the result exactly). All state is integer —
    labels are vertex ids, votes are counts — so the replay is exact with
    no float discipline needed.

    Per round: one join keyed on vertex id + one (id, label) count
    aggregate + one per-id argmax. The argmax is max(struct(cnt, -label))
    — a SortAggregate, measured FASTER than the rank-1-window rewrite for
    this shape (see tests/test_plan_lint.py); state is O(V), votes are
    O(E) in flight but never materialized. localCheckpoint each round
    truncates the lineage (the iterative-Spark failure mode). No round
    runs an action, so no round is known to be materialized before the
    final one: every round's checkpoint stays held until the caller's
    scope exits.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    # distinct() matters here (unlike min-label CC): when both (a,b) and
    # (b,a) exist as directed edges, the symmetrized view would hold the
    # pair twice and the neighbor would get TWO votes.
    und = local_checkpoint(_undirected(edges).distinct())
    labels = local_checkpoint(
        und.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
    )
    for _ in range(iterations):
        votes = und.join(labels, und["dst"] == labels["id"], "inner").select(
            F.col("src").alias("id"), "label"
        )
        labels = local_checkpoint(
            votes.groupBy("id", "label")
            .agg(F.count("*").alias("cnt"))
            .groupBy("id")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))
                ).alias("m")
            )
            .select("id", (-F.col("m.neg")).alias("label")),
            eager=False,
        )
    return labels


def connected_components_star(
    edges: DataFrame, max_rounds: int = 30
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — O(log n) ROUNDS regardless of graph diameter,
    where min-label propagation (``connected_components``) needs
    O(diameter) rounds and loses badly on chain-like graphs (see the
    chain benchmark in PLANS.md). This is the algorithm a 100 TB edge
    list wants: each round is two grouped aggregates + joins keyed on
    vertex id, and the edge set monotonically contracts toward stars.

    large-star: every vertex u points its LARGER neighbors at
    ``m = min(N(u) + {u})``; small-star: re-keyed to the larger
    endpoint, u points its smaller-or-equal neighbors and itself at m.
    At fixpoint every edge is (v, min-of-component); returns
    (id, component) with component = min vertex id reachable —
    identical output to ``connected_components`` (property-tested).

    Convergence is detected from an order-insensitive edge-set signature
    (count + sum + xor-hash), one scalar action per round; the final
    state is the unique star fixpoint, so the round count never affects
    the result. Self-loops produced by contraction are dropped each
    round; localCheckpoint truncates lineage.
    """
    sym = local_checkpoint(
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("hi"),
            F.least("src", "dst").alias("lo"),
        )
        .distinct()
    )
    all_ids = local_checkpoint(
        sym.select(F.col("hi").alias("id"))
        .union(sym.select(F.col("lo").alias("id")))
        .distinct()
    )

    def signature(e: DataFrame):
        row = e.agg(
            F.count("*").alias("n"),
            # xor-fold, not sum: summing 64-bit hashes overflows under
            # ANSI arithmetic; xor is order-insensitive and closed.
            F.coalesce(
                F.expr("bit_xor(xxhash64(hi, lo))"), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    e = sym
    sig = signature(e)
    for _ in range(max_rounds):
        # --- large-star: group by EVERY endpoint (symmetric view) -------
        und = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        m = und.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            und.join(m, on="u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("hi"), F.col("m").alias("lo")
            )  # v > u >= m
            .where(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # --- small-star: key every edge at its larger endpoint ----------
        und2 = large.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        m2 = und2.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        small = local_checkpoint(
            und2.join(m2, on="u")
            .select("u", "v", "m")
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("v").alias("a"), F.col("m").alias("b")
                        ),
                        F.struct(
                            F.col("u").alias("a"), F.col("m").alias("b")
                        ),
                    )
                ).alias("p")
            )
            .select(
                F.greatest("p.a", "p.b").alias("hi"),
                F.least("p.a", "p.b").alias("lo"),
            )
            .where(F.col("hi") != F.col("lo"))
            .distinct(),
            eager=False,
        )
        new_sig = signature(small)
        _release_behind(e, small)
        e = small
        if new_sig == sig:
            break
        sig = new_sig
    # fixpoint: edges are (member, root). min-aggregate instead of a raw
    # join so an un-converged state (max_rounds hit early) degrades to a
    # still-correct-per-row upper bound rather than duplicating rows.
    roots = (
        e.select(F.col("hi").alias("id"), F.col("lo").alias("component"))
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )
    return (
        all_ids.join(roots, on="id", how="left")
        .select(
            "id",
            F.coalesce(F.col("component"), F.col("id")).alias("component"),
        )
    )
