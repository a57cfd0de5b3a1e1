"""Unigram-LM (SentencePiece-style) tokenizer training via hard-EM.

The second of the two classical subword-tokenizer trainers (Kudo 2018,
arXiv:1804.10959), complementing ``operators/bpe.py``'s merge-based BPE:
instead of greedily growing merges, unigram LM starts from a LARGE
candidate piece inventory and alternates (E) Viterbi-segmenting every
word under the current piece costs with (M) re-estimating piece
probabilities from the segmentation counts, pruning pieces the Viterbi
step stopped using. Distributed the way it must be at corpus scale:

1. The corpus collapses ONCE to a (word, frequency) vocabulary — the
   only corpus-scale aggregation (at 100 TB: ~10^13 tokens but ~10^7
   distinct words).
2. Candidate seeding is one substring-explode + hash-aggregate over the
   vocabulary; the kept inventory (all single characters + the top-K
   multi-character substrings) is the ONLY driver-side state, K+|chars|
   rows per round — the artifact unigram training exists to produce.
3. Each hard-EM round broadcasts the piece-cost table as a literal map
   and Viterbi-segments every word with a Catalyst ``aggregate`` fold —
   pure JVM expression work, zero Python in the per-word loop — then
   re-counts piece usage with one vocab-sized hash-aggregate shuffle.

Determinism across engines (the DuckDB oracle replays every round):
piece costs are integer micro-nats ``floor(1e6 * ln(total / count))``
(both engines evaluate glibc ``ln`` on identical IEEE doubles), and the
Viterbi DP minimizes the STRUCT (cost, segmentation-string) — byte-order
lexicographic on ties — so the chosen segmentation is a pure function of
the data on both sides.

The reference has no tokenizer-training surface (SURVEY.md §2
north-star extension, alongside ``operators/bpe.py``).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.operators.state import local_checkpoint

__all__ = [
    "WORD_MAX_LEN",
    "PIECE_MAX_LEN",
    "COST_SCALE",
    "word_vocab",
    "substring_counts",
    "seed_pieces",
    "piece_costs",
    "cost_map_expr",
    "viterbi_expr",
    "unigram_train",
    "unigram_segment",
]

# Words longer than this are excluded from training (and from the apply
# surface): the DuckDB oracle unrolls the Viterbi DP one stage per
# character position, so the bound must be a shared compile-time constant.
WORD_MAX_LEN = 12
# Maximum candidate piece length — each DP position looks back this far.
PIECE_MAX_LEN = 4
# Cost grid: integer micro-nats. Coarse enough that a cross-libm 1-ulp
# ``ln`` difference cannot flip the floor except on a ~1e-10-wide boundary
# (the same accepted-risk grid class as the kmeans/PQ assignment grids,
# mechanically audited by scripts/audit_round6.py for the 6dp family).
COST_SCALE = 1_000_000
# Sentinel path cost for invalid DP candidates (missing piece / lookback
# past the word start): far above any real path (12 positions x ~4e7
# micro-nats max), yet 12 chained sentinels stay well under 2^63.
_UNREACHABLE_COST = 1 << 50


def word_vocab(
    wc: DataFrame,
    term_col: str = "term",
    freq_col: str = "n",
    word_max_len: int = WORD_MAX_LEN,
) -> DataFrame:
    """(word, freq) -> the training vocabulary (term, n).

    Same ``^[a-z]+$`` restriction as ``bpe.char_vocab`` (clean lowercase
    word types), plus the DP length bound shared with the oracle.
    """
    return wc.where(
        F.col(term_col).rlike("^[a-z]+$")
        & (F.length(term_col) <= F.lit(word_max_len))
    ).select(F.col(term_col).alias("term"), F.col(freq_col).alias("n"))


def substring_counts(
    vocab: DataFrame, max_piece_len: int = PIECE_MAX_LEN
) -> DataFrame:
    """All substrings of length 1..max_piece_len over (term, n), counted
    with multiplicity and weighted by word frequency — the unigram
    candidate-seeding aggregation (one explode + one hash aggregate)."""
    pieces = vocab.select(
        "n",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("term")),
                    # substr truncates at the word end, so the piece at
                    # 0-based index i is valid iff its length is exactly
                    # i+1 — truncated overlong pieces drop out.
                    lambda st: F.filter(
                        F.transform(
                            F.sequence(F.lit(1), F.lit(max_piece_len)),
                            lambda pl: F.substr("term", st, pl),
                        ),
                        lambda p, i: F.length(p) == i + F.lit(1),
                    ),
                )
            )
        ).alias("piece"),
    )
    return pieces.groupBy("piece").agg(F.sum("n").alias("cnt"))


def seed_pieces(
    vocab: DataFrame,
    max_piece_len: int = PIECE_MAX_LEN,
    top_multi: int = 40,
) -> list[tuple[str, int]]:
    """The initial piece inventory: EVERY single character (coverage —
    Viterbi must always be able to segment) plus the ``top_multi``
    multi-character substrings by (count DESC, piece ASC) — the same
    total order the oracle's LIMIT uses. Driver state: K+|chars| rows.

    ONE aggregate + collect: the substring-count table is HARD-bounded
    driver state (all ``^[a-z]+$`` substrings of length <= 4: at most
    26 + 26^2 + 26^3 + 26^4 = 475,254 keys at ANY corpus scale), and the
    old char-filter/TakeOrdered union re-ran the whole substring
    aggregate under BOTH branches. The char filter and the top-K
    selection are pure Python over the collected table with the same
    total order (ASCII pieces — Python str order == Spark binary string
    order)."""
    rows = [
        (r["piece"], int(r["cnt"]))
        for r in substring_counts(vocab, max_piece_len).collect()
    ]
    chars = [(p, c) for p, c in rows if len(p) == 1]
    multi = sorted(
        ((p, c) for p, c in rows if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[:top_multi]
    return sorted(chars + multi)


def piece_costs(counts: list[tuple[str, int]]) -> list[tuple[str, int, int]]:
    """(piece, count) -> (piece, count, cost) with integer micro-nat costs
    ``floor(1e6 * ln(total / count))``. Driver-side on the bounded
    inventory; the double division and glibc ``ln`` are evaluated the
    same way the DuckDB oracle evaluates them."""
    total = sum(c for _, c in counts)
    # float(total) FIRST, then divide: SQL evaluates CAST(T AS DOUBLE)/c,
    # and Python's exact int/int true-division would diverge past 2^53.
    return [
        (p, c, math.floor(1_000_000.0 * math.log(float(total) / c)))
        for p, c in counts
    ]


def cost_map_expr(pieces: list[tuple[str, int, int]]) -> Column:
    """The broadcast piece-cost table as a literal map column (bounded:
    K+|chars| entries — the same shape as BPE's merge-table literals).
    Built as ONE parsed SQL string: the Column-by-Column ``create_map``
    form cost 2 Py4J round trips per entry PER TRAINING ROUND
    (functions/vectors.lit_str_long_map)."""
    from data_algorithms_with_pyspark_spark.functions.vectors import (
        lit_str_long_map,
    )

    return lit_str_long_map(
        (piece, cost) for piece, _, cost in sorted(pieces)
    )


def viterbi_expr(
    term: Column | str,
    cost_map: Column,
    max_piece_len: int = PIECE_MAX_LEN,
) -> Column:
    """Minimum-cost segmentation of ``term`` under ``cost_map`` as a
    Catalyst ``aggregate`` fold -> struct(cost BIGINT, seg STRING).

    DP over character positions: dp[i] = min over piece lengths pl of
    dp[i-pl] + cost(term[i-pl+1 .. i]), minimizing the (cost, seg) struct
    so cost ties break on the segmentation string's byte order — the
    identical total order the oracle's row_number() replay uses.

    The fold is deliberately NULL-free: missing pieces and short-prefix
    lookbacks carry a sentinel cost (2^50, orders of magnitude above any
    real path) instead of NULL structs — Spark types the whole
    ArrayAggregate from the zero element, so a non-nullable zero plus
    NULL step results makes codegen skip null checks and NPE (observed).
    A word whose every path is sentinel-priced (possible only if the
    inventory lost a character) comes back as NULL from the final
    cost-bound check.
    """
    t = F.col(term) if isinstance(term, str) else term
    big = F.lit(_UNREACHABLE_COST).cast("long")
    init = F.array(
        F.struct(
            F.lit(0).cast("long").alias("cost"), F.lit("").alias("seg")
        )
    )

    def step(acc: Column, i: Column) -> Column:
        cands = []
        for pl in range(1, max_piece_len + 1):
            piece = F.substr(t, i - F.lit(pl) + 1, F.lit(pl))
            pc = F.coalesce(F.element_at(cost_map, piece), big)
            # Clamped index keeps the lookup in-bounds (hence non-NULL);
            # the i >= pl guard prices short-prefix lookbacks out instead.
            prev = F.get(acc, F.greatest(i - pl, F.lit(0)))
            guard = F.when(i >= pl, F.lit(0).cast("long")).otherwise(big)
            cands.append(
                F.struct(
                    (prev.getField("cost") + pc + guard).alias("cost"),
                    F.when(i == pl, piece)
                    .otherwise(
                        F.concat(prev.getField("seg"), F.lit(" "), piece)
                    )
                    .alias("seg"),
                )
            )
        return F.concat(acc, F.array(F.least(*cands)))

    dp = F.aggregate(F.sequence(F.lit(1), F.length(t)), init, step)
    final = F.get(dp, F.length(t))
    return F.when(final.getField("cost") < big, final)


def unigram_train(
    vocab: DataFrame,
    iters: int = 2,
    max_piece_len: int = PIECE_MAX_LEN,
    top_multi: int = 40,
) -> list[tuple[str, int, int]]:
    """Hard-EM unigram-LM training over a (term, n) vocabulary.

    Returns the final inventory as (piece, count, cost) where ``count``
    is the count that parameterized ``cost`` at the final re-estimation
    (Laplace-smoothed usage ``viterbi_count + 1``; the seed round uses
    raw substring counts). Per round: one literal-map broadcast, one
    vocab-sized Viterbi scan (pure Catalyst), one hash-aggregate usage
    count collected to the driver (bounded by the inventory size), and a
    prune — multi-character pieces the Viterbi step stopped using are
    dropped; single characters are never pruned (coverage invariant).

    Raises if any word fails to segment: silently dropping its counts
    would desynchronize the fixed-round oracle replay (same contract as
    ``bpe_train``'s exhaustion guard).
    """
    vocab = local_checkpoint(vocab)
    pieces = piece_costs(seed_pieces(vocab, max_piece_len, top_multi))
    for _ in range(iters):
        seg = vocab.select(
            "n",
            viterbi_expr(F.col("term"), cost_map_expr(pieces), max_piece_len)
            .getField("seg")
            .alias("seg"),
        )
        # A failed segmentation (NULL seg) must surface, not vanish:
        # explode(split(NULL)) silently drops the row, so coalesce to a
        # one-NULL-piece array that the guard below catches.
        usage = {
            r["piece"]: int(r["used"])
            for r in (
                seg.select(
                    "n",
                    F.explode(
                        F.coalesce(
                            F.split("seg", " "),
                            F.array(F.lit(None).cast("string")),
                        )
                    ).alias("piece"),
                )
                .groupBy("piece")
                .agg(F.sum("n").alias("used"))
                .collect()
            )
        }
        if None in usage or "" in usage:
            raise ValueError("unigram_train: a word failed to segment")
        kept = [
            (p, usage.get(p, 0) + 1)
            for p, _, _ in pieces
            if len(p) == 1 or usage.get(p, 0) > 0
        ]
        pieces = piece_costs(sorted(kept))
    return pieces


def unigram_segment(
    df: DataFrame,
    pieces: list[tuple[str, int, int]],
    term_col: str = "term",
    max_piece_len: int = PIECE_MAX_LEN,
) -> DataFrame:
    """Apply a trained inventory: adds struct column ``v`` (cost, seg) —
    the tokenize step for text given the trained artifact. Pure column
    composition, zero Python per row."""
    return df.withColumn(
        "v",
        viterbi_expr(F.col(term_col), cost_map_expr(pieces), max_piece_len),
    )
