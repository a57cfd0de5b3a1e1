"""WordPiece tokenizer training + greedy longest-match segmentation.

The third classical subword-tokenizer trainer (Schuster & Nakajima 2012;
the BERT tokenizer, Devlin et al. 2019 §4 / the HuggingFace `tokenizers`
WordPiece trainer), completing the trio with ``operators/bpe.py`` (merge
by raw pair count) and ``operators/unigram.py`` (prune by likelihood):
WordPiece merges the adjacent symbol pair maximizing the LIKELIHOOD gain

    score(l, r) = count(l r) / (count(l) * count(r))

— i.e. the pair whose merge most increases a unigram LM's corpus
likelihood — and segments NEW text with greedy longest-match-first
("maximal munch") instead of replaying merges. Non-word-initial symbols
carry the ``##`` continuation prefix, so 'cat' enters training as
['c', '##a', '##t'] and a merge of ('##a', '##t') yields '##at'.

Training shape (identical to the BPE trainer's, the corpus-scale
analysis in ``operators/bpe.py`` applies verbatim):

1. The corpus collapses ONCE to a (word, frequency) vocabulary.
2. The vocabulary is collected to the driver ONCE
   (``bpe.collect_vocab``, capped at ``bpe.VOCAB_MAX`` words) — the
   trainer's only Spark action.
3. Each merge round runs on the driver in ``bpe.train_merges``, the loop
   both trainers share: the likelihood score + argmax (``_best_pair``)
   over adjacent-pair and single-symbol counts weighted by word frequency
   (exact Python integers), then every word holding the winning pair is
   rewritten by ``bpe.merge_pair_py`` — the same greedy left-to-right
   fold BPE uses, with the ``##``-stripped merged token — and the counts
   are updated for those words only.

Determinism across engines (the DuckDB oracle replays every round): the
score is quantized to an integer grid ``floor(CAST(p AS DOUBLE) /
CAST(l*r AS DOUBLE) * 1e12)`` — integer-to-double casts and one IEEE
division/multiplication are exactly rounded identically in Spark and
DuckDB — with ties broken on the pair string ascending (byte order).

Greedy segmentation is a Catalyst ``aggregate`` fold over character
positions (state = (next-position, segmentation)); each step takes the
LONGEST vocabulary piece matching at the cursor, which is WordPiece's
apply semantics and deliberately NOT BPE merge replay. Words are bounded
at ``WORD_MAX_LEN`` because the DuckDB oracle unrolls one greedy step
per position (same shared-constant contract as the unigram Viterbi DP).

The reference has no tokenizer-training surface (SURVEY.md §2
north-star extension).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.operators.bpe import train_merges
from data_algorithms_with_pyspark_spark.operators.unigram import WORD_MAX_LEN

__all__ = [
    "SCORE_SCALE",
    "wordpiece_vocab",
    "wordpiece_train",
    "wordpiece_vocab_pieces",
    "greedy_segment_expr",
    "wordpiece_segment",
]

# Integer score grid: floor(p / (l*r) * 1e12). Pair probabilities are
# >= 1/total^2 with total <= ~1e9 even at 100 TB word-vocab scale, so the
# grid keeps ~metric precision while staying far inside BIGINT.
SCORE_SCALE = 1_000_000_000_000

# The oracle computes count(l) * count(r) as a BIGINT.
_I64_MAX = (1 << 63) - 1

# Sentinel cursor for a word greedy matching failed on (possible only if
# the vocabulary lost a character): far past any real cursor, so the
# final `pos == length + 1` validity check rejects it.
_STUCK_POS = 1 << 20


def wordpiece_vocab(
    wc: DataFrame,
    term_col: str = "term",
    freq_col: str = "n",
    word_max_len: int = WORD_MAX_LEN,
) -> DataFrame:
    """(word, freq) -> (term, n, syms) with WordPiece continuation marks:
    'cat' -> ['c', '##a', '##t'].

    Same ``^[a-z]+$`` clean-word restriction as ``bpe.char_vocab`` plus
    the greedy-unroll length bound shared with the oracle (words longer
    than ``word_max_len`` are excluded from training AND apply — the
    bound is a compile-time constant on both engines).
    """
    chars = F.split(F.col(term_col), "")
    return wc.where(
        F.col(term_col).rlike("^[a-z]+$")
        & (F.length(term_col) <= F.lit(word_max_len))
    ).select(
        F.col(term_col).alias("term"),
        F.col(freq_col).alias("n"),
        F.transform(
            chars,
            lambda c, i: F.when(i == 0, c).otherwise(F.concat(F.lit("##"), c)),
        ).alias("syms"),
    )


def _strip_continuation(sym: str) -> str:
    return sym[2:] if sym.startswith("##") else sym


def _best_pair(
    pairs: dict[tuple[str, str], int], singles: dict[str, int]
) -> tuple[str, str, int, int] | None:
    """The round's argmax: (left, right, pair_count, score_q) maximizing
    (score_q, -"left right") — the exact total order the DuckDB oracle's
    ``ORDER BY score DESC, pair LIMIT 1`` uses (ASCII keys, so Python str
    comparison == byte order). None when no pair is left.

    ``pairs`` maps adjacent symbol pairs, ``singles`` single symbols, to
    their frequency-weighted counts. The score is the oracle's IEEE
    sequence ``floor(double(p) / double(l*r) * 1e12)``: int→double casts
    are round-to-nearest in both runtimes, and the division and
    multiplication are single correctly-rounded f64 ops. The oracle's
    ``l*r`` is a BIGINT, so a product past the signed 64-bit range raises
    a ``ValueError`` here rather than score a pair the oracle cannot."""
    best: tuple[int, str, int] | None = None  # (-score_q, pair, count)
    for (l, r), c in pairs.items():
        denom = singles[l] * singles[r]
        if denom > _I64_MAX:
            raise ValueError(
                f"WordPiece score denominator count({l!r}) * count({r!r}) "
                f"= {denom} overflows signed 64-bit"
            )
        score_q = math.floor(float(c) / float(denom) * float(SCORE_SCALE))
        key = (-score_q, f"{l} {r}", c)
        if best is None or key < best:
            best = key
    if best is None:
        return None
    left, right = best[1].split(" ", 1)
    return left, right, best[2], -best[0]


def wordpiece_train(
    vocab: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, int, int]], DataFrame]:
    """Learn ``n_merges`` WordPiece merges over a (term, n, syms)
    vocabulary.

    Returns (merges, final_vocab): merges as (merge_idx starting at 1,
    left, right, pair_count, score_q) in learned order, and the
    vocabulary with all merges applied, built from the trained driver
    table with the vocabulary's own schema. Ties break on (score_q DESC,
    pair ASC) — the same total order the DuckDB oracle's LIMIT uses.
    Raises on pair exhaustion (same contract as ``bpe_train``: silently
    returning fewer merges would desynchronize a fixed-round replay).
    """
    return train_merges(
        vocab, n_merges, _best_pair, lambda l, r: l + _strip_continuation(r)
    )


def wordpiece_vocab_pieces(
    vocab: DataFrame, merges: list[tuple[int, str, str, int, int]]
) -> list[str]:
    """The apply-time piece inventory: the initial alphabet (every
    word-initial character and ``##``-marked continuation character seen
    in training — bounded driver state, <= 2 * |charset| rows) plus the
    ``n_merges`` merged tokens, in deterministic sorted order. This is
    real WordPiece's vocabulary shape: alphabet + one entry per merge."""
    alphabet = [
        r["sym"]
        for r in vocab.select(F.explode("syms").alias("sym"))
        .distinct()
        .collect()
    ]
    produced = [l + _strip_continuation(r) for _, l, r, _, _ in merges]
    return sorted(set(alphabet) | set(produced))


def greedy_segment_expr(
    term: Column | str,
    pieces: list[str],
    word_max_len: int = WORD_MAX_LEN,
) -> Column:
    """Greedy longest-match-first WordPiece segmentation of ``term``
    under the piece inventory -> struct(n_pieces INT, seg STRING), NULL
    if the word cannot be segmented (impossible while the alphabet is
    covered, but contract-checked like the unigram fold).

    A Catalyst ``aggregate`` fold over character positions with state
    (pos, seg): each step matches the LONGEST piece at the cursor
    (word-initial pieces bare, continuations with the ``##`` prefix) via
    a filtered-sequence ``array_max`` over candidate lengths against the
    broadcast piece map — maximal munch, zero Python per row. Steps a
    finished word no-ops through. NULL-free for the same ArrayAggregate
    codegen reason documented on ``unigram.viterbi_expr``: failure is a
    sentinel cursor, never a NULL struct.

    Expression-size discipline (the srp_codes / pq_ann_topk lesson:
    big Catalyst trees cost SECONDS of one-time driver planning +
    janino codegen): multiply-referenced subexpressions — the matched
    length inside each step, the fold's final state outside it — are
    bound ONCE via single-element ``transform`` lambdas instead of
    being re-inlined per reference, which keeps the piece-map literal
    to one copy per step (measured 14.5 s -> sub-second first-call
    planning at the catalog operating point).
    """
    t = F.col(term) if isinstance(term, str) else term
    max_piece = max((len(_strip_continuation(p)) for p in pieces), default=1)
    # ONE parsed SQL string (vectors.lit_str_long_map rationale): the
    # Column-by-Column create_map cost 2 Py4J round trips per piece per
    # expression construction; membership tests only read isNotNull, so
    # the long value 1 is equivalent to the old int 1
    from data_algorithms_with_pyspark_spark.functions.vectors import (
        lit_str_long_map,
    )

    piece_map = lit_str_long_map((p, 1) for p in sorted(set(pieces)))
    init = F.array(
        F.struct(
            F.lit(1).cast("int").alias("pos"), F.lit("").alias("seg")
        )
    )

    def step(acc: Column, _i: Column) -> Column:
        st = F.element_at(acc, -1)
        pos = st.getField("pos")
        seg = st.getField("seg")

        def match_text(length: Column) -> Column:
            raw = F.substr(t, pos, length)
            return F.when(pos == 1, raw).otherwise(
                F.concat(F.lit("##"), raw)
            )

        best_len = F.array_max(
            F.filter(
                F.sequence(F.lit(1), F.lit(max_piece)),
                lambda pl: (pos + pl - 1 <= F.length(t))
                & F.element_at(piece_map, match_text(pl)).isNotNull(),
            )
        )

        def mk_next(bl: Column) -> Column:
            piece = match_text(bl)
            advanced = F.struct(
                (pos + bl).cast("int").alias("pos"),
                F.when(pos == 1, piece)
                .otherwise(F.concat(seg, F.lit(" "), piece))
                .alias("seg"),
            )
            stuck = F.struct(
                F.lit(_STUCK_POS).cast("int").alias("pos"), seg.alias("seg")
            )
            return (
                F.when(pos > F.length(t), st)  # finished: no-op through
                .when(bl.isNull(), stuck)
                .otherwise(advanced)
            )

        # Bind best_len (which embeds the piece-map filter) exactly once.
        next_st = F.get(F.transform(F.array(best_len), mk_next), 0)
        return F.concat(acc, F.array(next_st))

    folded = F.aggregate(
        F.sequence(F.lit(1), F.least(F.length(t), F.lit(word_max_len))),
        init,
        step,
    )

    def mk_out(final: Column) -> Column:
        ok = final.getField("pos") == F.length(t) + 1
        return F.when(
            ok,
            F.struct(
                F.size(F.split(final.getField("seg"), " ")).alias(
                    "n_pieces"
                ),
                final.getField("seg").alias("seg"),
            ),
        )

    # Bind the fold's terminal state exactly once (the fold is the
    # expensive subtree — inlining it per field reference multiplies
    # the whole expression).
    return F.get(F.transform(F.array(F.element_at(folded, -1)), mk_out), 0)


def wordpiece_segment(
    df: DataFrame,
    pieces: list[str],
    term_col: str = "term",
    word_max_len: int = WORD_MAX_LEN,
) -> DataFrame:
    """Apply a trained inventory: adds struct column ``v`` (n_pieces,
    seg) — the BERT-style tokenize step for new text given the trained
    artifact. Pure column composition, zero Python per row."""
    return df.withColumn(
        "v", greedy_segment_expr(F.col(term_col), pieces, word_max_len)
    )
