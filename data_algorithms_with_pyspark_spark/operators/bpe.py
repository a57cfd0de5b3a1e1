"""Byte-pair-encoding vocabulary training (one collect, driver-side merges).

The full tokenizer-training inner loop, distributed the way BPE is
actually trained at corpus scale (Sennrich et al. 2016, arXiv:1508.07909):

1. The corpus collapses ONCE to a (word, frequency) vocabulary — the only
   corpus-scale aggregation. Every later step works on the vocabulary,
   whose size tracks the language, not the corpus.
2. The vocabulary is collected to the driver ONCE (``collect_vocab``) —
   the trainer's only Spark action. Its (term, n, syms) rows are bounded
   sufficient statistics for every merge round: nothing after the word
   count needs the corpus. The collect is capped at ``VOCAB_MAX`` words
   (see ``collect_vocab`` for the measured cost), which covers a
   natural-language word vocabulary but not an unbounded one: a larger
   vocabulary raises before any merge.
3. Each merge round runs on the driver (``train_merges``): the winner
   under (count DESC, pair ASC) over frequency-weighted adjacent-pair
   counts (exact Python integers), then every word holding that pair is
   rewritten by ``merge_pair_py`` — the driver twin of the
   ``merge_pair_expr`` Catalyst fold that ``bpe_apply`` runs on new text
   — and the counts are updated for those words only. No per-round job,
   lineage or persisted relation.

Driver-side state is the vocabulary table, its pair counts and pair →
words index, and the merge table — ``n_merges`` rows, exactly the
artifact BPE training exists to produce.

The reference has no tokenizer-training surface (SURVEY.md §2 north-star
extension); ``plans/curation.py::bpe_pair_counts`` is round 1 of this loop
as a standalone query, and the DuckDB oracle replays the full loop with
the same greedy-merge semantics via non-overlapping string replacement.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "VOCAB_MAX",
    "char_vocab",
    "collect_vocab",
    "merge_pair_expr",
    "merge_pair_py",
    "train_merges",
    "bpe_train",
    "bpe_apply",
]

# Most words the trainers collect to the driver (collect_vocab docstring).
VOCAB_MAX = 1_000_000


def char_vocab(
    wc: DataFrame, term_col: str = "term", freq_col: str = "n"
) -> DataFrame:
    """(word, freq) -> (term, n, syms = array of single characters).

    Words are restricted to ``^[a-z]+$`` — classic BPE trains on clean
    lowercase word types; punctuation-bearing tokens would otherwise leak
    separator characters into the symbol space.
    """
    return wc.where(F.col(term_col).rlike("^[a-z]+$")).select(
        F.col(term_col).alias("term"),
        F.col(freq_col).alias("n"),
        F.split(F.col(term_col), "").alias("syms"),
    )


def merge_pair_expr(
    syms: Column, left: str, right: str, merged: str | None = None
) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) symbols: the
    exact BPE apply step, as a Catalyst ``aggregate`` fold.

    Fold invariant: if the accumulator's last symbol is ``left`` and the
    incoming symbol is ``right``, replace the last symbol with the merged
    token (which then cannot re-merge as ``left`` unless the merged token
    literally equals it — matching BPE's non-overlapping scan).

    ``merged`` overrides the produced token (default ``left + right``) —
    WordPiece's merge strips the ``##`` continuation prefix off the right
    symbol (``operators/wordpiece.py``). ``merge_pair_py`` is the driver
    twin the trainers run; a property test pins the two folds together.
    """
    merged = F.lit(left + right if merged is None else merged)
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def merge_pair_py(
    syms: list[str], left: str, right: str, merged: str | None = None
) -> list[str]:
    """Driver twin of ``merge_pair_expr``: the identical greedy
    left-to-right fold over a Python list (same invariant, same
    ``merged`` override), so the trainers rewrite their collected
    vocabulary exactly as the Catalyst fold rewrites a column."""
    token = left + right if merged is None else merged
    out: list[str] = []
    for s in syms:
        if out and out[-1] == left and s == right:
            out[-1] = token
        else:
            out.append(s)
    return out


def collect_vocab(vocab: DataFrame) -> list[tuple[str, int, list[str]]]:
    """A vocabulary of exactly the columns (term, n, syms) as a
    driver-side list of rows — the trainers' one Spark action.

    Collects through ``limit(VOCAB_MAX + 1)`` and raises a ``ValueError``
    naming ``VOCAB_MAX`` (read at call time) when the limit is hit, so an
    oversized vocabulary fails before any merge instead of exhausting the
    driver. Measured on 1e6 random ``^[a-z]+$`` words of 3-12 letters
    (4 vCPU, ``local[4]``, 10 merges): the collect takes ~14 s, and
    training peaks at 1.1 GB (BPE) / 1.4 GB (WordPiece) of Python RSS,
    with the JVM at 1.5 GB; at 1e5 words Python peaks at 0.23 / 0.27 GB.
    Python memory grows linearly with the word count, so 1e7 words would
    need over 10 GB.
    """
    cap = VOCAB_MAX
    rows = vocab.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"vocabulary has more than VOCAB_MAX={cap} words; the "
            "tokenizer trainers hold it on the driver"
        )
    return rows


def train_merges(
    vocab: DataFrame,
    n_merges: int,
    pick: Callable[[dict, dict], tuple | None],
    merged_of: Callable[[str, str], str],
) -> tuple[list[tuple], DataFrame]:
    """The driver-side merge loop both trainers run over a (term, n, syms)
    vocabulary: returns (merges, final_vocab).

    Each round ``pick(pairs, singles)`` gets the frequency-weighted
    adjacent-pair and single-symbol counts (exact Python integers) and
    returns the winner as (left, right, *stats), or None when no pair is
    left; merge k is recorded as (k, left, right, *stats), and every word
    holding the pair is rewritten by ``merge_pair_py`` with the token
    ``merged_of(left, right)``. Counts are kept up to date incrementally
    (Sennrich et al.'s index: each pair lists the words it has occurred
    in), so a round costs the words it rewrites plus one scan of the
    distinct pairs, not a walk over the whole vocabulary. The fold leaves
    no (left, right) adjacency behind, so the winner's list is dropped;
    stale entries in other lists rewrite nothing and are skipped.

    ``final_vocab`` is the trained table with the vocabulary's schema.
    Raises when the pairs run out before ``n_merges``: silently returning
    fewer merges would desynchronize any fixed-round replay.
    """
    vocab = vocab.select("term", "n", "syms")
    rows = collect_vocab(vocab)
    weight = [r[1] for r in rows]
    syms = [r[2] for r in rows]
    pairs: dict[tuple[str, str], int] = {}
    occurs: dict[tuple[str, str], int] = {}
    singles: dict[str, int] = {}
    where: dict[tuple[str, str], list[int]] = {}

    def tally(i: int, sign: int) -> None:
        n, s = weight[i] * sign, syms[i]
        for x in s:
            singles[x] = singles.get(x, 0) + n
        for p in zip(s, s[1:]):
            occ = occurs.get(p, 0) + sign
            if occ:
                occurs[p] = occ
                pairs[p] = pairs.get(p, 0) + n
            else:
                del occurs[p], pairs[p]
            if sign > 0:
                where.setdefault(p, []).append(i)

    for i in range(len(rows)):
        tally(i, 1)
    merges: list[tuple] = []
    for k in range(1, n_merges + 1):
        top = pick(pairs, singles)
        if top is None:
            raise ValueError(
                f"vocabulary exhausted after {k - 1} merges; "
                f"asked for {n_merges}"
            )
        left, right = top[0], top[1]
        merges.append((k, *top))
        token = merged_of(left, right)
        for i in set(where.pop((left, right))):
            new = merge_pair_py(syms[i], left, right, token)
            if new != syms[i]:
                tally(i, -1)
                syms[i] = new
                tally(i, 1)
    table = [(r[0], r[1], s) for r, s in zip(rows, syms)]
    # rows of the collected schema: skip the per-row type check
    final = vocab.sparkSession.createDataFrame(
        table, vocab.schema, verifySchema=False
    )
    return merges, final


def _top_pair(
    pairs: dict[tuple[str, str], int], singles: dict[str, int]
) -> tuple[str, str, int] | None:
    """BPE's winner: (left, right, count) minimizing (-count, "left
    right") — symbols are ASCII, so Python str order == Spark's binary
    order and the DuckDB oracle's."""
    if not pairs:
        return None
    (left, right), count = min(
        pairs.items(), key=lambda kv: (-kv[1], " ".join(kv[0]))
    )
    return left, right, count


def bpe_train(
    vocab: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges over a (term, n, syms) vocabulary.

    Returns (merges, final_vocab): merges as (merge_idx starting at 1,
    left, right, pair_count) in learned order — the tokenizer artifact —
    and the vocabulary with all merges applied (so callers can inspect or
    persist segmentations without replaying the loop).

    Ties break on the pair string "left right" ascending (byte order) —
    the same total order the DuckDB oracle uses — so training is
    deterministic across engines and partitionings. Raises if the
    vocabulary runs out of adjacent pairs before ``n_merges``
    (``train_merges``).
    """
    return train_merges(vocab, n_merges, _top_pair, lambda l, r: l + r)


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    syms_col: str = "syms",
) -> DataFrame:
    """Apply a learned merge table to symbol arrays, in merge order — the
    tokenize step for NEW text given a trained tokenizer. Pure column
    composition: n_merges nested folds, zero Python per row."""
    out = F.col(syms_col)
    for _, left, right, _ in merges:
        out = merge_pair_expr(out, left, right)
    return df.withColumn(syms_col, out)
