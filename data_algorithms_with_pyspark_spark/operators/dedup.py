"""Deduplication operators for LLM-data pipelines (north-star extension).

Five dedup families, each Spark-first and shuffle-conscious:

  exact          — content hash (md5 of normalized text) + hash-groupBy.
                   One shuffle on the hash key; at 100 TB this is the
                   canonical "group by fingerprint, keep min id" pass.
  minhash_lsh    — word-shingle MinHash signatures + banded LSH bucketing;
                   candidate pairs come from equi-joining band buckets, so
                   the quadratic all-pairs comparison never materializes.
  simhash        — 64-bit SimHash per document + banded candidate pairs
                   (hamming-distance style near-dup).
  ngram_jaccard  — exact Jaccard over distinct word n-gram shingles; brute
                   force all-pairs (correctness baseline / oracle-checkable),
                   to be fed LSH candidates at scale.
  embedding      — cosine near-dup over embedding vectors (see also
                   operators/similarity.py for the ANN scale path).

Everything is Catalyst expressions (hash functions, higher-order array
functions) — no Python UDFs, deterministic (fixed seed), so results are
reproducible run-to-run and across cluster sizes. Hash-based operators
take ``hash_fn``: "xxhash64" (default, JVM-intrinsic fast path) or "md5"
(engine-portable via ``md5_long60``, giving the whole MinHash/SimHash
family cross-engine value oracles — see plans/lsh_oracles.py).
"""

from __future__ import annotations

import random

import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.functions.text_functions import (
    normalize_text,
    words,
)
from data_algorithms_with_pyspark_spark.functions.vectors import (
    cosine_similarity,
    cosine_with_norms,
    l2_norm,
    to_double_array,
)
from data_algorithms_with_pyspark_spark.operators.clustering import (
    collect_centroids,
    with_nearest_centroid,
)
from data_algorithms_with_pyspark_spark.operators.state import persist

__all__ = [
    "exact_dedup_groups",
    "md5_long60",
    "floor_round",
    "spread_partitions",
    "exact_deduplicate",
    "word_shingles",
    "token_shingles",
    "minhash_signatures",
    "minhash_bands",
    "shingle_table",
    "band_codes",
    "banded_pairs",
    "minhash_candidate_pairs",
    "incremental_minhash_candidates",
    "duplicated_window_spans",
    "simhash",
    "simhash_candidate_pairs",
    "ngram_jaccard_pairs",
    "prefix_jaccard_pairs",
    "prefix_postings",
    "embedding_near_dup_pairs",
    "semdedup_prune",
    "repeated_segment_dedup",
]

# --- exact ------------------------------------------------------------------


def exact_dedup_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct content hash: canonical (min) id + duplicate count."""
    return (
        docs.select(
            F.md5(normalize_text(text_col)).alias("content_hash"), F.col(id_col)
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("long").alias("dup_count"),
        )
    )


def exact_deduplicate(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Return the deduplicated rows themselves (keep the min-id row per hash).

    min_by avoids a window sort: one hash-aggregate shuffle total.
    """
    hashed = docs.withColumn("content_hash", F.md5(normalize_text(text_col)))
    keep = hashed.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
    return hashed.join(keep, on=["content_hash", id_col], how="inner").drop(
        "content_hash"
    )


# --- MinHash + LSH ----------------------------------------------------------

_MERSENNE_PRIME_31 = (1 << 31) - 1

# 15 hex digits = 60 bits: the largest md5 prefix that fits a signed long
# in every engine (16 digits could overflow BIGINT on the '0x...' cast).
_MD5_HEX_DIGITS = 15


def md5_long60(col: Column) -> Column:
    """Deterministic 60-bit integer hash of a string column.

    ``conv(substring(md5(x), 1, 15), 16, 10)`` — the same engine-portable
    construction as the KMV sketch (operators/sketches.py): md5 of the
    UTF-8 bytes, first 15 hex digits, parsed base-16. Any engine with an
    md5 function reproduces it bit-for-bit (DuckDB:
    ``('0x' || substring(md5(x), 1, 15))::BIGINT``), which is what gives
    the MinHash/SimHash family full cross-engine value oracles. ~2-3x the
    cost of xxhash64 (string md5 + hex parse vs one JVM intrinsic), so
    operators default to xxhash64 and take ``hash_fn="md5"`` where the
    differential-testing contract is worth the delta.
    """
    return F.conv(F.substring(F.md5(col), 1, _MD5_HEX_DIGITS), 16, 10).cast(
        "long"
    )


def _base_hash(col: Column, hash_fn: str) -> Column:
    """Shingle/token -> non-negative long, per the selected hash family."""
    if hash_fn == "md5":
        return md5_long60(col)
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")


def floor_round(col: Column, scale: int) -> Column:
    """``floor(x * 10^scale + 0.5) / 10^scale`` — engine-portable rounding.

    ``round()``'s half-case tie-break differs across engines (Spark
    HALF_UP on the binary value vs C-library variants); the floor form is
    IEEE-exact and identical everywhere, so rounded outputs hash-match
    under differential testing (same convention as plans/catalog.cents_sum).
    """
    scl = float(10**scale)
    return F.floor(col * F.lit(scl) + F.lit(0.5)) / F.lit(scl)


def _bytes_conf(v: str) -> int:
    """Parse a Spark size conf ('256m', '4194304', '1g') to bytes."""
    s = str(v).strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] == "b":
        s = s[:-1]
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(s)


def _scan_partition_estimate(df: DataFrame) -> int | None:
    """Scan-partition count of a plain local-file scan, from file sizes +
    the session's split config, by replaying Spark's FilePartition
    packing: maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    padded_total / minPartitionNum)); each file is cut into maxSplitBytes
    pieces (parquet is splittable), the pieces are sorted by size
    descending, and each goes into the open partition (its length plus
    openCostInBytes) unless the partition's bytes plus the piece's length
    would pass maxSplitBytes, which closes it ("next fit decreasing").
    Returns None when the input is not a local file scan (caller falls
    back to the exact probe). Parquet-footer-free: only file lengths
    matter for split packing (guide §6; VERDICT r11 #9)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or not all(f.startswith("file:") for f in files):
        return None
    import os
    from urllib.parse import unquote, urlparse

    try:
        sizes = [
            os.path.getsize(unquote(urlparse(f).path)) for f in files
        ]
    except OSError:
        return None
    conf = df.sparkSession.conf
    max_pb = _bytes_conf(conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    open_cost = _bytes_conf(
        conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    min_parts = int(
        conf.get("spark.sql.files.minPartitionNum", None)
        or conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or df.sparkSession.sparkContext.defaultParallelism
    )
    padded = sum(sizes) + open_cost * len(files)
    max_split = max(1, min(max_pb, max(open_cost, padded // max(min_parts, 1))))
    pieces = sorted(
        (
            min(max_split, size - off)
            for size in sizes
            for off in range(0, size, max_split)
        ),
        reverse=True,
    )
    parts, filled = 0, 0
    for piece in pieces:
        if parts == 0 or filled + piece > max_split:
            parts, filled = parts + 1, 0
        filled += piece + open_cost
    return parts


def spread_partitions(df: DataFrame) -> DataFrame:
    """Ensure at least default-parallelism partitions before a CPU-heavy map.

    A small parquet source arrives as a handful of scan partitions (often 1),
    which would serialize the expensive shingle/hash expressions onto one
    core. Repartitioning 1-to-many is a cheap round-robin shuffle of the raw
    rows. Guarded so a genuinely large input (already more partitions than
    cores, e.g. the 100 TB case) is never shrunk or reshuffled.

    The guard prefers ``_scan_partition_estimate`` (file metadata only,
    ~5 ms) and falls back to ``df.rdd.getNumPartitions()`` — a full
    driver-side physical-plan + RDD conversion measured at ~40-60 ms per
    fresh DataFrame, which this guard used to pay on ~8 hot paths per
    bench run (VERDICT r11 #9). The decision is split-size math, so a
    near-boundary misestimate only toggles a semantics-neutral
    round-robin repartition.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    n = _scan_partition_estimate(df)
    if n is None:
        n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


def _minhash_params(num_perm: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_PRIME_31), rng.randrange(0, _MERSENNE_PRIME_31))
        for _ in range(num_perm)
    ]


def token_shingles(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a token ARRAY -> array<string>.

    Expression-level sliding window (no explode): shingle i joins words
    [i, i+n). Documents shorter than n words fall back to their full
    token list as a single shingle so they still participate in dedup.

    ``tokens`` must be a MATERIALIZED column (projected alias), never an
    inline ``words(...)`` expression: the lambda references it once per
    window and higher-order lambdas get no subexpression elimination, so
    an inline tokenizer re-runs per window (see
    functions/text_functions.word_ngrams for the measured 27x).
    """
    n_sh = F.size(tokens) - F.lit(n - 1)
    shingles = F.transform(
        F.sequence(F.lit(0), F.greatest(n_sh - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)),
    )
    return F.when(n_sh > 0, F.array_distinct(shingles)).otherwise(
        F.array(F.concat_ws(" ", tokens))
    )


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """``token_shingles`` over inline-tokenized text — convenience form
    for tests/one-off use. HOT PATHS must project ``words(col)`` first
    and call ``token_shingles`` (see that docstring)."""
    return token_shingles(words(col), n)


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-document MinHash signature (array<long> of length num_perm).

    Universal hashing h_i(x) = (a_i * x + b_i) mod p over p = 2^31-1, with
    the base hash folded into [0, p). Operands stay < 2^31 so the 64-bit
    products cannot overflow (ANSI-safe).

    ``hash_fn``: "xxhash64" (default, fastest — JVM intrinsic) or "md5"
    (``md5_long60`` — engine-portable, giving the signature pipeline a
    full cross-engine value oracle; see plans/lsh_oracles.py).
    """
    params = _minhash_params(num_perm, seed)
    # Plan shape chosen for throughput: explode shingles once, evaluate the
    # num_perm permutation hashes as flat codegen'd arithmetic columns, and
    # let the hash aggregate take per-doc mins (partial aggregation runs
    # map-side, so the shuffle carries one num_perm-wide row per doc per
    # partition). ~5x faster than nested higher-order array expressions,
    # which execute interpreted per element.
    exploded = spread_partitions(docs.select(id_col, text_col)).select(
        F.col(id_col), words(text_col).alias("_w")
    ).select(
        F.col(id_col),
        F.explode(token_shingles(F.col("_w"), shingle_n)).alias("_sh"),
    ).select(
        F.col(id_col),
        F.pmod(_base_hash(F.col("_sh"), hash_fn), F.lit(_MERSENNE_PRIME_31)).alias(
            "_h"
        ),
    )
    # The num_perm min-aggregates are built as ONE SQL string parsed
    # JVM-side: composing them Column-by-Column costs ~8 Py4J round
    # trips per permutation (~0.6s of driver latency PER INVOCATION at
    # num_perm=64 — profiled r4), which dwarfed the actual execution of
    # the signature job at bench scale. Identical resolved plan.
    p = _MERSENNE_PRIME_31
    terms = ", ".join(
        f"min(pmod({a}L * _h + {b}L, {p}L))" for a, b in params
    )
    return exploded.groupBy(id_col).agg(
        F.expr(f"array({terms})").alias("signature")
    )


def minhash_bands(
    signatures: DataFrame,
    bands: int,
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """LSH banding of signature tables: (id, band, band_hash) rows, one per
    band per doc — the 24-byte currency every banded-join dedup variant
    shuffles instead of signatures or text.

    ``hash_fn="md5"`` hashes the canonical string "band,v1,v2,..." via
    ``md5_long60`` so a foreign engine reproduces the buckets (including
    any hash collisions) exactly.
    """
    sig_len = F.size(F.col("signature"))
    rows_per_band = (sig_len / F.lit(bands)).cast("int")
    sig_slice = F.slice(
        F.col("signature"), F.col("band") * rows_per_band + 1, rows_per_band
    )
    if hash_fn == "md5":
        band_hash = md5_long60(
            F.concat_ws(
                ",",
                F.col("band").cast("string"),
                F.array_join(
                    F.transform(sig_slice, lambda x: x.cast("string")), ","
                ),
            )
        )
    elif hash_fn == "xxhash64":
        band_hash = F.xxhash64(F.col("band"), sig_slice)
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    return signatures.select(
        F.col(id_col),
        F.col("signature"),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).select(F.col(id_col), F.col("band"), band_hash.alias("band_hash"))


def shingle_table(
    docs: DataFrame, shingle_n: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(id, shingles)``: each document's distinct word n-gram shingles
    (``token_shingles`` semantics) over a partition-spread scan — the one
    shingle projection the exact-Jaccard lanes, the PPJoin index and the
    pre-flight audits read. The token array is projected before the
    shingle lambdas (the ``token_shingles`` performance contract)."""
    return (
        spread_partitions(docs.select(id_col, text_col))
        .select(F.col(id_col), words(text_col).alias("_w"))
        .select(
            F.col(id_col),
            token_shingles(F.col("_w"), shingle_n).alias("shingles"),
        )
    )


def band_codes(code: Column, n_bits: int, bands: int) -> Column:
    """The ``bands`` contiguous ``n_bits / bands``-bit slices of a packed
    bit code (SimHash, SRP) as ``array<long>``, band 0 holding the lowest
    bits; ``posexplode`` it into ``(band, value)`` rows. ``bands`` must
    divide ``n_bits``: a remainder would silently drop the top bits from
    every band."""
    if n_bits % bands:
        raise ValueError(f"bands ({bands}) must divide n_bits ({n_bits}) evenly")
    width = n_bits // bands
    mask = F.lit((1 << width) - 1).cast("long")
    return F.array(
        *[F.shiftright(code, b * width).bitwiseAND(mask) for b in range(bands)]
    )


def banded_pairs(
    banded: DataFrame,
    key: str,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The candidate step every banded-LSH lane shares: ``banded`` holds
    one ``(id, band, key)`` row per document per band; documents agreeing
    on any ``(band, key)`` bucket become ONE ``(id_1, id_2)`` row with
    ``id_1 < id_2``. The self-join is keyed on the bucket, so the shuffle
    carries band rows, never all-pairs. Each ``carry`` column rides the
    join as ``<c>_1`` / ``<c>_2`` (SimHash's 8-byte sketch: no join-back).

    ``max_bucket`` is the degeneracy guard: buckets holding more than that
    many ids generate no candidates (one count aggregate on the join's
    own key). A group of g exact duplicates, or a corpus whose sketches
    collapse, puts g ids in one bucket and g^2/2 pairs into the join; an
    oversized bucket carries no discriminative signal, and a document
    still pairs through its other bands. None keeps exact uncapped
    semantics."""
    on = ["band", key]
    if max_bucket is not None:
        small = (
            banded.groupBy(*on)
            .count()
            .where(F.col("count") <= max_bucket)
            .select(*on)
        )
        banded = banded.join(small, on=on)

    def side(i: int) -> DataFrame:
        return banded.select(
            F.col(id_col).alias(f"id_{i}"),
            *[F.col(c).alias(f"{c}_{i}") for c in carry],
            *on,
        )

    carried = [f"{c}_{i}" for i in (1, 2) for c in carry]
    return (
        side(1)
        .join(side(2), on=on, how="inner")
        .where(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2", *carried)
        .dropDuplicates(["id_1", "id_2"])
    )


def _with_estimate(
    pairs: DataFrame,
    sigs_1: DataFrame,
    sigs_2: DataFrame,
    id_col: str,
    min_jaccard: float,
) -> DataFrame:
    """Join each side's signature back to a two-column pair table once
    and keep the pairs whose estimated Jaccard (the fraction of equal
    signature components, on the 4dp floor grid) reaches
    ``min_jaccard``."""
    a, b = pairs.columns
    s1 = sigs_1.select(F.col(id_col).alias(a), F.col("signature").alias("sig_1"))
    s2 = sigs_2.select(F.col(id_col).alias(b), F.col("signature").alias("sig_2"))
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_1"), F.col("sig_2"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / F.size(F.col("sig_1"))
    )
    return (
        pairs.join(s1, on=a)
        .join(s2, on=b)
        .select(a, b, floor_round(est, 4).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= F.lit(min_jaccard))
    )


def minhash_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    min_jaccard: float = 0.0,
    hash_fn: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding: docs agreeing on any band become a candidate pair.

    Output: (id_1, id_2, est_jaccard) with id_1 < id_2; est_jaccard is the
    fraction of matching signature components. The band equi-join is the
    scale move — buckets shuffle by (band, band_hash), never all-pairs.

    The signature table is persisted (``state.persist``, released when the
    caller's ``state.scope()`` exits): it is referenced three times
    (banding + both sides of the estimate join), and recomputing the
    shingle/hash pass per reference costs far more than storing
    ~(8 + 8*num_perm) bytes/doc — at 100 TB this is the standard
    "checkpoint the sketch, not the corpus" move.

    ``max_bucket``: the ``banded_pairs`` skew guard. A group of g EXACT
    duplicates agrees on every band, so boilerplate pages with millions
    of copies would turn one bucket into a quadratic hot key. The
    documented contract: run EXACT dedup first (its groupBy collapses
    those same groups linearly), then near-dup with a cap — pairs lost
    to a capped bucket are overwhelmingly exact dups already handled
    upstream. None (default) disables the guard.
    """
    signatures = persist(signatures)
    # Narrow-shuffle design for the 100 TB case: the banded self-join carries
    # only (id, band, band_hash) — 24 bytes/row — never the signatures
    # themselves; signatures are joined back exactly once per surviving
    # candidate id to compute the estimate. Spark reuses the signature
    # aggregation's exchange across the three references (ReusedExchange),
    # so the expensive shingle/hash pass still runs once.
    banded = minhash_bands(signatures, bands, id_col=id_col, hash_fn=hash_fn)
    pairs = banded_pairs(banded, "band_hash", id_col, max_bucket)
    return _with_estimate(pairs, signatures, signatures, id_col, min_jaccard)


# --- SimHash ----------------------------------------------------------------


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    shingle_n: int | None = None,
) -> DataFrame:
    """SimHash over whitespace tokens (unweighted), or over word n-gram
    SHINGLES when ``shingle_n`` is set.

    Per bit b: sum over features of ±1 depending on bit b of the feature
    hash; bit set iff the sum is positive. Pure array expressions, one
    pass.

    ``shingle_n`` is the feature-diversity fix for the corpus regime the
    sf10 audit exposed: unigram-token votes collapse when documents
    share one narrow vocabulary/frequency profile (a 31-word vocabulary
    gave ~all 500k docs the same hash), while n-gram shingles draw from
    a |V|^n space whose per-document SETS differ — hashes spread and the
    banded join stays bucket-local. Shingles follow ``token_shingles``
    semantics exactly (distinct; short docs fall back to one full-text
    shingle) so an external oracle replays them.

    Hash width follows ``hash_fn``: 64 bits for "xxhash64", 60 bits for
    "md5" (``md5_long60`` — the widest md5 prefix that fits a signed long
    in every engine; pass ``n_bits=60`` to ``simhash_candidate_pairs``).
    A document with no tokens hashes to 0 in either family.
    """
    n_bits = 64 if hash_fn == "xxhash64" else 60
    # Plan shape mirrors minhash_signatures: explode tokens once and
    # evaluate the per-bit votes as flat codegen'd aggregate columns —
    # higher-order folds execute interpreted per element with no
    # subexpression elimination, so the previous n_bits-fold formulation
    # re-walked the token array 60x in the interpreter (~3x slower
    # end-to-end at sf0.1). Partial aggregation combines map-side; the
    # shuffle carries one n_bits-wide row per doc per partition.
    if shingle_n is None:
        featured = spread_partitions(docs.select(id_col, text_col)).select(
            F.col(id_col), F.explode_outer(words(text_col)).alias("_t")
        )
    else:
        toks = spread_partitions(docs.select(id_col, text_col)).select(
            F.col(id_col), words(text_col).alias("_toks")
        )
        # empty-token docs vote on nothing (simhash 0, same as the token
        # path) — token_shingles would otherwise emit one "" shingle
        feats = F.when(
            F.size(F.col("_toks")) > 0,
            token_shingles(F.col("_toks"), shingle_n),
        ).otherwise(F.array(F.lit(None).cast("string")))
        featured = toks.select(
            F.col(id_col), F.explode_outer(feats).alias("_t")
        )
    exploded = featured.select(
        F.col(id_col),
        # NULL guard matters for xxhash64, which hashes NULL to the seed
        # hash instead of propagating NULL — without it an empty doc would
        # vote once per bit instead of not at all
        F.when(
            F.col("_t").isNotNull(), _base_hash(F.col("_t"), hash_fn)
        ).alias("_h"),
    )
    # The n_bits per-bit votes AND the bit-reassembly are ONE SQL string
    # parsed JVM-side (the minhash_signatures lesson, r4): composing the
    # 60 vote aggregates plus the 60-term OR chain Column-by-Column cost
    # ~700 Py4J round trips (~1.2s of driver latency PER INVOCATION),
    # more than the query's actual execution at sf0.1. Same aggregate
    # semantics: 60 sum buffers, bit b set iff its vote sum is positive.
    # explode_outer keeps zero-token docs as one NULL token row (sum
    # ignores NULL -> all votes NULL -> no bit set -> simhash 0, matching
    # the oracle's LEFT JOIN/coalesce(0)).
    sim_sql = " | ".join(
        f"(CASE WHEN sum(((shiftright(_h, {b}) & 1L) * 2) - 1) > 0 "
        f"THEN shiftleft(1L, {b}) ELSE 0L END)"
        for b in range(n_bits)
    )
    return exploded.groupBy(id_col).agg(F.expr(sim_sql).alias("simhash"))


def simhash_candidate_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    n_bits: int = 64,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup candidates: docs sharing any (n_bits/bands)-bit band of
    their SimHash (catches pairs within small hamming distance), plus
    exact hamming. ``n_bits`` must match the ``simhash`` hash family
    (64 for xxhash64, 60 for md5), and ``bands`` must divide it
    (``ValueError`` otherwise).

    The signature table is PERSISTED here (``state.persist``, released
    when the caller's ``state.scope()`` exits): both self-join sides — and
    the bucket aggregate when ``max_bucket`` is set — consume it, and AQE
    turns the banded join into a broadcast join at bench scale, so
    ReusedExchange never covers the sides and the whole signature
    computation (corpus tokenize + per-feature hash + the n_bits-vote
    aggregate) would otherwise run once PER CONSUMER (observed in
    plans/r12/simhash_near_dup_candidates_before.txt: the subtree appears
    verbatim under both join sides). Signatures are one row per doc —
    the sketch, not the corpus.

    ``max_bucket`` is the ``banded_pairs`` DEGENERACY GUARD for corpus
    regimes where SimHash collapses: unweighted token votes concentrate
    when documents share one narrow vocabulary/frequency profile
    (measured at the sf10 audit: a 31-word vocabulary put ~all 500k docs
    in ONE band bucket — the candidate join degenerates to all-pairs and
    spills the disk). Default None preserves exact uncapped semantics
    (the oracle-attested catalog configuration)."""
    band_vals = band_codes(F.col("simhash"), n_bits, bands)
    hashes = persist(hashes, StorageLevel.MEMORY_AND_DISK)
    banded = hashes.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(band_vals).alias("band", "band_val"),
    )
    pairs = banded_pairs(banded, "band_val", id_col, max_bucket, carry=("simhash",))
    hamming = F.bit_count(F.col("simhash_1").bitwiseXOR(F.col("simhash_2")))
    return pairs.select("id_1", "id_2", hamming.cast("int").alias("hamming"))


# --- exact n-gram Jaccard ---------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    candidates: DataFrame | None = None,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over distinct word n-gram shingles.

    Without ``candidates`` this is the O(n^2) brute-force baseline (cross
    join) — correct, oracle-checkable, and only for modest n. At scale,
    pass ``minhash_candidate_pairs`` output as ``candidates`` so only LSH
    survivors are verified. ``shingles_df`` (columns: id_col, shingles)
    lets a caller that already materialized the shingle projection —
    e.g. ``prefix_jaccard_pairs``, which also builds its inverted index
    from it — share one persisted copy instead of re-tokenizing the
    corpus per join side.
    """
    if shingles_df is None:
        shingles_df = shingle_table(docs, shingle_n, id_col, text_col)
    sh = shingles_df.select(F.col(id_col), F.col("shingles"))
    left = sh.select(F.col(id_col).alias("id_1"), F.col("shingles").alias("sh_1"))
    right = sh.select(F.col(id_col).alias("id_2"), F.col("shingles").alias("sh_2"))
    if candidates is not None:
        base = (
            candidates.select("id_1", "id_2")
            .join(left, on="id_1")
            .join(right, on="id_2")
        )
    else:
        base = left.crossJoin(right).where(F.col("id_1") < F.col("id_2"))
    inter = F.size(F.array_intersect(F.col("sh_1"), F.col("sh_2"))).cast("double")
    union = F.size(F.array_union(F.col("sh_1"), F.col("sh_2"))).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    # floor form, not round(): i/u is a small-integer ratio, so dyadic
    # values like 7/32 = 0.21875 are EXACT halves at 4dp where engines'
    # round() tie-breaks differ (see text.floor_round4)
    return (
        base.select("id_1", "id_2", floor_round(jac, 4).alias("jaccard"))
        .where(F.col("jaccard") >= F.lit(threshold))
    )



def prefix_postings(
    shingles_df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """The PPJoin prefix inverted index as a DataFrame: one row
    ``(id, n_sh, p, s)`` per document per prefix shingle, where ``p`` is
    the shingle's 0-based rank in the document's (df asc, shingle asc)
    rarity order and the prefix length is ``n_sh - ceil(t*n_sh) + 1``
    in exact basis-point integer arithmetic. Shared by
    ``prefix_jaccard_pairs`` (candidate generation) and the
    ``dedup_degeneracy_preflight`` catalog row (the posting-size audit
    that detects the narrow-vocabulary regime BEFORE a run commits to
    the quadratic join — the r10 sf10 lesson as a queryable pre-flight
    check). Input is a ``(id, shingles array<string>)`` table, e.g.
    ``token_shingles`` output."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    import math as _math

    t_bp = int(_math.floor(threshold * 10000))
    posting = shingles_df.select(
        F.col(id_col), F.explode("shingles").alias("s")
    )
    dfreq = posting.groupBy("s").agg(F.count("*").alias("df"))
    # each doc's shingles sorted by (df asc, shingle asc): struct sort_array
    ordered = (
        posting.join(dfreq, on="s")
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("s")))
            ).alias("_ord")
        )
        .select(
            F.col(id_col),
            F.col("_ord.s").alias("sorted_sh"),
            F.size("_ord").cast("long").alias("n_sh"),
        )
    )
    prefix_len = (
        F.col("n_sh")
        - F.floor((F.lit(t_bp) * F.col("n_sh") + F.lit(9999)) / F.lit(10000))
        + F.lit(1)
    ).cast("int")
    return ordered.select(
        F.col(id_col),
        F.col("n_sh"),
        F.posexplode(F.slice("sorted_sh", F.lit(1), prefix_len)).alias(
            "p", "s"
        ),
    )


def prefix_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_posting: int | None = None,
) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (PPJoin-style,
    Xiao et al., WWW'08) — same output as the all-pairs
    ``ngram_jaccard_pairs`` baseline, WITHOUT the cross join: this is the
    scale path for exact (non-probabilistic) near-dup detection, sitting
    between the tagged O(n^2) baseline and the recall-lossy MinHash LSH.

    Prefix-filtering principle: order every document's shingle set by a
    GLOBAL rarity order (document frequency asc, shingle asc). If
    J(A, B) >= t, then A and B must share at least one shingle within
    their first ``|S| - ceil(t * |S|) + 1`` shingles under any common
    total order — so an inverted index over just those PREFIX shingles
    finds every qualifying pair (lossless), while the rarity order keeps
    posting lists short: common shingles are pushed out of prefixes, so
    the candidate join never explodes on stop-shingles.

    The prefix length uses INTEGER arithmetic — ``ceil(t * s)`` computed
    as ``(t_bp * s + 9999) // 10000`` with t in basis points — because a
    float ``ceil(0.2 * 5) = ceil(1.0000000000000002) = 2`` would SHORTEN
    the prefix and silently drop true pairs.

    Plan: one explode + count for document frequencies (vocabulary-sized
    aggregate), one join + re-group to sort each document's shingles by
    rarity, one equi self-join on prefix shingles with the PPJoin length
    filter (t*|A| <= |B| <= |A|/t) AND the PPJoin POSITIONAL filter,
    then exact Jaccard verification on candidates only — identical
    expression and floor_round grid as the baseline, so the two agree
    bit-for-bit. Every shuffle is keyed (no cartesian); candidate count
    tracks true-pair count, not n^2, PROVIDED prefix tokens are rare.

    Positional filter (Xiao et al. §3.2, lossless): a pair needs overlap
    o >= alpha = ceil(t*(|A|+|B|)/(1+t)) to reach J >= t. For a shared
    token at 0-based rank i in A's rarity order and j in B's, every
    OTHER shared token... the FIRST shared token (in the global order)
    has all remaining shared tokens after it in both lists, so
    o <= 1 + min(|A|-i-1, |B|-j-1) holds for that generating row; a pair
    where EVERY index row fails the bound cannot be a true pair. Applied
    per index-join row BEFORE the distinct/verify shuffles. This is the
    narrow-vocabulary defense the sf10 (100x) audit showed is not
    optional: on a corpus whose ~30k-shingle space leaves even the
    RAREST prefix shingles with document frequency in the hundreds, the
    index join alone emits O(sum df_prefix^2) ~ 5e8 candidates and the
    wide-array verification join behind it shuffles ~TB (observed
    ENOSPC at sf10); the positional bound kills the bulk of those rows
    in the join filter, before anything is written. alpha uses the same
    basis-point integer arithmetic as the prefix length, with t_bp
    FLOORED so alpha only gets looser — candidates, never correctness.

    ``max_posting`` (opt-in, default None = exact lossless semantics):
    the degeneracy guard for corpora the positional filter cannot save —
    prefix-index entries whose shingle appears in more than that many
    PREFIXES are excluded from candidate generation, bounding the join
    at sum-over-kept-shingles df_prefix^2 <= n_shingles * cap^2. NOT
    lossless: a true pair reachable only through hot shingles is
    dropped — the same bounded-damage contract as the LSH lanes'
    ``max_bucket`` (and the same diagnosis: if the cap bites hard, the
    corpus regime wants MinHash, whose banding keys on signature
    agreement, not individual-feature rarity). The sf10 audit measured
    the uncapped narrow-vocab cost at > 76 GB of spill (ENOSPC) even
    WITH the positional filter; see the guarded catalog row for the
    oracle-attested capped semantics (the oracle replays the cap AND
    the positional filter — under a cap the positional filter is no
    longer output-neutral, because a true pair's first-common-token row
    may be capped away while its remaining rows fail the bound).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    # FLOOR, not round: t_bp/10000 must never exceed the true threshold.
    # A rounded-UP t_bp tightens the length filter past t (a true pair
    # with |B|/|A| between t and t_bp/10000 would be dropped) — with
    # floor both the filter and the prefix bound only get LOOSER, which
    # costs candidates but never correctness.
    import math as _math

    t_bp = int(_math.floor(threshold * 10000))
    # persisted because THREE consumers need it (the inverted index and
    # both verification sides) and the tokenizer+shingler is the dominant
    # cost — without this the corpus re-tokenizes 3x. MEMORY_AND_DISK,
    # same trade as ordering.global_row_index; the caller's
    # state.scope() releases it.
    sh = persist(
        shingle_table(docs, shingle_n, id_col, text_col), StorageLevel.MEMORY_AND_DISK
    )
    # The prefix-postings index feeds BOTH sides of the candidate
    # self-join (and, under max_posting, the cap aggregate too). The two
    # sides cannot share work any other way: AQE turns the self-join into
    # a broadcast join at bench scale, so one side is a BroadcastExchange
    # and ReusedExchange never fires — without this persist the whole
    # index build (explode + df-count aggregate + the groupBy(id) keyed
    # shuffle of exploded postings + posexplode) runs TWICE (observed in
    # plans/r12/prefix_jaccard_near_dups_before.txt: the subtree appears
    # verbatim under both join sides). Persisting the index — prefix-
    # sized, ~(1-t)|S|+1 entries per doc, far smaller than the corpus —
    # is the "persist the sketch, not the corpus" move (guide §2.4);
    # VERDICT r11 next-round #3.
    pre = persist(
        prefix_postings(sh, threshold, id_col=id_col), StorageLevel.MEMORY_AND_DISK
    )
    if max_posting is not None:
        # one count aggregate over the prefix postings (same key the
        # self-join shuffles on); shingles hotter than the cap generate
        # no candidates — bounded cost, documented recall trade
        ok = (
            pre.groupBy("s")
            .agg(F.count("*").alias("_pdf"))
            .where(F.col("_pdf") <= max_posting)
            .select("s")
        )
        pre = pre.join(ok, on="s")
    left = pre.select(
        F.col(id_col).alias("id_1"),
        F.col("n_sh").alias("n_1"),
        F.col("p").alias("p_1"),
        "s",
    )
    right = pre.select(
        F.col(id_col).alias("id_2"),
        F.col("n_sh").alias("n_2"),
        F.col("p").alias("p_2"),
        "s",
    )
    # minimal overlap for J >= t: alpha = ceil(t*(n1+n2)/(1+t)), integer
    # ceil in basis points (floored t_bp -> alpha only gets looser)
    n_sum = F.col("n_1") + F.col("n_2")
    alpha = F.floor(
        (F.lit(t_bp) * n_sum + F.lit(10000 + t_bp - 1))
        / F.lit(10000 + t_bp)
    )
    cand = (
        left.join(right, on="s")
        .where(
            (F.col("id_1") < F.col("id_2"))
            # length filter: J >= t forces t <= |B|/|A| <= 1/t
            & (F.col("n_2") * F.lit(10000) >= F.col("n_1") * F.lit(t_bp))
            & (F.col("n_1") * F.lit(10000) >= F.col("n_2") * F.lit(t_bp))
            # positional filter: overlap via THIS token is at most
            # 1 + min(tokens after it on each side); a true pair's
            # first-common-token row always passes (see docstring)
            & (
                F.lit(1)
                + F.least(
                    F.col("n_1") - F.col("p_1") - 1,
                    F.col("n_2") - F.col("p_2") - 1,
                )
                >= alpha
            )
        )
        .select("id_1", "id_2")
        .dropDuplicates(["id_1", "id_2"])
    )
    return ngram_jaccard_pairs(
        docs,
        threshold,
        text_col=text_col,
        id_col=id_col,
        shingle_n=shingle_n,
        candidates=cand,
        shingles_df=sh,
    )


# --- embedding cosine -------------------------------------------------------


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairs of vectors with cosine similarity >= threshold (id_1 < id_2).

    Brute-force all-pairs baseline; the banded-LSH scale path is
    ``operators/similarity.py:srp_banded_near_dup_pairs``.
    """
    vecs = embeddings.select(
        F.col(id_col), to_double_array(vec_col).alias("vec")
    ).withColumn("_n", l2_norm(F.col("vec")))
    left = vecs.select(
        F.col(id_col).alias("id_1"),
        F.col("vec").alias("v_1"),
        F.col("_n").alias("n_1"),
    )
    right = vecs.select(
        F.col(id_col).alias("id_2"),
        F.col("vec").alias("v_2"),
        F.col("_n").alias("n_2"),
    )
    # norms materialized once per vector: per-pair work is one fold + one
    # divide, bit-identical to cosine_similarity (functions/vectors.py)
    cos = cosine_with_norms(
        F.col("v_1"), F.col("v_2"), F.col("n_1"), F.col("n_2")
    )
    return (
        left.crossJoin(right)
        .where(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2", F.round(cos, 6).alias("cosine"))
        .where(F.col("cosine") >= F.lit(threshold))
    )


def semdedup_prune(
    embeddings: DataFrame,
    threshold: float,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster, then prune within clusters.

    Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication", arXiv:2303.09540) prune near-identical
    embeddings *within* k-means clusters so the pairwise pass never touches
    the full corpus. This operator reproduces that shape on Spark:

    1. assign every vector to its nearest coarse centroid
       (``clustering.with_nearest_centroid`` — at catalog sizes a row-local
       packed argmax in the same projection as the vector, so the corpus
       never shuffles for the assignment);
    2. self-join **on cid only** — pair cost is sum of squared cluster
       sizes, not corpus², and the join is a hash-partition on cid, which
       at 100 TB is the difference between feasible and not;
    3. within a pair above ``threshold`` the larger id drops; a vector
       survives iff it is nobody's id_2 (min-id representative — the
       deterministic stand-in for SemDeDup's keep-farthest-from-centroid
       rule, which ties to centroid training noise).

    Returns one row per input vector: ``(vec_id, cid, is_kept)`` — a
    decision table the caller semi-joins against, so the corpus itself is
    never materialized through the operator.

    The clustered table is persisted (``state.persist``): it is
    referenced three times (both sides of the pair join + the verdict
    join), and each reference would otherwise replay the centroid
    assignment from the scan — the same "checkpoint the sketch, not the
    corpus" move as ``minhash_candidate_pairs``.

    ``centroids``: pass ``clustering.kmeans_train`` output to cluster on
    TRAINED centroids (the real SemDeDup setup); default None keeps the
    deterministic first-k-ids stand-in the catalog oracle replays.
    """
    vecs = embeddings.select(F.col(id_col), to_double_array(vec_col).alias("vec"))
    if centroids is None:
        cent_pairs = collect_centroids(vecs, n_clusters, id_col=id_col)
    else:
        # trained centroids (clustering.kmeans_train) — real SemDeDup runs
        # on k-means clusters; the deterministic first-k-ids stand-in
        # remains the default because the catalog oracle replays it exactly
        cent_pairs = [(c, list(cv)) for c, cv in enumerate(centroids)]
        n_clusters = len(centroids)
    clustered = with_nearest_centroid(
        vecs, cent_pairs, n_clusters, id_col=id_col, vn_col="_n"
    )
    clustered = persist(clustered)
    left = clustered.select(
        F.col("cid"),
        F.col(id_col).alias("id_1"),
        F.col("vec").alias("v_1"),
        F.col("_n").alias("n_1"),
    )
    right = clustered.select(
        F.col("cid"),
        F.col(id_col).alias("id_2"),
        F.col("vec").alias("v_2"),
        F.col("_n").alias("n_2"),
    )
    # per-pair cosine does ONE fold (the dot): norms ride the persisted
    # clustered table — bit-identical to cosine_similarity, so the value
    # oracle is untouched while the quadratic stage drops ~3x of its work
    cos = cosine_with_norms(
        F.col("v_1"), F.col("v_2"), F.col("n_1"), F.col("n_2")
    )
    drops = (
        left.join(right, on="cid")
        .where(F.col("id_1") < F.col("id_2"))
        .where(F.round(cos, 6) >= F.lit(threshold))
        .select(F.col("id_2").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(1))
    )
    return clustered.join(drops, on=id_col, how="left").select(
        id_col, "cid", F.col("_dropped").isNull().alias("is_kept")
    )


# --- repeated-segment (line-level) dedup ------------------------------------


def repeated_segment_dedup(
    docs: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document repeated-segment removal — the RefinedWeb/CCNet
    "line-level dedup" pass, adapted to segment units of ``k`` whitespace
    tokens because the synthetic corpus has no newlines (swap the
    segmenter for ``split(text, '\\n')`` on corpora that do).

    A segment (non-overlapping ``k``-token window) that occurs in at
    least ``min_docs`` DISTINCT documents is boilerplate (navigation
    chrome, license headers, templated paragraphs) and is removed from
    every document; the trailing ``len % k`` tokens form a tail segment
    that is never counted or removed (it would under-count boilerplate
    and is kept verbatim so the rewrite stays faithful).

    Scale shape (100 TB): one shuffle to count segment document-frequency,
    one join of segments against the frequent set — which is tiny after
    the ``min_docs`` filter, so AQE broadcasts it (same shape as
    ``text.boilerplate_ngram_coverage``) — and one groupBy(id) to
    reassemble. The token array is materialized before the slicing
    lambdas per the ``word_ngrams`` performance contract.

    Returns one row per input document:
    ``(id_col, n_segments, n_removed, redacted)`` where ``redacted`` is
    the document rebuilt from its kept segments (tail included) in
    original order.
    """
    if k < 1:
        raise ValueError("segment size k must be >= 1")
    toks = docs.select(F.col(id_col), words(text_col).alias("_toks"))
    n_full = F.floor(F.size("_toks") / F.lit(k)).cast("int")
    seg_at = lambda i: F.concat_ws(  # noqa: E731
        " ", F.slice(F.col("_toks"), i * k + 1, k)
    )
    full_segs = F.when(
        F.col("_nf") >= 1,
        F.transform(F.sequence(F.lit(0), F.col("_nf") - 1), seg_at),
    ).otherwise(F.array().cast("array<string>"))
    tail_seg = F.when(
        F.size("_toks") % k > 0,
        F.array(F.concat_ws(" ", F.slice(F.col("_toks"), F.col("_nf") * k + 1, k))),
    ).otherwise(F.array().cast("array<string>"))
    segs = (
        toks.withColumn("_nf", n_full)
        .select(
            F.col(id_col),
            F.col("_nf"),
            F.posexplode_outer(F.concat(full_segs, tail_seg)).alias(
                "segno", "seg"
            ),
        )
        .withColumn("is_tail", F.col("segno") >= F.col("_nf"))
        .drop("_nf")
    )
    frequent = (
        segs.where(F.col("seg").isNotNull() & ~F.col("is_tail"))
        .groupBy("seg")
        .agg(F.countDistinct(id_col).alias("_df"))
        .where(F.col("_df") >= min_docs)
        .select("seg", F.lit(True).alias("_freq"))
    )
    marked = segs.join(frequent, on="seg", how="left").withColumn(
        "rm", F.coalesce(F.col("_freq"), F.lit(False)) & ~F.col("is_tail")
    )
    kept_struct = F.when(
        F.col("seg").isNotNull() & ~F.col("rm"),
        F.struct(F.col("segno"), F.col("seg")),
    )
    return marked.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("seg").isNotNull() & ~F.col("is_tail"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_segments"),
        F.sum(F.when(F.col("rm"), 1).otherwise(0)).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s.getField("seg"),
            ),
            " ",
        ).alias("redacted"),
    )


def duplicated_window_spans(
    docs: DataFrame,
    window: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication report — the "dedup at the span level"
    pass of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better", arXiv:2107.06499), re-expressed over token windows.

    The suffix-array construction the paper uses is a single-machine
    algorithm; the distributed equivalent indexes every OVERLAPPING
    ``window``-token span by content hash and marks a span duplicated
    when its hash occurs ``min_count``+ times corpus-wide (within one
    document or across documents — verbatim self-repetition is exactly
    what the pass exists to catch). Duplicated spans are then merged into
    maximal token intervals per document (two windows at start positions
    p, q overlap in token coverage iff |p - q| < ``window``), yielding
    the per-document duplication profile a curation pipeline filters on.

    Scale shape (100 TB):
      * windows explode from a materialized token array (the
        ``word_ngrams`` contract) — the text column itself never fans out;
        each occurrence row is (id, pos, 32-byte md5);
      * duplicated hashes come from one partial+final count aggregate on
        the hash — the same shuffle a word count pays, over ~tokens rows;
      * occurrences re-join the duplicated set with a LEFT SEMI hash join
        keyed on the same hash (after the ``min_count`` filter the right
        side is the duplicated subset only, typically a small fraction);
      * interval merge is a per-document sort (one hash-partition window
        on ``id_col``) over duplicated positions only — non-duplicated
        occurrences are dropped before the window operator.

    Returns one row per input document:
    ``(id_col, n_tokens, n_windows, n_dup_windows, n_spans,
    covered_tokens, dup_ratio)`` where ``covered_tokens`` is the exact
    size of the union of duplicated span token-intervals and
    ``dup_ratio = covered_tokens / n_tokens`` (floor-rounded to 4dp —
    a small-integer ratio, see ``floor_round``).
    """
    from pyspark.sql import Window as W

    from data_algorithms_with_pyspark_spark.functions.text_functions import (
        word_ngrams,
    )

    if window < 2:
        raise ValueError("window must be >= 2 tokens")
    if min_count < 2:
        raise ValueError("min_count must be >= 2 (1 marks everything)")
    toks = docs.select(F.col(id_col), words(text_col).alias("_toks"))
    base = toks.select(
        F.col(id_col),
        F.size("_toks").cast("long").alias("n_tokens"),
        F.greatest(
            F.size("_toks") - F.lit(window - 1), F.lit(0)
        ).cast("long").alias("n_windows"),
        F.col("_toks"),
    )
    occ = base.select(
        F.col(id_col),
        F.posexplode(word_ngrams(F.col("_toks"), window)).alias("pos", "_g"),
    ).select(F.col(id_col), "pos", F.md5("_g").alias("_h"))
    dup_hashes = (
        occ.groupBy("_h")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") >= min_count)
        .select("_h")
    )
    dup_occ = occ.join(dup_hashes, on="_h", how="left_semi")
    by_doc = W.partitionBy(id_col).orderBy("pos")
    # gaps-and-islands interval merge: a new span starts when this window
    # no longer overlaps the previous one's token coverage (gap >= window)
    spans = (
        dup_occ.withColumn("_prev", F.lag("pos").over(by_doc))
        .withColumn(
            "_new_span",
            (F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") >= window))
            .cast("int"),
        )
        .withColumn("_span_id", F.sum("_new_span").over(by_doc))
        .groupBy(id_col, "_span_id")
        .agg(
            F.min("pos").alias("_lo"),
            F.max("pos").alias("_hi"),
            F.count("*").alias("_n_win"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("_n_win").cast("long").alias("n_dup_windows"),
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.col("_hi") - F.col("_lo") + F.lit(window))
            .cast("long")
            .alias("covered_tokens"),
        )
    )
    joined = base.drop("_toks").join(spans, on=id_col, how="left")
    covered = F.coalesce("covered_tokens", F.lit(0)).cast("long")
    ratio = F.when(
        F.col("n_tokens") > 0, covered.cast("double") / F.col("n_tokens")
    ).otherwise(F.lit(0.0))
    return joined.select(
        id_col,
        "n_tokens",
        "n_windows",
        F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        covered.alias("covered_tokens"),
        floor_round(ratio, 4).alias("dup_ratio"),
    )


def incremental_minhash_candidates(
    new_sigs: DataFrame,
    hist_sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    min_jaccard: float = 0.0,
    hash_fn: str = "xxhash64",
    hist_bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidates of a NEW batch against an existing corpus —
    the daily-ingest shape for approximate dedup: band the increment, band
    (or read the pre-banded index of) the history, and equi-join buckets
    across the two tables only. History x history pairs are never formed —
    at 100 TB that is the difference between re-clustering the corpus
    every day and an increment-sized join.

    Output: (id_new, id_hist, est_jaccard). Signatures join back once per
    side to compute the estimate; the band join itself carries 24-byte
    rows. At production scale ``hist_sigs``' banding is a persisted index
    (written once per corpus snapshot by ``minhash_bands``) bucketed on
    band_hash so each daily increment's join prunes to matching buckets —
    pass that pre-banded table as ``hist_bands`` (columns: id_col, band,
    band_hash; e.g. read back from ``sources.writers.write_bucketed_table``)
    and the history side is neither re-shingled nor re-banded.
    """
    new_b = minhash_bands(new_sigs, bands, id_col=id_col, hash_fn=hash_fn).select(
        F.col(id_col).alias("id_new"), "band", "band_hash"
    )
    if hist_bands is None:
        hist_bands = minhash_bands(hist_sigs, bands, id_col=id_col, hash_fn=hash_fn)
    hist_b = hist_bands.select(
        F.col(id_col).alias("id_hist"), "band", "band_hash"
    )
    pairs = (
        new_b.join(hist_b, on=["band", "band_hash"])
        .select("id_new", "id_hist")
        .dropDuplicates(["id_new", "id_hist"])
    )
    return _with_estimate(pairs, new_sigs, hist_sigs, id_col, min_jaccard)


# content-defined chunking constants — shared with the SQL oracle builder
CDC_BASE = 257
CDC_MOD = 2_147_483_647  # 2^31 - 1 (prime)
CDC_WINDOW = 8
CDC_DIVISOR = 32  # expected chunk length ~ DIVISOR chars


def content_defined_chunks(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
) -> DataFrame:
    """Content-defined chunking (rsync/LBFS lineage): split each
    document at positions where the ROLLING HASH of the trailing
    ``window`` characters hits ``h % divisor == 0`` — boundaries depend
    only on local content, so an insertion early in a document shifts
    every byte offset but re-synchronizes the chunk stream within one
    window, and identical passages in DIFFERENT documents produce
    identical chunks. Dedup on chunk hashes is the storage/dataset-level
    complement to the doc-level near-dup family: it finds shared
    passages across unrelated documents.

    Deliberately NO min/max chunk bounds (FastCDC-style clamps make the
    cut decision stateful — each cut depends on the previous cut — which
    would break the closed-form SQL replay; the pure content rule keeps
    every cut decision a function of its local window only).

    Hash: polynomial ``sum(code(s[i-j]) * BASE^j) mod MOD`` over the
    trailing window, codepoint-based on the NORMALIZED text (both
    engines index characters, not bytes). All integer: codepoints
    < 2^21, BASE^j mod MOD < 2^31, products < 2^52 — no overflow, no
    float anywhere.

    Output: one row per chunk: (id_col, chunk_idx, chunk_len,
    chunk_hash md5). One mapInPandas scan; ~len/divisor rows per doc.
    Documents shorter than ``window`` yield one whole-text chunk; empty
    (after normalization) documents yield none.
    """
    if window < 2 or divisor < 2:
        raise ValueError("window and divisor must be >= 2")

    import hashlib

    def _chunks(batches):
        import numpy as np

        for pdf in batches:
            ids, idxs, lens, hashes = [], [], [], []
            for did, text in zip(pdf["_id"], pdf["_norm"]):
                s = text or ""
                n = len(s)
                if n == 0:
                    continue
                cuts = []
                if n >= window:
                    codes = np.array([ord(c) for c in s], dtype=np.int64)
                    powers = np.array(
                        [pow(CDC_BASE, j, CDC_MOD) for j in range(window)],
                        dtype=np.int64,
                    )
                    # windows[i] = codes[i-window+1 .. i] reversed weights:
                    # code(s[i-j]) * BASE^j  ->  sliding dot with powers
                    win = np.lib.stride_tricks.sliding_window_view(
                        codes, window
                    )  # row r covers positions r .. r+window-1
                    h = (win * powers[::-1][None, :]).sum(axis=1) % CDC_MOD
                    cut_rows = np.nonzero(h % divisor == 0)[0]
                    cuts = [int(r) + window - 1 for r in cut_rows]
                starts = [0] + [c + 1 for c in cuts]
                ends = cuts + [n - 1]
                ci = 0
                for st, en in zip(starts, ends):
                    if en < st:
                        continue  # cut at the final char -> empty tail
                    piece = s[st : en + 1]
                    ids.append(int(did))
                    idxs.append(ci)
                    lens.append(len(piece))
                    hashes.append(
                        hashlib.md5(piece.encode("utf-8")).hexdigest()
                    )
                    ci += 1
            yield pd.DataFrame(
                {
                    "_out_id": pd.Series(ids, dtype="int64"),
                    "chunk_idx": pd.Series(idxs, dtype="int64"),
                    "chunk_len": pd.Series(lens, dtype="int64"),
                    "chunk_hash": pd.Series(hashes, dtype="object"),
                }
            )

    prepared = spread_partitions(docs.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"), normalize_text(text_col).alias("_norm")
    )
    return prepared.mapInPandas(
        _chunks,
        schema="_out_id long, chunk_idx long, chunk_len long, chunk_hash string",
    ).withColumnRenamed("_out_id", id_col)
