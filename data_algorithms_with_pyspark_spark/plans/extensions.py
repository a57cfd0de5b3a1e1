"""North-star extension queries: dedup, similarity search, text analysis,
multimodal plumbing (BASELINE.json: LLM-data-pipeline operators).

Oracle policy: everything SQL-expressible gets a DuckDB oracle built from
the SAME constants (marker vocabularies, shingle sizes, thresholds) via
f-strings, so Spark and oracle cannot drift. MinHash/SimHash/SRP-LSH use
xxhash64, which DuckDB doesn't have -> rows-only checks (the exact-Jaccard
and exact-cosine brute-force baselines are the oracle-checked ground truth
those approximations are validated against in tests).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.functions.vectors import to_double_array
from data_algorithms_with_pyspark_spark.operators import ann
from data_algorithms_with_pyspark_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_dedup_groups,
    minhash_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_candidate_pairs,
)
from data_algorithms_with_pyspark_spark.operators.ml import embedding_gram_fp
from data_algorithms_with_pyspark_spark.operators.multimodal import (
    binary_metadata,
    decode_audio_batch,
    decode_image_batch,
    decode_video_batch,
    sample_video_frames,
    synthetic_bmp_media,
    synthetic_wav_media,
    synthetic_y4m_media,
    with_binary_payload,
)
from data_algorithms_with_pyspark_spark.operators.similarity import (
    choose_lsh_params,
    cosine_topk,
    pq_codebook,
    pq_train_codebook,
    random_hyperplanes,
    srp_banded_near_dup_pairs,
)
from data_algorithms_with_pyspark_spark.operators.state import persist
from data_algorithms_with_pyspark_spark.operators.text import (
    LANG_MARKERS,
    fingerprint,
    language_id,
    quality_scores,
    token_counts,
)
from data_algorithms_with_pyspark_spark.plans.catalog import register
from data_algorithms_with_pyspark_spark.plans.lsh_oracles import (
    minhash_pairs_sql,
    simhash_pairs_sql,
)
from data_algorithms_with_pyspark_spark.sources.readers import load_table

# Shared DuckDB SQL fragments — single source of truth with the Spark side.
_TOKENS = (
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> len(w) > 0)"
)
_NORMALIZED = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_NGRAM_N = 3
_JACCARD_THRESHOLD = 0.2
# Testdata embeddings are uniform-random (max pairwise cosine ~0.5 at these
# SFs), so the "near-dup" threshold sits in the top tail of that
# distribution to keep the query's output non-trivial.
_COSINE_DUP_THRESHOLD = 0.35
_ANN_QUERY_ID = 0
_ANN_K = 10


def _sf_cache_key(sf_dir: str) -> str:
    """Cache key for per-(process, sf_dir) persisted artifacts (the
    ANN index tables): path PLUS a (size, mtime_ns) fingerprint of the
    embeddings parquet — every part file's mtime counts, so in-place
    regeneration with identical sizes still invalidates (ADVICE r6 + r8
    low items). Shared helper: sources/readers.table_fingerprint."""
    from data_algorithms_with_pyspark_spark.sources.readers import (
        table_fingerprint,
    )

    return table_fingerprint(sf_dir, "embeddings")


def _ann_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings as ``(vec_id, vec array<double>)``, every ANN row's
    input."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", to_double_array("embedding").alias("vec"))


def _marker_sql(markers: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({_TOKENS}, t -> list_contains([{lst}], t)))"


# --- cross-engine SRP-LSH oracle fragments ----------------------------------
#
# The SRP hyperplanes are seeded Python floats embedded as LITERALS on both
# sides: operators/similarity.srp_codes builds Spark `lit` columns from
# random_hyperplanes(...), and the builders below emit the SAME floats
# (repr round-trips exactly) into DuckDB list literals. Both engines fold
# the dot product sequentially over f64, so the sign bits — and therefore
# the LSH buckets — are bit-identical, which is what lets an LSH *scale
# path* carry a full value-hash oracle instead of a rows-only check.

# 32 planes / 4 bands = 8-bit bands: each band partitions the corpus into
# ~256 buckets, keeping candidate volume ~256x below all-pairs while the
# 4 independent bands recover recall for true near-duplicates.
_SRP_N_PLANES = 32
_SRP_BANDS = 4
_SRP_DIM = 64
_SRP_GUARD_BUCKET = 16


def _srp_code_sql(dim: int = _SRP_DIM, n_planes: int = _SRP_N_PLANES, seed: int = 42) -> str:
    """DuckDB expression for the n_planes-bit SRP code of column ``vec``."""
    planes = random_hyperplanes(dim, n_planes, seed)
    terms = " + ".join(
        f"(CASE WHEN list_dot_product(vec, [{', '.join(repr(x) for x in p)}]) > 0"
        f" THEN {1 << b} ELSE 0 END)"
        for b, p in enumerate(planes)
    )
    return f"CAST({terms} AS BIGINT)"


def srp_pairs_sql(
    threshold: float,
    dim: int = _SRP_DIM,
    n_planes: int = _SRP_N_PLANES,
    bands: int = _SRP_BANDS,
    seed: int = 42,
    max_bucket: int | None = None,
) -> str:
    """DuckDB twin of operators/similarity.srp_banded_near_dup_pairs:
    (id_1, id_2, cosine) for banded-SRP candidates with exact cosine >=
    threshold. Shared by srp_lsh_cosine_near_dups and corpus_curation_v2.
    ``max_bucket`` replays the operator's degeneracy guard (band buckets
    above the cap excluded from candidate generation)."""
    width = n_planes // bands
    mask = (1 << width) - 1
    guard = (
        f""",
        srp_bcnt AS (
            SELECT band, band_code FROM srp_banded
            GROUP BY band, band_code HAVING count(*) <= {max_bucket}
        ),
        srp_banded_ok AS (
            SELECT srp_banded.* FROM srp_banded
            JOIN srp_bcnt USING (band, band_code)
        )"""
        if max_bucket is not None
        else ""
    )
    cand_src = "srp_banded_ok" if max_bucket is not None else "srp_banded"
    return f"""
        WITH srp_v AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        ),
        srp_coded AS MATERIALIZED (
            SELECT vec_id, vec, {_srp_code_sql(dim, n_planes, seed)} AS code
            FROM srp_v
        ),
        srp_banded AS (
            SELECT vec_id, t.band, (code >> (t.band * {width})) & {mask} AS band_code
            FROM srp_coded, (SELECT unnest(range({bands})) AS band) t
        ){guard},
        srp_cand AS (
            SELECT DISTINCT a.vec_id AS id_1, b.vec_id AS id_2
            FROM {cand_src} a
            JOIN {cand_src} b ON a.band = b.band AND a.band_code = b.band_code
            WHERE a.vec_id < b.vec_id
        )
        SELECT c.id_1, c.id_2,
               round(list_cosine_similarity(va.vec, vb.vec), 6) AS cosine
        FROM srp_cand c
        JOIN srp_coded va ON c.id_1 = va.vec_id
        JOIN srp_coded vb ON c.id_2 = vb.vec_id
        WHERE round(list_cosine_similarity(va.vec, vb.vec), 6) >= {threshold}
    """


# --- exact dedup / fingerprint ---------------------------------------------


@register(
    "dedup_exact_groups",
    bench=True,
    tags=("dedup",),
    description="Exact dedup: md5(normalized text) hash-groupBy, keep min id",
    oracle=f"""
        SELECT md5({_NORMALIZED}) AS content_hash,
               min(doc_id) AS keep_id,
               count(*) AS dup_count
        FROM documents
        GROUP BY 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"))


@register(
    "doc_fingerprints",
    tags=("dedup", "text"),
    description="Stable content fingerprint per document (md5 of normalized text)",
    oracle=f"""
        SELECT doc_id, md5({_NORMALIZED}) AS fingerprint
        FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(load_table(spark, sf_dir, "documents"))


# --- near-dup: exact baselines (oracle-checked) -----------------------------


# All-pairs exact-Jaccard SQL, shared (threshold-parameterized) by the
# O(n^2) baseline and the prefix-filtering scale path: prefix filtering is
# LOSSLESS, so at equal thresholds both produce byte-identical results —
# one oracle builder keeps that claim mechanically checked, not asserted.
def _jaccard_pairs_oracle(threshold: float) -> str:
    return f"""
        WITH sh AS (
            SELECT doc_id,
                   CASE WHEN len({_TOKENS}) >= {_NGRAM_N}
                        THEN list_distinct(list_transform(
                                 range(1, len({_TOKENS}) - {_NGRAM_N} + 2),
                                 i -> array_to_string(list_slice({_TOKENS}, i, i + {_NGRAM_N} - 1), ' ')))
                        ELSE [array_to_string({_TOKENS}, ' ')]
                   END AS shingles
            FROM documents
        )
        SELECT a.doc_id AS id_1, b.doc_id AS id_2,
               floor(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.shingles, b.shingles)))
                     * 10000 + 0.5) / 10000 AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE floor(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.shingles, b.shingles)))
                    * 10000 + 0.5) / 10000
              >= {threshold}
"""


_PREFIX_JACCARD_THRESHOLD = 0.8  # the qualifying testdata pairs are all
# planted near-dups at J >= 0.8; a production dedup threshold here keeps
# prefixes short (len = |S| - ceil(0.8|S|) + 1) and the candidate join tiny


def _prefix_jaccard_oracle(
    threshold: float, max_posting: int | None = None
) -> str:
    """DuckDB replay of the PPJoin prefix-index plan itself
    (operators/dedup.prefix_jaccard_pairs): df-ordered shingles, integer
    prefix length n - ceil(t*n) + 1, prefix equi-join + length filter,
    exact floor-grid Jaccard verification on candidates only.

    Replaces the all-pairs oracle (VERDICT r8 #5) because the quadratic
    SQL was infeasible at sf1 (>25 min) while the engine finishes in
    ~36 s — the one oracle that could not scale with its query. Prefix
    filtering is LOSSLESS under ANY consistent total shingle order, so
    even where DuckDB's (df, shingle) tie-order differs from Spark's the
    verified output is identical; equality against the brute-force
    all-pairs form stays mechanically checked on small data by
    tests/test_operators.py::test_prefix_jaccard_matches_bruteforce and
    by ngram_jaccard_near_dups' all-pairs oracle. (The Spark side's
    positional filter needs no replay here: it only removes candidates
    that fail exact verification anyway, so the VERIFIED output the
    driver compares is unchanged.)

    ``max_posting`` replays the capped (guarded) variant instead. Under
    a cap the shingle ORDER becomes semantic (which entries are "in the
    prefix" and hot decides which pairs survive), and the positional
    filter is no longer output-neutral (a true pair's first-common-token
    row may be capped away while its remaining index rows fail the
    bound) — so the capped oracle replays the cap AND the positional
    filter, position-for-position, and additionally pins the tie-order:
    both engines sort prefixes by (df, shingle), which is a total order,
    so prefix membership is engine-independent.
    """
    t_bp = int(threshold * 10000)
    if max_posting is not None:
        pre_extra = f"""
        pdf AS (
            SELECT s FROM pre GROUP BY s HAVING count(*) <= {max_posting}
        ),
        pref AS (SELECT pre.* FROM pre JOIN pdf USING (s)),
"""
        cand_src = "pref"
        positional = f"""
              AND 1 + least(l.n_sh - l.p, r.n_sh - r.p)
                  >= floor(({t_bp} * (l.n_sh + r.n_sh) + {10000 + t_bp - 1})
                           / {10000 + t_bp})
"""
        pos_unnest = f"""
        pre AS MATERIALIZED (
            SELECT doc_id, n_sh, u.s AS s, u.p AS p FROM (
                SELECT doc_id, n_sh,
                       unnest(list_transform(
                           list_slice(
                               sorted_sh, 1,
                               CAST(n_sh - floor(({t_bp} * n_sh + 9999) / 10000) + 1
                                    AS BIGINT)),
                           (x, i) -> struct_pack(s := x, p := i)),
                           recursive := true)
                FROM ordered
            ) u
        ),
"""
        return f"""
        WITH sh AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN len({_TOKENS}) >= {_NGRAM_N}
                        THEN list_distinct(list_transform(
                                 range(1, len({_TOKENS}) - {_NGRAM_N} + 2),
                                 i -> array_to_string(list_slice({_TOKENS}, i, i + {_NGRAM_N} - 1), ' ')))
                        ELSE [array_to_string({_TOKENS}, ' ')]
                   END AS shingles
            FROM documents
        ),
        posting AS MATERIALIZED (
            SELECT doc_id, unnest(shingles) AS s FROM sh
        ),
        dfreq AS (
            SELECT s, count(*) AS df FROM posting GROUP BY s
        ),
        ordered AS (
            SELECT p.doc_id,
                   list(p.s ORDER BY d.df, p.s) AS sorted_sh,
                   count(*) AS n_sh
            FROM posting p JOIN dfreq d USING (s)
            GROUP BY p.doc_id
        ),
        {pos_unnest.strip()}
        {pre_extra.strip()}
        cand AS (
            SELECT DISTINCT l.doc_id AS id_1, r.doc_id AS id_2
            FROM {cand_src} l JOIN {cand_src} r
              ON l.s = r.s AND l.doc_id < r.doc_id
            WHERE r.n_sh * 10000 >= l.n_sh * {t_bp}
              AND l.n_sh * 10000 >= r.n_sh * {t_bp}
              {positional.strip()}
        )
        SELECT id_1, id_2, jaccard FROM (
            SELECT c.id_1, c.id_2,
                   floor(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.shingles, b.shingles)))
                         * 10000 + 0.5) / 10000 AS jaccard
            FROM cand c
            JOIN sh a ON c.id_1 = a.doc_id
            JOIN sh b ON c.id_2 = b.doc_id
        ) WHERE jaccard >= {threshold}
"""
    # AS MATERIALIZED on the multiply-referenced CTEs: DuckDB inlines CTEs
    # by default, so `sh` (the tokenizer+shingler, the dominant cost —
    # exactly why the Spark side persists it) would be recomputed for all
    # three consumers; measured 24.7s -> ~5s at sf0.1. The jaccard value
    # is likewise computed once in a subquery, not in SELECT + WHERE.
    return f"""
        WITH sh AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN len({_TOKENS}) >= {_NGRAM_N}
                        THEN list_distinct(list_transform(
                                 range(1, len({_TOKENS}) - {_NGRAM_N} + 2),
                                 i -> array_to_string(list_slice({_TOKENS}, i, i + {_NGRAM_N} - 1), ' ')))
                        ELSE [array_to_string({_TOKENS}, ' ')]
                   END AS shingles
            FROM documents
        ),
        posting AS MATERIALIZED (
            SELECT doc_id, unnest(shingles) AS s FROM sh
        ),
        dfreq AS (
            SELECT s, count(*) AS df FROM posting GROUP BY s
        ),
        ordered AS (
            SELECT p.doc_id,
                   list(p.s ORDER BY d.df, p.s) AS sorted_sh,
                   count(*) AS n_sh
            FROM posting p JOIN dfreq d USING (s)
            GROUP BY p.doc_id
        ),
        pre AS MATERIALIZED (
            SELECT doc_id, n_sh,
                   unnest(list_slice(
                       sorted_sh, 1,
                       CAST(n_sh - floor(({t_bp} * n_sh + 9999) / 10000) + 1
                            AS BIGINT))) AS s
            FROM ordered
        ),
        cand AS (
            SELECT DISTINCT l.doc_id AS id_1, r.doc_id AS id_2
            FROM pre l JOIN pre r ON l.s = r.s AND l.doc_id < r.doc_id
            WHERE r.n_sh * 10000 >= l.n_sh * {t_bp}
              AND l.n_sh * 10000 >= r.n_sh * {t_bp}
        )
        SELECT id_1, id_2, jaccard FROM (
            SELECT c.id_1, c.id_2,
                   floor(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.shingles, b.shingles)))
                         * 10000 + 0.5) / 10000 AS jaccard
            FROM cand c
            JOIN sh a ON c.id_1 = a.doc_id
            JOIN sh b ON c.id_2 = b.doc_id
        ) WHERE jaccard >= {threshold}
"""


@register(
    "ngram_jaccard_near_dups",
    tags=("dedup", "baseline", "small-data-only"),
    description=f"Exact word-{_NGRAM_N}-gram Jaccard pairs >= {_JACCARD_THRESHOLD} "
    "— O(n^2) BASELINE for validating the MinHash scale path; never point "
    "at a real corpus (pass LSH candidates to ngram_jaccard_pairs instead)",
    oracle=_jaccard_pairs_oracle(_JACCARD_THRESHOLD),
)
def ngram_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, _JACCARD_THRESHOLD, shingle_n=_NGRAM_N)


@register(
    "prefix_jaccard_near_dups",
    bench=True,
    tags=("dedup", "similarity-join"),
    description=f"EXACT word-{_NGRAM_N}-gram Jaccard pairs >= "
    f"{_PREFIX_JACCARD_THRESHOLD} via PPJoin-style prefix filtering — "
    "lossless scale path (rarity-ordered prefix inverted index + length "
    "filter, no cross join); the oracle replays the prefix-index plan in "
    "SQL (sf1-feasible — the all-pairs form was quadratic in the ORACLE), "
    "at a production dedup threshold",
    oracle=_prefix_jaccard_oracle(_PREFIX_JACCARD_THRESHOLD),
)
def prefix_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_algorithms_with_pyspark_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return prefix_jaccard_pairs(
        docs, _PREFIX_JACCARD_THRESHOLD, shingle_n=_NGRAM_N
    )


_PREFIX_GUARD_POSTING = 25


def _degeneracy_preflight_oracle() -> str:
    """DuckDB replay of the pre-flight audit: exact posting/bucket-size
    statistics for the PPJoin prefix index (t=0.8, word 3-grams) and the
    MinHash banding (64 perms, 16 bands, md5), all integer-exact. The
    `sh` CTE (shingles) is shared by both lanes — the same sharing the
    Spark side gets structurally."""
    from data_algorithms_with_pyspark_spark.plans.lsh_oracles import (
        _bands_cte,
        _sig_ctes,
    )

    t_bp = int(_PREFIX_JACCARD_THRESHOLD * 10000)
    cap = _PREFIX_GUARD_POSTING
    return f"""
        WITH {_sig_ctes(64, _NGRAM_N, 42)},
        {_bands_cte(64, 16)},
        mh AS (
            SELECT CAST(count(*) AS BIGINT) AS mh_n_buckets,
                   CAST(max(c) AS BIGINT) AS mh_max_bucket,
                   CAST(sum(c * (c - 1) // 2) AS BIGINT) AS mh_cand_bound
            FROM (SELECT count(*) AS c FROM bands GROUP BY band, band_hash)
        ),
        pposting AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        pdfreq AS (SELECT s, count(*) AS df FROM pposting GROUP BY s),
        pordered AS (
            SELECT p.doc_id,
                   list(p.s ORDER BY d.df, p.s) AS sorted_sh,
                   count(*) AS n_sh
            FROM pposting p JOIN pdfreq d USING (s)
            GROUP BY p.doc_id
        ),
        ppre AS (
            SELECT doc_id,
                   unnest(list_slice(
                       sorted_sh, 1,
                       CAST(n_sh - floor(({t_bp} * n_sh + 9999) / 10000) + 1
                            AS BIGINT))) AS s
            FROM pordered
        ),
        pp AS (
            SELECT CAST(count(*) AS BIGINT) AS pp_n_prefix_shingles,
                   CAST(max(c) AS BIGINT) AS pp_max_posting,
                   CAST(sum(c * (c - 1) // 2) AS BIGINT) AS pp_cand_bound,
                   CAST(count(*) FILTER (WHERE c > {cap}) AS BIGINT)
                       AS pp_over_cap
            FROM (SELECT count(*) AS c FROM ppre GROUP BY s)
        ),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
        SELECT nd.n_docs,
               mh.mh_n_buckets, mh.mh_max_bucket, mh.mh_cand_bound,
               pp.pp_n_prefix_shingles, pp.pp_max_posting,
               pp.pp_cand_bound, pp.pp_over_cap
        FROM nd, mh, pp
"""


@register(
    "dedup_degeneracy_preflight",
    tags=("dedup", "lsh", "scale", "quality"),
    description="Pre-flight degeneracy audit for the near-dup lanes: "
    "exact candidate-volume BOUNDS (sum C(size,2) over PPJoin prefix "
    "postings at t=0.8 and over MinHash 64/16 band buckets) plus max "
    f"posting/bucket sizes and the over-cap({_PREFIX_GUARD_POSTING}) "
    "count — the one-row report that detects a narrow-vocabulary corpus "
    "BEFORE committing to the quadratic join; all integer-exact, full "
    "DuckDB oracle",
    oracle=_degeneracy_preflight_oracle(),
)
def dedup_degeneracy_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r10 sf10 lesson as a first-class queryable operator: before
    running an exact similarity join (or after an LSH lane misbehaves),
    audit the index-key size distributions that govern candidate volume.
    ``pp_cand_bound`` = sum C(df_prefix, 2) is an upper bound on PPJoin
    candidate pairs (1.95e9 on the sf10 narrow-vocab draw — the ENOSPC
    predictor; 3.5e3 at sf0.1); ``mh_cand_bound`` is the same bound for
    the MinHash band join. Costs two keyed aggregates over indexes the
    dedup lanes build anyway — ~1% of the join it de-risks. All outputs
    integer (counts/bounds), so the cross-engine compare is exact."""
    from data_algorithms_with_pyspark_spark.operators.dedup import (
        minhash_bands,
        prefix_postings,
        shingle_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(
        docs, num_perm=64, shingle_n=_NGRAM_N, hash_fn="md5"
    )
    # Exact LONG arithmetic (DIV), matching the oracle's hugeint `//`:
    # float `/ 2` loses integer exactness past 2^53 (postings > ~9.5e7).
    pair_bound = F.expr("c * (c - 1) DIV 2")
    mh = (
        minhash_bands(sigs, 16, hash_fn="md5")
        .groupBy("band", "band_hash")
        .agg(F.count("*").alias("c"))
        .agg(
            F.count("*").cast("long").alias("mh_n_buckets"),
            F.max("c").cast("long").alias("mh_max_bucket"),
            F.sum(pair_bound).cast("long").alias("mh_cand_bound"),
        )
    )
    pp = (
        prefix_postings(shingle_table(docs, _NGRAM_N), _PREFIX_JACCARD_THRESHOLD)
        .groupBy("s")
        .agg(F.count("*").alias("c"))
        .agg(
            F.count("*").cast("long").alias("pp_n_prefix_shingles"),
            F.max("c").cast("long").alias("pp_max_posting"),
            F.sum(pair_bound).cast("long").alias("pp_cand_bound"),
            F.sum(
                F.when(F.col("c") > _PREFIX_GUARD_POSTING, 1).otherwise(0)
            )
            .cast("long")
            .alias("pp_over_cap"),
        )
    )
    nd = docs.agg(F.count("*").cast("long").alias("n_docs"))
    return nd.crossJoin(mh).crossJoin(pp)


def _srp_preflight_oracle() -> str:
    """DuckDB replay of the SRP-lane pre-flight: exact band-bucket size
    statistics for the attested 32-plane/4-band coding."""
    width = _SRP_N_PLANES // _SRP_BANDS
    mask = (1 << width) - 1
    return f"""
        WITH srp_v AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        ),
        srp_coded AS (
            SELECT vec_id, {_srp_code_sql()} AS code FROM srp_v
        ),
        srp_banded AS (
            SELECT vec_id, t.band,
                   (code >> (t.band * {width})) & {mask} AS band_code
            FROM srp_coded, (SELECT unnest(range({_SRP_BANDS})) AS band) t
        ),
        st AS (
            SELECT CAST(count(*) AS BIGINT) AS srp_n_buckets,
                   CAST(max(c) AS BIGINT) AS srp_max_bucket,
                   CAST(sum(c * (c - 1) // 2) AS BIGINT) AS srp_cand_bound,
                   CAST(count(*) FILTER (WHERE c > {_SRP_GUARD_BUCKET})
                        AS BIGINT) AS srp_over_cap
            FROM (SELECT count(*) AS c FROM srp_banded
                  GROUP BY band, band_code)
        ),
        nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings)
        SELECT nv.n_vecs, st.srp_n_buckets, st.srp_max_bucket,
               st.srp_cand_bound, st.srp_over_cap
        FROM nv, st
"""


@register(
    "srp_degeneracy_preflight",
    tags=("dedup", "similarity", "lsh", "scale", "quality"),
    description="Pre-flight degeneracy audit for the SRP-LSH lane: exact "
    "band-bucket size statistics (bucket count, max size, sum C(size,2) "
    f"candidate bound, over-cap({_SRP_GUARD_BUCKET}) count) for the "
    "attested 32/4 coding — the measured counterpart of "
    "choose_lsh_params' occupancy model; full DuckDB oracle",
    oracle=_srp_preflight_oracle(),
)
def srp_degeneracy_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings-lane sibling of ``dedup_degeneracy_preflight``:
    before an SRP near-dup run, audit the band-bucket distribution that
    governs candidate volume. ``srp_cand_bound`` = sum C(bucket, 2) is
    the exact pair count the band join would emit (pre-dedup) — the
    quantity choose_lsh_params bounds by design (expected
    bands*n^2/2^(w+1)) and the sf10 audit measured blowing up at a
    fixed 8-bit width; ``srp_over_cap`` counts the buckets the guarded
    row's cap would exclude. One coding pass + one keyed aggregate."""
    from data_algorithms_with_pyspark_spark.operators.dedup import band_codes
    from data_algorithms_with_pyspark_spark.operators.similarity import (
        srp_codes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    band_vals = band_codes(F.col("srp_code"), _SRP_N_PLANES, _SRP_BANDS)
    st = (
        srp_codes(emb, _SRP_DIM, _SRP_N_PLANES, 42)
        .select(F.posexplode(band_vals).alias("band", "band_code"))
        .groupBy("band", "band_code")
        .agg(F.count("*").alias("c"))
        .agg(
            F.count("*").cast("long").alias("srp_n_buckets"),
            F.max("c").cast("long").alias("srp_max_bucket"),
            # Exact LONG arithmetic (DIV) — see dedup_degeneracy_preflight.
            F.sum(F.expr("c * (c - 1) DIV 2"))
            .cast("long")
            .alias("srp_cand_bound"),
            F.sum(
                F.when(F.col("c") > _SRP_GUARD_BUCKET, 1).otherwise(0)
            )
            .cast("long")
            .alias("srp_over_cap"),
        )
    )
    nv = emb.agg(F.count("*").cast("long").alias("n_vecs"))
    return nv.crossJoin(st)


# --- LSH planner attestation (r10 verdict #4) -------------------------------
#
# The planner trio (choose_lsh_params / choose_minhash_params /
# choose_simhash_params) is pure integer/deterministic-double math; the
# row below runs the PYTHON planners driver-side and the DuckDB oracle
# RE-DERIVES every output from scratch — the corpus-size ladder from
# count(*), the MinHash S-curve by replaying the full (r, b) grid search,
# and the SimHash inclusion-exclusion recall in exact BIGINT
# combinatorics (recursive multiplicative-comb CTE) — so the planning
# layer itself is under the same cross-engine gate as the operators it
# plans for. Float-valued curve points travel on the floor(x*1e6+0.5)
# integer-ppm lane (the repo's cents_sum discipline).

# Fixed planning contracts under attestation (single source of truth
# with the Spark side, inlined into the oracle f-string):
_MH_T_CATCH = 0.8  # -> t_reject = t_catch/4 = 0.2 (planner default)
_SH_CONTRACT = (60, 15)  # the catalog rows' 60-bit sketch, radius 15


def _auto_mh_plan():
    """The MinHash plan the auto-routed lane executes: purely a function
    of the t_catch contract (corpus-size independent), so it is a
    module-level constant — and because the oracle text below inlines
    THESE values, planner and oracle move together by construction
    (lsh_planner_recommendations attests the grid search itself
    cross-engine on every draw)."""
    from data_algorithms_with_pyspark_spark.operators.similarity import (
        choose_minhash_params,
    )

    return choose_minhash_params(_MH_T_CATCH)


_AUTO_MH = _auto_mh_plan()  # (num_perm=56, bands=14, r=4) at t_catch=0.8
_SH64_CONTRACT = (64, 3)  # a lossless-branch contract (bands = h+1)


def _minhash_grid_ctes(t_catch: float) -> str:
    """CTEs replaying choose_minhash_params' deterministic grid search
    (defaults: target_recall 0.999, max_fp 0.03, t_reject = t_catch/4,
    r <= 16, b <= 64): per r, the SMALLEST b meeting recall; keep it iff
    fp holds (fp only grows with b); then min num_perm, ties to more
    rows per band. Identical double ops (power/1-x) on both engines."""
    t_reject = t_catch / 4.0
    return f"""mh_grid AS (
            SELECT r, b,
                   1 - power(1 - power({t_catch!r}, r), b) AS recall,
                   1 - power(1 - power({t_reject!r}, r), b) AS fp
            FROM (SELECT unnest(range(1, 17)) AS r),
                 (SELECT unnest(range(1, 65)) AS b)
        ),
        mh_minimal_b AS (
            SELECT r, min(b) AS b FROM mh_grid
            WHERE recall >= 0.999 GROUP BY r
        ),
        mh_valid AS (
            SELECT g.r, g.b, g.recall, g.fp
            FROM mh_grid g JOIN mh_minimal_b m ON g.r = m.r AND g.b = m.b
            WHERE g.fp <= 0.03
        ),
        mh AS (
            SELECT r, b, recall, fp FROM mh_valid
            ORDER BY r * b, r DESC LIMIT 1
        )"""


def _simhash_plan_ctes(n_bits: int, max_hamming: int) -> str:
    """CTEs replaying choose_simhash_params(n_bits, max_hamming) with
    min_band_width=8, plus the EXACT inclusion-exclusion recall at the
    radius as integer sum/denominator (multiplicative-comb recursion —
    every intermediate v*(n-i) stays well inside BIGINT at these sizes;
    C(n,h) = 0 when n < h via the LEFT JOIN's COALESCE)."""
    lossless = max_hamming + 1
    return f"""sh_cfg AS (
            SELECT bands, {n_bits} // bands AS w FROM (
                SELECT CASE WHEN {lossless} <= {n_bits}
                                 AND {n_bits} % {lossless} = 0
                                 AND {n_bits} // {lossless} >= 8
                            THEN {lossless}
                            ELSE (SELECT max(b)
                                  FROM (SELECT unnest(range(1, {n_bits} // 8 + 1)) AS b) t
                                  WHERE {n_bits} % b = 0)
                       END AS bands
            )
        ),
        sh_ks AS (SELECT unnest(range(1, {n_bits} // 8 + 1)) AS k),
        sh_need(n, k) AS (
            SELECT {n_bits}, {max_hamming}
            UNION ALL
            SELECT {n_bits} - sh_ks.k * sh_cfg.w, {max_hamming}
            FROM sh_cfg, sh_ks WHERE sh_ks.k <= sh_cfg.bands
            UNION ALL
            SELECT sh_cfg.bands, sh_ks.k
            FROM sh_cfg, sh_ks WHERE sh_ks.k <= sh_cfg.bands
        ),
        sh_combr(n, k, i, v) AS (
            SELECT DISTINCT n, k, 0, CAST(1 AS BIGINT)
            FROM sh_need WHERE n >= k
            UNION ALL
            SELECT n, k, i + 1, v * (n - i) // (i + 1)
            FROM sh_combr WHERE i < k
        ),
        sh_comb AS (SELECT n, k, v FROM sh_combr WHERE i = k),
        sh_num AS (
            SELECT CAST(sum((CASE WHEN sh_ks.k % 2 = 1 THEN 1 ELSE -1 END)
                            * cb.v * COALESCE(ct.v, 0)) AS BIGINT) AS s
            FROM sh_cfg
            JOIN sh_ks ON sh_ks.k <= sh_cfg.bands
            JOIN sh_comb cb ON cb.n = sh_cfg.bands AND cb.k = sh_ks.k
            LEFT JOIN sh_comb ct
                   ON ct.n = {n_bits} - sh_ks.k * sh_cfg.w
                  AND ct.k = {max_hamming}
        ),
        sh_den AS (
            SELECT v AS c FROM sh_comb WHERE n = {n_bits} AND k = {max_hamming}
        )"""


def _planner_recommendations_oracle() -> str:
    """Full DuckDB re-derivation of the three planners' outputs."""
    b = _SRP_BANDS
    # choose_lsh_params' integer ladder: width w qualifies iff
    # candidates_per_item << (w+1) >= bands*n (200/item default).
    t8, t16, t24 = (200 << 9, 200 << 17, 200 << 25)
    width_case = (
        f"CASE WHEN {t8} >= {b} * {{n}} THEN 8 "
        f"WHEN {t16} >= {b} * {{n}} THEN 16 "
        f"WHEN {t24} >= {b} * {{n}} THEN 24 ELSE 32 END"
    )
    sh_bits, sh_h = _SH_CONTRACT
    l64 = _SH64_CONTRACT[1] + 1  # lossless bands for the 64-bit contract
    return f"""
        WITH RECURSIVE
        nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
        srp AS (
            SELECT n,
                   {width_case.format(n='n')} AS w,
                   {width_case.format(n='(100 * n)')} AS w100
            FROM nv
        ),
        srp2 AS (
            SELECT n, w, w100,
                   (n + (1::BIGINT << w) - 1) // (1::BIGINT << w) AS occ
            FROM srp
        ),
        {_minhash_grid_ctes(_MH_T_CATCH)},
        {_simhash_plan_ctes(sh_bits, sh_h)},
        sh64_cfg AS (
            SELECT bands, {_SH64_CONTRACT[0]} // bands AS w FROM (
                SELECT CASE WHEN {l64} <= {_SH64_CONTRACT[0]}
                                 AND {_SH64_CONTRACT[0]} % {l64} = 0
                                 AND {_SH64_CONTRACT[0]} // {l64} >= 8
                            THEN {l64}
                            ELSE (SELECT max(b)
                                  FROM (SELECT unnest(range(1, {_SH64_CONTRACT[0]} // 8 + 1)) AS b) t
                                  WHERE {_SH64_CONTRACT[0]} % b = 0)
                       END AS bands
            )
        )
        SELECT
            srp2.n AS n_vecs,
            CAST(srp2.w AS BIGINT) AS srp_band_width,
            CAST(srp2.w * {b} AS BIGINT) AS srp_n_planes,
            CAST(greatest(16, 8 * srp2.occ) AS BIGINT) AS srp_max_bucket,
            CAST(srp2.w100 AS BIGINT) AS srp_band_width_100x,
            CAST(mh.r AS BIGINT) AS mh_rows_per_band,
            CAST(mh.b AS BIGINT) AS mh_bands,
            CAST(mh.r * mh.b AS BIGINT) AS mh_num_perm,
            CAST(floor(mh.recall * 1e6 + 0.5) AS BIGINT) AS mh_recall_ppm,
            CAST(floor(mh.fp * 1e6 + 0.5) AS BIGINT) AS mh_fp_ppm,
            CAST(sh_cfg.bands AS BIGINT) AS sh_bands,
            CAST(sh_cfg.w AS BIGINT) AS sh_band_width,
            CAST(CASE WHEN {sh_h} < sh_cfg.bands THEN 1 ELSE 0 END
                 AS BIGINT) AS sh_guaranteed,
            CAST(CASE WHEN {sh_h} < sh_cfg.bands THEN 1000000
                      ELSE floor(CAST(sh_num.s AS DOUBLE) / sh_den.c
                                 * 1e6 + 0.5)
                 END AS BIGINT) AS sh_recall_ppm,
            CAST(sh64_cfg.bands AS BIGINT) AS sh64_bands,
            CAST(sh64_cfg.w AS BIGINT) AS sh64_band_width,
            CAST(CASE WHEN {_SH64_CONTRACT[1]} < sh64_cfg.bands THEN 1
                      ELSE 0 END AS BIGINT) AS sh64_guaranteed,
            -- Lossless branch: pigeonhole makes recall exactly 1.0; a
            -- NULL here (contract drifting off the lossless branch)
            -- fails the compare loudly rather than silently.
            CAST(CASE WHEN {_SH64_CONTRACT[1]} < sh64_cfg.bands
                      THEN 1000000 END AS BIGINT) AS sh64_recall_ppm
        FROM nv, srp2, mh, sh_cfg, sh_num, sh_den, sh64_cfg
"""


@register(
    "lsh_planner_recommendations",
    tags=("dedup", "similarity", "lsh", "scale", "planning"),
    description="The LSH planning trio under full cross-engine value "
    "attestation: SRP band width/cap from the corpus size (integer "
    "ladder, recomputed from count(*) — plus the width at 100x, the "
    "scale question), the MinHash S-curve search (grid replayed in "
    "SQL), and the SimHash banding with EXACT inclusion-exclusion "
    "recall (BIGINT combinatorics); probabilities on the integer-ppm "
    "lane",
    oracle=_planner_recommendations_oracle(),
)
def lsh_planner_recommendations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Runs the actual Python planners (operators/similarity.py:
    choose_lsh_params / choose_minhash_params / choose_simhash_params)
    on this corpus and returns their recommendations as one integer
    row; the DuckDB oracle re-derives every value independently. The
    corpus size comes from parquet footers (no Spark job) and equals
    the oracle's count(*) exactly; the planners themselves are pure
    driver math — the row attests the PLANNING layer, closing the r10
    verdict's 'planners not yet consumed by any catalog row' residual."""
    import math as _math

    from data_algorithms_with_pyspark_spark.operators.similarity import (
        choose_minhash_params,
        choose_simhash_params,
    )
    from data_algorithms_with_pyspark_spark.sources.readers import (
        parquet_row_count,
    )

    def ppm(x: float) -> int:
        return int(_math.floor(x * 1e6 + 0.5))

    n = parquet_row_count(sf_dir, "embeddings")
    srp = choose_lsh_params(n, dim=_SRP_DIM, bands=_SRP_BANDS)
    srp100 = choose_lsh_params(100 * n, dim=_SRP_DIM, bands=_SRP_BANDS)
    mh = choose_minhash_params(_MH_T_CATCH)
    sh = choose_simhash_params(*_SH_CONTRACT)
    sh64 = choose_simhash_params(*_SH64_CONTRACT)
    row = (
        n,
        srp.band_width,
        srp.n_planes,
        srp.max_bucket,
        srp100.band_width,
        mh.rows_per_band,
        mh.bands,
        mh.num_perm,
        ppm(mh.recall_at_catch),
        ppm(mh.fp_at_reject),
        sh.bands,
        sh.band_width,
        int(sh.guaranteed),
        ppm(sh.recall_at_radius),
        sh64.bands,
        sh64.band_width,
        int(sh64.guaranteed),
        ppm(sh64.recall_at_radius),
    )
    schema = (
        "n_vecs long, srp_band_width long, srp_n_planes long, "
        "srp_max_bucket long, srp_band_width_100x long, "
        "mh_rows_per_band long, mh_bands long, mh_num_perm long, "
        "mh_recall_ppm long, mh_fp_ppm long, sh_bands long, "
        "sh_band_width long, sh_guaranteed long, sh_recall_ppm long, "
        "sh64_bands long, sh64_band_width long, sh64_guaranteed long, "
        "sh64_recall_ppm long"
    )
    return spark.createDataFrame([row], schema)


def _dedup_lane_choice_oracle() -> str:
    """DuckDB replay of the lane-selection rule over the SAME prefix
    index the pre-flight audits: posting stats (incl. the capped
    candidate volume) + the integer CASE decision + the recommended
    MinHash banding from the replayed grid search."""
    from data_algorithms_with_pyspark_spark.plans.lsh_oracles import (
        _TOKENS as _LSH_TOKENS,
    )
    from data_algorithms_with_pyspark_spark.plans.lsh_oracles import (
        _shingle_case,
    )

    t_bp = int(_PREFIX_JACCARD_THRESHOLD * 10000)
    cap = _PREFIX_GUARD_POSTING
    return f"""
        WITH toks AS (SELECT doc_id, {_LSH_TOKENS} AS t FROM documents),
        sh AS (SELECT doc_id, {_shingle_case(_NGRAM_N)} AS shingles FROM toks),
        pposting AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        pdfreq AS (SELECT s, count(*) AS df FROM pposting GROUP BY s),
        pordered AS (
            SELECT p.doc_id,
                   list(p.s ORDER BY d.df, p.s) AS sorted_sh,
                   count(*) AS n_sh
            FROM pposting p JOIN pdfreq d USING (s)
            GROUP BY p.doc_id
        ),
        ppre AS (
            SELECT doc_id,
                   unnest(list_slice(
                       sorted_sh, 1,
                       CAST(n_sh - floor(({t_bp} * n_sh + 9999) / 10000) + 1
                            AS BIGINT))) AS s
            FROM pordered
        ),
        pp AS (
            SELECT CAST(count(*) AS BIGINT) AS pp_n_prefix_shingles,
                   CAST(COALESCE(max(c), 0) AS BIGINT) AS pp_max_posting,
                   CAST(COALESCE(sum(c * (c - 1) // 2), 0) AS BIGINT)
                       AS pp_cand_bound,
                   CAST(COALESCE(sum(CASE WHEN c <= {cap}
                                          THEN c * (c - 1) // 2
                                          ELSE 0 END), 0) AS BIGINT)
                       AS pp_cand_bound_capped,
                   CAST(count(*) FILTER (WHERE c > {cap}) AS BIGINT)
                       AS pp_over_cap
            FROM (SELECT count(*) AS c FROM ppre GROUP BY s)
        ),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        {_minhash_grid_ctes(_MH_T_CATCH)},
        decision AS (
            SELECT nd.n_docs, pp.*,
                   CAST(200 * nd.n_docs AS BIGINT) AS budget,
                   CASE
                       WHEN pp.pp_cand_bound <= 200 * nd.n_docs
                           THEN 'ppjoin_exact'
                       WHEN pp.pp_over_cap * 10000
                                <= 100 * pp.pp_n_prefix_shingles
                            AND pp.pp_cand_bound_capped <= 200 * nd.n_docs
                           THEN 'ppjoin_guarded'
                       ELSE 'minhash'
                   END AS lane
            FROM nd, pp
        )
        SELECT d.n_docs, d.pp_n_prefix_shingles, d.pp_max_posting,
               d.pp_cand_bound, d.pp_cand_bound_capped, d.pp_over_cap,
               d.budget, d.lane,
               CAST(CASE WHEN d.lane = 'ppjoin_guarded' THEN {cap} END
                    AS BIGINT) AS rec_max_posting,
               CAST(CASE WHEN d.lane = 'minhash' THEN mh.r END
                    AS BIGINT) AS rec_mh_rows_per_band,
               CAST(CASE WHEN d.lane = 'minhash' THEN mh.b END
                    AS BIGINT) AS rec_mh_bands
        FROM decision d, mh
"""


def _collect_lane_plan(spark: SparkSession, sf_dir: str):
    """The shared planning step: one keyed aggregate over the PPJoin
    prefix index (the same index the dedup lanes build anyway) collected
    as a single bounded row of pre-flight readings, then the
    pure-integer ``choose_dedup_lane`` decision. Returns
    ``(readings_row, n_docs, DedupLanePlan)`` — consumed by the
    ``dedup_lane_choice`` attestation row (readings + decision as data)
    and by ``auto_routed_near_dups`` (decision EXECUTED)."""
    from data_algorithms_with_pyspark_spark.operators.dedup import (
        prefix_postings,
        shingle_table,
    )
    from data_algorithms_with_pyspark_spark.operators.planning import (
        choose_dedup_lane,
    )
    from data_algorithms_with_pyspark_spark.sources.readers import (
        parquet_row_count,
    )

    cap = _PREFIX_GUARD_POSTING
    docs = load_table(spark, sf_dir, "documents")
    stats = (
        prefix_postings(shingle_table(docs, _NGRAM_N), _PREFIX_JACCARD_THRESHOLD)
        .groupBy("s")
        .agg(F.count("*").alias("c"))
        .agg(
            F.count("*").cast("long").alias("pp_n_prefix_shingles"),
            F.coalesce(F.max("c"), F.lit(0))
            .cast("long")
            .alias("pp_max_posting"),
            F.coalesce(F.sum(F.expr("c * (c - 1) DIV 2")), F.lit(0))
            .cast("long")
            .alias("pp_cand_bound"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("c") <= cap, F.expr("c * (c - 1) DIV 2")
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("pp_cand_bound_capped"),
            F.sum(F.when(F.col("c") > cap, 1).otherwise(0))
            .cast("long")
            .alias("pp_over_cap"),
        )
    )
    r = stats.collect()[0]  # single bounded row: the pre-flight readings
    n_docs = parquet_row_count(sf_dir, "documents")
    plan = choose_dedup_lane(
        n_docs,
        r.pp_cand_bound,
        r.pp_cand_bound_capped,
        r.pp_over_cap,
        r.pp_n_prefix_shingles,
        max_posting=cap,
        t_catch=_MH_T_CATCH,
    )
    return r, n_docs, plan


@register(
    "dedup_lane_choice",
    tags=("dedup", "lsh", "scale", "planning", "quality"),
    description="The pre-flight lane-selection rule as a catalog row: "
    "exact PPJoin posting stats (incl. the CAPPED candidate volume) "
    "feed operators/planning.choose_dedup_lane, which routes to exact "
    "/ guarded / MinHash per the thresholds that reproduce the sf10 "
    "diagnoses; the oracle replays index, readings, and decision in "
    "integer SQL",
    oracle=_dedup_lane_choice_oracle(),
)
def dedup_lane_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs ``choose_dedup_lane`` (operators/planning.py) on this
    corpus's actual pre-flight readings via ``_collect_lane_plan``. On
    the driver draws the readings are healthy and the rule picks the
    lossless exact lane; the narrow-vocabulary and hot-cluster regimes
    are pinned by tests/test_dedup_lane_planning.py with the measured
    sf10 readings. The cross-engine compare covers readings AND
    decision — the rule cannot drift from its oracle restatement."""
    r, n_docs, plan = _collect_lane_plan(spark, sf_dir)
    row = (
        n_docs,
        r.pp_n_prefix_shingles,
        r.pp_max_posting,
        r.pp_cand_bound,
        r.pp_cand_bound_capped,
        r.pp_over_cap,
        plan.budget,
        plan.lane,
        plan.max_posting,
        plan.minhash.rows_per_band if plan.minhash else None,
        plan.minhash.bands if plan.minhash else None,
    )
    schema = (
        "n_docs long, pp_n_prefix_shingles long, pp_max_posting long, "
        "pp_cand_bound long, pp_cand_bound_capped long, pp_over_cap long, "
        "budget long, lane string, rec_max_posting long, "
        "rec_mh_rows_per_band long, rec_mh_bands long"
    )
    return spark.createDataFrame([row], schema)


def _auto_routed_oracle() -> str:
    """DuckDB replay of the ROUTED near-dup join: the same pre-flight
    readings + integer CASE decision as ``_dedup_lane_choice_oracle``,
    then the CHOSEN lane's pairs. All three branch pipelines are
    written, each gated at its INPUT by the decision (an uncorrelated
    scalar subquery DuckDB evaluates once), so only the chosen lane's
    join executes — in particular the exact PPJoin branch is EMPTY on a
    narrow-vocabulary draw where it would explode (the sf10 1.95e9-
    candidate lesson). The union of the three branches is therefore
    exactly the routed lane's verified pairs; one shared shingle table
    feeds readings, all candidate generators, and the exact-Jaccard
    verification (same floor-grid as the standalone lanes)."""
    from data_algorithms_with_pyspark_spark.operators.dedup import (
        _minhash_params,
    )
    from data_algorithms_with_pyspark_spark.plans.lsh_oracles import (
        _TOKENS as _LSH_TOKENS,
    )
    from data_algorithms_with_pyspark_spark.plans.lsh_oracles import (
        _MERSENNE_PRIME_31 as _LSH_P,
    )
    from data_algorithms_with_pyspark_spark.plans.lsh_oracles import (
        _bands_cte,
        _md5_long60,
        _shingle_case,
    )

    t_bp = int(_PREFIX_JACCARD_THRESHOLD * 10000)
    threshold = _PREFIX_JACCARD_THRESHOLD
    cap = _PREFIX_GUARD_POSTING
    num_perm, bands = _AUTO_MH.num_perm, _AUTO_MH.bands
    mins = ", ".join(
        f"min(({a} * hv + {b}) % {_LSH_P})"
        for a, b in _minhash_params(num_perm, 42)
    )
    return f"""
        WITH toks AS (SELECT doc_id, {_LSH_TOKENS} AS t FROM documents),
        sh AS MATERIALIZED (
            SELECT doc_id, {_shingle_case(_NGRAM_N)} AS shingles FROM toks
        ),
        pposting AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        pdfreq AS (SELECT s, count(*) AS df FROM pposting GROUP BY s),
        pordered AS MATERIALIZED (
            SELECT p.doc_id,
                   list(p.s ORDER BY d.df, p.s) AS sorted_sh,
                   count(*) AS n_sh
            FROM pposting p JOIN pdfreq d USING (s)
            GROUP BY p.doc_id
        ),
        pre_pos AS MATERIALIZED (
            SELECT doc_id, n_sh, u.s AS s, u.p AS p FROM (
                SELECT doc_id, n_sh,
                       unnest(list_transform(
                           list_slice(
                               sorted_sh, 1,
                               CAST(n_sh - floor(({t_bp} * n_sh + 9999) / 10000) + 1
                                    AS BIGINT)),
                           (x, i) -> struct_pack(s := x, p := i)),
                           recursive := true)
                FROM pordered
            ) u
        ),
        pp AS (
            SELECT CAST(count(*) AS BIGINT) AS pp_n_prefix_shingles,
                   CAST(COALESCE(sum(c * (c - 1) // 2), 0) AS BIGINT)
                       AS pp_cand_bound,
                   CAST(COALESCE(sum(CASE WHEN c <= {cap}
                                          THEN c * (c - 1) // 2
                                          ELSE 0 END), 0) AS BIGINT)
                       AS pp_cand_bound_capped,
                   CAST(count(*) FILTER (WHERE c > {cap}) AS BIGINT)
                       AS pp_over_cap
            FROM (SELECT count(*) AS c FROM pre_pos GROUP BY s)
        ),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        decision AS (
            SELECT CASE
                       WHEN pp.pp_cand_bound <= 200 * nd.n_docs
                           THEN 'ppjoin_exact'
                       WHEN pp.pp_over_cap * 10000
                                <= 100 * pp.pp_n_prefix_shingles
                            AND pp.pp_cand_bound_capped <= 200 * nd.n_docs
                           THEN 'ppjoin_guarded'
                       ELSE 'minhash'
                   END AS lane
            FROM nd, pp
        ),
        pre_x AS (
            SELECT doc_id, n_sh, s FROM pre_pos
            WHERE (SELECT lane FROM decision) = 'ppjoin_exact'
        ),
        cand_x AS (
            SELECT DISTINCT l.doc_id AS id_1, r.doc_id AS id_2
            FROM pre_x l JOIN pre_x r ON l.s = r.s AND l.doc_id < r.doc_id
            WHERE r.n_sh * 10000 >= l.n_sh * {t_bp}
              AND l.n_sh * 10000 >= r.n_sh * {t_bp}
        ),
        pok AS (
            SELECT s FROM pre_pos GROUP BY s HAVING count(*) <= {cap}
        ),
        pre_g AS (
            SELECT pre_pos.* FROM pre_pos JOIN pok USING (s)
            WHERE (SELECT lane FROM decision) = 'ppjoin_guarded'
        ),
        cand_g AS (
            SELECT DISTINCT l.doc_id AS id_1, r.doc_id AS id_2
            FROM pre_g l JOIN pre_g r ON l.s = r.s AND l.doc_id < r.doc_id
            WHERE r.n_sh * 10000 >= l.n_sh * {t_bp}
              AND l.n_sh * 10000 >= r.n_sh * {t_bp}
              AND 1 + least(l.n_sh - l.p, r.n_sh - r.p)
                  >= floor(({t_bp} * (l.n_sh + r.n_sh) + {10000 + t_bp - 1})
                           / {10000 + t_bp})
        ),
        h AS (
            SELECT doc_id, {_md5_long60('s')} % {_LSH_P} AS hv
            FROM (
                SELECT doc_id, unnest(shingles) AS s FROM sh
                WHERE (SELECT lane FROM decision) = 'minhash'
            )
        ),
        sig AS (SELECT doc_id, [{mins}] AS sig FROM h GROUP BY doc_id),
        {_bands_cte(num_perm, bands)},
        cand_mh AS (
            SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        ),
        cand AS (
            SELECT * FROM cand_x
            UNION ALL SELECT * FROM cand_g
            UNION ALL SELECT * FROM cand_mh
        )
        SELECT lane, id_1, id_2, jaccard FROM (
            SELECT (SELECT lane FROM decision) AS lane, c.id_1, c.id_2,
                   floor(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.shingles, b.shingles)))
                         * 10000 + 0.5) / 10000 AS jaccard
            FROM cand c
            JOIN sh a ON c.id_1 = a.doc_id
            JOIN sh b ON c.id_2 = b.doc_id
        ) WHERE jaccard >= {threshold}
"""


@register(
    "auto_routed_near_dups",
    tags=("dedup", "similarity-join", "lsh", "scale", "planning"),
    description="The routed near-dup join: choose_dedup_lane's decision "
    "EXECUTED — pre-flight readings route this corpus to exact PPJoin / "
    "guarded PPJoin / planned MinHash banding, and the chosen lane's "
    f"exact-Jaccard >= {_PREFIX_JACCARD_THRESHOLD} pairs are returned "
    "with the lane tag; the oracle replays readings, decision, AND all "
    "three input-gated branch pipelines, so decision and execution are "
    "cross-engine attested TOGETHER on every draw, including the sf10 "
    "regime flip",
    oracle=_auto_routed_oracle(),
)
def auto_routed_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the planner trio was for: a near-dup join a user can point
    at ANY corpus, which pays ~1% pre-flight cost to pick the lane the
    sf10 audits measured correct for the corpus's regime — lossless
    PPJoin inside the linear candidate budget, the max_posting guard
    when only isolated hot keys break the budget, MinHash banding
    (choose_minhash_params' S-curve plan, md5 lane) + exact verification
    when the vocabulary itself is narrow. Output on every lane:
    ``(lane, id_1, id_2, jaccard)`` with EXACT floor-grid Jaccard —
    identical schema and threshold, so downstream dedup logic is
    lane-agnostic; only the recall contract differs (exact lanes are
    lossless; the MinHash lane's band-catch probability is the planned
    ~0.999 at J >= 0.8). The MinHash branch fails fast if the planner's
    (num_perm, bands) ever drifts from the frozen oracle coding — same
    re-attestation discipline as srp_guarded_cosine_near_dups."""
    from data_algorithms_with_pyspark_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        prefix_jaccard_pairs,
        shingle_table,
    )

    _, _, plan = _collect_lane_plan(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    t = _PREFIX_JACCARD_THRESHOLD
    if plan.lane == "ppjoin_exact":
        pairs = prefix_jaccard_pairs(docs, t, shingle_n=_NGRAM_N)
    elif plan.lane == "ppjoin_guarded":
        pairs = prefix_jaccard_pairs(
            docs, t, shingle_n=_NGRAM_N, max_posting=plan.max_posting
        )
    else:
        mh = plan.minhash
        if (mh.num_perm, mh.bands) != (_AUTO_MH.num_perm, _AUTO_MH.bands):
            raise RuntimeError(
                "auto_routed_near_dups: choose_minhash_params returned "
                f"({mh.num_perm}, {mh.bands}) but the registered oracle "
                f"is coded for ({_AUTO_MH.num_perm}, {_AUTO_MH.bands}); "
                "re-attest the oracle against the new plan before "
                "trusting the cross-engine gate"
            )
        sigs = minhash_signatures(
            docs, num_perm=mh.num_perm, shingle_n=_NGRAM_N, hash_fn="md5"
        )
        cand = minhash_candidate_pairs(
            sigs, bands=mh.bands, min_jaccard=0.0, hash_fn="md5"
        ).select("id_1", "id_2")
        # One persisted shingle table feeds BOTH verification sides
        # (same re-tokenize trade as prefix_jaccard_pairs' internal
        # persist), pinned to sort-merge with a `merge` hint: the
        # shingle table is wide string arrays whose cached-aggregate
        # size estimate runs far under reality, so the planner would
        # otherwise BROADCAST it into the verify joins — observed as a
        # 295 MiB broadcast build (driver OOM) at sf1 under the hostile
        # 1g default heap, and never the right plan at corpus scale:
        # verification must shuffle candidates TO the shingles, keyed
        # by id, not ship the corpus to every task.
        from pyspark import StorageLevel

        sh = persist(
            shingle_table(docs, _NGRAM_N), StorageLevel.MEMORY_AND_DISK
        ).hint("merge")
        pairs = ngram_jaccard_pairs(
            docs, t, shingle_n=_NGRAM_N, candidates=cand, shingles_df=sh
        )
    return pairs.select(
        F.lit(plan.lane).alias("lane"), "id_1", "id_2", "jaccard"
    )


@register(
    "prefix_jaccard_guarded_near_dups",
    tags=("dedup", "similarity-join", "scale"),
    description="PPJoin exact-Jaccard pairs under the DEGENERACY GUARD "
    f"(max_posting={_PREFIX_GUARD_POSTING}): prefix shingles appearing "
    "in more prefixes than the cap generate no candidates — the "
    "bounded-cost configuration for narrow-vocabulary corpora where "
    "even rarity-ordered prefixes stay hot (the r10 sf10 audit measured "
    "ENOSPC uncapped, even WITH the positional filter); the oracle "
    "replays the cap AND the positional filter exactly",
    oracle=_prefix_jaccard_oracle(
        _PREFIX_JACCARD_THRESHOLD, max_posting=_PREFIX_GUARD_POSTING
    ),
)
def prefix_jaccard_guarded_near_dups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Guarded twin of ``prefix_jaccard_near_dups`` (operators/
    dedup.prefix_jaccard_pairs max_posting): identical rarity-ordered
    prefix index, length filter, and positional filter, but prefix
    postings hotter than the cap contribute no candidate pairs —
    candidate volume is bounded by n_shingles * cap^2 / 2 however the
    corpus vocabulary concentrates. On the driver draws every prefix
    posting is under the cap (max 3 at sf0.01, 8 at sf0.1), so the
    output equals the lossless row's; on the Zipf-skew draw (hottest
    prefix posting 126) the cap bites and the cross-engine compare
    checks the guard's exact semantics — including the cap/positional
    interaction, where a pair's first-common-token row can be capped
    away while its remaining index rows fail the positional bound (the
    reason the capped oracle must replay BOTH filters while the
    lossless row's oracle needs neither)."""
    from data_algorithms_with_pyspark_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return prefix_jaccard_pairs(
        docs,
        _PREFIX_JACCARD_THRESHOLD,
        shingle_n=_NGRAM_N,
        max_posting=_PREFIX_GUARD_POSTING,
    )


@register(
    "embedding_cosine_near_dups",
    tags=("dedup", "similarity", "baseline", "small-data-only"),
    description=f"Exact cosine near-dup pairs >= {_COSINE_DUP_THRESHOLD} "
    "— O(n^2) BASELINE for validating srp_lsh_cosine_near_dups; never "
    "point at a real corpus",
    oracle=f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
        SELECT a.vec_id AS id_1, b.vec_id AS id_2,
               round(list_cosine_similarity(a.vec, b.vec), 6) AS cosine
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.vec, b.vec), 6) >= {_COSINE_DUP_THRESHOLD}
    """,
)
def embedding_cosine_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, _COSINE_DUP_THRESHOLD)


# --- near-dup: sketch/LSH scale paths (rows-only checks) --------------------


@register(
    "minhash_near_dup_candidates",
    bench=True,
    tags=("dedup", "lsh"),
    description="MinHash(64) + 16-band LSH candidate pairs with est. Jaccard "
    "(scale path: band equi-join, no all-pairs). md5-derived hashes -> the "
    "oracle replays signatures, banding, and estimates bit-for-bit",
    oracle=minhash_pairs_sql(0.1, num_perm=64, bands=16, shingle_n=_NGRAM_N),
)
def minhash_near_dup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_perm=64, shingle_n=_NGRAM_N, hash_fn="md5")
    return minhash_candidate_pairs(sigs, bands=16, min_jaccard=0.1, hash_fn="md5")


@register(
    "simhash_near_dup_candidates",
    bench=True,
    tags=("dedup", "lsh"),
    description="60-bit SimHash banded candidates with hamming distance "
    "(md5-derived token hashes -> full cross-engine value oracle)",
    oracle=simhash_pairs_sql(max_hamming=15, bands=4, n_bits=60),
)
def simhash_near_dup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_candidate_pairs(
        simhash(docs, hash_fn="md5"), n_bits=60
    ).where(F.col("hamming") <= 15)


@register(
    "srp_lsh_cosine_near_dups",
    bench=True,
    tags=("dedup", "similarity", "lsh"),
    description=f"Cosine near-dups via banded sign-random-projection LSH "
    f"({_SRP_N_PLANES} planes, {_SRP_BANDS} bands): candidates from band "
    "equi-join, exact cosine verify — the scale path, with a FULL oracle "
    "(hyperplane literals shared with DuckDB, sign bits bit-identical)",
    oracle=srp_pairs_sql(_COSINE_DUP_THRESHOLD),
)
def srp_lsh_cosine_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return srp_banded_near_dup_pairs(
        emb,
        dim=_SRP_DIM,
        threshold=_COSINE_DUP_THRESHOLD,
        n_planes=_SRP_N_PLANES,
        bands=_SRP_BANDS,
    )


@register(
    "minhash_lsh_recall_report",
    tags=("dedup", "lsh", "quality"),
    description="Recall/precision audit of the deployed MinHash-LSH "
    "near-dup pipeline (64 perms, 16 bands, est >= 0.1) against EXACT "
    f"Jaccard >= {_PREFIX_JACCARD_THRESHOLD} ground truth from the "
    "lossless prefix-index join — the dedup lane's analogue of the ANN "
    "recall reports: one row, both sides value-oracled (the oracle "
    "replays the md5 signature/banding pipeline AND the prefix-index "
    "plan, then intersects)",
    oracle=f"""
        WITH truth AS MATERIALIZED (
            {_prefix_jaccard_oracle(_PREFIX_JACCARD_THRESHOLD)}
        ),
        lsh AS MATERIALIZED (
            {minhash_pairs_sql(0.1, num_perm=64, bands=16, shingle_n=_NGRAM_N)}
        ),
        nt AS (SELECT count(*) AS n FROM truth),
        nc AS (SELECT count(*) AS n FROM lsh),
        nh AS (SELECT count(*) AS n
               FROM truth t JOIN lsh c USING (id_1, id_2))
        SELECT CAST({_PREFIX_JACCARD_THRESHOLD} AS DOUBLE) AS threshold,
               CAST(nt.n AS BIGINT) AS n_true,
               CAST(nc.n AS BIGINT) AS n_candidates,
               CAST(nh.n AS BIGINT) AS n_hits,
               CASE WHEN nt.n > 0
                    THEN floor(CAST(nh.n AS DOUBLE) / nt.n * 10000 + 0.5)
                         / 10000 END AS lsh_recall,
               CASE WHEN nc.n > 0
                    THEN floor(CAST(nh.n AS DOUBLE) / nc.n * 10000 + 0.5)
                         / 10000 END AS candidate_precision
        FROM nt, nc, nh
    """,
)
def minhash_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The honesty audit the LSH lane was missing: what fraction of TRUE
    near-dup pairs (exact word-3-gram Jaccard >= 0.8, computed by the
    lossless PPJoin prefix-index join — never all-pairs) does the
    deployed MinHash(64)/16-band pipeline actually surface, and how
    noisy is its candidate set. Probabilistically, a J=0.8 pair agrees
    on a 4-row band with p = 0.8^4 ~ 0.41, so P(any of 16 bands) ~
    0.9998 — the report pins the realized numbers. Three bounded 1-row
    aggregates crossJoined; both inputs are the exact plans the
    standalone catalog rows run."""
    from data_algorithms_with_pyspark_spark.operators.dedup import (
        floor_round,
        minhash_candidate_pairs,
        minhash_signatures,
        prefix_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    truth = prefix_jaccard_pairs(
        docs, _PREFIX_JACCARD_THRESHOLD, shingle_n=_NGRAM_N
    ).select("id_1", "id_2")
    sigs = minhash_signatures(
        docs, num_perm=64, shingle_n=_NGRAM_N, hash_fn="md5"
    )
    cands = minhash_candidate_pairs(
        sigs, bands=16, min_jaccard=0.1, hash_fn="md5"
    ).select("id_1", "id_2")
    nt = truth.agg(F.count("*").alias("n_true"))
    nc = cands.agg(F.count("*").alias("n_candidates"))
    nh = truth.join(cands, ["id_1", "id_2"]).agg(
        F.count("*").alias("n_hits")
    )
    return nt.crossJoin(nc).crossJoin(nh).select(
        F.lit(_PREFIX_JACCARD_THRESHOLD).cast("double").alias("threshold"),
        F.col("n_true").cast("long").alias("n_true"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.when(
            F.col("n_true") > 0,
            floor_round(
                F.col("n_hits").cast("double") / F.col("n_true"), 4
            ),
        ).alias("lsh_recall"),
        F.when(
            F.col("n_candidates") > 0,
            floor_round(
                F.col("n_hits").cast("double") / F.col("n_candidates"), 4
            ),
        ).alias("candidate_precision"),
    )


# --- similarity search ------------------------------------------------------


@register(
    "ann_cosine_topk",
    bench=True,
    tags=("similarity",),
    description=f"Exact cosine top-{_ANN_K} for query vec_id={_ANN_QUERY_ID} "
    "(broadcast query vector + TakeOrdered)",
    oracle=f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
             q AS (SELECT vec FROM v WHERE vec_id = {_ANN_QUERY_ID})
        SELECT a.vec_id,
               round(list_cosine_similarity(a.vec, q.vec), 6) AS cosine
        FROM v a, q
        WHERE a.vec_id <> {_ANN_QUERY_ID}
        ORDER BY cosine DESC, a.vec_id
        LIMIT {_ANN_K}
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, query_id=_ANN_QUERY_ID, k=_ANN_K)


@register(
    "embedding_label_centroids",
    tags=("similarity", "aggregate"),
    description="Per-label centroid norms — array aggregation over vectors",
    oracle="""
        WITH counts AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
        dims AS (
            SELECT label, i, sum(embedding[i]::DOUBLE) AS s
            FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
            GROUP BY label, i
        )
        SELECT d.label, c.n,
               floor(sqrt(sum((d.s / c.n) * (d.s / c.n))) * 1000000 + 0.5) / 1000000 AS centroid_norm
        FROM dims d JOIN counts c USING (label)
        GROUP BY d.label, c.n
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_algorithms_with_pyspark_spark.operators.dedup import floor_round

    emb = load_table(spark, sf_dir, "embeddings")
    dim = 64
    vec = F.col("embedding").cast("array<double>")
    per_dim_sums = [
        F.sum(F.element_at(vec, i + 1)).alias(f"_s{i}") for i in range(dim)
    ]
    agg = emb.groupBy("label").agg(F.count("*").alias("n"), *per_dim_sums)
    sq = None
    for i in range(dim):
        term = (F.col(f"_s{i}") / F.col("n")) * (F.col(f"_s{i}") / F.col("n"))
        sq = term if sq is None else sq + term
    return agg.select(
        "label", "n", floor_round(F.sqrt(sq), 6).alias("centroid_norm")
    )


@register(
    "embedding_gram_covariance",
    bench=True,
    tags=("similarity", "aggregate", "ml"),
    description="Exact fixed-point Gram matrix + first moments (PCA-prep "
    "second-moment pass; covariance numerator n*g - s_i*s_j is exact)",
    oracle="""
        WITH q AS (
            SELECT vec_id, i,
                   CAST(floor(embedding[i]::DOUBLE * 1000000 + 0.5)
                        AS BIGINT) AS qv
            FROM embeddings
            CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
        ),
        s AS (SELECT i, CAST(sum(qv) AS BIGINT) AS s, count(*) AS n
              FROM q GROUP BY i),
        g AS (
            SELECT a.i AS i, b.i AS j, CAST(sum(a.qv * b.qv) AS BIGINT) AS g
            FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
            GROUP BY 1, 2
        )
        SELECT g.i, g.j, g.g, sa.s AS s_i, sb.s AS s_j, sa.n AS n
        FROM g JOIN s sa ON g.i = sa.i JOIN s sb ON g.j = sb.i
    """,
)
def embedding_gram_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_gram_fp(emb, dim=64, vec_col="embedding")


_PCA_ITERS = 8
_PCA_TOPK = 50


def _pca_projection_oracle_sql(
    dim: int = 64, iters: int = _PCA_ITERS, topk: int = _PCA_TOPK
) -> str:
    """DuckDB twin of embedding_pca_projection: replays the Gram pass, the
    quantized power iteration (unrolled CTEs; ``list_dot_product`` is the
    same left-to-right f64 fold as the driver's explicit loop — verified
    bit-identical), and the ordered-fold projection."""
    ctes = [
        f"""qm AS MATERIALIZED (
            SELECT vec_id, i,
                   CAST(floor(embedding[i]::DOUBLE * 1000000 + 0.5)
                        AS BIGINT) AS qv
            FROM embeddings
            CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) t
        )""",
        """s AS MATERIALIZED (
            SELECT i, CAST(sum(qv) AS BIGINT) AS s, count(*) AS n
            FROM qm GROUP BY i
        )""",
        """g AS MATERIALIZED (
            SELECT a.i AS i, b.i AS j, CAST(sum(a.qv * b.qv) AS BIGINT) AS g
            FROM qm a JOIN qm b ON a.vec_id = b.vec_id AND a.i <= b.i
            GROUP BY 1, 2
        )""",
        # full square covariance: n*g - s_i*s_j, one int64->f64 conversion
        # per operand + one IEEE mul/sub each (no summation -> no order
        # freedom); the strict triangle mirrors to (j, i).
        """cov AS MATERIALIZED (
            SELECT g.i AS i, g.j AS j,
                   CAST(sa.n AS DOUBLE) * CAST(g.g AS DOUBLE)
                   - CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE) AS c
            FROM g JOIN s sa ON g.i = sa.i JOIN s sb ON g.j = sb.i
            UNION ALL
            SELECT g.j, g.i,
                   CAST(sa.n AS DOUBLE) * CAST(g.g AS DOUBLE)
                   - CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)
            FROM g JOIN s sa ON g.i = sa.i JOIN s sb ON g.j = sb.i
            WHERE g.i < g.j
        )""",
        """crow AS MATERIALIZED (
            SELECT i, list(c ORDER BY j) AS cl FROM cov GROUP BY i
        )""",
        f"""v0 AS MATERIALIZED (
            SELECT unnest(range(1, {dim + 1})) AS i, 1000000.0 AS qv
        )""",
    ]
    for t in range(1, iters + 1):
        p = f"v{t - 1}"
        ctes.append(f"""p{t} AS MATERIALIZED (
            SELECT i, list_dot_product(
                       cl, (SELECT list(qv ORDER BY i) FROM {p})) AS w
            FROM crow
        )""")
        ctes.append(f"""v{t} AS MATERIALIZED (
            SELECT i, CAST(floor(w / (SELECT max(abs(w)) FROM p{t})
                                 * 1000000 + 0.5) AS DOUBLE) AS qv
            FROM p{t}
        )""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
        comp AS MATERIALIZED (SELECT list(qv ORDER BY i) AS cv FROM v{iters}),
        proj AS MATERIALIZED (
            SELECT vec_id,
                   CAST(floor(list_dot_product(embedding::DOUBLE[],
                                               (SELECT cv FROM comp)) + 0.5)
                        AS BIGINT) AS proj_q
            FROM embeddings
        )
        SELECT vec_id, proj_q FROM proj
        ORDER BY abs(proj_q) DESC, vec_id
        LIMIT {topk}
    """
    )


@register(
    "embedding_pca_projection",
    bench=True,
    tags=("similarity", "ml", "iterative"),
    description="Distributed PCA: one-pass exact Gram scan -> driver-side "
    f"quantized power iteration ({_PCA_ITERS} its) -> distributed ordered-"
    f"fold projection, top-{_PCA_TOPK} docs by |score| on the dominant "
    "covariance direction",
    oracle=_pca_projection_oracle_sql(),
)
def embedding_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two corpus passes total regardless of corpus size: the Gram scan
    (2080-row shuffle) and the projection map; the eigen-solve touches
    only the dim x dim driver-side matrix. The component is embedded as a
    64-literal array, so the projection is one codegen'd ordered fold per
    row — broadcast-free, shuffle-free until the final top-k
    (TakeOrderedAndProject)."""
    from data_algorithms_with_pyspark_spark.functions.vectors import (
        dot_product,
        to_double_array,
    )
    from data_algorithms_with_pyspark_spark.operators.ml import (
        pca_top_component_fp,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    gram = embedding_gram_fp(emb, dim=64, vec_col="embedding").collect()
    comp = pca_top_component_fp(gram, dim=64, iters=_PCA_ITERS)
    comp_col = F.array(*[F.lit(float(c)) for c in comp])
    proj = dot_product(to_double_array(F.col("embedding")), comp_col)
    return (
        emb.select(
            "vec_id",
            F.floor(proj + F.lit(0.5)).cast("long").alias("proj_q"),
        )
        .orderBy(F.abs(F.col("proj_q")).desc(), "vec_id")
        .limit(_PCA_TOPK)
    )


# --- text analysis ----------------------------------------------------------


@register(
    "doc_token_counts",
    bench=True,
    tags=("text",),
    description="Whitespace + BPE-ish subword token counts per document",
    oracle=f"""
        SELECT doc_id,
               len({_TOKENS}) AS n_tokens,
               CAST(COALESCE(list_sum(list_transform({_TOKENS},
                    w -> CAST(ceil(len(w) / 4.0) AS BIGINT))), 0) AS BIGINT)
                   AS n_subword_tokens
        FROM documents
    """,
)
def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(load_table(spark, sf_dir, "documents"))


@register(
    "doc_quality_scores",
    tags=("text",),
    description="Heuristic quality features + combined score per document",
    oracle=f"""
        SELECT doc_id,
               len({_TOKENS}) AS n_tokens,
               len(text) AS n_chars_measured,
               floor(CAST(len(text) AS DOUBLE) / greatest(len({_TOKENS}), 1)
                     * 10000 + 0.5) / 10000 AS mean_token_len,
               floor(CAST({_marker_sql(LANG_MARKERS['en'])} AS DOUBLE)
                     / greatest(len({_TOKENS}), 1) * 10000 + 0.5) / 10000
                   AS stopword_ratio,
               floor(CAST(len(regexp_extract_all(lower(text), '[a-z]')) AS DOUBLE)
                     / greatest(len(text), 1) * 10000 + 0.5) / 10000
                   AS alpha_ratio,
               floor((least(CAST(len({_TOKENS}) AS DOUBLE) / 100.0, 1.0) * 0.4
                     + (CAST({_marker_sql(LANG_MARKERS['en'])} AS DOUBLE)
                        / greatest(len({_TOKENS}), 1)) * 0.3
                     + (CAST(len(regexp_extract_all(lower(text), '[a-z]')) AS DOUBLE)
                        / greatest(len(text), 1)) * 0.3) * 10000 + 0.5) / 10000
                   AS quality_score
        FROM documents
    """,
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_scores(load_table(spark, sf_dir, "documents"))


def _lang_id_oracle() -> str:
    langs = sorted(LANG_MARKERS)
    scores = ",\n               ".join(
        f"{_marker_sql(LANG_MARKERS[lang])} AS score_{lang}" for lang in langs
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    case = " ".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs
    )
    score_cols = ", ".join(f"score_{lang}" for lang in langs)
    return f"""
        WITH scored AS (
            SELECT doc_id,
               {scores}
            FROM documents
        )
        SELECT doc_id,
               CASE WHEN {best} <= 0 THEN 'und' {case} ELSE 'und' END AS pred_lang,
               {score_cols}
        FROM scored
    """


@register(
    "doc_language_id",
    tags=("text",),
    description="Stopword-vote language ID with deterministic tie-break",
    oracle=_lang_id_oracle(),
)
def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(load_table(spark, sf_dir, "documents"))


@register(
    "language_id_confusion",
    tags=("text", "quality"),
    description="Language-ID audit: confusion matrix of the stopword-vote "
    "predictor against the corpus's ground-truth lang column (one scan, "
    "|langs|^2-bounded integer output)",
    oracle=f"""
        WITH pred AS ({_lang_id_oracle()})
        SELECT d.lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM pred p JOIN documents d USING (doc_id)
        GROUP BY d.lang, p.pred_lang
    """,
)
def language_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model-audit shape every heuristic classifier in a curation
    pipeline needs: predictions against ground truth, aggregated to a
    confusion matrix. One corpus scan (the truth label rides the
    language-ID projection via ``keep_cols`` — no join-back), one hash
    aggregate on (lang, pred_lang); output is bounded by |langs|^2
    regardless of corpus size, and all-integer so the cross-engine hash
    is exact. (The oracle joins its per-doc prediction replay back to
    documents instead — same relation, independently derived.)"""
    docs = load_table(spark, sf_dir, "documents")
    return (
        language_id(docs, keep_cols=("lang",))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


# --- multimodal plumbing ----------------------------------------------------


@register(
    "multimodal_binary_metadata",
    tags=("multimodal",),
    description="Binary payload metadata pass (size + sha256) over the "
    "documents-as-bytes multimodal table",
    oracle="""
        SELECT doc_id AS media_id,
               'application/octet-stream' AS mime_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS sha256
        FROM documents
    """,
)
def multimodal_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return binary_metadata(with_binary_payload(docs))


@register(
    "multimodal_decoded_stats",
    bench=True,
    tags=("multimodal", "pandas-udf"),
    description="REAL image decode over a corpus of valid 24-bit BMP files "
    "(pure-numpy parser in Arrow mapInPandas batches): dimensions + pixel "
    "checksum per image; the closed-form pixel rule lets the oracle compute "
    "expected decode outputs in pure SQL without a codec",
    oracle="""
        WITH m AS (
            SELECT doc_id AS media_id,
                   4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h
            FROM documents
        ),
        px AS (
            SELECT media_id, w, h, i % w AS x, i // w AS y
            FROM (SELECT media_id, w, h, unnest(range(w * h)) AS i FROM m)
        )
        SELECT media_id,
               CAST(h AS INT) AS height,
               CAST(w AS INT) AS width,
               CAST(3 AS INT) AS n_channels,
               CAST(sum(  (x * 7 + media_id) % 256
                        + (y * 11 + media_id) % 256
                        + (x + y + media_id) % 256) AS BIGINT) AS pixel_sum
        FROM px GROUP BY media_id, w, h
    """,
)
def multimodal_decoded_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end real-bytes multimodal pass: synthesize a corpus of
    actual BMP files (one per document id — real headers, padding, BGR
    bottom-up rows), then DECODE them with the pure-numpy parser and
    report dimensions + the sum of every decoded channel byte. Decode
    runs in the Arrow mapInPandas batches; nothing is faked."""
    docs = load_table(spark, sf_dir, "documents")
    media = synthetic_bmp_media(docs)
    return decode_image_batch(media, fake=False)


@register(
    "multimodal_audio_stats",
    tags=("multimodal", "pandas-udf"),
    description="REAL audio decode over a corpus of valid RIFF/WAVE PCM16 "
    "files (chunk-walking pure-numpy parser in Arrow mapInPandas batches): "
    "rate/channels/frames/duration + sample checksum per clip; the "
    "closed-form sample rule lets the oracle compute expected decode "
    "outputs in pure SQL without a codec",
    oracle="""
        WITH m AS (
            SELECT doc_id AS media_id,
                   200 + doc_id % 57 AS n,
                   1 + doc_id % 2 AS ch,
                   8000 + (doc_id % 3) * 4000 AS rate
            FROM documents
        ),
        s AS (
            SELECT media_id, n, ch, rate,
                   (k // ch * 37 + k % ch * 11 + media_id * 7) % 4001 - 2000
                       AS sample
            FROM (SELECT media_id, n, ch, rate,
                         unnest(range(n * ch)) AS k
                  FROM m)
        )
        SELECT media_id,
               CAST(rate AS INT) AS sample_rate,
               CAST(ch AS INT) AS n_channels,
               CAST(n AS BIGINT) AS n_samples,
               CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
               CAST(sum(sample) AS BIGINT) AS sample_sum,
               CAST(max(abs(sample)) AS INT) AS abs_peak
        FROM s GROUP BY media_id, n, ch, rate
    """,
)
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end real-bytes audio pass: synthesize a corpus of actual
    PCM16 WAV files (real RIFF headers, interleaved little-endian
    frames), then DECODE them with the chunk-walking pure-numpy parser
    and report rate, channels, frame count, floor-ms duration, the sum of
    every decoded sample, and the absolute peak. Decode runs in the Arrow
    mapInPandas batches; nothing is faked."""
    docs = load_table(spark, sf_dir, "documents")
    media = synthetic_wav_media(docs)
    return decode_audio_batch(media)


@register(
    "multimodal_video_stats",
    tags=("multimodal", "pandas-udf"),
    description="REAL video decode over a corpus of valid YUV4MPEG2 C444 "
    "clips (FRAME-walking pure-numpy parser in Arrow mapInPandas batches): "
    "frame count/dims/fps/duration + full and luma-plane checksums per "
    "clip; the closed-form plane rule lets the oracle compute expected "
    "decode outputs in pure SQL without a video parser",
    oracle="""
        WITH m AS (
            SELECT doc_id AS media_id,
                   4 + doc_id % 9 AS w, 4 + doc_id % 7 AS h,
                   2 + doc_id % 5 AS n, 24 + (doc_id % 2) * 6 AS fps
            FROM documents
        ),
        px AS (
            SELECT media_id, w, h, n, fps,
                   i % w AS x, (i // w) % h AS y,
                   (i // (w * h)) % 3 AS p, i // (w * h * 3) AS t
            FROM (SELECT media_id, w, h, n, fps,
                         unnest(range(w * h * 3 * n)) AS i
                  FROM m)
        )
        SELECT media_id,
               CAST(n AS INT) AS n_frames,
               CAST(h AS INT) AS height,
               CAST(w AS INT) AS width,
               CAST(fps AS INT) AS fps_num,
               CAST(n * 1000 // fps AS BIGINT) AS duration_ms,
               CAST(sum((x*3 + y*5 + t*17 + p*29 + media_id) % 256)
                    AS BIGINT) AS pixel_sum,
               CAST(sum(CASE WHEN p = 0
                             THEN (x*3 + y*5 + t*17 + media_id) % 256
                             ELSE 0 END) AS BIGINT) AS y_sum
        FROM px GROUP BY media_id, w, h, n, fps
    """,
)
def multimodal_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end real-bytes video pass: synthesize a corpus of actual
    Y4M C444 clips (real stream headers, FRAME markers, raw planes), then
    DECODE them with the FRAME-walking pure-numpy parser and report frame
    count, dimensions, fps, floor-ms duration, the sum of every decoded
    plane byte, and the luma-plane-only sum. Decode runs in the Arrow
    mapInPandas batches; nothing is faked."""
    docs = load_table(spark, sf_dir, "documents")
    return decode_video_batch(synthetic_y4m_media(docs))


@register(
    "multimodal_frame_pipeline",
    tags=("multimodal", "pandas-udf"),
    description="Video -> image pipeline composition, all real bytes: "
    "Y4M clips -> stride-2 frame sampling (each sampled frame re-emitted "
    "as a standalone P6 PPM) -> REAL image decode -> per-clip sampled-"
    "frame count + pixel checksum; proves sampled frames are valid "
    "images the image operators consume unchanged",
    oracle="""
        WITH m AS (
            SELECT doc_id AS media_id,
                   4 + doc_id % 9 AS w, 4 + doc_id % 7 AS h,
                   2 + doc_id % 5 AS n
            FROM documents
        ),
        f AS (  -- stride-2 sampling, capped at 4 (n <= 6 never hits the cap)
            SELECT media_id, w, h, unnest(range(0, n, 2)) AS t FROM m
        ),
        px AS (
            SELECT media_id, t,
                   i % w AS x, (i // w) % h AS y, i // (w * h) AS p
            FROM (SELECT media_id, w, h, t, unnest(range(w * h * 3)) AS i
                  FROM f)
        ),
        per_frame AS (
            SELECT media_id, t,
                   sum((x*3 + y*5 + t*17 + p*29 + media_id) % 256) AS fsum
            FROM px GROUP BY media_id, t
        )
        SELECT media_id,
               CAST(count(*) AS BIGINT) AS n_sampled,
               CAST(sum(fsum) AS BIGINT) AS sampled_pixel_sum
        FROM per_frame GROUP BY media_id
    """,
)
def multimodal_frame_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compose the video and image surfaces end-to-end: decode real Y4M,
    sample every 2nd frame, re-encode each as a P6 PPM, push those
    through the REAL image decoder, and aggregate per clip. A frame
    sampled from video is — verifiably, by value — an image the rest of
    the pipeline can process."""
    docs = load_table(spark, sf_dir, "documents")
    frames = sample_video_frames(
        synthetic_y4m_media(docs), stride=2, max_frames=4
    )
    imgs = decode_image_batch(
        frames.select("media_id", F.col("frame_bytes").alias("payload")),
        fake=False,
    )
    return imgs.groupBy("media_id").agg(
        F.count("*").alias("n_sampled"),
        F.sum("pixel_sum").alias("sampled_pixel_sum"),
    )


@register(
    "ivf_ann_topk",
    bench=True,
    tags=("similarity", "ann"),
    description=f"IVF approximate top-{_ANN_K}: nearest-centroid inverted lists, "
    "4-of-16 probe, exact re-rank on candidates (operators/ann.py:ivf_topk)",
    oracle=f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        ),
        cent AS MATERIALIZED (
            SELECT vec_id AS cid, vec AS cvec FROM v WHERE vec_id < 16
        ),
        assign AS MATERIALIZED (
            SELECT vec_id, cid FROM (
                SELECT v.vec_id, c.cid,
                       -- quantized to the Spark packed-argmax 1e15 grid
                       -- (floor(x+0.5) == HALF_UP for cos+1 >= 0) so
                       -- near-tied centroids tie identically cross-engine
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY CAST(floor((list_cosine_similarity(
                                        v.vec, c.cvec) + 1.0) * 1e15 + 0.5)
                                        AS BIGINT) DESC,
                                    c.cid
                       ) AS rn
                FROM v CROSS JOIN cent c
            ) WHERE rn = 1
        ),
        q AS (SELECT vec AS qvec FROM v WHERE vec_id = {_ANN_QUERY_ID}),
        probes AS (
            SELECT cid FROM cent, q
            ORDER BY list_cosine_similarity(cvec, qvec) DESC, cid
            LIMIT 4
        )
        SELECT v.vec_id,
               round(list_cosine_similarity(v.vec, q.qvec), 6) AS cosine
        FROM v
        JOIN assign a ON v.vec_id = a.vec_id
        JOIN probes p ON a.cid = p.cid, q
        WHERE v.vec_id <> {_ANN_QUERY_ID}
        ORDER BY cosine DESC, v.vec_id
        LIMIT {_ANN_K}
    """,
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann.ivf_topk(emb, query_id=_ANN_QUERY_ID, k=_ANN_K, n_lists=16, n_probe=4)


@register(
    "doc_tfidf_top_terms",
    tags=("text",),
    description="Top-5 TF-IDF terms per document (smoothed idf; "
    "operators/text.py:tfidf_top_terms)",
    oracle=f"""
        WITH tokens AS MATERIALIZED (
            SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
               FROM tokens GROUP BY doc_id, term),
        df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tokens GROUP BY term),
        nd AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf,
                   round(tf.tf * (ln((nd.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6)
                       AS tfidf
            FROM tf JOIN df ON tf.term = df.term, nd
        )
        SELECT doc_id, term, tf, tfidf, rn FROM (
            SELECT *, CAST(row_number() OVER (
                       PARTITION BY doc_id ORDER BY tfidf DESC, term
                   ) AS BIGINT) AS rn
            FROM scored
        ) WHERE rn <= 5
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_algorithms_with_pyspark_spark.operators.text import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=5)


@register(
    "term_bigram_pmi",
    tags=("text", "stats"),
    description="Adjacent-bigram pointwise mutual information (collocation "
    "mining, Church & Hanks 1990): integer nano-unit PMI for every pair "
    "seen >= 5 times — the phrase-induction statistic a tokenizer "
    "pipeline merges on",
    oracle=f"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id, {_TOKENS} AS t FROM documents
        ),
        ucnt AS (
            SELECT term, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT unnest(t) AS term FROM toks) GROUP BY term
        ),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS t_total FROM ucnt),
        bcnt AS (
            SELECT pair[1] AS term_a, pair[2] AS term_b,
                   CAST(count(*) AS BIGINT) AS n_ab
            FROM (SELECT unnest(list_transform(range(1, len(t)),
                                               i -> [t[i], t[i + 1]])) AS pair
                  FROM toks)
            GROUP BY term_a, term_b
        ),
        btot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS b_total FROM bcnt)
        SELECT b.term_a, b.term_b, b.n_ab,
               CAST(floor(ln(CAST(b.n_ab AS DOUBLE) / bt.b_total
                              * tt.t_total / ua.n * tt.t_total / ub.n)
                          * 1000000000.0 + 0.5) AS BIGINT) AS pmi_nano
        FROM bcnt b
        JOIN ucnt ua ON b.term_a = ua.term
        JOIN ucnt ub ON b.term_b = ub.term, tot tt, btot bt
        WHERE b.n_ab >= 5
    """,
)
def term_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/text.py:bigram_pmi — identical division chain and ln on
    both engines, integer nano-unit output (floor form). DuckDB builds
    bigrams positionally (t[i], t[i+1] over range(1, len(t))), Spark via
    word_ngrams — same adjacent pairs by construction."""
    from data_algorithms_with_pyspark_spark.operators.text import bigram_pmi

    docs = load_table(spark, sf_dir, "documents")
    return bigram_pmi(docs, min_count=5)


# --- BM25 ranked retrieval --------------------------------------------------
#
# Query strings are simple lowercase space-separated constants, so their
# token lists are known statically — the oracle embeds them as literal
# (query_id, term) VALUES rather than re-tokenizing in SQL. k1/b-derived
# constants are embedded via repr() so both engines parse the identical
# double (the SRP-hyperplane literal discipline).
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_K = 10
_BM25_QUERIES: tuple[tuple[int, str], ...] = (
    (0, "hash join merge"),
    (1, "window agg group"),
    (2, "dup scan table"),
    (3, "fast sort big query"),
)
_BM25_QT_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, qs in _BM25_QUERIES for t in sorted(set(qs.split()))
)


@register(
    "bm25_search_topk",
    bench=True,
    tags=("text", "index", "search"),
    description=f"BM25 ranked retrieval: top-{_BM25_K} documents for each of "
    f"{len(_BM25_QUERIES)} keyword queries (k1={_BM25_K1}, b={_BM25_B}); "
    "postings are query-term-filtered before any shuffle and per-term "
    "scores quantize to integer micro-units before summation",
    oracle=f"""
        WITH qt(query_id, term) AS (VALUES {_BM25_QT_VALUES}),
        dls AS (SELECT len({_TOKENS}) AS dl FROM documents),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
            FROM dls
        ),
        toks AS (
            SELECT doc_id, len(t) AS dl, unnest(t) AS term
            FROM (SELECT doc_id, {_TOKENS} AS t FROM documents)
        ),
        tf AS (
            SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
            FROM toks
            WHERE term IN (SELECT DISTINCT term FROM qt)
            GROUP BY doc_id, dl, term
        ),
        df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        scored AS (
            SELECT qt.query_id, tf.doc_id,
                   CAST(floor(
                       ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                       * (tf.tf * {_BM25_K1 + 1.0!r})
                       / (tf.tf + {_BM25_K1!r}
                          * ({1.0 - _BM25_B!r} + {_BM25_B!r} * tf.dl / s.avgdl))
                       * 1000000.0 + 0.5) AS BIGINT) AS score_micro
            FROM tf
            JOIN df ON tf.term = df.term
            JOIN qt ON tf.term = qt.term, stats s
        ),
        agg AS (
            SELECT query_id, doc_id,
                   CAST(count(*) AS BIGINT) AS matched_terms,
                   CAST(sum(score_micro) AS BIGINT) AS score_micro
            FROM scored GROUP BY query_id, doc_id
        )
        SELECT query_id, doc_id, matched_terms, score_micro, rn FROM (
            SELECT *, CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score_micro DESC, doc_id
                   ) AS BIGINT) AS rn
            FROM agg
        ) WHERE rn <= {_BM25_K}
    """,
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/text.py:bm25_topk — see its docstring for the shuffle-
    minimal execution shape (query-term-filtered postings, integer
    micro-unit score sum, WindowGroupLimit top-k)."""
    from data_algorithms_with_pyspark_spark.operators.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(
        docs, list(_BM25_QUERIES), k=_BM25_K, k1=_BM25_K1, b=_BM25_B
    )


_PQ_M = 8       # subspaces
_PQ_KSUB = 16   # codewords per subspace -> 4-bit codes, 32-bit pq_code
_PQ_W = 8       # dims per subspace (embeddings are 64-d)


@register(
    "pq_ann_topk",
    bench=True,
    tags=("similarity", "ann", "sketch"),
    description=f"Product-quantization ANN top-{_ANN_K} (Jegou et al. 2011): "
    "64-float vectors compressed to 32-bit PQ codes (64x), asymmetric-"
    "distance scan via an integer nano-unit LUT; true squared-L2 rides "
    "along as the audit column",
    oracle=f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        ),
        cb AS MATERIALIZED (
            SELECT s.s, c.code, c.vec AS cfull
            FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, vec
                  FROM v ORDER BY vec_id LIMIT {_PQ_KSUB}) c
            CROSS JOIN (SELECT unnest(range({_PQ_M})) AS s) s
        ),
        dist AS (
            SELECT v.vec_id, cb.s, cb.code,
                   list_aggregate(list_transform(range(1, {_PQ_W} + 1),
                       i -> (v.vec[cb.s * {_PQ_W} + i] - cb.cfull[cb.s * {_PQ_W} + i])
                          * (v.vec[cb.s * {_PQ_W} + i] - cb.cfull[cb.s * {_PQ_W} + i])),
                       'sum') AS d2
            FROM v CROSS JOIN cb
        ),
        enc0 AS (
            SELECT vec_id, s,
                   min(CAST(floor(d2 * 1e12 + 0.5) AS BIGINT) * {_PQ_KSUB}
                       + code) % {_PQ_KSUB} AS code_s
            FROM dist GROUP BY vec_id, s
        ),
        enc AS MATERIALIZED (
            SELECT vec_id,
                   CAST(sum(code_s * (1::BIGINT << (4 * s))) AS BIGINT)
                       AS pq_code
            FROM enc0 GROUP BY vec_id
        ),
        q AS MATERIALIZED (
            SELECT vec AS qvec FROM v WHERE vec_id = {_ANN_QUERY_ID}
        ),
        lut AS MATERIALIZED (
            SELECT cb.s, cb.code,
                   CAST(floor(list_aggregate(list_transform(range(1, {_PQ_W} + 1),
                       i -> (q.qvec[cb.s * {_PQ_W} + i] - cb.cfull[cb.s * {_PQ_W} + i])
                          * (q.qvec[cb.s * {_PQ_W} + i] - cb.cfull[cb.s * {_PQ_W} + i])),
                       'sum') * 1e9 + 0.5) AS BIGINT) AS d2n
            FROM cb, q
        ),
        adc AS (
            SELECT c.vec_id, any_value(c.pq_code) AS pq_code,
                   CAST(sum(l.d2n) AS BIGINT) AS adc_nano
            FROM (
                SELECT e.vec_id, e.pq_code, s.s,
                       (e.pq_code >> (4 * s.s)) & {_PQ_KSUB - 1} AS code_s
                FROM enc e
                CROSS JOIN (SELECT unnest(range({_PQ_M})) AS s) s
            ) c
            JOIN lut l ON l.s = c.s AND l.code = c.code_s
            GROUP BY c.vec_id
        ),
        topk AS (
            SELECT vec_id, pq_code, adc_nano
            FROM adc WHERE vec_id <> {_ANN_QUERY_ID}
            ORDER BY adc_nano, vec_id LIMIT {_ANN_K}
        )
        SELECT t.vec_id, t.pq_code, t.adc_nano,
               CAST(floor(list_aggregate(list_transform(range(1, {_PQ_M * _PQ_W} + 1),
                   i -> (v.vec[i] - q.qvec[i]) * (v.vec[i] - q.qvec[i])),
                   'sum') * 1e9 + 0.5) AS BIGINT) AS true_nano
        FROM topk t JOIN v USING (vec_id), q
        ORDER BY t.adc_nano, t.vec_id
    """,
)
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN memory tier: PQ codes are 64x smaller than the vectors, so
    the 100 TB corpus's search structure fits hot storage; the ADC scan
    touches only (vec_id, pq_code) — one projection, integer adds — and
    the true distance joins back for the k winners only (a broadcast of
    k ids). Codebook + query + LUT are driver state (k*d doubles),
    exactly like the kmeans centroid loop."""
    vecs = _ann_vecs(spark, sf_dir)
    q = ann.fetch_query(vecs, _ANN_QUERY_ID)
    cb = pq_codebook(vecs, m=_PQ_M, ksub=_PQ_KSUB, vec_col="vec")
    return ann.with_true_nano(ann.pq_search(vecs, cb, q, _ANN_K), vecs, q, "adc_nano")


@register(
    "pq_recall_report",
    tags=("similarity", "ann", "quality"),
    description=f"ANN quality audit: recall@{_ANN_K} of the PQ/ADC index "
    "against exact squared-L2 search for the standard query — the "
    "accuracy-vs-64x-compression trade-off as a single-row report",
    oracle=f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        ),
        cb AS MATERIALIZED (
            SELECT s.s, c.code, c.vec AS cfull
            FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, vec
                  FROM v ORDER BY vec_id LIMIT {_PQ_KSUB}) c
            CROSS JOIN (SELECT unnest(range({_PQ_M})) AS s) s
        ),
        dist AS (
            SELECT v.vec_id, cb.s, cb.code,
                   list_aggregate(list_transform(range(1, {_PQ_W} + 1),
                       i -> (v.vec[cb.s * {_PQ_W} + i] - cb.cfull[cb.s * {_PQ_W} + i])
                          * (v.vec[cb.s * {_PQ_W} + i] - cb.cfull[cb.s * {_PQ_W} + i])),
                       'sum') AS d2
            FROM v CROSS JOIN cb
        ),
        enc0 AS (
            SELECT vec_id, s,
                   min(CAST(floor(d2 * 1e12 + 0.5) AS BIGINT) * {_PQ_KSUB}
                       + code) % {_PQ_KSUB} AS code_s
            FROM dist GROUP BY vec_id, s
        ),
        enc AS MATERIALIZED (
            SELECT vec_id,
                   CAST(sum(code_s * (1::BIGINT << (4 * s))) AS BIGINT)
                       AS pq_code
            FROM enc0 GROUP BY vec_id
        ),
        q AS MATERIALIZED (
            SELECT vec AS qvec FROM v WHERE vec_id = {_ANN_QUERY_ID}
        ),
        lut AS MATERIALIZED (
            SELECT cb.s, cb.code,
                   CAST(floor(list_aggregate(list_transform(range(1, {_PQ_W} + 1),
                       i -> (q.qvec[cb.s * {_PQ_W} + i] - cb.cfull[cb.s * {_PQ_W} + i])
                          * (q.qvec[cb.s * {_PQ_W} + i] - cb.cfull[cb.s * {_PQ_W} + i])),
                       'sum') * 1e9 + 0.5) AS BIGINT) AS d2n
            FROM cb, q
        ),
        adc_topk AS (
            SELECT c.vec_id, CAST(sum(l.d2n) AS BIGINT) AS adc_nano
            FROM (
                SELECT e.vec_id, (e.pq_code >> (4 * s.s)) & {_PQ_KSUB - 1}
                           AS code_s, s.s
                FROM enc e
                CROSS JOIN (SELECT unnest(range({_PQ_M})) AS s) s
                WHERE e.vec_id <> {_ANN_QUERY_ID}
            ) c
            JOIN lut l ON l.s = c.s AND l.code = c.code_s
            GROUP BY c.vec_id
            ORDER BY adc_nano, c.vec_id LIMIT {_ANN_K}
        ),
        exact_topk AS (
            SELECT v.vec_id,
                   CAST(floor(list_aggregate(list_transform(
                       range(1, {_PQ_M * _PQ_W} + 1),
                       i -> (v.vec[i] - q.qvec[i]) * (v.vec[i] - q.qvec[i])),
                       'sum') * 1e9 + 0.5) AS BIGINT) AS true_nano
            FROM v, q WHERE v.vec_id <> {_ANN_QUERY_ID}
            ORDER BY true_nano, v.vec_id LIMIT {_ANN_K}
        )
        SELECT CAST({_ANN_K} AS BIGINT) AS k,
               CAST(count(*) AS BIGINT) AS n_overlap,
               floor(CAST(count(*) AS DOUBLE) / {_ANN_K} * 10000 + 0.5)
                   / 10000 AS recall
        FROM adc_topk a JOIN exact_topk e USING (vec_id)
    """,
)
def pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k is THE acceptance metric for an ANN index — computable
    exactly at test scale (the exact top-k is affordable), sampled on a
    query panel at corpus scale. Both rankings order by integer nano
    distances (ties by id), so the set intersection is engine-exact; the
    ratio uses floor-rounding (small-integer ratio class).

    Expected values here are LOW (0.1-0.4): the synthetic embeddings are
    uniform-random — PQ's pathological case, since nothing clusters and
    the 16 first-id codewords tile the space badly. That is the finding
    the report exists to surface: on this data you ship IVF/SRP (whose
    recall tests pass planted-neighbor checks), or train real codebooks
    per subspace (``similarity.pq_train_codebook``, the lane below) on
    clustered embeddings."""
    vecs = _ann_vecs(spark, sf_dir)
    q = ann.fetch_query(vecs, _ANN_QUERY_ID)
    cb = pq_codebook(vecs, m=_PQ_M, ksub=_PQ_KSUB, vec_col="vec")
    return ann.recall_report(
        ann.pq_search(vecs, cb, q, _ANN_K), ann.exact_topk(vecs, q, _ANN_K), _ANN_K
    )


# --- trained-PQ-codebook lane (VERDICT r7 #5) --------------------------------
#
# Same geometry as the first-k-ids stand-in above, but the codebooks are
# REAL per-subspace k-means (operators/similarity.pq_train_codebook):
# _PQ_TRAIN_ITERS Lloyd rounds, codewords quantized to the CENTROID_QUANT
# grid each round (the embedding_kmeans_assign determinism recipe), so the
# oracle below unrolls the identical iterations with the subspace index s
# riding along as a plain group key — one unrolled loop trains all 8
# codebooks, mirroring the Spark trainer: operators/clustering.lloyd keyed
# by (s, cid), assigning through pq_encode.

_PQ_TRAIN_ITERS = 2


def _pq_trained_cb_ctes() -> str:
    """CTE chain ending in ``ct{_PQ_TRAIN_ITERS}``: the trained codebook as
    (s, cid, cvec) with cvec a {_PQ_W}-dim list, plus ``v``/``vs``/``sdims``
    feeders. Replays operators/similarity.pq_train_codebook bit-for-bit:
    squared-L2 argmin assignment on pq_encode's 1e12 floor grid (ties to
    the lower cid — train and encode share the metric, ADVICE r8), means
    quantized on the CENTROID_QUANT FLOOR-grid on both engines (never a
    Python-round/duck-round pair, ADVICE r8), empty codewords retained.
    The d2 list sum replays pq_encode's dim-sequential left-fold, which
    the trainer assigns through."""
    from data_algorithms_with_pyspark_spark.operators.clustering import (
        CENTROID_QUANT,
    )

    q, m, ksub, w = CENTROID_QUANT, _PQ_M, _PQ_KSUB, _PQ_W
    grid = f"1e{q}"

    def assign(name: str, cents: str) -> str:
        return f"""
        {name} AS MATERIALIZED (
            SELECT vs.vec_id, vs.s,
                   CAST(min(CAST(floor(list_aggregate(
                            list_transform(range(1, {w} + 1),
                                i -> (vs.sv[i] - c.cvec[i])
                                   * (vs.sv[i] - c.cvec[i])),
                            'sum') * 1e12 + 0.5) AS BIGINT) * {ksub}
                        + c.cid) % {ksub} AS INT) AS cid
            FROM vs JOIN {cents} c ON c.s = vs.s
            GROUP BY vs.vec_id, vs.s
        )"""

    def recompute(name: str, assign_t: str, prev: str) -> str:
        return f"""
        {name} AS MATERIALIZED (
            SELECT p.s, p.cid, COALESCE(g.cvec, p.cvec) AS cvec
            FROM {prev} p LEFT JOIN (
                SELECT s, cid, list(mv ORDER BY i) AS cvec FROM (
                    SELECT a.s, a.cid, d.i,
                           floor(avg(vs.sv[d.i]) * {grid} + 0.5) / {grid}
                               AS mv
                    FROM vs
                    JOIN {assign_t} a
                      ON a.vec_id = vs.vec_id AND a.s = vs.s
                    CROSS JOIN wdims d
                    GROUP BY a.s, a.cid, d.i
                ) GROUP BY s, cid
            ) g ON g.s = p.s AND g.cid = p.cid
        )"""

    iters = "".join(
        f",{assign(f'at{i}', f'ct{i - 1}')},{recompute(f'ct{i}', f'at{i}', f'ct{i - 1}')}"
        for i in range(1, _PQ_TRAIN_ITERS + 1)
    )
    return f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        ),
        sdims AS (SELECT unnest(range({m})) AS s),
        wdims AS (SELECT unnest(range(1, {w} + 1)) AS i),
        vs AS MATERIALIZED (
            SELECT v.vec_id, sd.s,
                   list_transform(range(1, {w} + 1),
                       i -> v.vec[sd.s * {w} + i]) AS sv
            FROM v CROSS JOIN sdims sd
        ),
        ct0 AS MATERIALIZED (
            SELECT s, vec_id::INT AS cid,
                   list_transform(sv, x -> floor(x * {grid} + 0.5) / {grid})
                       AS cvec
            FROM vs WHERE vec_id < {ksub}
        ){iters}"""


def _pq_trained_enc_ctes(cb: str, prefix: str) -> str:
    """Encode + query-LUT + ADC CTEs against codebook table ``cb``
    (columns s, cid, cvec) — the pq_ann_topk pipeline re-expressed over
    per-subspace codeword lists. Emits {prefix}enc / {prefix}lut /
    {prefix}adc; expects feeders v/vs/sdims and the shared ``q`` CTE."""
    ksub, w, m = _PQ_KSUB, _PQ_W, _PQ_M
    return f"""
        {prefix}dist AS (
            SELECT vs.vec_id, c.s, c.cid AS code,
                   list_aggregate(list_transform(range(1, {w} + 1),
                       i -> (vs.sv[i] - c.cvec[i]) * (vs.sv[i] - c.cvec[i])),
                       'sum') AS d2
            FROM vs JOIN {cb} c ON c.s = vs.s
        ),
        {prefix}enc0 AS (
            SELECT vec_id, s,
                   min(CAST(floor(d2 * 1e12 + 0.5) AS BIGINT) * {ksub}
                       + code) % {ksub} AS code_s
            FROM {prefix}dist GROUP BY vec_id, s
        ),
        {prefix}enc AS MATERIALIZED (
            SELECT vec_id,
                   CAST(sum(code_s * (1::BIGINT << (4 * s))) AS BIGINT)
                       AS pq_code
            FROM {prefix}enc0 GROUP BY vec_id
        ),
        {prefix}lut AS MATERIALIZED (
            SELECT c.s, c.cid AS code,
                   CAST(floor(list_aggregate(list_transform(range(1, {w} + 1),
                       i -> (q.qvec[c.s * {w} + i] - c.cvec[i])
                          * (q.qvec[c.s * {w} + i] - c.cvec[i])),
                       'sum') * 1e9 + 0.5) AS BIGINT) AS d2n
            FROM {cb} c, q
        ),
        {prefix}adc AS MATERIALIZED (
            SELECT cc.vec_id, any_value(cc.pq_code) AS pq_code,
                   CAST(sum(l.d2n) AS BIGINT) AS adc_nano
            FROM (
                SELECT e.vec_id, e.pq_code, sd.s,
                       (e.pq_code >> (4 * sd.s)) & {ksub - 1} AS code_s
                FROM {prefix}enc e CROSS JOIN sdims sd
                WHERE e.vec_id <> {_ANN_QUERY_ID}
            ) cc
            JOIN {prefix}lut l ON l.s = cc.s AND l.code = cc.code_s
            GROUP BY cc.vec_id
        )"""


def _standin_cb_as_lists_cte() -> str:
    """The first-{_PQ_KSUB}-ids stand-in codebook in the SAME (s, cid,
    cvec-list) shape as the trained CTEs, so both lanes share one encode
    pipeline."""
    return f"""
        sb AS MATERIALIZED (
            SELECT sd.s, c.code AS cid,
                   list_transform(range(1, {_PQ_W} + 1),
                       i -> c.vec[sd.s * {_PQ_W} + i]) AS cvec
            FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, vec
                  FROM v ORDER BY vec_id LIMIT {_PQ_KSUB}) c
            CROSS JOIN sdims sd
        )"""


def _pq_trained(vecs: DataFrame) -> list[list[list[float]]]:
    return pq_train_codebook(
        vecs, m=_PQ_M, ksub=_PQ_KSUB, max_iter=_PQ_TRAIN_ITERS, tol=0.0, vec_col="vec"
    )


@register(
    "pq_ann_trained_codebook",
    tags=("similarity", "ann", "iterative"),
    description=f"PQ/ADC ANN top-{_ANN_K} with TRAINED per-subspace "
    f"k-means codebooks ({_PQ_TRAIN_ITERS} Lloyd rounds, grid-quantized "
    "each round) instead of the first-k-ids stand-in — the full DuckDB "
    "oracle unrolls the identical training iterations with the subspace "
    "index as a group key (operators/similarity.pq_train_codebook)",
    oracle=f"""
        {_pq_trained_cb_ctes()},
        q AS MATERIALIZED (
            SELECT vec AS qvec FROM v WHERE vec_id = {_ANN_QUERY_ID}
        ),{_pq_trained_enc_ctes(f"ct{_PQ_TRAIN_ITERS}", "t_")},
        topk AS (
            SELECT vec_id, pq_code, adc_nano FROM t_adc
            ORDER BY adc_nano, vec_id LIMIT {_ANN_K}
        )
        SELECT t.vec_id, t.pq_code, t.adc_nano,
               CAST(floor(list_aggregate(list_transform(
                   range(1, {_PQ_M * _PQ_W} + 1),
                   i -> (v.vec[i] - q.qvec[i]) * (v.vec[i] - q.qvec[i])),
                   'sum') * 1e9 + 0.5) AS BIGINT) AS true_nano
        FROM topk t JOIN v USING (vec_id), q
        ORDER BY t.adc_nano, t.vec_id
    """,
)
def pq_ann_trained_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ lane: codebooks TRAINED by per-subspace k-means
    (Jegou et al. 2011) rather than substituted from the first ksub ids.
    Training is one grouped Lloyd loop (clustering.lloyd) — all 8
    subspaces per round, one pq_encode pass with the codebook in the
    encoder's closure and one (s, cid, pos) mean aggregate back, corpus
    never shuffles — and the determinism recipe (CENTROID_QUANT floor-grid per round,
    pq_encode's 1e12-grid L2 argmin — train and encode share the metric)
    makes the whole train->encode->ADC pipeline replayable by the DuckDB
    oracle, closing the 'trained path has no value oracle' gap. tol=0.0
    so early-stop fires only on an exact fixpoint (which replays
    identically)."""
    vecs = _ann_vecs(spark, sf_dir)
    q = ann.fetch_query(vecs, _ANN_QUERY_ID)
    topk = ann.pq_search(vecs, _pq_trained(vecs), q, _ANN_K)
    return ann.with_true_nano(topk, vecs, q, "adc_nano")


@register(
    "pq_trained_recall_report",
    tags=("similarity", "ann", "quality", "iterative"),
    description=f"Recall@{_ANN_K} audit of trained-codebook PQ vs the "
    "first-k-ids stand-in against exact squared-L2 search — one row with "
    "both recalls and the trained-minus-standin gain, both lanes sharing "
    "one oracle-replayed encode/ADC pipeline",
    oracle=f"""
        {_pq_trained_cb_ctes()},
        q AS MATERIALIZED (
            SELECT vec AS qvec FROM v WHERE vec_id = {_ANN_QUERY_ID}
        ),{_standin_cb_as_lists_cte()},{_pq_trained_enc_ctes(f"ct{_PQ_TRAIN_ITERS}", "t_")},{_pq_trained_enc_ctes("sb", "s_")},
        t_topk AS (
            SELECT vec_id FROM t_adc ORDER BY adc_nano, vec_id LIMIT {_ANN_K}
        ),
        s_topk AS (
            SELECT vec_id FROM s_adc ORDER BY adc_nano, vec_id LIMIT {_ANN_K}
        ),
        exact_topk AS (
            SELECT v.vec_id
            FROM v, q WHERE v.vec_id <> {_ANN_QUERY_ID}
            ORDER BY CAST(floor(list_aggregate(list_transform(
                         range(1, {_PQ_M * _PQ_W} + 1),
                         i -> (v.vec[i] - q.qvec[i]) * (v.vec[i] - q.qvec[i])),
                         'sum') * 1e9 + 0.5) AS BIGINT), v.vec_id
            LIMIT {_ANN_K}
        ),
        nt AS (SELECT count(*) AS n FROM t_topk JOIN exact_topk USING (vec_id)),
        ns AS (SELECT count(*) AS n FROM s_topk JOIN exact_topk USING (vec_id))
        SELECT CAST({_ANN_K} AS BIGINT) AS k,
               CAST(nt.n AS BIGINT) AS n_overlap_trained,
               floor(CAST(nt.n AS DOUBLE) / {_ANN_K} * 10000 + 0.5) / 10000
                   AS recall_trained,
               CAST(ns.n AS BIGINT) AS n_overlap_standin,
               floor(CAST(ns.n AS DOUBLE) / {_ANN_K} * 10000 + 0.5) / 10000
                   AS recall_standin,
               CAST(nt.n - ns.n AS BIGINT) AS trained_gain
        FROM nt, ns
    """,
)
def pq_trained_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The acceptance audit VERDICT r7 #5 ordered: recall@k of the
    trained-codebook PQ index side-by-side with the first-k-ids stand-in
    against exact search, as one row. On clustered corpora trained wins
    (the unit-test regime); on this uniform-random synthetic data the gain
    is small-to-zero — that finding is the point of the audit, and PLANS.md
    records the measured values per SF."""
    vecs = _ann_vecs(spark, sf_dir)
    q = ann.fetch_query(vecs, _ANN_QUERY_ID)
    trained = ann.pq_search(vecs, _pq_trained(vecs), q, _ANN_K)
    cb_s = pq_codebook(vecs, m=_PQ_M, ksub=_PQ_KSUB, vec_col="vec")
    standin = ann.pq_search(vecs, cb_s, q, _ANN_K)
    return ann.trained_vs_standin(
        trained, standin, ann.exact_topk(vecs, q, _ANN_K), _ANN_K
    )


# --- trained-IVF coarse quantizer lane (round 9) -----------------------------
#
# Completes the "trained" ANN story symmetrically with the trained-PQ lane:
# the IVF coarse quantizer swaps its first-k-ids stand-in centroids for
# REAL Lloyd-trained ones (operators/clustering.kmeans_train, k = 16
# lists), and the recall audit reports trained vs stand-in against exact
# cosine search in one row. The oracle unrolls the identical kmeans
# iterations (the embedding_kmeans_assign recipe at k=16: 1e15-grid cosine
# argmax, CENTROID_QUANT-rounded means — the PROVEN kmeans quantization
# pair, deliberately not floor-grid, see PLANS.md round-8 record) and then
# replays both IVF searches and the exact top-k.

_IVF_TRAIN_ITERS = 2
_IVF_LISTS = 16
_IVF_PROBE = 4


def _ivf_trained_oracle() -> str:
    from data_algorithms_with_pyspark_spark.operators.clustering import (
        CENTROID_QUANT,
    )

    q, k = CENTROID_QUANT, _IVF_LISTS

    def assign(name: str, cents: str) -> str:
        return f"""
        {name} AS MATERIALIZED (
            SELECT vec_id, cid FROM (
                SELECT v.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY CAST(floor((list_cosine_similarity(
                                        v.vec, c.cvec) + 1.0) * 1e15 + 0.5)
                                        AS BIGINT) DESC,
                                    c.cid
                       ) AS rn
                FROM v CROSS JOIN {cents} c
            ) WHERE rn = 1
        )"""

    def recompute(name: str, assign_t: str, prev: str) -> str:
        return f"""
        {name} AS MATERIALIZED (
            SELECT p.cid, COALESCE(g.cvec, p.cvec) AS cvec
            FROM {prev} p LEFT JOIN (
                SELECT cid, list(m ORDER BY i) AS cvec FROM (
                    SELECT a.cid, d.i, round(avg(v.vec[d.i]), {q}) AS m
                    FROM v JOIN {assign_t} a USING (vec_id)
                    CROSS JOIN kdims d
                    GROUP BY a.cid, d.i
                ) GROUP BY cid
            ) g USING (cid)
        )"""

    def ivf_search(prefix: str, cents: str, assign_t: str) -> str:
        return f"""
        {prefix}probes AS (
            -- raw cosine order, mirroring ivf_topk's probe ranking (the
            -- ivf_ann_topk oracle replays the same raw form, green on
            -- every draw)
            SELECT cid FROM {cents}, q
            ORDER BY list_cosine_similarity(cvec, qvec) DESC, cid
            LIMIT {_IVF_PROBE}
        ),
        {prefix}topk AS (
            SELECT v.vec_id
            FROM v
            JOIN {assign_t} a ON v.vec_id = a.vec_id
            JOIN {prefix}probes p ON a.cid = p.cid, q
            WHERE v.vec_id <> {_ANN_QUERY_ID}
            ORDER BY round(list_cosine_similarity(v.vec, q.qvec), 6) DESC,
                     v.vec_id
            LIMIT {_ANN_K}
        )"""

    iters = "".join(
        f",{assign(f'ka{i}', f'kc{i - 1}')},{recompute(f'kc{i}', f'ka{i}', f'kc{i - 1}')}"
        for i in range(1, _IVF_TRAIN_ITERS + 1)
    )
    return f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        ),
        kdims AS (SELECT unnest(range(1, 65)) AS i),
        q AS MATERIALIZED (
            SELECT vec AS qvec FROM v WHERE vec_id = {_ANN_QUERY_ID}
        ),
        kc0 AS MATERIALIZED (
            SELECT vec_id::INT AS cid,
                   list_transform(vec, x -> round(x, {q})) AS cvec
            FROM v WHERE vec_id < {k}
        ){iters},{assign(f"t_assign", f"kc{_IVF_TRAIN_ITERS}")},
        scent AS MATERIALIZED (
            SELECT vec_id::INT AS cid, vec AS cvec FROM v WHERE vec_id < {k}
        ),{assign("s_assign", "scent")},{ivf_search("t_", f"kc{_IVF_TRAIN_ITERS}", "t_assign")},{ivf_search("s_", "scent", "s_assign")},
        exact_topk AS (
            SELECT vec_id FROM v, q
            WHERE vec_id <> {_ANN_QUERY_ID}
            ORDER BY round(list_cosine_similarity(vec, qvec), 6) DESC, vec_id
            LIMIT {_ANN_K}
        ),
        nt AS (SELECT count(*) AS n FROM t_topk JOIN exact_topk USING (vec_id)),
        ns AS (SELECT count(*) AS n FROM s_topk JOIN exact_topk USING (vec_id))
        SELECT CAST({_ANN_K} AS BIGINT) AS k,
               CAST(nt.n AS BIGINT) AS n_overlap_trained,
               floor(CAST(nt.n AS DOUBLE) / {_ANN_K} * 10000 + 0.5) / 10000
                   AS recall_trained,
               CAST(ns.n AS BIGINT) AS n_overlap_standin,
               floor(CAST(ns.n AS DOUBLE) / {_ANN_K} * 10000 + 0.5) / 10000
                   AS recall_standin,
               CAST(nt.n - ns.n AS BIGINT) AS trained_gain
        FROM nt, ns
    """


@register(
    "ivf_trained_recall_report",
    tags=("similarity", "ann", "quality", "iterative"),
    description=f"Recall@{_ANN_K} audit of IVF with a TRAINED coarse "
    f"quantizer (Lloyd k-means, k={_IVF_LISTS} lists, {_IVF_TRAIN_ITERS} "
    "iterations) vs the first-k-ids stand-in quantizer against exact "
    "cosine search — one row with both recalls and the trained gain; the "
    "oracle unrolls the identical training iterations and replays both "
    "probed searches",
    oracle=_ivf_trained_oracle(),
)
def ivf_trained_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric closure of the trained-ANN story (trained PQ landed r8):
    the IVF tier's coarse quantizer is the other place the catalog used a
    deterministic stand-in where production would train. kmeans_train's
    centroids drop into the UNCHANGED ``ann.ivf_search`` plan — index and
    search shapes, probe order and probe count are identical; only the
    list geometry improves. One bounded collect fetches the query and the
    stand-in centroids for both searches. tol=0.0 so early-stop fires
    only on an exact fixpoint (replays identically in the unrolled
    oracle)."""
    from data_algorithms_with_pyspark_spark.operators.clustering import (
        kmeans_train,
    )

    vecs = _ann_vecs(spark, sf_dir)
    q = ann.fetch_query(vecs, _ANN_QUERY_ID, _IVF_LISTS)
    trained = kmeans_train(vecs, k=_IVF_LISTS, max_iter=_IVF_TRAIN_ITERS, tol=0.0)

    def search(cents):
        return ann.ivf_search(vecs, q, cents, _IVF_LISTS, _IVF_PROBE, _ANN_K)

    exact = cosine_topk(vecs, query_id=_ANN_QUERY_ID, k=_ANN_K, vec_col="vec")
    return ann.trained_vs_standin(
        search(list(enumerate(trained))), search(q.low), exact, _ANN_K
    )


_NPROBE_CURVE = (1, 2, 4, 8, 16)


def _ivf_nprobe_curve_oracle() -> str:
    """Replays the stand-in IVF search once per n_probe value and counts
    exact-top-k overlap — the same probe ranking / topk / exact forms as
    the green ivf_trained_recall_report oracle, minus the training."""
    per_probe = "".join(
        f""",
        probes{p} AS (
            SELECT cid FROM scent, q
            ORDER BY list_cosine_similarity(cvec, qvec) DESC, cid
            LIMIT {p}
        ),
        topk{p} AS (
            SELECT v.vec_id
            FROM v
            JOIN s_assign a ON v.vec_id = a.vec_id
            JOIN probes{p} p ON a.cid = p.cid, q
            WHERE v.vec_id <> {_ANN_QUERY_ID}
            ORDER BY round(list_cosine_similarity(v.vec, q.qvec), 6) DESC,
                     v.vec_id
            LIMIT {_ANN_K}
        ),
        n{p} AS (SELECT count(*) AS n
                 FROM topk{p} JOIN exact_topk USING (vec_id))"""
        for p in _NPROBE_CURVE
    )
    rows = "\nUNION ALL ".join(
        f"SELECT CAST({p} AS BIGINT) AS n_probe, "
        f"CAST((SELECT n FROM n{p}) AS BIGINT) AS n_overlap, "
        f"floor(CAST((SELECT n FROM n{p}) AS DOUBLE) / {_ANN_K} "
        f"* 10000 + 0.5) / 10000 AS recall"
        for p in _NPROBE_CURVE
    )
    return f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        ),
        q AS MATERIALIZED (
            SELECT vec AS qvec FROM v WHERE vec_id = {_ANN_QUERY_ID}
        ),
        scent AS MATERIALIZED (
            SELECT vec_id::INT AS cid, vec AS cvec
            FROM v WHERE vec_id < {_IVF_LISTS}
        ),
        s_assign AS MATERIALIZED (
            SELECT vec_id, cid FROM (
                SELECT v.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY CAST(floor((list_cosine_similarity(
                                        v.vec, c.cvec) + 1.0) * 1e15 + 0.5)
                                        AS BIGINT) DESC,
                                    c.cid
                       ) AS rn
                FROM v CROSS JOIN scent c
            ) WHERE rn = 1
        ),
        exact_topk AS (
            SELECT vec_id FROM v, q
            WHERE vec_id <> {_ANN_QUERY_ID}
            ORDER BY round(list_cosine_similarity(vec, qvec), 6) DESC, vec_id
            LIMIT {_ANN_K}
        ){per_probe}
        SELECT * FROM ({rows}) ORDER BY n_probe
    """


@register(
    "ivf_nprobe_recall_curve",
    tags=("similarity", "ann", "quality"),
    description=f"The IVF tuning curve: recall@{_ANN_K} vs n_probe over "
    f"{_NPROBE_CURVE} at {_IVF_LISTS} lists — the recall/cost knob every "
    "IVF deployment tunes (n_probe = n_lists anchors the curve at exact "
    "search, recall 1.0 by construction); one row per operating point, "
    "the oracle replays every probed search",
    oracle=_ivf_nprobe_curve_oracle(),
)
def ivf_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the recall reports pin at ONE operating point, as the full
    curve: each additional probed list scans more of the corpus and
    recovers more of the exact top-k. One bounded collect (query +
    stand-in centroids), then five bounded searches (the row-local
    ``ann.ivf_search`` plan, corpus never shuffles) + one exact
    baseline; each point is a 1-row overlap aggregate, unioned."""
    vecs = _ann_vecs(spark, sf_dir)
    q = ann.fetch_query(vecs, _ANN_QUERY_ID, _IVF_LISTS)
    exact = cosine_topk(vecs, query_id=_ANN_QUERY_ID, k=_ANN_K, vec_col="vec")
    points = [
        ann.recall_report(
            ann.ivf_search(vecs, q, q.low, _IVF_LISTS, p, _ANN_K), exact, _ANN_K
        ).select(F.lit(p).cast("long").alias("n_probe"), "n_overlap", "recall")
        for p in _NPROBE_CURVE
    ]
    return reduce(DataFrame.unionAll, points).orderBy("n_probe")


_IVF_PQ_TOPK_CTES = f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        ),
        cent AS MATERIALIZED (
            SELECT vec_id AS cid, vec AS cvec FROM v WHERE vec_id < 16
        ),
        assign AS MATERIALIZED (
            SELECT vec_id, cid FROM (
                SELECT v.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY CAST(floor((list_cosine_similarity(
                                        v.vec, c.cvec) + 1.0) * 1e15 + 0.5)
                                        AS BIGINT) DESC,
                                    c.cid
                       ) AS rn
                FROM v CROSS JOIN cent c
            ) WHERE rn = 1
        ),
        q AS MATERIALIZED (
            SELECT vec AS qvec FROM v WHERE vec_id = {_ANN_QUERY_ID}
        ),
        probes AS (
            -- same 1e15 integer-grid cosine key as ivf_assign: a
            -- last-ulp engine difference on near-tied centroids must
            -- not flip which lists are probed (ADVICE r3)
            SELECT cid FROM cent, q
            ORDER BY CAST(floor((list_cosine_similarity(cvec, qvec) + 1.0)
                               * 1e15 + 0.5) AS BIGINT) DESC, cid
            LIMIT 4
        ),
        cb AS MATERIALIZED (
            SELECT s.s, c.code, c.vec AS cfull
            FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, vec
                  FROM v ORDER BY vec_id LIMIT {_PQ_KSUB}) c
            CROSS JOIN (SELECT unnest(range({_PQ_M})) AS s) s
        ),
        dist AS (
            SELECT v.vec_id, cb.s, cb.code,
                   list_aggregate(list_transform(range(1, {_PQ_W} + 1),
                       i -> (v.vec[cb.s * {_PQ_W} + i] - cb.cfull[cb.s * {_PQ_W} + i])
                          * (v.vec[cb.s * {_PQ_W} + i] - cb.cfull[cb.s * {_PQ_W} + i])),
                       'sum') AS d2
            FROM v CROSS JOIN cb
        ),
        enc0 AS (
            SELECT vec_id, s,
                   min(CAST(floor(d2 * 1e12 + 0.5) AS BIGINT) * {_PQ_KSUB}
                       + code) % {_PQ_KSUB} AS code_s
            FROM dist GROUP BY vec_id, s
        ),
        enc AS MATERIALIZED (
            SELECT vec_id,
                   CAST(sum(code_s * (1::BIGINT << (4 * s))) AS BIGINT)
                       AS pq_code
            FROM enc0 GROUP BY vec_id
        ),
        lut AS MATERIALIZED (
            SELECT cb.s, cb.code,
                   CAST(floor(list_aggregate(list_transform(range(1, {_PQ_W} + 1),
                       i -> (q.qvec[cb.s * {_PQ_W} + i] - cb.cfull[cb.s * {_PQ_W} + i])
                          * (q.qvec[cb.s * {_PQ_W} + i] - cb.cfull[cb.s * {_PQ_W} + i])),
                       'sum') * 1e9 + 0.5) AS BIGINT) AS d2n
            FROM cb, q
        ),
        topk AS (
            SELECT c.vec_id, any_value(c.cid) AS cid,
                   CAST(sum(l.d2n) AS BIGINT) AS adc_nano
            FROM (
                SELECT e.vec_id, a.cid,
                       (e.pq_code >> (4 * s.s)) & {_PQ_KSUB - 1} AS code_s,
                       s.s
                FROM enc e
                JOIN assign a USING (vec_id)
                JOIN probes p USING (cid)
                CROSS JOIN (SELECT unnest(range({_PQ_M})) AS s) s
                WHERE e.vec_id <> {_ANN_QUERY_ID}
            ) c
            JOIN lut l ON l.s = c.s AND l.code = c.code_s
            GROUP BY c.vec_id
            ORDER BY adc_nano, c.vec_id LIMIT {_ANN_K}
        )"""

# the in-query, persisted and incremental IVF-PQ rows share one result
_IVF_PQ_TOPK_ORACLE = f"""{_IVF_PQ_TOPK_CTES}
        SELECT t.vec_id, t.cid, t.adc_nano,
               CAST(floor(list_aggregate(list_transform(
                   range(1, {_PQ_M * _PQ_W} + 1),
                   i -> (v.vec[i] - q.qvec[i]) * (v.vec[i] - q.qvec[i])),
                   'sum') * 1e9 + 0.5) AS BIGINT) AS true_nano
        FROM topk t JOIN v USING (vec_id), q
        ORDER BY t.adc_nano, t.vec_id
    """



@register(
    "ivf_pq_ann_topk",
    bench=True,
    tags=("similarity", "ann"),
    description=f"IVF-PQ ANN top-{_ANN_K}: coarse inverted lists prune the "
    "corpus to 4-of-16 probed lists, PQ/ADC integer-LUT scoring ranks "
    "only the candidates — the compute x memory composition production "
    "ANN (FAISS IVF,PQ) ships; true squared-L2 rides along as audit",
    oracle=_IVF_PQ_TOPK_ORACLE,
)
def ivf_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN composition (FAISS's IVF,PQ index): the coarse
    quantizer prunes COMPUTE (only ~n_probe/n_lists of the corpus is
    scored per query) while PQ prunes MEMORY (the scored table is 32-bit
    codes, 64x under the raw vectors) — at 100 TB the scan is
    probed-lists x packed-codes, never the full float corpus. One corpus
    projection carries the row-local list id and the PQ code
    (``ann.IvfPq.encode``), the probe filter is a static IN and cid rides
    the ADC top-k; the oracle replays coarse assignment, probes,
    codebooks, encoding, and the ADC ranking end-to-end."""
    vecs = _ann_vecs(spark, sf_dir)
    ix = _ivf_pq_standin(vecs)
    topk = ix.search(ix.encode(vecs), _ANN_K)
    return ann.with_true_nano(topk, vecs, ix.query, "adc_nano")


def _ivf_pq_standin(vecs: DataFrame) -> ann.IvfPq:
    """The IVF-PQ rows' quantizers: query, probes, the 16 stand-in
    centroids and the codebook sliced from them, from ONE bounded collect
    (``ann.ivf_pq_standin``; ids 0..15 must exist)."""
    return ann.ivf_pq_standin(
        vecs, _ANN_QUERY_ID, _IVF_LISTS, _IVF_PROBE, _PQ_M, _PQ_KSUB
    )


@register(
    "ivf_pq_recall_report",
    tags=("similarity", "ann", "quality"),
    description=f"ANN quality audit for the COMPOSED index: recall@"
    f"{_ANN_K} of IVF-PQ (4-of-16 probed lists x ADC codes) against "
    "exact squared-L2 — quantifies what list pruning costs on top of "
    "PQ quantization loss (compare with pq_recall_report)",
    oracle=f"""{_IVF_PQ_TOPK_CTES},
        exact_topk AS (
            SELECT v.vec_id,
                   CAST(floor(list_aggregate(list_transform(
                       range(1, {_PQ_M * _PQ_W} + 1),
                       i -> (v.vec[i] - q.qvec[i]) * (v.vec[i] - q.qvec[i])),
                       'sum') * 1e9 + 0.5) AS BIGINT) AS true_nano
            FROM v, q WHERE v.vec_id <> {_ANN_QUERY_ID}
            ORDER BY true_nano, v.vec_id LIMIT {_ANN_K}
        )
        SELECT CAST({_ANN_K} AS BIGINT) AS k,
               CAST(count(*) AS BIGINT) AS n_overlap,
               floor(CAST(count(*) AS DOUBLE) / {_ANN_K} * 10000 + 0.5)
                   / 10000 AS recall
        FROM topk t JOIN exact_topk e USING (vec_id)
    """,
)
def ivf_pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the production composition (IVF list-pruning stacked
    on PQ quantization) against exact search — the number an index
    rollout is gated on (VERDICT r3 #8: the PQ-only audit existed; this
    closes the composed-index gap). Both rankings are integer-nano
    ordered (ties by id), so the intersection is engine-exact; the ratio
    floor-rounds (small-integer ratio class). Expect <= pq_recall_report
    here: probing 4/16 lists can only drop true neighbors on top of what
    quantization already loses — on these uniform-random embeddings both
    are LOW by construction (see pq_recall_report's rationale); the
    audit's job is to report it, and at 100 TB it runs on a sampled
    query panel with the same plan."""
    vecs = _ann_vecs(spark, sf_dir)
    ix = _ivf_pq_standin(vecs)
    return ann.recall_report(
        ix.search(ix.encode(vecs), _ANN_K),
        ann.exact_topk(vecs, ix.query, _ANN_K),
        _ANN_K,
    )


# --- fully-trained residual IVFADC (round 9) ---------------------------------
#
# The production FAISS "IVF16,PQ8" construction END-TO-END TRAINED: a
# kmeans-trained coarse quantizer, PQ codebooks trained on the RESIDUALS
# (vec - assigned centroid) rather than raw vectors — residual energy is
# what remains after the coarse quantizer explains the vector, so the 32
# bits of PQ budget encode a much tighter distribution (Jegou et al. 2011
# §IV.B) — and per-probed-list query LUTs (the query's residual differs
# per list). The existing ivf_pq_ann_topk keeps the stand-in/raw-vector
# form as the composition baseline; this row is the trained shape a
# production index would ship.


def _ivf_pq_residual_oracle() -> str:
    """Full replay: coarse kmeans (k=16, Python-round grid — the proven
    kmeans pair), 1e15-grid coarse assignment, residuals, PQ training on
    residuals (L2 1e12 argmin + floor-grid means — pq_train_codebook's
    recipe), residual encoding, per-probed-list residual LUTs, ADC."""
    from data_algorithms_with_pyspark_spark.operators.clustering import (
        CENTROID_QUANT,
    )

    cq, k, m, ksub, w = CENTROID_QUANT, _IVF_LISTS, _PQ_M, _PQ_KSUB, _PQ_W
    grid = f"1e{cq}"

    def km_assign(name: str, cents: str) -> str:
        return f"""
        {name} AS MATERIALIZED (
            SELECT vec_id, cid FROM (
                SELECT v.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY CAST(floor((list_cosine_similarity(
                                        v.vec, c.cvec) + 1.0) * 1e15 + 0.5)
                                        AS BIGINT) DESC,
                                    c.cid
                       ) AS rn
                FROM v CROSS JOIN {cents} c
            ) WHERE rn = 1
        )"""

    def km_recompute(name: str, assign_t: str, prev: str) -> str:
        return f"""
        {name} AS MATERIALIZED (
            SELECT p.cid, COALESCE(g.cvec, p.cvec) AS cvec
            FROM {prev} p LEFT JOIN (
                SELECT cid, list(mv ORDER BY i) AS cvec FROM (
                    SELECT a.cid, d.i, round(avg(v.vec[d.i]), {cq}) AS mv
                    FROM v JOIN {assign_t} a USING (vec_id)
                    CROSS JOIN kdims d
                    GROUP BY a.cid, d.i
                ) GROUP BY cid
            ) g USING (cid)
        )"""

    def pq_assign(name: str, cents: str) -> str:
        return f"""
        {name} AS MATERIALIZED (
            SELECT rvs.vec_id, rvs.s,
                   CAST(min(CAST(floor(list_aggregate(
                            list_transform(range(1, {w} + 1),
                                i -> (rvs.sv[i] - c.cvec[i])
                                   * (rvs.sv[i] - c.cvec[i])),
                            'sum') * 1e12 + 0.5) AS BIGINT) * {ksub}
                        + c.cid) % {ksub} AS INT) AS cid
            FROM rvs JOIN {cents} c ON c.s = rvs.s
            GROUP BY rvs.vec_id, rvs.s
        )"""

    def pq_recompute(name: str, assign_t: str, prev: str) -> str:
        return f"""
        {name} AS MATERIALIZED (
            SELECT p.s, p.cid, COALESCE(g.cvec, p.cvec) AS cvec
            FROM {prev} p LEFT JOIN (
                SELECT s, cid, list(mv ORDER BY i) AS cvec FROM (
                    SELECT a.s, a.cid, d.i,
                           floor(avg(rvs.sv[d.i]) * {grid} + 0.5) / {grid}
                               AS mv
                    FROM rvs
                    JOIN {assign_t} a
                      ON a.vec_id = rvs.vec_id AND a.s = rvs.s
                    CROSS JOIN wdims d
                    GROUP BY a.s, a.cid, d.i
                ) GROUP BY s, cid
            ) g ON g.s = p.s AND g.cid = p.cid
        )"""

    km_iters = "".join(
        f",{km_assign(f'rka{i}', f'rkc{i - 1}')},{km_recompute(f'rkc{i}', f'rka{i}', f'rkc{i - 1}')}"
        for i in range(1, _IVF_TRAIN_ITERS + 1)
    )
    kc = f"rkc{_IVF_TRAIN_ITERS}"
    pq_iters = "".join(
        f",{pq_assign(f'rpa{i}', f'rpc{i - 1}')},{pq_recompute(f'rpc{i}', f'rpa{i}', f'rpc{i - 1}')}"
        for i in range(1, _PQ_TRAIN_ITERS + 1)
    )
    pc = f"rpc{_PQ_TRAIN_ITERS}"
    return f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        ),
        kdims AS (SELECT unnest(range(1, {m * w} + 1)) AS i),
        wdims AS (SELECT unnest(range(1, {w} + 1)) AS i),
        sdims AS (SELECT unnest(range({m})) AS s),
        q AS MATERIALIZED (
            SELECT vec AS qvec FROM v WHERE vec_id = {_ANN_QUERY_ID}
        ),
        rkc0 AS MATERIALIZED (
            SELECT vec_id::INT AS cid,
                   list_transform(vec, x -> round(x, {cq})) AS cvec
            FROM v WHERE vec_id < {k}
        ){km_iters},{km_assign("c_assign", kc)},
        probes AS (
            SELECT cid FROM {kc}, q
            ORDER BY CAST(floor((list_cosine_similarity(cvec, qvec) + 1.0)
                               * 1e15 + 0.5) AS BIGINT) DESC, cid
            LIMIT {_IVF_PROBE}
        ),
        res AS MATERIALIZED (
            SELECT v.vec_id, a.cid,
                   list_transform(range(1, {m * w} + 1),
                                  i -> v.vec[i] - c.cvec[i]) AS rvec
            FROM v
            JOIN c_assign a USING (vec_id)
            JOIN {kc} c USING (cid)
        ),
        rvs AS MATERIALIZED (
            SELECT res.vec_id, sd.s,
                   list_transform(range(1, {w} + 1),
                                  i -> res.rvec[sd.s * {w} + i]) AS sv
            FROM res CROSS JOIN sdims sd
        ),
        rpc0 AS MATERIALIZED (
            SELECT s, vec_id::INT AS cid,
                   list_transform(sv, x -> floor(x * {grid} + 0.5) / {grid})
                       AS cvec
            FROM rvs WHERE vec_id < {ksub}
        ){pq_iters},
        rdist AS (
            SELECT rvs.vec_id, c.s, c.cid AS code,
                   list_aggregate(list_transform(range(1, {w} + 1),
                       i -> (rvs.sv[i] - c.cvec[i]) * (rvs.sv[i] - c.cvec[i])),
                       'sum') AS d2
            FROM rvs JOIN {pc} c ON c.s = rvs.s
        ),
        renc0 AS (
            SELECT vec_id, s,
                   min(CAST(floor(d2 * 1e12 + 0.5) AS BIGINT) * {ksub}
                       + code) % {ksub} AS code_s
            FROM rdist GROUP BY vec_id, s
        ),
        renc AS MATERIALIZED (
            SELECT vec_id,
                   CAST(sum(code_s * (1::BIGINT << (4 * s))) AS BIGINT)
                       AS pq_code
            FROM renc0 GROUP BY vec_id
        ),
        qres AS MATERIALIZED (
            SELECT p.cid,
                   list_transform(range(1, {m * w} + 1),
                                  i -> q.qvec[i] - c.cvec[i]) AS qr
            FROM probes p JOIN {kc} c USING (cid), q
        ),
        rlut AS MATERIALIZED (
            SELECT qr.cid, cb.s, cb.cid AS code,
                   CAST(floor(list_aggregate(list_transform(range(1, {w} + 1),
                       i -> (qr.qr[cb.s * {w} + i] - cb.cvec[i])
                          * (qr.qr[cb.s * {w} + i] - cb.cvec[i])),
                       'sum') * 1e9 + 0.5) AS BIGINT) AS d2n
            FROM qres qr CROSS JOIN {pc} cb
        ),
        adc AS (
            SELECT c.vec_id, any_value(c.cid) AS cid,
                   CAST(sum(l.d2n) AS BIGINT) AS adc_nano
            FROM (
                SELECT e.vec_id, a.cid,
                       (e.pq_code >> (4 * s.s)) & {ksub - 1} AS code_s, s.s
                FROM renc e
                JOIN c_assign a USING (vec_id)
                JOIN probes p USING (cid)
                CROSS JOIN sdims s
                WHERE e.vec_id <> {_ANN_QUERY_ID}
            ) c
            JOIN rlut l ON l.cid = c.cid AND l.s = c.s AND l.code = c.code_s
            GROUP BY c.vec_id
            ORDER BY adc_nano, c.vec_id LIMIT {_ANN_K}
        )
        SELECT t.vec_id, CAST(t.cid AS BIGINT) AS cid, t.adc_nano,
               CAST(floor(list_aggregate(list_transform(
                   range(1, {m * w} + 1),
                   i -> (v.vec[i] - q.qvec[i]) * (v.vec[i] - q.qvec[i])),
                   'sum') * 1e9 + 0.5) AS BIGINT) AS true_nano
        FROM adc t JOIN v USING (vec_id), q
        ORDER BY t.adc_nano, t.vec_id
    """


@register(
    "ivf_pq_residual_ann_topk",
    tags=("similarity", "ann", "iterative"),
    description=f"Fully-TRAINED residual IVFADC top-{_ANN_K} (FAISS "
    f"IVF{_IVF_LISTS},PQ{_PQ_M} shape): kmeans-trained coarse lists, PQ "
    "codebooks trained on the RESIDUALS, per-probed-list query LUTs; the "
    "oracle replays coarse training, assignment, residual PQ training, "
    "encoding, and the ADC ranking end-to-end; true squared-L2 audit "
    "rides along",
    oracle=_ivf_pq_residual_oracle(),
)
def ivf_pq_residual_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained twin of ivf_pq_ann_topk, and the form a production
    index ships: residual encoding concentrates the PQ budget on what
    the coarse quantizer leaves unexplained, so 32-bit codes carry far
    less error than raw-vector codes at the same geometry. The query
    LUT is rebuilt per probed list (the query residual differs per
    list) — n_probe small constant LUTs of m*ksub longs each, still
    driver-bounded. Scale shape is unchanged from ivf_pq_ann_topk:
    probed-lists x packed-codes scans, broadcasts only."""
    from data_algorithms_with_pyspark_spark.operators.clustering import (
        kmeans_train,
    )

    vecs = _ann_vecs(spark, sf_dir)
    q = ann.fetch_query(vecs, _ANN_QUERY_ID)
    trained = kmeans_train(vecs, k=_IVF_LISTS, max_iter=_IVF_TRAIN_ITERS, tol=0.0)
    topk = ann.ivf_pq_residual_search(
        vecs, q, trained, _IVF_PROBE, _PQ_M, _PQ_KSUB, _PQ_TRAIN_ITERS, _ANN_K
    )
    return ann.with_true_nano(topk, vecs, q, "adc_nano")


@register(
    "ivf_pq_ann_persisted_index",
    bench=True,
    tags=("similarity", "ann", "bucketed", "io"),
    description=f"IVF-PQ ANN top-{_ANN_K} against a PERSISTED index: PQ "
    "codes + coarse assignment written ONCE as a catalog table "
    "hive-partitioned on the IVF list id (pay-once encode+assign, the "
    "near-dup band-index pattern), so query time is probe-only — a "
    "static IN filter on 4-of-16 list partitions prunes 3/4 of the "
    "codes table at planning time and the raw float corpus is never "
    "re-encoded; result identical to ivf_pq_ann_topk (same oracle)",
    oracle=_IVF_PQ_TOPK_ORACLE,
)
def ivf_pq_ann_persisted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pay-once ANN index VERDICT r5 #3 ordered: ``ivf_pq_ann_topk``
    re-derives codes + assignment inside every query run — a plan nobody
    would run at 100 TB, where index CONSTRUCTION (one full-corpus Arrow
    encode pass + one row-local assign) is paid at build time and
    queries touch only the probed inverted lists. Here the index is a
    hive-partitioned table (partition = IVF list id ``cid``; rows =
    ``vec_id, pq_code``), built at most once per (session, corpus)
    (``ann.ivf_pq_index_search``); query time ranks the 4 probe list ids
    on the driver (the same quantized 1e15 cosine grid the oracle
    replays) and scans ONLY those partitions via a static IN filter,
    then ADC-ranks the 64x-compressed codes. true squared-L2 rides along
    as audit, exactly as in the in-query variant."""
    vecs = _ann_vecs(spark, sf_dir)
    ix = _ivf_pq_standin(vecs)
    table = f"ann_ivfpq_idx_{_sf_cache_key(sf_dir)}"
    topk = ann.ivf_pq_index_search(vecs, ix, table, _ANN_K)
    return ann.with_true_nano(topk, vecs, ix.query, "adc_nano")


@register(
    "ivf_pq_ann_incremental_index",
    tags=("similarity", "ann", "bucketed", "io", "incremental"),
    description=f"IVF-PQ ANN top-{_ANN_K} over a PERSISTED HISTORY index "
    "plus a fresh daily increment: history codes (7/8 of the corpus) are "
    "hive-partitioned on list id and written once; each run encodes ONLY "
    "the 1/8 increment with the FROZEN codebook and unions it into the "
    "probed scan — the day-2 operating shape of a production ANN "
    "deployment (frozen quantizers, incremental list appends); result "
    "identical to the full-corpus ivf_pq_ann_topk (same oracle)",
    oracle=_IVF_PQ_TOPK_ORACLE,
)
def ivf_pq_ann_incremental_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The incremental half of the persisted-ANN story (the near-dup
    family's ``incremental_near_dup_persisted_index`` pattern applied to
    ANN): the HISTORY (vec_id % 8 != 0) is encoded + assigned once into
    a list-partitioned table; the daily increment (vec_id % 8 == 0) is
    encoded per run with the SAME FROZEN codebook and centroids (the
    first-16-ids vectors of the FULL corpus — production codebooks are
    trained once and pinned, which is exactly what makes incremental
    encoding valid; deriving them from a subset's own low ids would
    silently change the quantizer), filtered to the probe lists, and
    unioned with the probed history partitions before ADC ranking.
    Per-run cost: encode 1/8 of the corpus + scan 4-of-16 history
    partitions; the 7/8 history is NEVER re-encoded. The top-k over
    history ∪ increment equals the full-corpus top-k, so the oracle is
    ivf_pq_ann_topk's, unchanged — a cross-engine proof that the
    incremental composition loses nothing."""
    vecs = _ann_vecs(spark, sf_dir)
    ix = _ivf_pq_standin(vecs)
    table = f"ann_ivfpq_hist_{_sf_cache_key(sf_dir)}"
    topk = ann.ivf_pq_index_search(
        vecs, ix, table, _ANN_K, increment=F.col("vec_id") % 8 == 0
    )
    return ann.with_true_nano(topk, vecs, ix.query, "adc_nano")


@register(
    "image_perceptual_dedup_groups",
    tags=("multimodal", "dedup", "pandas-udf"),
    description="Image dedup by 56-bit perceptual dHash over REALLY-decoded "
    "BMP bytes (operators/multimodal.py:image_dhash_batch): one group row "
    "per distinct hash with count + canonical min id — the oracle replays "
    "the hash from the closed-form pixel rule, cross-checking codec and "
    "hash at once",
    oracle="""
        WITH m AS (
            SELECT doc_id AS media_id,
                   4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h
            FROM documents
        ),
        cells AS (
            SELECT media_id, w, h, i // 7 AS gi, i % 7 AS gj
            FROM (SELECT media_id, w, h, unnest(range(56)) AS i FROM m)
        ),
        bits AS (
            SELECT media_id,
                   CASE WHEN
                        ( (((gj + 1) * w // 8) * 7 + media_id) % 256
                        + ((gi * h // 8) * 11 + media_id) % 256
                        + ((gj + 1) * w // 8 + gi * h // 8 + media_id) % 256 )
                      > ( ((gj * w // 8) * 7 + media_id) % 256
                        + ((gi * h // 8) * 11 + media_id) % 256
                        + (gj * w // 8 + gi * h // 8 + media_id) % 256 )
                   THEN CAST(1 AS BIGINT) << (gi * 7 + gj)
                   ELSE CAST(0 AS BIGINT) END AS bv
            FROM cells
        ),
        hashes AS (
            SELECT media_id, CAST(sum(bv) AS BIGINT) AS dhash
            FROM bits GROUP BY media_id
        )
        SELECT dhash,
               CAST(count(*) AS BIGINT) AS n_images,
               CAST(min(media_id) AS BIGINT) AS canon_id
        FROM hashes GROUP BY dhash
    """,
)
def image_perceptual_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production image-dedup decision: synthesize the real-format BMP
    corpus, DECODE it (pure-numpy parser in Arrow batches — nothing
    faked), dHash each image, and keep one group row per distinct hash
    (count + canonical min id). Exact-collision grouping is the default
    at scale (re-encode dedup); the hash aggregate is the only shuffle
    and carries 8 bytes per image. The synthetic corpus is heavily
    self-similar by construction (monotone gradients), so groups are
    large — exactly the regime where hashing first beats pairwise
    comparison."""
    from data_algorithms_with_pyspark_spark.operators.multimodal import (
        image_dhash_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = synthetic_bmp_media(docs)
    return image_dhash_batch(media).groupBy("dhash").agg(
        F.count("*").alias("n_images"),
        F.min("media_id").alias("canon_id"),
    )


_AUDIO_FP_FRAMES = 33


@register(
    "audio_fingerprint_dedup_groups",
    tags=("multimodal", "dedup", "pandas-udf"),
    description="Audio dedup by 32-bit energy-envelope fingerprint over "
    "REALLY-decoded WAV bytes (operators/multimodal.py:"
    "audio_energy_fingerprint_batch): one group row per distinct "
    "fingerprint with count + canonical min id; the oracle replays the "
    "fingerprint from the closed-form sample rule",
    oracle=f"""
        WITH m AS (
            SELECT doc_id AS media_id,
                   200 + doc_id % 57 AS n, 1 + doc_id % 2 AS ch
            FROM documents
        ),
        samp AS (
            SELECT media_id, n,
                   ({_AUDIO_FP_FRAMES} * (i + 1) - 1) // n AS k,
                   CASE WHEN ch = 1
                        THEN (i * 37 + media_id * 7) % 4001 - 2000
                        ELSE ((i * 37 + media_id * 7) % 4001 - 2000)
                           + ((i * 37 + 11 + media_id * 7) % 4001 - 2000)
                   END AS mono
            FROM (SELECT media_id, n, ch, unnest(range(n)) AS i FROM m)
        ),
        e AS (
            SELECT media_id, k, CAST(sum(mono * mono) AS BIGINT) AS ek
            FROM samp GROUP BY media_id, k
        ),
        bits AS (
            SELECT a.media_id,
                   CASE WHEN b.ek > a.ek
                        THEN CAST(1 AS BIGINT) << a.k
                        ELSE CAST(0 AS BIGINT) END AS bv
            FROM e a JOIN e b
              ON a.media_id = b.media_id AND b.k = a.k + 1
        ),
        fps AS (
            SELECT media_id, CAST(sum(bv) AS BIGINT) AS fp
            FROM bits GROUP BY media_id
        )
        SELECT fp,
               CAST(count(*) AS BIGINT) AS n_clips,
               CAST(min(media_id) AS BIGINT) AS canon_id
        FROM fps GROUP BY fp
    """,
)
def audio_fingerprint_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio twin of image_perceptual_dedup_groups: synthesize the
    real-format WAV corpus, DECODE it (chunk-walking RIFF parser in
    Arrow batches), fingerprint the frame-energy envelope (all-integer),
    and group by fingerprint — one 8-bytes-per-clip shuffle. The oracle
    computes what the decoded samples must be (closed-form rule) and
    replays the fingerprint in SQL, cross-checking parser and hash."""
    from data_algorithms_with_pyspark_spark.operators.multimodal import (
        audio_energy_fingerprint_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = synthetic_wav_media(docs)
    return audio_energy_fingerprint_batch(
        media, frames=_AUDIO_FP_FRAMES
    ).groupBy("fp").agg(
        F.count("*").alias("n_clips"),
        F.min("media_id").alias("canon_id"),
    )


@register(
    "video_fingerprint_dedup_groups",
    tags=("multimodal", "dedup", "pandas-udf"),
    description="Video dedup by ordered per-frame 56-bit dHash sequence "
    "over REALLY-decoded Y4M frames (operators/multimodal.py:"
    "video_framehash_fingerprint_batch): one group row per distinct "
    "frame-hash sequence; the oracle replays every frame hash from the "
    "closed-form plane rule and rebuilds the sequence ordered by t",
    oracle="""
        WITH m AS (
            SELECT doc_id AS media_id,
                   4 + doc_id % 9 AS w, 4 + doc_id % 7 AS h,
                   2 + doc_id % 5 AS nf
            FROM documents
        ),
        cells AS (
            SELECT media_id, w, h, t, i // 7 AS gi, i % 7 AS gj
            FROM (
                SELECT media_id, w, h, t, unnest(range(56)) AS i
                FROM (SELECT media_id, w, h, unnest(range(nf)) AS t FROM m)
            )
        ),
        bits AS (
            SELECT media_id, t,
                   CASE WHEN
                        ( (((gj + 1) * w // 8) * 3 + (gi * h // 8) * 5
                           + t * 17 + media_id) % 256
                        + (((gj + 1) * w // 8) * 3 + (gi * h // 8) * 5
                           + t * 17 + 29 + media_id) % 256
                        + (((gj + 1) * w // 8) * 3 + (gi * h // 8) * 5
                           + t * 17 + 58 + media_id) % 256 )
                      > ( ((gj * w // 8) * 3 + (gi * h // 8) * 5
                           + t * 17 + media_id) % 256
                        + ((gj * w // 8) * 3 + (gi * h // 8) * 5
                           + t * 17 + 29 + media_id) % 256
                        + ((gj * w // 8) * 3 + (gi * h // 8) * 5
                           + t * 17 + 58 + media_id) % 256 )
                   THEN CAST(1 AS BIGINT) << (gi * 7 + gj)
                   ELSE CAST(0 AS BIGINT) END AS bv
            FROM cells
        ),
        fh AS (
            SELECT media_id, t, CAST(sum(bv) AS BIGINT) AS fhash
            FROM bits GROUP BY media_id, t
        ),
        seqs AS (
            SELECT media_id,
                   string_agg(CAST(fhash AS VARCHAR), '-' ORDER BY t) AS fp_key
            FROM fh GROUP BY media_id
        )
        SELECT fp_key,
               CAST(count(*) AS BIGINT) AS n_clips,
               CAST(min(media_id) AS BIGINT) AS canon_id
        FROM seqs GROUP BY fp_key
    """,
)
def video_fingerprint_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the multimodal dedup trilogy (image dHash, audio
    envelope, video frame-hash sequence): really-decoded Y4M frames are
    hashed per frame and grouped by the ORDERED hash sequence — copies
    collide, re-edits do not. One mapInPandas scan + one hash aggregate.

    The order-sensitive sequence key is serialized to a ``'-'``-joined
    string (``fp_key``) before grouping: external result harnesses
    canonicalize via pandas sort/hash, which cannot handle list-valued
    cells, and the string keeps the exact dedup semantics (a join of
    decimal longs with a non-digit separator is injective)."""
    from data_algorithms_with_pyspark_spark.operators.multimodal import (
        video_framehash_fingerprint_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = synthetic_y4m_media(docs)
    fp = video_framehash_fingerprint_batch(media).withColumn(
        "fp_key",
        F.expr("concat_ws('-', transform(fp_seq, x -> cast(x AS string)))"),
    )
    return fp.groupBy("fp_key").agg(
        F.count("*").alias("n_clips"),
        F.min("media_id").alias("canon_id"),
    )


def _cdc_hash_sql() -> str:
    from data_algorithms_with_pyspark_spark.operators.dedup import (
        CDC_BASE,
        CDC_MOD,
        CDC_WINDOW,
    )

    terms = " + ".join(
        f"CAST(unicode(substr(s, i - {j} + 1, 1)) AS BIGINT)"
        f" * {pow(CDC_BASE, j, CDC_MOD)}"
        for j in range(CDC_WINDOW)
    )
    return f"({terms}) % {CDC_MOD}"


@register(
    "documents_cdc_chunk_dedup",
    tags=("dedup", "text", "pandas-udf"),
    description="Content-defined chunking dedup report (rsync/LBFS rolling-"
    "hash cuts, operators/dedup.py:content_defined_chunks): per-source "
    "chunk counts, distinct chunks, and the char savings passage-level "
    "dedup would recover; the oracle replays the integer rolling hash "
    "and every cut decision in closed form",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, source,
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
            FROM documents
        ),
        pos AS (
            SELECT doc_id, s, unnest(range(7, len(s))) AS i
            FROM d WHERE len(s) >= 8
        ),
        cuts AS (
            SELECT doc_id, i FROM pos
            WHERE ({_cdc_hash_sql()}) % 32 = 0
        ),
        cagg AS (
            SELECT doc_id, list(i ORDER BY i) AS cuts
            FROM cuts GROUP BY doc_id
        ),
        cl AS (
            SELECT d.doc_id, d.source, d.s, len(d.s) AS n,
                   COALESCE(cagg.cuts, []) AS cuts
            FROM d LEFT JOIN cagg USING (doc_id)
            WHERE len(d.s) > 0
        ),
        chunkidx AS (
            SELECT doc_id, source, s, n, cuts,
                   unnest(range(len(cuts) + 1)) AS k
            FROM cl
        ),
        pieces AS (
            SELECT source,
                   md5(substr(s, st, en - st + 1)) AS chunk_hash,
                   en - st + 1 AS chunk_len
            FROM (
                SELECT source, s,
                       CASE WHEN k = 0 THEN 1 ELSE cuts[k] + 2 END AS st,
                       CASE WHEN k = len(cuts) THEN n
                            ELSE cuts[k + 1] + 1 END AS en
                FROM chunkidx
            )
            WHERE en >= st
        ),
        perhash AS (
            SELECT source, chunk_hash,
                   count(*) AS n, min(chunk_len) AS l
            FROM pieces GROUP BY 1, 2
        )
        SELECT source,
               CAST(sum(n) AS BIGINT) AS n_chunks,
               CAST(count(*) AS BIGINT) AS n_distinct_chunks,
               CAST(sum(n * l) AS BIGINT) AS chars_total,
               CAST(sum(l) AS BIGINT) AS chars_distinct
        FROM perhash GROUP BY source
    """,
)
def documents_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level dedup accounting: chunk every document at
    content-defined boundaries, then report per source how many chunk
    instances exist, how many are distinct, and the character savings
    chunk-store dedup would recover (chars_total - chars_distinct).
    One mapInPandas scan -> chunk rows (~len/32 per doc) -> two hash
    aggregates; the doc->source join is a broadcast of the tiny
    projection. Cut decisions are pure functions of an 8-char window,
    so the DuckDB oracle replays every boundary and every md5 exactly."""
    from data_algorithms_with_pyspark_spark.operators.dedup import (
        content_defined_chunks,
    )

    docs = load_table(spark, sf_dir, "documents")
    chunks = content_defined_chunks(docs)
    j = chunks.join(
        F.broadcast(docs.select("doc_id", "source")), on="doc_id"
    )
    per_hash = j.groupBy("source", "chunk_hash").agg(
        F.count("*").alias("n"), F.min("chunk_len").alias("l")
    )
    return per_hash.groupBy("source").agg(
        F.sum("n").alias("n_chunks"),
        F.count("*").alias("n_distinct_chunks"),
        F.sum(F.col("n") * F.col("l")).alias("chars_total"),
        F.sum("l").alias("chars_distinct"),
    )


# --- SQ8 scalar-quantization ANN lane ----------------------------------------
#
# The 4x memory tier between raw f32 and PQ's 64x codes: symmetric-int8
# absmax quantization (the scheme embedding_int8_quant_error audits for
# reconstruction error) materialized as SEARCHABLE codes. Ranking is by
# approximate inner product (MIPS): the integer dot product of int8 codes
# is EXACT on both engines, and the only float work is one pinned-order
# rescale chain per corpus vector, floor-quantized to integer nano units.
# On uniform-random embeddings SQ8 recall@10 is near-perfect — the
# contrast with the untrained-PQ report's low recall IS the lane's
# finding: per-dimension scalar grids do not need clusterable data,
# codebook quantizers do.

_SQ8_DIM = _PQ_M * _PQ_W  # 64


_SQ8_ENC_CTES = f"""
        v AS MATERIALIZED (
            SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        ),
        sc AS (
            SELECT vec_id, vec,
                   list_aggregate(list_transform(vec, x -> abs(x)), 'max')
                       AS amax
            FROM v
        ),
        enc AS MATERIALIZED (
            SELECT vec_id, amax / 127.0 AS scale,
                   CASE WHEN amax = 0.0
                        THEN list_transform(vec, x -> CAST(0 AS BIGINT))
                        ELSE list_transform(vec, x ->
                             greatest(CAST(-127 AS BIGINT),
                                      least(CAST(127 AS BIGINT),
                                            CAST(floor(x / (amax / 127.0)
                                                       + 0.5) AS BIGINT))))
                   END AS qvec
            FROM sc
        ),
        q AS MATERIALIZED (
            SELECT e.scale AS qscale, e.qvec AS qq, s.vec AS qraw
            FROM enc e JOIN sc s ON e.vec_id = s.vec_id
            WHERE e.vec_id = {_ANN_QUERY_ID}
        ),
        idots AS (
            SELECT e.vec_id, e.scale,
                   CAST(list_aggregate(list_transform(range(1, {_SQ8_DIM} + 1),
                        i -> e.qvec[i] * q.qq[i]), 'sum') AS BIGINT) AS idot
            FROM enc e, q
            WHERE e.vec_id <> {_ANN_QUERY_ID}
        ),
        sq8_scored AS (
            SELECT s.vec_id, s.idot,
                   CAST(floor((s.scale * q.qscale) * CAST(s.idot AS DOUBLE)
                              * 1e9 + 0.5) AS BIGINT) AS score_nano
            FROM idots s, q
        )"""


@register(
    "sq8_ann_topk",
    bench=True,
    tags=("similarity", "ann", "sketch"),
    description=f"Scalar-quantization (symmetric-int8 absmax) ANN top-{_ANN_K} "
    "by approximate inner product: 64-float vectors compressed 4x to int8 "
    "codes + one scale; the scan is an exact INTEGER dot product plus one "
    "pinned-order rescale to nano units; true inner product rides along "
    "as the audit column",
    oracle=f"""
        WITH {_SQ8_ENC_CTES},
        topk AS (
            SELECT vec_id, idot, score_nano FROM sq8_scored
            ORDER BY score_nano DESC, vec_id LIMIT {_ANN_K}
        )
        SELECT t.vec_id, t.idot, t.score_nano,
               CAST(floor(list_aggregate(list_transform(
                    range(1, {_SQ8_DIM} + 1), i -> v.vec[i] * q.qraw[i]),
                    'sum') * 1e9 + 0.5) AS BIGINT) AS true_nano
        FROM topk t JOIN v ON t.vec_id = v.vec_id, q
        ORDER BY t.score_nano DESC, t.vec_id
    """,
)
def sq8_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQ8 search tier: the corpus scan touches only (vec_id, scale,
    qvec) — a 4x-compressed projection — and computes d integer
    multiply-adds per vector inside whole-stage codegen (no Python, no
    shuffle beyond the TakeOrderedAndProject top-k combine). The query's
    codes are driver state (d ints + one scale), exactly like the PQ
    LUT. True inner product joins back for the k winners only."""
    vecs = _ann_vecs(spark, sf_dir)
    q = ann.fetch_query(vecs, _ANN_QUERY_ID)
    return ann.with_true_nano(
        ann.sq8_search(vecs, q, _ANN_K),
        vecs,
        q,
        F.col("score_nano").desc(),
        metric="ip",
    )


@register(
    "sq8_recall_report",
    tags=("similarity", "ann", "quality"),
    description=f"ANN quality audit: recall@{_ANN_K} of SQ8 int8-dot search "
    "against exact inner-product search for the standard query — the "
    "4x-compression tier's accuracy, the designed contrast with the "
    "untrained-PQ report's low recall on unclusterable data",
    oracle=f"""
        WITH {_SQ8_ENC_CTES},
        sq8_topk AS (
            SELECT vec_id FROM sq8_scored
            ORDER BY score_nano DESC, vec_id LIMIT {_ANN_K}
        ),
        exact_topk AS (
            SELECT v.vec_id,
                   CAST(floor(list_aggregate(list_transform(
                        range(1, {_SQ8_DIM} + 1), i -> v.vec[i] * q.qraw[i]),
                        'sum') * 1e9 + 0.5) AS BIGINT) AS true_nano
            FROM v, q WHERE v.vec_id <> {_ANN_QUERY_ID}
            ORDER BY true_nano DESC, v.vec_id LIMIT {_ANN_K}
        )
        SELECT CAST({_ANN_K} AS BIGINT) AS k,
               CAST(count(*) AS BIGINT) AS n_overlap,
               floor(CAST(count(*) AS DOUBLE) / {_ANN_K} * 10000 + 0.5)
                   / 10000 AS recall
        FROM sq8_topk a JOIN exact_topk e ON a.vec_id = e.vec_id
    """,
)
def sq8_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the int8 tier against exact MIPS. Both rankings order
    by integer nano keys (ties by id), so the set intersection is
    engine-exact; the ratio uses floor-rounding (small-integer ratio
    class). Expected HIGH (~1.0) on any data: absmax scalar grids
    preserve inner products to ~0.4% per dimension regardless of
    cluster structure — the architectural contrast with
    pq_recall_report's uniform-data pathology."""
    vecs = _ann_vecs(spark, sf_dir)
    q = ann.fetch_query(vecs, _ANN_QUERY_ID)
    return ann.recall_report(
        ann.sq8_search(vecs, q, _ANN_K),
        ann.exact_topk(vecs, q, _ANN_K, metric="ip"),
        _ANN_K,
    )


_SIMHASH_GUARD_BUCKET = 25


@register(
    "simhash_guarded_near_dups",
    tags=("dedup", "lsh", "scale"),
    description="The SimHash candidate generator under its DEGENERACY "
    f"GUARD (max_bucket={_SIMHASH_GUARD_BUCKET}): band buckets holding "
    "more ids are excluded from candidate generation — the bounded-cost "
    "configuration the sf10 audit showed a 100 TB deployment needs on "
    "concentration-prone corpora; the oracle replays the bucket-count "
    "filter exactly",
    oracle=simhash_pairs_sql(
        max_hamming=15, bands=4, n_bits=60, max_bucket=_SIMHASH_GUARD_BUCKET
    ),
)
def simhash_guarded_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guarded twin of ``simhash_near_dup_candidates`` (operators/
    dedup.py:simhash_candidate_pairs max_bucket): identical sketch and
    banding, but band buckets larger than the cap contribute NO
    candidate pairs — candidate volume is bounded by
    bands * n_buckets * cap^2 / 2 regardless of how the corpus
    concentrates (the sf10 audit measured disk-spill death uncapped vs
    20.7 s capped on the 500k-doc homogeneous draw). On healthy draws
    the output differs from the uncapped row only by pairs routed
    exclusively through oversized buckets — exactly the pairs with no
    discriminative value.

    Unlike SRP (where band WIDTH is the scale knob —
    ``choose_lsh_params`` sizes it from corpus size), SimHash's band
    width is fixed by ``n_bits/bands`` and its sf10 failure mode was
    FEATURE degeneracy, so the scale levers here are the cap (this
    row's attested constant; ``choose_lsh_params(n).max_bucket`` gives
    the occupancy-scaled recommendation for unattested deployments) and
    shingle features (``simhash_shingle_near_dups``)."""
    from data_algorithms_with_pyspark_spark.operators.dedup import (
        simhash,
        simhash_candidate_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return simhash_candidate_pairs(
        simhash(docs, hash_fn="md5"),
        n_bits=60,
        max_bucket=_SIMHASH_GUARD_BUCKET,
    ).where(F.col("hamming") <= 15)


@register(
    "srp_guarded_cosine_near_dups",
    tags=("dedup", "similarity", "lsh", "scale"),
    description="Banded SRP-LSH near-dups under the DEGENERACY GUARD "
    f"(max_bucket={_SRP_GUARD_BUCKET}): band buckets above the cap are "
    "excluded from candidate generation — bounded candidate volume on "
    "corpora with hot embedding clusters (the skew draw's planted 40-"
    "vector cluster exceeds the cap; the sf10 audit measured disk-spill "
    "death uncapped); oracle replays the bucket-count filter exactly",
    oracle=srp_pairs_sql(
        _COSINE_DUP_THRESHOLD, max_bucket=_SRP_GUARD_BUCKET
    ),
)
def srp_guarded_cosine_near_dups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Guarded twin of ``srp_lsh_cosine_near_dups`` (operators/
    similarity.py:srp_banded_near_dup_pairs max_bucket): identical
    hyperplanes and banding, but oversized band buckets contribute no
    candidates — candidate volume bounded by bands * buckets * cap^2 / 2
    however the corpus concentrates. On the Zipf-skew draw the planted
    40-vector hot cluster exceeds the cap, so its quadratic intra-
    cluster pairs are suppressed unless another (small) band bucket
    catches them — the cross-engine compare checks the guard's exact
    semantics there; on draws with balanced buckets the output equals
    the uncapped row's.

    Band WIDTH comes from ``choose_lsh_params`` over a parquet-FOOTER
    row count (``readers.parquet_row_count`` — driver-side metadata, no
    Spark job; ADVICE r10 removed the per-invocation ``count()``
    action) — the sf10 lesson productized (a static 8-bit width goes
    quadratic at 200k vectors; the planner's budget keeps every
    oracle-attested draw, <= 20k vectors, at the attested 32/4 config —
    ``tests/test_similarity_planning.py`` pins that invariance — and
    picks the measured 16-bit fix beyond the flip at n > 25_600).

    Oracle coherence (ADVICE r10): this row's registered oracle is
    FROZEN at the attested 32-plane/4-band coding, so a corpus past the
    planner's flip would make the cross-engine gate report a spurious
    hash mismatch. Guard: when the plan disagrees with the attested
    config, fail FAST with the real diagnosis (re-attest at the new
    width) instead of letting the driver record a false mismatch."""
    from data_algorithms_with_pyspark_spark.sources.readers import (
        parquet_row_count,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = parquet_row_count(sf_dir, "embeddings")
    plan = choose_lsh_params(n, dim=_SRP_DIM, bands=_SRP_BANDS)
    if plan.n_planes != _SRP_N_PLANES or plan.bands != _SRP_BANDS:
        raise ValueError(
            f"srp_guarded_cosine_near_dups: choose_lsh_params(n={n}) "
            f"picked {plan.band_width}-bit bands ({plan.n_planes} planes) "
            f"but this row's DuckDB oracle is attested at the "
            f"{_SRP_N_PLANES}/{_SRP_BANDS} coding — re-attest the oracle "
            "at the planned width (srp_pairs_sql is parameterized) "
            "rather than letting the cross-engine gate report a "
            "spurious mismatch"
        )
    return srp_banded_near_dup_pairs(
        emb,
        dim=_SRP_DIM,
        threshold=_COSINE_DUP_THRESHOLD,
        n_planes=plan.n_planes,
        bands=plan.bands,
        max_bucket=_SRP_GUARD_BUCKET,
    )


@register(
    "simhash_shingle_near_dups",
    tags=("dedup", "lsh", "scale"),
    description="SimHash over 3-gram word SHINGLES — the feature-diversity "
    "fix for the corpus regime the sf10 audit exposed (unigram votes "
    "collapse on a narrow shared vocabulary; shingle SETS drawn from the "
    "|V|^3 space differ per document, so hashes spread and band buckets "
    "stay local); full cross-engine value oracle",
    oracle=simhash_pairs_sql(max_hamming=15, bands=4, n_bits=60, shingle_n=3),
)
def simhash_shingle_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-feature twin of ``simhash_near_dup_candidates``
    (operators/dedup.py:simhash shingle_n): same banding and hamming
    filter, but votes come from distinct word 3-grams — the production
    configuration for homogeneous corpora, next to the max_bucket
    safety rail (the two compose: diverse features PREVENT degeneracy,
    the cap BOUNDS it)."""
    from data_algorithms_with_pyspark_spark.operators.dedup import (
        simhash,
        simhash_candidate_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return simhash_candidate_pairs(
        simhash(docs, hash_fn="md5", shingle_n=3), n_bits=60
    ).where(F.col("hamming") <= 15)
