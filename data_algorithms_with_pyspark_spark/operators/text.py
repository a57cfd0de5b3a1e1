"""Text analysis operators for LLM-data pipelines (north-star extension).

All pure Catalyst expressions over the ``documents`` table — no Python UDFs,
so language ID / quality scoring / token counting over 100 TB of text stays
inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.functions.text_functions import (
    normalize_text,
    subword_count,
    word_ngrams,
    words,
)
from data_algorithms_with_pyspark_spark.operators.state import persist

__all__ = [
    "LANG_MARKERS",
    "token_counts",
    "curation_features",
    "quality_scores",
    "quality_score_expr",
    "language_id",
    "pred_lang_expr",
    "fingerprint",
    "gopher_rules",
    "repetition_scores",
    "char_bigram_lm_scores",
    "boilerplate_ngram_coverage",
    "PII_PATTERNS",
    "pii_scrub",
    "bm25_topk",
    "bigram_pmi",
]

# Tiny high-frequency marker vocabularies per language; a deterministic
# n-gram/stopword heuristic (not a model), good enough for coarse routing.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "es": ("el", "la", "de", "que", "y", "los", "en", "una"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "et", "les", "des", "une", "est", "dans"),
    "zh": ("的", "是", "不", "了", "在", "我", "有", "他"),
}


def floor_round4(col: Column) -> Column:
    """``floor(x*1e4+0.5)/1e4`` — engine-portable 4-dp rounding. Spark's
    ``round()`` rounds the shortest decimal repr of the double
    (``BigDecimal.valueOf``): a value whose repr is exactly ``*.xxxx5``
    rounds up even when its binary value sits just below the half, which
    engines rounding the true binary value (DuckDB) round down. The floor
    form uses only exact IEEE ops, so identical raw doubles round
    identically everywhere. SQL twin: ``floor(x*10000+0.5)/10000``."""
    return F.floor(col * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)


def _marker_hits(tokens: Column, markers: tuple[str, ...]) -> Column:
    marker_array = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tokens, lambda t: F.array_contains(marker_array, t))).cast(
        "long"
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate (ceil(len/4))."""
    return docs.select(
        "doc_id",
        F.size(words(text_col)).cast("long").alias("n_tokens"),
        subword_count(text_col).alias("n_subword_tokens"),
    )


def _n_alpha_expr(text_col: str) -> Column:
    return F.size(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]"), 0)
    )


def _quality_score_from_parts(
    n_tokens: Column, stop_hits: Column, n_alpha: Column, n_chars: Column
) -> Column:
    """The combined quality score from already-computed parts — the exact
    arithmetic of the original inline form (bit-identical: same ops, same
    order), factored out so tokenize-once pipelines can feed materialized
    columns instead of re-deriving each part from ``text`` per reference."""
    safe_tokens = F.greatest(n_tokens, F.lit(1).cast("long"))
    safe_chars = F.greatest(n_chars, F.lit(1).cast("long"))
    score = (
        F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.4
        + (stop_hits.cast("double") / safe_tokens) * 0.3
        + (n_alpha.cast("double") / safe_chars) * 0.3
    )
    # floor(x*1e4+0.5), not round(): Spark's round() rounds the SHORTEST
    # DECIMAL REPR of the double (BigDecimal.valueOf), so a score whose
    # repr is exactly *.xxxx5 rounds UP while engines rounding the true
    # binary value round DOWN — a real sf0.1 mismatch (doc with score repr
    # 0.31375, binary 0.3137499999...). The floor form is exact IEEE ops
    # on the bit-identical raw double, so every engine agrees.
    return floor_round4(score)


def quality_score_expr(text_col: str = "text") -> Column:
    """The combined quality score as a single column expression (rounded 4).

    PERFORMANCE: this inline form re-tokenizes ``text`` once per
    reference inside higher-order-function lambdas (no subexpression
    elimination there — the word_ngrams 27x lesson). Hot paths should use
    :func:`curation_features`, which materializes the token array and the
    marker counts once per row; this form remains for one-off use."""
    tokens = words(text_col)
    n_tokens = F.size(tokens).cast("long")
    n_chars = F.length(F.col(text_col)).cast("long")
    stop_hits = _marker_hits(tokens, LANG_MARKERS["en"])
    return _quality_score_from_parts(
        n_tokens, stop_hits, _n_alpha_expr(text_col), n_chars
    )


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document-quality features: length, mean token length,
    stopword ratio, alphabetic-character ratio, and a combined score.

    The score formula is arbitrary but fixed; what matters for a data
    pipeline is that it is deterministic, cheap, and monotone in the
    features a filter would use.

    Tokenize-once staging (see ``curation_features``): the token array
    and the en marker count materialize in stacked Projects, so each
    document tokenizes exactly once instead of once per feature
    reference; arithmetic is unchanged (bit-identical outputs).
    """
    staged = docs.select(
        "doc_id",
        F.col(text_col).alias("_cf_text"),
        words(text_col).alias("_cf_t"),
    ).select(
        "doc_id",
        "_cf_text",
        F.size("_cf_t").cast("long").alias("_cf_nt"),
        _marker_hits(F.col("_cf_t"), LANG_MARKERS["en"]).alias("_cf_s_en"),
    )
    n_tokens = F.col("_cf_nt")
    n_chars = F.length("_cf_text").cast("long")
    n_alpha = _n_alpha_expr("_cf_text")
    stop_hits = F.col("_cf_s_en")
    safe_tokens = F.greatest(n_tokens, F.lit(1).cast("long"))
    safe_chars = F.greatest(n_chars, F.lit(1).cast("long"))
    mean_tok_len = (n_chars.cast("double") / safe_tokens).alias("x")
    stop_ratio = stop_hits.cast("double") / safe_tokens
    alpha_ratio = n_alpha.cast("double") / safe_chars
    score = (
        F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.4
        + stop_ratio * 0.3
        + alpha_ratio * 0.3
    )
    return staged.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_measured"),
        floor_round4(mean_tok_len).alias("mean_token_len"),
        floor_round4(stop_ratio).alias("stopword_ratio"),
        floor_round4(alpha_ratio).alias("alpha_ratio"),
        floor_round4(score).alias("quality_score"),
    )


def _pred_lang_from_scores(scores: dict[str, Column]) -> Column:
    """Argmax + fixed alphabetical tie-break over per-language marker-hit
    score columns — the exact vote of the original inline form. Feed it
    MATERIALIZED score columns (attribute refs): ``best`` is re-inlined
    per CASE branch, which is free over attributes but re-runs the five
    token-filter passes per branch when fed inline expressions."""
    order = sorted(scores)
    best = F.greatest(*[scores[lang] for lang in order])
    expr = None
    for lang in order:
        cond = scores[lang] == best
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return F.when(best > 0, expr.otherwise(F.lit("und"))).otherwise(F.lit("und"))


def pred_lang_expr(text_col: str = "text") -> Column:
    """Predicted-language code as a single column expression (same vote +
    tie-break as ``language_id``).

    PERFORMANCE: the inline form re-tokenizes per score reference (see
    ``quality_score_expr``); hot paths should use
    :func:`curation_features` instead."""
    tokens = words(text_col)
    scores = {
        lang: _marker_hits(tokens, markers) for lang, markers in LANG_MARKERS.items()
    }
    return _pred_lang_from_scores(scores)


def curation_features(
    docs: DataFrame,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("doc_id",),
    features: tuple[str, ...] = (
        "pred_lang",
        "quality_score",
        "n_tokens",
        "content_hash",
    ),
) -> DataFrame:
    """Tokenize-ONCE curation feature projection: ``keep_cols`` +
    any of ``pred_lang`` / ``quality_score`` / ``n_tokens`` / ``n_chars``
    / ``content_hash``, value-identical to the inline
    ``pred_lang_expr``/``quality_score_expr`` forms (same expressions,
    same op order — the DuckDB oracles keep matching bit-for-bit).

    Why staged: the language vote and quality score reference the token
    array through higher-order-function lambdas, which evaluate
    interpreted with NO common-subexpression elimination — the inline
    single-Column forms re-run ``words(text)`` (a regex split of the
    whole document) for every score reference, ~20-40 tokenizations per
    row through the argmax CASE. Three stacked Projects materialize (1)
    the token array, (2) the five marker-hit counts + token count, then
    (3) compute the outputs from attribute refs — ``CollapseProject``
    keeps multiply-referenced non-cheap aliases materialized, so each
    document tokenizes exactly once and each marker vocabulary filters
    the array exactly once. Row-local only: no shuffle, fuses into the
    scan, and at 100 TB this is the difference between one and ~30
    regex passes over every document. (Guide §4: built-ins over opaque
    re-evaluation; project early.)
    """
    order = sorted(LANG_MARKERS)
    want_pred = "pred_lang" in features
    want_quality = "quality_score" in features
    keep = list(keep_cols)

    stage1 = docs.select(
        *[F.col(c) for c in keep],
        F.col(text_col).alias("_cf_text"),
        words(text_col).alias("_cf_t"),
    )

    score_langs: list[str] = []
    if want_pred:
        score_langs = order
    elif want_quality:
        score_langs = ["en"]  # quality's stop_hits is the en marker count
    stage2 = stage1.select(
        *keep,
        "_cf_text",
        F.size("_cf_t").cast("long").alias("_cf_nt"),
        *[
            _marker_hits(F.col("_cf_t"), LANG_MARKERS[lang]).alias(f"_cf_s_{lang}")
            for lang in score_langs
        ],
    )

    out: list[Column] = [F.col(c) for c in keep]
    for feat in features:
        if feat == "pred_lang":
            out.append(
                _pred_lang_from_scores(
                    {lang: F.col(f"_cf_s_{lang}") for lang in order}
                ).alias("pred_lang")
            )
        elif feat == "quality_score":
            out.append(
                _quality_score_from_parts(
                    F.col("_cf_nt"),
                    F.col("_cf_s_en"),
                    _n_alpha_expr("_cf_text"),
                    F.length("_cf_text").cast("long"),
                ).alias("quality_score")
            )
        elif feat == "n_tokens":
            out.append(F.col("_cf_nt").alias("n_tokens"))
        elif feat == "n_chars":
            out.append(F.length("_cf_text").cast("long").alias("n_chars"))
        elif feat == "content_hash":
            out.append(F.md5(normalize_text(F.col("_cf_text"))).alias("content_hash"))
        else:
            raise ValueError(f"unknown curation feature {feat!r}")
    return stage2.select(*out)


def language_id(
    docs: DataFrame, text_col: str = "text", keep_cols: tuple = ()
) -> DataFrame:
    """Stopword-vote language ID over the marker vocabularies.

    Argmax with a fixed tie-break order (de < en < es < fr < zh by code,
    first-wins on equal score) so the result is deterministic and exactly
    reproducible by an external oracle. ``keep_cols`` passes named input
    columns through the projection (e.g. a ground-truth label for a
    confusion matrix) so audits stay one-scan instead of joining back.

    Tokenize-once staging (see ``curation_features``): tokens + the five
    marker counts materialize once; the argmax CASE then reads attribute
    refs. Identical vote, identical outputs.
    """
    order = sorted(LANG_MARKERS)  # deterministic tie-break: alphabetical
    staged = docs.select(
        "doc_id",
        *[F.col(c) for c in keep_cols],
        words(text_col).alias("_cf_t"),
    ).select(
        "doc_id",
        *keep_cols,
        *[
            _marker_hits(F.col("_cf_t"), LANG_MARKERS[lang]).alias(f"_cf_s_{lang}")
            for lang in order
        ],
    )
    scores = {lang: F.col(f"_cf_s_{lang}") for lang in order}
    pred = _pred_lang_from_scores(scores)
    sel = [F.col("doc_id"), pred.alias("pred_lang")]
    sel += [scores[lang].alias(f"score_{lang}") for lang in order]
    sel += [F.col(c) for c in keep_cols]
    return staged.select(*sel)


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint: md5 over whitespace-normalized lowercase text.

    The exact-dedup key (operators/dedup.py); also usable as a stable doc
    identity across recrawls.
    """
    return docs.select(
        "doc_id", F.md5(normalize_text(text_col)).alias("fingerprint")
    )


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 25,
    max_words: int = 10_000,
    min_mean_wlen_x10: int = 40,
    max_mean_wlen_x10: int = 100,
    min_stop_hits: int = 2,
    min_uniq_pct: int = 45,
) -> DataFrame:
    """Gopher-style document-quality rule filter (Rae et al. 2021, §A1.1):
    per-rule 0/1 flag columns plus a combined keep verdict — the auditable
    form a corpus filter wants (count per rule, drill into any reason).

    Every rule compares INTEGERS only (counts cross-multiplied instead of
    ratios: ``10*sum_len BETWEEN 40*n AND 100*n`` rather than
    ``mean BETWEEN 4.0 AND 10.0``), so the verdict is bit-identical across
    engines and accumulation orders — no float epsilon in a keep/drop
    decision. Rules: word count in [min_words, max_words]; mean word
    length in [min_mean_wlen_x10/10, max_mean_wlen_x10/10]; >=
    min_stop_hits distinct English stopwords present; distinct-word ratio
    >= min_uniq_pct% (the repetition guard — boilerplate and template spam
    repeat words). One projection, zero shuffles, whole-stage codegen.
    """
    toks = words(text_col)
    n = F.size(toks).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_uniq = F.size(F.array_distinct(toks)).cast("long")
    stop_hits = F.size(
        F.array_intersect(
            toks, F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
        )
    ).cast("long")
    words_ok = (n >= min_words) & (n <= max_words)
    wlen_ok = (10 * sum_len >= min_mean_wlen_x10 * n) & (
        10 * sum_len <= max_mean_wlen_x10 * n
    )
    stop_ok = stop_hits >= min_stop_hits
    uniq_ok = 100 * n_uniq >= min_uniq_pct * n
    return docs.select(
        "doc_id",
        n.alias("n_words"),
        words_ok.cast("int").alias("words_ok"),
        wlen_ok.cast("int").alias("mean_wlen_ok"),
        stop_ok.cast("int").alias("stopword_ok"),
        uniq_ok.cast("int").alias("uniq_words_ok"),
        (words_ok & wlen_ok & stop_ok & uniq_ok).cast("int").alias("keep"),
    )


def repetition_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-document repetition profile: unique-n-gram ratios for words,
    bigrams, and trigrams — the C4/Gopher duplicate-n-gram signals that
    catch boilerplate, keyword stuffing, and decoding loops.

    Ratios are emitted in integer BASIS POINTS (``floor(uniq*1e4/total +
    0.5)``): the one double op is a division of two exact small ints, so
    every engine produces the same value — no round() half-ulp hazards in a
    differential test. Pure per-row Catalyst expressions; at 100 TB this
    is a map-only projection that fuses into whatever scan feeds it.
    """
    def _bp(arr: Column) -> Column:
        total = F.size(arr).cast("long")
        uniq = F.size(F.array_distinct(arr)).cast("long")
        return F.when(total == 0, F.lit(None).cast("long")).otherwise(
            F.floor(uniq * F.lit(10_000.0) / total + F.lit(0.5)).cast("long")
        )

    # Tokens materialize in a first projection: the n-gram lambdas
    # reference them per window, and higher-order lambdas get no
    # subexpression elimination (word_ngrams' performance contract).
    toks = F.col("_toks")
    bigrams = word_ngrams(toks, 2)
    trigrams = word_ngrams(toks, 3)
    return docs.select("doc_id", words(text_col).alias("_toks")).select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        _bp(toks).alias("uniq_word_bp"),
        F.size(bigrams).cast("long").alias("n_bigrams"),
        _bp(bigrams).alias("uniq_bigram_bp"),
        F.size(trigrams).cast("long").alias("n_trigrams"),
        _bp(trigrams).alias("uniq_trigram_bp"),
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1)) + 1).

    explode -> two hash aggregates (tf per (doc, term), df per term) -> a
    broadcast of the tiny (term, df) side back onto tf -> per-doc top-k via
    window row_number. All built-in expressions; the only wide exchanges are
    keyed on (doc_id, term) and term — both naturally high-cardinality, so
    no skew hot-spot at scale.
    """
    from pyspark.sql import Window

    tokens = docs.select(
        F.col(id_col), F.explode(words(text_col)).alias("term")
    )
    tf = tokens.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df_ = tokens.groupBy("term").agg(
        F.count_distinct(id_col).alias("df")
    )
    n_docs = docs.select(F.count("*").alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    scored = (
        tf.join(F.broadcast(df_), on="term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(id_col, "term", "tf", "tfidf", F.col("rn").cast("long").alias("rn"))
    )


def char_bigram_lm_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document cross-entropy under a character-bigram LM trained on
    the corpus itself — the degenerate-but-useful stand-in for the
    KenLM-perplexity quality filter of CCNet/Wenzek et al. 2020 (gibberish
    and boilerplate score high-entropy against the corpus distribution,
    prose scores low). Two Catalyst passes, no Python:

    1. explode each doc into its character bigrams ONCE and reduce
       immediately to per-doc term frequencies ``(doc, bg, tf)`` — the
       charset is small, so this collapses a doc's ~n_chars occurrence
       rows to at most charset^2 rows before anything else touches them.
    2. train: re-aggregate the tf table by bigram (tiny; broadcasts).
    3. score: broadcast-join the model onto the tf table and aggregate
       ``-sum(tf * ln p)/sum(tf)`` per doc — one shuffle, keyed by doc
       id, over the compact tf rows instead of every occurrence (the
       original occurrence-level formulation re-exploded the corpus a
       second time and joined 15x more rows; restructuring cut the
       sf0.1 time ~3x).

    Cross-engine determinism: each ``ln p`` term is quantized to integer
    micro-nats (``floor(x*1e6+0.5)``) BEFORE the tf-weighted sum, so the
    per-doc sum is an exact integer — associative, order-independent —
    and any engine replaying the same quantization reproduces it
    bit-for-bit (same trick as plans/catalog.py:cents_sum).

    Output: ``(id_col, n_bigrams, xent)`` with xent in nats rounded to 6.
    Documents shorter than 2 characters have no bigrams and are omitted.
    """
    # Overlapping bigrams via lookahead-capture: JVM codegen'd regex is
    # ~3.6x faster than the interpreted transform(sequence, substr) HOF
    # for the same output (the corpus has no newlines, so `.` is total).
    bigrams = F.regexp_extract_all(text_col, F.lit("(?=(..))."), 1)
    grams = docs.where(F.length(text_col) >= 2).select(
        F.col(id_col), F.explode(bigrams).alias("bg")
    )
    pair_tf = grams.groupBy(id_col, "bg").agg(F.count("*").alias("tf"))
    counts = pair_tf.groupBy("bg").agg(F.sum("tf").alias("n_bg"))
    total = counts.agg(F.sum("n_bg").alias("n_total"))
    model = counts.crossJoin(F.broadcast(total))
    micro_nats = F.floor(
        F.log(F.col("n_bg").cast("double") / F.col("n_total")) * 1e6 + 0.5
    ).cast("long")
    return (
        pair_tf.join(F.broadcast(model), on="bg")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.round(
                -F.sum(F.col("tf") * micro_nats)
                / (F.sum("tf") * F.lit(1e6)),
                6,
            ).alias("xent"),
        )
    )


def boilerplate_ngram_coverage(
    docs: DataFrame,
    n: int = 5,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document boilerplate detection: the fraction of each document's
    distinct word ``n``-grams that recur in >= ``min_docs`` documents.

    Templates, navigation chrome, and license headers repeat the same long
    n-gram spans across many pages — the corpus-level signal that
    within-document repetition (``repetition_scores``) cannot see. This is
    the "duplicated n-gram" half of the C4/Gopher cleanup applied across
    the corpus rather than within lines.

    Plan: explode distinct n-grams once (linear), doc-frequency aggregate
    on the n-gram (one shuffle; partial agg runs map-side), join the
    frequent subset back. No broadcast hint: the frequent set is the
    Zipf head and usually small, but at 100 TB that is AQE's runtime call
    to make, not a planning-time assumption. Documents with fewer than
    ``n`` words have no n-grams and are omitted.

    Output: ``(id_col, n_ngrams, n_boiler, boiler_ratio)`` — counts are
    exact integers; the ratio is one fp division rounded to 4 (identical
    in any IEEE engine).
    """
    grams = docs.select(
        F.col(id_col), words(text_col).alias("_w")
    ).select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(F.col("_w"), n))).alias("ng"),
    )
    freq = (
        grams.groupBy("ng")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= min_docs)
        .select("ng", F.lit(1).alias("_boiler"))
    )
    return (
        grams.join(freq, on="ng", how="left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_ngrams"),
            F.count("_boiler").alias("n_boiler"),
        )
        .select(
            F.col(id_col),
            "n_ngrams",
            "n_boiler",
            # floor form: n_boiler/n_ngrams is a small-integer ratio whose
            # shortest repr can be an exact *.xxxx5 (see floor_round4)
            floor_round4(F.col("n_boiler") / F.col("n_ngrams")).alias(
                "boiler_ratio"
            ),
        )
    )


# Patterns chosen for Java-regex (Spark) / RE2 (DuckDB) semantic parity:
# no lookarounds, no backrefs; \b and bounded quantifiers behave the same.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_scrub(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Detect-and-redact PII before a corpus ships to training — emails,
    phone numbers, SSN-shaped ids, IPv4 addresses — each replaced by a
    typed placeholder (``<EMAIL>`` etc.) with per-category hit counts for
    the audit trail.

    Chained ``regexp_replace`` / ``regexp_count`` Catalyst expressions:
    one projection, zero shuffles, fuses into the scan like every other
    row-local filter — at 100 TB this adds no coordination at all. The
    category order is fixed (alphabetical) so overlapping matches redact
    deterministically. Patterns avoid constructs where Java regex and RE2
    diverge, keeping the operator oracle-checkable.

    Output: ``(id_col, redacted, n_email, n_phone, n_ssn, n_ipv4)``.
    """
    redacted = F.col(text_col)
    counts = []
    for cat in sorted(PII_PATTERNS):
        pat = PII_PATTERNS[cat]
        counts.append(
            F.regexp_count(text_col, F.lit(pat)).cast("long").alias(f"n_{cat}")
        )
        redacted = F.regexp_replace(redacted, pat, f"<{cat.upper()}>")
    return docs.select(F.col(id_col), redacted.alias("redacted"), *counts)


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranked retrieval: top-k documents per query (Robertson/Spärck
    Jones probabilistic ranking, the classic IR scoring function).

    score(q, d) = sum over distinct query terms t of
        ln(1 + (N - df + 0.5)/(df + 0.5))
        * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Execution shape, hot-path first: the corpus tokenizes ONCE and is
    immediately semi-joined (broadcast) to the tiny distinct query-term
    set, so only postings for query terms ever reach a shuffle — at
    100 TB that is the difference between shuffling the whole inverted
    index and shuffling a few terms' postings. Document length rides the
    explode as a sibling column (no separate dl join back onto the
    corpus). df and the (N, avgdl) scalars broadcast back onto the
    postings; per-term scores quantize to integer MICRO-units BEFORE the
    per-(query, doc) sum, so the aggregate is an order-independent
    integer sum — double accumulation order can never flip a rank. Top-k
    per query is ``row_number() <= k`` under a query-partitioned window,
    which Spark rewrites to WindowGroupLimit: each map task keeps only
    its local k before the final per-query exchange.

    Output: ``(query_id, id_col, matched_terms, score_micro, rn)``; ties
    on score break by ascending doc id so the ranking is total.
    """
    import re as _re

    from pyspark.sql import Window

    spark = docs.sparkSession
    qdf = spark.createDataFrame(queries, "query_id long, query string")
    qterms = qdf.select(
        "query_id", F.explode(words("query")).alias("term")
    ).distinct()

    # Row-local postings filter (guide §2.3 "project before the
    # exchange", measured 2.4 s -> 1.1 s for the tf branch at sf0.1): the
    # query-term set is bounded driver input, so matching tokens can be
    # selected INSIDE the token array before the explode — the Generate
    # then emits only query-term hits instead of every corpus token
    # followed by a broadcast-join probe. Gated conservatively: the
    # driver-side tokenization (lower + split on spaces) equals words()
    # only for printable-ASCII queries, and the per-token array_contains
    # scan is linear in |terms|, so query sets past 64 distinct terms (or
    # non-ASCII ones) keep the broadcast semi-join path. Either branch
    # produces the identical hits relation.
    _simple = all(
        _re.fullmatch(r"[\x21-\x7e ]+", qs) is not None for _, qs in queries
    )
    _qtok = sorted(
        {t for _, qs in queries for t in qs.lower().split()}
    )
    toks_arr = docs.select(F.col(id_col), words(text_col).alias("_t"))
    if _simple and 0 < len(_qtok) <= 64:
        from data_algorithms_with_pyspark_spark.functions.vectors import (
            sql_str,
        )

        lit_terms = F.expr(
            "array(" + ",".join(sql_str(t) for t in _qtok) + ")"
        )
        hits = toks_arr.select(
            F.col(id_col),
            F.size("_t").cast("long").alias("dl"),
            F.explode(
                F.filter("_t", lambda x: F.array_contains(lit_terms, x))
            ).alias("term"),
        )
    else:
        toks = toks_arr.select(
            F.col(id_col),
            F.size("_t").cast("long").alias("dl"),
            F.explode("_t").alias("term"),
        )
        hits = toks.join(
            F.broadcast(qterms.select("term").distinct()), on="term"
        )
    # The (N, avgdl) branch counts tokens via regexp_count('\S+') — the
    # number of maximal non-whitespace runs equals size(words(text))
    # exactly (words() splits on \s+ and drops empties), but it is a
    # single codegen'd regex pass with NO array allocation, so the second
    # corpus scan this branch needs costs I/O plus a cheap count instead
    # of a full re-tokenization (guide §1.2: per-task work — the r11
    # Observation variant that fused the scans was measured SLOWER at
    # bench scale: reading the observed scalars forces a separate
    # materialization action, which costs more than this branch saves).
    stats = docs.select(
        F.regexp_count(F.col(text_col), F.lit(r"\S+")).cast("long").alias("_dl")
    ).agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("_dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    # Persisted: df derives from tf, and without the persist Catalyst
    # re-runs the whole tokenize+filter+aggregate corpus pass for the df
    # branch (no common-subplan reuse across joins). tf is the postings
    # relation for query terms only — orders of magnitude smaller than
    # the corpus. The caller's state.scope() releases it.
    from pyspark import StorageLevel

    tf = persist(
        hits.groupBy(id_col, "dl", "term").agg(F.count("*").alias("tf")),
        StorageLevel.MEMORY_AND_DISK,
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    score = idf * (F.col("tf") * F.lit(k1 + 1.0)) / norm
    per_term = (
        tf.join(F.broadcast(df_), on="term")
        .join(F.broadcast(qterms), on="term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            F.col(id_col),
            F.floor(score * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
                "score_micro"
            ),
        )
    )
    agg = per_term.groupBy("query_id", id_col).agg(
        F.count("*").cast("long").alias("matched_terms"),
        F.sum("score_micro").alias("score_micro"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col(id_col).asc()
    )
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            "query_id",
            F.col(id_col),
            "matched_terms",
            "score_micro",
            F.col("rn").cast("long").alias("rn"),
        )
    )


def bigram_pmi(
    docs: DataFrame,
    min_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pointwise mutual information of adjacent word pairs — the
    collocation/phrase-induction statistic (Church & Hanks 1990):
    ``pmi(a,b) = ln( p(a,b) / (p(a) p(b)) )`` over corpus unigram and
    adjacent-bigram frequencies. A training pipeline uses it to merge
    high-PMI pairs into phrase tokens before vocabulary building.

    Output: ``(term_a, term_b, n_ab, pmi_nano)`` for pairs with
    ``n_ab >= min_count``; the score is an integer nano-unit
    quantization of the double (floor form), computed by the same
    division chain on both engines. Splitting the space-joined bigram
    back into terms is safe BY CONSTRUCTION: whitespace tokenization
    cannot produce a token containing a space (unlike free-text label
    columns, where that assumption has bitten before).

    Shape: two corpus tokenize passes (unigram counts need edge tokens
    the bigram relation drops), each feeding one hash aggregate keyed by
    term / (term_a, term_b); the min_count filter lands BEFORE the two
    vocabulary equi-joins, so only surviving pairs join; the two 1-row
    totals broadcast. Every relation after the aggregates is
    vocabulary-sized, not corpus-sized.
    """
    toks = docs.select(F.col(id_col), words(text_col).alias("_t"))
    ucnt = (
        toks.select(F.explode("_t").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    ttot = ucnt.agg(F.sum("n").alias("t_total"))
    bcnt = (
        toks.select(F.explode(word_ngrams(F.col("_t"), 2)).alias("g"))
        .select(
            F.split("g", " ").getItem(0).alias("term_a"),
            F.split("g", " ").getItem(1).alias("term_b"),
        )
        .groupBy("term_a", "term_b")
        .agg(F.count("*").alias("n_ab"))
    )
    btot = bcnt.agg(F.sum("n_ab").alias("b_total"))
    x = (
        F.col("n_ab").cast("double")
        / F.col("b_total")
        * F.col("t_total")
        / F.col("n_a")
        * F.col("t_total")
        / F.col("n_b")
    )
    return (
        bcnt.where(F.col("n_ab") >= min_count)
        .join(
            ucnt.select(F.col("term").alias("term_a"), F.col("n").alias("n_a")),
            on="term_a",
        )
        .join(
            ucnt.select(F.col("term").alias("term_b"), F.col("n").alias("n_b")),
            on="term_b",
        )
        .crossJoin(F.broadcast(ttot))
        .crossJoin(F.broadcast(btot))
        .select(
            "term_a",
            "term_b",
            "n_ab",
            F.floor(F.log(x) * F.lit(1e9) + F.lit(0.5))
            .cast("long")
            .alias("pmi_nano"),
        )
    )
