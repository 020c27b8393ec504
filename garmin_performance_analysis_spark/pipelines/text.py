"""Text-analysis operators for large-scale corpus pipelines:
language-ID (marker-word heuristic), quality scoring, token counting,
and document fingerprinting.  All pure column expressions — the whole
module stays inside whole-stage codegen and needs exactly one pass over
the corpus per feature set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..harness.registry import dec_sum
from ..plans.layout import spread_for_compute

# Tiny marker-word lists per language (public stopword heads). The
# heuristic is deterministic: score = #tokens in the marker set.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "de": ("der", "die", "das", "und", "nicht"),
    "fr": ("le", "la", "les", "et", "que"),
    "zh": ("的", "是", "不", "了", "在"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")


def _words(text_col: str) -> Column:
    return F.split(F.lower(F.col(text_col)), " ")


def _quality_exprs(text_col: str):
    """The quality-signal building blocks: the word array and its size,
    the char count, the stopword count and the non-alphanumeric char
    count."""
    w = _words(text_col)
    n_words = F.size(w)
    n_chars = F.length(F.col(text_col))
    stop_in = ", ".join(f"'{s}'" for s in STOPWORDS)
    n_stop = F.expr(f"size(filter(split(lower({text_col}), ' '), x -> x IN ({stop_in})))")
    non_alpha = n_chars - F.length(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", "")
    )
    return w, n_words, n_chars, n_stop, non_alpha


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality signals: length, word count, mean word
    length, stopword ratio, non-alpha ratio, distinct-word ratio.
    The standard pre-training quality filters (C4/Gopher-style rules)
    reduced to one select."""
    # NOT spread: this pass is scan-bound, not compute-bound — the A/B
    # at the 10× corpus measured the text shuffle as a net loss here
    # (2.1 s → 2.5 s), unlike the gram-transform paths below
    w, n_words, n_chars, n_stop, non_alpha = _quality_exprs(text_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        (n_chars.cast("double") / n_words).alias("chars_per_word"),
        (n_stop.cast("double") / n_words).alias("stopword_ratio"),
        (non_alpha.cast("double") / n_chars).alias("non_alpha_ratio"),
        (F.size(F.array_distinct(w)).cast("double") / n_words).alias(
            "distinct_word_ratio"
        ),
    )


def _marker_scores(text_col: str) -> dict:
    """Per-language marker-word counts of ``text_col``, in
    ``LANG_MARKERS`` order."""
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        marker_in = ", ".join(f"'{m}'" for m in markers)
        scores[lang] = F.expr(
            f"size(filter(split(lower({text_col}), ' '), x -> x IN ({marker_in})))"
        )
    return scores


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-word language ID: per-language marker counts + argmax with
    a deterministic preference order on ties."""
    scores = _marker_scores(text_col)
    out = df.select(
        F.col(id_col).alias("doc_id"),
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_MARKERS],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_MARKERS])
    pred = F.lit("unknown")
    for lang in reversed(list(LANG_MARKERS)):  # earlier languages win ties
        pred = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return out.withColumn("predicted_lang", pred)


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count + a BPE-ish regex token count
    (``[a-z]+|[0-9]+|punctuation-run``) — the cheap proxy pipelines use
    to budget tokenizer work."""
    ws = F.size(_words(text_col))
    regex_tokens = F.expr(
        f"size(regexp_extract_all(lower({text_col}), '[a-z]+|[0-9]+', 0))"
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        ws.alias("ws_tokens"),
        regex_tokens.alias("regex_tokens"),
    )


def content_fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    word set — a cheap canonical key for shuffled/reordered duplicates
    (cf. rolling-hash fingerprints in dedup literature)."""
    fp = fingerprint_expr(text_col)
    return df.select(F.col(id_col).alias("doc_id"), fp.alias("fingerprint"))


def fingerprint_expr(text_col: str) -> Column:
    """The ``content_fingerprint`` column expression, exposed for
    single-pass composition."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(_words(text_col))), " "))


def predicted_lang_expr(text_col: str) -> Column:
    """The ``language_id`` argmax expression (marker counts + tie
    preference in ``LANG_MARKERS`` order), for single-pass composition."""
    scores = _marker_scores(text_col)
    best = F.greatest(*scores.values())
    pred = F.lit("unknown")
    for lang in reversed(list(LANG_MARKERS)):  # earlier languages win ties
        pred = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return pred


# PII-ish patterns kept deliberately lookahead-free so the SAME pattern
# string is valid and equivalent in Java regex (Spark) and RE2 (DuckDB):
# character classes, +, and bounded repetition only.
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
URL_RE = "https?://[^ ]+"


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Email/URL redaction — the standard pre-training scrub pass:
    count the matches, replace them with typed placeholder tokens, and
    fingerprint the redacted text.  Pure ``regexp_replace`` /
    ``regexp_extract_all`` expressions (single pass, whole-stage
    codegen); the digest lets a pipeline verify scrub idempotency
    without shipping the text."""
    lower = F.lower(F.col(text_col))
    # Python API, NOT F.expr: interpolating EMAIL_RE into a SQL string
    # literal let the parser unescape `\.` to `.`, silently loosening
    # the counted pattern vs both the oracle and the redaction below
    # (caught in review; the synthetic corpus has no emails, so parity
    # alone never saw it).
    n_emails = F.size(F.regexp_extract_all(lower, F.lit(EMAIL_RE), 0))
    n_urls = F.size(F.regexp_extract_all(lower, F.lit(URL_RE), 0))
    redacted = F.regexp_replace(
        F.regexp_replace(lower, EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_emails.cast("bigint").alias("n_emails"),
        n_urls.cast("bigint").alias("n_urls"),
        F.md5(redacted).alias("redacted_md5"),
    )


def corpus_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """ALL per-document text features in ONE projection pass: quality
    signals + predicted language + token counts + content fingerprint.

    The per-family functions above each scan the corpus once; a
    training-data prep pipeline needs several families at once, and at
    100 TB the difference between one scan and four is the job.  Every
    expression here is identical to its per-family sibling (the
    composite's oracle reuses the per-family SQL fragments verbatim)."""
    df = spread_for_compute(df, id_col)
    w, n_words, n_chars, n_stop, non_alpha = _quality_exprs(text_col)
    regex_tokens = F.expr(
        f"size(regexp_extract_all(lower({text_col}), '[a-z]+|[0-9]+', 0))"
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        (n_stop.cast("double") / n_words).alias("stopword_ratio"),
        (non_alpha.cast("double") / n_chars).alias("non_alpha_ratio"),
        (F.size(F.array_distinct(w)).cast("double") / n_words).alias(
            "distinct_word_ratio"
        ),
        predicted_lang_expr(text_col).alias("predicted_lang"),
        n_words.alias("ws_tokens"),
        regex_tokens.alias("regex_tokens"),
        F.md5(F.col(text_col)).alias("content_hash"),
        fingerprint_expr(text_col).alias("fingerprint"),
    )


def repetition_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Intra-document repetition signals — the Gopher-style filters
    that catch boilerplate/keyword-stuffed documents (duplicate n-gram
    fraction, most-frequent-word share).

    Two sub-shapes, chosen by where the work is linear:
    - duplicate-gram fractions are computed IN-ROW
      (``1 − distinct/total`` over the gram array) — pure expressions,
      whole-stage codegen, no shuffle;
    - the top-word share needs a per-document mode, which in-row would
      be O(words²) per document — unbounded for long documents — so it
      runs as the canonical explode → groupBy(doc, term) → per-doc
      window shape instead (linear, one keyed shuffle).

    Output: (doc_id, n_words, dup_2gram_frac, dup_3gram_frac,
    top_term, top_tf, top_term_frac).
    """
    # gram transforms are the heaviest in-row work in the module:
    # measured 8.5 s → 1.7 s at the 10× corpus once spread
    df = spread_for_compute(df, id_col)
    w = _words(text_col)

    def _gram_dup_frac(n: int) -> Column:
        parts = " , ".join(f"w[i + {j}]" for j in range(n))
        grams = F.expr(f"transform(gidx, i -> concat_ws(' ', {parts}))")
        total = F.size(grams)
        # references the PROJECTED `w`/`gidx` columns, not the source text
        return F.when(
            F.size(F.col("w")) >= n,
            F.round((total - F.size(F.array_distinct(grams))) / total, 6),
        )

    base = (
        df.select(
            F.col(id_col).alias("doc_id"),
            w.alias("w"),
            F.size(w).alias("n_words"),
        )
        .withColumn("gidx", F.sequence(F.lit(0), F.size(F.col("w")) - 2))
        .withColumn("dup_2gram_frac", _gram_dup_frac(2))
        .withColumn("gidx", F.sequence(F.lit(0), F.size(F.col("w")) - 3))
        .withColumn("dup_3gram_frac", _gram_dup_frac(3))
        .select("doc_id", "n_words", "dup_2gram_frac", "dup_3gram_frac")
    )
    tf = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(_words(text_col)).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    wtop = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("term"))
    top = (
        tf.withColumn("_rk", F.row_number().over(wtop))
        .filter(F.col("_rk") == 1)
        .select("doc_id", F.col("term").alias("top_term"), F.col("tf").alias("top_tf"))
    )
    return base.join(top, "doc_id").select(
        "doc_id",
        "n_words",
        "dup_2gram_frac",
        "dup_3gram_frac",
        "top_term",
        "top_tf",
        F.round(F.col("top_tf") / F.col("n_words"), 6).alias("top_term_frac"),
    )


def unigram_logprob_scores(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Corpus-unigram language-model quality score: each document's
    mean token log-probability under the corpus's OWN unigram
    distribution — the cheap perplexity-style junk filter (documents
    full of corpus-rare tokens score far below prose; no trained model
    or external vocabulary needed).

    Plan shape for 100 TB: one explode + term agg builds the vocabulary
    (orders of magnitude fewer rows than the token stream; map-side
    partial aggregation absorbs hot terms), the corpus token total is a
    broadcast 1-row aggregate, and scoring is a term-keyed join of the
    per-(doc, term) frequencies against the vocabulary followed by a
    per-doc reduction — the same two-shuffle word-count skeleton as
    TF-IDF (``retrieval.tfidf_topk``), with AQE skew-join covering the
    hot-term probe side.

    Determinism: each (doc, term) contribution ``tf·ln(cnt/total)`` is
    one double expression; the per-doc sum goes through DECIMAL(30,12)
    (registry convention) so shuffle order cannot flicker the rounded
    output.

    Output: (doc_id, n_tokens, avg_logprob) — avg_logprob rounded 6dp,
    more negative = more surprising under the corpus distribution.
    """
    tf = (
        spread_for_compute(df, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(_words(text_col)).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = vocab.select(F.sum("cnt").alias("total"))
    scored = (
        tf.join(vocab, "term")
        .join(F.broadcast(total))
        .withColumn(
            "_contrib",
            F.col("tf") * F.log(F.col("cnt") / F.col("total")),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.round(
            dec_sum(F.col("_contrib"), scale=12, precision=30)
            / F.sum("tf"),
            6,
        ).alias("avg_logprob"),
    )


def boilerplate_segments(
    df: DataFrame, id_col: str, text_col: str, sep: str = r"\. "
) -> DataFrame:
    """Cross-document duplicated-segment detection — the line-level
    dedup signal (CCNet-style): segments repeated across the corpus are
    boilerplate (headers, footers, navigation, license blurbs) and the
    per-document duplicated fraction is the drop/trim signal.

    Segments are the ``sep``-split pieces of the lowercased text (use
    ``"\\n"`` for real line-structured corpora; the default splits
    sentence-ish on ". ").  A segment counts as duplicated when its
    corpus-wide occurrence count exceeds 1 — including within-document
    repeats, which are boilerplate all the same.

    Plan shape for 100 TB: explode (linear) → segment-keyed count with
    map-side partial aggregation (hot boilerplate segments collapse
    before the shuffle) → segment-keyed join back (AQE skew-join covers
    the hot probe side, same note as TF-IDF) → per-doc reduction.

    Output: (doc_id, n_segments, n_dup_segments, dup_fraction).
    """
    segs = (
        spread_for_compute(df, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.col(text_col)), sep)).alias("seg"),
        )
        .filter(F.length(F.trim(F.col("seg"))) > 0)
    )
    counts = segs.groupBy("seg").agg(F.count(F.lit(1)).alias("n_occ"))
    return (
        segs.join(counts, "seg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.count(F.when(F.col("n_occ") > 1, F.lit(1))).alias(
                "n_dup_segments"
            ),
        )
        .withColumn(
            "dup_fraction",
            F.round(F.col("n_dup_segments") / F.col("n_segments"), 6),
        )
    )


def bigram_logprob_scores(
    df: DataFrame, id_col: str, text_col: str, add_k: float = 0.5
) -> DataFrame:
    """Corpus-bigram language-model quality score: each document's mean
    bigram log-probability ``ln P(w_i | w_{i-1})`` under the corpus's
    OWN add-k-smoothed bigram distribution — the next step up from the
    unigram junk filter (:func:`unigram_logprob_scores`): repetitive or
    shuffled-word spam that fools unigram frequency still scores low on
    transition probability.

    ``P(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V)`` with V = distinct
    unigram vocabulary size (add-k / Lidstone smoothing).

    Plan shape for 100 TB: bigrams are formed IN-ROW (``arrays_zip`` of
    the token array against its own shift — zero-shuffle, no window,
    no self-join); one groupBy builds the bigram table and one the
    unigram table (map-side partial agg absorbs hot pairs); V and the
    smoothing constant ride a broadcast 1-row aggregate.  Scoring is a
    bigram-keyed join of per-(doc, pair) frequencies against the pair
    table plus a first-token join against the unigram table — the
    word-count skeleton again, with AQE skew-join covering hot pairs
    ("of the").  Docs with < 2 tokens emit ``n_bigrams = 0`` and a
    null score (no transitions to judge).

    Determinism: per-(doc,pair) contribution is one double expression;
    the per-doc sum goes through DECIMAL(30,12) (registry convention).

    Output: (doc_id, n_bigrams, avg_logprob) — avg_logprob rounded 6dp.
    """
    toks = F.filter(_words(text_col), lambda x: x != "")
    n = F.size(toks)
    pairs_arr = F.arrays_zip(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))).alias("w2"),
    )
    base = spread_for_compute(df, id_col).select(
        F.col(id_col).alias("doc_id"), pairs_arr.alias("_pairs")
    )
    doc_pairs = (
        base.select(
            "doc_id", F.explode("_pairs").alias("p")
        )
        .select(
            "doc_id",
            F.col("p.w1").alias("w1"),
            F.col("p.w2").alias("w2"),
        )
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("pf"))
    )
    bigrams = doc_pairs.groupBy("w1", "w2").agg(F.sum("pf").alias("c12"))
    # c1 counts first-position occurrences over the same pair stream —
    # exactly SUM(c12) over w2.  Deriving it from the bigram table
    # (pair-cardinality) instead of re-exploding `base` removes a full
    # corpus explode pass (guide §2.3).
    unigrams = bigrams.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab_n = (
        spread_for_compute(df, id_col)
        .select(F.explode(F.filter(_words(text_col), lambda x: x != "")).alias("t"))
        .agg(F.countDistinct("t").alias("v"))
    )
    scored = (
        doc_pairs.join(bigrams, ["w1", "w2"])
        .join(unigrams, "w1")
        .join(F.broadcast(vocab_n))
        .withColumn(
            "_contrib",
            F.col("pf")
            * F.log(
                (F.col("c12") + F.lit(add_k))
                / (F.col("c1") + F.lit(add_k) * F.col("v"))
            ),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("pf").cast("bigint").alias("n_bigrams"),
        F.round(
            dec_sum(F.col("_contrib"), scale=12, precision=30) / F.sum("pf"),
            6,
        ).alias("avg_logprob"),
    )
    # docs with < 2 tokens have no bigrams — tombstone via LEFT join +
    # coalesce so `per_doc` (and its whole LM lineage) appears once in
    # the plan; the previous anti-join + union replayed the lineage a
    # second time just to find the missing ids (18 scans → 10 here).
    all_ids = df.select(F.col(id_col).alias("doc_id"))
    return all_ids.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.col("avg_logprob"),
    )


def dsir_importance(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    buckets: int = 1024,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, public
    technique): score every document by the mean per-token
    log-likelihood ratio between a TARGET-domain hashed-unigram LM and
    the RAW-corpus LM — the importance-resampling signal that tilts a
    web-scale mixture toward a quality domain without training a
    model.

    Features are md5-hashed unigram buckets (32-bit slice mod
    ``buckets``) so the LM is a fixed-size table regardless of corpus
    vocabulary — the property that makes DSIR tractable at 100 TB, and
    the property that makes the oracle exact (both engines hash with
    md5).  Both LMs use add-1 smoothing over the bucket space.

    Plan shape: one explode + (doc, bucket) agg is the only token-wide
    shuffle; both LMs are bucket aggs of THAT frame (≤ ``buckets``
    rows each), their join is broadcast, and scoring is a per-doc
    reduction with DECIMAL sums.  Output: (doc_id, n_tokens,
    is_target, avg_log_ratio) — higher = more target-like.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("long")
        % buckets
    )
    btf = (
        spread_for_compute(df, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(target_col).alias("is_target"),
            F.explode(_words(text_col)).alias("term"),
        )
        .select("doc_id", "is_target", bucket.alias("bucket"))
        .groupBy("doc_id", "is_target", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    raw = btf.groupBy("bucket").agg(F.sum("tf").alias("c_r"))
    tgt = (
        btf.filter(F.col("is_target"))
        .groupBy("bucket")
        .agg(F.sum("tf").alias("c_t"))
    )
    totals = raw.join(F.broadcast(tgt), "bucket", "left").select(
        F.sum("c_r").alias("R"),
        F.sum(F.coalesce(F.col("c_t"), F.lit(0))).alias("T"),
    )
    lm = (
        raw.join(F.broadcast(tgt), "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("c_t"), F.lit(0)) + 1.0)
                    / (F.col("T") + float(buckets))
                )
                - F.log((F.col("c_r") + 1.0) / (F.col("R") + float(buckets)))
            ).alias("lw"),
        )
    )
    return (
        btf.join(F.broadcast(lm), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.max(F.when(F.col("is_target"), 1).otherwise(0))
            .cast("int")
            .alias("is_target"),
            F.round(
                dec_sum(F.col("tf") * F.col("lw"), scale=12, precision=30)
                / F.sum("tf"),
                6,
            ).alias("avg_log_ratio"),
        )
    )


def trigram_backoff_scores(
    lm_df: DataFrame,
    score_df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Stupid-backoff trigram LM scoring (Brants et al., EMNLP 2007 —
    the counting scheme built for trillion-token corpora precisely
    because it needs NO discounting math, only raw counts): score each
    ``score_df`` document under a FROZEN LM counted from ``lm_df``:

        S(w3 | w1 w2) = c123/c12                   if the trigram is in the LM
                      = 0.4 * c23/c2               else if the bigram is
                      = 0.16 * (c3 + 0.5)/(N + V/2)  else (Lidstone floor,
                                                    so OOV words score
                                                    finite, never ln 0)

    The split matters: scoring a corpus under its OWN counts never
    backs off (every observed trigram has c123 >= 1), so the held-out
    frame is what exercises the backoff chain — the production shape
    anyway (incoming batches scored under yesterday's LM).

    Plan for 100 TB: trigram/bigram/unigram formation is IN-ROW
    (slice+zip — zero shuffle, no window/self-join); the LM is three
    count tables built by map-side-combinable groupBys; scoring joins
    the per-(doc, trigram) frequencies against the three LM tables on
    their n-gram keys (AQE skew-join covers hot n-grams — the x14
    precedent); N and V ride a broadcast 1-row aggregate.  Per-doc
    sums go through DECIMAL(30,12) (registry convention).

    Output: (doc_id, n_trigrams, n_backed_off, avg_logscore) —
    avg_logscore rounded 6dp, NULL (with n_trigrams = 0) for docs
    under 3 tokens.
    """
    def tri_frame(df: DataFrame) -> DataFrame:
        toks = F.filter(_words(text_col), lambda x: x != "")
        n = F.size(toks)
        arr = F.arrays_zip(
            F.slice(toks, 1, F.greatest(n - 2, F.lit(0))).alias("w1"),
            F.slice(toks, 2, F.greatest(n - 2, F.lit(0))).alias("w2"),
            F.slice(toks, 3, F.greatest(n - 2, F.lit(0))).alias("w3"),
        )
        return (
            spread_for_compute(df, id_col)
            .select(F.col(id_col).alias("doc_id"), F.explode(arr).alias("t"))
            .select(
                "doc_id",
                F.col("t.w1").alias("w1"),
                F.col("t.w2").alias("w2"),
                F.col("t.w3").alias("w3"),
            )
        )

    lm_tris = tri_frame(lm_df)
    c123 = lm_tris.groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("c123")
    )
    # c12 counts trigram-prefix occurrences, i.e. the trigram rows per
    # (w1, w2) — exactly SUM(c123) over w3.  Deriving it from the c123
    # frame (n-gram cardinality) instead of re-grouping lm_tris removes
    # a full corpus explode pass + token-stream shuffle (guide §2.3:
    # aggregate once, derive the coarser tables from the counts).
    c12 = c123.groupBy("w1", "w2").agg(F.sum("c123").alias("c12"))
    # bigram/unigram tables over ALL adjacent pairs / tokens of the LM
    # corpus (not just trigram-interior ones) — the standard backoff
    # denominators
    lm_toks = spread_for_compute(lm_df, id_col).select(
        F.explode(F.filter(_words(text_col), lambda x: x != "")).alias("w")
    )
    c3 = lm_toks.groupBy(F.col("w").alias("w3")).agg(
        F.count(F.lit(1)).alias("c3")
    )
    lm_pairs = (
        spread_for_compute(lm_df, id_col)
        .select(F.filter(_words(text_col), lambda x: x != "").alias("ws"))
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice(
                        F.col("ws"),
                        1,
                        F.greatest(F.size("ws") - 1, F.lit(0)),
                    ).alias("w2"),
                    F.slice(
                        F.col("ws"),
                        2,
                        F.greatest(F.size("ws") - 1, F.lit(0)),
                    ).alias("w3"),
                )
            ).alias("p")
        )
        .select(F.col("p.w2").alias("w2"), F.col("p.w3").alias("w3"))
    )
    c23 = lm_pairs.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("c23"))
    # c2 = SUM(c23) over w3 (same derivation as c12 above), and the
    # (N, V) scalars are exactly (SUM(c3), |c3|) — three more corpus
    # passes collapsed onto the already-built count tables.
    c2 = c23.groupBy("w2").agg(F.sum("c23").alias("c2"))
    nv = c3.agg(
        F.sum("c3").alias("n_tok"),
        F.count(F.lit(1)).alias("v"),
    )

    pf = tri_frame(score_df).groupBy("doc_id", "w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("pf")
    )
    joined = (
        pf.join(c123, ["w1", "w2", "w3"], "left")
        .join(c12, ["w1", "w2"], "left")
        .join(c23, ["w2", "w3"], "left")
        .join(c2, ["w2"], "left")
        .join(c3, ["w3"], "left")
        .crossJoin(F.broadcast(nv))
    )
    score = F.when(
        F.col("c123").isNotNull(), F.col("c123") / F.col("c12")
    ).otherwise(
        F.when(
            F.col("c23").isNotNull(), 0.4 * (F.col("c23") / F.col("c2"))
        ).otherwise(
            0.16
            * ((F.coalesce(F.col("c3"), F.lit(0)) + 0.5)
               / (F.col("n_tok") + 0.5 * F.col("v")))
        )
    )
    scored = joined.groupBy("doc_id").agg(
        F.sum("pf").cast("bigint").alias("n_trigrams"),
        F.sum(F.when(F.col("c123").isNull(), F.col("pf")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_backed_off"),
        F.round(
            dec_sum(F.col("pf") * F.log(score), scale=12, precision=30)
            / F.sum("pf"),
            6,
        ).alias("avg_logscore"),
    )
    # tombstone rows for docs under 3 tokens: a LEFT join + coalesce
    # keeps `scored` (and its whole LM lineage) appearing ONCE in the
    # plan — the previous anti-join + union replayed the scoring
    # lineage a second time just to find the missing ids (Catalyst has
    # no cross-subtree CSE; measured 18 scans → 10 on the x14 sibling).
    all_ids = score_df.select(F.col(id_col).alias("doc_id"))
    return all_ids.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_trigrams"), F.lit(0)).cast("bigint").alias("n_trigrams"),
        F.coalesce(F.col("n_backed_off"), F.lit(0)).cast("bigint").alias("n_backed_off"),
        F.col("avg_logscore"),
    )
