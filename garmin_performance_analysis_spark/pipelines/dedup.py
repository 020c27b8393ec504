"""Document deduplication at pipeline scale.

Beyond the reference's surface: the operators a 100 TB training-data
pipeline needs.  All variants are pure DataFrame expressions (hashing =
``md5`` so an ANSI-SQL oracle reproduces them bit-for-bit):

- exact:     content-hash groupBy
- n-gram Jaccard: shingle → self-join on shared shingles → set overlap
- MinHash+LSH: shingle → K min-hashes → banded bucket join → estimate
- SimHash:   token-hash bit voting → 64-bit fingerprint

Scale notes: the shingle self-join shuffles on the shingle string — at
100 TB the LSH path is the one to use (bucket join on band hashes cuts
candidate pairs from O(N²) to near-linear); hot shingles (stopword
trigrams) are the skew risk, mitigated by dropping top-frequency
shingles (``max_shingle_freq``) exactly as public MinHash pipelines do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content hash: groups with >1 doc, keeping the min
    id as canonical."""
    h = F.md5(F.col(text_col))
    return (
        df.groupBy(h.alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document, exploded to
    ``(id, shingle)`` rows.  Pure expressions (split + sequence +
    transform), no UDF."""
    words = F.split(F.lower(F.col(text_col)), " ")
    idx = F.sequence(F.lit(0), F.size(words) - n)
    parts = " , ".join(f"w[i + {j}]" for j in range(n))
    shingle_expr = F.expr(f"transform(idx, i -> concat_ws(' ', {parts}))")
    return (
        # corpus files are often few/large-rowgroup: spread docs across
        # tasks BEFORE the explode so shingling/hashing parallelizes.
        # The partition count is EXPLICIT: AQE would coalesce this
        # shuffle to 1 partition (it sizes the tiny doc rows, not the
        # exploded output behind them)
        df.repartition(32, F.col(id_col))
        .filter(F.size(words) >= n)
        .select(F.col(id_col).alias("doc_id"), words.alias("w"), idx.alias("idx"))
        .select("doc_id", F.explode(F.array_distinct(shingle_expr)).alias("shingle"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
    checkpoint: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity.

    ``|A∩B|`` comes from a self-join on the shingle, ``|A|``/``|B|``
    from per-doc counts; ``J = c/(|A|+|B|-c)``.  ``max_shingle_freq``
    drops ubiquitous shingles (skew + candidate blow-up control at
    scale).  ``checkpoint=True`` materializes the shingle frame once
    (``localCheckpoint``) so the diamond plan (sizes + both join sides)
    doesn't recompute the explode three times."""
    sh = word_shingles(df, id_col, text_col, n)
    if checkpoint:
        sh = sh.localCheckpoint(eager=True)
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_f"))
        sh = sh.join(freq.filter(F.col("_f") <= max_shingle_freq), "shingle").drop("_f")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b")
    )
    jac = F.col("shared") / (F.col("size_a") + F.col("size_b") - F.col("shared"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "shared", "size_a", "size_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, n: int = 3
) -> DataFrame:
    """K-permutation MinHash signature per document.

    Hash family: Carter-Wegman ``h_i(x) = h1(x) + i·h2(x)`` where
    ``h1`` (60-bit) and ``h2`` (48-bit) are disjoint slices of ONE md5
    digest per shingle — the seeded-universal-family construction from
    Broder's resemblance sketches.  One digest instead of K: at K=16
    this cuts the dominant hashing cost of the signature stage 16×
    (measured 1.67 s → 0.78 s at sf0.1), and the ints stay below 2^61
    so neither engine overflows.  Deterministic and engine-portable
    (the oracle recomputes the same slices via strpos arithmetic)."""
    sh = word_shingles(df, id_col, text_col, n)
    d = F.md5(F.col("shingle"))
    h1 = F.conv(F.substring(d, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(d, 17, 12), 16, 10).cast("long")
    base = sh.select("doc_id", h1.alias("_h1"), h2.alias("_h2"))
    aggs = [
        F.min(F.col("_h1") + i * F.col("_h2")).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return base.groupBy("doc_id").agg(*aggs)


def band_rows(
    signatures: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Narrow banded view of MinHash signatures: one ``(doc_id,
    band_idx, band_hash)`` row per band — the join key for both the
    batch self-join (``lsh_candidate_pairs``) and the incremental
    registry (``incremental.incremental_lsh_candidates``)."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.concat_ws("|", *parts)).alias("band_hash"),
            )
        )
    return signatures.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc_id", "band.*")


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: band the signature, bucket-join
    on band hashes, then estimate Jaccard as the fraction of equal
    minhash components.

    The band join is the scale path: candidates only form inside a
    bucket, so the shuffle is on ``(band_idx, band_hash)`` and never
    materializes O(N²) pairs.  The banded frame is kept narrow —
    ``(doc_id, band_idx, band_hash)`` only — and the full signatures
    join back in after the pair-dedup, so the explode and distinct never
    carry the K signature columns."""
    banded = band_rows(signatures, num_hashes, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    x = signatures.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"amh{i}") for i in range(num_hashes)],
    )
    y = signatures.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"bmh{i}") for i in range(num_hashes)],
    )
    matches = sum(
        F.when(F.col(f"amh{i}") == F.col(f"bmh{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("est_jaccard", matches / F.lit(float(num_hashes)))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash fingerprint per document as a 64-char '0'/'1'
    string (MSB of md5 first).

    Per token: md5 → 16 hex digits → 4 bits each; each bit votes ±1;
    the sign of the per-position vote sum is the fingerprint bit.

    MAP-ONLY plan: md5 each distinct token once into an array, then a
    ``transform(sequence(0,63), bp -> aggregate(...))`` computes all 64
    vote sums inside one whole-stage-codegen projection.  The previous
    shape exploded tokens × 64 bit positions through two groupBys —
    |tokens|·64 shuffled rows (32M at sf0.1, measured 3.7 s for the
    pair query); per-row expression work is identical but nothing is
    materialized or shuffled, and at 100 TB the fingerprint stage
    becomes embarrassingly parallel.  The repartition stays: documents
    often arrive as few large files, and fingerprint cost is per-token,
    so balancing docs across tasks still matters for a map-only stage.

    Bit extraction is engine-portable integer math (div by 8/4/2/1, no
    shifts), identical to the ANSI oracle's formula."""
    words = F.array_distinct(F.split(F.lower(F.col(text_col)), " "))
    votes_expr = (
        "array_join(transform(sequence(0, 63), bp -> "
        "CASE WHEN aggregate(hs, 0L, (acc, h) -> acc"
        " + ((instr('0123456789abcdef', substr(h, CAST(bp div 4 AS INT) + 1, 1)) - 1)"
        "    div (CASE CAST(bp % 4 AS INT) WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) % 2"
        "   * 2 - 1"
        ") > 0 THEN '1' ELSE '0' END), '')"
    )
    return (
        # NULL-text docs drop entirely — the previous explode shape and
        # the ANSI oracle (unnest of a NULL split) both produce no row,
        # and an all-zeros fingerprint would spuriously pair NULL docs
        # at Hamming 0
        df.filter(F.col(text_col).isNotNull())
        .repartition(32, F.col(id_col))
        .select(
            F.col(id_col).alias("doc_id"),
            F.transform(words, F.md5).alias("hs"),
        )
        .select("doc_id", F.expr(votes_expr).alias("simhash64"))
    )


def simhash_blocks(max_hamming: int, n_bits: int = 64) -> list[tuple[int, int]]:
    """(start, length) of the ``max_hamming + 1`` contiguous bit blocks
    used for exact-match blocking.  Pigeonhole: two fingerprints within
    Hamming distance ``max_hamming`` differ in at most ``max_hamming``
    blocks, so they AGREE exactly on at least one of the
    ``max_hamming + 1`` blocks — recall is 1.0 by construction."""
    k = max_hamming + 1
    base, extra = divmod(n_bits, k)
    out, start = [], 0
    for i in range(k):
        length = base + (1 if i < extra else 0)
        out.append((start, length))
        start += length
    return out


def simhash_near_pairs(
    fingerprints: DataFrame, max_hamming: int = 3, n_bits: int = 64
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance via the FULL
    rotate-and-block scheme: the ``n_bits``-bit fingerprint splits
    into ``max_hamming + 1`` blocks; candidates equi-join on
    (block_index, block_bits) — every true pair within ``max_hamming``
    shares at least one exact block (see ``simhash_blocks``), so this
    never misses, and the join stays a bucketed equi-join (no O(N²)
    cross product).  Candidates found in several blocks are de-duped
    before the exact Hamming verify.

    ``n_bits`` (default 64) must match the fingerprint column's bit
    width — wider fingerprints (e.g. a 128-slice audio envelope) use
    the SAME index machinery with proportionally wider blocks, which
    is how a saturating modality buys resolution without a new index
    implementation.

    At 100 TB each block-join is an ordinary shuffle on a short string
    key; hot blocks (e.g. all-zeros fingerprints from empty docs) are
    the skew risk — AQE skew-join handles moderate cases, and a
    frequency cap on pathological blocks mirrors ``d2b``'s shingle cap
    if needed."""
    blocks = simhash_blocks(max_hamming, n_bits)
    exploded = fingerprints.select(
        "doc_id",
        "simhash64",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_idx"),
                        F.substring("simhash64", start + 1, length).alias("block"),
                    )
                    for i, (start, length) in enumerate(blocks)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash64", "b.block_idx", "b.block")
    a = exploded.alias("a")
    b = exploded.alias("b")
    cands = (
        a.join(b, ["block_idx", "block"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash64").alias("sh_a"),
            F.col("b.simhash64").alias("sh_b"),
        )
        .distinct()
    )
    # Primitive Hamming: 32-bit bit-string chunks → BIGINT via
    # conv(,2,10), XOR, bit_count — stays in whole-stage codegen.  The
    # previous per-position lambda (filter over sequence(0,63)) ran
    # INTERPRETED per candidate row, and the verify step dominates when
    # blocking yields many candidates (dup-heavy corpora).  32-bit
    # chunks because conv() of a full 64-bit string can overflow signed
    # BIGINT; a trailing partial chunk (n_bits % 32) convs fine as a
    # shorter string.
    def _chunk(col, start):
        return F.expr(f"CAST(conv(substr({col}, {start}, 32), 2, 10) AS BIGINT)")

    chunk_starts = list(range(1, n_bits + 1, 32))
    ham = F.bit_count(
        _chunk("sh_a", chunk_starts[0]).bitwiseXOR(_chunk("sh_b", chunk_starts[0]))
    )
    for s in chunk_starts[1:]:
        ham = ham + F.bit_count(_chunk("sh_a", s).bitwiseXOR(_chunk("sh_b", s)))
    return (
        cands.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def contamination_stats(
    corpus: DataFrame,
    probe: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    flag_threshold: float = 0.1,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    distinct word ``n``-grams also appear in the PROBE set (the eval /
    benchmark corpus), as the standard n-gram-overlap contamination
    audit run before training (cf. GPT-3/PaLM appendix methodology —
    public descriptions, n≈8-13 for real text; the synthetic corpus
    here uses a smaller n).

    Plan shape for 100 TB: both sides reduce to DISTINCT shingles
    first; the probe side (benchmark suites are small by nature)
    builds the distinct set and the join broadcasts it, so the
    corpus-side pass is scan → shingle → semi-join with no corpus
    shuffle for the hit count beyond the per-doc aggregate.  Output is
    one row per corpus document (zero-hit docs included — the audit
    must prove absence, not just list hits).

    Output: (doc_id, n_shingles, n_hits, hit_frac, contaminated).
    """
    c_sh = word_shingles(corpus, id_col, text_col, n=n)
    p_sh = word_shingles(probe, id_col, text_col, n=n).select("shingle").distinct()
    per_doc = c_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    # real benchmark suites are broadcast-sized; the hint is FORCED,
    # which disables Spark's size fallback, so a probe set that scales
    # with the corpus needs a different operator
    hits = (
        c_sh.join(F.broadcast(p_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        per_doc.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_shingles"), 6
            ).alias("hit_frac"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_shingles")
                >= flag_threshold
            ).alias("contaminated"),
        )
    )


def segment_dedup_rewrite(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = r"\. ",
    joiner: str = ". ",
) -> DataFrame:
    """Corpus-wide first-occurrence segment dedup with document
    reconstruction — the C4 rule ("remove any duplicated three-sentence
    span / keep the first occurrence") reduced to segment granularity:
    every segment that appears more than once in the corpus survives
    only at its globally-first position (ordered by ``(doc_id, pos)``),
    and each document's text is rebuilt from its surviving segments in
    original order.

    This differs from :func:`~..pipelines.text.boilerplate_segments`
    (which only SCORES duplication): this operator REWRITES the corpus,
    which is what the C4/Dolma cleanup stage actually ships.

    Plan shape for 100 TB: posexplode (linear, no shuffle) → one
    segment-keyed window (``row_number`` over partitionBy(seg)) — a
    single shuffle on the segment hash, skew-bounded because a segment
    that repeats M times still forms one M-row partition group and hot
    boilerplate strings are short; survivors then reduce per-document
    (second shuffle on doc_id) with an in-row ``sort_array`` to restore
    segment order — never a global window, never a driver collect.
    The rebuilt text is ``concat_ws(joiner, ...)``; empty documents
    (all segments deduped away) keep a row with ``clean_text = ''``
    so downstream accounting sees the tombstone.

    Output: (doc_id, n_segments, n_kept, clean_text).
    """
    from ..plans.layout import spread_for_compute

    segs = (
        spread_for_compute(df, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.lower(F.col(text_col)), sep)).alias(
                "pos", "seg"
            ),
        )
        .filter(F.length(F.trim(F.col("seg"))) > 0)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("seg").orderBy("doc_id", "pos")
    ranked = segs.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.count(F.when(F.col("_rn") == 1, F.lit(1))).alias("n_kept"),
            F.concat_ws(
                joiner,
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("_rn") == 1,
                                F.struct(F.col("pos"), F.col("seg")),
                            )
                        )
                    ),
                    lambda s: s.getField("seg"),
                ),
            ).alias("clean_text"),
        )
        .select(
            "doc_id",
            F.col("n_segments").cast("bigint").alias("n_segments"),
            F.col("n_kept").cast("bigint").alias("n_kept"),
            "clean_text",
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_freq: int | None = 25,
    checkpoint: bool = False,
) -> DataFrame:
    """Asymmetric near-duplicate pairs by n-gram CONTAINMENT
    ``C = |A∩B| / min(|A|,|B|)`` — the sub-document duplication signal
    Jaccard misses: a short doc pasted inside a long one has low J
    (union dominated by the long doc) but containment ≈ 1.  Same
    shingle self-join skeleton as ``ngram_jaccard_pairs``; the
    ``max_shingle_freq`` cap is the skew/candidate-blow-up control
    that makes the join viable at scale (a public-technique standard:
    containment-based dedup à la Broder's resemblance/containment
    pair)."""
    sh = word_shingles(df, id_col, text_col, n)
    if checkpoint:
        sh = sh.localCheckpoint(eager=True)
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_f"))
        sh = sh.join(freq.filter(F.col("_f") <= max_shingle_freq), "shingle").drop(
            "_f"
        )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    cont = F.col("shared") / F.least(F.col("size_a"), F.col("size_b"))
    return (
        shared.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("size_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("size_b")),
            "doc_b",
        )
        .filter(cont >= threshold)
        .select("doc_a", "doc_b", "shared", "size_a", "size_b", cont.alias("containment"))
    )


def bloom_contamination_stats(
    corpus: DataFrame,
    probe: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
    flag_threshold: float = 0.1,
) -> DataFrame:
    """Decontamination audit through a RELATIONAL Bloom filter — the
    compact-artifact sibling of ``contamination_stats``: instead of
    broadcasting the probe set's distinct shingles (d6's shape), the
    probe side reduces to a Bloom filter and only that bounded
    artifact travels.

    The filter's bit-set is materialized as a DISTINCT-POSITIONS table
    (<= min(k·n, m_bits) rows of one BIGINT — bounded by ``m_bits``
    REGARDLESS of probe size, the property that makes it shippable at
    100 TB): position_j(s) = md5('bloom' || j || '|' || s) taken as a
    60-bit integer mod ``m_bits``, j in [0, k).  Membership is the
    classic all-k-positions-present test, run as an in-row k-way
    explode + one broadcast equi-join on the position + a per-shingle
    count == k.  md5-derived positions (the repo's derandomization
    convention) make the filter and its false-positive SET fully
    deterministic and reproducible in any engine — so the audit is
    exactly oracle-checkable, false positives included.

    Classic Bloom guarantees carried: NO false negatives (every truly
    contaminated shingle hits all k positions by construction), FP
    rate ~ (1 - e^(-k·n/m))^k — at the default 2^20 bits / 3 hashes a
    50k-shingle probe set sits near 0.2%.

    Output: one row per corpus document (zero-hit rows included) with
    both the exact and the Bloom hit counts:
    (doc_id, n_shingles, n_exact_hits, n_bloom_hits,
     no_false_negatives, hit_frac, contaminated).
    """
    c_sh = word_shingles(corpus, id_col, text_col, n=n)
    p_sh = word_shingles(probe, id_col, text_col, n=n).select("shingle").distinct()
    j_arr = F.array(*[F.lit(j) for j in range(k_hashes)])

    def _pos():
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("bloom"),
                            F.col("j").cast("string"),
                            F.lit("|"),
                            F.col("shingle"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % m_bits
        )

    probe_pos = (
        p_sh.select("shingle", F.explode(j_arr).alias("j"))
        .select(_pos().alias("pos"))
        .distinct()
    )
    corpus_pos = c_sh.select(
        "doc_id", "shingle", F.explode(j_arr).alias("j")
    ).withColumn("pos", _pos())
    sh_hits = (
        corpus_pos.join(F.broadcast(probe_pos), "pos")
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") == k_hashes)
    )
    bloom_doc = sh_hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bloom_hits")
    )
    exact_doc = (
        c_sh.join(F.broadcast(p_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_exact_hits"))
    )
    per_doc = c_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    n_exact = F.coalesce(F.col("n_exact_hits"), F.lit(0))
    n_bloom = F.coalesce(F.col("n_bloom_hits"), F.lit(0))
    return (
        per_doc.join(exact_doc, "doc_id", "left")
        .join(bloom_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            n_exact.alias("n_exact_hits"),
            n_bloom.alias("n_bloom_hits"),
            (n_bloom >= n_exact).alias("no_false_negatives"),
            F.round(n_exact * 1.0 / F.col("n_shingles"), 6).alias("hit_frac"),
            (n_exact * 1.0 / F.col("n_shingles") >= flag_threshold).alias(
                "contaminated"
            ),
        )
    )
