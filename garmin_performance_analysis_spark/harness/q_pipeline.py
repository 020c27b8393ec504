"""Training-data pipeline queries: deduplication, text analysis,
similarity search, multimodal metadata — the beyond-the-reference
operator block, each with a DuckDB oracle where SQL can express it.

All hashing is md5-based so both engines produce identical bytes; all
set logic runs on the same lowercased single-space tokenization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import connected_components
from ..pipelines import dedup, multimodal, shards, similarity, text
from ..plans import layout
from ..scratch import artifact_dir, scratch_dir
from ..sources.tables import artifact, artifact_tag, load_table
from .registry import r6 as _r6
from .registry import register

_NUM_HASHES = 16
_BANDS = 4

_SHINGLES_CTE = """
words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(w) - 2),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
  FROM words WHERE len(w) >= 3
)
"""


@register(
    "d1_exact_hash_groups",
    oracle="""
SELECT md5(text) AS content_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
FROM documents
GROUP BY md5(text)
""",
    tags=("dedup",),
)
def d1_exact_hash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup mechanics: content-hash groups with a canonical
    keep-id (min doc_id).  This corpus has no byte-identical pairs, so
    every group has n_docs=1 — the md5 grouping itself is what the
    oracle validates; ``dedup.exact_duplicates`` filters n_docs>1."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("keep_id"),
    )


@register(
    "d2_ngram_jaccard_pairs",
    oracle=f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared, x.n AS size_a, y.n AS size_b,
       ROUND(shared * 1.0 / (x.n + y.n - shared), 6) AS jaccard
FROM shared JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.5
""",
    tags=("dedup", "batch"),
)
def d2_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-duplicate pairs (J >= 0.5): shingle
    self-join for |A∩B|, per-doc shingle counts for |A|,|B|."""
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, checkpoint=True
    )
    return out.select(
        "doc_a",
        "doc_b",
        "shared",
        F.col("size_a").cast("bigint").alias("size_a"),
        F.col("size_b").cast("bigint").alias("size_b"),
        _r6(F.col("jaccard")).alias("jaccard"),
    )


def _hex_horner(col: str, start: int, length: int) -> str:
    """Horner-form hex→BIGINT over ``substr(col, start, length)`` using
    only strpos/substr arithmetic — portable to any ANSI-ish engine."""
    expr = "0"
    for k in range(length):
        digit = f"(strpos('0123456789abcdef', substr({col}, {start + k}, 1)) - 1)"
        expr = f"({expr} * 16 + {digit})"
    return expr


def _minhash_sig_ctes() -> tuple[str, str]:
    """The MinHash/LSH oracles' shared SQL: the CTE prefix through the
    md5 signatures ``sig`` and their band hashes ``bands`` (ending in a
    comma), and the matching-component count between signature rows
    ``x`` and ``y``."""
    h1 = _hex_horner("d", 1, 15)
    h2 = _hex_horner("d", 17, 12)
    mins = ",\n         ".join(
        f"min(h1 + {i} * h2) AS mh{i}" for i in range(_NUM_HASHES)
    )
    rows = _NUM_HASHES // _BANDS
    band_selects = []
    for b in range(_BANDS):
        parts = " || '|' || ".join(f"mh{b * rows + r}" for r in range(rows))
        band_selects.append(
            f"SELECT doc_id, {b} AS band_idx, md5({parts}) AS bh FROM sig"
        )
    bands = " UNION ALL ".join(band_selects)
    matches = " + ".join(
        f"(CASE WHEN x.mh{i} = y.mh{i} THEN 1 ELSE 0 END)"
        for i in range(_NUM_HASHES)
    )
    ctes = f"""
WITH {_SHINGLES_CTE},
hashed AS (
  SELECT doc_id, {h1} AS h1, {h2} AS h2
  FROM (SELECT doc_id, md5(shingle) AS d FROM sh)
),
sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
bands AS ({bands}),"""
    return ctes, matches


def _minhash_oracle() -> str:
    sig_ctes, matches = _minhash_sig_ctes()
    return f"""{sig_ctes}
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b, ROUND(({matches}) / 16.0, 6) AS est_jaccard
FROM cand c JOIN sig x ON c.doc_a = x.doc_id JOIN sig y ON c.doc_b = y.doc_id
WHERE ({matches}) / 16.0 >= 0.5
"""


@register("d3_minhash_lsh_pairs", oracle=_minhash_oracle(), tags=("dedup", "batch"))
def d3_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4×4) near-duplicate pairs with estimated Jaccard
    >= 0.5.  The banded bucket join is the 100 TB path: candidates only
    form inside buckets, never O(N²)."""
    docs = load_table(spark, sf_dir, "documents")
    # signatures feed four plan branches (2 band sides + 2 estimation
    # joins): checkpoint once instead of recomputing 4M md5s per branch
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", _NUM_HASHES, n=3).localCheckpoint(
        eager=True
    )
    out = dedup.lsh_candidate_pairs(sigs, _NUM_HASHES, _BANDS, threshold=0.5)
    return out.select("doc_a", "doc_b", _r6(F.col("est_jaccard")).alias("est_jaccard"))


# SimHash bit votes: +/-1 per md5 bit of each distinct token, summed
# per (doc, bit position 0-63).
_SIMHASH_VOTES_CTES = """toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
  FROM documents
),
h AS (SELECT doc_id, md5(tok) AS h FROM toks),
bits AS (
  SELECT doc_id, bp,
         (((strpos('0123456789abcdef', substr(h, CAST(bp // 4 AS INT) + 1, 1)) - 1)
           // (CASE CAST(bp % 4 AS INT) WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) % 2) * 2 - 1 AS wt
  FROM h, (SELECT unnest(generate_series(0, 63)) AS bp)
),
votes AS (SELECT doc_id, bp, SUM(wt) AS vote FROM bits GROUP BY 1, 2)"""


@register(
    "d4_simhash_fingerprints",
    oracle=f"""
WITH {_SIMHASH_VOTES_CTES}
SELECT doc_id,
       string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY bp) AS simhash64
FROM votes GROUP BY doc_id
""",
    tags=("dedup",),
)
def d4_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document (md5 bit voting over
    distinct tokens), as a '0'/'1' string both engines can build."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash64(docs, "doc_id", "text")


_STOP_IN = ", ".join(f"'{s}'" for s in text.STOPWORDS)


@register(
    "x1_text_quality",
    oracle=f"""
SELECT doc_id,
       length(text) AS n_chars,
       len(string_split(lower(text), ' ')) AS n_words,
       ROUND(length(text) * 1.0 / len(string_split(lower(text), ' ')), 6) AS chars_per_word,
       ROUND(len(list_filter(string_split(lower(text), ' '), x -> x IN ({_STOP_IN}))) * 1.0
             / len(string_split(lower(text), ' ')), 6) AS stopword_ratio,
       ROUND((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) * 1.0
             / length(text), 6) AS non_alpha_ratio,
       ROUND(len(list_distinct(string_split(lower(text), ' '))) * 1.0
             / len(string_split(lower(text), ' ')), 6) AS distinct_word_ratio
FROM documents
""",
    tags=("text", "read"),
)
def x1_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring (C4/Gopher-style signals) as one
    expression-only pass."""
    docs = load_table(spark, sf_dir, "documents")
    out = text.quality_features(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_words").cast("bigint").alias("n_words"),
        _r6(F.col("chars_per_word")).alias("chars_per_word"),
        _r6(F.col("stopword_ratio")).alias("stopword_ratio"),
        _r6(F.col("non_alpha_ratio")).alias("non_alpha_ratio"),
        _r6(F.col("distinct_word_ratio")).alias("distinct_word_ratio"),
    )


def _langid_oracle() -> str:
    score_cols = []
    for lang, markers in text.LANG_MARKERS.items():
        marker_in = ", ".join(f"'{m}'" for m in markers)
        score_cols.append(
            f"CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN ({marker_in}))) AS BIGINT) AS score_{lang}"
        )
    langs = list(text.LANG_MARKERS)
    best = "GREATEST(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred = "'unknown'"
    for lang in reversed(langs):
        pred = f"CASE WHEN score_{lang} = {best} AND {best} > 0 THEN '{lang}' ELSE {pred} END"
    return f"""
WITH s AS (SELECT doc_id, {", ".join(score_cols)} FROM documents)
SELECT doc_id, {", ".join(f"score_{lang}" for lang in langs)}, {pred} AS predicted_lang
FROM s
"""


@register("x2_language_id", oracle=_langid_oracle(), tags=("text",))
def x2_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID with deterministic tie preference."""
    docs = load_table(spark, sf_dir, "documents")
    out = text.language_id(docs, "doc_id", "text")
    casts = [F.col(f"score_{lang}").cast("bigint").alias(f"score_{lang}") for lang in text.LANG_MARKERS]
    return out.select("doc_id", *casts, "predicted_lang")


@register(
    "x3_content_fingerprint",
    oracle="""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fingerprint
FROM documents
""",
    tags=("text",),
)
def x3_content_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint (md5 of sorted distinct
    word set)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.content_fingerprint(docs, "doc_id", "text")


@register(
    "x4_token_counts",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS BIGINT) AS regex_tokens
FROM documents
""",
    tags=("text",),
)
def x4_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + regex token counting (tokenizer-budget proxy)."""
    docs = load_table(spark, sf_dir, "documents")
    out = text.token_counts(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        F.col("ws_tokens").cast("bigint").alias("ws_tokens"),
        F.col("regex_tokens").cast("bigint").alias("regex_tokens"),
    )


_COS_DOT = (
    "list_sum(list_transform(generate_series(1, {n}),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _cos_expr(a: str, b: str, n: int = 64) -> str:
    """Oracle SQL for the cosine of list columns ``a`` and ``b`` over
    their first ``n`` dimensions, in the DOUBLE dot-product order the
    Spark side folds in."""
    dot = _COS_DOT.format(a=a, b=b, n=n)
    na = "sqrt(" + _COS_DOT.format(a=a, b=a, n=n) + ")"
    nb = "sqrt(" + _COS_DOT.format(a=b, b=b, n=n) + ")"
    return f"({dot}) / ({na} * {nb})"


@register(
    "v1_cosine_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, ROUND({_cos_expr('e.embedding', 'q.qe')}, 6) AS cosine
FROM embeddings e, q
WHERE e.vec_id <> 0
ORDER BY {_cos_expr('e.embedding', 'q.qe')} DESC, e.vec_id ASC
LIMIT 10
""",
    tags=("similarity", "read"),
)
def v1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 vs a query vector (vec_id=0): the exact
    ANN baseline, computed with a JVM-side zip_with/aggregate fold."""
    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_q"))
    cos = similarity._dot("embedding", "_q") / (
        similarity._norm("embedding") * similarity._norm("_q")
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qdf))
        .withColumn("cosine", cos)
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", _r6(F.col("cosine")).alias("cosine"))
    )


@register(
    "v2_cosine_dup_pairs",
    oracle=f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({_cos_expr('a.embedding', 'b.embedding')}, 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_cos_expr('a.embedding', 'b.embedding')} >= 0.45
""",
    tags=("similarity", "dedup"),
)
def v2_cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (all-pairs exact at
    validation scale; IVF/LSH blocking is the scale path)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.cosine_dup_pairs(emb, "vec_id", "embedding", threshold=0.45)
    return out.select("id_a", "id_b", _r6(F.col("cosine")).alias("cosine"))


def _exact_topk_ranked(pool: DataFrame, query: list[float]) -> DataFrame:
    """Exact cosine top-10 vs ``query`` with a rank column — the
    oracle-checkable value block of the v3/v8/v10 recall-verdict
    pattern.  TakeOrderedAndProject for the top-k; the rank window
    runs AFTER the limit over 10 rows on the non-foldable bounded
    partition key (plan-gate convention)."""
    from pyspark.sql import Window

    from ..operators.windows import bounded_partition_key

    exact10 = similarity.brute_force_topk(pool, "vec_id", "embedding", query, 10)
    w = Window.partitionBy(bounded_partition_key("vec_id")).orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return exact10.withColumn("rank", F.row_number().over(w))


def _set_recall_verdict(
    exact: DataFrame, approx: DataFrame, min_hits: int, name: str
) -> DataFrame:
    """1-row frame: 1 iff |exact ∩ approx| (by vec_id) >= min_hits."""
    return (
        exact.select("vec_id")
        .join(approx.select("vec_id"), "vec_id")
        .agg(F.when(F.count(F.lit(1)) >= min_hits, 1).otherwise(0).alias(name))
    )


_V_EXACT_TOPK_ORACLE = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
ranked AS (
  SELECT e.vec_id, {cos} AS cos,
         ROW_NUMBER() OVER (ORDER BY {cos} DESC, e.vec_id ASC) AS rank
  FROM embeddings e, q WHERE e.vec_id <> 0
)
SELECT CAST(rank AS INTEGER) AS rank, vec_id, ROUND(cos, 6) AS cosine,
       {verdicts}
FROM ranked WHERE rank <= 10
"""


@register(
    "v8_pq_topk",
    oracle=_V_EXACT_TOPK_ORACLE.format(
        cos=_cos_expr("e.embedding", "q.qe"),
        verdicts="1 AS shortlist_recall_ok",
    ),
    tags=("similarity", "ann", "batch"),
)
def v8_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (PQ-ADC + exact re-rank) WITH an
    in-band recall verdict — the a9b/v10 pattern (r8 upgrade from
    rows-only): 4-subspace deterministic codebooks, every vector
    stored as 4 small codes, the query's centroid-distance table
    broadcast, shortlist by summed ADC distance, exact cosine over the
    shortlist only.  The approximate ranking itself can't be
    hash-matched by ANSI SQL, so the comparable output is (a) the
    exact brute-force top-10 (oracle-checked value for value) and (b)
    ``shortlist_recall_ok`` pinned to 1: PQ@shortlist-200 (20x k, a
    standard re-rank budget) recall vs exact >= 0.4 — measured 0.6 at
    sf0.1 (N=2000), 1.0 where the shortlist covers the corpus; the
    unit test (``test_pq_recall_and_determinism``) keeps the tighter
    shortlist-50 floor at its own fixture scale — a verdict flip
    means the codebooks or ADC ranking actually broke, not sketch
    luck.  Training is deterministic (no RNG), so the whole chain is
    reproducible."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    exact = _exact_topk_ranked(emb.filter(F.col("vec_id") != 0), query)
    pq = similarity.pq_topk(
        emb, "vec_id", "embedding", query_id=0, dim=64,
        m=4, k_clusters=16, iters=2, k=10, shortlist=200,
    )
    verdict = _set_recall_verdict(exact, pq, 4, "shortlist_recall_ok")
    return exact.crossJoin(F.broadcast(verdict)).select(
        F.col("rank").cast("int").alias("rank"),
        "vec_id",
        _r6(F.col("cosine")).alias("cosine"),
        "shortlist_recall_ok",
    )


@register(
    "v8b_pq_query_path",
    oracle=_V_EXACT_TOPK_ORACLE.format(
        cos=_cos_expr("e.embedding", "q.qe"),
        verdicts="1 AS shortlist_recall_ok",
    ),
    tags=("similarity", "ann", "read"),
)
def v8b_pq_query_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOYABLE PQ split: codebooks are trained and the corpus
    encoded once per (session, corpus) as a registered artifact
    (``sources.tables.artifact``: codebooks as m·k = 64 collected rows,
    the shipped-artifact size; codes as parquet under the artifact
    root — production PQ stores the codes table next to the codebooks,
    it IS the compressed index) — training is an offline job and the
    serving path pays only the ADC shortlist + exact re-rank.  This
    entry exists so the bench measures PQ's read path the way it
    measures v6's (SQ int8): ``v8_pq_topk`` keeps the train-per-call
    end-to-end cost, this one amortizes training exactly as production
    would (BENCH r5 showed v8's 3.65 s is dominated by the
    2-Lloyd-round training folded into every call).  Training and
    encoding are deterministic, so the artifact cannot change results
    — pinned by ``tests/test_pipelines.py``'s v8b/v8 equality test.
    Output and oracle are v8's (r8 upgrade from rows-only): exact
    top-10 values + ``shortlist_recall_ok`` pinned to 1, with the PQ
    ranking built from the REGISTERED codebooks."""
    emb = load_table(spark, sf_dir, "embeddings")

    def _build():
        path = artifact_dir(f"v8b_{artifact_tag(spark, sf_dir)}")
        valid = emb.filter(F.size(F.col("embedding")) == 64)
        rows = similarity.pq_train(
            valid, "vec_id", "embedding", dim=64, m=4, k=16, iters=2
        ).collect()
        similarity.pq_encode(
            valid.filter(F.col("vec_id") != 0),
            spark.createDataFrame(rows),
            "vec_id",
            "embedding",
            dim=64,
            m=4,
        ).write.parquet(path)
        return (rows, spark.read.parquet(path)), (path,)

    rows, codes = artifact(spark, sf_dir, "v8b", _build)
    codebooks = spark.createDataFrame(rows)
    query = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    # the exact ranked block feeds TWO consumers (the recall verdict
    # and the output); 10 rows — checkpoint so the scan+TakeOrdered
    # runs once per call instead of twice (no cross-subtree CSE)
    exact = _exact_topk_ranked(
        emb.filter(F.col("vec_id") != 0), query
    ).localCheckpoint(eager=True)
    pq = similarity.pq_topk(
        emb, "vec_id", "embedding", query_id=0, dim=64,
        m=4, k_clusters=16, iters=2, k=10, shortlist=200,
        codebooks=codebooks, codes=codes,
    )
    verdict = _set_recall_verdict(exact, pq, 4, "shortlist_recall_ok")
    return exact.crossJoin(F.broadcast(verdict)).select(
        F.col("rank").cast("int").alias("rank"),
        "vec_id",
        _r6(F.col("cosine")).alias("cosine"),
        "shortlist_recall_ok",
    )


@register(
    "v3_ivf_topk",
    oracle=_V_EXACT_TOPK_ORACLE.format(
        cos=_cos_expr("e.embedding", "q.qe"),
        verdicts="1 AS partial_recall_ok, 1 AS full_probe_exact_ok",
    ),
    tags=("similarity", "ann"),
)
def v3_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 WITH in-band recall verdicts — the
    a9b/v10 pattern (r8 upgrade from rows-only): k-means coarse
    quantizer (deterministic Lloyd iterations), probe the 3 nearest
    centroids, exact search inside them.  The approximate ranking
    can't be hash-matched by ANSI SQL, so the comparable output is
    (a) the exact brute-force top-10 (oracle-checked value for value)
    and (b) two verdict columns the oracle pins to 1:
    ``partial_recall_ok`` — IVF@n_probe=3 recall vs exact >= 0.2 (the
    unit-test floor on this weak-cluster-structure corpus) — and
    ``full_probe_exact_ok`` — IVF@n_probe=8 (all clusters) returns
    exactly the brute-force set, the identity every IVF index must
    satisfy.  The whole chain is deterministic (k-means init = k
    smallest ids, DECIMAL centroid means), so a verdict flip means the
    quantizer or probe pruning actually broke."""
    emb = load_table(spark, sf_dir, "embeddings")
    target = emb.filter(F.col("vec_id") == 0)
    query = [float(v) for v in target.select("embedding").first()[0]]
    # materialize the trained index ONCE per call: the exact ranking,
    # both probe levels, and the verdict joins all consume `assigned`,
    # and Catalyst has no cross-subtree CSE — without the checkpoint
    # the 3-iteration Lloyd training would re-run once per consumer
    # (still train-PER-CALL, unlike v10b's cross-call artifact)
    assigned = similarity.kmeans_assign(
        emb, "vec_id", "embedding", k=8, iters=3
    ).localCheckpoint(eager=True)
    cents = similarity.ivf_centroids(assigned, "embedding", "cluster_id")
    pool = assigned.filter(F.col("vec_id") != 0)
    exact = _exact_topk_ranked(pool, query)
    partial = similarity.ivf_topk(
        pool, cents, "vec_id", "embedding", "cluster_id", query, k=10, n_probe=3
    )
    full = similarity.ivf_topk(
        pool, cents, "vec_id", "embedding", "cluster_id", query, k=10, n_probe=8
    )
    v_partial = _set_recall_verdict(exact, partial, 2, "partial_recall_ok")
    v_full = _set_recall_verdict(exact, full, 10, "full_probe_exact_ok")
    return (
        exact.crossJoin(F.broadcast(v_partial))
        .crossJoin(F.broadcast(v_full))
        .select(
            F.col("rank").cast("int").alias("rank"),
            "vec_id",
            _r6(F.col("cosine")).alias("cosine"),
            "partial_recall_ok",
            "full_probe_exact_ok",
        )
    )


@register(
    "mm1_binary_metadata",
    oracle="""
SELECT doc_id,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256
FROM documents
""",
    tags=("multimodal",),
)
def mm1_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal payload metadata: byte length + content digest of the
    opaque binary column, computed JVM-side (the typed-metadata half of
    the multimodal plumbing; decode runs via mapInPandas, see
    ``pipelines/multimodal.py``)."""
    docs = load_table(spark, sf_dir, "documents")
    out = multimodal.attach_binary(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.col("sha256"),
    )


@register(
    "mm2_decoded_features",
    oracle="""
WITH b AS (SELECT doc_id, text, encode(text) AS blob FROM documents),
bytes AS (
  SELECT doc_id, ord(substr(text, CAST(i AS INT), 1)) AS byte
  FROM b, LATERAL (SELECT unnest(generate_series(1, length(text))) AS i)
),
stats AS (
  SELECT doc_id, AVG(byte) AS byte_mean, STDDEV_SAMP(byte) AS byte_std
  FROM bytes GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(octet_length(b.blob) AS BIGINT) AS n_bytes,
       sha256(b.text) AS sha256,
       ROUND(COALESCE(s.byte_mean, 0.0), 6) AS byte_mean,
       ROUND(COALESCE(s.byte_std, 0.0), 6) AS byte_std,
       CAST(NULL AS VARCHAR) AS fmt,
       CAST(NULL AS INTEGER) AS width,
       CAST(NULL AS INTEGER) AS height,
       CAST(NULL AS INTEGER) AS channels,
       CAST(NULL AS DOUBLE) AS pixel_mean,
       CAST(NULL AS DOUBLE) AS channel_mean_r,
       CAST(NULL AS DOUBLE) AS channel_mean_g,
       CAST(NULL AS DOUBLE) AS channel_mean_b
FROM b LEFT JOIN stats s ON s.doc_id = b.doc_id
""",
    tags=("multimodal",),
)
def mm2_decoded_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary payloads:
    byte statistics plus a REAL header decode (BMP/PPM via
    ``parse_image_header`` — pure struct arithmetic, no image library).
    The corpus is ASCII text, so every row takes the honest opaque-media
    fallback (NULL fmt/dims): BMP detection needs NUL bytes text cannot
    contain, and PPM detection needs a complete raster after the header
    (a document passing that check would genuinely BE a PPM byte
    stream — the constant-NULL oracle columns encode the assertion that
    this corpus contains none, which holds for the generated ASCII
    sentences).  The parse path itself is oracle-checked end-to-end by
    ``mm3_image_decode`` on constructed payloads."""
    docs = load_table(spark, sf_dir, "documents")
    out = multimodal.decode_features(
        multimodal.attach_binary(docs, "doc_id", "text")
    )
    return out.select(
        "doc_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        "sha256",
        _r6(F.col("byte_mean")).alias("byte_mean"),
        _r6(F.col("byte_std")).alias("byte_std"),
        "fmt",
        "width",
        "height",
        "channels",
        "pixel_mean",
        F.get("channel_means", 0).alias("channel_mean_r"),
        F.get("channel_means", 1).alias("channel_mean_g"),
        F.get("channel_means", 2).alias("channel_mean_b"),
    )


@register(
    "mm3_image_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, text,
         doc_id % 64 + 1 AS bw, doc_id % 32 + 1 AS bh,
         ((doc_id % 64 + 1) * 3 + 3) // 4 * 4 AS stride,
         doc_id % 16 + 1 AS pw, doc_id % 8 + 1 AS ph,
         doc_id % 24 + 1 AS jw, doc_id % 16 + 1 AS jh,
         doc_id % 256 AS bmp_v, 97 + doc_id % 26 AS ppm_v,
         145 + doc_id % 8 AS jpg_v
  FROM documents
)
SELECT doc_id,
       CASE WHEN doc_id % 4 = 0 THEN 'bmp'
            WHEN doc_id % 4 = 1 THEN 'ppm'
            WHEN doc_id % 4 = 2 THEN 'jpeg' END AS fmt,
       CASE WHEN doc_id % 4 = 0 THEN CAST(bw AS INTEGER)
            WHEN doc_id % 4 = 1 THEN CAST(pw AS INTEGER)
            WHEN doc_id % 4 = 2 THEN CAST(jw AS INTEGER) END AS width,
       CASE WHEN doc_id % 4 = 0 THEN CAST(bh AS INTEGER)
            WHEN doc_id % 4 = 1 THEN CAST(ph AS INTEGER)
            WHEN doc_id % 4 = 2 THEN CAST(jh AS INTEGER) END AS height,
       CASE WHEN doc_id % 4 IN (0, 1) THEN 3
            WHEN doc_id % 4 = 2 THEN 1 END AS channels,
       CASE WHEN doc_id % 4 = 0 THEN 54 + stride * bh
            WHEN doc_id % 4 = 1 THEN octet_length(CAST(
                 'P6' || chr(10) || CAST(pw AS VARCHAR) || ' '
                 || CAST(ph AS VARCHAR) || chr(10) || '255'
                 || chr(10) AS BLOB))
                 + pw * ph * 3
            WHEN doc_id % 8 = 2
                 THEN 144 + 2 * (((jw + 7) // 8) * ((jh + 7) // 8) - 1)
            WHEN doc_id % 8 = 6
                 THEN 152 + 2 * ((jw + 7) // 8) * ((jh + 7) // 8)
            ELSE octet_length(CAST(text AS BLOB)) END AS n_bytes,
       CASE WHEN doc_id % 4 = 0 THEN CAST(bmp_v AS DOUBLE)
            WHEN doc_id % 4 = 1 THEN CAST(ppm_v AS DOUBLE)
            WHEN doc_id % 4 = 2 THEN CAST(jpg_v AS DOUBLE) END AS pixel_mean,
       CASE WHEN doc_id % 4 = 0 THEN CAST(bmp_v AS DOUBLE)
            WHEN doc_id % 4 = 1 THEN CAST(ppm_v AS DOUBLE)
            WHEN doc_id % 4 = 2 THEN CAST(jpg_v AS DOUBLE) END AS channel_mean_r,
       CASE WHEN doc_id % 4 = 0 THEN CAST(bmp_v AS DOUBLE)
            WHEN doc_id % 4 = 1 THEN CAST(ppm_v AS DOUBLE) END AS channel_mean_g,
       CASE WHEN doc_id % 4 = 0 THEN CAST(bmp_v AS DOUBLE)
            WHEN doc_id % 4 = 1 THEN CAST(ppm_v AS DOUBLE) END AS channel_mean_b
FROM dims
""",
    tags=("multimodal", "batch"),
)
def mm3_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL image decode through the multimodal mapInPandas
    path: construct valid BMP (doc_id%4=0), binary-PPM (doc_id%4=1),
    entropy-coded baseline JPEG (doc_id%8=2) and PROGRESSIVE JPEG
    (doc_id%8=6 — SOF2, DC-band + AC-band scans) payloads JVM-side —
    hex-assembled little-endian BMP header + FULL constant-byte raster
    / ASCII PPM header + constant-letter raster / full JPEG marker
    stream with DQT, custom byte-aligned Huffman tables, and a per-MCU
    entropy scan (see the jpeg_hex comment) — leave the rest opaque
    text, then decode headers with ``parse_image_header`` AND pixels
    with ``decode_pixels`` (stride-aware uncompressed-BMP row walk,
    netpbm sample read, full Huffman+IDCT JPEG decode).  The oracle
    predicts width/height/channels/n_bytes and the per-channel pixel
    means ARITHMETICALLY from doc_id — it never sees the payload — so
    a parser that misreads any header field, miscomputes the row
    stride, mis-decodes the JPEG entropy stream, or includes padding
    bytes in the means hash-mismatches.  Scale shape: pure narrow
    projection + one Arrow-batched pass, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    w_bmp = (F.col("doc_id") % 64 + 1).cast("int")
    h_bmp = (F.col("doc_id") % 32 + 1).cast("int")
    w_ppm = (F.col("doc_id") % 16 + 1).cast("int")
    h_ppm = (F.col("doc_id") % 8 + 1).cast("int")
    # 4-byte-aligned BMP row stride and full raster size; every PIXEL
    # byte is the constant doc_id % 256 so the pixel means are exact
    # arithmetic the oracle predicts without seeing the payload, while
    # every PADDING byte is 0x00 — a decoder that reads the whole
    # stride (padding included) therefore computes a DIFFERENT mean
    # whenever doc_id % 256 != 0 and hash-mismatches (review r5: with
    # padding == pixel byte the oracle was blind to stride bugs)
    stride = (F.floor((w_bmp * 3 + F.lit(3)) / 4) * 4).cast("int")
    raster_bytes = (stride * h_bmp).cast("int")
    bmp_byte_hex = F.lpad(F.hex(F.col("doc_id") % 256), 2, "0")
    row_hex = F.concat(
        F.repeat(bmp_byte_hex, (w_bmp * 3).cast("int")),
        F.repeat(F.lit("00"), (stride - w_bmp * 3).cast("int")),
    )

    def _le32_lit(n: int) -> str:
        # exact little-endian u32 hex for CONSTANT header fields —
        # computed in Python so multi-byte values (e.g. 2835) can't be
        # silently truncated by a one-byte column formula
        return n.to_bytes(4, "little").hex().upper()

    def _le32_col(col, max_value: int = 255):
        # little-endian u32 hex for computed fields.  Default: one real
        # byte + 3 NULs (w/h ≤ 64).  For values up to 65535 (file and
        # raster sizes ≤ 54 + 6272) emit the two low bytes.
        if max_value <= 255:
            return F.concat(F.lpad(F.hex(col), 2, "0"), F.lit("000000"))
        return F.concat(
            F.lpad(F.hex(F.pmod(col, F.lit(256))), 2, "0"),
            F.lpad(F.hex(F.floor(col / 256).cast("int")), 2, "0"),
            F.lit("0000"),
        )

    bmp_hex = F.concat(
        F.lit("424D"),                  # 'BM'
        _le32_col(raster_bytes + F.lit(54), 65535),  # file size
        F.lit("00000000"),              # reserved
        F.lit(_le32_lit(54)),           # pixel-data offset
        F.lit(_le32_lit(40)),           # BITMAPINFOHEADER size
        _le32_col(w_bmp),
        _le32_col(h_bmp),
        F.lit("0100"),                  # planes = 1
        F.lit("1800"),                  # 24 bpp → 3 channels
        F.lit(_le32_lit(0)),            # compression = BI_RGB
        _le32_col(raster_bytes, 65535), # image size
        F.lit(_le32_lit(2835)),         # x pixels/m
        F.lit(_le32_lit(2835)),         # y pixels/m
        F.lit(_le32_lit(0)),            # palette colors
        F.lit(_le32_lit(0)),            # important colors
        F.repeat(row_hex, h_bmp),  # FULL raster: constant pixels, NUL padding
    )
    # full raster of a single repeated letter: the parser requires the
    # raster present (anti-false-positive check), and a constant sample
    # value makes the channel means exact oracle arithmetic
    ppm_str = F.concat(
        F.lit("P6\n"),
        w_ppm.cast("string"),
        F.lit(" "),
        h_ppm.cast("string"),
        F.lit("\n255\n"),
        F.repeat(
            F.char(F.lit(97) + F.col("doc_id") % 26),
            (w_ppm * h_ppm * 3).cast("int"),
        ),
    )
    # REAL entropy-coded baseline JPEG (r7 — was header-only until the
    # stdlib decoder landed): grayscale, all-ones quant table, two
    # custom canonical Huffman tables chosen so every code is
    # byte-aligned (DC: symbols {8, 0} at length 8 → codes 0x00/0x01;
    # AC: EOB at length 8 → 0x00), giving a constant-gray raster whose
    # scan is 3 + 2·(nMCU−1) LITERAL bytes: first MCU encodes DC diff
    # dv (category 8: code 00, eight raw bits), every later MCU is
    # diff-0 + EOB (01 00).  dv = 136 + 8·(doc_id%8) keeps dv/8 an
    # exact integer, so the decoded mean is exactly 145 + doc_id%8 —
    # pure oracle arithmetic that never sees the payload.  A decoder
    # that mis-walks the Huffman stream, mis-extends the category-8
    # bits, dequantizes or level-shifts wrong, or crops the MCU grid
    # to the wrong dims hash-mismatches.
    w_jpg = (F.col("doc_id") % 24 + 1).cast("int")
    h_jpg = (F.col("doc_id") % 16 + 1).cast("int")
    n_mcu = (F.floor((w_jpg + 7) / 8) * F.floor((h_jpg + 7) / 8)).cast("int")
    dv_hex = F.lpad(F.hex(F.lit(136) + (F.col("doc_id") % 8) * 8), 2, "0")
    jpeg_hex = F.concat(
        F.lit("FFD8"),                       # SOI
        F.lit("FFDB0043" + "00" + "01" * 64),  # DQT id 0: all ones
        F.lit("FFC0000B08"),                 # SOF0, len 11, precision 8
        F.lpad(F.hex(h_jpg), 4, "0"),        # height, BE u16
        F.lpad(F.hex(w_jpg), 4, "0"),        # width, BE u16
        F.lit("01" "011100"),                # 1 component: id 1, 1×1, q0
        # DHT DC0: two length-8 codes for symbols {8, 0}
        F.lit("FFC40015" "00" + "00" * 7 + "02" + "00" * 8 + "0800"),
        # DHT AC0: one length-8 code for EOB
        F.lit("FFC40014" "10" + "00" * 7 + "01" + "00" * 8 + "00"),
        F.lit("FFDA0008" "01" "0100" "003F00"),  # SOS
        F.lit("00"), dv_hex, F.lit("00"),    # MCU 1: DC cat 8 + dv + EOB
        F.repeat(F.lit("0100"), n_mcu - 1),  # MCUs 2..n: DC diff 0 + EOB
        F.lit("FFD9"),                       # EOI
    )
    # REAL progressive JPEG (r8 — the decoder landed this round): the
    # SAME constant-gray image under SOF2 with TWO scans — a DC-band
    # scan (Ss=Se=0: block 1 = cat-8 code + dv bits, later blocks =
    # cat-0 code) then an AC-band scan (Ss=1, Se=63: one byte-aligned
    # EOB code per block).  Identical dims/dv → the oracle's predicted
    # means are shared with the baseline class; only n_bytes differs
    # (extra SOS header, 1-byte-per-block scans: 152 + 2·nMCU).
    jpeg_prog_hex = F.concat(
        F.lit("FFD8"),
        F.lit("FFDB0043" + "00" + "01" * 64),
        F.lit("FFC2000B08"),                 # SOF2 (progressive), len 11
        F.lpad(F.hex(h_jpg), 4, "0"),
        F.lpad(F.hex(w_jpg), 4, "0"),
        F.lit("01" "011100"),
        F.lit("FFC40015" "00" + "00" * 7 + "02" + "00" * 8 + "0800"),
        F.lit("FFC40014" "10" + "00" * 7 + "01" + "00" * 8 + "00"),
        F.lit("FFDA0008" "01" "0100" "000000"),  # DC scan Ss=0 Se=0 Ah=Al=0
        F.lit("00"), dv_hex,                 # block 1: DC cat 8 + dv
        F.repeat(F.lit("01"), n_mcu - 1),    # blocks 2..n: DC diff 0
        F.lit("FFDA0008" "01" "0100" "013F00"),  # AC scan Ss=1 Se=63
        F.repeat(F.lit("00"), n_mcu),        # one EOB per block
        F.lit("FFD9"),
    )
    payload = (
        F.when(F.col("doc_id") % 4 == 0, F.unhex(bmp_hex))
        .when(F.col("doc_id") % 4 == 1, ppm_str.cast("binary"))
        .when(F.col("doc_id") % 8 == 2, F.unhex(jpeg_hex))
        .when(F.col("doc_id") % 8 == 6, F.unhex(jpeg_prog_hex))
        .otherwise(F.col("text").cast("binary"))
    )
    # r13 note: a pre-assembly spread (the mm6 fix) was A/B'd here and
    # REJECTED — the added exchange ships full text payloads and the
    # assembly is light relative to the decode (which the kernel's own
    # spread already parallelizes): 1.35 → 1.48 s at sf0.1.
    binary_df = docs.select(
        "doc_id",
        payload.alias("payload"),
        F.octet_length(payload).alias("n_bytes"),
        F.sha2(payload, 256).alias("sha256"),
    )
    out = multimodal.decode_features(binary_df)
    # channel_means stays ARRAY<DOUBLE> in the operator API; the catalog
    # boundary flattens it to driver-sortable scalars (channels here is
    # always 3-or-null) because the external canonicalizer's pandas sort
    # crashes on list cells (CORRECTNESS_r05 mm3 err).
    return out.select(
        "doc_id", "fmt", "width", "height", "channels",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        "pixel_mean",
        F.get("channel_means", 0).alias("channel_mean_r"),
        F.get("channel_means", 1).alias("channel_mean_g"),
        F.get("channel_means", 2).alias("channel_mean_b"),
    )


@register(
    "mm4_audio_decode",
    oracle="""
WITH params AS (
  SELECT doc_id, text, doc_id % 3 AS cls,
         8000 + (doc_id % 8) * 1000 AS rate16,
         doc_id % 32 + 1 AS nf16,
         (doc_id % 1001) - 500 AS s16,
         4000 + (doc_id % 4) * 2000 AS rate8,
         doc_id % 16 + 1 AS nf8,
         doc_id % 256 - 128 AS amp0,
         (doc_id * 7 + 13) % 256 - 128 AS amp1
  FROM documents
)
SELECT doc_id,
       CASE WHEN cls IN (0, 1) THEN 'wav' END AS fmt,
       CASE WHEN cls = 0 THEN 1 WHEN cls = 1 THEN 2 END AS n_channels,
       CASE WHEN cls = 0 THEN CAST(rate16 AS INTEGER)
            WHEN cls = 1 THEN CAST(rate8 AS INTEGER) END AS sample_rate,
       CASE WHEN cls = 0 THEN 16 WHEN cls = 1 THEN 8 END AS bits_per_sample,
       CASE WHEN cls = 0 THEN CAST(nf16 AS BIGINT)
            WHEN cls = 1 THEN CAST(nf8 AS BIGINT) END AS n_frames,
       CASE WHEN cls = 0 THEN ROUND(CAST(nf16 AS DOUBLE) / rate16, 6)
            WHEN cls = 1 THEN ROUND(CAST(nf8 AS DOUBLE) / rate8, 6) END AS duration_s,
       CASE WHEN cls = 0 THEN CAST(s16 AS DOUBLE)
            WHEN cls = 1 THEN ROUND((amp0 + amp1) / 2.0, 6) END AS amp_mean,
       CASE WHEN cls = 0 THEN CAST(ABS(s16) AS DOUBLE)
            WHEN cls = 1
              THEN ROUND(SQRT((amp0 * amp0 + amp1 * amp1) / 2.0), 6)
       END AS amp_rms,
       CASE WHEN cls = 0 THEN CAST(s16 AS DOUBLE)
            WHEN cls = 1 THEN CAST(amp0 AS DOUBLE) END AS channel_mean_0,
       CASE WHEN cls = 1 THEN CAST(amp1 AS DOUBLE) END AS channel_mean_1,
       CASE WHEN cls = 0 THEN CAST(44 + nf16 * 2 AS INTEGER)
            WHEN cls = 1 THEN CAST(44 + nf8 * 2 AS INTEGER)
            ELSE CAST(octet_length(CAST(text AS BLOB)) AS INTEGER)
       END AS n_bytes
FROM params
""",
    tags=("multimodal", "batch"),
)
def mm4_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL audio decode through the multimodal mapInPandas
    path: construct valid RIFF/WAVE PCM payloads JVM-side — hex-
    assembled 44-byte canonical header + constant-sample PCM data —
    16-bit mono for doc_id%3=0, 8-bit stereo for doc_id%3=1 (distinct
    per-channel constants so interleaving errors desync the channel
    means), opaque text otherwise; then decode with
    ``parse_audio_header`` (RIFF chunk walk) and
    ``decode_audio_samples`` (signed-amplitude normalization, per-
    channel means, RMS).  The oracle predicts every output — dims,
    duration, amplitude stats — ARITHMETICALLY from doc_id without
    seeing the payload, so a parser that misreads any header field,
    mis-normalizes 8-bit unsigned samples, or de-interleaves channels
    wrongly hash-mismatches.  Scale shape: narrow projection + one
    Arrow-batched pass, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")

    def _le_hex(col, width_bytes: int, max_value: int):
        # little-endian fixed-width hex for a non-negative int column;
        # bytes beyond max_value's reach are constant-folded to "00"
        parts = []
        for i in range(width_bytes):
            if max_value >> (8 * i):
                parts.append(
                    F.lpad(
                        F.hex(F.pmod(F.floor(col / (256 ** i)).cast("long"), F.lit(256))),
                        2,
                        "0",
                    )
                )
            else:
                parts.append(F.lit("00"))
        return F.concat(*parts)

    def _wav_hex(n_channels, rate_col, bits: int, nf_col, frame_hex):
        # canonical 44-byte PCM WAV header + repeated constant frames;
        # block align = n_channels * bits/8 (2 for both classes here)
        block = n_channels * (bits // 8)
        data_size = nf_col * block
        return F.concat(
            F.lit("52494646"),                    # 'RIFF'
            _le_hex(data_size + F.lit(36), 4, 65535),
            F.lit("57415645"),                    # 'WAVE'
            F.lit("666D7420"),                    # 'fmt '
            F.lit("10000000"),                    # fmt chunk size 16
            F.lit("0100"),                        # PCM
            F.lit((n_channels).to_bytes(2, "little").hex().upper()),
            _le_hex(rate_col, 4, 65535),
            _le_hex(rate_col * block, 4, 65535),  # byte rate
            F.lit(block.to_bytes(2, "little").hex().upper()),
            F.lit(bits.to_bytes(2, "little").hex().upper()),
            F.lit("64617461"),                    # 'data'
            _le_hex(data_size, 4, 65535),
            F.repeat(frame_hex, nf_col.cast("int")),
        )

    did = F.col("doc_id")
    rate16 = (F.lit(8000) + (did % 8) * 1000).cast("long")
    nf16 = (did % 32 + 1).cast("long")
    s16 = (did % 1001) - 500
    u16 = F.pmod(s16, F.lit(65536))
    frame16 = F.concat(
        F.lpad(F.hex(F.pmod(u16, F.lit(256))), 2, "0"),
        F.lpad(F.hex(F.floor(u16 / 256).cast("long")), 2, "0"),
    )
    rate8 = (F.lit(4000) + (did % 4) * 2000).cast("long")
    nf8 = (did % 16 + 1).cast("long")
    frame8 = F.concat(
        F.lpad(F.hex(did % 256), 2, "0"),
        F.lpad(F.hex((did * 7 + 13) % 256), 2, "0"),
    )
    payload = (
        F.when(did % 3 == 0, F.unhex(_wav_hex(1, rate16, 16, nf16, frame16)))
        .when(did % 3 == 1, F.unhex(_wav_hex(2, rate8, 8, nf8, frame8)))
        .otherwise(F.col("text").cast("binary"))
    )
    # r13 note: a pre-assembly spread (the mm6 fix) was A/B'd here and
    # REJECTED (1.04 → 1.12 s at sf0.1 — cheap assembly, net exchange
    # cost; the decode kernel's own spread covers the heavy part).
    binary_df = docs.select(
        "doc_id",
        payload.alias("payload"),
        F.octet_length(payload).alias("n_bytes"),
    )
    out = multimodal.decode_audio_features(binary_df)
    return out.select(
        "doc_id",
        "fmt",
        "n_channels",
        "sample_rate",
        "bits_per_sample",
        "n_frames",
        _r6(F.col("duration_s")).alias("duration_s"),
        _r6(F.col("amp_mean")).alias("amp_mean"),
        _r6(F.col("amp_rms")).alias("amp_rms"),
        # flattened at the catalog boundary (1 or 2 channels; F.get is
        # NULL-safe past the end) — see mm3's driver-sortability note
        _r6(F.get("channel_means", 0)).alias("channel_mean_0"),
        _r6(F.get("channel_means", 1)).alias("channel_mean_1"),
        "n_bytes",
    )


@register(
    "mm5_frame_sample",
    oracle="""
WITH f AS (
  SELECT doc_id, unnest(generate_series(0, 4, 2)) AS i FROM documents
)
SELECT doc_id,
       CAST(i AS INTEGER) AS frame_idx,
       CAST(i * 32 AS BIGINT) AS frame_offset,
       CAST(32 AS INTEGER) AS frame_n_bytes,
       sha256(repeat(chr(CAST(32 + (doc_id * 5 + i * 11) % 95 AS INTEGER)), 32))
         AS frame_sha
FROM f
""",
    tags=("multimodal", "batch"),
)
def mm5_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing end-to-end: construct a fixed-
    layout "video" payload JVM-side (six 32-byte frames, frame i filled
    with printable constant ``32 + (doc_id*5 + i*11) % 95``, plus a
    16-byte partial tail that a correct demuxer must DISCARD), then
    demux with ``sample_frames`` keeping every 2nd frame.  The oracle
    predicts the kept frame indices/offsets arithmetically and pins
    each frame's CONTENT by sha256 of the predicted constant run — an
    off-by-one frame boundary, a mis-stride, an emitted partial tail,
    or wrong every-kth arithmetic all hash-mismatch.  Scale shape: the
    1→N Arrow fan-out of a real demuxer, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    frame_hexes = [
        F.repeat(F.lpad(F.hex((did * 5 + i * 11) % 95 + 32), 2, "0"), 32)
        for i in range(6)
    ]
    payload = F.unhex(F.concat(*frame_hexes, F.repeat(F.lit("7E"), 16)))
    # r13 note: a pre-assembly spread (the mm6 fix) was A/B'd here and
    # REJECTED (0.33 → 0.56 s at sf0.1 — 192-byte payloads, the
    # exchange costs more than the serial assembly it spreads).
    binary_df = docs.select("doc_id", payload.alias("payload"))
    frames = multimodal.sample_frames(binary_df, frame_bytes=32, every_kth=2)
    return frames.select(
        "doc_id",
        "frame_idx",
        "frame_offset",
        F.octet_length("frame_payload").alias("frame_n_bytes"),
        F.sha2("frame_payload", 256).alias("frame_sha"),
    )


@register(
    "c8_shard_assignment",
    oracle="""
WITH s AS (
  SELECT doc_id,
         octet_length(CAST(text AS BLOB)) AS n_bytes,
         SUM(octet_length(CAST(text AS BLOB)))
           OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents
)
SELECT doc_id,
       CAST(n_bytes AS INTEGER) AS n_bytes,
       CAST((cum - n_bytes) // 16384 * 2
            + CASE WHEN (cum - 1) // 16384 > (cum - n_bytes) // 16384
                   THEN 1 ELSE 0 END AS BIGINT) AS shard_id
FROM s
""",
    tags=("curation", "batch"),
)
def c8_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WebDataset shard assignment (16 KiB budget):
    window/straddler arithmetic over the DISTRIBUTED prefix sum
    (``operators/windows.global_prefix_sum`` — range repartition +
    tiny offset join, no single-task window), while the oracle uses
    the naive global ``SUM OVER (ORDER BY)`` — the hash match proves
    the two-phase sum equals the sequential semantics.  Invariant
    under test: every multi-doc shard's bytes fit the budget; only
    single-doc straddler shards may exceed it."""
    docs = load_table(spark, sf_dir, "documents")
    df = docs.select(
        "doc_id",
        F.octet_length(F.col("text").cast("binary")).alias("n_bytes"),
    )
    out = shards.assign_shards(df, "doc_id", "n_bytes", 16384)
    return out.select("doc_id", "n_bytes", "shard_id")


@register(
    "c9_webdataset_roundtrip",
    oracle="""
WITH s AS (
  SELECT doc_id, lang,
         octet_length(CAST(text AS BLOB)) AS n_bytes,
         SUM(octet_length(CAST(text AS BLOB)))
           OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents
)
SELECT lpad(CAST(doc_id AS VARCHAR), 12, '0') AS key,
       CAST(n_bytes AS INTEGER) AS n_payload_bytes,
       '{"doc_id":' || doc_id || ',"lang":"' || lang || '"}' AS meta,
       CAST((cum - n_bytes) // 16384 * 2
            + CASE WHEN (cum - 1) // 16384 > (cum - n_bytes) // 16384
                   THEN 1 ELSE 0 END AS BIGINT) AS shard_id
FROM s
""",
    tags=("curation", "multimodal", "batch"),
)
def c9_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full sink→source roundtrip through REAL WebDataset tar shards:
    assign docs to byte-budgeted shards, write one deterministic tar
    per shard (``pipelines/shards.write_webdataset_shards``), read the
    tars back via the ``binaryFile`` + untar source, and return what
    came OUT of the tars — key, payload size, metadata json, and the
    shard number parsed from the tar filename.  The oracle never sees
    the filesystem: it reconstructs all four columns from `documents`
    alone, so a lost sample, torn tar, key-zfill bug, metadata drift,
    or misassigned shard all hash-mismatch.  The manifest collect is
    bounded (one row per shard)."""
    docs = load_table(spark, sf_dir, "documents")
    df = docs.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.octet_length(F.col("text").cast("binary")).alias("n_bytes"),
        "lang",
    )
    assigned = shards.assign_shards(df, "doc_id", "n_bytes", 16384)
    with scratch_dir(prefix="wds_roundtrip_") as out_dir:
        manifest = shards.write_webdataset_shards(
            assigned, out_dir, "doc_id", "payload", ["doc_id", "lang"]
        )
        manifest.collect()  # force the sink; bounded: one row per shard
        back = shards.read_webdataset_shards(spark, out_dir)
        return back.select(
            "key",
            F.octet_length("payload").alias("n_payload_bytes"),
            "meta",
            F.regexp_extract("shard_path", r"shard-(\d+)\.tar", 1)
            .cast("bigint")
            .alias("shard_id"),
        ).localCheckpoint(eager=True)


# d2b/d8: shingles with corpus frequency <= 25, per-doc sizes, and the
# shared-shingle count of every doc pair (opens the final SELECT).
_CAPPED_SHARED = """freq AS (SELECT shingle, COUNT(*) AS f FROM sh GROUP BY shingle),
kept AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN freq USING (shingle) WHERE f <= 25),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared, x.n AS size_a, y.n AS size_b,"""


@register(
    "d2b_jaccard_capped_shingles",
    oracle=f"""
WITH {_SHINGLES_CTE},
{_CAPPED_SHARED}
       ROUND(shared * 1.0 / (x.n + y.n - shared), 6) AS jaccard
FROM shared JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
WHERE shared * 1.0 / (x.n + y.n - shared) >= 0.5
""",
    tags=("dedup", "skew"),
)
def d2b_jaccard_capped_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard near-dup with the hot-shingle cap (frequency <= 25): the
    skew-control variant that keeps the self-join near-linear at corpus
    scale (ubiquitous stopword shingles carry no near-dup signal but
    dominate join output quadratically)."""
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_shingle_freq=25, checkpoint=True
    )
    return out.select(
        "doc_a",
        "doc_b",
        "shared",
        F.col("size_a").cast("bigint").alias("size_a"),
        F.col("size_b").cast("bigint").alias("size_b"),
        _r6(F.col("jaccard")).alias("jaccard"),
    )


@register(
    "d4b_simhash_pairs",
    oracle=f"""
WITH {_SIMHASH_VOTES_CTES},
fp AS (
  SELECT doc_id,
         string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY bp) AS simhash64
  FROM votes GROUP BY doc_id
),
blk AS (
  SELECT doc_id, simhash64, b.block_idx,
         substr(simhash64, b.start_pos + 1, b.len) AS block
  FROM fp, (VALUES (0, 0, 16), (1, 16, 16), (2, 32, 16), (3, 48, 16))
       AS b(block_idx, start_pos, len)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash64 AS sh_a, b.simhash64 AS sh_b
  FROM blk a JOIN blk b
    ON b.block_idx = a.block_idx AND b.block = a.block AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT doc_a, doc_b,
         len(list_filter(generate_series(0, 63),
             i -> substr(sh_a, i + 1, 1) <> substr(sh_b, i + 1, 1))) AS hamming
  FROM cand)
WHERE hamming <= 3
""",
    tags=("dedup", "batch"),
)
def d4b_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs via the FULL rotate-and-block
    scheme (max_hamming 3 → 4 exact-match 16-bit blocks): pigeonhole
    guarantees recall 1.0 within the Hamming budget while staying a
    bucketed equi-join — the scale path the single-prefix variant
    traded away."""
    docs = load_table(spark, sf_dir, "documents")
    fps = dedup.simhash64(docs, "doc_id", "text")
    return dedup.simhash_near_pairs(fps, max_hamming=3)


# The recursive transitive-closure CC over the ``pairs`` CTE's
# (doc_a, doc_b) graph: ``lab`` maps each paired doc to its min
# reachable doc_id — the oracle mirror of ``graph.connected_components``.
_CC_CTES = """edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
lab AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
)"""


@register(
    "d5_dedup_clusters",
    oracle=f"""
WITH RECURSIVE pairs AS ({_minhash_oracle()}),
{_CC_CTES}
SELECT d.doc_id AS doc_id,
       COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
       (COALESCE(l.cluster_id, d.doc_id) = d.doc_id) AS is_canonical
FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id
ORDER BY d.doc_id
""",
    tags=("dedup",),
)
def d5_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS + canonical-document selection: connect
    the d3 MinHash-LSH pair graph into components (cluster_id = min
    reachable doc_id), keep the minimum id per cluster as canonical —
    the keep/drop decision a training-data dedup pipeline actually
    ships.  The Spark side runs pointer-jumping min-label propagation
    (O(log diameter) joins, see ``graph.connected_components``); the
    oracle computes the same unique fixpoint with a recursive
    transitive-closure CTE — identical output regardless of algorithm.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = d3_minhash_lsh_pairs(spark, sf_dir)
    cc = connected_components(pairs, "doc_a", "doc_b")
    out = docs.select("doc_id").join(cc, "doc_id", "left")
    cluster = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    return (
        out.select(
            "doc_id",
            cluster.alias("cluster_id"),
            (cluster == F.col("doc_id")).alias("is_canonical"),
        ).orderBy("doc_id")
    )


def _c1_oracle() -> str:
    """Composite training-prep oracle: the x1/x2/x3/x4/d1 SQL fragments
    chained exactly as ``pipelines/prep.training_prep`` chains the
    DataFrame operators."""
    score_cols = []
    for lang, markers in text.LANG_MARKERS.items():
        marker_in = ", ".join(f"'{m}'" for m in markers)
        score_cols.append(
            f"len(list_filter(string_split(lower(text), ' '), x -> x IN ({marker_in}))) AS score_{lang}"
        )
    langs = list(text.LANG_MARKERS)
    best = "GREATEST(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred = "'unknown'"
    for lang in reversed(langs):
        pred = f"CASE WHEN score_{lang} = {best} AND {best} > 0 THEN '{lang}' ELSE {pred} END"
    return f"""
WITH feats AS (
  SELECT doc_id,
         len(string_split(lower(text), ' ')) AS n_words,
         (length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) * 1.0
           / length(text) AS non_alpha_ratio,
         len(list_distinct(string_split(lower(text), ' '))) * 1.0
           / len(string_split(lower(text), ' ')) AS distinct_word_ratio,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS regex_tokens,
         md5(text) AS content_hash,
         md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fingerprint,
         {", ".join(score_cols)}
  FROM documents
),
langed AS (SELECT *, {pred} AS predicted_lang FROM feats),
gated AS (
  SELECT * FROM langed
  WHERE n_words >= 20 AND non_alpha_ratio <= 0.35
    AND distinct_word_ratio >= 0.3 AND predicted_lang = 'en'
),
d_exact AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
    FROM gated) WHERE rn = 1
),
d_near AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn2
    FROM d_exact) WHERE rn2 = 1
),
cum AS (
  SELECT doc_id, predicted_lang, n_words, regex_tokens,
         SUM(regex_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM d_near
)
SELECT doc_id, predicted_lang,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(regex_tokens AS BIGINT) AS regex_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM cum WHERE cum_tokens <= 10000
"""


@register("c1_training_prep", oracle=_c1_oracle(), tags=("text", "dedup", "batch"))
def c1_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-shard preparation: quality gate → language
    gate → exact dedup → fingerprint dedup → greedy token budget, as
    ONE declarative plan (``pipelines/prep.training_prep``).  Single
    feature scan; dedups shuffle on their own keys; the global running
    token count is a distributed prefix sum (range repartition + tiny
    offset join), NOT a single-task unpartitioned window."""
    from ..pipelines.prep import training_prep

    docs = load_table(spark, sf_dir, "documents")
    return training_prep(docs, "doc_id", "text", token_budget=10_000)


@register(
    "v5_batch_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings ORDER BY vec_id LIMIT 10),
scored AS (
  SELECT q.query_id, e.vec_id AS corpus_id,
         {_cos_expr('e.embedding', 'q.qv')} AS cosine
  FROM q, embeddings e WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, corpus_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, corpus_id ASC) AS rank
  FROM scored
)
SELECT query_id, corpus_id, ROUND(cosine, 6) AS cosine,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
""",
    tags=("similarity", "read"),
)
def v5_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 retrieval for a BATCH of query vectors (the 10
    smallest vec_ids) — the realistic many-queries shape: broadcast
    query side, cosine + per-batch top-k reduction fused in one
    ``mapInPandas`` stage so scored pairs never shuffle at full width
    (see ``similarity.batch_topk``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.orderBy(F.col("vec_id").asc()).limit(10)
    out = similarity.batch_topk(emb, queries, "vec_id", "embedding", k=10)
    return out.select(
        "query_id", "corpus_id", _r6(F.col("cosine")).alias("cosine"), "rank"
    )


@register(
    "x5_redact_pii",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '{text.EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(lower(text), '{text.URL_RE}')) AS BIGINT) AS n_urls,
       md5(regexp_replace(
             regexp_replace(lower(text), '{text.EMAIL_RE}', '<EMAIL>', 'g'),
             '{text.URL_RE}', '<URL>', 'g')) AS redacted_md5
FROM documents
""",
    tags=("text", "batch"),
)
def x5_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/URL scrub pass: match counts + digest of the redacted
    text.  The patterns are restricted to the Java-regex ∩ RE2 common
    subset (char classes, +, bounded repetition — no lookarounds) so
    Spark and DuckDB apply literally the same pattern string; the
    digest proves byte-identical redaction output across engines
    without materializing the text twice."""
    docs = load_table(spark, sf_dir, "documents")
    return text.redact_pii(docs, "doc_id", "text")


@register(
    "d8_containment_pairs",
    oracle=f"""
WITH {_SHINGLES_CTE},
{_CAPPED_SHARED}
       ROUND(shared * 1.0 / LEAST(x.n, y.n), 6) AS containment
FROM shared JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
WHERE shared * 1.0 / LEAST(x.n, y.n) >= 0.6
""",
    tags=("dedup", "skew", "batch"),
)
def d8_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication pairs by n-gram CONTAINMENT
    ``|A∩B| / min(|A|,|B|)`` — catches a short document pasted inside
    a long one, which Jaccard dilutes below any useful threshold
    (``pipelines/dedup.ngram_containment_pairs``).  Freq-capped
    shingles (f ≤ 25) keep the candidate join linear-ish at scale,
    exactly like d2b."""
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.6,
        max_shingle_freq=25, checkpoint=True,
    )
    return out.select(
        "doc_a", "doc_b", "shared",
        F.col("size_a").cast("bigint").alias("size_a"),
        F.col("size_b").cast("bigint").alias("size_b"),
        _r6(F.col("containment")).alias("containment"),
    )


@register(
    "mm6_image_ahash_neardup",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         16 + (doc_id // 4) % 17 AS w,
         16 + (doc_id // 4) % 13 AS h,
         (doc_id // 4 * 37) % 256 AS base,
         9 + 23 * ((doc_id // 4) % 11) AS fy,
         7 + 19 * ((doc_id // 4) % 7) AS fx,
         (doc_id % 4) * 11 AS delta
  FROM documents
),
px AS (
  SELECT doc_id, w, h, x.x, y.y,
         ((base + fy * y.y + fx * x.x
           + CASE WHEN y.y < 4 THEN delta ELSE 0 END) % 256) * 3 AS lum
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) AS x,
       LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) AS y
),
boxed AS (
  SELECT doc_id, (y * 8 // h) * 8 + (x * 8 // w) AS k,
         SUM(lum) AS bsum, COUNT(*) AS bn
  FROM px GROUP BY 1, 2
),
tot AS (SELECT doc_id, SUM(bsum) AS tsum, SUM(bn) AS tn FROM boxed GROUP BY 1),
fp AS (
  SELECT doc_id,
         string_agg(CASE WHEN bsum * tn > tsum * bn THEN '1' ELSE '0' END,
                    '' ORDER BY k) AS ah
  FROM boxed JOIN tot USING (doc_id) GROUP BY doc_id
),
blk AS (
  SELECT doc_id, ah, b.block_idx, substr(ah, b.start_pos + 1, 16) AS block
  FROM fp, (VALUES (0, 0), (1, 16), (2, 32), (3, 48)) AS b(block_idx, start_pos)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.ah AS ah_a, b.ah AS ah_b
  FROM blk a JOIN blk b
    ON b.block_idx = a.block_idx AND b.block = a.block AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming FROM (
  SELECT doc_a, doc_b,
         len(list_filter(generate_series(0, 63),
             i -> substr(ah_a, i + 1, 1) <> substr(ah_b, i + 1, 1))) AS hamming
  FROM cand)
WHERE hamming <= 3
""",
    tags=("multimodal", "dedup", "batch"),
)
def mm6_image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-duplicate pairs: REAL BMP payloads are
    assembled in-engine (family-keyed gradient rasters — doc_id//4
    fixes dims/base/wrap-frequencies, doc_id%4 perturbs the top rows,
    so each 4-doc family forms a tight near-dup cluster while
    cross-family images are visually distinct), decoded by the Arrow
    aHash kernel (``pipelines/multimodal.ahash64_bits`` — 8×8 box
    means over luminance, exact integer threshold, bottom-up row flip
    honored), and paired by the SAME rotate-and-block Hamming
    machinery text SimHash uses (``dedup.simhash_near_pairs``,
    Hamming ≤ 3, recall 1.0 by pigeonhole).  That reuse is the point:
    a 100 TB multimodal pipeline keeps ONE near-dup index for every
    modality — image fingerprints are just another 64-bit column.
    The oracle never sees a payload: it computes the identical
    fingerprint ARITHMETICALLY from the raster formula (the mm3
    convention), so a kernel that misreads the stride, skips the
    bottom-up flip, or breaks the exact threshold hash-mismatches.
    Scale shape: payload assembly + decode are in-row Arrow batches;
    the pair stage is d4b's banded equi-join — no O(N²) anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    fam = F.col("doc_id").cast("bigint") / 4
    d = docs.select(
        "doc_id",
        (16 + F.floor(fam) % 17).cast("int").alias("_w"),
        (16 + F.floor(fam) % 13).cast("int").alias("_h"),
        (F.floor(fam) * 37 % 256).cast("int").alias("_base"),
        (9 + 23 * (F.floor(fam) % 11)).cast("int").alias("_fy"),
        (7 + 19 * (F.floor(fam) % 7)).cast("int").alias("_fx"),
        ((F.col("doc_id") % 4) * 11).cast("int").alias("_delta"),
    ).withColumn("_stride", (F.floor((F.col("_w") * 3 + 3) / 4) * 4).cast("int"))
    # r13: the BMP assembly below is KB of per-row JVM string work over
    # a params frame read from ONE parquet split — spread the 8-int
    # params BEFORE the expression so assembly parallelizes (the decode
    # kernel's own spread sits AFTER assembly and cannot help; stage
    # profile showed a 1.4-1.9 s single-task assembly stage per run).
    # No-op when the scan is already wide (the 100 TB case).
    d = layout.spread_for_compute(d, "doc_id")

    def _le32_lit(n: int) -> str:
        return n.to_bytes(4, "little").hex().upper()

    # little-endian u32 hex of a column value <= 65535
    def _le16le(col):
        return F.concat(
            F.lpad(F.hex(F.pmod(col, F.lit(256))), 2, "0"),
            F.lpad(F.hex(F.floor(col / 256).cast("int")), 2, "0"),
            F.lit("0000"),
        )

    raster_hex = F.expr(
        "array_join(transform(sequence(0, _h - 1), r -> concat("
        "  array_join(transform(sequence(0, _w - 1), x ->"
        "    repeat(lpad(hex((_base + _fy * (_h - 1 - r) + _fx * x"
        "      + IF(_h - 1 - r < 4, _delta, 0)) % 256), 2, '0'), 3)"
        "  ), ''),"
        "  repeat('00', _stride - _w * 3)"
        ")), '')"
    )
    bmp_hex = F.concat(
        F.lit("424D"),
        _le16le(F.col("_stride") * F.col("_h") + 54),
        F.lit("00000000"),
        F.lit(_le32_lit(54)),
        F.lit(_le32_lit(40)),
        _le16le(F.col("_w")),
        _le16le(F.col("_h")),
        F.lit("0100"),
        F.lit("1800"),
        F.lit(_le32_lit(0)),
        _le16le(F.col("_stride") * F.col("_h")),
        F.lit(_le32_lit(2835)),
        F.lit(_le32_lit(2835)),
        F.lit(_le32_lit(0)),
        F.lit(_le32_lit(0)),
        raster_hex,
    )
    payloads = d.select("doc_id", F.unhex(bmp_hex).alias("payload"))
    fps = multimodal.image_ahash64(payloads).select(
        "doc_id", F.col("ahash64").alias("simhash64")
    )
    pairs = dedup.simhash_near_pairs(fps, max_hamming=3)
    return pairs.select(
        "doc_a", "doc_b", F.col("hamming").cast("bigint").alias("hamming")
    )


def _cluster_split(docs: DataFrame, pairs: DataFrame):
    """c18's cluster-keyed 90/5/5 split: each doc's near-dup CLUSTER id
    (min-label CC over the pair graph; unpaired docs are their own
    cluster), the md5 high-60-bit Horner bucket of that id, and the
    split label it selects."""
    cc = connected_components(pairs, "doc_a", "doc_b")
    clustered = docs.select("doc_id").join(cc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("csplit|"), F.col("cluster_id").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
        .alias("split")
    )
    return clustered, bucket, split


def _c18_oracle() -> str:
    horner = _hex_horner("h", 1, 15)
    return f"""
WITH RECURSIVE pairs AS ({_minhash_oracle()}),
{_CC_CTES},
clustered AS (
  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id
),
hashed AS (
  SELECT doc_id, cluster_id,
         md5('csplit|' || CAST(cluster_id AS VARCHAR)) AS h
  FROM clustered
),
bucketed AS (
  SELECT doc_id, cluster_id, {horner} % 100 AS split_bucket FROM hashed
)
SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(split_bucket AS BIGINT) AS split_bucket,
       CASE WHEN split_bucket < 90 THEN 'train'
            WHEN split_bucket < 95 THEN 'val'
            ELSE 'test' END AS split
FROM bucketed
"""


@register(
    "c18_cluster_safe_split",
    oracle=_c18_oracle(),
    tags=("prep", "curation", "dedup", "batch"),
)
def c18_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split keyed on the NEAR-DUP CLUSTER id — the
    full version of what c10's fingerprint split approximates (its
    docstring calls the fingerprint "the cheap single-pass stand-in
    for a full near-dup cluster id"; this entry is that cluster id):
    d3's MinHash-LSH pair graph connects into components
    (``graph.connected_components``, pointer-jumping min-label), and
    the 90/5/5 bucket hashes the CLUSTER id — so not just exact/
    shuffled duplicates but every LSH-detectable near-duplicate lands
    on the same side of the split by construction.  This is the
    dedup→split composition an LLM eval actually needs: c10 can still
    leak a paraphrased near-dup across train/test; cluster-keyed
    assignment cannot (for any pair the pair stage catches).  Bucket
    arithmetic is the same md5 high-60-bit (first 15 hex chars)
    Horner-portable scheme as
    c10/c2.  Scale shape: the pair graph + O(log diameter) CC rounds
    dominate (both already measured for d3/d5); the split itself is
    one in-row hash — no extra exchange beyond the cluster join."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = d3_minhash_lsh_pairs(spark, sf_dir)
    clustered, bucket, split = _cluster_split(docs, pairs)
    return clustered.select(
        "doc_id",
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        bucket.alias("split_bucket"),
        split,
    )


def _mm7_oracle() -> str:
    return """
WITH dims AS (
  SELECT doc_id,
         128 + (doc_id // 4) % 64 AS nf,
         ((doc_id // 4 * 53) + (doc_id // 4) % 101) % 256 AS base,
         5 + 17 * ((doc_id // 4) % 13) AS fv,
         (doc_id % 4) * 13 AS delta
  FROM documents
),
samp AS (
  SELECT doc_id, nf, t.t,
         ((base + fv * t.t + CASE WHEN t.t < 8 THEN delta ELSE 0 END) % 256)
           - 128 AS a
  FROM dims, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS t) AS t
),
sliced AS (
  SELECT doc_id, nf, (t * 64 // nf) AS k, SUM(a * a) AS se, COUNT(*) AS sn
  FROM samp GROUP BY 1, 2, 3
),
tot AS (SELECT doc_id, SUM(se) AS te, SUM(sn) AS n FROM sliced GROUP BY 1),
fp AS (
  SELECT doc_id,
         string_agg(CASE WHEN se * n > te * sn THEN '1' ELSE '0' END,
                    '' ORDER BY k) AS eh
  FROM sliced JOIN tot USING (doc_id) GROUP BY doc_id
),
blk AS (
  SELECT doc_id, eh, b.block_idx, substr(eh, b.start_pos + 1, 16) AS block
  FROM fp, (VALUES (0, 0), (1, 16), (2, 32), (3, 48)) AS b(block_idx, start_pos)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.eh AS eh_a, b.eh AS eh_b
  FROM blk a JOIN blk b
    ON b.block_idx = a.block_idx AND b.block = a.block AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming FROM (
  SELECT doc_a, doc_b,
         len(list_filter(generate_series(0, 63),
             i -> substr(eh_a, i + 1, 1) <> substr(eh_b, i + 1, 1))) AS hamming
  FROM cand)
WHERE hamming <= 3
"""


@register(
    "mm7_audio_energyhash_neardup",
    oracle=_mm7_oracle(),
    tags=("multimodal", "dedup", "batch"),
)
def mm7_audio_energyhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs via energy-envelope fingerprinting —
    the third modality on the ONE near-dup index: real 8-bit mono PCM
    WAV payloads assembled in-engine (family-keyed sweep signals —
    doc_id//4 fixes length/phase/frequency, doc_id%4 perturbs the
    first 8 samples), decoded by the Arrow kernel
    (``pipelines/multimodal.audio_energyhash64`` — 64 equal time
    slices, exact integer energy threshold), and paired by the SAME
    rotate-and-block Hamming machinery as text SimHash (d4) and image
    aHash (mm6).  With this entry the multimodal family demonstrates
    the 100 TB design claim end-to-end: every modality reduces to a
    64-bit fingerprint column and ONE banded equi-join
    implementation does near-dup for all of them.  The oracle
    computes the fingerprint arithmetically from the sample formula
    (the mm3/mm6 convention) — a kernel that misreads the data-chunk
    offset, forgets the 8-bit unsigned→signed shift, or breaks the
    exact threshold hash-mismatches.

    The envelope resolution is 64 slices and the match budget 3 bits;
    other values change the RESULT by design — a coarse 64-bit
    envelope saturates when the corpus has more distinct tracks than
    its effective envelope states (output then grows superlinearly
    with corpus size) — so the oracle holds at these values only.
    Measured on the 10x corpus: 128 slices at an ABSOLUTE budget of 4
    holds the default's family recall (0.9746 vs 0.9745) while halving
    the false-match mass (316,984 → 148,387 collision pairs; output
    growth 44x → 29x) — widening bits while scaling the budget
    proportionally (h=6) improves recall but not saturation, because
    the RELATIVE threshold is what the collision mass tracks."""
    n_slices, max_ham = 64, 3
    docs = load_table(spark, sf_dir, "documents")
    fam = F.floor(F.col("doc_id") / 4)
    d = docs.select(
        "doc_id",
        (128 + fam % 64).cast("int").alias("_nf"),
        # the % 101 phase pushes the family parameter-tuple period to
        # lcm(64, 13, 256, 101) > 330k families, so corpus replication
        # (scale_smoke) cannot mint identical cross-replica families
        ((fam * 53 + fam % 101) % 256).cast("int").alias("_base"),
        (5 + 17 * (fam % 13)).cast("int").alias("_fv"),
        ((F.col("doc_id") % 4) * 13).cast("int").alias("_delta"),
    )
    # r13: spread the params BEFORE the WAV hex assembly (the mm6
    # lesson — single-split scan serialized the per-row string work)
    d = layout.spread_for_compute(d, "doc_id")

    def _le_lit(n: int, width: int) -> str:
        return n.to_bytes(width, "little").hex().upper()

    def _le_col(col, width: int):
        parts = []
        for i in range(width):
            parts.append(
                F.lpad(
                    F.hex(
                        F.pmod(F.floor(col / (256 ** i)).cast("long"), F.lit(256))
                    ),
                    2,
                    "0",
                )
            )
        return F.concat(*parts)

    data_hex = F.expr(
        "array_join(transform(sequence(0, _nf - 1), t ->"
        " lpad(hex((_base + _fv * t + IF(t < 8, _delta, 0)) % 256), 2, '0')"
        "), '')"
    )
    # canonical 44-byte PCM header: mono, 8 kHz, 8-bit, block align 1
    wav_hex = F.concat(
        F.lit("52494646"),                     # 'RIFF'
        _le_col(F.col("_nf") + 36, 4),
        F.lit("57415645"),                     # 'WAVE'
        F.lit("666D7420"),                     # 'fmt '
        F.lit("10000000"),                     # fmt chunk size 16
        F.lit("0100"),                         # PCM
        F.lit(_le_lit(1, 2)),                  # mono
        F.lit(_le_lit(8000, 4)),               # sample rate
        F.lit(_le_lit(8000, 4)),               # byte rate (block 1)
        F.lit(_le_lit(1, 2)),                  # block align
        F.lit(_le_lit(8, 2)),                  # bits
        F.lit("64617461"),                     # 'data'
        _le_col(F.col("_nf"), 4),
        data_hex,
    )
    payloads = d.select("doc_id", F.unhex(wav_hex).alias("payload"))
    fps = multimodal.audio_energyhash(payloads, n_slices=n_slices).select(
        "doc_id", F.col("ehash64").alias("simhash64")
    )
    pairs = dedup.simhash_near_pairs(fps, max_hamming=max_ham, n_bits=n_slices)
    return pairs.select(
        "doc_a", "doc_b", F.col("hamming").cast("bigint").alias("hamming")
    )


def _langid_ctes() -> str:
    """The x23/x33 oracles' shared prefix: the x2 marker scorer's
    prediction ``j`` per document beside its true label, and the
    per-class ``per_true`` (support, tp) / ``per_pred`` counts (ends in
    a comma)."""
    score_cols = []
    for lang, markers in text.LANG_MARKERS.items():
        marker_in = ", ".join(f"'{m}'" for m in markers)
        score_cols.append(
            f"len(list_filter(string_split(lower(text), ' '),"
            f" x -> x IN ({marker_in}))) AS score_{lang}"
        )
    langs = list(text.LANG_MARKERS)
    best = "GREATEST(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred = "'unknown'"
    for lang in reversed(langs):
        pred = (
            f"CASE WHEN score_{lang} = {best} AND {best} > 0"
            f" THEN '{lang}' ELSE {pred} END"
        )
    return f"""
WITH s AS (SELECT doc_id, lang, {", ".join(score_cols)} FROM documents),
j AS (SELECT doc_id, lang AS true_lang, {pred} AS predicted_lang FROM s),
per_true AS (
  SELECT true_lang AS cls, COUNT(*) AS support,
         SUM(CASE WHEN predicted_lang = true_lang THEN 1 ELSE 0 END) AS tp
  FROM j GROUP BY 1
),
per_pred AS (
  SELECT predicted_lang AS cls, COUNT(*) AS predicted_n FROM j GROUP BY 1
),"""


def _x23_oracle() -> str:
    return f"""{_langid_ctes()}
cls AS (
  SELECT COALESCE(t.cls, p.cls) AS cls,
         COALESCE(t.support, 0) AS support, COALESCE(t.tp, 0) AS tp,
         COALESCE(p.predicted_n, 0) AS predicted_n
  FROM per_true t FULL OUTER JOIN per_pred p ON t.cls = p.cls
),
m AS (
  SELECT cls, CAST(support AS BIGINT) AS support, CAST(tp AS BIGINT) AS tp,
         CAST(predicted_n AS BIGINT) AS predicted_n,
         CASE WHEN predicted_n > 0
              THEN ROUND(tp * 1.0 / predicted_n, 6) END AS precision_,
         CASE WHEN support > 0 THEN ROUND(tp * 1.0 / support, 6) END AS recall_
  FROM cls
)
SELECT cls, support, tp, predicted_n,
       precision_ AS precision, recall_ AS recall,
       CASE WHEN precision_ > 0 OR recall_ > 0
            THEN ROUND(2 * COALESCE(precision_, 0) * COALESCE(recall_, 0)
                       / (COALESCE(precision_, 0) + COALESCE(recall_, 0)), 6)
       END AS f1
FROM m
"""


def _langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x2's language-ID prediction vs the ground-truth ``lang``, as the
    class-union outer join of per-true-class (support, tp) and
    per-predicted-class counts — NULLs where a class is on one side
    only."""
    docs = load_table(spark, sf_dir, "documents")
    pred = text.language_id(docs, "doc_id", "text").select(
        "doc_id", "predicted_lang"
    )
    j = pred.join(
        docs.select("doc_id", F.col("lang").alias("true_lang")), "doc_id"
    )
    per_true = j.groupBy(F.col("true_lang").alias("cls")).agg(
        F.count(F.lit(1)).alias("support"),
        F.sum(
            (F.col("predicted_lang") == F.col("true_lang")).cast("long")
        ).alias("tp"),
    )
    per_pred = j.groupBy(F.col("predicted_lang").alias("cls")).agg(
        F.count(F.lit(1)).alias("predicted_n")
    )
    return per_true.join(per_pred, "cls", "full_outer")


@register(
    "x23_langid_eval",
    oracle=_x23_oracle(),
    tags=("text", "eval", "batch"),
)
def x23_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classification-quality evaluation of the x2 language-ID model
    against the corpus's ground-truth ``lang`` labels — the
    classification member of the eval-operator family (o9 evaluates
    RANKINGS with nDCG; x23 evaluates a CLASSIFIER with per-class
    precision / recall / F1 + support).  A filter model is only as
    good as its measured confusion, and this audit is what decides
    whether a langid gate is safe to apply at corpus scale.  The
    class axis is the UNION of true and predicted labels (a full
    outer join — 'unknown' appears only as a prediction and still
    gets a precision row).  Shape: the in-row scorer + two
    class-cardinality keyed aggs + a class-cardinality outer join —
    one corpus scan total, metric arithmetic on exact integers so
    every ratio hash-matches at 6dp (the F1 on ROUNDED P/R so both
    engines band identically)."""
    cls = _langid_confusion(spark, sf_dir).select(
        "cls",
        F.coalesce(F.col("support"), F.lit(0)).alias("support"),
        F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
        F.coalesce(F.col("predicted_n"), F.lit(0)).alias("predicted_n"),
    )
    prec = F.when(
        F.col("predicted_n") > 0,
        _r6(F.col("tp") * 1.0 / F.col("predicted_n")),
    )
    rec = F.when(F.col("support") > 0, _r6(F.col("tp") * 1.0 / F.col("support")))
    m = cls.select(
        "cls",
        F.col("support").cast("bigint").alias("support"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("predicted_n").cast("bigint").alias("predicted_n"),
        prec.alias("precision"),
        rec.alias("recall"),
    )
    p0 = F.coalesce(F.col("precision"), F.lit(0.0))
    r0 = F.coalesce(F.col("recall"), F.lit(0.0))
    return m.withColumn(
        "f1",
        F.when((p0 > 0) | (r0 > 0), _r6(2 * p0 * r0 / (p0 + r0))),
    )


def _x24_bin_ctes() -> str:
    """The shared reliability-bin CTE chain (ends at ``b``: bin, n,
    n_correct, avg_conf, accuracy) — x24's oracle reports it, m17's
    fits PAV on it."""
    score_cols = []
    for lang, markers in text.LANG_MARKERS.items():
        marker_in = ", ".join(f"'{m}'" for m in markers)
        score_cols.append(
            f"CAST(len(list_filter(string_split(lower(text), ' '),"
            f" x -> x IN ({marker_in}))) AS BIGINT) AS score_{lang}"
        )
    langs = list(text.LANG_MARKERS)
    best = "GREATEST(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    total = " + ".join(f"score_{lang}" for lang in langs)
    pred = "'unknown'"
    for lang in reversed(langs):
        pred = (
            f"CASE WHEN score_{lang} = {best} AND {best} > 0"
            f" THEN '{lang}' ELSE {pred} END"
        )
    return f"""s AS (SELECT doc_id, lang, {", ".join(score_cols)} FROM documents),
sc AS (
  SELECT lang, {best} AS best, {total} AS total, {pred} AS predicted
  FROM s
),
f AS (
  SELECT LEAST(CAST(((best + 1) * 10) // (total + {len(langs)}) AS BIGINT),
               CAST(9 AS BIGINT)) AS bin,
         ROUND((best + 1) * 1.0 / (total + {len(langs)}), 6) AS conf,
         CASE WHEN predicted = lang THEN 1 ELSE 0 END AS ok
  FROM sc WHERE total > 0
),
b AS (
  SELECT bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(ok) AS BIGINT) AS n_correct,
         ROUND(CAST(SUM(CAST(conf AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
           AS avg_conf,
         ROUND(SUM(ok) * 1.0 / COUNT(*), 6) AS accuracy
  FROM f GROUP BY 1
)"""


def _x24_oracle() -> str:
    return f"""
WITH {_x24_bin_ctes()},
g AS (
  SELECT bin, n, n_correct, avg_conf, accuracy,
         ROUND(ABS(avg_conf - accuracy), 6) AS gap
  FROM b
),
e AS (SELECT ROUND(SUM(n * gap) / SUM(n), 6) AS ece FROM g)
SELECT bin, n, n_correct, avg_conf, accuracy, gap, e.ece AS ece
FROM g, e
"""


def _x24_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared reliability-bin frame (bin, n, n_correct, avg_conf,
    accuracy) — one corpus scan into a 10-row keyed agg; x24 reports
    it, m17 fits the isotonic calibration map on it."""
    docs = load_table(spark, sf_dir, "documents")
    scored = text.language_id(docs, "doc_id", "text")
    langs = list(text.LANG_MARKERS)
    j = scored.join(docs.select("doc_id", "lang"), "doc_id")
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    total = None
    for lang in langs:
        c = F.col(f"score_{lang}")
        total = c if total is None else total + c
    t = j.select(
        best.cast("long").alias("best"),
        total.cast("long").alias("total"),
        (F.col("predicted_lang") == F.col("lang")).cast("long").alias("ok"),
    ).filter(F.col("total") > 0)
    k = len(langs)
    binned = t.select(
        F.least(
            F.expr(f"(best + 1) * 10 DIV (total + {k})").cast("bigint"),
            F.lit(9).cast("bigint"),
        ).alias("bin"),
        F.round((F.col("best") + 1) / (F.col("total") + k), 6).alias("conf"),
        "ok",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("ok").cast("bigint").alias("n_correct"),
        _r6(
            F.sum(F.col("conf").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_conf"),
        _r6(F.sum("ok") * 1.0 / F.count(F.lit(1))).alias("accuracy"),
    )


@register(
    "x24_calibration_ece",
    oracle=_x24_oracle(),
    tags=("text", "eval", "batch"),
)
def x24_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence-calibration evaluation of the x2 language-ID model —
    the CALIBRATION member of the eval-operator family (o9 evaluates
    rankings with nDCG, x23 a classifier's confusion, x24 whether the
    model's CONFIDENCE means what it says): a reliability diagram
    (10 fixed confidence bins) plus Expected Calibration Error
    (Naeini et al. 2015's binned ECE, the standard score), against
    the corpus's ground-truth ``lang`` labels.  This is the audit
    that decides whether a score THRESHOLD transfers to a new crawl:
    a filter gate at confidence 0.8 only drops what it claims if the
    0.8 bin's accuracy is ~0.8.

    Confidence is the classifier's Laplace-smoothed posterior
    ``(best + 1) / (total + n_classes)`` over scored docs (total > 0
    — the 'unknown' prediction has no confidence to calibrate).  The
    smoothing is what makes the diagram informative: the RAW evidence
    share collapses to 1.0 for almost every doc (marker sets barely
    overlap across languages, so best == total), whereas the
    posterior weights evidence STRENGTH — one marker hit is weak
    evidence (conf 2/6), twenty concordant hits are strong (21/25).
    Bin assignment is EXACT integer arithmetic
    (``(best+1)*10 div (total+5)``, capped at bin 9) — no float
    boundary can disagree between engines; per-bin mean confidence
    passes through DECIMAL(18,6) sums (the dec_avg convention) and
    accuracy is an integer ratio, so every output hash-matches at
    6dp.  ECE weights the ROUNDED per-bin gaps by exact bin counts
    (≤10 exact-at-1e-6 terms — the double sum is exact), broadcast
    back onto every bin row.

    Shape for 100 TB: one corpus scan into a 10-row bin agg — the
    report costs a histogram regardless of volume, and the bin
    counts are mergeable across shards/snapshots (the c17 position:
    store binned counts, not rows)."""
    b = _x24_bins(spark, sf_dir)
    g = b.withColumn("gap", _r6(F.abs(F.col("avg_conf") - F.col("accuracy"))))
    e = g.agg(_r6(F.sum(F.col("n") * F.col("gap")) / F.sum("n")).alias("ece"))
    # bounded cross join: 10 bin rows x a broadcast 1-row scalar
    return g.crossJoin(F.broadcast(e)).select(
        "bin", "n", "n_correct", "avg_conf", "accuracy", "gap", "ece"
    )


def _x25_oracle() -> str:
    markers = ", ".join(f"'{m}'" for m in text.LANG_MARKERS["en"])
    return f"""
WITH s AS (
  SELECT CAST(len(list_filter(string_split(lower(text), ' '),
              x -> x IN ({markers}))) AS BIGINT) AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
h AS (
  SELECT score, SUM(pos) AS n_pos, COUNT(*) - SUM(pos) AS n_neg
  FROM s GROUP BY 1
),
c AS (
  SELECT score, n_pos, n_neg,
         SUM(n_neg) OVER (ORDER BY score) AS cum_neg
  FROM h
),
u AS (
  SELECT SUM(n_pos * (2 * (cum_neg - n_neg) + n_neg)) AS u2,
         SUM(n_pos) AS np, SUM(n_neg) AS nn
  FROM c
)
SELECT CAST(np AS BIGINT) AS n_pos,
       CAST(nn AS BIGINT) AS n_neg,
       CAST(u2 AS BIGINT) AS u_times2,
       ROUND(u2 * 1.0 / (2.0 * np * nn), 6) AS auc,
       ROUND(u2 * 1.0 / (np * nn) - 1.0, 6) AS gini
FROM u
"""


@register(
    "x25_auc_discrimination",
    oracle=_x25_oracle(),
    tags=("text", "eval", "batch"),
)
def x25_auc_discrimination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of a detector score against ground-truth labels — the
    DISCRIMINATION member of the eval family (o9 ranking, x23
    confusion, x24 calibration, x25 threshold-free separability):
    does the x2 English marker count rank true-English documents
    above the rest at ALL thresholds?  AUC is the probability a
    random positive outranks a random negative — the one-number audit
    run before anyone sweeps thresholds on a new quality/language
    gate, and (unlike x24) invariant to any monotone rescaling of
    the score.

    EXACT tie-aware Mann-Whitney, never a per-row rank: scores are
    small integers, so the corpus reduces to a score HISTOGRAM
    (one keyed agg), the negatives-below count is a distributed
    prefix sum over that tiny frame (``global_prefix_sum`` — no
    one-task global window), and ties contribute the standard half
    credit via the doubled statistic
    ``U2 = sum(n_pos_s * (2*neg_below + n_neg_s))`` — all BIGINT, so
    AUC and Gini hash-match from exact integers.  Shape for 100 TB:
    one scan -> score-cardinality frame; everything after is algebra
    on ≤ max_score rows."""
    from ..operators.windows import global_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    scored = text.language_id(docs, "doc_id", "text").select(
        "doc_id", F.col("score_en").cast("long").alias("score")
    )
    lab = scored.join(
        docs.select("doc_id", (F.col("lang") == "en").cast("long").alias("pos")),
        "doc_id",
    )
    h = lab.groupBy("score").agg(
        F.sum("pos").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("pos")).alias("n_neg"),
    )
    c = global_prefix_sum(h, "score", "n_neg", "cum_neg")
    u = c.agg(
        F.sum(
            F.col("n_pos")
            * (2 * (F.col("cum_neg") - F.col("n_neg")) + F.col("n_neg"))
        ).alias("u2"),
        F.sum("n_pos").alias("np"),
        F.sum("n_neg").alias("nn"),
    )
    return u.select(
        F.col("np").cast("bigint").alias("n_pos"),
        F.col("nn").cast("bigint").alias("n_neg"),
        F.col("u2").cast("bigint").alias("u_times2"),
        _r6(F.col("u2") * 1.0 / (2.0 * F.col("np") * F.col("nn"))).alias("auc"),
        _r6(F.col("u2") * 1.0 / (F.col("np") * F.col("nn")) - 1.0).alias("gini"),
    )


def _m17_oracle() -> str:
    return f"""
WITH {_x24_bin_ctes()},
pref AS (
  SELECT bin, n, n_correct,
         SUM(n) OVER (ORDER BY bin) AS pn,
         SUM(n_correct) OVER (ORDER BY bin) AS pc
  FROM b
),
seg AS (
  SELECT j.bin AS jb, k.bin AS kb,
         (k.pc - j.pc + j.n_correct) * 1.0 / (k.pn - j.pn + j.n) AS m
  FROM pref j JOIN pref k ON k.bin >= j.bin
),
mn AS (
  SELECT i.bin, s.jb, MIN(s.m) AS minm
  FROM b i JOIN seg s ON s.jb <= i.bin AND s.kb >= i.bin
  GROUP BY 1, 2
),
iso AS (SELECT bin, ROUND(MAX(minm), 6) AS calibrated FROM mn GROUP BY 1),
r AS (
  SELECT b.bin, b.n, b.avg_conf, b.accuracy, iso.calibrated
  FROM b JOIN iso ON b.bin = iso.bin
),
e AS (
  SELECT ROUND(SUM(n * ROUND(ABS(avg_conf - accuracy), 6)) / SUM(n), 6)
           AS ece_before,
         ROUND(SUM(n * ROUND(ABS(calibrated - accuracy), 6)) / SUM(n), 6)
           AS ece_after
  FROM r
)
SELECT r.bin, r.n, r.avg_conf, r.accuracy, r.calibrated,
       e.ece_before, e.ece_after
FROM r, e
"""


@register(
    "m17_isotonic_calibration",
    oracle=_m17_oracle(),
    tags=("ml", "eval", "batch"),
)
def m17_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration map over the x24 reliability bins —
    the FIX paired with x24's measurement: fit the monotone
    nondecreasing step function closest (weighted L2) to the per-bin
    accuracies, the standard post-hoc calibrator (Zadrozny & Elkan
    2002) when the reliability curve is non-sigmoidal.  The output
    column ``calibrated`` IS the deployable score map (replace a
    model confidence in bin i with calibrated_i); ``ece_after`` next
    to ``ece_before`` quantifies the repair on the fitting data (the
    honest caveat: production refits on a held-out split — this entry
    is the operator, not the protocol).

    Pool-Adjacent-Violators via its MINIMAX closed form rather than
    the sequential pooling loop: iso_i = max_{j<=i} min_{k>=i}
    wmean(acc over bins j..k) — segment means are EXACT integer
    ratios (sum n_correct / sum n from prefix sums), so the whole fit
    is deterministic algebra on a <=10-row frame: a prefix sum on a
    bounded key, one self-join for the O(B^2) segments, two
    cardinality-bounded aggs for min-then-max.  No driver-side loop,
    no iteration — the closed form turns a sequential algorithm into
    three declarative joins, which is exactly how a tiny post-fit
    belongs inside a distributed plan."""
    from pyspark.sql import Window

    from ..operators.windows import bounded_partition_key

    b = _x24_bins(spark, sf_dir).localCheckpoint(eager=False)
    w = Window.partitionBy(bounded_partition_key("bin")).orderBy("bin")
    pref = b.select(
        "bin",
        "n",
        "n_correct",
        F.sum("n").over(w).alias("pn"),
        F.sum("n_correct").over(w).alias("pc"),
    )
    j, k = pref.alias("j"), pref.alias("k")
    seg = j.join(k, F.col("k.bin") >= F.col("j.bin")).select(
        F.col("j.bin").alias("jb"),
        F.col("k.bin").alias("kb"),
        (
            (F.col("k.pc") - F.col("j.pc") + F.col("j.n_correct"))
            * 1.0
            / (F.col("k.pn") - F.col("j.pn") + F.col("j.n"))
        ).alias("m"),
    )
    mn = (
        b.select(F.col("bin").alias("ibin"))
        .join(seg, (F.col("jb") <= F.col("ibin")) & (F.col("kb") >= F.col("ibin")))
        .groupBy("ibin", "jb")
        .agg(F.min("m").alias("minm"))
    )
    iso = mn.groupBy("ibin").agg(_r6(F.max("minm")).alias("calibrated"))
    r = b.join(iso, b["bin"] == iso["ibin"]).select(
        "bin", "n", "avg_conf", "accuracy", "calibrated"
    )
    e = r.agg(
        _r6(
            F.sum(F.col("n") * _r6(F.abs(F.col("avg_conf") - F.col("accuracy"))))
            / F.sum("n")
        ).alias("ece_before"),
        _r6(
            F.sum(F.col("n") * _r6(F.abs(F.col("calibrated") - F.col("accuracy"))))
            / F.sum("n")
        ).alias("ece_after"),
    )
    return r.crossJoin(F.broadcast(e)).select(
        "bin", "n", "avg_conf", "accuracy", "calibrated",
        "ece_before", "ece_after",
    )


def _c19_oracle() -> str:
    horner10 = _hex_horner("d", 1, 15)
    horner18 = _hex_horner("h", 1, 15)
    return f"""
WITH RECURSIVE pairs AS ({_minhash_oracle()}),
fp AS (
  SELECT doc_id,
         md5('split|' || md5(array_to_string(
             list_sort(list_distinct(string_split(lower(text), ' '))), ' ')))
           AS d
  FROM documents
),
split10 AS (
  SELECT doc_id,
         CASE WHEN {horner10} % 100 < 90 THEN 'train'
              WHEN {horner10} % 100 < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM fp
),
{_CC_CTES},
hashed18 AS (
  SELECT d.doc_id,
         md5('csplit|' || CAST(COALESCE(l.cluster_id, d.doc_id) AS VARCHAR))
           AS h
  FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id
),
split18 AS (
  SELECT doc_id,
         CASE WHEN {horner18} % 100 < 90 THEN 'train'
              WHEN {horner18} % 100 < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM hashed18
),
j10 AS (
  SELECT sa.split AS s_a, sb.split AS s_b
  FROM pairs p
  JOIN split10 sa ON sa.doc_id = p.doc_a
  JOIN split10 sb ON sb.doc_id = p.doc_b
),
j18 AS (
  SELECT sa.split AS s_a, sb.split AS s_b
  FROM pairs p
  JOIN split18 sa ON sa.doc_id = p.doc_a
  JOIN split18 sb ON sb.doc_id = p.doc_b
),
r AS (
  SELECT 'doc_fingerprint' AS rule, COUNT(*) AS n_pairs,
         SUM(CASE WHEN s_a <> s_b THEN 1 ELSE 0 END) AS n_straddling
  FROM j10
  UNION ALL
  SELECT 'near_dup_cluster' AS rule, COUNT(*) AS n_pairs,
         SUM(CASE WHEN s_a <> s_b THEN 1 ELSE 0 END) AS n_straddling
  FROM j18
)
SELECT rule, CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(n_straddling AS BIGINT) AS n_straddling,
       ROUND(n_straddling * 1.0 / n_pairs, 6) AS straddle_rate
FROM r
"""


@register(
    "c19_split_leakage_audit",
    oracle=_c19_oracle(),
    tags=("prep", "curation", "eval", "batch"),
)
def c19_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: of the d3 MinHash-LSH near-duplicate
    pairs, how many STRADDLE train/val/test under each split rule —
    c10's content-fingerprint split (catches exact/shuffled dups
    only) vs c18's near-dup-CLUSTER split (catches everything the
    pair stage catches, zero straddles BY CONSTRUCTION, and this
    entry measures that construction instead of asserting it).  This
    is the eval-integrity number a training-data release publishes:
    a near-dup of a test document sitting in train silently inflates
    held-out metrics, and the difference between the two rules' rates
    is the leakage c18 buys back.

    One pair-graph build feeds BOTH rules (localCheckpoint — the
    v3/v10 lesson: Catalyst re-executes iterative lineage per
    consumer), each split frame is the in-row md5 arithmetic of its
    parent entry, and the audit itself is two broadcast-joined
    pair-classification aggs.  Full hash oracle (recursive-closure CC
    + both Horner bucket schemes, the c18 convention)."""
    from ..pipelines import prep

    docs = load_table(spark, sf_dir, "documents")
    pairs = d3_minhash_lsh_pairs(spark, sf_dir).select(
        "doc_a", "doc_b"
    ).localCheckpoint(eager=True)
    s10 = prep.leakage_safe_split(docs, "doc_id", "text").select(
        "doc_id", "split"
    )
    clustered, _, split = _cluster_split(docs, pairs)
    s18 = clustered.select("doc_id", split)

    def audit(splits: DataFrame, rule: str) -> DataFrame:
        sa = splits.select(
            F.col("doc_id").alias("doc_a"), F.col("split").alias("s_a")
        )
        sb = splits.select(
            F.col("doc_id").alias("doc_b"), F.col("split").alias("s_b")
        )
        return (
            pairs.join(sa, "doc_a")
            .join(sb, "doc_b")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                F.sum((F.col("s_a") != F.col("s_b")).cast("long"))
                .cast("bigint")
                .alias("n_straddling"),
            )
            .select(
                F.lit(rule).alias("rule"),
                "n_pairs",
                "n_straddling",
                _r6(F.col("n_straddling") * 1.0 / F.col("n_pairs")).alias(
                    "straddle_rate"
                ),
            )
        )

    return audit(s10, "doc_fingerprint").unionByName(
        audit(s18, "near_dup_cluster")
    )


def _c20_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_oracle()}),
{_CC_CTES},
toks AS (
  SELECT d.doc_id,
         COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
         len(string_split(lower(d.text), ' ')) AS n_toks
  FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id
),
rep AS (
  SELECT cluster_id, MIN(doc_id) AS rep_id FROM toks GROUP BY 1
),
eff AS (
  SELECT COUNT(*) AS n_clusters, SUM(t.n_toks) AS eff_tokens
  FROM rep JOIN toks t ON t.doc_id = rep.rep_id
),
raw AS (SELECT COUNT(*) AS n_docs, SUM(n_toks) AS raw_tokens FROM toks)
SELECT CAST(n_docs AS BIGINT) AS n_docs,
       CAST(raw_tokens AS BIGINT) AS raw_tokens,
       CAST(n_clusters AS BIGINT) AS n_clusters,
       CAST(eff_tokens AS BIGINT) AS effective_tokens,
       ROUND(1.0 - eff_tokens * 1.0 / raw_tokens, 6) AS dedup_savings_rate
FROM raw, eff
"""


@register(
    "c20_effective_tokens",
    oracle=_c20_oracle(),
    tags=("curation", "dedup", "batch"),
)
def c20_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-dataset-size report: raw vs near-dup-DEDUPED corpus
    budget — the number a training-data plan is actually built on
    (epochs, mixture weights, and compute budgets count EFFECTIVE
    tokens, not raw ones; a corpus that is 30% near-duplicate is 30%
    smaller than its row count claims).  Composes the d3 pair graph →
    CC clusters (c18's machinery) with whitespace token counts: one
    deterministic representative per cluster (min doc_id), effective
    tokens = the representatives' tokens, and the savings rate is
    what cluster-dedup returns to the budget.

    All-integer outputs until the final rate — full hash oracle
    (recursive-closure CC, the c18/c19 convention).  Shape: the pair
    graph + CC dominate (measured for d3/d5); token counting is
    in-row; the report is one row regardless of volume."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = d3_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    cc = connected_components(pairs, "doc_a", "doc_b")
    toks = (
        docs.select(
            "doc_id",
            F.size(F.split(F.lower(F.col("text")), " ")).alias("n_toks"),
        )
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
        .localCheckpoint(eager=False)
    )
    rep = toks.groupBy("cluster_id").agg(F.min("doc_id").alias("rep_id"))
    eff = rep.join(
        toks.select(F.col("doc_id").alias("rep_id"), "n_toks"), "rep_id"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("n_toks").cast("bigint").alias("effective_tokens"),
    )
    raw = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("raw_tokens"),
    )
    return raw.crossJoin(F.broadcast(eff)).select(
        "n_docs",
        "raw_tokens",
        "n_clusters",
        "effective_tokens",
        _r6(
            1.0 - F.col("effective_tokens") * 1.0 / F.col("raw_tokens")
        ).alias("dedup_savings_rate"),
    )


# Target mixture weights (integer, sum 10) for c21's allocator —
# shared verbatim with the oracle so the two sides can never drift.
_C21_WEIGHTS = {"en": 4, "es": 2, "de": 2, "fr": 1, "zh": 1}


def _c21_oracle() -> str:
    w_case = "CASE " + " ".join(
        f"WHEN lang = '{lang}' THEN {w}" for lang, w in _C21_WEIGHTS.items()
    ) + " ELSE 0 END"
    return f"""
WITH caps AS (
  -- a lang with no entry in the weight map gets weight 0; keep only
  -- weighted sources so ratio = cap/weight never divides by zero
  -- (Spark non-ANSI would yield NULL where DuckDB errors)
  SELECT lang, CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT)
           AS cap_tokens,
         CAST(MAX({w_case}) AS BIGINT) AS weight
  FROM documents GROUP BY lang
  HAVING CAST(MAX({w_case}) AS BIGINT) > 0
),
budget AS (
  SELECT CAST(FLOOR(SUM(cap_tokens) * 0.6) AS BIGINT) AS b FROM caps
),
ordered AS (
  SELECT lang, cap_tokens, weight,
         cap_tokens * 1.0 / weight AS ratio,
         ROW_NUMBER() OVER (ORDER BY cap_tokens * 1.0 / weight ASC,
                            lang ASC) AS k,
         SUM(cap_tokens) OVER (ORDER BY cap_tokens * 1.0 / weight ASC,
                               lang ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS cum_caps_before,
         SUM(weight) OVER (ORDER BY cap_tokens * 1.0 / weight ASC, lang ASC
                           ROWS BETWEEN CURRENT ROW
                           AND UNBOUNDED FOLLOWING) AS w_suffix
  FROM caps
),
cand AS (
  SELECT k, ratio,
         (b - COALESCE(cum_caps_before, 0)) * 1.0 / w_suffix AS lam,
         LAG(ratio) OVER (ORDER BY k) AS prev_ratio
  FROM ordered, budget
),
lam AS (
  SELECT lam FROM cand
  WHERE (prev_ratio IS NULL OR lam >= prev_ratio) AND lam < ratio
)
SELECT o.lang, o.cap_tokens, o.weight,
       ROUND(LEAST(lam.lam * o.weight, o.cap_tokens * 1.0), 6) AS allocated,
       CASE WHEN lam.lam * o.weight >= o.cap_tokens THEN 1 ELSE 0 END
         AS saturated,
       b.b AS budget_tokens,
       ROUND(lam.lam, 6) AS water_level
FROM ordered o, lam, budget b
"""


@register(
    "c21_mixture_waterfill",
    oracle=_c21_oracle(),
    tags=("curation", "mixtures", "batch"),
)
def c21_mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped water-filling mixture allocator — the step between
    choosing target mixture proportions (DoReMi-style weights) and
    actually SAMPLING a training set: each source (language) has a
    finite token supply, so the target shares are scaled up together
    (one water level λ, allocation min(λ·w_i, cap_i)) until the
    budget is spent, with supply-limited sources SATURATING and their
    shortfall flowing to the rest — the unique allocation that
    respects every cap while keeping unsaturated sources exactly
    proportional.  c16's temperature mix reweights; c21 solves the
    feasibility problem those weights then hit.

    Closed form, no iteration: sort sources by cap/weight, and for
    each prefix-saturation count s the candidate level is
    λ_s = (B − Σ_sat caps)/Σ_unsat weights — exactly one candidate
    falls between its neighbours' ratios (the water-filling KKT
    condition), selected declaratively on the source-cardinality
    frame.  Integer caps/weights/budget make every comparison
    deterministic double arithmetic shared with the oracle.  Shape:
    one corpus scan for per-source token supplies; the solve is
    algebra on ≤#sources rows."""
    from pyspark.sql import Window

    from ..operators.windows import bounded_partition_key

    docs = load_table(spark, sf_dir, "documents")
    wexpr = F.lit(0)
    for lang, wt in _C21_WEIGHTS.items():
        wexpr = F.when(F.col("lang") == lang, F.lit(wt)).otherwise(wexpr)
    caps = (
        docs.groupBy("lang")
        .agg(
            F.sum(F.size(F.split(F.lower(F.col("text")), " ")))
            .cast("bigint")
            .alias("cap_tokens"),
            F.max(wexpr).cast("bigint").alias("weight"),
        )
        # a lang absent from _C21_WEIGHTS has weight 0: exclude it so
        # ratio = cap/weight never divides by zero (Spark's non-ANSI
        # NULL would silently diverge from an erroring oracle)
        .filter(F.col("weight") > 0)
    )
    budget = caps.agg(
        F.floor(F.sum("cap_tokens") * 0.6).cast("bigint").alias("b")
    )
    ratio = F.col("cap_tokens") * 1.0 / F.col("weight")
    wk = Window.partitionBy(bounded_partition_key("lang")).orderBy(
        ratio.asc(), F.col("lang").asc()
    )
    ordered = caps.crossJoin(F.broadcast(budget)).select(
        "lang",
        "cap_tokens",
        "weight",
        "b",
        ratio.alias("ratio"),
        F.row_number().over(wk).alias("k"),
        F.coalesce(
            F.sum("cap_tokens").over(
                wk.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("cum_caps_before"),
        F.sum("weight")
        .over(wk.rowsBetween(Window.currentRow, Window.unboundedFollowing))
        .alias("w_suffix"),
        F.lag(ratio).over(wk).alias("prev_ratio"),
    )
    cand = ordered.withColumn(
        "lam",
        (F.col("b") - F.col("cum_caps_before")) * 1.0 / F.col("w_suffix"),
    )
    lam = cand.filter(
        (F.col("prev_ratio").isNull() | (F.col("lam") >= F.col("prev_ratio")))
        & (F.col("lam") < F.col("ratio"))
    ).select(F.col("lam"))
    return ordered.crossJoin(F.broadcast(lam)).select(
        "lang",
        "cap_tokens",
        "weight",
        _r6(
            F.least(
                F.col("lam") * F.col("weight"), F.col("cap_tokens") * 1.0
            )
        ).alias("allocated"),
        F.when(
            F.col("lam") * F.col("weight") >= F.col("cap_tokens"), 1
        )
        .otherwise(0)
        .alias("saturated"),
        F.col("b").alias("budget_tokens"),
        _r6(F.col("lam")).alias("water_level"),
    )


def _x33_oracle() -> str:
    return f"""{_langid_ctes()}
cls AS (
  SELECT COALESCE(t.cls, p.cls) AS cls,
         CAST(COALESCE(t.support, 0) AS BIGINT) AS support,
         CAST(COALESCE(t.tp, 0) AS BIGINT) AS tp,
         CAST(COALESCE(p.predicted_n, 0) AS BIGINT) AS predicted_n
  FROM per_true t FULL OUTER JOIN per_pred p ON t.cls = p.cls
),
tot AS (
  SELECT CAST(SUM(support) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_classes,
         CAST(SUM(tp) AS BIGINT) AS agree,
         SUM(CAST(support AS HUGEINT) * predicted_n) AS s_marg
  FROM cls
)
SELECT n AS n_docs, n_classes, agree,
       ROUND(agree * 1.0 / n, 6) AS observed_agreement,
       ROUND(CAST(s_marg AS DOUBLE) / (CAST(n AS HUGEINT) * n), 6)
         AS expected_agreement,
       CASE WHEN CAST(n AS HUGEINT) * n > s_marg
            THEN ROUND(CAST(CAST(agree AS HUGEINT) * n - s_marg AS DOUBLE)
                       / CAST(CAST(n AS HUGEINT) * n - s_marg AS DOUBLE), 6)
       END AS kappa
FROM tot
"""


@register(
    "x33_judge_agreement_kappa",
    oracle=_x33_oracle(),
    tags=("text", "eval", "batch"),
)
def x33_judge_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the x2 language-ID judge and the ground-
    truth labels — CHANCE-CORRECTED agreement, the inter-rater
    statistic an LLM-judge pipeline publishes next to raw accuracy
    (x23 reports per-class confusion; x33 answers the one-number
    question "does the judge agree with gold more than marginal
    guessing would": a judge that always predicts the majority class
    can score high accuracy but κ ≈ 0).

    Fully INTEGER-derived determinism: κ = (agree·N − Σ_c
    support_c·predicted_n_c) / (N² − Σ_c support_c·predicted_n_c) —
    numerator and denominator are exact integer expressions
    (DECIMAL(38,0)/HUGEINT products, overflow-safe at 100 TB corpus
    counts), so observed/expected agreement and κ itself are single
    divisions of identical integers rounded 6dp; the degenerate
    pe = 1 case (every marginal mass on one class) emits NULL
    identically.  Shape for 100 TB: the x23 scan — in-row scorer +
    two class-cardinality aggs + a class-cardinality outer join —
    then a 1-row integer reduction."""
    cls = _langid_confusion(spark, sf_dir).select(
        F.coalesce(F.col("support"), F.lit(0)).cast("bigint").alias("support"),
        F.coalesce(F.col("tp"), F.lit(0)).cast("bigint").alias("tp"),
        F.coalesce(F.col("predicted_n"), F.lit(0))
        .cast("bigint")
        .alias("predicted_n"),
    )
    tot = cls.agg(
        F.sum("support").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("tp").cast("bigint").alias("agree"),
        F.sum(
            F.col("support").cast("decimal(38,0)") * F.col("predicted_n")
        ).alias("s_marg"),
    )
    n = F.col("n")
    s_marg = F.col("s_marg")
    nn = n.cast("decimal(38,0)") * n
    return tot.select(
        n.alias("n_docs"),
        "n_classes",
        "agree",
        _r6(F.col("agree") * 1.0 / n).alias("observed_agreement"),
        _r6(s_marg.cast("double") / nn.cast("double")).alias(
            "expected_agreement"
        ),
        F.when(
            nn > s_marg,
            _r6(
                (F.col("agree").cast("decimal(38,0)") * n - s_marg).cast(
                    "double"
                )
                / (nn - s_marg).cast("double")
            ),
        ).alias("kappa"),
    )


def _d11_oracle() -> str:
    sig_ctes, matches = _minhash_sig_ctes()
    return f"""{sig_ctes}
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.bh = b.bh
              AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b, ({matches}) AS nm
  FROM cand c JOIN sig x ON c.doc_a = x.doc_id
              JOIN sig y ON c.doc_b = y.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS ni
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
pairs AS (
  SELECT e.nm, COALESCE(i.ni, 0) AS ni,
         sa.sz + sb.sz - COALESCE(i.ni, 0) AS nu
  FROM est e
  LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
  JOIN sizes sa ON sa.doc_id = e.doc_a
  JOIN sizes sb ON sb.doc_id = e.doc_b
)
SELECT nm AS n_matching_components,
       ROUND(nm / 16.0, 6) AS est_jaccard,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(SUM(CAST(ni * 1.0 / nu AS DECIMAL(38,12))) AS DOUBLE)
             / COUNT(*), 6) AS mean_exact_jaccard,
       ROUND(CAST(SUM(CAST(ni * 1.0 / nu AS DECIMAL(38,12))) AS DOUBLE)
             / COUNT(*) - nm / 16.0, 6) AS bias
FROM pairs GROUP BY nm
"""


@register(
    "d11_minhash_calibration",
    oracle=_d11_oracle(),
    tags=("dedup", "eval", "batch"),
)
def d11_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration audit: for EVERY LSH candidate
    pair (no similarity floor — calibration needs the full range),
    bin by the number of matching signature components m (the
    estimate is exactly m/16, so the bin axis is INTEGER) and compare
    against the EXACT shingle Jaccard computed on just those pairs —
    the audit that tells you whether d3's 0.5 threshold means what
    you think on YOUR corpus before a destructive dedup (MinHash is
    unbiased per-component, but banding selects pairs that got lucky
    in ≥1 band, so low-m candidate bins overestimate: selection
    bias measured, not assumed — the eval-family treatment of the
    dedup sketch).

    Determinism: the bin key is an integer match count; exact Jaccard
    is |A∩B|/|A∪B| of integer shingle counts; the per-bin mean is a
    DECIMAL(38,12)-quantized sum of those identical ratios.  Shape
    for 100 TB: the d3 banded path verbatim (candidates form only in
    buckets), plus the exact-verify join — shingles of CANDIDATE
    pairs only, the same cost the production verify step pays; the
    report is a ≤17-row reduction."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, "doc_id", "text", _NUM_HASHES, n=3
    ).localCheckpoint(eager=True)
    cand = dedup.lsh_candidate_pairs(
        sigs, _NUM_HASHES, _BANDS, threshold=0.0
    ).select(
        "doc_a",
        "doc_b",
        (F.col("est_jaccard") * _NUM_HASHES).cast("int").alias("nm"),
    )
    sh = dedup.word_shingles(docs, "doc_id", "text", n=3).localCheckpoint(
        eager=True
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        cand.select("doc_a", "doc_b")
        .join(
            sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    pairs = (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
            ),
            "doc_b",
        )
        .select(
            "nm",
            F.coalesce(F.col("ni"), F.lit(0)).alias("ni"),
            (F.col("sza") + F.col("szb") - F.coalesce(F.col("ni"), F.lit(0))).alias(
                "nu"
            ),
        )
    )
    exact_j = F.col("ni") * 1.0 / F.col("nu")
    mean_raw = (
        F.sum(exact_j.cast("decimal(38,12)")).cast("double") / F.count(F.lit(1))
    )
    return pairs.groupBy("nm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        _r6(mean_raw).alias("mean_exact_jaccard"),
        _r6(mean_raw - F.col("nm") / 16.0).alias("bias"),
    ).select(
        F.col("nm").alias("n_matching_components"),
        _r6(F.col("nm") / 16.0).alias("est_jaccard"),
        "n_pairs",
        "mean_exact_jaccard",
        "bias",
    )


_MM8_ORACLE = """
WITH f AS (
  SELECT doc_id, unnest(generate_series(0, 11)) AS i FROM documents
),
v AS (
  SELECT doc_id, i,
         32 + ((doc_id * 5 + (i // (2 + doc_id % 3)) * 17) % 95) AS fill
  FROM f
),
l AS (
  SELECT doc_id, i, fill,
         LAG(fill) OVER (PARTITION BY doc_id ORDER BY i) AS pf
  FROM v
),
c AS (
  SELECT doc_id, i, fill, pf FROM l WHERE pf IS NOT NULL AND fill <> pf
),
n AS (SELECT doc_id, COUNT(*) AS n_cuts FROM c GROUP BY 1)
SELECT c.doc_id,
       CAST(c.i AS INTEGER) AS cut_frame_idx,
       CAST(c.pf AS BIGINT) AS intensity_before,
       CAST(c.fill AS BIGINT) AS intensity_after,
       CAST(abs(c.fill - c.pf) AS BIGINT) AS jump,
       CAST(n.n_cuts + 1 AS BIGINT) AS n_scenes
FROM c JOIN n ON n.doc_id = c.doc_id
"""


@register(
    "mm8_scene_cuts",
    oracle=_MM8_ORACLE,
    tags=("multimodal", "batch"),
)
def mm8_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-cut detection end-to-end on the mm5 plumbing: a
    fixed-layout "video" (12 frames × 32 bytes; frame fill constant
    32 + (doc_id·5 + (i÷L)·17) mod 95 with per-video run length
    L = 2 + doc_id mod 3, so scenes are runs of L identical frames)
    is demuxed by the REAL ``sample_frames`` mapInPandas fan-out,
    each frame's mean byte intensity is folded JVM-side (hex →
    per-byte conv → aggregate — the luminance probe a real pipeline
    computes from decoded pixels), and a per-video LAG window emits a
    cut wherever consecutive frame intensities differ — the shot-
    boundary detector that decides where a video-captioning pipeline
    samples keyframes.  The oracle predicts every fill constant, cut
    position (i ≡ 0 mod L, 17 coprime to 95 so every scene change
    shows) and intensity jump arithmetically — a demux stride bug, a
    wrong byte fold, or an off-by-one in the lag all hash-mismatch.

    Shape for 100 TB: the Arrow 1→N demux fan-out (no shuffle), an
    in-row 32-byte fold, ONE video-keyed exchange for the lag window
    and the per-video cut count; swap the chunker for ffmpeg/pyav on
    a production cluster and the plan is unchanged."""
    from pyspark.sql import Window

    from ..pipelines import multimodal

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    run_len = did % 3 + 2
    frame_hexes = []
    for i in range(12):
        fill = F.pmod(did * 5 + F.floor(F.lit(i) / run_len) * 17, F.lit(95)) + 32
        frame_hexes.append(
            F.repeat(F.lpad(F.hex(fill.cast("bigint")), 2, "0"), 32)
        )
    payload = F.unhex(F.concat(*frame_hexes))
    # r13: spread the id column BEFORE the hex assembly (the mm6 lesson)
    src = layout.spread_for_compute(docs.select("doc_id"), "doc_id")
    binary_df = src.select("doc_id", payload.alias("payload"))
    frames = multimodal.sample_frames(binary_df, frame_bytes=32, every_kth=1)
    intensity = (
        F.expr(
            "aggregate(transform(sequence(1, 32),"
            " i -> CAST(conv(hex(substring(frame_payload, i, 1)), 16, 10)"
            " AS BIGINT)), 0L, (a, x) -> a + x)"
        )
        / 32
    ).cast("bigint")
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    wall = Window.partitionBy("doc_id")
    scored = frames.select(
        "doc_id", "frame_idx", intensity.alias("fill")
    ).select(
        "doc_id",
        "frame_idx",
        "fill",
        F.lag("fill").over(w).alias("pf"),
    )
    cuts = scored.filter(
        F.col("pf").isNotNull() & (F.col("fill") != F.col("pf"))
    ).select(
        "doc_id",
        "frame_idx",
        "fill",
        "pf",
        F.count(F.lit(1)).over(wall).alias("n_cuts"),
    )
    return cuts.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("cut_frame_idx"),
        F.col("pf").cast("bigint").alias("intensity_before"),
        F.col("fill").cast("bigint").alias("intensity_after"),
        F.abs(F.col("fill") - F.col("pf")).cast("bigint").alias("jump"),
        (F.col("n_cuts") + 1).cast("bigint").alias("n_scenes"),
    )


def _x34_oracle() -> str:
    stop_in = ", ".join(f"'{s}'" for s in text.STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS w,
         CAST(length(regexp_replace(lower(text), ' ', '', 'g')) AS BIGINT)
           AS n_wordchars,
         CAST(length(lower(text))
              - length(regexp_replace(lower(text), '#', '', 'g'))
              + (length(lower(text))
                 - length(regexp_replace(lower(text), '\\.\\.\\.', '', 'g')))
                // 3 AS BIGINT) AS n_sym
  FROM documents
),
feat AS (
  SELECT doc_id, n_wordchars, n_sym,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
              AS BIGINT) AS n_alpha_words,
         CAST(len(list_intersect(list_distinct(w), [{stop_in}]))
              AS BIGINT) AS n_distinct_stop
  FROM base
),
flags AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words >= 50 AND n_words <= 100000
              THEN 1 ELSE 0 END AS ok_word_count,
         CASE WHEN n_wordchars >= 3 * n_words
               AND n_wordchars <= 10 * n_words AND n_words > 0
              THEN 1 ELSE 0 END AS ok_mean_word_len,
         CASE WHEN 10 * n_sym <= n_words THEN 1 ELSE 0 END AS ok_symbol_ratio,
         CASE WHEN 5 * n_alpha_words >= 4 * n_words
              THEN 1 ELSE 0 END AS ok_alpha_words,
         CASE WHEN n_distinct_stop >= 2 THEN 1 ELSE 0 END AS ok_stopwords
  FROM feat
)
SELECT doc_id, n_words,
       CAST(ok_word_count AS INTEGER) AS ok_word_count,
       CAST(ok_mean_word_len AS INTEGER) AS ok_mean_word_len,
       CAST(ok_symbol_ratio AS INTEGER) AS ok_symbol_ratio,
       CAST(ok_alpha_words AS INTEGER) AS ok_alpha_words,
       CAST(ok_stopwords AS INTEGER) AS ok_stopwords,
       CAST(5 - ok_word_count - ok_mean_word_len - ok_symbol_ratio
              - ok_alpha_words - ok_stopwords AS INTEGER) AS n_rules_failed,
       CAST(ok_word_count * ok_mean_word_len * ok_symbol_ratio
              * ok_alpha_words * ok_stopwords AS INTEGER) AS keep
FROM flags
"""


@register(
    "x34_gopher_quality_rules",
    oracle=_x34_oracle(),
    tags=("text", "quality", "read"),
)
def x34_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule VERDICT layer (Rae et al. 2021 §A1.1,
    adapted to whitespace tokens): per document, pass/fail flags for
    the five applicable published rules — word count in [50, 100k],
    mean word length in [3, 10], symbol-to-word ratio (# and ...)
    ≤ 0.1, ≥ 80% of words containing an alphabetic character, and ≥ 2
    distinct stopwords present (the "real prose" check) — plus the
    failure count and the conjunction keep bit.  x1 emits the raw
    SIGNALS; x34 is the published GATE a corpus build actually
    applies, kept separate so threshold changes don't touch the
    feature layer.  (Gopher's line-level bullet/ellipsis rules need
    line structure this corpus lacks — out of scope by construction.)

    Determinism: EVERY threshold is integer cross-multiplication
    (n_wordchars ≥ 3·n_words, 10·n_sym ≤ n_words, 5·n_alpha ≥
    4·n_words, …) — no ratio is ever materialized, so no float
    boundary exists anywhere in the verdict.  Shape for 100 TB: one
    scan, all flags in-row (filter/intersect/replace expressions),
    zero shuffles, zero UDFs."""
    docs = load_table(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    w = F.filter(F.split(lower, " "), lambda x: x != "")
    n_words = F.size(w).cast("bigint")
    n_wordchars = F.length(F.regexp_replace(lower, " ", "")).cast("bigint")
    n_sym = (
        F.length(lower)
        - F.length(F.regexp_replace(lower, "#", ""))
        + F.floor(
            (
                F.length(lower)
                - F.length(F.regexp_replace(lower, r"\.\.\.", ""))
            )
            / 3
        )
    ).cast("bigint")
    n_alpha_words = F.size(
        F.expr("filter(filter(split(lower(text), ' '), x -> x <> ''),"
               " x -> x rlike '[a-z]')")
    ).cast("bigint")
    stop_arr = F.array(*[F.lit(s) for s in text.STOPWORDS])
    n_distinct_stop = F.size(
        F.array_intersect(F.array_distinct(w), stop_arr)
    ).cast("bigint")
    ok_word_count = F.when(
        (n_words >= 50) & (n_words <= 100000), 1
    ).otherwise(0)
    ok_mean_word_len = F.when(
        (n_wordchars >= 3 * n_words)
        & (n_wordchars <= 10 * n_words)
        & (n_words > 0),
        1,
    ).otherwise(0)
    ok_symbol_ratio = F.when(10 * n_sym <= n_words, 1).otherwise(0)
    ok_alpha_words = F.when(5 * n_alpha_words >= 4 * n_words, 1).otherwise(0)
    ok_stopwords = F.when(n_distinct_stop >= 2, 1).otherwise(0)
    out = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        ok_word_count.cast("int").alias("ok_word_count"),
        ok_mean_word_len.cast("int").alias("ok_mean_word_len"),
        ok_symbol_ratio.cast("int").alias("ok_symbol_ratio"),
        ok_alpha_words.cast("int").alias("ok_alpha_words"),
        ok_stopwords.cast("int").alias("ok_stopwords"),
    )
    return out.select(
        "*",
        (
            5
            - F.col("ok_word_count")
            - F.col("ok_mean_word_len")
            - F.col("ok_symbol_ratio")
            - F.col("ok_alpha_words")
            - F.col("ok_stopwords")
        )
        .cast("int")
        .alias("n_rules_failed"),
        (
            F.col("ok_word_count")
            * F.col("ok_mean_word_len")
            * F.col("ok_symbol_ratio")
            * F.col("ok_alpha_words")
            * F.col("ok_stopwords")
        )
        .cast("int")
        .alias("keep"),
    )
