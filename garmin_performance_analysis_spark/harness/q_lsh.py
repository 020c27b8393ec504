"""SRP-LSH similarity catalog entry (the LSH-bucketed ANN variant)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipelines.similarity import semantic_dedup, srp_lsh_pairs, srp_multiprobe_pairs
from ..scratch import artifact_dir
from ..sources.tables import artifact, artifact_tag, load_table
from .q_pipeline import _cos_expr
from .registry import r6 as _r6
from .registry import register


def _srp_ctes(bits: int) -> str:
    """The SRP-LSH oracles' md5-derived hyperplanes (4 tables x ``bits``)
    and per-component rows, opening the ``proj`` CTE that
    ``_SRP_BUCKETS`` completes."""
    return f"""planes AS (
  SELECT t, b, i,
         CASE WHEN strpos('0123456789abcdef',
                          substr(md5(t || ':' || b || ':' || i), 1, 1)) <= 8
              THEN 1 ELSE -1 END AS coef
  FROM (SELECT unnest(generate_series(0, 3)) AS t),
       (SELECT unnest(generate_series(0, {bits - 1})) AS b),
       (SELECT unnest(generate_series(0, 63)) AS i)
),
comps AS (
  SELECT vec_id AS vid, i.i AS i, embedding[i.i + 1] AS v
  FROM embeddings, (SELECT unnest(generate_series(0, 63)) AS i) i
),
proj AS (
"""


# scaled-long projection sums → per-table bucket bit strings
_SRP_BUCKETS = """  SELECT c.vid, p.t, p.b,
         SUM(CAST(FLOOR(p.coef * c.v * 10000000.0 + 0.5) AS BIGINT)) AS dot
  FROM comps c JOIN planes p ON c.i = p.i
  GROUP BY c.vid, p.t, p.b
),
buckets AS (
  SELECT vid, t,
         string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS bucket
  FROM proj GROUP BY vid, t
)"""
_SRP_CAND = """cand AS (
  SELECT DISTINCT a.vid AS id_a, b.vid AS id_b
  FROM buckets a JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket AND a.vid < b.vid
)"""
# exact-cosine verification of the bucket candidates (cosine >= 0.4)
_SRP_VERIFIED = f"""SELECT c.id_a, c.id_b,
       ROUND({_cos_expr('x.embedding', 'y.embedding')}, 6) AS cosine
FROM cand c
JOIN embeddings x ON c.id_a = x.vec_id
JOIN embeddings y ON c.id_b = y.vec_id
WHERE {_cos_expr('x.embedding', 'y.embedding')} >= 0.4
"""


def _recall_verdict_output(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Shared v10/v10b tail: attach per-probe and mean recall verdicts
    with DATA-DERIVED denominators — the bars are 0.3 of each probe's
    actual exact-top-k size and 0.7 of the total exact rows, not a
    hardcoded 10 probes × 10 neighbours, so on a corpus with fewer
    probes or fewer than 11 vectors the verdict relaxes with the data
    instead of silently tightening against an oracle that pins it to
    1.  One keyed join of the two top-k lists + one 1-row aggregate;
    both verdict frames broadcast back onto the exact ranking."""
    # ONE pass over `exact` for both the denominator and the hit count
    # (left-join marks membership): a separate totals aggregation would
    # re-evaluate the whole kmeans+cosine subtree a third time —
    # Catalyst has no cross-subtree CSE, and the extra evaluation cost
    # 1.5x wall on v10 when first measured (BENCH r8 adjudication).
    stats = (
        exact.select("probe_id", "vec_id")
        .join(
            approx.select("probe_id", "vec_id").withColumn("_hit", F.lit(1)),
            ["probe_id", "vec_id"],
            "left",
        )
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("_hits"),
        )
    )
    mean_ok = stats.agg(
        F.when(F.sum("_hits") >= 0.7 * F.sum("_n"), 1)
        .otherwise(0)
        .alias("mean_recall_ok")
    )
    return (
        exact.join(F.broadcast(stats), "probe_id", "left")
        .crossJoin(F.broadcast(mean_ok))
        .select(
            "probe_id",
            F.col("rank").cast("int").alias("rank"),
            "vec_id",
            _r6(F.col("cos")).alias("cosine"),
            F.when(F.col("_hits") >= 0.3 * F.col("_n"), 1)
            .otherwise(0)
            .alias("probe_recall_ok"),
            "mean_recall_ok",
        )
    )


@register(
    "v4_srp_lsh_pairs",
    oracle=f"""
WITH {_srp_ctes(4)}  -- scaled-long accumulation (FLOOR(x*1e7 + 0.5)), mirroring the
  -- engine's integerized projection sum exactly
{_SRP_BUCKETS},
{_SRP_CAND}
{_SRP_VERIFIED}""",
    tags=("similarity", "dedup", "batch"),
)
def v4_srp_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH near-neighbor pairs (4 tables × 4
    bits, deterministic md5-derived hyperplanes) verified by exact
    cosine ≥ 0.4 — the bucketed alternative to the IVF path: candidates
    come from a bucket equi-join, never an all-pairs cross."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = srp_lsh_pairs(emb, "vec_id", "embedding", dim=64, tables=4, bits=4, threshold=0.4)
    return out.select("id_a", "id_b", _r6(F.col("cosine")).alias("cosine"))


@register(
    "v4b_srp_multiprobe",
    oracle=f"""
WITH {_srp_ctes(8)}{_SRP_BUCKETS},
probes AS (
  SELECT vid, t, bucket FROM buckets
  UNION ALL
  SELECT vid, t,
         substr(bucket, 1, j - 1)
           || (CASE WHEN substr(bucket, j, 1) = '1' THEN '0' ELSE '1' END)
           || substr(bucket, j + 1, 8) AS bucket
  FROM buckets, (SELECT unnest(generate_series(1, 8)) AS j)
),
cand AS (
  SELECT DISTINCT a.vid AS id_a, b.vid AS id_b
  FROM buckets a JOIN probes b ON a.t = b.t AND a.bucket = b.bucket AND a.vid < b.vid
)
{_SRP_VERIFIED}""",
    tags=("similarity", "dedup", "batch"),
)
def v4b_srp_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP-LSH pairs (4 tables × 8 bits, Hamming-≤1 probe)
    — the scale-path answer to the measured v4 lesson (SCALING.md:
    fixed 4-bit tables go quadratic at 10×; 8-bit tables fix the wall
    but collapse recall; probing one-bit perturbations restores recall
    at 16× the bucket resolution).  Candidates stay a bucket equi-join
    with a (1+bits)× emission on ONE side only."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = srp_multiprobe_pairs(
        emb, "vec_id", "embedding", dim=64, tables=4, bits=8, threshold=0.4
    )
    return out.select("id_a", "id_b", _r6(F.col("cosine")).alias("cosine"))


@register(
    "v9_semantic_dedup",
    oracle=f"""
WITH RECURSIVE {_srp_ctes(4)}{_SRP_BUCKETS},
{_SRP_CAND},
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN embeddings x ON c.id_a = x.vec_id
  JOIN embeddings y ON c.id_b = y.vec_id
  WHERE {_cos_expr('x.embedding', 'y.embedding')} >= 0.4
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
lab AS (
  SELECT a AS vid, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
),
labeled AS (
  SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
         CAST(COALESCE(l.cluster_id, e.vec_id) AS BIGINT) AS cluster_id
  FROM embeddings e LEFT JOIN lab l ON l.vid = e.vec_id
)
SELECT vec_id, cluster_id,
       (cluster_id = vec_id) AS is_canonical,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
FROM labeled
ORDER BY vec_id
""",
    tags=("similarity", "dedup", "batch"),
)
def v9_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup verdict for EVERY embedding:
    SRP-LSH candidate pairs verified at exact cosine >= 0.4, connected
    into components (pointer-jumping min-label), canonical = min id per
    component, plus the cluster size.  The embedding-space sibling of
    d5's MinHash clusters — catches paraphrase duplicates that share no
    n-grams.  The oracle replays the identical deterministic chain with
    a recursive transitive-closure CTE (unique fixpoint -> identical
    output regardless of algorithm)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, "vec_id", "embedding", dim=64, tables=4, bits=4, threshold=0.4)
    return out.orderBy("vec_id")


def _ivf_probe_verdict(
    emb: DataFrame, assigned: DataFrame, cents: DataFrame
) -> DataFrame:
    """The v10/v10b query path over a built IVF index (``assigned``
    cluster ids + ``cents`` centroids): ONE cosine pass over (10 probes
    × N vectors) serves both the exact top-10 and the top-10 among the
    3 nearest clusters' members, scored by ``_recall_verdict_output``."""
    from pyspark.sql import Window

    from ..pipelines.similarity import _dot, _norm

    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("_p")
    )
    pairs = (
        assigned.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn(
            "cos", _dot("embedding", "_p") / (_norm("embedding") * _norm("_p"))
        )
        .select("probe_id", "vec_id", "cluster_id", "cos")
        # BOTH the exact anchor and the probed ranking consume this
        # frame; without a checkpoint each consumer re-runs the full
        # probe x corpus cosine pass (no cross-subtree CSE) -- the
        # dominant cost of the query path, paid twice
        .localCheckpoint(eager=True)
    )
    w_rank = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    exact = pairs.withColumn("rank", F.row_number().over(w_rank)).filter(
        F.col("rank") <= 10
    )
    probe_cent = cents.crossJoin(F.broadcast(probes)).withColumn(
        "ccos", _dot("centroid", "_p") / (_norm("centroid") * _norm("_p"))
    )
    w_cent = Window.partitionBy("probe_id").orderBy(
        F.desc("ccos"), F.asc("centroid_id")
    )
    probed = (
        probe_cent.withColumn("crn", F.row_number().over(w_cent))
        .filter(F.col("crn") <= 3)
        .select("probe_id", F.col("centroid_id").alias("cluster_id"))
    )
    approx = (
        pairs.join(F.broadcast(probed), ["probe_id", "cluster_id"])
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 10)
    )
    return _recall_verdict_output(exact, approx)


# v10/v10b: exact top-10 per probe; both recall verdicts pinned to 1
_V10_ORACLE = f"""
WITH pr AS (
  SELECT vec_id AS probe_id, embedding AS p FROM embeddings WHERE vec_id < 10
),
ranked AS (
  SELECT pr.probe_id, e.vec_id,
         {_cos_expr('e.embedding', 'pr.p')} AS cos,
         ROW_NUMBER() OVER (PARTITION BY pr.probe_id
                            ORDER BY {_cos_expr('e.embedding', 'pr.p')} DESC,
                                     e.vec_id ASC) AS rank
  FROM embeddings e JOIN pr ON e.vec_id <> pr.probe_id
)
SELECT probe_id, CAST(rank AS INTEGER) AS rank, vec_id,
       ROUND(cos, 6) AS cosine,
       1 AS probe_recall_ok, 1 AS mean_recall_ok
FROM ranked WHERE rank <= 10
"""


@register(
    "v10_ivf_recall_verdict",
    oracle=_V10_ORACLE,
    tags=("similarity", "ann", "batch"),
)
def v10_ivf_recall_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe exact top-10 WITH an in-band IVF recall verdict —
    the a9b pattern applied to ANN (r7): the approximate index can't
    be hash-matched by any ANSI oracle, so the comparable output is
    (a) the exact brute-force top-10 per probe (oracle-checked value
    for value) and (b) verdict columns the oracle pins to 1 — per-probe
    IVF recall@10 ≥ 0.3 with 3 of 8 clusters probed, and mean recall
    over the 10 probes ≥ 0.7.  Measured recall floors are 0.4 / 0.86
    across sf0.001/0.01/0.1, and the whole chain is deterministic
    (k-means init = k smallest ids, DECIMAL centroid means →
    partition-invariant; every ranking tiebreaks on vec_id), so a
    verdict flip means the quantizer or the probe pruning actually
    broke, not sketch luck.

    Scale shape: ONE cosine pass over (10 probes × N vectors) via a
    broadcast of the 10 probe vectors serves both the exact ranking
    and the IVF candidate ranking (the candidate set is the same
    frame filtered by the broadcast 30-row probe→cluster map); recall
    is a keyed join of two top-10 lists — no second scan, no
    driver-side vectors."""
    from ..pipelines.similarity import ivf_centroids, kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    # materialize the per-call training ONCE: exact, approx, and cents
    # all consume `assigned`, and Catalyst has no cross-subtree CSE —
    # without this the 3 Lloyd iterations re-run per consumer (still
    # train-PER-CALL by design; v10b is the cross-call artifact)
    assigned = kmeans_assign(
        emb, "vec_id", "embedding", k=8, iters=3
    ).localCheckpoint(eager=True)
    cents = ivf_centroids(assigned, "embedding", "cluster_id")
    return _ivf_probe_verdict(emb, assigned, cents)


@register(
    "v10b_ivf_query_path",
    oracle=_V10_ORACLE,
    tags=("similarity", "ann", "read"),
)
def v10b_ivf_query_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v10's DEPLOYABLE split (the v8→v8b precedent): the IVF index —
    k-means cluster assignments + centroids — is built once per
    (session, corpus) as a registered artifact (assignments as parquet
    under the artifact root, the persisted-index shape; centroids as 8
    collected rows, the shipped-artifact size), so the query path pays
    probe selection + candidate ranking + the exact-verification pass
    only.  Training is deterministic (DECIMAL centroid means), so the
    artifact cannot change results; the oracle is identical to v10's."""
    from ..pipelines.similarity import ivf_centroids, kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")

    def _build():
        path = artifact_dir(f"v10b_{artifact_tag(spark, sf_dir)}")
        kmeans_assign(emb, "vec_id", "embedding", k=8, iters=3).write.parquet(path)
        assigned = spark.read.parquet(path)
        cents = ivf_centroids(assigned, "embedding", "cluster_id").collect()
        return (assigned, cents), (path,)

    assigned, cent_rows = artifact(spark, sf_dir, "v10b", _build)
    cents = spark.createDataFrame(cent_rows)
    return _ivf_probe_verdict(emb, assigned, cents)


def _o7_oracle() -> str:
    lam = "0.5"
    q = _cos_expr("e.embedding", "pr.p")
    pq = _cos_expr("x.embedding", "y.embedding")
    steps = []
    for t in range(2, 6):
        prev = ", ".join(f"(SELECT vec_id FROM s{j})" for j in range(1, t))
        maxsim = ", ".join(
            f"(SELECT sim FROM pairs WHERE a = c.vec_id"
            f" AND b = (SELECT vec_id FROM s{j}))"
            for j in range(1, t)
        )
        greatest = f"GREATEST({maxsim})" if t > 2 else maxsim
        steps.append(f"""
s{t} AS (
  SELECT c.vec_id, {lam} * c.cq - (1.0 - {lam}) * {greatest} AS score
  FROM scored c
  WHERE c.vec_id NOT IN ({prev})
  ORDER BY score DESC, c.vec_id ASC LIMIT 1
)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT {t} AS sel_rank, vec_id, ROUND(score, 6) AS mmr_score FROM s{t}"
        for t in range(1, 6)
    )
    return f"""
WITH pr AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
ranked AS (
  SELECT e.vec_id, {q} AS cq,
         ROW_NUMBER() OVER (ORDER BY {q} DESC, e.vec_id ASC) AS rn
  FROM embeddings e, pr WHERE e.vec_id <> 0
),
scored AS (SELECT vec_id, cq FROM ranked WHERE rn <= 20),
sc_emb AS (
  SELECT e.vec_id, e.embedding
  FROM embeddings e JOIN scored s ON e.vec_id = s.vec_id
),
pairs AS (
  SELECT x.vec_id AS a, y.vec_id AS b, {pq} AS sim
  FROM sc_emb x JOIN sc_emb y ON x.vec_id <> y.vec_id
),
s1 AS (
  SELECT vec_id, {lam} * cq AS score
  FROM scored ORDER BY score DESC, vec_id ASC LIMIT 1
),{",".join(steps)}
{sel}
"""


@register("o7_mmr_rerank", oracle=_o7_oracle(), tags=("similarity", "ranking", "read"))
def o7_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversity re-rank (Carbonell &
    Goldstein 1998, public technique): from the exact top-20 cosine
    shortlist for the query vector, greedily select 5 results
    maximizing ``λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s)``
    (λ=1/2, exact in binary) — the serving-path step that stops a
    result page from being five near-duplicates.  The shortlist and
    its 20×20 pairwise similarity matrix are computed DISTRIBUTED;
    only the 20+380 scored rows are collected for the inherently
    sequential 5-step greedy (bounded by construction — the BPE
    per-merge-argmax precedent).  The oracle unrolls the same five
    greedy steps in CTEs over the identical cosine expressions, so a
    wrong diversity penalty, a stale max-sim, or a tiebreak drift
    hash-mismatches."""
    from ..pipelines.similarity import _dot, _norm

    lam = 0.5
    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_p"))
    cos = _dot("embedding", "_p") / (_norm("embedding") * _norm("_p"))
    shortlist = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qdf))
        .withColumn("cq", cos)
        .orderBy(F.desc("cq"), F.asc("vec_id"))
        .limit(20)
        .select("vec_id", "cq", "embedding")
    )
    pair_cos = _dot("embedding", "_e2") / (_norm("embedding") * _norm("_e2"))
    b = shortlist.select(
        F.col("vec_id").alias("_v2"), F.col("embedding").alias("_e2")
    )
    pairs = (
        shortlist.crossJoin(F.broadcast(b))
        .filter(F.col("vec_id") != F.col("_v2"))
        .select("vec_id", "_v2", pair_cos.alias("sim"))
    )
    cand = {r["vec_id"]: r["cq"] for r in shortlist.select("vec_id", "cq").collect()}
    sims = {(r["vec_id"], r["_v2"]): r["sim"] for r in pairs.collect()}
    selected: list[tuple[int, int, float]] = []
    chosen: list[int] = []
    for rank in range(1, 6):
        best = None
        for v, cq in cand.items():
            if v in chosen:
                continue
            if chosen:
                score = lam * cq - (1.0 - lam) * max(
                    sims[(v, s)] for s in chosen
                )
            else:
                score = lam * cq
            key = (score, -v)
            if best is None or key > best[0]:
                best = (key, v, score)
        chosen.append(best[1])
        selected.append((rank, best[1], round(best[2], 6)))
    return spark.createDataFrame(
        selected, "sel_rank int, vec_id bigint, mmr_score double"
    )
