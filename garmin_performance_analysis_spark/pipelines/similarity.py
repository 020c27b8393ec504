"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exact baseline (one pass, JVM-side
``zip_with``/``aggregate`` fold — no UDF); the IVF variant is the scale
path: cluster-assign once, then probe only the nearest partitions so
the per-query work drops from O(N·d) to O(N·d/k · n_probe).  At 100 TB
the index table is bucketed by centroid id so probes are partition-
pruned scans.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..harness.registry import dec_avg
from ..operators.windows import bounded_partition_key


def _dot(a: str, b: str) -> Column:
    """Sequential-fold dot product in double precision (deterministic,
    engine-portable)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate({a}, CAST(0.0 AS DOUBLE),"
            f" (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
        )
    )


def _float_array_sql(values: Sequence[float]) -> str:
    """SQL literal ``array(CAST(x AS FLOAT), ...)`` of a query vector.
    Finite components render as Python's shortest repr; NaN and ±Inf
    render as the quoted strings Spark casts to those values (a bare
    ``nan``/``inf`` would parse as a column name)."""

    def lit(v: float) -> str:
        v = float(v)
        if math.isnan(v):
            return "CAST('NaN' AS FLOAT)"
        if math.isinf(v):
            return "CAST('Infinity' AS FLOAT)" if v > 0 else "CAST('-Infinity' AS FLOAT)"
        return f"CAST({v} AS FLOAT)"

    return "array(" + ", ".join(lit(v) for v in values) + ")"


def with_query_cosine(
    df: DataFrame, vec_col: str, query: Sequence[float], out_col: str = "cosine"
) -> DataFrame:
    """Cosine similarity of every row's vector vs a literal query vector."""
    qdf = df.withColumn("_q", F.expr(_float_array_sql(query)))
    cos = _dot(vec_col, "_q") / (_norm(vec_col) * _norm("_q"))
    return qdf.withColumn(out_col, cos).drop("_q")


def brute_force_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k nearest by cosine — TakeOrderedAndProject, no global
    sort; the correctness baseline every ANN variant is measured against."""
    scored = with_query_cosine(df, vec_col, query)
    return (
        scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "cosine")
    )


def cosine_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.9
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact all-pairs).

    O(N²) — correct at validation scale; production uses
    ``ivf_assign`` blocking or LSH first.  The join is a single
    self-crossJoin filtered by id ordering; Spark executes it as a
    broadcast nested loop when one side fits."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    cos = _dot("va", "vb") / (_norm("va") * _norm("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 5,
) -> DataFrame:
    """Deterministic Lloyd k-means cluster assignment (cosine-free,
    squared-L2) as an iterative DataFrame program.

    Init = the vectors of the ``k`` smallest ids (deterministic, no
    RNG) — the ``orderBy(id).limit(k)`` compiles to
    ``TakeOrderedAndProject`` (per-partition top-k + driver merge, NOT
    a global sort; pinned by ``test_plan_shapes``); each iteration is
    one broadcast crossJoin (N×k distance evaluations, JVM-side fold)
    + one element-wise-mean aggregation.
    This is the coarse quantizer an IVF index needs when no natural
    partition column exists."""
    dist = F.expr(
        f"aggregate(zip_with({vec_col}, _c, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    centroids = (
        df.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(
            # bounded: numbers the k-row LIMIT result only
            F.row_number()
            .over(Window.partitionBy(bounded_partition_key(id_col)).orderBy(F.col(id_col).asc()))
            .alias("cluster_id"),
            F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("_c"),
        )
    )
    assigned = None
    for _ in range(iters):
        scored = df.crossJoin(F.broadcast(centroids)).withColumn("_d", dist)
        w = Window.partitionBy(id_col).orderBy(F.col("_d").asc(), F.col("cluster_id").asc())
        assigned = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(id_col, vec_col, "cluster_id")
        )
        centroids = (
            assigned.select(
                "cluster_id", F.posexplode(F.col(vec_col)).alias("dim", "v")
            )
            .groupBy("cluster_id", "dim")
            .agg(dec_avg(F.col("v").cast("double")).alias("m"))
            .groupBy("cluster_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(dim, m))), s -> s.m)"
                ).alias("_c")
            )
        )
    return assigned


def _srp_plane(dim: int, tables: int, bits: int) -> np.ndarray:
    """±1 hyperplane coefficients derived from ``md5(table:bit:dim)`` —
    no RNG, byte-identical to the SQL ``md5`` the oracle uses.  Shape
    dim × (tables·bits), computed once on the driver (tiny)."""
    import hashlib

    def coef(t: int, b: int, i: int) -> int:
        first = hashlib.md5(f"{t}:{b}:{i}".encode()).hexdigest()[0]
        return 1 if first in "01234567" else -1

    return np.array(
        [
            [coef(t, b, i) for t in range(tables) for b in range(bits)]
            for i in range(dim)
        ],
        dtype=np.float64,
    )


def _bucket_sig_udf(plane: np.ndarray, tables: int, bits: int):
    """Arrow-batched SRP signature projection (one numpy matmul per
    batch).  Exactness contract vs the SQL oracle: float32→float64
    widening is exact, ±(v·1e7) is an exact IEEE negation, numpy floor
    == SQL FLOOR, and the matmul accumulates integer-valued float64s
    far below 2^53, so the scaled-long sums are exact in any order."""
    from pyspark.sql.functions import pandas_udf

    pos_mask = (plane > 0).astype(np.float64)
    neg_mask = 1.0 - pos_mask

    @pandas_udf("array<string>")
    def bucket_sigs(vecs: pd.Series) -> pd.Series:
        e = np.stack(vecs.to_numpy()).astype(np.float64) * 1e7  # N × dim
        votes = np.floor(e + 0.5) @ pos_mask + np.floor(-e + 0.5) @ neg_mask
        bits_ = (votes >= 0).reshape(len(e), tables, bits)
        out = [
            ["".join("1" if x else "0" for x in row[t]) for t in range(tables)]
            for row in bits_
        ]
        return pd.Series(out)

    return bucket_sigs


def _fold_cosine(xa: np.ndarray, xb: np.ndarray) -> np.ndarray:
    """Row-wise cosine with the EXACTNESS-CRITICAL dim-order fold:
    accumulate SEQUENTIALLY ACROSS DIMS but N-wide across rows — each
    row's float64 additions happen in dim order, bit-identical to the
    SQL left-fold (``aggregate``) the oracles mirror, while running as
    ~3·dim numpy ops per batch (SCALING.md round-3 lesson 3).  Every
    vectorized cosine in this module MUST go through this one kernel;
    an einsum/matmul 'optimization' here silently breaks oracle
    parity."""
    dot = np.zeros(len(xa))
    na = np.zeros(len(xa))
    nb = np.zeros(len(xa))
    for i in range(xa.shape[1]):  # dim-order fold, row-vectorized
        dot += xa[:, i] * xb[:, i]
        na += xa[:, i] * xa[:, i]
        nb += xb[:, i] * xb[:, i]
    return dot / (np.sqrt(na) * np.sqrt(nb))


def _cos_exact_udf():
    """Arrow-batched exact-cosine column (see ``_fold_cosine``)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos_exact(sa: pd.Series, sb: pd.Series) -> pd.Series:
        xa = np.stack(sa.to_numpy()).astype(np.float64)
        xb = np.stack(sb.to_numpy()).astype(np.float64)
        return pd.Series(_fold_cosine(xa, xb))

    return cos_exact


def srp_lsh_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    tables: int = 4,
    bits: int = 4,
    threshold: float = 0.4,
) -> DataFrame:
    """Signed-random-projection LSH near-neighbor pairs.

    Hyperplanes are ±1 sign vectors derived deterministically from
    ``md5(table:bit:dim)`` (no RNG — reproducible across engines and
    runs).  A vector's bucket in each table is the concatenation of
    ``bits`` projection signs; candidate pairs share a bucket in any
    table and are then verified with exact cosine.

    Per-table collision probability for angle θ is ``(1-θ/π)^bits`` —
    multiple tables trade index size for recall, the standard SRP-LSH
    design.

    MAP-ONLY bucketing: the ±1 hyperplane coefficients are md5-derived
    and tiny (tables·bits·dim ints), so they are computed ONCE on the
    driver (``hashlib.md5`` — byte-identical to the SQL ``md5`` the
    oracle uses) and inlined as signs in an unrolled projection sum;
    each vector's whole bucket signature is then one codegen
    projection.  The previous
    shape posexploded components and broadcast-joined a plane table —
    an N·dim·tables·bits row blow-up through a shuffle (5M rows and
    4.7 s at sf0.1, now ~map-only).  Projections accumulate as
    scaled longs (1e-7 quantization, ``FLOOR(x·1e7 + 0.5)``) so the
    sign is engine-deterministic even at ulp-level ties — primitive
    long adds instead of the BigDecimal tax (SCALING.md lesson 8);
    the oracle applies the identical integerization.  Overflow bound:
    |v|·1e7·dim < 2^63 holds for |v| up to ~1.4e10/dim — unit-norm
    embeddings are orders of magnitude inside it.
    """
    # Projection = matrix math → vectorized Arrow path.  Three shapes
    # were measured at sf0.1 (2000×64 vectors): component-posexplode +
    # broadcast plane join + DECIMAL groupBy 4.7 s; per-bit SQL
    # expressions 3.9 s interpreted as higher-order lambdas, 5.1 s
    # unrolled (the tables·bits·dim-term projection spends seconds in
    # codegen/Janino compilation); pandas_udf with one numpy matmul
    # per Arrow batch ~0.6 s and embarrassingly parallel at 100 TB.
    bucket_sigs = _bucket_sig_udf(_srp_plane(dim, tables, bits), tables, bits)

    buckets = df.select(
        F.col(id_col).alias("vid"),
        F.posexplode(bucket_sigs(F.col(vec_col))).alias("t", "bucket"),
    # materialize ONCE: the candidate self-join consumes this frame on
    # BOTH sides and Catalyst has no cross-subtree CSE, so without the
    # checkpoint the Arrow bucket kernel runs over the whole corpus
    # twice per call (cold 3.8 s → 1.3 s at sf0.1).  The frame is
    # narrow (id + table + bits-char bucket ≈ 30 B/row), far cheaper
    # to hold than to recompute.
    ).localCheckpoint(eager=True)
    a = buckets.alias("a")
    b2 = buckets.alias("b")
    cand = (
        a.join(b2, ["t", "bucket"])
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
        .distinct()
    )
    return _verify_pairs(df, cand, id_col, vec_col, threshold)


def _verify_pairs(
    df: DataFrame,
    cand: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Join candidate (id_a, id_b) pairs back to their vectors and keep
    those whose EXACT cosine clears the threshold.  The interpreted
    per-row lambda fold dominated when the candidate set was large
    (44M candidates at the 10× smoke) — hence the vectorized verify."""
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    cos_exact = _cos_exact_udf()
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cos_exact(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def srp_multiprobe_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    tables: int = 4,
    bits: int = 8,
    threshold: float = 0.4,
    probe_hamming: int = 1,
) -> DataFrame:
    """Multi-probe SRP-LSH near-neighbor pairs: candidates are pairs
    whose signatures differ by ≤1 bit in at least one table.

    Motivation (measured, SCALING.md round-3 10× smoke): at fixed
    4-bit tables the bucket count doesn't grow with the corpus, so
    candidates go quadratic (56.6 s at 10×); widening to 8 bits cuts
    the 10× wall to ~4.7 s but collision probability per table drops
    from ``p^4`` to ``p^8`` and recall collapses (480→113 pairs at
    cos≥0.4).  Multi-probe is the standard fix (Lv et al., VLDB'07
    — probe perturbed buckets instead of adding tables): accepting
    Hamming-≤1 collisions lifts per-table recall to
    ``p^b + b·p^(b-1)·(1-p)`` while keeping the 2^bits-bucket
    precision.  At p=0.63 (cos 0.4), 4×8-bit multi-probe ≈ 0.46 net
    recall vs 0.50 for 4×4 exact — near-parity recall at ~16× the
    bucket resolution.

    Plan shape: the LEFT side of the candidate join emits only its
    home bucket; the RIGHT side explodes home + every perturbation at
    Hamming distance ≤ ``probe_hamming``, so the asymmetric equi-join
    finds every Hamming-≤probe pair exactly once per direction
    (dedup'd by ``id_a < id_b`` + DISTINCT) without squaring the
    emission.  Still a bucket equi-join — never an all-pairs cross —
    with a (1+bits[+C(bits,2)])× row factor on ONE side only,
    map-side generated (no extra shuffle beyond the join).

    ``probe_hamming``: 1 (default) or 2.  The measured width-scaling
    law (SCALING.md): bucket WIDTH must track log(N) for the wall;
    each added bit costs ~p per table in recall, and one probed bit
    only buys back ~bits·(1-p)/p of it — deeper probes (or more
    tables) are how recall is re-purchased at large widths."""
    if probe_hamming not in (1, 2):
        raise ValueError(f"probe_hamming must be 1 or 2, got {probe_hamming}")
    bucket_sigs = _bucket_sig_udf(_srp_plane(dim, tables, bits), tables, bits)
    buckets = df.select(
        F.col(id_col).alias("vid"),
        F.posexplode(bucket_sigs(F.col(vec_col))).alias("t", "bucket"),
    # materialize ONCE — the home side and the probe-variant side both
    # consume this frame (see srp_lsh_pairs: without it the Arrow
    # bucket kernel runs over the corpus twice per call)
    ).localCheckpoint(eager=True)
    # home + flip-one-bit variants, built JVM-side (codegen string ops)
    def _flip1(src: str) -> str:
        return (
            f"transform(sequence(1, {bits}), j -> concat("
            f"substring({src}, 1, j - 1), "
            f"case when substring({src}, j, 1) = '1' then '0' else '1' end, "
            f"substring({src}, j + 1, {bits})))"
        )

    variants = F.concat(F.array(F.col("bucket")), F.expr(_flip1("bucket")))
    if probe_hamming == 2:
        # flip bit l of each 1-flip variant for l > the already-flipped
        # j: enumerating ordered pairs (j < l) once each.  Inner flips
        # of positions <= j would duplicate pairs already emitted.
        flip2 = F.expr(
            f"flatten(transform(sequence(1, {bits} - 1), j -> "
            f"transform(sequence(j + 1, {bits}), l -> concat("
            "substring(bucket, 1, j - 1), "
            "case when substring(bucket, j, 1) = '1' then '0' else '1' end, "
            "substring(bucket, j + 1, l - j - 1), "
            "case when substring(bucket, l, 1) = '1' then '0' else '1' end, "
            f"substring(bucket, l + 1, {bits})))))"
        )
        variants = F.concat(variants, flip2)
    probes = buckets.select(
        "vid", "t", F.explode(variants).alias("bucket")
    )
    a = buckets.alias("a")
    b2 = probes.alias("b")
    cand = (
        a.join(b2, ["t", "bucket"])
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
        .distinct()
    )
    return _verify_pairs(df, cand, id_col, vec_col, threshold)


def batch_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k nearest corpus vectors for EVERY query vector in a
    batch — the realistic retrieval shape (a query set, not a single
    literal vector like ``brute_force_topk``).

    Scale shape: the query side is broadcast (a query batch is small
    by definition), the N·K scored pairs NEVER hit a shuffle at full
    width — a ``mapInPandas`` stage computes the dim-order-fold cosine
    (bit-identical to the SQL oracle, see ``_cos_exact_udf``) AND
    reduces to a per-batch top-k in the same pipelined task, so only
    ≤ partitions·K·k candidate rows reach the final per-query
    ``row_number`` window.  Partial top-k per batch is lossless: the
    comparator (cosine DESC, id ASC) is a total order, so the global
    top-k is contained in the union of batch top-ks.

    ``id_col`` must be integral (output schema pins LONG ids).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = df.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("_cv"))
    joined = c.crossJoin(F.broadcast(q)).filter(
        F.col("corpus_id") != F.col("query_id")
    )

    def score_and_prune(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xa = np.stack(pdf["_qv"].to_numpy()).astype(np.float64)
            xb = np.stack(pdf["_cv"].to_numpy()).astype(np.float64)
            out = pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "corpus_id": pdf["corpus_id"].to_numpy(),
                    "cosine": _fold_cosine(xa, xb),
                }
            )
            yield (
                out.sort_values(
                    ["query_id", "cosine", "corpus_id"],
                    ascending=[True, False, True],
                )
                .groupby("query_id", sort=False)
                .head(k)
            )

    reduced = joined.mapInPandas(
        score_and_prune, "query_id long, corpus_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def ivf_centroids(
    df: DataFrame, vec_col: str, partition_col: str
) -> DataFrame:
    """Centroid per coarse partition: element-wise mean of vectors.

    Aggregation via posexplode + groupBy(dim) keeps it distributed and
    exact; for an unlabeled corpus the partition column comes from a
    k-means assignment (see ``ivf_assign``)."""
    exploded = df.select(
        F.col(partition_col).alias("centroid_id"),
        F.posexplode(F.col(vec_col)).alias("dim", "v"),
    )
    means = exploded.groupBy("centroid_id", "dim").agg(
        dec_avg(F.col("v").cast("double")).alias("m")
    )
    return means.groupBy("centroid_id").agg(
        F.expr("transform(array_sort(collect_list(struct(dim, m))), s -> s.m)").alias(
            "centroid"
        )
    )


def ivf_topk(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    partition_col: str,
    query: Sequence[float],
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF approximate top-k: rank centroids vs the query, keep the
    ``n_probe`` nearest, then brute-force only rows in those partitions.

    The partition filter is a broadcast semi-join, so the big side is
    pruned before any vector math."""
    ranked = with_query_cosine(centroids, "centroid", query, "c_cos")
    probes = ranked.orderBy(F.col("c_cos").desc(), F.col("centroid_id").asc()).limit(
        n_probe
    )
    pruned = df.join(
        F.broadcast(probes.select(F.col("centroid_id").alias(partition_col))),
        partition_col,
        "left_semi",
    )
    return brute_force_topk(pruned, id_col, vec_col, query, k)


def scalar_quantize(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric int8 scalar quantization: each vector maps to
    ``q_i = round(x_i · 127 / max|x|)`` plus its integer self-dot
    ``qq``.  This is the standard SQ8 memory-bandwidth play (FAISS
    ``SQ8``-style, public technique): 4× smaller vectors, integer
    dot products, and — because quantized COSINE divides the scales
    back out — no need to store the scale for ranking.

    All-zero vectors are dropped (cosine undefined for them).
    Deterministic: round() is half-away-from-zero in both Spark and
    the DuckDB oracle, and every product/sum is exact integer math.
    """
    return (
        df.withColumn(
            "_m",
            F.expr(f"CAST(array_max(transform({vec_col}, x -> abs(x))) AS DOUBLE)"),
        )
        .filter(F.col("_m") > 0)
        .withColumn(
            "q",
            F.expr(
                f"transform({vec_col},"
                " x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / _m)) AS BIGINT))"
            ),
        )
        .withColumn(
            "qq", F.expr("aggregate(q, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)")
        )
        .drop("_m")
    )


def _exact_rerank(cand: DataFrame, id_col: str, vec_col: str, k: int) -> DataFrame:
    """Full-vector cosine re-rank of a shortlist whose rows carry the
    query vector in ``_qv``: rows ranked ``rk`` <= k by (cosine DESC,
    id ASC)."""
    rer = cand.withColumn(
        "cosine", _dot(vec_col, "_qv") / (_norm(vec_col) * _norm("_qv"))
    )
    # the window input is the shortlist-row LIMIT result — bounded by
    # construction; the constant partition key documents that and keeps
    # it off the global-window warning path
    w = Window.partitionBy(bounded_partition_key(id_col)).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return rer.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def sq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    k: int = 10,
    shortlist: int = 50,
) -> DataFrame:
    """Top-k by cosine via int8 scalar quantization with exact re-rank:
    rank ALL vectors by quantized cosine (integer dot / integer norms —
    the cheap 4×-less-memory pass), keep a ``shortlist``, then re-rank
    only the shortlist with the exact float cosine.

    Scale story: at 100 TB the first pass streams int8 arrays (4×
    less I/O and cache traffic than float32) through an exact-integer
    kernel and reduces to a ``TakeOrderedAndProject`` (no global
    sort); the float vectors are touched only for ``shortlist`` rows.
    Recall is governed by shortlist/k; with int8 quantization the
    quantized and exact rankings differ only where neighbors are
    closer than the quantization noise floor (~1/127).

    Output: (vec_id, q_cosine, cosine, rk) for the exact top-k.
    """
    qd = scalar_quantize(df, id_col, vec_col)
    qry = qd.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qv"),
        F.col("q").alias("_qa"),
        F.col("qq").alias("_qqq"),
    )
    cand = (
        qd.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(qry))
        .withColumn(
            "qdot",
            F.expr(
                "aggregate(zip_with(q, _qa, (x, y) -> x * y),"
                " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ),
        )
        # qq·qqq ≤ (127²·dim)² ≈ 1e12 for dim=64 — exact in DOUBLE
        .withColumn(
            "q_cosine",
            F.col("qdot") / F.sqrt((F.col("qq") * F.col("_qqq")).cast("double")),
        )
        .orderBy(F.col("q_cosine").desc(), F.col(id_col).asc())
        .limit(shortlist)
    )
    return _exact_rerank(cand, id_col, vec_col, k).select(
        id_col, "q_cosine", "cosine", "rk"
    )


def embedding_outliers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 20,
) -> DataFrame:
    """Embedding-space outliers: distance to the corpus MEAN vector,
    z-scored — the standard cheap junk-document signal (garbage text
    embeds far from everything).

    Every reduction is DECIMAL-exact so the ranking is reproducible in
    any engine: per-dimension means from exact sums, per-vector
    distance² from exact sums of squared deviations, and the z-score
    from exact moment sums.  Plan shape: one posexplode (N·dim rows,
    linear) → per-dim agg (dim rows, broadcast back) → per-vector agg
    → scalar moments broadcast → top-k (TakeOrderedAndProject).

    Output: (vec_id, dist, z, rk) for the k most-outlying vectors.
    """
    from ..harness.registry import dec_avg, dec_std, dec_sum

    # wrong-length vectors (ingest defects) would silently skew the
    # per-dimension means and desync from the fixed-width oracle —
    # drop them up front (no-op on a valid corpus)
    dims = (
        df.filter(F.size(F.col(vec_col)) == dim)
        .select(
            F.col(id_col).alias("vec_id"),
            F.posexplode(F.col(vec_col)).alias("pos", "x"),
        )
        .withColumn("x", F.col("x").cast("double"))
    )
    means = dims.groupBy("pos").agg(dec_avg(F.col("x")).alias("m"))
    dist = (
        dims.join(F.broadcast(means), "pos")
        .groupBy("vec_id")
        .agg(
            F.sqrt(
                dec_sum(
                    (F.col("x") - F.col("m")) * (F.col("x") - F.col("m")),
                    scale=12,
                    precision=38,
                )
            ).alias("dist")
        )
    )
    moments = dist.select(
        dec_avg(F.col("dist")).alias("mu"),
        dec_std(F.col("dist")).alias("sd"),
    )
    scored = dist.join(F.broadcast(moments)).withColumn(
        "z", (F.col("dist") - F.col("mu")) / F.col("sd")
    )
    # top-k FIRST (TakeOrderedAndProject over all N vectors), then rank
    # the k-row survivor frame; constant partition key = bounded window,
    # not a global one.
    topk = scored.orderBy(
        F.round(F.abs(F.col("z")), 6).desc(), F.col("vec_id").asc()
    ).limit(k)
    w = Window.partitionBy(bounded_partition_key("vec_id")).orderBy(
        F.round(F.abs(F.col("z")), 6).desc(), F.col("vec_id").asc()
    )
    return (
        topk.withColumn("rk", F.row_number().over(w))
        .select("vec_id", "dist", "z", "rk")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    tables: int = 4,
    bits: int = 4,
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): group documents whose EMBEDDINGS are
    near-duplicates and keep one representative per group — the
    embedding-space sibling of MinHash dedup, which catches paraphrases
    and template rewrites that share no n-grams.

    Pipeline (every stage already scale-proven on its own):
      1. candidate pairs from SRP-LSH bucket equi-joins
         (``srp_lsh_pairs`` — never an all-pairs cross), verified by
         exact cosine ≥ ``threshold``;
      2. the pair graph connected into components with pointer-jumping
         min-label propagation (``graph.connected_components``,
         O(log diameter) rounds);
      3. canonical = minimum id per component; singleton docs are their
         own canonical.

    Deterministic end-to-end (md5-derived hyperplanes, integerized
    projections, unique CC fixpoint), so a SQL oracle reproduces it
    bit-for-bit.  Output: ``(vec_id, cluster_id, is_canonical,
    n_members)`` for EVERY input vector — the keep/drop verdict plus
    the cluster-size evidence a curation audit wants.

    Scale shape: bucket join (near-linear) + CC on the PAIR graph only
    (near-dup pairs are a tiny fraction of the corpus); the per-cluster
    member count is ONE window partitioned by cluster_id — a keyed
    shuffle, never a broadcast of the (cluster-cardinality ≈ N) size
    table and never an unpartitioned window.
    """
    from ..operators.graph import connected_components

    pairs = srp_lsh_pairs(
        df, id_col, vec_col, dim=dim, tables=tables, bits=bits, threshold=threshold
    )
    cc = connected_components(pairs, "id_a", "id_b")  # (doc_id, cluster_id)
    ids = df.select(F.col(id_col).cast("long").alias("doc_id"))
    labeled = ids.join(cc, "doc_id", "left").select(
        F.col("doc_id").alias("vec_id"),
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id")
    return labeled.select(
        "vec_id",
        "cluster_id",
        (F.col("cluster_id") == F.col("vec_id")).alias("is_canonical"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )


def _subvectors(df: DataFrame, id_col: str, vec_col: str, dim: int, m: int) -> DataFrame:
    """(_id, subspace, sv) — each vector split into ``m`` contiguous
    ``dim/m``-wide double subvectors (posexplode: linear, no shuffle)."""
    if dim % m != 0:
        raise ValueError(
            f"dim={dim} is not divisible by m={m} subspaces: the trailing "
            f"{dim % m} dimensions would be silently dropped from training/"
            "encoding while the exact re-rank uses them"
        )
    sub = dim // m
    slices = F.array(
        *[
            F.expr(
                f"transform(slice({vec_col}, {j * sub + 1}, {sub}),"
                " x -> CAST(x AS DOUBLE))"
            )
            for j in range(m)
        ]
    )
    return df.filter(F.size(F.col(vec_col)) == dim).select(
        F.col(id_col).alias("_id"), F.posexplode(slices).alias("subspace", "sv")
    )


_SUBDIST = (
    "aggregate(zip_with(sv, centroid, (x, y) -> (x - y) * (x - y)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    k: int = 16,
    iters: int = 3,
) -> DataFrame:
    """Product-quantization codebooks: deterministic Lloyd k-means run
    independently in each of ``m`` subspaces (the standard PQ training,
    Jégou et al. 2011 — public technique), entirely as DataFrame ops.

    Init = the subvectors of the ``k`` smallest ids (TakeOrdered — no
    RNG, same convention as ``kmeans_assign``); every iteration is one
    broadcast join (the codebook is m·k rows — tiny at any corpus
    size), a deterministic argmin via ``min(struct(dist, cluster))``,
    and an element-wise-mean aggregation.  A cluster that loses all
    members drops out of the codebook (documented PQ behaviour; the
    encoder simply never emits its code).

    Returns (subspace, cluster_id, centroid array<double>).
    """
    subs = _subvectors(df, id_col, vec_col, dim, m)
    seeds = F.broadcast(
        df.filter(F.size(F.col(vec_col)) == dim)
        .orderBy(F.col(id_col).asc())
        .limit(k)
        .select(
            F.col(id_col).alias("_id"),
            # bounded: numbers the k-row LIMIT result only
            F.row_number()
            .over(
                Window.partitionBy(bounded_partition_key(id_col)).orderBy(
                    F.col(id_col).asc()
                )
            )
            .alias("cluster_id"),
        )
    )
    codebooks = subs.join(seeds, "_id").select(
        "subspace", "cluster_id", F.col("sv").alias("centroid")
    )
    for _ in range(iters):
        assigned = (
            subs.join(F.broadcast(codebooks), "subspace")
            .withColumn("_d", F.expr(_SUBDIST))
            .groupBy("_id", "subspace")
            .agg(
                F.min(F.struct(F.col("_d"), F.col("cluster_id"))).alias("_m"),
                F.first("sv").alias("sv"),  # constant per group
            )
            .select("_id", "subspace", F.col("_m.cluster_id").alias("cluster_id"), "sv")
        )
        codebooks = (
            assigned.select(
                "subspace", "cluster_id", F.posexplode("sv").alias("p", "x")
            )
            .groupBy("subspace", "cluster_id", "p")
            .agg(dec_avg(F.col("x")).alias("mx"))
            .groupBy("subspace", "cluster_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(p, mx))), s -> s.mx)"
                ).alias("centroid")
            )
        )
    return codebooks


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int,
) -> DataFrame:
    """PQ codes: (_id, subspace, cluster_id) — each document stored as
    ``m`` small integers instead of ``dim`` floats (the 100 TB memory
    play: a 64-dim float32 vector becomes m=4 bytes-ish of codes).
    One broadcast join + deterministic argmin; codes never shuffle at
    vector width."""
    subs = _subvectors(df, id_col, vec_col, dim, m)
    return (
        subs.join(F.broadcast(codebooks), "subspace")
        .withColumn("_d", F.expr(_SUBDIST))
        .groupBy("_id", "subspace")
        .agg(F.min(F.struct(F.col("_d"), F.col("cluster_id"))).alias("_m"))
        .select("_id", "subspace", F.col("_m.cluster_id").alias("cluster_id"))
    )


def pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    dim: int,
    m: int = 4,
    k_clusters: int = 16,
    iters: int = 3,
    k: int = 10,
    shortlist: int = 50,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric-distance (ADC) with exact
    re-rank — the standard memory-compressed ANN read path:

    1. train ``m``-subspace codebooks on the corpus (``pq_train``);
    2. encode every vector as ``m`` codes (``pq_encode``);
    3. the query's distance to EVERY centroid is an m·k-row lookup
       table (broadcast — this is the A in ADC: only the query side
       stays float);
    4. approximate distance per doc = ``Σ_j table[j][code_j]`` — a
       broadcast join on (subspace, cluster_id) + per-doc sum; the
       sum runs through DECIMAL so shuffle order cannot reorder the
       m partials;
    5. ``shortlist`` best ADC candidates (TakeOrderedAndProject, no
       global sort) are re-ranked with the exact float cosine.

    Scale shape: after encoding, the per-query work touches only the
    codes table (N·m ints) and ``shortlist`` float vectors — the same
    contract as ``sq_topk`` with an 8-16× deeper compression.

    Output: (vec_id, adc_dist, cosine, rk) for the exact-cosine top-k
    of the shortlist.
    """
    from ..harness.registry import dec_sum

    valid = df.filter(F.size(F.col(vec_col)) == dim)
    if codebooks is None:
        # train-per-call convenience shape; the deployable split passes a
        # pre-trained (shipped-artifact) codebook so only encode+query
        # cost is paid per call
        codebooks = pq_train(valid, id_col, vec_col, dim, m, k_clusters, iters)
    corpus = valid.filter(F.col(id_col) != query_id)
    if codes is None:
        # like the codebooks, production PQ STORES the codes table (it
        # is the compressed index — the whole point of the format); the
        # deployable split passes the stored artifact so a query pays
        # only the ADC lookup + shortlist re-rank
        codes = pq_encode(corpus, codebooks, id_col, vec_col, dim, m)
    qsubs = _subvectors(
        valid.filter(F.col(id_col) == query_id), id_col, vec_col, dim, m
    )
    adc = F.broadcast(
        qsubs.join(F.broadcast(codebooks), "subspace")
        .withColumn("qdist", F.expr(_SUBDIST))
        .select("subspace", "cluster_id", "qdist")
    )
    scored = (
        codes.join(adc, ["subspace", "cluster_id"])
        .groupBy("_id")
        .agg(
            F.round(dec_sum(F.col("qdist"), scale=12, precision=30), 9).alias(
                "adc_dist"
            )
        )
    )
    short = scored.orderBy(F.col("adc_dist").asc(), F.col("_id").asc()).limit(
        shortlist
    )
    qvec = valid.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qv")
    )
    rer = (
        short.join(corpus.select(F.col(id_col).alias("_id"), vec_col), "_id")
        .crossJoin(F.broadcast(qvec))
        .withColumn(
            "cosine", _dot(vec_col, "_qv") / (_norm(vec_col) * _norm("_qv"))
        )
    )
    # bounded: ranks the shortlist-row LIMIT result only
    w = Window.partitionBy(bounded_partition_key("_id")).orderBy(
        F.col("cosine").desc(), F.col("_id").asc()
    )
    return (
        rer.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(F.col("_id").alias("vec_id"), "adc_dist", "cosine", "rk")
    )


def prefix_rerank_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    k: int = 10,
    shortlist: int = 50,
    prefix_dims: int = 16,
) -> DataFrame:
    """Top-k by cosine via PREFIX-DIMENSION shortlisting with exact
    re-rank — the Matryoshka-representation serving path (Kusupati et
    al. 2022: embeddings trained so leading dims carry a coarse
    version of the geometry): rank ALL vectors by cosine over the
    first ``prefix_dims`` components only, keep a ``shortlist``, then
    re-rank the shortlist with the exact full-dimension cosine.

    Scale story: at 100 TB the first pass reads ``prefix_dims/dim`` of
    the vector bytes (a 4× scan cut at 16/64 — with the prefix stored
    as its own column the scan prunes to it outright) and reduces to a
    ``TakeOrderedAndProject``; full vectors are touched only for
    ``shortlist`` rows.  Unlike IVF/LSH the shortlist pass is
    deterministic exact arithmetic over the prefix, so the whole
    operator is value-reproducible cross-engine (full hash oracle, no
    recall verdict needed).

    Output: (id_col, p_cosine, cosine, rk) for the exact top-k.
    """
    pref = F.slice(F.col(vec_col), 1, prefix_dims)
    qd = df.select(
        id_col, vec_col, pref.alias("_pv")
    )
    qry = qd.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qv"), F.col("_pv").alias("_qp")
    )
    cand = (
        qd.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(qry))
        .withColumn(
            "p_cosine",
            _dot("_pv", "_qp") / (_norm("_pv") * _norm("_qp")),
        )
        .orderBy(F.col("p_cosine").desc(), F.col(id_col).asc())
        .limit(shortlist)
    )
    return _exact_rerank(cand, id_col, vec_col, k).select(
        id_col, "p_cosine", "cosine", "rk"
    )
