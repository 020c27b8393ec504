"""Statistics / ML queries (SURVEY.md §2.10: M1, M3, M7, M8, M13).

The heavier model fits (Huber baselines M5, scipy-p-value regressions)
live in ``operators/regression.py`` as grouped pandas_udfs and are
exercised by unit tests; the queries here are the closed-form family
where an exact ANSI-SQL oracle exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.datetime_funcs import day_number
from ..functions.vdot import race_vdot
from ..operators.regression import linregress_by_group, ols2_by_group
from ..operators.topk import weighted_similarity
from ..sources.tables import load_table
from .registry import q6
from .registry import r6 as _r6
from .registry import register


@register(
    "m1_linregress_by_group",
    oracle="""
WITH d AS (
  SELECT event_type,
         CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x,
         value AS y
  FROM events WHERE value IS NOT NULL
),
m AS (
  SELECT event_type, COUNT(*) AS n,
         AVG(x) AS mx, AVG(y) AS my,
         COVAR_POP(x, y) AS cxy, VAR_POP(x) AS vx, VAR_POP(y) AS vy
  FROM d GROUP BY event_type
)
SELECT event_type, n,
       ROUND(cxy / vx, 6) AS slope,
       ROUND(my - (cxy / vx) * mx, 6) AS intercept,
       ROUND((cxy * cxy) / (vx * vy), 6) AS r2,
       ROUND((cxy / SQRT(vx * vy)) * SQRT((n - 2) / (1 - (cxy * cxy) / (vx * vy))), 6) AS t_stat
FROM m WHERE n >= 3 AND vx > 0 AND vy > 0
""",
    tags=("ml", "regression", "read"),
)
def m1_linregress_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 per-group OLS trend (slope/intercept/r²/t) in closed form —
    scipy ``linregress`` parity without Python (``trends.py:103-159``,
    ``durability.py:368-436``).  The reference's p>0.05 gate maps to a
    |t| threshold (monotone equivalent)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    prepared = ev.select(
        "event_type",
        day_number(F.col("ts")).cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    out = linregress_by_group(prepared, ["event_type"], "x", "y", min_points=3)
    return out.select(
        "event_type",
        "n",
        _r6(F.col("slope")).alias("slope"),
        _r6(F.col("intercept")).alias("intercept"),
        _r6(F.col("r2")).alias("r2"),
        _r6(F.col("t_stat")).alias("t_stat"),
    )


# m3/m4's (hour, day) -> value points ``d`` and the opening of their
# per-event_type moment CTE ``m`` (the caller closes it).
_OLS2_MOMENTS = """d AS (
  SELECT event_type,
         CAST(hour(ts) AS DOUBLE) AS x1,
         CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x2,
         value AS y
  FROM events WHERE value IS NOT NULL
),
m AS (
  SELECT event_type, COUNT(*) AS n,
         AVG(x1) AS m1, AVG(x2) AS m2, AVG(y) AS my,
         COVAR_POP(x1, y) AS c1y, COVAR_POP(x2, y) AS c2y,
         COVAR_POP(x1, x2) AS c12, VAR_POP(x1) AS v1, VAR_POP(x2) AS v2"""


def _hour_day_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m3/m4's regression points: x1 = hour of day, x2 = day number,
    y = the non-null event value, keyed by event_type."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return ev.select(
        "event_type",
        F.hour("ts").cast("double").alias("x1"),
        day_number(F.col("ts")).cast("double").alias("x2"),
        F.col("value").alias("y"),
    )


@register(
    "m3_multivariate_ols",
    oracle=f"""
WITH {_OLS2_MOMENTS}
  FROM d GROUP BY event_type
)
SELECT event_type, n,
       ROUND((c1y * v2 - c2y * c12) / (v1 * v2 - c12 * c12), 6) AS b1,
       ROUND((c2y * v1 - c1y * c12) / (v1 * v2 - c12 * c12), 6) AS b2,
       ROUND(my - ((c1y * v2 - c2y * c12) / (v1 * v2 - c12 * c12)) * m1
                - ((c2y * v1 - c1y * c12) / (v1 * v2 - c12 * c12)) * m2, 6) AS b0
FROM m WHERE n >= 10 AND (v1 * v2 - c12 * c12) > 1e-12
""",
    tags=("ml", "regression"),
)
def m3_multivariate_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 two-covariate OLS via closed-form normal equations — the heat
    model ``HR ~ pace + excess_temp`` shape
    (``heat_adjustment.py:38-115``) as one aggregation pass."""
    prepared = _hour_day_points(spark, sf_dir)
    out = ols2_by_group(prepared, ["event_type"], "x1", "x2", "y", min_points=10)
    return out.select(
        "event_type",
        "n",
        _r6(F.col("b1")).alias("b1"),
        _r6(F.col("b2")).alias("b2"),
        _r6(F.col("b0")).alias("b0"),
    )


@register(
    "m7_vdot",
    oracle="""
WITH r AS (
  SELECT l_orderkey, l_linenumber,
         l_quantity AS t_min,
         l_extendedprice / 10.0 AS d_m
  FROM lineitem WHERE l_quantity BETWEEN 2 AND 45
)
SELECT l_orderkey, l_linenumber,
       ROUND((-4.60 + 0.182258 * (d_m / t_min) + 0.000104 * (d_m / t_min) * (d_m / t_min))
             / (0.8 + 0.1894393 * EXP(-0.012778 * t_min) + 0.2989558 * EXP(-0.1932605 * t_min)),
             6) AS vdot
FROM r
""",
    tags=("ml", "scalar", "read"),
)
def m7_vdot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 Daniels VDOT from (distance, duration): oxygen-cost quadratic
    / %VO2max exponential decay (``mcp/fitness/vdot.py:20-60``), applied
    as pure column expressions over a synthetic effort table."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(2, 45)
    )
    eff = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("t_min"),
        (F.col("l_extendedprice") / 10.0).alias("d_m"),
    )
    return eff.select(
        "l_orderkey",
        "l_linenumber",
        _r6(race_vdot(F.col("d_m"), F.col("t_min"))).alias("vdot"),
    )


@register(
    "m8_best_segment",
    oracle="""
WITH w AS (
  SELECT l_orderkey, l_linenumber,
         (CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_extendedprice, l_partkey, l_suppkey
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0) AS win_sum,
         COUNT(*) OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_extendedprice, l_partkey, l_suppkey
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS win_rows
  FROM lineitem
),
ranked AS (
  SELECT l_orderkey, l_linenumber, win_sum,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY win_sum DESC, l_linenumber ASC) AS rn
  FROM w WHERE win_rows = 3
)
SELECT l_orderkey, l_linenumber AS best_end_line, win_sum AS best_sum
FROM ranked WHERE rn = 1
""",
    tags=("ml", "window", "read"),
)
def m8_best_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 best contiguous effort segment: maximal 3-row sliding-window
    sum per group with deterministic tie-break — the fastest-window
    search over ordered splits (``objective_fitness/segments.py:40-119``)
    as window cumulative sums instead of a Python loop.  The price is
    2-dp fixed point, so the sliding sum runs as a scaled LONG inside
    the window (primitive codegen buffer) and descales after — exact on
    both engines and ~2× the DECIMAL(22,2) window it replaced; the frame
    ordering extends to a unique composite (linenumber is not unique
    within an order) so ROWS frames are deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_extendedprice", "l_partkey", "l_suppkey")
        .rowsBetween(-2, 0)
    )
    sums = li.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5)).over(w).cast("double")
            / 100.0
        ).alias("win_sum"),
        F.count(F.lit(1)).over(w).alias("win_rows"),
    ).filter(F.col("win_rows") == 3)
    rank_w = Window.partitionBy("l_orderkey").orderBy(
        F.col("win_sum").desc(), F.col("l_linenumber").asc()
    )
    return (
        sums.withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") == 1)
        .select(
            "l_orderkey",
            F.col("l_linenumber").alias("best_end_line"),
            F.col("win_sum").alias("best_sum"),
        )
    )


@register(
    "m13_weighted_similarity",
    oracle="""
WITH scored AS (
  SELECT l_orderkey, l_linenumber,
         LEAST(100.0, GREATEST(0.0,
           (0.6 * GREATEST(0.0, 1.0 - ABS(l_extendedprice - 30000.0) / 30000.0)
          + 0.4 * GREATEST(0.0, 1.0 - ABS(l_quantity - 25.0) / 25.0)) * 100.0
         )) AS similarity_score
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, ROUND(similarity_score, 6) AS similarity_score
FROM scored
ORDER BY similarity_score DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 20
""",
    tags=("ml", "topk"),
)
def m13_weighted_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13 weighted multi-attribute similarity (price .6 + quantity .4,
    clamped 0-100) with deterministic top-20
    (``comparisons.py:39-104,411-454``)."""
    li = load_table(spark, sf_dir, "lineitem")
    scored = weighted_similarity(
        li,
        target={"l_extendedprice": 30000.0, "l_quantity": 25.0},
        weights={"l_extendedprice": 0.6, "l_quantity": 0.4},
        scales={"l_extendedprice": 30000.0, "l_quantity": 25.0},
    )
    return (
        scored.orderBy(
            F.col("similarity_score").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(20)
        .select(
            "l_orderkey",
            "l_linenumber",
            _r6(F.col("similarity_score")).alias("similarity_score"),
        )
    )


@register(
    "m16_theil_sen",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS x
  FROM events GROUP BY 1, 2
),
pts AS (
  SELECT user_id, datediff('day', DATE '2024-01-01', day) AS t, x FROM daily
),
pairs AS (
  SELECT a.user_id,
         FLOOR((b.x - a.x) / (b.t - a.t) * 100000000.0 + 0.5) AS slope
  FROM pts a JOIN pts b ON a.user_id = b.user_id AND b.t > a.t
),
sm AS (
  SELECT user_id, MEDIAN(slope) / 100000000.0 AS ts_slope,
         COUNT(*) AS n_pairs
  FROM pairs GROUP BY 1
),
ic AS (
  SELECT p.user_id,
         MEDIAN(FLOOR((p.x - sm.ts_slope * p.t) * 100000000.0 + 0.5))
           / 100000000.0 AS ts_intercept
  FROM pts p JOIN sm ON p.user_id = sm.user_id GROUP BY p.user_id
),
nd AS (SELECT user_id, COUNT(*) AS n_points FROM pts GROUP BY 1)
SELECT nd.user_id, CAST(nd.n_points AS BIGINT) AS n_points,
       CAST(sm.n_pairs AS BIGINT) AS n_pairs,
       FLOOR(sm.ts_slope * 1000000.0 + 0.5) / 1000000.0 AS ts_slope,
       FLOOR(ic.ts_intercept * 1000000.0 + 0.5) / 1000000.0 AS ts_intercept
FROM nd JOIN sm ON nd.user_id = sm.user_id
JOIN ic ON nd.user_id = ic.user_id
""",
    tags=("ml", "robust", "batch"),
)
def m16_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per user over the daily-mean series
    (``operators/regression.theil_sen_by_group``) — the median-of-
    pairwise-slopes estimator (29% breakdown) that completes the
    robust family next to Huber-IRLS (m5c) and the OLS fits (m1/m4):
    one corrupted day can drag OLS arbitrarily, Theil-Sen shrugs.
    The pairwise join is quadratic IN THE GROUP and the group is
    calendar-bounded (≤31 daily rows here; a production window is
    similarly capped), so the estimator is linear in #users; both
    medians run through the distributed histogram median, never a
    one-task percentile buffer.  Slope values are the identical IEEE
    division in both engines, and MEDIAN's even-count midpoint
    average is the same two-sided rule — exact hash parity after 6dp
    rounding."""
    from ..operators.regression import theil_sen_by_group
    from .registry import dec_avg

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        dec_avg(F.col("value")).alias("x")
    )
    pts = daily.select(
        "user_id",
        F.datediff("day", F.lit("2024-01-01")).cast("int").alias("t"),
        "x",
    )
    out = theil_sen_by_group(pts, ["user_id"], "t", "x", median_scale=8)

    # floor-quantization, not ROUND: the 1e-8 median grid puts
    # midpoints EXACTLY on 6dp half-way points, where the engines'
    # ROUND rules legally disagree (measured: 3 of 1500 groups at sf0.1)
    return out.select(
        "user_id",
        "n_points",
        "n_pairs",
        q6(F.col("ts_slope")).alias("ts_slope"),
        q6(F.col("ts_intercept")).alias("ts_intercept"),
    )
