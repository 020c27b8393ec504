"""Second stats/analytics batch: M2 LOO fragility, M4 OLS+VIF,
M9 critical speed, T6 interval segmentation, A12 group-collect,
A14 median-of-series, W7 baseline bands."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.datetime_funcs import day_number, week_start
from ..operators.efforts import (
    interval_fatigue,
    interval_segments,
    work_recovery_comparison,
)
from ..operators.fragility import loo_slope_fragility
from ..operators.windows import trailing_baseline_band
from ..sources.tables import load_table
from .q_ml import _OLS2_MOMENTS, _hour_day_points
from .q_window import _DAILY_LOAD_CTE, _daily_load
from .registry import r6 as _r6
from .registry import register


@register(
    "m2_loo_fragility",
    oracle="""
WITH d AS (
  SELECT event_type,
         CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x,
         value AS y
  FROM events WHERE value IS NOT NULL
),
s AS (
  SELECT event_type, x, y,
         COUNT(*) OVER w AS n, SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
         SUM(x*x) OVER w AS sxx, SUM(x*y) OVER w AS sxy
  FROM d WINDOW w AS (PARTITION BY event_type)
),
p AS (
  SELECT event_type, x, n,
         (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope,
         CASE WHEN ((n-1)*(sxx - x*x) - (sx-x)*(sx-x)) <> 0
              THEN ((n-1)*(sxy - x*y) - (sx-x)*(sy-y))
                   / ((n-1)*(sxx - x*x) - (sx-x)*(sx-x)) END AS slope_loo
  FROM s
),
q AS (
  SELECT event_type, x, n, slope, slope_loo,
         ABS(slope_loo - slope) AS delta,
         CASE WHEN slope_loo IS NOT NULL AND ABS(slope_loo) > 1e-9
                   AND ABS(slope) > 1e-9 AND sign(slope_loo) <> sign(slope)
              THEN 1 ELSE 0 END AS flip,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ABS(slope_loo - slope) DESC, x ASC) AS rn
  FROM p WHERE n >= 4
)
SELECT event_type,
       ROUND(MAX(slope), 6) AS slope,
       MAX(n) AS n,
       CAST(SUM(flip) AS BIGINT) AS direction_flips,
       ROUND(MAX(delta), 6) AS max_delta_slope,
       ROUND(MAX(CASE WHEN rn = 1 THEN x END), 6) AS leverage_x
FROM q
GROUP BY event_type
""",
    tags=("ml", "regression"),
)
def m2_loo_fragility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 leave-one-out fragility via sufficient statistics — the O(n²)
    re-fit loop (``durability.py:473-557``) collapsed to one window pass
    (algebraically identical slopes)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    prepared = ev.select(
        "event_type",
        day_number(F.col("ts")).cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    out = loo_slope_fragility(prepared, ["event_type"], "x", "y", min_points=4)
    return out.select(
        "event_type",
        _r6(F.col("slope")).alias("slope"),
        "n",
        F.col("direction_flips").cast("bigint").alias("direction_flips"),
        _r6(F.col("max_delta_slope")).alias("max_delta_slope"),
        _r6(F.col("leverage_x")).alias("leverage_x"),
    )


@register(
    "m4_ols_vif",
    oracle=f"""
WITH {_OLS2_MOMENTS},
         VAR_POP(y) AS vy
  FROM d GROUP BY event_type
),
b AS (
  SELECT *,
         (c1y*v2 - c2y*c12) / (v1*v2 - c12*c12) AS b1,
         (c2y*v1 - c1y*c12) / (v1*v2 - c12*c12) AS b2,
         (c12*c12) / (v1*v2) AS r12sq
  FROM m WHERE n >= 10 AND (v1*v2 - c12*c12) > 1e-12
),
e AS (
  SELECT *,
         n * (vy - b1*c1y - b2*c2y) AS sse
  FROM b
)
SELECT event_type, n,
       ROUND(b1, 6) AS b1,
       ROUND(b2, 6) AS b2,
       ROUND(my - b1*m1 - b2*m2, 6) AS b0,
       ROUND(1.0 / (1.0 - r12sq), 6) AS vif,
       ROUND(b1 / sqrt((sse / (n-3)) / (n * v1 * (1.0 - r12sq))), 6) AS t_b1,
       ROUND(b2 / sqrt((sse / (n-3)) / (n * v2 * (1.0 - r12sq))), 6) AS t_b2,
       CASE WHEN 1.0 / (1.0 - r12sq) > 10.0 THEN 1 ELSE 0 END AS collinear
FROM e
""",
    tags=("ml", "regression"),
)
def m4_ols_vif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 multivariate OLS with coefficient t-statistics and VIF
    collinearity diagnostics — the weight↔economy model
    (``mcp/analysis/running_economy.py:98-342``, VIF :214-232) in closed
    form (p-values become the monotone-equivalent t statistics)."""
    d = _hour_day_points(spark, sf_dir)
    m = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("x1").alias("m1"),
        F.avg("x2").alias("m2"),
        F.avg("y").alias("my"),
        F.covar_pop("x1", "y").alias("c1y"),
        F.covar_pop("x2", "y").alias("c2y"),
        F.covar_pop("x1", "x2").alias("c12"),
        F.var_pop("x1").alias("v1"),
        F.var_pop("x2").alias("v2"),
        F.var_pop("y").alias("vy"),
    )
    det = F.col("v1") * F.col("v2") - F.col("c12") * F.col("c12")
    b1 = (F.col("c1y") * F.col("v2") - F.col("c2y") * F.col("c12")) / det
    b2 = (F.col("c2y") * F.col("v1") - F.col("c1y") * F.col("c12")) / det
    r12sq = (F.col("c12") * F.col("c12")) / (F.col("v1") * F.col("v2"))
    vif = 1.0 / (1.0 - r12sq)
    sse = F.col("n") * (F.col("vy") - b1 * F.col("c1y") - b2 * F.col("c2y"))
    sigma2 = sse / (F.col("n") - 3)
    t_b1 = b1 / F.sqrt(sigma2 / (F.col("n") * F.col("v1") * (1.0 - r12sq)))
    t_b2 = b2 / F.sqrt(sigma2 / (F.col("n") * F.col("v2") * (1.0 - r12sq)))
    return (
        m.filter((F.col("n") >= 10) & (det > 1e-12))
        .select(
            "event_type",
            "n",
            _r6(b1).alias("b1"),
            _r6(b2).alias("b2"),
            _r6(F.col("my") - b1 * F.col("m1") - b2 * F.col("m2")).alias("b0"),
            _r6(vif).alias("vif"),
            _r6(t_b1).alias("t_b1"),
            _r6(t_b2).alias("t_b2"),
            F.when(vif > 10.0, 1).otherwise(0).alias("collinear"),
        )
    )


@register(
    "m9_critical_speed",
    oracle="""
WITH e AS (
  SELECT l_suppkey, CAST(l_quantity AS DOUBLE) AS t, l_extendedprice / 10.0 AS d
  FROM lineitem WHERE l_quantity BETWEEN 2 AND 45
),
f AS (
  SELECT a.* FROM e a
  WHERE NOT EXISTS (
    SELECT 1 FROM e b
    WHERE b.l_suppkey = a.l_suppkey
      AND b.t <= a.t AND b.d >= a.d AND (b.t < a.t OR b.d > a.d)
  )
),
m AS (
  -- DECIMAL moment sums: exact and order-independent, so the double
  -- arithmetic below is bit-identical across engines
  SELECT l_suppkey, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(t AS DECIMAL(22,3))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(d AS DECIMAL(22,3))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(t * d AS DECIMAL(22,3))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(t * t AS DECIMAL(22,3))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(d * d AS DECIMAL(22,6))) AS DOUBLE) AS syy
  FROM f GROUP BY l_suppkey
)
SELECT l_suppkey, CAST(n AS BIGINT) AS n_frontier,
       ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS critical_speed,
       ROUND((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6) AS d_prime,
       ROUND((n*sxy - sx*sy) * (n*sxy - sx*sy)
             / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
FROM m WHERE n >= 3 AND (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
""",
    tags=("ml",),
)
def m9_critical_speed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 critical-speed fit: Pareto-frontier dominated-point removal
    over (duration, distance) efforts + least-squares ``d = CS·t + D'``
    (``mcp/objective_fitness/critical_speed.py:50-157``).  Moments come
    from DECIMAL-exact sums: the intercept's ~1e4 magnitude makes 6-dp
    rounding sensitive to summation-order noise otherwise."""
    from ..operators.efforts import pareto_frontier

    li = load_table(spark, sf_dir, "lineitem")
    efforts = li.select(
        "l_suppkey",
        F.col("l_quantity").cast("double").alias("t"),
        (F.col("l_extendedprice") / 10.0).alias("d"),
    ).filter(F.col("t").between(2.0, 45.0))
    frontier = pareto_frontier(efforts, ["l_suppkey"], "t", "d")
    t, d = F.col("t"), F.col("d")
    m = frontier.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(t.cast("decimal(22,3)")).cast("double").alias("sx"),
        F.sum(d.cast("decimal(22,3)")).cast("double").alias("sy"),
        F.sum((t * d).cast("decimal(22,3)")).cast("double").alias("sxy"),
        F.sum((t * t).cast("decimal(22,3)")).cast("double").alias("sxx"),
        F.sum((d * d).cast("decimal(22,6)")).cast("double").alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = (F.col(c) for c in ["n", "sx", "sy", "sxy", "sxx", "syy"])
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return (
        m.filter((n >= 3) & (n * sxx - sx * sx > 0) & (n * syy - sy * sy > 0))
        .select(
            "l_suppkey",
            n.cast("bigint").alias("n_frontier"),
            _r6(slope).alias("critical_speed"),
            _r6((sy - slope * sx) / n).alias("d_prime"),
            _r6(
                (n * sxy - sx * sy)
                * (n * sxy - sx * sy)
                / ((n * sxx - sx * sx) * (n * syy - sy * sy))
            ).alias("r2"),
        )
    )


# Work/recovery segmentation over the ``e`` CTE's 0/1 ``state``: a new
# segment starts at every state change (event_id tiebreaks equal ts).
_STATE_SEGMENT_CTES = """c AS (
  SELECT *, CASE WHEN LAG(state) OVER w IS NULL OR LAG(state) OVER w <> state
                 THEN 1 ELSE 0 END AS chg
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS segment_id
  FROM c
)"""


@register(
    "t6_interval_fatigue",
    oracle=f"""
WITH e AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN value >= 10 THEN 1 ELSE 0 END AS state
  FROM events
),
{_STATE_SEGMENT_CTES},
seg AS (
  SELECT user_id, segment_id, MAX(state) AS is_work,
         CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / COUNT(value) AS seg_avg
  FROM s GROUP BY 1, 2
),
work AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY segment_id ASC) AS rf,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY segment_id DESC) AS rl
  FROM seg WHERE is_work = 1
)
SELECT user_id, COUNT(*) AS n_work_segments,
       ROUND(MAX(CASE WHEN rf = 1 THEN seg_avg END), 6) AS first_work_avg,
       ROUND(MAX(CASE WHEN rl = 1 THEN seg_avg END), 6) AS last_work_avg,
       ROUND(MAX(CASE WHEN rl = 1 THEN seg_avg END)
             - MAX(CASE WHEN rf = 1 THEN seg_avg END), 6) AS fatigue_delta
FROM work GROUP BY user_id
""",
    tags=("timeseries",),
)
def t6_interval_fatigue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 interval segmentation + fatigue: work/recovery change-detection
    segments, then last-vs-first work-segment delta
    (``mcp/rag/queries/interval_analysis.py:25-329``)."""
    ev = load_table(spark, sf_dir, "events")
    segs = interval_segments(
        ev, ["user_id"], ["ts", "event_id"], F.col("value") >= 10
    )
    out = interval_fatigue(segs, ["user_id"], "value")
    return out.select(
        "user_id",
        "n_work_segments",
        _r6(F.col("first_work_avg")).alias("first_work_avg"),
        _r6(F.col("last_work_avg")).alias("last_work_avg"),
        _r6(F.col("fatigue_delta")).alias("fatigue_delta"),
    )


@register(
    "a12_group_collect",
    oracle="""
SELECT l_orderkey,
       array_to_string(list_sort(list(CAST(l_quantity AS INTEGER))), ',') AS qty_list,
       COUNT(*) AS n_lines
FROM lineitem
GROUP BY l_orderkey
""",
    tags=("agg",),
)
def a12_group_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 group-then-collect: per-group ordered value list (the
    fitness-curve per-activity split collection,
    ``readers/fitness_curve.py:95-131``), emitted as a canonical sorted
    CSV string so both engines agree bytewise."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.col("l_quantity").cast("int"))), ","
        ).alias("qty_list"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "a14_weekly_median_delta",
    oracle="""
WITH wk AS (
  SELECT event_type,
         strftime(CAST(ts AS DATE) - ((isodow(ts) - 1) % 7) * INTERVAL 1 DAY,
                  '%Y-%m-%d') AS week_start,
         median(value) AS med
  FROM events GROUP BY 1, 2
)
SELECT event_type, week_start,
       ROUND(med, 6) AS median_value,
       ROUND(med - LAG(med) OVER (PARTITION BY event_type ORDER BY week_start), 6)
         AS delta_vs_prev
FROM wk
""",
    tags=("agg", "calendar"),
)
def a14_weekly_median_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 median-of-series with period-over-period delta — the weekly
    metric medians (``mcp/rag/queries/trends.py:161-222``,
    ``mcp/analysis/recovery.py:38-87``)."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.groupBy(
        "event_type",
        F.date_format(week_start(F.col("ts")), "yyyy-MM-dd").alias("week_start"),
    ).agg(F.expr("percentile(value, 0.5)").alias("med"))
    w = Window.partitionBy("event_type").orderBy("week_start")
    return wk.select(
        "event_type",
        "week_start",
        _r6(F.col("med")).alias("median_value"),
        _r6(F.col("med") - F.lag("med", 1).over(w)).alias("delta_vs_prev"),
    )


@register(
    "w7_baseline_band",
    oracle=f"""
WITH {_DAILY_LOAD_CTE},
b AS (
  SELECT user_id, day, load,
         AVG(load) OVER w AS baseline_mean,
         STDDEV_SAMP(load) OVER w AS baseline_std,
         COUNT(load) OVER w AS baseline_n
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY dn RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, day, ROUND(load, 6) AS load,
       ROUND(baseline_mean, 6) AS baseline_mean,
       ROUND(baseline_std, 6) AS baseline_std,
       baseline_n,
       ROUND(CASE WHEN baseline_n >= 3 AND baseline_std > 0
                  THEN (load - baseline_mean) / baseline_std END, 6) AS baseline_z,
       CASE WHEN baseline_n >= 3 AND baseline_std > 0
                 AND (load - baseline_mean) / baseline_std < -1.0
            THEN 1 ELSE 0 END AS adverse
FROM b
""",
    tags=("window", "rolling"),
)
def w7_baseline_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 rolling personal baseline band: trailing-7-day mean ± SD
    excluding today, z-score + adverse flag
    (``mcp/analysis/wellness_baseline.py:52-198``)."""
    daily = _daily_load(spark, sf_dir)
    banded = trailing_baseline_band(daily, ["user_id"], "dn", "load", 7, 3)
    adverse = F.when(
        F.col("baseline_z").isNotNull() & (F.col("baseline_z") < -1.0), 1
    ).otherwise(0)
    return banded.select(
        "user_id",
        "day",
        _r6(F.col("load")).alias("load"),
        _r6(F.col("baseline_mean")).alias("baseline_mean"),
        _r6(F.col("baseline_std")).alias("baseline_std"),
        "baseline_n",
        _r6(F.col("baseline_z")).alias("baseline_z"),
        adverse.alias("adverse"),
    )


@register(
    "t6_work_recovery",
    oracle=f"""
WITH e AS (
  SELECT user_id, ts, event_id, value,
         CAST(epoch_us(ts) AS DOUBLE) / 1000000.0 AS t_s,
         CASE WHEN value >= 10 THEN 1 ELSE 0 END AS state
  FROM events
),
{_STATE_SEGMENT_CTES},
seg AS (
  SELECT user_id, segment_id, MAX(state) AS is_work,
         CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / COUNT(value) AS seg_avg,
         MAX(t_s) - MIN(t_s) AS dur_s
  FROM s GROUP BY 1, 2
),
wk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY segment_id) AS rn
  FROM seg WHERE is_work = 1
),
rc AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY segment_id) AS rn
  FROM seg WHERE is_work = 0
),
pairs AS (
  SELECT w.user_id, (w.seg_avg - r.seg_avg) / (r.dur_s / 60.0) AS rate
  FROM wk w JOIN rc r ON r.user_id = w.user_id AND r.rn = w.rn
  WHERE r.dur_s > 0
),
wsum AS (SELECT user_id, COUNT(*) AS work_count,
         CAST(SUM(CAST(seg_avg AS DECIMAL(30,12))) AS DOUBLE) / COUNT(seg_avg) AS avg_work_value
         FROM wk GROUP BY user_id),
rsum AS (SELECT user_id, COUNT(*) AS recovery_count,
         CAST(SUM(CAST(seg_avg AS DECIMAL(30,12))) AS DOUBLE) / COUNT(seg_avg) AS avg_recovery_value
         FROM rc GROUP BY user_id),
psum AS (SELECT user_id, CAST(SUM(CAST(rate AS DECIMAL(30,12))) AS DOUBLE) / COUNT(rate) AS avg_hr_recovery_rate FROM pairs GROUP BY user_id)
SELECT w.user_id, w.work_count, r.recovery_count,
       ROUND(w.avg_work_value, 6) AS avg_work_value,
       ROUND(r.avg_recovery_value, 6) AS avg_recovery_value,
       ROUND(p.avg_hr_recovery_rate, 6) AS avg_hr_recovery_rate
FROM wsum w JOIN rsum r ON r.user_id = w.user_id
LEFT JOIN psum p ON p.user_id = w.user_id
""",
    tags=("timeseries", "read"),
)
def t6_work_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 work/recovery comparison + HR recovery rate (bpm/min): i-th
    work rep paired with i-th recovery rep, rate = HR drop over the
    recovery duration in minutes
    (``mcp/rag/queries/interval_analysis.py:149-329``)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "t_s", F.unix_micros("ts").cast("double") / 1000000.0
    )
    segs = interval_segments(
        ev, ["user_id"], ["ts", "event_id"], F.col("value") >= 10
    )
    out = work_recovery_comparison(segs, ["user_id"], "value", "t_s")
    return out.select(
        "user_id",
        "work_count",
        "recovery_count",
        _r6(F.col("avg_work_value")).alias("avg_work_value"),
        _r6(F.col("avg_recovery_value")).alias("avg_recovery_value"),
        _r6(F.col("avg_hr_recovery_rate")).alias("avg_hr_recovery_rate"),
    )
