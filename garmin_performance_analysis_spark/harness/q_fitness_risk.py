"""Fourth coverage batch: the objective-fitness / risk composites —
M10 rolling fitness curve, M11 blended race prediction, M12 composite
injury risk, M14 weighted star rating, M15 training-gap detection, T8
material-event rate silver."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.datetime_funcs import day_number
from ..operators.fitness import (
    detect_training_gaps,
    objective_fitness_curve,
    race_prediction_blend,
)
from ..operators.material_events import material_event_rates
from ..operators.risk import (
    acwr_risk,
    composite_injury_risk,
    durability_risk,
    form_anomaly_risk,
    wellness_risk,
)
from ..sources.tables import load_table
from .registry import dec_avg, dec_std, register, r6, sql_davg, sql_dstd


@register(
    "m10_fitness_curve",
    oracle="""
WITH daily AS (
  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dn,
         MAX(CASE WHEN event_type = 'purchase' THEN value END) AS best_vdot,
         MAX(CASE WHEN event_type = 'view' THEN value END) AS garmin_vdot
  FROM events GROUP BY 1
)
SELECT dn,
       ROUND(best_vdot, 6) AS best_vdot,
       ROUND(MAX(best_vdot) OVER (ORDER BY dn RANGE BETWEEN 7 PRECEDING AND CURRENT ROW), 6)
         AS fitness_vdot,
       ROUND(garmin_vdot, 6) AS garmin_vdot,
       ROUND(CASE WHEN garmin_vdot IS NOT NULL
                  THEN garmin_vdot
                       - MAX(best_vdot) OVER (ORDER BY dn RANGE BETWEEN 7 PRECEDING AND CURRENT ROW)
             END, 6) AS optimism_gap
FROM daily
""",
    tags=("ml", "window"),
)
def m10_fitness_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 objective fitness curve: per-day best effort VDOT → trailing
    rolling max → optimism gap vs the device estimate
    (``mcp/objective_fitness/curve.py:35-97``,
    ``readers/fitness_curve.py:36-158``).  Single-athlete semantics like
    the reference, so the unpartitioned window holds ~days rows — the
    per-day MAX pre-aggregation upstream is what keeps it scale-safe."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        day_number(F.col("ts")).alias("dn"),
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("vdot"),
        F.when(F.col("event_type") == "view", F.col("value")).alias("garmin_vdot"),
    )
    curve = objective_fitness_curve(daily, "dn", "vdot", "garmin_vdot", window_days=7)
    return curve.select(
        "dn",
        r6(F.col("best_vdot")).alias("best_vdot"),
        r6(F.col("fitness_vdot")).alias("fitness_vdot"),
        r6(F.col("garmin_vdot")).alias("garmin_vdot"),
        r6(F.col("optimism_gap")).alias("optimism_gap"),
    )


@register(
    "m11_race_prediction",
    oracle="""
WITH p AS (
  SELECT user_id,
         COUNT(CASE WHEN event_type = 'purchase' THEN value END) AS nc,
         COUNT(CASE WHEN event_type = 'signup' THEN value END) AS nv,
         {curve} AS curve_avg,
         {vdot} AS vdot_avg
  FROM events GROUP BY user_id
),
t AS (
  SELECT user_id,
         CASE WHEN nc > 0 THEN curve_avg * 100.0 END AS curve_time_s,
         CASE WHEN nv > 0 THEN vdot_avg * 100.0 END AS vdot_time_s
  FROM p
)
SELECT user_id,
       ROUND(curve_time_s, 6) AS curve_time_s,
       ROUND(vdot_time_s, 6) AS vdot_time_s,
       ROUND(CASE WHEN curve_time_s IS NOT NULL AND vdot_time_s IS NOT NULL
                  THEN curve_time_s * 0.6 + vdot_time_s * 0.4
                  ELSE COALESCE(curve_time_s, vdot_time_s) END, 6) AS predicted_time_s,
       CASE WHEN curve_time_s IS NOT NULL AND vdot_time_s IS NOT NULL
                 AND ABS(curve_time_s - vdot_time_s) / curve_time_s <= 0.03 THEN 'high'
            WHEN curve_time_s IS NOT NULL AND vdot_time_s IS NOT NULL THEN 'medium'
            WHEN COALESCE(curve_time_s, vdot_time_s) IS NOT NULL THEN 'low'
       END AS confidence
FROM t
""".format(
        curve=sql_davg("CASE WHEN event_type = 'purchase' THEN value END"),
        vdot=sql_davg("CASE WHEN event_type = 'signup' THEN value END"),
    ),
    tags=("ml",),
)
def m11_race_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11 blended race prediction: 0.6·curve + 0.4·VDOT when both
    sources exist, else the available one, with agreement-based
    confidence (high ≤3% / medium / low)
    (``mcp/analysis/race_prediction.py:29-186``)."""
    ev = load_table(spark, sf_dir, "events")
    curve_v = F.when(F.col("event_type") == "purchase", F.col("value"))
    vdot_v = F.when(F.col("event_type") == "signup", F.col("value"))

    p = ev.groupBy("user_id").agg(
        F.count(curve_v).alias("nc"),
        F.count(vdot_v).alias("nv"),
        dec_avg(curve_v).alias("curve_avg"),
        dec_avg(vdot_v).alias("vdot_avg"),
    )
    t = p.select(
        "user_id",
        F.when(F.col("nc") > 0, F.col("curve_avg") * 100.0).alias("curve_time_s"),
        F.when(F.col("nv") > 0, F.col("vdot_avg") * 100.0).alias("vdot_time_s"),
    )
    blended, confidence = race_prediction_blend(
        F.col("curve_time_s"), F.col("vdot_time_s")
    )
    return t.select(
        "user_id",
        r6(F.col("curve_time_s")).alias("curve_time_s"),
        r6(F.col("vdot_time_s")).alias("vdot_time_s"),
        r6(blended).alias("predicted_time_s"),
        confidence.alias("confidence"),
    )


_M12_SIGNALS = """
daily AS (
  SELECT user_id,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dn,
         SUM(CAST(value AS DECIMAL(22,2))) AS load_dec,
         SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS n_material
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT user_id, dn, CAST(load_dec AS DOUBLE) AS load, load_dec, n_material,
         MAX(dn) OVER u AS maxdn,
         COUNT(*) OVER u AS n_days,
         CAST(SUM(load_dec) OVER u AS DOUBLE) / COUNT(*) OVER u AS mean_load,
         CASE WHEN COUNT(*) OVER u > 1 THEN
           sqrt(GREATEST((CAST(SUM(CAST(CAST(load_dec AS DOUBLE) * CAST(load_dec AS DOUBLE) AS DECIMAL(38,6))) OVER u AS DOUBLE)
                 - CAST(SUM(load_dec) OVER u AS DOUBLE) * CAST(SUM(load_dec) OVER u AS DOUBLE) / COUNT(*) OVER u)
                / (COUNT(*) OVER u - 1), 0.0)) END AS std_load
  FROM daily WINDOW u AS (PARTITION BY user_id)
),
sig AS (
  SELECT user_id,
         MAX(n_days) AS n_days,
         CAST(SUM(CASE WHEN dn > maxdn - 7 THEN load_dec END) AS DOUBLE) AS acute_load,
         CAST(SUM(CASE WHEN dn > maxdn - 28 THEN load_dec END) AS DOUBLE) AS chronic_load,
         CAST(SUM(CAST(dn AS DECIMAL(22,0))) AS DOUBLE) AS sx,
         CAST(SUM(load_dec) AS DOUBLE) AS sy,
         CAST(SUM(CAST(dn * load AS DECIMAL(30,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(dn * dn AS DECIMAL(22,0))) AS DOUBLE) AS sxx,
         SUM(CASE WHEN std_load > 0 AND load < mean_load - std_load THEN 1 ELSE 0 END) AS adverse_days,
         SUM(CASE WHEN std_load > 0 THEN 1 ELSE 0 END) AS usable_days,
         SUM(CASE WHEN dn > maxdn - 7 THEN n_material ELSE 0 END) AS acute_cnt,
         SUM(CASE WHEN dn > maxdn - 28 THEN n_material ELSE 0 END) AS chronic_cnt
  FROM w
  CROSS JOIN (SELECT 1) dummy
  GROUP BY user_id
),
risks AS (
  SELECT user_id,
         CASE WHEN chronic_load > 0 THEN acute_load / (chronic_load / 4.0) END AS acwr_ratio,
         CASE WHEN n_days >= 3 AND (n_days * sxx - sx * sx) > 0
              THEN (n_days * sxy - sx * sy) / (n_days * sxx - sx * sx) END AS slope,
         CASE WHEN usable_days > 0
              THEN CAST(adverse_days AS DOUBLE) / usable_days END AS wellness_frac,
         CASE WHEN chronic_cnt > 0 THEN acute_cnt / (chronic_cnt / 4.0) END AS event_rate_ratio,
         chronic_cnt / 28.0 AS baseline_rate
  FROM sig
),
rf AS (
  SELECT user_id,
         CASE WHEN acwr_ratio IS NULL THEN NULL
              WHEN acwr_ratio <= 1.3 THEN 0.0
              WHEN acwr_ratio >= 1.8 THEN 1.0
              WHEN acwr_ratio <= 1.5 THEN (acwr_ratio - 1.3) / (1.5 - 1.3) * 0.5
              ELSE 0.5 + (acwr_ratio - 1.5) / (1.8 - 1.5) * 0.5 END AS acwr_risk,
         CASE WHEN slope IS NULL THEN NULL
              WHEN slope < 0 THEN 1.0 ELSE 0.0 END AS durability_risk,
         wellness_frac AS wellness_risk,
         CASE WHEN event_rate_ratio IS NULL OR baseline_rate < 0.2 THEN NULL
              WHEN event_rate_ratio <= 1.2 THEN 0.0
              WHEN event_rate_ratio >= 2.0 THEN 1.0
              ELSE (event_rate_ratio - 1.2) / (2.0 - 1.2) END AS form_risk,
         acwr_ratio
  FROM risks
)
"""


@register(
    "m12_injury_risk",
    oracle=f"""
WITH {_M12_SIGNALS},
f AS (
  SELECT *,
         (CASE WHEN acwr_risk IS NOT NULL THEN 0.40 ELSE 0.0 END
          + CASE WHEN durability_risk IS NOT NULL THEN 0.25 ELSE 0.0 END
          + CASE WHEN wellness_risk IS NOT NULL THEN 0.20 ELSE 0.0 END
          + CASE WHEN form_risk IS NOT NULL THEN 0.15 ELSE 0.0 END) AS avail,
         (CASE WHEN acwr_risk IS NOT NULL THEN acwr_risk * 0.40 ELSE 0.0 END
          + CASE WHEN durability_risk IS NOT NULL THEN durability_risk * 0.25 ELSE 0.0 END
          + CASE WHEN wellness_risk IS NOT NULL THEN wellness_risk * 0.20 ELSE 0.0 END
          + CASE WHEN form_risk IS NOT NULL THEN form_risk * 0.15 ELSE 0.0 END) AS weighted
  FROM rf
)
SELECT user_id,
       ROUND(acwr_ratio, 6) AS acwr_ratio,
       ROUND(acwr_risk, 6) AS acwr_risk,
       ROUND(durability_risk, 6) AS durability_risk,
       ROUND(wellness_risk, 6) AS wellness_risk,
       ROUND(form_risk, 6) AS form_risk,
       ROUND(CASE WHEN avail > 0 THEN weighted / avail * 100.0 END, 6) AS injury_risk_score,
       CASE WHEN avail <= 0 THEN NULL
            WHEN weighted / avail * 100.0 < 30 THEN 'low'
            WHEN weighted / avail * 100.0 <= 60 THEN 'moderate'
            ELSE 'high' END AS injury_risk_band
FROM f
""",
    tags=("ml", "composite"),
)
def m12_injury_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12 composite injury risk: four independently-nullable signals
    (ACWR ramp, durability direction, wellness adverse fraction,
    material-event rate ramp) fused with weight renormalization into a
    0–100 score + band (``mcp/analysis/injury_risk.py:33-239``).
    Everything is one scan + one grouped pass: the per-user window
    stats and the conditional acute/chronic sums share the shuffle."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", day_number(F.col("ts")).alias("dn")
    ).agg(
        F.sum(F.col("value").cast("decimal(22,2)")).alias("load_dec"),
        F.sum(F.when(F.col("value") > 100, 1).otherwise(0)).alias("n_material"),
    )
    u = Window.partitionBy("user_id")
    load = F.col("load_dec").cast("double")
    n_over = F.count(F.lit(1)).over(u)
    sum_dec = F.sum("load_dec").over(u).cast("double")
    sxx_w = F.sum((load * load).cast("decimal(38,6)")).over(u).cast("double")
    mean_load = sum_dec / n_over
    std_load = F.when(
        n_over > 1,
        F.sqrt(F.greatest((sxx_w - sum_dec * sum_dec / n_over) / (n_over - 1), F.lit(0.0))),
    )
    w = daily.select(
        "user_id",
        "dn",
        load.alias("load"),
        F.col("load_dec"),
        "n_material",
        F.max("dn").over(u).alias("maxdn"),
        n_over.alias("n_days"),
        mean_load.alias("mean_load"),
        std_load.alias("std_load"),
    )
    in_acute = F.col("dn") > F.col("maxdn") - 7
    in_chronic = F.col("dn") > F.col("maxdn") - 28
    sig = w.groupBy("user_id").agg(
        F.max("n_days").alias("n_days"),
        F.sum(F.when(in_acute, F.col("load_dec"))).cast("double").alias("acute_load"),
        F.sum(F.when(in_chronic, F.col("load_dec"))).cast("double").alias("chronic_load"),
        F.sum(F.col("dn").cast("decimal(22,0)")).cast("double").alias("sx"),
        F.sum("load_dec").cast("double").alias("sy"),
        F.sum((F.col("dn") * F.col("load")).cast("decimal(30,6)")).cast("double").alias("sxy"),
        F.sum((F.col("dn") * F.col("dn")).cast("decimal(22,0)")).cast("double").alias("sxx"),
        F.sum(
            F.when(
                (F.col("std_load") > 0)
                & (F.col("load") < F.col("mean_load") - F.col("std_load")),
                1,
            ).otherwise(0)
        ).alias("adverse_days"),
        F.sum(F.when(F.col("std_load") > 0, 1).otherwise(0)).alias("usable_days"),
        F.sum(F.when(in_acute, F.col("n_material")).otherwise(0)).alias("acute_cnt"),
        F.sum(F.when(in_chronic, F.col("n_material")).otherwise(0)).alias("chronic_cnt"),
    )
    nd, sx, sy, sxy, sxx = (
        F.col("n_days"),
        F.col("sx"),
        F.col("sy"),
        F.col("sxy"),
        F.col("sxx"),
    )
    slope = F.when(
        (nd >= 3) & (nd * sxx - sx * sx > 0), (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    )
    risks = sig.select(
        "user_id",
        F.when(
            F.col("chronic_load") > 0, F.col("acute_load") / (F.col("chronic_load") / 4.0)
        ).alias("acwr_ratio"),
        slope.alias("slope"),
        F.col("adverse_days"),
        F.col("usable_days"),
        F.when(
            F.col("chronic_cnt") > 0, F.col("acute_cnt") / (F.col("chronic_cnt") / 4.0)
        ).alias("event_rate_ratio"),
        (F.col("chronic_cnt") / 28.0).alias("baseline_rate"),
    )
    direction = F.when(F.col("slope").isNull(), "insufficient_data").when(
        F.col("slope") < 0, "worsening"
    ).otherwise("stable")
    rf = risks.select(
        "user_id",
        "acwr_ratio",
        acwr_risk(F.col("acwr_ratio")).alias("acwr_risk"),
        durability_risk(direction).alias("durability_risk"),
        wellness_risk(F.col("adverse_days"), F.col("usable_days")).alias("wellness_risk"),
        form_anomaly_risk(F.col("event_rate_ratio"), F.col("baseline_rate")).alias(
            "form_risk"
        ),
    )
    fused = composite_injury_risk(rf)
    return fused.select(
        "user_id",
        r6(F.col("acwr_ratio")).alias("acwr_ratio"),
        r6(F.col("acwr_risk")).alias("acwr_risk"),
        r6(F.col("durability_risk")).alias("durability_risk"),
        r6(F.col("wellness_risk")).alias("wellness_risk"),
        r6(F.col("form_risk")).alias("form_risk"),
        r6(F.col("injury_risk_score")).alias("injury_risk_score"),
        "injury_risk_band",
    )


@register(
    "m14_star_rating",
    oracle="""
WITH s AS (
  SELECT event_type,
         COUNT(*) AS n,
         LEAST(5.0, {davg} / 20.0) AS s1,
         LEAST(5.0, COALESCE({dstd}, 0.0) / 30.0) AS s2,
         LEAST(5.0, COUNT(*) / 1000.0) AS s3
  FROM events GROUP BY event_type
)
SELECT event_type, n,
       ROUND(s1, 6) AS axis_mean, ROUND(s2, 6) AS axis_spread, ROUND(s3, 6) AS axis_volume,
       ROUND(GREATEST(1.0, LEAST(5.0, s1 * 0.5 + s2 * 0.3 + s3 * 0.2)), 6) AS star_rating
FROM s
""".format(davg=sql_davg("value"), dstd=sql_dstd("value")),
    tags=("expression",),
)
def m14_star_rating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14 weighted star rating: clamped weighted mean of axis scores
    (``mcp/analysis/derivations.py:222-267``) — pure column arithmetic
    over one aggregation pass."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.least(F.lit(5.0), dec_avg(F.col("value")) / 20.0).alias("s1"),
        F.least(
            F.lit(5.0), F.coalesce(dec_std(F.col("value")), F.lit(0.0)) / 30.0
        ).alias("s2"),
        F.least(F.lit(5.0), F.count(F.lit(1)) / 1000.0).alias("s3"),
    )
    star = F.greatest(
        F.lit(1.0),
        F.least(F.lit(5.0), F.col("s1") * 0.5 + F.col("s2") * 0.3 + F.col("s3") * 0.2),
    )
    return s.select(
        "event_type",
        "n",
        r6(F.col("s1")).alias("axis_mean"),
        r6(F.col("s2")).alias("axis_spread"),
        r6(F.col("s3")).alias("axis_volume"),
        r6(star).alias("star_rating"),
    )


@register(
    "m15_training_gaps",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(22,2)) * 100) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT user_id, d, LAG(d) OVER (PARTITION BY user_id ORDER BY d) AS prev
  FROM daily
),
gaps AS (
  SELECT user_id, prev AS gap_start, d AS gap_end,
         datediff('day', prev, d) AS gap_days
  FROM g WHERE datediff('day', prev, d) >= 3
),
weekly AS (
  SELECT user_id, d - ((isodow(d) - 1) % 7) * INTERVAL 1 DAY AS wk,
         SUM(cents) AS wv
  FROM daily GROUP BY 1, 2
),
j AS (
  SELECT gaps.user_id, gap_start, gap_end, gap_days, wk, wv
  FROM gaps JOIN weekly ON gaps.user_id = weekly.user_id
  WHERE wk < CAST(gap_start AS TIMESTAMP)
    AND datediff('day', CAST(wk AS DATE), gap_start) <= 14
)
SELECT user_id,
       strftime(gap_start, '%Y-%m-%d') AS gap_start,
       strftime(gap_end, '%Y-%m-%d') AS gap_end,
       gap_days,
       ROUND(median(wv) / 100.0, 6) AS pre_gap_median_weekly_volume,
       COUNT(*) AS pre_gap_weeks
FROM j GROUP BY 1, 2, 3, 4
""",
    tags=("ml", "window"),
)
def m15_training_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M15 training-gap detection: ≥3-day pauses between consecutive
    active days, with the pre-gap median weekly volume over the prior
    2 weeks (``mcp/fitness/fitness_assessor.py:61-144``).  Volumes ride
    as integer cents so every sum and the median interpolation are
    bit-identical across engines."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        (F.sum(F.col("value").cast("decimal(22,2)") * 100))
        .cast("bigint")
        .alias("cents")
    )
    gaps = detect_training_gaps(
        daily,
        ["user_id"],
        date_col="d",
        volume_col="cents",
        min_gap_days=3,
        lookback_weeks=2,
    )
    return gaps.select(
        "user_id",
        F.date_format("gap_start", "yyyy-MM-dd").alias("gap_start"),
        F.date_format("gap_end", "yyyy-MM-dd").alias("gap_end"),
        "gap_days",
        r6(F.col("pre_gap_median_weekly_volume") / 100.0).alias(
            "pre_gap_median_weekly_volume"
        ),
        "pre_gap_weeks",
    )


@register(
    "t8_material_event_rates",
    oracle="""
WITH sev AS (
  SELECT user_id, datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dn,
         CASE WHEN value > 200 THEN 'high'
              WHEN value > 100 THEN 'medium' ELSE 'low' END AS severity
  FROM events
),
daily AS (
  SELECT user_id, dn, COUNT(*) AS n_material
  FROM sev WHERE severity <> 'low' GROUP BY 1, 2
),
r AS (
  SELECT user_id, dn, n_material,
         CAST(SUM(n_material) OVER (PARTITION BY user_id ORDER BY dn
                               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS acute_n,
         CAST(SUM(n_material) OVER (PARTITION BY user_id ORDER BY dn
                               RANGE BETWEEN 27 PRECEDING AND CURRENT ROW) AS BIGINT) AS chronic_n
  FROM daily
)
SELECT user_id, dn, n_material, acute_n, chronic_n,
       ROUND(chronic_n / 4.0, 6) AS chronic_rate,
       ROUND(CASE WHEN chronic_n / 4.0 > 0 THEN acute_n / (chronic_n / 4.0) END, 6)
         AS event_rate_ratio
FROM r
""",
    tags=("timeseries", "silver", "read"),
)
def t8_material_event_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 material-event sweep as a persisted-silver-style query: daily
    material (severity > low) counts → acute(7d)/chronic(28d) rolling
    rates and their ratio — the Spark replacement for the reference's
    driver-side memo cache (``db_reader.py:38-44,1133-1266``;
    ``mcp/analysis/form_events.py:46-127``)."""
    ev = load_table(spark, sf_dir, "events")
    sev = ev.select(
        "user_id",
        day_number(F.col("ts")).alias("dn"),
        F.when(F.col("value") > 200, "high")
        .when(F.col("value") > 100, "medium")
        .otherwise("low")
        .alias("severity"),
    )
    rates = material_event_rates(sev, ["user_id"], "dn")
    return rates.select(
        "user_id",
        "dn",
        "n_material",
        "acute_n",
        "chronic_n",
        r6(F.col("chronic_rate")).alias("chronic_rate"),
        r6(F.col("event_rate_ratio")).alias("event_rate_ratio"),
    )
