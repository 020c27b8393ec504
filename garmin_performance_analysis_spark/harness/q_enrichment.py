"""D8 composite enrichment as an oracle-backed query.

The splits frame derives from lineitem with metric divisors whose
decimal expansions don't terminate (denominators with a factor 3), so
neither ROUND(.,6) nor the ``%.1f`` label formatting ever lands on an
exact decimal tie — the one place Spark (HALF_UP on the shortest repr)
and DuckDB (exact-binary rounding) genuinely disagree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.enrichment import build_form_efficiency, build_performance_trends
from ..sources.tables import load_table
from .registry import q6, register

_SPLITS_CTE = """
ranked AS (
  SELECT l_orderkey AS activity_id,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_extendedprice, l_partkey, l_suppkey) AS split_index,
         150.0 + l_extendedprice / 500.0 AS gct,
         6.0 + l_extendedprice / 21000.0 AS vo,
         5.0 + l_extendedprice / 30000.0 AS vr
  FROM lineitem
)
"""


@register(
    "d8_form_efficiency",
    oracle=f"""
WITH {_SPLITS_CTE},
numbered AS (
  SELECT *, COUNT(*) OVER (PARTITION BY activity_id) AS n
  FROM ranked
),
moments AS (
  -- DECIMAL-exact moment sums: deterministic across engines AND runs
  SELECT activity_id,
         COUNT(*) AS n,
         CAST(SUM(CAST(gct AS DECIMAL(30,12))) AS DOUBLE) AS gct_sx,
         CAST(SUM(CAST(gct * gct AS DECIMAL(38,12))) AS DOUBLE) AS gct_sxx,
         MIN(gct) AS gct_min, MAX(gct) AS gct_max,
         CAST(SUM(CAST(vo AS DECIMAL(30,12))) AS DOUBLE) AS vo_sx,
         CAST(SUM(CAST(vo * vo AS DECIMAL(38,12))) AS DOUBLE) AS vo_sxx,
         MIN(vo) AS vo_min, MAX(vo) AS vo_max,
         CAST(SUM(CAST(vr AS DECIMAL(30,12))) AS DOUBLE) AS vr_sx,
         CAST(SUM(CAST(vr * vr AS DECIMAL(38,12))) AS DOUBLE) AS vr_sxx,
         MIN(vr) AS vr_min, MAX(vr) AS vr_max,
         COUNT(CASE WHEN split_index <= n // 2 THEN 1 END) AS n_first,
         CAST(SUM(CASE WHEN split_index <= n // 2 THEN CAST(vo AS DECIMAL(30,12)) END) AS DOUBLE) AS vo_first_sx,
         COUNT(CASE WHEN split_index > n // 2 THEN 1 END) AS n_second,
         CAST(SUM(CASE WHEN split_index > n // 2 THEN CAST(vo AS DECIMAL(30,12)) END) AS DOUBLE) AS vo_second_sx
  FROM numbered GROUP BY activity_id
),
agg AS (
  SELECT activity_id, n,
         gct_sx / n AS gct_average, gct_min, gct_max,
         CASE WHEN n > 1 THEN sqrt(GREATEST((gct_sxx - gct_sx * gct_sx / n) / (n - 1), 0.0)) ELSE 0.0 END AS gct_std,
         vo_sx / n AS vo_average, vo_min, vo_max,
         CASE WHEN n > 1 THEN sqrt(GREATEST((vo_sxx - vo_sx * vo_sx / n) / (n - 1), 0.0)) ELSE 0.0 END AS vo_std,
         vr_sx / n AS vr_average, vr_min, vr_max,
         CASE WHEN n > 1 THEN sqrt(GREATEST((vr_sxx - vr_sx * vr_sx / n) / (n - 1), 0.0)) ELSE 0.0 END AS vr_std,
         sqrt(GREATEST((vo_sxx - vo_sx * vo_sx / n) / n, 0.0)) AS vo_stdp,
         vo_first_sx / n_first AS vo_first,
         vo_second_sx / n_second AS vo_second
  FROM moments
),
derived AS (
  SELECT *,
         vo_stdp / vo_average * 100.0 AS cv,
         (vo_second - vo_first) / vo_first * 100.0 AS change_pct
  FROM agg
)
SELECT activity_id,
       floor((gct_average) * 1e6 + 0.5) / 1e6 AS gct_average, floor((gct_min) * 1e6 + 0.5) / 1e6 AS gct_min,
       floor((gct_max) * 1e6 + 0.5) / 1e6 AS gct_max, floor((gct_std) * 1e6 + 0.5) / 1e6 AS gct_std,
       floor((vo_average) * 1e6 + 0.5) / 1e6 AS vo_average, floor((vo_min) * 1e6 + 0.5) / 1e6 AS vo_min,
       floor((vo_max) * 1e6 + 0.5) / 1e6 AS vo_max, floor((vo_std) * 1e6 + 0.5) / 1e6 AS vo_std,
       floor((vr_average) * 1e6 + 0.5) / 1e6 AS vr_average, floor((vr_min) * 1e6 + 0.5) / 1e6 AS vr_min,
       floor((vr_max) * 1e6 + 0.5) / 1e6 AS vr_max, floor((vr_std) * 1e6 + 0.5) / 1e6 AS vr_std,
       CASE WHEN gct_average < 220 THEN '★★★★★' WHEN gct_average < 240 THEN '★★★★☆'
            WHEN gct_average < 260 THEN '★★★☆☆' WHEN gct_average < 280 THEN '★★☆☆☆'
            ELSE '★☆☆☆☆' END AS gct_rating,
       CASE WHEN vo_average < 6.5 THEN '★★★★★' WHEN vo_average < 8.0 THEN '★★★★☆'
            WHEN vo_average < 10.0 THEN '★★★☆☆' WHEN vo_average < 12.0 THEN '★★☆☆☆'
            ELSE '★☆☆☆☆' END AS vo_rating,
       CASE WHEN vr_average < 7.0 THEN '★★★★★' WHEN vr_average < 9.0 THEN '★★★★☆'
            WHEN vr_average < 11.0 THEN '★★★☆☆' WHEN vr_average < 13.0 THEN '★★☆☆☆'
            ELSE '★☆☆☆☆' END AS vr_rating,
       CASE WHEN gct_average BETWEEN 200 AND 250
              THEN 'Excellent (' || CAST(floor(gct_average) AS INTEGER) || 'ms, optimal range)'
            WHEN (gct_average >= 180 AND gct_average < 200) OR (gct_average > 250 AND gct_average <= 280)
              THEN 'Good (' || CAST(floor(gct_average) AS INTEGER) || 'ms)'
            WHEN gct_average < 180
              THEN 'Too short (' || CAST(floor(gct_average) AS INTEGER) || 'ms, may indicate overstriding)'
            ELSE 'Too long (' || CAST(floor(gct_average) AS INTEGER) || 'ms, target <250ms)' END AS gct_evaluation,
       CASE WHEN vo_average < 8 THEN printf('Excellent (%.1fcm, minimal bounce)', vo_average)
            WHEN vo_average < 10 THEN printf('Good (%.1fcm, target <8cm for optimal efficiency)', vo_average)
            WHEN vo_average < 12 THEN printf('Acceptable (%.1fcm, reduce bounce)', vo_average)
            ELSE printf('Poor (%.1fcm, excessive vertical movement)', vo_average) END AS vo_evaluation,
       CASE WHEN vr_average < 6 THEN printf('Excellent (%.1f%%, optimal efficiency)', vr_average)
            WHEN vr_average < 8 THEN printf('Good (%.1f%%)', vr_average)
            WHEN vr_average < 10 THEN printf('Acceptable (%.1f%%, room for improvement)', vr_average)
            ELSE printf('Poor (%.1f%%, high energy waste)', vr_average) END AS vr_evaluation,
       floor((gct_std / gct_average * 100.0) * 1e6 + 0.5) / 1e6 AS gct_variability,
       CASE WHEN n < 3 THEN printf('Insufficient data (%d splits)', n)
            ELSE (CASE WHEN cv < 5 THEN 'Very stable' WHEN cv < 10 THEN 'Stable' ELSE 'Variable' END)
                 || printf(' (%.1fcm avg, CV=%.0f%%, ', vo_average, cv)
                 || (CASE WHEN ABS(change_pct) < 3 THEN 'consistent'
                          WHEN change_pct > 0 THEN printf('increasing (+%.1f%%, fatigue indicator)', change_pct)
                          ELSE printf('decreasing (%.1f%%)', change_pct) END)
                 || ')' END AS vo_trend
FROM derived
""",
    tags=("enrichment", "composite"),
)
def d8_form_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 form-efficiency table (stats + star ratings + evaluation
    strings + VO trend wording) over a lineitem-derived splits frame —
    the full composite transform oracle-verified, label strings
    included (``inserters/form_efficiency.py:18-340``)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_extendedprice", "l_partkey", "l_suppkey"
    )
    splits = li.select(
        F.col("l_orderkey").alias("activity_id"),
        F.row_number().over(w).alias("split_index"),
        (150.0 + F.col("l_extendedprice") / 500.0).alias("ground_contact_time"),
        (6.0 + F.col("l_extendedprice") / 21000.0).alias("vertical_oscillation"),
        (5.0 + F.col("l_extendedprice") / 30000.0).alias("vertical_ratio"),
    )
    out = build_form_efficiency(splits)

    rounded = [
        q6(F.col(c)).alias(c)
        if c.split("_", 1)[-1] in ("average", "min", "max", "std") or c == "gct_variability"
        else F.col(c)
        for c in out.columns
    ]
    return out.select(*rounded)


_D9_ZONES_CTE = """
zr AS (
  SELECT l_orderkey AS activity_id,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_extendedprice, l_partkey, l_suppkey) AS zone_number,
         CAST(l_quantity AS DOUBLE) AS time_in_zone_seconds
  FROM lineitem
),
zones AS (SELECT * FROM zr WHERE zone_number <= 5),
eligible AS (
  SELECT activity_id FROM zones GROUP BY activity_id HAVING COUNT(*) = 5
),
meta AS (
  SELECT o_orderkey AS activity_id,
         CASE o_orderpriority
           WHEN '1-URGENT' THEN 'vo2max' WHEN '2-HIGH' THEN 'tempo'
           WHEN '3-MEDIUM' THEN 'aerobic_base' WHEN '5-LOW' THEN 'recovery'
           ELSE NULL END AS training_type,
         CAST(120 + o_orderkey % 60 AS INTEGER) AS avg_hr,
         CAST(120 + o_orderkey % 60 + o_orderkey % 40 AS INTEGER) AS max_hr,
         CAST(100 + o_orderkey % 60 AS INTEGER) AS min_hr
  FROM orders
)
"""


@register(
    "d9_hr_efficiency",
    oracle=f"""
WITH {_D9_ZONES_CTE},
tot AS (
  SELECT z.activity_id, z.zone_number, z.time_in_zone_seconds,
         SUM(z.time_in_zone_seconds) OVER (PARTITION BY z.activity_id) AS tt
  FROM zones z JOIN eligible e ON z.activity_id = e.activity_id
),
pcts AS (
  SELECT activity_id, zone_number,
         floor(time_in_zone_seconds / tt * 100.0 * 100.0 + 0.5) / 100.0 AS pct,
         time_in_zone_seconds
  FROM tot
),
wide AS (
  SELECT activity_id,
         MAX(CASE WHEN zone_number = 1 THEN pct ELSE 0 END) AS z1,
         MAX(CASE WHEN zone_number = 2 THEN pct ELSE 0 END) AS z2,
         MAX(CASE WHEN zone_number = 3 THEN pct ELSE 0 END) AS z3,
         MAX(CASE WHEN zone_number = 4 THEN pct ELSE 0 END) AS z4,
         MAX(CASE WHEN zone_number = 5 THEN pct ELSE 0 END) AS z5
  FROM pcts GROUP BY activity_id
),
prim AS (
  SELECT activity_id, 'Zone ' || zone_number AS primary_zone
  FROM (SELECT activity_id, zone_number,
               ROW_NUMBER() OVER (PARTITION BY activity_id
                                  ORDER BY time_in_zone_seconds DESC, zone_number ASC) AS r
        FROM pcts)
  WHERE r = 1
),
joined AS (
  SELECT w.*, p.primary_zone, m.training_type, m.avg_hr, m.max_hr, m.min_hr,
         CASE WHEN m.training_type IN ('aerobic_base','recovery','low_moderate','base','warmup','easy') THEN 'easy'
              WHEN m.training_type IN ('tempo','tempo_run') THEN 'tempo'
              WHEN m.training_type IN ('lactate_threshold','threshold_work','threshold') THEN 'threshold'
              WHEN m.training_type IN ('vo2max','vo2_max','anaerobic_capacity','anaerobic','interval_sprint','speed') THEN 'vo2max'
              ELSE 'unknown' END AS base_cat
  FROM wide w JOIN prim p ON w.activity_id = p.activity_id
              JOIN meta m ON w.activity_id = m.activity_id
),
cats AS (
  SELECT *,
         CASE WHEN base_cat IN ('easy','unknown') AND primary_zone = 'Zone 3'
                   AND z3 >= 50.0 AND z4 + z5 < 15.0
              THEN 'moderate' ELSE base_cat END AS cat
  FROM joined
),
rated AS (
  SELECT *,
         CASE WHEN cat = 'easy' THEN
                CASE WHEN z1+z2 >= 90 THEN 'Excellent' WHEN z1+z2 >= 75 THEN 'Good'
                     WHEN z1+z2 >= 60 THEN 'Fair' ELSE 'Poor' END
              WHEN cat = 'moderate' THEN
                CASE WHEN z2+z3 >= 80 THEN 'Excellent' WHEN z2+z3 >= 60 THEN 'Good'
                     WHEN z2+z3 >= 40 THEN 'Fair' ELSE 'Poor' END
              WHEN cat IN ('tempo','threshold') THEN
                CASE WHEN z3+z4 >= 60 THEN 'Excellent' WHEN z3+z4 >= 40 THEN 'Good'
                     WHEN z3+z4 >= 20 THEN 'Fair' ELSE 'Poor' END
              WHEN cat = 'vo2max' THEN
                CASE WHEN z4+z5 >= 50 THEN 'Excellent' WHEN z4+z5 >= 30 THEN 'Good'
                     WHEN z4+z5 >= 15 THEN 'Fair' ELSE 'Poor' END
              ELSE CASE WHEN z1+z2+z3 >= 70 THEN 'Good' ELSE 'Fair' END END AS rating,
         CASE WHEN cat = 'unknown' THEN TRUE
              WHEN cat = 'easy' THEN primary_zone IN ('Zone 1','Zone 2')
              WHEN cat = 'moderate' THEN primary_zone IN ('Zone 2','Zone 3')
              WHEN cat IN ('tempo','threshold') THEN primary_zone IN ('Zone 3','Zone 4')
              WHEN cat = 'vo2max' THEN primary_zone IN ('Zone 4','Zone 5')
              ELSE FALSE END AS aligned
  FROM cats
)
SELECT activity_id,
       z1 AS zone1_percentage, z2 AS zone2_percentage, z3 AS zone3_percentage,
       z4 AS zone4_percentage, z5 AS zone5_percentage,
       primary_zone, training_type, cat AS intensity_category,
       rating AS zone_distribution_rating,
       CASE WHEN z2+z3 >= 80 THEN 'Excellent aerobic base'
            WHEN z2+z3 >= 60 THEN 'Good aerobic development'
            WHEN z2+z3 >= 40 THEN 'Moderate aerobic work'
            ELSE 'Limited aerobic stimulus' END AS aerobic_efficiency,
       CASE WHEN rating = 'Excellent' AND aligned THEN 'Excellent'
            WHEN rating = 'Excellent' OR (rating = 'Good' AND aligned) THEN 'Good'
            WHEN rating = 'Good' THEN 'Fair'
            ELSE 'Poor' END AS training_quality,
       z2 > 60 AS zone2_focus,
       z4 + z5 > 20 AS zone4_threshold_work,
       CASE WHEN avg_hr > 0 AND (max_hr - min_hr) * 1.0 / avg_hr < 0.3
            THEN '優秀' ELSE '変動あり' END AS hr_stability
FROM rated
""",
    tags=("enrichment", "composite"),
)
def d9_hr_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 HR-efficiency table over a lineitem-derived zone frame: zone
    percentages, primary zone (tie → lower), canonical category with
    the Zone3-dominant moderate refinement, per-category rating bands,
    aerobic efficiency, combined training quality, focus flags, and the
    Japanese HR-stability label — the full composite oracle-verified
    (``inserters/hr_efficiency.py:40-330``)."""
    from ..operators.enrichment import build_hr_efficiency

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_extendedprice", "l_partkey", "l_suppkey"
    )
    zones_all = li.select(
        F.col("l_orderkey").alias("activity_id"),
        F.row_number().over(w).alias("zone_number"),
        F.col("l_quantity").cast("double").alias("time_in_zone_seconds"),
    ).filter(F.col("zone_number") <= 5)
    eligible = zones_all.groupBy("activity_id").count().filter(F.col("count") == 5)
    zones = zones_all.join(eligible.select("activity_id"), "activity_id")
    orders = load_table(spark, sf_dir, "orders")
    meta = orders.select(
        F.col("o_orderkey").alias("activity_id"),
        F.when(F.col("o_orderpriority") == "1-URGENT", "vo2max")
        .when(F.col("o_orderpriority") == "2-HIGH", "tempo")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "aerobic_base")
        .when(F.col("o_orderpriority") == "5-LOW", "recovery")
        .alias("training_type"),
        (120 + F.col("o_orderkey") % 60).cast("int").alias("avg_hr"),
        (120 + F.col("o_orderkey") % 60 + F.col("o_orderkey") % 40).cast("int").alias("max_hr"),
        (100 + F.col("o_orderkey") % 60).cast("int").alias("min_hr"),
    )
    return build_hr_efficiency(zones, meta)


_D10_SPLITS_CTE = """
splits AS (
  SELECT l_orderkey AS activity_id,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_extendedprice, l_partkey, l_suppkey) AS split_index,
         CASE l_returnflag WHEN 'A' THEN 'ACTIVE'
                           WHEN 'R' THEN 'RECOVERY'
                           ELSE 'WARMUP' END AS intensity_type,
         240.0 + l_extendedprice / 3000.0 AS pace_seconds_per_km,
         CAST(120 + l_partkey % 60 AS DOUBLE) AS heart_rate,
         CAST(l_quantity AS DOUBLE) AS distance
  FROM lineitem
)
"""

_D10_DAVG = (
    "(CAST(SUM(CAST(({e}) AS DECIMAL(30,12))) AS DOUBLE) / COUNT({e}))"
)
_D10_DSTD = (
    "(CASE WHEN COUNT({e}) > 1 THEN sqrt(GREATEST("
    "(CAST(SUM(CAST(({e}) * ({e}) AS DECIMAL(38,12))) AS DOUBLE)"
    " - CAST(SUM(CAST(({e}) AS DECIMAL(30,12))) AS DOUBLE)"
    " * CAST(SUM(CAST(({e}) AS DECIMAL(30,12))) AS DOUBLE) / COUNT({e}))"
    " / (COUNT({e}) - 1), 0.0)) END)"
)


def _d10_oracle() -> str:
    rep = "CASE WHEN _rep THEN pace_seconds_per_km END"
    run = "CASE WHEN _run THEN pace_seconds_per_km END"
    return f"""
WITH {_D10_SPLITS_CTE},
flags AS (
  SELECT *,
         upper(intensity_type) IN ('ACTIVE','INTERVAL') AS _run,
         upper(intensity_type) IN ('REST','RECOVERY') AS _rest,
         MEDIAN(CASE WHEN upper(intensity_type) IN ('ACTIVE','INTERVAL')
                     THEN distance END)
           OVER (PARTITION BY activity_id) AS _med_dist
  FROM splits
),
staged AS (
  SELECT *,
         _run AND pace_seconds_per_km IS NOT NULL AND distance IS NOT NULL
              AND distance >= _med_dist * 0.5 AS _rep,
         CASE WHEN _run THEN 'work' WHEN _rest THEN 'rest' END AS _state,
         _run AND pace_seconds_per_km > 0 AND heart_rate > 0 AS _rep_valid
  FROM flags
),
trans AS (
  SELECT *,
         LAST_VALUE(_state IGNORE NULLS)
           OVER (PARTITION BY activity_id ORDER BY split_index
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS _prev,
         SUM(CASE WHEN _rep_valid THEN 1 ELSE 0 END)
           OVER (PARTITION BY activity_id ORDER BY split_index
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _rep_rn
  FROM staged
),
agg AS (
  SELECT activity_id,
         SUM(CASE WHEN _run THEN 1 ELSE 0 END) AS _work_n,
         SUM(CASE WHEN _rest THEN 1 ELSE 0 END) AS _rest_n,
         SUM(CASE WHEN _state IS NOT NULL AND _prev IS NOT NULL
                   AND _state <> _prev THEN 1 ELSE 0 END) AS _transitions,
         COUNT(CASE WHEN _rep THEN 1 END) AS _rep_n,
         {_D10_DSTD.format(e=rep)} AS _rep_std,
         {_D10_DAVG.format(e=rep)} AS _rep_mean,
         {_D10_DSTD.format(e=run)} AS _all_std,
         {_D10_DAVG.format(e=run)} AS _all_mean,
         COUNT(CASE WHEN _run AND pace_seconds_per_km IS NOT NULL THEN 1 END) AS _all_n
  FROM trans GROUP BY activity_id
),
halves AS (
  SELECT activity_id,
         COUNT(*) AS _nrep,
         {_D10_DAVG.format(e="CASE WHEN _rep_rn <= FLOOR(nrep / 2) THEN pace_seconds_per_km END")} AS _p_early,
         {_D10_DAVG.format(e="CASE WHEN _rep_rn <= FLOOR(nrep / 2) THEN heart_rate END")} AS _h_early,
         {_D10_DAVG.format(e="CASE WHEN _rep_rn > FLOOR(nrep / 2) THEN pace_seconds_per_km END")} AS _p_late,
         {_D10_DAVG.format(e="CASE WHEN _rep_rn > FLOOR(nrep / 2) THEN heart_rate END")} AS _h_late
  FROM (SELECT *, COUNT(*) OVER (PARTITION BY activity_id) AS nrep
        FROM trans WHERE _rep_valid)
  GROUP BY activity_id
),
joined AS (
  SELECT a.*, h._nrep, h._p_early, h._h_early, h._p_late, h._h_late,
         (1.0 / h._p_early) / h._h_early AS _ratio_early,
         (1.0 / h._p_late) / h._h_late AS _ratio_late
  FROM agg a LEFT JOIN halves h USING (activity_id)
)
SELECT activity_id,
       floor((CASE WHEN _rep_n >= 2 AND _rep_mean > 0 THEN _rep_std / _rep_mean
                   WHEN _all_n = 1 THEN 0.0
                   WHEN _all_n > 1 AND _all_mean > 0 THEN _all_std / _all_mean
              END) * 1e6 + 0.5) / 1e6 AS pace_consistency,
       CASE WHEN _work_n >= 2 AND _rest_n >= 2 AND _transitions >= 3
            THEN 'interval' ELSE 'steady' END AS workout_structure,
       floor((CASE WHEN _nrep >= 2 AND _ratio_early IS NOT NULL AND _ratio_early <> 0
                   THEN (_ratio_early - _ratio_late) / _ratio_early * 100.0
              END) * 1e6 + 0.5) / 1e6 AS rep_hr_drift_pct,
       CAST(_work_n AS BIGINT) AS n_work_laps,
       CAST(_rest_n AS BIGINT) AS n_rest_laps
FROM joined
"""


@register(
    "d10_performance_trends",
    oracle=_d10_oracle(),
    tags=("enrichment", "composite", "read"),
)
def d10_performance_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 performance-trends build over a lineitem-derived splits
    frame: GPS-fragment-robust pace-consistency CV (representative-lap
    median-distance gate with all-lap fallback), work/rest transition
    structure classification, and early-vs-late rep HR-drift %
    (``inserters/performance_trends.py:62-185``).  One window pass on
    (activity, split_index) feeds the lag chain, the rep numbering and
    the median gate; the two grouped passes share the same shuffle key."""
    li = load_table(spark, sf_dir, "lineitem")
    # rename FIRST, then window on the renamed key: windowing on
    # l_orderkey and aliasing afterwards loses the output partitioning
    # (the downstream activity_id windows re-shuffled — 4 exchanges
    # instead of 3 in the measured plan)
    base = li.select(
        F.col("l_orderkey").alias("activity_id"),
        F.when(F.col("l_returnflag") == "A", "ACTIVE")
        .when(F.col("l_returnflag") == "R", "RECOVERY")
        .otherwise("WARMUP")
        .alias("intensity_type"),
        (240.0 + F.col("l_extendedprice") / 3000.0).alias("pace_seconds_per_km"),
        (120 + F.col("l_partkey") % 60).cast("double").alias("heart_rate"),
        F.col("l_quantity").cast("double").alias("distance"),
        "l_linenumber",
        "l_extendedprice",
        "l_partkey",
        "l_suppkey",
    )
    w = Window.partitionBy("activity_id").orderBy(
        "l_linenumber", "l_extendedprice", "l_partkey", "l_suppkey"
    )
    splits = base.withColumn("split_index", F.row_number().over(w)).drop(
        "l_linenumber", "l_extendedprice", "l_partkey", "l_suppkey"
    )
    out = build_performance_trends(splits)

    return out.select(
        "activity_id",
        q6(F.col("pace_consistency")).alias("pace_consistency"),
        "workout_structure",
        q6(F.col("rep_hr_drift_pct")).alias("rep_hr_drift_pct"),
        "n_work_laps",
        "n_rest_laps",
    )
