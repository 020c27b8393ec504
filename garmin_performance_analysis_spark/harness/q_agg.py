"""Aggregation queries (SURVEY.md §2.4: A1-A14)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.datetime_funcs import month_bucket, week_start
from ..operators import stats
from ..sources.tables import load_table
from .registry import dec_sum as _dec_sum
from .registry import ls_sum as _ls_sum
from .registry import q6
from .registry import r6 as _r6
from .registry import register
from .registry import sql_lavg, sql_lstd


@register(
    "a1_stats_block",
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS n,
       ROUND({sql_lavg('l_quantity')}, 6) AS l_quantity_avg,
       ROUND(MEDIAN(l_quantity), 6) AS l_quantity_median,
       ROUND({sql_lstd('l_quantity')}, 6) AS l_quantity_stddev,
       MIN(l_quantity) AS l_quantity_min,
       MAX(l_quantity) AS l_quantity_max,
       ROUND({sql_lavg('l_extendedprice')}, 6) AS l_extendedprice_avg,
       ROUND(MEDIAN(l_extendedprice), 6) AS l_extendedprice_median,
       ROUND({sql_lstd('l_extendedprice')}, 6) AS l_extendedprice_stddev,
       MIN(l_extendedprice) AS l_extendedprice_min,
       MAX(l_extendedprice) AS l_extendedprice_max
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg", "read"),
)
def a1_stats_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 five-stat block (AVG/MEDIAN/STDDEV/MIN/MAX ×N metrics) — the
    reference's ``statistics_only`` splits tools
    (``splits_query_builder.py:152-173``).  Exact median via the
    distributed histogram, never approx; moments ride the scaled-long
    fast path (2-dp fixed-point inputs)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = stats.five_stat_block(
        li,
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice"],
        # 2-dp fixed-point metrics: scaled-long moments; median via the
        # two-level fixed-grid selection (bounded domain, no big sort)
        fixed_scale=2,
        median_grids={"l_quantity": 1.0, "l_extendedprice": 100.0},
    )
    rounded = [
        _r6(F.col(c)).alias(c) if c.endswith(("_avg", "_median", "_stddev")) else F.col(c)
        for c in out.columns
    ]
    return out.select(*rounded)


@register(
    "a2_time_range_stats",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / COUNT(value), 6) AS value_avg,
       ROUND(CASE WHEN COUNT(value) > 1 THEN sqrt(GREATEST((CAST(SUM(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) - CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) * CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / COUNT(value)) / (COUNT(value) - 1), 0.0)) END, 6) AS value_stddev,
       MIN(value) AS value_min,
       MAX(value) AS value_max
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
GROUP BY event_type
""",
    tags=("agg",),
)
def a2_time_range_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 time-range stats (``readers/time_series.py:68-80``)."""
    ev = load_table(spark, sf_dir, "events")
    out = stats.time_range_stats(
        ev, "ts", "2024-01-10", "2024-01-20", ["value"], ["event_type"]
    )
    return out.select(
        "event_type",
        "n",
        _r6(F.col("value_avg")).alias("value_avg"),
        _r6(F.col("value_stddev")).alias("value_stddev"),
        "value_min",
        "value_max",
    )


@register(
    "a4_daily_rollup",
    oracle="""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       CAST(SUM(CAST(value AS DECIMAL(22,2))) AS DOUBLE) AS total_value,
       COUNT(*) AS n_events
FROM events
GROUP BY CAST(ts AS DATE)
""",
    tags=("agg",),
)
def a4_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 daily load rollup (``readers/training_load.py:214-239``)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            _dec_sum(F.col("value")).alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "a5_weekly_volume",
    oracle="""
SELECT strftime(CAST(o_orderdate AS DATE) - ((isodow(o_orderdate) - 1) % 7) * INTERVAL 1 DAY,
                '%Y-%m-%d') AS week_start,
       (CAST(SUM(CAST(FLOOR((o_totalprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) AS total_price,
       COUNT(*) AS n_orders
FROM orders
GROUP BY 1
""",
    tags=("agg", "calendar"),
)
def a5_weekly_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 calendar-week rollup with the reference's isodow week-start
    arithmetic, Monday start (``web/queries/trends.py:102-113``,
    ``mcp/utils/week.py:21-50``)."""
    orders = load_table(spark, sf_dir, "orders")
    wk = F.date_format(week_start(F.col("o_orderdate"), 0), "yyyy-MM-dd")
    return orders.groupBy(wk.alias("week_start")).agg(
        _ls_sum(F.col("o_totalprice")).alias("total_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "a5_monthly_volume",
    oracle="""
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       (CAST(SUM(CAST(FLOOR((o_totalprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) AS total_price,
       COUNT(*) AS n_orders
FROM orders
GROUP BY 1
""",
    tags=("agg", "calendar"),
)
def a5_monthly_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 month bucket (``strftime '%Y-%m'``, ``web/queries/trends.py:102``)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(month_bucket(F.col("o_orderdate")).alias("month")).agg(
        _ls_sum(F.col("o_totalprice")).alias("total_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "a6_conditional_halves",
    oracle="""
WITH e AS (SELECT event_type, epoch_us(ts) AS us, value FROM events),
b AS (SELECT event_type, (MIN(us) + MAX(us)) / 2.0 AS mid FROM e GROUP BY event_type)
SELECT e.event_type,
       ROUND((CAST(SUM(CASE WHEN us < mid THEN CAST(value AS DECIMAL(30,12)) END) AS DOUBLE) / COUNT(CASE WHEN us < mid THEN value END)), 6) AS value_first_half,
       ROUND((CAST(SUM(CASE WHEN us >= mid THEN CAST(value AS DECIMAL(30,12)) END) AS DOUBLE) / COUNT(CASE WHEN us >= mid THEN value END)), 6) AS value_second_half,
       ROUND((CAST(SUM(CASE WHEN us >= mid THEN CAST(value AS DECIMAL(30,12)) END) AS DOUBLE) / COUNT(CASE WHEN us >= mid THEN value END)) / (CAST(SUM(CASE WHEN us < mid THEN CAST(value AS DECIMAL(30,12)) END) AS DOUBLE) / COUNT(CASE WHEN us < mid THEN value END)) - 1.0, 6) AS value_drift
FROM e JOIN b USING (event_type)
GROUP BY e.event_type
""",
    tags=("agg",),
)
def a6_conditional_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/W9 conditional (pivot-style) aggregation: first-half vs
    second-half averages at the timestamp midpoint + decoupling drift —
    the aerobic-durability core (``readers/durability.py:66-146``)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros("ts").cast("double")
    )
    out = stats.conditional_halves(ev, ["event_type"], "us", ["value"])
    return out.select(
        "event_type",
        _r6(F.col("value_first_half")).alias("value_first_half"),
        _r6(F.col("value_second_half")).alias("value_second_half"),
        _r6(F.col("value_drift")).alias("value_drift"),
    )


@register(
    "a8_count_distinct",
    oracle="""
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
""",
    tags=("agg",),
)
def a8_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 exact COUNT(DISTINCT) (``readers/performance.py:171-177``)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            f"""
SELECT '{c}' AS column_name,
       COUNT(*) AS n_rows,
       CAST(MIN({c}) AS DOUBLE) AS stat_min,
       CAST(MAX({c}) AS DOUBLE) AS stat_max,
       ROUND({sql_lavg(c)}, 6) AS stat_avg,
       ROUND(MEDIAN({c}), 6) AS stat_median,
       ROUND({sql_lstd(c)}, 6) AS stat_stddev,
       ROUND(AVG(CASE WHEN {c} IS NULL THEN 1.0 ELSE 0.0 END), 6) AS stat_null_rate,
       CAST(COUNT(DISTINCT {c}) AS DOUBLE) AS stat_n_distinct
FROM lineitem"""
        )
    return " UNION ALL ".join(parts)


@register(
    "a9_profile_table", oracle=_profile_oracle(), tags=("agg", "profiler", "read")
)
def a9_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 table profiler: one row per column with count/min/max/avg/
    median/stddev/null-rate/n-distinct (``readers/utility.py:103-113``).
    One aggregation pass over the table, unpivoted via ``stack``."""
    li = load_table(spark, sf_dir, "lineitem")
    out = stats.profile_columns(
        li,
        _PROFILE_COLS,
        # every profiled column is 2-dp fixed-point with a bounded
        # domain: scaled-long moments + grid-selection medians
        grids={"l_quantity": 1.0, "l_extendedprice": 100.0, "l_discount": 0.01},
        fixed_scale=2,
    )
    return out.select(
        "column_name",
        "n_rows",
        "stat_min",
        "stat_max",
        _r6(F.col("stat_avg")).alias("stat_avg"),
        _r6(F.col("stat_median")).alias("stat_median"),
        _r6(F.col("stat_stddev")).alias("stat_stddev"),
        _r6(F.col("stat_null_rate")).alias("stat_null_rate"),
        "stat_n_distinct",
    )


@register(
    "a10_histogram",
    oracle="""
WITH b AS (
  SELECT CAST(MIN(l_extendedprice) AS DOUBLE) AS lo,
         CAST(MAX(l_extendedprice) AS DOUBLE) AS hi
  FROM lineitem
)
SELECT CAST(LEAST(FLOOR((l_extendedprice - lo) / (CASE WHEN hi > lo THEN (hi - lo) / 20.0 ELSE 1.0 END)), 19) AS INTEGER) AS bucket,
       COUNT(*) AS n,
       MIN(l_extendedprice) AS bucket_min,
       MAX(l_extendedprice) AS bucket_max
FROM lineitem, b
WHERE l_extendedprice IS NOT NULL
GROUP BY 1
""",
    tags=("agg", "profiler", "read"),
)
def a10_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 equal-width 20-bin histogram with last-bin clamp
    (``readers/utility.py:254-264``)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats.histogram(li, "l_extendedprice", bins=20)


@register(
    "a11_weighted_avg",
    oracle="""
SELECT l_returnflag,
       ROUND((CAST(SUM(CAST(FLOOR((l_extendedprice * l_quantity) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0)
             / (CAST(SUM(CAST(FLOOR((l_quantity) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0), 6) AS weighted_avg_price
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg",),
)
def a11_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 weighted average ``sum(v*w)/sum(w)`` — the reference's
    distance/time-weighted phase stats
    (``inserters/performance_trends.py:263-318``)."""
    li = load_table(spark, sf_dir, "lineitem")
    num = _ls_sum(F.col("l_extendedprice") * F.col("l_quantity"))
    den = _ls_sum(F.col("l_quantity"))
    return li.groupBy("l_returnflag").agg(
        _r6(num / den).alias("weighted_avg_price")
    )


@register(
    "a13_distribution",
    oracle="""
WITH c AS (SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY o_orderpriority)
SELECT o_orderpriority, n, ROUND(n / SUM(n) OVER (), 6) AS fraction FROM c
""",
    tags=("agg",),
)
def a13_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 category distribution normalized to fractions
    (``fitness_assessor.py:226-244``) — window total over the tiny
    aggregated frame, not the input."""
    orders = load_table(spark, sf_dir, "orders")
    out = stats.category_distribution(orders, "o_orderpriority")
    return out.select(
        "o_orderpriority", "n", _r6(F.col("fraction")).alias("fraction")
    )


@register(
    "a15_multi_rollup",
    oracle="""
SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS y,
       CAST(date_part('month', o_orderdate) AS BIGINT) AS m,
       SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) / 100.0
         AS total_price,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY ROLLUP(CAST(date_part('year', o_orderdate) AS BIGINT),
                CAST(date_part('month', o_orderdate) AS BIGINT))
""",
    tags=("agg",),
)
def a15_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly + yearly + grand-total order volume in ONE aggregation
    via ROLLUP — the scale idiom for multi-granularity reporting: the
    A4/A5 rollup family recomputes each granularity with its own
    shuffle; ROLLUP expands grouping sets map-side, so every level
    shares a single partial-agg + exchange over the fact table.  NULL
    group keys mark the coarser levels exactly as in the SQL oracle;
    DECIMAL sums keep the totals shuffle-order deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        F.year("o_orderdate").cast("bigint").alias("y"),
        F.month("o_orderdate").cast("bigint").alias("m"),
        "o_totalprice",
    )
    # scaled-long exact sum (prices carry 2dp): FLOOR(x·100+0.5) is the
    # same integer in both engines, the BIGINT sum is exact (~5.7e11 ≪
    # 2^53 at sf0.1; bound: SF·2.3e11·100), and /100.0 is one identical
    # IEEE division.  Three rejected shapes, all MEASURED to diverge in
    # the last printed digit on ~5.7e9 year totals: ROUND(double,6)
    # post-cast (past double's significant digits), DECIMAL rescale to
    # 2dp (Spark rounds dropped digits HALF_UP, DuckDB truncates), and
    # a full-scale DECIMAL(38,12)→DOUBLE cast (DuckDB divides the
    # int128 by 1e12 in floating point — double rounding).
    return d.rollup("y", "m").agg(
        (
            F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint"))
            / 100.0
        ).alias("total_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "a9b_profile_approx",
    oracle="""
WITH long AS (
  SELECT 'l_quantity' AS column_name, l_quantity AS v FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT 'l_discount', l_discount FROM lineitem
)
SELECT column_name,
       COUNT(*) AS n_rows,
       MIN(v) AS stat_min,
       MAX(v) AS stat_max,
       ROUND(CAST(SUM(CAST(v AS DECIMAL(30,12))) AS DOUBLE) / COUNT(v), 6)
         AS stat_avg,
       ROUND(CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS stat_null_rate,
       1 AS distinct_within_5pct,
       1 AS median_within_p45_p55
FROM long GROUP BY column_name
""",
    tags=("agg", "profiler"),
)
def a9b_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path sibling of the a9 profiler: HLL distinct counts
    (``approx_count_distinct``, 1% rsd) and sketch medians
    (``percentile_approx``, accuracy 10k) replace the three exact
    COUNT(DISTINCT) passes and the grid-median selection — at 100 TB
    the exact profiler's distinct counts are the dominant shuffle and
    the sketches collapse it to mergeable fixed-size state.

    r7 (VERDICT r6 item 6): upgraded from rows-only to an ANSI oracle
    by expressing the sketch tolerance INSIDE the compared output — the
    exact stats are cross-checked value-for-value, and the sketches are
    reduced to verdict columns (HLL within ±5% of the exact distinct
    count — measured error ≤1.2% across sf0.001/0.01/0.1, so 4×
    headroom over the deterministic-per-dataset HLL outcome; sketch
    median inside the exact p45–p55 band, ≥45× the 10k-accuracy rank
    error) that the oracle pins to 1.  A sketch drifting out of band
    hash-mismatches the literal.  ``tests/test_operators.py`` still
    pins the raw approximation error against the exact a9."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.selectExpr(
        "stack(3, 'l_quantity', l_quantity,"
        " 'l_extendedprice', l_extendedprice,"
        " 'l_discount', l_discount) as (column_name, v)"
    )
    agg = long.groupBy("column_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("v").alias("stat_min"),
        F.max("v").alias("stat_max"),
        _r6(
            F.sum(F.col("v").cast("decimal(30,12)")).cast("double") / F.count("v")
        ).alias("stat_avg"),
        _r6(
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("stat_null_rate"),
        F.approx_count_distinct("v", 0.01).alias("_acd"),
        F.count_distinct(F.col("v")).alias("_cd"),
        F.percentile_approx("v", 0.5, 10000).alias("_amed"),
        F.expr("percentile(v, 0.45)").alias("_p45"),
        F.expr("percentile(v, 0.55)").alias("_p55"),
    )
    in_band = (
        F.abs(F.col("_acd") - F.col("_cd")) <= 0.05 * F.col("_cd"),
        (F.col("_amed") >= F.col("_p45")) & (F.col("_amed") <= F.col("_p55")),
    )
    return agg.select(
        "column_name",
        "n_rows",
        "stat_min",
        "stat_max",
        "stat_avg",
        "stat_null_rate",
        F.when(in_band[0], 1).otherwise(0).alias("distinct_within_5pct"),
        F.when(in_band[1], 1).otherwise(0).alias("median_within_p45_p55"),
    )


@register(
    "a18_cube_volumes",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) / 100.0
         AS total_price,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
""",
    tags=("agg", "read"),
)
def a18_cube_volumes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four (status × priority) marginal levels in ONE aggregation
    via CUBE — the a15 ROLLUP lesson extended to the full grouping-set
    lattice: every level shares a single partial-agg + exchange
    instead of four separate scans.  Totals use the a15 scaled-long
    sum (exact BIGINT arithmetic identical in both engines; DECIMAL
    rescale and double-ROUND both diverge in the last digit at yearly
    magnitudes — measured there)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        (
            F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint"))
            / 100.0
        ).alias("total_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "a19_percentile_bands",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       FLOOR(quantile_cont(l_extendedprice, 0.10) * 1000000.0 + 0.5)
         / 1000000.0 AS p10,
       FLOOR(quantile_cont(l_extendedprice, 0.50) * 1000000.0 + 0.5)
         / 1000000.0 AS p50,
       FLOOR(quantile_cont(l_extendedprice, 0.90) * 1000000.0 + 0.5)
         / 1000000.0 AS p90
FROM lineitem GROUP BY l_returnflag
""",
    tags=("agg", "percentile", "read"),
)
def a19_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated P10/P50/P90 bands per group — the
    reporting-quantile shape (Spark's ``percentile`` aggregate and
    DuckDB's ``quantile_cont`` share the rank-(p·(n−1)) linear-
    interpolation definition, so the values are comparable exactly).
    Interpolated quantiles of 2dp inputs are dyadic rationals, so both
    sides quantize with the identical floor(x·1e6+0.5) expression (the
    w12 lesson).  At 100 TB the exact path is ONE sort-based agg per
    group; the mergeable-sketch sibling is a9b's
    ``percentile_approx``."""
    li = load_table(spark, sf_dir, "lineitem")

    # ONE percentile aggregate with an array of percentages: a single
    # sort-based buffer serves all three bands (three scalar
    # percentile() aggs each paid their own sort — measured 2.16 s vs
    # 0.9 s at sf0.1 in the round-11 bench)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "percentile(l_extendedprice, array(0.10, 0.50, 0.90))"
            ).alias("_ps"),
        )
        .select(
            "l_returnflag",
            "n",
            q6(F.col("_ps")[0]).alias("p10"),
            q6(F.col("_ps")[1]).alias("p50"),
            q6(F.col("_ps")[2]).alias("p90"),
        )
    )


@register(
    "a20_sketch_rollup",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS d_exact
  FROM events GROUP BY 1
),
weekly AS (
  SELECT date_trunc('week', ts) AS wk, COUNT(DISTINCT user_id) AS w_exact
  FROM events GROUP BY 1
)
SELECT w.wk AS week_start,
       CAST(w.w_exact AS BIGINT) AS exact_users,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(d.d_exact) AS BIGINT) AS sum_daily_exact,
       1 AS merged_within_5pct
FROM weekly w
JOIN daily d ON date_trunc('week', d.day) = w.wk
GROUP BY w.wk, w.w_exact
""",
    tags=("agg", "sketch", "read"),
)
def a20_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — THE distributed-sketch property the
    a9b profiler only hints at: per-day HLL sketches
    (``hll_sketch_agg``, Apache DataSketches) are UNIONED into weekly
    sketches (``hll_union_agg``) without re-touching the raw rows, the
    way a 100 TB ingest maintains distinct-count cubes (daily sketches
    persist; every coarser granularity is a sketch merge, not a
    rescan).  The comparable output is exact: weekly exact distincts,
    day counts, and the summed daily exacts (which OVERCOUNT the
    weekly distinct — the oracle checks we report real distincts, not
    a naive sum); the sketch estimate is reduced to a verdict column
    (within ±5% of exact — measured ≤0.8% across sf0.001/0.01/0.1,
    6× headroom, deterministic per dataset) that the oracle pins to 1,
    the a9b/v10 pattern."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("d_exact"),
    )
    weekly_sk = daily.groupBy(F.date_trunc("week", "day").alias("week_start")).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count(F.lit(1)).alias("n_days"),
        F.sum("d_exact").alias("sum_daily_exact"),
    )
    weekly_exact = ev.groupBy(F.date_trunc("week", "ts").alias("week_start")).agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    j = weekly_sk.join(weekly_exact, "week_start")
    return j.select(
        "week_start",
        "exact_users",
        "n_days",
        F.col("sum_daily_exact").cast("bigint").alias("sum_daily_exact"),
        F.when(
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users"),
            1,
        )
        .otherwise(0)
        .alias("merged_within_5pct"),
    )


@register(
    "a21_hdr_quantile_sketch",
    oracle="""
WITH pos AS (
  SELECT user_id, CAST(FLOOR(ABS(value) * 1000.0 + 0.5) AS BIGINT) AS scaled
  FROM events
  WHERE CAST(FLOOR(ABS(value) * 1000.0 + 0.5) AS BIGINT) >= 1
),
b AS (
  SELECT user_id, scaled,
         CAST(POWER(2.0, GREATEST(LENGTH(bin(scaled)) - 5, 0)) AS BIGINT) AS p2
  FROM pos
),
c AS (
  SELECT user_id, scaled - (scaled & (p2 - 1)) AS bkey, COUNT(*) AS cnt
  FROM b GROUP BY 1, 2
),
w AS (
  SELECT user_id, bkey, cnt,
         SUM(cnt) OVER (PARTITION BY user_id ORDER BY bkey) AS cum,
         SUM(cnt) OVER (PARTITION BY user_id) AS n
  FROM c
)
SELECT user_id,
       CAST(MAX(n) AS BIGINT) AS n_values,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       MIN(CASE WHEN cum >= FLOOR((50 * n + 99) / 100.0) THEN bkey END) / 1000.0 AS p50,
       MIN(CASE WHEN cum >= FLOOR((95 * n + 99) / 100.0) THEN bkey END) / 1000.0 AS p95,
       MIN(CASE WHEN cum >= FLOOR((99 * n + 99) / 100.0) THEN bkey END) / 1000.0 AS p99
FROM w GROUP BY user_id
""",
    tags=("aggregate", "sketch", "read"),
)
def a21_hdr_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch, HdrHistogram-style (public technique:
    integer log2 octaves + 16 linear sub-buckets per octave — Gil
    Tene's HdrHistogram layout; same family as DDSketch, Masson et al.
    VLDB 2019, with base-2 integer bins instead of log-gamma float
    bins).  Values quantize to millis (scaled = floor(|v|·1000+0.5)),
    a bucket keeps the top 5 significant bits (bkey = scaled with the
    low bits masked off), so relative bucket width ≤ 2^-4 = 6.25% and
    EVERY step is integer arithmetic — no float-log bin boundaries to
    flicker cross-engine (the reason this is hash-oracle-able at all;
    length(bin(x)) is the integer log2 both engines share).

    THE 100 TB quantile shape: the sketch is a (group, bucket) count
    table bounded at ~16·64 rows per group regardless of input volume,
    mergeable across partitions, files, and days by plain count
    addition (property-tested in test_operators), and the quantile read is one
    cumulative window over the tiny sketch.  Exact per-group
    percentiles (a19) need a full sort of the group; this needs one
    map-side-combinable groupBy.  p50/p95/p99 estimates are bucket
    lower bounds — within 6.25% relative error of the true quantile
    (property-tested against the exact percentile)."""
    from ..operators.sketches import hdr_quantiles, hdr_sketch

    ev = load_table(spark, sf_dir, "events")
    scaled = F.floor(F.abs(F.col("value")) * 1000.0 + 0.5).cast("bigint")
    pos = ev.select("user_id", scaled.alias("scaled")).filter(
        F.col("scaled") >= 1
    )
    sketch = hdr_sketch(pos, ["user_id"], "scaled")
    q = hdr_quantiles(sketch, ["user_id"], (50, 95, 99))
    return q.select(
        "user_id",
        "n_values",
        "n_buckets",
        (F.col("p50_scaled") / 1000.0).alias("p50"),
        (F.col("p95_scaled") / 1000.0).alias("p95"),
        (F.col("p99_scaled") / 1000.0).alias("p99"),
    )


def _a22_oracle() -> str:
    from .q_pipeline import _hex_horner

    # row j's position = the j-th 8-hex slice of ONE md5 per term
    # (mirrors operators/sketches.cms_positions)
    slices = ", ".join(
        f"({_hex_horner('d', 1 + 8 * j, 8)}) % 1024 AS pos{j}" for j in range(4)
    )
    pos_union = " UNION ALL ".join(
        f"SELECT {j} AS j, pos{j} AS pos FROM hpos" for j in range(4)
    )
    probe_union = " UNION ALL ".join(
        f"SELECT term, cnt, {j} AS j, pos{j} AS pos FROM tpos"
        for j in range(4)
    )
    return f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents
),
cnt AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
top AS (SELECT term, cnt FROM cnt ORDER BY cnt DESC, term LIMIT 20),
hpos AS (
  SELECT {slices} FROM (SELECT md5('cms|' || term) AS d FROM toks)
),
cells AS (
  SELECT j, pos, COUNT(*) AS c FROM ({pos_union}) GROUP BY 1, 2
),
tpos AS (
  SELECT term, cnt, {slices}
  FROM (SELECT term, cnt, md5('cms|' || term) AS d FROM top)
),
probe AS ({probe_union})
SELECT p.term,
       CAST(p.cnt AS BIGINT) AS exact_cnt,
       CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS cms_est,
       MIN(COALESCE(c.c, 0)) >= p.cnt AS never_undercounts
FROM probe p LEFT JOIN cells c ON p.j = c.j AND p.pos = c.pos
GROUP BY p.term, p.cnt
"""


@register(
    "a22_countmin_sketch",
    oracle=_a22_oracle(),
    # batch, not read: two corpus token passes (CMS build + the x15 top-k probe)
    tags=("sketch", "text", "batch"),
)
def a22_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation
    (``operators/sketches.cms_sketch``/``cms_estimate``, Cormode &
    Muthukrishnan 2005) — the FREQUENCY member of the mergeable-sketch
    suite (a20 HLL distinct, a21 HDR quantiles, d9 Bloom membership,
    x15 Misra-Gries top-k): the corpus token stream reduces to a 4×1024
    cell table through one map-side-combinable groupBy, cells merge by
    addition, and the exact top-20 terms (x15's two-pass operator
    supplies truth) are point-queried against it.  md5-derandomized
    row hashes make the sketch deterministic, so the oracle replays
    the identical construction and the ESTIMATES hash-match — not just
    an error-band verdict; the CMS one-sided guarantee (est ≥ true,
    never undercounts) is pinned per term in-band."""
    from ..operators import sketches

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    )
    sketch = sketches.cms_sketch(terms, "term", depth=4, width=1024)
    top = sketches.heavy_hitters_topk(terms, "term", k=20, width=4096)
    est = sketches.cms_estimate(
        sketch, top.select("term"), "term", depth=4, width=1024
    )
    return top.join(est, "term").select(
        "term",
        F.col("cnt").alias("exact_cnt"),
        "cms_est",
        (F.col("cms_est") >= F.col("cnt")).alias("never_undercounts"),
    )


@register(
    "a23_hll_audience_overlap",
    oracle="""
WITH a AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'purchase' AND event_id % 11 = 0
),
b AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'click' AND event_id % 13 = 0
)
SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS exact_a,
       CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS exact_b,
       CAST((SELECT COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b))
            AS BIGINT) AS exact_union,
       CAST((SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
            AS BIGINT) AS exact_intersection,
       1 AS ie_within_10pct
""",
    tags=("agg", "sketch", "read"),
)
def a23_hll_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap via sketch INCLUSION-EXCLUSION — the algebra
    that makes mergeable distinct sketches a 100 TB audience tool: two
    event-derived user audiences reduce to HLL sketches, and the
    intersection is estimated WITHOUT touching raw rows twice as
    est(A) + est(B) − est(A∪B) (the union is a sketch merge, the one
    set operation HLL supports natively; DataSketches' published
    audience-overlap recipe).  The comparable outputs are exact
    (sizes, union, intersection — the oracle recomputes them from
    scratch); the IE estimate reduces to a pinned verdict column
    (within max(10% of the exact intersection, 5% of the union) — the
    floor acknowledges that IE error scales with the union cardinality
    while the intersection can be arbitrarily small; the tested
    audiences sit in HLL's near-exact sparse regime, measured far
    inside the band at every SF), the a20/a9b pattern.  At scale each audience sketch is
    a bounded artifact maintained incrementally; overlap queries
    against any OTHER audience cost a sketch merge, never a re-scan."""
    ev = load_table(spark, sf_dir, "events")
    aud_a = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("event_id") % 11 == 0)
    ).select("user_id")
    aud_b = ev.filter(
        (F.col("event_type") == "click") & (F.col("event_id") % 13 == 0)
    ).select("user_id")
    sk_a = aud_a.agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_a"),
    )
    sk_b = aud_b.agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_b"),
    )
    both = sk_a.select(F.col("sk"), F.col("exact_a").alias("_x")).unionByName(
        sk_b.select(F.col("sk"), F.col("exact_b").alias("_x"))
    )
    union_est = both.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_union")
    )
    exact_union = (
        aud_a.unionByName(aud_b)
        .agg(F.count_distinct("user_id").alias("exact_union"))
    )
    exact_inter = (
        aud_a.distinct()
        .join(aud_b.distinct(), "user_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    j = (
        sk_a.select(
            F.hll_sketch_estimate("sk").alias("est_a"), "exact_a"
        )
        .crossJoin(
            sk_b.select(
                F.hll_sketch_estimate("sk").alias("est_b"), "exact_b"
            )
        )
        .crossJoin(union_est)
        .crossJoin(exact_union)
        .crossJoin(exact_inter)
    )
    ie = F.col("est_a") + F.col("est_b") - F.col("est_union")
    return j.select(
        F.col("exact_a").cast("bigint").alias("exact_a"),
        F.col("exact_b").cast("bigint").alias("exact_b"),
        F.col("exact_union").cast("bigint").alias("exact_union"),
        F.col("exact_intersection").cast("bigint").alias("exact_intersection"),
        # IE error scales with the UNION cardinalities (each HLL carries
        # ~1.6% relative stderr at the default lgConfigK=12, and three
        # estimates stack), while the intersection can be arbitrarily
        # small — so the band is relative to the intersection but
        # floored at 5% of the union: a barely-overlapping regime
        # cannot hard-fail the entry when the engine is correct.
        F.when(
            F.abs(ie - F.col("exact_intersection"))
            <= F.greatest(
                0.1 * F.col("exact_intersection"),
                0.05 * F.col("exact_union"),
                F.lit(1.0),
            ),
            1,
        )
        .otherwise(0)
        .alias("ie_within_10pct"),
    )


@register(
    "a24_ks_two_sample",
    oracle="""
WITH s AS (
  SELECT value AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
  FROM events
  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
),
pts AS (
  SELECT v, SUM(is_a) AS ca_i, SUM(1 - is_a) AS cb_i FROM s GROUP BY v
),
tot AS (SELECT SUM(ca_i) AS na, SUM(cb_i) AS nb FROM pts),
cdf AS (
  SELECT SUM(ca_i) OVER (ORDER BY v) AS ca,
         SUM(cb_i) OVER (ORDER BY v) AS cb
  FROM pts
),
d AS (
  SELECT MAX(ABS(ca * 1.0 / na - cb * 1.0 / nb)) AS ks FROM cdf, tot
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(ks, 6) AS ks_d,
       CAST(CASE WHEN ks > 1.358 * sqrt((na + nb) * 1.0 / (na * nb))
                 THEN 1 ELSE 0 END AS INTEGER) AS reject_05
FROM d, tot
""",
    tags=("agg", "stats", "read"),
)
def a24_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the `value`
    distributions of two event populations (purchase vs click) — the
    standard nonparametric drift test a feature store runs between
    cohorts, with the alpha=0.05 large-sample rejection verdict
    (c(0.05) = 1.358, Smirnov's asymptotic critical value).

    KS is an ORDERED statistic — D = max over the merged sample of
    |F_a(x) - F_b(x)| — and the naive formulation is a global
    ORDER BY window, the canonical 100 TB scale-killer.  Shape here:
    collapse ties first (groupBy value — cardinality = distinct
    points, not rows), then run BOTH samples' ECDF counters through
    ONE two-phase distributed prefix sum
    (``operators/windows.global_prefix_sum`` multi-column form: one
    range exchange, per-partition running sums, a bounded
    #partitions-row offsets frame broadcast back), and take the max —
    no single-task window anywhere.  Evaluating D only at observed
    points is exact: the ECDF difference is piecewise constant and
    changes only there.  Counts are integers and the ratio doubles
    divide identical integers in both engines, so the statistic
    hash-matches at 6dp; the verdict compares against the same libm
    sqrt expression on both sides."""
    from ..operators.windows import global_prefix_sum

    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").isNotNull()
    ).select(
        F.col("value").alias("v"),
        (F.col("event_type") == "purchase").cast("int").alias("is_a"),
    )
    pts = s.groupBy("v").agg(
        F.sum("is_a").alias("ca_i"),
        F.sum(1 - F.col("is_a")).alias("cb_i"),
    )
    cdf = global_prefix_sum(pts, "v", ["ca_i", "cb_i"], ["ca", "cb"])
    tot = pts.agg(F.sum("ca_i").alias("na"), F.sum("cb_i").alias("nb"))
    d = (
        cdf.join(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(F.col("ca") * 1.0 / F.col("na") - F.col("cb") * 1.0 / F.col("nb"))
            ).alias("ks")
        )
    )
    crit = 1.358 * F.sqrt((F.col("na") + F.col("nb")) * 1.0 / (F.col("na") * F.col("nb")))
    return d.crossJoin(F.broadcast(tot)).select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        _r6(F.col("ks")).alias("ks_d"),
        F.when(F.col("ks") > crit, 1).otherwise(0).cast("int").alias("reject_05"),
    )


@register(
    "a25_weighted_median",
    oracle="""
WITH w AS (
  SELECT l_returnflag AS flag, l_extendedprice AS x,
         CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS wt
  FROM lineitem
),
per AS (
  SELECT flag, x, SUM(wt) AS w, COUNT(*) AS n FROM w GROUP BY 1, 2
),
c AS (
  SELECT flag, x, n,
         SUM(w) OVER (PARTITION BY flag ORDER BY x
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(w) OVER (PARTITION BY flag) AS tot
  FROM per
),
med AS (
  SELECT flag, MIN(x) AS wmedian FROM c WHERE cum * 2 >= tot GROUP BY flag
),
totals AS (
  SELECT flag, CAST(SUM(n) AS BIGINT) AS n_rows,
         ROUND(SUM(w) / 100.0, 6) AS total_weight
  FROM per GROUP BY flag
)
SELECT m.flag AS l_returnflag, m.wmedian, t.n_rows, t.total_weight
FROM med m JOIN totals t ON m.flag = t.flag
""",
    tags=("agg", "stats", "read"),
)
def a25_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per return flag
    (``operators/stats.weighted_median``) — the robust center the
    plain median family can't express when observations carry unequal
    mass (here: price weighted by quantity; in a corpus pipeline:
    token-weighted quality medians).  The lower-median crossing test
    `2·cum >= tot` runs on 2-dp weights scaled to integers (the ls_sum
    fixed-point convention), so the cumulative comparison is exact
    integer arithmetic on BOTH engines — no float accumulation, no
    last-ulp median knife-edge (SCALING.md round-9 lessons).  Shape:
    the two-level grid shape (r12): a coarse price-cell histogram
    finds the half-weight crossing cell with bounded cell-cardinality
    windows, and only that cell's values get the fine cumulative scan
    — no per-group single-task sort of the whole price column (the
    previous shape sorted ~200k distinct prices per return flag in
    one task each)."""
    from ..operators import stats as _st

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag"),
        F.col("l_extendedprice"),
        F.floor(F.col("l_quantity") * 100 + 0.5).cast("bigint").alias("wt"),
    )
    out = _st.weighted_median(
        li, ["l_returnflag"], "l_extendedprice", "wt", grid=100.0
    )
    return out.select(
        "l_returnflag",
        "wmedian",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        _r6(F.col("total_weight") / 100.0).alias("total_weight"),
    )


@register(
    "a27_chi_square_drift",
    oracle="""
WITH s AS (
  SELECT event_type,
         CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS is_a
  FROM events
),
per AS (
  SELECT event_type, SUM(is_a) AS na_c, SUM(1 - is_a) AS nb_c FROM s GROUP BY 1
),
tot AS (
  SELECT SUM(na_c) AS na, SUM(nb_c) AS nb, COUNT(*) AS k FROM per
),
terms AS (
  SELECT per.event_type, tot.na, tot.nb, tot.k,
         POWER(na_c - (na_c + nb_c) * na * 1.0 / (na + nb), 2)
           / ((na_c + nb_c) * na * 1.0 / (na + nb))
         + POWER(nb_c - (na_c + nb_c) * nb * 1.0 / (na + nb), 2)
           / ((na_c + nb_c) * nb * 1.0 / (na + nb)) AS term
  FROM per, tot
),
agg AS (
  SELECT na, nb, k,
         ROUND(CAST(SUM(CAST(term AS DECIMAL(38,18))) AS DOUBLE), 6) AS chi2
  FROM terms GROUP BY 1, 2, 3
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(k - 1 AS BIGINT) AS dof, chi2,
       CAST(CASE WHEN k = 5 AND chi2 > 9.487729036781154
                 THEN 1 ELSE 0 END AS INTEGER) AS reject_05
FROM agg
""",
    tags=("agg", "stats", "read"),
)
def a27_chi_square_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square two-sample homogeneity test on the
    event-type CATEGORY distribution between the deterministic
    event_id-parity halves — the categorical member of the drift
    family (c17 PSI on binned continuous shares, a24 KS on a
    continuous CDF, a27 chi² on categories: together the standard
    snapshot-acceptance battery).  Expected counts are the classic
    row-total × column-total / N contingency form; the α=0.05 verdict
    compares against the df=4 critical value 9.4877 (pinned to this
    corpus's five event types — dof is emitted so a k≠5 regime reads
    as unverdicted rather than silently mis-thresholded).

    Shape for 100 TB: ONE keyed agg to category-cardinality, then
    pure small-frame algebra — same cost class as a histogram; the
    chi² terms pass through DECIMAL(38,18) so the k-term sum is
    shuffle-order-independent, and all inputs to the doubles are
    exact integers so both engines compute identical terms."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "event_type", (F.col("event_id") % 2 == 0).cast("int").alias("is_a")
    )
    per = s.groupBy("event_type").agg(
        F.sum("is_a").alias("na_c"), F.sum(1 - F.col("is_a")).alias("nb_c")
    )
    tot = per.agg(
        F.sum("na_c").alias("na"),
        F.sum("nb_c").alias("nb"),
        F.count(F.lit(1)).alias("k"),
    )
    n = F.col("na") + F.col("nb")
    row = F.col("na_c") + F.col("nb_c")
    ea = row * F.col("na") * 1.0 / n
    eb = row * F.col("nb") * 1.0 / n
    term = F.pow(F.col("na_c") - ea, 2) / ea + F.pow(F.col("nb_c") - eb, 2) / eb
    agg = (
        per.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb", "k")
        .agg(
            _r6(F.sum(term.cast("decimal(38,18)")).cast("double")).alias("chi2")
        )
    )
    return agg.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        (F.col("k") - 1).cast("bigint").alias("dof"),
        "chi2",
        F.when(
            (F.col("k") == 5) & (F.col("chi2") > 9.487729036781154), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("reject_05"),
    )


@register(
    "a28_higher_moments",
    oracle="""
WITH sums AS (
  SELECT event_type, COUNT(value) AS n,
         CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2,
         CAST(SUM(CAST(value * value * value AS DECIMAL(38,12))) AS DOUBLE) AS s3,
         CAST(SUM(CAST(value * value * value * value AS DECIMAL(38,12))) AS DOUBLE) AS s4
  FROM events GROUP BY 1
),
cm AS (
  SELECT event_type, n, s1 / n AS mu,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * POWER(s1 / n, 3) AS m3,
         s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * POWER(s1 / n, 2) * (s2 / n)
           - 3 * POWER(s1 / n, 4) AS m4
  FROM sums
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       ROUND(mu, 6) AS mean,
       ROUND(CASE WHEN m2 > 0 THEN m3 / POWER(m2, 1.5) END, 6) AS skewness,
       ROUND(CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3 END, 6)
         AS excess_kurtosis
FROM cm
""",
    tags=("agg", "stats", "read"),
)
def a28_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped skewness and excess kurtosis — the 3rd/4th-moment
    completion of the profiling family (a1/a9 stop at mean/stddev;
    tail shape is what length/score distributions actually get gated
    on in corpus QA).  Population central moments come from the
    classic raw-power-sum identities (m3 = S3/n − 3μS2/n + 2μ³ etc.)
    over ONE keyed agg — four DECIMAL(38,12) sums, map-side
    combinable, shuffle-order-independent, so both engines derive the
    identical doubles and the outputs hash at 6dp (value ≤ ~561 here
    → value⁴ ≤ 1e11; DECIMAL(38,12) holds the sums to ~1e14 rows per
    group).  One-pass moment collection is THE 100 TB shape — a
    two-pass centered computation would re-scan the corpus; the
    numerical-cancellation caveat of raw sums is bounded because the
    grid is 2-dp fixed-point and the sums are exact DECIMAL, so
    cancellation error enters only in the final double arithmetic,
    identically on both engines."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")

    sums = ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        _dec_sum(v, scale=12, precision=38).alias("s1"),
        _dec_sum(v * v, scale=12, precision=38).alias("s2"),
        _dec_sum(v * v * v, scale=12, precision=38).alias("s3"),
        _dec_sum(v * v * v * v, scale=12, precision=38).alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * F.pow(mu, 3)
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * F.pow(mu, 2) * (F.col("s2") / n)
        - 3 * F.pow(mu, 4)
    )
    return sums.select(
        "event_type",
        n.cast("bigint").alias("n"),
        _r6(mu).alias("mean"),
        _r6(F.when(m2 > 0, m3 / F.pow(m2, 1.5))).alias("skewness"),
        _r6(F.when(m2 > 0, m4 / (m2 * m2) - 3)).alias("excess_kurtosis"),
    )


# Poisson(1) inverse-CDF thresholds on the md5 high-60-bit (first
# 15 hex chars) mod-1e6
# bucket (the c2/c10 derandomized-sampling convention): cumulative
# probabilities x 1e6, rounded once here and shared verbatim by the
# Spark expression and the SQL oracle so the weights can never drift.
_A29_POISSON_CUM = (367879, 735759, 919699, 981012, 996340, 999406,
                    999917, 999990, 999999)
_A29_B = 32  # bootstrap replicates


def _a29_oracle() -> str:
    ladder = "CASE "
    for k, t in enumerate(_A29_POISSON_CUM):
        ladder += f"WHEN bucket < {t} THEN {k} "
    ladder += f"ELSE {len(_A29_POISSON_CUM)} END"
    # Horner-form hex->BIGINT over the md5 high 60 bits — the first
    # 15 hex chars (the portable
    # scheme q_pipeline._hex_horner documents), inlined on column mh
    horner = "0"
    for k in range(15):
        digit = f"(strpos('0123456789abcdef', substr(mh, {1 + k}, 1)) - 1)"
        horner = f"({horner} * 16 + {digit})"
    return f"""
WITH h AS (
  SELECT event_type, value, r.r,
         md5(concat('a29|', CAST(event_id AS VARCHAR),
                    '|', CAST(r.r AS VARCHAR))) AS mh
  FROM events, (SELECT unnest(generate_series(0, {_A29_B - 1})) AS r) AS r
  WHERE value IS NOT NULL
),
w AS (
  SELECT event_type, value, r, {horner} % 1000000 AS bucket FROM h
),
rep AS (
  SELECT event_type, r,
         CAST(SUM(({ladder}) * CAST(value AS DECIMAL(30,12)))
              AS DOUBLE) AS s,
         SUM({ladder}) AS wsum
  FROM w GROUP BY 1, 2
),
means AS (
  SELECT event_type, s / wsum AS m FROM rep WHERE wsum > 0
),
se AS (
  SELECT event_type,
         COUNT(*) AS b,
         CAST(SUM(CAST(m AS DECIMAL(30,12))) AS DOUBLE) AS sm,
         CAST(SUM(CAST(m * m AS DECIMAL(38,12))) AS DOUBLE) AS smm
  FROM means GROUP BY 1
),
base AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS mean
  FROM events WHERE value IS NOT NULL GROUP BY 1
)
SELECT base.event_type,
       CAST(n AS BIGINT) AS n,
       ROUND(mean, 6) AS mean,
       ROUND(sqrt(GREATEST((smm - sm * sm / b) / (b - 1), 0.0)), 6) AS se_boot,
       ROUND(mean - 1.96 * sqrt(GREATEST((smm - sm * sm / b) / (b - 1), 0.0)), 6)
         AS ci_lo,
       ROUND(mean + 1.96 * sqrt(GREATEST((smm - sm * sm / b) / (b - 1), 0.0)), 6)
         AS ci_hi
FROM base JOIN se ON base.event_type = se.event_type
"""


@register(
    "a29_poisson_bootstrap",
    oracle=_a29_oracle(),
    tags=("agg", "stats", "batch"),
)
def a29_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap standard error + 95% normal-interval CI for the
    per-type mean via the POISSON BOOTSTRAP (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", Google 2012;
    Kleiner et al.'s BLB is the heavier cousin) — THE uncertainty
    primitive that actually scales: classical resampling needs B
    shuffles of the data, the Poisson trick replaces each resample
    with an in-row Poisson(1) weight, so B=32 replicates cost ONE
    scan + a (type x replicate)-cardinality agg, no data movement.

    Weights are DERANDOMIZED (the c2/c10 convention): the md5
    high-60-bit (first 15 hex chars) mod-1e6 bucket of
    (event_id, replicate) steps through
    the Poisson(1) inverse CDF as integer thresholds shared verbatim
    with the oracle — every engine computes the IDENTICAL weight for
    every (row, replicate), which is what makes a stochastic method
    hash-checkable end-to-end.  Replicate means use DECIMAL-exact
    weighted sums; the SE over the 32 means uses DECIMAL moment sums
    (the dec_std shape).  A replicate whose weights all land 0
    drops (P ~ e^-n, impossible at any real group size).

    Shape for 100 TB: the explode is a map-side 32x that partial
    aggregation collapses to (types x 32) rows before the exchange;
    everything after is algebra on a bounded frame."""
    ladder = F.lit(len(_A29_POISSON_CUM))
    for k in range(len(_A29_POISSON_CUM) - 1, -1, -1):
        ladder = F.when(
            F.col("bucket") < _A29_POISSON_CUM[k], F.lit(k)
        ).otherwise(ladder)
    from ..plans.layout import spread_for_compute

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
    )
    # the 32x weight compute is per-row CPU, not per-byte scanned — an
    # underfilled scan (one parquet file = few partitions) serializes
    # it (measured: the 10x corpus read as 3 tasks, 51 s; spread
    # restores the full shuffle width before the explode)
    ev = spread_for_compute(ev, "event_id")
    w = ev.select(
        "event_id",
        "event_type",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(_A29_B - 1))).alias("r"),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("a29|"),
                        F.col("event_id").cast("string"),
                        F.lit("|"),
                        F.col("r").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 1_000_000,
    )
    rep = (
        w.withColumn("wt", ladder)
        .groupBy("event_type", "r")
        .agg(
            F.sum(F.col("wt") * F.col("value").cast("decimal(30,12)"))
            .cast("double")
            .alias("s"),
            F.sum("wt").alias("wsum"),
        )
        .filter(F.col("wsum") > 0)
        .select("event_type", (F.col("s") / F.col("wsum")).alias("m"))
    )
    se = rep.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("b"),
        F.sum(F.col("m").cast("decimal(30,12)")).cast("double").alias("sm"),
        F.sum((F.col("m") * F.col("m")).cast("decimal(38,12)"))
        .cast("double")
        .alias("smm"),
    )
    base = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.col("value").cast("decimal(30,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean"),
    )
    sd = F.sqrt(
        F.greatest(
            (F.col("smm") - F.col("sm") * F.col("sm") / F.col("b"))
            / (F.col("b") - 1),
            F.lit(0.0),
        )
    )
    return base.join(se, "event_type").select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        _r6(F.col("mean")).alias("mean"),
        _r6(sd).alias("se_boot"),
        _r6(F.col("mean") - 1.96 * sd).alias("ci_lo"),
        _r6(F.col("mean") + 1.96 * sd).alias("ci_hi"),
    )


# a31/a32: each non-null value's rank within its event_type (event_id
# tiebreak) beside the group size.
_RANKED_VALUES = """ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value ASC, event_id ASC) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
)"""


def _ranked_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a31/a32's rank window: each non-null value's rank ``rk`` within
    its event_type (unique event_id tiebreak) beside the group size
    ``n`` — one keyed exchange."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    wn = Window.partitionBy("event_type")
    return ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )


@register(
    "a31_trimmed_mean",
    oracle=f"""
WITH {_RANKED_VALUES},
kept AS (
  SELECT event_type, value, n, CAST(FLOOR(n * 0.1) AS BIGINT) AS k
  FROM ranked
  WHERE rk > FLOOR(n * 0.1) AND rk <= n - FLOOR(n * 0.1)
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(k) AS BIGINT) AS n_trimmed_each_side,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*), 6)
         AS trimmed_mean
FROM kept
GROUP BY 1
""",
    tags=("agg", "stats", "read"),
)
def a31_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided TRIMMED MEAN per key — the robust-location
    member between the mean (efficient, fragile) and the median
    (robust, throws away most information): drop the floor(0.1·n)
    smallest and largest values per group and average the rest,
    completing the robust kit (a25 weighted median, m5 Huber, m16
    Theil-Sen) with the estimator that tolerates up to 10%
    contamination at near-mean efficiency — the default location
    statistic for sensor/metric data with fat tails.

    EXACT semantics both engines: ranks are a group-KEYED window with
    the unique event_id tiebreak (duplicate values trim
    deterministically), the trim count is integer floor arithmetic,
    and the kept-side mean is a DECIMAL-exact sum over exactly
    n − 2·floor(0.1·n) rows.  Shape for 100 TB: one keyed exchange
    (the window and the agg share it), no global ordering anywhere;
    group sizes bound the window state."""
    ranked = _ranked_values(spark, sf_dir)
    kept = ranked.filter(
        (F.col("rk") > F.floor(F.col("n") * 0.1))
        & (F.col("rk") <= F.col("n") - F.floor(F.col("n") * 0.1))
    ).withColumn("k", F.floor(F.col("n") * 0.1).cast("bigint"))
    return kept.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("k").cast("bigint").alias("n_trimmed_each_side"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        _r6(
            F.sum(F.col("value").cast("decimal(30,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("trimmed_mean"),
    )


@register(
    "a32_winsorized_mean",
    oracle=f"""
WITH {_RANKED_VALUES},
agg AS (
  SELECT event_type,
         MAX(n) AS n,
         CAST(FLOOR(MAX(n) * 0.1) AS BIGINT) AS k,
         CAST(SUM(CASE WHEN rk > FLOOR(n * 0.1)
                        AND rk <= n - FLOOR(n * 0.1)
                       THEN CAST(value AS DECIMAL(30,12)) END) AS DOUBLE)
           AS sum_mid,
         MAX(CASE WHEN rk = FLOOR(n * 0.1) + 1 THEN value END) AS v_lo,
         MAX(CASE WHEN rk = n - FLOOR(n * 0.1) THEN value END) AS v_hi,
         CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / MAX(n) AS mean
  FROM ranked GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       k AS n_winsorized_each_side,
       ROUND(mean, 6) AS mean,
       ROUND((sum_mid + k * v_lo + k * v_hi) / n, 6) AS winsorized_mean
FROM agg
""",
    tags=("agg", "stats", "read"),
)
def a32_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided WINSORIZED MEAN per key — a31's sibling that
    CLAMPS the tails to the 10th/90th rank values instead of dropping
    them (Winsorization keeps n constant, so downstream variance /
    CI machinery stays valid — the robust location you use when the
    sample size must not change; trimming is for when outliers are
    garbage, winsorizing for when they are real-but-extreme).  The
    plain mean rides the same aggregation so the report IS the
    robustness delta.

    EXACT semantics both engines: the a31 rank window (unique
    event_id tiebreak), integer floor trim counts, the middle sum in
    DECIMAL, and the clamp values picked by exact rank equality; the
    final 3-term double expression is order-fixed.  Shape for
    100 TB: ONE keyed exchange shared by the window and the agg —
    identical to a31's."""
    ranked = _ranked_values(spark, sf_dir)
    k = F.floor(F.col("n") * 0.1)
    agg = ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.floor(F.max("n") * 0.1).cast("bigint").alias("k"),
        F.sum(
            F.when(
                (F.col("rk") > k) & (F.col("rk") <= F.col("n") - k),
                F.col("value").cast("decimal(30,12)"),
            )
        )
        .cast("double")
        .alias("sum_mid"),
        F.max(F.when(F.col("rk") == k + 1, F.col("value"))).alias("v_lo"),
        F.max(F.when(F.col("rk") == F.col("n") - k, F.col("value"))).alias(
            "v_hi"
        ),
        (
            F.sum(F.col("value").cast("decimal(30,12)")).cast("double")
            / F.max("n")
        ).alias("mean"),
    )
    return agg.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("k").alias("n_winsorized_each_side"),
        _r6(F.col("mean")).alias("mean"),
        _r6(
            (F.col("sum_mid") + F.col("k") * F.col("v_lo") + F.col("k") * F.col("v_hi"))
            / F.col("n")
        ).alias("winsorized_mean"),
    )


@register(
    "a33_mad_robust_scale",
    oracle="""
WITH base AS (
  SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL
),
ranked AS (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value ASC, event_id ASC) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM base
),
med AS (
  SELECT event_type, MIN(value) AS median
  FROM ranked WHERE rk * 2 >= n GROUP BY 1
),
dev AS (
  SELECT r.event_type, r.event_id, r.n, m.median,
         ABS(r.value - m.median) AS dev
  FROM ranked r JOIN med m USING (event_type)
),
r2 AS (
  SELECT event_type, dev, n,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY dev ASC, event_id ASC) AS rk2
  FROM dev
),
mad AS (
  SELECT event_type, MIN(dev) AS mad
  FROM r2 WHERE rk2 * 2 >= n GROUP BY 1
)
SELECT d.event_type,
       CAST(MAX(d.n) AS BIGINT) AS n,
       MAX(d.median) AS median,
       MAX(ma.mad) AS mad,
       CAST(SUM(CASE WHEN d.dev > 4.4478 * ma.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers_3mad
FROM dev d JOIN mad ma USING (event_type)
GROUP BY 1
""",
    tags=("agg", "stats", "read"),
)
def a33_mad_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per key + robust-z outlier count —
    the robust SCALE statistic completing the robust kit whose
    location members are a31 (trimmed), a32 (winsorized) and the
    grid medians: MAD is the 50%-breakdown scale estimate
    (1.4826·MAD ≈ σ under normality), and ``|x − med| > 3·1.4826·MAD``
    is the outlier gate that, unlike w1's z-score, cannot be masked
    by the outliers inflating their own stddev.

    Determinism without float synthesis: both medians use the LOW-
    median selection rule (a25's ``MIN(x) WHERE rank·2 ≥ n`` with the
    unique event_id tiebreak), so ``median`` is a raw data value,
    ``dev`` is one exact IEEE subtraction of identical doubles, and
    ``mad`` is a selected ``dev`` — no midpoint averaging, nothing
    rounded (the even-count-midpoint ulp hazard documented in
    SCALING.md's median lessons never arises).  The
    4.4478 threshold literal parses to the same double in both
    engines and multiplies exactly.

    Shape for 100 TB: ONE keyed exchange — the rank window hashes by
    event_type; the 5-row median and MAD frames broadcast back onto
    it, and the second rank window plus the final agg reuse the same
    partitioning (sort-only, no further exchange); group sizes bound
    window state."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w1 = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "event_id",
        "value",
        F.row_number().over(w1).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = (
        ranked.filter(F.col("rk") * 2 >= F.col("n"))
        .groupBy("event_type")
        .agg(F.min("value").alias("median"))
    )
    dev = ranked.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "n",
        "median",
        F.abs(F.col("value") - F.col("median")).alias("dev"),
    )
    w2 = Window.partitionBy("event_type").orderBy(
        F.col("dev").asc(), F.col("event_id").asc()
    )
    mad = (
        dev.select("event_type", "dev", "n", F.row_number().over(w2).alias("rk2"))
        .filter(F.col("rk2") * 2 >= F.col("n"))
        .groupBy("event_type")
        .agg(F.min("dev").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.max("median").alias("median"),
            F.max("mad").alias("mad"),
            F.sum(
                F.when(F.col("dev") > 4.4478 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers_3mad"),
        )
    )


@register(
    "a35_grouped_mode",
    oracle="""
WITH counts AS (
  SELECT user_id, event_type, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events
  FROM counts GROUP BY 1
),
ranked AS (
  SELECT user_id, event_type, c,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY c DESC, event_type ASC) AS rk
  FROM counts
)
SELECT r.user_id,
       r.event_type AS mode_event_type,
       CAST(r.c AS BIGINT) AS mode_count,
       t.n_events,
       ROUND(r.c * 1.0 / t.n_events, 6) AS mode_share
FROM ranked r JOIN tot t USING (user_id)
WHERE r.rk = 1
""",
    tags=("agg", "stats", "read"),
)
def a35_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped MODE — each key's most frequent category with its share
    (the dominant-category primitive the profiling family lacked: a1
    and the percentile kit read numeric columns, a35 answers "what
    does this key mostly DO", the segmentation feature a churn or
    routing model starts from).  Deterministic tiebreak: equal counts
    resolve to the lexicographically-first category in BOTH engines,
    so the mode is a pure integer/string decision.

    Shape for 100 TB: the two-stage count-then-argmax — one
    (key, category) groupBy with map-side partial aggregation absorbs
    the raw volume; the rank window and the total agg then run on the
    (key × category)-cardinality frame sharing the same key hash (one
    data-sized exchange total)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("c").desc(), F.col("event_type").asc()
    )
    wt = Window.partitionBy("user_id")
    return (
        counts.select(
            "user_id",
            "event_type",
            "c",
            F.row_number().over(w).alias("rk"),
            F.sum("c").over(wt).alias("n_events"),
        )
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event_type"),
            F.col("c").cast("bigint").alias("mode_count"),
            F.col("n_events").cast("bigint").alias("n_events"),
            _r6(F.col("c") * 1.0 / F.col("n_events")).alias("mode_share"),
        )
    )
