"""Window-analytics queries (SURVEY.md §2.5: W1-W10) and sort/top-k
(§2.6: O1-O5)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.datetime_funcs import day_number
from ..operators import topk, windows
from ..sources.tables import load_table
from .registry import dec_sum as _dec_sum
from .registry import r6 as _r6
from .registry import register


@register(
    "w1_zscore_outliers",
    oracle="""
WITH z AS (
  SELECT event_id, event_type, value,
         AVG(value) OVER (PARTITION BY event_type) AS m,
         STDDEV_SAMP(value) OVER (PARTITION BY event_type) AS s
  FROM events
)
SELECT event_id, event_type, value,
       ROUND(CASE WHEN s > 0 THEN (value - m) / s ELSE 0.0 END, 6) AS z
FROM z
WHERE ABS(CASE WHEN s > 0 THEN (value - m) / s ELSE 0.0 END) > 2.0
""",
    tags=("window", "anomaly", "read"),
)
def w1_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/T1 whole-partition z-score anomaly scan with the reference's
    zero-stddev CASE guard (``readers/time_series.py:257-279``)."""
    ev = load_table(spark, sf_dir, "events")
    out = windows.zscore_outliers(ev, ["event_type"], "value", threshold=2.0)
    return out.select("event_id", "event_type", "value", _r6(F.col("z")).alias("z"))


@register(
    "w2_latest_per_key",
    oracle="""
SELECT user_id, event_id, ts, event_type, value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
    tags=("window",),
)
def w2_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 latest-version-per-key via row_number desc = 1 — the
    reference's versioned-document reads
    (``readers/trends_narration.py:79-83``)."""
    ev = load_table(spark, sf_dir, "events")
    out = windows.latest_per_key(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return out.select("user_id", "event_id", "ts", "event_type", "value")


@register(
    "w4_centered_rolling",
    oracle="""
SELECT event_id, user_id,
       ROUND(AVG(value) OVER w, 6) AS roll_mean,
       ROUND(STDDEV_SAMP(value) OVER w, 6) AS roll_std
FROM (SELECT event_id, user_id, value, epoch_us(ts) // 1000000 AS sec FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY sec RANGE BETWEEN 1800 PRECEDING AND 1800 FOLLOWING)
""",
    tags=("window",),
)
def w4_centered_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 centered rolling mean/std over a ±30-min range window — the
    form-anomaly detector's centered 60 s window, scaled to event
    cadence (``form_anomaly_detector.py:147-179``)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "sec", F.expr("unix_micros(ts) div 1000000")
    )
    out = windows.centered_rolling(ev, ["user_id"], "sec", "value", 1800, 1801)
    return out.select(
        "event_id",
        "user_id",
        _r6(F.col("roll_mean")).alias("roll_mean"),
        _r6(F.col("roll_std")).alias("roll_std"),
    )


# w5/w7: each user's daily DECIMAL load sum keyed by day number
# (the oracle mirror of ``_daily_load``).
_DAILY_LOAD_CTE = """daily AS (
  SELECT user_id,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dn,
         strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CAST(SUM(CAST(value AS DECIMAL(22,2))) AS DOUBLE) AS load
  FROM events GROUP BY 1, 2, 3
)"""


def _daily_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's daily DECIMAL-exact load sum as ``(user_id, dn, day,
    load)`` — dn the integer day number the rolling frames range over."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "user_id",
        day_number(F.col("ts")).alias("dn"),
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
    ).agg(_dec_sum(F.col("value")).alias("load"))


@register(
    "w5_acwr_rolling_loads",
    oracle=f"""
WITH {_DAILY_LOAD_CTE},
rolled AS (
  SELECT user_id, day, load,
         SUM(load) OVER (PARTITION BY user_id ORDER BY dn RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS acute,
         SUM(load) OVER (PARTITION BY user_id ORDER BY dn RANGE BETWEEN 27 PRECEDING AND CURRENT ROW) / 4.0 AS chronic
  FROM daily
)
SELECT user_id, day, ROUND(load, 6) AS load, ROUND(acute, 6) AS acute,
       ROUND(chronic, 6) AS chronic,
       ROUND(CASE WHEN chronic > 0 THEN acute / chronic END, 6) AS acwr
FROM rolled
""",
    tags=("window", "rolling", "read"),
)
def w5_acwr_rolling_loads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 ACWR: acute 7-day / chronic 28-day/4 rolling load sums over a
    daily rollup, plus the ratio (``readers/training_load.py:54-120``)."""
    daily = _daily_load(spark, sf_dir)
    acute = windows.rolling_range_sum(daily, ["user_id"], "dn", "load", 6, "acute")
    both = windows.rolling_range_sum(acute, ["user_id"], "dn", "load", 27, "_c28")
    return both.select(
        "user_id",
        "day",
        _r6(F.col("load")).alias("load"),
        _r6(F.col("acute")).alias("acute"),
        _r6(F.col("_c28") / 4.0).alias("chronic"),
        _r6(
            F.when(F.col("_c28") / 4.0 > 0, F.col("acute") / (F.col("_c28") / 4.0))
        ).alias("acwr"),
    )


@register(
    "w6_rolling_90d_max",
    oracle="""
WITH daily AS (
  SELECT datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS dn,
         strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE) AS daily_total
  FROM orders GROUP BY 1, 2
)
SELECT day, daily_total,
       MAX(daily_total) OVER (ORDER BY dn RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS rolling_max_90d
FROM daily
""",
    tags=("window", "rolling"),
)
def w6_rolling_90d_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 trailing 90-day rolling max — the objective fitness curve
    (``mcp/objective_fitness/curve.py:35-97``).  Single unpartitioned
    window over an already-aggregated daily frame (tiny at any scale);
    at 100 TB the daily rollup shrinks the input first."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        day_number(F.col("o_orderdate"), "1995-01-01").alias("dn"),
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("day"),
    ).agg(_dec_sum(F.col("o_totalprice")).alias("daily_total"))
    out = windows.rolling_range_max(daily, [], "dn", "daily_total", 90, "rolling_max_90d")
    return out.select("day", "daily_total", "rolling_max_90d")


@register(
    "w8_streaks",
    oracle="""
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
num AS (
  SELECT user_id, d,
         datediff('day', DATE '2024-01-01', d) AS dn,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
  FROM days
),
isl AS (SELECT user_id, dn - rn AS grp, COUNT(*) AS len FROM num GROUP BY user_id, dn - rn)
SELECT user_id, MAX(len) AS longest_streak, COUNT(*) AS n_streaks
FROM isl GROUP BY user_id
""",
    tags=("window", "streak"),
)
def w8_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 consecutive-day streak detection (gaps-and-islands) — the
    reference's HRV-below-baseline / build-week streaks
    (``mcp/analysis/recovery.py:90-139``)."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", day_number(F.col("ts")).alias("dn")).distinct()
    islands = windows.gaps_and_islands(days, ["user_id"], "dn", max_gap=1)
    lengths = islands.groupBy("user_id", "island_id").agg(F.count(F.lit(1)).alias("len"))
    return lengths.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@register(
    "w10_downsample",
    oracle="""
WITH numbered AS (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
)
SELECT user_id, event_id FROM numbered
WHERE (rn - 1) % GREATEST(CAST(CEIL(n / 10.0) AS BIGINT), 1) = 0 OR rn = n
""",
    tags=("window",),
)
def w10_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10 every-k-th-row downsample to ≤10 points/user keeping first and
    last (``web/queries/time_series.py:84-86``)."""
    ev = load_table(spark, sf_dir, "events")
    out = windows.downsample(ev, ["user_id"], ["ts", "event_id"], 10)
    return out.select("user_id", "event_id")


@register(
    "o2_topk_closeness",
    oracle="""
SELECT o_orderkey, o_totalprice, ABS(o_totalprice - 200000.0) AS closeness
FROM orders
ORDER BY ABS(o_totalprice - 200000.0) ASC, o_orderdate DESC, o_orderkey ASC
LIMIT 10
""",
    tags=("topk",),
)
def o2_topk_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 top-k by similarity distance with deterministic tie-break
    (``comparisons.py:259-267``) — executes as TakeOrderedAndProject
    (per-partition top-k, no global sort)."""
    orders = load_table(spark, sf_dir, "orders")
    out = topk.topk_by_closeness(
        orders,
        "o_totalprice",
        200000.0,
        10,
        [F.col("o_orderdate").desc(), F.col("o_orderkey").asc()],
    )
    return out.select("o_orderkey", "o_totalprice", "closeness")


@register(
    "o4_pagination",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20 OFFSET 40
""",
    tags=("topk",),
)
def o4_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 LIMIT/OFFSET pagination over a deterministic ordering
    (``insights.py:98-100``)."""
    orders = load_table(spark, sf_dir, "orders")
    out = topk.paginate(
        orders, [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 20, 40
    )
    return out.select("o_orderkey", "o_totalprice")


@register(
    "w16_sliding_distinct_users",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
days AS (SELECT DISTINCT d FROM ud)
SELECT strftime(g.d, '%Y-%m-%d') AS day,
       CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS n_users_7d
FROM days g
JOIN ud u ON u.d BETWEEN g.d - 6 AND g.d
GROUP BY g.d
""",
    tags=("window", "rolling", "read"),
)
def w16_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day DISTINCT active users per observed day — the
    rolling-engagement metric COUNT(DISTINCT) over a window frame
    cannot express (distinct does not decompose over frames, and
    per-day set-union windows hold unbounded state).  The scale shape
    is dedupe-then-bounded-explode: reduce the stream to distinct
    (user, day) pairs (one keyed agg — the only row-cardinality
    shuffle), fan each pair out to the ≤7 trailing days it keeps the
    user active for (constant 7× blowup of the ALREADY-deduped pairs,
    independent of event volume), and count distinct users per target
    day.  The final distinct is per-day bounded (≤ active users), and
    no global window appears — a grid semi-join keeps only observed
    days, mirroring the oracle's range join exactly."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    days = ud.select("d").distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("gday"),
    )
    return (
        contrib.join(days.select(F.col("d").alias("gday")), "gday")
        .groupBy("gday")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users_7d"))
        .select(
            F.date_format("gday", "yyyy-MM-dd").alias("day"), "n_users_7d"
        )
    )


@register(
    "o10_keyset_pagination",
    oracle="""
WITH anchor AS (
  SELECT o_totalprice AS ap, o_orderkey AS ak
  FROM orders
  ORDER BY o_totalprice DESC, o_orderkey ASC
  LIMIT 1 OFFSET 39
)
SELECT o_orderkey, o_totalprice
FROM orders, anchor
WHERE o_totalprice < ap OR (o_totalprice = ap AND o_orderkey > ak)
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20
""",
    tags=("topk", "pagination", "read"),
)
def o10_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYSET pagination — the page o4 fetches with LIMIT/OFFSET,
    fetched the way deep pagination must work at 100 TB: OFFSET N
    sorts and discards N rows on EVERY page (page 10⁶ costs 2·10⁷
    rows), while the keyset form turns the page boundary into a
    sargable predicate ``(price, key) < (anchor)`` on the composite
    sort key, so each page is a filter (pushable to the scan, prunable
    against file stats on a price-sorted layout) + top-k
    (TakeOrderedAndProject, no global sort).  The anchor here is the
    last row of page 2, acquired via a k-bounded top-40 (in production
    the client carries it); the result is IDENTICAL to o4's page —
    same answer, scalable plan — because the (price DESC, key ASC)
    order is total.  The oracle states the same keyset predicate."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    order_cols = [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()]
    anchor = (
        orders.orderBy(*order_cols)
        .limit(40)
        .orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").desc())
        .limit(1)
        .select(
            F.col("o_totalprice").alias("ap"), F.col("o_orderkey").alias("ak")
        )
    )
    page = orders.join(F.broadcast(anchor)).filter(
        (F.col("o_totalprice") < F.col("ap"))
        | (
            (F.col("o_totalprice") == F.col("ap"))
            & (F.col("o_orderkey") > F.col("ak"))
        )
    )
    return page.orderBy(*order_cols).limit(20).select(
        "o_orderkey", "o_totalprice"
    )


@register(
    "w18_rolling_corr",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) AS x,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
rolled AS (
  SELECT user_id, day,
         COUNT(*) OVER w AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,12))) OVER w AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,12))) OVER w AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,12))) OVER w AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(38,12))) OVER w AS DOUBLE) AS syy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,12))) OVER w AS DOUBLE) AS sxy
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day, CAST(n AS BIGINT) AS n_days,
       ROUND(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                  THEN (n * sxy - sx * sy)
                       / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             END, 6) AS corr_value_count
FROM rolled
WHERE n >= 8
""",
    tags=("window", "stats", "read"),
)
def w18_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 14-day rolling Pearson correlation between a user's
    daily total value and daily event count — the rolling-covariate
    coupling signal (w9's durability decoupling generalized from a
    two-halves split to a sliding window; in a corpus pipeline the
    same shape tracks quality-vs-length coupling drift per source).
    All five moment sums ride ONE per-user ordered ROWS frame with
    DECIMAL casts (shuffle-order-independent inside the frame, the
    registry convention), the correlation is the closed form
    (n·Sxy−SxSy)/√((n·Sxx−Sx²)(n·Syy−Sy²)) guarded on both variances,
    rows gated at n≥8 trailing days.  Shape: one user-keyed exchange
    carries the daily agg AND the window (AQE plans one shuffle);
    bounded 14-row frames, no global window."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(30,12)"))
        .cast("double")
        .alias("x"),
        F.count(F.lit(1)).cast("double").alias("y"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("day").rowsBetween(-13, 0)

    def dsum(c):
        return F.sum(c.cast("decimal(38,12)")).over(w).cast("double")

    rolled = daily.select(
        "user_id",
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    corr = F.when(
        (vx > 0) & (vy > 0),
        (n * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.sqrt(vx) * F.sqrt(vy)),
    )
    return rolled.filter(F.col("n") >= 8).select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("bigint").alias("n_days"),
        _r6(corr).alias("corr_value_count"),
    )


@register(
    "w19_sliding_distinct_hll",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
days AS (SELECT DISTINCT d FROM ud),
win AS (
  SELECT days.d AS day, COUNT(DISTINCT ud.user_id) AS exact_7d
  FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
  GROUP BY 1
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(exact_7d AS BIGINT) AS exact_7d,
       1 AS est_within_2pct
FROM win
""",
    tags=("window", "sketch", "read"),
)
def w19_sliding_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct users via MERGEABLE DAILY HLL SKETCHES
    — the bounded-state scale path for w16's exact answer: w16's
    dedupe-then-explode touches every distinct (user, day) pair per
    window position, so window length multiplies the shuffled rows;
    here the raw data is scanned ONCE into one sketch PER DAY (a
    bounded artifact, the a20/a23 position), and every window
    position is pure sketch ALGEBRA — a 7-row union per day,
    independent of user volume.  At 100 TB with 365-day retention the
    daily-sketch table is ~365 rows x a few KB, any window length
    re-answers from it without re-scanning events, and the same
    sketches roll up to weekly/monthly distinct for free.

    The exact column is hash-checked (the oracle recomputes it from
    raw rows); the HLL estimate reduces to a pinned verdict column —
    within max(2% of exact, 1) — the a23 convention for a ~0.8%-
    stderr sketch measured far inside the band at every SF (a few
    hundred users per window sits in HLL's near-exact sparse
    regime).  The exact_7d column exists ONLY as the verification
    anchor (it re-runs the w16-shaped dedupe-then-range-join every
    call); at deployment the sketch path alone is the operator — the
    daily-HLL table plus the 7-row unions is everything a serving
    query touches."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("user_id", F.to_date("ts").alias("d"))
        .groupBy("d")
        .agg(
            F.hll_sketch_agg("user_id").alias("sk"),
        )
    )
    days = daily.select(F.col("d").alias("day"))
    trail = daily.join(
        days,
        (F.col("d") <= F.col("day"))
        & (F.col("d") >= F.date_sub(F.col("day"), 6)),
    )
    est = trail.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_7d")
    )
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    exact = (
        ud.join(
            days,
            (F.col("d") <= F.col("day"))
            & (F.col("d") >= F.date_sub(F.col("day"), 6)),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_7d"))
    )
    return exact.join(est, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "exact_7d",
        F.when(
            F.abs(F.col("est_7d") - F.col("exact_7d"))
            <= F.greatest(0.02 * F.col("exact_7d"), F.lit(1.0)),
            1,
        )
        .otherwise(0)
        .alias("est_within_2pct"),
    )
