"""Time-series / anomaly queries (SURVEY.md §2.11: T1 is in q_window;
here T3 sustained runs, T5 temporal clusters, S4/W3 watermark cursors)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windows import sustained_islands, zscore
from ..sources.tables import load_table
from .q_join import _gap_sessions
from .registry import dec_avg, dec_sum, q6
from .registry import r6 as _r6
from .registry import register


@register(
    "t3_sustained_islands",
    oracle="""
WITH flagged AS (
  SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem WHERE l_discount > 0.05
),
numbered AS (
  SELECT l_orderkey, l_linenumber,
         l_linenumber - LAG(l_linenumber) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS gap
  FROM flagged
),
islands AS (
  SELECT l_orderkey, l_linenumber,
         CAST(SUM(CASE WHEN gap IS NULL OR gap > 2 THEN 1 ELSE 0 END)
           OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island_id
  FROM numbered
)
SELECT l_orderkey, island_id,
       MIN(l_linenumber) AS island_start,
       MAX(l_linenumber) AS island_end,
       COUNT(*) AS island_rows
FROM islands
GROUP BY l_orderkey, island_id
HAVING MAX(l_linenumber) - MIN(l_linenumber) + 1 >= 3
""",
    tags=("anomaly", "window", "read"),
)
def t3_sustained_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 sustained-run filter: flagged rows grouped with ≤2-step
    adjacency, keeping runs spanning ≥3 (span = last-first+1) — the
    form-anomaly sustained gate (``form_anomaly_detector.py:289-328``),
    whose off-by-one span semantics the oracle reproduces exactly.

    Flagged rows are DISTINCT (the reference flags unique seconds) —
    also load-bearing for determinism: with duplicate order keys, a
    LAG-then-cumsum pair of windows may order ties differently between
    (or even within) engines, silently moving an island boundary onto a
    different duplicate.  Found by the sf0.1 sweep; sf0.01 lacks the
    colliding keys."""
    li = load_table(spark, sf_dir, "lineitem")
    flagged = (
        li.filter(F.col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber")
        .distinct()
    )
    return sustained_islands(
        flagged, ["l_orderkey"], "l_linenumber", max_gap=2, min_span=3
    )


@register(
    "t5_cluster_buckets",
    oracle="""
WITH z AS (
  SELECT event_id, event_type, value, epoch_us(ts) // 1000000 AS sec,
         AVG(value) OVER (PARTITION BY event_type) AS m,
         STDDEV_SAMP(value) OVER (PARTITION BY event_type) AS s
  FROM events
),
anom AS (
  SELECT event_type, sec // 300 AS bucket_5min,
         CASE WHEN s > 0 THEN (value - m) / s ELSE 0.0 END AS zval
  FROM z
  WHERE ABS(CASE WHEN s > 0 THEN (value - m) / s ELSE 0.0 END) > 2.0
)
SELECT event_type, bucket_5min, COUNT(*) AS n_anomalies,
       ROUND(MAX(ABS(zval)), 6) AS max_abs_z
FROM anom
GROUP BY event_type, bucket_5min
""",
    tags=("anomaly",),
)
def t5_cluster_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 temporal anomaly clusters: z>2 outliers pooled into 5-minute
    buckets with the peak |z| per cluster
    (``form_anomaly_detector.py:690-786``, ``floor(ts/300)`` buckets)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "sec", F.expr("unix_micros(ts) div 1000000")
    )
    z = zscore(ev, ["event_type"], "value")
    return (
        z.filter(F.abs(F.col("z")) > 2.0)
        .groupBy(
            "event_type",
            F.expr("sec div 300").alias("bucket_5min"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_anomalies"),
            _r6(F.max(F.abs(F.col("z")))).alias("max_abs_z"),
        )
    )


@register(
    "s4_watermark_cursor",
    oracle="""
SELECT o_orderstatus,
       strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date,
       COUNT(*) AS n_rows
FROM orders
GROUP BY o_orderstatus
""",
    tags=("source", "incremental"),
)
def s4_watermark_cursor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/W3 catch-up watermark cursor: per-domain MAX(date) that the
    incremental ingest resumes from (``db_reader.py:217-282``)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_date"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "t9_event_sessions",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_id, ts, value,
         epoch_us(ts) // 1000000
           - LAG(epoch_us(ts) // 1000000)
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
),
marked AS (
  SELECT user_id, event_id, ts, value,
         CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM ordered
)
SELECT user_id, session_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       epoch_us(MAX(ts)) // 1000000 - epoch_us(MIN(ts)) // 1000000 AS duration_sec,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE), 6)
         AS total_value
FROM marked
GROUP BY user_id, session_seq
""",
    tags=("window", "composite", "read"),
)
def t9_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-gap sessionization — the canonical event-stream
    operator a training/analytics pipeline runs before any per-session
    feature: a new session starts after >30 min of inactivity.  One
    LAG + running-sum window pair per user (ordering includes event_id
    so duplicate timestamps cannot move a boundary between engines —
    the t3 duplicate-key lesson) and one grouped aggregate; value sums
    go through DECIMAL for shuffle-order determinism.  Scale shape:
    single hash shuffle on user_id, no cross-partition state (the
    streaming sibling is ``streaming/stateful.py``'s session logic)."""
    ev = load_table(spark, sf_dir, "events")
    marked, epoch = _gap_sessions(ev)
    return marked.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.max(epoch) - F.min(epoch)).alias("duration_sec"),
        _r6(
            F.sum(F.col("value").cast("decimal(30,12)")).cast("double")
        ).alias("total_value"),
    )


@register(
    "j10_cdc_apply",
    oracle="""
WITH base AS (
  SELECT user_id, value FROM (
    SELECT user_id, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE event_id % 2 = 0)
  WHERE rn = 1
),
ch AS (
  SELECT user_id, value,
         CASE WHEN event_id % 10 = 1 THEN 'delete' ELSE 'upsert' END AS op,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE event_id % 2 = 1
),
latest AS (SELECT user_id, value, op FROM ch WHERE rn = 1)
SELECT user_id,
       CASE WHEN l.op IS NOT NULL THEN l.value ELSE b.value END AS value
FROM base b FULL OUTER JOIN latest l USING (user_id)
WHERE l.op IS NULL OR l.op <> 'delete'
""",
    tags=("join", "cdc", "read"),
)
def j10_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE/upsert: even event_ids build the base snapshot
    (latest value per user), odd event_ids play the CDC stream
    (event_id % 10 == 1 → delete tombstone, else upsert); per key the
    latest change by (ts, event_id) wins, untouched keys keep base —
    ``operators/joins.cdc_apply``.  A wrong precedence order, a
    tombstone that fails to drop, or a base row lost in the outer join
    all change the row set."""
    from ..operators.joins import cdc_apply
    from ..operators.windows import latest_per_key

    ev = load_table(spark, sf_dir, "events")
    base = latest_per_key(
        ev.filter(F.col("event_id") % 2 == 0),
        ["user_id"],
        [F.col("ts").desc(), F.col("event_id").desc()],
    ).select("user_id", "value")
    changes = ev.filter(F.col("event_id") % 2 == 1).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_id") % 10 == 1, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        "value",
    )
    out = cdc_apply(base, changes, ["user_id"], ["ts", "event_id"])
    return out.select("user_id", "value")


# SCD2 runs over the quantized value band: one row per (user, version)
# with its first valid_from — w11's output and j14's interval source.
_SCD2_RUNS = """snap AS (
  SELECT user_id, ts, CAST(floor(value) AS BIGINT) % 5 AS vband
  FROM (
    SELECT user_id, ts, value,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
    FROM events)
  WHERE rn = 1
),
marked AS (
  SELECT user_id, ts, vband,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN vband IS DISTINCT FROM lag(vband) OVER w THEN 1
              ELSE 0 END AS new_run
  FROM snap
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
versioned AS (
  SELECT *, SUM(new_run) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS version
  FROM marked
),
runs AS (
  SELECT user_id, version, MIN(vband) AS vband,
         MIN(ts) AS valid_from
  FROM versioned GROUP BY 1, 2
)"""


@register(
    "w11_scd2_intervals",
    oracle=f"""
WITH {_SCD2_RUNS}
SELECT user_id, vband, CAST(version AS BIGINT) AS version, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
         AS valid_to
FROM runs
""",
    tags=("window", "scd2", "read"),
)
def w11_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history with change suppression: the quantized
    value band (floor(value) % 5) per user becomes one validity
    interval per DISTINCT run — redelivered unchanged snapshots must
    NOT mint versions; ``operators/windows.scd2_intervals``.  valid_to
    is null on each user's current version."""
    ev = load_table(spark, sf_dir, "events")
    return _vband_intervals(ev).select(
        "user_id", "vband", "version", "valid_from", "valid_to"
    )


def _vband_intervals(ev: DataFrame) -> DataFrame:
    """The w11/j14 SCD2 history: the latest snapshot per (user, ts)
    (event_id tiebreak), quantized to ``vband = floor(value) % 5``,
    folded into one validity interval per distinct run."""
    from ..operators.windows import latest_per_key, scd2_intervals

    snap = latest_per_key(ev, ["user_id", "ts"], [F.col("event_id")]).select(
        "user_id",
        "ts",
        (F.floor("value").cast("bigint") % 5).alias("vband"),
    )
    return scd2_intervals(snap, ["user_id"], "ts", ["vband"])


@register(
    "t10_gap_fill_ffill",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*), 6)
           AS day_value
  FROM events GROUP BY 1, 2
),
spans AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
),
cal AS (
  SELECT user_id, CAST(day_ts AS DATE) AS day FROM (
    SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day_ts
    FROM spans)
),
joined AS (
  SELECT c.user_id, c.day, d.day_value,
         d.day_value IS NOT NULL AS is_observed
  FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       last_value(day_value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY day
         ROWS UNBOUNDED PRECEDING) AS day_value,
       is_observed
FROM joined
""",
    tags=("timeseries", "window", "read"),
)
def t10_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily gap fill + forward fill over each user's own
    [first, last] day span — the regularization before rolling-window
    features whose frames assume one row per day; calendar built
    in-row with sequence()+explode (no calendar-table cross join);
    ``operators/windows.gap_fill_ffill``."""
    from ..operators.windows import gap_fill_ffill

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.round(dec_avg(F.col("value")), 6).alias("day_value"))
    )
    out = gap_fill_ffill(daily, ["user_id"], "day", ["day_value"])
    # date rendered as string on both sides (registry convention for
    # DATE columns — a4's day does the same)
    return out.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "day_value",
        "is_observed",
    )


@register(
    "t11_time_weighted_avg",
    oracle="""
WITH o AS (
  SELECT user_id, value,
         epoch_us(ts) // 1000000 AS es,
         lead(epoch_us(ts) // 1000000)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nes
  FROM events
),
a AS (
  SELECT user_id,
         SUM(CAST(value * (nes - es) AS DECIMAL(30,6))) AS num,
         MAX(es) - MIN(es) AS span_sec,
         COUNT(*) AS n_obs
  FROM o GROUP BY 1
)
SELECT user_id, ROUND(CAST(num AS DOUBLE) / span_sec, 6) AS twa,
       span_sec, CAST(n_obs AS BIGINT) AS n_obs
FROM a WHERE span_sec > 0
""",
    tags=("timeseries", "agg", "read"),
)
def t11_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-function time-weighted average of each user's value series —
    the estimator for IRREGULAR sampling where a plain AVG is biased by
    sampling density (each value holds until the next observation, so
    its weight is the seconds it was current);
    ``operators/windows.time_weighted_avg``.  event_id tiebreaks
    duplicate timestamps so the weight assignment is engine-stable;
    products go through DECIMAL(30,6) before summing."""
    from ..operators.windows import time_weighted_avg

    ev = load_table(spark, sf_dir, "events")
    return time_weighted_avg(
        ev, ["user_id"], "ts", "value", tiebreak_cols=["event_id"]
    )


_J14_INTERVALS = f"""
{_SCD2_RUNS},
intervals AS (
  SELECT user_id, vband, version, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
           AS valid_to
  FROM runs
)"""


@register(
    "j14_scd2_lookup",
    oracle=f"""
WITH {_J14_INTERVALS}
SELECT f.event_id, f.user_id, f.ts, f.value,
       d.vband AS asof_vband, CAST(d.version AS BIGINT) AS asof_version
FROM events f JOIN intervals d
  ON f.user_id = d.user_id
 AND f.ts >= d.valid_from
 AND (d.valid_to IS NULL OR f.ts < d.valid_to)
""",
    tags=("join", "scd2", "read"),
)
def j14_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-validity-interval dimension lookup — the consumption
    side of w11's SCD2 history: every fact row resolves to the dim
    version whose ``[valid_from, valid_to)`` contains its timestamp
    (a fact exactly AT a boundary belongs to the NEW version).  The
    oracle states the raw interval predicate; the Spark plan must NOT:
    because SCD2 versions are contiguous and non-overlapping per key,
    the interval membership IS the backward as-of match on valid_from
    (``operators/joins.backward_asof_join`` — union-tag + one keyed
    sort window, ONE hash exchange, no range join, no
    BroadcastNestedLoop).  The same reduction is the 100 TB shape for
    any temporal dimension lookup."""
    from ..operators.joins import backward_asof_join

    ev = load_table(spark, sf_dir, "events")
    dim = _vband_intervals(ev).select(
        "user_id", F.col("valid_from"), "vband", "version"
    )
    facts = ev.select("user_id", "event_id", "ts", "value")
    out = backward_asof_join(
        facts, dim, ["user_id"], "ts", "valid_from", ["vband", "version"]
    )
    return out.select(
        "event_id", "user_id", "ts", "value", "asof_vband", "asof_version"
    )


# The daily grid most series oracles start from: each user's per-day
# DECIMAL-exact mean event value (mirrors ``_daily_mean``).
_DAILY_CTE = """daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*)
           AS day_value
  FROM events GROUP BY 1, 2
)"""


def _daily_mean(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Each user's per-day DECIMAL-exact mean event value as
    ``(user_id, day, <name>)`` — the daily grid the series entries
    start from."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        dec_avg(F.col("value")).alias(name)
    )


@register(
    "w12_ewma_halflife",
    oracle=f"""
WITH {_DAILY_CTE},
idx AS (
  SELECT user_id, day, day_value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) - 1 AS i
  FROM daily
),
terms AS (
  SELECT *, CASE WHEN i = 0 THEN day_value
                 ELSE POWER(2.0, i - 1) * day_value END AS term
  FROM idx
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       FLOOR(day_value * 1000000.0 + 0.5) / 1000000.0 AS day_value,
       FLOOR(POWER(0.5, i) * SUM(term) OVER (
         PARTITION BY user_id ORDER BY day
         ROWS UNBOUNDED PRECEDING) * 1000000.0 + 0.5) / 1000000.0 AS ewma
FROM terms
""",
    tags=("timeseries", "window", "read"),
)
def w12_ewma_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 1/2) of each
    user's DAILY mean — recursive smoothing unrolled into one keyed
    running sum: with alpha = 1/2 the recurrence
    ``y_i = (x_i + y_{i-1}) / 2`` (y_0 = x_0) closes to
    ``y_i = 0.5^i * (x_0 + sum_{j=1..i} 2^(j-1) x_j)``, and every
    2^±k scaling is EXACT in binary floating point, so one window SUM
    plus two pow() calls replaces the non-window-expressible
    recursion.  Smoothing runs over the bounded daily grid (the t10
    regularization convention — positions are calendar-bounded, so
    2^i cannot overflow; an unbounded tick-level series would need
    block-carry segmentation instead, documented here as the scale
    boundary).  One exchange on user_id shared by the index, term,
    and cumulative-sum windows."""
    from pyspark.sql import Window

    daily = _daily_mean(spark, sf_dir, "day_value")
    w = Window.partitionBy("user_id").orderBy("day")
    i = F.row_number().over(w) - 1
    idx = daily.withColumn("i", i)
    # Past i=1023 the 2^(i-1) term overflows double to inf and the
    # EWMA silently becomes inf/NaN in BOTH engines — fail loudly
    # instead (assert_true is folded into the term so Catalyst cannot
    # prune it); series longer than that belong to the block-carry
    # form (operators/windows.ewma_blocked, the w15 entry).
    guard = F.assert_true(
        F.col("i") < 1023,
        F.lit(
            "w12 closed-form EWMA is calendar-bounded: >1023 days/user "
            "overflows 2^(i-1); use the block-carry form (w15)"
        ),
    )
    term = F.when(
        guard.isNull() & (F.col("i") == 0), F.col("day_value")
    ).otherwise(F.pow(F.lit(2.0), F.col("i") - 1) * F.col("day_value"))
    cum = F.sum(term).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # halved 2dp inputs sit EXACTLY on 6dp rounding boundaries
    # (…4375 → …437/…438 split between Spark's BigDecimal HALF_UP and
    # DuckDB's scaled-double round — measured at sf0.01 row 545), so
    # both sides quantize with the IDENTICAL IEEE expression
    # floor(x·1e6 + 0.5)/1e6 instead of ROUND (the a15 precedent).
    return idx.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        q6(F.col("day_value")).alias("day_value"),
        q6(F.pow(F.lit(0.5), F.col("i")) * cum).alias("ewma"),
    )


@register(
    "w15_ewma_blocked",
    oracle=f"""
WITH {_DAILY_CTE},
idx AS (
  SELECT user_id, day, day_value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) - 1 AS i
  FROM daily
),
blk AS (
  SELECT *, i // 8 AS b, i % 8 AS l,
         CASE WHEN i = 0 THEN 2.0 * day_value
              ELSE POWER(2.0, i % 8) * day_value END AS t
  FROM idx
),
s AS (
  SELECT *, SUM(t) OVER (PARTITION BY user_id, b ORDER BY l
                         ROWS UNBOUNDED PRECEDING) AS s
  FROM blk
),
blocks AS (
  SELECT user_id, b, MAX_BY(s, l) AS tb, COUNT(*) AS lb
  FROM s GROUP BY 1, 2
),
eprev AS (
  SELECT *, COALESCE(SUM(lb) OVER (PARTITION BY user_id ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ep
  FROM blocks
),
pairs AS (
  SELECT tgt.user_id, tgt.b, src.b AS k,
         POWER(0.5, CAST(tgt.ep - src.ep AS DOUBLE)) * src.tb AS contrib
  FROM eprev tgt JOIN eprev src
    ON tgt.user_id = src.user_id
   AND src.b >= tgt.b - 135 AND src.b <= tgt.b - 1
),
cums AS (
  SELECT *, SUM(contrib) OVER (PARTITION BY user_id, b ORDER BY k
                               ROWS UNBOUNDED PRECEDING) AS cum
  FROM pairs
),
carries AS (
  SELECT user_id, b, MAX_BY(cum, k) AS c FROM cums GROUP BY 1, 2
)
SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
       FLOOR(s.day_value * 1000000.0 + 0.5) / 1000000.0 AS day_value,
       FLOOR(POWER(0.5, CAST(s.l + 1 AS DOUBLE))
             * (COALESCE(c.c, 0.0) + s.s) * 1000000.0 + 0.5) / 1000000.0
         AS ewma
FROM s LEFT JOIN carries c ON s.user_id = c.user_id AND s.b = c.b
""",
    tags=("timeseries", "window", "read"),
)
def w15_ewma_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life EWMA of each user's daily mean via BLOCK-CARRY
    segmentation (``operators/windows.ewma_halflife_blocked``,
    block=8) — the unbounded-series scale path that closes w12's
    documented boundary: w12's closed form overflows ``2^(i-1)`` past
    1023 days, while here every cross-block factor is a DECAYING
    ``0.5^g`` (exactly +0.0 past g >= 1075, so the carry join is
    banded and linear in series length).  Same input grid, same
    quantization, and the same alpha = 1/2 recurrence as w12 — but a
    different summation association, so w12 and w15 agree
    mathematically, not bit-for-bit; each entry's oracle mirrors ITS
    association exactly (block=8 puts ~4 blocks per user on this
    corpus, so the carry chain is genuinely exercised).  Scale shape:
    two keyed windows + a tiny blocks frame + a banded explode-join —
    no global windows, no recursion."""
    from ..operators.windows import ewma_halflife_blocked

    daily = _daily_mean(spark, sf_dir, "day_value")
    out = ewma_halflife_blocked(daily, ["user_id"], "day", "day_value", block=8)

    return out.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        q6(F.col("day_value")).alias("day_value"),
        q6(F.col("ewma")).alias("ewma"),
    )


@register(
    "w13_rolling_median_7d",
    oracle=f"""
WITH {_DAILY_CTE}
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       FLOOR(day_value * 1000000.0 + 0.5) / 1000000.0 AS day_value,
       FLOOR(MEDIAN(day_value) OVER (
         PARTITION BY user_id ORDER BY day
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 1000000.0 + 0.5)
         / 1000000.0 AS rolling_median
FROM daily
""",
    tags=("timeseries", "window", "read"),
)
def w13_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-row exact median of each user's daily mean — the
    robust smoother W4's centered rolling MEAN cannot replace when
    spikes must not leak into the baseline.  Spark's ``percentile``
    runs as a true window aggregate (frame-local exact interpolation,
    matching DuckDB's windowed MEDIAN definition), so no UDF and no
    per-key collect; the frame is ROWS-based over the daily grid, so
    per-row work is O(7) regardless of corpus size, and the only
    exchange is the user_id hash.  Interpolated medians of half-cent
    inputs sit on dyadic 6dp boundaries, so both sides quantize with
    the identical floor(x·1e6 + 0.5) expression (the w12 lesson)."""
    from pyspark.sql import Window

    daily = _daily_mean(spark, sf_dir, "day_value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )

    return daily.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        q6(F.col("day_value")).alias("day_value"),
        q6(F.expr("percentile(day_value, 0.5)").over(w)).alias(
            "rolling_median"
        ),
    )


@register(
    "t13_seasonal_naive_backtest",
    oracle=f"""
WITH {_DAILY_CTE},
scored AS (
  SELECT a.user_id, ABS(a.day_value - f.day_value) AS abs_err
  FROM daily a JOIN daily f
    ON a.user_id = f.user_id AND a.day = f.day + INTERVAL 7 DAY
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_scored,
       FLOOR(CAST(SUM(CAST(abs_err AS DECIMAL(30,12))) AS DOUBLE)
             / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS mae
FROM scored GROUP BY user_id
""",
    tags=("timeseries", "forecast", "read"),
)
def t13_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each user-day's mean
    with the value from exactly 7 days earlier and score per-user MAE
    over the days where both sides are observed — the baseline every
    fancier forecaster must beat, and the standard data-drift monitor
    for an event warehouse.  One keyed self-equi-join on
    (user, day−7) — date-shifted equi keys, NOT a range join — plus
    one grouped DECIMAL mean; two exchanges total, co-partitioned at
    scale."""
    daily = _daily_mean(spark, sf_dir, "day_value")
    fc = daily.select(
        "user_id",
        F.date_add("day", 7).alias("day"),
        F.col("day_value").alias("forecast"),
    )
    scored = daily.join(fc, ["user_id", "day"]).select(
        "user_id", F.abs(F.col("day_value") - F.col("forecast")).alias("abs_err")
    )
    mae = (
        F.floor(
            F.sum(F.col("abs_err").cast("decimal(30,12)")).cast("double")
            / F.count(F.lit(1))
            * 1_000_000.0
            + 0.5
        )
        / 1_000_000.0
    )
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_scored"), mae.alias("mae")
    )


@register(
    "t14_cusum_drift",
    oracle=f"""
WITH {_DAILY_CTE},
per_user AS (
  SELECT user_id,
         CAST(SUM(CAST(day_value AS DECIMAL(30,12))) AS DOUBLE)
           / COUNT(*) AS mu,
         CASE WHEN COUNT(*) > 1 THEN sqrt(GREATEST(
           (CAST(SUM(CAST(day_value * day_value AS DECIMAL(38,12))) AS DOUBLE)
            - CAST(SUM(CAST(day_value AS DECIMAL(30,12))) AS DOUBLE)
              * CAST(SUM(CAST(day_value AS DECIMAL(30,12))) AS DOUBLE)
              / COUNT(*)) / (COUNT(*) - 1), 0.0)) END AS sd
  FROM daily GROUP BY user_id
),
stats AS (
  SELECT d.user_id, p.mu, p.sd, d.day, d.day_value
  FROM daily d JOIN per_user p ON d.user_id = p.user_id
),
cum AS (
  SELECT user_id, day, day_value, mu, sd,
         SUM(day_value - mu) OVER (PARTITION BY user_id ORDER BY day
                                   ROWS UNBOUNDED PRECEDING) AS r
  FROM stats
),
c2 AS (
  SELECT *, r - LEAST(0.0, MIN(r) OVER (PARTITION BY user_id ORDER BY day
                              ROWS UNBOUNDED PRECEDING)) AS s_raw
  FROM cum
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       FLOOR(day_value * 1000000.0 + 0.5) / 1000000.0 AS day_value,
       FLOOR(s_raw * 1000000.0 + 0.5) / 1000000.0 AS cusum,
       CAST(CASE WHEN s_raw > 2.0 * sd THEN 1 ELSE 0 END AS INTEGER)
         AS drift_alarm
FROM c2
""",
    tags=("timeseries", "anomaly", "read"),
)
def t14_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection over each user's daily mean —
    the classic sequential change detector, whose recursion
    ``S_i = max(0, S_{i-1} + y_i)`` looks window-inexpressible until
    the running-min identity closes it: with ``R = cumsum(y)``,
    ``S_i = R_i − min(0, running_min(R))`` EXACTLY (both are the
    maximal suffix sum ending at i, floored at 0).  One keyed
    exchange carries all four windows (per-user mean/std, the cumsum,
    the running min); the alarm fires when S exceeds 2σ of the daily
    series.  Same floor-quantization as w12 (cumsum diffs of dyadic
    day-means sit on 6dp boundaries); the alarm compares the RAW S
    with the identical expression in both engines."""
    from pyspark.sql import Window

    daily = _daily_mean(spark, sf_dir, "day_value")
    from .registry import dec_std

    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # DECIMAL mean/std (shuffle-order-independent, registry convention)
    # via a grouped agg + key join rather than float window aggregates
    per_user = daily.groupBy("user_id").agg(
        dec_avg(F.col("day_value")).alias("mu"),
        dec_std(F.col("day_value")).alias("sd"),
    )
    st = daily.join(per_user, "user_id").select(
        "user_id", "day", "day_value", "mu", "sd"
    )
    cum = st.withColumn(
        "r", F.sum(F.col("day_value") - F.col("mu")).over(w_cum)
    )
    s_raw = F.col("r") - F.least(F.lit(0.0), F.min("r").over(w_cum))

    return cum.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        q6(F.col("day_value")).alias("day_value"),
        q6(s_raw).alias("cusum"),
        F.when(s_raw > 2.0 * F.col("sd"), 1).otherwise(0).cast("int").alias(
            "drift_alarm"
        ),
    )


def _lag1_moments(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lag-1 pairs of each user's daily mean (one LEAD window) reduced
    to the DECIMAL-exact Pearson moment sums ``(user_id, n, sx, sy,
    sxy, sxx, syy)`` — t15's autocorrelation kernel, reused by t22."""
    from pyspark.sql import Window

    daily = _daily_mean(spark, sf_dir, name)
    w = Window.partitionBy("user_id").orderBy("day")
    pairs = daily.select(
        "user_id",
        F.col(name).alias("x"),
        F.lead(name).over(w).alias("y"),
    ).filter(F.col("y").isNotNull())
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec_sum(F.col("x"), scale=12, precision=30).alias("sx"),
        dec_sum(F.col("y"), scale=12, precision=30).alias("sy"),
        dec_sum(F.col("x") * F.col("y"), scale=12, precision=38).alias("sxy"),
        dec_sum(F.col("x") * F.col("x"), scale=12, precision=38).alias("sxx"),
        dec_sum(F.col("y") * F.col("y"), scale=12, precision=38).alias("syy"),
    )


# t15/t22: DECIMAL-exact Pearson moment sums of the lag-1 ``pairs``
# (the oracle mirror of ``_lag1_moments``).
_LAG1_MOMENTS_CTE = """m AS (
  SELECT user_id,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS DECIMAL(30,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(30,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
  FROM pairs WHERE y IS NOT NULL GROUP BY user_id
)"""


@register(
    "t15_autocorr_lag1",
    oracle=f"""
WITH {_DAILY_CTE},
pairs AS (
  SELECT user_id, day_value AS x,
         LEAD(day_value) OVER (PARTITION BY user_id ORDER BY day) AS y
  FROM daily
),
{_LAG1_MOMENTS_CTE}
SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
       ROUND(CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
                  THEN (n*sxy - sx*sy)
                       / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)) END, 6)
         AS autocorr
FROM m WHERE n >= 3
""",
    tags=("timeseries", "stats", "read"),
)
def t15_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each user's daily mean — the
    persistence/momentum statistic a forecasting pipeline checks
    before choosing a model (t13's seasonal-naive is only sensible
    when this is high).  One LEAD window pairs consecutive days, then
    the m5-style DECIMAL moment sums give Pearson r in closed form —
    order-independent, oracle bit-matched at 6dp.  One keyed exchange
    total (the daily agg and the LEAD share the user_id hash)."""
    m = _lag1_moments(spark, sf_dir, "day_value")
    n, sx, sy, sxy, sxx, syy = (F.col(c) for c in ["n", "sx", "sy", "sxy", "sxx", "syy"])
    r = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return m.filter(n >= 3).select(
        "user_id",
        n.cast("bigint").alias("n_pairs"),
        _r6(
            F.when((n * sxx - sx * sx > 0) & (n * syy - sy * sy > 0), r)
        ).alias("autocorr"),
    )


# w14's oracle body — shared with t19, which aggregates the same
# decomposition into strength-of-trend/seasonality measures.
_W14_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         FLOOR(CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*)
               * 1000000.0 + 0.5) / 1000000.0 AS dv_q
  FROM events GROUP BY 1, 2
),
tr AS (
  SELECT user_id, day, dv_q,
         FLOOR(CAST(SUM(CAST(dv_q AS DECIMAL(30,12))) OVER w AS DOUBLE)
               / COUNT(*) OVER w * 1000000.0 + 0.5) / 1000000.0 AS trend_q,
         dayofweek(day) AS wd
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
seas AS (
  SELECT user_id, wd,
         FLOOR(CAST(SUM(CAST(dv_q - trend_q AS DECIMAL(30,12))) AS DOUBLE)
               / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS seasonal_q
  FROM tr GROUP BY 1, 2
)
SELECT t.user_id, strftime(t.day, '%Y-%m-%d') AS day,
       CAST(t.wd AS INTEGER) AS weekday,
       t.dv_q AS day_value,
       t.trend_q AS trend,
       s.seasonal_q AS seasonal,
       FLOOR((t.dv_q - t.trend_q - s.seasonal_q) * 1000000.0 + 0.5)
         / 1000000.0 AS residual
FROM tr t JOIN seas s ON t.user_id = s.user_id AND t.wd = s.wd
"""


@register(
    "w14_seasonal_decompose",
    oracle=_W14_ORACLE,
    tags=("timeseries", "window", "read"),
)
def w14_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition (STL-lite) of each user's daily
    series: trend = 7-row centered moving mean (frame shrinks at the
    edges, identically in both engines via COUNT-over-frame), seasonal
    = per-(user, weekday) mean of the detrended series (grouped
    DECIMAL agg + key join, never a float window), residual = the
    rest — the decomposition every seasonality-aware monitor runs
    before alerting on raw values (t14's CUSUM fires on residuals in
    practice).  One user-keyed exchange carries the daily agg and the
    centered window; the seasonal join is co-partitioned.  Dyadic
    outputs → the floor(x·1e6+0.5) quantization on both sides (w12
    lesson); weekday keys use Spark's dayofweek−1 == DuckDB's
    dayofweek (both Sunday-based)."""
    from pyspark.sql import Window

    daily = _daily_mean(spark, sf_dir, "day_value")
    # every DECIMAL cast sees only 6dp-quantized doubles: a 12dp cast
    # of an ARBITRARY double rounds in Spark but truncates in DuckDB
    # (±1e-12/row — measured flipping one residual of 40k at sf0.1);
    # a 6dp-exact value is unambiguous at 12dp in both engines
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(-3, 3)
    dq = daily.select("user_id", "day", q6(F.col("day_value")).alias("dv_q"))
    tr = dq.select(
        "user_id",
        "day",
        "dv_q",
        q6(
            F.sum(F.col("dv_q").cast("decimal(30,12)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("trend_q"),
        (F.dayofweek("day") - 1).alias("wd"),
    )
    seas = tr.groupBy("user_id", "wd").agg(
        q6(dec_avg(F.col("dv_q") - F.col("trend_q"))).alias("seasonal_q")
    )
    j = tr.join(seas, ["user_id", "wd"])
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("wd").cast("int").alias("weekday"),
        F.col("dv_q").alias("day_value"),
        F.col("trend_q").alias("trend"),
        F.col("seasonal_q").alias("seasonal"),
        q6(F.col("dv_q") - F.col("trend_q") - F.col("seasonal_q")).alias(
            "residual"
        ),
    )


# Grouped-map pack-bucket count for t16/t17 (the parallelism knob:
# users never split across buckets; more buckets = more parallel
# grouped-map tasks, fewer users looped per Arrow batch).  32 is the
# measured sweet spot at sf0.1 on local[32]; results are
# bucket-count-invariant.
_PACK_BUCKETS = 32


# t16/t17: the daily mean ``x`` numbered 1.. per user in day order.
_DAILY_IDX_CTES = """daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS x
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT user_id, day, x,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
  FROM daily
)"""


@register(
    "t16_holt_linear",
    oracle=f"""
WITH RECURSIVE {_DAILY_IDX_CTES},
s AS (
  SELECT user_id, rn, day, x, x AS l, CAST(0.0 AS DOUBLE) AS b
  FROM idx WHERE rn = 1
  UNION ALL
  SELECT d.user_id, d.rn, d.day, d.x,
         0.5 * d.x + 0.5 * (s.l + s.b) AS l,
         0.25 * ((0.5 * d.x + 0.5 * (s.l + s.b)) - s.l) + 0.75 * s.b AS b
  FROM s JOIN idx d ON d.user_id = s.user_id AND d.rn = s.rn + 1
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       FLOOR(l * 1000000.0 + 0.5) / 1000000.0 AS level,
       FLOOR(b * 1000000.0 + 0.5) / 1000000.0 AS trend
FROM s
""",
    tags=("timeseries", "statefulness", "read"),
)
def t16_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double exponential) smoothing over each user's
    daily mean — level + trend state, alpha=1/2, beta=1/4 (both
    binary-exact, so the float recursion is bit-reproducible):
    ``l_i = a*x_i + (1-a)*(l_{i-1}+b_{i-1})``,
    ``b_i = B*(l_i - l_{i-1}) + (1-B)*b_{i-1}`` (Holt 1957 — public
    textbook method).  Unlike the single-state EWMA (w12's closed
    form, w15's block-carry), the COUPLED two-state recurrence has no
    window-expressible closed form with exact dyadic scalings, so this
    is the documented home of the grouped-map escape hatch:
    ``applyInPandas`` per user key, each group a bounded
    calendar-length series, state O(1), Arrow-batched — the same
    shape ``applyInPandasWithState`` gives the streaming twin (i8).
    The oracle runs the IDENTICAL recursion as a recursive CTE
    stepping row_number-indexed daily rows; both engines execute the
    same IEEE double expression tree, so outputs match bit-for-bit
    before the shared floor-quantization (the r7 ROUND lesson).
    Scale: one exchange on the packed bucket key, then
    embarrassingly parallel per-key sequential scans — exactly how a
    1000-executor cluster runs per-entity state machines (bucket
    count is the parallelism knob; users never split across
    buckets)."""
    import pandas as pd

    daily = _daily_mean(spark, sf_dir, "x")

    # group-PACKING: one pandas frame per user costs an Arrow
    # round-trip per tiny group (4k groups of ~30 rows at sf0.1 —
    # measured 3.3 s, overhead-dominated).  Keying the grouped map by
    # pmod(hash(user), 32) instead packs ~125 users per call and loops
    # them inside the batch — identical recursion and results, one
    # exchange either way, ~2× less wall.
    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["user_id", "day"]).reset_index(drop=True)
        uids = pdf["user_id"].to_numpy()
        xs = pdf["x"].to_numpy()
        levels = [0.0] * len(xs)
        trends = [0.0] * len(xs)
        l = b = None
        prev_uid = None
        for i, x in enumerate(xs):
            if uids[i] != prev_uid:
                prev_uid = uids[i]
                l, b = float(x), 0.0
            else:
                l_new = 0.5 * float(x) + 0.5 * (l + b)
                b = 0.25 * (l_new - l) + 0.75 * b
                l = l_new
            levels[i] = l
            trends[i] = b
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "day": pdf["day"].map(lambda d: d.strftime("%Y-%m-%d")),
                "level": levels,
                "trend": trends,
            }
        )

    out = (
        daily.withColumn("_b", F.pmod(F.hash("user_id"), F.lit(_PACK_BUCKETS)))
        .groupBy("_b")
        .applyInPandas(
            holt, "user_id long, day string, level double, trend double"
        )
    )

    return out.select(
        "user_id", "day", q6(F.col("level")).alias("level"),
        q6(F.col("trend")).alias("trend"),
    )


@register(
    "t17_holt_winters",
    oracle=f"""
WITH RECURSIVE {_DAILY_IDX_CTES},
s AS (
  SELECT user_id, rn, day, x, x AS l, CAST(0.0 AS DOUBLE) AS b,
         [CAST(0.0 AS DOUBLE),0.0,0.0,0.0,0.0,0.0,0.0] AS sl
  FROM idx WHERE rn = 1
  UNION ALL
  SELECT d.user_id, d.rn, d.day, d.x,
         0.5 * (d.x - s.sl[((d.rn - 1) % 7) + 1]) + 0.5 * (s.l + s.b),
         0.25 * ((0.5 * (d.x - s.sl[((d.rn - 1) % 7) + 1])
                  + 0.5 * (s.l + s.b)) - s.l) + 0.75 * s.b,
         list_transform(s.sl, (v, i) -> CASE
           WHEN i = ((d.rn - 1) % 7) + 1
           THEN 0.25 * (d.x - (0.5 * (d.x - s.sl[((d.rn - 1) % 7) + 1])
                              + 0.5 * (s.l + s.b))) + 0.75 * v
           ELSE v END)
  FROM s JOIN idx d ON d.user_id = s.user_id AND d.rn = s.rn + 1
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       FLOOR(l * 1000000.0 + 0.5) / 1000000.0 AS level,
       FLOOR(b * 1000000.0 + 0.5) / 1000000.0 AS trend,
       FLOOR(sl[((rn - 1) % 7) + 1] * 1000000.0 + 0.5) / 1000000.0
         AS seasonal
FROM s
""",
    tags=("timeseries", "statefulness", "read"),
)
def t17_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (triple exponential) smoothing per user —
    t16's coupled level+trend state plus a 7-SLOT SEASONAL vector
    (slot = row index mod 7; position-based season keeps the recursion
    well-defined over gapped daily grids), all dyadic scalings
    (alpha=1/2, beta=gamma=1/4) so the float recursion is
    bit-reproducible:
    ``l_i = a*(x_i - s_old) + (1-a)*(l+b)``,
    ``b_i = B*(l_i - l) + (1-B)*b``,
    ``s_i = G*(x_i - l_i) + (1-G)*s_old`` (Winters 1960 — public
    textbook method; init l=x_1, b=0, s=zeros).  Three coupled states
    with a vector component is even further from window-expressible
    than t16, so it shares the grouped-map escape hatch:
    ``applyInPandas`` per user, O(period) state, Arrow-batched.  The
    oracle carries the seasonal vector as a LIST column through a
    recursive CTE (indexed ``list_transform`` updates one slot per
    step) — the identical IEEE expression tree, matching bit-for-bit
    before the shared floor-quantization.  Scale: one exchange on the
    packed bucket key, then embarrassingly parallel per-key scans."""
    import pandas as pd

    daily = _daily_mean(spark, sf_dir, "x")

    # group-packed like t16: ~125 users per Arrow batch, per-user
    # state reset on the key change inside the sorted batch
    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["user_id", "day"]).reset_index(drop=True)
        uids = pdf["user_id"].to_numpy()
        xs = pdf["x"].to_numpy()
        levels = [0.0] * len(xs)
        trends = [0.0] * len(xs)
        seasonals = [0.0] * len(xs)
        l = b = None
        sl = [0.0] * 7
        prev_uid = None
        pos = 0
        for i, x in enumerate(xs):
            if uids[i] != prev_uid:
                prev_uid = uids[i]
                l, b = float(x), 0.0
                sl = [0.0] * 7
                pos = 0
                slot = 0
            else:
                pos += 1
                slot = pos % 7
                s_old = sl[slot]
                l_new = 0.5 * (float(x) - s_old) + 0.5 * (l + b)
                b = 0.25 * (l_new - l) + 0.75 * b
                sl[slot] = 0.25 * (float(x) - l_new) + 0.75 * s_old
                l = l_new
            levels[i] = l
            trends[i] = b
            seasonals[i] = sl[slot]
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "day": pdf["day"].map(lambda d: d.strftime("%Y-%m-%d")),
                "level": levels,
                "trend": trends,
                "seasonal": seasonals,
            }
        )

    out = (
        daily.withColumn("_b", F.pmod(F.hash("user_id"), F.lit(_PACK_BUCKETS)))
        .groupBy("_b")
        .applyInPandas(
            hw,
            "user_id long, day string, level double, trend double, "
            "seasonal double",
        )
    )

    return out.select(
        "user_id",
        "day",
        q6(F.col("level")).alias("level"),
        q6(F.col("trend")).alias("trend"),
        q6(F.col("seasonal")).alias("seasonal"),
    )


@register(
    "t18_mann_kendall",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / COUNT(value) AS x
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.user_id, SIGN(b.x - a.x) AS sg
  FROM daily a JOIN daily b ON a.user_id = b.user_id AND a.day < b.day
),
s AS (SELECT user_id, CAST(SUM(CAST(sg AS BIGINT)) AS BIGINT) AS s_stat
      FROM pairs GROUP BY 1),
nn AS (SELECT user_id, COUNT(*) AS n FROM daily GROUP BY 1),
tg AS (SELECT user_id, x, COUNT(*) AS c FROM daily GROUP BY 1, 2),
ties AS (SELECT user_id, SUM(c * (c - 1) * (2 * c + 5)) AS tt FROM tg GROUP BY 1),
v AS (
  SELECT nn.user_id, nn.n, s.s_stat,
         (nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tt) / 18.0 AS var_s
  FROM nn JOIN s ON s.user_id = nn.user_id
  JOIN ties ON ties.user_id = nn.user_id
),
z AS (
  SELECT user_id, CAST(n AS BIGINT) AS n_days, s_stat,
         ROUND(var_s, 6) AS var_s,
         ROUND(CASE WHEN var_s > 0 AND s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                    WHEN var_s > 0 AND s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                    WHEN var_s > 0 THEN 0.0 END, 6) AS z
  FROM v
)
SELECT user_id, n_days, s_stat, var_s, z,
       CASE WHEN z > 1.96 THEN 'increasing'
            WHEN z < -1.96 THEN 'decreasing'
            WHEN z IS NULL THEN NULL
            ELSE 'none' END AS trend
FROM z
""",
    tags=("timeseries", "stats", "batch"),
)
def t18_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall nonparametric trend test per user over the daily
    series — the significance HALF of the robust-trend kit whose
    magnitude half is m16's Theil-Sen (the two are the textbook
    pairing: MK says WHETHER a monotone trend exists, Theil-Sen says
    how steep): S = Σ sign(x_j − x_i) over day-ordered pairs, the
    tie-corrected variance n(n−1)(2n+5)/18 − Σt(t−1)(2t+5)/18, the
    continuity-corrected z, and the |z| > 1.96 verdict.

    Scale shape is m16's argument verbatim: the pairwise join is
    quadratic IN THE GROUP but the group is calendar-bounded (≤31
    daily rows per user), so 10× users = 10× bounded groups — linear;
    S and the tie term are exact INTEGER statistics (sign sums over
    identical doubles both engines derive from DECIMAL-exact daily
    means), so the entry hash-matches without any median machinery.
    The verdict compares the ROUNDED z so both engines band
    identically."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        (
            F.sum(F.col("value").cast("decimal(30,12)")).cast("double")
            / F.count("value")
        ).alias("x")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.signum(F.col("b.x") - F.col("a.x")).alias("sg"),
    )
    s = pairs.groupBy("user_id").agg(
        F.sum(F.col("sg").cast("bigint")).alias("s_stat")
    )
    nn = daily.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("user_id", "x")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5)
            ).alias("tt")
        )
    )
    v = (
        nn.join(s, "user_id")
        .join(ties, "user_id")
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n_days"),
            "s_stat",
            (
                (
                    F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                    - F.col("tt")
                )
                / 18.0
            ).alias("_var"),
        )
    )
    z = F.when(
        (F.col("_var") > 0) & (F.col("s_stat") > 0),
        (F.col("s_stat") - 1) / F.sqrt(F.col("_var")),
    ).when(
        (F.col("_var") > 0) & (F.col("s_stat") < 0),
        (F.col("s_stat") + 1) / F.sqrt(F.col("_var")),
    ).when(F.col("_var") > 0, F.lit(0.0))
    out = v.select(
        "user_id",
        "n_days",
        "s_stat",
        _r6(F.col("_var")).alias("var_s"),
        _r6(z).alias("z"),
    )
    return out.withColumn(
        "trend",
        F.when(F.col("z") > 1.96, "increasing")
        .when(F.col("z") < -1.96, "decreasing")
        .when(F.col("z").isNotNull(), "none"),
    )


def _t19_oracle() -> str:
    def var(col: str) -> str:
        sx = f"CAST(SUM(CAST({col} AS DECIMAL(30,12))) AS DOUBLE)"
        sxx = f"CAST(SUM(CAST({col} * {col} AS DECIMAL(38,12))) AS DOUBLE)"
        return f"(({sxx}) - ({sx}) * ({sx}) / COUNT(*)) / COUNT(*)"

    vr = var("residual")
    vsr = var("(seasonal + residual)")
    vtr = var("(trend + residual)")
    return f"""
WITH base AS ({_W14_ORACLE}),
m AS (
  SELECT user_id, COUNT(*) AS n_days,
         {vr} AS v_r, {vsr} AS v_sr, {vtr} AS v_tr
  FROM base GROUP BY 1
),
f AS (
  SELECT user_id, n_days,
         CASE WHEN v_tr > 0
              THEN ROUND(GREATEST(0.0, 1.0 - v_r / v_tr), 6) END AS f_trend,
         CASE WHEN v_sr > 0
              THEN ROUND(GREATEST(0.0, 1.0 - v_r / v_sr), 6) END AS f_seasonal
  FROM m
)
SELECT user_id, CAST(n_days AS BIGINT) AS n_days, f_trend, f_seasonal,
       CASE WHEN COALESCE(f_trend, 0) > 0.64 AND COALESCE(f_seasonal, 0) > 0.64
              THEN 'trend+seasonal'
            WHEN COALESCE(f_trend, 0) > 0.64 THEN 'trending'
            WHEN COALESCE(f_seasonal, 0) > 0.64 THEN 'seasonal'
            ELSE 'noisy' END AS classification
FROM f
"""


@register(
    "t19_seasonal_strength",
    oracle=_t19_oracle(),
    tags=("timeseries", "eval", "read"),
)
def t19_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength-of-trend and strength-of-seasonality per key
    (Hyndman & Athanasopoulos, FPP3 §4.3: F_T = max(0, 1 −
    Var(R)/Var(T+R)), F_S = max(0, 1 − Var(R)/Var(S+R)) over the w14
    decomposition) — the forecasting-diagnostic that picks a MODEL
    before anyone fits one: a 'noisy' series gets a naive/mean
    forecaster, 'seasonal' gets t13's seasonal-naive, 'trending'
    gets t16 Holt, both gets t17 Holt-Winters.  The classification
    uses FPP's 0.64 threshold on the ROUNDED strengths so both
    engines band identically.

    All inputs are w14's 6dp-quantized components, so the DECIMAL
    moment sums are exact and the population variances are
    deterministic doubles; Var = 0 (a constant recombination) yields
    NULL strength rather than a division blow-up.  Shape: the w14
    decomposition's one user-keyed exchange + a per-user moment agg
    — diagnostics cost one scan over the component frame."""
    base = w14_seasonal_decompose(spark, sf_dir)

    def var_cols(col, tag):
        return [
            dec_sum(col, scale=12, precision=30).alias(f"sx_{tag}"),
            dec_sum(col * col, scale=12, precision=38).alias(f"sxx_{tag}"),
        ]

    m = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        *var_cols(F.col("residual"), "r"),
        *var_cols(F.col("seasonal") + F.col("residual"), "sr"),
        *var_cols(F.col("trend") + F.col("residual"), "tr"),
    )

    def var(tag):
        sx, sxx, n = (
            F.col(f"sx_{tag}"),
            F.col(f"sxx_{tag}"),
            F.col("n_days"),
        )
        return (sxx - sx * sx / n) / n

    f_trend = F.when(
        var("tr") > 0, _r6(F.greatest(F.lit(0.0), 1.0 - var("r") / var("tr")))
    )
    f_seasonal = F.when(
        var("sr") > 0, _r6(F.greatest(F.lit(0.0), 1.0 - var("r") / var("sr")))
    )
    out = m.select(
        "user_id",
        F.col("n_days").cast("bigint").alias("n_days"),
        f_trend.alias("f_trend"),
        f_seasonal.alias("f_seasonal"),
    )
    ft0 = F.coalesce(F.col("f_trend"), F.lit(0.0))
    fs0 = F.coalesce(F.col("f_seasonal"), F.lit(0.0))
    return out.withColumn(
        "classification",
        F.when((ft0 > 0.64) & (fs0 > 0.64), "trend+seasonal")
        .when(ft0 > 0.64, "trending")
        .when(fs0 > 0.64, "seasonal")
        .otherwise("noisy"),
    )


_T20_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT user_id, day, y,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS t,
         COUNT(*) OVER (PARTITION BY user_id) AS n,
         CAST(SUM(CAST(y AS DECIMAL(30,12))) OVER
           (PARTITION BY user_id ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS cy,
         CAST(SUM(CAST(y * y AS DECIMAL(38,12))) OVER
           (PARTITION BY user_id ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS cyy,
         CAST(SUM(CAST(y AS DECIMAL(30,12))) OVER (PARTITION BY user_id)
              AS DOUBLE) AS sy,
         CAST(SUM(CAST(y * y AS DECIMAL(38,12))) OVER (PARTITION BY user_id)
              AS DOUBLE) AS syy
  FROM daily
),
gains AS (
  SELECT user_id, day, t, n, cy, sy,
         (syy - sy * sy / n)
         - ((cyy - cy * cy / t)
            + ((syy - cyy) - (sy - cy) * (sy - cy) / (n - t))) AS gain
  FROM seq WHERE t < n AND n >= 4
),
best AS (
  SELECT user_id, day, t, n, gain,
         cy / t AS mean_before, (sy - cy) / (n - t) AS mean_after,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY gain DESC, t ASC) AS rk
  FROM gains
)
SELECT user_id,
       CAST(n AS BIGINT) AS n_days,
       CAST(t AS BIGINT) AS split_t,
       strftime(day, '%Y-%m-%d') AS change_day,
       ROUND(gain, 6) AS sse_gain,
       ROUND(mean_before, 6) AS mean_before,
       ROUND(mean_after, 6) AS mean_after
FROM best WHERE rk = 1
"""


@register(
    "t20_binary_segmentation",
    oracle=_T20_ORACLE,
    tags=("timeseries", "anomaly", "read"),
)
def t20_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint detection per user via exact binary
    segmentation (Scott & Knott; the k=1 step of PELT/BinSeg): the
    split of the daily-value series that maximizes the SSE reduction
    (syy−sy²/n) − (SSE_left + SSE_right), computed in CLOSED FORM
    from per-user cumulative prefix sums — every candidate split is
    scored in one window pass, no iteration, no fitting loop.  This
    generalizes a6's fixed two-halves drift and t14's directional
    CUSUM to "WHERE did the level shift" — the segmentation primitive
    training-data freshness audits run on ingest-volume series.

    Determinism: prefix and total sums ride DECIMAL casts (exact,
    order-free), the gain is a fixed-shape double expression of those
    exact sums, and the argmax tiebreaks on the earliest split.
    Series shorter than 4 days are skipped (no meaningful two-segment
    fit).  Shape for 100 TB: one user-keyed exchange carries the
    daily rollup, the prefix windows and the argmax — per-user state
    is bounded by the day count (the w18/a31 convention)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(30,12)")).cast("double").alias("y")
    )
    wo = Window.partitionBy("user_id").orderBy("day")
    wcum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("user_id")

    def dsum(c, p):
        return F.sum(c.cast(f"decimal({p},12)"))

    seq = daily.select(
        "user_id",
        "day",
        F.row_number().over(wo).alias("t"),
        F.count(F.lit(1)).over(wall).alias("n"),
        dsum(F.col("y"), 30).over(wcum).cast("double").alias("cy"),
        dsum(F.col("y") * F.col("y"), 38).over(wcum).cast("double").alias("cyy"),
        dsum(F.col("y"), 30).over(wall).cast("double").alias("sy"),
        dsum(F.col("y") * F.col("y"), 38).over(wall).cast("double").alias("syy"),
    )
    t, n = F.col("t"), F.col("n")
    cy, cyy, sy, syy = (F.col(c) for c in ("cy", "cyy", "sy", "syy"))
    gain = (syy - sy * sy / n) - (
        (cyy - cy * cy / t) + ((syy - cyy) - (sy - cy) * (sy - cy) / (n - t))
    )
    gains = seq.filter((t < n) & (n >= 4)).select(
        "user_id",
        "day",
        "t",
        "n",
        gain.alias("gain"),
        (cy / t).alias("mean_before"),
        ((sy - cy) / (n - t)).alias("mean_after"),
    )
    wbest = Window.partitionBy("user_id").orderBy(
        F.col("gain").desc(), F.col("t").asc()
    )
    return (
        gains.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n_days"),
            F.col("t").cast("bigint").alias("split_t"),
            F.date_format("day", "yyyy-MM-dd").alias("change_day"),
            _r6(F.col("gain")).alias("sse_gain"),
            _r6(F.col("mean_before")).alias("mean_before"),
            _r6(F.col("mean_after")).alias("mean_after"),
        )
    )


def _t21_oracle() -> str:
    lags = range(1, 8)
    lag_cols = ",\n         ".join(
        f"LAG(dv, {k}) OVER (PARTITION BY user_id ORDER BY day) AS x{k}"
        for k in lags
    )
    num_sums = ",\n         ".join(
        f"CAST(SUM(CAST((dv - xbar) * (x{k} - xbar) AS DECIMAL(38,12))) "
        f"AS DOUBLE) AS s{k}"
        for k in lags
    )
    q_terms = " + ".join(f"(s{k}/d)*(s{k}/d)/(n - {k})" for k in lags)
    return f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS dv
  FROM events GROUP BY 1, 2
),
centered AS (
  SELECT user_id, day, dv,
         CAST(SUM(CAST(dv AS DECIMAL(30,12)))
                OVER (PARTITION BY user_id) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY user_id) AS xbar,
         {lag_cols}
  FROM daily
),
m AS (
  SELECT user_id,
         CAST(COUNT(*) AS DOUBLE) AS n,
         MAX(xbar) AS xbar_c,
         CAST(SUM(CAST((dv - xbar) * (dv - xbar) AS DECIMAL(38,12)))
              AS DOUBLE) AS d,
         {num_sums}
  FROM centered GROUP BY user_id
),
q AS (
  SELECT user_id, n,
         n * (n + 2) * ({q_terms}) AS q_raw
  FROM m WHERE n >= 15 AND d > 0
)
SELECT user_id,
       CAST(n AS BIGINT) AS n_days,
       ROUND(q_raw, 6) AS q_stat,
       CAST(CASE WHEN q_raw > 14.067 THEN 1 ELSE 0 END AS INTEGER)
         AS not_white_noise
FROM q
"""


@register(
    "t21_ljung_box",
    oracle=_t21_oracle(),
    tags=("timeseries", "stats", "read"),
)
def t21_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau white-noise test (lags 1..7) on each
    user's daily-mean series — the residual-diagnostic completing the
    forecasting kit: t15 reads ONE autocorrelation, t21 asks whether
    the first seven are JOINTLY zero (Q = n(n+2)·Σ r_k²/(n−k); Q
    above the χ²₇ 95% critical value 14.067 means the series is not
    white noise, i.e. t13/t16/t17 have structure to model — run on
    model RESIDUALS it is the standard lack-of-fit test).  The
    verdict column pins the decision, the 6dp Q carries the evidence.

    Determinism: day_value and the per-user mean are the t15 DECIMAL
    conventions; every numerator/denominator sum quantizes identical
    doubles to DECIMAL(38,12) (shuffle-order-independent); the
    seven-term Q sum is built LEFT-ASSOCIATIVELY in the same order in
    both programs, so the final doubles are bit-identical before the
    6dp rounding; n ≥ 15 and d > 0 gates are integer/exact.  Shape
    for 100 TB: ONE user-keyed exchange carries the daily agg, the
    centering window, the seven LAGs (one ordered window pass) and
    the final agg; per-user state is the 7-deep lag buffer."""
    from pyspark.sql import Window

    daily = _daily_mean(spark, sf_dir, "dv")
    wp = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("day")
    xbar = (
        F.sum(F.col("dv").cast("decimal(30,12)")).over(wp).cast("double")
        / F.count(F.lit(1)).over(wp)
    )
    centered = daily.select(
        "user_id",
        "dv",
        xbar.alias("xbar"),
        *[F.lag("dv", k).over(wo).alias(f"x{k}") for k in range(1, 8)],
    )

    m = centered.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec_sum(
            (F.col("dv") - F.col("xbar")) * (F.col("dv") - F.col("xbar")),
            scale=12,
            precision=38,
        ).alias("d"),
        *[
            dec_sum(
                (F.col("dv") - F.col("xbar")) * (F.col(f"x{k}") - F.col("xbar")),
                scale=12,
                precision=38,
            ).alias(f"s{k}")
            for k in range(1, 8)
        ],
    )
    n = F.col("n")
    q_terms = None
    for k in range(1, 8):
        rk = F.col(f"s{k}") / F.col("d")
        term = rk * rk / (n - k)
        q_terms = term if q_terms is None else q_terms + term
    q_raw = n * (n + 2) * q_terms
    return (
        m.filter((n >= 15) & (F.col("d") > 0))
        .select(
            "user_id",
            n.cast("bigint").alias("n_days"),
            _r6(q_raw).alias("q_stat"),
            F.when(q_raw > 14.067, 1).otherwise(0).cast("int").alias(
                "not_white_noise"
            ),
        )
    )


def _t22_erfc_sql(x: str) -> str:
    """Abramowitz-Stegun 7.1.26 erfc for x >= 0, written as the SAME
    Horner chain the Spark side builds — identical literals, identical
    association order, so both engines produce bit-identical doubles."""
    t = f"(1.0 / (1.0 + 0.3275911 * {x}))"
    poly = (
        f"(((((1.061405429 * {t} - 1.453152027) * {t} + 1.421413741) * {t}"
        f" - 0.284496736) * {t} + 0.254829592) * {t})"
    )
    return f"({poly} * exp(-({x}) * ({x})))"


def _t22_oracle() -> str:
    z = "(r * sqrt(n))"
    x = f"(abs({z}) / sqrt(2.0))"
    p = _t22_erfc_sql(x)
    return f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS dv
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT user_id, dv AS x,
         LEAD(dv) OVER (PARTITION BY user_id ORDER BY day) AS y
  FROM daily
),
{_LAG1_MOMENTS_CTE},
stat AS (
  SELECT user_id, n,
         (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)) AS r
  FROM m
  WHERE n >= 3 AND (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
),
pv AS (
  SELECT user_id, CAST(n AS BIGINT) AS n_pairs, {z} AS z_raw, {p} AS p_raw
  FROM stat
),
ranked AS (
  SELECT user_id, n_pairs, z_raw, p_raw,
         ROW_NUMBER() OVER (ORDER BY p_raw ASC, user_id ASC) AS i,
         COUNT(*) OVER () AS mtests
  FROM pv
),
kstar AS (
  SELECT *,
         MAX(CASE WHEN p_raw <= 0.05 * i / mtests THEN i ELSE 0 END)
           OVER () AS k_star,
         SUM(CASE WHEN p_raw <= 0.05 THEN 1 ELSE 0 END) OVER () AS n_naive
  FROM ranked
)
SELECT user_id, n_pairs,
       ROUND(z_raw, 6) AS z_stat,
       ROUND(p_raw, 6) AS p_value,
       CAST(i AS BIGINT) AS p_rank,
       ROUND(0.05 * i / mtests, 6) AS bh_critical,
       CAST(CASE WHEN i <= k_star THEN 1 ELSE 0 END AS INTEGER) AS rejected,
       CAST(k_star AS BIGINT) AS n_rejected,
       CAST(n_naive AS BIGINT) AS n_naive_05
FROM kstar
"""


@register(
    "t22_bh_fdr",
    oracle=_t22_oracle(),
    tags=("timeseries", "stats", "eval", "read"),
)
def t22_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate correction across the
    per-key autocorrelation tests — the MULTIPLE-TESTING layer the
    per-key test family (t15/t18/t21) needs at fleet scale: run one
    test per key over thousands of keys and ~5% of null keys "fail"
    at α=0.05 by construction; BH sorts the p-values, finds
    k* = max{i : p_(i) ≤ α·i/m} and rejects exactly the first k*,
    controlling the expected fraction of false alarms among the
    alarms — the difference between an anomaly report someone reads
    and one they mute.  Statistic: z = r₁·√n (the t15 lag-1
    autocorrelation, asymptotically N(0,1) under whiteness);
    two-sided p = erfc(|z|/√2) via the Abramowitz-Stegun 7.1.26
    polynomial written as the SAME Horner chain in both programs —
    plain arithmetic + exp, so the doubles are bit-identical and
    every ≤ comparison (BH step-up, naive 0.05 count) lands
    identically; nothing is rounded before a comparison.

    Shape for 100 TB: the t15 one-exchange kernel per key, then BH on
    the KEY-CARDINALITY frame — one bounded single-partition window
    (bounded_partition_key convention: the frame is one row per user)
    carrying the rank, m, k* and the naive count in a single pass."""
    from pyspark.sql import Window

    from ..operators.windows import bounded_partition_key

    m = _lag1_moments(spark, sf_dir, "dv")
    n, sx, sy, sxy, sxx, syy = (
        F.col(c) for c in ["n", "sx", "sy", "sxy", "sxx", "syy"]
    )
    r = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    stat = m.filter(
        (n >= 3) & (n * sxx - sx * sx > 0) & (n * syy - sy * sy > 0)
    ).select("user_id", n.alias("n"), r.alias("r"))
    z = F.col("r") * F.sqrt(F.col("n"))
    x = F.abs(z) / F.sqrt(F.lit(2.0))
    t = 1.0 / (1.0 + 0.3275911 * x)
    poly = (
        ((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
          - 0.284496736) * t + 0.254829592) * t
    )
    p_raw = poly * F.exp(-x * x)
    pv = stat.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_pairs"),
        z.alias("z_raw"),
        p_raw.alias("p_raw"),
    )
    w_rank = Window.partitionBy(bounded_partition_key("user_id")).orderBy(
        F.col("p_raw").asc(), F.col("user_id").asc()
    )
    w_all = Window.partitionBy(bounded_partition_key("user_id"))
    ranked = pv.select(
        "user_id",
        "n_pairs",
        "z_raw",
        "p_raw",
        F.row_number().over(w_rank).alias("i"),
        F.count(F.lit(1)).over(w_all).alias("mtests"),
    )
    k_star = F.max(
        F.when(
            F.col("p_raw") <= 0.05 * F.col("i") / F.col("mtests"), F.col("i")
        ).otherwise(0)
    ).over(w_all)
    n_naive = F.sum(
        F.when(F.col("p_raw") <= 0.05, 1).otherwise(0)
    ).over(w_all)
    out = ranked.select(
        "user_id",
        "n_pairs",
        "z_raw",
        "p_raw",
        "i",
        "mtests",
        k_star.alias("k_star"),
        n_naive.alias("n_naive"),
    )
    return out.select(
        "user_id",
        "n_pairs",
        _r6(F.col("z_raw")).alias("z_stat"),
        _r6(F.col("p_raw")).alias("p_value"),
        F.col("i").cast("bigint").alias("p_rank"),
        _r6(0.05 * F.col("i") / F.col("mtests")).alias("bh_critical"),
        F.when(F.col("i") <= F.col("k_star"), 1)
        .otherwise(0)
        .cast("int")
        .alias("rejected"),
        F.col("k_star").cast("bigint").alias("n_rejected"),
        F.col("n_naive").cast("bigint").alias("n_naive_05"),
    )


@register(
    "t23_seasonal_mann_kendall",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / COUNT(value) AS x
  FROM events GROUP BY 1, 2
),
d AS (SELECT user_id, dayofweek(day) AS wd, day, x FROM daily),
pairs AS (
  SELECT a.user_id, a.wd, SIGN(b.x - a.x) AS sg
  FROM d a JOIN d b ON a.user_id = b.user_id AND a.wd = b.wd AND a.day < b.day
),
sg AS (
  SELECT user_id, wd, CAST(COALESCE(SUM(CAST(sg AS BIGINT)), 0) AS BIGINT)
           AS s_g
  FROM pairs GROUP BY 1, 2
),
ng AS (SELECT user_id, wd, COUNT(*) AS n_g FROM d GROUP BY 1, 2),
tg AS (SELECT user_id, wd, x, COUNT(*) AS c FROM d GROUP BY 1, 2, 3),
tieg AS (
  SELECT user_id, wd, SUM(c * (c - 1) * (2 * c + 5)) AS tt
  FROM tg GROUP BY 1, 2
),
vg AS (
  SELECT ng.user_id, ng.wd,
         COALESCE(sg.s_g, 0) AS s_g,
         ng.n_g * (ng.n_g - 1) * (2 * ng.n_g + 5) - tieg.tt AS var_num
  FROM ng
  LEFT JOIN sg ON sg.user_id = ng.user_id AND sg.wd = ng.wd
  JOIN tieg ON tieg.user_id = ng.user_id AND tieg.wd = ng.wd
),
u AS (
  SELECT user_id,
         CAST(SUM(s_g) AS BIGINT) AS s_seasonal,
         CAST(SUM(var_num) AS BIGINT) / 18.0 AS var_s,
         CAST(COUNT(*) AS BIGINT) AS n_seasons
  FROM vg GROUP BY 1
),
nn AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_days FROM daily GROUP BY 1),
z AS (
  SELECT u.user_id, nn.n_days, u.n_seasons, u.s_seasonal,
         ROUND(u.var_s, 6) AS var_s,
         ROUND(CASE WHEN u.var_s > 0 AND u.s_seasonal > 0
                    THEN (u.s_seasonal - 1) / sqrt(u.var_s)
                    WHEN u.var_s > 0 AND u.s_seasonal < 0
                    THEN (u.s_seasonal + 1) / sqrt(u.var_s)
                    WHEN u.var_s > 0 THEN 0.0 END, 6) AS z
  FROM u JOIN nn ON nn.user_id = u.user_id
)
SELECT user_id, n_days, n_seasons, s_seasonal, var_s, z,
       CASE WHEN z > 1.96 THEN 'increasing'
            WHEN z < -1.96 THEN 'decreasing'
            WHEN z IS NULL THEN NULL
            ELSE 'none' END AS trend
FROM z
""",
    tags=("timeseries", "stats", "read"),
)
def t23_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL Mann-Kendall trend test (Hirsch & Slack 1984) per
    user: t18's S statistic computed WITHIN each weekday series and
    summed — pairs never straddle weekdays, so a strong weekly cycle
    (t19's seasonal strength) cannot masquerade as a monotone trend
    or bury one; the standard environmental-statistics upgrade and
    the right default whenever t19 reports high weekly seasonality.
    S' = Σ_g S_g, Var' = Σ_g Var_g (tie-corrected per weekday),
    continuity-corrected z, |z| > 1.96 verdict on the rounded z
    (t18's banding convention).

    Scale shape: t18's calendar-bounded argument, ~7× cheaper — the
    pairwise join is quadratic in the (user, weekday) group (≤5 rows
    for a 31-day window), keyed by (user_id, wd) so the join and all
    aggs share one exchange; per-user reduction is a 7-row sum.  S
    and tie terms are exact INTEGER statistics over DECIMAL-exact
    daily means — hash-matched end-to-end."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        (
            F.sum(F.col("value").cast("decimal(30,12)")).cast("double")
            / F.count("value")
        ).alias("x")
    )
    # Spark dayofweek−1 == DuckDB dayofweek (both Sunday-based)
    d = daily.select(
        "user_id", (F.dayofweek("day") - 1).alias("wd"), "day", "x"
    )
    a = d.alias("a")
    b = d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.wd") == F.col("b.wd"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.wd").alias("wd"),
        F.signum(F.col("b.x") - F.col("a.x")).alias("sg"),
    )
    s_g = pairs.groupBy("user_id", "wd").agg(
        F.coalesce(F.sum(F.col("sg").cast("bigint")), F.lit(0)).alias("s_g")
    )
    n_g = d.groupBy("user_id", "wd").agg(F.count(F.lit(1)).alias("n_g"))
    tie_g = (
        d.groupBy("user_id", "wd", "x")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("user_id", "wd")
        .agg(
            F.sum(
                F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5)
            ).alias("tt")
        )
    )
    vg = (
        n_g.join(s_g, ["user_id", "wd"], "left")
        .join(tie_g, ["user_id", "wd"])
        .select(
            "user_id",
            "wd",
            F.coalesce(F.col("s_g"), F.lit(0)).alias("s_g"),
            (
                F.col("n_g") * (F.col("n_g") - 1) * (2 * F.col("n_g") + 5)
                - F.col("tt")
            ).alias("var_num"),
        )
    )
    # integer numerators sum EXACTLY (shuffle-order-free); one /18.0
    # at the end, identical in the oracle
    u = vg.groupBy("user_id").agg(
        F.sum("s_g").cast("bigint").alias("s_seasonal"),
        (F.sum("var_num").cast("bigint") / 18.0).alias("_var"),
        F.count(F.lit(1)).cast("bigint").alias("n_seasons"),
    )
    nn = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    z = F.when(
        (F.col("_var") > 0) & (F.col("s_seasonal") > 0),
        (F.col("s_seasonal") - 1) / F.sqrt(F.col("_var")),
    ).when(
        (F.col("_var") > 0) & (F.col("s_seasonal") < 0),
        (F.col("s_seasonal") + 1) / F.sqrt(F.col("_var")),
    ).when(F.col("_var") > 0, F.lit(0.0))
    out = u.join(nn, "user_id").select(
        "user_id",
        "n_days",
        "n_seasons",
        "s_seasonal",
        _r6(F.col("_var")).alias("var_s"),
        _r6(z).alias("z"),
    )
    return out.withColumn(
        "trend",
        F.when(F.col("z") > 1.96, "increasing")
        .when(F.col("z") < -1.96, "decreasing")
        .when(F.col("z").isNull(), F.lit(None).cast("string"))
        .otherwise("none"),
    )


def _o15_iteration(i: int, prev: str) -> str:
    """One Bradley-Terry MM half-step as CTEs: per ordered pair the
    shared denominator n_ij/(pi_i + pi_j), then pi'_i = W_i / sum_j,
    L1-normalized to n_items — DECIMAL-quantized sums throughout so
    both engines agree bit-for-bit."""
    return f"""
den{i} AS MATERIALIZED (
  SELECT p.item_a, p.item_b,
         p.n_total / (pa.pi + pb.pi) AS d
  FROM pairtot p
  JOIN {prev} pa ON pa.item = p.item_a
  JOIN {prev} pb ON pb.item = p.item_b
),
dsum{i} AS MATERIALIZED (
  SELECT item_a AS item,
         CAST(SUM(CAST(d AS DECIMAL(38,18))) AS DOUBLE) AS ds
  FROM den{i} GROUP BY 1
),
raw{i} AS MATERIALIZED (
  SELECT w.item, w.wins / dsum{i}.ds AS pi_raw
  FROM wins w JOIN dsum{i} ON dsum{i}.item = w.item
),
nrm{i} AS MATERIALIZED (
  SELECT CAST(SUM(CAST(pi_raw AS DECIMAL(38,18))) AS DOUBLE) AS s,
         COUNT(*) AS k
  FROM raw{i}
),
pi{i} AS MATERIALIZED (
  SELECT item, pi_raw * nrm{i}.k / nrm{i}.s AS pi FROM raw{i}, nrm{i}
)"""


def _o15_oracle() -> str:
    its = ",".join(_o15_iteration(i, f"pi{i - 1}" if i > 1 else "pi0")
                   for i in (1, 2, 3, 4, 5))
    return f"""
WITH ev AS (
  SELECT user_id, ts, event_id, event_type, value FROM events
),
seq AS (
  SELECT user_id, event_type AS cur_t, value AS cur_v,
         LAG(event_type) OVER w AS prev_t,
         LAG(value) OVER w AS prev_v
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
comp AS (
  SELECT CASE WHEN prev_v > cur_v THEN prev_t ELSE cur_t END AS winner,
         CASE WHEN prev_v > cur_v THEN cur_t ELSE prev_t END AS loser
  FROM seq
  WHERE prev_t IS NOT NULL AND prev_t <> cur_t
    AND prev_v IS NOT NULL AND cur_v IS NOT NULL AND prev_v <> cur_v
),
winpairs AS MATERIALIZED (
  SELECT winner, loser, CAST(COUNT(*) AS BIGINT) AS n_wins
  FROM comp GROUP BY 1, 2
),
items AS (
  SELECT DISTINCT winner AS item FROM winpairs
  UNION SELECT DISTINCT loser FROM winpairs
),
wins AS MATERIALIZED (
  SELECT i.item, CAST(COALESCE(SUM(w.n_wins), 0) AS DOUBLE) AS wins
  FROM items i LEFT JOIN winpairs w ON w.winner = i.item GROUP BY 1
),
pairtot AS MATERIALIZED (
  SELECT item_a, item_b, CAST(SUM(n) AS DOUBLE) AS n_total FROM (
    SELECT winner AS item_a, loser AS item_b, n_wins AS n FROM winpairs
    UNION ALL
    SELECT loser AS item_a, winner AS item_b, n_wins AS n FROM winpairs
  ) GROUP BY 1, 2
),
pi0 AS (SELECT item, 1.0 AS pi FROM items),
{its}
SELECT w.item AS event_type,
       CAST(w.wins AS BIGINT) AS n_wins,
       ROUND(pi5.pi, 6) AS bt_strength,
       CAST(ROW_NUMBER() OVER (ORDER BY ROUND(pi5.pi, 6) DESC, w.item ASC)
            AS BIGINT) AS rank
FROM wins w JOIN pi5 ON pi5.item = w.item
"""


@register(
    "o15_bradley_terry_strengths",
    oracle=_o15_oracle(),
    tags=("eval", "ranking", "stats", "batch"),
)
def o15_bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference-strength fit — the arena-leaderboard /
    reward-model primitive: turn PAIRWISE comparisons into a strength
    per item via 5 unrolled MM iterations (Hunter 2004:
    π'_i = W_i / Σ_j n_ij/(π_i+π_j), L1-normalized each step — the
    aggregation behind Chatbot-Arena-style rankings and RLHF
    preference models, here over event types dueling on value
    whenever two different types occur consecutively for a user).

    Determinism: comparisons and the win matrix are INTEGER counts
    from a uniquely-ordered LAG window (ts, event_id tiebreak); each
    MM step's two sums quantize identical doubles to DECIMAL(38,18)
    (shuffle-order-free, the g1/g8 convention), divisions and the
    normalization are identical double ops; the final rank orders by
    the ROUNDED strength with the item tiebreak so both engines band
    identically.  Shape for 100 TB: ONE user-keyed exchange builds
    comparisons (lag window) and collapses them map-side into the
    item-pair win matrix (item-cardinality² rows); the 5-iteration
    solve runs entirely on that bounded frame via broadcast joins —
    data volume prices one scan + one exchange, the fit is O(items²)
    per step."""
    from pyspark.sql import Window

    from ..operators.windows import bounded_partition_key

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("cur_t"),
        F.col("value").alias("cur_v"),
        F.lag("event_type").over(w).alias("prev_t"),
        F.lag("value").over(w).alias("prev_v"),
    )
    comp = seq.filter(
        F.col("prev_t").isNotNull()
        & (F.col("prev_t") != F.col("cur_t"))
        & F.col("prev_v").isNotNull()
        & F.col("cur_v").isNotNull()
        & (F.col("prev_v") != F.col("cur_v"))
    ).select(
        F.when(F.col("prev_v") > F.col("cur_v"), F.col("prev_t"))
        .otherwise(F.col("cur_t"))
        .alias("winner"),
        F.when(F.col("prev_v") > F.col("cur_v"), F.col("cur_t"))
        .otherwise(F.col("prev_t"))
        .alias("loser"),
    )
    winpairs = comp.groupBy("winner", "loser").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_wins")
    )
    # The win matrix is item-cardinality² (event types) — bounded by
    # DOMAIN cardinality, independent of row count, like the catalog's
    # other bounded collects (8 k-means centroids, the 1-row BPE
    # argmax).  The 5 MM iterations previously ran as ~25 tiny Spark
    # jobs (two joins + two DECIMAL aggs + an eager localCheckpoint
    # per step, every frame ≤k² rows): 4.70 s at sf0.1, all fixed
    # choreography (guide §1.2 — the distributed algorithm was pricing
    # jobs, not data).  The solve now runs on the collected integer
    # matrix with BIT-IDENTICAL numerics: Spark's double→DECIMAL(38,18)
    # cast is java BigDecimal(Double.toString(d)).setScale(18,
    # HALF_UP), so the quantization routes each double through the
    # JVM's own Double.toString (py4j) before an exact decimal-module
    # sum, and decimal→double is float(Decimal) = BigDecimal
    # .doubleValue (both round-half-even).  One data-sized job (lag
    # window + count agg) replaces the 25; strict oracle parity
    # re-proven at sf0.001/0.01/0.1.
    from decimal import ROUND_HALF_UP, Decimal

    jdouble = spark.sparkContext._jvm.java.lang.Double.toString
    q18 = Decimal(1).scaleb(-18)

    def dec18(x: float) -> Decimal:
        return Decimal(jdouble(float(x))).quantize(q18, rounding=ROUND_HALF_UP)

    mat = winpairs.collect()
    items = sorted({r["winner"] for r in mat} | {r["loser"] for r in mat})
    wins_by = {it: 0 for it in items}
    pair_n: dict = {}
    for r in mat:
        wins_by[r["winner"]] += r["n_wins"]
        for a, b in ((r["winner"], r["loser"]), (r["loser"], r["winner"])):
            pair_n[(a, b)] = pair_n.get((a, b), 0) + r["n_wins"]
    wins_f = {it: float(w) for it, w in wins_by.items()}
    n_total = {k: float(v) for k, v in pair_n.items()}
    k_items = len(items)
    pi = {it: 1.0 for it in items}
    for _ in range(5):
        dsum = {it: Decimal(0) for it in items}
        for (a, b), n in n_total.items():
            dsum[a] += dec18(n / (pi[a] + pi[b]))
        pi_raw = {it: wins_f[it] / float(dsum[it]) for it in items}
        s = float(sum((dec18(pi_raw[it]) for it in items), Decimal(0)))
        pi = {it: (pi_raw[it] * float(k_items)) / s for it in items}
    solved = spark.createDataFrame(
        [(it, wins_f[it], pi[it]) for it in items],
        "item string, wins double, pi double",
    )
    w_rank = Window.partitionBy(bounded_partition_key("item")).orderBy(
        F.round(F.col("pi"), 6).desc(), F.col("item").asc()
    )
    return solved.select(
        F.col("item").alias("event_type"),
        F.col("wins").cast("bigint").alias("n_wins"),
        _r6(F.col("pi")).alias("bt_strength"),
        F.row_number().over(w_rank).cast("bigint").alias("rank"),
    )
