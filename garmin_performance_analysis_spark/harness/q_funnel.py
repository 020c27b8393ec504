"""Round-7 event-analytics additions: sessionized ordered funnel and
retention cohorts — the per-session / per-cohort reductions an event
warehouse runs at scale (beyond-reference, SURVEY §2.14; the
reference's closest analogues are the per-activity session readers,
``mcp/database/readers/performance.py``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.funnels import ordered_funnel, retention_cohorts, sessionize
from ..sources.tables import load_table
from .registry import r6 as _r6
from .registry import register

_T12_SESSIONS = """
ordered AS (
  SELECT user_id, event_id, ts, event_type,
         epoch_us(ts)
           - LAG(epoch_us(ts))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
),
marked AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM ordered
)"""


@register(
    "t12_funnel_conversion",
    oracle=f"""
WITH {_T12_SESSIONS},
s1 AS (
  SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
              OVER (PARTITION BY user_id, session_seq) AS v_ts
  FROM marked
),
s2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > v_ts THEN ts END)
              OVER (PARTITION BY user_id, session_seq) AS c_ts
  FROM s1
),
s3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > c_ts THEN ts END)
              OVER (PARTITION BY user_id, session_seq) AS p_ts
  FROM s2
)
SELECT user_id, session_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(v_ts) AS view_ts, MIN(c_ts) AS click_ts, MIN(p_ts) AS purchase_ts,
       CAST(CASE WHEN MIN(p_ts) IS NOT NULL THEN 3
                 WHEN MIN(c_ts) IS NOT NULL THEN 2
                 WHEN MIN(v_ts) IS NOT NULL THEN 1
                 ELSE 0 END AS INTEGER) AS funnel_depth,
       epoch_us(MIN(p_ts)) - epoch_us(MIN(v_ts)) AS conversion_usec
FROM s3
GROUP BY user_id, session_seq
""",
    tags=("window", "funnel", "read"),
)
def t12_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized ordered funnel view → click → purchase: stage k
    matches the earliest stage-k event STRICTLY after the matched
    stage-(k-1) event within the same 30-min-gap session (an unordered
    bag of the three types is NOT a conversion — the order constraint
    is the point).  ``operators/funnels.sessionize`` +
    ``ordered_funnel``: one hash exchange on user_id; sessionization
    and all three stage windows run on the same partitioning, then one
    grouped reduce emits per-session depth and view→purchase latency.
    Timestamps compare at full microsecond precision; session ordering
    tiebreaks on event_id (duplicate-ts lesson)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    sess = sessionize(ev, ["user_id"], "ts", "event_id", gap_sec=1800)
    staged = ordered_funnel(
        sess,
        ["user_id", "session_seq"],
        "ts",
        "event_type",
        ["view", "click", "purchase"],
    )
    depth = (
        F.when(F.min("stage2_ts").isNotNull(), 3)
        .when(F.min("stage1_ts").isNotNull(), 2)
        .when(F.min("stage0_ts").isNotNull(), 1)
        .otherwise(0)
    )
    return staged.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("stage0_ts").alias("view_ts"),
        F.min("stage1_ts").alias("click_ts"),
        F.min("stage2_ts").alias("purchase_ts"),
        depth.cast("int").alias("funnel_depth"),
        (
            F.unix_micros(F.min("stage2_ts")) - F.unix_micros(F.min("stage0_ts"))
        ).alias("conversion_usec"),
    )


@register(
    "a17_retention_cohorts",
    oracle="""
WITH firsts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_period
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS apd FROM events
),
active AS (
  SELECT f.cohort_period,
         CAST(date_diff('day', f.cohort_period, a.apd) // 7 AS BIGINT)
           AS period_offset,
         COUNT(DISTINCT a.user_id) AS active_users
  FROM activity a JOIN firsts f ON a.user_id = f.user_id
  GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_period, CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM firsts GROUP BY 1
)
SELECT a.cohort_period, a.period_offset, a.active_users, s.cohort_size,
       ROUND(CAST(a.active_users AS DOUBLE) / s.cohort_size, 6)
         AS retention_rate
FROM active a JOIN sizes s ON a.cohort_period = s.cohort_period
""",
    tags=("agg", "cohort", "read"),
)
def a17_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: cohort = the week of each user's
    first event; per (cohort_week, weeks-since) the distinct active
    users, cohort size, and retention rate —
    ``operators/funnels.retention_cohorts``.  Scale shape: two keyed
    aggregates + one user-key equi-join (co-partitioned at scale) +
    one small rollup; both week truncations happen before the
    distinct, so the distinct's key space is (user × week), not raw
    events."""
    ev = load_table(spark, sf_dir, "events")
    out = retention_cohorts(ev, "user_id", "ts", period="week")
    return out.select(
        "cohort_period",
        "period_offset",
        "active_users",
        "cohort_size",
        _r6(F.col("retention_rate")).alias("retention_rate"),
    )
