"""T2-T5 composed anomaly pipeline as a single oracle-checked query."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.anomaly import detect_anomalies
from ..sources.tables import load_table
from .registry import r6 as _r6
from .registry import register


@register(
    "t2_t4_anomaly_pipeline",
    oracle="""
WITH seq AS (
  SELECT user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
  FROM events
),
z AS (
  SELECT user_id, value, seq,
         AVG(value) OVER w AS m,
         STDDEV_SAMP(value) OVER w AS s
  FROM seq WINDOW w AS (PARTITION BY user_id)
),
flagged AS (
  SELECT user_id, value, seq,
         CASE WHEN s > 0 THEN (value - m) / s ELSE 0.0 END AS zval
  FROM z
  WHERE ABS(CASE WHEN s > 0 THEN (value - m) / s ELSE 0.0 END) > 1.5
    AND value > m
),
isl AS (
  SELECT user_id, value, seq, zval,
         CAST(SUM(CASE WHEN gap IS NULL OR gap > 2 THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY seq
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island_id
  FROM (SELECT *, seq - LAG(seq) OVER (PARTITION BY user_id ORDER BY seq) AS gap FROM flagged)
),
per AS (
  SELECT user_id, island_id,
         MIN(seq) AS island_start, MAX(seq) AS island_end,
         COUNT(*) AS n_events,
         MAX(ABS(zval)) AS max_abs_z,
         AVG(value) AS island_mean
  FROM isl GROUP BY user_id, island_id
  HAVING MAX(seq) - MIN(seq) + 1 >= 3
),
base AS (
  SELECT user_id, AVG(value) AS baseline
  FROM seq WHERE seq <= 5 GROUP BY user_id
)
SELECT p.user_id, p.island_id, p.island_start, p.island_end, p.n_events,
       ROUND(p.max_abs_z, 6) AS max_abs_z,
       ROUND(p.island_mean, 6) AS island_mean,
       CASE WHEN p.max_abs_z > 4.5 THEN 'high'
            WHEN p.max_abs_z > 3.5 THEN 'medium'
            ELSE 'low' END AS severity,
       CASE WHEN p.max_abs_z > 3.5 THEN 'spike'
            WHEN b.baseline IS NOT NULL AND p.island_mean > b.baseline * 1.1 THEN 'drift'
            ELSE 'isolated' END AS cause
FROM per p LEFT JOIN base b ON p.user_id = b.user_id
""",
    tags=("anomaly", "composite", "read"),
)
def t2_t4_anomaly_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2+T3+T4+T5 composed: z/magnitude/direction gates → sustained
    islands (≤2 adjacency, span ≥3) → severity bands → cause
    classification vs the early-session baseline — the full
    form-anomaly pipeline (``form_anomaly_detector.py``) as one plan."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.withColumn(
        "seq",
        F.row_number().over(Window.partitionBy("user_id").orderBy("ts", "event_id")),
    )
    out = detect_anomalies(
        seq,
        ["user_id"],
        "seq",
        "value",
        z_threshold=1.5,
        magnitude_gate=0.0,
        worse_is_high=True,
        max_gap=2,
        min_span=3,
        baseline_n=5,
        spike_z=3.5,
        drift_pct=0.10,
    )
    return out.select(
        "user_id",
        "island_id",
        "island_start",
        "island_end",
        "n_events",
        _r6(F.col("max_abs_z")).alias("max_abs_z"),
        _r6(F.col("island_mean")).alias("island_mean"),
        "severity",
        "cause",
    )
