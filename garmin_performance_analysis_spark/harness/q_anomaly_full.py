"""T4/T5 FULL anomaly surface: the reference's exact cause-classification
gates, ±30 s context windows, severity bands, material 5-bucket clusters
and Japanese recommendations (``form_anomaly_detector.py:181-215,
330-520,690-786``), mapped onto the synthetic ``events`` star table.

Series mapping (events has no GCT/elevation columns, so event types
stand in; thresholds keep the reference's exact values, series scaling
is chosen so every cause branch fires on the synthetic data):

- form metrics = ``view`` and ``signup`` value series (the reference's
  VO / GCT), per-user dense ordinal axis ``sec`` = row_number per
  (user, type) ordered by (ts, event_id) — the analog of the dense
  per-second array index the reference iterates over;
- elevation = ``click`` value / 35  (reference gate: range > 5 m in
  ``[t-5, t+5)``);
- pace = ``purchase`` value / 1000  (gate: range > 0.25 min/km in
  ``[t-10, t+10)``);
- hr = ``error`` value (gate: |drift| of last-60 mean vs first-300
  baseline > 10 %, AND sustained half-vs-half degradation ≥ trigger).

z-threshold 0.8 and severity bands 1.2/0.95 are the reference's 3.0 /
4.5 / 3.5 re-stratified to this data's observed z range — the same
re-stratification the reference itself performed against its observed
z distribution (``form_anomaly_detector.py:690-698``, issue #666).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.anomaly import classify_anomaly_causes
from ..sources.tables import load_table
from .registry import r6 as _r6
from .registry import register

FORM_TYPES = ("view", "signup")
GATES = {"view": 10.0, "signup": 10.0}
TRIGGERS = {"view": 5.0, "signup": 5.0}
# Japanese metric labels, reference METRIC_LABELS
# (``form_anomaly_detector.py:49-53``) keyed by our stand-in metrics.
METRIC_LABELS = {"view": "上下動(VO)", "signup": "接地時間(GCT)"}
ELEV_DIV, PACE_DIV = 35.0, 1000.0
Z, SEV_HIGH, SEV_MED = 0.8, 1.2, 0.95
CLUSTER_BUCKET = 5

# ---------------------------------------------------------------- SQL
# Shared oracle prefix: seq → form → rolling flags → sustained runs →
# degradation halves → context windows → per-anomaly cause rows.
_T4_CTES = f"""
WITH seq AS (
  SELECT user_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) - 1 AS sec
  FROM events
),
form AS (
  SELECT user_id, event_type AS metric, sec, value
  FROM seq WHERE event_type IN ('view', 'signup')
),
roll AS (
  SELECT user_id, metric, sec, value,
         AVG(value) OVER w AS m,
         STDDEV_SAMP(value) OVER w AS s,
         COUNT(*) OVER w AS cnt
  FROM form
  WINDOW w AS (PARTITION BY user_id, metric ORDER BY sec
               ROWS BETWEEN 30 PRECEDING AND 29 FOLLOWING)
),
flagged AS (
  SELECT user_id, metric, sec, value, m, (value - m) / s AS z
  FROM roll
  WHERE cnt >= 2 AND s > 0 AND value - m > 0
    AND (value - m) / s > {Z} AND value - m >= 10.0
),
isl AS (
  SELECT *, SUM(CASE WHEN gap IS NULL OR gap > 2 THEN 1 ELSE 0 END)
         OVER (PARTITION BY user_id, metric ORDER BY sec
               ROWS UNBOUNDED PRECEDING) AS island_id
  FROM (SELECT *, sec - LAG(sec) OVER (PARTITION BY user_id, metric
                                       ORDER BY sec) AS gap
        FROM flagged)
),
sus AS (
  SELECT user_id, metric, sec, value, m, z FROM (
    SELECT *, MAX(sec) OVER pw - MIN(sec) OVER pw + 1 AS span
    FROM isl WINDOW pw AS (PARTITION BY user_id, metric, island_id))
  WHERE span >= 5
),
deg AS (
  SELECT user_id, metric,
         (COUNT(*) >= 4 AND
          AVG(CASE WHEN rn > n_all // 2 THEN value END)
          - AVG(CASE WHEN rn <= n_all // 2 THEN value END) >= 5.0) AS sdeg
  FROM (SELECT user_id, metric, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, metric
                                  ORDER BY sec) AS rn,
               COUNT(*) OVER (PARTITION BY user_id, metric) AS n_all
        FROM form WHERE value IS NOT NULL)
  GROUP BY user_id, metric
),
ectx AS (
  SELECT a.user_id, a.metric, a.sec,
         CASE WHEN COUNT(CASE WHEN c.sec >= a.sec - 5 AND c.sec < a.sec + 5
                              THEN c.value END) > 1
              THEN MAX(CASE WHEN c.sec >= a.sec - 5 AND c.sec < a.sec + 5
                            THEN c.value / {ELEV_DIV} END)
                 - MIN(CASE WHEN c.sec >= a.sec - 5 AND c.sec < a.sec + 5
                            THEN c.value / {ELEV_DIV} END)
              ELSE 0.0 END AS elevation_change_5s,
         COALESCE(AVG(CASE WHEN c.sec >= a.sec - 30 AND c.sec < a.sec
                           THEN c.value / {ELEV_DIV} END), 0.0) AS before_elevation,
         COALESCE(AVG(CASE WHEN c.sec >= a.sec AND c.sec < a.sec + 30
                           THEN c.value / {ELEV_DIV} END), 0.0) AS after_elevation
  FROM sus a LEFT JOIN (SELECT user_id, sec, value FROM seq
                        WHERE event_type = 'click') c
    ON c.user_id = a.user_id AND c.sec >= a.sec - 30 AND c.sec < a.sec + 30
  GROUP BY a.user_id, a.metric, a.sec
),
pctx AS (
  SELECT a.user_id, a.metric, a.sec,
         CASE WHEN COUNT(p.value) > 1
              THEN MAX(p.value / {PACE_DIV}) - MIN(p.value / {PACE_DIV})
              ELSE 0.0 END AS pace_change_10s
  FROM sus a LEFT JOIN (SELECT user_id, sec, value FROM seq
                        WHERE event_type = 'purchase') p
    ON p.user_id = a.user_id AND p.sec >= a.sec - 10 AND p.sec < a.sec + 10
  GROUP BY a.user_id, a.metric, a.sec
),
hrbase AS (
  SELECT user_id, AVG(value) AS base_hr, COUNT(*) AS base_n
  FROM seq WHERE event_type = 'error' AND sec < 300 GROUP BY user_id
),
hctx AS (
  SELECT a.user_id, a.metric, a.sec,
         AVG(h.value) AS cur_hr, COUNT(h.value) AS cur_n
  FROM sus a LEFT JOIN (SELECT user_id, sec, value FROM seq
                        WHERE event_type = 'error') h
    ON h.user_id = a.user_id AND h.sec >= a.sec - 60 AND h.sec < a.sec
  GROUP BY a.user_id, a.metric, a.sec
),
fctx AS (
  SELECT a.user_id, a.metric, a.sec,
         COALESCE(AVG(CASE WHEN f.sec >= a.sec - 30 AND f.sec < a.sec
                           THEN f.value END), 0.0) AS before_metric_avg,
         COALESCE(AVG(CASE WHEN f.sec >= a.sec AND f.sec < a.sec + 30
                           THEN f.value END), 0.0) AS after_metric_avg
  FROM sus a LEFT JOIN form f
    ON f.user_id = a.user_id AND f.metric = a.metric
       AND f.sec >= a.sec - 30 AND f.sec < a.sec + 30
  GROUP BY a.user_id, a.metric, a.sec
),
causes AS (
  SELECT s.user_id, s.metric, s.sec, s.value, s.m, s.z,
         e.elevation_change_5s, e.before_elevation, e.after_elevation,
         p.pace_change_10s, f.before_metric_avg, f.after_metric_avg,
         CASE WHEN COALESCE(b.base_n, 0) > 0 AND h.cur_n > 0
              THEN (h.cur_hr - b.base_hr) / b.base_hr * 100.0
              ELSE 0.0 END AS hr_drift_percent,
         COALESCE(d.sdeg, FALSE) AS sdeg
  FROM sus s
  JOIN ectx e ON e.user_id = s.user_id AND e.metric = s.metric AND e.sec = s.sec
  JOIN pctx p ON p.user_id = s.user_id AND p.metric = s.metric AND p.sec = s.sec
  JOIN hctx h ON h.user_id = s.user_id AND h.metric = s.metric AND h.sec = s.sec
  JOIN fctx f ON f.user_id = s.user_id AND f.metric = s.metric AND f.sec = s.sec
  LEFT JOIN hrbase b ON b.user_id = s.user_id
  LEFT JOIN deg d ON d.user_id = s.user_id AND d.metric = s.metric
),
classified AS (
  SELECT *,
         CASE WHEN elevation_change_5s > 5.0 THEN 'elevation_change'
              WHEN pace_change_10s > 0.25 THEN 'pace_change'
              WHEN ABS(hr_drift_percent) > 10.0 AND sdeg THEN 'fatigue'
              ELSE 'isolated' END AS probable_cause,
         CASE WHEN elevation_change_5s > 5.0
                THEN LEAST(0.95, 0.5 + elevation_change_5s / 20.0)
              WHEN pace_change_10s > 0.25
                THEN LEAST(0.95, 0.5 + pace_change_10s / 0.5)
              WHEN ABS(hr_drift_percent) > 10.0 AND sdeg
                THEN LEAST(0.95, 0.5 + ABS(hr_drift_percent) / 30.0)
              END AS correlation,
         CASE WHEN z > {SEV_HIGH} THEN 'high'
              WHEN z > {SEV_MED} THEN 'medium'
              ELSE 'low' END AS severity
  FROM causes
)
"""


@register(
    "t4_full_causes",
    oracle=_T4_CTES
    + """
SELECT user_id, metric, sec, value,
       ROUND(m, 6) AS baseline, ROUND(z, 6) AS z_score,
       probable_cause,
       ROUND(elevation_change_5s, 6) AS elevation_change_5s,
       ROUND(pace_change_10s, 6) AS pace_change_10s,
       ROUND(hr_drift_percent, 6) AS hr_drift_percent,
       ROUND(correlation, 6) AS correlation,
       severity,
       ROUND(before_metric_avg, 6) AS before_metric_avg,
       ROUND(before_elevation, 6) AS before_elevation,
       ROUND(after_metric_avg, 6) AS after_metric_avg,
       ROUND(after_elevation, 6) AS after_elevation
FROM classified
ORDER BY user_id, metric, sec
""",
    tags=("anomaly", "composite", "read"),
)
def t4_full_causes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4+T5 per-anomaly record with the reference's full cause chain,
    correlations, ±30 context and severity — see module docstring."""
    res = _classified(spark, sf_dir)
    return res.select(
        "user_id",
        "metric",
        "sec",
        "value",
        _r6(F.col("baseline")).alias("baseline"),
        _r6(F.col("z_score")).alias("z_score"),
        "probable_cause",
        _r6(F.col("elevation_change_5s")).alias("elevation_change_5s"),
        _r6(F.col("pace_change_10s")).alias("pace_change_10s"),
        _r6(F.col("hr_drift_percent")).alias("hr_drift_percent"),
        _r6(F.col("correlation")).alias("correlation"),
        "severity",
        _r6(F.col("before_metric_avg")).alias("before_metric_avg"),
        _r6(F.col("before_elevation")).alias("before_elevation"),
        _r6(F.col("after_metric_avg")).alias("after_metric_avg"),
        _r6(F.col("after_elevation")).alias("after_elevation"),
    ).orderBy("user_id", "metric", "sec")


def _seq_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    # NOTE: this frame feeds ~7 branches (form + context union +
    # degradation + hr baseline).  A localCheckpoint at the diamond
    # point was MEASURED SLOWER at sf0.1 (3.1 s vs 2.2 s): eagerly
    # materializing 1M rows costs more than the columnar re-scans +
    # re-windows it saves — the d3 lesson (SCALING.md round-1 §3) cuts
    # the other way when the diamond subplan is one cheap window over a
    # parquet scan rather than a 4M-row md5 explode.  Re-measured in
    # r3 with a NARROW lazy checkpoint (only user_id/event_type/sec/
    # value, props dropped): still 3-6× slower — AQE coalesces the
    # 100k-row window shuffle to ONE partition, the checkpointed RDD
    # pins that single-partition layout, and every downstream stage
    # inherits serial execution.  Re-scan-per-branch keeps the scan
    # columnar, pushed-down, and parallel; keep it.  (r4 re-test with
    # the EXPLICIT 32-partition layout below — eliminating the AQE
    # one-partition pin as the confound — confirmed the checkpoint is
    # still worse: 3.1 s vs 1.9 s warm.)
    #
    # The explicit repartition, however, helps the re-scan design
    # itself: AQE otherwise coalesces each branch's 100k-row window
    # shuffle to ~1 partition and every branch computes its windows
    # serially.  Pinning 32 hash partitions on the window keys keeps
    # all branches parallel: measured 2.26 s → 2.05 s isolated best
    # (identical values — the window sorts within the same key groups).
    return ev.repartition(32, "user_id", "event_type").withColumn(
        "sec", (F.row_number().over(w) - 1).cast("long")
    )


def _classified(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = _seq_events(spark, sf_dir)
    form = seq.filter(F.col("event_type").isin(*FORM_TYPES)).select(
        "user_id", F.col("event_type").alias("metric"), "sec", "value"
    )
    # One CASE projection instead of a 4-way union: each union branch
    # was its own parquet scan + row_number sort of `seq`, and the
    # context frame is consumed twice (context join + HR baseline), so
    # the union shape cost 8 scans of events where one suffices.  The
    # row_number window partitions by (user_id, event_type), so a
    # single filtered window computes identical `sec` values to the
    # per-branch windows.  `value / 1.0` for the hr/form branches keeps
    # the division shape uniform; dividing a double by 1.0 is exact.
    et = F.col("event_type")
    context = seq.filter(
        et.isin("click", "purchase", "error", *FORM_TYPES)
    ).select(
        "user_id",
        F.when(et == "click", F.lit("elevation"))
        .when(et == "purchase", F.lit("pace"))
        .when(et == "error", F.lit("hr"))
        .otherwise(et)
        .alias("series"),
        "sec",
        (
            F.col("value")
            / F.when(et == "click", F.lit(ELEV_DIV))
            .when(et == "purchase", F.lit(PACE_DIV))
            .otherwise(F.lit(1.0))
        ).alias("val"),
    )
    return classify_anomaly_causes(
        form,
        context,
        z_threshold=Z,
        magnitude_gates=GATES,
        degradation_triggers=TRIGGERS,
        severity_high=SEV_HIGH,
        severity_medium=SEV_MED,
    )


@register(
    "t5_recommendations",
    oracle=_T4_CTES
    + """
, mat AS (
  SELECT probable_cause AS cause, metric FROM classified
  WHERE probable_cause <> 'isolated'
),
cnt AS (SELECT cause, metric, COUNT(*) AS n FROM mat GROUP BY cause, metric),
dom AS (
  SELECT cause, metric AS dominant_metric,
         ROW_NUMBER() OVER (PARTITION BY cause ORDER BY n DESC, metric ASC) AS rn
  FROM cnt
),
tot AS (SELECT cause, CAST(SUM(n) AS BIGINT) AS n_anomalies FROM cnt GROUP BY cause)
SELECT d.cause, d.dominant_metric, t.n_anomalies,
       CASE d.cause
         WHEN 'elevation_change' THEN '上り坂で' || lbl || '悪化 → 上り坂練習を強化'
         WHEN 'pace_change' THEN 'ペース変化時に' || lbl || 'が増加 → ペース変化を緩やかに'
         ELSE '後半に' || lbl || '悪化（疲労傾向）→ 持久力トレーニング強化'
       END AS recommendation
FROM (SELECT cause, dominant_metric,
             CASE dominant_metric WHEN 'view' THEN '上下動(VO)'
                  WHEN 'signup' THEN '接地時間(GCT)'
                  ELSE dominant_metric END AS lbl
      FROM dom WHERE rn = 1) d
JOIN tot t ON t.cause = d.cause
ORDER BY d.cause
""",
    tags=("anomaly", "composite"),
)
def t5_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 Japanese recommendations: per identifiable cause, name the
    dominant form metric and emit the reference's template string
    (``form_anomaly_detector.py:76-115``).  Tie on the dominant-metric
    count breaks by metric name ascending (the reference's Counter
    keeps first-insertion order, which is not reproducible in SQL —
    documented deviation)."""
    res = _classified(spark, sf_dir)
    mat = res.filter(F.col("probable_cause") != "isolated").select(
        F.col("probable_cause").alias("cause"), "metric"
    )
    cnt = mat.groupBy("cause", "metric").agg(F.count(F.lit(1)).alias("n"))
    wdom = Window.partitionBy("cause").orderBy(F.col("n").desc(), F.col("metric").asc())
    dom = (
        cnt.withColumn("rn", F.row_number().over(wdom))
        .filter(F.col("rn") == 1)
        .select("cause", F.col("metric").alias("dominant_metric"))
    )
    tot = cnt.groupBy("cause").agg(F.sum("n").alias("n_anomalies"))
    lbl = F.coalesce(
        F.create_map(
            *[F.lit(x) for kv in METRIC_LABELS.items() for x in kv]
        )[F.col("dominant_metric")],
        F.col("dominant_metric"),
    )
    rec = (
        F.when(
            F.col("cause") == "elevation_change",
            F.concat(F.lit("上り坂で"), lbl, F.lit("悪化 → 上り坂練習を強化")),
        )
        .when(
            F.col("cause") == "pace_change",
            F.concat(
                F.lit("ペース変化時に"), lbl, F.lit("が増加 → ペース変化を緩やかに")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("後半に"), lbl, F.lit("悪化（疲労傾向）→ 持久力トレーニング強化")
            )
        )
    )
    return (
        dom.join(tot, "cause")
        .select("cause", "dominant_metric", "n_anomalies", rec.alias("recommendation"))
        .orderBy("cause")
    )


@register(
    "t5_severity_clusters",
    oracle=_T4_CTES
    + f"""
, sev AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN severity = 'high' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
         CAST(SUM(CASE WHEN severity = 'medium' THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
         CAST(SUM(CASE WHEN severity = 'low' THEN 1 ELSE 0 END) AS BIGINT) AS n_low
  FROM classified GROUP BY user_id
),
clus AS (
  SELECT user_id, sec // {CLUSTER_BUCKET} AS bucket, COUNT(*) AS c
  FROM classified WHERE probable_cause <> 'isolated'
  GROUP BY user_id, sec // {CLUSTER_BUCKET}
),
maxc AS (SELECT user_id, MAX(c) AS max_material_cluster FROM clus GROUP BY user_id)
SELECT s.user_id, s.n_high, s.n_medium, s.n_low,
       CAST(COALESCE(m.max_material_cluster, 0) AS BIGINT) AS max_material_cluster
FROM sev s LEFT JOIN maxc m ON m.user_id = s.user_id
ORDER BY s.user_id
""",
    tags=("anomaly", "composite"),
)
def t5_severity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 severity distribution + largest MATERIAL temporal cluster per
    user: severity counts over all anomalies; clusters bucket the dense
    ordinal axis and count only cause-identified (non-isolated)
    anomalies, so isolated noise never inflates the cluster size
    (``form_anomaly_detector.py:690-786``, #677)."""
    res = _classified(spark, sf_dir)
    sev = res.groupBy("user_id").agg(
        F.sum((F.col("severity") == "high").cast("long")).alias("n_high"),
        F.sum((F.col("severity") == "medium").cast("long")).alias("n_medium"),
        F.sum((F.col("severity") == "low").cast("long")).alias("n_low"),
    )
    clus = (
        res.filter(F.col("probable_cause") != "isolated")
        .groupBy("user_id", (F.col("sec") / CLUSTER_BUCKET).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    maxc = clus.groupBy("user_id").agg(F.max("c").alias("max_material_cluster"))
    return (
        sev.join(maxc, "user_id", "left")
        .select(
            "user_id",
            "n_high",
            "n_medium",
            "n_low",
            F.coalesce(F.col("max_material_cluster"), F.lit(0)).alias(
                "max_material_cluster"
            ),
        )
        .orderBy("user_id")
    )
