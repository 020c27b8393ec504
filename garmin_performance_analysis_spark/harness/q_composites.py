"""Third coverage batch: J2 filtered dim join, A7 zone distribution,
W3 latest-record cursor, W9 durability decoupling halves, O5
deterministic tiebreak ranking, M5 robust baselines (closed-form
power-law with oracle + Huber applyInPandas), M6 baseline scoring."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.baselines import (
    evaluate_against_baseline,
    huber_irls_baseline,
    train_linear_baselines,
)
from ..sources.tables import load_table
from .registry import dec_avg, dec_sum, register, r6, sql_davg


@register(
    "j2_filtered_dim_join",
    oracle="""
SELECT c_nationkey,
       COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE), 6) AS total_price,
       ROUND(%s, 6) AS avg_price
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'AUTOMOBILE'
GROUP BY c_nationkey
"""
    % sql_davg("o_totalprice"),
    tags=("join",),
)
def j2_filtered_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 fact ⋈ filtered dimension (activities ⋈ hr_efficiency
    selecting easy runs by training_type, ``db_reader.py:431-443``).
    The dim filter is applied *before* the broadcast, so the hash table
    only holds the selected segment."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "AUTOMOBILE"
    )
    orders = load_table(spark, sf_dir, "orders")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return j.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        r6(F.sum(F.col("o_totalprice").cast("decimal(22,2)")).cast("double")).alias(
            "total_price"
        ),
        r6(
            F.sum(F.col("o_totalprice").cast("decimal(30,12)")).cast("double")
            / F.count("o_totalprice")
        ).alias("avg_price"),
    )


@register(
    "a7_zone_distribution",
    oracle="""
WITH z AS (
  SELECT user_id,
         LEAST(5, GREATEST(1, CAST(FLOOR(value / 10.0) AS INTEGER) + 1)) AS zone,
         SUM(CAST(value AS DECIMAL(22,2))) AS zone_secs_dec,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT user_id, zone,
       ROUND(CAST(zone_secs_dec AS DOUBLE), 6) AS zone_seconds,
       n_events,
       ROUND(CAST(zone_secs_dec AS DOUBLE) * 100.0
             / CAST(SUM(zone_secs_dec) OVER (PARTITION BY user_id) AS DOUBLE), 6)
         AS pct_of_total
FROM z
""",
    tags=("agg",),
)
def a7_zone_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 zone time distribution: per-zone seconds → % of the athlete's
    total (``mcp/database/inserters/hr_efficiency.py:137-160``).  The
    window total stays DECIMAL so the percentage is order-independent."""
    ev = load_table(spark, sf_dir, "events")
    zone = F.least(
        F.lit(5), F.greatest(F.lit(1), F.floor(F.col("value") / 10.0).cast("int") + 1)
    )
    z = ev.groupBy("user_id", zone.alias("zone")).agg(
        F.sum(F.col("value").cast("decimal(22,2)")).alias("zone_secs_dec"),
        F.count(F.lit(1)).alias("n_events"),
    )
    total = F.sum("zone_secs_dec").over(Window.partitionBy("user_id"))
    return z.select(
        "user_id",
        "zone",
        r6(F.col("zone_secs_dec").cast("double")).alias("zone_seconds"),
        "n_events",
        r6(
            F.col("zone_secs_dec").cast("double") * 100.0 / total.cast("double")
        ).alias("pct_of_total"),
    )


@register(
    "w3_latest_record",
    oracle="""
SELECT user_id, ts AS last_ts, event_id AS last_event_id,
       ROUND(value, 6) AS last_value,
       strftime(CAST(ts AS DATE), '%Y-%m-%d') AS cursor_day
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
    tags=("window",),
)
def w3_latest_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 latest-record cursor: ``ORDER BY created DESC, id DESC LIMIT
    1`` per key — the MAX(date) incremental-ingest cursors
    (``mcp/database/readers/performance.py:230``,
    ``db_reader.py:229-235``)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            r6(F.col("value")).alias("last_value"),
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("cursor_day"),
        )
    )


@register(
    "w9_durability_decoupling",
    oracle="""
WITH e AS (
  SELECT user_id, value, epoch_us(ts) AS eus,
         (MIN(epoch_us(ts)) OVER w + MAX(epoch_us(ts)) OVER w) / 2.0 AS mid
  FROM events WINDOW w AS (PARTITION BY user_id)
),
h AS (
  SELECT user_id,
         COUNT(CASE WHEN eus < mid THEN value END) AS n_first,
         COUNT(CASE WHEN eus >= mid THEN value END) AS n_second,
         {first_avg} AS first_avg,
         {second_avg} AS second_avg
  FROM e GROUP BY user_id
)
SELECT user_id, n_first, n_second,
       ROUND(first_avg, 6) AS first_half_avg,
       ROUND(second_avg, 6) AS second_half_avg,
       ROUND(CASE WHEN n_first > 0 AND n_second > 0 AND first_avg > 0
                  THEN second_avg / first_avg - 1.0 END, 6) AS decoupling
FROM h
""".format(
        first_avg=sql_davg("CASE WHEN eus < mid THEN value END"),
        second_avg=sql_davg("CASE WHEN eus >= mid THEN value END"),
    ),
    tags=("window", "timeseries"),
)
def w9_durability_decoupling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 first-half vs second-half decoupling at the timestamp
    midpoint: midpoint = (min(ts)+max(ts))/2, per-half averages, then
    ``second/first − 1`` (``mcp/database/readers/durability.py:66-215``).
    One window pass for the midpoint + one conditional aggregation —
    no self-join."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    eus = F.unix_micros(F.col("ts"))
    e = ev.select(
        "user_id",
        "value",
        eus.alias("eus"),
        ((F.min(eus).over(w) + F.max(eus).over(w)) / F.lit(2.0)).alias("mid"),
    )
    first = F.when(F.col("eus") < F.col("mid"), F.col("value"))
    second = F.when(F.col("eus") >= F.col("mid"), F.col("value"))

    h = e.groupBy("user_id").agg(
        F.count(first).alias("n_first"),
        F.count(second).alias("n_second"),
        dec_avg(first).alias("first_avg"),
        dec_avg(second).alias("second_avg"),
    )
    dec = F.when(
        (F.col("n_first") > 0) & (F.col("n_second") > 0) & (F.col("first_avg") > 0),
        F.col("second_avg") / F.col("first_avg") - 1.0,
    )
    return h.select(
        "user_id",
        "n_first",
        "n_second",
        r6(F.col("first_avg")).alias("first_half_avg"),
        r6(F.col("second_avg")).alias("second_half_avg"),
        r6(dec).alias("decoupling"),
    )


@register(
    "o5_tiebreak_ranking",
    oracle="""
WITH r AS (
  SELECT event_type, value, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value ASC, ts ASC, event_id ASC) AS rb,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value DESC, ts DESC, event_id DESC) AS rw
  FROM events
)
SELECT event_type,
       CASE WHEN rb = 1 THEN 'best' ELSE 'worst' END AS which,
       ROUND(value, 6) AS value, event_id
FROM r WHERE rb = 1 OR rw = 1
""",
    tags=("topk",),
)
def o5_tiebreak_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 deterministic best/worst ranking with full ``(value, date,
    id)`` tiebreak, so re-runs always pick the same row
    (``mcp/database/readers/durability.py:309-356``)."""
    ev = load_table(spark, sf_dir, "events")
    wb = Window.partitionBy("event_type").orderBy(
        F.asc("value"), F.asc("ts"), F.asc("event_id")
    )
    ww = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rb", F.row_number().over(wb))
        .withColumn("rw", F.row_number().over(ww))
        .filter((F.col("rb") == 1) | (F.col("rw") == 1))
        .select(
            "event_type",
            F.when(F.col("rb") == 1, "best").otherwise("worst").alias("which"),
            r6(F.col("value")).alias("value"),
            "event_id",
        )
    )


_M5_MOMENTS = """
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(CAST(ln(l_quantity) AS DECIMAL(30,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ln(l_extendedprice) AS DECIMAL(30,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ln(l_quantity) * ln(l_extendedprice) AS DECIMAL(30,12))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(ln(l_quantity) * ln(l_quantity) AS DECIMAL(30,12))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(ln(l_extendedprice) * ln(l_extendedprice) AS DECIMAL(30,12))) AS DOUBLE) AS syy
  FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
  GROUP BY l_returnflag
"""


@register(
    "m5_powerlaw_baseline",
    oracle=f"""
WITH m AS ({_M5_MOMENTS})
SELECT l_returnflag, n,
       ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS d,
       ROUND((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6) AS alpha,
       ROUND((n*sxy - sx*sy) * (n*sxy - sx*sy)
             / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2,
       CASE WHEN (n*sxy - sx*sy) / (n*sxx - sx*sx) < 0 THEN 1 ELSE 0 END AS monotone_ok
FROM m WHERE n >= 50 AND (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
""",
    tags=("ml", "baseline"),
)
def m5_powerlaw_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 power-law baseline ``log y = alpha + d·log x`` per group in
    closed form (the GCT-speed power model,
    ``mcp/form_baseline/trainer.py:81-141``), with the reference's
    ``d < 0`` monotonicity flag and ≥50-sample minimum.  DECIMAL moment
    sums keep the fit order-independent; the log() ulp difference
    between engines is absorbed by the 1e-12 quantization."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    x, y = F.log(F.col("l_quantity")), F.log(F.col("l_extendedprice"))

    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum(x, scale=12, precision=30).alias("sx"),
        dec_sum(y, scale=12, precision=30).alias("sy"),
        dec_sum(x * y, scale=12, precision=30).alias("sxy"),
        dec_sum(x * x, scale=12, precision=30).alias("sxx"),
        dec_sum(y * y, scale=12, precision=30).alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = (F.col(c) for c in ["n", "sx", "sy", "sxy", "sxx", "syy"])
    d = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return (
        m.filter((n >= 50) & (n * sxx - sx * sx > 0) & (n * syy - sy * sy > 0))
        .select(
            "l_returnflag",
            "n",
            r6(d).alias("d"),
            r6((sy - d * sx) / n).alias("alpha"),
            r6(
                (n * sxy - sx * sy)
                * (n * sxy - sx * sy)
                / ((n * sxx - sx * sx) * (n * syy - sy * sy))
            ).alias("r2"),
            F.when(d < 0, 1).otherwise(0).alias("monotone_ok"),
        )
    )


def _irls_dsum(e: str) -> str:
    return f"CAST(SUM(CAST(({e}) AS DECIMAL(30,12))) AS DOUBLE)"


def _irls_fit_sql(src: str, wcol: str | None) -> str:
    """One (weighted) OLS layer over ``src`` rows (g, x, y[, w])."""
    w = wcol or "1.0"
    return f"""
  SELECT g,
         {_irls_dsum(w)} AS sw,
         {_irls_dsum(f"({w}) * x")} AS swx,
         {_irls_dsum(f"({w}) * y")} AS swy,
         {_irls_dsum(f"({w}) * x * y")} AS swxy,
         {_irls_dsum(f"({w}) * x * x")} AS swxx
  FROM {src} GROUP BY g
"""


_IRLS_COEF = """
  SELECT g, (sw * swxy - swx * swy) / (sw * swxx - swx * swx) AS b,
         (swy - ((sw * swxy - swx * swy) / (sw * swxx - swx * swx)) * swx) / sw AS a
  FROM {m} WHERE sw * swxx - swx * swx > 0{minn}
"""

_IRLS_REWEIGHT = """
r{i} AS (
  SELECT p.g, p.x, p.y, ABS(p.y - (c.a + c.b * p.x)) AS ar
  FROM pts p JOIN c{j} c ON c.g = p.g
),
s{i} AS (SELECT g, MEDIAN(ar) AS med FROM r{i} GROUP BY g),
w{i} AS (
  SELECT r.g, r.x, r.y,
         CASE WHEN ar / (CASE WHEN s.med = 0 THEN 1.0 ELSE s.med / 0.6745 END) <= 1.35
              THEN 1.0
              ELSE 1.35 / (ar / (CASE WHEN s.med = 0 THEN 1.0 ELSE s.med / 0.6745 END))
         END AS w
  FROM r{i} r JOIN s{i} s ON s.g = r.g
),
m{i} AS ({fit}),
c{i} AS ({coef})"""


def _irls_oracle(pts_sql: str, final_select: str) -> str:
    """Frozen-schedule Huber IRLS oracle (OLS init + 2 reweights) over
    a caller-supplied ``pts`` CTE producing (g, x, y) rows."""
    parts = [
        "WITH pts AS (" + pts_sql + "),\nm0 AS ("
        + _irls_fit_sql("pts", None)
        + """),
c0 AS ("""
        + _IRLS_COEF.format(m="m0", minn=" AND sw >= 50")
        + ")"
    ]
    for i in (1, 2):
        parts.append(
            ","
            + _IRLS_REWEIGHT.format(
                i=i,
                j=i - 1,
                fit=_irls_fit_sql(f"w{i}", "w"),
                coef=_IRLS_COEF.format(m=f"m{i}", minn=""),
            )
        )
    parts.append(final_select)
    return "".join(parts)


def _m5c_oracle() -> str:
    return _irls_oracle(
        """
  SELECT l_returnflag AS g, l_discount * 100.0 AS x, l_tax * 100.0 AS y
  FROM lineitem
""",
        f"""
SELECT p.g AS l_returnflag,
       ROUND(MAX(c.a), 6) AS coef_a,
       ROUND(MAX(c.b), 6) AS coef_b,
       ROUND(SQRT({_irls_dsum("(p.y - (c.a + c.b * p.x)) * (p.y - (c.a + c.b * p.x))")}
             / COUNT(*)), 6) AS rmse,
       COUNT(*) AS n_samples
FROM pts p JOIN c2 c ON c.g = p.g
GROUP BY p.g
ORDER BY l_returnflag
""",
    )


def _m5b_oracle() -> str:
    # m5b's mapping + physiologic gates (VALID_RANGES: vo 2..15,
    # speed 1.5..7, inclusive like pandas .between); metric literal.
    return _irls_oracle(
        """
  SELECT l_returnflag AS g, l_discount * 100.0 AS x, l_tax * 100.0 AS y
  FROM lineitem
  WHERE l_tax * 100.0 BETWEEN 2.0 AND 15.0
    AND l_discount * 100.0 BETWEEN 1.5 AND 7.0
""",
        f"""
SELECT p.g AS l_returnflag,
       'vo' AS metric,
       ROUND(MAX(c.a), 6) AS coef_a,
       ROUND(MAX(c.b), 6) AS coef_b,
       ROUND(SQRT({_irls_dsum("(p.y - (c.a + c.b * p.x)) * (p.y - (c.a + c.b * p.x))")}
             / COUNT(*)), 6) AS rmse,
       COUNT(*) AS n_samples
FROM pts p JOIN c2 c ON c.g = p.g
GROUP BY p.g
ORDER BY l_returnflag
""",
    )


@register(
    "m5b_huber_baseline", oracle=_m5b_oracle(), tags=("ml", "baseline", "pandas-udf")
)
def m5b_huber_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 Huber-robust linear baseline via grouped ``applyInPandas``
    (``mcp/form_baseline/trainer.py:144-202``): per-group numpy IRLS
    Huber fit with the reference's physiologic validity gates.

    r7: pinned to the frozen IRLS schedule (OLS + 2 Huber reweights,
    the same math ``huber_irls_baseline``/m5c runs distributed) so the
    grouped-pandas path gets a real ANSI oracle instead of the old
    rows-only check — VERDICT r6 item 6.  The pandas fit sums moments
    with ``math.fsum``; the DECIMAL(30,12) oracle quantization sits
    ~6 orders of magnitude inside the 6dp parity rounding."""
    li = load_table(spark, sf_dir, "lineitem")
    splits = li.select(
        "l_returnflag",
        (F.col("l_tax") * 100.0).alias("vo_value"),
        (F.col("l_discount") * 100.0).alias("speed_mps"),
    )
    out = train_linear_baselines(
        splits,
        ["l_returnflag"],
        "vo",
        "vo_value",
        "speed_mps",
        min_samples=50,
        n_reweights=2,
    )
    return out.select(
        "l_returnflag",
        "metric",
        r6(F.col("coef_a")).alias("coef_a"),
        r6(F.col("coef_b")).alias("coef_b"),
        r6(F.col("rmse")).alias("rmse"),
        "n_samples",
    ).orderBy("l_returnflag")


_M6_BASE = """
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(22,3))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice / 1000.0 AS DECIMAL(22,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_extendedprice / 1000.0 AS DECIMAL(22,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(22,3))) AS DOUBLE) AS sxx
  FROM lineitem GROUP BY l_returnflag
"""


@register(
    "m6_baseline_scoring",
    oracle=f"""
WITH m AS ({_M6_BASE}),
b AS (
  SELECT l_returnflag,
         (n*sxy - sx*sy) / (n*sxx - sx*sx) AS coef_b,
         (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n AS coef_a
  FROM m
),
e AS (
  SELECT l.l_returnflag,
         l.l_extendedprice / 1000.0
           - (b.coef_a + b.coef_b * l.l_quantity) AS delta
  FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
),
p AS (
  SELECT l_returnflag,
         CASE WHEN delta < 0 THEN ABS(delta) * 0.3 ELSE ABS(delta) * 1.0 END AS penalty,
         CASE WHEN delta < 0 THEN 1 ELSE 0 END AS improving
  FROM e
)
SELECT l_returnflag, COUNT(*) AS n,
       ROUND({sql_davg("penalty", scale=6, precision=22)}, 6) AS avg_penalty,
       ROUND(CAST(SUM(improving) AS DOUBLE) / COUNT(*), 6) AS improving_frac,
       ROUND(GREATEST(0.0, LEAST(5.0,
             5.0 - {sql_davg("penalty", scale=6, precision=22)} / 10.0)), 6) AS stars
FROM p GROUP BY l_returnflag
""",
    tags=("ml", "baseline"),
)
def m6_baseline_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 baseline evaluation scoring: expected-vs-actual deltas with
    asymmetric penalties (improvement ×0.3, degradation ×1.0) collapsed
    to a clamped 0–5 star score
    (``mcp/form_baseline/scorer.py:23-269``).  The coefficient table is
    a closed-form OLS over DECIMAL moments, broadcast back onto the
    fact rows by ``evaluate_against_baseline``."""
    li = load_table(spark, sf_dir, "lineitem")
    splits = li.select(
        "l_returnflag",
        F.col("l_quantity").alias("speed_mps"),
        (F.col("l_extendedprice") / 1000.0).alias("val"),
    )
    x, y = F.col("speed_mps"), F.col("val")
    m = splits.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast("decimal(22,3)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(22,6)")).cast("double").alias("sy"),
        F.sum((x * y).cast("decimal(22,6)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(22,3)")).cast("double").alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ["n", "sx", "sy", "sxy", "sxx"])
    coef_b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    baselines = m.select(
        "l_returnflag",
        ((sy - coef_b * sx) / n).alias("coef_a"),
        coef_b.alias("coef_b"),
    )
    scored = evaluate_against_baseline(
        splits, baselines, ["l_returnflag"], "val", "speed_mps"
    )
    davg_pen = F.sum(F.col("penalty").cast("decimal(22,6)")).cast("double") / F.count(
        "penalty"
    )
    return scored.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        r6(davg_pen).alias("avg_penalty"),
        r6(
            F.sum(F.when(F.col("delta") < 0, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("improving_frac"),
        r6(
            F.greatest(F.lit(0.0), F.least(F.lit(5.0), 5.0 - davg_pen / 10.0))
        ).alias("stars"),
    )


@register("m5c_huber_irls", oracle=_m5c_oracle(), tags=("ml", "baseline", "batch"))
def m5c_huber_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 Huber baseline as a DISTRIBUTED frozen-schedule IRLS (init
    OLS + 2 Huber reweights, MAD scale, delta 1.35) — the fully
    JVM-side, oracle-checkable sibling of ``m5b_huber_baseline``
    (sklearn parity path).  Same mapping as m5b: value vs speed stand-
    ins from lineitem's fixed-point columns."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        "l_returnflag",
        (F.col("l_discount") * 100.0).alias("x"),
        (F.col("l_tax") * 100.0).alias("y"),
    )
    # x/y are fixed-point with ~11×9 distinct values: ONE scan compacts
    # the corpus to (group, x, y, multiplicity) sufficient statistics,
    # after which all 16 IRLS stages run on ~300 rows instead of the
    # corpus (bit-exact vs the row oracle — see huber_irls_baseline's
    # weight_col contract).  Measured at sf0.1: ~8 s → ~2 s.
    cpts = pts.groupBy("l_returnflag", "x", "y").agg(
        F.count(F.lit(1)).alias("_wt")
    )
    out = huber_irls_baseline(
        cpts,
        ["l_returnflag"],
        "x",
        "y",
        n_reweights=2,
        min_samples=50,
        weight_col="_wt",
    )
    return out.select(
        "l_returnflag",
        r6(F.col("coef_a")).alias("coef_a"),
        r6(F.col("coef_b")).alias("coef_b"),
        r6(F.col("rmse")).alias("rmse"),
        "n_samples",
    ).orderBy("l_returnflag")
