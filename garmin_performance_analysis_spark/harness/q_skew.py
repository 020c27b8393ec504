"""Skew-mitigation catalog entries: the salting operators
(``operators/skew.py``) finally carry oracles — an untested operator
is an unproven one (round-7 VERDICT item 6b).

Both entries build a DELIBERATELY power-law-keyed frame from events
(one hot key holding most rows — the distribution that makes a plain
hash exchange put one straggler task on the hot key at 100 TB) and
pin the salted plan to the plain-SQL answer: salting is a pure
physical rewrite, so the oracle is the unsalted GROUP BY / JOIN and
any result difference means the rewrite broke associativity.

Cross-engine numeric discipline: the salted SUM re-combines per-bucket
partials, so the sum MUST be order-independent — DECIMAL end to end
(the registry convention); min/max/count are order-free already.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.skew import salted_aggregate, salted_join
from ..sources.tables import load_table
from .registry import r6 as _r6
from .registry import register

# ~90% of events share user_id % 10 != 0 -> key -1 (the hot key); the
# rest keep their user_id.  Mirrored verbatim in both engines.
_K1_KEY_SQL = "CASE WHEN user_id % 10 <> 0 THEN -1 ELSE user_id END"

# ~75% of events hit nation 7; the rest spread over all 25 nations.
_K2_KEY_SQL = "CASE WHEN event_id % 4 <> 0 THEN 7 ELSE user_id % 25 END"


@register(
    "k1_salted_hot_key_agg",
    oracle=f"""
SELECT {_K1_KEY_SQL} AS skew_key,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY 1
""",
    tags=("skew", "aggregate", "read"),
)
def k1_salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage SALTED aggregation over a power-law key (~90% of rows
    on one hot key): stage 1 groups by (key, salt=pmod(hash(row),16))
    so the hot key's rows spread over 16 reduce tasks, stage 2
    re-combines the <=16 per-bucket partials per key
    (``operators/skew.salted_aggregate``).  The oracle is the PLAIN
    one-stage GROUP BY: salting must be invisible in the result, which
    only holds because the SUM re-combines exactly (DECIMAL partials —
    a double sum would wobble in the last ulps with bucket order).
    At 100 TB this is the straggler-killer for the final-agg task AQE
    can't split (same key, one group)."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        F.expr(_K1_KEY_SQL).alias("skew_key"),
        "event_id",
        "value",
        F.col("value").cast("decimal(30,12)").alias("_vdec"),
    )
    out = salted_aggregate(
        keyed,
        ["skew_key"],
        {
            "n_rows": ("value", "count"),
            "sum_value": ("_vdec", "sum"),
            "min_value": ("value", "min"),
            "max_value": ("value", "max"),
        },
        buckets=16,
        salt_on=["event_id"],
    )
    return out.select(
        "skew_key",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("sum_value").cast("double").alias("sum_value"),
        "min_value",
        "max_value",
    )


@register(
    "k2_salted_skew_join",
    oracle=f"""
WITH keyed AS (
  SELECT {_K2_KEY_SQL} AS n_key, value FROM events
)
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(k.value AS DECIMAL(30,12))) AS DOUBLE) AS sum_value
FROM keyed k JOIN nation n ON k.n_key = n.n_nationkey
GROUP BY n.n_name
""",
    tags=("skew", "join", "read"),
)
def k2_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED equi-join on a power-law foreign key (~75% of fact rows
    on one dimension key): the fact side is salted, the dim side
    replicated once per salt bucket, and the join runs on (key, salt)
    so the hot key spreads over 16 tasks
    (``operators/skew.salted_join``).  The fact side carries a
    SHUFFLE_HASH hint because at this fixture scale Spark would
    broadcast the 25-row dim and the salt would never reach a shuffle
    — the hint forces the exchange-on-(key,salt) plan the operator
    exists for (the regime where the dim is too big to broadcast; when
    it fits, broadcast and skip salting entirely, as the module doc
    says).  The oracle is the PLAIN join + GROUP BY: replication must
    be invisible in the result."""
    ev = load_table(spark, sf_dir, "events")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n_key"), "n_name"
    )
    facts = ev.select(
        F.expr(_K2_KEY_SQL).alias("n_key"),
        F.col("value").cast("decimal(30,12)").alias("_vdec"),
    )
    joined = salted_join(
        facts.hint("SHUFFLE_HASH"), nat, ["n_key"], buckets=16
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("_vdec").cast("double").alias("sum_value"),
    )


@register(
    "k3_hot_key_report",
    oracle=f"""
WITH keyed AS (
  SELECT {_K1_KEY_SQL} AS skew_key FROM events
),
tot AS (SELECT COUNT(*) AS n_total, COUNT(DISTINCT skew_key) AS n_keys
        FROM keyed),
per AS (
  SELECT skew_key, COUNT(*) AS n_rows FROM keyed GROUP BY 1
),
top AS (
  SELECT skew_key, n_rows,
         ROW_NUMBER() OVER (ORDER BY n_rows DESC, skew_key ASC) AS rk
  FROM per
)
SELECT rk, skew_key, CAST(n_rows AS BIGINT) AS n_rows,
       ROUND(n_rows * 1.0 / t.n_total, 6) AS share,
       ROUND(n_rows * t.n_keys * 1.0 / t.n_total, 6) AS x_over_uniform,
       CAST(t.n_total AS BIGINT) AS n_total,
       CAST(t.n_keys AS BIGINT) AS n_keys
FROM top, tot t
WHERE rk <= 10
""",
    tags=("skew", "profiling", "read"),
)
def k3_hot_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnostic — the report run BEFORE choosing k1/k2's
    salting strategies: top-10 keys by row count with each key's share
    of the table and its multiple over the uniform share
    (n_rows·n_keys/n_total — the straggler factor a plain hash
    exchange hands that key's one task).  On the deliberately
    power-law frame the hot key reads ~9x uniform, which is the
    evidence that says "salt this aggregation" at 100 TB; on a
    healthy key the report says so and the plain exchange stays.

    Shape: one keyed count agg (map-side combined), top-10 via a
    rank over the key-cardinality frame ordered inside ONE exchange
    (TakeOrdered semantics — never a row-cardinality global sort),
    totals broadcast on.  All-integer outputs to the 6dp ratios."""
    from pyspark.sql import Window

    from ..operators.windows import bounded_partition_key

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(F.expr(_K1_KEY_SQL).alias("skew_key"))
    per = keyed.groupBy("skew_key").agg(F.count(F.lit(1)).alias("n_rows"))
    tot = per.agg(
        F.sum("n_rows").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    top10 = per.orderBy(F.col("n_rows").desc(), F.col("skew_key").asc()).limit(
        10
    )
    w = Window.partitionBy(bounded_partition_key("skew_key")).orderBy(
        F.col("n_rows").desc(), F.col("skew_key").asc()
    )
    ranked = top10.withColumn("rk", F.row_number().over(w))
    return ranked.crossJoin(F.broadcast(tot)).select(
        "rk",
        "skew_key",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.round(F.col("n_rows") * 1.0 / F.col("n_total"), 6).alias("share"),
        F.round(
            F.col("n_rows") * F.col("n_keys") * 1.0 / F.col("n_total"), 6
        ).alias("x_over_uniform"),
        "n_total",
        "n_keys",
    )


_K4_ORACLE = """
WITH v AS (SELECT o_totalprice AS p FROM orders),
pv AS (SELECT p, COUNT(*) AS c FROM v GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM pv),
cells AS (
  SELECT CAST(FLOOR(p / 1000.0) AS BIGINT) AS cell, SUM(c) AS c
  FROM pv GROUP BY 1
),
cc AS (SELECT cell, c, SUM(c) OVER (ORDER BY cell) AS cum FROM cells),
targets AS (
  SELECT i, CAST(FLOOR((i * n + 7) / 8.0) AS BIGINT) AS r
  FROM generate_series(1, 7) t(i), tot
),
xc AS (
  SELECT t.i, t.r, MIN(cc.cell) AS cell
  FROM targets t JOIN cc ON cc.cum >= t.r GROUP BY 1, 2
),
xinfo AS (
  SELECT x.i, x.r, x.cell, cc.cum - cc.c AS below
  FROM xc x JOIN cc ON cc.cell = x.cell
),
fcc AS (
  SELECT CAST(FLOOR(p / 1000.0) AS BIGINT) AS cell, p,
         SUM(c) OVER (PARTITION BY CAST(FLOOR(p / 1000.0) AS BIGINT)
                      ORDER BY p) AS ccum
  FROM pv WHERE CAST(FLOOR(p / 1000.0) AS BIGINT) IN (SELECT cell FROM xc)
),
bnd AS (
  SELECT x.i, MIN(f.p) AS boundary
  FROM xinfo x JOIN fcc f ON f.cell = x.cell AND x.below + f.ccum >= x.r
  GROUP BY x.i
),
assigned AS (
  SELECT pv.p, pv.c, COUNT(CASE WHEN b.boundary < pv.p THEN 1 END) AS bucket
  FROM pv LEFT JOIN bnd b ON TRUE GROUP BY pv.p, pv.c
),
bkt AS (
  SELECT a.bucket, CAST(SUM(a.c) AS BIGINT) AS n_rows,
         MIN(a.p) AS min_price, MAX(a.p) AS max_price
  FROM assigned a GROUP BY 1
)
SELECT b.bucket, b.n_rows, b.min_price, b.max_price,
       ROUND(b.n_rows * 1.0 / t.n, 6) AS frac,
       ROUND((SELECT MAX(n_rows) FROM bkt) * 8.0 / t.n, 6) AS balance_ratio
FROM bkt b, tot t
"""


@register(
    "k4_range_partition_planner", oracle=_K4_ORACLE, tags=("skew", "layout", "read")
)
def k4_range_partition_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioner boundary planner with a balance audit — how a
    sorted write / range exchange picks its split keys, computed
    EXACTLY and WITHOUT a global sort or a row sample (Spark's own
    RangePartitioner samples and can mis-split under skew; z1 needs
    exactly these boundaries to lay files out): 7 octile boundaries
    (boundary_i = smallest value whose cumulative count reaches
    ceil(i·n/8) — integer rank selection, no interpolation) found by
    the grid two-level shape (coarse cell histogram → per-target
    crossing cell → fine pass over ≤7 cells), then every row is
    bucketed against the broadcast boundary array and the report
    carries per-bucket counts plus the balance ratio (max bucket ×
    8 / n — 1.0 = perfect, >1 quantifies tie-induced skew: k3 finds
    hot KEYS, k4 finds hot RANGES).

    Exactness: counts and rank targets are integers; boundaries are
    data values; bucket assignment is pure comparisons — full hash
    oracle.  Shape for 100 TB: cell-cardinality windows only (cells ≤
    domain/grid), the fine pass touches ≤7 cells' values, and the
    assignment pass is one in-row filter against a 7-element array —
    no global window, no sample, no sort of the data."""
    from pyspark.sql import Window

    from ..operators.windows import bounded_partition_key

    orders = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    cell = F.floor(p / 1000.0).cast("bigint")
    cells = orders.groupBy(cell.alias("cell")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wc = Window.partitionBy(bounded_partition_key("cell")).orderBy("cell")
    cc = cells.select(
        "cell",
        "c",
        F.sum("c").over(
            wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
    ).localCheckpoint(eager=True)  # tiny; feeds targets join + below lookup
    tot = cc.agg(F.sum("c").cast("bigint").alias("n"))
    targets = (
        spark.range(1, 8)
        .select(F.col("id").cast("int").alias("i"))
        .crossJoin(F.broadcast(tot))
        .select(
            "i", F.floor((F.col("i") * F.col("n") + 7) / 8.0).cast("bigint").alias("r")
        )
    )
    xc = (
        targets.join(F.broadcast(cc), F.col("cum") >= F.col("r"))
        .groupBy("i", "r")
        .agg(F.min("cell").alias("cell"))
    )
    xinfo = xc.join(
        F.broadcast(cc.select("cell", (F.col("cum") - F.col("c")).alias("below"))),
        "cell",
    )
    fine = (
        orders.select(p.alias("p"), cell.alias("cell"))
        .join(F.broadcast(xc.select("cell").distinct()), "cell")
        .groupBy("cell", "p")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wf = Window.partitionBy("cell").orderBy("p")
    fcc = fine.select(
        "cell",
        "p",
        F.sum("c").over(
            wf.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("ccum"),
    )
    bnd = (
        xinfo.join(F.broadcast(fcc), "cell")
        .filter(F.col("below") + F.col("ccum") >= F.col("r"))
        .groupBy("i")
        .agg(F.min("p").alias("boundary"))
    )
    bnds = bnd.agg(F.array_sort(F.collect_list("boundary")).alias("_bnds"))
    assigned = (
        orders.select(p.alias("p"))
        .crossJoin(F.broadcast(bnds))
        .select(
            "p", F.expr("size(filter(_bnds, b -> b < p))").alias("bucket")
        )
    )
    bkt = assigned.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("p").alias("min_price"),
        F.max("p").alias("max_price"),
    )
    mx = bkt.agg(F.max("n_rows").alias("mx"))
    return (
        bkt.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(mx))
        .select(
            "bucket",
            "n_rows",
            "min_price",
            "max_price",
            _r6(F.col("n_rows") * 1.0 / F.col("n")).alias("frac"),
            _r6(F.col("mx") * 8.0 / F.col("n")).alias("balance_ratio"),
        )
    )
