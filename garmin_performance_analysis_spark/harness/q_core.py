"""Core queries: scans, filters, simple joins (SURVEY.md §2.1-§2.3)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import artifact_dir, scratch_dir
from ..session import run_concurrently
from ..sources.tables import artifact_tag, load_table
from .registry import dec_sum as _dec_sum
from .registry import dec_avg as _dec_avg
from .registry import ls_avg as _ls_avg
from .registry import ls_sum as _ls_sum
from .registry import ls_sum_wide as _ls_sum_wide
from .registry import r6 as _r6
from .registry import register
from .registry import sql_lavg, sql_lsum, sql_lsum_wide

# ---------------------------------------------------------------------------
# Flagship: TPC-H-Q1-shaped pricing summary (A1/A2-style grouped stats)
# ---------------------------------------------------------------------------

Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_lsum('l_quantity')} AS sum_qty,
  {sql_lsum('l_extendedprice')} AS sum_base_price,
  {sql_lsum('l_extendedprice * (1 - l_discount)', scale=4)} AS sum_disc_price,
  {sql_lsum_wide('l_extendedprice * (1 - l_discount) * (1 + l_tax)', scale=6)} AS sum_charge,
  ROUND({sql_lavg('l_quantity')}, 6) AS avg_qty,
  ROUND({sql_lavg('l_extendedprice')}, 6) AS avg_price,
  ROUND({sql_lavg('l_discount')}, 6) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=Q1_ORACLE, tags=("flagship", "agg", "read"))
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped pricing summary (scan→filter→8-agg groupBy), the classic
    columnar-engine flagship.  Exercises the same shape as the
    reference's splits statistics block (A1,
    ``splits_query_builder.py:152-173``).  All money/quantity columns
    are fixed-point, so the exact sums ride the scaled-long fast path
    (see ``registry.ls_sum``) instead of DECIMAL aggregation buffers."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _ls_sum(F.col("l_quantity")).alias("sum_qty"),
            _ls_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            _ls_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4
            ).alias("sum_disc_price"),
            _ls_sum_wide(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax")),
                scale=6,
            ).alias("sum_charge"),
            _r6(_ls_avg(F.col("l_quantity"))).alias("avg_qty"),
            _r6(_ls_avg(F.col("l_extendedprice"))).alias("avg_price"),
            _r6(_ls_avg(F.col("l_discount"))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# §2.1 Scans  /  §2.2 Projections, filters, predicates
# ---------------------------------------------------------------------------


@register(
    "s3_projection_scan",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
""",
    tags=("scan",),
)
def s3_projection_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-projection scan (S3): only 3 of 11 columns read — the
    parquet ReadSchema must shrink accordingly (reference readers always
    SELECT explicit lists, ``mcp/database/readers/splits.py:240-267``)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") >= "1998-01-01").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "p2_point_lookup",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderkey = 7
""",
    tags=("filter",),
)
def p2_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup by key (P2, ``readers/metadata.py:49-52``)."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") == 7)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )


@register(
    "p3_date_range",
    oracle="""
SELECT o_orderkey, o_orderdate, o_totalprice
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00' AND TIMESTAMP '1997-03-31 00:00:00'
""",
    tags=("filter",),
)
def p3_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-range predicate (P3, ``readers/durability.py:660-668``)."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").between("1997-01-01", "1997-03-31"))
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


@register(
    "p5_tolerance_band",
    oracle="""
SELECT p_partkey, p_name, p_retailprice
FROM part
WHERE p_retailprice BETWEEN 910 * 0.99 AND 910 * 1.01
""",
    tags=("filter",),
)
def p5_tolerance_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """±1% numeric-tolerance band (P5, similarity prefilter
    ``mcp/rag/queries/comparisons.py:196-247``)."""
    return (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_retailprice").between(910 * 0.99, 910 * 1.01))
        .select("p_partkey", "p_name", "p_retailprice")
    )


@register(
    "p6_like_filter",
    oracle="""
SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%red%'
""",
    tags=("filter",),
)
def p6_like_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE keyword filter (P6, ``comparisons.py:250-252``)."""
    return (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("red"))
        .select("p_partkey", "p_name")
    )


@register(
    "p7_json_predicate",
    oracle="""
SELECT event_id, user_id, CAST(json_extract(props, '$.k') AS VARCHAR) AS k_raw
FROM events
WHERE json_extract(props, '$.k') IS NOT NULL
  AND CAST(json_extract(props, '$.k') AS INTEGER) > 90
""",
    tags=("filter", "json"),
)
def p7_json_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path existence + value predicate (P7,
    ``mcp/rag/queries/insights.py:74-101``)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return (
        ev.filter(k.isNotNull() & (k.cast("int") > 90))
        .select("event_id", "user_id", k.alias("k_raw"))
    )


@register(
    "p9_in_list",
    oracle="""
SELECT c_custkey, c_name, c_acctbal
FROM customer WHERE c_custkey IN (1, 7, 42, 99, 500, 1234)
""",
    tags=("filter",),
)
def p9_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-set membership bulk fetch (P9, ``readers/metadata.py:96-106``)."""
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey").isin(1, 7, 42, 99, 500, 1234))
        .select("c_custkey", "c_name", "c_acctbal")
    )


# ---------------------------------------------------------------------------
# §2.3 Joins
# ---------------------------------------------------------------------------


@register(
    "j1_revenue_by_nation",
    oracle="""
SELECT n.n_name AS nation,
       (CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    tags=("join", "agg", "read"),
)
def j1_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ dim ⋈ dim with broadcast dims (J1/J2 shape,
    ``form_baseline/trainer.py:431-448``): lineitem joins supplier and
    nation — both dimension sides broadcast, so the only shuffle is the
    final groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            _ls_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "j4_having_incomplete",
    oracle="""
SELECT c.c_custkey, COUNT(DISTINCT o.o_orderpriority) AS n_present
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey
HAVING COUNT(DISTINCT o.o_orderpriority) < 3
""",
    tags=("join",),
)
def j4_having_incomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT JOIN + grouped HAVING anti-pattern (J4): customers whose
    orders span < 3 distinct priorities, including customers with no
    orders at all (``readers/performance.py:166-181``)."""
    from ..operators.joins import missing_children_having

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    return missing_children_having(
        cust, orders, "c_custkey", "o_orderpriority", 3
    )


@register(
    "j6_preagg_join",
    oracle="""
WITH cust_avg AS (
  SELECT o_custkey, ROUND((CAST(SUM(CAST(FLOOR((o_totalprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) / COUNT(o_totalprice), 6) AS avg_order_price
  FROM orders GROUP BY o_custkey
)
SELECT c.c_custkey, c.c_mktsegment, ca.avg_order_price
FROM customer c JOIN cust_avg ca ON c.c_custkey = ca.o_custkey
WHERE ca.avg_order_price > 300000
""",
    tags=("join", "agg"),
)
def j6_preagg_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-aggregated CTE join (J6, ``comparisons.py:209-231``):
    aggregate the fact table *before* joining the dimension, shrinking
    the shuffled side to one row per key."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    pre = orders.groupBy("o_custkey").agg(
        _r6(_ls_avg(F.col("o_totalprice"))).alias("avg_order_price")
    )
    return (
        cust.join(pre, cust.c_custkey == pre.o_custkey)
        .filter(F.col("avg_order_price") > 300000)
        .select("c_custkey", "c_mktsegment", "avg_order_price")
    )


@register(
    "p4_null_guards",
    oracle="""
SELECT event_type, COUNT(*) AS n
FROM events
WHERE value IS NOT NULL AND value > 0 AND user_id IS NOT NULL
GROUP BY event_type
""",
    tags=("filter",),
)
def p4_null_guards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 null/positivity guards in-predicate — e.g. ``heart_rate IS NOT
    NULL AND speed > 0`` (``readers/durability.py:96-106``,
    ``form_baseline/trainer.py:441-447``).  Both predicates reach the
    parquet scan as PushedFilters."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            F.col("value").isNotNull()
            & (F.col("value") > 0)
            & F.col("user_id").isNotNull()
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "p8_pushed_postfilter",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events
WHERE event_id % 97 = 0 AND value BETWEEN 5 AND 80
  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
""",
    tags=("filter",),
)
def p8_pushed_postfilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: the reference bulk-fetches then range-filters in Python to
    dodge N+1 queries (``rag/queries/trends.py:224-290``); in Spark the
    same predicates belong in ``df.filter`` where Catalyst pushes them
    into the scan — strictly better than any post-filter."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        (F.col("event_id") % 97 == 0)
        & F.col("value").between(5, 80)
        & (F.col("ts") >= "2024-01-05")
    ).select("event_id", "user_id", "event_type", "value")


_S7_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       MIN(l_shipdate) AS first_ship, MAX(l_shipdate) AS last_ship
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


@register("s7_sql_passthrough", oracle=_S7_SQL, tags=("scan", "sql"))
def s7_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 ad-hoc SQL passthrough (the ``export`` tool accepts arbitrary
    SQL text, ``docs/mcp-tools-reference.md:35-45``): register the
    tables as temp views and hand the IDENTICAL string to ``spark.sql``
    — the oracle runs the same text, so this checks the engines' shared
    SQL dialect end-to-end."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_S7_SQL)


@register(
    "s2_descriptor_pivot",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_quantity * 1.0 AS qty,
       l_extendedprice * 0.01 AS price_scaled,
       l_discount * 100.0 AS disc_pct
FROM lineitem
WHERE l_orderkey % 131 = 0
""",
    tags=("scan", "source"),
)
def s2_descriptor_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 metricDescriptors-driven column mapping
    (``inserters/time_series_metrics.py:56-118``): the raw source stores
    a positional value array per row plus a descriptor list mapping
    metric name → index (+ unit factor), and the descriptor ORDER varies
    — here it rotates with the row key.  The pivot must therefore go
    through the name map (``map_from_arrays`` + ``getItem``), not
    positional access; the oracle recovers the same named columns from
    the unrotated source, so any positional shortcut would mismatch.
    Unit factors (qty ×1, price ×0.01, disc ×100 — the reference's
    ``unit.factor`` caveat ``:174-185``) are applied through the same
    map."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 131 == 0)
    m = (F.col("l_orderkey") % 3).cast("int")
    names = (
        F.when(m == 0, F.array(F.lit("qty"), F.lit("price"), F.lit("disc")))
        .when(m == 1, F.array(F.lit("price"), F.lit("disc"), F.lit("qty")))
        .otherwise(F.array(F.lit("disc"), F.lit("qty"), F.lit("price")))
    )
    vals = (
        F.when(
            m == 0,
            F.array(F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")),
        )
        .when(
            m == 1,
            F.array(F.col("l_extendedprice"), F.col("l_discount"), F.col("l_quantity")),
        )
        .otherwise(
            F.array(F.col("l_discount"), F.col("l_quantity"), F.col("l_extendedprice"))
        )
    )
    mp = F.map_from_arrays(names, vals)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (mp.getItem("qty") * 1.0).alias("qty"),
        (mp.getItem("price") * 0.01).alias("price_scaled"),
        (mp.getItem("disc") * 100.0).alias("disc_pct"),
    )


@register(
    "s1_json_schema_parse",
    oracle="""
SELECT l_orderkey AS activity_id,
       l_linenumber AS lapIndex,
       l_quantity AS distance,
       l_extendedprice AS duration,
       CAST(l_shipdate AS VARCHAR) AS startTimeGMT,
       l_returnflag AS intensityType,
       l_discount AS averageHR,
       l_tax AS maxHR
FROM lineitem WHERE l_orderkey % 31 = 0
""",
    tags=("source", "batch"),
)
def s1_json_schema_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 raw-JSON source machinery end-to-end WITHOUT touching disk:
    assemble ``splits.json``-shaped documents (``lapDTOs`` array per
    activity — reference layout ``docs/spec/duckdb_schema_mapping.md:
    905-918``) from lineitem rows, serialize with ``to_json``, then
    parse back through the SAME declared schema the file reader uses
    (``sources/raw_json.SPLITS_FILE_SCHEMA`` — explicit schema, no
    inference) and normalize via explode.  The oracle reads the flat
    rows directly, so a schema-field mismatch, a lossy double↔JSON
    roundtrip, or an explode bug all hash-mismatch.  (The file-based
    path over these schemas is unit-tested; this gives the parse+
    normalize machinery a driver row.)"""
    from ..sources.raw_json import SPLITS_FILE_SCHEMA

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 31 == 0)
    lap = F.struct(
        F.col("l_linenumber").alias("lapIndex"),
        F.col("l_quantity").alias("distance"),
        F.col("l_extendedprice").alias("duration"),
        F.col("l_shipdate").cast("string").alias("startTimeGMT"),
        F.col("l_returnflag").alias("intensityType"),
        F.col("l_discount").alias("averageHR"),
        F.col("l_tax").alias("maxHR"),
    )
    files = li.groupBy("l_orderkey").agg(
        F.to_json(
            F.struct(F.sort_array(F.collect_list(lap)).alias("lapDTOs"))
        ).alias("raw")
    )
    parsed = files.select(
        F.col("l_orderkey").alias("activity_id"),
        F.explode(F.from_json("raw", SPLITS_FILE_SCHEMA)["lapDTOs"]).alias("lap"),
    )
    return parsed.select(
        "activity_id",
        F.col("lap.lapIndex").alias("lapIndex"),
        F.col("lap.distance").alias("distance"),
        F.col("lap.duration").alias("duration"),
        F.col("lap.startTimeGMT").alias("startTimeGMT"),
        F.col("lap.intensityType").alias("intensityType"),
        F.col("lap.averageHR").alias("averageHR"),
        F.col("lap.maxHR").alias("maxHR"),
    )


@register(
    "s5_export_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    tags=("source", "sink", "batch"),
)
def s5_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 export sink end-to-end: run ``guarded_export`` (row-guarded
    parquet COPY, reference ``mcp/database/readers/export.py:19-90``)
    to a scratch directory, then READ THE EXPORTED FILES BACK and
    return them — the oracle is the plain source query, so a dropped
    row, re-typed column, or lossy write hash-mismatches.  Gives the
    sink a driver row; the over-limit guard path is unit-tested."""
    from ..operators.export import guarded_export

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    with scratch_dir(prefix="s5_export_") as work:
        out = work + "/supplier_export"
        guarded_export(sup, out, fmt="parquet", max_rows=100_000)
        return spark.read.parquet(out).localCheckpoint(eager=True)


@register(
    "s8_csv_roundtrip",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey,
       ROUND(CAST(n_nationkey AS DOUBLE) / 4.0, 6) AS frac
FROM nation
""",
    tags=("source", "sink", "batch"),
)
def s8_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source with a PINNED schema — the interchange format
    every warehouse still meets at its edges: write nation (plus a
    computed double, to exercise float text round-tripping) to CSV
    with an explicit header, read it back with a DECLARED schema
    (never inferSchema — schema inference samples the data and is a
    correctness hazard the moment a column's first file is atypical),
    and return the read-back rows.  The oracle is the plain source
    query over parquet, so a quoting bug, a dropped header, a
    re-typed column, or a float that fails to round-trip through text
    hash-mismatches.  Scale note: CSV scans can't push predicates or
    prune columns — this entry is the EDGE format; everything internal
    stays parquet."""
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        "n_regionkey",
        _r6(F.col("n_nationkey").cast("double") / 4.0).alias("frac"),
    )
    schema = (
        "n_nationkey bigint, n_name string, n_regionkey bigint, frac double"
    )
    with scratch_dir(prefix="s8_csv_") as work:
        out = work + "/nation_csv"
        nat.write.mode("overwrite").option("header", True).csv(out)
        return (
            spark.read.schema(schema)
            .option("header", True)
            .csv(out)
            .localCheckpoint(eager=True)
        )


@register(
    "s9_schema_evolution",
    oracle="""
WITH unioned AS (
  SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT COALESCE(o_orderpriority, '(pre-evolution)') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE) AS total
FROM unioned
GROUP BY 1
""",
    # batch, not read: two parquet writes per call, ingest-shaped like s5
    tags=("source", "schema", "batch"),
)
def s9_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the read path — the operational reality of
    any 100 TB table that lives longer than its first schema: batch 1
    is written WITHOUT ``o_orderpriority``, batch 2 (a later ingest)
    adds the column, and a ``mergeSchema`` parquet read unifies both
    under the superset schema with NULLs for pre-evolution rows.  The
    aggregation groups those NULLs into an explicit
    '(pre-evolution)' bucket, so the oracle (a UNION ALL with a typed
    NULL column) pins both the NULL-fill semantics and the values.
    Scale notes: mergeSchema reconciles FOOTERS (per-file, no data
    scan) but is O(files) on the driver — production tables keep the
    merged schema in a catalog instead and pass it explicitly; new
    columns must be added nullable-at-end, never re-typed (parquet
    has no in-place cast), which is exactly the shape this entry
    exercises."""
    orders = load_table(spark, sf_dir, "orders")
    batch1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    batch2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    with scratch_dir(prefix="s9_evolve_") as root:
        # the two ingests are independent writes: overlap them
        run_concurrently(
            spark,
            lambda: batch1.write.mode("overwrite").parquet(root + "/batch=1"),
            lambda: batch2.write.mode("overwrite").parquet(root + "/batch=2"),
        )
        merged = spark.read.option("mergeSchema", "true").parquet(
            root + "/batch=1", root + "/batch=2"
        )
        return merged.groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("(pre-evolution)")).alias(
                "priority"
            )
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(22,2)"))
            .cast("double")
            .alias("total"),
        ).localCheckpoint(eager=True)


@register(
    "s11_corrupt_tolerant_json",
    oracle="""
WITH raw AS (
  SELECT event_id,
         '{"id": ' || event_id || ', "type": "' || event_type
           || '", "k": ' || COALESCE(json_extract_string(props, '$.k'), 'null')
           || '}' AS line
  FROM events
),
cor AS (
  SELECT event_id,
         CASE WHEN event_id % 37 = 0
              THEN substr(line, 1, length(line) - 3)
              ELSE line END AS line
  FROM raw
)
SELECT event_id,
       json_valid(line) AS parsed_ok,
       CASE WHEN json_valid(line)
            THEN CAST(json_extract(line, '$.k') AS BIGINT) END AS k,
       CASE WHEN json_valid(line)
            THEN json_extract_string(line, '$.type') END AS type_parsed
FROM cor
""",
    tags=("source", "json", "read"),
)
def s11_corrupt_tolerant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode JSON ingestion — the semantics a 100 TB feed
    needs when 0.01% of lines are truncated by upstream crashes: the
    job must NOT die (FAILFAST) and must NOT silently drop rows
    (DROPMALFORMED); every line lands, malformed ones carry their raw
    text in ``columnNameOfCorruptRecord`` and NULL data fields, so the
    bad-line rate is auditable downstream.  The corpus is assembled
    in-engine (the s1 convention): one JSON record per event, with a
    deterministic ~3% truncated before the closing brace (always
    malformed — both engines agree a brace-less object is invalid).
    The entry returns the row-level classification + extracted fields;
    a flipped corrupt flag, a field extracted from a truncated line,
    or a dropped row all hash-mismatch."""
    ev = load_table(spark, sf_dir, "events")
    line = F.concat(
        F.lit('{"id": '),
        F.col("event_id").cast("string"),
        F.lit(', "type": "'),
        F.col("event_type"),
        F.lit('", "k": '),
        # a row whose props lacks '$.k' must not NULL the whole line
        # (that would flip parsed_ok semantics between engines);
        # 'null' is valid JSON, so the line stays parseable with k NULL
        F.coalesce(F.get_json_object("props", "$.k"), F.lit("null")),
        F.lit("}"),
    )
    cor = ev.withColumn("_line", line).select(
        "event_id",
        F.when(
            F.col("event_id") % 37 == 0,
            F.expr("substring(_line, 1, length(_line) - 3)"),
        )
        .otherwise(F.col("_line"))
        .alias("line"),
    )
    parsed = cor.select(
        "event_id",
        F.from_json(
            "line",
            "id long, type string, k long, _corrupt_record string",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("p"),
    )
    ok = F.col("p._corrupt_record").isNull()
    return parsed.select(
        "event_id",
        ok.alias("parsed_ok"),
        F.when(ok, F.col("p.k")).alias("k"),
        F.when(ok, F.col("p.type")).alias("type_parsed"),
    )


@register(
    "s12_orc_roundtrip",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(22,2))) AS DOUBLE) AS total
FROM orders
WHERE o_totalprice > 150000.0
GROUP BY 1
""",
    # batch, not read: writes its ORC copy on every call, sink-shaped like s5/s8
    tags=("source", "sink", "batch"),
)
def s12_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source with predicate pushdown — the OTHER columnar
    lake format (Spark ships native ORC read/write; Hive-era tables
    still arrive as ORC): write orders to ORC, read it back with a
    selective price filter, and aggregate.  Unlike the CSV edge
    format (s8), ORC carries column statistics and supports pushdown
    — ``tests/test_plan_shapes.py`` gates that the read-back scan
    shows a PushedFilters entry, so the roundtrip proves the format
    keeps its scan-pruning power, not just its bytes.  The oracle is
    the plain parquet-side query; a type lost in translation, a
    dropped row, or a filter applied post-scan to different effect
    all hash-mismatch.  Scale note: the write is repartitioned into
    multiple files so the read-back scan parallelizes — an ORC sink
    that funnels into one file serializes every downstream scan.
    MEASURED CONTRACT (round-12 VERDICT item 6): the entry is named
    ROUNDTRIP, so the ORC write runs on EVERY call — a best-of-N
    bench number includes the sink in every run (the write was
    previously memoized after run 1, which silently turned the
    recorded number read-only).  The output path is still keyed per
    (application, sf_dir) under the artifact root, whose mtime-based
    reclaim keeps repeated sweeps/bench runs from accumulating
    copies."""
    out = artifact_dir(f"s12_{artifact_tag(spark, sf_dir)}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    orders.repartition(4).write.mode("overwrite").orc(out)
    back = spark.read.orc(out).filter(F.col("o_totalprice") > 150000.0)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(22,2)"))
        .cast("double")
        .alias("total"),
    )
