"""Data-layout catalog entries (beyond-reference, SURVEY §2.14):
Z-order (Morton) multi-dimensional clustering — the public technique
behind Delta Lake's OPTIMIZE ZORDER and Hudi/Iceberg sort-order
optimization (Morton 1966; databricks engineering blog describes the
same bit-interleave).  At 100 TB the payoff is FILE SKIPPING: sort or
``repartitionByRange`` on the interleaved key before writing parquet
and every file's min/max column stats cover a small tile in EVERY
interleaved dimension, so a predicate on any of them prunes files —
a linear sort key gives that for only its leading column.

Here the index math is the hash-oracled part (pure integer bit ops —
bit-identical cross-engine), and the tile-stats output IS the skipping
demonstration: each 256-z-value bucket covers a ≤16×16 tile of the
(x, y) plane, i.e. BOTH dimensions are bounded per bucket, which is
the property file skipping consumes.  ``tests/test_operators.py``
asserts the tile bound and the contrast with a single-column layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import artifact_dir
from ..sources.tables import artifact, artifact_tag, load_table
from .registry import register

_BITS = 8


def _interleave_sql(xcol: str, ycol: str) -> str:
    """Morton interleave of two _BITS-bit ints as pure +/>>/&
    arithmetic — the identical expression string runs on both engines
    (Spark via ``F.expr``, DuckDB verbatim), so there is nothing to
    drift."""
    even = " + ".join(f"(({xcol} >> {i}) & 1) * {4 ** i}" for i in range(_BITS))
    odd = " + ".join(f"(({ycol} >> {i}) & 1) * {4 ** i}" for i in range(_BITS))
    return f"({even}) + 2 * ({odd})"


_Z_EXPR = _interleave_sql("x", "y")


@register(
    "z1_zorder_layout",
    oracle=f"""
WITH dims AS (
  SELECT event_id % 256 AS x,
         CAST(FLOOR(ABS(value)) AS BIGINT) % 256 AS y
  FROM events
),
z AS (
  SELECT x, y, {_Z_EXPR} AS zval FROM dims
)
SELECT CAST(zval >> 8 AS BIGINT) AS zbucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(x) AS min_x, MAX(x) AS max_x,
       MIN(y) AS min_y, MAX(y) AS max_y
FROM z
GROUP BY 1
""",
    tags=("layout", "zorder", "read"),
)
def z1_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering index: interleave the bits of two dimensions
    (x = event_id mod 256, y = floor(|value|) mod 256) into one Morton
    key, bucket by its top 8 bits, and emit per-bucket min/max of BOTH
    dimensions.  Every bucket is a ≤16×16 tile — both dimensions
    bounded — which is what parquet min/max file stats need for
    two-column file skipping after a ``repartitionByRange(zval)``
    write (the Delta OPTIMIZE ZORDER shape; the write itself is
    exercised by the silver layer, the INDEX MATH is what must be
    exact and is hash-oracled here).  The interleave is one in-row
    integer expression — no shuffle beyond the final bucket rollup,
    whole-stage-codegen-friendly, and bit-identical cross-engine
    because only +, >>, & touch the data."""
    ev = load_table(spark, sf_dir, "events")
    dims = ev.select(
        (F.col("event_id") % 256).alias("x"),
        (F.floor(F.abs(F.col("value"))).cast("bigint") % 256).alias("y"),
    )
    z = dims.withColumn("zval", F.expr(_Z_EXPR))
    return (
        z.groupBy(F.expr("zval >> 8").cast("bigint").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )


@register(
    "s10_partition_pruned_scan",
    oracle="""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(22,2))) AS DOUBLE) AS total_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-16'
GROUP BY 1, 2
""",
    tags=("source", "layout", "read"),
)
def s10_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write + partition-PRUNED read — the single
    biggest scan lever at 100 TB: events land once as
    ``partitionBy(day)`` parquet (the ingest-time layout cost, paid
    once like j15's bucketing), and a one-week query never opens the
    other partitions' files at all — pruning happens in the catalog
    against directory names, BEFORE any I/O, so the scan cost tracks
    the filter's selectivity instead of the table size.  The filter
    sits on the partition column itself (``d``), which is what makes
    it a PartitionFilter instead of a pushed data filter;
    ``tests/test_plan_shapes.py`` gates both the plan's
    PartitionFilters clause and the pruned ``inputFiles()`` set.  The
    layout is a registered artifact (``sources.tables.artifact``):
    one dir per (application, sf_dir) under the artifact root, so
    concurrent sessions cannot race.  MEASURED CONTRACT (round-12
    VERDICT item 6): the bench number for this entry is the pruned
    READ path; the one-time partitioned write is amortized BY DESIGN
    (best-of-N pays it only on the first run), exactly like j15's
    bucketing and v8b/v10b's index builds — the write-every-run
    sibling is s12, whose "roundtrip" name demands the sink in every
    timed run."""

    def _build():
        path = artifact_dir(f"s10_{artifact_tag(spark, sf_dir)}")
        ev = load_table(spark, sf_dir, "events")
        ev.withColumn(
            "d", F.date_format("ts", "yyyy-MM-dd")
        ).write.partitionBy("d").parquet(path)
        return spark.read.parquet(path), (path,)

    pruned = artifact(spark, sf_dir, "s10", _build).filter(
        (F.col("d") >= "2024-01-10") & (F.col("d") <= "2024-01-16")
    )
    return pruned.groupBy(
        F.col("d").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(22,2)"))
        .cast("double")
        .alias("total_value"),
    )
