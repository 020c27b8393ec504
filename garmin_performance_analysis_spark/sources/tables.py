"""Parquet table loaders for the driver's synthetic star schema.

Mirrors the reference's read layer, where every reader opens the store
and scans a named table with an explicit column list
(``mcp/database/readers/base.py:19-44``).  Here the store is a directory
of parquet files; at cluster scale each table would be a partitioned
parquet/Delta dataset, and the same ``spark.read.parquet`` call picks up
partition pruning for free.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ship_package_path

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


# (session id, sf_dir, table) → resolved DataFrame.  Re-resolving a
# parquet relation re-lists files and re-reads footers on every call;
# the relation for a read-only table is reusable across queries, and
# the memo keeps repeated catalog/bench invocations from paying that
# driver-side cost again (~50 ms/query locally, far more on object
# storage where listing is a network round-trip).
_TABLE_MEMO: dict = {}


def invalidate_table_memo(path: str | None = None) -> int:
    """Drop memoized relations whose backing files live under ``path``
    (everything when ``path`` is None).  Table rewrites
    (``pipelines.migrations.rewrite_table``) call this: a memoized
    relation pins the OLD file listing, so a query run after a rewrite
    would read deleted part-files and fail (or silently read stale
    data on object stores).  Returns the number of entries dropped."""
    if path is None:
        n = len(_TABLE_MEMO)
        _TABLE_MEMO.clear()
        return n

    # abspath both sides (a relative sf_dir must match the same dir
    # given absolutely) and compare on whole path segments — a bare
    # string prefix would let /root/data match /root/data2
    def _under(child: str, parent: str) -> bool:
        child, parent = os.path.abspath(child), os.path.abspath(parent)
        return child == parent or child.startswith(parent + os.sep)

    norm = os.path.abspath(path)
    stale = [
        k
        for k in _TABLE_MEMO
        if _under(os.path.join(k[1], f"{k[2]}.parquet"), norm)
        or _under(norm, k[1])
    ]
    for k in stale:
        del _TABLE_MEMO[k]
    return len(stale)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Column pruning + predicate pushdown are left to
    Catalyst — callers express plain ``select``/``filter`` on the result.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark has
    no native type for.  Depending on session config it surfaces either
    as a long (``nanosAsLong``) or as TIMESTAMP_NTZ; normalize BOTH to a
    plain UTC TIMESTAMP here so every downstream query can rely on
    ``unix_micros(ts)`` etc.  The session timezone is UTC
    (``session.py``), so the NTZ→TZ cast preserves the wall-clock value.
    """
    ship_package_path(spark)
    key = (id(spark.sparkContext), sf_dir, name)
    if key in _TABLE_MEMO:
        return _TABLE_MEMO[key]
    if name == "events":
        # engine contract: timestamps are UTC instants (session.py).
        # Enforce at the loader so an embedding harness's session on a
        # TZ-configured host gets the same NTZ→TZ wall-clock
        # preservation the oracle compare assumes.  If the conf is
        # rejected AND the session is not already UTC, fail loudly —
        # a silent TZ shift would corrupt every events timestamp.
        try:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        except Exception:
            tz = spark.conf.get("spark.sql.session.timeZone", "")
            if tz not in ("UTC", "Etc/UTC", "GMT", "Z"):
                raise RuntimeError(
                    "events loader requires a UTC session "
                    f"(spark.sql.session.timeZone={tz!r} and not settable)"
                )
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # static conf in some sessions; the NTZ branch covers it
    path = os.path.join(sf_dir, f"{name}.parquet")
    # A concurrent rewrite_table swap (tmp → path via two renames) has a
    # milliseconds-wide window where `path` does not exist; resolving a
    # relation inside it fails with PATH_NOT_FOUND even though the table
    # is durably there before and after.  A short bounded retry makes
    # the swap invisible to readers that resolve during it.  (Readers
    # holding relations resolved BEFORE the swap are handled separately
    # by invalidate_table_memo.)  A genuinely missing table still fails,
    # just ~1 s later on this cold path only.
    for attempt in range(4):
        try:
            df = spark.read.parquet(path)
            break
        except Exception as e:
            if "PATH_NOT_FOUND" not in str(e) or attempt == 3:
                raise
            time.sleep(0.25)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _TABLE_MEMO[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view for the Spark-SQL entry points."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
