"""Parquet table loaders for the driver's synthetic star schema.

Mirrors the reference's read layer, where every reader opens the store
and scans a named table with an explicit column list
(``mcp/database/readers/base.py:19-44``).  Here the store is a directory
of parquet files; at cluster scale each table would be a partitioned
parquet/Delta dataset, and the same ``spark.read.parquet`` call picks up
partition pruning for free.
"""

from __future__ import annotations

import hashlib
import os
import shutil
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


# (SparkContext, abspath(sf_dir), name) → (value, dirs): the one
# registry of cross-call artifacts.  A table relation is reusable
# across queries (re-resolving re-lists files and re-reads footers, a
# network round-trip per file listing on object storage);
# a derived artifact (s10's partitioned layout, j15's bucketed tables,
# v8b's PQ codebook + codes, v10b's IVF index) is files under ``dirs``
# plus tiny collected rows — never persisted blocks, so no per-call
# release can break it.  The context object itself is in the key: it
# cannot be recycled the way ``id()`` can, and a hit needs no JVM call.
# Catalog entries' reusable plans live here too, under ``plan_key``
# (per SparkSession, no dirs; see ``harness.registry``).
_REGISTRY: dict = {}


def plan_key(spark: SparkSession, sf_dir: str, name: str) -> tuple:
    """The registry key of catalog entry ``name``'s plan state over
    ``sf_dir``.  Keyed on the SparkSession, not its context: a plan is
    analyzed against one session's temp views and analysis confs, so
    ``spark.newSession()`` resolves its own.  Its value holds no files
    and no blocks, and ``invalidate_table_memo`` drops it with the rest
    of its sf_dir's entries."""
    return (spark, os.path.abspath(sf_dir), name)


def artifact(spark: SparkSession, sf_dir: str, name: str, build):
    """The registered artifact ``name`` of ``sf_dir`` for ``spark``'s
    context, building it with ``build() -> (value, dirs)`` on a miss.

    A hit refreshes the mtime of its dirs (so ``scratch.reclaim_stale``
    never takes a live artifact) and is rebuilt when one of them is
    gone.  Build only from tables of ``sf_dir``: ``invalidate_table_memo``
    drops every entry of an sf_dir when one of its tables is rewritten."""
    key = (spark.sparkContext, os.path.abspath(sf_dir), name)
    hit = _REGISTRY.get(key)
    if hit is not None:
        try:
            for d in hit[1]:
                os.utime(d)
        except OSError:
            pass  # reclaimed or deleted under us: rebuild
        else:
            return hit[0]
    entry = _REGISTRY[key] = build()
    return entry[0]


def artifact_tag(spark: SparkSession, sf_dir: str) -> str:
    """8 hex digits naming (application, sf_dir) in artifact dir and
    table names, so concurrent sessions never share a path."""
    app_id = spark.sparkContext.applicationId
    return hashlib.md5(f"{app_id}:{os.path.abspath(sf_dir)}".encode()).hexdigest()[:8]


def invalidate_table_memo(path: str | None = None) -> int:
    """Drop every registered artifact and entry plan of an sf_dir that
    contains ``path`` or lies under it (everything when ``path`` is
    None) and delete its dirs.  Table
    rewrites (``pipelines.migrations.rewrite_table``) call this: a
    registered relation pins the OLD file listing, so a query run
    after a rewrite would read deleted part-files and fail (or silently
    read stale data on object stores), and an artifact derived from
    the old table would answer for data that is gone, and a reused plan
    would scan the old relation.  Returns the number of entries
    dropped."""

    # abspath both sides (a relative sf_dir must match the same dir
    # given absolutely) and compare on whole path segments — a bare
    # string prefix would let /root/data match /root/data2
    def _under(child: str, parent: str) -> bool:
        child, parent = os.path.abspath(child), os.path.abspath(parent)
        return child == parent or child.startswith(parent + os.sep)

    stale = [
        k
        for k in _REGISTRY
        if path is None
        or _under(os.path.join(k[1], f"{k[2]}.parquet"), path)
        or _under(path, k[1])
    ]
    for k in stale:
        for d in _REGISTRY.pop(k)[1]:
            shutil.rmtree(d, ignore_errors=True)
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

    A table that Spark scans as one split (``scan_splits``: with two or
    more cores, one file of at most ``spark.sql.files.openCostInBytes``)
    comes back coalesced to one partition, so the aggregates, windows
    and joins over it plan no exchange and a read runs in one stage.
    The verdict is taken under the confs of the first load and is
    registered with the relation; ``invalidate_table_memo`` drops both.
    """
    ship_package_path(spark)
    return artifact(spark, sf_dir, name, lambda: (_resolve(spark, sf_dir, name), ()))


def _resolve(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
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
    if scan_splits(spark, path) in (0, 1):
        # Spark scans this table in one task anyway, so the coalesce
        # costs nothing at run time; it reports SinglePartition, which
        # satisfies every clustered and ordered distribution above it.
        # Filters and column pruning still push through to the scan.
        df = df.coalesce(1)
    return df


def _hidden(name: str) -> bool:
    """Spark's file-listing filter: names it never reads as data."""
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def scan_splits(spark: SparkSession, path: str) -> int | None:
    """The number of input partitions Spark's file scan plans for the
    parquet table at local ``path`` under ``spark``'s current confs;
    None when ``path`` is not a local file or directory.

    Mirrors ``FilePartition.maxSplitBytes`` and ``getFilePartitions``
    over the data files' sizes instead of planning the scan, which
    would cost about as much as resolving the relation.  The split size
    is ``maxPartitionBytes`` capped below by ``openCostInBytes`` and by
    the bytes per leaf core; files are cut into splits of that size and
    packed largest first, each file adding ``openCostInBytes``.  With
    two or more cores, a table is one split only when it is one file of
    at most ``openCostInBytes`` (4 MB by default).  Spark's
    ``spark.sql.files.maxPartitionNum`` only merges partitions, so
    ignoring it can miss a one-split table, never invent one."""
    if os.path.isfile(path):
        sizes = [os.path.getsize(path)]
    elif os.path.isdir(path):
        sizes = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not _hidden(d)]
            sizes += [
                os.path.getsize(os.path.join(root, f))
                for f in files
                if not _hidden(f)
            ]
    else:
        return None
    jspark = spark._jsparkSession
    conf = jspark.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    min_parts = conf.filesMinPartitionNum()
    min_parts = (
        min_parts.get()
        if min_parts.isDefined()
        else jspark.leafNodeDefaultParallelism()
    )
    total = sum(size + open_cost for size in sizes)
    split = min(conf.filesMaxPartitionBytes(), max(open_cost, total // min_parts))
    chunks = sorted(
        (min(split, size - off) for size in sizes for off in range(0, size, split)),
        reverse=True,
    )
    parts = used = 0
    for chunk in chunks:
        if parts == 0 or used + chunk > split:
            parts, used = parts + 1, 0
        used += chunk + open_cost
    return parts


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view for the Spark-SQL entry points."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
