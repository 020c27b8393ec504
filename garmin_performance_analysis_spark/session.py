"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the
settings below are chosen so the same logical plans scale to a real
multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy)
- shuffle partitions sized to cores locally; on a cluster AQE coalesces
- UTC session timezone so timestamp semantics match a UTC-naive oracle
- Arrow enabled for the (rare) pandas_udf paths
"""

from __future__ import annotations

import os
import warnings
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ship_package_path(spark: SparkSession) -> None:
    """Put this package's root on the Python-worker ``PYTHONPATH`` of
    ``spark``'s context, so the pandas/Arrow UDFs defined here unpickle
    in workers of ANY session started from ANY working directory, not
    only ``get_spark``'s.  A UDF captures ``SparkContext.environment``
    when it is built, so the entry points that receive a session
    (``get_spark``, ``sources.tables.load_table``, ``tools.GarminTools``)
    call this before any plan is built.  Idempotent."""
    env = spark.sparkContext.environment
    parts = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in parts:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_ROOT, *parts])


@contextmanager
def call_scope(spark: SparkSession) -> Iterator[None]:
    """Owns the blocks one call persists: unpersists, when the block
    exits (returns or raises), every RDD persisted inside it — the
    ``localCheckpoint``s and ``persist``s of the queries run there.
    Consume results inside the block.  Registered artifacts
    (``sources.tables.artifact``) hold no blocks, so nothing here is
    exempt.  Each snapshot is a JVM round-trip over the persisted-RDD
    map, so keep both off timed paths."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    try:
        yield
    finally:
        for rdd_id, rdd in jsc.getPersistentRDDs().items():
            if rdd_id not in before:
                rdd.unpersist(False)


# Pool width of ``run_concurrently``: the overlapped actions are small
# jobs whose fixed cost (scheduling, commit, footer write) is what
# overlaps, so a few threads suffice even on wide hosts.
_MAX_CONCURRENT = 4


def run_concurrently(spark: SparkSession, *thunks: Callable[[], Any]) -> list:
    """Run independent Spark actions at once; return their results in
    submission order.  Each thunk runs on a pool thread, wrapped by
    ``pyspark.inheritable_thread_target(spark)``, so its jobs carry the
    caller's job group, job description and job tags: a plain pool
    thread drops them, which hides the jobs from job-group counters and
    from ``harness.registry._checked_build``'s purity tag.  Waits for
    every thunk, then raises the first failure in submission order; no
    pool thread outlives the call.  A single thunk runs in the caller's
    thread.  Start Spark work from another thread only through here."""
    if len(thunks) <= 1:
        return [thunk() for thunk in thunks]
    with ThreadPoolExecutor(max_workers=min(_MAX_CONCURRENT, len(thunks))) as pool:
        # one wrap per thunk: each copies the caller's local properties,
        # so concurrent SQL executions never share one Properties object
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
    for future in futures:
        if future.exception() is not None:
            raise future.exception()
    return [future.result() for future in futures]


def _default_driver_memory() -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEMORY`` is unset:
    half of physical RAM, at most 16 GB.  A fixed 16g heap exceeds a
    15 GB host, where the JVM would grow into memory the OS and the
    Python workers need; on larger hosts 16g stays the cap, because a
    bigger heap made allocation-heavy queries erratic (see ``bench.py``)."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    return f"{min(16 * 1024, ram_mb // 2)}m"


# PySpark's call-site capture: a static conf, read once per process.
_CALL_SITE_CONF = "spark.python.sql.dataFrameDebugging.enabled"


def _warn_on_call_site_capture(conf) -> None:
    """Warn when ``conf`` (a session's ``RuntimeConfig``) has PySpark's
    call-site capture on."""
    if conf.get(_CALL_SITE_CONF, "true").lower() == "true":
        warnings.warn(
            f"{_CALL_SITE_CONF} is true in this session, and it is a static "
            "conf: every functions.* call in every catalog build pays about "
            "5 py4j round trips to record its call site.  Build the session "
            "with it set to false, or let get_spark build it.",
            stacklevel=3,
        )


def get_spark(app_name: str = "garmin_performance_analysis_spark") -> SparkSession:
    """The engine's session: ``local[$SPARK_GRAFT_CPUS]`` with the confs
    below.  In a process whose session already exists, ``getOrCreate``
    returns that session and its static confs stay as they were built;
    if PySpark's call-site capture (``spark.python.sql.dataFrameDebugging
    .enabled``) is on there, this warns once: every ``functions.*`` call
    of every build then costs about 5 py4j round trips, and only a
    session built with the conf false avoids it."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        # The AQE, join and state-store SQL confs below: override via spark.conf.set.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at Spark's default (true): coalescing
        # purely by BYTES (false + 64 m advisory) collapsed every small
        # post-shuffle stage to ONE task, which serializes CPU-dense
        # aggregations whose bytes are tiny but whose per-row work is
        # not (d10's fused decimal-fold aggregation ran as two
        # single-task jobs of 7.5 s + 4.0 s in the stage profile;
        # 5.04 s → 1.59 s best-of-3 after the flip, with m16 0.70×,
        # t4 0.69×, a19 0.77×, g8 0.82× in the same matched A/B).
        # KB-scale frames still coalesce to one task under true —
        # minPartitionSize caps the split.  Reads over a table Spark
        # scans as one split plan no exchange at all: the loader
        # (sources.tables) coalesces such a table to one partition, so
        # this setting shapes only the shuffles over larger tables and
        # the explicit repartitions.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash join where its size checks
        # pass (guide §3.1): SMJ pays two sorts a hash join does not,
        # and AQE additionally rewrites SMJ→SHJ at runtime when every
        # post-shuffle partition is under the local-map threshold.
        # Physical-plan-only (bit-identical results); on memory-tight
        # clusters set the threshold back to 0 and/or
        # preferSortMergeJoin=true.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        # Streaming state-store backend (round-12 VERDICT item 5):
        # measured at sf0.1, RocksDB LOSES on every join replay —
        # i4 3.99→6.24/6.54 s, i9 3.80→5.99/6.76 s (with and without
        # changelog checkpointing), i3 ±0.4 s — the native store's
        # per-commit open/compact overhead × (4 stores × partitions ×
        # micro-batches) dominates at KB-scale state, so the
        # HDFS-backed default stays.  At cluster scale (state ≫ heap)
        # RocksDB is the production choice (RocksDBStateStoreProvider).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark otherwise records the Python call site of every
        # functions.* call (an active-session lookup, a conf read and
        # an origin set and clear: ~5 py4j round trips each), which
        # was 69-72 % of the round trips of a catalog build.  Errors
        # keep their class and message and lose only the DataFrame
        # call-site context.
        .config(_CALL_SITE_CONF, "false")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warn_on_call_site_capture(spark.conf)
    ship_package_path(spark)
    return spark
