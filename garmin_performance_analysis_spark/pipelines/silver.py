"""Silver-layer writers: how the 21 domain tables are laid out on disk
at 100 TB (SURVEY.md §1.3-1.4, §3.2; SCALING.md "Storage & partitioning").

The reference's write-side idempotency is DELETE-then-INSERT keyed by
``activity_id`` (``mcp/database/inserters/splits.py:77``,
``time_series_metrics.py:112``) under a single-writer lock.  On parquet
the equivalent unit of replacement is the PARTITION, so the silver
layout makes partitions the idempotency boundary:

- fact tables partition by calendar month of the event date — ingest is
  time-correlated, so a re-ingest touches few partitions, and every
  date-range query (P3, A4/A5, W5-W7) gets partition pruning, the same
  service the reference buys with its ART indexes;
- ``delete_insert_by_key`` rewrites ONLY the partitions containing the
  incoming keys (read partition → drop incoming keys → union new rows →
  dynamic-partition overwrite), which is exactly DELETE+INSERT semantics
  with an idempotent re-run;
- dimension-sized tables (activities, per-run enrichment) stay
  unpartitioned single-directory parquet — they broadcast anyway;
- ``write_bucketed`` materializes both sides of a hot equi-join
  bucketed by the join key, so the join plans with zero shuffle
  (checked by ``tests/test_silver.py::test_bucketed_join_has_no_shuffle``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MONTH_COL = "_month"


def with_month(df: DataFrame, date_col: str) -> DataFrame:
    """Attach the partition column: calendar month 'yyyy-MM' of the
    event date — coarse enough to keep partition counts sane at 100 TB
    (12/year), fine enough that catch-up ingest touches 1-2."""
    return df.withColumn(MONTH_COL, F.date_format(F.col(date_col), "yyyy-MM"))


def write_partitioned(df: DataFrame, path: str, date_col: str) -> None:
    """Initial / FULL rebuild: month-partitioned parquet with STATIC
    overwrite — the whole table root is replaced, so months absent from
    ``df`` (e.g. after an upstream deletion) are dropped rather than
    left stale.  Incremental writes go through ``delete_insert_by_key``
    (dynamic mode) instead."""
    (
        with_month(df, date_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy(MONTH_COL)
        .parquet(path)
    )


def delete_insert_by_key(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    key_col: str,
    date_col: str,
) -> None:
    """DELETE-then-INSERT keyed by ``key_col`` (the reference deletes by
    activity_id alone — ``inserters/splits.py:77``), re-expressed as a
    partition-scoped read-modify-write:

    1. rewrite scope = months carried by the incoming rows PLUS months
       where an incoming key already lives (a key-scoped DELETE: if a
       re-ingested key's event date moved to a different month, the old
       month is rewritten too, so no stale duplicate survives).  The
       key→month probe is a column-pruned scan of (key, _month) with a
       broadcast semi-join — cheap, and prunable further with partition
       stats on real deployments;
    2. read ONLY those partitions (partition pruning on ``_month``),
    3. drop rows whose key arrives in the new batch (the DELETE) via a
       broadcast anti-join on the incoming key set,
    4. union the new rows (the INSERT),
    5. dynamic-partition overwrite — untouched months are never read
       or written.

    Idempotent: re-running the same batch yields byte-identical
    partitions.  Concurrency contract: SINGLE WRITER per table (the
    reference serializes via a write lock, ``connection.py:48-80``);
    the parquet commit is per-partition, not atomic across partitions —
    a crash mid-commit needs a re-run (which is safe, being idempotent).
    For cross-partition atomicity swap in Delta ``MERGE`` — steps 2-5
    become one statement with the same pruning.
    """
    incoming = with_month(new_rows, date_col)
    keys = incoming.select(key_col).distinct()
    incoming_months = incoming.select(MONTH_COL).distinct()
    table = spark.read.parquet(path)
    key_months = (
        table.select(key_col, MONTH_COL)
        .join(F.broadcast(keys), key_col, "left_semi")
        .select(MONTH_COL)
        .distinct()
    )
    months = [
        r[0] for r in incoming_months.unionByName(key_months).distinct().collect()
    ]
    existing = table.filter(F.col(MONTH_COL).isin(months))
    kept = existing.join(F.broadcast(keys), key_col, "left_anti")
    # Materialize the rewrite output once: the months probe below and
    # the write would otherwise each evaluate the full read+anti-join
    # lineage (and the months probe must run BEFORE the write anyway —
    # out's lineage reads `path`, so evaluating it after the overwrite
    # would re-read the mutated table).
    out = kept.unionByName(incoming).localCheckpoint(eager=True)
    out_months = {r[0] for r in out.select(MONTH_COL).distinct().collect()}
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(MONTH_COL)
        .parquet(path)
    )
    # Dynamic overwrite only replaces partitions PRESENT in the output.
    # A month emptied by the DELETE (its only rows belonged to moved
    # keys) writes nothing, so drop its directory explicitly.
    stale = [m for m in months if m not in out_months]
    if stale:
        jvm = spark.sparkContext._jvm
        jsc = spark.sparkContext._jsc
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(jsc.hadoopConfiguration())
        for m in stale:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/{MONTH_COL}={m}"), True)


def read_silver(spark: SparkSession, path: str) -> DataFrame:
    """Read a silver table; the ``_month`` partition column participates
    in pruning for any filter on it."""
    return spark.read.parquet(path)


def write_bucketed(
    df: DataFrame, table_name: str, bucket_col: str, n_buckets: int = 16
) -> None:
    """Materialize a table bucketed (and sorted) by its hot join key.
    Two tables bucketed the same way equi-join with NO Exchange on
    either side — the co-located join the reference never needs at its
    scale, and the one that matters most at ours (fact ⋈ fact on
    activity_id, e.g. splits ⋈ time_series rollups)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table_name)
    )


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    partition_by=None,
) -> int:
    """Small-file compaction — the standing maintenance job of any
    incremental lakehouse table.  Append-based writers (ingest batches,
    the dedup registry, streaming sinks) accumulate one file per
    append; thousands of KB-sized files turn an O(data) scan into an
    O(files) metadata crawl (task-per-file scheduling, footer reads).

    Reads the table, repartitions to ``ceil(bytes / target_file_mb)``
    output files, and swaps atomically via ``migrations.rewrite_table``
    (temp write → two renames, crash-safe, registered artifacts
    invalidated).
    Returns the target partition count.

    Sizing uses the CURRENT on-disk bytes, which over-counts when the
    data is poorly encoded (recompaction improves encoding) — the
    conservative direction: files come out at or under target size.
    Readers must be quiesced for the swap window (same contract as any
    migration).

    ``partition_by=None`` (default) PRESERVES the table's existing
    Hive partition layout, detected from the ``col=value`` directory
    structure — compacting the prefix-partitioned dedup registry must
    not flatten it (a later partitioned append next to flat root files
    is a mixed layout Spark's partition discovery rejects).  Pass an
    explicit list (possibly empty) to re-layout deliberately.
    """
    import math

    from .migrations import _fs, rewrite_table

    jvm, fs = _fs(spark)
    P = jvm.org.apache.hadoop.fs.Path
    summary = fs.getContentSummary(P(path))
    total_bytes = summary.getLength()
    n = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    if partition_by is None:
        partition_by = detect_partition_cols(spark, path)
    df = spark.read.parquet(path)
    if partition_by:
        # hash-distribute on the partition columns so each Hive
        # directory is written by (at most) one task → one compacted
        # file per directory, instead of n tasks × p dirs fragments
        out = df.repartition(n, *[F.col(c) for c in partition_by])
    else:
        out = df.repartition(n)
    rewrite_table(out, path, partition_by=list(partition_by) or None)
    return n


def detect_partition_cols(spark: SparkSession, path: str) -> list[str]:
    """Hive partition columns of an on-disk table, read from its
    ``col=value`` directory chain (outermost first); [] for a flat
    table.  Filesystem-API-based so hdfs:// and s3a:// paths work."""
    from .migrations import _fs

    jvm, fs = _fs(spark)
    P = jvm.org.apache.hadoop.fs.Path
    cols: list[str] = []
    cur = P(path)
    while True:
        subdirs = [
            s.getPath()
            for s in fs.listStatus(cur)
            if s.isDirectory() and "=" in s.getPath().getName()
        ]
        if not subdirs:
            return cols
        cols.append(subdirs[0].getName().split("=", 1)[0])
        cur = subdirs[0]
