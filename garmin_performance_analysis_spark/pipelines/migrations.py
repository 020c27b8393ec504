"""Versioned schema-evolution registry for the silver layer — the
parquet rendition of the reference's migration bookkeeping
(``mcp/database/migrations/runner.py`` + ``registry.py``: numbered
``(version, name, fn)`` migrations, a ``schema_version`` table as the
source of truth, and ``run_pending`` applying everything above
``MAX(version)`` in order).

Spark mapping:

- ``schema_version`` is a tiny parquet table under the silver root —
  append one row per applied migration (version, name, applied_at);
- a migration fn takes ``(spark, base_path)`` and may do anything; the
  common ALTER-TABLE-ADD-COLUMN shape is provided as ``add_column``
  (idempotent, like the reference's ``IF NOT EXISTS`` checks);
- table rewrites go through ``rewrite_table`` — write to a temp dir,
  then swap directories — because a plan that reads a path cannot
  safely overwrite that same path (lineage re-reads mutated input),
  and a crash mid-rewrite must not leave a half-written table.

Single-writer discipline applies (same contract as
``silver.delete_insert_by_key``); the reference serializes migrations
behind its write-connection lock.

Two contract points the reference gets from SQLite transactions that a
parquet layout cannot (ADVICE r2):

- **Migration fns should be idempotent (re-run safe).**  ``run_pending``
  applies ``mig.fn`` and appends the ``schema_version`` row as two
  separate steps — there is no cross-file atomic commit to hide behind.
  An ``_inflight_v{N}`` marker brackets the gap: a crash between the
  two steps leaves the marker, and the next ``run_pending`` REFUSES to
  run until an operator resolves the half-applied state, instead of
  silently re-applying.  ``add_column``/``rewrite_table``/``drop_table``
  are all idempotent regardless, and custom fns should be too, so that
  resolution is usually "delete the marker and re-run".
- **Readers resolving mid-swap are covered; long-held relations are
  not.**  ``rewrite_table``'s two-rename swap leaves a milliseconds
  window where ``path`` does not exist; ``sources.tables.load_table``
  retries PATH_NOT_FOUND briefly, so a reader that *resolves* during
  the swap succeeds.  A relation resolved *before* the swap still pins
  deleted part-files — the swap invalidates this session's registered
  artifacts of that sf_dir for exactly that reason, but other sessions' open relations mean the
  single-writer contract still extends to readers for the duration of
  ``run_pending``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VERSION_TABLE = "schema_version"


@dataclass(frozen=True)
class Migration:
    version: int
    name: str
    fn: Callable[[SparkSession, str], None]


def _version_path(base_path: str) -> str:
    return f"{base_path}/{VERSION_TABLE}"


def _fs(spark: SparkSession):
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    return jvm, jvm.org.apache.hadoop.fs.FileSystem.get(jsc.hadoopConfiguration())


def _exists(spark: SparkSession, path: str) -> bool:
    jvm, fs = _fs(spark)
    return fs.exists(jvm.org.apache.hadoop.fs.Path(path))


def current_version(spark: SparkSession, base_path: str) -> int:
    """MAX(version) from the bookkeeping table, 0 when absent
    (``runner.py:get_current_version``)."""
    vp = _version_path(base_path)
    if not _exists(spark, vp):
        return 0
    try:
        row = spark.read.parquet(vp).agg(F.max("version")).first()
    except Exception:
        # directory exists but holds no parquet footers yet (e.g. only a
        # resolved _inflight marker from an interrupted first run)
        return 0
    return int(row[0]) if row and row[0] is not None else 0


def _inflight_markers(spark: SparkSession, base_path: str) -> list[str]:
    """Names of ``_inflight_v*`` markers under the bookkeeping table.
    Underscore-prefixed files are invisible to parquet readers, so the
    markers can live inside the ``schema_version`` directory."""
    vp = _version_path(base_path)
    if not _exists(spark, vp):
        return []
    jvm, fs = _fs(spark)
    it = fs.listStatus(jvm.org.apache.hadoop.fs.Path(vp))
    return [
        s.getPath().getName()
        for s in it
        if s.getPath().getName().startswith("_inflight_v")
    ]


def run_pending(
    spark: SparkSession, base_path: str, migrations: list[Migration]
) -> list[str]:
    """Apply every migration with version > current, ascending; record
    each in ``schema_version``.  Returns applied names.  Re-running is
    a no-op (``runner.py:run_pending``).

    Crash safety: ``mig.fn`` and the version-record append cannot be one
    atomic step on a filesystem, so a crash between them would otherwise
    re-apply the migration on the next run (silent double-apply for
    non-idempotent migrations).  An ``_inflight_v{N}`` marker is written
    before the migration runs and removed only after its record commits;
    a leftover marker makes every later ``run_pending`` raise with the
    interrupted version so an operator resolves the half-applied state
    explicitly instead of the runner guessing."""
    leftover = _inflight_markers(spark, base_path)
    if leftover:
        raise RuntimeError(
            "run_pending: previous migration run was interrupted mid-apply "
            f"({', '.join(sorted(leftover))} under {_version_path(base_path)}); "
            "verify the table state, record or roll back the migration "
            "manually, then delete the marker"
        )
    current = current_version(spark, base_path)
    applied: list[str] = []
    jvm, fs = _fs(spark)
    P = jvm.org.apache.hadoop.fs.Path
    for mig in sorted(migrations, key=lambda m: m.version):
        if mig.version <= current:
            continue
        marker = P(f"{_version_path(base_path)}/_inflight_v{mig.version}")
        fs.mkdirs(P(_version_path(base_path)))
        fs.create(marker, True).close()
        mig.fn(spark, base_path)
        record = spark.createDataFrame(
            [(mig.version, mig.name)], "version int, name string"
        ).withColumn("applied_at", F.current_timestamp())
        record.write.mode("append").parquet(_version_path(base_path))
        fs.delete(marker, False)
        applied.append(mig.name)
    return applied


def applied_migrations(spark: SparkSession, base_path: str) -> DataFrame:
    return spark.read.parquet(_version_path(base_path)).orderBy("version")


def rewrite_table(df: DataFrame, path: str, partition_by=None) -> None:
    """Full-table rewrite via temp-dir + directory swap.

    A migration's output plan usually READS ``path``; writing straight
    back would re-read mutated input mid-job, and a crash would leave
    the table half-written.  Write ``path.__tmp__`` completely, then
    swap — the destructive step is a single directory rename.

    ``partition_by``: partition columns for the rewritten table.  The
    default preserves the silver month layout: if the frame carries the
    ``_month`` partition column (``silver.MONTH_COL``), the rewrite
    partitions by it — otherwise a migration of a month-partitioned
    table would silently flatten it and the next
    ``delete_insert_by_key`` (which overwrites per-partition) would
    leave the stale root files in place.  Pass an explicit list (or
    ``[]`` to force flat) to override.

    Hadoop ``FileSystem.rename`` reports failure by RETURNING False,
    not raising — each step is checked, and a failed final swap
    restores the original directory before raising, so the table is
    never left missing.

    Readers that RESOLVE ``path`` during the swap are absorbed by the
    loader's bounded PATH_NOT_FOUND retry (``sources.tables.load_table``);
    relations resolved before the swap still pin deleted part-files, so
    the registered artifacts covering ``path`` (and those derived from
    its sf_dir) are invalidated on success, and other sessions' readers
    must be quiesced (module docstring)."""
    from ..sources.tables import invalidate_table_memo
    from .silver import MONTH_COL

    spark = df.sparkSession
    if partition_by is None:
        partition_by = [MONTH_COL] if MONTH_COL in df.columns else []
    tmp = f"{path}.__tmp__"
    old = f"{path}.__old__"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    jvm, fs = _fs(spark)
    P = jvm.org.apache.hadoop.fs.Path
    if fs.exists(P(old)):
        fs.delete(P(old), True)
    if not fs.rename(P(path), P(old)):
        fs.delete(P(tmp), True)
        raise IOError(f"rewrite_table: could not move {path} aside to {old}")
    if not fs.rename(P(tmp), P(path)):
        fs.rename(P(old), P(path))  # restore the original table
        fs.delete(P(tmp), True)
        raise IOError(
            f"rewrite_table: could not move rewritten table into {path}; "
            "original restored"
        )
    fs.delete(P(old), True)
    invalidate_table_memo(path)


def add_column(
    spark: SparkSession, table_path: str, col_name: str, col_expr
) -> bool:
    """ALTER TABLE ADD COLUMN IF NOT EXISTS, parquet-style: no-op when
    the column already exists (idempotent, mirroring the reference's
    ``PRAGMA table_info`` guard); else rewrite with the new column.
    Returns True when the column was added."""
    df = spark.read.parquet(table_path)
    if col_name in df.columns:
        return False
    rewrite_table(df.withColumn(col_name, col_expr), table_path)
    return True


def drop_table(spark: SparkSession, table_path: str) -> bool:
    """DROP TABLE IF EXISTS: delete the table directory. Returns True
    when something was deleted."""
    jvm, fs = _fs(spark)
    P = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(P(table_path)):
        return False
    fs.delete(P(table_path), True)
    from ..sources.tables import invalidate_table_memo

    invalidate_table_memo(table_path)
    return True
