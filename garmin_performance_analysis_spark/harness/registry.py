"""Query-catalog registry and numeric-parity helpers.

Parity conventions (Spark vs DuckDB oracle) used across all catalog
modules:

- SUMs of fractional doubles go through DECIMAL so the result is exact
  and order-independent (Spark sums shuffle partitions in
  nondeterministic order; a double sum would wobble in the last ulps).
- AVG/STDDEV/MEDIAN/ratio outputs are rounded to 6 decimals both sides.
- Every ordering that feeds a LIMIT ends in a unique key column.
- Dates in outputs are formatted as strings; timestamps pass through
  (both engines are microsecond/UTC after the events loader).

Plan reuse.  ``register`` wraps every entry, so ``QuerySpec.fn``
resolves an entry's plan once per session and sf_dir and returns a NEW
DataFrame over it on later calls: ``Dataset.ofRows(session, analyzed)``,
with its own QueryExecution, so optimization, physical planning, AQE
and shuffles still run per call; only the Python-side Column
construction and the JVM analysis are skipped.  These are the
semantics of a Spark temp view: analysis-time confs (session time
zone, ANSI, case sensitivity), and any conf the Python build itself
reads (``plans.layout.spread_for_compute``'s shuffle width), are
captured when the plan is first resolved; optimizer and physical
confs are read on every call.

- Key: ``sources.tables.plan_key`` — (SparkSession, abspath(sf_dir),
  entry name) in the one artifact registry.  A table rewrite
  (``invalidate_table_memo``) drops the entries of its sf_dir, so the
  next call resolves again.
- Rule: an entry is eligible when, while it builds, no Spark job runs
  (counted under a unique job tag, which adds to a caller's job group
  rather than replacing it), no RDD is newly persisted, the frame is
  not streaming, and every leaf of the analyzed plan is a local, range
  or one-row relation or a file relation over tables of sf_dir
  (``<sf_dir>/<table>.parquet``).  Artifact, warehouse and scratch
  files, ``LogicalRDD`` leaves and subquery expressions disqualify.
- When: the first call runs as is (a cold session resolves its tables
  with jobs there); the second call decides and returns its own frame;
  an ineligible verdict is final, and costs one dict lookup per call.
"""

from __future__ import annotations

import functools
import itertools
import os
from dataclasses import dataclass, field
from typing import Callable, Optional
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import _REGISTRY, TABLE_NAMES, plan_key


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    doc: str = ""
    tags: tuple = field(default_factory=tuple)


CATALOG: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str] = None, tags: tuple = ()):
    """Register ``fn`` under ``name``; ``QuerySpec.fn`` is the
    plan-reusing wrapper (module docstring), the module keeps ``fn``."""

    def deco(fn):
        CATALOG[name] = QuerySpec(
            fn=_reusing_plan(name, fn), oracle=oracle, doc=fn.__doc__ or "", tags=tags
        )
        return fn

    return deco


# plan states in the registry besides a reusable plan
_SEEN, _INELIGIBLE = "seen", "ineligible"
_CHECK_TAGS = itertools.count()
_LOCAL_LEAVES = {"LocalRelation", "OneRowRelation", "Range"}


def _reusing_plan(name: str, fn):
    @functools.wraps(fn)
    def call(spark: SparkSession, sf_dir: str) -> DataFrame:
        key = plan_key(spark, sf_dir, name)
        state = _REGISTRY.get(key, (None,))[0]
        if state is _INELIGIBLE:
            return fn(spark, sf_dir)
        if state is None:
            df = fn(spark, sf_dir)
            _REGISTRY[key] = (_SEEN, ())
            return df
        if state is _SEEN:
            df, pure = _checked_build(fn, spark, sf_dir)
            _REGISTRY[key] = ((pure and _reusable_plan(df, sf_dir)) or _INELIGIBLE, ())
            return df
        of_rows, analyzed, session = state
        return DataFrame(of_rows(session._jsparkSession, analyzed), session)

    return call


def serves_reused_plan(spark: SparkSession, sf_dir: str, name: str) -> bool:
    """Whether the next ``CATALOG[name].fn(spark, sf_dir)`` returns a
    frame over a reused plan (a registry lookup, no JVM call)."""
    state = _REGISTRY.get(plan_key(spark, sf_dir, name), (None,))[0]
    return isinstance(state, tuple)


def _checked_build(fn, spark: SparkSession, sf_dir: str) -> tuple[DataFrame, bool]:
    """``fn(spark, sf_dir)``, and whether its build ran no Spark job and
    newly persisted no RDD."""
    sc = spark.sparkContext
    jsc = sc._jsc
    tag = f"plan-reuse-check-{next(_CHECK_TAGS)}"
    persisted = set(jsc.getPersistentRDDs().keys())
    sc.addJobTag(tag)
    try:
        df = fn(spark, sf_dir)
    finally:
        sc.removeJobTag(tag)
    pure = len(jsc.sc().statusTracker().getJobIdsForTag(tag)) == 0 and set(
        jsc.getPersistentRDDs().keys()
    ) <= persisted
    return df, pure


def _reusable_plan(df: DataFrame, sf_dir: str) -> Optional[tuple]:
    """``(Dataset.ofRows, analyzed plan, session)`` of a built frame
    whose plan can serve later calls, or None (module docstring)."""
    if df.isStreaming:
        return None
    session = df.sparkSession
    jvm = session._jvm
    analyzed = df._jdf.queryExecution().analyzed()
    subquery = jvm.org.apache.spark.sql.catalyst.trees.TreePattern.PLAN_EXPRESSION()
    if analyzed.containsPattern(subquery):
        return None  # collectLeaves does not reach a subquery's leaves
    tables = tuple(os.path.join(os.path.abspath(sf_dir), f"{t}.parquet") for t in TABLE_NAMES)
    leaves = analyzed.collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        kind = leaf.getClass().getSimpleName()
        if kind in _LOCAL_LEAVES:
            continue
        if kind != "LogicalRelation":
            return None
        relation = leaf.relation()
        if relation.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        files = [urlparse(uri) for uri in relation.inputFiles()]
        if not files or not all(_in_tables(f, tables) for f in files):
            return None
    return jvm.org.apache.spark.sql.classic.Dataset.ofRows, analyzed, session


def _in_tables(url, tables: tuple) -> bool:
    """Whether a parsed input-file URI is one of ``tables`` or lies
    under one."""
    path = unquote(url.path)
    return url.scheme in ("", "file") and any(
        path == t or path.startswith(t + os.sep) for t in tables
    )


def r6(col):
    return F.round(col, 6)


def q6(col):
    """Floor-quantize to 6 dp: ``floor(x·1e6 + 0.5) / 1e6`` — the same
    IEEE ops as the oracle's ``FLOOR(x * 1000000.0 + 0.5) / 1000000.0``,
    so unlike ``r6`` it never depends on either engine's decimal-tie
    rule (interpolated medians/quantiles and recursive outputs can land
    exactly on a 6 dp half-way point)."""
    return F.floor(col * 1_000_000.0 + 0.5) / 1_000_000.0


def dec_sum(col, scale: int = 2, precision: int = 22):
    """Exact, order-independent SUM of a fractional double column."""
    return F.sum(col.cast(f"decimal({precision},{scale})")).cast("double")


def dec_avg(col, scale: int = 12, precision: int = 30):
    """Deterministic AVG: DECIMAL-exact sum / count.

    Plain ``avg`` over doubles varies run-to-run with shuffle fetch
    order (hash-agg partial merge), which flickers rounded outputs at
    cutoff boundaries — see SCALING.md lesson 5.
    """
    return F.sum(col.cast(f"decimal({precision},{scale})")).cast("double") / F.count(col)


def dec_std(col, sample: bool = True, scale: int = 12):
    """Deterministic STDDEV from DECIMAL-exact moment sums, guarded
    against negative cancellation (DuckDB sqrt rejects negatives)."""
    n = F.count(col)
    sx = F.sum(col.cast(f"decimal(30,{scale})")).cast("double")
    sxx = F.sum((col * col).cast(f"decimal(38,{scale})")).cast("double")
    den = (n - 1) if sample else n
    return F.when(den > 0, F.sqrt(F.greatest((sxx - sx * sx / n) / den, F.lit(0.0))))


def ls_sum(col, scale: int = 2):
    """Exact, order-independent SUM for a column with a KNOWN fixed
    decimal scale (e.g. 2-dp prices): scale to integers, sum as LONG
    (whole-stage-codegen fast path), divide back.  ~4× faster than the
    DECIMAL sum it replaces (q1: 1.65 s → 0.45 s at sf0.1) because the
    aggregation buffer stays a primitive long instead of a BigDecimal.

    Overflow bound: |x|·10^scale · n_rows must stay < 2^63 ≈ 9.2e18.
    For 2-dp values ≤ 1e5 that holds beyond 6e9 rows (100 TB-scale
    lineitem); for scale 4 it holds to ~9e9 rows.  For scale 6 use
    ``ls_sum_wide``.  Only valid when the input really is fixed-point —
    arbitrary-precision doubles (e.g. events.value) must keep the
    DECIMAL path (``dec_sum``/``dec_avg``).

    Integerization is ``floor(x·10^s + 0.5)`` rather than ``round``:
    Spark's ROUND drops to a BigDecimal per row (measured 1.8× on the
    whole agg), floor stays in primitive codegen.  Ties at exactly .5
    round toward +inf (matters only for negative fixed-point values;
    the SQL mirror applies the identical formula, so parity is exact).
    """
    f = 10**scale
    return F.sum(F.floor(col * f + 0.5)).cast("double") / float(f)


def ls_avg(col, scale: int = 2):
    """Deterministic AVG on a fixed-scale column via ``ls_sum`` / count;
    division order (sum → descale → /n) mirrors ``sql_lavg`` exactly."""
    f = 10**scale
    return (F.sum(F.floor(col * f + 0.5)).cast("double") / float(f)) / F.count(col)


_WIDE_B = 1 << 20


def ls_sum_wide(col, scale: int = 6):
    """Exact SUM for fixed-point columns whose scaled-long sum could
    overflow 2^63 at extreme row counts (e.g. 6-dp "charge" terms):
    split each scaled integer q into ``hi = (q - q%B)/B`` and
    ``lo = q%B`` (B = 2^20), sum the two longs independently (each
    bounded by ~6e14 even at 6e9 rows), and recombine as
    ``hi·B + lo`` in double — every step is integer-exact and
    order-independent, and the final double rounding is deterministic.
    """
    f = 10**scale
    q = F.floor(col * f + 0.5)
    hi = F.sum(((q - q % _WIDE_B) / _WIDE_B).cast("long")).cast("double")
    lo = F.sum(q % _WIDE_B).cast("double")
    return (hi * float(_WIDE_B) + lo) / float(f)


def sql_lsum(expr: str, scale: int = 2) -> str:
    f = 10**scale
    return f"(CAST(SUM(CAST(FLOOR(({expr}) * {f} + 0.5) AS BIGINT)) AS DOUBLE) / {f}.0)"


def sql_lavg(expr: str, scale: int = 2) -> str:
    f = 10**scale
    return (
        f"((CAST(SUM(CAST(FLOOR(({expr}) * {f} + 0.5) AS BIGINT)) AS DOUBLE) / {f}.0)"
        f" / COUNT({expr}))"
    )


def sql_lsum_wide(expr: str, scale: int = 6) -> str:
    f = 10**scale
    b = _WIDE_B
    q = f"CAST(FLOOR(({expr}) * {f} + 0.5) AS BIGINT)"
    hi = f"CAST(SUM(CAST(({q} - {q} % {b}) / {b} AS BIGINT)) AS DOUBLE)"
    lo = f"CAST(SUM({q} % {b}) AS DOUBLE)"
    return f"(({hi} * {b}.0 + {lo}) / {f}.0)"


def sql_lstd(expr: str, scale: int = 2, sample: bool = True) -> str:
    f = 10**scale
    b = _WIDE_B
    q = f"CAST(FLOOR(({expr}) * {f} + 0.5) AS BIGINT)"
    n = f"COUNT({expr})"
    sx = f"(CAST(SUM({q}) AS DOUBLE) / {f}.0)"
    q2 = f"({q} * {q})"
    hi = f"CAST(SUM(CAST(({q2} - {q2} % {b}) / {b} AS BIGINT)) AS DOUBLE)"
    lo = f"CAST(SUM({q2} % {b}) AS DOUBLE)"
    sxx = f"(({hi} * {b}.0 + {lo}) / ({f}.0 * {f}.0))"
    den = f"({n} - 1)" if sample else n
    return (
        f"(CASE WHEN {den} > 0 THEN"
        f" sqrt(GREATEST(({sxx} - {sx} * {sx} / {n}) / {den}, 0.0)) END)"
    )


# Oracle-side SQL fragments mirroring dec_avg / dec_std exactly.
def sql_davg(expr: str, scale: int = 12, precision: int = 30) -> str:
    return (
        f"(CAST(SUM(CAST(({expr}) AS DECIMAL({precision},{scale}))) AS DOUBLE)"
        f" / COUNT({expr}))"
    )


def sql_dstd(expr: str, sample: bool = True, scale: int = 12) -> str:
    n = f"COUNT({expr})"
    sx = f"CAST(SUM(CAST(({expr}) AS DECIMAL(30,{scale}))) AS DOUBLE)"
    sxx = f"CAST(SUM(CAST(({expr}) * ({expr}) AS DECIMAL(38,{scale}))) AS DOUBLE)"
    den = f"({n} - 1)" if sample else n
    return (
        f"(CASE WHEN {den} > 0 THEN sqrt(GREATEST(({sxx} - {sx} * {sx} / {n}) / {den}, 0.0)) END)"
    )
