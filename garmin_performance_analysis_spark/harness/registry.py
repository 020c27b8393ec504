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
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    doc: str = ""
    tags: tuple = field(default_factory=tuple)


CATALOG: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str] = None, tags: tuple = ()):
    def deco(fn):
        CATALOG[name] = QuerySpec(fn=fn, oracle=oracle, doc=fn.__doc__ or "", tags=tags)
        return fn

    return deco


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
