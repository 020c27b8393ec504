"""Aggregation operators (SURVEY.md §2.4).

All exact — the reference computes exact MEDIAN/STDDEV via DuckDB
(e.g. the 5-stat block ``mcp/database/readers/splits_query_builder.py:33-34``),
so every median here is bit-identical to ``percentile(x, 0.5)`` (exact
interpolated), never ``percentile_approx``.  Everything here is
built-in-expression only: map-side partial aggregation and whole-stage
codegen apply, and the single shuffle per groupBy is on the grouping key.

Exact medians have two shapes, and ``five_stat_block``/``profile_columns``
choose between them from their arguments:

- the per-value count scan (``grouped_median``/``histogram_median`` →
  ``_median_over_counts``): any domain, many small groups;
- the fused two-level grid selection (``_five_stat_fused_grid``/
  ``_profile_fused_grid`` → ``_grid_select_median``): fixed-point
  metrics of a bounded domain, given ``fixed_scale`` and per-metric grids.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..harness.registry import _WIDE_B, dec_avg, dec_std


def _median_over_counts(counts: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Turn a per-distinct-value histogram ``(*keys, _v, _cnt)`` into
    one row per key group: ``_median`` (percentile-0.5 semantics,
    two-sided interpolation weights) + ``_n_distinct``.

    The cumulative-count rank scan runs one window partition per key
    group: parallelism comes from the group count, and no partition
    exceeds a group's distinct-value count.
    """
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy("_v")
    tot = Window.partitionBy(*keys)
    r = (F.sum("_cnt").over(tot) - 1) / 2.0
    upto = F.sum("_cnt").over(w)
    below = upto - F.col("_cnt")
    ranked = counts.select(
        *keys, "_v", "_cnt", r.alias("_r"), upto.alias("_upto"), below.alias("_below")
    )
    return _interpolate_ranked(
        ranked, keys, F.count(F.lit(1)).alias("_n_distinct")
    )


def _interpolate_ranked(
    ranked: DataFrame, keys: Sequence[str], *extra: Column
) -> DataFrame:
    """Final step shared by every exact-median shape: given rows
    ``(*keys, _v, _r, _upto, _below)`` covering at least the two
    rank-bracketing values, emit ``(*keys, _median, *extra)`` with
    ``percentile``'s two-sided interpolation weights; ``extra`` are
    further aggregates over the same per-key rows."""
    r, upto, below = F.col("_r"), F.col("_upto"), F.col("_below")
    lo = F.when((below <= F.floor(r)) & (F.floor(r) < upto), F.col("_v"))
    hi = F.when((below <= F.ceil(r)) & (F.ceil(r) < upto), F.col("_v"))
    return (
        ranked.select(
            *keys,
            lo.alias("_lo"),
            hi.alias("_hi"),
            (F.ceil(r) - r).alias("_wlo"),
            (r - F.floor(r)).alias("_whi"),
        )
        .groupBy(*keys)
        .agg(
            # lo == hi must short-circuit: lo*0.5 + hi*0.5 underflows to 0.0
            # when the (single) bracketing value is subnormal (e.g. 5e-324).
            F.when(
                (F.max("_whi") == 0.0) | (F.max("_lo") == F.max("_hi")),
                F.max("_lo"),
            )
            .otherwise(F.max("_lo") * F.max("_wlo") + F.max("_hi") * F.max("_whi"))
            .alias("_median"),
            *extra,
        )
    )


def _pivot_medians(
    per_metric: DataFrame, group_cols: Sequence[str], metrics: Sequence[str]
) -> DataFrame:
    """``(*group_cols, _metric, _median)`` rows → one row per group with
    ``{m}_median`` columns."""
    return per_metric.groupBy(*group_cols).agg(
        *[
            F.max(F.when(F.col("_metric") == m, F.col("_median"))).alias(
                f"{m}_median"
            )
            for m in metrics
        ]
    )


def _grid_select_median(
    coarse: DataFrame, cells: DataFrame, keys: Sequence[str], cnt: Column
) -> DataFrame:
    """Two-level grid rank selection shared by the fused five-stat and
    profile plans, for metrics with a KNOWN bounded value domain: the
    cell count is ``domain_width / grid`` at any row count, so no task
    ever holds more than a cell's values.  ``coarse`` is the cell
    histogram ``(*keys, _cell, _ccnt)``; the 1-2 cells straddling ranks
    ``floor(r)``/``ceil(r)`` are joined back (broadcast — one row per
    key) as a filter on ``cells`` (rows ``(*keys, _cell, _v, ...)``,
    each weighing the ``cnt`` aggregate), whose values get the fine rank
    scan offset by the exact below-cell count.  Returns
    ``(*keys, _median)``."""
    w_cell = Window.partitionBy(*keys).orderBy("_cell")
    w_all = Window.partitionBy(*keys)
    n = F.sum("_ccnt").over(w_all)
    upto_c = F.sum("_ccnt").over(w_cell)
    below_c = upto_c - F.col("_ccnt")
    r = (n - 1) / 2.0
    targets = (
        coarse.select(
            *keys,
            "_cell",
            r.alias("_r"),
            upto_c.alias("_upto_c"),
            below_c.alias("_below_c"),
        )
        .filter(
            (F.col("_below_c") <= F.ceil(F.col("_r")))
            & (F.floor(F.col("_r")) < F.col("_upto_c"))
        )
    )
    # 1-2 adjacent cells per group; collapse to one offset (the earliest
    # cell's exact below-count) so the fine cumsum spans both.
    offsets = targets.groupBy(*keys).agg(
        F.min("_cell").alias("_cell_lo"),
        F.max("_cell").alias("_cell_hi"),
        F.min("_below_c").alias("_nbelow"),
        F.first("_r").alias("_r"),
    )
    fine = (
        cells.join(F.broadcast(offsets), keys)
        .filter((F.col("_cell") >= F.col("_cell_lo")) & (F.col("_cell") <= F.col("_cell_hi")))
        .groupBy(*keys, "_r", "_nbelow", "_v")
        .agg(cnt.alias("_cnt"))
    )
    w_v = Window.partitionBy(*keys).orderBy("_v")
    ranked = fine.select(
        *keys,
        "_v",
        "_r",
        (F.col("_nbelow") + F.sum("_cnt").over(w_v)).alias("_upto"),
        (F.col("_nbelow") + F.sum("_cnt").over(w_v) - F.col("_cnt")).alias("_below"),
    )
    return _interpolate_ranked(ranked, keys)


def grouped_median(
    df: DataFrame,
    group_cols: Sequence[str],
    metrics: Sequence[str],
    weight_col: str | None = None,
) -> DataFrame:
    """Exact per-group median for each metric, distributed: unpivot the
    metrics, count per distinct value, cumulative count per
    ``(group, metric)``, interpolate at rank ``(n-1)/2`` with
    ``percentile``'s two-sided weights (see ``histogram_median``).

    Unlike ``percentile(m, 0.5)``, whose reduce side buffers the whole
    value multiset of a group in ONE task (an OOM for a hot group at
    100 TB), the only shuffled state here is the distinct-value
    histogram, and the heavy lifting is a map-side-combined count.
    Groups where a metric is entirely null get a NULL median (matching
    percentile-over-empty) via the caller's left join.
    Output: one row per group with ``{metric}_median`` columns.

    ``weight_col``: treat each row as ``weight`` identical observations
    (integer multiplicity).  The median of the expanded multiset equals
    the weighted-histogram median, so pre-compacted (value, count)
    frames — sufficient statistics for discrete domains — get exact
    row-level medians without re-expanding.
    """
    stack = ", ".join(f"'{m}', cast({m} as double)" for m in metrics)
    long = df.selectExpr(
        *group_cols,
        *([weight_col] if weight_col else []),
        f"stack({len(metrics)}, {stack}) as (_metric, _v)",
    ).filter(F.col("_v").isNotNull())
    counts = long.groupBy(*group_cols, "_metric", "_v").agg(
        (F.sum(weight_col) if weight_col else F.count(F.lit(1))).alias("_cnt")
    )
    per_metric = _median_over_counts(counts, [*group_cols, "_metric"])
    return _pivot_medians(per_metric, group_cols, metrics)


def _five_stat_fused_grid(
    df: DataFrame,
    group_cols: Sequence[str],
    metrics: Sequence[str],
    count_col: str,
    scale: int,
    grids: "dict[str, float]",
) -> DataFrame:
    """Fused grid-mode five-stat block: ONE stacked scan produces
    per-(group, metric, cell) partials — row count, scaled-long moment
    sums (the ``ls_avg``/``ls_sum_wide`` integers, summed per cell then
    re-summed per group: BIGINT addition is associative, so the totals
    are bit-identical to the per-row pass), min/max, and the coarse
    rank histogram — replacing a separate moments scan + coarse grid
    scan (3 raw passes → 2; the fine pass still re-scans, filtered to
    the 1-2 rank-straddling cells).  Null values land in a NULL cell so
    the group row count stays COUNT(*)-exact while rank selection sees
    only non-null cells.  Measured on a1 at sf0.1: 1.44 → ~1.2 s (the
    remaining cost is the fine re-scan + fixed stage overhead),
    identical values."""
    f = 10**scale
    gcols = list(group_cols)
    stack_v = ", ".join(f"'{m}', cast({m} as double)" for m in metrics)
    long = df.selectExpr(
        *gcols, f"stack({len(metrics)}, {stack_v}) as (_metric, _v)"
    )
    grid_expr = F.lit(None).cast("double")
    for m in metrics:
        grid_expr = F.when(F.col("_metric") == m, F.lit(float(grids[m]))).otherwise(
            grid_expr
        )
    v = F.col("_v")
    q = F.floor(v * f + 0.5)
    q2 = q * q
    part = (
        long.withColumn("_cell", F.floor(v / grid_expr))
        .groupBy(*gcols, "_metric", "_cell")
        .agg(
            F.count(F.lit(1)).alias("_ccnt"),
            F.count(v).alias("_nn"),
            F.sum(q).alias("_sq"),
            F.sum(((q2 - q2 % _WIDE_B) / _WIDE_B).cast("long")).alias("_shi"),
            F.sum(q2 % _WIDE_B).alias("_slo"),
            F.min(v).alias("_vmin"),
            F.max(v).alias("_vmax"),
        )
        # feeds the moments pivot AND the rank selection — checkpoint
        # eagerly so concurrent consumer stages don't both recompute
        # the raw scan (no cross-subtree CSE; cells are bounded)
        .localCheckpoint(eager=True)
    )
    m0 = metrics[0]

    def piv(m: str, col: Column) -> Column:
        return F.when(F.col("_metric") == m, col)

    aggs: list[Column] = [
        F.sum(piv(m0, F.col("_ccnt"))).alias(count_col)
    ]
    for m in metrics:
        nn = F.sum(piv(m, F.col("_nn")))
        sx = F.sum(piv(m, F.col("_sq"))).cast("double") / float(f)
        shi = F.sum(piv(m, F.col("_shi"))).cast("double")
        slo = F.sum(piv(m, F.col("_slo"))).cast("double")
        sxx = (shi * float(_WIDE_B) + slo) / (float(f) * float(f))
        aggs += [
            (sx / nn).alias(f"{m}_avg"),
            F.when(
                nn - 1 > 0,
                F.sqrt(
                    F.greatest((sxx - sx * sx / nn) / (nn - 1), F.lit(0.0))
                ),
            ).alias(f"{m}_stddev"),
            F.min(piv(m, F.col("_vmin"))).alias(f"{m}_min"),
            F.max(piv(m, F.col("_vmax"))).alias(f"{m}_max"),
        ]
    moments = part.groupBy(*gcols).agg(*aggs)

    # rank selection over the SAME partials (only non-null cells
    # carry rank mass)
    keys = [*gcols, "_metric"]
    coarse = part.filter(F.col("_cell").isNotNull()).select(
        *keys, "_cell", F.col("_ccnt")
    )
    cells = long.filter(v.isNotNull()).withColumn("_cell", F.floor(v / grid_expr))
    per_metric = _grid_select_median(coarse, cells, keys, F.count(F.lit(1)))
    medians = _pivot_medians(per_metric, gcols, metrics)
    return _five_stat_columns(moments, medians, gcols, metrics, count_col)


def _five_stat_columns(
    moments: DataFrame,
    medians: DataFrame,
    group_cols: Sequence[str],
    metrics: Sequence[str],
    count_col: str,
) -> DataFrame:
    """Join the per-group medians onto the moments and order the block's
    columns: ``*group_cols, count_col, {m}_{avg,median,stddev,min,max}``."""
    if group_cols:
        joined = moments.join(medians, list(group_cols), "left")
    else:
        joined = moments.crossJoin(medians)
    order = [*group_cols, count_col]
    for m in metrics:
        order += [f"{m}_avg", f"{m}_median", f"{m}_stddev", f"{m}_min", f"{m}_max"]
    return joined.select(*order)


def _use_fused_grid(
    fixed_scale: int | None, grids: "dict[str, float] | None", columns: Sequence[str]
) -> bool:
    """The shape rule shared by ``five_stat_block`` and ``profile_columns``:
    a fixed scale and a grid for every column together select the fused
    grid plan, neither selects DECIMAL moments plus the count-scan
    median."""
    if (fixed_scale is None) != (grids is None):
        raise ValueError("pass fixed_scale and the median grids together, or neither")
    missing = [c for c in columns if c not in (grids or {})]
    if grids is not None and missing:
        raise ValueError(f"no median grid for column(s) {missing}")
    return fixed_scale is not None


def five_stat_block(
    df: DataFrame,
    group_cols: Sequence[str],
    metrics: Sequence[str],
    count_col: str = "n",
    fixed_scale: int | None = None,
    median_grids: "dict[str, float] | None" = None,
) -> DataFrame:
    """AVG/MEDIAN/STDDEV/MIN/MAX per metric per group + row count.

    Reference: the ``statistics_only`` splits tools build exactly this
    block per field group (``splits_query_builder.py:152-173``).
    Output columns: ``{metric}_{avg,median,stddev,min,max}`` + ``n``.

    Two paths, chosen by the arguments:

    - neither ``fixed_scale`` nor ``median_grids`` (the splits tools:
      many small groups): a map-side-combined DECIMAL moments
      aggregation, plus the distributed exact-median histogram
      (``grouped_median``) joined back on the group key — both post-agg
      frames are group-cardinality-sized, so the join is cheap at any
      input scale.  This replaced a per-group ``percentile``: 10.2 s →
      moments-bound at sf0.1, and no single-task value buffers.
    - both (a1: fixed-point metrics of a bounded domain, few groups):
      ``fixed_scale`` is the metrics' decimal scale (moments accumulate
      as scaled longs, same exactness as DECIMAL) and ``median_grids``
      the per-metric cell width of the two-level grid selection; see
      ``_five_stat_fused_grid``.

    Both give medians bit-identical to ``percentile(m, 0.5)``
    (property-tested).  Giving only one of the two, or grids that miss
    a metric, raises ``ValueError``.
    """
    if _use_fused_grid(fixed_scale, median_grids, metrics):
        return _five_stat_fused_grid(
            df, group_cols, metrics, count_col, fixed_scale, median_grids
        )
    aggs: list[Column] = [F.count(F.lit(1)).alias(count_col)]
    for m in metrics:
        c = F.col(m)
        aggs += [
            dec_avg(c).alias(f"{m}_avg"),
            dec_std(c).alias(f"{m}_stddev"),
            F.min(c).alias(f"{m}_min"),
            F.max(c).alias(f"{m}_max"),
        ]
    moments = df.groupBy(*group_cols).agg(*aggs)
    medians = grouped_median(df, group_cols, metrics)
    return _five_stat_columns(moments, medians, group_cols, metrics, count_col)


def time_range_stats(
    df: DataFrame,
    ts_col: str,
    lo,
    hi,
    metrics: Sequence[str],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """AVG/STDDEV/MIN/MAX + COUNT(*) over rows in ``[lo, hi)``.

    Reference: ``mcp/database/readers/time_series.py:19-136`` (SQL :68-80).
    The range predicate is pushed to the scan by Catalyst.
    """
    filtered = df.filter((F.col(ts_col) >= lo) & (F.col(ts_col) < hi))
    aggs: list[Column] = [F.count(F.lit(1)).alias("n")]
    for m in metrics:
        c = F.col(m)
        aggs += [
            dec_avg(c).alias(f"{m}_avg"),
            dec_std(c).alias(f"{m}_stddev"),
            F.min(c).alias(f"{m}_min"),
            F.max(c).alias(f"{m}_max"),
        ]
    grouped = filtered.groupBy(*group_cols) if group_cols else filtered.groupBy()
    return grouped.agg(*aggs)


def conditional_halves(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    metrics: Sequence[str],
) -> DataFrame:
    """First-half vs second-half averages in one pass (pivot-style
    conditional aggregation) + the decoupling ratio between halves.

    Reference: aerobic-durability decoupling computes
    ``avg(CASE WHEN ts < mid THEN hr END)`` for ~10 metric/half pairs in
    a single scan (``mcp/database/readers/durability.py:120-146``), with
    the midpoint from a prior min/max pass (``:66-118``).  Here both
    passes are window-free aggregations; the midpoint join is broadcast.
    """
    bounds = df.groupBy(*group_cols).agg(
        ((F.min(order_col) + F.max(order_col)) / F.lit(2.0)).alias("_mid")
    )
    joined = df.join(F.broadcast(bounds), list(group_cols))
    aggs: list[Column] = []
    for m in metrics:
        first = dec_avg(F.when(F.col(order_col) < F.col("_mid"), F.col(m)))
        second = dec_avg(F.when(F.col(order_col) >= F.col("_mid"), F.col(m)))
        aggs += [
            first.alias(f"{m}_first_half"),
            second.alias(f"{m}_second_half"),
            (second / first - F.lit(1.0)).alias(f"{m}_drift"),
        ]
    return joined.groupBy(*group_cols).agg(*aggs)


def category_distribution(
    df: DataFrame, category_col: str, frac_col: str = "fraction"
) -> DataFrame:
    """COUNT per category normalized to a fraction of the total.

    Reference: training-type distribution
    (``mcp/fitness/fitness_assessor.py:226-244``).  The total comes from
    an unpartitioned window over the (tiny) aggregated frame, not over
    the input — safe at any input scale.
    """
    from pyspark.sql import Window

    from .windows import bounded_partition_key

    counts = df.groupBy(category_col).agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(Window.partitionBy(bounded_partition_key(category_col)))
    return counts.withColumn(frac_col, F.col("n") / total)


def histogram_median(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Exact whole-table median per column, fully distributed: unpivot
    to ``(column_name, value)``, count per distinct value, cumulative
    count ordered by value, then linear interpolation at rank
    ``(n-1)/2`` — bit-identical to ``percentile(c, 0.5)``, which
    interpolates with the two-sided weights
    ``(ceil(r)-r)*lo + (r-floor(r))*hi`` (NOT ``lo + (hi-lo)*frac``;
    the two differ in the last ulp and the driver compares hashes).

    Why not ``percentile``: its final merge pulls every value of a
    column into ONE task's memory (single-group aggregate), a hard OOM
    at large inputs.  Here the only per-task state is the distinct-value
    histogram slice; the rank scan sorts one column's distinct values
    per task.
    Returns ``(column_name, stat_median, stat_n_distinct)``; all-null
    columns produce no row (left-join them back as NULL, = percentile of
    empty set).  The distinct count rides the same frame: distinct
    non-null values = rows of the per-value histogram, replacing a whole
    COUNT(DISTINCT) pass (whose Expand would duplicate the input per
    column).
    """
    stack = ", ".join(f"'{m}', cast({m} as double)" for m in columns)
    long = df.selectExpr(
        f"stack({len(columns)}, {stack}) as (column_name, _v)"
    ).filter(F.col("_v").isNotNull())
    counts = long.groupBy("column_name", "_v").agg(F.count(F.lit(1)).alias("_cnt"))
    return (
        _median_over_counts(counts, ["column_name"])
        .withColumnRenamed("_median", "stat_median")
        .withColumnRenamed("_n_distinct", "stat_n_distinct")
    )


def _profile_fused_grid(
    df: DataFrame,
    columns: Sequence[str],
    grids: "dict[str, float]",
    fixed_scale: int,
) -> DataFrame:
    """Single-scan profiler for fixed-scale bounded-domain columns:
    ONE raw pass builds a per-(column, value) histogram (nulls kept as
    their own row), and every statistic is then algebra over that
    histogram — moments as scaled-long sums weighted by the value
    count (bit-identical to per-row scaled-long sums, since integer
    addition is associative), null rate and row count from the counts,
    exact n_distinct = non-null histogram rows, and the median via the
    two-level grid selection (``_grid_select_median``) with the fine
    pass FILTERING the histogram instead of re-scanning the table.
    This replaced an unfused grid shape (moments scan + coarse scan + fine scan + distinct scan =
    4 raw passes, 3 of them stack-tripled).  Locally the wall barely
    moves (~1.7 → ~1.6 s at sf0.1: the per-value shuffle — the
    exact-distinct cost the profiler already paid — dominates either
    way), but at scan-bound scale the 4×→1× raw-pass cut is the whole
    point.  The rank windows stay bounded at any scale (cells ≤
    domain/grid, fine rows ≤ 2 cells × grid·10^scale)."""
    f = 10**fixed_scale
    stack_v = ", ".join(f"'{m}', cast({m} as double)" for m in columns)
    vhist = (
        df.selectExpr(
            f"stack({len(columns)}, {stack_v}) as (column_name, _v)"
        )
        .groupBy("column_name", "_v")
        .agg(F.count(F.lit(1)).alias("_c"))
        # feeds two consumers (the stats aggregation and the median
        # selection) — no cross-subtree CSE, so checkpoint once.
        # EAGER: with a lazy checkpoint the two consumers' stages run
        # concurrently and BOTH recompute the un-materialized lineage
        # (measured: 1.7 s lazy vs 1.0 s eager at sf0.1)
        .localCheckpoint(eager=True)
    )
    v, c = F.col("_v"), F.col("_c")
    q = F.floor(v * f + 0.5)
    q2 = q * q
    n_nonnull = F.sum(F.when(v.isNotNull(), c))
    sx = F.sum(F.when(v.isNotNull(), q * c)).cast("double") / float(f)
    hi = F.sum(F.when(v.isNotNull(), ((q2 - q2 % _WIDE_B) / _WIDE_B).cast("long") * c)).cast("double")
    lo = F.sum(F.when(v.isNotNull(), (q2 % _WIDE_B) * c)).cast("double")
    sxx = (hi * float(_WIDE_B) + lo) / (float(f) * float(f))
    n_rows = F.sum(c)
    base = vhist.groupBy("column_name").agg(
        n_rows.alias("n_rows"),
        F.min(v).cast("double").alias("stat_min"),
        F.max(v).cast("double").alias("stat_max"),
        (sx / n_nonnull).alias("stat_avg"),
        F.when(
            n_nonnull > 1,
            F.sqrt(
                F.greatest(
                    (sxx - (sx * sx) / n_nonnull) / (n_nonnull - 1),
                    F.lit(0.0),
                )
            ),
        ).alias("stat_stddev"),
        (
            F.coalesce(F.sum(F.when(v.isNull(), c)), F.lit(0)).cast("double")
            / F.sum(c)
        ).alias("stat_null_rate"),
        F.count(F.when(v.isNotNull(), 1)).cast("double").alias("stat_n_distinct"),
    )
    # two-level grid median over the histogram (counts are the same
    # integers as a row scan's, so values are identical)
    grid_expr = F.lit(None).cast("double")
    for m, g in grids.items():
        grid_expr = F.when(F.col("column_name") == m, F.lit(float(g))).otherwise(grid_expr)
    cells = vhist.filter(v.isNotNull()).withColumn(
        "_cell", F.floor(v / grid_expr)
    )
    keys = ["column_name"]
    coarse = cells.groupBy(*keys, "_cell").agg(F.sum(c).alias("_ccnt"))
    med = _grid_select_median(coarse, cells, keys, F.sum("_c")).withColumnRenamed(
        "_median", "stat_median"
    )
    return base.join(F.broadcast(med), keys, "left").select(
        "column_name",
        "n_rows",
        "stat_min",
        "stat_max",
        "stat_avg",
        "stat_median",
        "stat_stddev",
        "stat_null_rate",
        "stat_n_distinct",
    )


def profile_columns(
    df: DataFrame,
    columns: Sequence[str],
    grids: "dict[str, float] | None" = None,
    fixed_scale: int | None = None,
) -> DataFrame:
    """Table profiler: one output row per profiled column with
    count / min / max / avg / median / stddev / null-rate / n-distinct.

    Reference: ``mcp/database/readers/utility.py:18-156`` (stats SQL
    :103-113) profiles the first 10 columns of any table; null rate is
    ``SUM(CASE WHEN c IS NULL ...)/COUNT(*)``.

    Two paths, chosen by the arguments (the rule of ``five_stat_block``):

    - neither ``grids`` nor ``fixed_scale`` (``tools.profile_table``):
      ONE DECIMAL moments pass plus ONE unpivoted per-value histogram
      pass (``histogram_median``) that yields both the exact median and
      the exact distinct count (distinct non-null values = histogram
      rows).  The earlier shapes this replaces, both measured at sf0.1:
      a combined COUNT(DISTINCT)+percentile aggregate (Catalyst Expand
      duplicates the input per distinct column — 3× slower) and a
      separate count-distinct pass (1.26 s of the profiler's 2.4 s).
      The single-group ``percentile`` merge also cannot scale — it
      buffers a whole column in one task; the histogram never holds
      more than a slice per task.
    - both (a9: 2-dp bounded-domain columns): the single-scan fused
      histogram plan, ``_profile_fused_grid``.

    Giving only one of the two, or grids that miss a column, raises
    ``ValueError``.
    """
    if _use_fused_grid(fixed_scale, grids, columns):
        return _profile_fused_grid(df, columns, grids, fixed_scale)
    basic: list[Column] = [F.count(F.lit(1)).alias("_rows")]
    for m in columns:
        c = F.col(m)
        basic += [
            F.min(c).cast("double").alias(f"{m}__min"),
            F.max(c).cast("double").alias(f"{m}__max"),
            dec_avg(c).alias(f"{m}__avg"),
            dec_std(c).alias(f"{m}__stddev"),
            F.avg(c.isNull().cast("double")).alias(f"{m}__null_rate"),
        ]
    stats = ["min", "max", "avg", "stddev", "null_rate"]
    stack_args = ", ".join(
        "'{m}', {cols}".format(
            m=m, cols=", ".join(f"{m}__{s}" for s in stats)
        )
        for m in columns
    )
    unpivoted = df.agg(*basic).selectExpr(
        "_rows as n_rows",
        f"stack({len(columns)}, {stack_args}) as "
        f"(column_name, {', '.join('stat_' + s for s in stats)})",
    )
    hist = histogram_median(df, columns).withColumn(
        "stat_n_distinct", F.col("stat_n_distinct").cast("double")
    )
    return unpivoted.join(hist, "column_name", "left").withColumn(
        # an all-null column has no histogram row: COUNT(DISTINCT) = 0,
        # median stays NULL (percentile of the empty set)
        "stat_n_distinct",
        F.coalesce(F.col("stat_n_distinct"), F.lit(0.0)),
    )


def histogram(
    df: DataFrame,
    value_col: str,
    bins: int = 20,
) -> DataFrame:
    """Equal-width histogram: ``FLOOR((v-min)/width) AS bucket, COUNT(*),
    MIN, MAX`` per bucket, top value clamped into the last bin.

    Reference: ``mcp/database/readers/utility.py:158-322`` (SQL :254-264),
    default 20 bins.  Two aggregation passes; the scalar min/max frame is
    broadcast-cross-joined so the whole plan stays lazy and distributed
    (no driver-side ``collect`` of the bounds).
    """
    bounds = df.agg(
        F.min(value_col).cast("double").alias("_lo"),
        F.max(value_col).cast("double").alias("_hi"),
    )
    width = F.when(
        F.col("_hi") > F.col("_lo"), (F.col("_hi") - F.col("_lo")) / F.lit(float(bins))
    ).otherwise(F.lit(1.0))
    bucket = F.least(
        F.floor((F.col(value_col) - F.col("_lo")) / width),
        F.lit(bins - 1),
    ).cast("int")
    return (
        df.filter(F.col(value_col).isNotNull())
        .crossJoin(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(value_col).alias("bucket_min"),
            F.max(value_col).alias("bucket_max"),
        )
    )


def weighted_median(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    weight_col: str,
    grid: float | None = None,
) -> DataFrame:
    """Exact lower weighted median per group: the smallest value whose
    cumulative weight reaches half the group's total — the robust
    center the plain median family (count-scan and grid medians above)
    can't express when observations carry unequal mass
    (duration-weighted paces, token-weighted quality scores).

    ``weight_col`` must be INTEGER-valued (scale fixed-point weights
    upstream): the `2·cum >= tot` crossing test is then exact integer
    arithmetic, immune to the float-accumulation ulp hazards that make
    double cumulative sums order-dependent (the SCALING.md median
    lessons).

    Shape for 100 TB: collapse duplicate values first (one keyed agg —
    the window input shrinks to distinct (group, value) pairs), then a
    per-GROUP ordered window for the cumulative weight — partitioned
    by the group key, never global — and a min-combine on the crossing
    rows.  Three exchanges, all hashed on the group key.

    ``grid``: for bounded fixed-point value domains, the two-level grid
    shape of ``_grid_select_median`` — a coarse cell histogram finds the half-weight
    crossing CELL (cell-cardinality windows, bounded at any scale),
    and only that cell's values get the fine cumulative scan.  This
    replaces the per-group ordered window over every distinct value
    (a single-task column sort per group when groups are few — the
    exact shape the grid selection exists to avoid).  Identical results for
    non-null values by the same integer arithmetic; the grid path
    requires ``value_col`` non-null (a NULL carries no weight there,
    while the default path's NULLS-FIRST window would count it).

    Output: group cols + (wmedian, n_rows, total_weight).
    """
    keys = list(group_cols)
    if grid is not None:
        vals = df.filter(F.col(value_col).isNotNull()).withColumn(
            "_cell", F.floor(F.col(value_col) / grid)
        )
        cells = (
            vals.groupBy(*keys, "_cell")
            .agg(
                F.sum(weight_col).alias("_cw"),
                F.count(F.lit(1)).alias("_n"),
            )
            # feeds the crossing-cell windows, the fine-pass join and
            # the totals — tiny (≤ domain/grid rows per group), so an
            # eager checkpoint beats three raw-scan re-executions
            .localCheckpoint(eager=True)
        )
        wc = (
            Window.partitionBy(*keys)
            .orderBy("_cell")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wt = Window.partitionBy(*keys)
        cc = cells.select(
            *keys,
            "_cell",
            "_cw",
            F.sum("_cw").over(wc).alias("_cum_c"),
            F.sum("_cw").over(wt).alias("_tot"),
        )
        cross = (
            cc.filter(F.col("_cum_c") * 2 >= F.col("_tot"))
            .groupBy(*keys)
            .agg(F.min("_cell").alias("_xcell"))
        )
        info = (
            cc.join(cross, keys)
            .filter(F.col("_cell") == F.col("_xcell"))
            .select(
                *keys,
                "_xcell",
                (F.col("_cum_c") - F.col("_cw")).alias("_below"),
                "_tot",
            )
        )
        fine = (
            vals.join(info, keys)
            .filter(F.col("_cell") == F.col("_xcell"))
            .groupBy(*keys, "_below", "_tot", value_col)
            .agg(F.sum(weight_col).alias("_w"))
        )
        wv = (
            Window.partitionBy(*keys)
            .orderBy(value_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        med = (
            fine.select(
                *keys,
                F.col(value_col),
                "_tot",
                (F.col("_below") + F.sum("_w").over(wv)).alias("_cum"),
            )
            .filter(F.col("_cum") * 2 >= F.col("_tot"))
            .groupBy(*keys)
            .agg(F.min(value_col).alias("wmedian"))
        )
        totals = cells.groupBy(*keys).agg(
            F.sum("_n").alias("n_rows"),
            F.sum("_cw").alias("total_weight"),
        )
        return med.join(totals, keys)
    per = df.groupBy(*keys, value_col).agg(
        F.sum(weight_col).alias("_w"),
        F.count(F.lit(1)).alias("_n"),
    )
    wcum = (
        Window.partitionBy(*keys)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(*keys)
    c = per.select(
        *keys,
        F.col(value_col),
        F.col("_n"),
        F.sum("_w").over(wcum).alias("_cum"),
        F.sum("_w").over(wtot).alias("_tot"),
    )
    med = (
        c.filter(F.col("_cum") * 2 >= F.col("_tot"))
        .groupBy(*keys)
        .agg(F.min(value_col).alias("wmedian"))
    )
    # totals from the already-collapsed frame — no second input scan
    totals = per.groupBy(*keys).agg(
        F.sum("_n").alias("n_rows"),
        F.sum("_w").alias("total_weight"),
    )
    return med.join(totals, keys)
