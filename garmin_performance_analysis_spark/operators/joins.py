"""Join operators (SURVEY.md §2.3), including the as-of/nearest joins the
reference implements in Python.

Spark has no native as-of join; these compose a bounded range join with
a deterministic ``row_number`` tie-break, which Catalyst executes as a
broadcast or sort-merge join + window.  At 100 TB scale the bounded gap
(``max_gap_days``) is what keeps the range join from exploding — it
turns an O(N*M) cross product into a band join, and AQE handles skew.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def nearest_date_asof_join(
    left: DataFrame,
    right: DataFrame,
    left_id_cols: Sequence[str],
    join_keys: Sequence[str],
    left_date: str,
    right_date: str,
    max_gap_days: Optional[int] = 14,
    tie_break_past: bool = True,
    right_tiebreak: Optional[str] = None,
) -> DataFrame:
    """Join each left row to the nearest-dated right row within
    ``±max_gap_days``; ties go to the past side.

    Reference: runs joined to the nearest body-composition weight within
    14 days, tie → earlier measurement
    (``mcp/analysis/running_economy.py:115-196``, tie-break :140-154``);
    with ``max_gap_days=None`` it is the unbounded nearest-covariate
    lookup (J8, per-run nearest VO2max, ``db_reader.py:466-478``).

    Implementation: equi-join on ``join_keys`` + band predicate
    ``abs(datediff) <= max_gap``, then keep the rank-1 row *per left row*
    (``left_id_cols`` must uniquely identify left rows) ordered by
    ``(abs(gap), signed_gap, right_tiebreak)`` — signed ascending puts
    the past side (negative gap) first on ties; ``right_tiebreak``
    makes same-date right duplicates deterministic.

    The bounded gap is what keeps this scalable: it turns an O(N·M)
    cross product into a band join.  The right side is always
    broadcast, so it must be a small dimension (the reference's
    body-composition and VO2max snapshots are); unbounded mode needs
    that anyway, since every left row fans out over every same-key
    right row.
    """
    r = F.broadcast(right)
    gap = F.datediff(F.col(f"r.{right_date}"), F.col(f"l.{left_date}"))
    cond = F.lit(True) if max_gap_days is None else (F.abs(gap) <= max_gap_days)
    for k in join_keys:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    joined = left.alias("l").join(r.alias("r"), cond, "inner")
    order = [F.abs(gap).asc(), gap.asc() if tie_break_past else gap.desc()]
    if right_tiebreak is not None:
        order.append(F.col(f"r.{right_tiebreak}").asc())
    w = Window.partitionBy(*[F.col(f"l.{k}") for k in left_id_cols]).orderBy(*order)
    return (
        joined.withColumn("gap_days", gap)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def backward_asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_on: str,
    right_on: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Classic backward as-of join: for each left row, the latest right
    row with ``right_on <= left_on`` (per key).

    Reference: VO2max fallback lookup — "value for this activity, else
    most recent with date <= activity_date"
    (``mcp/database/readers/physiology.py:170-229``).

    Implementation: union both sides tagged with a side marker, sort by
    (key, time, side) and carry the last right value forward with
    ``last(..., ignorenulls=True)`` — one shuffle on the key, no range
    join, scales linearly.  Right timestamps must be unique per key for
    deterministic results (the last right row at an exactly-equal
    timestamp wins, matching ASOF's inclusive ``<=``).
    """
    lcols = [F.col(k) for k in keys]
    tagged_r = right.select(
        *keys,
        F.col(right_on).alias("_t"),
        F.lit(0).alias("_side"),
        *[F.col(c) for c in value_cols],
        F.lit(None).cast("long").alias("_rowid"),
    )
    left_with_id = left.withColumn(
        "_rowid", F.monotonically_increasing_id()
    )
    tagged_l = left_with_id.select(
        *keys,
        F.col(left_on).alias("_t"),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(c) for c in value_cols],
        F.col("_rowid"),
    )
    unioned = tagged_r.unionByName(tagged_l)
    w = (
        Window.partitionBy(*lcols)
        .orderBy(F.col("_t"), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        *keys,
        F.col("_t"),
        F.col("_side"),
        F.col("_rowid"),
        *[
            F.last(F.col(c), ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in value_cols
        ],
    ).filter(F.col("_side") == 1)
    return left_with_id.join(
        filled.select("_rowid", *[f"asof_{c}" for c in value_cols]),
        "_rowid",
    ).drop("_rowid")


def missing_children_having(
    parent: DataFrame,
    child: DataFrame,
    key: str,
    child_distinct_col: str,
    required_count: int,
) -> DataFrame:
    """Parents with an incomplete child set: LEFT JOIN + GROUP BY +
    ``HAVING COUNT(DISTINCT type) < required`` (anti-join when zero).

    Reference: activities missing any of the 5 section analyses
    (``mcp/database/readers/performance.py:166-181``).
    """
    return (
        parent.alias("p")
        .join(child.alias("c"), F.col(f"p.{key}") == F.col(f"c.{key}"), "left")
        .groupBy(F.col(f"p.{key}").alias(key))
        .agg(
            F.countDistinct(F.col(f"c.{child_distinct_col}")).alias(
                "n_present"
            )
        )
        .filter(F.col("n_present") < required_count)
    )


def cdc_apply(
    base: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    op_col: str = "op",
    delete_op: str = "delete",
) -> DataFrame:
    """Apply a CDC change stream to a base snapshot — the batch MERGE
    (upsert/delete) every lakehouse sync runs.

    Semantics: per key, the LATEST change by ``order_cols`` wins; a
    ``delete`` tombstone removes the key, any other op upserts the
    change row's payload; keys untouched by the stream keep their base
    row.  ``order_cols`` must be a total order within each key (pass a
    unique tiebreak — nondeterministic "latest" is how real CDC
    pipelines corrupt themselves).

    Plan shape for 100 TB: one keyed window over the CHANGES (usually
    ≪ base) to pick each key's latest op, then ONE full-outer hash join
    on the key — no window over the base at all.  With the base
    bucketed on the key the join is shuffle-free on that side; AQE
    handles a skewed change stream.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    payload = [c for c in base.columns if c not in key_cols]
    b = base.select(
        *key_cols, *[F.col(c).alias(f"_b_{c}") for c in payload]
    )
    c = latest.select(
        *key_cols,
        F.col(op_col).alias("_op"),
        *[F.col(p).alias(f"_c_{p}") for p in payload],
    )
    joined = b.join(c, list(key_cols), "full_outer")
    kept = joined.filter(
        F.col("_op").isNull() | (F.col("_op") != delete_op)
    )
    return kept.select(
        *key_cols,
        *[
            F.when(F.col("_op").isNotNull(), F.col(f"_c_{p}"))
            .otherwise(F.col(f"_b_{p}"))
            .alias(p)
            for p in payload
        ],
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """Diff two keyed snapshots of the same table — the inverse of
    :func:`cdc_apply`: derive the change stream (added / removed /
    changed) that turns ``old`` into ``new``.

    Payload columns (everything outside ``key_cols``; both frames must
    agree on them) come back twice, as ``old_<col>`` / ``new_<col>``.
    Unchanged rows are dropped.  Comparison is null-safe (``<=>``), so
    a null payload is a stable value, not a perpetual "change".

    Plan shape for 100 TB: ONE full-outer hash join on the key and an
    in-row null-safe comparison — no window, no groupBy.  With both
    snapshots bucketed on the key (the natural layout for snapshots of
    the same table) the join is shuffle-free; otherwise it is a single
    symmetric exchange.
    """
    payload = [c for c in old.columns if c not in key_cols]
    if [c for c in new.columns if c not in key_cols] != payload:
        raise ValueError("old/new payload columns differ")
    o = old.select(
        *key_cols,
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"old_{c}") for c in payload],
    )
    n = new.select(
        *key_cols,
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"new_{c}") for c in payload],
    )
    j = o.join(n, list(key_cols), "full_outer")
    same = F.lit(True)
    for c in payload:
        same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(~same, F.lit("changed"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .drop("_in_old", "_in_new")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    left_bounds: tuple[str, str],
    right_bounds: tuple[str, str],
    bucket_width: int,
) -> DataFrame:
    """Interval-overlap join: emit one row per (left, right) pair whose
    ``[start, end]`` intervals (inclusive, integer units — epoch
    seconds, day numbers...) overlap, optionally also matching on
    ``key_cols``.

    Plan shape for 100 TB — the reason this exists: a raw range
    predicate (``l.start <= r.end AND r.start <= l.end``) gives
    Catalyst no equi-key, so it plans a broadcast-nested-loop or
    cartesian join: O(N*M) comparisons.  Instead each interval is
    exploded to the fixed-width buckets it spans (in-row ``sequence``,
    no shuffle to build), the join runs as an ordinary HASH equi-join
    on (keys, bucket), and the exact overlap predicate filters within
    the bucket.  A pair sharing k buckets would surface k times; it is
    kept only in the FIRST shared bucket (``bucket ==
    max(floor(l_start/w), floor(r_start/w))``) — exactly-once output
    with pure in-row arithmetic, no distinct/dedup shuffle.

    ``bucket_width`` trades explode factor against bucket selectivity:
    ~ the median interval length is a good default; intervals spanning
    B buckets emit B rows (that linear blowup is the operator's honest
    cost, same as every published bucketed range join).
    """
    lo, hi = left_bounds
    ro, rhi = right_bounds
    w = int(bucket_width)
    if w <= 0:
        raise ValueError("bucket_width must be positive")

    def _bucketed(df, start, end):
        return df.withColumn(
            "_bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col(start) / w), F.floor(F.col(end) / w)
                )
            ),
        )

    lkeys = [*key_cols, "_bucket"]
    lb = _bucketed(left, lo, hi)
    rb = _bucketed(
        right.select(
            *key_cols,
            *[
                F.col(c).alias(f"r_{c}")
                for c in right.columns
                if c not in key_cols
            ],
        ),
        f"r_{ro}",
        f"r_{rhi}",
    )
    joined = lb.join(rb, lkeys, "inner")
    overlap = (F.col(lo) <= F.col(f"r_{rhi}")) & (
        F.col(f"r_{ro}") <= F.col(hi)
    )
    first_shared = F.greatest(
        F.floor(F.col(lo) / w), F.floor(F.col(f"r_{ro}") / w)
    )
    return joined.filter(
        overlap & (F.col("_bucket") == first_shared)
    ).drop("_bucket")


def cdc_apply_versioned(
    base: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    seq_col: str,
    value_cols: Sequence[str],
    op_col: str = "op",
    delete_op: str = "delete",
    tombstone_col: str = "_deleted",
) -> DataFrame:
    """Versioned CDC MERGE with OUT-OF-ORDER protection: the base
    carries each key's applied version ``(ts_col, seq_col)`` and a
    change only lands if it is strictly newer — so re-deliveries and
    late-arriving older changes are rejected instead of clobbering
    fresher state.  This is the property that makes incremental apply
    BATCH-ORDER-INSENSITIVE: applying a change stream in any split of
    ordered batches converges to the same table as one combined apply
    (``cdc_apply`` without the guard does not — an older redelivered
    upsert in a later batch would overwrite a newer value).

    Deletes are retained as TOMBSTONES, not dropped: a delete that
    applies keeps the key's row with ``tombstone_col`` = true, NULL
    payload, and the delete's version.  Dropping the row would lose
    the delete's version, so an OLDER upsert redelivered in a LATER
    batch would find no base row and resurrect the key — the classic
    CDC resurrection bug.  With the tombstone the version guard
    rejects it, and split-batch apply converges to the combined
    apply for every interleaving, deletes included.  Read the live
    view with ``filter(~col(tombstone_col))``.

    ``base`` schema: ``key_cols + value_cols + [ts_col, seq_col]``
    plus optionally ``tombstone_col`` (absent → all rows live, so a
    plain snapshot bootstraps cleanly); ``changes``: keys + payload +
    version + ``op_col``.  Returns the new base WITH ``tombstone_col``.

    Plan shape: one keyed window over the CHANGES only + one
    full-outer hash join on the key, same as ``cdc_apply`` — the
    version guard and tombstone flag are pure row-level expressions,
    no extra shuffle.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col).desc(), F.col(seq_col).desc()
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    payload = list(value_cols) + [ts_col, seq_col]
    base_tomb = (
        F.col(tombstone_col)
        if tombstone_col in base.columns
        else F.lit(False)
    )
    b = base.select(
        *key_cols,
        *[F.col(c).alias(f"_b_{c}") for c in payload],
        base_tomb.alias("_b_tomb"),
    )
    c = latest.select(
        *key_cols,
        F.col(op_col).alias("_op"),
        *[F.col(p).alias(f"_c_{p}") for p in payload],
    )
    joined = b.join(c, list(key_cols), "full_outer")
    newer = F.col(f"_b_{ts_col}").isNull() | (
        (F.col(f"_c_{ts_col}") > F.col(f"_b_{ts_col}"))
        | (
            (F.col(f"_c_{ts_col}") == F.col(f"_b_{ts_col}"))
            & (F.col(f"_c_{seq_col}") > F.col(f"_b_{seq_col}"))
        )
    )
    applies = F.col("_op").isNotNull() & newer
    is_delete = F.col("_op") == delete_op
    val_types = {f.name: f.dataType for f in changes.schema.fields}
    return joined.select(
        *key_cols,
        *[
            F.when(applies & is_delete, F.lit(None).cast(val_types[v]))
            .when(applies, F.col(f"_c_{v}"))
            .otherwise(F.col(f"_b_{v}"))
            .alias(v)
            for v in value_cols
        ],
        *[
            F.when(applies, F.col(f"_c_{p}"))
            .otherwise(F.col(f"_b_{p}"))
            .alias(p)
            for p in (ts_col, seq_col)
        ],
        F.when(applies, is_delete)
        .otherwise(F.coalesce(F.col("_b_tomb"), F.lit(False)))
        .alias(tombstone_col),
    )


def bloom_semi_prune(
    fact: DataFrame,
    keys: DataFrame,
    key_col: str,
    fact_key_col: str | None = None,
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
) -> DataFrame:
    """Bloom-filter join pruning (sideways information passing — the
    runtime-filter technique every 100 TB engine injects): reduce the
    join's build-side KEY SET to a relational Bloom filter (a distinct-
    positions table of ≤ ``m_bits`` rows, the d9 convention) and
    pre-filter the probe side BEFORE its join shuffle.  No false
    negatives (every true match passes), false positives fall out of
    the exact join that follows — the prune is semantically invisible,
    which is exactly what the catalog oracle checks by stating the
    plain join.

    Membership is evaluated as ``k_hashes`` CHAINED BROADCAST SEMI
    JOINS on in-row md5 positions — no explode, no added exchange, so
    the filter composes in front of the real join as a pure pipeline
    stage; the only payload that travels is the bounded positions
    table.  At 100 TB that converts the fact shuffle from |fact| rows
    to ~selectivity·|fact| (+ the FP rate ≈ (1-e^(-kn/m))^k).

    Returns ``fact`` filtered to rows whose key hits all positions.
    """
    if k_hashes > 4:
        raise ValueError("bloom_semi_prune supports k <= 4 seeded hashes")
    if m_bits < 1:
        # `% m_bits` with a non-positive modulus yields NULL (non-ANSI
        # mode), so every semi join would miss and the fact would be
        # silently pruned to empty — a false-negative result that
        # violates the documented no-FN invariant.  Fail loudly instead.
        raise ValueError(f"bloom_semi_prune requires m_bits >= 1, got {m_bits}")
    fact_key_col = fact_key_col or key_col

    # Seeded xxhash64 positions: the positions never face a SQL oracle
    # (the catalog entry's oracle states the PLAIN join — the prune is
    # semantically invisible), so cross-engine md5 portability buys
    # nothing here and its string+conv kernel cost is the whole
    # big-side scan (measured at sf0.1: md5 + 3×conv 0.99 s vs
    # 3×xxhash64 0.14 s over the 600k-row fact — conv's hex→decimal
    # parse alone was ~0.2 s per position).  xxhash64 is JVM-native
    # whole-stage-codegen arithmetic; the seed literal makes the k
    # hashes independent, and build/probe use the identical expression
    # so the no-false-negative invariant is unchanged.
    def _pos(col, j):
        return F.pmod(F.xxhash64(F.lit(j), col), F.lit(m_bits))

    pos_tables = []
    for j in range(k_hashes):
        # no distinct: a semi join ignores duplicate positions, and
        # skipping it keeps the build side exchange-free (the dedup
        # would cost one shuffle per hash row for zero semantic gain)
        pos_tables.append(
            keys.select(_pos(F.col(key_col), j).alias(f"_bp{j}"))
        )
        fact = fact.withColumn(f"_fp{j}", _pos(F.col(fact_key_col), j))
    for j, pt in enumerate(pos_tables):
        fact = fact.join(
            F.broadcast(pt),
            fact[f"_fp{j}"] == pt[f"_bp{j}"],
            "left_semi",
        )
    return fact.drop(*[f"_fp{j}" for j in range(k_hashes)])
