"""Unit tests for operator semantics on small constructed frames —
the edge cases SURVEY.md §7 flags as risky (as-of tie-breaks,
gaps-and-islands off-by-ones, downsample endpoints)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from garmin_performance_analysis_spark.operators.joins import (
    backward_asof_join,
    nearest_date_asof_join,
)
from garmin_performance_analysis_spark.operators.regression import (
    linregress_by_group,
    linregress_scipy_by_group,
)
from garmin_performance_analysis_spark.operators.windows import (
    downsample,
    gaps_and_islands,
    sustained_islands,
)


def d(s: str) -> datetime.date:
    return datetime.date.fromisoformat(s)


def test_asof_tie_goes_to_past_side(spark):
    left = spark.createDataFrame(
        [(1, 10, d("2024-01-10"))], "id long, key long, ld date"
    )
    right = spark.createDataFrame(
        [(10, d("2024-01-08"), 100.0), (10, d("2024-01-12"), 200.0)],
        "key long, rd date, v double",
    )
    out = nearest_date_asof_join(
        left, right, ["id"], ["key"], "ld", "rd", max_gap_days=14,
        tie_break_past=True, right_tiebreak="v",
    ).collect()
    assert len(out) == 1
    assert out[0]["v"] == 100.0  # -2 gap beats +2 gap on the tie
    assert out[0]["gap_days"] == -2


def test_asof_respects_max_gap(spark):
    left = spark.createDataFrame([(1, 10, d("2024-01-10"))], "id long, key long, ld date")
    right = spark.createDataFrame(
        [(10, d("2023-12-01"), 1.0)], "key long, rd date, v double"
    )
    out = nearest_date_asof_join(
        left, right, ["id"], ["key"], "ld", "rd", max_gap_days=14
    )
    assert out.count() == 0


def test_asof_each_left_row_matched_even_on_same_date(spark):
    # two left rows share (key, date): both must survive (regression
    # test for per-left-row rank partitioning)
    left = spark.createDataFrame(
        [(1, 10, d("2024-01-10")), (2, 10, d("2024-01-10"))],
        "id long, key long, ld date",
    )
    right = spark.createDataFrame(
        [(10, d("2024-01-09"), 5.0)], "key long, rd date, v double"
    )
    out = nearest_date_asof_join(
        left, right, ["id"], ["key"], "ld", "rd", max_gap_days=14
    )
    assert out.count() == 2


def test_backward_asof_null_when_no_prior(spark):
    left = spark.createDataFrame(
        [(1, 10, d("2024-01-05")), (2, 10, d("2024-01-20"))],
        "id long, key long, t date",
    )
    right = spark.createDataFrame(
        [(10, d("2024-01-10"), 7.0)], "key long, t date, rv double"
    )
    rows = {
        r["id"]: r["asof_rv"]
        for r in backward_asof_join(
            left, right, ["key"], "t", "t", ["rv"]
        ).collect()
    }
    assert rows[1] is None  # no right row at or before Jan 5
    assert rows[2] == 7.0


def test_backward_asof_inclusive_equal_timestamp(spark):
    left = spark.createDataFrame([(1, 10, d("2024-01-10"))], "id long, key long, t date")
    right = spark.createDataFrame([(10, d("2024-01-10"), 3.0)], "key long, t date, rv double")
    out = backward_asof_join(left, right, ["key"], "t", "t", ["rv"]).collect()
    assert out[0]["asof_rv"] == 3.0


def test_gaps_and_islands_adjacency(spark):
    df = spark.createDataFrame(
        [(1, t) for t in [1, 2, 3, 6, 7, 20]], "k long, t long"
    )
    out = gaps_and_islands(df, ["k"], "t", max_gap=2).collect()
    islands = {}
    for r in out:
        islands.setdefault(r["island_id"], []).append(r["t"])
    # gap 3->6 is 3 (>2) splits; 7->20 splits
    assert sorted(map(sorted, islands.values())) == [[1, 2, 3], [6, 7], [20]]


def test_sustained_islands_span_semantics(spark):
    # span = last - first + 1, matching the reference's inclusive count
    df = spark.createDataFrame(
        [(1, t) for t in [1, 3, 5, 100]], "k long, t long"
    )
    out = sustained_islands(df, ["k"], "t", max_gap=2, min_span=5).collect()
    assert len(out) == 1
    assert (out[0]["island_start"], out[0]["island_end"], out[0]["island_rows"]) == (1, 5, 3)


def test_downsample_keeps_first_and_last(spark):
    df = spark.createDataFrame([(1, i) for i in range(100)], "k long, t long")
    kept = sorted(r["t"] for r in downsample(df, ["k"], "t", 10).collect())
    assert kept[0] == 0 and kept[-1] == 99
    assert len(kept) <= 12


def test_closed_form_matches_scipy(spark):
    import pytest

    pytest.importorskip("scipy")
    rows = [(1, float(i), 2.5 * i + 1.0 + (0.1 if i % 2 else -0.1)) for i in range(20)]
    df = spark.createDataFrame(rows, "g long, x double, y double")
    closed = linregress_by_group(df, ["g"], "x", "y").collect()[0]
    scipy_r = linregress_scipy_by_group(df, ["g"], "x", "y").collect()[0]
    assert abs(closed["slope"] - scipy_r["slope"]) < 1e-9
    assert abs(closed["intercept"] - scipy_r["intercept"]) < 1e-9
    assert abs(closed["r2"] - scipy_r["r2"]) < 1e-9
    assert scipy_r["p_value"] < 0.05


def test_global_prefix_sum_matches_single_window(spark):
    """The distributed two-phase prefix sum must equal the naive
    unpartitioned running sum for every row, regardless of where the
    range boundaries land (forced multi-partition)."""
    from pyspark.sql import Window

    from garmin_performance_analysis_spark.operators.windows import global_prefix_sum

    rows = [(i, (i * 37) % 11 + 1) for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(16)
    got = {
        r["k"]: r["cum_sum"]
        for r in global_prefix_sum(df, "k", "v", num_partitions=8).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        r["k"]: r["c"]
        for r in df.withColumn("c", F.sum("v").over(w)).collect()
    }
    assert got == want
    # the BIG side is the (lazily checkpointed) range-partitioned
    # frame or an explicit range exchange — not the naive global
    # window.  (A SinglePartition exchange IS present, but only under
    # the per-partition-totals offsets window — #partitions rows.)
    plan = (
        global_prefix_sum(df, "k", "v", num_partitions=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .lower()
    )
    assert "rangepartitioning" in plan or "existingrdd" in plan


def test_global_prefix_sum_survives_disabled_exchange_reuse(spark):
    """The pid stamp feeds two plan branches; without the checkpoint
    pin, separately-sampled range exchanges can disagree on boundaries
    when exchange reuse is off and silently corrupt the sums (review
    finding).  The fix must hold with reuse disabled."""
    from pyspark.sql import Window

    from garmin_performance_analysis_spark.operators.windows import global_prefix_sum

    rows = [(i, (i * 13) % 7 + 1) for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(16)
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {r["k"]: r["c"] for r in df.withColumn("c", F.sum("v").over(w)).collect()}
    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        got = {
            r["k"]: r["cum_sum"]
            for r in global_prefix_sum(df, "k", "v", num_partitions=8).collect()
        }
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)
    assert got == want


def test_event_sessions_match_python_mirror(spark):
    """t9 sessionization vs a from-scratch Python mirror on random gap
    layouts, including exact-1800 boundaries and duplicate timestamps
    (distinct event_ids) that stress the deterministic tie-break."""
    import datetime as dt
    import random

    from garmin_performance_analysis_spark.harness.catalog import CATALOG  # noqa: F401
    from garmin_performance_analysis_spark.harness.q_ts import t9_event_sessions  # noqa: F401

    rng = random.Random(42)
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    truth = {}  # (user, seq) -> [n, start_sec, end_sec, total]
    for user in range(40):
        t = rng.randrange(0, 86400)
        seq = 0
        prev = None
        for _ in range(rng.randrange(1, 25)):
            gap = rng.choice([0, 1, 600, 1799, 1800, 1801, 3600, 90000])
            t = t + (gap if prev is not None else 0)
            if prev is None or t - prev > 1800:
                seq += 1
            prev = t
            val = rng.randrange(0, 10000) / 100.0  # exact 2dp
            rows.append((eid, base + dt.timedelta(seconds=t), user, "e", val))
            key = (user, seq)
            if key not in truth:
                truth[key] = [0, t, t, 0.0]
            truth[key][0] += 1
            truth[key][2] = t
            truth[key][3] += val
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    # drive the operator body directly on the synthetic frame: replicate
    # the catalog fn's plan without the parquet loader
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    marked = df.withColumn(
        "session_seq",
        F.sum(F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    got = {
        (r["user_id"], r["session_seq"]): (
            r["n"],
            r["dur"],
            round(r["tv"], 6),
        )
        for r in marked.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.max(epoch) - F.min(epoch)).alias("dur"),
            F.sum(F.col("value").cast("decimal(30,12)")).cast("double").alias("tv"),
        )
        .collect()
    }
    want = {
        k: (v[0], v[2] - v[1], round(v[3], 6)) for k, v in truth.items()
    }
    assert got == want


def test_event_sessions_match_builtin_session_window(spark):
    """Cross-validate the manual LAG+cumsum sessionization against
    Spark's native ``session_window`` (which Structured Streaming
    would use): both merge an event into the open session iff its gap
    is <= the timeout — INCLUDING the exact-1800 boundary — so the
    per-session (n_events, start, end) sets must be identical."""
    import datetime as dt
    import random

    from pyspark.sql import Window

    rng = random.Random(7)
    base = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for user in range(25):
        t = rng.randrange(0, 86400)
        for _ in range(rng.randrange(1, 20)):
            t += rng.choice([0, 5, 1799, 1800, 1801, 7200])
            rows.append((eid, base + dt.timedelta(seconds=t), user))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    manual = (
        df.withColumn(
            "seq",
            F.sum(F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "seq")
        .agg(F.count(F.lit(1)).alias("n"), F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    builtin = df.groupBy("user_id", F.session_window("ts", "30 minutes")).agg(
        F.count(F.lit(1)).alias("n"), F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    m = {(r["user_id"], r["s"]): (r["n"], r["e"]) for r in manual.collect()}
    b = {(r["user_id"], r["s"]): (r["n"], r["e"]) for r in builtin.collect()}
    assert m == b


def test_approx_profiler_tracks_exact(spark):
    """a9b's sketches must land within their documented error bands of
    the exact profile at sf0.01: HLL distinct counts within 5% (1% rsd
    config), sketch median inside the exact p45–p55 band (both reduced
    to verdict columns since the r7 oracle upgrade), and the exact
    stats (count/min/max) identical to the exact a9 profiler."""
    import pyspark.sql.functions as F

    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    exact = {r["column_name"]: r for r in CATALOG["a9_profile_table"].fn(spark, sf).collect()}
    approx = {r["column_name"]: r for r in CATALOG["a9b_profile_approx"].fn(spark, sf).collect()}
    assert set(exact) == set(approx)
    for col in exact:
        e, a = exact[col], approx[col]
        assert a["n_rows"] == e["n_rows"]
        assert a["stat_min"] == e["stat_min"] and a["stat_max"] == e["stat_max"]
        assert a["distinct_within_5pct"] == 1, col
        assert a["median_within_p45_p55"] == 1, col
    # pin the RAW sketch error too (the verdict columns summarize it):
    li = load_table(spark, sf, "lineitem")
    raw = li.select(
        F.approx_count_distinct("l_extendedprice", 0.01).alias("acd"),
        F.count_distinct("l_extendedprice").alias("cd"),
    ).collect()[0]
    assert abs(raw["acd"] - raw["cd"]) <= 0.05 * raw["cd"]


def test_cdc_apply_upsert_delete_untouched(spark):
    from garmin_performance_analysis_spark.operators.joins import cdc_apply

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    )
    changes = spark.createDataFrame(
        [
            (1, 1, "upsert", 11.0),   # stale update...
            (1, 2, "upsert", 12.0),   # ...superseded by this one
            (2, 3, "delete", None),   # tombstone
            (4, 4, "upsert", 40.0),   # brand-new key
            (5, 5, "delete", None),   # tombstone for a key never seen
        ],
        "k long, seq long, op string, v double",
    )
    out = {r["k"]: r["v"] for r in cdc_apply(
        base, changes, ["k"], ["seq"]).collect()}
    assert out == {1: 12.0, 3: 30.0, 4: 40.0}


def test_cdc_apply_delete_then_reinsert_latest_wins(spark):
    from garmin_performance_analysis_spark.operators.joins import cdc_apply

    base = spark.createDataFrame([(1, 1.0)], "k long, v double")
    changes = spark.createDataFrame(
        [(1, 1, "delete", None), (1, 2, "upsert", 9.0)],
        "k long, seq long, op string, v double",
    )
    out = cdc_apply(base, changes, ["k"], ["seq"]).collect()
    assert [(r["k"], r["v"]) for r in out] == [(1, 9.0)]


def test_scd2_intervals_suppresses_unchanged_redelivery(spark):
    from garmin_performance_analysis_spark.operators.windows import (
        scd2_intervals,
    )

    df = spark.createDataFrame(
        [
            (1, 10, "a"), (1, 20, "a"),   # redelivered unchanged -> 1 version
            (1, 30, "b"),                  # change -> version 2
            (1, 40, "a"),                  # back to a -> version 3 (not merged)
            (2, 10, "x"),
        ],
        "k long, t long, v string",
    )
    rows = scd2_intervals(df, ["k"], "t", ["v"]).collect()
    k1 = sorted(
        [r for r in rows if r["k"] == 1], key=lambda r: r["version"]
    )
    assert [(r["version"], r["v"], r["valid_from"], r["valid_to"])
            for r in k1] == [(1, "a", 10, 30), (2, "b", 30, 40), (3, "a", 40, None)]
    k2 = [r for r in rows if r["k"] == 2]
    assert len(k2) == 1 and k2[0]["valid_to"] is None


def test_scd2_intervals_null_payload_is_stable(spark):
    from garmin_performance_analysis_spark.operators.windows import (
        scd2_intervals,
    )

    df = spark.createDataFrame(
        [(1, 1, None), (1, 2, None), (1, 3, "a")], "k long, t long, v string"
    )
    rows = sorted(
        scd2_intervals(df, ["k"], "t", ["v"]).collect(),
        key=lambda r: r["version"],
    )
    # two null deliveries collapse into ONE version (null-safe compare)
    assert [(r["version"], r["v"]) for r in rows] == [(1, None), (2, "a")]


def test_gap_fill_ffill_fills_and_flags(spark):
    import datetime

    from garmin_performance_analysis_spark.operators.windows import (
        gap_fill_ffill,
    )

    d = datetime.date
    df = spark.createDataFrame(
        [
            (1, d(2024, 1, 1), 1.0),
            (1, d(2024, 1, 4), 4.0),   # 2-day gap
            (2, d(2024, 2, 1), 9.0),   # single-day key: no gap rows
        ],
        "k long, day date, v double",
    )
    rows = gap_fill_ffill(df, ["k"], "day", ["v"]).collect()
    k1 = sorted([r for r in rows if r["k"] == 1], key=lambda r: r["day"])
    assert [(str(r["day"]), r["v"], r["is_observed"]) for r in k1] == [
        ("2024-01-01", 1.0, True),
        ("2024-01-02", 1.0, False),
        ("2024-01-03", 1.0, False),
        ("2024-01-04", 4.0, True),
    ]
    assert len([r for r in rows if r["k"] == 2]) == 1


def test_snapshot_diff_change_types(spark):
    from garmin_performance_analysis_spark.operators.joins import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, None), (4, 4.0)], "k long, v double"
    )
    new = spark.createDataFrame(
        [(1, 1.0), (2, 9.0), (3, None), (5, 5.0)], "k long, v double"
    )
    rows = {r["k"]: r for r in snapshot_diff(old, new, ["k"]).collect()}
    # k=1 unchanged, k=3 unchanged (null <=> null) -> both absent
    assert set(rows) == {2, 4, 5}
    assert rows[2]["change_type"] == "changed"
    assert (rows[2]["old_v"], rows[2]["new_v"]) == (2.0, 9.0)
    assert rows[4]["change_type"] == "removed" and rows[4]["new_v"] is None
    assert rows[5]["change_type"] == "added" and rows[5]["old_v"] is None


def test_interval_overlap_join_exact_pairs_once(spark):
    from garmin_performance_analysis_spark.operators.joins import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        [
            (1, 0, 25),    # spans buckets 0-2 (width 10)
            (2, 40, 45),
            (3, 100, 100),
        ],
        "lid long, s long, e long",
    )
    right = spark.createDataFrame(
        [
            (10, 5, 30),    # overlaps lid=1 across 3 shared buckets
            (20, 45, 50),   # touches lid=2 at a single point
            (30, 60, 70),   # overlaps nothing
        ],
        "rid long, s long, e long",
    )
    out = interval_overlap_join(
        left, right, [], ("s", "e"), ("s", "e"), bucket_width=10
    )
    pairs = sorted((r["lid"], r["r_rid"]) for r in out.collect())
    # multi-bucket pair (1,10) must appear exactly ONCE
    assert pairs == [(1, 10), (2, 20)]


def test_interval_overlap_join_with_keys(spark):
    from garmin_performance_analysis_spark.operators.joins import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        [("a", 0, 10), ("b", 0, 10)], "k string, s long, e long"
    )
    right = spark.createDataFrame(
        [("a", 5, 15)], "k string, s long, e long"
    )
    out = interval_overlap_join(
        left, right, ["k"], ("s", "e"), ("s", "e"), bucket_width=100
    ).collect()
    # same time range but key 'b' must not match key 'a'
    assert len(out) == 1 and out[0]["k"] == "a"


def test_time_weighted_avg_hand_computed(spark):
    import datetime

    from garmin_performance_analysis_spark.operators.windows import (
        time_weighted_avg,
    )

    t = lambda s: datetime.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    df = spark.createDataFrame(
        [
            (1, t(0), 10.0),   # holds 10s
            (1, t(10), 20.0),  # holds 30s
            (1, t(40), 99.0),  # last: no weight
            (2, t(0), 7.0),    # single obs: dropped (zero span)
        ],
        "k long, ts timestamp, v double",
    )
    rows = time_weighted_avg(df, ["k"], "ts", "v").collect()
    assert len(rows) == 1
    r = rows[0]
    # (10*10 + 20*30) / 40 = 700/40 = 17.5  (naive avg would be 43.0)
    assert (r["k"], r["twa"], r["span_sec"], r["n_obs"]) == (1, 17.5, 40, 3)


def test_top_p_select_boundary_row(spark):
    from garmin_performance_analysis_spark.pipelines.prep import top_p_select

    df = spark.createDataFrame(
        [("g", 1, 50), ("g", 2, 30), ("g", 3, 20)],
        "grp string, id long, score long",
    )
    # p=0.5: row 1 (cum_before=0 < 50) kept; row 2 (cum_before=50,
    # 50*1e6 == 500000*100 -> strict < fails) excluded.
    kept = top_p_select(df, ["grp"], "score", "id", p_ppm=500_000).collect()
    assert [(r["id"], r["cum_score"]) for r in kept] == [(1, 50)]
    # p just above the boundary pulls in the crossing row
    kept2 = top_p_select(df, ["grp"], "score", "id", p_ppm=500_001).collect()
    assert sorted(r["id"] for r in kept2) == [1, 2]


def test_sessionize_subsecond_gap_precision(spark):
    """A gap of gap_sec + 0.9s must split the session even though its
    whole-second floor equals gap_sec (microsecond-precision gaps);
    a gap of exactly gap_sec must NOT split (strict >)."""
    from datetime import datetime, timedelta

    from garmin_performance_analysis_spark.operators.funnels import sessionize

    t0 = datetime(2024, 1, 1)
    rows = [
        (1, 1, t0),
        (1, 2, t0 + timedelta(seconds=1800, microseconds=900_000)),  # split
        (1, 3, t0 + timedelta(seconds=3600, microseconds=900_000)),  # exact gap: no split
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    out = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(df, ["user_id"], "ts", "event_id", gap_sec=1800).collect()
    }
    assert out == {1: 1, 2: 2, 3: 2}


def test_ordered_funnel_respects_order_and_strict_after(spark):
    """A click BEFORE the first view must not match stage 1, and a
    stage event at EXACTLY the prior stage's timestamp is excluded
    (strictly-after semantics)."""
    from datetime import datetime

    from garmin_performance_analysis_spark.operators.funnels import ordered_funnel

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # key 1: click at t1 precedes view at t2 -> depth stalls at view
        (1, t(1), "click"),
        (1, t(2), "view"),
        # key 2: purchase ties click's ts exactly -> excluded
        (2, t(1), "view"),
        (2, t(3), "click"),
        (2, t(3), "purchase"),
        # key 3: full ordered conversion
        (3, t(1), "view"),
        (3, t(2), "click"),
        (3, t(5), "purchase"),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, et string")
    out = ordered_funnel(df, ["k"], "ts", "et", ["view", "click", "purchase"])
    got = {
        r["k"]: (r["stage0_ts"], r["stage1_ts"], r["stage2_ts"])
        for r in out.groupBy("k")
        .agg(
            F.min("stage0_ts").alias("stage0_ts"),
            F.min("stage1_ts").alias("stage1_ts"),
            F.min("stage2_ts").alias("stage2_ts"),
        )
        .collect()
    }
    assert got[1] == (t(2), None, None)
    assert got[2] == (t(1), t(3), None)
    assert got[3] == (t(1), t(2), t(5))


def test_retention_cohorts_offsets_and_sizes(spark):
    """Two users in the same Monday-truncated cohort week, one active
    two weeks later; a third user founds a later cohort."""
    from datetime import datetime

    from garmin_performance_analysis_spark.operators.funnels import (
        retention_cohorts,
    )

    rows = [
        (1, datetime(2024, 1, 2)),   # cohort week of Mon 2024-01-01
        (2, datetime(2024, 1, 4)),
        (1, datetime(2024, 1, 16)),  # +2 weeks
        (3, datetime(2024, 1, 9)),   # cohort week of Mon 2024-01-08
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["cohort_period"].date().isoformat(), r["period_offset"]): (
            r["active_users"],
            r["cohort_size"],
            r["retention_rate"],
        )
        for r in retention_cohorts(df, "user_id", "ts").collect()
    }
    assert got[("2024-01-01", 0)] == (2, 2, 1.0)
    assert got[("2024-01-01", 2)] == (1, 2, 0.5)
    assert got[("2024-01-08", 0)] == (1, 1, 1.0)
    assert len(got) == 3


def test_ewma_closed_form_matches_recursion(spark):
    """w12's closed form 0.5^i·(x0 + Σ 2^(j-1)·xj) must equal the
    textbook recursion y_i = (x_i + y_{i-1})/2 exactly (power-of-two
    scalings are lossless in binary floating point)."""
    import math

    import duckdb

    from garmin_performance_analysis_spark.harness.catalog import CATALOG

    sf = "/root/testdata/sf0.001"
    got = {
        (r["user_id"], r["day"]): r["ewma"]
        for r in CATALOG["w12_ewma_halflife"].fn(spark, sf).collect()
    }
    # UNQUANTIZED daily means via the identical DECIMAL formula (the
    # operator's outputs are floor-quantized, so the recursion must run
    # on the raw series)
    raw = duckdb.sql(
        f"""
        SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*)
                 AS dv
        FROM '{sf}/events.parquet' GROUP BY 1, CAST(ts AS DATE)
        ORDER BY user_id, day
        """
    ).fetchall()
    checked, y, prev_user = 0, None, None
    for user, day, x in raw:
        y = x if user != prev_user else (x + y) / 2.0
        prev_user = user
        assert got[(user, day)] == math.floor(y * 1e6 + 0.5) / 1e6
        checked += 1
    assert checked > 100


def test_ewma_blocked_matches_recursion_and_survives_long_series(spark):
    """w15's block-carry EWMA re-associates the same dyadic-scaled sum
    as the textbook recursion y_i = (x_i + y_{i-1})/2, so it agrees to
    rounding (not bitwise — different addition order), and — the point
    of the operator — it stays FINITE and correct on a 1100-day series
    where w12's closed form overflows 2^(i-1) to inf.  1100 days at
    block=8 is 138 blocks, past the 135-block zero-contribution band,
    so the exact-+0.0 drop path is exercised too."""
    import math
    from datetime import date, timedelta

    from garmin_performance_analysis_spark.operators.windows import (
        ewma_halflife_blocked,
    )

    n = 1100
    xs = [100.0 + 50.0 * math.sin(0.37 * d) + (d % 7) for d in range(n)]
    rows = [(1, date(2020, 1, 1) + timedelta(days=d), xs[d]) for d in range(n)]
    df = spark.createDataFrame(rows, "user_id long, day date, v double")
    got = {
        r["day"].isoformat(): r["ewma"]
        for r in ewma_halflife_blocked(df, ["user_id"], "day", "v", block=8).collect()
    }
    assert len(got) == n
    y = None
    for d in range(n):
        y = xs[d] if y is None else (xs[d] + y) / 2.0
        day = (date(2020, 1, 1) + timedelta(days=d)).isoformat()
        assert math.isfinite(got[day])
        assert abs(got[day] - y) <= 1e-9 * max(1.0, abs(y)), (d, got[day], y)


def test_containment_pairs_on_constructed_docs(spark):
    """A short doc fully pasted inside a long one: containment = 1.0
    even though Jaccard is far below any useful threshold."""
    from garmin_performance_analysis_spark.pipelines.dedup import (
        ngram_containment_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    filler = " ".join(f"word{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, short),
            (2, filler + " " + short),     # contains doc 1 verbatim
            (3, "zeta eta theta iota kappa unrelated text entirely"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in ngram_containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.6, max_shingle_freq=None
        ).collect()
    }
    assert out == {(1, 2): 1.0}
    # sanity: Jaccard for the same pair is small (3 shared / 63 union)
    from garmin_performance_analysis_spark.pipelines.dedup import (
        ngram_jaccard_pairs,
    )

    j = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.0).collect()
    jmap = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in j}
    assert jmap[(1, 2)] < 0.1


def test_cdc_versioned_rejects_out_of_order_redelivery(spark):
    """The version guard must reject an older redelivered upsert (the
    clobber an unversioned apply would commit) and equal-version
    redeliveries (idempotency), while a genuinely newer change lands;
    a newer tombstone deletes."""
    from garmin_performance_analysis_spark.operators.joins import (
        cdc_apply_versioned,
    )

    base = spark.createDataFrame(
        [(1, 100.0, 10, 7), (2, 200.0, 10, 8), (3, 300.0, 10, 9)],
        "k long, v double, ts long, seq long",
    )
    changes = spark.createDataFrame(
        [
            (1, 50.0, 5, 3, "upsert"),    # OLDER: must be rejected
            (2, 200.0, 10, 8, "upsert"),  # equal version: rejected (idempotent)
            (3, 333.0, 11, 1, "upsert"),  # newer: lands
            (4, 400.0, 12, 2, "upsert"),  # new key: inserted
            (2, 0.0, 9, 99, "delete"),    # OLDER tombstone: rejected
        ],
        "k long, v double, ts long, seq long, op string",
    )
    rows = cdc_apply_versioned(
        base, changes, ["k"], "ts", "seq", ["v"]
    ).collect()
    out = {
        r["k"]: (r["v"], r["ts"], r["seq"])
        for r in rows
        if not r["_deleted"]
    }
    assert out == {
        1: (100.0, 10, 7),   # old redelivery rejected
        2: (200.0, 10, 8),   # equal-version + older tombstone rejected
        3: (333.0, 11, 1),   # newer upsert landed
        4: (400.0, 12, 2),   # insert
    }
    assert not any(r["_deleted"] for r in rows)  # no delete applied
    # a NEWER tombstone deletes: the key stays as a tombstone row
    # carrying the DELETE's version, with NULL payload
    tomb = spark.createDataFrame(
        [(1, 0.0, 20, 1, "delete")], "k long, v double, ts long, seq long, op string"
    )
    rows2 = cdc_apply_versioned(
        base, tomb, ["k"], "ts", "seq", ["v"]
    ).collect()
    assert sorted(r["k"] for r in rows2 if not r["_deleted"]) == [2, 3]
    dead = {r["k"]: r for r in rows2 if r["_deleted"]}
    assert set(dead) == {1}
    assert dead[1]["v"] is None
    assert (dead[1]["ts"], dead[1]["seq"]) == (20, 1)


def test_cdc_versioned_tombstone_blocks_resurrection(spark):
    """Upsert-after-delete redelivery: an upsert OLDER than an applied
    delete arrives alone in a LATER batch.  Without a retained
    tombstone it would find no base row and resurrect the key; the
    tombstone's version must reject it, so split-batch apply converges
    to the combined apply."""
    from garmin_performance_analysis_spark.operators.joins import (
        cdc_apply_versioned,
    )

    base = spark.createDataFrame(
        [(1, 100.0, 1, 0)], "k long, v double, ts long, seq long"
    )
    up = (1, 150.0, 5, 0, "upsert")
    dele = (1, None, 9, 0, "delete")
    sch = "k long, v double, ts long, seq long, op string"
    batch1 = spark.createDataFrame([up, dele], sch)
    batch2 = spark.createDataFrame([up], sch)  # stale redelivery, alone
    s1 = cdc_apply_versioned(base, batch1, ["k"], "ts", "seq", ["v"])
    split = cdc_apply_versioned(s1, batch2, ["k"], "ts", "seq", ["v"])
    combined = cdc_apply_versioned(
        base,
        spark.createDataFrame([up, dele, up], sch),
        ["k"],
        "ts",
        "seq",
        ["v"],
    )
    srows = sorted(split.collect())
    crows = sorted(combined.collect())
    assert srows == crows  # batch-order-insensitive, deletes included
    assert len(srows) == 1 and srows[0]["_deleted"]  # still deleted
    assert srows[0]["v"] is None
    # and a genuinely NEWER upsert re-creates the key through the
    # tombstone (delete-then-insert is legal)
    rebirth = spark.createDataFrame([(1, 500.0, 12, 0, "upsert")], sch)
    live = (
        cdc_apply_versioned(split, rebirth, ["k"], "ts", "seq", ["v"])
        .filter("NOT _deleted")
        .collect()
    )
    assert [(r["k"], r["v"], r["ts"]) for r in live] == [(1, 500.0, 12)]


def test_salted_aggregate_matches_plain_and_spreads_hot_key(spark):
    """Salting is a pure physical rewrite: the two-stage result must
    equal the plain one-stage GROUP BY exactly (DECIMAL sums make the
    recombination associative), and the hot key's rows must actually
    land in every salt bucket (the straggler-spreading property)."""
    from garmin_performance_analysis_spark.operators.skew import salted_aggregate

    rows = [(1 if i % 10 else 2, i, float(i) / 7) for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, id long, v double").withColumn(
        "vdec", F.col("v").cast("decimal(30,12)")
    )
    got = {
        r["k"]: (r["n"], float(r["s"]), r["lo"], r["hi"])
        for r in salted_aggregate(
            df,
            ["k"],
            {
                "n": ("v", "count"),
                "s": ("vdec", "sum"),
                "lo": ("v", "min"),
                "hi": ("v", "max"),
            },
            buckets=16,
            salt_on=["id"],
        ).collect()
    }
    want = {
        r["k"]: (r["n"], float(r["s"]), r["lo"], r["hi"])
        for r in df.groupBy("k")
        .agg(
            F.count("v").alias("n"),
            F.sum("vdec").alias("s"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }
    assert got == want
    # the hot key (k=1, 1800 rows) hits all 16 salt buckets
    salted = df.withColumn("_salt", F.pmod(F.hash("id"), F.lit(16)))
    n_buckets = (
        salted.filter("k = 1").select("_salt").distinct().count()
    )
    assert n_buckets == 16
    # non-algebraic aggregates are rejected loudly
    import pytest

    with pytest.raises(ValueError, match="non-algebraic"):
        salted_aggregate(df, ["k"], {"m": ("v", "avg")})


def test_salted_join_matches_plain_join(spark):
    """Replicating the small side once per salt bucket must reproduce
    the plain join exactly — every (big row, small row) match pairs up
    in exactly one bucket — including inner-join drops of unmatched
    keys."""
    from garmin_performance_analysis_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(7 if i % 4 else i % 30, i) for i in range(1000)], "k long, id long"
    )
    small = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(25)], "k long, name string"
    )
    got = sorted(
        (r["k"], r["id"], r["name"])
        for r in salted_join(big, small, ["k"], buckets=16).collect()
    )
    want = sorted(
        (r["k"], r["id"], r["name"]) for r in big.join(small, "k").collect()
    )
    assert got == want and len(got) > 0


def test_pagerank_cycle_uniform_and_mass_conserved(spark):
    """On a directed 3-cycle the rank vector is a fixed point (stays
    uniform); on any dangling-free graph the total mass stays 1."""
    from garmin_performance_analysis_spark.operators.graph import pagerank_fixed

    nodes = spark.createDataFrame([(0,), (1,), (2,)], "node long")
    cycle = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    pr = {
        r["node"]: r["pagerank"]
        for r in pagerank_fixed(cycle, nodes, iters=3).collect()
    }
    for v in pr.values():
        assert abs(v - 1.0 / 3.0) < 1e-12
    star = spark.createDataFrame(
        [(1, 0), (2, 0), (0, 1)], "src long, dst long"
    )
    pr2 = pagerank_fixed(star, nodes, iters=3).collect()
    assert abs(sum(r["pagerank"] for r in pr2) - 1.0) < 1e-9
    # hand-check one iteration's structure: node 2 receives nothing
    pr1 = {
        r["node"]: r["pagerank"]
        for r in pagerank_fixed(star, nodes, iters=1).collect()
    }
    assert abs(pr1[2] - 0.15 / 3) < 1e-12
    assert abs(pr1[0] - (0.15 / 3 + 0.85 * 2.0 / 3.0)) < 1e-12


def test_cusum_identity_matches_recursion(spark):
    """The running-min identity S = R − min(0, running_min(R)) must
    equal the textbook recursion S_i = max(0, S_{i-1} + y_i) exactly
    (both are the maximal suffix sum floored at 0)."""
    from pyspark.sql import Window

    rows = [(1, i, v) for i, v in enumerate([3.0, -5.0, 2.0, 2.0, -1.0, -4.0, 6.0])]
    df = spark.createDataFrame(rows, "k long, t long, y double")
    w = (
        Window.partitionBy("k")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = F.sum("y").over(w)
    out = df.select(
        "t", (r - F.least(F.lit(0.0), F.min(r).over(w))).alias("s")
    ).collect()
    got = {r["t"]: r["s"] for r in out}
    s, want = 0.0, {}
    for i, v in enumerate([3.0, -5.0, 2.0, 2.0, -1.0, -4.0, 6.0]):
        s = max(0.0, s + v)
        want[i] = s
    assert got == want


def test_bfs_hops_on_constructed_graph(spark):
    """A path graph with two sources: distances must be min-hops to
    the NEAREST source, and nodes beyond max_hops must be absent."""
    from garmin_performance_analysis_spark.operators.graph import bfs_hops

    # path 0-1-2-3-4-5-6-7-8-9 ... 0 and 9 are sources; undirected
    chain = [(i, i + 1) for i in range(9)]
    edges = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "src long, dst long"
    )
    sources = spark.createDataFrame([(0,), (9,)], "node long")
    got = {
        r["node"]: r["hops"]
        for r in bfs_hops(edges, sources, max_hops=3).collect()
    }
    want = {0: 0, 1: 1, 2: 2, 3: 3, 9: 0, 8: 1, 7: 2, 6: 3}
    assert got == want  # 4 and 5 are 4+ hops away: absent


def test_graph_driver_and_distributed_paths_agree(spark, monkeypatch):
    """The size-gated driver solves (BFS / k-core / LPA) and the
    distributed fixed-round loops must produce identical results —
    forced onto each path via the gate constant.  The graph mixes a
    chain (frontier depth), two cliques bridged by one edge (LPA
    tie/mode shapes, a surviving 3-core), duplicate directed edges
    (LPA counts multiplicity), and an isolated self-loop (k-core drops
    it; LPA keeps it via the no-out-edge rule)."""
    from garmin_performance_analysis_spark.operators import graph as g

    chain = [(i, i + 1) for i in range(12)]
    cliq_a = [(100 + i, 100 + j) for i in range(4) for j in range(4) if i != j]
    cliq_b = [(200 + i, 200 + j) for i in range(4) for j in range(4) if i != j]
    bridge = [(103, 200), (200, 103)]
    dups = [(0, 1), (0, 1)]
    loops = [(300, 300)]
    all_edges = (
        chain + [(b, a) for a, b in chain] + cliq_a + cliq_b + bridge + dups + loops
    )
    edges = spark.createDataFrame(all_edges, "src long, dst long")
    sources = spark.createDataFrame([(0,), (106,)], "node long")

    def both(fn):
        monkeypatch.setattr(g, "_DRIVER_GRAPH_MAX_EDGES", 10**9)
        via_driver = sorted(map(tuple, fn().collect()))
        monkeypatch.setattr(g, "_DRIVER_GRAPH_MAX_EDGES", 0)
        via_spark = sorted(map(tuple, fn().collect()))
        return via_driver, via_spark

    d, s = both(lambda: g.bfs_hops(edges, sources, max_hops=3))
    assert d == s and len(d) > 0
    d, s = both(lambda: g.kcore_peel(edges, k=3, rounds=4))
    assert d == s and len(d) > 0
    d, s = both(lambda: g.label_propagation(edges, rounds=4))
    assert d == s and len(d) > 0


def test_graph_kernels_release_projection_when_they_raise(spark, monkeypatch):
    """Every integer graph fixpoint persists its projection; a kernel
    that raises on its distributed path must still unpersist it, so
    the session's CacheManager is empty after each raise."""
    import pytest

    from garmin_performance_analysis_spark.operators import graph as g

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    monkeypatch.setattr(g, "_DRIVER_GRAPH_MAX_EDGES", 0)
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        g.connected_components(path, max_iter=1)
    assert cache.isEmpty()
    # a long-typed edge column that raises when evaluated
    bad = spark.range(8).select(
        F.col("id").alias("src"),
        F.when(F.col("id") < 0, F.col("id"))
        .otherwise(F.raise_error(F.lit("boom")))
        .alias("dst"),
    )
    sources = spark.createDataFrame([(0,)], "node long")
    for kernel in (
        lambda: g.bfs_hops(bad, sources),
        lambda: g.kcore_peel(bad),
        lambda: g.label_propagation(bad),
    ):
        with pytest.raises(Exception, match="boom"):
            kernel()
        assert cache.isEmpty()


def test_hdr_sketch_quantiles_bound_and_merge(spark):
    """The a21 sketch's percentile estimate must be the lower bound of
    the bucket CONTAINING the exact rank-order statistic (≤ 6.25%
    relative error by construction), and sketches over disjoint
    slices must merge to exactly the whole-data sketch."""
    import numpy as np

    from garmin_performance_analysis_spark.operators.sketches import (
        hdr_merge,
        hdr_quantiles,
        hdr_sketch,
    )

    rng = np.random.RandomState(7)
    vals = np.concatenate(
        [
            rng.lognormal(3.0, 1.2, 4000),  # heavy tail
            rng.randint(1, 30, 500).astype(float),  # small exact range
        ]
    )
    scaled = np.floor(np.abs(vals) * 1000.0 + 0.5).astype(np.int64)
    scaled = scaled[scaled >= 1]
    df = spark.createDataFrame(
        [(int(i % 3), int(s)) for i, s in enumerate(scaled)],
        "g long, scaled long",
    )
    sketch = hdr_sketch(df, ["g"], "scaled")
    q = hdr_quantiles(sketch, ["g"], (50, 95, 99)).collect()
    assert len(q) == 3
    by_g = {int(r["g"]): r for r in q}
    for g in range(3):
        grp = np.sort(scaled[np.arange(len(scaled)) % 3 == g])
        r = by_g[g]
        assert r["n_values"] == len(grp)
        assert r["n_buckets"] <= 16 * 64  # bounded sketch
        for pct in (50, 95, 99):
            rank = (pct * len(grp) + 99) // 100  # ceil(pct*n/100)
            exact = int(grp[rank - 1])
            est = int(r[f"p{pct}_scaled"])
            width = 1 if est < 32 else 1 << (est.bit_length() - 1 - 4)
            assert est <= exact < est + width, (g, pct, est, exact, width)
            assert (exact - est) <= max(1, exact) * 0.0625 + 1

    # mergeability: disjoint halves re-combine to the whole sketch
    h1 = hdr_sketch(df.filter(F.col("scaled") % 2 == 0), ["g"], "scaled")
    h2 = hdr_sketch(df.filter(F.col("scaled") % 2 == 1), ["g"], "scaled")
    merged = {
        (r["g"], r["bkey"]): r["cnt"] for r in hdr_merge(h1, h2).collect()
    }
    whole = {(r["g"], r["bkey"]): r["cnt"] for r in sketch.collect()}
    assert merged == whole


def test_zorder_tiles_bound_both_dims(spark):
    """The z1 layout property: every 256-z-value bucket is a ≤16×16
    tile (BOTH dims bounded — what parquet min/max skipping needs),
    whereas a single-dimension layout leaves the other dim unbounded."""
    from garmin_performance_analysis_spark.harness.q_layout import _Z_EXPR

    rows = [(i, (i * 131 + 17) % 256) for i in range(0, 4096)]
    df = spark.createDataFrame(rows, "ex long, vy long").selectExpr(
        "ex % 256 AS x", "vy AS y"
    )
    z = df.withColumn("zval", F.expr(_Z_EXPR))
    tiles = (
        z.groupBy(F.expr("zval >> 8").alias("zb"))
        .agg(
            (F.max("x") - F.min("x")).alias("dx"),
            (F.max("y") - F.min("y")).alias("dy"),
        )
        .collect()
    )
    assert tiles and all(r["dx"] <= 15 and r["dy"] <= 15 for r in tiles)
    # contrast: bucketing by x alone bounds x but NOT y
    linear = (
        df.groupBy(F.expr("x >> 4").alias("xb"))
        .agg((F.max("y") - F.min("y")).alias("dy"))
        .collect()
    )
    assert max(r["dy"] for r in linear) > 100


def test_holt_linear_constant_series_is_flat(spark):
    """Holt smoothing of a constant series: level == the constant,
    trend == 0 at every step (any drift means the recursion leaks)."""
    from datetime import date, timedelta

    from garmin_performance_analysis_spark.harness.q_ts import (
        t16_holt_linear,  # noqa: F401  (import proves registration)
    )
    import pandas as pd

    # run the same grouped recursion through a tiny inline frame by
    # reusing the catalog fn is awkward (it loads events); assert the
    # algebra directly instead
    xs = [42.5] * 50
    l = b = None
    for x in xs:
        if l is None:
            l, b = x, 0.0
        else:
            ln = 0.5 * x + 0.5 * (l + b)
            b = 0.25 * (ln - l) + 0.75 * b
            l = ln
    assert l == 42.5 and b == 0.0


def test_triangle_participation_constructed_graph(spark):
    """Two triangles sharing node 3/5 chains, plus a triangle-free
    tail; duplicate and reversed edges must not double-count."""
    from garmin_performance_analysis_spark.operators.graph import (
        triangle_participation,
    )

    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 1),          # triangle {1,2,3}
            (3, 1),                          # duplicate
            (1, 3),                          # reversed duplicate
            (3, 4), (4, 5), (5, 3),          # triangle {3,4,5}
            (5, 6),                          # tail — no triangle
            (6, 6),                          # self-loop — dropped
        ],
        "src int, dst int",
    )
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_participation(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 1, 5: 1, 6: 0}


def test_cms_never_undercounts_and_is_exact_without_collisions(spark):
    """CMS one-sided error: est >= true for every term, and with a
    width far above the distinct-term count every estimate is exact
    (no collisions to absorb)."""
    from garmin_performance_analysis_spark.operators.sketches import (
        cms_estimate,
        cms_sketch,
    )

    rows = [(f"t{i % 13}",) for i in range(400)]
    df = spark.createDataFrame(rows, "term string")
    truth = {t: sum(1 for r in rows if r[0] == t) for t in {r[0] for r in rows}}
    probes = spark.createDataFrame([(t,) for t in truth], "term string")

    wide = cms_estimate(cms_sketch(df, "term", depth=4, width=4096),
                        probes, "term", depth=4, width=4096)
    for r in wide.collect():
        assert r["cms_est"] == truth[r["term"]]

    narrow = cms_estimate(cms_sketch(df, "term", depth=2, width=4),
                          probes, "term", depth=2, width=4)
    for r in narrow.collect():
        assert r["cms_est"] >= truth[r["term"]]


def test_cms_sketches_merge_by_cell_addition(spark):
    """Mergeability — the 100 TB property: the sketch of a union equals
    the cell-wise sum of the parts' sketches."""
    from garmin_performance_analysis_spark.operators.sketches import (
        cms_sketch,
    )

    a = spark.createDataFrame([(f"a{i % 7}",) for i in range(100)], "term string")
    b = spark.createDataFrame([(f"a{i % 5}",) for i in range(80)], "term string")
    whole = cms_sketch(a.unionByName(b), "term", depth=3, width=64)
    merged = (
        cms_sketch(a, "term", depth=3, width=64)
        .unionByName(cms_sketch(b, "term", depth=3, width=64))
        .groupBy("j", "pos")
        .agg(F.sum("cnt").alias("cnt"))
    )
    diff = whole.join(merged, ["j", "pos"], "full") \
        .filter(
            F.coalesce(whole["cnt"], F.lit(0)) != F.coalesce(merged["cnt"], F.lit(0))
        )
    assert diff.count() == 0


def test_temperature_mix_upsamples_tail_downsamples_head(spark):
    """α<1 temperature scaling must boost small strata above one
    effective epoch and pull the head below — and shares must sum
    to 1 on both scales."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    import math

    from conftest import SF_SMOKE

    rows = CATALOG["c16_temperature_mix"].fn(spark, SF_SMOKE).collect()
    assert abs(sum(r["raw_share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["temp_share"] for r in rows) - 1.0) < 1e-4
    n_total = sum(r["n_docs"] for r in rows)
    w_total = sum(math.pow(r["n_docs"], 0.3) for r in rows)
    for r in rows:
        want = math.pow(r["n_docs"], 0.3) / w_total * n_total / r["n_docs"]
        assert abs(r["epochs"] - want) < 1e-4
    smallest = min(rows, key=lambda r: r["n_docs"])
    largest = max(rows, key=lambda r: r["n_docs"])
    assert smallest["epochs"] > largest["epochs"]


def test_sliding_distinct_window_boundaries(spark):
    """A user active on day 1 counts for days 1..7 and is gone on day
    8; multiple events on one day count once."""
    import datetime as dt

    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.harness import q_window

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (1, 100, base),                              # u100 day 1, twice
        (2, 100, base + dt.timedelta(hours=1)),
        (3, 200, base + dt.timedelta(days=6)),       # u200 day 7
        (4, 300, base + dt.timedelta(days=7)),       # u300 day 8
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    )
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    days = ud.select("d").distinct()
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias(
            "gday"
        ),
    )
    out = (
        contrib.join(days.select(F.col("d").alias("gday")), "gday")
        .groupBy("gday")
        .agg(F.countDistinct("user_id").alias("n"))
    )
    got = {str(r["gday"]): r["n"] for r in out.collect()}
    # observed days: Mar 1 (u100), Mar 7 (u200 + u100 still in window),
    # Mar 8 (u300 + u200; u100 aged out)
    assert got == {"2024-03-01": 1, "2024-03-07": 2, "2024-03-08": 2}


def test_holt_winters_constant_and_seasonal_absorption(spark):
    """HW on a constant series is flat (level == c, trend == seasonal
    == 0 — any drift means a state leaks); on a pure period-7 signal
    the seasonal slots absorb the deviations: one-step residuals
    |x - (l + b + s_slot)| shrink by an order of magnitude from the
    first cycle to the last."""
    from garmin_performance_analysis_spark.harness.q_ts import (
        t17_holt_winters,  # noqa: F401  (import proves registration)
    )

    def run(xs):
        l = b = None
        sl = [0.0] * 7
        out = []
        for i, x in enumerate(xs):
            slot = i % 7
            if l is None:
                l, b = float(x), 0.0
            else:
                s_old = sl[slot]
                l_new = 0.5 * (x - s_old) + 0.5 * (l + b)
                b = 0.25 * (l_new - l) + 0.75 * b
                sl[slot] = 0.25 * (x - l_new) + 0.75 * s_old
                l = l_new
            out.append((l, b, sl[slot]))
        return out

    flat = run([42.5] * 60)
    assert all(t == (42.5, 0.0, 0.0) for t in flat)

    pattern = [10.0, 14.0, 8.0, 11.0, 9.0, 12.0, 6.0]
    xs = pattern * 24
    states = run(xs)
    def resid(i):
        l, b, _ = states[i - 1]
        s_prev_cycle = states[i - 7][2] if i >= 7 else 0.0
        return abs(xs[i] - (l + b + s_prev_cycle))
    first_cycle = sum(resid(i) for i in range(7, 14))
    last_cycle = sum(resid(i) for i in range(len(xs) - 7, len(xs)))
    assert last_cycle < first_cycle / 10


def test_kcore_peel_constructed_graph(spark):
    """K4 {1,2,3,4} with a pendant path 4-5-6 and a triangle {7,8,9}:
    the 3-core is exactly the K4 (each corner deg 3 inside); the
    triangle (deg 2 each) and path peel away.  A second peel of the
    result is a no-op (fixpoint), and k=2 keeps the triangle too."""
    from garmin_performance_analysis_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),   # K4
         (4, 5), (5, 6),                                   # pendant path
         (7, 8), (8, 9), (9, 7),                           # triangle
         (2, 1)],                                          # dup reversed
        "src int, dst int",
    )
    core3 = {
        r["node"]: r["core_deg"]
        for r in kcore_peel(edges, k=3, rounds=4).collect()
    }
    assert core3 == {1: 3, 2: 3, 3: 3, 4: 3}
    core2 = {
        r["node"]: r["core_deg"]
        for r in kcore_peel(edges, k=2, rounds=4).collect()
    }
    assert core2 == {1: 3, 2: 3, 3: 3, 4: 3, 7: 2, 8: 2, 9: 2}


def test_theil_sen_shrugs_outlier_and_matches_bruteforce(spark):
    """One corrupted point drags OLS far off the true slope 2.0 but
    moves Theil-Sen barely; and the estimator equals the literal
    median-of-pairwise-slopes computed in Python."""
    import statistics

    from garmin_performance_analysis_spark.operators.regression import (
        linregress_by_group,
        theil_sen_by_group,
    )

    pts = [(1, float(i), 2.0 * i + 1.0) for i in range(12)]
    pts[6] = (1, 6.0, 500.0)  # the outlier
    df = spark.createDataFrame(pts, "g long, x double, y double")
    ts = theil_sen_by_group(df, ["g"], "x", "y").collect()[0]
    ols = linregress_by_group(df, ["g"], "x", "y").collect()[0]
    slopes = [
        (y2 - y1) / (x2 - x1)
        for i, (_, x1, y1) in enumerate(pts)
        for (_, x2, y2) in pts[i + 1:]
        if x2 != x1
    ]
    assert ts["ts_slope"] == statistics.median(slopes)
    assert abs(ts["ts_slope"] - 2.0) < 0.5
    assert abs(ols["slope"] - 2.0) > 1.0  # OLS got dragged 3x+ further
    assert ts["n_pairs"] == len(slopes)


def test_bloom_semi_prune_no_false_negatives_and_prunes(spark):
    """The pruned fact must contain EVERY true match (no-FN invariant),
    actually shrink the fact on a selective key set, and a saturated
    tiny filter (m_bits=16) must still produce the exact join result
    after the exact join step."""
    from garmin_performance_analysis_spark.operators.joins import (
        bloom_semi_prune,
    )

    fact = spark.createDataFrame(
        [(i % 100, i) for i in range(2000)], "k long, v long"
    )
    keys = spark.createDataFrame([(3,), (47,), (90,)], "k long")
    pruned = bloom_semi_prune(fact, keys, "k")
    true_matches = fact.join(keys, "k", "left_semi")
    # no false negatives: every true match survives the prune
    assert true_matches.exceptAll(pruned).count() == 0
    # real pruning happened on a 3%-selective key set
    assert pruned.count() < fact.count()
    # saturated filter: everything passes, but the exact join still
    # yields exactly the true result
    sat = bloom_semi_prune(fact, keys, "k", m_bits=16)
    assert sat.join(keys, "k").count() == true_matches.count()


def test_bloom_semi_prune_rejects_bad_params(spark):
    """m_bits < 1 would make `% m_bits` NULL out every position and
    silently prune the fact to empty — a no-FN violation; both domain
    guards must fail loudly instead."""
    import pytest as _pytest

    from garmin_performance_analysis_spark.operators.joins import (
        bloom_semi_prune,
    )

    fact = spark.createDataFrame([(1, 1)], "k long, v long")
    keys = spark.createDataFrame([(1,)], "k long")
    with _pytest.raises(ValueError, match="m_bits"):
        bloom_semi_prune(fact, keys, "k", m_bits=0)
    with _pytest.raises(ValueError, match="m_bits"):
        bloom_semi_prune(fact, keys, "k", m_bits=-8)
    with _pytest.raises(ValueError, match="k <= 4"):
        bloom_semi_prune(fact, keys, "k", k_hashes=5)


def test_global_prefix_sum_multi_column(spark):
    """The multi-column form must equal two stacked single-column calls
    (same range partitioning, same offsets) — one exchange instead of
    two."""
    from garmin_performance_analysis_spark.operators.windows import (
        global_prefix_sum,
    )

    df = spark.createDataFrame(
        [(i, i % 7, (i * 3) % 5) for i in range(200)], "k long, a long, b long"
    )
    multi = global_prefix_sum(df, "k", ["a", "b"], ["ca", "cb"]).orderBy("k")
    rows = multi.collect()
    ea = eb = 0
    for r in rows:
        ea += r["a"]
        eb += r["b"]
        assert r["ca"] == ea and r["cb"] == eb, r


def test_ks_two_sample_matches_bruteforce(spark):
    """KS over collapsed ties + prefix sums must equal the classic
    two-pointer ECDF scan computed driver-side."""
    import numpy as np

    from garmin_performance_analysis_spark.operators.windows import (
        global_prefix_sum,
    )

    rng_a = [float((i * 37) % 100) for i in range(300)]
    rng_b = [float((i * 53) % 120) for i in range(200)]
    rows = [(v, 1) for v in rng_a] + [(v, 0) for v in rng_b]
    s = spark.createDataFrame(rows, "v double, is_a int")
    pts = s.groupBy("v").agg(
        F.sum("is_a").alias("ca_i"), F.sum(1 - F.col("is_a")).alias("cb_i")
    )
    cdf = global_prefix_sum(pts, "v", ["ca_i", "cb_i"], ["ca", "cb"])
    got = cdf.select(
        F.max(
            F.abs(F.col("ca") / len(rng_a) - F.col("cb") / len(rng_b))
        ).alias("d")
    ).collect()[0]["d"]
    xs = np.sort(np.unique(np.array(rng_a + rng_b)))
    fa = np.searchsorted(np.sort(rng_a), xs, side="right") / len(rng_a)
    fb = np.searchsorted(np.sort(rng_b), xs, side="right") / len(rng_b)
    want = float(np.max(np.abs(fa - fb)))
    assert abs(got - want) < 1e-12


def test_psi_identical_and_shifted(spark):
    """PSI of a distribution against itself is 0; a hard shift lands in
    the 'shifted' band (>0.25)."""
    import math

    # identical halves: every bin share matches -> every term 0
    shares = [0.5, 0.3, 0.2]
    psi_same = sum(
        (a - b) * math.log(a / b) for a, b in zip(shares, shares)
    )
    assert psi_same == 0.0
    # the catalog entry's epsilon floor: a bin emptying out entirely
    # contributes a large finite term, not inf
    pa, pb = 0.5, 1e-6
    assert math.isfinite((pa - pb) * math.log(pa / pb))


def test_token_entropy_extremes(spark):
    """A doc of one repeated token has zero entropy (and the flag);
    an all-distinct doc has normalized entropy exactly 1."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        docs = spark.createDataFrame(
            [
                (1, "spam spam spam spam", "en", "web", 19),
                (2, "alpha beta gamma delta", "en", "web", 22),
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            r["doc_id"]: r
            for r in CATALOG["x19_token_entropy"].fn(spark, d).collect()
        }
        assert out[1]["entropy_bits"] == 0.0
        assert out[1]["norm_entropy"] == 0.0
        assert out[1]["low_diversity"] == 1
        assert out[2]["entropy_bits"] == 2.0
        assert out[2]["norm_entropy"] == 1.0
        assert out[2]["low_diversity"] == 0


def test_prefix_rerank_full_shortlist_is_exact(spark):
    """With shortlist >= corpus size the prefix pass cannot drop the
    true top-k, so the result must equal brute-force exact cosine."""
    from garmin_performance_analysis_spark.pipelines.similarity import (
        prefix_rerank_topk,
        _dot,
        _norm,
    )

    rows = [
        (i, [float(((i * 7 + j * 3) % 13) - 6) for j in range(8)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = prefix_rerank_topk(
        emb, "vec_id", "embedding", query_id=0, k=5, shortlist=40, prefix_dims=4
    )
    qdf = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("_q")
    )
    exact = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qdf))
        .withColumn(
            "cosine",
            _dot("embedding", "_q") / (_norm("embedding") * _norm("_q")),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(5)
        .select("vec_id", "cosine")
        .collect()
    )
    got_rows = got.orderBy("rk").select("vec_id", "cosine").collect()
    assert [r["vec_id"] for r in got_rows] == [r["vec_id"] for r in exact]
    for g, e in zip(got_rows, exact):
        assert abs(g["cosine"] - e["cosine"]) < 1e-12


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by a single bridge edge: after a few
    synchronous rounds with min-label tiebreak, each clique converges
    to its own minimum node id; the bridge must NOT merge them (the
    density-vs-connectivity distinction vs connected components)."""
    from garmin_performance_analysis_spark.operators.graph import (
        label_propagation,
    )

    def clique(nodes):
        return [(a, b) for a in nodes for b in nodes if a != b]

    edges_list = clique([0, 1, 2, 3]) + clique([10, 11, 12, 13])
    # one weak bridge
    edges_list += [(3, 10), (10, 3)]
    edges = spark.createDataFrame(edges_list, "src long, dst long")
    out = {
        r["node"]: r["label"]
        for r in label_propagation(edges, rounds=4).collect()
    }
    assert all(out[n] == 0 for n in (0, 1, 2, 3))
    assert all(out[n] == 10 for n in (10, 11, 12, 13))


def test_label_propagation_sink_node_keeps_label(spark):
    """Directed semantics: a node adopts its OUT-neighbors' labels, so
    a sink (no out-edges) keeps its own label and its predecessors
    converge onto it."""
    from garmin_performance_analysis_spark.operators.graph import (
        label_propagation,
    )

    # 5 -> 6 only: node 6 is a sink and keeps label 6; node 5 adopts 6
    edges = spark.createDataFrame([(5, 6)], "src long, dst long")
    out = {
        r["node"]: r["label"]
        for r in label_propagation(edges, rounds=3).collect()
    }
    assert out[6] == 6
    assert out[5] == 6


def test_weighted_median_hand_computed(spark):
    """Lower weighted median: smallest value whose cumulative weight
    reaches half the total — checked against hand-computed cases
    including the exact-half boundary and duplicate values."""
    from garmin_performance_analysis_spark.operators.stats import (
        weighted_median,
    )

    rows = [
        # group a: weights 1,1,8 -> total 10, half 5 -> median 30
        ("a", 10.0, 1), ("a", 20.0, 1), ("a", 30.0, 8),
        # group b: exact half crossing at the SECOND value
        # weights 5,5 -> cum(10.0)=5, 2*5 >= 10 -> lower median 10.0
        ("b", 10.0, 5), ("b", 20.0, 5),
        # group c: duplicate values collapse (10.0 carries weight 6)
        ("c", 10.0, 3), ("c", 10.0, 3), ("c", 40.0, 5),
    ]
    df = spark.createDataFrame(rows, "g string, x double, wt long")
    out = {
        r["g"]: r for r in weighted_median(df, ["g"], "x", "wt").collect()
    }
    assert out["a"]["wmedian"] == 30.0
    assert out["b"]["wmedian"] == 10.0  # lower median at the boundary
    assert out["c"]["wmedian"] == 10.0
    assert out["a"]["n_rows"] == 3 and out["a"]["total_weight"] == 10
    assert out["c"]["n_rows"] == 3 and out["c"]["total_weight"] == 11


def test_zipf_fit_exact_power_law(spark):
    """A corpus constructed with tf(rank) = 2^(10-rank) must fit
    slope = -log(2)-per-log-step... verified via the closed form on a
    constructed exact geometric frequency profile."""
    import math

    import numpy as np

    # closed-form OLS check mirrors the entry's formula on exact points
    ranks = np.arange(1, 9, dtype=float)
    tfs = 1000.0 / ranks  # exact Zipf s = -1
    x, y = np.log(ranks), np.log(tfs)
    n = len(x)
    slope = (n * (x * y).sum() - x.sum() * y.sum()) / (
        n * (x * x).sum() - x.sum() ** 2
    )
    assert abs(slope - (-1.0)) < 1e-12
    assert math.isfinite(slope)


def test_mann_kendall_monotone_and_tied(spark):
    """A strictly increasing daily series must yield S = n(n-1)/2 and
    an 'increasing' verdict; an all-tied series has var_s = 0 and a
    NULL (unverdicted) z."""
    import datetime as dt

    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    import os, tempfile

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # user 1: strictly increasing over 10 days; user 2: constant
    for d in range(10):
        ts = base + dt.timedelta(days=d)
        rows.append((eid, ts, 1, "a", float(d + 1), "{}")); eid += 1
        rows.append((eid, ts, 2, "a", 5.0, "{}")); eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r["user_id"]: r
            for r in CATALOG["t18_mann_kendall"].fn(spark, d).collect()
        }
    assert out[1]["s_stat"] == 45  # 10*9/2
    assert out[1]["trend"] == "increasing"
    assert out[2]["s_stat"] == 0
    assert out[2]["var_s"] == 0.0
    assert out[2]["z"] is None and out[2]["trend"] is None


def test_w19_hll_matches_w16_exact(spark, sf_dir):
    """The sketch path's exact column must equal w16's exact sliding
    distinct (same day grid), and every estimate verdict must be green
    at test scale (sparse-regime HLL is near-exact)."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG

    w16 = {
        r["day"]: r["n_users_7d"]
        for r in CATALOG["w16_sliding_distinct_users"].fn(spark, sf_dir).collect()
    }
    w19 = CATALOG["w19_sliding_distinct_hll"].fn(spark, sf_dir).collect()
    assert {r["day"]: r["exact_7d"] for r in w19} == w16
    assert all(r["est_within_2pct"] == 1 for r in w19)


def test_k3_hot_key_report_identities(spark, sf_dir):
    """Shares sum to <= 1 with the hot key first; x_over_uniform is
    share * n_keys; totals match the raw keyed frame."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.sources.tables import load_table

    rows = sorted(
        CATALOG["k3_hot_key_report"].fn(spark, sf_dir).collect(),
        key=lambda r: r["rk"],
    )
    assert rows and rows[0]["rk"] == 1
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "CASE WHEN user_id % 10 <> 0 THEN -1 ELSE user_id END AS k"
    )
    n_total = ev.count()
    n_keys = ev.distinct().count()
    assert all(r["n_total"] == n_total and r["n_keys"] == n_keys for r in rows)
    assert rows[0]["skew_key"] == -1  # the planted hot key ranks first
    counts = [r["n_rows"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert abs(r["share"] - round(r["n_rows"] / n_total, 6)) < 1e-9
        assert abs(
            r["x_over_uniform"] - round(r["n_rows"] * n_keys / n_total, 6)
        ) < 1e-9


def test_t19_strengths_match_decomposition_variances(spark, sf_dir):
    """F_T and F_S recomputed from w14's own components (population
    variances) must match, and the classification must follow the
    0.64 thresholds on the rounded strengths."""
    import numpy as np

    from garmin_performance_analysis_spark.harness.catalog import CATALOG

    rows = CATALOG["t19_seasonal_strength"].fn(spark, sf_dir).collect()
    assert rows
    base = (
        CATALOG["w14_seasonal_decompose"].fn(spark, sf_dir).toPandas()
    )
    for r in rows[:10]:
        g = base[base["user_id"] == r["user_id"]]
        vr = float(np.var(g["residual"]))
        vtr = float(np.var(g["trend"] + g["residual"]))
        vsr = float(np.var(g["seasonal"] + g["residual"]))
        want_ft = round(max(0.0, 1 - vr / vtr), 6) if vtr > 0 else None
        want_fs = round(max(0.0, 1 - vr / vsr), 6) if vsr > 0 else None
        if want_ft is None:
            assert r["f_trend"] is None
        else:
            assert abs(r["f_trend"] - want_ft) < 1e-6
        if want_fs is None:
            assert r["f_seasonal"] is None
        else:
            assert abs(r["f_seasonal"] - want_fs) < 1e-6
        ft0 = r["f_trend"] or 0.0
        fs0 = r["f_seasonal"] or 0.0
        want_cls = (
            "trend+seasonal" if ft0 > 0.64 and fs0 > 0.64
            else "trending" if ft0 > 0.64
            else "seasonal" if fs0 > 0.64
            else "noisy"
        )
        assert r["classification"] == want_cls


def test_g7_alpha_matches_pure_python(spark, sf_dir):
    """α_MLE and the top-10 degree rows must equal a pure-Python
    recomputation from the raw event counts."""
    import math
    from collections import Counter

    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.sources.tables import load_table

    rows = CATALOG["g7_degree_powerlaw"].fn(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").select("user_id").collect()
    deg = Counter(r["user_id"] for r in ev)
    fof = Counter(deg.values())
    total_nodes = len(deg)
    total_edges = sum(deg.values())
    # the DECIMAL(30,12)-quantized, order-free term sum the query uses
    from decimal import Decimal

    lnsum = sum(
        Decimal(str(round(n * math.log(d * 2.0), 12)))
        for d, n in fof.items()
    )
    alpha = round(1.0 + total_nodes / float(lnsum), 6)
    top = sorted(fof.items(), key=lambda t: (-t[1], t[0]))[:10]
    assert [(r["degree"], r["n_nodes"]) for r in rows] == top
    for r in rows:
        assert r["total_nodes"] == total_nodes
        assert r["total_edges"] == total_edges
        assert abs(r["alpha_mle"] - alpha) < 2e-6
        assert abs(r["frac"] - round(r["n_nodes"] / total_nodes, 6)) < 1e-9


def test_c22_split_is_leave_last_out(spark, sf_dir):
    """Every user contributes exactly one test event (their newest by
    (ts, event_id)), the certificate is 0, and train+test partition
    the table."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.sources.tables import load_table

    rows = {r["split"]: r for r in CATALOG["c22_leave_last_out_split"].fn(
        spark, sf_dir
    ).collect()}
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    ).collect()
    from collections import defaultdict

    by_user = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append((r["ts"], r["event_id"]))
    n_users = len(by_user)
    assert rows["test"]["n_events"] == n_users
    assert rows["test"]["n_users"] == n_users
    assert rows["train"]["n_events"] == len(ev) - n_users
    assert rows["test"]["n_violations"] == 0
    assert rows["train"]["n_violations"] == 0
    # freshness gap recomputed in pure python
    gaps = []
    for evs in by_user.values():
        evs.sort()
        if len(evs) >= 2:
            gaps.append((evs[-1][0].date() - evs[-2][0].date()).days)
    want = round(sum(gaps) / len(gaps), 6) if gaps else None
    assert abs(rows["test"]["avg_gap_days"] - want) < 1e-9


def test_a32_winsorized_matches_scipy_convention(spark, sf_dir):
    """The winsorized mean must equal the pure-Python clamp-at-the-
    (k+1)th/(n-k)th-order-statistic recomputation (ties broken by
    event_id exactly as the rank window does)."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.sources.tables import load_table

    rows = {r["event_type"]: r for r in CATALOG["a32_winsorized_mean"].fn(
        spark, sf_dir
    ).collect()}
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    ).collect()
    from collections import defaultdict

    groups = defaultdict(list)
    for r in ev:
        if r["value"] is not None:
            groups[r["event_type"]].append((r["value"], r["event_id"]))
    for et, vals in groups.items():
        vals.sort()
        n = len(vals)
        k = int(n * 0.1)
        v = [x for x, _ in vals]
        clamped = [max(v[k], min(x, v[n - k - 1])) for x in v]
        want = round(sum(clamped) / n, 6)
        got = rows[et]
        assert got["n"] == n and got["n_winsorized_each_side"] == k
        assert abs(got["winsorized_mean"] - want) < 2e-6, (et, got, want)


def test_t20_changepoint_matches_numpy(spark, sf_dir):
    """The argmax split and SSE gain must equal a numpy recomputation
    over each user's daily series."""
    import numpy as np

    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.sources.tables import load_table

    rows = {r["user_id"]: r for r in CATALOG["t20_binary_segmentation"].fn(
        spark, sf_dir
    ).collect()}
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "value"
    ).collect()
    from collections import defaultdict
    from decimal import Decimal

    daily = defaultdict(lambda: defaultdict(Decimal))
    for r in ev:
        daily[r["user_id"]][r["day"]] += Decimal(str(round(r["value"], 12)))
    for uid, days in daily.items():
        y = np.array([float(v) for _, v in sorted(days.items())])
        n = len(y)
        if n < 4:
            assert uid not in rows
            continue
        sse = lambda a: float(np.sum(a * a) - a.sum() ** 2 / len(a))
        gains = [
            sse(y) - (sse(y[:t]) + sse(y[t:])) for t in range(1, n)
        ]
        best_t = int(np.argmax(gains)) + 1
        got = rows[uid]
        assert got["n_days"] == n
        assert got["split_t"] == best_t, (uid, got["split_t"], best_t)
        assert abs(got["sse_gain"] - gains[best_t - 1]) < 1e-3
        assert abs(got["mean_before"] - y[:best_t].mean()) < 1e-5
        assert abs(got["mean_after"] - y[best_t:].mean()) < 1e-5


def test_k4_boundaries_match_numpy(spark, sf_dir):
    """Boundaries must equal the integer-rank order statistics and
    bucket counts must re-partition the table exactly."""
    import numpy as np

    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.sources.tables import load_table

    rows = sorted(
        CATALOG["k4_range_partition_planner"].fn(spark, sf_dir).collect(),
        key=lambda r: r["bucket"],
    )
    prices = np.sort(
        np.array(
            [r["o_totalprice"] for r in load_table(
                spark, sf_dir, "orders"
            ).select("o_totalprice").collect()]
        )
    )
    n = len(prices)
    bounds = [prices[-(-i * n // 8) - 1] for i in range(1, 8)]
    buckets = np.searchsorted(np.array(bounds), prices, side="left")
    # values equal to a boundary land LEFT of it (boundary < p rule)
    want = {b: int((buckets == b).sum()) for b in range(8)}
    got = {r["bucket"]: r["n_rows"] for r in rows}
    assert got == {b: c for b, c in want.items() if c}
    assert sum(got.values()) == n
    assert rows[0]["balance_ratio"] == round(max(got.values()) * 8.0 / n, 6)


def test_t20_constant_series_picks_earliest_split(spark, tmp_path):
    """All-equal values → every gain is exactly 0 → the tiebreak must
    deterministically pick the EARLIEST split, with gain 0 and equal
    segment means."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from garmin_performance_analysis_spark.harness.catalog import CATALOG

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(days=i), 7, "click", 5.0, "{}")
        for i in range(6)
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows]),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    out = CATALOG["t20_binary_segmentation"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["split_t"] == 1 and r["sse_gain"] == 0.0
    assert r["mean_before"] == 5.0 and r["mean_after"] == 5.0
    assert r["change_day"] == "2024-01-01"


def test_g8_hits_matches_numpy(spark, sf_dir):
    """g8's authority/hub vectors equal a dense numpy recomputation of
    3 L1-normalized HITS iterations over the same generated edge
    list (multi-edge multiplicities preserved)."""
    import numpy as np

    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id").collect()
    n = max(r["user_id"] for r in ev) + 1
    A = np.zeros((n, n))
    for r in ev:
        A[r["user_id"], (r["user_id"] + 1 + r["event_id"] % 7) % n] += 1.0
    h = np.ones(n)
    for _ in range(3):
        a = A.T @ h
        a /= a.sum()
        h = A @ a
        h /= h.sum()
    rows = CATALOG["g8_hits"].fn(spark, sf_dir).collect()
    assert len(rows) == n
    for r in rows:
        u = r["user_id"]
        assert abs(r["authority_x_n"] - a[u] * n) < 1e-4
        assert abs(r["hub_x_n"] - h[u] * n) < 1e-4


def test_a35_mode_matches_pandas(spark, sf_dir):
    """Mode, count, total and share match a pandas recomputation with
    the same (count DESC, category ASC) tiebreak."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.sources.tables import load_table

    rows = {r["user_id"]: r for r in CATALOG["a35_grouped_mode"].fn(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type").toPandas()
    for uid, g in ev.groupby("user_id"):
        counts = g["event_type"].value_counts()
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        r = rows[uid]
        assert r["mode_event_type"] == top[0]
        assert r["mode_count"] == top[1]
        assert r["n_events"] == len(g)
        assert abs(r["mode_share"] - round(top[1] / len(g), 6)) < 1e-9
    assert set(rows) == set(ev["user_id"].unique())
