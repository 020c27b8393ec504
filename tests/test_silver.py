"""Silver-layer layout tests: partition-scoped DELETE+INSERT semantics,
partition pruning, and shuffle-free bucketed joins."""

from __future__ import annotations

import datetime
import os
import shutil

from pyspark.sql import functions as F

from garmin_performance_analysis_spark.pipelines.silver import (
    MONTH_COL,
    delete_insert_by_key,
    read_silver,
    write_bucketed,
    write_partitioned,
)


def d(s):
    return datetime.date.fromisoformat(s)


def _base(spark):
    return spark.createDataFrame(
        [
            (1, d("2024-01-05"), 10.0),
            (2, d("2024-01-20"), 11.0),
            (3, d("2024-02-03"), 12.0),
            (4, d("2024-03-09"), 13.0),
        ],
        "activity_id long, activity_date date, total_distance_km double",
    )


def test_delete_insert_replaces_only_incoming_keys(spark, tmp_path):
    path = str(tmp_path / "activities")
    write_partitioned(_base(spark), path, "activity_date")

    # re-ingest activity 2 with corrected values + a brand-new activity
    batch = spark.createDataFrame(
        [(2, d("2024-01-20"), 99.0), (5, d("2024-01-31"), 14.0)],
        "activity_id long, activity_date date, total_distance_km double",
    )
    delete_insert_by_key(spark, path, batch, "activity_id", "activity_date")

    out = {
        r["activity_id"]: r["total_distance_km"]
        for r in read_silver(spark, path).collect()
    }
    assert out == {1: 10.0, 2: 99.0, 3: 12.0, 4: 13.0, 5: 14.0}

    # idempotent: the same batch again changes nothing
    delete_insert_by_key(spark, path, batch, "activity_id", "activity_date")
    out2 = {
        r["activity_id"]: r["total_distance_km"]
        for r in read_silver(spark, path).collect()
    }
    assert out2 == out


def test_delete_insert_leaves_untouched_partitions_alone(spark, tmp_path):
    path = str(tmp_path / "activities")
    write_partitioned(_base(spark), path, "activity_date")
    march = os.path.join(path, f"{MONTH_COL}=2024-03")
    before = {f: os.path.getmtime(os.path.join(march, f)) for f in os.listdir(march)}

    batch = spark.createDataFrame(
        [(2, d("2024-01-20"), 99.0)],
        "activity_id long, activity_date date, total_distance_km double",
    )
    delete_insert_by_key(spark, path, batch, "activity_id", "activity_date")

    after = {f: os.path.getmtime(os.path.join(march, f)) for f in os.listdir(march)}
    assert after == before  # March partition neither rewritten nor dropped


def test_delete_insert_key_moved_to_other_month(spark, tmp_path):
    """A re-ingested key whose event date moved months must not leave a
    stale duplicate in the old month (ADVICE r1: key-scoped DELETE)."""
    path = str(tmp_path / "activities")
    write_partitioned(_base(spark), path, "activity_date")

    # key 2 moves Jan→Apr (Jan keeps key 1), key 3 moves Feb→Apr
    # (Feb empties entirely — its directory must be dropped too)
    batch = spark.createDataFrame(
        [(2, d("2024-04-02"), 55.0), (3, d("2024-04-03"), 56.0)],
        "activity_id long, activity_date date, total_distance_km double",
    )
    delete_insert_by_key(spark, path, batch, "activity_id", "activity_date")

    rows = read_silver(spark, path).collect()
    out = {r["activity_id"]: (str(r["activity_date"]), r["total_distance_km"]) for r in rows}
    assert out == {
        1: ("2024-01-05", 10.0),
        2: ("2024-04-02", 55.0),
        3: ("2024-04-03", 56.0),
        4: ("2024-03-09", 13.0),
    }
    assert len(rows) == 4  # no stale duplicates anywhere
    assert not os.path.exists(os.path.join(path, f"{MONTH_COL}=2024-02"))


def test_write_partitioned_full_rebuild_drops_absent_months(spark, tmp_path):
    """Full rebuild is a static overwrite: months absent from the new
    frame disappear from disk (ADVICE r1)."""
    path = str(tmp_path / "activities")
    write_partitioned(_base(spark), path, "activity_date")
    rebuilt = spark.createDataFrame(
        [(1, d("2024-01-05"), 10.0)],
        "activity_id long, activity_date date, total_distance_km double",
    )
    write_partitioned(rebuilt, path, "activity_date")
    assert not os.path.exists(os.path.join(path, f"{MONTH_COL}=2024-02"))
    assert [r["activity_id"] for r in read_silver(spark, path).collect()] == [1]


def test_month_filter_prunes_partitions(spark, tmp_path):
    path = str(tmp_path / "activities")
    write_partitioned(_base(spark), path, "activity_date")
    plan = (
        read_silver(spark, path)
        .filter(F.col(MONTH_COL) == "2024-01")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # partition filter, not a data filter: pruning happens at planning
    assert "PartitionFilters" in plan and "2024-01" in plan


def test_bucketed_join_has_no_shuffle(spark):
    left = spark.range(0, 1000).select(
        F.col("id").alias("activity_id"), (F.col("id") * 2.0).alias("km")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("activity_id"), (F.col("id") % 7).alias("zone")
    )
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # A killed earlier run can leave `spark-warehouse/b_left` on disk with no
    # catalog entry in THIS session; DROP TABLE alone wouldn't clear it and
    # saveAsTable would die with LOCATION_ALREADY_EXISTS.  Purge both the
    # catalog entry and the stale directory before writing.
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name in ("b_left", "b_right"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
    try:
        write_bucketed(left, "b_left", "activity_id")
        write_bucketed(right, "b_right", "activity_id")
        # force the sort-merge path (tiny test tables would broadcast,
        # which also disables bucketed scans): the claim under test is
        # the fact⋈fact case where broadcasting is impossible
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_left").join(spark.table("b_right"), "activity_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan  # no shuffle either side
        assert "SortMergeJoin" in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS b_left")
        spark.sql("DROP TABLE IF EXISTS b_right")


# ---------------------------------------------------------------------------
# schema-evolution registry (reference: migrations/runner.py + registry.py)

from pyspark.sql import functions as SF

from garmin_performance_analysis_spark.pipelines import migrations as mig


def _mig_list():
    def m1(spark, base):
        mig.add_column(
            spark, f"{base}/activities", "body_mass_kg", SF.lit(None).cast("double")
        )

    def m2(spark, base):
        # backfill: latest body_composition weight at-or-before each
        # activity date (the reference's phase0 UPDATE ... correlated
        # subquery, as a backward as-of join + rewrite)
        acts = spark.read.parquet(f"{base}/activities")
        bc = spark.read.parquet(f"{base}/body_comp")
        from pyspark.sql import Window

        j = acts.drop("body_mass_kg").join(
            bc.select(SF.col("date").alias("bc_date"), "weight_kg"),
            SF.col("bc_date") <= SF.col("activity_date"),
            "left",
        )
        w = Window.partitionBy("activity_id").orderBy(SF.col("bc_date").desc())
        filled = (
            j.withColumn("_rn", SF.row_number().over(w))
            .filter(SF.col("_rn") == 1)
            .drop("_rn", "bc_date")
            .withColumnRenamed("weight_kg", "body_mass_kg")
        )
        mig.rewrite_table(filled, f"{base}/activities")

    return [
        mig.Migration(1, "add_body_mass_kg", m1),
        mig.Migration(2, "backfill_body_mass_kg", m2),
    ]


def test_migration_runner_applies_in_order_and_is_idempotent(spark, tmp_path):
    base = str(tmp_path)
    _base(spark).write.parquet(f"{base}/activities")
    spark.createDataFrame(
        [(d("2024-01-01"), 70.0), (d("2024-02-01"), 68.0)],
        "date date, weight_kg double",
    ).write.parquet(f"{base}/body_comp")

    assert mig.current_version(spark, base) == 0
    applied = mig.run_pending(spark, base, _mig_list())
    assert applied == ["add_body_mass_kg", "backfill_body_mass_kg"]
    assert mig.current_version(spark, base) == 2

    out = {
        r["activity_id"]: r["body_mass_kg"]
        for r in spark.read.parquet(f"{base}/activities").collect()
    }
    # Jan activities see the Jan-1 weight; Feb/Mar see the Feb-1 weight
    assert out == {1: 70.0, 2: 70.0, 3: 68.0, 4: 68.0}

    # re-run: nothing to do, bookkeeping unchanged
    assert mig.run_pending(spark, base, _mig_list()) == []
    names = [r["name"] for r in mig.applied_migrations(spark, base).collect()]
    assert names == ["add_body_mass_kg", "backfill_body_mass_kg"]

    # a later migration applies alone
    def m3(spark_, base_):
        mig.add_column(spark_, f"{base_}/activities", "flagged", SF.lit(False))

    all_migs = _mig_list() + [mig.Migration(3, "add_flagged", m3)]
    assert mig.run_pending(spark, base, all_migs) == ["add_flagged"]
    assert mig.current_version(spark, base) == 3
    assert "flagged" in spark.read.parquet(f"{base}/activities").columns


def test_add_column_is_idempotent(spark, tmp_path):
    base = str(tmp_path)
    _base(spark).write.parquet(f"{base}/activities")
    assert mig.add_column(spark, f"{base}/activities", "x", SF.lit(1.0)) is True
    assert mig.add_column(spark, f"{base}/activities", "x", SF.lit(2.0)) is False
    vals = {r["x"] for r in spark.read.parquet(f"{base}/activities").collect()}
    assert vals == {1.0}


def test_rewrite_invalidates_loader_memo(spark, tmp_path):
    """A memoized relation pins the pre-rewrite file listing; after
    rewrite_table the loader must re-resolve or queries would read
    deleted part-files (ADVICE r2)."""
    from garmin_performance_analysis_spark.sources import tables as tbl

    base = str(tmp_path)
    _base(spark).write.parquet(f"{base}/activities.parquet")
    before = tbl.load_table(spark, base, "activities")
    assert ("activities" in {k[2] for k in tbl._REGISTRY})
    mig.rewrite_table(
        before.withColumn("flagged", SF.lit(False)), f"{base}/activities.parquet"
    )
    stale = {k[2] for k in tbl._REGISTRY if k[1] == base}
    assert "activities" not in stale
    after = tbl.load_table(spark, base, "activities")
    assert "flagged" in after.columns and after.count() == 4


def test_migration_preserves_month_partitioning(spark, tmp_path):
    """add_column on a month-partitioned silver table must keep the
    partition layout — a flattened rewrite would leave stale root
    files behind the next delete_insert_by_key (code-review r2)."""
    path = str(tmp_path / "activities")
    write_partitioned(_base(spark), path, "activity_date")
    mig.add_column(spark, path, "flagged", SF.lit(False))
    # layout preserved
    assert os.path.isdir(os.path.join(path, f"{MONTH_COL}=2024-01"))
    # and the partition-scoped DELETE+INSERT still has no stale rows
    batch = spark.createDataFrame(
        [(2, d("2024-01-20"), 99.0, True)],
        "activity_id long, activity_date date, total_distance_km double, flagged boolean",
    )
    delete_insert_by_key(spark, path, batch, "activity_id", "activity_date")
    rows = read_silver(spark, path).collect()
    assert len(rows) == 4
    out = {r["activity_id"]: r["total_distance_km"] for r in rows}
    assert out == {1: 10.0, 2: 99.0, 3: 12.0, 4: 13.0}


def test_interrupted_migration_blocks_rerun(spark, tmp_path):
    """A crash between mig.fn and the version-record append leaves an
    _inflight marker; the next run must refuse to silently re-apply the
    (possibly half-applied, non-idempotent) migration."""
    import pytest

    base = str(tmp_path)
    _base(spark).write.parquet(f"{base}/activities")
    spark.createDataFrame(
        [(d("2024-01-01"), 70.0)], "date date, weight_kg double"
    ).write.parquet(f"{base}/body_comp")

    boom = mig.Migration(1, "boom", lambda s, b: (_ for _ in ()).throw(RuntimeError("crash")))
    with pytest.raises(RuntimeError, match="crash"):
        mig.run_pending(spark, base, [boom])

    # the marker survived the crash: any later run_pending refuses
    with pytest.raises(RuntimeError, match="interrupted mid-apply"):
        mig.run_pending(spark, base, _mig_list())

    # operator resolves: delete the marker, runs proceed and the marker
    # file never leaks into the parquet bookkeeping read
    import os

    marker = f"{base}/schema_version/_inflight_v1"
    assert os.path.exists(marker)
    os.remove(marker)
    assert mig.current_version(spark, base) == 0
    applied = mig.run_pending(spark, base, _mig_list())
    assert applied == ["add_body_mass_kg", "backfill_body_mass_kg"]
    assert mig.current_version(spark, base) == 2
    # markers cleaned up after successful records
    assert not [
        f for f in os.listdir(f"{base}/schema_version") if f.startswith("_inflight")
    ]
