"""``session.run_concurrently``: the one way the package starts Spark
work from threads of its own.  Results keep submission order, a
failure surfaces only after every thunk finished, no pool thread
outlives the call, and the jobs a thunk starts carry the caller's job
group and job tags."""

from __future__ import annotations

import threading
import time

import pytest

from garmin_performance_analysis_spark.session import run_concurrently


def test_results_come_back_in_submission_order(spark):
    def after(delay, value):
        def thunk():
            time.sleep(delay)
            return value

        return thunk

    # the first-submitted thunk finishes last
    assert run_concurrently(spark, after(0.3, "a"), after(0.1, "b"), after(0.0, "c")) == [
        "a",
        "b",
        "c",
    ]
    assert run_concurrently(spark, after(0.0, "only")) == ["only"]
    assert run_concurrently(spark) == []


def test_failure_waits_for_every_thunk_and_raises_the_first_submitted(spark):
    finished = []

    def slow_failure():
        time.sleep(0.3)
        raise ValueError("submitted first")

    def fast_failure():
        raise KeyError("failed first")

    def slow_success():
        time.sleep(0.5)
        finished.append(True)

    with pytest.raises(ValueError, match="submitted first"):
        run_concurrently(spark, slow_failure, fast_failure, slow_success)
    assert finished == [True]


def test_no_pool_thread_outlives_the_call(spark):
    seen = []

    def record():
        seen.append(threading.current_thread())
        time.sleep(0.05)

    run_concurrently(spark, record, record, record)
    assert len(seen) == 3
    assert all(t is not threading.main_thread() for t in seen)
    assert not any(t.is_alive() for t in seen)


def test_stage_batches_writes_stay_in_the_callers_job_group(spark, tmp_path):
    """A plain pool thread drops the caller's job group; the staging
    writes of a two-batch replay must be counted under it."""
    from garmin_performance_analysis_spark.streaming.replay import _stage_batches

    sc = spark.sparkContext
    group = "test-stage-batches-group"
    batches = [spark.range(i * 10, i * 10 + 5) for i in range(2)]
    sc.setJobGroup(group, group)
    try:
        _stage_batches(batches, str(tmp_path / "src"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    assert sorted((tmp_path / "src").iterdir()) == [
        tmp_path / "src" / "batch_00000.parquet",
        tmp_path / "src" / "batch_00001.parquet",
    ]


def test_a_build_whose_only_job_runs_in_the_pool_is_impure(spark, sf_dir):
    """``registry._checked_build`` counts a build's jobs by job tag; a
    job started through ``run_concurrently`` carries the tag, so the
    build is judged impure (and its plan is never reused)."""
    from garmin_performance_analysis_spark.harness.registry import _checked_build

    def build(spark, sf_dir):
        run_concurrently(spark, lambda: spark.range(3).count(), lambda: None)
        return spark.range(1)

    df, pure = _checked_build(build, spark, sf_dir)
    assert not pure
    assert df.count() == 1
