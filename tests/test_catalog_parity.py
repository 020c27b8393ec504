"""The correctness gate, run locally: every catalog query must match its
DuckDB oracle at sf0.001 (fast) — mirrors the driver's sf0.01 check."""

from __future__ import annotations

import pytest

from garmin_performance_analysis_spark.harness.catalog import CATALOG
from garmin_performance_analysis_spark.harness.compare import (
    compare_frames,
    duckdb_connection,
)
from garmin_performance_analysis_spark.session import call_scope

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def oracle_con():
    return duckdb_connection(SF_SMOKE)


@pytest.mark.parametrize("name", sorted(CATALOG))
def test_query_matches_oracle(name, spark, oracle_con):
    spec = CATALOG[name]
    # the scope releases what the call persisted, so the session does
    # not accumulate blocks over the sweep
    with call_scope(spark):
        spark_pdf = spec.fn(spark, SF_SMOKE).toPandas()
    if spec.oracle is None:
        assert len(spark_pdf) >= 0  # rows-only check (driver does the same)
        return
    oracle_pdf = oracle_con.sql(spec.oracle).df()
    # strict = the driver-faithful mode: dtype-sensitive, full-precision
    # (the tolerant default hid the round-4 e7/d10/t8 HUGEINT failures)
    res = compare_frames(name, spark_pdf, oracle_pdf, strict=True)
    assert res.ok, res.detail


def test_strict_mode_distinguishes_int_from_float():
    """The round-4 driver failure class: DuckDB HUGEINT sums land in
    pandas as float64 (271.0) while Spark returns int64 (271).  The
    tolerant comparator folds them together; strict mode must not."""
    import pandas as pd

    a = pd.DataFrame({"x": pd.array([271], dtype="int64")})
    b = pd.DataFrame({"x": pd.array([271.0], dtype="float64")})
    assert compare_frames("tolerant", a, b, strict=False).ok
    assert not compare_frames("strict", a, b, strict=True).ok


def test_strict_mode_full_precision():
    import pandas as pd

    a = pd.DataFrame({"x": [0.1234567001]})
    b = pd.DataFrame({"x": [0.1234567002]})
    assert compare_frames("tolerant", a, b, strict=False).ok  # 6dp rounding
    assert not compare_frames("strict", a, b, strict=True).ok


def test_every_query_returns_rows_at_sf001(spark):
    """Degenerate (0-row) results make the oracle check vacuous; each
    query should exercise real data at the smallest SF."""
    # g5: the 3-core of the generator graph is GENUINELY empty at
    # sf0.001 (measured: the peel empties in 3 rounds; at the driver's
    # sf0.01 the core is 873 nodes, so the driver row is non-vacuous).
    # An empty result here is the correct answer, oracle-confirmed.
    empty_ok = {"g5_kcore"}
    for name, spec in CATALOG.items():
        with call_scope(spark):
            n = spec.fn(spark, SF_SMOKE).count()
        if n == 0 and name not in empty_ok:
            pytest.fail(f"{name} returned 0 rows at sf0.001")


def test_null_shapes_normalize_identically():
    """pandas extension NA, NaT, and float32 NaN must all read as the
    same null as None/float64-NaN — in BOTH modes — or correct results
    false-fail when one frame carries extension dtypes (review r5)."""
    import numpy as np
    import pandas as pd

    a = pd.DataFrame({"x": pd.array([1, None], dtype="Int64")})
    b = pd.DataFrame({"x": [1.0, float("nan")]})
    assert compare_frames("tolerant", a, b, strict=False).ok
    # strict still flags the int-vs-float kind on the NON-null row
    res = compare_frames("strict", a, b, strict=True)
    assert not res.ok and "<null>" not in res.detail
    c = pd.DataFrame({"x": np.array([float("nan")], dtype="float32")})
    d = pd.DataFrame({"x": [float("nan")]})
    assert compare_frames("f32nan", c, d, strict=True).ok
    e = pd.DataFrame({"t": [pd.NaT]})
    f = pd.DataFrame({"t": [None]})
    assert compare_frames("nat", e, f, strict=True).ok


def test_sink_roundtrips_leave_no_scratch(spark, tmp_path, monkeypatch):
    """The per-call scratch dirs of the sink/source roundtrips and a
    streaming replay are gone when the entry returns, while the
    returned frame still collects (it was materialized inside the
    scoped dir)."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    for name in (
        "s5_export_roundtrip",
        "s8_csv_roundtrip",
        "s9_schema_evolution",
        "c9_webdataset_roundtrip",
        "i3_stream_window_replay",
    ):
        df = CATALOG[name].fn(spark, SF_SMOKE)
        assert list(tmp_path.iterdir()) == [], name
        assert len(df.collect()) > 0, name


def test_call_scope_releases_what_the_block_persisted(spark):
    """``session.call_scope`` unpersists every RDD persisted inside it:
    i1 (4 blocks per call), g8 (6) and v10b leave the session's
    persisted set as they found it and return an unscoped call's rows,
    and a block that raises still releases what it persisted."""
    from garmin_performance_analysis_spark.session import call_scope

    jsc = spark.sparkContext._jsc

    def persisted_after_release():
        # the blocks of earlier unscoped calls are unreachable, and the
        # context cleaner may drop them at any JVM GC: release them now
        # so the snapshot cannot shrink while the scope runs
        for rdd in jsc.getPersistentRDDs().values():
            rdd.unpersist(False)
        return set(jsc.getPersistentRDDs().keys())

    for name in (
        "i1_incremental_dedup_replay",
        "g8_hits",
        "v10b_ivf_query_path",
    ):
        fn = CATALOG[name].fn
        unscoped = sorted(repr(r) for r in fn(spark, SF_SMOKE).collect())
        before = persisted_after_release()
        with call_scope(spark):
            df = fn(spark, SF_SMOKE)  # held: its plan pins its blocks
            scoped = sorted(repr(r) for r in df.collect())
            assert set(jsc.getPersistentRDDs().keys()) > before, name
        assert set(jsc.getPersistentRDDs().keys()) == before, name
        assert scoped == unscoped, name

    before = persisted_after_release()
    with pytest.raises(RuntimeError, match="mid-call"):
        with call_scope(spark):
            df = CATALOG["g8_hits"].fn(spark, SF_SMOKE)
            df.collect()
            assert set(jsc.getPersistentRDDs().keys()) > before
            raise RuntimeError("mid-call failure")
    assert set(jsc.getPersistentRDDs().keys()) == before


def test_registered_artifact_rebuilds_when_its_dirs_are_gone(spark):
    """A registered artifact whose files were reclaimed or deleted is
    rebuilt on its next call, not read from a missing path: j15's
    bucketed tables, removed from the warehouse, come back with the
    same rows."""
    import os
    import shutil

    from garmin_performance_analysis_spark.sources.tables import _REGISTRY

    fn = CATALOG["j15_bucketed_colocated_join"].fn
    first = sorted(repr(r) for r in fn(spark, SF_SMOKE).collect())
    _, dirs = _REGISTRY[(spark.sparkContext, os.path.abspath(SF_SMOKE), "j15")]
    assert dirs
    for d in dirs:  # this session's tables only: others may share the warehouse
        shutil.rmtree(d)
    assert sorted(repr(r) for r in fn(spark, SF_SMOKE).collect()) == first


_READS = sorted(n for n, s in CATALOG.items() if "read" in s.tags)


def _normalized_optimized_plan(df) -> str:
    """The optimized plan with its per-build ids normalized away
    (expression ids, common-expression and lambda-variable names, plan
    ids, RDD ids, artifact hex tags)."""
    import re

    text = df._jdf.queryExecution().optimizedPlan().toString()
    text = re.sub(r"#\d+L?", "#", text)
    text = re.sub(r"_common_expr_\d+", "_common_expr_", text)
    text = re.sub(r"(lambda \w+?)_\d+#", r"\1_#", text)
    text = re.sub(r",? ?\[plan_id=\d+\]", "", text)
    text = re.sub(r"RDD \d+", "RDD", text)
    return re.sub(r"_[0-9a-f]{8}\b", "_<hex>", text)


def test_reused_plans_match_a_fresh_build(spark):
    """Every read entry, called a third time, has the optimized plan of
    a fresh build of its raw function; each one served from a reused
    plan also returns the fresh build's rows."""
    from garmin_performance_analysis_spark.harness.registry import serves_reused_plan

    reused, plan_differs, rows_differ = [], [], []
    for name in _READS:
        spec = CATALOG[name]
        with call_scope(spark):
            spec.fn(spark, SF_SMOKE)
            spec.fn(spark, SF_SMOKE)  # the second call decides
            hit = serves_reused_plan(spark, SF_SMOKE, name)
            third = spec.fn(spark, SF_SMOKE)
            fresh = spec.fn.__wrapped__(spark, SF_SMOKE)
            if _normalized_optimized_plan(third) != _normalized_optimized_plan(fresh):
                plan_differs.append(name)
            if hit:
                reused.append(name)
                if sorted(map(repr, third.collect())) != sorted(map(repr, fresh.collect())):
                    rows_differ.append(name)
    assert plan_differs == [] and rows_differ == []
    # the three reads of perfbench's interactive workload are pure
    assert {"w12_ewma_halflife", "t3_sustained_islands", "d10_performance_trends"} <= set(reused)


def test_ingest_entries_never_store_a_plan(spark):
    """s8 (a CSV sink/source roundtrip) and i3 (a streaming replay)
    run jobs and read scratch files while they build: their second call
    marks them ineligible and no call is served from a plan."""
    from garmin_performance_analysis_spark.harness.registry import serves_reused_plan
    from garmin_performance_analysis_spark.sources.tables import _REGISTRY, plan_key

    for name in ("s8_csv_roundtrip", "i3_stream_window_replay"):
        for _ in range(3):
            with call_scope(spark):
                assert not serves_reused_plan(spark, SF_SMOKE, name), name
                assert len(CATALOG[name].fn(spark, SF_SMOKE).collect()) > 0, name
        assert _REGISTRY[plan_key(spark, SF_SMOKE, name)] == ("ineligible", ()), name


def _job_tasks(spark, tag: str) -> int:
    """Tasks completed by the jobs that ran under job tag ``tag``."""
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    done = 0
    for job in tracker.getJobIdsForTag(tag):
        for stage in tracker.getJobInfo(job).get().stageIds():
            info = tracker.getStageInfo(stage)
            if info.isDefined():
                done += info.get().numCompletedTasks()
    return done


def test_each_hit_is_a_new_frame_with_its_own_execution(spark, sf_multi_split):
    """Two calls served from t3's reused plan are two DataFrames over
    one analyzed plan, each with its own QueryExecution, so the second
    ``toPandas`` runs every task again instead of reusing the first
    call's shuffle outputs (re-running one frame does reuse them).  Runs
    on the two-file tables: over one-split tables t3 plans no shuffle."""
    from garmin_performance_analysis_spark.harness.registry import serves_reused_plan

    name = "t3_sustained_islands"
    fn = CATALOG[name].fn
    sc = spark.sparkContext
    identity = sc._jvm.System.identityHashCode
    with call_scope(spark):
        while not serves_reused_plan(spark, sf_multi_split, name):
            fn(spark, sf_multi_split)
        a, b = fn(spark, sf_multi_split), fn(spark, sf_multi_split)
        qa, qb = a._jdf.queryExecution(), b._jdf.queryExecution()
        assert a is not b and not qa.equals(qb)
        assert identity(qa.analyzed()) == identity(qb.analyzed())
        tasks = []
        for i, df in enumerate((a, b, a)):
            tag = f"hit-execution-{i}"
            sc.addJobTag(tag)
            try:
                pdf = df.toPandas()
            finally:
                sc.removeJobTag(tag)
            tasks.append(_job_tasks(spark, tag))
        assert len(pdf) > 0
    # control: running ``a`` again reuses its shuffle outputs, so it
    # completes fewer tasks; the second hit does not
    assert tasks[1] == tasks[0] > tasks[2], tasks


def test_reused_plan_follows_rewrite_table(spark, tmp_path):
    """After ``rewrite_table`` on a copy of sf0.001, t3's next call is
    built again over the rewritten lineitem: it equals a fresh build of
    the raw function and differs from the answer before the rewrite."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from garmin_performance_analysis_spark.harness.registry import serves_reused_plan
    from garmin_performance_analysis_spark.pipelines.migrations import rewrite_table
    from garmin_performance_analysis_spark.sources.tables import load_table

    base = str(tmp_path)
    shutil.copy(os.path.join(SF_SMOKE, "lineitem.parquet"), base)
    fn = CATALOG["t3_sustained_islands"].fn
    for _ in range(3):
        before = sorted(map(repr, fn(spark, base).collect()))
    assert serves_reused_plan(spark, base, "t3_sustained_islands")
    lineitem = load_table(spark, base, "lineitem")
    rewrite_table(lineitem.filter(F.col("l_orderkey") % 2 == 0), os.path.join(base, "lineitem.parquet"))
    assert not serves_reused_plan(spark, base, "t3_sustained_islands")
    after = sorted(map(repr, fn(spark, base).collect()))
    assert after == sorted(map(repr, fn.__wrapped__(spark, base).collect()))
    assert after != before


def test_new_session_resolves_its_own_plan(spark):
    """A ``spark.newSession()`` gets its own plan entry: its calls do
    not reuse the parent session's analyzed plan, and return its rows."""
    from garmin_performance_analysis_spark.sources.tables import _REGISTRY, plan_key

    name = "w12_ewma_halflife"
    fn = CATALOG[name].fn

    def third_call_rows(session):
        fn(session, SF_SMOKE)
        fn(session, SF_SMOKE)
        return sorted(map(repr, fn(session, SF_SMOKE).collect()))

    other = spark.newSession()
    assert third_call_rows(other) == third_call_rows(spark)
    mine = _REGISTRY[plan_key(spark, SF_SMOKE, name)][0]
    theirs = _REGISTRY[plan_key(other, SF_SMOKE, name)][0]
    assert isinstance(mine, tuple) and isinstance(theirs, tuple)
    identity = spark.sparkContext._jvm.System.identityHashCode
    assert identity(mine[1]) != identity(theirs[1])
