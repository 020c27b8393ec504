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
