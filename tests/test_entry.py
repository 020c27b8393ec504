"""Driver-contract smoke tests for __spark_entry__.py."""

from __future__ import annotations

import importlib.util
import os

spec = importlib.util.spec_from_file_location(
    "spark_entry",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py"),
)
entry_mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry_mod)


def test_entry_runs_and_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_oracle_keys_subset_of_queries():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) > 0


def test_query_callables_accept_spark_and_sfdir(spark):
    q = entry_mod.queries()
    name = sorted(q)[0]
    df = q[name](spark, "/root/testdata/sf0.001")
    assert df.columns


_FOREIGN_CWD_SCRIPT = """
import importlib.util, sys
spec = importlib.util.spec_from_file_location("e", sys.argv[1])
m = importlib.util.module_from_spec(spec)
spec.loader.exec_module(m)
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "1g")
    .getOrCreate()
)
for name in sys.argv[3:]:
    print("ROWS", name, m.queries()[name](spark, sys.argv[2]).count())
spark.stop()
"""

# One entry per Python-worker UDF family: pandas_udf, mapInPandas,
# applyInPandas, and applyInPandasWithState (through the streaming
# replay scaffold).
_FOREIGN_CWD_ENTRIES = (
    "v9_semantic_dedup",
    "mm2_decoded_features",
    "c9_webdataset_roundtrip",
    "i8_stream_runs_replay",
)


def test_python_worker_entry_from_foreign_cwd(tmp_path, sf_dir):
    # a caller that loads the contract file by path, from its own cwd
    # and with its own session: an entry of every UDF family must still
    # find this package inside the Python workers
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            _FOREIGN_CWD_SCRIPT,
            os.path.join(repo, "__spark_entry__.py"),
            sf_dir,
            *_FOREIGN_CWD_ENTRIES,
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rows = dict(
        line.split()[1:]
        for line in proc.stdout.splitlines()
        if line.startswith("ROWS ")
    )
    assert rows.keys() == set(_FOREIGN_CWD_ENTRIES), proc.stdout
    assert rows["v9_semantic_dedup"] == "500"
    assert all(int(n) > 0 for n in rows.values()), rows


def test_default_driver_memory_is_half_the_host_capped_at_16g(monkeypatch):
    """No Spark: the heap default follows physical RAM."""
    from garmin_performance_analysis_spark import session

    page = 4096
    for ram_gb, want in [(15, f"{15 * 1024 // 2}m"), (32, "16384m"), (256, "16384m")]:
        conf = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram_gb * 1024**3 // page}
        monkeypatch.setattr(session.os, "sysconf", conf.__getitem__)
        assert session._default_driver_memory() == want


def test_get_spark_turns_off_call_site_capture(spark):
    """``get_spark`` disables PySpark's per-call origin capture; a
    runtime error keeps its error class without it."""
    import pytest
    from pyspark.errors import ArithmeticException
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        spark.range(3).select((F.col("id") / F.lit(0)).alias("q")).collect()


def test_call_site_capture_left_on_warns():
    """No Spark: a session whose static call-site conf is on (or unset,
    PySpark's default) gets one warning naming the conf and its cost;
    one built with it off gets none."""
    import warnings

    import pytest

    from garmin_performance_analysis_spark import session

    class Conf(dict):
        def get(self, key, default=None):
            return super().get(key, default)

    key = "spark.python.sql.dataFrameDebugging.enabled"
    for conf in (Conf({key: "true"}), Conf({key: "TRUE"}), Conf()):
        with pytest.warns(UserWarning, match=key) as caught:
            session._warn_on_call_site_capture(conf)
        assert len(caught) == 1 and "5 py4j round trips" in str(caught[0].message)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        session._warn_on_call_site_capture(Conf({key: "false"}))
