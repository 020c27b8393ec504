from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from garmin_performance_analysis_spark.session import get_spark  # noqa: E402
from garmin_performance_analysis_spark.sources.tables import TABLE_NAMES  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("pytest")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_multi_split(tmp_path_factory):
    """The sf0.001 tables, each rewritten as two parquet files in a
    fresh sf_dir.  The loader plans a table Spark scans as one split
    as a single partition, with no exchange above the scan; two files
    are two splits, so plan-shape tests that pin the exchanges of a
    table spanning several splits run here."""
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("sf_multi_split")
    for name in TABLE_NAMES:
        table = pq.read_table(os.path.join(SF_SMOKE, f"{name}.parquet"))
        half = table.num_rows // 2
        os.makedirs(out / f"{name}.parquet")
        for i, part in enumerate((table.slice(0, half), table.slice(half))):
            pq.write_table(part, out / f"{name}.parquet" / f"part-{i}.parquet")
    return str(out)
