"""The loader's one-split rule (``sources.tables.scan_splits``): a table
that Spark scans as one split is planned as a single partition, so the
reads over it run in one stage; a table spanning several splits keeps
its exchanges."""

from __future__ import annotations

import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from garmin_performance_analysis_spark.harness.catalog import CATALOG
from garmin_performance_analysis_spark.pipelines.migrations import rewrite_table
from garmin_performance_analysis_spark.plans import checks
from garmin_performance_analysis_spark.session import call_scope
from garmin_performance_analysis_spark.sources.tables import load_table, scan_splits

from conftest import SF_CORRECTNESS, SF_SMOKE

_OPEN_COST = 4 * 1024 * 1024  # spark.sql.files.openCostInBytes default


def _doubles(n: int) -> pa.Table:
    return pa.table({"x": np.random.default_rng(n).random(n)})


def test_scan_splits_equals_sparks_own_partitioning(spark, tmp_path):
    small = str(tmp_path / "small.parquet")
    pq.write_table(_doubles(1_000), small)
    large = str(tmp_path / "large.parquet")
    pq.write_table(_doubles(700_000), large, compression="none")
    multi = tmp_path / "multi.parquet"
    os.makedirs(multi)
    for i in range(3):
        pq.write_table(_doubles(100 + i), multi / f"part-{i}.parquet")
    (multi / "_SUCCESS").touch()
    assert os.path.getsize(small) <= _OPEN_COST < os.path.getsize(large)

    splits = {}
    for path in (small, large, str(multi)):
        splits[path] = scan_splits(spark, path)
        assert splits[path] == spark.read.parquet(path).rdd.getNumPartitions(), path
    assert splits[small] == 1
    assert splits[large] > 1 and splits[str(multi)] > 1
    assert scan_splits(spark, str(tmp_path / "absent.parquet")) is None


def _exchanges(df) -> int:
    """Exchange nodes of every kind, broadcasts included."""
    return len(re.findall(r"^\(\d+\) \w*Exchange", checks.formatted_plan(df), re.M))


def _jobs_per_call(spark, name: str, sf_dir: str) -> int:
    sc = spark.sparkContext
    tag = f"single-split-{name}"
    with call_scope(spark):
        sc.addJobTag(tag)
        try:
            CATALOG[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        finally:
            sc.removeJobTag(tag)
    return len(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))


def test_small_table_reads_run_in_one_stage(spark):
    for name in ("w12_ewma_halflife", "t3_sustained_islands"):
        assert _exchanges(CATALOG[name].fn(spark, SF_CORRECTNESS)) == 0, name
        assert _jobs_per_call(spark, name, SF_CORRECTNESS) == 1, name


def test_multi_split_table_keeps_its_exchanges(spark, sf_multi_split):
    def grouped(sf_dir):
        return load_table(spark, sf_dir, "orders").groupBy("o_custkey").count()

    assert checks.count_shuffles(grouped(SF_SMOKE)) == 0
    assert checks.count_shuffles(grouped(sf_multi_split)) == 1
    assert _exchanges(CATALOG["t3_sustained_islands"].fn(spark, sf_multi_split)) > 0


def test_verdict_is_cached_with_the_relation_until_a_rewrite(spark, tmp_path):
    base = str(tmp_path)
    shutil.copy(os.path.join(SF_SMOKE, "region.parquet"), base)
    region = load_table(spark, base, "region")
    assert load_table(spark, base, "region") is region
    assert checks.count_shuffles(region.groupBy("r_name").count()) == 0

    # grow the table to three files: past one split
    grown = spark.range(0, 300, numPartitions=3).crossJoin(F.broadcast(region)).drop("id")
    rewrite_table(grown, os.path.join(base, "region.parquet"))
    assert scan_splits(spark, os.path.join(base, "region.parquet")) > 1
    region = load_table(spark, base, "region")
    assert region.count() == 5 * 300
    assert checks.count_shuffles(region.groupBy("r_name").count()) == 1
    assert region.select(F.count_distinct("r_name")).first()[0] == 5
