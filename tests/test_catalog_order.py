"""Catalog order, bench split and parity filter selection (no Spark)."""

from __future__ import annotations

import importlib.util
import os

import pytest

import bench
from garmin_performance_analysis_spark.harness.catalog import (
    CATALOG,
    ORDER,
    apply_order,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_parity():
    spec = importlib.util.spec_from_file_location(
        "check_parity", os.path.join(REPO, "scripts", "check_parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_order_names_every_entry_once_and_fronts_the_window():
    assert len(ORDER) == len(set(ORDER))
    assert set(ORDER) == set(CATALOG)
    assert list(CATALOG) == list(ORDER)
    assert list(CATALOG)[:50] == list(ORDER[:50])


def test_apply_order_rejects_bad_names_and_keeps_unlisted_last():
    catalog = {"a": 1, "b": 2, "c": 3, "d": 4}
    apply_order(catalog, ("c", "a"))
    assert list(catalog) == ["c", "a", "b", "d"]
    with pytest.raises(ValueError, match="duplicate"):
        apply_order(catalog, ("a", "a"))
    with pytest.raises(ValueError, match="unknown"):
        apply_order(catalog, ("a", "zz"))


def test_headline_entries_carry_exactly_one_split_tag():
    for name in bench.HEADLINE:
        assert len({"read", "batch"} & set(CATALOG[name].tags)) == 1, name
    reads = [n for n in bench.HEADLINE if n not in bench.BATCH_JOBS]
    assert (len(reads), len(bench.BATCH_JOBS)) == (89, 93)
    assert bench.BATCH_JOBS <= set(bench.HEADLINE)


def test_parity_filters_select_a_union_and_reject_unmatched():
    select = _check_parity().select
    items = list(CATALOG.items())
    picked = [n for n, _ in select(items, ["mm7", "t16_", "t17_"])]
    assert picked == [
        n for n in CATALOG if "mm7" in n or "t16_" in n or "t17_" in n
    ]
    assert len(picked) == 3
    assert len(select(items, [])) == len(items)
    with pytest.raises(ValueError, match="no_such_entry"):
        select(items, ["q1", "no_such_entry"])
