"""Tests for the reference-domain layer: enrichment bands (D1-D7),
phase estimation (D6), baselines (M5/M6), injury risk (M12), VDOT (M7),
bronze readers (S1-S2), incremental ingest (S4), export guard (S5)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from garmin_performance_analysis_spark.functions import bands, conversions, vdot
from garmin_performance_analysis_spark.operators import risk
from garmin_performance_analysis_spark.operators.baselines import (
    train_gct_power_baselines,
    train_linear_baselines,
)
from garmin_performance_analysis_spark.operators.export import (
    ExportRowLimitExceeded,
    guarded_export,
)
from garmin_performance_analysis_spark.operators.phase_estimation import (
    estimate_intensity,
)
from garmin_performance_analysis_spark.sources.raw_json import (
    pivot_time_series,
    read_hr_zones,
    read_splits,
)
from garmin_performance_analysis_spark.streaming.ingest import incremental_append

FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "fixtures", "raw", "activity", "12345678901",
)


# ---- D1-D7 bands ----------------------------------------------------------


def test_hr_zone_bounds_and_overflow(spark):
    zones = [(1, 97, 116), (2, 117, 136), (3, 137, 155), (4, 156, 175), (5, 176, 195)]
    df = spark.createDataFrame([(90.0,), (120.0,), (200.0,), (None,)], "hr double")
    out = [r[0] for r in df.select(bands.hr_zone(F.col("hr"), zones)).collect()]
    assert out == ["Zone 0 (Recovery)", "Zone 2", "Zone 5+ (Max)", None]


def test_cadence_rating_bands(spark):
    df = spark.createDataFrame([(165.0,), (175.0,), (185.0,), (195.0,)], "c double")
    out = [r[0] for r in df.select(bands.cadence_rating(F.col("c"))).collect()]
    assert out == [
        "Low (165 spm, target 180+)",
        "Good (175 spm)",
        "Excellent (185 spm)",
        "Elite (195 spm)",
    ]


def test_terrain_japanese_labels(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0), (5.0, 5.0), (10.0, 15.0), (30.0, 20.0)], "g double, l double"
    )
    out = [r[0] for r in df.select(bands.terrain_type(F.col("g"), F.col("l"))).collect()]
    assert out == ["平坦", "起伏", "丘陵", "山岳"]


def test_environmental_conditions_composition(spark):
    df = spark.createDataFrame([(26.0, 20.0, 85.0)], "t double, w double, h double")
    out = df.select(
        bands.environmental_conditions(F.col("t"), F.col("w"), F.col("h"))
    ).first()[0]
    assert out == "Hot (26°C), Windy (20 km/h), Humid (85%)"


def test_wind_impact_directional(spark):
    df = spark.createDataFrame(
        [(10.0, 10.0), (10.0, 180.0), (10.0, 90.0), (3.0, None), (20.0, None)],
        "s double, d double",
    )
    out = [r[0] for r in df.select(bands.wind_impact(F.col("s"), F.col("d"))).collect()]
    assert out[0].startswith("Moderate headwind")
    assert out[1].startswith("Moderate tailwind")
    assert out[2].startswith("Moderate crosswind")
    assert out[3] == "Minimal (<5 km/h)"
    assert out[4].startswith("Significant")


def test_role_phase_mapping(spark):
    df = spark.createDataFrame(
        [("WARMUP",), ("INTERVAL",), ("ACTIVE",), ("RECOVERY",), ("COOLDOWN",), ("REST",)],
        "it string",
    )
    out = [r[0] for r in df.select(bands.role_phase(F.col("it"))).collect()]
    assert out == ["warmup", "run", "run", "recovery", "cooldown", None]


def test_pace_str_format(spark):
    df = spark.createDataFrame([(305.4,), (359.6,)], "p double")
    out = [r[0] for r in df.select(conversions.pace_str(F.col("p"))).collect()]
    assert out == ["5:05", "6:00"]


# ---- D6 heuristic intensity estimation ------------------------------------


def test_estimate_intensity_structure(spark):
    # 8 splits: warmup×2, fast interval, slow recovery, fast, active, cooldown×2
    rows = [
        (1, 1, 130.0, 420.0),
        (1, 2, 140.0, 400.0),
        (1, 3, 175.0, 250.0),
        (1, 4, 150.0, 430.0),
        (1, 5, 176.0, 250.0),
        (1, 6, 150.0, 360.0),
        (1, 7, 140.0, 420.0),
        (1, 8, 130.0, 430.0),
    ]
    df = spark.createDataFrame(
        rows, "activity_id long, split_index int, avg_heart_rate double, pace_seconds_per_km double"
    )
    out = {
        r["split_index"]: r["estimated_intensity"]
        for r in estimate_intensity(df).collect()
    }
    assert out[1] == "WARMUP" and out[2] == "WARMUP"
    assert out[3] == "INTERVAL"
    assert out[4] == "RECOVERY"  # slow after interval
    assert out[5] == "INTERVAL"
    assert out[7] == "COOLDOWN" and out[8] == "COOLDOWN"


# ---- M5 baselines ---------------------------------------------------------


def _splits_frame(spark, n=120):
    import math
    import random

    rnd = random.Random(7)
    rows = []
    for i in range(n):
        speed = 2.0 + 4.0 * i / n  # 2.0 .. 6.0 m/s
        # power law ln v = 8.31 - 1.3 ln GCT  ->  GCT ~350ms at 2 m/s, ~150ms at 6 m/s
        gct = math.exp((8.31 - math.log(speed)) / 1.3) + rnd.uniform(-5, 5)
        vo = 12.0 - 0.8 * speed + rnd.uniform(-0.2, 0.2)
        rows.append(("2024-01", float(gct), float(speed), float(vo)))
    return spark.createDataFrame(
        rows, "window string, ground_contact_time double, speed_mps double, vo double"
    )


def test_gct_power_baseline_monotonic(spark):
    out = train_gct_power_baselines(_splits_frame(spark), ["window"], min_samples=50).collect()
    assert len(out) == 1
    r = out[0]
    assert r["d"] < 0  # monotonicity enforced
    assert r["n_samples"] >= 50
    assert r["rmse"] < 0.2


def test_linear_baseline_slope_sign(spark):
    out = train_linear_baselines(
        _splits_frame(spark), ["window"], "vo", "vo", min_samples=50
    ).collect()
    assert len(out) == 1
    assert out[0]["coef_b"] == pytest.approx(-0.8, abs=0.15)


def test_baseline_insufficient_samples_dropped(spark):
    small = _splits_frame(spark, n=10)
    assert train_gct_power_baselines(small, ["window"], min_samples=50).count() == 0


# ---- M12 injury risk ------------------------------------------------------


def test_injury_risk_ramps_and_renormalization(spark):
    df = spark.createDataFrame(
        [
            (1.0, 0.0, 0.0, 0.0, 0.0),   # all safe -> 0 low
            (2.0, 1.9, 1.0, 1.0, 1.0),   # all saturated -> 100 high
            (3.0, 1.5, None, None, None),  # only ACWR available -> renormalized
        ],
        "athlete double, acwr double, durability_risk double, wellness_risk double, form_risk double",
    )
    scored = risk.composite_injury_risk(
        df.withColumn("acwr_risk", risk.acwr_risk(F.col("acwr"))).drop("acwr")
    )
    rows = {r["athlete"]: r for r in scored.collect()}
    assert rows[1.0]["injury_risk_score"] == 0.0 and rows[1.0]["injury_risk_band"] == "low"
    assert rows[2.0]["injury_risk_score"] == 100.0 and rows[2.0]["injury_risk_band"] == "high"
    # ACWR 1.5 -> 0.5 risk; only factor available -> score 50, moderate
    assert rows[3.0]["injury_risk_score"] == pytest.approx(50.0)
    assert rows[3.0]["injury_risk_band"] == "moderate"


# ---- M7 VDOT --------------------------------------------------------------


def test_vdot_race_roundtrip():
    v = vdot.race_vdot_py(10000.0, 40.0)  # 40-min 10k
    assert 50 < v < 60
    t = vdot.predict_race_time_s(v, 10000.0)
    assert abs(t - 2400) <= 2  # binary search recovers the input to ~1 s


def test_vdot_pace_zones_ordering():
    zones = vdot.pace_zones_from_vdot(50.0)
    assert zones["easy"] > zones["marathon"] > zones["threshold"] > zones["interval"]


def test_vdot_column_matches_python(spark):
    df = spark.createDataFrame([(10000.0, 40.0)], "d double, t double")
    col_v = df.select(vdot.race_vdot(F.col("d"), F.col("t"))).first()[0]
    assert col_v == pytest.approx(vdot.race_vdot_py(10000.0, 40.0), abs=1e-9)


# ---- S1/S2 bronze readers -------------------------------------------------


def test_read_splits_fixture(spark):
    df = read_splits(spark, os.path.join(FIXTURE_DIR, "splits.json"), 12345678901)
    rows = df.collect()
    assert len(rows) >= 3
    assert rows[0]["lapIndex"] == 1
    assert rows[0]["intensityType"] == "WARMUP"
    assert rows[0]["activity_id"] == 12345678901


def test_read_hr_zones_fixture(spark):
    df = read_hr_zones(spark, os.path.join(FIXTURE_DIR, "hr_zones.json"), 12345678901)
    rows = df.orderBy("zone_number").collect()
    assert [r["zone_number"] for r in rows] == [1, 2, 3, 4, 5]


def test_pivot_time_series_applies_factor(spark):
    df = pivot_time_series(spark, os.path.join(FIXTURE_DIR, "activity_details.json"))
    first = {
        r["metric_key"]: r["value"]
        for r in df.filter(F.col("seq_no") == 0).collect()
    }
    assert first["directHeartRate"] == 120.0
    assert first["directSpeed"] == pytest.approx(3.0)  # 30 * factor 0.1


# ---- S4 incremental ingest / S5 export ------------------------------------


def test_incremental_append_idempotent(spark, tmp_path):
    sink = str(tmp_path / "sink")
    src1 = spark.createDataFrame([(1, "2024-01-01"), (2, "2024-01-02")], "id long, d string")
    assert incremental_append(src1, spark, sink, "d") == 2
    # re-run with same data: no-op
    assert incremental_append(src1, spark, sink, "d") == 0
    # new data: only the fresh row appends
    src2 = spark.createDataFrame(
        [(2, "2024-01-02"), (3, "2024-01-03")], "id long, d string"
    )
    assert incremental_append(src2, spark, sink, "d") == 1
    assert spark.read.parquet(sink).count() == 3


def test_export_guard_blocks_oversize(spark, tmp_path):
    df = spark.range(1000)
    with pytest.raises(ExportRowLimitExceeded):
        guarded_export(df, str(tmp_path / "out"), max_rows=100)
    n = guarded_export(df.limit(50), str(tmp_path / "out"), max_rows=100)
    assert n == 50
