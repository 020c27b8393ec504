"""The reference's query-tool surface as a Spark-native API facade.

The reference registers ~57 tools once and serves them over MCP + CLI +
web (``mcp/tools/registry.py:175-195``; ``docs/mcp-tools-reference.md``).
Here each tool is a method on :class:`GarminTools`, a thin delegation
to the operator library over the silver tables — one lazily-built
DataFrame plan per call, exactly the mapping SURVEY.md §3.1 prescribes
(tool registry → API module; the shim/worker process split dissolves
into Spark's driver/executor split).

``GarminTools`` takes the silver tables as DataFrames (from parquet, a
catalog, or the bronze readers) so the same facade runs on a laptop
fixture or a 1000-executor cluster unchanged.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import vdot as vdot_fns
from .functions.datetime_funcs import day_number, month_bucket, week_start
from .operators import stats as stats_ops
from .operators import topk as topk_ops
from .operators import windows as window_ops
from .operators.anomaly import classify_anomaly_causes, detect_anomalies
from .operators.baselines import train_gct_power_baselines, train_linear_baselines
from .operators.efforts import (
    critical_speed_fit,
    interval_fatigue,
    interval_segments,
    work_recovery_comparison,
)
from .operators.export import guarded_export, sql_passthrough
from .operators.fitness import objective_fitness_curve, race_prediction_blend
from .operators.fragility import loo_slope_fragility
from .operators.joins import (
    backward_asof_join,
    missing_children_having,
    nearest_date_asof_join,
)
from .operators.regression import linregress_by_group, ols2_by_group
from .session import ship_package_path


class GarminTools:
    """Read-tool facade over the silver tables.

    Every method returns a lazy DataFrame; callers decide when to act.
    Method names follow the reference's tool names
    (``docs/mcp-tools-reference.md``) so a reference user can map their
    workflow 1:1.
    """

    def __init__(self, spark: SparkSession, tables: dict[str, DataFrame]):
        ship_package_path(spark)
        self.spark = spark
        self.t = tables

    # -- metadata / point lookups (P1-P9) --------------------------------

    def get_activity(self, activity_id: int) -> DataFrame:
        return self.t["activities"].filter(F.col("activity_id") == activity_id)

    def get_activities_by_date_range(self, start: str, end: str) -> DataFrame:
        return self.t["activities"].filter(
            F.col("activity_date").between(start, end)
        )

    def get_activities_bulk(self, activity_ids: Sequence[int]) -> DataFrame:
        return self.t["activities"].filter(F.col("activity_id").isin(list(activity_ids)))

    # -- splits statistics (A1 family) -----------------------------------

    def get_splits_comprehensive(
        self, activity_id: int, statistics_only: bool = False
    ) -> DataFrame:
        splits = self.t["splits"].filter(F.col("activity_id") == activity_id)
        if not statistics_only:
            return splits.orderBy("split_index")
        return stats_ops.five_stat_block(
            splits,
            ["activity_id"],
            ["pace_seconds_per_km", "heart_rate", "cadence", "power"],
        )

    def get_splits_pace_hr(self, activity_id: int) -> DataFrame:
        return stats_ops.five_stat_block(
            self.t["splits"].filter(F.col("activity_id") == activity_id),
            ["activity_id"],
            ["pace_seconds_per_km", "heart_rate"],
        )

    def get_splits_form_metrics(self, activity_id: int) -> DataFrame:
        return stats_ops.five_stat_block(
            self.t["splits"].filter(F.col("activity_id") == activity_id),
            ["activity_id"],
            ["ground_contact_time", "vertical_oscillation", "vertical_ratio"],
        )

    def get_splits_elevation(self, activity_id: int) -> DataFrame:
        return stats_ops.five_stat_block(
            self.t["splits"].filter(F.col("activity_id") == activity_id),
            ["activity_id"],
            ["elevation_gain", "elevation_loss"],
        )

    # -- time series (A2, T1, W4, W10) -----------------------------------

    def get_time_series_stats(
        self, activity_id: int, t0: int, t1: int, metrics: Sequence[str]
    ) -> DataFrame:
        ts = self.t["time_series_metrics"].filter(F.col("activity_id") == activity_id)
        return stats_ops.time_range_stats(ts, "timestamp_s", t0, t1, metrics)

    def detect_time_series_outliers(
        self, activity_id: int, metric: str, z_threshold: float = 3.0
    ) -> DataFrame:
        ts = self.t["time_series_metrics"].filter(F.col("activity_id") == activity_id)
        return window_ops.zscore_outliers(ts, ["activity_id"], metric, z_threshold)

    def downsample_time_series(self, activity_id: int, max_points: int = 500) -> DataFrame:
        ts = self.t["time_series_metrics"].filter(F.col("activity_id") == activity_id)
        return window_ops.downsample(ts, ["activity_id"], "timestamp_s", max_points)

    # -- training load / calendar (A4, A5, W5) ---------------------------

    def get_daily_load(self) -> DataFrame:
        return self.t["activities"].groupBy(
            F.col("activity_date").alias("date")
        ).agg(F.coalesce(F.sum("total_distance_km"), F.lit(0.0)).alias("total_distance_km"))

    def get_acwr(self) -> DataFrame:
        daily = self.get_daily_load().withColumn(
            "dn", day_number(F.col("date"))
        )
        acute = window_ops.rolling_range_sum(daily, [], "dn", "total_distance_km", 6, "acute")
        both = window_ops.rolling_range_sum(acute, [], "dn", "total_distance_km", 27, "c28")
        return both.withColumn("chronic", F.col("c28") / 4.0).withColumn(
            "acwr", F.when(F.col("c28") > 0, F.col("acute") / (F.col("c28") / 4.0))
        )

    def get_weekly_volume(self, start_day: int = 0) -> DataFrame:
        return self.t["activities"].groupBy(
            week_start(F.col("activity_date"), start_day).alias("week_start")
        ).agg(
            F.sum("total_distance_km").alias("total_distance_km"),
            F.count(F.lit(1)).alias("n_activities"),
        )

    def get_monthly_volume(self) -> DataFrame:
        return self.t["activities"].groupBy(
            month_bucket(F.col("activity_date")).alias("month")
        ).agg(
            F.sum("total_distance_km").alias("total_distance_km"),
            F.count(F.lit(1)).alias("n_activities"),
        )

    # -- durability / decoupling (A6/W9) ---------------------------------

    def get_durability_decoupling(self, activity_id: int) -> DataFrame:
        ts = self.t["time_series_metrics"].filter(
            (F.col("activity_id") == activity_id)
            & F.col("heart_rate").isNotNull()
            & (F.col("speed") > 0)
        )
        return stats_ops.conditional_halves(
            ts, ["activity_id"], "timestamp_s", ["heart_rate", "speed"]
        )

    # -- versioned reads / completeness (W2, J4) -------------------------

    def get_latest_weekly_review(self) -> DataFrame:
        return window_ops.latest_per_key(
            self.t["weekly_reviews"],
            ["week_start_date"],
            [F.col("created_at").desc(), F.col("review_id").desc()],
        )

    def find_unanalyzed_activities(self, required_sections: int = 5) -> DataFrame:
        return missing_children_having(
            self.t["activities"],
            self.t["section_analyses"],
            "activity_id",
            "section_type",
            required_sections,
        )

    # -- as-of joins (J7-J9) ---------------------------------------------

    def activities_with_nearest_weight(self, max_gap_days: int = 14) -> DataFrame:
        return nearest_date_asof_join(
            self.t["activities"],
            self.t["body_composition"],
            left_id_cols=["activity_id"],
            join_keys=[],
            left_date="activity_date",
            right_date="date",
            max_gap_days=max_gap_days,
            right_tiebreak="measurement_id",
        )

    def vo2max_asof(self) -> DataFrame:
        return backward_asof_join(
            self.t["activities"].select("activity_id", "activity_date"),
            self.t["vo2_max"].select(
                F.col("date"), F.col("precise_value").alias("vo2max_value")
            ),
            keys=[],
            left_on="activity_date",
            right_on="date",
            value_cols=["vo2max_value"],
        )

    # -- regressions / models (M1-M5) ------------------------------------

    def metric_trend(self, df: DataFrame, group_cols: Sequence[str], x: str, y: str) -> DataFrame:
        return linregress_by_group(df, group_cols, x, y)

    def trend_fragility(self, df: DataFrame, group_cols: Sequence[str], x: str, y: str) -> DataFrame:
        return loo_slope_fragility(df, group_cols, x, y)

    def heat_model(self, df: DataFrame, group_cols: Sequence[str], pace: str, temp: str, hr: str) -> DataFrame:
        hinged = df.withColumn("_excess_temp", F.greatest(F.col(temp) - 15.0, F.lit(0.0)))
        return ols2_by_group(hinged, group_cols, pace, "_excess_temp", hr)

    def train_form_baselines(self, window_col: str = "window") -> dict[str, DataFrame]:
        splits = self.t["splits"]
        return {
            "gct": train_gct_power_baselines(splits, [window_col]),
            "vo": train_linear_baselines(splits, [window_col], "vo", "vertical_oscillation"),
            "vr": train_linear_baselines(splits, [window_col], "vr", "vertical_ratio"),
            "cadence": train_linear_baselines(splits, [window_col], "cadence", "cadence"),
        }

    # -- fitness (M7-M11) ------------------------------------------------

    def race_vdot(self, distance_m: float, t_min: float) -> float:
        return vdot_fns.race_vdot_py(distance_m, t_min)

    def predict_race_time(self, vdot: float, distance_m: float) -> float:
        return vdot_fns.predict_race_time_s(vdot, distance_m)

    def critical_speed(self, efforts: DataFrame, group_cols: Sequence[str]) -> DataFrame:
        return critical_speed_fit(efforts, group_cols, "t_min", "d_m")

    def fitness_curve(self, daily_vdot: DataFrame) -> DataFrame:
        return objective_fitness_curve(daily_vdot)

    def blended_race_prediction(
        self, predictions: DataFrame, curve_col: str, vdot_col: str
    ) -> DataFrame:
        blended, conf = race_prediction_blend(F.col(curve_col), F.col(vdot_col))
        return predictions.withColumn("predicted_time_s", blended).withColumn(
            "confidence", conf
        )

    # -- similarity / anomalies / intervals (M13, T2-T6) -----------------

    def find_similar_activities(
        self, target_pace: float, target_distance: float, k: int = 5
    ) -> DataFrame:
        scored = topk_ops.weighted_similarity(
            self.t["activities"],
            target={"avg_pace_seconds_per_km": target_pace, "total_distance_km": target_distance},
            weights={"avg_pace_seconds_per_km": 0.45 / 0.8, "total_distance_km": 0.35 / 0.8},
            scales={"avg_pace_seconds_per_km": target_pace, "total_distance_km": target_distance},
        )
        return scored.orderBy(
            F.col("similarity_score").desc(), F.col("activity_id").asc()
        ).limit(k)

    def detect_form_anomalies(
        self, activity_id: int, metric: str, magnitude_gate: float, z: float = 3.0
    ) -> DataFrame:
        ts = self.t["time_series_metrics"].filter(F.col("activity_id") == activity_id)
        return detect_anomalies(
            ts,
            ["activity_id"],
            "timestamp_s",
            metric,
            z_threshold=z,
            magnitude_gate=magnitude_gate,
            max_gap=2,
            min_span=5,
        )

    def interval_analysis(self, activity_id: int) -> DataFrame:
        splits = self.t["splits"].filter(F.col("activity_id") == activity_id)
        segs = interval_segments(
            splits,
            ["activity_id"],
            "split_index",
            F.upper(F.col("intensity_type")).isin("ACTIVE", "INTERVAL"),
        )
        return interval_fatigue(segs, ["activity_id"], "pace_seconds_per_km")

    def interval_work_recovery(
        self, activity_id: int, time_col: str = "start_time_s"
    ) -> DataFrame:
        """``get_interval_analysis``'s work_recovery_comparison block:
        per-rep pairing, mean work/recovery HR, HR recovery rate
        bpm/min (``interval_analysis.py:149-329``)."""
        splits = self.t["splits"].filter(F.col("activity_id") == activity_id)
        segs = interval_segments(
            splits,
            ["activity_id"],
            "split_index",
            F.upper(F.col("intensity_type")).isin("ACTIVE", "INTERVAL"),
        )
        segs = segs.withColumn(
            "_dur_s", F.col("end_time_s") - F.col("start_time_s")
        )
        return work_recovery_comparison(
            segs, ["activity_id"], "heart_rate", time_col, duration_col="_dur_s"
        )

    # reference magnitude gates / degradation triggers
    # (form_anomaly_detector.py:31-45), keyed by silver column names
    FORM_GATES = {
        "vertical_oscillation": 0.5,
        "ground_contact_time": 10.0,
        "vertical_ratio": 0.3,
    }

    def get_form_anomaly_causes(
        self,
        activity_id: int,
        metrics: Sequence[str] = (
            "ground_contact_time",
            "vertical_oscillation",
            "vertical_ratio",
        ),
        elevation_col: str = "elevation",
        pace_col: str = "pace_min_per_km",
        hr_col: str = "heart_rate",
        z: float = 3.0,
    ) -> DataFrame:
        """``get_form_anomaly_details`` with the FULL cause surface:
        elevation/pace/fatigue priority chain, correlations, ±30 s
        context and severity per anomaly (``form_anomaly_detector.py:
        181-215,330-520``).  Uses whichever of the metric/context
        columns exist on ``time_series_metrics``."""
        ts = self.t["time_series_metrics"].filter(
            F.col("activity_id") == activity_id
        )
        cols = set(ts.columns)
        use = [m for m in metrics if m in cols]
        if not use:
            raise ValueError(
                f"none of the requested form metrics {tuple(metrics)} exist "
                f"on time_series_metrics (columns: {sorted(cols)})"
            )
        stack = ", ".join(f"'{m}', cast({m} as double)" for m in use)
        form = ts.selectExpr(
            "activity_id",
            "timestamp_s as sec",
            f"stack({len(use)}, {stack}) as (metric, value)",
        ).filter(F.col("value").isNotNull()).select(
            "activity_id", "metric", F.col("sec").cast("long").alias("sec"), "value"
        )
        branches = [
            form.select(
                "activity_id", F.col("metric").alias("series"), "sec",
                F.col("value").alias("val"),
            )
        ]
        for series, col in (
            ("elevation", elevation_col),
            ("pace", pace_col),
            ("hr", hr_col),
        ):
            if col in cols:
                branches.append(
                    ts.select(
                        "activity_id",
                        F.lit(series).alias("series"),
                        F.col("timestamp_s").cast("long").alias("sec"),
                        F.col(col).cast("double").alias("val"),
                    ).filter(F.col("val").isNotNull())
                )
        context = branches[0]
        for b in branches[1:]:
            context = context.unionByName(b)
        # frame="range": timestamp_s is activity-relative seconds (the
        # silver schema mirrors the reference's dense per-second rows,
        # timestamp_s starting at 0) but null metrics were dropped, so
        # second-based windows — not row counts — are the faithful
        # semantics; this also keeps hr baseline sec < 300 meaningful.
        return classify_anomaly_causes(
            form,
            context,
            key_col="activity_id",
            frame="range",
            z_threshold=z,
            magnitude_gates=self.FORM_GATES,
            degradation_triggers=self.FORM_GATES,
        )

    # -- utility / export (A9, A10, S5, S7) ------------------------------

    def profile_table(self, table: str, columns: Sequence[str]) -> DataFrame:
        return stats_ops.profile_columns(self.t[table], columns)

    def histogram(self, table: str, column: str, bins: int = 20) -> DataFrame:
        return stats_ops.histogram(self.t[table], column, bins)

    def export(self, df: DataFrame, path: str, fmt: str = "parquet", max_rows: int = 100_000) -> int:
        return guarded_export(df, path, fmt, max_rows)

    def sql(self, query: str) -> DataFrame:
        for name, df in self.t.items():
            df.createOrReplaceTempView(name)
        return sql_passthrough(self.spark, query)

    # -- metadata date↔id resolution (docs/mcp-tools-reference.md §Metadata)

    def get_activity_by_date(self, date: str) -> DataFrame:
        """``get_activity_by_date``: all activities on a calendar day."""
        return self.t["activities"].filter(F.col("activity_date") == date)

    def get_date_by_activity_id(self, activity_id: int) -> DataFrame:
        """``get_date_by_activity_id``: id → date point projection."""
        return (
            self.t["activities"]
            .filter(F.col("activity_id") == activity_id)
            .select("activity_id", "activity_date")
        )

    # -- physiology readers (§Physiology) --------------------------------

    def get_form_efficiency_summary(self, activity_id: int) -> DataFrame:
        return self.t["form_efficiency"].filter(F.col("activity_id") == activity_id)

    def get_form_evaluations(self, activity_id: int) -> DataFrame:
        return self.t["form_evaluations"].filter(F.col("activity_id") == activity_id)

    def get_form_baseline_trend(self, metric: str) -> DataFrame:
        """``get_form_baseline_trend``: coefficient history for one
        metric, oldest→newest (``form_baseline_history`` store)."""
        return (
            self.t["form_baseline_history"]
            .filter(F.col("metric") == metric)
            .orderBy("window")
        )

    def get_hr_efficiency_analysis(self, activity_id: int) -> DataFrame:
        return self.t["hr_efficiency"].filter(F.col("activity_id") == activity_id)

    def get_heart_rate_zones_detail(self, activity_id: int) -> DataFrame:
        return (
            self.t["heart_rate_zones"]
            .filter(F.col("activity_id") == activity_id)
            .orderBy("zone_number")
        )

    def get_vo2_max_data(self, last_n: int = 10) -> DataFrame:
        return self.t["vo2_max"].orderBy(F.desc("date")).limit(last_n)

    def get_lactate_threshold_data(self, last_n: int = 10) -> DataFrame:
        return self.t["lactate_threshold"].orderBy(F.desc("date")).limit(last_n)

    def get_body_composition_trend(self, start: str, end: str) -> DataFrame:
        return (
            self.t["body_composition"]
            .filter(F.col("date").between(start, end))
            .orderBy("date")
        )

    def get_weight_economy_coupling(self, min_points: int = 10) -> DataFrame:
        """``get_weight_economy_coupling`` (M4): EF ~ weight + days OLS
        per athlete-quarter; EF = speed/HR, weight as-of joined (J7)."""
        runs = self.activities_with_nearest_weight()
        ef = runs.withColumn(
            "ef",
            (F.lit(1000.0) / F.col("avg_pace_seconds_per_km"))
            / F.coalesce(F.col("avg_heart_rate"), F.lit(150.0)),
        ).withColumn("days", day_number(F.col("activity_date")))
        return ols2_by_group(ef, [], "weight_kg", "days", "ef", min_points=min_points)

    # -- recovery / wellness (§Physiology recovery tools) ----------------

    def get_recovery_trend(self, metric: str = "resting_heart_rate") -> DataFrame:
        """``get_recovery_trend`` (A14): weekly exact medians of a
        wellness metric + period-over-period delta."""
        wk = F.date_sub(
            F.to_date("date"), (F.dayofweek("date") + 5) % 7
        ).alias("week_start")
        weekly = (
            self.t["daily_wellness"]
            .groupBy(wk)
            .agg(F.expr(f"percentile({metric}, 0.5)").alias("weekly_median"))
        )
        # bounded: one row per week for a single athlete
        w = Window.partitionBy(window_ops.bounded_partition_key("week_start")).orderBy("week_start")
        return weekly.withColumn(
            "delta", F.col("weekly_median") - F.lag("weekly_median", 1).over(w)
        )

    def get_wellness_baseline_deviation(
        self, metric: str = "resting_heart_rate", days_back: int = 30
    ) -> DataFrame:
        """``get_wellness_baseline_deviation`` (W7): trailing mean±SD
        band (today excluded) + today's z-score."""
        dw = self.t["daily_wellness"].withColumn("dn", day_number(F.col("date")))
        return window_ops.trailing_baseline_band(dw, [], "dn", metric, days_back)

    def get_recovery_status(self, metric: str = "resting_heart_rate") -> DataFrame:
        """``get_recovery_status``: the latest wellness day with its
        baseline z-score and an adverse flag."""
        banded = self.get_wellness_baseline_deviation(metric)
        return (
            banded.orderBy(F.desc("date"))
            .limit(1)
            .withColumn("adverse", F.col("baseline_z") > 1.0)
        )

    # -- performance / weather (§Performance) ----------------------------

    def get_performance_trends(self, activity_id: int) -> DataFrame:
        return self.t["performance_trends"].filter(F.col("activity_id") == activity_id)

    def get_weather_data(self, activity_id: int) -> DataFrame:
        return self.t["weather"].filter(F.col("activity_id") == activity_id)

    def get_training_type_distribution(self) -> DataFrame:
        """Training-type mix as normalized fractions (A13)."""
        return stats_ops.category_distribution(self.t["activities"], "training_type")

    # -- time-series detail (§Time Series) -------------------------------

    def get_split_time_series_detail(
        self, activity_id: int, split_number: int, metrics: Sequence[str]
    ) -> DataFrame:
        """``get_split_time_series_detail`` (T7): resolve the split to
        its ``[start_time_s, end_time_s)`` range via cumulative split
        durations, then compute A2 stats over that slice."""
        splits = self.t["splits"].filter(F.col("activity_id") == activity_id)
        w = Window.partitionBy("activity_id").orderBy("split_index")
        spans = splits.select(
            "activity_id",
            "split_index",
            (F.sum("pace_seconds_per_km").over(w) - F.col("pace_seconds_per_km")).alias(
                "start_time_s"
            ),
            F.sum("pace_seconds_per_km").over(w).alias("end_time_s"),
        ).filter(F.col("split_index") == split_number)
        ts = self.t["time_series_metrics"].filter(F.col("activity_id") == activity_id)
        sliced = ts.join(F.broadcast(spans), "activity_id").filter(
            (F.col("timestamp_s") >= F.col("start_time_s"))
            & (F.col("timestamp_s") < F.col("end_time_s"))
        )
        return stats_ops.time_range_stats(
            sliced, "timestamp_s", F.lit(0), F.lit(10**9), metrics, ["split_index"]
        )

    def detect_form_anomalies_summary(
        self, activity_id: int, metric: str, magnitude_gate: float = 0.5
    ) -> DataFrame:
        """``detect_form_anomalies_summary``: anomaly islands reduced to
        per-severity counts (the reference's ~95% output reduction)."""
        details = self.detect_form_anomalies(activity_id, metric, magnitude_gate)
        return details.groupBy("severity").agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.max("max_abs_z").alias("worst_z"),
        )

    def get_form_anomaly_details(
        self, activity_id: int, metric: str, magnitude_gate: float = 0.5
    ) -> DataFrame:
        """``get_form_anomaly_details``: the full island rows."""
        return self.detect_form_anomalies(activity_id, metric, magnitude_gate)

    # -- training load / risk (§Training Load, §Race) --------------------

    def get_load_trend(self, weeks: int = 12, min_points: int = 3) -> DataFrame:
        """``get_load_trend`` (M1 over A5): weekly volume slope with the
        significance gate."""
        wk = F.date_sub(
            F.to_date("activity_date"), (F.dayofweek("activity_date") + 5) % 7
        ).alias("week_start")
        weekly = (
            self.t["activities"]
            .groupBy(wk)
            .agg(F.sum("total_distance_km").alias("weekly_km"))
            .withColumn("week_no", day_number(F.col("week_start")) / 7.0)
        )
        return linregress_by_group(
            weekly, [], "week_no", "weekly_km", min_points=min_points
        )

    def get_injury_risk(self) -> DataFrame:
        """``get_injury_risk`` (M12): ACWR ramp + renormalized composite
        over whichever signals are available."""
        from .operators.risk import acwr_risk, composite_injury_risk

        latest = self.get_acwr().orderBy(F.desc("date")).limit(1)
        signals = latest.select(
            "date",
            acwr_risk(F.col("acwr")).alias("acwr_risk"),
            F.lit(None).cast("double").alias("durability_risk"),
            F.lit(None).cast("double").alias("wellness_risk"),
            F.lit(None).cast("double").alias("form_risk"),
        )
        return composite_injury_risk(signals)

    def get_race_readiness(self) -> DataFrame:
        """``get_race_readiness``: latest ACWR band × latest VO2max in
        one readiness row (the reference's composite bundle)."""
        acwr = self.get_acwr().orderBy(F.desc("date")).limit(1)
        vo2 = self.t["vo2_max"].orderBy(F.desc("date")).limit(1)
        return acwr.crossJoin(vo2.select(F.col("precise_value").alias("vo2max")))

    def get_activity_durability(self, activity_id: int) -> DataFrame:
        """``get_activity_durability`` (W9): same decoupling block as
        ``get_durability_decoupling`` — reference alias."""
        return self.get_durability_decoupling(activity_id)

    def get_durability_trend(self, min_points: int = 3) -> DataFrame:
        """``get_durability_trend`` (M1 over W9): per-activity HR drift
        regressed over days-elapsed."""
        halves = stats_ops.conditional_halves(
            self.t["time_series_metrics"],
            ["activity_id"],
            "timestamp_s",
            ["heart_rate"],
        )
        dated = halves.join(
            self.t["activities"].select("activity_id", "activity_date"), "activity_id"
        ).withColumn("days", day_number(F.col("activity_date")))
        return linregress_by_group(
            dated, [], "days", "heart_rate_drift", min_points=min_points
        )

    # -- athlete / reviews / strength (§Athlete, §strength) --------------

    def get_athlete_profile(self) -> DataFrame:
        """``get_athlete_profile``: latest-version-wins read (W2)."""
        return window_ops.latest_per_key(
            self.t["athlete_profile"],
            [],
            [F.col("created_at").desc(), F.col("profile_id").desc()],
        )

    def get_weekly_review(self, week_start: str) -> DataFrame:
        """``get_weekly_review``: latest version for one week (W2)."""
        return window_ops.latest_per_key(
            self.t["weekly_reviews"].filter(F.col("week_start_date") == week_start),
            ["week_start_date"],
            [F.col("created_at").desc(), F.col("review_id").desc()],
        )

    def save_versioned(self, table: str, rows: DataFrame) -> DataFrame:
        """Append-only versioned write (the reference's
        ``save_athlete_profile``/``save_weekly_review`` pattern): returns
        the unioned frame; readers pick the latest via W2.  Persisting is
        the caller's choice of sink — idempotent re-runs come from the
        deterministic version key, not from sequences."""
        return self.t[table].unionByName(rows, allowMissingColumns=True)

    def get_strength_sessions(self, start: str, end: str) -> DataFrame:
        """``get_strength_sessions``: date-window read with the JSON
        ``category_counts`` decoded to a typed map (richer than the
        reference, which decodes in Python)."""
        return (
            self.t["strength_sessions"]
            .filter(F.col("date").between(start, end))
            .withColumn(
                "category_counts",
                F.from_json(F.col("category_counts"), "map<string,int>"),
            )
        )

    def get_current_fitness_summary(self) -> DataFrame:
        """``get_current_fitness_summary`` (M15): training gaps with
        pre-gap median weekly volume."""
        from .operators.fitness import detect_training_gaps

        return detect_training_gaps(self.t["activities"])

    # -- prefetch bundles (§Analysis, §Athlete prefetch tools) -----------

    def prefetch_activity_context(self, activity_id: int) -> dict:
        """``prefetch_activity_context``: the per-activity bundle as a
        dict of lazy frames — one driver round-trip per member, no
        N+1 reads (the reference assembles the same bundle server-side)."""
        return {
            "activity": self.get_activity(activity_id),
            "splits": self.get_splits_comprehensive(activity_id),
            "performance_trends": self.get_performance_trends(activity_id),
            "hr_zones": self.get_heart_rate_zones_detail(activity_id),
            "weather": self.get_weather_data(activity_id),
        }

    def prefetch_weekly_review_context(self, week_start: str) -> dict:
        """``prefetch_weekly_review_context``: the weekly bundle."""
        wk_end = F.date_add(F.lit(week_start).cast("date"), 6)
        acts = self.t["activities"].filter(
            (F.col("activity_date") >= week_start)
            & (F.col("activity_date") <= wk_end)
        )
        return {
            "activities": acts,
            "review": self.get_weekly_review(week_start),
            "load": self.get_acwr(),
        }

    def get_catch_up_window(self, table: str, date_col: str = "date") -> DataFrame:
        """``catch_up_ingest`` window resolution (S4): per-domain
        incremental start = MAX(stored date)."""
        return self.t[table].agg(F.max(date_col).alias("window_start"))


# Explicit coverage map: every tool documented in the reference's
# ``docs/mcp-tools-reference.md`` (57 names) → how this engine serves
# it.  Values are either a ``GarminTools`` method name, or a
# "module:callable" pointer for the tools whose job is the write path /
# server infrastructure rather than a read query (in Spark those are
# pipeline entry points, not facade methods).  Totality is enforced by
# ``tests/test_tools_facade.py::test_every_reference_tool_is_mapped``.
REFERENCE_TOOL_MAP = {
    "export": "export",
    "get_activity_by_date": "get_activity_by_date",
    "get_date_by_activity_id": "get_date_by_activity_id",
    "ingest_activity": "pipelines.silver:delete_insert_by_key",
    "get_splits_pace_hr": "get_splits_pace_hr",
    "get_splits_form_metrics": "get_splits_form_metrics",
    "get_splits_elevation": "get_splits_elevation",
    "get_splits_comprehensive": "get_splits_comprehensive",
    "get_interval_analysis": "interval_analysis",  # + interval_work_recovery
    "insert_section_analysis_dict": "pipelines.silver:delete_insert_by_key",
    "validate_section_json": "save_versioned",  # schema enforced at write
    "get_analysis_contract": "get_latest_weekly_review",  # versioned read
    "find_unanalyzed_activities": "find_unanalyzed_activities",
    "analyze_performance_trends": "metric_trend",
    "get_heat_adjusted_trend": "heat_model",
    "extract_insights": "get_latest_weekly_review",  # JSON-path predicate read
    "compare_similar_workouts": "find_similar_activities",
    "get_form_efficiency_summary": "get_form_efficiency_summary",
    "get_form_evaluations": "get_form_evaluations",
    "get_form_baseline_trend": "get_form_baseline_trend",
    "get_hr_efficiency_analysis": "get_hr_efficiency_analysis",
    "get_heart_rate_zones_detail": "get_heart_rate_zones_detail",
    "get_vo2_max_data": "get_vo2_max_data",
    "get_lactate_threshold_data": "get_lactate_threshold_data",
    "get_body_composition_trend": "get_body_composition_trend",
    "get_weight_economy_coupling": "get_weight_economy_coupling",
    "get_recovery_trend": "get_recovery_trend",
    "get_recovery_status": "get_recovery_status",
    "get_wellness_baseline_deviation": "get_wellness_baseline_deviation",
    "get_performance_trends": "get_performance_trends",
    "get_weather_data": "get_weather_data",
    "prefetch_activity_context": "prefetch_activity_context",
    "get_objective_fitness_curve": "fitness_curve",
    "get_split_time_series_detail": "get_split_time_series_detail",
    "get_time_range_detail": "get_time_series_stats",
    "detect_form_anomalies_summary": "detect_form_anomalies_summary",
    "get_form_anomaly_details": "get_form_anomaly_details",  # + get_form_anomaly_causes
    "get_current_fitness_summary": "get_current_fitness_summary",
    "get_garmin_scheduled_workouts": "streaming.ingest:incremental_append",
    "save_athlete_profile": "save_versioned",
    "get_athlete_profile": "get_athlete_profile",
    "save_weekly_review": "save_versioned",
    "get_weekly_review": "get_weekly_review",
    "prefetch_weekly_review_context": "prefetch_weekly_review_context",
    "get_race_readiness": "get_race_readiness",
    "get_acwr": "get_acwr",
    "get_load_trend": "get_load_trend",
    "get_injury_risk": "get_injury_risk",
    "get_activity_durability": "get_activity_durability",
    "get_durability_trend": "get_durability_trend",
    "ingest_strength_sessions": "pipelines.silver:delete_insert_by_key",
    "get_strength_sessions": "get_strength_sessions",
    "catch_up_ingest": "get_catch_up_window",  # window read + streaming.ingest
    "schedule_custom_workout": "pipelines.silver:delete_insert_by_key",
    "cleanup_generated_workouts": "pipelines.silver:delete_insert_by_key",
    "get_server_info": "profile_table",  # introspection reads
    "reload_server": "pipelines.migrations:run_pending",  # lifecycle ≙ schema mgmt
}
