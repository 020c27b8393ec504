"""Form-baseline robust regression training (SURVEY.md M5) and
baseline evaluation scoring (M6).

The reference trains per-window robust models over split rows
(``mcp/form_baseline/trainer.py:81-202``): GCT as a power law
``log v = alpha + d·log GCT`` (Huber, RANSAC fallback, monotonicity
``d<0`` enforced), VO/VR/cadence as Huber linear ``y = a + b·v``, with
range-based outlier gates first (``form_baseline/utils.py:6-29``) and a
2-month window / ≥50-sample minimum (``trainer.py:360-448``).

Spark shape: one grouped ``applyInPandas`` per (window, metric) group —
model fits are tiny (≤ a few thousand rows) and embarrassingly parallel
across windows, so Python+sklearn inside the group is the right
trade-off (the same libraries, so coefficients match the reference).
sklearn is optional: a numpy IRLS Huber stands in when absent.
RANSAC's randomness is seeded for reproducibility (the reference's
known nondeterminism, ``trainer.py:120``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

# Physiologic validity gates (``trainer.py:96-97,165-173,458-465``)
VALID_RANGES = {
    "gct": (150.0, 350.0),
    "vo": (2.0, 15.0),
    "vr": (2.0, 20.0),
    "cadence": (140.0, 210.0),
    "speed": (1.5, 7.0),
}


def _frozen_irls_fit(x: np.ndarray, y: np.ndarray, n_reweights: int):
    """Frozen-schedule Huber IRLS: one OLS init + exactly ``n_reweights``
    Huber reweights (delta 1.35, MAD scale with the med==0 → 1.0 guard).

    Same math as ``huber_irls_baseline``'s distributed SQL shape, so a
    grouped-pandas fit using this path is checkable against the same
    closed-form DECIMAL-moment oracle (see m5b/m5c in q_composites).
    Coefficients come from the closed-form normal equations over
    ``math.fsum`` moments — exactly-rounded sums, so the only drift vs
    a DECIMAL(30,12) SQL oracle is the 1e-12 cast quantization, far
    inside the 6dp parity rounding."""
    import math

    def wls(w: np.ndarray):
        sw = math.fsum(w)
        swx = math.fsum(w * x)
        swy = math.fsum(w * y)
        swxy = math.fsum(w * x * y)
        swxx = math.fsum(w * x * x)
        det = sw * swxx - swx * swx
        b = (sw * swxy - swx * swy) / det
        a = (swy - b * swx) / sw
        return a, b

    w = np.ones_like(y, dtype=float)
    a, b = wls(w)
    for _ in range(n_reweights):
        ar = np.abs(y - (a + b * x))
        med = float(np.median(ar))
        scale = 1.0 if med == 0.0 else med / 0.6745
        r = ar / scale
        w = np.where(r <= 1.35, 1.0, 1.35 / r)
        a, b = wls(w)
    return a, b


def _huber_fit(
    x: np.ndarray, y: np.ndarray, seed: int = 42, n_reweights: int | None = None
):
    """Huber-robust linear fit: sklearn when available, else IRLS.

    ``n_reweights`` selects the deterministic frozen schedule (oracle-
    checkable) regardless of sklearn availability."""
    if n_reweights is not None:
        return _frozen_irls_fit(x, y, n_reweights)
    try:
        from sklearn.linear_model import HuberRegressor

        h = HuberRegressor()
        h.fit(x.reshape(-1, 1), y)
        return float(h.intercept_), float(h.coef_[0])
    except ImportError:
        # IRLS with Huber weights (delta=1.35), deterministic
        a, b = 0.0, 0.0
        w = np.ones_like(y)
        for _ in range(50):
            sw = np.sqrt(w)
            A = np.stack([sw, sw * x], axis=1)
            coef, *_ = np.linalg.lstsq(A, sw * y, rcond=None)
            a_new, b_new = float(coef[0]), float(coef[1])
            resid = y - (a_new + b_new * x)
            scale = np.median(np.abs(resid)) / 0.6745 or 1.0
            r = np.abs(resid / scale)
            w = np.where(r <= 1.35, 1.0, 1.35 / r)
            if abs(a_new - a) < 1e-10 and abs(b_new - b) < 1e-10:
                a, b = a_new, b_new
                break
            a, b = a_new, b_new
        return a, b


def train_gct_power_baselines(
    splits: DataFrame,
    group_cols: list[str],
    gct_col: str = "ground_contact_time",
    speed_col: str = "speed_mps",
    min_samples: int = 50,
    seed: int = 42,
) -> DataFrame:
    """Per-group GCT power-law baseline ``log v = alpha + d log GCT``
    with Huber → seeded-RANSAC fallback and ``d < 0`` monotonicity."""
    gd = dict(splits.dtypes)
    key_schema = ", ".join(f"{c} {gd[c]}" for c in group_cols)
    out_schema = (
        f"{key_schema}, alpha double, d double, rmse double, n_samples bigint,"
        " speed_min double, speed_max double, model_type string"
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = {c: pdf[c].iloc[0] for c in group_cols}
        lo, hi = VALID_RANGES["gct"]
        slo, shi = VALID_RANGES["speed"]
        clean = pdf[
            pdf[gct_col].between(lo, hi) & pdf[speed_col].between(slo, shi)
        ].dropna(subset=[gct_col, speed_col])
        cols = list(keys) + [
            "alpha", "d", "rmse", "n_samples", "speed_min", "speed_max", "model_type"
        ]
        if len(clean) < min_samples:
            return pd.DataFrame(columns=cols)
        x = np.log(clean[gct_col].to_numpy())
        y = np.log(clean[speed_col].to_numpy())
        alpha, d = _huber_fit(x, y, seed)
        model_type = "huber_power"
        if d >= 0:
            try:
                from sklearn.linear_model import RANSACRegressor

                r = RANSACRegressor(
                    min_samples=max(3, int(0.8 * len(clean))), random_state=seed
                )
                r.fit(x.reshape(-1, 1), y)
                alpha = float(r.estimator_.intercept_)
                d = float(r.estimator_.coef_[0])
                model_type = "ransac_power"
            except ImportError:
                pass
            if d >= 0:
                return pd.DataFrame(columns=cols)  # non-monotonic: no model
        rmse = float(np.sqrt(np.mean((y - (alpha + d * x)) ** 2)))
        return pd.DataFrame(
            [
                dict(
                    keys,
                    alpha=alpha,
                    d=d,
                    rmse=rmse,
                    n_samples=len(clean),
                    speed_min=float(clean[speed_col].min()),
                    speed_max=float(clean[speed_col].max()),
                    model_type=model_type,
                )
            ]
        )

    return splits.groupBy(*group_cols).applyInPandas(fit, out_schema)


def train_linear_baselines(
    splits: DataFrame,
    group_cols: list[str],
    metric: str,
    value_col: str,
    speed_col: str = "speed_mps",
    min_samples: int = 50,
    n_reweights: int | None = None,
) -> DataFrame:
    """Per-group Huber linear baseline ``value = a + b·speed`` for
    vo/vr/cadence with the reference's validity gates.

    ``n_reweights`` pins the fit to the frozen IRLS schedule (see
    ``_frozen_irls_fit``) so the grouped-pandas path is checkable
    against the same closed-form SQL oracle as ``huber_irls_baseline``."""
    gd = dict(splits.dtypes)
    key_schema = ", ".join(f"{c} {gd[c]}" for c in group_cols)
    out_schema = (
        f"{key_schema}, metric string, coef_a double, coef_b double,"
        " rmse double, n_samples bigint"
    )
    lo, hi = VALID_RANGES[metric]
    slo, shi = VALID_RANGES["speed"]

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = {c: pdf[c].iloc[0] for c in group_cols}
        clean = pdf[
            pdf[value_col].between(lo, hi) & pdf[speed_col].between(slo, shi)
        ].dropna(subset=[value_col, speed_col])
        cols = list(keys) + ["metric", "coef_a", "coef_b", "rmse", "n_samples"]
        if len(clean) < min_samples:
            return pd.DataFrame(columns=cols)
        x = clean[speed_col].to_numpy(dtype=float)
        y = clean[value_col].to_numpy(dtype=float)
        a, b = _huber_fit(x, y, n_reweights=n_reweights)
        rmse = float(np.sqrt(np.mean((y - (a + b * x)) ** 2)))
        return pd.DataFrame(
            [dict(keys, metric=metric, coef_a=a, coef_b=b, rmse=rmse, n_samples=len(clean))]
        )

    return splits.groupBy(*group_cols).applyInPandas(fit, out_schema)


def evaluate_against_baseline(
    splits: DataFrame,
    baselines: DataFrame,
    group_cols: list[str],
    value_col: str,
    speed_col: str = "speed_mps",
    improvement_weight: float = 0.3,
    degradation_weight: float = 1.0,
    lower_is_better: bool = True,
) -> DataFrame:
    """M6 baseline scoring: expected-vs-actual with asymmetric penalties
    (improvement ×0.3, degradation ×1.0; direction flips for cadence)
    (``mcp/form_baseline/scorer.py:23-269``).  Pure column arithmetic
    once the (tiny) coefficient table is broadcast-joined."""
    from pyspark.sql import functions as F

    joined = splits.join(F.broadcast(baselines), group_cols)
    expected = F.col("coef_a") + F.col("coef_b") * F.col(speed_col)
    delta = F.col(value_col) - expected
    improving = delta < 0 if lower_is_better else delta > 0
    penalty = F.when(
        improving, F.abs(delta) * improvement_weight
    ).otherwise(F.abs(delta) * degradation_weight)
    return (
        joined.withColumn("expected", expected)
        .withColumn("delta", delta)
        .withColumn("penalty", penalty)
    )


def huber_irls_baseline(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    n_reweights: int = 2,
    delta: float = 1.35,
    min_samples: int = 50,
    weight_col: str | None = None,
) -> DataFrame:
    """Distributed Huber-robust linear fit with a FROZEN IRLS schedule —
    the fully JVM-side sibling of ``train_linear_baselines`` (which
    runs sklearn inside ``applyInPandas`` for coefficient parity with
    the reference, ``mcp/form_baseline/trainer.py:144-202``).

    Freezing the iteration count (init OLS + ``n_reweights`` Huber
    reweighted fits) makes the estimator a deterministic closed-form
    pipeline: every round is one aggregation (moment sums), one exact
    per-group MAD median, and one broadcast join back — no Python in
    the loop, so an ANSI oracle can reproduce it bit-for-bit, and at
    100 TB it scales like any groupBy (sklearn-in-a-group requires the
    whole group on one executor; this does not).

    All moment sums go through DECIMAL(30,12) so results are
    shuffle-order independent; the Huber weight is 1 for scaled
    |residual| <= delta else delta/r, with the reference's MAD scale
    ``median(|resid|)/0.6745`` and its zero-scale → 1.0 guard.

    ``weight_col``: integer multiplicity — each input row stands for
    ``weight`` identical observations.  For DISCRETE x/y domains the
    caller can pre-compact the corpus to (group, x, y, count)
    sufficient statistics, after which every IRLS pass runs on
    ``|distinct(g,x,y)|`` rows instead of the corpus: the 100 TB shape
    for fixed-point telemetry, and locally it collapses the
    stage-count-bound wall (measured m5c ~8 s → ~2 s at sf0.1).
    Bit-exactness vs the row-level oracle is preserved by quantizing
    each addend to scale 12 FIRST and multiplying by the multiplicity
    in exact decimal arithmetic (quantize(v)·w == Σ_w quantize(v),
    whereas quantize(v·w) would differ); requires |addend| < 1e8 and
    weights < 1e12.
    """
    from pyspark.sql import functions as F  # local alias for clarity

    from .stats import grouped_median

    wt = F.col("_wt") if weight_col else None

    def dsum(col):
        if wt is None:
            return F.sum(col.cast("decimal(30,12)")).cast("double")
        # quantize-then-multiply: decimal(20,12) × decimal(12,0) →
        # decimal(33,12), exact (no precision-loss rescale)
        return F.sum(col.cast("decimal(20,12)") * wt.cast("decimal(12,0)")).cast(
            "double"
        )

    def wcount():
        return F.sum(wt) if wt is not None else F.count(F.lit(1))

    g = list(group_cols)
    x, y = F.col("_x"), F.col("_y")
    # iterative algorithm: materialize the projected working set ONCE
    # (localCheckpoint) so the 3 fit passes + 2 median passes read
    # in-memory rows instead of re-scanning the source per pass — the
    # standard iterative-ML persist, and it truncates the deepening
    # lineage.  Locally the wall time is stage-count-bound (~16
    # sequential barriers); at cluster scale the per-stage overhead
    # amortizes and the re-scan saving is what matters.
    pts = df.select(
        *g,
        F.col(x_col).alias("_x"),
        F.col(y_col).alias("_y"),
        *([F.col(weight_col).cast("long").alias("_wt")] if weight_col else []),
    ).localCheckpoint(eager=True)

    m0 = pts.groupBy(*g).agg(
        wcount().alias("_n"),
        dsum(x).alias("_sx"),
        dsum(y).alias("_sy"),
        dsum(x * y).alias("_sxy"),
        dsum(x * x).alias("_sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ["_n", "_sx", "_sy", "_sxy", "_sxx"])
    det = n * sxx - sx * sx
    b0 = (n * sxy - sx * sy) / det
    coef = m0.filter((n >= min_samples) & (det > 0)).select(
        *g, b0.alias("_b"), ((sy - b0 * sx) / n).alias("_a")
    )

    for _ in range(n_reweights):
        r = pts.join(F.broadcast(coef), g).withColumn(
            "_ar", F.abs(y - (F.col("_a") + F.col("_b") * x))
        )
        # MAD scale: exact distributed median — percentile(_ar, 0.5)
        # would buffer a whole group's residual multiset in one task
        # (the a9 anti-pattern).  The counts-histogram shape is cheap
        # here because |y - bx - a| inherits the inputs' small discrete
        # domain (fixed-point x, y → few distinct residuals per group).
        s = grouped_median(
            r, g, ["_ar"], weight_col="_wt" if weight_col else None
        ).withColumnRenamed("_ar_median", "_med")
        rw = (
            r.join(F.broadcast(s), g)
            .withColumn(
                "_scale",
                F.when(F.col("_med") == 0, F.lit(1.0)).otherwise(
                    F.col("_med") / 0.6745
                ),
            )
            .withColumn("_r", F.col("_ar") / F.col("_scale"))
            .withColumn(
                "_w",
                F.when(F.col("_r") <= delta, F.lit(1.0)).otherwise(
                    F.lit(delta) / F.col("_r")
                ),
            )
        )
        w = F.col("_w")
        m = rw.groupBy(*g).agg(
            dsum(w).alias("_sw"),
            dsum(w * x).alias("_swx"),
            dsum(w * y).alias("_swy"),
            dsum(w * x * y).alias("_swxy"),
            dsum(w * x * x).alias("_swxx"),
        )
        sw, swx, swy, swxy, swxx = (
            F.col(c) for c in ["_sw", "_swx", "_swy", "_swxy", "_swxx"]
        )
        wdet = sw * swxx - swx * swx
        bw = (sw * swxy - swx * swy) / wdet
        coef = m.filter(wdet > 0).select(
            *g, bw.alias("_b"), ((swy - bw * swx) / sw).alias("_a")
        )

    final = (
        pts.join(F.broadcast(coef), g)
        .withColumn("_d", y - (F.col("_a") + F.col("_b") * x))
        .withColumn("_sq", F.col("_d") * F.col("_d"))
        .groupBy(*g)
        .agg(
            F.first("_a").alias("coef_a"),
            F.first("_b").alias("coef_b"),
            F.sqrt(dsum(F.col("_sq")) / wcount()).alias("rmse"),
            wcount().alias("n_samples"),
        )
    )
    return final
