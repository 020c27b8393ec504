"""Property-based semantics tests (hypothesis): the operators whose
edge cases are easiest to get wrong are checked against brute-force
Python references on random inputs — the off-by-one traps SURVEY.md §7
calls out (island spans, as-of tie-breaks, exact-median interpolation).

One Spark round-trip per test (a single composite DataFrame built from
all generated cases) keeps the suite fast; hypothesis drives the case
generation, Spark executes once.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from garmin_performance_analysis_spark.operators.stats import (
    five_stat_block,
    grouped_median,
    histogram_median,
    profile_columns,
)
from garmin_performance_analysis_spark.operators.windows import sustained_islands


def brute_islands(seqs: list[int], max_gap: int, min_span: int):
    """Reference implementation of T3 (form_anomaly_detector.py:289-328):
    group flagged seconds with <= max_gap adjacency, keep runs whose
    span (last - first + 1) >= min_span."""
    out = []
    seqs = sorted(set(seqs))
    if not seqs:
        return out
    start = last = seqs[0]
    rows = 1
    for s in seqs[1:]:
        if s - last <= max_gap:
            last, rows = s, rows + 1
        else:
            if last - start + 1 >= min_span:
                out.append((start, last, rows))
            start = last = s
            rows = 1
    if last - start + 1 >= min_span:
        out.append((start, last, rows))
    return out


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=60), min_size=0, max_size=25),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=1, max_value=6),
)
def test_sustained_islands_matches_bruteforce(spark, keyed_seqs, max_gap, min_span):
    rows = [
        (k, s) for k, seqs in enumerate(keyed_seqs) for s in sorted(set(seqs))
    ]
    if not rows:
        return
    df = spark.createDataFrame(rows, "k int, seq long")
    got = {
        (r["k"], r["island_start"], r["island_end"], r["island_rows"])
        for r in sustained_islands(df, ["k"], "seq", max_gap, min_span).collect()
    }
    want = {
        (k, a, b, n)
        for k, seqs in enumerate(keyed_seqs)
        for (a, b, n) in brute_islands(seqs, max_gap, min_span)
    }
    assert got == want


def brute_median(vals: list[float]) -> float:
    """percentile(v, 0.5): linear interpolation at rank (n-1)/2."""
    v = sorted(vals)
    n = len(v)
    r = (n - 1) / 2.0
    lo, hi = v[math.floor(r)], v[math.ceil(r)]
    return lo + (hi - lo) * (r - math.floor(r))


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=40,
    )
)
def test_histogram_median_matches_percentile(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = histogram_median(df, ["x"]).collect()[0]["stat_median"]
    # cross-check against BOTH the brute force and Spark's percentile
    want = brute_median(vals)
    spark_p = df.agg(F.expr("percentile(x, 0.5)")).first()[0]
    assert got == spark_p
    assert abs(got - want) <= 1e-9 * max(1.0, abs(want))


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.one_of(
                st.none(),
                st.integers(min_value=-(10**8), max_value=10**8).map(
                    lambda c: c / 100.0
                ),
            ),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_median_shapes_agree(spark, rows):
    """The two exact-median shapes — the per-value count scan and the
    fused two-level grid selection of the five-stat block and the
    profiler — must return medians bit-identical to ``percentile(x, 0.5)``
    per group, whatever the group sizes, NULLs and grid width: one grid
    coarser than the ±1e6 domain (every value in one or two cells) and
    one finer (about one value per cell).  Group 4 is all NULL: its
    median is NULL on every shape.  The fused block's scaled-long
    STDDEV must equal the integer-exact Python mirror per group."""
    df = spark.createDataFrame(rows + [(4, None), (4, None)], "k int, x double")
    want = {
        r["k"]: r["m"]
        for r in df.groupBy("k").agg(F.expr("percentile(x, 0.5)").alias("m")).collect()
    }
    counted = {
        r["k"]: r["x_median"] for r in grouped_median(df, ["k"], ["x"]).collect()
    }
    # the count scan emits no row for an all-NULL group (callers left-join)
    assert {k: counted.get(k) for k in want} == want
    by_k = {k: [x for kk, x in rows if kk == k and x is not None] for k in want}
    want_std = {k: _py_ls_moments(vs)[1] if vs else None for k, vs in by_k.items()}
    # one profiled column per group: x<k> holds group k's values, NULL
    # elsewhere, so its median is the group's median
    wide = df.select(
        *[F.when(F.col("k") == k, F.col("x")).alias(f"x{k}") for k in want]
    )
    for g in (4e6, 917.3):
        fused = five_stat_block(df, ["k"], ["x"], fixed_scale=2, median_grids={"x": g})
        got = fused.collect()
        assert {r["k"]: r["x_median"] for r in got} == want
        assert {r["k"]: r["x_stddev"] for r in got} == want_std
        profiled = profile_columns(
            wide, wide.columns, grids=dict.fromkeys(wide.columns, g), fixed_scale=2
        )
        got = profiled.collect()
        assert {int(r["column_name"][1:]): r["stat_median"] for r in got} == want
    with pytest.raises(ValueError):
        five_stat_block(df, ["k"], ["x"], fixed_scale=2)
    with pytest.raises(ValueError):
        profile_columns(df, ["x"], grids={"x": 1.0})


def test_fused_grid_needs_a_grid_per_column(spark):
    """A profiled column or five-stat metric without a median grid
    raises a ``ValueError`` naming it, from both fused callers, instead
    of a NULL median (the profiler) or a ``KeyError`` (the block)."""
    df = spark.createDataFrame(
        [(1, 1.0, 2.0), (1, 2.0, 4.0), (1, 3.0, 6.0)], "k int, a double, b double"
    )
    with pytest.raises(ValueError, match=r"\['b'\]"):
        profile_columns(df, ["a", "b"], grids={"a": 1.0}, fixed_scale=2)
    with pytest.raises(ValueError, match=r"\['b'\]"):
        five_stat_block(df, ["k"], ["a", "b"], fixed_scale=2, median_grids={"a": 1.0})
    full = profile_columns(df, ["a", "b"], grids={"a": 1.0, "b": 1.0}, fixed_scale=2)
    assert {r["column_name"]: r["stat_median"] for r in full.collect()} == {"a": 2.0, "b": 4.0}


def brute_nearest(left_dates: list[int], right_dates: list[int], max_gap):
    """J7/J8 tie semantics: nearest by |gap|, tie -> past side (the
    smaller signed gap, i.e. the earlier right date)."""
    out = {}
    for ld in left_dates:
        best = None
        for rd in sorted(right_dates):
            gap = rd - ld
            if max_gap is not None and abs(gap) > max_gap:
                continue
            key = (abs(gap), gap)
            if best is None or key < best[0]:
                best = (key, rd)
        if best is not None:
            out[ld] = best[1]
    return out


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=12, unique=True),
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=8, unique=True),
    st.one_of(st.none(), st.integers(min_value=0, max_value=10)),
)
def test_asof_tiebreak_matches_bruteforce(spark, lds, rds, max_gap):
    from garmin_performance_analysis_spark.operators.joins import (
        nearest_date_asof_join,
    )

    base = "2024-01-01"
    left = spark.createDataFrame(
        [(i, d) for i, d in enumerate(lds)], "lid int, doff int"
    ).select("lid", F.date_add(F.lit(base).cast("date"), F.col("doff")).alias("ld"))
    right = spark.createDataFrame(
        [(d,) for d in rds], "roff int"
    ).select(F.date_add(F.lit(base).cast("date"), F.col("roff")).alias("rd"))
    out = nearest_date_asof_join(
        left,
        right,
        left_id_cols=["lid"],
        join_keys=[],
        left_date="ld",
        right_date="rd",
        max_gap_days=max_gap,
        tie_break_past=True,
    )
    got = {
        r["lid"]: (r["rd"] - r["ld"]).days for r in out.select("lid", "l.ld", "r.rd").collect()
    }
    want_dates = brute_nearest(lds, rds, max_gap)
    want = {i: want_dates[d] - d for i, d in enumerate(lds) if d in want_dates}
    assert got == want


def _py_ls_moments(vals: list[float], scale: int = 2):
    """Python mirror of registry.ls_avg / ls_sum_wide and the fused
    five-stat block's scaled-long STDDEV — same integerization, same op
    ORDER (each double step replicated), so the expected values are
    bit-exact, not approximate."""
    f = float(10**scale)
    B = 1 << 20
    qs = [math.floor(v * f + 0.5) for v in vals]
    n = len(qs)
    avg = (float(sum(qs)) / f) / n
    sx = float(sum(qs)) / f
    q2 = [q * q for q in qs]
    hi = float(sum((q - q % B) // B for q in q2))
    lo = float(sum(q % B for q in q2))
    sxx = (hi * float(B) + lo) / (f * f)
    std = None
    if n > 1:
        var = (sxx - sx * sx / n) / (n - 1)
        std = math.sqrt(max(var, 0.0))
    whi = float(sum((q - q % B) // B for q in qs))
    wlo = float(sum(q % B for q in qs))
    wide_sum = (whi * float(B) + wlo) / f
    return avg, std, wide_sum


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(10**7), max_value=10**7).map(lambda c: c / 100.0),
        min_size=1,
        max_size=40,
    )
)
def test_scaled_long_moments_match_python_mirror(spark, vals):
    """The scaled-long aggregation core (ls_avg/ls_sum_wide) must be
    bit-identical to the integer-exact Python mirror of the same formula
    — this is the determinism the oracles rely on.  The STDDEV half of
    the mirror is checked in ``test_median_shapes_agree``."""
    from garmin_performance_analysis_spark.harness.registry import (
        ls_avg,
        ls_sum_wide,
    )

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    row = df.agg(
        ls_avg(F.col("x")).alias("a"),
        ls_sum_wide(F.col("x"), scale=2).alias("w"),
    ).collect()[0]
    exp_avg, _, exp_wide = _py_ls_moments(vals)
    assert row["a"] == exp_avg
    assert row["w"] == exp_wide


def test_huber_irls_matches_numpy_mirror(spark):
    """Distributed frozen-IRLS Huber ≡ a local numpy mirror of the same
    schedule (init OLS + 2 MAD-reweighted fits) on random continuous
    groups — validates the decimal-sum/median machinery beyond the
    fixed-point catalog mapping. Tolerance 1e-6 absorbs the
    DECIMAL(30,12) quantization of the distributed sums."""
    import numpy as np

    from garmin_performance_analysis_spark.operators.baselines import (
        huber_irls_baseline,
    )

    rng = np.random.default_rng(42)
    rows = []
    want = {}
    for gid in range(4):
        n = int(rng.integers(60, 400))
        x = rng.normal(5.0, 2.0, n)
        y = 2.0 + 0.7 * x + rng.normal(0, 0.5, n)
        out_idx = rng.choice(n, size=max(1, n // 10), replace=False)
        y[out_idx] += rng.normal(0, 8.0, len(out_idx))  # heavy outliers
        rows += [(gid, float(xi), float(yi)) for xi, yi in zip(x, y)]

        # numpy mirror of the frozen schedule
        a = b = None
        sw = np.ones(n)
        for it in range(3):
            W = sw
            swx, swy = (W * x).sum(), (W * y).sum()
            swxy, swxx, s_w = (W * x * y).sum(), (W * x * x).sum(), W.sum()
            det = s_w * swxx - swx * swx
            b = (s_w * swxy - swx * swy) / det
            a = (swy - b * swx) / s_w
            if it == 2:
                break
            ar = np.abs(y - (a + b * x))
            med = float(np.median(ar))
            scale = med / 0.6745 if med != 0 else 1.0
            r = ar / scale
            sw = np.where(r <= 1.35, 1.0, 1.35 / r)
        rmse = float(np.sqrt(np.mean((y - (a + b * x)) ** 2)))
        want[gid] = (float(a), float(b), rmse, n)

    df = spark.createDataFrame(rows, "g long, x double, y double")
    got = {
        r["g"]: r
        for r in huber_irls_baseline(
            df, ["g"], "x", "y", n_reweights=2, min_samples=50
        ).collect()
    }
    assert set(got) == set(want)
    for gid, (a, b, rmse, n) in want.items():
        r = got[gid]
        assert r["n_samples"] == n
        assert abs(r["coef_a"] - a) < 1e-6, gid
        assert abs(r["coef_b"] - b) < 1e-6, gid
        assert abs(r["rmse"] - rmse) < 1e-6, gid
        # robustness sanity: the Huber fit stays near the true line
        assert abs(r["coef_b"] - 0.7) < 0.15 and abs(r["coef_a"] - 2.0) < 0.8


def test_work_recovery_matches_python_mirror(spark):
    """work_recovery_comparison ≡ the reference's pairing loop
    (interval_analysis.py:149-329): i-th work rep with i-th recovery
    rep, rate = (work_avg − recovery_avg) / (recovery_dur_min),
    non-positive durations skipped, groups lacking either type absent."""
    import random

    rng = random.Random(99)
    rows = []
    mirror = {}
    for gid in range(10):
        n_segs = rng.randint(1, 9)
        t = 0.0
        segs = []
        state = rng.choice([0, 1])
        for _ in range(n_segs):
            length = rng.randint(1, 4)
            vals = [round(rng.uniform(80, 180), 1) for _ in range(length)]
            # occasionally a zero-duration segment (single instant)
            dt = rng.choice([0.0, 30.0, 90.0])
            times = [t + i * dt for i in range(length)]
            segs.append((state, vals, times))
            t = times[-1] + 60.0
            state = 1 - state
        seq = 0
        for state, vals, times in segs:
            for v, tt in zip(vals, times):
                rows.append((gid, seq, tt, v, state))
                seq += 1
        work = [(sum(v) / len(v), max(ts) - min(ts)) for s, v, ts in segs if s == 1]
        rec = [(sum(v) / len(v), max(ts) - min(ts)) for s, v, ts in segs if s == 0]
        if not work or not rec:
            continue
        rates = []
        for i in range(min(len(work), len(rec))):
            dur = rec[i][1]
            if dur > 0:
                rates.append((work[i][0] - rec[i][0]) / (dur / 60.0))
        mirror[gid] = {
            "work_count": len(work),
            "recovery_count": len(rec),
            "avg_work_value": sum(w for w, _ in work) / len(work),
            "avg_recovery_value": sum(r for r, _ in rec) / len(rec),
            "avg_hr_recovery_rate": (sum(rates) / len(rates)) if rates else None,
        }

    from garmin_performance_analysis_spark.operators.efforts import (
        interval_segments,
        work_recovery_comparison,
    )

    df = spark.createDataFrame(
        rows, "g long, seq long, t_s double, hr double, is_work int"
    )
    segs = interval_segments(df, ["g"], ["seq"], F.col("is_work") == 1)
    got = {
        r["g"]: r
        for r in work_recovery_comparison(segs, ["g"], "hr", "t_s").collect()
    }
    assert set(got) == set(mirror)
    for gid, want in mirror.items():
        r = got[gid]
        assert (r["work_count"], r["recovery_count"]) == (
            want["work_count"],
            want["recovery_count"],
        ), gid
        assert abs(r["avg_work_value"] - want["avg_work_value"]) < 1e-9
        assert abs(r["avg_recovery_value"] - want["avg_recovery_value"]) < 1e-9
        if want["avg_hr_recovery_rate"] is None:
            assert r["avg_hr_recovery_rate"] is None
        else:
            assert abs(r["avg_hr_recovery_rate"] - want["avg_hr_recovery_rate"]) < 1e-9


# ---------------------------------------------------------------------------
# parse_image_header roundtrip: any VALID constructed header parses to
# exactly its fields; corrupting the validation-bearing bytes kills the
# match.  Pure Python — no Spark round-trip needed.

import struct

from garmin_performance_analysis_spark.pipelines.multimodal import parse_image_header


@given(
    w=st.integers(min_value=1, max_value=1_000_000),
    h=st.integers(min_value=1, max_value=1_000_000),
    bpp=st.sampled_from([1, 4, 8, 16, 24, 32]),
    topdown=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_bmp_header_roundtrip(w, h, bpp, topdown):
    payload = (
        b"BM"
        + struct.pack("<IHHI", 70, 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, -h if topdown else h, 1, bpp, 0, 16, 0, 0, 0, 0
        )
        + b"\x00" * 16
    )
    assert parse_image_header(payload) == ("bmp", w, h, max(1, bpp // 8))
    # flipping the planes field (the NUL-bearing validation byte) must
    # reject — this is the guarantee that text cannot false-positive
    corrupt = bytearray(payload)
    corrupt[26] = 2
    assert parse_image_header(bytes(corrupt)) is None


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    maxval=st.sampled_from([1, 255, 256, 65535]),
    mode=st.sampled_from([b"P5", b"P6"]),
    ws=st.sampled_from([b"\n", b" ", b"\t", b"\r"]),
    comment=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_ppm_header_roundtrip(w, h, maxval, mode, ws, comment):
    channels = 3 if mode == b"P6" else 1
    sample = 2 if maxval > 255 else 1
    header = mode + ws
    if comment:
        header += b"# generated\n"
    header += f"{w} {h}".encode() + ws + str(maxval).encode() + b"\n"
    raster = b"\x7f" * (w * h * channels * sample)
    fmt = "ppm" if channels == 3 else "pgm"
    assert parse_image_header(header + raster) == (fmt, w, h, channels)
    # one raster byte short -> reject (the anti-prose check)
    assert parse_image_header(header + raster[:-1]) is None


# ---------------------------------------------------------------------------
# PNG decode roundtrip: build arbitrary valid PNGs with the stdlib
# (zlib + struct + CRC), decode with _png_pixels, compare against the
# numpy ground truth of the raw image — across color types, bit
# depths, and every scanline filter.

import zlib

import numpy as np

from garmin_performance_analysis_spark.pipelines.multimodal import decode_pixels


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def _filter_png_rows(rows: np.ndarray, fbpp: int, filters) -> bytearray:
    """Apply the spec filter transform to one (sub-)image's byte rows;
    the previous-row state starts at zero (each Adam7 pass filters
    independently)."""
    out = bytearray()
    prev = np.zeros(rows.shape[1], dtype=np.int32)
    for y in range(rows.shape[0]):
        cur = rows[y].astype(np.int32)
        f = filters[y % len(filters)]
        enc = np.empty_like(cur)
        for i in range(len(cur)):
            a = cur[i - fbpp] if i >= fbpp else 0
            b = prev[i]
            c = prev[i - fbpp] if i >= fbpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc[i] = (cur[i] - pred) % 256
        out.append(f)
        out.extend(enc.astype(np.uint8).tobytes())
        prev = cur
    return out


_ADAM7_TEST = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _build_png(img: np.ndarray, color_type: int, filters, plte=None,
               interlace: int = 0) -> bytes:
    """img: (h, w, channels_stored) uint8/uint16; filters: per-row
    filter ids.  Applies the PNG filter transform EXACTLY per spec so
    the decoder must invert it correctly; interlace=1 emits the seven
    Adam7 sub-images, each independently filtered (empty passes emit
    nothing, per spec)."""
    h, w, ch = img.shape
    bitd = 16 if img.dtype == np.uint16 else 8
    sb = bitd // 8
    fbpp = ch * sb
    if bitd == 16:
        byte_img = np.stack([(img >> 8) & 0xFF, img & 0xFF], axis=-1).astype(
            np.uint8
        ).reshape(h, w, fbpp)
    else:
        byte_img = img.reshape(h, w, fbpp).astype(np.uint8)
    out = bytearray()
    if interlace == 0:
        out = _filter_png_rows(byte_img.reshape(h, w * fbpp), fbpp, filters)
    else:
        for ox, oy, sx, sy in _ADAM7_TEST:
            sub = byte_img[oy::sy, ox::sx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            ph, pw = sub.shape[0], sub.shape[1]
            out += _filter_png_rows(
                sub.reshape(ph, pw * fbpp), fbpp, filters
            )
    ihdr = struct.pack(">IIBBBBB", w, h, bitd, color_type, 0, 0, interlace)
    png = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    if plte is not None:
        png += _chunk(b"PLTE", plte.astype(np.uint8).tobytes())
    comp = zlib.compress(bytes(out))
    # split IDAT in two to exercise multi-chunk reassembly
    png += _chunk(b"IDAT", comp[: len(comp) // 2])
    png += _chunk(b"IDAT", comp[len(comp) // 2 :])
    png += _chunk(b"IEND", b"")
    return png


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    color_type=st.sampled_from([0, 2, 4, 6]),
    bitd=st.sampled_from([8, 16]),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=60, deadline=None)
def test_png_pixel_roundtrip(w, h, color_type, bitd, seed):
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    rng = np.random.RandomState(seed)
    if bitd == 16:
        img = rng.randint(0, 65536, size=(h, w, ch)).astype(np.uint16)
    else:
        img = rng.randint(0, 256, size=(h, w, ch)).astype(np.uint8)
    filters = [rng.randint(0, 5) for _ in range(h)]
    payload = _build_png(img, color_type, filters)
    assert parse_image_header(payload) == ("png", w, h, ch)
    got = decode_pixels(payload)
    assert got is not None
    pixel_mean, ch_means = got
    flat = img.reshape(-1, ch).astype(np.int64)
    want_ch = [float(s) / (w * h) for s in flat.sum(axis=0)]
    assert ch_means == want_ch
    assert pixel_mean == float(flat.sum()) / (w * h * ch)
    # corrupt one IDAT byte -> CRC check must reject, not decode noise
    bad = bytearray(payload)
    idat_at = payload.index(b"IDAT") + 4
    bad[idat_at] ^= 0xFF
    assert decode_pixels(bytes(bad)) is None


@given(
    w=st.integers(min_value=1, max_value=10),
    h=st.integers(min_value=1, max_value=10),
    n_colors=st.integers(min_value=1, max_value=16),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=40, deadline=None)
def test_png_palette_roundtrip(w, h, n_colors, seed):
    rng = np.random.RandomState(seed)
    plte = rng.randint(0, 256, size=(n_colors, 3)).astype(np.uint8)
    idx = rng.randint(0, n_colors, size=(h, w, 1)).astype(np.uint8)
    filters = [rng.randint(0, 5) for _ in range(h)]
    payload = _build_png(idx, 3, filters, plte=plte)
    # header reports the DECODED channel count for palette images
    assert parse_image_header(payload) == ("png", w, h, 3)
    got = decode_pixels(payload)
    assert got is not None
    pixel_mean, ch_means = got
    rgb = plte.astype(np.int64)[idx.reshape(-1)]
    want_ch = [float(s) / (w * h) for s in rgb.sum(axis=0)]
    assert ch_means == want_ch
    assert pixel_mean == float(rgb.sum()) / (w * h * 3)


# ---------------------------------------------------------------------------
# WAV audio decode: build payloads with the STDLIB `wave` writer (an
# independent RIFF implementation), decode with parse_audio_header +
# decode_audio_samples, compare against a direct numpy reference.

import io
import wave

from garmin_performance_analysis_spark.pipelines.multimodal import (
    decode_audio_samples,
    parse_audio_header,
)


@given(
    n_channels=st.integers(min_value=1, max_value=4),
    sampwidth=st.sampled_from([1, 2, 3, 4]),
    rate=st.sampled_from([8000, 11025, 16000, 44100]),
    n_frames=st.integers(min_value=0, max_value=64),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=60, deadline=None)
def test_wav_decode_matches_stdlib_writer(n_channels, sampwidth, rate, n_frames, seed):
    rng = np.random.RandomState(seed)
    bits = sampwidth * 8
    lo, hi = (0, 256) if sampwidth == 1 else (-(2 ** (bits - 1)), 2 ** (bits - 1))
    samples = rng.randint(lo, hi, size=n_frames * n_channels).astype(np.int64)
    raw = b"".join(
        int(s).to_bytes(sampwidth, "little", signed=sampwidth > 1) for s in samples
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(sampwidth)
        w.setframerate(rate)
        w.writeframes(raw)
    payload = buf.getvalue()

    hdr = parse_audio_header(payload)
    assert hdr is not None
    got_ch, got_rate, got_bits, data_off, data_size, got_fmt = hdr
    assert (got_ch, got_rate, got_bits) == (n_channels, rate, bits)
    assert data_size == n_frames * n_channels * sampwidth
    assert got_fmt == 1

    dec = decode_audio_samples(payload, header=hdr)
    assert dec is not None
    nf, dur, amp_mean, amp_rms, ch_means = dec
    assert nf == n_frames
    assert dur == n_frames / rate
    if n_frames == 0:
        assert amp_mean is None and amp_rms is None and ch_means is None
        return
    # reference: 8-bit is unsigned-with-128-offset, wider widths signed
    ref = samples.astype(np.float64) - (128.0 if sampwidth == 1 else 0.0)
    frames = ref.reshape(n_frames, n_channels)
    assert ch_means == [float(m) for m in frames.mean(axis=0)]
    assert amp_mean == float(ref.mean())
    assert amp_rms == float(np.sqrt((ref * ref).mean()))


def test_wav_parser_rejects_non_audio_and_partial_frames():
    assert parse_audio_header(b"not a wav at all, just text " * 4) is None
    assert parse_audio_header(b"RIFF\x00\x00\x00\x00WAVEjunk" + b"\x00" * 40) is None
    # valid WAV, then truncate mid-frame: the partial frame is discarded
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(np.arange(20, dtype="<i2").tobytes())
    payload = buf.getvalue()
    clipped = payload[:-3]  # rip 3 bytes out of the final 4-byte frame
    dec = decode_audio_samples(clipped)
    assert dec is not None and dec[0] == 9  # 10 frames written, last dropped
    # a non-PCM format tag (0x03 = IEEE float) is not ours to decode
    mut = bytearray(payload)
    fmt_at = payload.index(b"fmt ") + 8
    mut[fmt_at] = 3
    assert parse_audio_header(bytes(mut)) is None


@given(
    w=st.integers(min_value=1, max_value=65535),
    h=st.integers(min_value=1, max_value=65535),
    ncomp=st.sampled_from([1, 3, 4]),
    sof=st.sampled_from([0xC0, 0xC1, 0xC2]),
    with_app0=st.booleans(),
    with_dqt=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_jpeg_frame_header_roundtrip(w, h, ncomp, sof, with_app0, with_dqt):
    """SOFn walk must find the frame header through any prefix of
    ordinary marker segments, for baseline/extended/progressive frames."""
    body = b"\xff\xd8"
    if with_app0:
        body += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    if with_dqt:
        body += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" * 65
    comp = b"".join(
        struct.pack("BBB", i + 1, 0x11, 0) for i in range(ncomp)
    )
    body += (
        bytes([0xFF, sof])
        + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
        + comp
        + b"\xff\xd9"
    )
    assert parse_image_header(body) == ("jpeg", w, h, ncomp)


def test_jpeg_parser_rejects_malformed_streams():
    """Truncation, SOS-before-SOF, and desynced bytes all fall back to
    opaque-media (None) instead of reporting garbage dimensions."""
    sof = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 4, 5, 1) + b"\x01\x11\x00"
    # SOS before any SOF: scanning entropy data is out of scope
    assert parse_image_header(b"\xff\xd8\xff\xda" + b"\x00\x0c" + b"\x00" * 10) is None
    # desynced: a non-FF byte where a marker must start
    assert parse_image_header(b"\xff\xd8\xff\xe0\x00\x03\x00" + b"Z" + sof) is None
    # truncated mid-segment-length
    assert parse_image_header(b"\xff\xd8\xff\xc0\x00") is None
    # plain text never matches (no 0xFF bytes)
    assert parse_image_header(b"the quick brown fox " * 4) is None
    # happy path for the same SOF segment, as a control
    assert parse_image_header(b"\xff\xd8" + sof + b"\xff\xd9") == ("jpeg", 5, 4, 1)


# ---------------------------------------------------------------------------
# JPEG entropy-decode roundtrip: Huffman-encode arbitrary quantized
# coefficient blocks with an INDEPENDENT test-side encoder (own bit
# writer, byte stuffing, restart markers, fixed-length canonical
# tables), then require _jpeg_pixels to reproduce the pixels an
# INDEPENDENT 4-loop IDCT reconstruction predicts — across grayscale
# and 4:2:0 color, restart intervals, and non-MCU-aligned dimensions.

from hypothesis import assume

from garmin_performance_analysis_spark.pipelines.multimodal import (
    _JPEG_ZIGZAG,
    _jpeg_pixels,
)


class _JBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            self.acc <<= 8 - self.nbits
            self.acc |= (1 << (8 - self.nbits)) - 1  # pad with 1s per spec
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


# Fixed-length canonical tables: every DC category 0..11 at length 5;
# every AC (run,size) symbol plus EOB/ZRL at length 8.  Deliberately
# NOT the T.81 example tables, so nothing about the decoder's table
# builder is assumed beyond canonical-code semantics.
_DC_SYMS = list(range(16))  # categories 12-15 only occur at 12-bit
_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
] + [
    r << 4 for r in range(1, 15)  # EOBn run-length symbols (progressive)
]


def _canon_codes(symbols, length):
    return {sym: (length, i) for i, sym in enumerate(symbols)}


_DC_CODES = _canon_codes(_DC_SYMS, 5)
_AC_CODES = _canon_codes(_AC_SYMS, 8)


def _dht(tc_th: int, symbols, length: int) -> bytes:
    counts = [0] * 16
    counts[length - 1] = len(symbols)
    payload = bytes([tc_th]) + bytes(counts) + bytes(symbols)
    return b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload


def _write_sym(bw, codes, sym):
    length, code = codes[sym]
    bw.write(code, length)


def _write_coef_bits(bw, v: int) -> int:
    s = int(abs(v)).bit_length()
    if s:
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
    return s


def _encode_block(bw, coefs, pred):
    """coefs: 64 ints in zigzag order.  Returns the new DC predictor."""
    dc = int(coefs[0])
    s = int(abs(dc - pred)).bit_length()
    _write_sym(bw, _DC_CODES, s)
    if s:
        d = dc - pred
        bw.write(d if d >= 0 else d + (1 << s) - 1, s)
    run = 0
    last_nz = max((k for k in range(1, 64) if coefs[k]), default=0)
    for k in range(1, last_nz + 1):
        v = int(coefs[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            _write_sym(bw, _AC_CODES, 0xF0)  # ZRL
            run -= 16
        s = int(abs(v)).bit_length()
        _write_sym(bw, _AC_CODES, (run << 4) | s)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        _write_sym(bw, _AC_CODES, 0x00)  # EOB
    return dc


def _build_jpeg(w, h, comp_blocks, samplings, quants, dri=0, precision=8):
    """comp_blocks[ci]: list of 64-int zigzag blocks in MCU scan order;
    samplings[ci] = (hs, vs); quants[ci] = 64 ints (zigzag).
    precision=12 emits the extended-sequential class: SOF1 marker and
    16-bit DQT entries (Pq=1)."""
    nc = len(comp_blocks)
    out = bytearray(b"\xff\xd8")
    for qi, q in enumerate(quants):
        if precision == 12:
            out += (
                b"\xff\xdb"
                + struct.pack(">H", 2 + 1 + 128)
                + bytes([0x10 | qi])
                + struct.pack(">64H", *q)
            )
        else:
            out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + bytes([qi]) + bytes(q)
    sof = bytes([precision]) + struct.pack(">HH", h, w) + bytes([nc])
    for ci in range(nc):
        hs, vs = samplings[ci]
        sof += bytes([ci + 1, (hs << 4) | vs, ci if ci < len(quants) else 0])
    marker = b"\xff\xc1" if precision == 12 else b"\xff\xc0"
    out += marker + struct.pack(">H", 2 + len(sof)) + sof
    out += _dht(0x00, _DC_SYMS, 5) + _dht(0x10, _AC_SYMS, 8)
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    hmax = max(s[0] for s in samplings)
    vmax = max(s[1] for s in samplings)
    mx = -(-w // (8 * hmax))
    my = -(-h // (8 * vmax))
    bw = _JBitWriter()
    preds = [0] * nc
    iters = [iter(blocks) for blocks in comp_blocks]
    rst = 0
    for m in range(mx * my):
        if dri and m and m % dri == 0:
            out += bw.flush()
            out += bytes([0xFF, 0xD0 + rst % 8])
            rst += 1
            bw = _JBitWriter()
            preds = [0] * nc
        for ci in range(nc):
            hs, vs = samplings[ci]
            for _ in range(hs * vs):
                preds[ci] = _encode_block(bw, next(iters[ci]), preds[ci])
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _ref_idct(coefs_zz, quant_zz, center=128.0):
    """Independent 4-loop IDCT reconstruction of one block (T.81 A.3.3
    stated directly), on dequantized de-zigzagged coefficients."""
    blk = np.zeros((8, 8))
    for zz, nat in enumerate(_JPEG_ZIGZAG):
        blk[nat // 8][nat % 8] = coefs_zz[zz] * quant_zz[zz]
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            acc = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    acc += (
                        cu * cv * blk[u][v]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            out[x][y] = acc / 4 + center
    return out


def _ref_decode(w, h, comp_blocks, samplings, quants, prec=8):
    """Independent full-frame reconstruction: blocks → planes → crop →
    nearest upsample → (YCbCr→RGB) → round/clip → channel means."""
    center = float(1 << (prec - 1))
    maxval = (1 << prec) - 1
    hmax = max(s[0] for s in samplings)
    vmax = max(s[1] for s in samplings)
    mx = -(-w // (8 * hmax))
    my = -(-h // (8 * vmax))
    full = []
    for ci, blocks in enumerate(comp_blocks):
        hs, vs = samplings[ci]
        plane = np.zeros((my * vs * 8, mx * hs * 8))
        it = iter(blocks)
        for m in range(mx * my):
            mcu_y, mcu_x = divmod(m, mx)
            for by in range(vs):
                for bx in range(hs):
                    plane[
                        (mcu_y * vs + by) * 8 : (mcu_y * vs + by) * 8 + 8,
                        (mcu_x * hs + bx) * 8 : (mcu_x * hs + bx) * 8 + 8,
                    ] = _ref_idct(next(it), quants[ci], center)
        cw = -(-w * hs // hmax)
        ch = -(-h * vs // vmax)
        p = plane[:ch, :cw]
        p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        chans = [full[0]]
    else:
        y, cb, cr = full
        chans = [
            y + 1.402 * (cr - center),
            y - 0.344136 * (cb - center) - 0.714136 * (cr - center),
            y + 1.772 * (cb - center),
        ]
    # reject draws whose float pixels sit on a rounding knife-edge —
    # there the two independent IDCTs may legally round apart
    for c in chans:
        assume(float(np.min(np.abs(np.mod(c, 1.0) - 0.5))) > 1e-6)
    ints = [np.clip(np.round(c), 0, maxval).astype(np.int64) for c in chans]
    n_px = w * h
    means = [float(c.sum()) / n_px for c in ints]
    total = sum(float(c.sum()) for c in ints)
    return means, total / (n_px * len(ints))


def _rand_blocks(rng, n_blocks, density):
    blocks = []
    for _ in range(n_blocks):
        coefs = np.zeros(64, dtype=np.int64)
        coefs[0] = rng.randint(-400, 401)
        nz = rng.randint(0, density + 1)
        for _ in range(nz):
            coefs[rng.randint(1, 64)] = rng.randint(-200, 201)
        blocks.append(coefs)
    return blocks


@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    density=st.integers(min_value=0, max_value=12),
    dri=st.sampled_from([0, 1, 2]),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_grayscale_entropy_roundtrip(w, h, density, dri, seed):
    rng = np.random.RandomState(seed)
    quant = [1] + [rng.randint(1, 9) for _ in range(63)]
    n_blocks = (-(-w // 8)) * (-(-h // 8))
    blocks = _rand_blocks(rng, n_blocks, density)
    payload = _build_jpeg(w, h, [blocks], [(1, 1)], [quant], dri=dri)
    assert parse_image_header(payload) == ("jpeg", w, h, 1)
    want_means, want_mean = _ref_decode(w, h, [blocks], [(1, 1)], [quant])
    got = decode_pixels(payload)
    assert got is not None, "baseline JPEG must decode"
    got_mean, got_means = got
    assert got_means == want_means
    assert got_mean == want_mean
    # truncating the scan mid-stream must reject, not decode noise
    assert _jpeg_pixels(payload[: len(payload) // 2]) is None


@given(
    w=st.integers(min_value=1, max_value=18),
    h=st.integers(min_value=1, max_value=18),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=25, deadline=None)
def test_jpeg_420_color_entropy_roundtrip(w, h, seed):
    """4:2:0: Y at 2×2 per MCU, chroma at 1×1 with nearest upsampling,
    YCbCr→RGB — against the independent reconstruction."""
    rng = np.random.RandomState(seed)
    quants = [[1] + [rng.randint(1, 5) for _ in range(63)] for _ in range(3)]
    samplings = [(2, 2), (1, 1), (1, 1)]
    mx = -(-w // 16)
    my = -(-h // 16)
    comp_blocks = [
        _rand_blocks(rng, mx * my * 4, 6),
        _rand_blocks(rng, mx * my, 4),
        _rand_blocks(rng, mx * my, 4),
    ]
    payload = _build_jpeg(w, h, comp_blocks, samplings, quants)
    assert parse_image_header(payload) == ("jpeg", w, h, 3)
    want_means, want_mean = _ref_decode(w, h, comp_blocks, samplings, quants)
    got = decode_pixels(payload)
    assert got is not None
    got_mean, got_means = got
    assert got_means == want_means
    assert got_mean == want_mean


def test_jpeg_unsupported_shapes_fall_back_to_header_only():
    """Header-only streams (baseline or progressive: no scan data at
    all) report dimensions via parse_image_header but decode to None;
    arbitrary text stays fully opaque."""
    # header-only (mm3's old jpeg class): SOI + SOF0 + EOI, no scan
    sof = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 4, 5, 1) + b"\x01\x11\x00"
    hdr_only = b"\xff\xd8" + sof + b"\xff\xd9"
    assert parse_image_header(hdr_only) == ("jpeg", 5, 4, 1)
    assert _jpeg_pixels(hdr_only) is None
    # progressive: same layout under SOF2
    sof2 = b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 4, 5, 1) + b"\x01\x11\x00"
    prog = b"\xff\xd8" + sof2 + b"\xff\xd9"
    assert parse_image_header(prog) == ("jpeg", 5, 4, 1)
    assert _jpeg_pixels(prog) is None


@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    density=st.integers(min_value=0, max_value=10),
    dri=st.sampled_from([0, 2]),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=30, deadline=None)
def test_jpeg_12bit_grayscale_entropy_roundtrip(w, h, density, dri, seed):
    """12-bit extended sequential (SOF1 + 16-bit DQT): samples decode
    in the native 0..4095 domain with the level shift at 2048 — against
    the independent reconstruction.  Exercises DC categories >11 and
    quant entries >255, both unreachable at 8-bit."""
    rng = np.random.RandomState(seed)
    quant = [1] + [rng.randint(1, 400) for _ in range(63)]
    n_blocks = (-(-w // 8)) * (-(-h // 8))
    blocks = []
    for _ in range(n_blocks):
        coefs = np.zeros(64, dtype=np.int64)
        coefs[0] = rng.randint(-6000, 6001)  # DC diff category up to 13
        for _ in range(rng.randint(0, density + 1)):
            coefs[rng.randint(1, 64)] = rng.randint(-900, 901)
        blocks.append(coefs)
    payload = _build_jpeg(w, h, [blocks], [(1, 1)], [quant], dri=dri,
                          precision=12)
    assert parse_image_header(payload) == ("jpeg", w, h, 1)
    want_means, want_mean = _ref_decode(w, h, [blocks], [(1, 1)], [quant],
                                        prec=12)
    got = decode_pixels(payload)
    assert got is not None, "12-bit sequential JPEG must decode"
    got_mean, got_means = got
    assert got_means == want_means
    assert got_mean == want_mean


@given(
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=16),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=15, deadline=None)
def test_jpeg_12bit_color_roundtrip(w, h, seed):
    """12-bit 4:4:4 color: YCbCr→RGB around the 2048 center."""
    rng = np.random.RandomState(seed)
    quants = [[1] + [rng.randint(1, 300) for _ in range(63)] for _ in range(3)]
    samplings = [(1, 1), (1, 1), (1, 1)]
    n_blocks = (-(-w // 8)) * (-(-h // 8))
    comp_blocks = []
    for _ in range(3):
        blocks = []
        for _ in range(n_blocks):
            coefs = np.zeros(64, dtype=np.int64)
            coefs[0] = rng.randint(-4000, 4001)
            for _ in range(rng.randint(0, 5)):
                coefs[rng.randint(1, 64)] = rng.randint(-500, 501)
            blocks.append(coefs)
        comp_blocks.append(blocks)
    payload = _build_jpeg(w, h, comp_blocks, samplings, quants, precision=12)
    assert parse_image_header(payload) == ("jpeg", w, h, 3)
    want_means, want_mean = _ref_decode(w, h, comp_blocks, samplings, quants,
                                        prec=12)
    got = decode_pixels(payload)
    assert got is not None
    got_mean, got_means = got
    assert got_means == want_means
    assert got_mean == want_mean


def test_jpeg_12bit_under_sof0_rejects():
    """Baseline (SOF0) is 8-bit by spec (T.81 Table B.2): a 12-bit
    precision byte under SOF0 must reject, not decode."""
    quant = [1] * 64
    blocks = [np.zeros(64, dtype=np.int64)]
    payload = _build_jpeg(8, 8, [blocks[0:1]], [(1, 1)], [quant],
                          precision=12)
    # rewrite the SOF1 marker to SOF0, keeping the 12-bit precision byte
    bad = payload.replace(b"\xff\xc1", b"\xff\xc0", 1)
    assert _jpeg_pixels(bad) is None
    # and the untouched SOF1 stream decodes (mid-gray frame, mean 2048)
    got = decode_pixels(payload)
    assert got is not None and got[0] == 2048.0


# ---------------------------------------------------------------------------
# Ordered funnel vs a from-scratch Python mirror on random event sets.


@given(
    n=st.integers(min_value=1, max_value=60),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=25, deadline=None)
def test_ordered_funnel_matches_python_mirror(spark, n, seed):
    import datetime

    from garmin_performance_analysis_spark.operators.funnels import ordered_funnel

    rng = np.random.RandomState(seed)
    stages = ["view", "click", "purchase"]
    rows = []
    for i in range(n):
        k = int(rng.randint(0, 4))
        ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(
            seconds=int(rng.randint(0, 500))
        )
        et = stages[rng.randint(0, 3)]
        rows.append((k, ts, et))
    df = spark.createDataFrame(rows, "k long, ts timestamp, et string")
    got = {
        r["k"]: (r["s0"], r["s1"], r["s2"])
        for r in ordered_funnel(df, ["k"], "ts", "et", stages)
        .groupBy("k")
        .agg(
            F.min("stage0_ts").alias("s0"),
            F.min("stage1_ts").alias("s1"),
            F.min("stage2_ts").alias("s2"),
        )
        .collect()
    }
    # mirror: stage k = min ts of stage-k events strictly after stage k-1
    want = {}
    by_k = {}
    for k, ts, et in rows:
        by_k.setdefault(k, []).append((ts, et))
    for k, evs in by_k.items():
        prev = None
        matched = []
        for stage in stages:
            cands = [
                t
                for (t, et) in evs
                if et == stage and (prev is None or t > prev)
            ]
            cur = min(cands) if cands else None
            matched.append(cur)
            if cur is None:
                matched += [None] * (len(stages) - len(matched))
                break
            prev = cur
        want[k] = tuple(matched)
    assert got == want


# ---------------------------------------------------------------------------
# Progressive JPEG roundtrip: an INDEPENDENT test-side progressive
# encoder (spectral-selection scan scripts with successive
# approximation, EOB-run batching, restart markers) against the same
# _ref_decode ground truth the baseline tests use.  A complete scan
# script reconstructs the coefficients EXACTLY (progressive is
# lossless in the coefficient domain once every bit plane is sent), so
# the decoder must match _ref_decode bit-for-bit.

from garmin_performance_analysis_spark.pipelines.multimodal import (  # noqa: E402
    _jpeg_pixels_progressive,
)


def _p_write_eobn(bw, eobrun: int) -> None:
    r = eobrun.bit_length() - 1
    assert r < 15
    _write_sym(bw, _AC_CODES, r << 4)
    if r:
        bw.write(eobrun - (1 << r), r)


def _p_enc_dc(bw, coef0: int, pred: int, ah: int, al: int) -> int:
    v = int(coef0) >> al  # arithmetic shift: two's complement plane split
    if ah == 0:
        d = v - pred
        s = int(abs(d)).bit_length()
        _write_sym(bw, _DC_CODES, s)
        if s:
            bw.write(d if d >= 0 else d + (1 << s) - 1, s)
        return v
    bw.write(v & 1, 1)  # refinement: one raw bit per block
    return pred


def _p_enc_ac_first(bw, coefs, ss: int, se: int, al: int, state: dict) -> None:
    vals = {}
    for k in range(ss, se + 1):
        c = int(coefs[k])
        m = abs(c) >> al
        vals[k] = m if c >= 0 else -m
    last_nz = max((k for k in range(ss, se + 1) if vals[k]), default=None)
    if last_nz is None:
        state["eobrun"] += 1
        if state["eobrun"] == 0x7FFF:
            _p_write_eobn(bw, state["eobrun"])
            state["eobrun"] = 0
        return
    if state["eobrun"]:
        _p_write_eobn(bw, state["eobrun"])
        state["eobrun"] = 0
    run = 0
    for k in range(ss, last_nz + 1):
        v = vals[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            _write_sym(bw, _AC_CODES, 0xF0)
            run -= 16
        s = int(abs(v)).bit_length()
        _write_sym(bw, _AC_CODES, (run << 4) | s)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < se:
        state["eobrun"] += 1


def _p_enc_ac_refine(bw, coefs, ss: int, se: int, al: int, state: dict) -> None:
    """Inverse of the decoder's refinement walk: newly-significant
    coefs (|c| >> al == 1) carry (run, sign); already-significant ones
    (|c| >> al > 1) consume one correction bit wherever the decoder's
    positional walk crosses them.  Fully-empty bands batch into EOB
    runs (no bits owed); bands with leftovers emit their own EOB=1
    followed by the owed correction bits."""
    vis = {k: abs(int(coefs[k])) >> al for k in range(ss, se + 1)}
    hist = {k: vis[k] > 1 for k in range(ss, se + 1)}
    newly = [k for k in range(ss, se + 1) if vis[k] == 1]
    if not newly and not any(hist.values()):
        state["eobrun"] += 1
        if state["eobrun"] == 0x7FFF:
            _p_write_eobn(bw, state["eobrun"])
            state["eobrun"] = 0
        return
    if state["eobrun"]:
        _p_write_eobn(bw, state["eobrun"])
        state["eobrun"] = 0
    k = ss
    for j in newly:
        run = sum(1 for t in range(k, j) if not hist[t])
        while run > 15:
            _write_sym(bw, _AC_CODES, 0xF0)
            crossed = 0
            while crossed < 16:
                if hist[k]:
                    bw.write(vis[k] & 1, 1)
                else:
                    crossed += 1
                k += 1
            run -= 16
        _write_sym(bw, _AC_CODES, (run << 4) | 1)
        bw.write(1 if int(coefs[j]) > 0 else 0, 1)
        for t in range(k, j):
            if hist[t]:
                bw.write(vis[t] & 1, 1)
        k = j + 1
    if k <= se:
        _write_sym(bw, _AC_CODES, 0x00)  # EOB run of 1
        for t in range(k, se + 1):
            if hist[t]:
                bw.write(vis[t] & 1, 1)


def _build_progressive_jpeg(w, h, comp_grids, samplings, quants, scans, dri=0):
    """comp_grids[ci]: 2-D list [by][bx] of 64-int zigzag blocks over
    the PADDED (my*vs, mx*hs) grid.  scans: list of dicts with keys
    comps (component indices), ss, se, ah, al."""
    nc = len(comp_grids)
    out = bytearray(b"\xff\xd8")
    for qi, q in enumerate(quants):
        out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + bytes([qi]) + bytes(q)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for ci in range(nc):
        hs, vs = samplings[ci]
        sof += bytes([ci + 1, (hs << 4) | vs, ci if ci < len(quants) else 0])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    out += _dht(0x00, _DC_SYMS, 5) + _dht(0x10, _AC_SYMS, 8)
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    hmax = max(s[0] for s in samplings)
    vmax = max(s[1] for s in samplings)
    mx = -(-w // (8 * hmax))
    my = -(-h // (8 * vmax))
    for scan in scans:
        sc, ss, se = scan["comps"], scan["ss"], scan["se"]
        ah, al = scan["ah"], scan["al"]
        sos = bytes([len(sc)])
        for ci in sc:
            sos += bytes([ci + 1, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        bw = _JBitWriter()
        preds = [0] * nc
        state = {"eobrun": 0}
        rst = 0
        if len(sc) > 1:  # interleaved DC scan
            units = mx * my
        else:
            ci = sc[0]
            hs, vs = samplings[ci]
            cw = -(-w * hs // hmax)
            ch = -(-h * vs // vmax)
            bw_t, bh_t = -(-cw // 8), -(-ch // 8)
            units = bw_t * bh_t
        for u in range(units):
            if dri and u and u % dri == 0:
                if state["eobrun"]:
                    _p_write_eobn(bw, state["eobrun"])
                    state["eobrun"] = 0
                out += bw.flush()
                out += bytes([0xFF, 0xD0 + rst % 8])
                rst += 1
                bw = _JBitWriter()
                preds = [0] * nc
            if len(sc) > 1:
                mcu_y, mcu_x = divmod(u, mx)
                for ci in sc:
                    hs, vs = samplings[ci]
                    for by in range(vs):
                        for bx in range(hs):
                            blk = comp_grids[ci][mcu_y * vs + by][mcu_x * hs + bx]
                            preds[ci] = _p_enc_dc(bw, blk[0], preds[ci], ah, al)
            else:
                ci = sc[0]
                by, bx = divmod(u, bw_t)
                blk = comp_grids[ci][by][bx]
                if ss == 0:
                    preds[ci] = _p_enc_dc(bw, blk[0], preds[ci], ah, al)
                elif ah == 0:
                    _p_enc_ac_first(bw, blk, ss, se, al, state)
                else:
                    _p_enc_ac_refine(bw, blk, ss, se, al, state)
        if state["eobrun"]:
            _p_write_eobn(bw, state["eobrun"])
        out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _grid(blocks_flat, bh, bw_):
    it = iter(blocks_flat)
    return [[next(it) for _ in range(bw_)] for _ in range(bh)]


def _grid_to_mcu_order(grid, mx, my, hs, vs):
    out = []
    for m in range(mx * my):
        mcu_y, mcu_x = divmod(m, mx)
        for by in range(vs):
            for bx in range(hs):
                out.append(grid[mcu_y * vs + by][mcu_x * hs + bx])
    return out


_GRAY_SA_SCRIPT = [
    {"comps": [0], "ss": 0, "se": 0, "ah": 0, "al": 1},   # DC coarse
    {"comps": [0], "ss": 1, "se": 5, "ah": 0, "al": 2},   # AC low band coarse
    {"comps": [0], "ss": 6, "se": 63, "ah": 0, "al": 1},  # AC high band
    {"comps": [0], "ss": 0, "se": 0, "ah": 1, "al": 0},   # DC refine
    {"comps": [0], "ss": 1, "se": 5, "ah": 2, "al": 1},   # AC refine plane 1
    {"comps": [0], "ss": 1, "se": 5, "ah": 1, "al": 0},   # AC refine plane 0
    {"comps": [0], "ss": 6, "se": 63, "ah": 1, "al": 0},  # AC refine plane 0
]


@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    density=st.integers(min_value=0, max_value=12),
    dri=st.sampled_from([0, 1, 2]),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_progressive_grayscale_sa_roundtrip(w, h, density, dri, seed):
    """Full successive-approximation script (DC Al=1→0, AC planes
    2→1→0 on a split spectral band) with EOB-run batching and restart
    intervals: complete refinement is coefficient-lossless, so the
    progressive decoder must reproduce the independent reconstruction
    exactly — same bar as the baseline roundtrip."""
    rng = np.random.RandomState(seed)
    quant = [1] + [rng.randint(1, 9) for _ in range(63)]
    bw_t, bh_t = -(-w // 8), -(-h // 8)
    blocks = _rand_blocks(rng, bw_t * bh_t, density)
    payload = _build_progressive_jpeg(
        w, h, [_grid(blocks, bh_t, bw_t)], [(1, 1)], [quant],
        _GRAY_SA_SCRIPT, dri=dri,
    )
    assert parse_image_header(payload) == ("jpeg", w, h, 1)
    want_means, want_mean = _ref_decode(w, h, [blocks], [(1, 1)], [quant])
    got = _jpeg_pixels(payload)  # dispatches to the progressive path
    assert got is not None, "progressive JPEG must decode"
    got_mean, got_means = got
    assert got_means == want_means
    assert got_mean == want_mean
    # truncating the scan mid-stream must reject, not decode noise
    assert _jpeg_pixels_progressive(payload[: len(payload) * 2 // 3]) is None


def test_jpeg_progressive_undefined_dc_table_returns_none():
    """A progressive scan whose component references a DHT slot that
    was never defined must fall back to opaque-media (None), not crash
    the task with KeyError (round-8 ADVICE): patch the first SOS's
    td/ta byte from 0x00 to 0x10 so the DC scan asks for undefined DC
    table 1."""
    quant = [1] * 64
    payload = bytearray(
        _build_progressive_jpeg(
            8, 8, [_grid(_rand_blocks(np.random.RandomState(0), 1, 4), 1, 1)],
            [(1, 1)], [quant], _GRAY_SA_SCRIPT,
        )
    )
    sos = payload.find(b"\xff\xda")
    assert sos > 0 and payload[sos + 6] == 0x00
    payload[sos + 6] = 0x10  # td=1: DC table 1 is never defined
    assert _jpeg_pixels_progressive(bytes(payload)) is None
    assert _jpeg_pixels(bytes(payload)) is None


@given(
    w=st.integers(min_value=1, max_value=18),
    h=st.integers(min_value=1, max_value=18),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=25, deadline=None)
def test_jpeg_progressive_420_spectral_roundtrip(w, h, seed):
    """4:2:0 color with an interleaved DC scan + per-component AC
    band scans (spectral selection only, Al=0) — the canonical
    progressive layout — against the independent reconstruction."""
    rng = np.random.RandomState(seed)
    quants = [[1] + [rng.randint(1, 5) for _ in range(63)] for _ in range(3)]
    samplings = [(2, 2), (1, 1), (1, 1)]
    mx, my = -(-w // 16), -(-h // 16)
    grids = [
        _grid(_rand_blocks(rng, my * 2 * mx * 2, 6), my * 2, mx * 2),
        _grid(_rand_blocks(rng, my * mx, 4), my, mx),
        _grid(_rand_blocks(rng, my * mx, 4), my, mx),
    ]
    scans = [
        {"comps": [0, 1, 2], "ss": 0, "se": 0, "ah": 0, "al": 0},
        {"comps": [0], "ss": 1, "se": 63, "ah": 0, "al": 0},
        {"comps": [1], "ss": 1, "se": 63, "ah": 0, "al": 0},
        {"comps": [2], "ss": 1, "se": 63, "ah": 0, "al": 0},
    ]
    payload = _build_progressive_jpeg(w, h, grids, samplings, quants, scans)
    assert parse_image_header(payload) == ("jpeg", w, h, 3)
    # NON-INTERLEAVED AC scans cover only each component's true block
    # extent: pad-only blocks (outside ceil(cw/8)x ceil(ch/8)) never
    # receive AC coefficients, so zero them in the reference too
    ref_grids = []
    for ci, (hs, vs) in enumerate(samplings):
        cw = -(-w * hs // 2)
        ch = -(-h * vs // 2)
        bw_t, bh_t = -(-cw // 8), -(-ch // 8)
        g = []
        for by, row in enumerate(grids[ci]):
            out_row = []
            for bx, blk in enumerate(row):
                if by < bh_t and bx < bw_t:
                    out_row.append(blk)
                else:
                    dc_only = np.zeros(64, dtype=np.int64)
                    dc_only[0] = blk[0]
                    out_row.append(dc_only)
            g.append(out_row)
        ref_grids.append(g)
    ref_blocks = [
        _grid_to_mcu_order(ref_grids[ci], mx, my, *samplings[ci])
        for ci in range(3)
    ]
    want_means, want_mean = _ref_decode(w, h, ref_blocks, samplings, quants)
    got = _jpeg_pixels(payload)
    assert got is not None
    got_mean, got_means = got
    assert got_means == want_means
    assert got_mean == want_mean


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    color_type=st.sampled_from([0, 2, 3, 4, 6]),
    bitd=st.sampled_from([8, 16]),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=60, deadline=None)
def test_png_adam7_interlaced_roundtrip(w, h, color_type, bitd, seed):
    """Adam7: seven independently-filtered sub-images scattered on the
    8x8 grid — including sub-pixel-wide images where later passes are
    EMPTY and contribute zero bytes.  The encoder filters each pass
    per spec with its own zero previous row; the decoder must invert
    every pass and reassemble the exact raster (palette included)."""
    if color_type == 3:
        bitd = 8  # palette is 8-bit indices only
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    rng = np.random.RandomState(seed)
    plte = None
    if color_type == 3:
        n_colors = rng.randint(1, 17)
        plte = rng.randint(0, 256, size=(n_colors, 3)).astype(np.uint8)
        img = rng.randint(0, n_colors, size=(h, w, 1)).astype(np.uint8)
    elif bitd == 16:
        img = rng.randint(0, 65536, size=(h, w, ch)).astype(np.uint16)
    else:
        img = rng.randint(0, 256, size=(h, w, ch)).astype(np.uint8)
    filters = [rng.randint(0, 5) for _ in range(max(1, h))]
    payload = _build_png(img, color_type, filters, plte=plte, interlace=1)
    got = decode_pixels(payload)
    assert got is not None, "interlaced PNG must decode"
    pixel_mean, ch_means = got
    if color_type == 3:
        flat = plte.astype(np.int64)[img.reshape(-1)]
        out_ch = 3
    else:
        flat = img.reshape(-1, ch).astype(np.int64)
        out_ch = ch
    want_ch = [float(s) / (w * h) for s in flat.sum(axis=0)]
    assert ch_means == want_ch
    assert pixel_mean == float(flat.sum()) / (w * h * out_ch)
    # a truncated interlaced stream must reject, not misassemble
    import zlib as _z

    raw_start = payload.index(b"IDAT")
    assert decode_pixels(payload[: raw_start + 8]) is None


# ---------------------------------------------------------------------------
# Salting is a pure physical rewrite: for ANY data, key skew, bucket
# count, and salt column, the two-stage salted aggregate and the
# replicated salted join must equal their plain one-stage forms.


def _f(x):
    """float-or-None: SUM over an all-NULL group is NULL."""
    return None if x is None else float(x)


@given(
    n=st.integers(min_value=1, max_value=300),
    n_keys=st.integers(min_value=1, max_value=8),
    buckets=st.sampled_from([1, 2, 7, 16]),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=15, deadline=None)
def test_salted_aggregate_equals_plain_for_any_skew(
    spark, n, n_keys, buckets, seed
):
    import numpy as np

    from garmin_performance_analysis_spark.operators.skew import (
        salted_aggregate,
    )

    rng = np.random.RandomState(seed)
    # zipf-ish skew: key 0 gets the lion's share; ~20% NULL v so the
    # count-vs-count_nonnull split is actually exercised
    keys = rng.zipf(1.5, size=n) % n_keys
    rows = [
        (
            int(k),
            int(i),
            None if rng.rand() < 0.2 else float(rng.randint(-1000, 1000)) / 8,
        )
        for i, k in enumerate(keys)
    ]
    df = spark.createDataFrame(rows, "k long, id long, v double").withColumn(
        "vdec", F.col("v").cast("decimal(30,12)")
    )
    got = {
        r["k"]: (r["n"], r["nv"], _f(r["s"]), r["lo"], r["hi"])
        for r in salted_aggregate(
            df,
            ["k"],
            {
                "n": ("v", "count"),            # COUNT(*) — col ignored
                "nv": ("v", "count_nonnull"),   # COUNT(v)
                "s": ("vdec", "sum"),
                "lo": ("v", "min"),
                "hi": ("v", "max"),
            },
            buckets=buckets,
            salt_on=["id"],
        ).collect()
    }
    want = {
        r["k"]: (r["n"], r["nv"], _f(r["s"]), r["lo"], r["hi"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("v").alias("nv"),
            F.sum("vdec").alias("s"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }
    assert got == want


@given(
    n=st.integers(min_value=1, max_value=300),
    n_dim=st.integers(min_value=1, max_value=12),
    buckets=st.sampled_from([1, 3, 16]),
    how=st.sampled_from(["inner", "left", "left_semi", "left_anti"]),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=12, deadline=None)
def test_salted_join_equals_plain_for_any_skew(
    spark, n, n_dim, buckets, how, seed
):
    import numpy as np

    from garmin_performance_analysis_spark.operators.skew import salted_join

    rng = np.random.RandomState(seed)
    # hot key 0 + keys that MISS the dim (exercise inner drops / left
    # nulls / semi keeps / anti keeps)
    keys = [0 if rng.rand() < 0.6 else int(rng.randint(0, n_dim + 3)) for _ in range(n)]
    big = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "k long, id long"
    )
    small = spark.createDataFrame(
        [(k, f"d{k}") for k in range(n_dim)], "k long, name string"
    )
    # semi/anti joins emit only big's columns
    cols = ("k", "id") if how in ("left_semi", "left_anti") else ("k", "id", "name")
    got = sorted(
        tuple(r[c] for c in cols)
        for r in salted_join(big, small, ["k"], buckets=buckets, how=how).collect()
    )
    want = sorted(
        tuple(r[c] for c in cols) for r in big.join(small, "k", how).collect()
    )
    assert got == want


def test_salted_join_rejects_small_side_driven_types(spark):
    """right/full_outer would duplicate every unmatched small row once
    per salt bucket — salted_join must refuse them loudly (round-8
    VERDICT item 2), not return silently wrong results."""
    import pytest as _pytest

    from garmin_performance_analysis_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, 10)], "k long, id long")
    small = spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string")
    for how in ("right", "rightouter", "right_outer", "full", "outer",
                "full_outer", "fullouter"):
        with _pytest.raises(ValueError, match="salted_join"):
            salted_join(big, small, ["k"], buckets=4, how=how)


def _pack_subbyte_rows(samples: np.ndarray, bitd: int) -> np.ndarray:
    """Pack an (h, w) sample grid into PNG sub-byte scanline bytes:
    MSB-first within a byte, each row padded to a byte boundary."""
    h, w = samples.shape
    shifts = np.arange(bitd - 1, -1, -1)
    bits = ((samples[:, :, None] >> shifts) & 1).reshape(h, w * bitd)
    return np.packbits(bits.astype(np.uint8), axis=1)


def _build_png_subbyte(samples: np.ndarray, bitd: int, color_type: int,
                       filters, plte=None, interlace: int = 0) -> bytes:
    """PNG builder for bit depths 1/2/4 (grayscale or palette):
    per-(pass-)row sub-byte packing, then the byte-level filter
    transform with bpp=1, exactly per spec §7.2/§4.5.4."""
    h, w = samples.shape
    if interlace == 0:
        packed = _pack_subbyte_rows(samples, bitd)
        out = _filter_png_rows(packed, 1, filters)
    else:
        out = bytearray()
        for ox, oy, sx, sy in _ADAM7_TEST:
            sub = samples[oy::sy, ox::sx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            out += _filter_png_rows(_pack_subbyte_rows(sub, bitd), 1, filters)
    ihdr = struct.pack(">IIBBBBB", w, h, bitd, color_type, 0, 0, interlace)
    png = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    if plte is not None:
        png += _chunk(b"PLTE", plte.astype(np.uint8).tobytes())
    comp = zlib.compress(bytes(out))
    png += _chunk(b"IDAT", comp[: len(comp) // 2])
    png += _chunk(b"IDAT", comp[len(comp) // 2 :])
    png += _chunk(b"IEND", b"")
    return png


@given(
    w=st.integers(min_value=1, max_value=25),
    h=st.integers(min_value=1, max_value=25),
    bitd=st.sampled_from([1, 2, 4]),
    color_type=st.sampled_from([0, 3]),
    interlace=st.sampled_from([0, 1]),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=60, deadline=None)
def test_png_subbyte_pixel_roundtrip(w, h, bitd, color_type, interlace, seed):
    """Sub-byte-packed PNG (bit depth 1/2/4, grayscale + palette,
    interlace 0 + Adam7): the decoder must reproduce exact channel
    means computed from the reference sample grid — closes the r8
    documented decode boundary."""
    from garmin_performance_analysis_spark.pipelines.multimodal import (
        _png_pixels,
        parse_image_header,
    )

    rng = np.random.RandomState(seed)
    samples = rng.randint(0, 1 << bitd, size=(h, w)).astype(np.int64)
    filters = [int(rng.randint(0, 5)) for _ in range(max(h, 1))]
    plte = None
    if color_type == 3:
        plte = rng.randint(0, 256, size=(1 << bitd, 3)).astype(np.uint8)
    payload = _build_png_subbyte(
        samples, bitd, color_type, filters, plte=plte, interlace=interlace
    )
    hdr = parse_image_header(payload)
    assert hdr is not None and hdr[1] == w and hdr[2] == h
    got = _png_pixels(payload)
    assert got is not None, "sub-byte PNG must decode"
    got_mean, got_means = got
    n_px = w * h
    if color_type == 3:
        rgb = plte.astype(np.int64)[samples.reshape(-1)]
        want_means = [float(rgb[:, c].sum()) / n_px for c in range(3)]
        want_mean = float(rgb.sum()) / (n_px * 3)
    else:
        want_means = [float(samples.sum()) / n_px]
        want_mean = want_means[0]
    assert got_means == want_means
    assert got_mean == want_mean
    # truncating INTO the chunk stream must reject, not decode garbage
    # (dropping only the IEND tail is tolerated by design — the data
    # chunks are complete and CRC-verified)
    assert _png_pixels(payload[: len(payload) // 2]) is None


# --- GIF: build real LZW streams test-side, decode with the module ---
# The encoder is an independent implementation of GIF89a Appendix F
# (dictionary LZW + late width change); the bit widths are produced by
# REPLAYING the decoder-side table-growth rule over the emitted code
# sequence, so a rule mismatch between the two sides shows up as a
# roundtrip failure instead of silently passing.

from garmin_performance_analysis_spark.pipelines.multimodal import (
    _gif_pixels,
)


def _gif_lzw_encode(indices, mcs):
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    table = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    codes = [clear]
    prefix = (indices[0],)
    for px in indices[1:]:
        cand = prefix + (px,)
        if cand in table:
            prefix = cand
            continue
        codes.append(table[prefix])
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
        else:  # table full: emit CLEAR, start over
            codes.append(clear)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
        prefix = (px,)
    codes.append(table[prefix])
    codes.append(eoi)
    # bit-pack at the width the DECODER expects at each position
    out = bytearray()
    acc = nbits = 0
    width, table_len, have_prev = mcs + 1, clear + 2, False
    for code in codes:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        if code == clear:
            width, table_len, have_prev = mcs + 1, clear + 2, False
        elif code == eoi:
            pass
        elif not have_prev:
            have_prev = True
        elif table_len < 4096:
            table_len += 1
            if table_len == (1 << width) and width < 12:
                width += 1
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _build_gif(w, h, palette, indices, *, local_table=False,
               interlace=False, with_gce=False, version=b"GIF89a"):
    n_pal = len(palette)
    mcs = max(2, (n_pal - 1).bit_length())
    pal_bits = max(1, (n_pal - 1).bit_length())
    pal_bytes = b"".join(bytes(c) for c in palette)
    pal_bytes += b"\x00" * (3 * ((2 << (pal_bits - 1)) - n_pal))
    out = bytearray(version)
    out += struct.pack("<HH", w, h)
    if local_table:
        out += bytes([0x00, 0, 0])  # no GCT
    else:
        out += bytes([0x80 | (pal_bits - 1), 0, 0])
        out += pal_bytes
    if with_gce:  # 89a graphic control extension, should be skipped
        out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    if interlace:
        rows = [indices[r * w:(r + 1) * w] for r in range(h)]
        order = [r for s, st in ((0, 8), (4, 8), (2, 4), (1, 2))
                 for r in range(s, h, st)]
        stream = [px for r in order for px in rows[r]]
    else:
        stream = list(indices)
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    out += bytes([(0x80 | 0x40 | (pal_bits - 1)) if (local_table and interlace)
                  else (0x80 | (pal_bits - 1)) if local_table
                  else 0x40 if interlace else 0x00])
    if local_table:
        out += pal_bytes
    out += bytes([mcs])
    lzw = _gif_lzw_encode(stream, mcs)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=20),
    n_pal=st.integers(min_value=4, max_value=256),
    local_table=st.booleans(),
    interlace=st.booleans(),
    with_gce=st.booleans(),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=50, deadline=None)
def test_gif_lzw_roundtrip(w, h, n_pal, local_table, interlace, with_gce,
                           seed):
    """decode_pixels on a constructed GIF must reproduce the palette
    means an independent reconstruction computes from the raw indices
    — across GCT/LCT, interlace, 89a extensions, and palette sizes
    from 4 to 256 (code widths 3..9)."""
    rng = np.random.RandomState(seed)
    palette = [tuple(int(v) for v in rng.randint(0, 256, 3))
               for _ in range(n_pal)]
    indices = [int(v) for v in rng.randint(0, n_pal, w * h)]
    payload = _build_gif(w, h, palette, indices, local_table=local_table,
                         interlace=interlace, with_gce=with_gce)
    assert parse_image_header(payload) == ("gif", w, h, 3)
    pal = np.array(palette, dtype=np.int64)
    rgb = pal[np.array(indices)]
    n_px = w * h
    want_means = [float(s) / n_px for s in rgb.sum(axis=0)]
    want_mean = float(rgb.sum()) / (n_px * 3)
    got = _gif_pixels(payload)
    assert got is not None, "constructed GIF must decode"
    assert got[1] == want_means
    assert got[0] == want_mean
    # truncating the LZW stream mid-way must reject, not decode noise
    assert _gif_pixels(payload[: len(payload) * 2 // 3]) is None


def test_gif_dictionary_overflow_clear_reset():
    """A raster with enough distinct phrases to fill the 4096-entry
    table forces the encoder's CLEAR-reset path and the decoder's
    width climb to 12 bits — the roundtrip must stay exact."""
    rng = np.random.RandomState(7)
    w, h, n_pal = 120, 80, 256
    palette = [tuple(int(v) for v in rng.randint(0, 256, 3))
               for _ in range(n_pal)]
    indices = [int(v) for v in rng.randint(0, n_pal, w * h)]
    payload = _build_gif(w, h, palette, indices)
    pal = np.array(palette, dtype=np.int64)
    rgb = pal[np.array(indices)]
    got = _gif_pixels(payload)
    assert got is not None
    assert got[1] == [float(s) / (w * h) for s in rgb.sum(axis=0)]


def test_gif_unsupported_shapes_fall_back():
    """Partial frames (not covering the logical screen) and missing
    color tables return None; the header still parses."""
    palette = [(1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 11, 12)]
    full = _build_gif(5, 4, palette, [1] * 20)
    # shrink the image descriptor's width: partial frame
    partial = bytearray(full)
    desc = full.index(b"\x2c")
    partial[desc + 5:desc + 7] = struct.pack("<H", 4)
    assert _gif_pixels(bytes(partial)) is None
    assert parse_image_header(full) == ("gif", 5, 4, 3)


# --- graph family: random graphs vs pure-Python brute force ----------


@given(
    n_nodes=st.integers(min_value=2, max_value=10),
    n_edges=st.integers(min_value=1, max_value=25),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=20, deadline=None)
def test_triangle_participation_matches_bruteforce(spark, n_nodes, n_edges,
                                                   seed):
    """Compact-forward enumeration vs the O(n^3) triple scan on random
    multigraphs (duplicates + both orientations + self-loops drawn
    freely)."""
    from garmin_performance_analysis_spark.operators.graph import (
        triangle_participation,
    )

    rng = np.random.RandomState(seed)
    raw = [(int(rng.randint(n_nodes)), int(rng.randint(n_nodes)))
           for _ in range(n_edges)]
    und = {tuple(sorted(e)) for e in raw if e[0] != e[1]}
    nodes = sorted({v for e in und for v in e})
    want = {v: 0 for v in nodes}
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            for c in nodes[nodes.index(b) + 1:]:
                if ({tuple(sorted((a, b))), tuple(sorted((b, c))),
                     tuple(sorted((a, c)))} <= und):
                    want[a] += 1
                    want[b] += 1
                    want[c] += 1
    if not und:
        return
    df = spark.createDataFrame(raw, "src int, dst int")
    got = {r["node"]: r["n_triangles"]
           for r in triangle_participation(df).collect()}
    assert got == want


@given(
    n_nodes=st.integers(min_value=2, max_value=10),
    n_edges=st.integers(min_value=1, max_value=25),
    k=st.integers(min_value=2, max_value=4),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=20, deadline=None)
def test_kcore_matches_bruteforce_fixpoint(spark, n_nodes, n_edges, k, seed):
    """Bounded-round peeling with rounds >= node count must equal the
    run-to-fixpoint Python peel (rounds can never exceed nodes)."""
    from garmin_performance_analysis_spark.operators.graph import kcore_peel

    rng = np.random.RandomState(seed)
    raw = [(int(rng.randint(n_nodes)), int(rng.randint(n_nodes)))
           for _ in range(n_edges)]
    und = {tuple(sorted(e)) for e in raw if e[0] != e[1]}
    if not und:
        return
    E = set(und)
    while True:
        deg: dict = {}
        for u, v in E:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {v for v, d in deg.items() if d >= k}
        E2 = {(u, v) for u, v in E if u in keep and v in keep}
        if E2 == E:
            break
        E = E2
    want: dict = {}
    for u, v in E:
        want[u] = want.get(u, 0) + 1
        want[v] = want.get(v, 0) + 1
    df = spark.createDataFrame(raw, "src int, dst int")
    got = {r["node"]: r["core_deg"]
           for r in kcore_peel(df, k=k, rounds=n_nodes).collect()}
    assert got == want


def _ref_g711(code, alaw):
    """Independent scalar G.711 expansion in quantizer-midpoint form
    (mag = step-midpoint of the segment, stated algebraically rather
    than via the module's CCITT bias-shift sequence)."""
    if alaw:
        a = code ^ 0x55
        seg = (a >> 4) & 0x07
        mant = a & 0x0F
        if seg == 0:
            mag = 8 * (2 * mant + 1)
        else:
            mag = (8 * (2 * mant + 33)) << (seg - 1)
        return mag if a & 0x80 else -mag
    u = (~code) & 0xFF
    seg = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = 4 * ((2 * mant + 33) * (1 << seg) - 33)
    return -mag if u & 0x80 else mag


def _build_g711_wav(codes, n_channels, rate, alaw):
    fmt_tag = 6 if alaw else 7
    data = bytes(codes)
    fmt = struct.pack("<HHIIHH", fmt_tag, n_channels, rate,
                      rate * n_channels, n_channels, 8)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


@given(
    n_frames=st.integers(min_value=0, max_value=200),
    n_channels=st.integers(min_value=1, max_value=3),
    alaw=st.booleans(),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=40, deadline=None)
def test_g711_wav_decode_matches_reference(n_frames, n_channels, alaw, seed):
    """A-law/mu-law WAVs (format tags 6/7) decode through the G.711
    expansion: header reports the tag, and the linear-domain stats
    equal an independent midpoint-form expansion of the same codes."""
    rng = np.random.RandomState(seed)
    codes = [int(v) for v in rng.randint(0, 256, n_frames * n_channels)]
    payload = _build_g711_wav(codes, n_channels, 8000, alaw)
    hdr = parse_audio_header(payload)
    assert hdr is not None
    assert hdr[0] == n_channels and hdr[2] == 8
    assert hdr[5] == (6 if alaw else 7)
    dec = decode_audio_samples(payload, header=hdr)
    assert dec is not None
    nf, dur, amp_mean, amp_rms, ch_means = dec
    assert nf == n_frames
    if n_frames == 0:
        assert amp_mean is None
        return
    ref = np.array([_ref_g711(c, alaw) for c in codes],
                   dtype=np.float64).reshape(n_frames, n_channels)
    assert ch_means == [float(m) for m in ref.mean(axis=0)]
    assert amp_mean == float(ref.mean())
    assert amp_rms == float(np.sqrt((ref ** 2).mean()))


@given(
    n_fact=st.integers(min_value=0, max_value=300),
    key_space=st.integers(min_value=1, max_value=50),
    n_keys=st.integers(min_value=0, max_value=10),
    m_bits=st.sampled_from([8, 64, 1 << 12, 1 << 20]),
    k_hashes=st.integers(min_value=1, max_value=4),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=15, deadline=None)
def test_bloom_semi_prune_no_fn_for_any_params(spark, n_fact, key_space,
                                               n_keys, m_bits, k_hashes,
                                               seed):
    """The no-false-negatives invariant must hold for ANY (m_bits,
    k_hashes, key distribution): prune-then-exact-join equals the
    plain join exactly, including empty sides and saturated filters."""
    from garmin_performance_analysis_spark.operators.joins import (
        bloom_semi_prune,
    )

    rng = np.random.RandomState(seed)
    fact = spark.createDataFrame(
        [(int(rng.randint(key_space)), i) for i in range(n_fact)]
        or [(0, 0)],
        "k long, v long",
    )
    if n_fact == 0:
        fact = fact.filter("v < 0")  # truly empty, schema kept
    keys = spark.createDataFrame(
        [(int(rng.randint(key_space)),) for _ in range(n_keys)] or [(0,)],
        "k long",
    )
    if n_keys == 0:
        keys = keys.filter("k < 0")
    pruned = bloom_semi_prune(fact, keys, "k", m_bits=m_bits,
                              k_hashes=k_hashes)
    got = sorted((r["k"], r["v"]) for r in pruned.join(keys.distinct(), "k").collect())
    want = sorted((r["k"], r["v"]) for r in fact.join(keys.distinct(), "k").collect())
    assert got == want


@given(
    n=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=20, deadline=None)
def test_weighted_median_matches_bruteforce(spark, n, seed):
    """For any positive integer weights and arbitrary values, the
    operator's lower weighted median must equal the brute-force
    expansion (repeat each value weight times, take the element at
    ceil(W/2) in sorted order)."""
    from garmin_performance_analysis_spark.operators.stats import (
        weighted_median,
    )

    rng = np.random.RandomState(seed)
    vals = rng.randint(-50, 50, size=n).astype(float)
    wts = rng.randint(1, 6, size=n)
    rows = [("g", float(v), int(w)) for v, w in zip(vals, wts)]
    df = spark.createDataFrame(rows, "g string, x double, wt long")
    got = weighted_median(df, ["g"], "x", "wt").collect()[0]
    expanded = np.sort(np.repeat(vals, wts))
    want = float(expanded[(len(expanded) + 1) // 2 - 1])
    assert got["wmedian"] == want, (n, seed, got["wmedian"], want)
    assert got["total_weight"] == int(wts.sum())
    # the two-level grid path must agree exactly (non-null values),
    # including when the grid is far coarser/finer than the domain
    for grid in (1.0, 7.0, 1000.0):
        g = weighted_median(df, ["g"], "x", "wt", grid=grid).collect()[0]
        assert g["wmedian"] == want, (n, seed, grid, g["wmedian"], want)
        assert g["total_weight"] == int(wts.sum())
        assert g["n_rows"] == n


@given(
    w=st.integers(min_value=8, max_value=20),
    h=st.integers(min_value=8, max_value=20),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=20, deadline=None)
def test_ahash64_matches_pure_python_reference(w, h, seed):
    """The numpy aHash kernel must equal a dumb double-loop reference
    (spatial top-down orientation, floor box boundaries, exact integer
    threshold) for any raster and any non-multiple-of-8 dims."""
    from garmin_performance_analysis_spark.pipelines.multimodal import (
        ahash64_bits,
    )
    from tests.test_pipelines import _bmp_with_raster

    rng = np.random.RandomState(seed)
    px = rng.randint(0, 256, size=(h, w, 3))
    stride = ((w * 3 + 3) // 4) * 4
    rows = []
    for r in range(h):
        y = h - 1 - r  # stored bottom-up
        rb = bytes(int(b) for x in range(w) for b in px[y, x])
        rows.append(rb + b"\x00" * (stride - w * 3))
    got = ahash64_bits(_bmp_with_raster(w, h, rows))
    lum = px.sum(axis=2)
    total, npx = int(lum.sum()), w * h
    bits = []
    for k in range(64):
        by, bx = k // 8, k % 8
        s = c = 0
        for y in range(h):
            if (y * 8) // h != by:
                continue
            for x in range(w):
                if (x * 8) // w != bx:
                    continue
                s += int(lum[y, x])
                c += 1
        bits.append("1" if s * npx > total * c else "0")
    assert got == "".join(bits), (w, h, seed)


def test_a29_poisson_bootstrap_properties(spark, sf_dir):
    """Three properties of the derandomized Poisson bootstrap: (1) the
    integer threshold ladder is the true Poisson(1) inverse CDF at 1e-6
    granularity; (2) the weights the entry derives match a Python
    reimplementation of the md5 draw for sampled (event, replicate)
    pairs; (3) the bootstrap SE agrees with the classical sd/sqrt(n)
    within a loose statistical band (they estimate the same quantity)."""
    import hashlib
    import math

    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.harness.q_agg import (
        _A29_POISSON_CUM,
    )
    from garmin_performance_analysis_spark.sources.tables import load_table

    # (1) ladder = cumulative Poisson(1) x 1e6, rounded
    cum, p = 0.0, math.exp(-1.0)
    for k, t in enumerate(_A29_POISSON_CUM):
        cum += p
        assert t == round(cum * 1_000_000), (k, t, cum)
        p /= k + 1

    # (2) weight reimplementation on a handful of draws
    def py_weight(event_id: int, r: int) -> int:
        h = hashlib.md5(f"a29|{event_id}|{r}".encode()).hexdigest()
        bucket = int(h[:15], 16) % 1_000_000
        for k, t in enumerate(_A29_POISSON_CUM):
            if bucket < t:
                return k
        return len(_A29_POISSON_CUM)

    # mean weight over many draws ~ 1 (Poisson(1)); exact determinism
    draws = [py_weight(e, r) for e in range(200) for r in range(8)]
    assert abs(sum(draws) / len(draws) - 1.0) < 0.08

    # (3) SE sanity vs classical
    rows = CATALOG["a29_poisson_bootstrap"].fn(spark, sf_dir).collect()
    assert rows
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
        .toPandas()
    )
    for r in rows:
        grp = ev[ev["event_type"] == r["event_type"]]["value"]
        classical = grp.std(ddof=1) / math.sqrt(len(grp))
        assert r["n"] == len(grp)
        assert 0.4 * classical < r["se_boot"] < 2.5 * classical
        assert r["ci_lo"] < r["mean"] < r["ci_hi"]


def test_a31_trimmed_mean_matches_numpy(spark, sf_dir):
    """Per group: the operator's trimmed mean equals the brute-force
    sort-drop-average (floor(0.1 n) from each side), and the kept
    count is exactly n - 2k."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.sources.tables import load_table

    rows = CATALOG["a31_trimmed_mean"].fn(spark, sf_dir).collect()
    assert rows
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
        .toPandas()
    )
    for r in rows:
        vals = sorted(ev[ev["event_type"] == r["event_type"]]["value"])
        k = int(len(vals) * 0.1)
        kept = vals[k : len(vals) - k]
        assert r["n"] == len(vals)
        assert r["n_trimmed_each_side"] == k
        assert r["n_kept"] == len(kept) == len(vals) - 2 * k
        assert abs(r["trimmed_mean"] - round(sum(kept) / len(kept), 6)) < 1e-6


@given(
    n_docs=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=8, deadline=None)
def test_x29_diversity_matches_bruteforce(spark, tmp_path_factory, n_docs, seed):
    """distinct-n ratios and the cross-doc proxy must equal a dumb
    pure-Python recomputation for any random small corpus (including
    1-word docs, repeated docs, and multi-source mixes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from garmin_performance_analysis_spark.harness.catalog import CATALOG

    rng = np.random.RandomState(seed)
    vocab = ["a", "b", "c", "dd"]
    docs = []
    for i in range(n_docs):
        n_words = int(rng.randint(1, 7))
        docs.append(
            (
                i,
                " ".join(rng.choice(vocab, size=n_words)),
                "en",
                f"s{int(rng.randint(0, 2))}",
            )
        )
    d = tmp_path_factory.mktemp("x29")
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in docs], pa.int64()),
            "text": pa.array([r[1] for r in docs]),
            "lang": pa.array([r[2] for r in docs]),
            "source": pa.array([r[3] for r in docs]),
            "n_chars": pa.array(
                [len(r[1]) for r in docs], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, str(d / "documents.parquet"))
    out = {
        r["source"]: r
        for r in CATALOG["x29_distinct_ngram_diversity"].fn(
            spark, str(d)
        ).collect()
    }
    from collections import Counter, defaultdict

    per = defaultdict(lambda: defaultdict(Counter))  # src -> n -> gram -> cnt
    docs_with = defaultdict(lambda: defaultdict(lambda: defaultdict(set)))
    for i, text, _, src in docs:
        w = text.split(" ")
        for n in (1, 2, 3):
            for j in range(len(w) - n + 1):
                g = " ".join(w[j : j + n])
                per[src][n][g] += 1
                docs_with[src][n][g].add(i)
    for src, r in out.items():
        for n, col in ((1, "distinct1_ratio"), (2, "distinct2_ratio"), (3, "distinct3_ratio")):
            grams = per[src][n]
            tot = sum(grams.values())
            want = round(len(grams) / tot, 6) if tot else None
            assert (r[col] is None and want is None) or abs(r[col] - want) < 1e-9, (src, n, seed)
        for n, col in ((2, "self_bleu2_proxy"), (3, "self_bleu3_proxy")):
            grams = per[src][n]
            tot = sum(grams.values())
            cross = sum(c for g, c in grams.items() if len(docs_with[src][n][g]) >= 2)
            want = round(cross / tot, 6) if tot else None
            assert (r[col] is None and want is None) or abs(r[col] - want) < 1e-9, (src, n, seed)


def test_a33_mad_matches_bruteforce_low_median(spark, sf_dir):
    """Per group: median/mad equal the brute-force LOW-median
    (element at index ceil(n/2)-1 of the sorted values; ties broken
    upstream by event_id never change the VALUE selected), and the
    outlier count equals the dumb |x - med| > 3*1.4826*mad scan."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.sources.tables import load_table

    rows = CATALOG["a33_mad_robust_scale"].fn(spark, sf_dir).collect()
    assert rows
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
        .toPandas()
    )

    def low_median(vals):
        s = sorted(vals)
        return s[(len(s) + 1) // 2 - 1]

    for r in rows:
        vals = list(ev[ev["event_type"] == r["event_type"]]["value"])
        med = low_median(vals)
        devs = [abs(v - med) for v in vals]
        mad = low_median(devs)
        assert r["n"] == len(vals)
        assert r["median"] == med
        assert r["mad"] == mad
        assert r["n_outliers_3mad"] == sum(1 for d in devs if d > 4.4478 * mad)


def test_t21_ljung_box_matches_numpy(spark, sf_dir):
    """Q statistic equals the textbook numpy recomputation over the
    same per-user daily-mean series (ACF with the mean subtracted,
    denominator = total sum of squares, Q = n(n+2) sum r_k^2/(n-k)),
    and the verdict is exactly Q > 14.067."""
    import numpy as np
    import pandas as pd

    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.sources.tables import load_table

    rows = {r["user_id"]: r for r in CATALOG["t21_ljung_box"].fn(spark, sf_dir).collect()}
    assert rows
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "value"
    ).toPandas()
    daily = (
        ev.groupby(["user_id", "day"])["value"].mean().reset_index()
    )
    for uid, g in daily.groupby("user_id"):
        x = g.sort_values("day")["value"].to_numpy(dtype=float)
        n = len(x)
        if n < 15:
            assert uid not in rows
            continue
        d = x - x.mean()
        denom = float(d @ d)
        if denom <= 0:
            assert uid not in rows
            continue
        q = 0.0
        for k in range(1, 8):
            rk = float(d[k:] @ d[:-k]) / denom
            q += rk * rk / (n - k)
        q *= n * (n + 2)
        r = rows[uid]
        assert r["n_days"] == n
        assert abs(r["q_stat"] - q) < 1e-4, (uid, r["q_stat"], q)
        assert r["not_white_noise"] == (1 if q > 14.067 else 0)


def test_t22_bh_fdr_matches_bruteforce(spark, sf_dir):
    """The BH rejection set equals a pure-Python step-up recomputation
    over the same per-user lag-1 z statistics, the A&S p-values sit
    within 2e-7 of math.erfc, and the monotone BH invariant holds
    (every rejected p <= every accepted p)."""
    import math

    import pandas as pd

    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.sources.tables import load_table

    rows = CATALOG["t22_bh_fdr"].fn(spark, sf_dir).collect()
    assert rows
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "value"
    ).toPandas()
    daily = ev.groupby(["user_id", "day"])["value"].mean().reset_index()
    stats = {}
    for uid, g in daily.groupby("user_id"):
        x = g.sort_values("day")["value"].to_numpy(dtype=float)
        if len(x) < 4:
            continue
        import numpy as np

        xs, ys = x[:-1], x[1:]
        n = len(xs)
        den = (n * (xs * xs).sum() - xs.sum() ** 2) * (
            n * (ys * ys).sum() - ys.sum() ** 2
        )
        if den <= 0:
            continue
        r = (n * (xs * ys).sum() - xs.sum() * ys.sum()) / math.sqrt(den)
        z = r * math.sqrt(n)
        stats[uid] = (n, z, math.erfc(abs(z) / math.sqrt(2)))
    got = {r["user_id"]: r for r in rows}
    assert set(got) == set(stats)
    # p-values: approximation error bound
    for uid, (n, z, p_exact) in stats.items():
        assert got[uid]["n_pairs"] == n
        assert abs(got[uid]["z_stat"] - z) < 1e-4
        assert abs(got[uid]["p_value"] - p_exact) < 2e-6
    # BH step-up recomputed from the reported p-values' ordering
    m = len(stats)
    order = sorted(got.values(), key=lambda r: r["p_rank"])
    k_star = max(
        (r["p_rank"] for r in order if r["p_value"] <= 0.05 * r["p_rank"] / m + 1e-9),
        default=0,
    )
    n_rejected = order[0]["n_rejected"]
    assert abs(n_rejected - k_star) <= 1  # 6dp-rounded p display vs raw compare
    rejected_ranks = [r["p_rank"] for r in order if r["rejected"] == 1]
    assert rejected_ranks == list(range(1, n_rejected + 1))
    # monotone invariant: rejections are a prefix of the p-ordering
    assert all(r["n_rejected"] == n_rejected for r in order)


def test_t23_seasonal_mk_matches_bruteforce(spark, sf_dir):
    """S', Var' and z equal the textbook per-weekday recomputation
    (Hirsch-Slack: S and tie-corrected variance within each weekday,
    summed), and the verdict bands on the rounded z at 1.96."""
    import math

    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.sources.tables import load_table

    rows = {r["user_id"]: r for r in CATALOG["t23_seasonal_mann_kendall"].fn(spark, sf_dir).collect()}
    assert rows
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "value"
    ).toPandas()
    daily = ev.groupby(["user_id", "day"])["value"].mean().reset_index()
    for uid, g in daily.groupby("user_id"):
        g = g.sort_values("day")
        s_tot, var_num_tot, n_seasons = 0, 0, 0
        for _, gg in g.groupby(g["day"].map(lambda d: d.isoweekday() % 7)):
            xs = gg["value"].tolist()
            n = len(xs)
            n_seasons += 1
            for i in range(n):
                for j in range(i + 1, n):
                    s_tot += (xs[j] > xs[i]) - (xs[j] < xs[i])
            tt = sum(
                c * (c - 1) * (2 * c + 5)
                for c in __import__("collections").Counter(xs).values()
            )
            var_num_tot += n * (n - 1) * (2 * n + 5) - tt
        var_s = var_num_tot / 18.0
        r = rows[uid]
        assert r["n_days"] == len(g)
        assert r["n_seasons"] == n_seasons
        assert r["s_seasonal"] == s_tot
        assert abs(r["var_s"] - round(var_s, 6)) < 1e-9
        if var_s > 0:
            z = (
                (s_tot - 1) / math.sqrt(var_s)
                if s_tot > 0
                else (s_tot + 1) / math.sqrt(var_s)
                if s_tot < 0
                else 0.0
            )
            assert abs(r["z"] - z) < 1e-5
            want = (
                "increasing"
                if r["z"] > 1.96
                else "decreasing"
                if r["z"] < -1.96
                else "none"
            )
            assert r["trend"] == want


def test_o15_bradley_terry_matches_bruteforce(spark, sf_dir):
    """Strengths equal a pure-Python MM recomputation (5 iterations,
    L1-normalized to n_items) over the same lag-derived comparisons,
    and ranks follow the rounded strengths."""
    from collections import defaultdict

    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.sources.tables import load_table

    rows = {r["event_type"]: r for r in CATALOG["o15_bradley_terry_strengths"].fn(spark, sf_dir).collect()}
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type", "value")
        .toPandas()
    )
    wins_pair = defaultdict(int)
    for _, g in ev.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        prev = None
        for _, r in g.iterrows():
            if prev is not None and prev["event_type"] != r["event_type"] \
               and prev["value"] is not None and r["value"] is not None \
               and prev["value"] != r["value"]:
                if prev["value"] > r["value"]:
                    wins_pair[(prev["event_type"], r["event_type"])] += 1
                else:
                    wins_pair[(r["event_type"], prev["event_type"])] += 1
            prev = r
    items = sorted({a for a, _ in wins_pair} | {b for _, b in wins_pair})
    W = {i: sum(n for (w, _), n in wins_pair.items() if w == i) for i in items}
    n_tot = defaultdict(float)
    for (a, b), n in wins_pair.items():
        n_tot[(a, b)] += n
        n_tot[(b, a)] += n
    pi = {i: 1.0 for i in items}
    for _ in range(5):
        new = {}
        for i in items:
            ds = sum(n_tot[(i, j)] / (pi[i] + pi[j]) for j in items if (i, j) in n_tot)
            new[i] = W[i] / ds
        s = sum(new.values())
        pi = {i: v * len(items) / s for i, v in new.items()}
    for i in items:
        assert rows[i]["n_wins"] == W[i]
        assert abs(rows[i]["bt_strength"] - pi[i]) < 1e-4, (i, rows[i]["bt_strength"], pi[i])
    ranked = sorted(items, key=lambda i: (-round(pi[i], 6), i))
    for rk, i in enumerate(ranked, start=1):
        assert rows[i]["rank"] == rk
