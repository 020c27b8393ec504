"""Unit tests for the data-pipeline operators (dedup / text /
similarity / multimodal) — the pieces whose catalog entries are
rows-only or whose semantics deserve direct assertions."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from garmin_performance_analysis_spark.operators import graph
from garmin_performance_analysis_spark.pipelines import (
    dedup,
    multimodal,
    similarity,
    text,
)
from garmin_performance_analysis_spark.sources.tables import load_table


def test_exact_duplicates_filters_singletons(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "unique text")],
        "doc_id long, text string",
    )
    out = dedup.exact_duplicates(df, "doc_id", "text").collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 2 and out[0]["keep_id"] == 1


def test_word_shingles_short_doc_dropped(spark):
    df = spark.createDataFrame([(1, "only two")], "doc_id long, text string")
    assert dedup.word_shingles(df, "doc_id", "text", n=3).count() == 0


def test_minhash_estimates_track_true_jaccard(spark, sf_dir):
    """LSH-surfaced pairs should estimate within ~0.25 of exact Jaccard
    (16 hashes → binomial std ~0.125)."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", 16)
    est = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in dedup.lsh_candidate_pairs(sigs, 16, 4, threshold=0.5).collect()
    }
    overlap = set(exact) & set(est)
    assert len(overlap) >= len(exact) * 0.8  # high-J pairs must be found
    for pair in overlap:
        assert abs(exact[pair] - est[pair]) < 0.3


def test_simhash_near_pairs_find_planted_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    fps = dedup.simhash64(docs, "doc_id", "text")
    near = dedup.simhash_near_pairs(fps, max_hamming=6)
    exact = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8)
    exact_pairs = {(r["doc_a"], r["doc_b"]) for r in exact.collect()}
    near_pairs = {(r["doc_a"], r["doc_b"]) for r in near.collect()}
    assert len(exact_pairs & near_pairs) >= 1


def test_simhash_near_pairs_wide_fingerprints(spark):
    """n_bits=128 (the mm7 resolution knob's index side): recall stays
    total vs brute force on 128-bit fingerprints, including distances
    that span the 32-bit Hamming chunks and the scaled max_hamming=6."""
    import random

    rng = random.Random(11)
    base = [rng.choice("01") for _ in range(128)]

    def flip(bits, k):
        out = list(bits)
        for i in rng.sample(range(128), k):
            out[i] = "1" if out[i] == "0" else "0"
        return out

    rows = []
    for doc_id in range(30):
        k = rng.choice([0, 1, 3, 6, 7, 12, 40, 64])
        rows.append((doc_id, "".join(flip(base, k))))
    fps = spark.createDataFrame(rows, "doc_id long, simhash64 string")
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(
            fps, max_hamming=6, n_bits=128
        ).collect()
    }
    want = {}
    for i in range(30):
        for j in range(i + 1, 30):
            h = sum(a != b for a, b in zip(rows[i][1], rows[j][1]))
            if h <= 6:
                want[(i, j)] = h
    assert got == want


def test_audio_energyhash_slice_knob():
    """The n_slices knob: 128-slice fingerprints are 128 chars, the
    default is unchanged at 64, and a track shorter than n_slices
    declines instead of emitting a degenerate envelope."""
    import struct

    from garmin_performance_analysis_spark.pipelines import multimodal

    def wav(n):
        data = bytes((50 + (7 * t) % 200) % 256 for t in range(n))
        return (
            b"RIFF" + struct.pack("<I", 36 + n) + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
            + b"data" + struct.pack("<I", n) + data
        )

    assert len(multimodal.audio_energyhash64(wav(160))) == 64
    assert len(multimodal.audio_energyhash64(wav(160), n_slices=128)) == 128
    assert multimodal.audio_energyhash64(wav(100), n_slices=128) is None
    # widening the envelope REFINES it: the 64-slice bits are a coarse
    # view of the same energy series, so two tracks identical at 128
    # slices are identical at 64 (sanity on the resolution claim)
    assert multimodal.audio_energyhash64(wav(160)) == multimodal.audio_energyhash64(
        wav(160), n_slices=64
    )


def test_x24_calibration_ece_internal_consistency(spark, sf_dir):
    """The reliability report must be self-consistent: bin counts sum
    to the scored-doc count, each gap is the rounded |conf - acc| of
    its own row, and the broadcast ECE equals the count-weighted gap
    mean recomputed from the rows themselves."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.pipelines import text as text_mod

    rows = CATALOG["x24_calibration_ece"].fn(spark, sf_dir).collect()
    assert rows
    docs = load_table(spark, sf_dir, "documents")
    scored = text_mod.language_id(docs, "doc_id", "text")
    langs = list(text_mod.LANG_MARKERS)
    n_scored = scored.filter(
        sum(F.col(f"score_{lang}") for lang in langs) > 0
    ).count()
    assert sum(r["n"] for r in rows) == n_scored
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert r["n_correct"] <= r["n"]
        assert abs(r["gap"] - round(abs(r["avg_conf"] - r["accuracy"]), 6)) < 1e-9
    want_ece = round(
        sum(r["n"] * r["gap"] for r in rows) / sum(r["n"] for r in rows), 6
    )
    assert all(abs(r["ece"] - want_ece) < 1e-9 for r in rows)


def test_x25_auc_matches_bruteforce_pair_counting(spark, sf_dir):
    """AUC from the histogram U-statistic must equal the brute-force
    definition — P(random positive outranks random negative, ties
    half credit) — computed by enumerating all pos x neg pairs from
    the same (score, label) data the entry derives."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.pipelines import text as text_mod

    row = CATALOG["x25_auc_discrimination"].fn(spark, sf_dir).collect()[0]
    docs = load_table(spark, sf_dir, "documents")
    scored = text_mod.language_id(docs, "doc_id", "text").select(
        "doc_id", "score_en"
    )
    lab = scored.join(docs.select("doc_id", "lang"), "doc_id").collect()
    pos = sorted(r["score_en"] for r in lab if r["lang"] == "en")
    neg = sorted(r["score_en"] for r in lab if r["lang"] != "en")
    assert (row["n_pos"], row["n_neg"]) == (len(pos), len(neg))
    u2 = 0
    for p in pos:  # brute force is fine at sf0.001
        for q in neg:
            u2 += 2 if p > q else (1 if p == q else 0)
    assert row["u_times2"] == u2
    assert abs(row["auc"] - round(u2 / (2 * len(pos) * len(neg)), 6)) < 1e-9
    assert abs(row["gini"] - round(u2 / (len(pos) * len(neg)) - 1, 6)) < 1e-9


def test_simhash_rotate_and_block_recall_is_total(spark):
    """Pigeonhole guarantee: EVERY pair within max_hamming is found —
    recall 1.0 vs the brute-force O(N²) Hamming join."""
    import random

    rng = random.Random(7)
    base = [rng.choice("01") for _ in range(64)]

    def flip(bits, k):
        out = list(bits)
        for i in rng.sample(range(64), k):
            out[i] = "1" if out[i] == "0" else "0"
        return out

    rows = []
    for doc_id in range(40):
        k = rng.choice([0, 1, 2, 3, 4, 8, 20, 32])
        rows.append((doc_id, "".join(flip(base, k))))
    fps = spark.createDataFrame(rows, "doc_id long, simhash64 string")
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(fps, max_hamming=3).collect()
    }
    want = {}
    for i in range(40):
        for j in range(i + 1, 40):
            h = sum(a != b for a, b in zip(rows[i][1], rows[j][1]))
            if h <= 3:
                want[(i, j)] = h
    assert got == want  # exact set AND exact distances


def test_langid_marker_sanity(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of the house"), (2, "el perro y la casa de que")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["predicted_lang"] for r in text.language_id(df, "doc_id", "text").collect()}
    assert rows[1] == "en" and rows[2] == "es"


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF recall must be exact at full probe and useful at partial
    probe (the corpus has weak cluster structure, so partial-probe
    recall is bounded away from 1 by construction)."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    assigned = similarity.kmeans_assign(emb, "vec_id", "embedding", k=8, iters=3)
    assigned.cache()
    pool = assigned.filter(F.col("vec_id") != 0)
    exact = [r["vec_id"] for r in similarity.brute_force_topk(pool, "vec_id", "embedding", query, 10).collect()]
    cents = similarity.ivf_centroids(assigned, "embedding", "cluster_id")

    def recall(n_probe: int) -> float:
        approx = [
            r["vec_id"]
            for r in similarity.ivf_topk(
                pool, cents, "vec_id", "embedding", "cluster_id", query, k=10, n_probe=n_probe
            ).collect()
        ]
        return len(set(exact) & set(approx)) / 10.0

    partial, full = recall(3), recall(8)
    assert full == 1.0, f"full-probe IVF must equal brute force, got {full}"
    assert partial >= 0.2, f"partial-probe recall too low: {partial}"
    assert full >= partial


def test_srp_lsh_precision_and_recall(spark):
    """SRP-LSH output must be a SUBSET of the exact cos>=threshold pair
    set (precision 1.0 — every candidate is verified with the exact
    fold), with the reported cosines equal to the exact values, and
    recall on a planted-near-dup corpus well above the random-pair
    floor.  Corpus: 30 base directions, each with a slightly-perturbed
    twin (cos(twin, base) ~ 0.98) — deterministic, no RNG."""
    import math

    dim, n = 16, 30
    rows = []
    for k in range(n):
        base = [math.sin(0.7 * k * (i + 1)) + 0.1 for i in range(dim)]
        twin = [v + 0.05 * math.cos(1.3 * k * (i + 2)) for i, v in enumerate(base)]
        rows.append((2 * k, base))
        rows.append((2 * k + 1, twin))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.srp_lsh_pairs(
            df, "vec_id", "embedding", dim=dim, tables=6, bits=3, threshold=0.9
        ).collect()
    }
    # exact truth via the all-pairs baseline (same threshold)
    want = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_dup_pairs(
            df, "vec_id", "embedding", threshold=0.9
        ).collect()
    }
    assert set(got) <= set(want), "LSH reported a pair the exact set lacks"
    for pair, c in got.items():
        assert c == want[pair], f"cosine mismatch on {pair}"
    # the 30 planted twins are near-duplicates; 6 tables x 3 bits keeps
    # per-table collision prob high for cos~0.98 -> recall should be
    # near-total (floor at 0.8 guards against silent bucketing breaks)
    twins = [p for p in want if p[1] == p[0] + 1 and p[0] % 2 == 0]
    found = sum(1 for p in twins if p in got)
    assert len(twins) == n and found / len(twins) >= 0.8


def test_srp_multiprobe_supersets_exact_bucket_and_recovers_recall(spark):
    """Multi-probe SRP-LSH at (tables, bits) must (a) return a SUPERSET
    of the exact-bucket pairs at the same (tables, bits) — Hamming-0 is
    one of the probed perturbations; (b) stay a subset of the exact
    cos>=threshold truth with exact cosines (precision 1.0); and
    (c) on a planted-twin corpus with WIDE tables (where exact-bucket
    recall collapses — the measured v4 10× lesson), recover recall to
    >= the 0.8 floor the narrow-table test holds itself to."""
    import math

    from garmin_performance_analysis_spark.pipelines import similarity

    dim, n = 16, 30
    rows = []
    for k in range(n):
        base = [math.sin(0.7 * k * (i + 1)) + 0.1 for i in range(dim)]
        twin = [v + 0.05 * math.cos(1.3 * k * (i + 2)) for i, v in enumerate(base)]
        rows.append((2 * k, base))
        rows.append((2 * k + 1, twin))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    kw = dict(dim=dim, tables=4, bits=6, threshold=0.9)
    got_mp = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.srp_multiprobe_pairs(df, "vec_id", "embedding", **kw).collect()
    }
    got_exact_bucket = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.srp_lsh_pairs(df, "vec_id", "embedding", **kw).collect()
    }
    want = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_dup_pairs(df, "vec_id", "embedding", threshold=0.9).collect()
    }
    assert set(got_exact_bucket) <= set(got_mp), "multi-probe lost a Hamming-0 pair"
    assert set(got_mp) <= set(want), "multi-probe reported a pair the exact set lacks"
    for pair, c in got_mp.items():
        assert c == want[pair], f"cosine mismatch on {pair}"
    twins = [p for p in want if p[1] == p[0] + 1 and p[0] % 2 == 0]
    mp_found = sum(1 for p in twins if p in got_mp)
    eb_found = sum(1 for p in twins if p in got_exact_bucket)
    assert mp_found >= eb_found, "probing must not reduce recall"
    assert mp_found / len(twins) >= 0.8, (
        f"multi-probe recall {mp_found}/{len(twins)} below floor "
        f"(exact-bucket found {eb_found})"
    )


def test_decode_features_deterministic(spark):
    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    out = multimodal.decode_features(
        multimodal.attach_binary(df, "doc_id", "text")
    ).collect()[0]
    assert out["n_bytes"] == 3
    assert out["sha256"] == hashlib.sha256(b"abc").hexdigest()
    assert out["byte_mean"] == pytest.approx((97 + 98 + 99) / 3.0)


def test_decode_image_stub_marks_integration_point():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_stub(b"\x89PNG")


def _bmp(width, height, bpp=24):
    import struct

    return (
        b"BM"
        + struct.pack("<IHHI", 70, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, bpp, 0, 16, 0, 0, 0, 0)
        + b"\x00" * 16
    )


def test_parse_image_header_bmp_ppm_pgm():
    p = multimodal.parse_image_header
    assert p(_bmp(640, 480)) == ("bmp", 640, 480, 3)
    assert p(_bmp(7, 9, bpp=8)) == ("bmp", 7, 9, 1)
    # top-down BMPs store negative height; dims reported positive
    assert p(_bmp(5, -4)) == ("bmp", 5, 4, 3)
    assert p(b"P6\n2 3\n255\n" + b"\x00" * 18) == ("ppm", 2, 3, 3)
    assert p(b"P5 3 2 255 " + b"\x00" * 6) == ("pgm", 3, 2, 1)
    # comments between header fields are legal PPM
    assert p(b"P6\n# made by hand\n2 3\n255\n" + b"\x00" * 18) == ("ppm", 2, 3, 3)
    # 16-bit samples double the raster requirement
    assert p(b"P5 2 2 65535 " + b"\x00" * 8) == ("pgm", 2, 2, 1)
    assert p(b"P5 2 2 65535 " + b"\x00" * 7) is None


def test_parse_image_header_rejects_non_images():
    p = multimodal.parse_image_header
    # text starting with the BMP magic: DIB-size/planes validation
    # requires NUL bytes that text never contains
    assert p(b"BMW dealerships reported record sales this quarter......") is None
    assert p(b"BM") is None  # truncated
    assert p(_bmp(640, 480)[:40]) is None  # header cut short
    assert p(b"P6\nnot numbers\n") is None
    assert p(b"P699 9 255 ") is None  # magic must be followed by whitespace
    # prose that happens to start with a magic + integers must NOT
    # parse: the full raster (w*h*channels bytes) is required
    # (code-review r3 — these two passed before the raster check)
    assert p(b"P6 10 20 30 this is ordinary ascii text") is None
    assert p(b"P5 2019 2020 255 annual report, volume 7") is None
    # truncated raster: one byte short of 2*3*3
    assert p(b"P6 2 3 255 " + b"\x00" * 17) is None
    assert p(b"plain text payload") is None
    assert p(b"") is None


def test_resize_images_shape_and_determinism(spark):
    df = spark.createDataFrame(
        [(1, "abcdef"), (2, "Z"), (3, "")], "doc_id long, text string"
    )
    out = multimodal.resize_images(
        multimodal.attach_binary(df, "doc_id", "text"), width=4, height=3
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(out) == 3
    for r in out:
        assert (r["width"], r["height"]) == (4, 3)
        assert len(r["payload"]) == 12
    # deterministic fake: tiled source bytes
    assert bytes(by_id[1]["payload"]) == b"abcdefabcdef"
    assert bytes(by_id[2]["payload"]) == b"Z" * 12
    assert bytes(by_id[3]["payload"]) == bytes(12)
    assert by_id[1]["src_bytes"] == 6


def test_sample_frames_fanout(spark):
    # 10-byte payload, 2-byte frames -> 5 frames; every 2nd -> idx 0,2,4
    df = spark.createDataFrame([(7, "0123456789")], "doc_id long, text string")
    out = multimodal.sample_frames(
        multimodal.attach_binary(df, "doc_id", "text"), frame_bytes=2, every_kth=2
    ).collect()
    got = sorted((r["frame_idx"], r["frame_offset"], bytes(r["frame_payload"])) for r in out)
    assert got == [(0, 0, b"01"), (2, 4, b"45"), (4, 8, b"89")]


def test_m5b_huber_matches_local_sklearn_gold(spark):
    """m5b is pinned to a locally recomputed gold: the same frozen
    2-reweight Huber IRLS on the same gated rows loaded through an
    independent path (duckdb→pandas), per group, must agree to 1e-9 —
    validating the Spark grouping/gating/rmse plumbing independently of
    the SQL oracle it gained in r7."""
    import duckdb
    import numpy as np

    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.operators.baselines import _huber_fit

    sf_dir = "/root/testdata/sf0.001"
    got = {
        r["l_returnflag"]: r
        for r in CATALOG["m5b_huber_baseline"].fn(spark, sf_dir).collect()
    }
    pdf = duckdb.sql(
        f"SELECT l_returnflag, l_tax * 100.0 AS vo_value,"
        f" l_discount * 100.0 AS speed_mps"
        f" FROM '{sf_dir}/lineitem.parquet'"
    ).df()
    gold_groups = 0
    for flag, grp in pdf.groupby("l_returnflag"):
        clean = grp[
            grp["vo_value"].between(2.0, 15.0)
            & grp["speed_mps"].between(1.5, 7.0)
        ].dropna()
        if len(clean) < 50:
            assert flag not in got
            continue
        gold_groups += 1
        x = clean["speed_mps"].to_numpy(dtype=float)
        y = clean["vo_value"].to_numpy(dtype=float)
        a, b = _huber_fit(x, y, n_reweights=2)
        rmse = float(np.sqrt(np.mean((y - (a + b * x)) ** 2)))
        row = got[flag]
        assert row["n_samples"] == len(clean)
        assert row["coef_a"] == pytest.approx(round(a, 6), abs=1e-9)
        assert row["coef_b"] == pytest.approx(round(b, 6), abs=1e-9)
        assert row["rmse"] == pytest.approx(round(rmse, 6), abs=1e-9)
    assert gold_groups >= 1 and len(got) == gold_groups


# ---------------------------------------------------------------------------
# connected components (d5): pointer-jumping propagation vs union-find


def _brute_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_path_graph(spark):
    """A 24-node path is the worst diameter per edge count; pointer
    jumping must converge in O(log n) rounds (max_iter=8 << 24 proves
    the doubling actually happens)."""
    edges = [(i, i + 1) for i in range(23)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in graph.connected_components(df, max_iter=8).collect()
    }
    assert got == {n: 0 for n in range(24)}


def test_connected_components_matches_union_find(spark):
    """Several disjoint random-ish graphs in ONE round-trip (node id
    spaces offset per case) — the unique min-label fixpoint must equal
    a union-find reference."""
    cases = [
        [(0, 1), (1, 2), (3, 4)],
        [(0, 5), (5, 3), (2, 4), (4, 0)],
        [(7, 7)],                        # self-loop
        [(1, 0), (0, 1), (2, 1)],        # duplicates + reversed
        [(0, 9), (8, 2), (3, 6), (6, 9), (5, 4)],
    ]
    all_edges = []
    want = {}
    for i, edges in enumerate(cases):
        off = 1000 * i
        shifted = [(a + off, b + off) for a, b in edges]
        all_edges.extend(shifted)
        want.update(_brute_components(shifted))
    df = spark.createDataFrame(all_edges, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in graph.connected_components(df).collect()
    }
    assert got == want


def test_connected_components_driver_and_distributed_paths_agree(spark, monkeypatch):
    """The size-gated driver union-find and the distributed pointer-
    jumping loop must produce the identical fixpoint — forced onto
    each path via the gate constant (path graph stresses compression,
    the mixed cases stress min-label tie shapes).  A NULL endpoint
    must not reach the driver solve: the gate sends it to the
    distributed loop on both settings."""
    edges = [(i, i + 1) for i in range(40)] + [
        (500, 900), (900, 501), (777, 777), (1000, 999),
    ]

    def null_last(row):
        return tuple((v is None, v or 0) for v in row)

    for case in (edges, edges + [(None, 3), (2000, None)]):
        df = spark.createDataFrame(case, "doc_a long, doc_b long")
        monkeypatch.setattr(graph, "_DRIVER_GRAPH_MAX_EDGES", 10**9)
        via_driver = sorted(
            map(tuple, graph.connected_components(df).collect()), key=null_last
        )
        monkeypatch.setattr(graph, "_DRIVER_GRAPH_MAX_EDGES", 0)
        via_spark = sorted(
            map(tuple, graph.connected_components(df).collect()), key=null_last
        )
        assert via_driver == via_spark


def test_batch_topk_matches_per_query_brute_force(spark):
    """batch_topk's per-query result must equal running the single-
    query exact baseline for each query id (same comparator: cosine
    DESC, id ASC), proving the fused mapInPandas partial top-k loses
    nothing."""
    import math

    from garmin_performance_analysis_spark.pipelines import similarity

    dim, n, k = 8, 40, 5
    rows = [
        (i, [math.sin(0.31 * i * (j + 1)) + 0.2 for j in range(dim)])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") < 4)
    got = similarity.batch_topk(df, queries, "vec_id", "embedding", k=k).collect()
    by_query = {}
    for r in got:
        by_query.setdefault(r["query_id"], []).append((r["rank"], r["corpus_id"], r["cosine"]))
    assert set(by_query) == {0, 1, 2, 3}
    for qid, rows_ in by_query.items():
        qvec = rows[qid][1]
        want = (
            similarity.brute_force_topk(
                df.filter(F.col("vec_id") != qid), "vec_id", "embedding", qvec, k=k
            )
            .collect()
        )
        got_sorted = [x[1] for x in sorted(rows_)]
        assert got_sorted == [r["vec_id"] for r in want], f"query {qid} mismatch"


def test_srp_probe_depth_monotonic(spark):
    """Hamming-2 probing must return a superset of Hamming-1 (which
    supersets exact-bucket), all subsets of the exact truth — and every
    Hamming-2 pair differs by <=2 bits in some table (spot-check via
    the exact pair set membership)."""
    import math

    from garmin_performance_analysis_spark.pipelines import similarity

    dim = 16
    rows = []
    for k in range(20):
        base = [math.sin(0.9 * k * (i + 1)) + 0.15 for i in range(dim)]
        twin = [v + 0.08 * math.cos(1.7 * k * (i + 2)) for i, v in enumerate(base)]
        rows.append((2 * k, base))
        rows.append((2 * k + 1, twin))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(dim=dim, tables=2, bits=8, threshold=0.9)
    p1 = {
        (r["id_a"], r["id_b"])
        for r in similarity.srp_multiprobe_pairs(
            df, "vec_id", "embedding", probe_hamming=1, **kw
        ).collect()
    }
    p2 = {
        (r["id_a"], r["id_b"])
        for r in similarity.srp_multiprobe_pairs(
            df, "vec_id", "embedding", probe_hamming=2, **kw
        ).collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_dup_pairs(
            df, "vec_id", "embedding", threshold=0.9
        ).collect()
    }
    assert p1 <= p2, "deeper probing lost a pair"
    assert p2 <= want, "probe-2 reported a pair the exact set lacks"
    with pytest.raises(ValueError):
        similarity.srp_multiprobe_pairs(df, "vec_id", "embedding", probe_hamming=3, **kw)


def test_redact_pii_counts_and_digest(spark):
    df = spark.createDataFrame(
        [
            (1, "contact Bob@Example.COM or see https://a.b/c?d=e now"),
            (2, "no pii here"),
            # the TLD dot must be a LITERAL dot: a@b,cc / mail a@b com
            # matched when the pattern's `\.` was unescaped to `.` by
            # SQL string-literal parsing (review finding)
            (3, "mail me a@b com or x@y,zz thanks"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.redact_pii(df, "doc_id", "text").collect()}
    assert rows[1]["n_emails"] == 1 and rows[1]["n_urls"] == 1
    assert rows[2]["n_emails"] == 0 and rows[2]["n_urls"] == 0
    assert rows[3]["n_emails"] == 0 and rows[3]["n_urls"] == 0
    import hashlib as _h

    assert rows[3]["redacted_md5"] == _h.md5(b"mail me a@b com or x@y,zz thanks").hexdigest()
    import hashlib

    want = hashlib.md5(b"contact <EMAIL> or see <URL> now").hexdigest()
    assert rows[1]["redacted_md5"] == want
    assert rows[2]["redacted_md5"] == hashlib.md5(b"no pii here").hexdigest()


def test_training_prep_stages(spark):
    """Each prep stage must bite: the quality gate drops the short doc,
    the language gate drops the Spanish doc, exact dedup keeps the
    smaller doc_id of a byte-identical pair, fingerprint dedup folds a
    word-shuffled twin, and the token budget keeps the doc_id-ordered
    prefix with a correct running count."""
    from garmin_performance_analysis_spark.pipelines.prep import training_prep

    en = (
        "the quick cat and the small dog of the old house ran to the green "
        "park and sat on the warm mat near the tall tree by the river bank"
    )
    en6 = (
        "a big brown fox jumps over the lazy dog and then runs far away to "
        "the old barn near a quiet town where the farmer keeps his hay"
    )
    rows = [
        (1, en),
        (2, "too short"),                      # quality: n_words < 20
        (3, "el perro y la casa de que el dia y la noche de que pasa bien "
            "por la calle y el sol de la tarde cae sobre la plaza vieja"),  # lang
        (4, en),                               # exact dup of 1 -> dropped
        (5, " ".join(reversed(en.split()))),   # shuffled twin of 1 -> fingerprint dup
        (6, en6),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in training_prep(df, "doc_id", "text", token_budget=10_000).collect()}
    assert set(out) == {1, 6}
    assert out[1]["cum_tokens"] == out[1]["regex_tokens"]
    assert out[6]["cum_tokens"] == out[1]["regex_tokens"] + out[6]["regex_tokens"]
    # tiny budget: only the first doc fits
    tight = training_prep(df, "doc_id", "text", token_budget=int(out[1]["regex_tokens"]))
    assert [r["doc_id"] for r in tight.collect()] == [1]


def _bmp_with_raster(width, height, rows, bpp=24):
    """Full BMP: header + given raster rows (each already stride-padded)."""
    import struct

    raster = b"".join(rows)
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, width, height, 1, bpp, 0, len(raster), 0, 0, 0, 0
        )
        + raster
    )


def test_decode_pixels_bmp_stride_and_channel_order():
    """24bpp BMP: 4-byte row stride padding must be EXCLUDED from the
    means; channel means come back in storage order (B, G, R)."""
    rows = [
        bytes([1, 2, 3, 4, 5, 6]) + b"\xff\xff",      # 2 px + 2 pad bytes
        bytes([7, 8, 9, 10, 11, 12]) + b"\xff\xff",
    ]
    mean, chans = multimodal.decode_pixels(_bmp_with_raster(2, 2, rows))
    assert chans == [22 / 4, 26 / 4, 30 / 4]  # B, G, R sums / n_px
    assert mean == 78 / 12

    # compressed BMP (BI_RLE8) → pixel decode declines, header still OK
    import struct

    rle = bytearray(_bmp_with_raster(2, 2, rows, bpp=8))
    rle[30:34] = struct.pack("<I", 1)
    assert multimodal.parse_image_header(bytes(rle)) is not None
    assert multimodal.decode_pixels(bytes(rle)) is None


def test_decode_pixels_ppm_pgm():
    p6 = b"P6\n2 1\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    mean, chans = multimodal.decode_pixels(p6)
    assert chans == [25.0, 35.0, 45.0] and mean == 35.0
    # 16-bit PGM samples are big-endian per netpbm spec
    p5 = b"P5 1 2 65535 " + (256).to_bytes(2, "big") + (512).to_bytes(2, "big")
    mean, chans = multimodal.decode_pixels(p5)
    assert chans == [384.0] and mean == 384.0
    assert multimodal.decode_pixels(b"plain text") is None


def test_decode_features_exposes_pixel_means(spark):
    p6 = b"P6\n1 1\n255\n" + bytes([9, 9, 9])
    df = spark.createDataFrame([(1, bytearray(p6)), (2, bytearray(b"txt"))],
                               "doc_id long, payload binary")
    src = df.select(
        "doc_id", "payload",
        F.octet_length("payload").alias("n_bytes"),
        F.sha2("payload", 256).alias("sha256"),
    )
    rows = {r["doc_id"]: r for r in multimodal.decode_features(src).collect()}
    assert rows[1]["pixel_mean"] == 9.0
    assert list(rows[1]["channel_means"]) == [9.0, 9.0, 9.0]
    assert rows[2]["pixel_mean"] is None and rows[2]["channel_means"] is None


def test_pq_recall_and_determinism(spark, sf_dir):
    """v8 PQ-ADC contract (no SQL oracle possible — iterative training):
    fully deterministic across runs, recall vs brute force bounded
    below at partial shortlist, and EXACTLY the brute-force result
    (same rows, same ranks) when the shortlist covers the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    brute = [
        r["vec_id"]
        for r in similarity.brute_force_topk(
            emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", q, k=10
        ).collect()
    ]

    def run(shortlist):
        return similarity.pq_topk(
            emb, "vec_id", "embedding", 0, 64,
            m=4, k_clusters=16, iters=2, k=10, shortlist=shortlist,
        ).collect()

    part = run(50)
    assert [r["rk"] for r in part] == list(range(1, 11))
    recall = len({r["vec_id"] for r in part} & set(brute)) / 10
    assert recall >= 0.5
    # deterministic: identical rows on a re-run (no RNG anywhere)
    assert run(50) == part
    # full shortlist -> the exact brute-force ranking
    full = run(500)
    assert [r["vec_id"] for r in full] == brute


def test_semantic_dedup_clusters_planted_twins(spark):
    """v9 semantic-dedup contract on a planted-twin corpus (same
    deterministic construction as the SRP precision test): every input
    vector gets exactly one verdict row; cluster_id is the minimum
    member id (so exactly one canonical per cluster); n_members equals
    the actual cluster size; every SRP-verified near-dup pair lands in
    one cluster; and the planted twins are overwhelmingly merged while
    unrelated base directions stay apart."""
    import math

    dim, n = 16, 30
    rows = []
    for k in range(n):
        base = [math.sin(0.7 * k * (i + 1)) + 0.1 for i in range(dim)]
        twin = [v + 0.05 * math.cos(1.3 * k * (i + 2)) for i, v in enumerate(base)]
        rows.append((2 * k, base))
        rows.append((2 * k + 1, twin))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = similarity.semantic_dedup(
        df, "vec_id", "embedding", dim=dim, tables=6, bits=3, threshold=0.9
    ).collect()
    assert sorted(r["vec_id"] for r in out) == list(range(2 * n))

    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        ids = sorted(m["vec_id"] for m in members)
        assert cid == ids[0], "cluster_id must be the min member id"
        assert all(m["n_members"] == len(members) for m in members)
        canon = [m for m in members if m["is_canonical"]]
        assert len(canon) == 1 and canon[0]["vec_id"] == cid

    label = {r["vec_id"]: r["cluster_id"] for r in out}
    edges = similarity.srp_lsh_pairs(
        df, "vec_id", "embedding", dim=dim, tables=6, bits=3, threshold=0.9
    ).collect()
    for e in edges:
        assert label[e["id_a"]] == label[e["id_b"]], "edge split across clusters"
    twins_merged = sum(1 for k in range(n) if label[2 * k] == label[2 * k + 1])
    assert twins_merged / n >= 0.8


def test_sequence_packing_matches_python_mirror(spark):
    """c7 packing contract vs a transparent Python mirror on a corpus
    with empty docs, single-token docs, and a doc longer than one
    context window — and invariance to the input's partitioning (the
    prefix sum must not depend on where range boundaries fall)."""
    from garmin_performance_analysis_spark.pipelines import prep

    texts = {
        0: "alpha beta gamma",
        1: "",                      # zero tokens
        2: "x",                     # single token
        3: " ".join(f"w{i}" for i in range(23)),   # spans chunks at L=8
        4: "!!! ???",               # punctuation only -> zero regex tokens
        5: " ".join(f"t{i}" for i in range(9)),
    }
    rows = [(k, v) for k, v in sorted(texts.items())]
    import re

    L = 8
    stream, mirror = 0, {}
    for k, v in rows:
        n = len(re.findall(r"[a-z]+|[0-9]+", v.lower()))
        start = stream
        stream += n
        if n > 0:
            first, last = start // L, (stream - 1) // L
            mirror[k] = (n, start, first, last, last - first + 1, last > first)
        else:
            f = start // L
            mirror[k] = (0, start, f, f, 0, False)

    for parts in (1, 4):
        df = spark.createDataFrame(rows, "doc_id long, text string").repartition(parts)
        got = {
            r["doc_id"]: (
                r["n_tokens"], r["start_offset"], r["chunk_first"],
                r["chunk_last"], r["n_chunks"], r["crosses_boundary"],
            )
            for r in prep.sequence_packing(
                df, "doc_id", "text", context_len=L
            ).collect()
        }
        assert got == mirror, f"mismatch at {parts} partitions"


def test_leakage_safe_split_groups_duplicates(spark):
    from garmin_performance_analysis_spark.pipelines import prep

    rows = [
        (1, "the quick brown fox jumps"),
        (2, "jumps fox brown quick the"),   # word-shuffled duplicate of 1
        (3, "the quick brown fox jumps"),   # exact duplicate of 1
        (4, "an entirely different document body"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in prep.leakage_safe_split(df).collect()}
    assert out[1]["fingerprint"] == out[2]["fingerprint"] == out[3]["fingerprint"]
    assert out[1]["split"] == out[2]["split"] == out[3]["split"]
    assert out[1]["split_bucket"] == out[2]["split_bucket"]
    assert all(r["split"] in ("train", "val", "test") for r in out.values())
    # partition invariance
    again = {
        r["doc_id"]: r["split"]
        for r in prep.leakage_safe_split(df.repartition(3)).collect()
    }
    assert again == {k: v["split"] for k, v in out.items()}


def test_v8b_query_path_equals_v8(spark, sf_dir):
    """The amortized-training catalog entry (v8b: memoized codebooks)
    must return exactly the train-per-call entry's rows — deterministic
    training means the split is a pure cost refactor, never a result
    change."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.sources.tables import _REGISTRY

    v8 = CATALOG["v8_pq_topk"].fn(spark, sf_dir).collect()
    first = CATALOG["v8b_pq_query_path"].fn(spark, sf_dir).collect()
    assert first == v8
    # second call hits the registered codebook and still matches
    key = (spark.sparkContext, os.path.abspath(sf_dir), "v8b")
    assert key in _REGISTRY  # registered by the first call
    again = CATALOG["v8b_pq_query_path"].fn(spark, sf_dir).collect()
    assert again == v8


def test_registered_indexes_survive_block_release(spark, sf_dir):
    """The registered v8b/v10b artifacts hold no persisted blocks: once
    every persisted RDD in the session is unpersisted (what releasing a
    call's blocks does), the next call still answers, with the rows of
    the first."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG

    names = ("v8b_pq_query_path", "v10b_ivf_query_path")
    first = {n: CATALOG[n].fn(spark, sf_dir).collect() for n in names}
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)
    for n in names:
        assert CATALOG[n].fn(spark, sf_dir).collect() == first[n], n


def test_v10b_index_follows_embeddings_rewrite(spark, sf_dir, tmp_path):
    """Rewriting a table drops the artifacts derived from its sf_dir:
    after the corpus loses every third vector, v10b answers from an
    index of the NEW corpus, i.e. exactly as train-per-call v10 does."""
    import shutil

    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.pipelines.migrations import (
        rewrite_table,
    )

    base = str(tmp_path)
    shutil.copy(os.path.join(sf_dir, "embeddings.parquet"), base)
    v10b = CATALOG["v10b_ivf_query_path"].fn
    v10b(spark, base).collect()
    emb = load_table(spark, base, "embeddings")
    rewrite_table(
        emb.filter(F.col("vec_id") % 3 != 2),  # keeps vec_id 0
        os.path.join(base, "embeddings.parquet"),
    )
    v10 = CATALOG["v10_ivf_recall_verdict"].fn(spark, base).collect()
    assert sorted(v10b(spark, base).collect()) == sorted(v10)


def test_doc_chunks_windows_and_remainder(spark):
    """Chunk arithmetic: ≤window docs give one chunk; longer docs give
    overlapping windows with the remainder kept; token coverage with
    stride overlap reconstructs the document exactly."""
    from garmin_performance_analysis_spark.pipelines import prep

    words = [f"w{i}" for i in range(10)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, "solo"), (3, " ".join(words[:4]))],
        "doc_id long, text string",
    )
    out = prep.doc_chunks(df, window=4, stride=3)
    rows = {
        (r["doc_id"], r["chunk_idx"]): r for r in out.collect()
    }
    # doc 1: 10 tokens, window 4 stride 3 -> ceil((10-4)/3)+1 = 3 chunks
    assert {k for k in rows if k[0] == 1} == {(1, 0), (1, 1), (1, 2)}
    assert rows[(1, 0)]["chunk_text"] == "w0 w1 w2 w3"
    assert rows[(1, 1)]["chunk_text"] == "w3 w4 w5 w6"
    assert rows[(1, 2)]["chunk_text"] == "w6 w7 w8 w9"  # remainder kept
    assert rows[(1, 2)]["chunk_tokens"] == 4
    # short docs: exactly one chunk, full text
    assert rows[(2, 0)]["chunk_text"] == "solo"
    assert rows[(3, 0)]["chunk_tokens"] == 4
    # stride overlap: stitching chunk[i][: stride] + last chunk rebuilds
    # the exact token sequence
    stitched = (
        rows[(1, 0)]["chunk_text"].split()[:3]
        + rows[(1, 1)]["chunk_text"].split()[:3]
        + rows[(1, 2)]["chunk_text"].split()
    )
    assert stitched == words

    import pytest

    with pytest.raises(ValueError):
        prep.doc_chunks(df, window=4, stride=5)
    with pytest.raises(ValueError):
        prep.doc_chunks(df, window=0, stride=0)


def test_trigram_backoff_levels_on_constructed_corpus(spark):
    """All three stupid-backoff levels pinned by hand: trigram hit
    (c123/c12), bigram backoff (0.4*c23/c2), unigram/OOV floor
    (0.16*(c3+0.5)/(N+V/2)) — plus the <3-token NULL contract."""
    import math

    from garmin_performance_analysis_spark.pipelines.text import (
        trigram_backoff_scores,
    )

    lm = spark.createDataFrame([(1, "a b c a b d")], "doc_id long, text string")
    held = spark.createDataFrame(
        [(10, "a b c z b d q"), (11, "a b")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in trigram_backoff_scores(lm, held, "doc_id", "text").collect()
    }
    # LM: tokens N=6, V=4 (a,b,c,d); trigrams abc,bca,cab,abd;
    # pairs ab,bc,ca,ab,bd; c12(a,b)=2 (trigram-context count)
    floor_oov = 0.16 * 0.5 / (6 + 0.5 * 4)          # z / q unseen
    floor_b = 0.16 * (2 + 0.5) / (6 + 0.5 * 4)      # b seen twice
    expect = [
        1 / 2,          # (a,b,c): trigram hit, c123=1, c12=2
        floor_oov,      # (b,c,z): no (c,z) bigram, z OOV
        floor_b,        # (c,z,b): no (z,b) bigram, unigram b
        0.4 * (1 / 2),  # (z,b,d): bigram (b,d) c23=1, c2(b)=2
        floor_oov,      # (b,d,q): no (d,q) bigram, q OOV
    ]
    want = sum(math.log(s) for s in expect) / len(expect)
    r = rows[10]
    assert r["n_trigrams"] == 5
    assert r["n_backed_off"] == 4
    assert abs(r["avg_logscore"] - round(want, 6)) < 1e-9
    assert rows[11]["n_trigrams"] == 0
    assert rows[11]["avg_logscore"] is None


def test_decode_image_stub_pil_integration():
    """Exercises the codec-library integration point when PIL is
    importable (skipped in containers without it): the PIL decode of a
    repo-built BMP must agree with parse_image_header on format and
    dimensions.  When PIL is absent, the stub must raise the
    documented NotImplementedError instead of failing obscurely."""
    import pytest

    payload = _bmp_with_raster(
        2, 2, [bytes(range(1, 7)) + b"\x00\x00", bytes(range(7, 13)) + b"\x00\x00"]
    )
    try:
        import PIL  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError):
            multimodal.decode_image_stub(payload)
        pytest.skip("PIL not installed; stub raise-path verified")
    out = multimodal.decode_image_stub(payload)
    hdr = multimodal.parse_image_header(payload)
    assert out["fmt"] == hdr[0] == "bmp"
    assert (out["width"], out["height"]) == (hdr[1], hdr[2]) == (2, 2)


def test_ahash64_bits_known_image():
    """aHash on a constructed 8x8 24bpp BMP with a half-dark half-
    bright raster: the bright half's boxes must be 1, the dark half's
    0; and the bottom-up storage flip must place the BRIGHT stored
    rows (written FIRST = bottom of the image) in the LOWER spatial
    half (bit positions 32..63)."""
    rows = []
    # stored rows 0-3 = spatial BOTTOM rows: bright (200)
    for _ in range(4):
        rows.append(bytes([200] * 24))  # 8 px * 3 ch, stride 24 (no pad)
    # stored rows 4-7 = spatial TOP rows: dark (10)
    for _ in range(4):
        rows.append(bytes([10] * 24))
    payload = _bmp_with_raster(8, 8, rows)
    bits = multimodal.ahash64_bits(payload)
    assert bits is not None and len(bits) == 64
    assert bits[:32] == "0" * 32   # spatial top = dark
    assert bits[32:] == "1" * 32   # spatial bottom = bright


def test_ahash64_bits_top_down_bmp_orientation():
    """Negative biHeight = top-down DIB (Windows writers): rows are
    stored in SPATIAL order already, so the bottom-up flip must be
    skipped — a top-down image and its bottom-up twin (same spatial
    raster) must fingerprint IDENTICALLY, not as vertical mirrors."""
    import struct

    bright, dark = bytes([200] * 24), bytes([10] * 24)
    # bottom-up storage: bright rows written first => spatial bottom
    bottom_up = _bmp_with_raster(8, 8, [bright] * 4 + [dark] * 4)
    # top-down storage of the SAME spatial image: dark (top) first
    top_down = bytearray(_bmp_with_raster(8, 8, [dark] * 4 + [bright] * 4))
    top_down[22:26] = struct.pack("<i", -8)
    bits_bu = multimodal.ahash64_bits(bytes(bottom_up))
    bits_td = multimodal.ahash64_bits(bytes(top_down))
    assert bits_bu == bits_td
    assert bits_td[:32] == "0" * 32 and bits_td[32:] == "1" * 32


def test_ahash64_pil_parity_vector():
    """The codec integration point is VALUE-checked, not just
    smoke-checked (VERDICT r10 item 6): a PNG decoded by PIL and its
    uncompressed-BMP twin (same spatial pixels) must produce the
    IDENTICAL 64-bit fingerprint through ahash64_bits_via_pil vs the
    in-repo BMP kernel.  Skips when PIL is absent (this container),
    after asserting the documented NotImplementedError raise-path."""
    import struct
    import zlib

    import numpy as np
    import pytest

    rng = np.random.RandomState(42)
    w = h = 16
    px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)  # RGB, top-down

    # BMP twin: rows stored bottom-up, channels B,G,R (sum is order-blind)
    stride = ((w * 3 + 3) // 4) * 4
    bmp_rows = []
    for r in range(h):
        y = h - 1 - r
        rb = bytes(
            int(c) for x in range(w) for c in (px[y, x, 2], px[y, x, 1], px[y, x, 0])
        )
        bmp_rows.append(rb + b"\x00" * (stride - w * 3))
    bmp = _bmp_with_raster(w, h, bmp_rows)
    want = multimodal.ahash64_bits(bmp)
    assert want is not None

    # PNG twin: stdlib encoder (8-bit RGB, filter 0 per row)
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))

    def chunk(tag, data):
        body = tag + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )

    try:
        import PIL  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError):
            multimodal.ahash64_bits_via_pil(png)
        pytest.skip("PIL not installed; raise-path verified")
    assert multimodal.ahash64_bits_via_pil(png) == want


def test_ahash64_bits_rejects_non_images():
    assert multimodal.ahash64_bits(b"not an image") is None
    assert multimodal.ahash64_bits(b"") is None
    # too small to box (w < 8)
    small = _bmp_with_raster(2, 2, [b"\x01\x02\x03\x04\x05\x06\x00\x00"] * 2)
    assert multimodal.ahash64_bits(small) is None


def test_image_ahash64_pairs_with_simhash_machinery(spark):
    """The aHash output feeds dedup.simhash_near_pairs unchanged:
    two near-identical images pair at small Hamming, a structurally
    different third does not."""
    from garmin_performance_analysis_spark.pipelines.dedup import (
        simhash_near_pairs,
    )
    from garmin_performance_analysis_spark.pipelines.multimodal import (
        image_ahash64,
    )

    def grad_bmp(w, h, base, step):
        stride = ((w * 3 + 3) // 4) * 4
        rows = []
        for r in range(h):
            y = h - 1 - r
            rb = bytes(
                b
                for x in range(w)
                for b in [(base + step * y + 5 * x) % 256] * 3
            )
            rows.append(rb + b"\x00" * (stride - w * 3))
        return _bmp_with_raster(w, h, rows)

    payloads = [
        (1, bytearray(grad_bmp(16, 16, 10, 40))),
        (2, bytearray(grad_bmp(16, 16, 13, 40))),   # tiny base shift
        (3, bytearray(grad_bmp(16, 16, 10, 3))),    # different structure
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    fps = image_ahash64(df).select(
        "doc_id", F.col("ahash64").alias("simhash64")
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(fps, max_hamming=6).collect()
    }
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_cluster_safe_split_no_straddle(spark):
    """The invariant the entry exists for: every doc in a near-dup
    cluster gets the SAME split — checked on the real catalog entry at
    sf0.001 by grouping its output on cluster_id."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG

    out = CATALOG["c18_cluster_safe_split"].fn(
        spark, "/root/testdata/sf0.001"
    )
    straddlers = (
        out.groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert straddlers == 0
    # and the split is non-degenerate: all three buckets appear
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits == {"train", "val", "test"}


def test_audio_energyhash_known_signal():
    """A half-silent, half-loud 8-bit mono WAV: the loud half's slices
    must be 1, the silent half's 0; and the unsigned->signed shift
    must make 128 exact silence (energy 0)."""
    import struct

    n = 128
    data = bytes([128] * (n // 2)) + bytes([228] * (n // 2))
    payload = (
        b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
        + b"data" + struct.pack("<I", n) + data
    )
    bits = multimodal.audio_energyhash64(payload)
    assert bits is not None
    assert bits[:32] == "0" * 32
    assert bits[32:] == "1" * 32
    # non-audio payloads and compressed formats return None
    assert multimodal.audio_energyhash64(b"not a wav") is None


def test_m17_isotonic_calibration_properties(spark, sf_dir):
    """PAV invariants: the calibrated map is monotone nondecreasing in
    bin order; pooled bins share the exact pooled integer-ratio mean;
    ece_after <= ece_before; and the fit matches a reference
    sequential PAV reimplementation on the same bins."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.harness.q_pipeline import _x24_bins

    rows = sorted(
        CATALOG["m17_isotonic_calibration"].fn(spark, sf_dir).collect(),
        key=lambda r: r["bin"],
    )
    assert rows
    cal = [r["calibrated"] for r in rows]
    assert cal == sorted(cal)  # monotone
    assert all(r["ece_after"] <= r["ece_before"] + 1e-9 for r in rows)

    bins = sorted(
        _x24_bins(spark, sf_dir).collect(), key=lambda r: r["bin"]
    )
    # reference: classic sequential pool-adjacent-violators
    blocks = [[b["n_correct"], b["n"]] for b in bins]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][0] * blocks[i + 1][1] > blocks[i + 1][0] * blocks[i][1]:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    want = []
    bi = iter(bins)
    for c, n in blocks:
        covered = 0
        while covered < n:
            covered += next(bi)["n"]
            want.append(round(c / n, 6))
    assert [r["calibrated"] for r in rows] == want


def test_c19_split_leakage_audit_consistency(spark, sf_dir):
    """The audit's pair count equals d3's pair count for BOTH rules;
    the cluster rule straddles exactly zero (c18's invariant, now a
    measured quantity); rates are the rounded ratios."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.harness.q_pipeline import (
        d3_minhash_lsh_pairs,
    )

    rows = {
        r["rule"]: r
        for r in CATALOG["c19_split_leakage_audit"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {"doc_fingerprint", "near_dup_cluster"}
    n_pairs = d3_minhash_lsh_pairs(spark, sf_dir).count()
    for r in rows.values():
        assert r["n_pairs"] == n_pairs
        assert abs(
            r["straddle_rate"] - round(r["n_straddling"] / n_pairs, 6)
        ) < 1e-9
    assert rows["near_dup_cluster"]["n_straddling"] == 0
    assert (
        rows["doc_fingerprint"]["n_straddling"]
        >= rows["near_dup_cluster"]["n_straddling"]
    )


def test_c20_effective_tokens_consistency(spark, sf_dir):
    """The report's cluster count equals the CC cluster count over the
    same pair graph; effective <= raw on both docs and tokens; the
    savings rate is the rounded token ratio."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.harness.q_pipeline import (
        d3_minhash_lsh_pairs,
    )

    r = CATALOG["c20_effective_tokens"].fn(spark, sf_dir).collect()[0]
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    pairs = d3_minhash_lsh_pairs(spark, sf_dir)
    cc = graph.connected_components(pairs, "doc_a", "doc_b")
    in_pairs = cc.count()
    n_multi = cc.select("cluster_id").distinct().count()
    want_clusters = n_docs - in_pairs + n_multi  # singletons + components
    assert r["n_docs"] == n_docs
    assert r["n_clusters"] == want_clusters
    assert r["effective_tokens"] <= r["raw_tokens"]
    assert abs(
        r["dedup_savings_rate"]
        - round(1 - r["effective_tokens"] / r["raw_tokens"], 6)
    ) < 1e-9


def _waterfill_ref(caps, weights, budget):
    """Reference water-filling: returns (allocations, water level)."""
    items = sorted(caps, key=lambda s: (caps[s] / weights[s], s))
    for k in range(len(items)):
        sat = items[:k]
        lam = (budget - sum(caps[s] for s in sat)) / sum(
            weights[s] for s in items[k:]
        )
        prev = caps[items[k - 1]] / weights[items[k - 1]] if k else None
        if (prev is None or lam >= prev) and lam < caps[items[k]] / weights[
            items[k]
        ]:
            alloc = {
                s: (caps[s] if s in sat else lam * weights[s]) for s in caps
            }
            return alloc, lam
    raise AssertionError("no valid water level (budget >= total caps?)")


def test_c21_waterfill_matches_reference(spark, sf_dir):
    """The entry's allocations match the sequential reference solver
    on the corpus supplies; allocations sum to the budget; saturated
    sources sit exactly at their caps."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.harness.q_pipeline import (
        _C21_WEIGHTS,
    )

    rows = CATALOG["c21_mixture_waterfill"].fn(spark, sf_dir).collect()
    caps = {r["lang"]: r["cap_tokens"] for r in rows}
    budget = rows[0]["budget_tokens"]
    alloc, lam = _waterfill_ref(caps, _C21_WEIGHTS, budget)
    for r in rows:
        assert abs(r["allocated"] - round(alloc[r["lang"]], 6)) < 1e-5
        assert r["saturated"] == int(
            lam * _C21_WEIGHTS[r["lang"]] >= caps[r["lang"]]
        )
    assert abs(sum(r["allocated"] for r in rows) - budget) < 1e-3


def test_c21_waterfill_reference_saturating_case():
    """The encoded KKT formula handles saturation: a source with tiny
    supply saturates at its cap and its shortfall flows to the rest
    proportionally — validated on a hand-solved example."""
    caps = {"a": 10, "b": 1000, "c": 1000}
    weights = {"a": 5, "b": 3, "c": 2}
    alloc, lam = _waterfill_ref(caps, weights, 510)
    # 'a' saturates at 10; remaining 500 splits 3:2 -> 300/200
    assert alloc["a"] == 10
    assert abs(alloc["b"] - 300) < 1e-9
    assert abs(alloc["c"] - 200) < 1e-9
    assert abs(lam - 100) < 1e-9


def test_d11_exact_duplicates_calibrate_to_one(spark, tmp_path):
    """Two identical documents must land in the nm=16 bin with exact
    Jaccard 1.0 and zero bias; two unrelated documents must not form a
    candidate pair at all (banding admits no bucket match)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from garmin_performance_analysis_spark.harness.catalog import CATALOG

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight nine",
        "red orange yellow green blue indigo violet pink",
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["s"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = CATALOG["d11_minhash_calibration"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_matching_components"] == 16
    assert r["est_jaccard"] == 1.0
    assert r["n_pairs"] == 1
    assert r["mean_exact_jaccard"] == 1.0
    assert r["bias"] == 0.0


def test_d11_bins_are_consistent_on_sf(spark, sf_dir):
    """On the real corpus: every bin's est is exactly nm/16, bias is
    mean-est, means are valid Jaccards, and the selection-bias
    direction holds in aggregate (low-m candidate bins overestimate:
    bias <= 0 for nm <= 8 bins that exist)."""
    from garmin_performance_analysis_spark.harness.catalog import CATALOG

    rows = CATALOG["d11_minhash_calibration"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        nm = r["n_matching_components"]
        assert 0 <= nm <= 16
        assert abs(r["est_jaccard"] - round(nm / 16.0, 6)) < 1e-9
        assert 0.0 <= r["mean_exact_jaccard"] <= 1.0
        assert abs(r["bias"] - round(r["mean_exact_jaccard"] - nm / 16.0, 6)) < 2e-6
        if nm <= 8:
            assert r["bias"] <= 0.0


def test_mm8_cuts_at_run_boundaries(spark, tmp_path):
    """For a known doc_id the cuts land exactly at multiples of the
    run length L = 2 + doc_id % 3, every jump is nonzero, and
    n_scenes = ceil(12 / L)."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from garmin_performance_analysis_spark.harness.catalog import CATALOG

    ids = [0, 1, 2, 7]
    tbl = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(["x"] * len(ids)),
            "lang": pa.array(["en"] * len(ids)),
            "source": pa.array(["s"] * len(ids)),
            "n_chars": pa.array([1] * len(ids), pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = CATALOG["mm8_scene_cuts"].fn(spark, str(tmp_path)).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for did in ids:
        L = 2 + did % 3
        cuts = sorted(r["cut_frame_idx"] for r in by_doc[did])
        assert cuts == [i for i in range(1, 12) if i % L == 0]
        for r in by_doc[did]:
            assert r["jump"] > 0
            assert r["n_scenes"] == math.ceil(12 / L)
            want_after = 32 + (did * 5 + (r["cut_frame_idx"] // L) * 17) % 95
            assert r["intensity_after"] == want_after


def test_query_cosine_non_finite_components(spark):
    # a NaN/Inf query component must render as a float literal, not as
    # a bare `nan`/`inf` identifier that fails analysis
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    for query in ([float("nan"), 1.0], [float("inf"), 0.0], [0.0, float("-inf")]):
        rows = similarity.with_query_cosine(df, "embedding", query).collect()
        assert len(rows) == 2
        assert all(r["cosine"] != r["cosine"] for r in rows)  # NaN
    finite = similarity.with_query_cosine(df, "embedding", [1.0, 0.0]).collect()
    assert {r["vec_id"]: r["cosine"] for r in finite} == {1: 1.0, 2: 0.0}
