"""Incremental dedup registry: within-batch, cross-run, idempotency,
partition-pruned registry reads, and fresh-session persistence."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from garmin_performance_analysis_spark.pipelines import incremental


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_dedup_lifecycle(spark, tmp_path):
    reg = str(tmp_path / "registry")

    # an EMPTY first batch must not poison the registry (review
    # finding: an empty append once left a _SUCCESS-only directory
    # that failed schema inference on every later read)
    empty = _batch(spark, []).filter("doc_id IS NOT NULL")
    f0 = incremental.incremental_dedup(
        spark, empty, reg, "doc_id", incremental.exact_key_expr("text")
    )
    assert f0.count() == 0
    assert incremental.read_registry(spark, reg).count() == 0

    # batch 1: one internal duplicate pair
    b1 = _batch(
        spark,
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")],
    )
    f1 = incremental.incremental_dedup(
        spark, b1, reg, "doc_id", incremental.exact_key_expr("text")
    )
    ids1 = sorted(r["doc_id"] for r in f1.collect())
    assert ids1 == [1, 2]  # within-batch dup keeps min doc_id

    # batch 2: one cross-run duplicate + one new doc
    b2 = _batch(spark, [(10, "alpha beta"), (11, "epsilon zeta")])
    f2 = incremental.incremental_dedup(
        spark, b2, reg, "doc_id", incremental.exact_key_expr("text")
    )
    assert [r["doc_id"] for r in f2.collect()] == [11]

    # idempotency: re-running batch 2 yields nothing and grows nothing
    before = incremental.read_registry(spark, reg).count()
    f3 = incremental.incremental_dedup(
        spark, b2, reg, "doc_id", incremental.exact_key_expr("text")
    )
    assert f3.count() == 0
    assert incremental.read_registry(spark, reg).count() == before == 3

    # registry contents: canonical keep ids
    kept = {
        r["dedup_key"]: r["keep_id"]
        for r in incremental.read_registry(spark, reg).collect()
    }
    assert len(kept) == 3 and set(kept.values()) == {1, 2, 11}


def test_incremental_near_dedup_catches_reordered_text(spark, tmp_path):
    reg = str(tmp_path / "registry")
    b1 = _batch(spark, [(1, "one two three")])
    incremental.incremental_dedup(
        spark, b1, reg, "doc_id", incremental.near_key_expr("text")
    )
    # same word set, different order → near-dup, dropped
    b2 = _batch(spark, [(2, "three one two"), (3, "four five six")])
    f2 = incremental.incremental_dedup(
        spark, b2, reg, "doc_id", incremental.near_key_expr("text")
    )
    assert [r["doc_id"] for r in f2.collect()] == [3]


def test_registry_read_prunes_partitions(spark, tmp_path):
    """A small batch's anti-join must read only the hash-prefix
    partitions the batch touches, not the whole registry."""
    reg = str(tmp_path / "registry")
    big = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("document number "), F.col("id")).alias("text"),
    )
    # width pinned to 2: this test exercises the pruning machinery at
    # full fan-out; the adaptive default would give this 300-key
    # corpus a single partition dir (see the adaptive-width test)
    incremental.incremental_dedup(
        spark, big, reg, "doc_id", incremental.exact_key_expr("text"),
        prefix_width=2,
    )
    one = _batch(spark, [(1000, "a single new doc")])
    import glob
    import os

    n_parts_total = len(glob.glob(os.path.join(reg, "_kp=p*")))
    assert n_parts_total > 50  # 300 md5s spread over many prefixes
    f = incremental.incremental_dedup(
        spark, one, reg, "doc_id", incremental.exact_key_expr("text")
    )
    assert f.count() == 1
    stats = incremental.registry_stats(spark, reg).first()
    assert stats["total_keys"] == 301
    # the prune must be a real PartitionFilter on the scan, not a
    # post-scan filter (review finding: the behavior checks above pass
    # even with the prune deleted)
    from garmin_performance_analysis_spark.plans import checks

    plan = checks.formatted_plan(
        incremental._pruned_registry(spark, reg, ["p00", "p01"])
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "_kp" in pf[0] and "PartitionFilters: []" not in pf[0]


def test_registry_prefix_width_adapts_and_sticks(spark, tmp_path):
    """A small creating batch gets a single partition dir (width 0 —
    the 256-way fan-out is write choreography it cannot amortize), the
    layout stays partitioned-by-_kp, and a LATER ingest reads the
    width back from disk instead of re-deriving it from its own size,
    so the registry stays self-consistent."""
    import glob
    import os

    reg = str(tmp_path / "registry")
    b1 = _batch(spark, [(1, "alpha"), (2, "beta")])
    incremental.incremental_dedup(
        spark, b1, reg, "doc_id", incremental.exact_key_expr("text")
    )
    # width 0: exactly one partition dir named _kp=p
    assert glob.glob(os.path.join(reg, "_kp=*")) == [os.path.join(reg, "_kp=p")]
    assert incremental._infer_width(spark, reg) == 0
    # later ingest (pinning a different width must be ignored for an
    # existing registry) still lands in the same single dir and dedups
    b2 = _batch(spark, [(3, "alpha"), (4, "gamma")])
    f2 = incremental.incremental_dedup(
        spark, b2, reg, "doc_id", incremental.exact_key_expr("text"),
        prefix_width=2,
    )
    assert [r["doc_id"] for r in f2.collect()] == [4]
    assert glob.glob(os.path.join(reg, "_kp=*")) == [os.path.join(reg, "_kp=p")]
    assert incremental.read_registry(spark, reg).count() == 3
    # the adaptive rule itself: thresholds are size-driven
    assert incremental._adaptive_width(99_999) == 0
    assert incremental._adaptive_width(100_000) == 1
    assert incremental._adaptive_width(10_000_000) == 2


def test_registry_survives_fresh_reader(spark, tmp_path):
    reg = str(tmp_path / "registry")
    incremental.incremental_dedup(
        spark,
        _batch(spark, [(7, "persisted text")]),
        reg,
        "doc_id",
        incremental.exact_key_expr("text"),
    )
    # a separate read path (as a new session would do) sees the key
    assert incremental.read_registry(spark, reg).count() == 1


def test_compact_table_collapses_small_files(spark, tmp_path):
    """Many per-append files compact to the byte-sized target count,
    preserving rows and surviving the atomic swap."""
    import glob

    from garmin_performance_analysis_spark.pipelines.silver import compact_table

    path = str(tmp_path / "tiny_files")
    for i in range(12):  # 12 separate appends → ≥12 files
        spark.range(i * 10, i * 10 + 10).write.mode("append").parquet(path)
    files_before = len(glob.glob(f"{path}/part-*"))
    assert files_before >= 12
    n = compact_table(spark, path, target_file_mb=128, partition_by=[])
    assert n == 1  # 120 tiny rows fit one target file
    files_after = len(glob.glob(f"{path}/part-*"))
    assert files_after < files_before
    assert spark.read.parquet(path).count() == 120
    assert not glob.glob(f"{path}.__tmp__") and not glob.glob(f"{path}.__old__")


def test_incremental_lsh_finds_historical_near_dup(spark, tmp_path):
    """A new document that near-duplicates a doc ingested in an EARLIER
    batch must surface as an (old, new) pair with high est_jaccard;
    re-running the batch is idempotent."""
    reg = str(tmp_path / "lsh_registry")
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    b1 = _batch(spark, [(1, base), (2, "completely unrelated words " * 5)])
    p1 = incremental.incremental_lsh_candidates(
        spark, b1, reg, "doc_id", "text"
    )
    assert p1.count() == 0  # empty history → no cross-run pairs

    near = base.replace("kappa", "kappa2")  # one-token edit → high J
    b2 = _batch(spark, [(10, near), (11, "fresh other content " * 5)])
    p2 = incremental.incremental_lsh_candidates(
        spark, b2, reg, "doc_id", "text"
    ).collect()
    found = {(r["old_doc"], r["new_doc"]) for r in p2}
    assert (1, 10) in found
    est = {(r["old_doc"], r["new_doc"]): r["est_jaccard"] for r in p2}
    assert est[(1, 10)] >= 0.5

    # idempotent re-run: same pairs, no registry growth
    import glob

    n_sig_files = len(glob.glob(f"{reg}/sigs/part-*"))
    p3 = incremental.incremental_lsh_candidates(
        spark, b2, reg, "doc_id", "text"
    ).collect()
    assert {(r["old_doc"], r["new_doc"]) for r in p3} == found
    assert len(glob.glob(f"{reg}/sigs/part-*")) == n_sig_files


def test_compact_preserves_partition_layout(spark, tmp_path):
    """Compacting a Hive-partitioned table with the DEFAULT
    partition_by must keep the col=value layout (ADVICE finding: the
    old None→flat default flattened the prefix-partitioned dedup
    registry, and the next partitioned append produced a mixed layout
    partition discovery rejects)."""
    import glob

    from garmin_performance_analysis_spark.pipelines.silver import (
        compact_table,
        detect_partition_cols,
    )

    reg = str(tmp_path / "registry")
    big = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("document number "), F.col("id")).alias("text"),
    )
    incremental.incremental_dedup(
        spark, big, reg, "doc_id", incremental.exact_key_expr("text")
    )
    assert detect_partition_cols(spark, reg) == ["_kp"]
    compact_table(spark, reg, target_file_mb=128)
    # layout preserved: partition dirs still exist, no flat root files
    assert glob.glob(f"{reg}/_kp=p*")
    assert not glob.glob(f"{reg}/part-*.parquet")
    # and the registry still works end-to-end: append + cross-run dedup
    b2 = _batch(spark, [(900, "document number 5"), (901, "brand new doc")])
    f2 = incremental.incremental_dedup(
        spark, b2, reg, "doc_id", incremental.exact_key_expr("text")
    )
    assert [r["doc_id"] for r in f2.collect()] == [901]
    assert incremental.read_registry(spark, reg).count() == 201


def test_lsh_crash_between_appends_repairs_on_retry(spark, tmp_path):
    """Crash-safety ordering (ADVICE finding): bands/ is written BEFORE
    sigs/, so a crash between the two appends leaves orphan band rows
    that the retry absorbs — not sigs-only doc_ids that would make the
    retry skip the band append forever and silently drop the batch
    from the LSH index."""
    from garmin_performance_analysis_spark.pipelines.dedup import (
        band_rows,
        minhash_signatures,
    )

    reg = str(tmp_path / "lsh_registry")
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    b1 = _batch(spark, [(1, base)])
    incremental.incremental_lsh_candidates(spark, b1, reg, "doc_id", "text")

    # simulate the crash for batch 2: bands appended, sigs NOT — with
    # the store's OWN prefix width, exactly as the interrupted real
    # append would have written
    width = incremental._infer_width(spark, f"{reg}/bands")
    b2 = _batch(spark, [(20, base.replace("kappa", "kappa2"))])
    sigs2 = minhash_signatures(b2, "doc_id", "text", 16, 3)
    (
        band_rows(sigs2, 16, 4)
        .withColumn("_kp", incremental._prefix_expr(width, "band_hash"))
        .write.mode("append")
        .partitionBy("_kp")
        .parquet(f"{reg}/bands")
    )

    # retry of batch 2: must still treat it as fresh and complete both
    # stores; the duplicated band rows must not duplicate pairs
    p2 = incremental.incremental_lsh_candidates(
        spark, b2, reg, "doc_id", "text"
    ).collect()
    assert [(r["old_doc"], r["new_doc"]) for r in p2] == [(1, 20)]
    sig_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{reg}/sigs").select("doc_id").collect()
    }
    assert sig_ids == {1, 20}

    # batch 3 duplicates batch 2's doc → found via the repaired index
    # (identical text → identical signatures → guaranteed band match;
    # a one-token edit can legitimately miss all 4 bands)
    b3 = _batch(spark, [(30, base.replace("kappa", "kappa2"))])
    p3 = incremental.incremental_lsh_candidates(
        spark, b3, reg, "doc_id", "text"
    ).collect()
    found = {(r["old_doc"], r["new_doc"]) for r in p3}
    assert (20, 30) in found


def test_staged_collapse_matches_unstaged(spark, tmp_path):
    """r13: `staged=` (pre-computed collapse_batch, the §2.6 overlap
    path) must be byte-equivalent to the unstaged call — same fresh
    rows, same registry state."""
    key = incremental.exact_key_expr("text")
    b1 = _batch(spark, [(2, "alpha beta"), (4, "gamma delta")])
    b2 = _batch(
        spark,
        [(7, "alpha beta"), (9, "epsilon zeta"), (11, "epsilon zeta")],
    )

    reg_a = str(tmp_path / "reg_unstaged")
    incremental.incremental_dedup(spark, b1, reg_a, "doc_id", key)
    fa = incremental.incremental_dedup(spark, b2, reg_a, "doc_id", key)

    reg_b = str(tmp_path / "reg_staged")
    staged = incremental.collapse_batch(b2, "doc_id", key)
    incremental.incremental_dedup(spark, b1, reg_b, "doc_id", key)
    fb = incremental.incremental_dedup(
        spark, b2, reg_b, "doc_id", key, staged=staged
    )

    rows_a = sorted(map(tuple, fa.select("doc_id", "dedup_key").collect()))
    rows_b = sorted(map(tuple, fb.select("doc_id", "dedup_key").collect()))
    assert rows_a == rows_b == sorted(rows_b)
    assert rows_b and [r[0] for r in rows_b] == [9]  # within-batch min id, cross-run drop
    reg_rows_a = sorted(
        map(tuple, incremental.read_registry(spark, reg_a).collect())
    )
    reg_rows_b = sorted(
        map(tuple, incremental.read_registry(spark, reg_b).collect())
    )
    assert reg_rows_a == reg_rows_b


def test_staged_lsh_sigs_match_unstaged(spark, tmp_path):
    """r13: `staged_sigs=` must be byte-equivalent to the in-call
    minhash pass — same pairs, same stores."""
    t1 = "quick brown fox jumps over the lazy dog again and again"
    t2 = "quick brown fox jumps over the lazy dog again and again!"
    b1 = _batch(spark, [(2, t1)])
    b2 = _batch(spark, [(3, t2)])

    reg_a = str(tmp_path / "lsh_unstaged")
    incremental.incremental_lsh_candidates(
        spark, b1, reg_a, "doc_id", "text", num_hashes=16, bands=4, n=3,
        threshold=0.0,
    )
    pa = incremental.incremental_lsh_candidates(
        spark, b2, reg_a, "doc_id", "text", num_hashes=16, bands=4, n=3,
        threshold=0.0,
    )

    reg_b = str(tmp_path / "lsh_staged")
    staged = incremental.stage_lsh_sigs(b2, "doc_id", "text", 16, 3)
    incremental.incremental_lsh_candidates(
        spark, b1, reg_b, "doc_id", "text", num_hashes=16, bands=4, n=3,
        threshold=0.0,
    )
    pb = incremental.incremental_lsh_candidates(
        spark, b2, reg_b, "doc_id", "text", num_hashes=16, bands=4, n=3,
        threshold=0.0, staged_sigs=staged,
    )

    rows_a = sorted(map(tuple, pa.collect()))
    rows_b = sorted(map(tuple, pb.collect()))
    assert rows_a == rows_b
    assert rows_a, "near-identical docs must collide in at least one band"


def test_staged_lsh_sigs_must_match_the_call(spark, tmp_path):
    """Signatures staged with another shingle size ``n`` (or not staged
    by ``stage_lsh_sigs`` at all) are rejected, not banded and appended
    to the signature store."""
    batch = _batch(spark, [(1, "quick brown fox jumps over the lazy dog")])
    reg = str(tmp_path / "lsh")
    staged = incremental.stage_lsh_sigs(batch, "doc_id", "text", 16, 5)
    unmarked = staged.select(*staged.columns).withMetadata("doc_id", {})
    for sigs in (staged, unmarked):
        with pytest.raises(ValueError, match="staged_sigs"):
            incremental.incremental_lsh_candidates(
                spark, batch, reg, "doc_id", "text", num_hashes=16, n=3,
                staged_sigs=sigs,
            )
    assert not os.path.exists(reg)
