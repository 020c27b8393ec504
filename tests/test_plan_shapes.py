"""Plan-shape assertions: the scale properties the README/SCALING.md
claim must be visible in the physical plan, not just asserted in prose.

The loader plans a table that Spark scans as one split as a single
partition, so nothing above it shuffles.  The tests that count
exchanges pin the plan of tables spanning several splits and run on
``sf_multi_split`` (conftest), the sf0.001 tables written as two files
each."""

from __future__ import annotations

from pyspark.sql import functions as F

from garmin_performance_analysis_spark.harness.catalog import CATALOG
from garmin_performance_analysis_spark.plans import checks
from garmin_performance_analysis_spark.sources.tables import load_table

from conftest import SF_SMOKE


def test_projection_scan_prunes_readschema(spark):
    df = CATALOG["s3_projection_scan"].fn(spark, SF_SMOKE)
    cols = checks.read_schema_columns(df)
    # 3 projected + the filter column; the other 7 lineitem columns gone
    assert set(cols) <= {"l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"}
    assert len(cols) <= 4


def test_point_lookup_pushes_filter(spark):
    df = CATALOG["p2_point_lookup"].fn(spark, SF_SMOKE)
    assert checks.has_pushed_filters(df)


def test_date_range_pushes_filter(spark):
    df = CATALOG["p3_date_range"].fn(spark, SF_SMOKE)
    assert checks.has_pushed_filters(df)


def test_dim_joins_broadcast(spark):
    df = CATALOG["j1_revenue_by_nation"].fn(spark, SF_SMOKE)
    assert checks.uses_broadcast_join(df)


def test_flagship_uses_codegen(spark):
    df = CATALOG["q1_pricing_summary"].fn(spark, SF_SMOKE)
    assert checks.has_whole_stage_codegen(df)


def test_flagship_single_shuffle(spark, sf_multi_split):
    # scan -> partial agg -> exchange on group key -> final agg: exactly 1
    df = CATALOG["q1_pricing_summary"].fn(spark, sf_multi_split)
    assert checks.count_shuffles(df) == 1


def test_asof_join_broadcasts_small_side(spark):
    df = CATALOG["j7_nearest_date_asof"].fn(spark, SF_SMOKE)
    assert checks.uses_broadcast_join(df)


def test_preagg_join_aggregates_before_join(spark):
    plan = checks.formatted_plan(CATALOG["j6_preagg_join"].fn(spark, SF_SMOKE))
    # the aggregate must appear below the join in the plan tree
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1


def test_j8_unbounded_asof_broadcasts_dim(spark):
    # unbounded nearest-covariate: the dim MUST broadcast (the join is
    # a per-left-row fan-out over the whole dim)
    df = CATALOG["j8_nearest_covariate"].fn(spark, SF_SMOKE)
    assert checks.uses_broadcast_join(df)


def test_d10_shares_one_partition_shuffle(spark, sf_multi_split):
    # the lag chain, rep numbering, median gate and both grouped passes
    # all key on activity_id: one shuffle for the window pass plus one
    # for each grouped pass at most — no accidental re-partitioning
    df = CATALOG["d10_performance_trends"].fn(spark, sf_multi_split)
    assert checks.count_shuffles(df) <= 3


def test_profile_median_is_distributed(spark):
    # the profiler must NOT use the single-group percentile aggregate
    # (its final merge buffers a whole column in one task)
    df = CATALOG["a9_profile_table"].fn(spark, SF_SMOKE)
    plan = checks.formatted_plan(df)
    assert "percentile" not in plan.lower()


def test_kmeans_seed_selection_is_topk_not_global_sort(spark):
    """Centroid init (k smallest ids) must compile to
    TakeOrderedAndProject — per-partition top-k + driver merge — not a
    full Sort+Exchange of the corpus."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = (
        emb.orderBy(F.col("vec_id").asc())
        .limit(8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_m8_window_sum_stays_primitive(spark):
    """The sliding best-segment sum must run as a scaled LONG, not a
    BigDecimal buffer (the round-1 2.03 s -> 0.50 s fix)."""
    plan = checks.formatted_plan(CATALOG["m8_best_segment"].fn(spark, SF_SMOKE))
    assert "decimal(22,2)" not in plan.lower()


def test_m8_shuffle_budget(spark, sf_multi_split):
    # one exchange for the window partition key; ranking reuses it
    df = CATALOG["m8_best_segment"].fn(spark, sf_multi_split)
    assert checks.count_shuffles(df) <= 1


def test_a1_stats_block_shuffle_budget(spark, sf_multi_split):
    # moments pass + shared unpivoted grid-median passes + pivot/join:
    # 6 today; the guard catches a per-metric re-shuffle regression
    # (a naive per-metric median would add ~3 per metric)
    df = CATALOG["a1_stats_block"].fn(spark, sf_multi_split)
    assert checks.count_shuffles(df) <= 6


def test_a9_profile_shuffle_budget(spark, sf_multi_split):
    df = CATALOG["a9_profile_table"].fn(spark, sf_multi_split)
    assert checks.count_shuffles(df) <= 8


def test_t4_full_causes_context_is_single_broadcast_pass(spark):
    """The T4 context lookup must broadcast the tiny anomaly probe and
    stream the context union once - no sort-merge join of the big side."""
    df = CATALOG["t4_full_causes"].fn(spark, SF_SMOKE)
    assert checks.uses_broadcast_join(df)


def test_d4_fingerprints_are_map_only(spark, sf_multi_split):
    """SimHash fingerprinting must be a pure projection: one explicit
    balance repartition, then codegen expression work — the r3 rewrite
    removed a |tokens|*64-row explode through two groupBy shuffles."""
    from garmin_performance_analysis_spark.pipelines import dedup

    docs = load_table(spark, sf_multi_split, "documents")
    df = dedup.simhash64(docs, "doc_id", "text")
    # the only exchange is the explicit doc-balance repartition
    assert checks.count_shuffles(df) <= 1
    plan = checks.formatted_plan(df)
    assert "HashAggregate" not in plan  # no vote groupBys survive


def test_v4_srp_buckets_computed_without_plane_join(spark):
    """SRP-LSH bucket signatures must come from the vectorized Arrow
    batch (one numpy matmul against driver-side md5 hyperplanes), not a
    component-explode joined against a plane table through a DECIMAL
    groupBy: the plan holds an ArrowEvalPython stage and no BigDecimal
    aggregation."""
    df = CATALOG["v4_srp_lsh_pairs"].fn(spark, SF_SMOKE)
    plan = checks.formatted_plan(df)
    assert "arrowevalpython" in plan.lower()
    assert "decimal(22,7)" not in plan.lower()


def test_c2_sample_is_shuffle_free_scan_filter(spark, sf_multi_split):
    """The deterministic sampler must be a pure scan-side filter —
    zero exchanges — so it can stack in front of expensive stages
    without moving data."""
    df = CATALOG["c2_stratified_sample"].fn(spark, sf_multi_split)
    assert checks.count_shuffles(df) == 0
    assert checks.has_whole_stage_codegen(df)


def test_v6_sq_topk_is_shuffle_free_shortlist(spark, sf_multi_split):
    """SQ shortlist + exact re-rank: both ranking passes are global
    top-k (TakeOrderedAndProject), never a full sort exchange."""
    df = CATALOG["v6_sq_topk"].fn(spark, sf_multi_split)
    assert checks.count_shuffles(df) == 0
    plan = checks.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_x7_bm25_broadcasts_scalars_and_filters_before_explode(spark):
    """BM25's corpus scalars (N, avgdl) and per-term df are broadcast;
    the IN-list term filter must run inside the row (a lambda filter in
    the projection) so only matching tokens are exploded into rows."""
    df = CATALOG["x7_bm25_search"].fn(spark, SF_SMOKE)
    assert checks.uses_broadcast_join(df)
    plan = checks.formatted_plan(df)
    # the explode's input is the filtered array, not the raw split
    assert "filter(split(" in plan or "filter(lambdafunction" in plan.lower()


def test_d6_decontamination_broadcasts_probe_set(spark):
    """The probe (benchmark) shingle set must broadcast: the corpus
    side streams through a broadcast hash join, never a sort-merge of
    the full shingle stream against the probe."""
    df = CATALOG["d6_decontamination"].fn(spark, SF_SMOKE)
    assert checks.uses_broadcast_join(df)
    plan = checks.formatted_plan(df)
    assert "SortMergeJoin" not in plan


def test_k2_salted_join_shuffles_on_key_plus_salt(spark, sf_multi_split):
    """The salted join must actually reach a shuffled join keyed on
    (n_key, _salt) — if Spark broadcast the dim, the salt would never
    touch an exchange and the entry would demonstrate nothing."""
    df = CATALOG["k2_salted_skew_join"].fn(spark, sf_multi_split)
    plan = checks.formatted_plan(df)
    assert "ShuffledHashJoin" in plan
    assert "_salt" in plan  # salt participates in the join keys
    assert "BroadcastHashJoin" not in plan.split("ShuffledHashJoin")[0]


def test_j15_bucketed_join_has_no_join_exchange(spark, sf_multi_split):
    """The co-bucketed silver tables must join with ZERO exchanges on
    either side — the only Exchange in the whole plan is the final
    grouped aggregate.  If bucketed scan metadata is lost (or the join
    degrades to broadcast, which bypasses bucketed scans), this gate
    trips."""
    df = CATALOG["j15_bucketed_colocated_join"].fn(spark, sf_multi_split)
    plan = checks.formatted_plan(df)
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert plan.count("Exchange (") == 1  # the groupBy only


def test_no_global_windows_anywhere_in_catalog(spark):
    """Zero-tolerance gate for the 'move every row to one partition'
    window anti-pattern (the round-4 x7/v7 defect).  Every window in
    every catalog query's final plan must carry a partition clause —
    bounded rank-the-top-k frames use the NON-FOLDABLE constant key
    from ``operators.windows.bounded_partition_key`` (``pmod(hash(col),
    1)``; a plain ``lit(0)`` or ``hash(col)*0`` is optimized away and
    re-trips this gate) so intent is visible in the plan and Spark's
    "No Partition Defined for Window operation" warning stays out of
    the bench tail."""
    offenders = {}
    for name, spec in CATALOG.items():
        df = spec.fn(spark, SF_SMOKE)
        bad = checks.global_window_specs(df)
        if bad:
            offenders[name] = bad[0][:120]
    assert not offenders, f"global windows in: {offenders}"


def test_s10_scan_is_partition_pruned(spark):
    """The week filter must become PartitionFilters (pruned against
    directory names before any I/O), not a data filter evaluated per
    row — the mechanism the entry exists to demonstrate."""
    df = CATALOG["s10_partition_pruned_scan"].fn(spark, SF_SMOKE)
    plan = checks.formatted_plan(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf, "scan lost its PartitionFilters clause"
    assert ">= 2024-01-10" in pf[0] and "<= 2024-01-16" in pf[0]


def test_a22_cms_shuffle_carries_cells_not_stream(spark, sf_multi_split):
    """The sketch build's only row-cardinality shuffle is the token
    dedup inside the probe's exact recount; the CMS groupBy itself
    must partially aggregate map-side (HashAggregate below the
    exchange) so the wire carries ≤ depth×width cells per task."""
    from garmin_performance_analysis_spark.operators import sketches

    docs = load_table(spark, sf_multi_split, "documents")
    terms = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    )
    sk = sketches.cms_sketch(terms, "term")
    plan = checks.formatted_plan(sk)
    assert plan.count("Exchange (") == 1
    # partial aggregation below the exchange = map-side combine
    assert "partial_count" in plan


def test_o10_keyset_page_never_global_sorts(spark):
    """Keyset pagination must plan as filter + TakeOrderedAndProject —
    a global Sort node would mean the 'scalable pagination' entry is
    secretly sorting the table like OFFSET does."""
    df = CATALOG["o10_keyset_pagination"].fn(spark, SF_SMOKE)
    plan = checks.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Sort (") == 0


def test_j16_prune_is_chained_broadcast_semis_no_extra_exchange(spark, sf_multi_split):
    """The Bloom prune must run as three LeftSemi broadcast joins in
    front of the real join — no explode, and no exchange beyond the
    final aggregate's (the dim join itself broadcasts here)."""
    df = CATALOG["j16_bloom_pruned_join"].fn(spark, sf_multi_split)
    plan = checks.formatted_plan(df)
    assert plan.count("LeftSemi") >= 3
    assert "Generate" not in plan  # no explode in the prune
    # the only NON-broadcast exchange is the final aggregate's: the
    # fact pipeline is scan -> 3 semi filters -> join with no shuffle
    real_exchanges = plan.count("Exchange (") - plan.count(
        "BroadcastExchange ("
    )
    assert real_exchanges == 1


def test_s12_orc_readback_pushes_filter(spark):
    """The ORC roundtrip's point is that the format keeps scan-pruning
    power: the read-back plan must show a pushed price filter on the
    ORC scan (CSV, by contrast, cannot push anything)."""
    df = CATALOG["s12_orc_roundtrip"].fn(spark, SF_SMOKE)
    assert checks.has_pushed_filters(df)
