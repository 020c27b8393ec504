#!/usr/bin/env python
"""Benchmark harness: runs the headline catalog queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints per-query JSON detail lines
followed by ONE JSON summary line, always last.

Usage: python bench.py [name ...]

With names, only those catalog entries are timed (same session, warmup
and best-of-N as the full run), so one query can be re-measured
without a full sweep.  A query that raises is recorded under
``"failed"`` (error class and first message line) and the run goes on.

Each query is forced end-to-end with the noop sink (full computation,
no driver-side collect cost).  From the third call on, an entry whose
plan is reusable (``harness/registry.py``) skips its Python-side build,
so its best-of-N can come from a reused-plan run: such totals are not
comparable with totals measured before plan reuse.  The summary's
``reused_plan`` counts the timed queries whose best run reused a plan.
Session startup and a warmup query are excluded from timings, as in
the reference's benchmark harness
(mcp/benchmarks/benchmark_export_performance.py:42-199, which times
query execution separately from setup).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from garmin_performance_analysis_spark.harness.catalog import CATALOG  # noqa: E402
from garmin_performance_analysis_spark.harness.registry import serves_reused_plan  # noqa: E402
from garmin_performance_analysis_spark.session import call_scope, get_spark  # noqa: E402
# the benchmark's probes, shared rather than copied: ``force`` is the
# noop-sink materialization, ``read_steal``/``steal_pct`` the /proc/stat
# hypervisor-steal share (a shared host's vCPUs can be stolen in waves,
# so per-query steal is recorded next to each timing)
from perfbench.layers import read_steal, steal_pct  # noqa: E402
from perfbench.run import force  # noqa: E402

# Headline set: the catalog entries tagged "read" or "batch".  "read"
# entries are the read-path queries the reference's <300 ms budget
# applies to; "batch" entries (training, corpus passes, replays) are
# timed and reported, but broken out so the read-path subtotal stays
# comparable to that per-read budget.
HEADLINE = [n for n, s in CATALOG.items() if {"read", "batch"} & set(s.tags)]
BATCH_JOBS = {n for n, s in CATALOG.items() if "batch" in s.tags}
# timed runs per query, and the cap when a query's runs spread > 3x
RUNS, MAX_RUNS = 3, 5


def warm_up(spark, sf_dir: str) -> None:
    """JVM/codegen/parquet-footer caches, plus one Arrow/pandas UDF
    pass so the Python workers exist before any timed pandas-backed
    query (worker spawn was otherwise charged to the first such query
    in the list).  ``scripts/profile_query.py`` runs the same warm-up."""
    with call_scope(spark):
        force(CATALOG["p2_point_lookup"].fn(spark, sf_dir))
        force(CATALOG["mm2_decoded_features"].fn(spark, sf_dir))


def print_parts(part_key: str, key: str, values: dict, names: list) -> None:
    """Print ``values`` for ``names`` as independently parseable JSON
    lines of <=15 names each; every line must fit in 1 KB."""
    chunk = 15
    n_parts = (len(names) + chunk - 1) // chunk
    for part, start in enumerate(range(0, len(names), chunk), start=1):
        line = json.dumps(
            {
                part_key: part,
                "of": n_parts,
                key: {n: values[n] for n in names[start : start + chunk]},
            }
        )
        if len(line) > 1024:
            raise ValueError(f"{part_key} {part} exceeds 1 KB")
        print(line)


def main() -> None:
    names = sys.argv[1:] or HEADLINE
    unknown = [n for n in names if n not in CATALOG]
    if unknown:
        raise SystemExit(f"not in catalog: {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # sampled BEFORE the Spark session exists, so it reflects ambient
    # machine load rather than this bench's own executors
    start_load = round(os.getloadavg()[0], 2)
    # NOTE: a 48g heap was tried here ("headroom vs GC noise") and made
    # allocation-heavy queries ERRATIC instead: d4b measured 7/15/2 s
    # across three runs at 48g vs a stable ~3.4 s at 16g (oversized G1
    # young gen → long unpredictable pauses).  Keep the session default
    # (half of physical RAM, at most 16g).
    spark = get_spark("bench")

    warm_up(spark, sf_dir)

    # best-of-3, widened to best-of-N (N <= 5) when the run spread
    # exceeds 3x (round-12 VERDICT item 1): the host is CPU-
    # overcommitted and steal waves land on random queries; a >3x
    # spread within one query's runs is the wave signature, and up to
    # two bounded retries give the best-of a chance at a clean run.
    # The timed action per run is UNCHANGED (noop sink, full plan).
    timings: dict[str, float] = {}
    steals: dict[str, float] = {}
    failed: dict[str, str] = {}
    reused: set[str] = set()  # queries whose best run reused a plan
    for name in names:
        spark.sparkContext.setJobDescription(f"bench: {name}")
        steal0 = read_steal()
        walls: list[float] = []
        hits: list[bool] = []
        # the scope releases the blocks this query's runs persisted (a
        # session that keeps them slows later queries: d4b measured 16 s
        # in-suite vs ~2.5 s isolated); its snapshots sit outside timers
        try:
            with call_scope(spark):
                while True:
                    hits.append(serves_reused_plan(spark, sf_dir, name))
                    t0 = time.perf_counter()
                    force(CATALOG[name].fn(spark, sf_dir))
                    walls.append(time.perf_counter() - t0)
                    if len(walls) >= MAX_RUNS:
                        break
                    if len(walls) >= RUNS and max(walls) <= 3.0 * min(walls):
                        break
        except Exception as exc:  # noqa: BLE001 — recorded, the run goes on
            traceback.print_exc()  # full trace on stderr; stdout stays JSON
            first_line = (str(exc).strip().splitlines() or [""])[0]
            failed[name] = f"{type(exc).__name__}: {first_line}"[:300]
        else:
            timings[name] = round(min(walls), 3)
            if hits[walls.index(min(walls))]:
                reused.add(name)
            # steal share of this query's whole wall (all runs), percent
            steals[name] = round(steal_pct(steal0, read_steal()), 2)

    total = round(sum(timings.values()), 3)
    read_times = sorted(v for k, v in timings.items() if k not in BATCH_JOBS)
    read_path = round(sum(read_times), 3)
    # Per-query budget compliance (round-10 VERDICT item 2): the
    # reference's 300 ms budget is PER READ (tests/performance/
    # test_phase_analyst_performance.py:41-92), so grading the MEAN of
    # an ever-growing read list against it punishes catalog growth —
    # every new entry pays Spark's ~0.2-0.3 s fixed local[32] overhead
    # regardless of plan quality.  Report the compliance split and the
    # p50/p90 read wall next to the average.
    def _pctl(sorted_vals: list, q: float) -> float | None:
        if not sorted_vals:
            return None
        i = max(0, min(len(sorted_vals) - 1, round(q * (len(sorted_vals) - 1))))
        return round(sorted_vals[i], 3)

    reads_within = sum(1 for v in read_times if v <= 0.3)
    # The driver captures only a bounded tail of stdout; BENCH_r06 was
    # lost because the single ~4 KB JSON line (74 per-query timings)
    # outgrew that window and the FRONT of the line — including the
    # headline value — was truncated away.  r7 fixed the summary but
    # the detail dict was still ONE long line, so 35 of 97 timings
    # fell off the front of the captured tail.  So: per-query detail
    # is CHUNKED into <=1 KB JSON lines (each independently
    # parseable, keyed by part number), and the LAST stdout line is a
    # compact (<200 byte) summary that survives any tail capture and
    # still parses as the one-JSON-line contract.
    # Ordering (round-9 VERDICT item 2): the driver's bounded tail kept
    # only the LAST parts in r9, so the detail for this round's fronted
    # entries must sit CLOSEST to the summary line.  The catalog's
    # first-50 window IS the current round's fronted set (catalog.ORDER
    # puts it there), so print non-window queries first and window
    # queries last — whatever the tail truncates, every fronted entry's
    # number survives.
    window = set(list(CATALOG)[:50])
    order = [n for n in timings if n not in window] + [
        n for n in timings if n in window
    ]
    # Per-query steal telemetry (round-12 VERDICT item 1): separate
    # chunks under a "steal" key — NOT "queries" — so any parser
    # collecting the timing dicts cannot confuse percent-steal with
    # seconds.  Same name order as the timing chunks.  Printed FIRST:
    # the driver keeps only a bounded stdout TAIL (the r9 lesson), and
    # the per-query SECONDS must sit closest to the summary — if the
    # tail truncates anything, it truncates steal percentages, whose
    # distribution survives in the summary's steal_p50/steal_max.
    print_parts("steal_part", "steal", steals, order)
    print_parts("detail_part", "queries", timings, order)
    # failures after the timings: few, and each names its error
    for name, err in failed.items():
        print(json.dumps({"failed": {name: err}}))
    if reused:
        print(json.dumps({"note": f"{len(reused)} best runs reused a plan: "
                          "not comparable with totals from before plan reuse"}))
    steal_sorted = sorted(steals.values())
    # Load honesty (round-8 VERDICT item 5): BENCH_r08 was captured
    # in-suite (median 1.31x uniform inflation vs idle across 44
    # common queries) and records aren't comparable across rounds if
    # load varies — so the summary carries the 1-min loadavg at START
    # of the run and a "loaded" flag when it exceeded ncpus/4.
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_sec",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(names),
                "failed": len(failed),
                "reused_plan": len(reused),
                "read_path_sec": read_path,
                "batch_job_sec": round(total - read_path, 3),
                "reads_within_300ms": f"{reads_within}/{len(read_times)}",
                "read_p50_sec": _pctl(read_times, 0.5),
                "read_p90_sec": _pctl(read_times, 0.9),
                "load1": start_load,
                "loaded": start_load > (os.cpu_count() or 1) / 4,
                "steal_p50": _pctl(steal_sorted, 0.5),
                "steal_max": _pctl(steal_sorted, 1.0),
            }
        )
    )


if __name__ == "__main__":
    main()
