#!/usr/bin/env python
"""Run every catalog query against its DuckDB oracle and report parity.

Usage: python scripts/check_parity.py [--strict] [--window N]
           [--stalest N] [sf_dir] [filter ...]
       python scripts/check_parity.py --staleness

Each filter selects the entries whose name contains it; several
filters run their union in one session, and a filter that matches no
entry is an error.  With no filter every selected entry runs.

--strict uses the driver-faithful comparator: dtype-sensitive cells
(int64 271 != float64 271.0) and full-precision floats — the mode that
would have caught the round-4 e7/d10/t8 oracle-typing failures.

--staleness reads CORRECTNESS_r*.json and prints, per catalog entry,
the latest round with a driver row (or "never"), grouped stalest-first —
the generated source of truth for each round's window (catalog.ORDER).

--stalest N sweeps the N entries with the OLDEST driver evidence that
are NOT in the current 50-entry window (the window re-proves itself
this round) — the per-round re-soak that caps evidence age when the
catalog outgrows the window (VERDICT r10 item 4).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from garmin_performance_analysis_spark.harness.catalog import CATALOG
from garmin_performance_analysis_spark.harness.compare import (
    compare_frames,
    duckdb_connection,
)
from garmin_performance_analysis_spark.session import call_scope, get_spark
from garmin_performance_analysis_spark.sources.tables import DEFAULT_SF_DIR


def _latest_driver_rounds() -> dict[str, int]:
    """name -> latest round with a PASSING driver row (rows+schema,
    hash too when present); errored rows do not count as coverage."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            data = json.load(f)
        for name, row in data.items():
            ok = (
                bool(row.get("rows_match"))
                and bool(row.get("schema_match"))
                and row.get("hash_match") is not False
            )
            if ok and rnd > latest.get(name, -1):
                latest[name] = rnd
    return latest


def staleness_report() -> int:
    """Per catalog entry: latest round with a driver correctness row.

    Groups entries stalest-first so a rotation pad can cite this output
    instead of hand-tracked history.
    """
    latest = _latest_driver_rounds()
    by_round: dict[int, list[str]] = {}
    for name in CATALOG:
        by_round.setdefault(latest.get(name, 0), []).append(name)
    for rnd in sorted(by_round):
        names = sorted(by_round[rnd])
        label = "never" if rnd == 0 else f"r{rnd}"
        print(f"{label} ({len(names)}):")
        for n in names:
            print(f"  {n}")
    orphans = sorted(set(latest) - set(CATALOG))
    if orphans:
        print(f"driver rows for names no longer in catalog ({len(orphans)}): {orphans}")
    return 0


def select(items: list, filters: list[str]) -> list:
    """The ``(name, spec)`` items whose name contains any filter (all
    items when there is none); raises ValueError on a filter that
    matches nothing."""
    unmatched = [f for f in filters if not any(f in n for n, _ in items)]
    if unmatched:
        raise ValueError(f"filters match no catalog entry: {unmatched}")
    return [(n, s) for n, s in items if not filters or any(f in n for f in filters)]


def main() -> int:
    parser = argparse.ArgumentParser(
        description="Compare catalog queries against their DuckDB oracles."
    )
    parser.add_argument("--strict", action="store_true")
    parser.add_argument("--staleness", action="store_true")
    parser.add_argument("--window", type=int, default=0, metavar="N")
    parser.add_argument("--stalest", type=int, default=0, metavar="N")
    parser.add_argument("sf_dir", nargs="?", default=DEFAULT_SF_DIR)
    parser.add_argument("filters", nargs="*")
    args = parser.parse_args()
    if args.staleness:
        return staleness_report()
    if not os.path.isdir(args.sf_dir):
        parser.error(f"sf_dir is not a directory: {args.sf_dir}")
    sf_dir = args.sf_dir
    items = list(CATALOG.items())
    if args.window:
        items = items[: args.window]
    elif args.stalest:
        latest = _latest_driver_rounds()
        in_window = set(list(CATALOG)[:50])
        candidates = sorted(
            (n for n in CATALOG if n not in in_window),
            key=lambda n: (latest.get(n, 0), n),
        )[: args.stalest]
        picked = set(candidates)
        items = [(n, s) for n, s in items if n in picked]
        print(f"re-soaking the {len(items)} stalest non-window entries: "
              f"{[n for n, _ in items]}")
    try:
        items = select(items, args.filters)
    except ValueError as exc:
        parser.error(str(exc))
    spark = get_spark("parity-check")
    con = duckdb_connection(sf_dir)
    failures = 0
    for name, spec in items:
        t0 = time.time()
        try:
            with call_scope(spark):
                spark_pdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if spec.oracle is None:
            print(f"skip  {name}: rows-only ({len(spark_pdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            oracle_pdf = con.sql(spec.oracle).df()
        except Exception as e:  # noqa: BLE001
            # A long-lived connection sporadically hits DuckDB "Out of
            # Memory" after ~200 oracle runs even with 124 GB free
            # (allocator accumulation — observed on t5/d3, always
            # passing on a fresh connection).  Retry ONCE fresh; a
            # real oracle error reproduces and still fails.
            try:
                con.close()
            except Exception:  # noqa: BLE001
                pass
            con = duckdb_connection(sf_dir)
            try:
                oracle_pdf = con.sql(spec.oracle).df()
                print(f"note  {name}: oracle retried on a fresh connection after: {e}")
            except Exception as e2:  # noqa: BLE001
                print(f"FAIL  {name}: oracle error: {e2}")
                failures += 1
                continue
        res = compare_frames(name, spark_pdf, oracle_pdf, strict=args.strict)
        status = "ok  " if res.ok else "FAIL"
        print(
            f"{status}  {name}: spark={res.spark_rows} oracle={res.oracle_rows}"
            f" ({time.time()-t0:.1f}s) {res.detail}"
        )
        if not res.ok:
            failures += 1
    print(f"\n{len(items)} of {len(CATALOG)} queries run, {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
