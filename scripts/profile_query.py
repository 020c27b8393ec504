#!/usr/bin/env python
"""Per-stage wall profile of one catalog query (guide §1.1/§7).

Usage: python scripts/profile_query.py <name> [runs]

Runs the bench's warm-up (``bench.warm_up``), then the query's runs
inside one ``session.call_scope`` — the session state the bench times —
with the Spark event log enabled (UI stays off); then parses the log
into per-stage wall/task-time rows tagged by job group, so a composite
query's cost can be attributed to its internal passes
(candidate join vs CC rounds vs final window, checkpoint jobs, etc.).
Each run line says whether its call was built or served from a reused
plan (an eligible entry's third call on, ``harness/registry.py``).
Nothing here is used by the bench — it is a diagnosis tool only.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import warm_up  # noqa: E402
from garmin_performance_analysis_spark.harness.catalog import CATALOG  # noqa: E402
from garmin_performance_analysis_spark.harness.registry import serves_reused_plan  # noqa: E402
from garmin_performance_analysis_spark.session import call_scope, get_spark  # noqa: E402
from perfbench.run import force  # noqa: E402


def main() -> None:
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    name = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    log_dir = tempfile.mkdtemp(prefix="prof_evlog_")
    # the bench's session (get_spark) plus the event log, passed as
    # spark-submit confs so the session builder itself is unchanged
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir={log_dir}"
        " --conf spark.eventLog.compress=false "
        + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    )
    spark = get_spark("profile")
    warm_up(spark, sf_dir)
    with call_scope(spark):
        for i in range(runs):
            plan = "reused plan" if serves_reused_plan(spark, sf_dir, name) else "built"
            t0 = time.perf_counter()
            force(CATALOG[name].fn(spark, sf_dir))
            print(f"run {i}: {time.perf_counter() - t0:.2f}s ({plan})", flush=True)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    time.sleep(1)
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        path = path + ".inprogress"
    if not os.path.exists(path):
        # Spark 4 rolling event-log v2 writes a directory per app with
        # events_* part files inside; find it and read those
        v2 = os.path.join(log_dir, f"eventlog_v2_{app_id}")
        if os.path.isdir(v2):
            parts = sorted(
                os.path.join(v2, f)
                for f in os.listdir(v2)
                if f.startswith("events_")
            )
            if not parts:
                raise SystemExit(f"no events_* files in {v2}")
            path = parts
        else:
            raise SystemExit(f"no event log found under {log_dir}")
    if isinstance(path, str):
        path = [path]
    stages = []
    jobs = {}
    def lines():
        for p in path:
            with open(p) as fh:
                yield from fh

    for line in lines():
        try:
            ev = json.loads(line)
        except Exception:  # noqa: BLE001
            continue
        et = ev.get("Event")
        if et == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "desc": (ev.get("Properties") or {}).get(
                    "spark.job.description", ""
                ),
                "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
            }
        elif et == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sub = si.get("Submission Time")
            comp = si.get("Completion Time")
            if sub and comp:
                stages.append(
                    {
                        "id": si["Stage ID"],
                        "name": si["Stage Name"].split("\n")[0][:90],
                        "wall_ms": comp - sub,
                        "tasks": si.get("Number of Tasks"),
                    }
                )
    stage_to_job = {}
    for jid, j in jobs.items():
        for sid in j["stages"]:
            stage_to_job[sid] = jid
    stages.sort(key=lambda s: -s["wall_ms"])
    total = sum(s["wall_ms"] for s in stages)
    print(f"\n{len(stages)} stages, {len(jobs)} jobs, "
          f"sum stage wall {total/1000:.2f}s (overlapping)")
    for s in stages[:40]:
        print(f"{s['wall_ms']:7d}ms  {s['tasks']:4d}t  job{stage_to_job.get(s['id'], -1):<4} {s['name']}")


if __name__ == "__main__":
    main()
