"""The repository benchmark: closed-loop catalog workloads on one Spark session.

Usage (from the repository root)::

    python3 perfbench/run.py --workload interactive_reads --seed 1 --seconds 12 --trace 0

One client drives catalog calls (``CATALOG[name].fn(spark, sf_dir)``
followed by a forced noop-sink write) in a closed loop: the next call is
sent only after the previous one completes.  Spark runs as
``local[nproc]``.  The seed generates the input tables (``datagen``) and
shuffles the op order within each pass; the engine sees only the calls.

A run has four phases:

1. set-up: session start, table resolution and ``WARMUP_PASSES``
   warm-up passes over every op of the workload (all counted in
   ``setup_s``);
2. a fixed number of timed passes, ``--seconds`` divided by the
   workload's nominal pass wall (at least three), so both sides of an
   A/B take the same number of samples;
3. a correctness pass outside every timer: each op once, its result
   compared with the entry's DuckDB oracle, or with its own result
   after warm-up when it has no oracle;
4. with ``--trace 1``, untraced and traced passes alternate in phase 2,
   and the per-layer counters come from the traced ones.

With ``--trace 0`` the end-to-end metrics are reported, with
``--trace 1`` the per-layer ones.  Every metric is printed by name with
its unit, the full per-op record and the spans go to
``.perfbench/reports/``, and the last stdout line is one compact JSON
object.  An op that raises, or whose output fails the check, is recorded
and the run continues.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time
import traceback
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "garmin_performance_analysis_spark"
READ_BUDGET_S = 0.3
# Spark generates and compiles new classes for every query, so the JVM's
# JIT compiler keeps a core busy long after the first call.  Measured on
# 4 vCPUs, pass by pass after set-up's session start and table
# resolution: reads 15.7, 6.0, 4.4, 3.0, 3.4, 3.1, 2.9 s, then about
# 2.4 s; write path 17.7, 6.3, 5.1, 4.6, 4.3 s, then about 4.4 s.  The
# slope stretches when the host is contended, as compilation then gets
# less CPU.  Three warm-up passes (the cold one and two warm) are what a
# run of about a minute affords: the first timed passes still run above
# the plateau, which is why every timing is a median.
WARMUP_PASSES = 3


# Scale factor of the generated inputs (lineitem = 60,000 rows): the
# largest at which a run of either workload, set-up and correctness pass
# included, fits in about a minute on 4 vCPUs.  One pass over the ops
# below, warm (median of three calls) and cold, at sf0.001 / sf0.01 /
# sf0.1: reads 1.9 / 2.0 / 6.2 s warm and 4.7 / 7.5 / 22.6 s cold;
# write path 3.6 / 4.2 / 4.7 s warm and 6.9 / 7.7 / 11.0 s cold.  The
# strata below were cut on the sf0.01 walls.
SF = 0.01

# Workload -> (ops, nominal wall of one warm pass in seconds on 4 vCPUs).
#
# Each op list is a cost-stratified sample of the workload's full list:
# the full list is ordered by warm wall at SF and cut into strata, and
# the lower-median op of each stratum is taken.  The sample's per-op
# walls then follow the full list's quantiles, so its median and slow
# tail stand for the whole list.  The number of strata is the most whose
# passes fit the run; the nominal pass walls are the plateaus above.
WORKLOADS = {
    # The read-tool path: per-call build work inside fn(), planning and
    # per-job scheduling dominate, execution does little.  A read-path
    # change (fewer jobs per read, session-scoped serving state) shows
    # here.  Three strata of ten over the thirty read-path entries of
    # the headline that are not batch jobs.  v8b and v10b are passed
    # over in the top stratum: their oracles require an approximate
    # index to return the exact top ten, which some seeds' tables break
    # (seed 714 at sf0.01: v10b misses three neighbours).
    "interactive_reads": ((
        "w12_ewma_halflife", "t3_sustained_islands", "d10_performance_trends",
    ), 2.4),
    # The write path on the same engine: a streaming replay with
    # micro-batches, checkpoint/WAL commits and a state store (i3), and
    # file sinks and sources (s8, s9).  A read-path change should leave
    # it unchanged; a change that trades commits for reads shows here.
    # A pass affords one replay: one stratum of the ten replays i1-i10,
    # and two of the five roundtrips (s8, s5 | s12, s9, c9).
    "ingest_replay": ((
        "i3_stream_window_replay", "s8_csv_roundtrip", "s9_schema_evolution",
    ), 4.4),
}

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "pass_wall_s": "s",
    "ok_rate": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.resolve_s": "s",
    "harness.build_s": "s",
    "harness.build_jobs": "count",
    "plan.plan_s": "s",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "cpu.jvm_s": "s",
    "cpu.pyworker_s": "s",
    "cpu.driver_s": "s",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "stream.batches": "count",
    "stream.trigger_ms": "ms",
    "stream.addBatch_ms": "ms",
    "stream.queryPlanning_ms": "ms",
    "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms",
    "stream.latestOffset_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_mem_mb": "MB",
    "io.write_mb": "MB",
    "io.read_mb": "MB",
    "harness.leaked_rdds": "count",
    "harness.reads_within_300ms": "count",
    "self.op_s": "s",
    "self.build_s": "s",
    "self.exec_s": "s",
    "self.stream_s": "s",
    "host.steal_pct": "%",
    "host.load1": "load",
    "trace.overhead_s": "s",
}


# ---------------------------------------------------------------- environment


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A sixteenth of physical RAM, at least 1 GB: the inputs are small
    and the machine may be shared, so the heap needs no more."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    return max(1024, ram_mb // 16)


def configure_env(work: str) -> dict[str, str]:
    """Host-sized, override-free environment for the engine and its JVM.

    Every ``SPARK_GRAFT_*`` knob other than the ones set here is unset,
    all scratch, temp and warehouse files land under ``work``, and the
    repository root is on ``PYTHONPATH`` so Python workers can import
    the package whatever their working directory.  The JVM heap starts
    at its full size, so the peak RSS does not depend on when the
    collector chose to grow it.
    """
    heap = f"{driver_memory_mb()}m"
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    for sub in ("scratch", "spark-local", "tmp", "duckdb"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_DRIVER_MEMORY": heap,
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_SCRATCH_DIR": os.path.join(work, "scratch"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options -Xms{heap} "
                                "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    }
    os.environ.update(env)
    os.chdir(work)
    return env


# ---------------------------------------------------------------- the client


def force(df) -> None:
    """Materialize the full plan without collecting rows to the driver."""
    df.write.mode("overwrite").format("noop").save()


def first_line(exc: BaseException) -> str:
    text = str(exc).strip()
    return text.splitlines()[0][:300] if text else ""


class Bench:
    """One closed-loop client over a Spark session and a set of ops.

    ``ops`` maps a name to a callable ``(spark, sf_dir) -> DataFrame``.
    Every call is recorded; a call that raises is recorded with its
    error class and first message line and counts as failed.
    """

    def __init__(self, spark, sf_dir: str, ops: dict, seed: int) -> None:
        from layers import LeakTracker

        self.spark = spark
        self.sf_dir = sf_dir
        self.ops = ops
        self.rng = random.Random(seed)
        self.leaks = LeakTracker(spark.sparkContext)
        self.records: list[dict] = []
        self.first_results: dict = {}
        self.probe = None  # a Probe while tracing

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(1 for r in self.records if not r["ok"])

    def order(self) -> list[str]:
        names = list(self.ops)
        self.rng.shuffle(names)
        return names

    def call(self, name: str, phase: str, pass_no: int, traced: bool = False) -> dict:
        rec = {"op": name, "phase": phase, "pass": pass_no, "ok": True}
        t0 = time.perf_counter()
        try:
            if traced:
                rec.update(self.probe.traced_call(name, self.ops[name], self.sf_dir, len(self.records)))
            else:
                force(self.ops[name](self.spark, self.sf_dir))
        except Exception as exc:  # noqa: BLE001 - one failing op must not end the run
            rec.update(ok=False, error=type(exc).__name__, message=first_line(exc))
        rec["wall_s"] = time.perf_counter() - t0
        rec["leaked_rdds"] = self.leaks.sweep()
        self.records.append(rec)
        return rec

    def run_pass(self, phase: str, pass_no: int, traced: bool = False) -> dict:
        """Each op once, in a seeded order."""
        t0 = time.perf_counter()
        recs = [self.call(name, phase, pass_no, traced) for name in self.order()]
        wall = time.perf_counter() - t0
        return {"phase": phase, "pass": pass_no, "traced": traced, "wall_s": wall, "ops": recs}

    def keep_first_results(self, names: list[str]) -> None:
        """Collect the first result of each op that has no oracle."""
        for name in names:
            try:
                self.first_results[name] = self.ops[name](self.spark, self.sf_dir).toPandas()
            except Exception as exc:  # noqa: BLE001
                self.records.append({"op": name, "phase": "reference", "pass": 0, "ok": False,
                                     "error": type(exc).__name__, "message": first_line(exc),
                                     "wall_s": 0.0, "leaked_rdds": self.leaks.sweep()})

    def check(self, oracles: dict, con) -> list[dict]:
        """Correctness pass: each op once, compared with its oracle SQL
        (or its first result).  A mismatch is a failed op."""
        from garmin_performance_analysis_spark.harness.compare import compare_frames

        out = []
        for name in self.order():
            rec = {"op": name, "phase": "check", "pass": 0, "ok": True}
            try:
                got = self.ops[name](self.spark, self.sf_dir).toPandas()
                sql = oracles.get(name)
                want = con.sql(sql).df() if sql else self.first_results[name]
                res = compare_frames(name, got, want)
                if not res.ok:
                    rec.update(ok=False, error="ResultMismatch", message=res.detail[:300])
                rec["rows"] = res.spark_rows
            except Exception as exc:  # noqa: BLE001
                rec.update(ok=False, error=type(exc).__name__, message=first_line(exc))
            rec["wall_s"] = 0.0
            rec["leaked_rdds"] = self.leaks.sweep()
            self.records.append(rec)
            out.append(rec)
        return out


class Probe:
    """Per-layer counters and spans around one traced catalog call."""

    def __init__(self, spark, tree, jvm, tracer) -> None:
        from layers import JobCounter, StreamProgress

        self.spark = spark
        self.tree = tree
        self.jvm = jvm
        self.tracer = tracer
        self.jobs = JobCounter(spark.sparkContext)
        self.listener = StreamProgress()
        spark.streams.addListener(self.listener)
        # perf_counter <-> epoch, to place streaming events on the span clock
        self.epoch_offset = time.time() - time.perf_counter()

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def traced_call(self, name: str, fn, sf_dir: str, seq: int) -> dict:
        """Call ``fn`` and force its frame under an ``op`` span with
        ``build``, ``plan``, ``exec`` and ``stream`` children; each
        counter is attached to the span where its work happened."""
        from layers import aggregate_progress, flush_listeners

        flush_listeners(self.spark)
        self.listener.drain()  # progress of untraced calls
        cpu0, gc0, io0 = self.tree.cpu(), self.jvm.gc_s(), self.tree.io_mb()
        build_group, exec_group = f"{name}/build@{seq}", f"{name}/exec@{seq}"
        try:
            with self.tracer.span("op", op=name, seq=seq) as root:
                self.jobs.enter(build_group)
                with self.tracer.span("build", root) as build:
                    df = fn(self.spark, sf_dir)
                with self.tracer.span("plan", root) as plan:
                    df._jdf.queryExecution().executedPlan()
                self.jobs.enter(exec_group)
                with self.tracer.span("exec", root) as ex:
                    force(df)
        finally:
            self.jobs.leave()

        flush_listeners(self.spark)
        events = self.listener.drain()
        for e in events:
            start = _epoch(e["timestamp"]) - self.epoch_offset
            end = start + e["duration_ms"].get("triggerExecution", 0) / 1000.0
            parent = build if start < build.end else ex
            self.tracer.add("stream", parent, start, end, batch_id=e["batch_id"], run_id=e["run_id"],
                            duration_ms=e["duration_ms"])
        build.attrs["jobs"] = self.jobs.counts(build_group)["jobs"]
        ex.attrs.update(self.jobs.counts(exec_group))
        cpu1, io1 = self.tree.cpu(), self.tree.io_mb()
        root.attrs.update({f"cpu_{k}_s": cpu1[k] - cpu0[k] for k in cpu1})
        root.attrs.update(gc_s=self.jvm.gc_s() - gc0, io_write_mb=io1["write"] - io0["write"],
                          io_read_mb=io1["read"] - io0["read"])
        out = {
            "harness.build_s": build.duration,
            "harness.build_jobs": build.attrs["jobs"],
            "plan.plan_s": plan.duration,
            "exec.exec_s": ex.duration,
            **{f"exec.{k}": ex.attrs[k] for k in ("jobs", "stages", "tasks", "failed_tasks")},
            **{f"cpu.{k}_s": root.attrs[f"cpu_{k}_s"] for k in ("jvm", "pyworker", "driver")},
            "jvm.gc_s": root.attrs["gc_s"],
            "io.write_mb": root.attrs["io_write_mb"],
            "io.read_mb": root.attrs["io_read_mb"],
            "span": root.id,
        }
        out.update(aggregate_progress(events))
        return out


def _epoch(stamp: str) -> float:
    """Seconds since the epoch of a progress timestamp (ISO-8601, UTC)."""
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


# ---------------------------------------------------------------- metrics


def end_to_end(setup_s: float, passes: list[dict], attempted: int, failed: int,
               peak_rss_mb: float) -> tuple[dict, dict]:
    """The end-to-end metrics ``name -> (value, unit)`` and their notes."""
    from stats import median, slow_op_p90, tail_percentile

    by_op: dict[str, list[float]] = {}
    for p in passes:
        for r in p["ops"]:
            if r["ok"]:
                by_op.setdefault(r["op"], []).append(r["wall_s"])
    lat = [w for v in by_op.values() for w in v]
    # The >=10-beyond percentile reaches p90 only from 100 samples, ten
    # times what a run of about a minute affords: it is printed beside
    # the metric, with its level, but not reported.
    rule = tail_percentile(lat)
    rule_note = (f">=10-beyond rule: p{rule[1]:.1f} = {rule[0]:.4g} s" if rule
                 else ">=10-beyond rule: no level, too few samples")
    error_rate = failed / max(1, attempted)
    values = {
        "setup_s": setup_s,
        "latency_p50_s": median(lat),
        "latency_tail_s": slow_op_p90(by_op),
        "pass_wall_s": median([p["wall_s"] for p in passes]),
        "ok_rate": 1.0 - error_rate,
        "peak_rss_mb": peak_rss_mb,
    }
    metrics = {k: (v, END_TO_END[k]) for k, v in values.items()}
    notes = {
        "latency_tail_s": (f"p90 of {len(by_op)} per-op medians over {len(passes)} passes; "
                           f"{len(lat)} samples, {rule_note}"),
        "latency_p50_s": f"{len(lat)} samples",
        "pass_wall_s": f"median of {len(passes)} passes",
        "ok_rate": f"error_rate {error_rate:.4f} ratio ({failed} of {attempted} ops failed)",
    }
    return metrics, notes


def per_layer(traced: list[dict], plain: list[dict], spans, once: dict) -> tuple[dict, dict]:
    """Per-layer metrics: per-pass totals over the traced passes (median
    over passes), plus the once-per-run layers in ``once``."""
    from spans import self_time_by_name
    from stats import median

    keys = [k for k in PER_LAYER if k not in once and not k.startswith("self.")]
    totals: dict[str, list[float]] = {k: [] for k in keys}
    for p in traced:
        for k in keys:
            totals[k].append(sum(float(r.get(k, 0.0)) for r in p["ops"]))
    # the read budget is judged on untraced calls: tracing adds planning
    within = [sum(1 for r in p["ops"] if r["ok"] and r["wall_s"] <= READ_BUDGET_S) for p in plain]
    totals["harness.reads_within_300ms"] = within
    totals["harness.leaked_rdds"] = [sum(r["leaked_rdds"] for r in p["ops"]) for p in traced]
    metrics = {k: (median(v), PER_LAYER[k]) for k, v in totals.items()}
    metrics.update({k: (v, PER_LAYER[k]) for k, v in once.items()})
    own = self_time_by_name(spans)
    for layer in ("op", "build", "exec", "stream"):
        metrics[f"self.{layer}_s"] = (own.get(layer, 0.0) / max(1, len(traced)), "s")
    base = len(plain[0]["ops"]) if plain else 0
    notes = {"harness.reads_within_300ms": f"of {base} ops per pass"}
    return {k: metrics[k] for k in PER_LAYER}, notes


# ---------------------------------------------------------------- the run


def pass_count(seconds: float, pass_s: float) -> int:
    """Timed passes that fill about ``seconds`` at the nominal pass wall.

    The count depends on the arguments only, never on how fast the
    passes run, so two commits measured with the same ``--seconds``
    take the same number of samples.
    """
    return max(3, round(seconds / pass_s))


def timed_passes(bench: Bench, passes: int, trace: bool) -> tuple[list[dict], list[dict]]:
    """``(untraced, traced)`` timed passes; traced runs alternate the two."""
    plain, traced = [], []
    for n in range(1, passes + 1):
        tr = trace and n % 2 == 0
        (traced if tr else plain).append(bench.run_pass("timed", n, traced=tr))
    return plain, traced


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each has ended."""
    from pyspark import SparkContext

    from layers import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while children and time.time() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    work = os.path.join(ROOT, ".perfbench", f"work-{workload}-{seed}-{os.getpid()}")
    reports = os.path.join(ROOT, ".perfbench", "reports")
    os.makedirs(reports, exist_ok=True)
    try:
        return _run(workload, seed, seconds, trace, work, reports)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _run(workload: str, seed: int, seconds: float, trace: bool, work: str, reports: str) -> int:
    import datagen
    import layers
    from spans import Tracer
    from stats import summary_line

    env = configure_env(work)
    sf_dir = os.path.join(work, "data")
    ops, pass_s = WORKLOADS[workload]
    passes = pass_count(seconds, pass_s)
    rows = datagen.write(sf_dir, seed, SF)
    load1 = os.getloadavg()[0]
    steal0 = layers.read_steal()

    t_setup = time.perf_counter()
    sys.path.insert(0, ROOT)
    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.harness.compare import duckdb_connection
    from garmin_performance_analysis_spark.session import get_spark
    from garmin_performance_analysis_spark.sources.tables import load_tables

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        load_tables(spark, sf_dir)
        resolve_s = time.perf_counter() - t0
        tree = layers.ProcessTree(spark.sparkContext._gateway.proc.pid)
        bench = Bench(spark, sf_dir, {n: CATALOG[n].fn for n in ops}, seed)
        jvm = layers.JvmMemory(spark.sparkContext._jvm)
        warm = [bench.run_pass("warmup", n) for n in range(WARMUP_PASSES)]
        bench.keep_first_results([n for n in ops if CATALOG[n].oracle is None])
        bench.leaks.mark()
        setup_s = time.perf_counter() - t_setup

        tracer = Tracer()
        if trace:
            bench.probe = Probe(spark, tree, jvm, tracer)
            jvm.reset_peak()
        plain, traced = timed_passes(bench, passes, trace)
        peak_rss = tree.peak_rss_mb()
        heap_peak = jvm.heap_peak_mb() if trace else 0.0
        if trace:
            bench.probe.close()
        steal = layers.steal_pct(steal0, layers.read_steal())

        con = duckdb_connection(sf_dir)
        con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb')}'")
        con.execute("SET memory_limit = '1GB'")
        t0 = time.perf_counter()
        try:
            checks = bench.check({n: CATALOG[n].oracle for n in ops}, con)
        finally:
            con.close()
        check_s = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t0

    if trace:
        from stats import median

        once = {
            "session.start_s": start_s,
            "sources.resolve_s": resolve_s,
            "jvm.heap_peak_mb": heap_peak,
            "host.steal_pct": steal,
            "host.load1": load1,
            "trace.overhead_s": median([p["wall_s"] for p in traced]) - median([p["wall_s"] for p in plain]),
        }
        metrics, notes = per_layer(traced, plain, tracer.spans, once)
    else:
        metrics, notes = end_to_end(setup_s, plain, bench.attempted, bench.failed,
                                    sum(peak_rss.values()))

    failures = [r for r in bench.records if not r["ok"]]
    report = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "sf": SF, "ops": list(ops), "rows": rows, "env": env,
        "host": {"cpus": host_cpus(), "load1": load1, "steal_pct": steal},
        "peak_rss_mb": peak_rss,
        "setup": {"setup_s": setup_s, "session.start_s": start_s, "sources.resolve_s": resolve_s,
                  "warmup_wall_s": [p["wall_s"] for p in warm], "check_s": check_s, "stop_s": stop_s},
        "metrics": {k: {"value": v, "unit": u, "note": notes.get(k, "")} for k, (v, u) in metrics.items()},
        "failures": failures,
        "passes": [{k: p[k] for k in ("phase", "pass", "traced", "wall_s")}
                   for p in [*warm, *plain, *traced]],
        "records": bench.records,
        "checks": checks,
        "spans": tracer.to_json(),
    }
    path = os.path.join(reports, f"{workload}-seed{seed}-trace{int(trace)}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)

    print(f"perfbench workload={workload} seed={seed} trace={int(trace)} sf={SF} "
          f"ops={len(ops)} passes={len(plain)}+{len(traced)} traced "
          f"client=1 closed-loop host_steal_pct={steal:.2f} host_load1={load1:.2f}")
    print("env " + " ".join(f"{k}={v}" for k, v in env.items() if k != "JAVA_TOOL_OPTIONS"))
    for f in failures:
        print(f"failed {f['op']} phase={f['phase']} {f['error']}: {f['message']}")
    for k, (v, u) in metrics.items():
        note = f"  ({notes[k]})" if k in notes else ""
        print(f"metric {k} {v:.6g} {u}{note}")
    print(f"report {os.path.relpath(path, ROOT)}")
    print(summary_line(not failures, bench.attempted, bench.failed, metrics))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="sets the number of timed passes (see pass_count)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a repository checkout",
              file=sys.stderr)
        return 2
    try:
        return run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:  # noqa: BLE001 - a broken run must not print a result
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
