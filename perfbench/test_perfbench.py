"""Self-tests of the benchmark's own pieces, on generated sf0.001 inputs.

Run from the repository root::

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import datagen  # noqa: E402
import run  # noqa: E402
from layers import StreamProgress, aggregate_progress  # noqa: E402
from spans import Tracer, self_time_by_name  # noqa: E402
from stats import slow_op_p90, summary_line, tail_percentile  # noqa: E402


def test_tail_percentile_has_ten_samples_beyond():
    assert tail_percentile([float(i) for i in range(10)]) is None
    assert tail_percentile([float(i) for i in range(11)]) == (0.0, 100.0 / 11, 10)
    value, level, beyond = tail_percentile([float(i) for i in range(1, 101)])
    assert (value, level, beyond) == (90.0, 90.0, 10)
    # ten samples are strictly above the reported value
    samples = [0.5] * 30 + [float(i) for i in range(1, 11)]
    value, _, _ = tail_percentile(samples)
    assert sum(1 for s in samples if s > value) == 10


def test_slow_op_p90_follows_the_slowest_ops_not_one_stray_call():
    by_op = {f"op{j}": [0.1 * (j + 1)] * 5 for j in range(8)}  # medians 0.1 .. 0.8
    base = slow_op_p90(by_op)
    assert base == pytest.approx(0.7 * 0.7 + 0.8 * 0.3)
    stray = {**by_op, "op0": [0.1] * 4 + [9.0]}
    assert slow_op_p90(stray) == pytest.approx(base)
    slower = {**by_op, "op7": [1.6] * 5}
    assert slow_op_p90(slower) == pytest.approx(0.7 * 0.7 + 1.6 * 0.3)
    assert slow_op_p90({"only": [0.2, 0.4, 0.3]}) == pytest.approx(0.3)


def test_self_time_subtracts_covered_child_time():
    t = Tracer()
    root = t.add("op", None, 0.0, 10.0)
    t.add("build", root, 1.0, 4.0)
    exe = t.add("exec", root, 3.0, 8.0)  # overlaps build by 1 s
    t.add("stream", exe, 5.0, 6.0)
    own = self_time_by_name(t.spans)
    assert own == {"op": 3.0, "build": 3.0, "exec": 4.0, "stream": 1.0}


def test_span_ends_when_its_body_raises():
    t = Tracer()
    with pytest.raises(ValueError):
        with t.span("op") as root:
            raise ValueError("boom")
    assert root.end >= root.start > 0


def _progress(run_id, batch, durations, rows, mem):
    ops = [SimpleNamespace(numRowsTotal=rows, memoryUsedBytes=mem)]
    return SimpleNamespace(progress=SimpleNamespace(
        runId=run_id, batchId=batch, timestamp="2024-01-01T00:00:00.000Z",
        durationMs=durations, stateOperators=ops))


def test_listener_aggregates_duration_ms():
    listener = StreamProgress()
    listener.onQueryProgress(_progress("a", 0, {"triggerExecution": 100, "addBatch": 70,
                                                "walCommit": 5}, 10, 1 << 20))
    listener.onQueryProgress(_progress("a", 1, {"triggerExecution": 50, "addBatch": 30,
                                                "queryPlanning": 4}, 25, 2 << 20))
    listener.onQueryProgress(_progress("b", 0, {"triggerExecution": 20}, 3, 0))
    events = listener.drain()
    assert listener.drain() == []
    agg = aggregate_progress(events)
    assert agg["stream.batches"] == 3
    assert agg["stream.trigger_ms"] == 170
    assert agg["stream.addBatch_ms"] == 100
    assert agg["stream.queryPlanning_ms"] == 4
    assert agg["stream.walCommit_ms"] == 5
    assert agg["stream.commitOffsets_ms"] == 0
    # state size: the largest batch per query run, summed over runs
    assert agg["stream.state_rows"] == 28
    assert agg["stream.state_mem_mb"] == 2.0


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_summary_line_parses_as_json():
    passes = [{"wall_s": 1.0 + i,
               "ops": [{"op": f"op{j}", "ok": True, "wall_s": 0.1 * (j + 1)} for j in range(6)]} for i in range(3)]
    metrics, notes = run.end_to_end(12.5, passes, attempted=24, failed=0, peak_rss_mb=900.0)
    assert set(metrics) == set(run.END_TO_END)
    line = summary_line(True, 24, 0, metrics)
    parsed = json.loads(line)
    assert set(parsed) == {"correct", "attempted", "failed", "metrics"}
    assert parsed["metrics"]["pass_wall_s"] == {"value": 2.0, "unit": "s"}
    # per-op medians 0.1 .. 0.6: p90 lies half way between the two slowest
    assert parsed["metrics"]["latency_tail_s"]["value"] == pytest.approx(0.55)
    # 18 samples: the >=10-beyond rule reaches only p44.4, printed beside it
    assert "p44.4 = 0.3 s" in notes["latency_tail_s"]
    assert "\n" not in line


# ---------------------------------------------------------------- on Spark


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from garmin_performance_analysis_spark.session import get_spark

    session = get_spark("perfbench-selftest")
    yield session
    session.stop()


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sf0.001"))
    datagen.write(out, seed=3, sf=0.001)
    return out


def test_datagen_is_seeded(tmp_path):
    a = datagen.tables(5, 0.001)
    b = datagen.tables(5, 0.001)
    c = datagen.tables(6, 0.001)
    assert a["lineitem"]["l_extendedprice"].equals(b["lineitem"]["l_extendedprice"])
    assert not a["lineitem"]["l_extendedprice"].equals(c["lineitem"]["l_extendedprice"])


def _boom(spark, sf_dir):
    raise ValueError("injected failure\nsecond line")


def test_error_rate_counts_an_injected_failure(spark, sf_dir):
    ops = {"small": lambda s, d: s.range(5), "boom": _boom, "other": lambda s, d: s.range(3)}
    bench = run.Bench(spark, sf_dir, ops, seed=1)
    bench.run_pass("warmup", 0)
    bench.keep_first_results(["small", "other"])
    bench.leaks.mark()
    passes = [bench.run_pass("timed", n) for n in (1, 2)]
    bench.check({}, con=None)
    assert bench.attempted == 3 + 6 + 3  # warm-up, two timed passes, check
    failed = [r for r in bench.records if not r["ok"]]
    assert {r["phase"] for r in failed} == {"warmup", "timed", "check"}
    assert all(r["op"] == "boom" for r in failed)
    assert failed[0]["error"] == "ValueError" and failed[0]["message"] == "injected failure"
    # one op failing does not stop the pass: the others completed
    assert all(sum(r["ok"] for r in p["ops"]) == 2 for p in passes)
    metrics, _ = run.end_to_end(1.0, passes, bench.attempted, bench.failed, 1.0)
    assert metrics["ok_rate"][0] == pytest.approx(1.0 - 4 / 12)


def test_leak_sweep_keeps_memoized_entry(spark, sf_dir):
    from garmin_performance_analysis_spark.harness.catalog import CATALOG

    def leaky(s, d):  # a new RDD each call, as the replays' localCheckpoint
        return s.range(100).localCheckpoint(eager=True)

    ops = {"v8b": CATALOG["v8b_pq_query_path"].fn, "leaky": leaky}
    bench = run.Bench(spark, sf_dir, ops, seed=2)
    bench.run_pass("warmup", 0)
    bench.leaks.mark()
    state = set(bench.leaks.session_state)
    for _ in range(2):
        assert bench.call("v8b", "timed", 1)["ok"]
        assert bench.call("leaky", "timed", 1)["leaked_rdds"] == 1
    jsc = spark.sparkContext._jsc
    assert set(jsc.getPersistentRDDs().keys()) == state
    assert bench.failed == 0
