"""Deterministic batch replay of the streaming windowed aggregation —
the harness that lets a CORRECTNESS row cover the Structured Streaming
surface (the same move ``harness/q_incremental.py`` makes for the
stateful registries).

``windowed_stats_replay`` runs the REAL streaming code path — file
source → ``withWatermark`` → tumbling-window agg → append-mode parquet
sink — over a fixed sequence of event batches.  Each batch is staged
as exactly one source file with strictly increasing mtimes, and ONE
``Trigger.AvailableNow`` run with ``maxFilesPerTrigger=1`` processes
them file-by-file in mtime order — one micro-batch per batch, the
event-time watermark carried across micro-batches by the engine
exactly as a checkpoint restore carries it across runs (probed: the
per-file micro-batch sequence is byte-identical to the historical
one-run-per-batch replay, while paying ONE query startup instead of
N+1).  The late-data semantics exercised are the production ones:

- micro-batch N's input is filtered against the watermark advanced by
  micro-batch N-1 (windows already finalized reject their late rows);
- late rows landing in still-open windows MERGE into the aggregate
  (including redelivered duplicates — streaming aggregation is
  at-least-once, not idempotent, and the replay asserts that honestly);
- append mode emits a window exactly once, when the watermark passes
  its end; the run's final no-data cleanup micro-batch flushes windows
  finalized by the last batch's watermark advance (the same flush the
  historical shape got from an explicit drain run).

Determinism: each batch is one parquet file processed as one
micro-batch (mtimes are set 1 s apart, so the source's modTime-ordered
listing has no ties), and watermark advances happen only BETWEEN
micro-batches, never inside one; the watermark itself is ms-floored
exactly as Spark tracks it, which the catalog oracle mirrors
(``q_incremental.i3``).  Windows whose end never falls behind the
final watermark remain un-emitted — the replay returns only finalized
windows, as a real stream would.

Scale shape: the aggregation state is O(open windows × keys), bounded
by the watermark; the shuffle is the window+key hash — identical to
the batch twin (A2/A4's rollups).  Nothing here collects to the
driver.

Every public replay here (windowed stats, stream-stream join, dedup,
session windows, the custom stateful operator, stream-static enrich)
runs through ONE private scaffold, ``_replay``: stage → size state
partitions → override confs → run → restore the confs in a
``finally``.  It is the single place that starts a streaming query,
so per-micro-batch progress (``StreamingQuery.lastProgress``) has one
call site.  The caller owns ``work_dir`` and its deletion
(``scratch.scratch_dir``).
"""

from __future__ import annotations

import functools
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import run_concurrently

# Target bytes of source data per state partition.  Matches the AQE
# advisory-partition order of magnitude: a replay over KB of events
# gets the 2-partition floor (state-store setup is the dominant fixed
# cost — every partition pays store open/commit/snapshot per
# micro-batch), while TB-scale input derives thousands of partitions.
_STATE_PARTITION_BYTES = 64 << 20

# Legacy single-watermark mode: late-event filtering and state
# eviction both use the current batch's watermark.  The Spark 3.4+
# default splits them (late filter = previous batch's watermark) to
# support CHAINED stateful operators; every replay here has exactly
# one, and the historical one-run-per-batch shape — where each run's
# data batch filters against the checkpoint-restored watermark —
# matches the single-watermark semantics.
_ALLOW_MULTIPLE_CONF = "spark.sql.streaming.statefulOperator.allowMultiple"


def _state_partitions(staged: str, session_default: int) -> int:
    """State partition count derived from the bytes actually staged
    for the stream (guide §2 — partitioning sized from input, not a
    constant).  Floor 2 keeps cross-partition state semantics
    exercised; cap at the session's shuffle parallelism so a replay
    never out-fans the session.  The replay harness stages sources on
    a local filesystem by construction, so a directory walk is exact.
    The count is pinned into the checkpoint at the first micro-batch;
    results are partitioning-invariant."""
    total = 0
    for dirpath, _, files in os.walk(staged):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                continue
    return max(2, min(session_default, total // _STATE_PARTITION_BYTES + 1))


def _stage_batches(batches: list[DataFrame], src: str) -> None:
    """Stage each batch as exactly ONE parquet file under ``src``,
    named ``batch_<i>.parquet`` with strictly increasing mtimes (1 s
    apart, ending at now), so a ``maxFilesPerTrigger=1`` file stream
    replays the batches in order, one micro-batch per batch (the file
    source lists unprocessed files in modTime order — probed with
    path order reversed against mtime order).

    The per-batch writes are independent single-task jobs, so they run
    concurrently (``session.run_concurrently``, guide §2.6 — overlap
    independent jobs); naming and mtimes are assigned after all writes
    land, keeping the replay order a pure function of batch index."""
    os.makedirs(src, exist_ok=True)
    tmp_dirs = [f"{src}_stage{i}" for i in range(len(batches))]

    run_concurrently(
        batches[0].sparkSession,
        *(
            functools.partial(b.coalesce(1).write.mode("overwrite").parquet, tmp)
            for b, tmp in zip(batches, tmp_dirs)
        ),
    )
    t0 = time.time() - len(batches)
    for i, tmp in enumerate(tmp_dirs):
        part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
        dst = os.path.join(src, f"batch_{i:05d}.parquet")
        os.replace(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp, ignore_errors=True)
        os.utime(dst, (t0 + i, t0 + i))


def _replay(
    spark: SparkSession,
    sides: list[list[DataFrame]],
    work_dir: str,
    build,
    *,
    per_batch: bool = False,
) -> DataFrame:
    """The one replay scaffold: stage every batch of every side in one
    ``_stage_batches`` call (the writes overlap), size the state
    partitions from the staged bytes, run the query, and restore every
    overridden conf in one ``finally``.  ``sides`` holds one batch list
    per stream source (equal lengths, one schema); ``build`` maps one
    file stream per side to the streaming DataFrame to sink.  Returns
    the sink read back under that frame's own schema, so the read runs
    no schema-inference job and a replay that emitted nothing still has
    its columns.

    Default mode: every batch is released into its side's source dir
    up-front and ONE ``Trigger.AvailableNow`` query with
    ``maxFilesPerTrigger=1`` runs them — one micro-batch per staged
    file per side (in mtime order) plus the run's trailing no-data
    cleanup micro-batch — in single-watermark mode.

    ``per_batch=True`` runs one AvailableNow query per batch over the
    shared checkpoint, releasing each batch just before its run, for
    the operators whose pinned semantics DEPEND on the no-data cleanup
    micro-batch running between batches: ``dropDuplicatesWithinWatermark``
    re-emits a key whose state the between-run cleanup evicted (an
    arrival inside one continuous run instead finds the
    expired-but-unevicted state and is dropped), and ``session_window``
    opens a separate session over an emitted-and-evicted one (an
    arrival inside one run merges into the still-live session).
    Probed: the single-run shape changes both.  These runs keep the
    session's watermark mode, as the historical per-run loop did."""
    staged = os.path.join(work_dir, "staged")
    out = os.path.join(work_dir, "out")
    chk = os.path.join(work_dir, "chk")
    schema = sides[0][0].schema
    n = len(sides[0])
    _stage_batches([b for side in sides for b in side], staged)
    srcs = [os.path.join(work_dir, f"src{j}") for j in range(len(sides))]
    for src in srcs:
        os.makedirs(src, exist_ok=True)

    def release(i: int) -> None:
        # staged file j*n+i is side j's batch i; the move keeps its mtime
        for j, src in enumerate(srcs):
            os.replace(
                os.path.join(staged, f"batch_{j * n + i:05d}.parquet"),
                os.path.join(src, f"batch_{i:05d}.parquet"),
            )

    def run() -> DataFrame:
        streams = [
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            for src in srcs
        ]
        stream = build(*streams)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return stream

    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    confs = {"spark.sql.shuffle.partitions": str(_state_partitions(staged, shuffle))}
    if not per_batch:
        # Single-watermark mode (every replay has exactly ONE stateful
        # operator): late events filter against the CURRENT batch's
        # watermark, exactly as a per-run restart filters against the
        # restored one.  The default two-watermark split (for chained
        # stateful operators) lags the late filter one micro-batch —
        # probed: a late row into a closed window merged instead of
        # dropping.
        confs[_ALLOW_MULTIPLE_CONF] = "false"
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        if per_batch:
            for i in range(n):
                release(i)
                stream = run()
        else:
            for i in range(n):
                release(i)
            stream = run()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    return spark.read.schema(stream.schema).parquet(out)


def windowed_stats_replay(
    spark: SparkSession,
    batches: list[DataFrame],
    work_dir: str,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    window_sec: int = 300,
    watermark_sec: int = 120,
) -> DataFrame:
    """Replay ``batches`` (in order) through the streaming windowed
    aggregation and return the parquet sink's contents — the finalized
    (window_start, key) aggregate rows, exactly as append mode emitted
    them.

    ``value_sum`` aggregates through DECIMAL(30,12) inside the stream
    (shuffle-order-independent, registry convention); ``value_avg`` is
    derived as sum/n at read-back so both engines share one formula.
    """
    sink = _replay(
        spark,
        [batches],
        work_dir,
        lambda stream: (
            stream.withWatermark(ts_col, f"{watermark_sec} seconds")
            .groupBy(
                F.window(F.col(ts_col), f"{window_sec} seconds").alias("win"),
                F.col(key_col).alias("key"),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(value_col).cast("decimal(30,12)")).alias("vsum"),
                F.min(value_col).alias("vmin"),
                F.max(value_col).alias("vmax"),
            )
        ),
    )
    return sink.select(
        F.col("win.start").alias("window_start"),
        F.col("key"),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("vsum").cast("double"), 6).alias("value_sum"),
        F.round(F.col("vsum").cast("double") / F.col("n"), 6).alias("value_avg"),
        F.col("vmin").alias("value_min"),
        F.col("vmax").alias("value_max"),
    )


def stream_join_replay(
    spark: SparkSession,
    left_batches: list[DataFrame],
    right_batches: list[DataFrame],
    work_dir: str,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    max_gap_sec: int = 600,
    watermark_sec: int = 120,
    join_type: str = "inner",
) -> DataFrame:
    """Deterministic replay of a STREAM-STREAM inner join — the
    attribution join (right events joined to the left event they
    follow within ``max_gap_sec``, same key), run through the real
    Structured Streaming path: two file sources → ``withWatermark`` on
    both → inner join with an event-time range condition → append
    parquet sink — all batch pairs staged up-front (one file per batch
    per side, mtime-ordered) and processed by ONE
    ``Trigger.AvailableNow`` run with ``maxFilesPerTrigger=1`` on both
    sources, one micro-batch per batch pair (both sources advance one
    file per micro-batch, so the pairing is the historical per-run
    pairing at a single query startup's cost).

    Semantics exercised (the ones a batch join cannot show):

    - a match is emitted when its LATER row arrives — and only if the
      earlier row is still in state;
    - state eviction: a left row is dropped from state once no future
      right row could reach it (``l.ts + max_gap < watermark``), a
      right row once ``r.ts < watermark`` — so late-arriving partners
      of evicted rows produce NO match (at-most-once loss, the honest
      cost of bounded state);
    - late INPUT rows behind the side's state watermark are discarded
      before they touch state;
    - redelivered duplicates that survive the late filter match again
      (at-least-once upstream duplicates its outputs).

    The watermark is the GLOBAL one (min over both inputs), ms-floored
    as Spark tracks it, and advances only between micro-batches (each
    batch is one file = one micro-batch).  Inner join emits nothing on
    the run's trailing no-data cleanup micro-batch.

    ``join_type="leftOuter"`` exercises the OUTER emission rules on
    top (probed empirically, mirrored by the i9 oracle; the
    ``AvailableNow`` run finishes with a cleanup micro-batch that
    applies the watermark the last data micro-batch advanced, so
    eviction emissions land in the same run and no explicit drain is
    needed):

    - a left state row evicted UNMATCHED emits once, null-padded, on
      the run where ``l_ts + max_gap`` falls STRICTLY below the global
      watermark (bound exactly AT the watermark holds — probed at the
      boundary);
    - a left row that ever emitted a match is consumed silently at
      eviction — matches and null-pads are mutually exclusive per
      state row;
    - redelivered duplicate left rows are independent state rows: each
      unmatched one null-pads once;
    - left rows still in state when the replay ends (bound at or above
      the final watermark) emit nothing — exactly as a live stream
      would hold them.

    Scale shape: state is bounded by watermark + gap on both sides;
    the shuffle is the join-key hash, identical to the batch twin
    (``operators/joins``' as-of family).  Left/right frames must share
    the schema (key, ts, payload...).

    Returns the sink contents: one row per emitted match with both
    sides' payloads.
    """

    def side(stream: DataFrame, prefix: str, key_alias: str) -> DataFrame:
        return stream.withWatermark(ts_col, f"{watermark_sec} seconds").select(
            F.col(key_col).alias(key_alias),
            F.col(ts_col).alias(f"{prefix}ts"),
            *[
                F.col(c).alias(f"{prefix}{c}")
                for c in stream.columns
                if c not in (key_col, ts_col)
            ],
        )

    def build(left: DataFrame, right: DataFrame) -> DataFrame:
        return side(left, "l_", "k").join(
            side(right, "r_", "r_k"),
            (F.col("k") == F.col("r_k"))
            & (F.col("r_ts") >= F.col("l_ts"))
            & (
                F.col("r_ts")
                <= F.col("l_ts") + F.expr(f"interval {max_gap_sec} seconds")
            ),
            join_type,
        ).drop("r_k")

    return _replay(spark, [left_batches, right_batches], work_dir, build)


def stream_dedup_replay(
    spark: SparkSession,
    batches: list[DataFrame],
    work_dir: str,
    *,
    ts_col: str = "ts",
    key_cols: list[str] | None = None,
    delay_sec: int = 120,
) -> DataFrame:
    """Replay ``batches`` through the REAL streaming watermarked dedup
    (``withWatermark`` → ``dropDuplicatesWithinWatermark``), one
    ``Trigger.AvailableNow`` run per batch over a shared checkpoint
    (``_replay(per_batch=True)`` — the between-run cleanup micro-batch is what
    evicts expired keys so a later redelivery RE-EMITS; one continuous
    run would drop it against the unevicted state), and return the
    sink's emitted KEY rows (multiplicity = emissions).

    Pinned semantics (probed empirically, mirrored by the i5 oracle —
    the same treatment ``stream_join_replay`` got in r6):

    - watermark after run N = ms-FLOORED max event time of its batch
      minus ``delay_sec``;
    - a later run's input row survives iff its event time is STRICTLY
      above the restored watermark (row exactly AT the watermark is
      dropped — probed at the boundary, incl. sub-ms event times vs
      the floored watermark);
    - a key's dedup state survives iff ``state_ts + delay`` is
      STRICTLY above the watermark (expiry exactly AT the watermark
      evicts — probed) — an evicted key's redelivery RE-EMITS, which
      is the documented contract (the horizon is the source's
      retention bound, not a correctness bug);
    - a key with live state drops every new arrival.

    Only key columns are returned: within one micro-batch the row kept
    for a new key is selection-order-arbitrary, so non-key payload
    columns are not deterministic — keys and emission multiplicity
    are.  Callers wanting payloads must make them functions of the key.
    """
    key_cols = key_cols or ["k"]
    return _replay(
        spark,
        [batches],
        work_dir,
        lambda stream: stream.withWatermark(
            ts_col, f"{delay_sec} seconds"
        ).dropDuplicatesWithinWatermark(key_cols),
        per_batch=True,
    ).select(*key_cols)


def stream_session_replay(
    spark: SparkSession,
    batches: list[DataFrame],
    work_dir: str,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    gap_sec: int = 1800,
    watermark_sec: int = 120,
) -> DataFrame:
    """Replay ``batches`` through the REAL streaming session-window
    aggregation (``session_window`` + ``withWatermark``, append mode),
    one ``Trigger.AvailableNow`` run per batch over a shared
    checkpoint (``_replay(per_batch=True)`` — the between-run cleanup micro-batch
    evicts emitted sessions so a late survivor opens a SEPARATE
    session; one continuous run would merge it into the still-live
    state), and return the emitted sessions.

    Pinned semantics (probed empirically at the exact boundaries, like
    ``stream_join_replay``/``stream_dedup_replay``):

    - a later run's input row survives iff its tentative session END
      (``ts + gap``) is STRICTLY above the restored watermark — a row
      whose end lands exactly AT the watermark is dropped, but a row
      older than the watermark itself survives while ``ts + gap``
      clears it (probed: ts ≤ wm, ts+gap > wm → kept and emitted);
    - surviving rows MERGE into open sessions (redelivered duplicates
      double-count — at-least-once, same honesty as the i3/i4 oracles);
    - a session is emitted (and evicted) when its end is ≤ the
      watermark, INCLUSIVE (end == wm emits), and each AvailableNow
      run self-drains via the no-data micro-batch — no explicit drain
      run needed;
    - an already-emitted session is GONE from state: a late survivor
      overlapping it opens a separate session (probed: overlapping
      emitted+new sessions both appear in the sink).
    """
    sink = _replay(
        spark,
        [batches],
        work_dir,
        lambda stream: (
            stream.withWatermark(ts_col, f"{watermark_sec} seconds")
            .groupBy(
                F.session_window(F.col(ts_col), f"{gap_sec} seconds").alias("sw"),
                F.col(key_col).alias("k"),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(value_col).cast("decimal(30,12)")).alias("vsum"),
            )
        ),
        per_batch=True,
    )
    return sink.select(
        F.col("sw.start").alias("window_start"),
        F.col("sw.end").alias("window_end"),
        F.col("k").alias(key_col),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("vsum").cast("double"), 6).alias("value_sum"),
    )


def stream_stateful_runs_replay(
    spark: SparkSession,
    batches: list[DataFrame],
    work_dir: str,
    *,
    key_col: str = "key",
    seq_col: str = "seq",
    max_gap: int = 2,
    min_span: int = 5,
) -> DataFrame:
    """Replay ``batches`` through the CUSTOM stateful operator
    (``streaming/stateful.sustained_runs_stateful`` —
    ``applyInPandasWithState``), one ``Trigger.AvailableNow`` run with
    one micro-batch per staged batch file (``_replay``), and
    return the emitted islands.

    Emission contract (follows directly from the operator, so the i8
    oracle can state it in SQL):

    - an island EMITS when a later arrival for its key sits more than
      ``max_gap`` past the island's end — including an arrival in a
      LATER batch: the open island's (start, last, rows) lives in the
      state store between runs, which is the whole point;
    - each key's FINAL island never closes and never emits (no
      timeout is armed: a pending processing-time timeout makes
      AvailableNow spin empty "state cleanup" micro-batches forever —
      see ``sustained_runs_stateful``'s docstring — and a real
      deployment flushes quiet keys with a timeout instead);
    - only islands spanning >= ``min_span`` sequence units emit;
      duplicate sequence values collapse (state counts distinct).

    Each batch lands as exactly one source file, so each micro-batch
    processes one deterministic batch; batches must be time-ordered
    (later batches strictly after earlier ones on the sequence axis),
    which the i8 harness guarantees by splitting on the time axis.
    """
    from .stateful import sustained_runs_stateful

    return _replay(
        spark,
        [batches],
        work_dir,
        lambda stream: sustained_runs_stateful(
            stream, key_col, seq_col, max_gap=max_gap, min_span=min_span
        ),
    )


def stream_static_enrich_replay(
    spark: SparkSession,
    batches: list[DataFrame],
    dim: DataFrame,
    work_dir: str,
    *,
    ts_col: str = "ts",
    join_col: str = "user_id",
    key_col: str = "tier",
    value_col: str = "value",
    window_sec: int = 300,
    watermark_sec: int = 120,
) -> DataFrame:
    """Replay ``batches`` through a STREAM-STATIC enrichment pipeline:
    file stream → watermark → INNER join against the static ``dim``
    (broadcast — the canonical streaming enrichment: no state, no
    watermark needed on the static side, unmatched stream rows drop)
    → tumbling windowed aggregate per enriched key → append-mode
    parquet sink, one ``Trigger.AvailableNow`` run with one
    micro-batch per staged batch file (``_replay``).

    Stream-static is its OWN Structured Streaming feature, distinct
    from the stream-stream joins (i4/i9): the static side is re-read
    per micro-batch (a snapshot join — at scale, a slowly-changing dim
    is re-broadcast per trigger, which is exactly the production
    behavior this replay pins), and because the join adds no state,
    the watermark/window finalization arithmetic is identical to the
    plain windowed aggregation — which is what makes the i3-style SQL
    oracle composable with a plain dim join.

    Aggregates mirror ``windowed_stats_replay`` (DECIMAL sums).
    """
    sink = _replay(
        spark,
        [batches],
        work_dir,
        lambda stream: (
            stream.withWatermark(ts_col, f"{watermark_sec} seconds")
            .join(F.broadcast(dim), join_col)
            .groupBy(
                F.window(F.col(ts_col), f"{window_sec} seconds").alias("win"),
                F.col(key_col).alias("key"),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(value_col).cast("decimal(30,12)")).alias("vsum"),
            )
        ),
    )
    return sink.select(
        F.col("win.start").alias("window_start"),
        F.col("key"),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("vsum").cast("double"), 6).alias("value_sum"),
    )
