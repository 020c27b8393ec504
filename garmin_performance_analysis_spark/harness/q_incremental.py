"""Batch-replay catalog entries for the incremental (stateful) dedup
registries — the only first-class components whose production shape
(persistent state across ingest runs) cannot be a single SQL statement.

Each entry drives the REAL incremental code path deterministically:
split ``documents`` into two ingest batches, replay them in order
against a throwaway registry, and return the final state (or the
second batch's findings) as rows.  The DuckDB oracle is the one-shot
batch equivalent over the union — exactly the equivalence the
incremental path promises ("N ingests converge to what a single global
run would compute").  Reference anchor for the catch-up ingest
semantics being replicated: ``mcp/database/db_reader.py:217-282``
(the reference's incremental activity catch-up).

The registry lives in a ``scratch.scratch_dir`` block, which deletes
the directory on exit even when the replay raises; results are
materialized with ``localCheckpoint`` inside the block, so the
returned DataFrame survives cleanup and repeated calls are
independent (fresh registry every call — deterministic by
construction, no cross-call state).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipelines import incremental
from ..scratch import scratch_dir
from ..session import run_concurrently
from ..sources.tables import load_table
from .q_pipeline import _BANDS, _NUM_HASHES, _minhash_sig_ctes
from .registry import r6 as _r6
from .registry import register

# Two rows sharing a brand-new key: exercises WITHIN-batch collapse to
# the minimum id (the corpus itself has no byte-identical pairs, so
# without these the within-batch rule would go untested by the oracle).
_SENTINEL_TEXT = "replay sentinel duplicate payload"
_SENTINEL_IDS = (9000001, 9000002)


@register(
    "i1_incremental_dedup_replay",
    oracle=f"""
SELECT md5(text) AS dedup_key,
       CAST(COALESCE(MIN(CASE WHEN doc_id % 2 = 0 THEN doc_id END),
                     MIN(doc_id)) AS BIGINT) AS keep_id
FROM documents GROUP BY md5(text)
UNION ALL
SELECT md5('{_SENTINEL_TEXT}') AS dedup_key,
       CAST({_SENTINEL_IDS[0]} AS BIGINT) AS keep_id
""",
    tags=("dedup", "incremental", "batch"),
)
def i1_incremental_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-ingest replay of the exact-dedup registry
    (``incremental.incremental_dedup``): batch 1 = even doc_ids;
    batch 2 = odd doc_ids + a RE-DELIVERY of the first even docs
    (at-least-once ingest) + two sentinel rows sharing one new key.
    The registry keeps each key's FIRST-SEEN doc — within a batch the
    minimum id, across batches the EARLIER BATCH wins — so the oracle
    states exactly that: min even id when the key has an even member
    (batch 1 saw it first), else min id overall.  A plain one-shot
    MIN(doc_id) is NOT equivalent: a later-batch doc with a smaller id
    must NOT displace the registered key (first caught at sf0.1, where
    two duplicate texts pair an odd id below the min even id — the r8
    sweep lesson; at smaller SFs the two expressions coincide).  A
    double-append (broken idempotency), a missed cross-run drop
    (redelivered evens re-registering), or a broken within-batch
    collapse (both sentinels landing) each change the row set and
    hash-mismatch.  Scale shape: the real code path — hash-prefix
    partition pruning on the registry read (prefix width
    size-adaptive, up to 256-way), left-anti join per batch,
    append-only writes."""
    docs = load_table(spark, sf_dir, "documents")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    redelivered = b1.orderBy(F.col("doc_id").asc()).limit(5)
    sentinels = spark.createDataFrame(
        [(i, _SENTINEL_TEXT) for i in _SENTINEL_IDS], "doc_id long, text string"
    )
    b2 = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
        .unionByName(redelivered.select("doc_id", "text"))
        .unionByName(sentinels)
    )
    with scratch_dir(prefix="i1_dedup_replay_") as reg_dir:
        key = incremental.exact_key_expr("text")
        # Stage batch 2's within-batch collapse CONCURRENTLY with
        # ingest 1 (guide §2.6: overlap independent jobs) — the
        # collapse touches only the batch, never the registry, so the
        # two ingests' REGISTRY steps stay strictly sequential while
        # batch 2's scan+md5+collapse back-fills executors idled by
        # ingest 1's commit/collect phases.
        staged_b2, _ = run_concurrently(
            spark,
            lambda: incremental.collapse_batch(b2, "doc_id", key),
            lambda: incremental.incremental_dedup(
                spark, b1.select("doc_id", "text"), reg_dir, "doc_id", key
            ),
        )
        incremental.incremental_dedup(
            spark, b2, reg_dir, "doc_id", key, staged=staged_b2
        )
        final = incremental.read_registry(spark, reg_dir).localCheckpoint(
            eager=True
        )
    return final.select("dedup_key", F.col("keep_id").cast("bigint").alias("keep_id"))


def _incremental_lsh_oracle() -> str:
    """d3's SQL minhash machinery, re-oriented for the incremental
    lookup: candidates are (old = even-id history doc, new = odd-id
    batch doc) band collisions, estimated Jaccard >= 0.5."""
    sig_ctes, matches = _minhash_sig_ctes()
    return f"""{sig_ctes}
cand AS (
  SELECT DISTINCT a.doc_id AS old_doc, b.doc_id AS new_doc
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.bh = b.bh
   AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
)
SELECT c.old_doc, c.new_doc, ROUND(({matches}) / 16.0, 6) AS est_jaccard
FROM cand c JOIN sig x ON c.old_doc = x.doc_id JOIN sig y ON c.new_doc = y.doc_id
WHERE ({matches}) / 16.0 >= 0.5
"""


@register(
    "i2_incremental_lsh_replay",
    oracle=_incremental_lsh_oracle(),
    tags=("dedup", "incremental", "batch"),
)
def i2_incremental_lsh_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-ingest replay of the LSH near-dup registry
    (``incremental.incremental_lsh_candidates``): batch 1 (even
    doc_ids) builds the band/signature stores; batch 2 (odd doc_ids)
    must surface exactly the (old even, new odd) near-dup pairs the
    one-shot d3 oracle predicts over the union — est_jaccard from the
    SAME md5 minhash scheme, so a band-prefix prune that drops a
    partition, a signature mismatch, or a broken history join all
    hash-mismatch.  Scale shape: the real code path — band-hash-prefix
    pruned index lookup (cost scales with the batch, not history),
    band equi-join, signature join for the estimate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    with scratch_dir(prefix="i2_lsh_replay_") as reg_dir:
        # Stage batch 2's minhash signatures CONCURRENTLY with ingest 1
        # (guide §2.6) — the signature pass touches only the batch,
        # never the band/sig stores, so the store mutations stay
        # strictly sequential while batch 2's shingle+minhash pass
        # back-fills executors idled by ingest 1's append commits.
        staged_b2, _ = run_concurrently(
            spark,
            lambda: incremental.stage_lsh_sigs(b2, "doc_id", "text", _NUM_HASHES, 3),
            lambda: incremental.incremental_lsh_candidates(
                spark, b1, reg_dir, "doc_id", "text",
                num_hashes=_NUM_HASHES, bands=_BANDS, n=3, threshold=0.5,
            ),
        )
        pairs = incremental.incremental_lsh_candidates(
            spark, b2, reg_dir, "doc_id", "text",
            num_hashes=_NUM_HASHES, bands=_BANDS, n=3, threshold=0.5,
            staged_sigs=staged_b2,
        ).localCheckpoint(eager=True)
    return pairs.select(
        "old_doc", "new_doc", _r6(F.col("est_jaccard")).alias("est_jaccard")
    )


_I3_WIN_US = 300_000_000       # 5-minute tumbling windows
_I3_WM_US = 120_000_000        # 2-minute watermark
_I3_LATE_US = 180_000_000      # redeliver the last 3 minutes of batch 1


def _i3_oracle() -> str:
    """Pure-SQL replay of the two-run watermark semantics: batch 1 =
    first half of event time; batch 2 = second half + a redelivery of
    batch 1's last 3 minutes.  Late rows whose WINDOW END is already
    behind the run-1 watermark are dropped; the rest merge (duplicates
    double-count — at-least-once).  Emitted = windows whose end is
    behind the final watermark.  Watermarks are ms-floored exactly as
    Spark tracks them."""
    return f"""
WITH e AS (
  SELECT epoch_us(ts) AS us, event_type, value FROM events
),
m AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM e),
b1 AS (SELECT e.* FROM e, m WHERE us <= mid),
b2 AS (
  SELECT e.* FROM e, m WHERE us > mid
  UNION ALL
  SELECT b1.* FROM b1, m WHERE us > mid - {_I3_LATE_US}
),
wm AS (
  SELECT ((SELECT MAX(us) FROM b1) // 1000 - {_I3_WM_US // 1000}) * 1000 AS wm1,
         ((SELECT MAX(us) FROM e) // 1000 - {_I3_WM_US // 1000}) * 1000 AS wm2
),
kept AS (
  SELECT * FROM b1
  UNION ALL
  SELECT b2.us, b2.event_type, b2.value FROM b2, wm
  WHERE ((us // {_I3_WIN_US}) + 1) * {_I3_WIN_US} > wm1
),
agg AS (
  SELECT (us // {_I3_WIN_US}) * {_I3_WIN_US} AS ws_us, event_type AS key,
         COUNT(*) AS n,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE), 6) AS value_sum,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*), 6)
           AS value_avg,
         MIN(value) AS value_min,
         MAX(value) AS value_max
  FROM kept GROUP BY 1, 2
)
SELECT make_timestamp(ws_us) AS window_start, key, CAST(n AS BIGINT) AS n,
       value_sum, value_avg, value_min, value_max
FROM agg, wm WHERE ws_us + {_I3_WIN_US} <= wm2
"""


@register(
    "i3_stream_window_replay",
    oracle=_i3_oracle(),
    tags=("streaming", "agg", "batch"),
)
def i3_stream_window_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-run replay of the STREAMING windowed aggregation
    (``streaming/replay.windowed_stats_replay``): real file source →
    ``withWatermark`` → 5-min tumbling window per event_type →
    append-mode parquet sink, one AvailableNow run per batch over a
    shared checkpoint.  Batch 1 = first half of event time; batch 2 =
    the rest plus a redelivered 3-minute tail of batch 1 (at-least-once
    upstream).  The oracle replays the watermark arithmetic in SQL:
    a window finalized by run 1 must reject its late rows, an open
    window must MERGE them (double-counting the redelivery), and only
    windows behind the final watermark may appear — so a watermark that
    fails to restore from the checkpoint, a drop rule applied to the
    wrong boundary, or a premature emission all hash-mismatch."""
    from ..streaming.replay import windowed_stats_replay

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    us = F.unix_micros(F.col("ts"))
    bounds = ev.agg(F.min(us).alias("tmin"), F.max(us).alias("tmax")).first()
    mid = (bounds["tmin"] + bounds["tmax"]) // 2
    b1 = ev.filter(us <= mid)
    b2 = ev.filter(us > mid).unionByName(
        b1.filter(us > mid - _I3_LATE_US)
    )
    with scratch_dir(prefix="i3_stream_replay_") as work:
        return windowed_stats_replay(
            spark, [b1, b2], work,
            ts_col="ts", key_col="event_type", value_col="value",
            window_sec=_I3_WIN_US // 1_000_000,
            watermark_sec=_I3_WM_US // 1_000_000,
        ).localCheckpoint(eager=True)


_I4_GAP_US = 1_800_000_000     # 30-minute attribution window
_I4_WM_US = 120_000_000        # 2-minute watermark

# The i4/i9 oracles' shared replay arithmetic: the two runs' surviving
# input bags per side (``lall``/``rall``) and their inner pair bag.
_I4_BAGS = f"""WITH e AS (SELECT epoch_us(ts) AS us, user_id, event_id FROM events),
m AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid,
             (MAX(us) - MIN(us)) // 4 AS tail FROM e),
b1l AS (SELECT e.* FROM e, m WHERE event_id % 2 = 0 AND us <= mid),
b1r AS (SELECT e.* FROM e, m WHERE event_id % 2 = 1 AND us <= mid),
wm AS (SELECT (LEAST((SELECT MAX(us) FROM b1l) // 1000,
                     (SELECT MAX(us) FROM b1r) // 1000)
               - {_I4_WM_US // 1000}) * 1000 AS wm1),
l2 AS (
  SELECT e.* FROM e, m WHERE event_id % 2 = 0 AND us > mid
  UNION ALL
  SELECT b1l.* FROM b1l, m WHERE us > mid - tail
),
r2 AS (
  SELECT e.* FROM e, m WHERE event_id % 2 = 1 AND us > mid
  UNION ALL
  SELECT b1r.* FROM b1r, m WHERE us > mid - tail
),
lall AS (SELECT * FROM b1l
         UNION ALL
         SELECT l2.us, l2.user_id, l2.event_id FROM l2, wm WHERE us > wm1),
rall AS (SELECT * FROM b1r
         UNION ALL
         SELECT r2.us, r2.user_id, r2.event_id FROM r2, wm WHERE us > wm1)"""
_I4_INNER = f"""SELECT l.user_id, l.event_id AS l_event_id, r.event_id AS r_event_id,
       r.us - l.us AS gap_us
FROM lall l JOIN rall r
  ON l.user_id = r.user_id
 AND r.us >= l.us AND r.us <= l.us + {_I4_GAP_US}"""


def _join_replay(
    spark: SparkSession, sf_dir: str, prefix: str, join_type: str
) -> DataFrame:
    """The i4/i9 two-run stream-stream join replay: even event_ids on
    the left, odd on the right; batch 1 = first half of event time,
    batch 2 = the rest plus a redelivered last quarter of batch 1 on
    both sides."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    us = F.unix_micros(F.col("ts"))
    bounds = ev.agg(F.min(us).alias("tmin"), F.max(us).alias("tmax")).first()
    mid = (bounds["tmin"] + bounds["tmax"]) // 2
    tail = (bounds["tmax"] - bounds["tmin"]) // 4
    evl = ev.filter(F.col("event_id") % 2 == 0)
    evr = ev.filter(F.col("event_id") % 2 == 1)
    b1l = evl.filter(us <= mid)
    b1r = evr.filter(us <= mid)
    b2l = evl.filter(us > mid).unionByName(b1l.filter(us > mid - tail))
    b2r = evr.filter(us > mid).unionByName(b1r.filter(us > mid - tail))
    with scratch_dir(prefix=prefix) as work:
        from ..streaming.replay import stream_join_replay

        out = stream_join_replay(
            spark, [b1l, b2l], [b1r, b2r], work,
            key_col="user_id", ts_col="ts",
            max_gap_sec=_I4_GAP_US // 1_000_000,
            watermark_sec=_I4_WM_US // 1_000_000,
            join_type=join_type,
        ).localCheckpoint(eager=True)
    return out.select(
        F.col("k").alias("user_id"),
        "l_event_id",
        "r_event_id",
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("gap_us"),
    )


def _i4_oracle() -> str:
    """Pure-SQL replay of the stream-stream inner join's watermark
    arithmetic (rules pinned empirically — see
    ``tests/test_streaming.py::test_stream_join_replay_watermark_semantics``):
    run 1 joins batch 1 of both sides freely; run 2 drops input rows at
    or below the run-1 global watermark (min over sides of ms-floored
    max event time minus delay) on EITHER side, and the state-retention
    bounds are exactly the reachability bounds, so the total emitted
    bag is the join over (batch1 ∪ surviving-batch2) per side."""
    return f"""
{_I4_BAGS}
{_I4_INNER}
"""


@register(
    "i4_stream_join_replay",
    oracle=_i4_oracle(),
    # batch, not read: a replay over 4 state stores x partitions x runs
    tags=("streaming", "join", "batch"),
)
def i4_stream_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-run replay of a STREAM-STREAM inner join
    (``streaming/replay.stream_join_replay``): even event_ids stream
    on the left, odd on the right, attribution condition = same user
    within 30 minutes after the left event; real file sources →
    ``withWatermark`` on both → range-condition join → append parquet
    sink over a shared checkpoint.  Batch 1 = first half of event
    time; batch 2 = the rest plus a redelivered LAST QUARTER of batch
    1 on both sides — most of that tail sits at or below the restored
    run-1 watermark and must be dropped on input (a wrong drop rule or
    a watermark that fails to restore changes the pair bag), while the
    survivors re-match and duplicate their pairs (at-least-once).  The
    oracle replays the pinned arithmetic in SQL; the unit pin test
    carries the per-rule probes at second granularity."""
    return _join_replay(spark, sf_dir, "i4_stream_join_", "inner")


_I5_DELAY_US = 120_000_000     # 2-minute dedup horizon


def _i5_oracle() -> str:
    """Pure-SQL replay of ``dropDuplicatesWithinWatermark``'s two-run
    watermark arithmetic (rules probed empirically — see
    ``streaming/replay.stream_dedup_replay``): run 1 emits every key
    of batch 1; run 2 drops input rows at or below the ms-floored
    run-1 watermark, evicts state whose ``ts + delay`` is at or below
    it, and emits each surviving key once iff it has no live state —
    so a redelivery inside the horizon is dropped and one past the
    horizon re-emits."""
    return f"""
WITH e AS (SELECT epoch_us(ts) AS us, user_id FROM events),
m AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid,
             (MAX(us) - MIN(us)) // 4 AS tail FROM e),
b1 AS (
  SELECT user_id, MIN(us) AS us FROM e, m WHERE us <= mid GROUP BY user_id, mid
),
b2 AS (
  SELECT user_id, MIN(us) AS us FROM e, m WHERE us > mid GROUP BY user_id, mid
  UNION ALL
  SELECT b1.user_id, b1.us FROM b1, m WHERE b1.us > m.mid - m.tail
),
wm AS (
  SELECT ((SELECT MAX(us) FROM b1) // 1000 - {_I5_DELAY_US // 1000}) * 1000
    AS wm1
),
live AS (
  SELECT b1.user_id FROM b1, wm WHERE b1.us + {_I5_DELAY_US} > wm.wm1
),
arrivals AS (
  SELECT DISTINCT b2.user_id FROM b2, wm WHERE b2.us > wm.wm1
)
SELECT user_id FROM b1
UNION ALL
SELECT user_id FROM arrivals
WHERE user_id NOT IN (SELECT user_id FROM live)
"""


@register(
    "i5_stream_dedup_replay",
    oracle=_i5_oracle(),
    tags=("streaming", "dedup", "batch"),
)
def i5_stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-run replay of the STREAMING watermarked dedup
    (``streaming/replay.stream_dedup_replay`` —
    ``dropDuplicatesWithinWatermark`` over a shared checkpoint, the
    bounded-state twin of batch d1): batch 1 carries one row per user
    (the user's first first-half event), batch 2 carries each user's
    first second-half event plus a REDELIVERY of every batch-1 row
    from the last quarter of the span (at-least-once upstream).  The
    oracle replays the pinned watermark arithmetic: a redelivery whose
    key still has live dedup state is dropped, a key whose state
    expired re-emits (the horizon contract), and late rows at or below
    the restored watermark never reach the operator — so a watermark
    that fails to restore, an eviction off by one ms, or a dropped
    within-horizon duplicate all change the emitted key multiset.
    Scale shape: state is O(keys inside the horizon), not corpus size;
    the shuffle is the dedup-key hash, checkpoint-pinned to 8 state
    partitions like i3/i4."""
    from ..streaming.replay import stream_dedup_replay

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    us = F.unix_micros(F.col("ts"))
    bounds = ev.agg(F.min(us).alias("tmin"), F.max(us).alias("tmax")).first()
    mid = (bounds["tmin"] + bounds["tmax"]) // 2
    tail = (bounds["tmax"] - bounds["tmin"]) // 4
    b1 = (
        ev.filter(us <= mid)
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts"))
    )
    b2 = (
        ev.filter(us > mid)
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts"))
        .unionByName(b1.filter(F.unix_micros(F.col("ts")) > mid - tail))
    )
    with scratch_dir(prefix="i5_stream_dedup_") as work:
        return stream_dedup_replay(
            spark, [b1, b2], work,
            ts_col="ts", key_cols=["user_id"],
            delay_sec=_I5_DELAY_US // 1_000_000,
        ).localCheckpoint(eager=True)


_I6_GAP_US = 1_800_000_000     # 30-minute session gap
_I6_WM_US = 120_000_000        # 2-minute watermark


def _i6_oracle() -> str:
    """Pure-SQL two-phase replay of the streaming session-window
    semantics (rules probed empirically at the boundaries — see
    ``streaming/replay.stream_session_replay``): phase 1 sessionizes
    batch 1 and emits sessions whose end (last_ts + gap) is at or
    below wm1; phase 2 re-sessionizes the UNEMITTED batch-1 rows plus
    the batch-2 rows whose tentative end strictly clears wm1, and
    emits at wm2.  Redelivered duplicates double-count; sessions merge
    when rows are strictly closer than the gap (touching windows do
    NOT merge — probed)."""
    gap = _I6_GAP_US
    sessionize = """
  SELECT k, us, value,
         CAST(SUM(CASE WHEN prev IS NULL OR us - prev >= {gap} THEN 1 ELSE 0 END)
           OVER (PARTITION BY k ORDER BY us, rid
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
  FROM (
    SELECT k, us, value, rid,
           LAG(us) OVER (PARTITION BY k ORDER BY us, rid) AS prev
    FROM {src})
"""
    return f"""
WITH e AS (
  SELECT user_id AS k, epoch_us(ts) AS us, value,
         row_number() OVER (ORDER BY user_id, ts, event_id) AS rid
  FROM events
),
m AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid,
             (MAX(us) - MIN(us)) // 4 AS tail FROM e),
b1 AS (SELECT e.* FROM e, m WHERE us <= mid),
b2 AS (
  SELECT e.* FROM e, m WHERE us > mid
  UNION ALL
  SELECT b1.* FROM b1, m WHERE us > mid - tail
),
wm AS (
  SELECT ((SELECT MAX(us) FROM b1) // 1000 - {_I6_WM_US // 1000}) * 1000 AS wm1,
         ((SELECT MAX(us) FROM e) // 1000 - {_I6_WM_US // 1000}) * 1000 AS wm2
),
rows1 AS ({sessionize.format(gap=gap, src="b1")}),
sess1 AS (
  SELECT k, seq, MIN(us) AS s_us, MAX(us) AS last_us,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(30,12))) AS vsum
  FROM rows1 GROUP BY k, seq
),
emitted1 AS (SELECT sess1.* FROM sess1, wm WHERE last_us + {gap} <= wm.wm1),
open_rows AS (
  SELECT r.k, r.us, r.value,
         row_number() OVER (ORDER BY r.k, r.us) AS rid
  FROM rows1 r
  LEFT JOIN emitted1 x ON r.k = x.k AND r.seq = x.seq
  WHERE x.k IS NULL
),
keep2 AS (
  SELECT b2.k, b2.us, b2.value,
         1000000 + row_number() OVER (ORDER BY b2.k, b2.us, b2.rid) AS rid
  FROM b2, wm WHERE b2.us + {gap} > wm.wm1
),
p2 AS (SELECT * FROM open_rows UNION ALL SELECT * FROM keep2),
rows2 AS ({sessionize.format(gap=gap, src="p2")}),
sess2 AS (
  SELECT k, seq, MIN(us) AS s_us, MAX(us) AS last_us,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(30,12))) AS vsum
  FROM rows2 GROUP BY k, seq
),
emitted2 AS (SELECT sess2.* FROM sess2, wm WHERE last_us + {gap} <= wm.wm2),
unioned AS (
  SELECT * FROM emitted1 UNION ALL SELECT * FROM emitted2
)
SELECT make_timestamp(s_us) AS window_start,
       make_timestamp(last_us + {gap}) AS window_end,
       k AS user_id, CAST(n AS BIGINT) AS n,
       ROUND(CAST(vsum AS DOUBLE), 6) AS value_sum
FROM unioned
"""


@register(
    "i6_stream_session_replay",
    oracle=_i6_oracle(),
    tags=("streaming", "window", "batch"),
)
def i6_stream_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-run replay of the STREAMING session-window aggregation
    (``streaming/replay.stream_session_replay`` — the stateful
    sessionizer whose batch twin is t9): batch 1 = first half of event
    time, batch 2 = the rest plus a redelivered last quarter of batch
    1.  The oracle replays the probed watermark arithmetic in two
    phases: run 1 emits sessions whose end clears wm1 (inclusive) and
    EVICTS them, run 2 re-sessionizes the open remainder plus the
    batch-2 rows whose tentative session end STRICTLY clears wm1
    (rows older than the watermark survive while ts+gap does),
    merging redeliveries into open sessions (double-count,
    at-least-once).  A wrong late-filter boundary, a session merged
    across a gap-width touch, an eviction that fails to split an
    overlapping late arrival into a new session, or a watermark that
    doesn't restore — all change the emitted session set."""
    from ..streaming.replay import stream_session_replay

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    us = F.unix_micros(F.col("ts"))
    bounds = ev.agg(F.min(us).alias("tmin"), F.max(us).alias("tmax")).first()
    mid = (bounds["tmin"] + bounds["tmax"]) // 2
    tail = (bounds["tmax"] - bounds["tmin"]) // 4
    b1 = ev.filter(us <= mid)
    b2 = ev.filter(us > mid).unionByName(b1.filter(us > mid - tail))
    with scratch_dir(prefix="i6_stream_session_") as work:
        return stream_session_replay(
            spark, [b1, b2], work,
            ts_col="ts", key_col="user_id", value_col="value",
            gap_sec=_I6_GAP_US // 1_000_000,
            watermark_sec=_I6_WM_US // 1_000_000,
        ).localCheckpoint(eager=True)


@register(
    "i7_cdc_versioned_replay",
    oracle="""
WITH ranked AS (
  SELECT user_id, value, ts, event_id,
         CASE WHEN event_id % 2 = 1 AND event_id % 10 = 1
              THEN 'delete' ELSE 'upsert' END AS op,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, value, ts AS version_ts,
       CAST(event_id AS BIGINT) AS version_event
FROM ranked WHERE rn = 1 AND op = 'upsert'
""",
    tags=("incremental", "cdc", "batch"),
)
def i7_cdc_versioned_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch replay of the VERSIONED CDC merge
    (``operators/joins.cdc_apply_versioned``): the base snapshot
    (latest even event per user, version-stamped) absorbs the odd-event
    change stream split into two time-ordered batches, where batch 2
    REDELIVERS only the UPSERTS from the last quarter of batch 1 —
    older, already-applied changes arriving out of order WITHOUT their
    accompanying deletes, so a user whose tail delete was applied in
    batch 1 sees only the stale upsert again in batch 2.  That is the
    CDC resurrection trap: the tombstone's retained version must reject
    it.  The oracle is the ONE-SHOT result (the per-user latest event
    overall, deletes absent), which the two-step replay only matches if
    incremental apply is batch-order-insensitive, deletes included.
    Each intermediate table round-trips through parquet like a real
    sync (i1/i2 convention), tombstones travelling with it.  Scale
    shape per batch: one window over the CHANGES + one full-outer key
    join — never a window over the base."""
    from ..operators.joins import cdc_apply_versioned
    from ..operators.windows import latest_per_key

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    base0 = latest_per_key(
        ev.filter(F.col("event_id") % 2 == 0),
        ["user_id"],
        [F.col("ts").desc(), F.col("event_id").desc()],
    ).select("user_id", "value", "ts", "event_id")
    odd = ev.filter(F.col("event_id") % 2 == 1).select(
        "user_id",
        "value",
        "ts",
        "event_id",
        F.when(F.col("event_id") % 10 == 1, "delete")
        .otherwise("upsert")
        .alias("op"),
    )
    bounds = odd.agg(F.min(us).alias("tmin"), F.max(us).alias("tmax")).first()
    mid = (bounds["tmin"] + bounds["tmax"]) // 2
    tail = (bounds["tmax"] - bounds["tmin"]) // 4
    c1 = odd.filter(us <= mid)
    c2 = odd.filter(us > mid).unionByName(
        c1.filter((us > mid - tail) & (F.col("op") == "upsert"))
    )
    with scratch_dir(prefix="i7_cdc_replay_") as work:
        s1 = cdc_apply_versioned(
            base0, c1, ["user_id"], "ts", "event_id", ["value"]
        )
        s1.write.mode("overwrite").parquet(os.path.join(work, "v1"))
        s1_back = spark.read.parquet(os.path.join(work, "v1"))
        final = (
            cdc_apply_versioned(
                s1_back, c2, ["user_id"], "ts", "event_id", ["value"]
            )
            .filter(~F.col("_deleted"))
            .drop("_deleted")
            .localCheckpoint(eager=True)
        )
    return final.select(
        "user_id",
        "value",
        F.col("ts").alias("version_ts"),
        F.col("event_id").cast("bigint").alias("version_event"),
    )


_I8_CUT = 40.0
_I8_MAX_GAP = 2
_I8_MIN_SPAN = 5


@register(
    "i8_stream_runs_replay",
    oracle=f"""
WITH flagged AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS seq
  FROM events WHERE value > {_I8_CUT}
),
ordered AS (
  SELECT user_id, seq,
         CASE WHEN LAG(seq) OVER w IS NULL
              OR seq - LAG(seq) OVER w > {_I8_MAX_GAP}
              THEN 1 ELSE 0 END AS brk
  FROM flagged
  WINDOW w AS (PARTITION BY user_id ORDER BY seq)
),
isl AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY seq
                           ROWS UNBOUNDED PRECEDING) AS island
  FROM ordered
),
agg AS (
  SELECT user_id, island,
         MIN(seq) AS island_start, MAX(seq) AS island_end,
         CAST(COUNT(*) AS BIGINT) AS island_rows
  FROM isl GROUP BY 1, 2
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY island_start DESC) AS rn
  FROM agg
)
SELECT CAST(user_id AS BIGINT) AS user_id, island_start, island_end,
       island_rows
FROM ranked
WHERE rn > 1 AND island_end - island_start + 1 >= {_I8_MIN_SPAN}
""",
    tags=("incremental", "streaming", "stateful", "batch"),
)
def i8_stream_runs_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch replay of the CUSTOM ``applyInPandasWithState``
    operator (``streaming/stateful.sustained_runs_stateful`` — T3's
    sustained-island filter with the open island living in the state
    store): flagged rows = active days with value > {cut} per user,
    sequence = epoch day; batch 2 is the later half of the timeline,
    so islands SPANNING the batch boundary only close correctly if the
    carried (start, last, rows) state survives the checkpoint
    round-trip.  The oracle is the batch gaps-and-islands statement of
    the emission contract: every closed island with span >=
    {{min_span}} days, EXCLUDING each user's final island (open
    forever without a timeout — the documented AvailableNow drain
    rule).  This is the catalog entry that drives the
    applyInPandasWithState surface end-to-end with a hash-checked
    oracle (i3/i5/i6 cover the BUILT-IN stateful operators; this one
    covers the custom state function)."""
    from ..streaming.replay import stream_stateful_runs_replay

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    flagged = ev.filter(F.col("value") > _I8_CUT).select(
        F.col("user_id").alias("key"),
        F.floor(us / 86_400_000_000).cast("long").alias("seq"),
        us.alias("_us"),
    )
    bounds = flagged.agg(
        F.min("_us").alias("tmin"), F.max("_us").alias("tmax")
    ).first()
    mid = (bounds["tmin"] + bounds["tmax"]) // 2
    b1 = flagged.filter(F.col("_us") <= mid).drop("_us")
    b2 = flagged.filter(F.col("_us") > mid).drop("_us")
    with scratch_dir(prefix="i8_stateful_runs_") as work:
        out = stream_stateful_runs_replay(
            spark,
            [b1, b2],
            work,
            key_col="key",
            seq_col="seq",
            max_gap=_I8_MAX_GAP,
            min_span=_I8_MIN_SPAN,
        ).localCheckpoint(eager=True)
    return out.select(
        F.col("key").cast("bigint").alias("user_id"),
        "island_start",
        "island_end",
        "island_rows",
    )


def _i9_oracle() -> str:
    """i4's pinned inner-bag arithmetic plus the OUTER emission rule
    (probed empirically at the boundary — see ``streaming/replay.
    stream_join_replay`` docstring and ``tests/test_streaming.py::
    test_stream_outer_join_null_pad_semantics``): a surviving left row
    null-pads iff it has no partner in the total bag AND its retention
    bound ``l.us + gap`` falls STRICTLY below the final global
    watermark; matched rows never null-pad; held rows never emit."""
    gap, wm = _I4_GAP_US, _I4_WM_US
    return f"""
{_I4_BAGS},
wm2 AS (
  SELECT (LEAST(GREATEST((SELECT MAX(us) FROM b1l),
                         (SELECT MAX(us) FROM l2)),
                GREATEST((SELECT MAX(us) FROM b1r),
                         (SELECT MAX(us) FROM r2))) // 1000
          - {wm // 1000}) * 1000 AS w2
)
{_I4_INNER}
UNION ALL
SELECT l.user_id, l.event_id AS l_event_id,
       CAST(NULL AS BIGINT) AS r_event_id, CAST(NULL AS BIGINT) AS gap_us
FROM lall l, wm2
WHERE l.us + {gap} < wm2.w2
  AND NOT EXISTS (
    SELECT 1 FROM rall r
    WHERE r.user_id = l.user_id
      AND r.us >= l.us AND r.us <= l.us + {gap}
  )
"""


@register(
    "i9_stream_outer_join_replay",
    oracle=_i9_oracle(),
    tags=("streaming", "join", "batch"),
)
def i9_stream_outer_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-run replay of a STREAM-STREAM **LEFT OUTER** join — i4's
    attribution scenario with the semantics only an outer stream join
    has: an unmatched left row must eventually emit null-padded, but
    only once the watermark PROVES no future partner can arrive
    (``l_ts + gap`` strictly below the global watermark — the state
    eviction point), and a row that ever matched is consumed silently.
    This is the hardest emission contract in the stream-join family —
    too early a null-pad fabricates a non-match that a late partner
    would contradict; the watermark is exactly what makes the negative
    answer safe to publish.  Null-pads land in the run whose own data
    advanced the watermark past the bound (``AvailableNow`` ends with
    a cleanup micro-batch — probed), so the two data runs need no
    drain.  Scale shape identical to i4: state bounded by
    watermark + gap both sides, join-key-hash shuffle.  The oracle is
    i4's pinned inner bag plus the null-pad set stated declaratively."""
    return _join_replay(spark, sf_dir, "i9_stream_outer_join_", "leftOuter")


def _i10_oracle() -> str:
    """i3's two-run watermark replay composed with a plain static-dim
    join: stream-static adds NO state, so the late-drop and
    finalization rules are identical — only the aggregation key comes
    from the joined dim, and rows without a dim match drop (inner).

    ONE pinned twist (probed empirically, see the entry docstring):
    because the dim is DEFINED by ``user_id % 3 = 0``, Catalyst infers
    that predicate onto the stream side of the inner join and pushes
    it BELOW the EventTimeWatermark node — so only predicate-passing
    rows advance the watermark.  Both run watermarks are therefore
    computed over the ``user_id % 3 = 0`` subset, not all arrivals."""
    return f"""
WITH e AS (
  SELECT epoch_us(ts) AS us, user_id, value FROM events
),
dim AS (
  SELECT DISTINCT user_id, 't' || CAST(user_id % 4 AS VARCHAR) AS tier
  FROM events WHERE user_id % 3 = 0
),
m AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM e),
b1 AS (SELECT e.* FROM e, m WHERE us <= mid),
b2 AS (
  SELECT e.* FROM e, m WHERE us > mid
  UNION ALL
  SELECT b1.* FROM b1, m WHERE us > mid - {_I3_LATE_US}
),
wm AS (
  SELECT ((SELECT MAX(us) FROM b1 WHERE user_id % 3 = 0) // 1000
          - {_I3_WM_US // 1000}) * 1000 AS wm1,
         ((SELECT MAX(us) FROM e WHERE user_id % 3 = 0) // 1000
          - {_I3_WM_US // 1000}) * 1000 AS wm2
),
kept AS (
  SELECT * FROM b1
  UNION ALL
  SELECT b2.us, b2.user_id, b2.value FROM b2, wm
  WHERE ((us // {_I3_WIN_US}) + 1) * {_I3_WIN_US} > wm1
),
agg AS (
  SELECT (us // {_I3_WIN_US}) * {_I3_WIN_US} AS ws_us, d.tier AS key,
         COUNT(*) AS n,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(30,12))) AS DOUBLE), 6)
           AS value_sum
  FROM kept JOIN dim d USING (user_id)
  GROUP BY 1, 2
)
SELECT make_timestamp(ws_us) AS window_start, key, CAST(n AS BIGINT) AS n,
       value_sum
FROM agg, wm WHERE ws_us + {_I3_WIN_US} <= wm2
"""


@register(
    "i10_stream_static_enrich_replay",
    oracle=_i10_oracle(),
    tags=("streaming", "join", "batch"),
)
def i10_stream_static_enrich_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-run replay of the STREAM-STATIC enrichment join
    (``streaming/replay.stream_static_enrich_replay``): file stream →
    watermark → broadcast INNER join against a static user→tier dim
    (only every third user is in the dim, so unmatched rows really
    drop) → 5-min tumbling window per tier → append sink.
    Stream-static is its own Structured Streaming feature — the
    static side is snapshot-joined per micro-batch with NO state and
    no watermark requirement — and because it adds no state, i3's
    empirically-pinned late-drop/finalization arithmetic composes
    with a plain SQL dim join, giving this entry a full hash oracle.
    Batch split mirrors i3 (first half / rest + 3-minute redelivery:
    at-least-once upstream double-counts in open windows, drops into
    finalized ones).

    ONE probed, pinned twist (query-progress evidence in
    ``tests/test_streaming.py::test_stream_static_inferred_filter_watermark``):
    the dim is DEFINED by ``user_id % 3 = 0``, so Catalyst's
    constraint propagation infers that predicate onto the STREAM side
    of the inner join and pushes it below the EventTimeWatermark
    node — only predicate-passing rows advance the watermark.  The
    oracle computes both run watermarks over that subset.  This is a
    real 100 TB operational gotcha worth pinning: derive your
    enrichment dim from a predicate and your watermark now stalls
    whenever the MATCHED traffic stalls, even while unmatched events
    pour in."""
    from ..streaming.replay import stream_static_enrich_replay

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    dim = (
        ev.filter(F.col("user_id") % 3 == 0)
        .select("user_id")
        .distinct()
        .withColumn(
            "tier", F.concat(F.lit("t"), (F.col("user_id") % 4).cast("string"))
        )
    )
    us = F.unix_micros(F.col("ts"))
    bounds = ev.agg(F.min(us).alias("tmin"), F.max(us).alias("tmax")).first()
    mid = (bounds["tmin"] + bounds["tmax"]) // 2
    b1 = ev.filter(us <= mid)
    b2 = ev.filter(us > mid).unionByName(b1.filter(us > mid - _I3_LATE_US))
    with scratch_dir(prefix="i10_stream_static_") as work:
        return stream_static_enrich_replay(
            spark, [b1, b2], dim, work,
            ts_col="ts", join_col="user_id", key_col="tier",
            value_col="value",
            window_sec=_I3_WIN_US // 1_000_000,
            watermark_sec=_I3_WM_US // 1_000_000,
        ).localCheckpoint(eager=True)
