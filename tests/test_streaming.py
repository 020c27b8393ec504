"""Structured Streaming coverage: Trigger.AvailableNow ingest (the
cron-sync execution model) and a watermarked windowed aggregation over
the events stream."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from garmin_performance_analysis_spark.streaming.ingest import available_now_ingest

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def test_available_now_drains_and_resumes(spark, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0), (2, "2024-01-01 00:01:00", 2.0)],
        "id long, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode("append").parquet(src)

    available_now_ingest(spark, src, SCHEMA, sink, ckpt)
    assert spark.read.parquet(sink).count() == 2

    # second batch lands; AvailableNow drains ONLY the new file
    spark.createDataFrame(
        [(3, "2024-01-01 00:02:00", 3.0)], "id long, ts string, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode("append").parquet(src)
    available_now_ingest(spark, src, SCHEMA, sink, ckpt)
    out = spark.read.parquet(sink)
    assert out.count() == 3
    assert out.select(F.countDistinct("id")).first()[0] == 3  # no re-ingest dupes


def test_watermarked_window_agg(spark, tmp_path):
    """Windowed count with a watermark over a bounded stream — the
    shape a live events feed would use (guide: readStream → watermark →
    window agg → memory sink)."""
    src = str(tmp_path / "wsrc")
    os.makedirs(src)
    rows = [(i, f"2024-01-01 00:{i:02d}:30", float(i)) for i in range(10)]
    spark.createDataFrame(rows, "id long, ts string, v double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.mode("append").parquet(src)

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    agg = (
        stream.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count("*").alias("n"), F.sum("v").alias("total"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    res = {
        r["window"]["start"].minute: (r["n"], r["total"])
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    assert res[0] == (5, 10.0)  # minutes 0-4
    assert res[5] == (5, 35.0)  # minutes 5-9


def test_watermarked_window_stats_library(spark, tmp_path):
    from garmin_performance_analysis_spark.streaming.stateful import (
        watermarked_window_stats,
    )

    src = str(tmp_path / "wstats_src")
    os.makedirs(src)
    rows = [(i, f"2024-01-01 00:{i:02d}:30", float(i)) for i in range(10)]
    spark.createDataFrame(rows, "id long, ts string, v double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    agg = watermarked_window_stats(stream, "ts", "v", window="5 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("wstats")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["win"]["start"].minute, r["n"], r["value_sum"])
        for r in spark.sql("select * from wstats").collect()
    }
    assert got == {(0, 5, 10.0), (5, 5, 35.0)}


def test_sustained_runs_stateful_across_microbatches(spark, tmp_path):
    """An island spanning two micro-batches must close as ONE run —
    the state store carries the open island between batches."""
    from garmin_performance_analysis_spark.streaming.stateful import (
        sustained_runs_stateful,
    )

    src = str(tmp_path / "runs_src")
    sink = str(tmp_path / "runs_sink")
    ckpt = str(tmp_path / "runs_ckpt")
    os.makedirs(src)
    schema = "key string, seq long"

    def drain():
        # parquet sink: memory sinks cannot recover a checkpoint, and
        # the cross-drain state store is exactly what this test covers
        stream = spark.readStream.schema(schema).parquet(src)
        out = sustained_runs_stateful(stream, "key", "seq", max_gap=2, min_span=3)
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def rows():
        return {
            (r["key"], r["island_start"], r["island_end"], r["island_rows"])
            for r in spark.read.parquet(sink).collect()
        }

    # batch 1: island a:[1..4] open; isolated a:[10] after gap closes it
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("a", 4), ("a", 10)], schema
    ).write.mode("append").parquet(src)
    drain()
    assert rows() == {("a", 1, 4, 4)}  # [1..4] closed by the gap to 10

    # batch 2: 11,12 extend the open island [10..] -> [10..12]; 20 closes it
    spark.createDataFrame([("a", 11), ("a", 12), ("a", 20)], schema).write.mode(
        "append"
    ).parquet(src)
    drain()
    assert ("a", 10, 12, 3) in rows()  # spanned the micro-batch boundary


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ]
)


def _write_doc_batch(spark, src, rows):
    spark.createDataFrame(rows, "doc_id long, ts string, text string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.mode("append").parquet(src)


def test_streaming_dedup_drops_redeliveries_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one copy of a re-delivered
    document even when the duplicate arrives in a LATER micro-batch —
    the state store carries the hash across drains."""
    from garmin_performance_analysis_spark.streaming.dedup import (
        streaming_exact_dedup,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    _write_doc_batch(
        spark,
        src,
        [
            (1, "2024-01-01 00:00:00", "alpha beta"),
            (2, "2024-01-01 00:00:30", "gamma delta"),
        ],
    )

    def drain():
        stream = spark.readStream.schema(DOC_SCHEMA).parquet(src)
        q = (
            streaming_exact_dedup(stream, "text", "ts", watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(sink).count() == 2

    # batch 2: one re-delivery of doc 1's text (inside the watermark
    # horizon) + one genuinely new doc
    _write_doc_batch(
        spark,
        src,
        [
            (3, "2024-01-01 00:01:00", "alpha beta"),
            (4, "2024-01-01 00:01:30", "epsilon zeta"),
        ],
    )
    drain()
    out = spark.read.parquet(sink)
    assert out.count() == 3  # re-delivery dropped, new doc kept
    kept_texts = sorted(r["text"] for r in out.collect())
    assert kept_texts == ["alpha beta", "epsilon zeta", "gamma delta"]


def test_streaming_sessionization_merges_and_closes(spark, tmp_path):
    """Events within the gap — even across micro-batches — merge into
    one session; a later event starts a new session and its advanced
    watermark finalizes the first."""
    from garmin_performance_analysis_spark.streaming.stateful import (
        sessionized_stats,
    )

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.DoubleType()),
        ]
    )

    def write(rows):
        spark.createDataFrame(rows, "user_id long, ts string, v double").withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).write.mode("append").parquet(src)

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            sessionized_stats(stream, "ts", "user_id", "v", gap="10 minutes")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: two events 5 min apart (same session, one key)
    write([(1, "2024-01-01 10:00:00", 1.0), (1, "2024-01-01 10:05:00", 2.0)])
    drain()
    # batch 2: event 3 min after the last (STILL same session), then a
    # far-future event that pushes the watermark past the session end
    write([(1, "2024-01-01 10:08:00", 4.0)])
    drain()
    write([(1, "2024-01-01 12:00:00", 8.0)])
    drain()
    out = spark.read.parquet(sink).collect()
    # the first session (3 events spanning two micro-batches) finalized
    sessions = {r["n_events"]: r for r in out}
    assert 3 in sessions
    assert sessions[3]["value_sum"] == 7.0


def test_streaming_shard_sink_drains_and_resumes(spark, tmp_path):
    from garmin_performance_analysis_spark.pipelines.shards import (
        read_webdataset_shards,
    )
    from garmin_performance_analysis_spark.streaming.shard_sink import (
        read_shard_manifest,
        streaming_shard_sink,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "shards")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    doc_schema = "doc_id long, payload string, lang string"

    def run_once():
        stream = spark.readStream.schema(doc_schema).parquet(src)
        q = streaming_shard_sink(
            stream, out, ckpt, "doc_id", "payload", ["doc_id", "lang"],
            shard_max_bytes=64,
        )
        q.awaitTermination()

    spark.createDataFrame(
        [(1, "alpha" * 10, "en"), (2, "beta" * 10, "en"), (3, "gamma" * 10, "ja")],
        doc_schema,
    ).write.mode("append").parquet(src)
    run_once()
    back = read_webdataset_shards(spark, out)
    assert {int(r["key"]) for r in back.collect()} == {1, 2, 3}

    # second file arrives; the resumed query shards ONLY the new rows
    spark.createDataFrame([(4, "delta" * 10, "en")], doc_schema).write.mode(
        "append"
    ).parquet(src)
    run_once()
    rows = read_webdataset_shards(spark, out).collect()
    assert {int(r["key"]) for r in rows} == {1, 2, 3, 4}
    assert len(rows) == 4  # replay-free: no duplicated samples

    manifest = read_shard_manifest(spark, out)
    # batch_id comes from partition discovery on the _manifest root (it
    # is NOT a data column — writing it both ways breaks root reads with
    # Spark's duplicate data/partition column error)
    assert "batch_id" in manifest.columns
    assert {int(r["batch_id"]) for r in manifest.select("batch_id").collect()} == {0, 1}
    m = manifest.agg(
        F.sum("n_samples").alias("n"), F.count("*").alias("shards")
    ).first()
    assert m["n"] == 4
    # 50-60 byte payloads vs a 64-byte budget: every shard is 1-2 docs
    assert m["shards"] >= 2
    # every manifest digest matches the tar actually on disk
    import hashlib

    for r in manifest.collect():
        blob = open(r["path"], "rb").read()
        assert hashlib.sha256(blob).hexdigest() == r["sha256"]


def test_windowed_stats_replay_merges_open_and_drops_closed(spark, tmp_path):
    """Constructed two-batch scenario pinning the watermark semantics
    the i3 catalog entry relies on: after batch 1 the watermark sits at
    00:28 (max 00:30 - 2min), so batch 2's late row into the CLOSED
    [00:00, 00:05) window is dropped, its late row into the still-OPEN
    [00:25, 00:30) window merges, and only windows behind the final
    watermark are emitted."""
    from garmin_performance_analysis_spark.streaming.replay import (
        windowed_stats_replay,
    )

    def ev(mmss, k, v):
        return (f"2024-01-01 00:{mmss}", k, float(v))

    b1 = spark.createDataFrame(
        [ev("01:00", "a", 1), ev("26:00", "a", 2), ev("30:00", "a", 3)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b2 = spark.createDataFrame(
        [
            ev("02:00", "a", 10),   # late into [00,05) — closed (wm=28) -> DROP
            ev("27:00", "a", 20),   # late into [25,30) — open -> MERGE
            ev("59:00", "a", 4),    # advances final watermark to 00:57
        ],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    out = windowed_stats_replay(
        spark, [b1, b2], str(tmp_path / "i3"),
        ts_col="ts", key_col="event_type", value_col="value",
        window_sec=300, watermark_sec=120,
    )
    rows = {r["window_start"].strftime("%M"): r for r in out.collect()}
    # [00,05): batch-1 row only (late 10 dropped); [25,30): 2 + merged 20
    assert rows["00"]["n"] == 1 and rows["00"]["value_sum"] == 1.0
    assert rows["25"]["n"] == 2 and rows["25"]["value_sum"] == 22.0
    # [30,35) emitted once the final watermark (00:57) passed it
    assert rows["30"]["n"] == 1
    # [55,60) holds the 00:59 row — final wm 00:57 has NOT passed its
    # end, so it must not be emitted
    assert "55" not in rows


def test_stream_join_replay_watermark_semantics(spark, tmp_path):
    """Pins the empirically-probed stream-stream inner-join rules the
    i4 oracle encodes: run-1 pairs all emit (no watermark yet); run-2
    INPUT rows at or below the run-1 global watermark (min over both
    sides of ms-floored max - delay) are dropped on EITHER side; state
    rows remain matchable exactly while a surviving partner could
    reach them (left: l_ts + gap > wm — 860 vs wm 900, gap 50 —
    verified by the (l5, rb) pair); redelivered duplicates that clear
    the watermark match again, duplicating pairs."""
    import datetime

    from garmin_performance_analysis_spark.streaming.replay import (
        stream_join_replay,
    )

    t0 = datetime.datetime(2024, 1, 1)

    def df(rows):
        return spark.createDataFrame(
            [(1, t0 + datetime.timedelta(seconds=s), tag) for s, tag in rows],
            "user_id long, ts timestamp, tag string",
        )

    # watermark 100 s, gap 50 s -> wm after run 1 = 1000 - 100 = 900
    b1_l = df([(0, "l1"), (500, "l2"), (860, "l5"), (940, "l3"),
               (1000, "l4")])
    b1_r = df([(30, "r1"), (960, "r2"), (1000, "r3")])
    b2_l = df([(870, "la"),    # 870 <= 900: late input, dropped
               (920, "lb"), (1100, "lf")])
    b2_r = df([(880, "rd"),    # 880 <= 900: late input, dropped
               (905, "rb"), (930, "rc"),
               (960, "r2dup"),  # redelivery above wm: matches AGAIN
               (1120, "rf")])
    out = stream_join_replay(
        spark, [b1_l, b2_l], [b1_r, b2_r], str(tmp_path / "i4"),
        key_col="user_id", ts_col="ts", max_gap_sec=50, watermark_sec=100,
    )
    pairs = sorted((r["l_tag"], r["r_tag"]) for r in out.collect())
    assert pairs == [
        ("l1", "r1"),                        # run 1
        ("l3", "r2"), ("l3", "r2dup"),       # run 1 + redelivered dup
        ("l4", "r3"),                        # run 1
        ("l5", "rb"),                        # b1 state x new input
        ("lb", "r2"), ("lb", "r2dup"),       # new x state, new x new
        ("lb", "rc"), ("lf", "rf"),          # new x new
    ]


def test_stream_outer_join_null_pad_semantics(spark, tmp_path):
    """Pins the empirically-probed LEFT OUTER emission rules the i9
    oracle encodes (watermark 10 s, gap 20 s — wm after run 2 =
    min(70, 60) - 10 = 50): an unmatched left row null-pads exactly
    when its bound ``l_ts + gap`` is STRICTLY below the watermark (LB
    at bound 25 emits; LC at bound 50 == wm holds); duplicates
    null-pad independently; a matched row is consumed silently at
    eviction (LA, bound 20 < 50, matched in run 1 — no null-pad);
    late left input at or below the restored watermark is dropped and
    never null-pads (LE); rows whose bound is at or above the final
    watermark emit nothing (LC, LD)."""
    import datetime

    from garmin_performance_analysis_spark.streaming.replay import (
        stream_join_replay,
    )

    t0 = datetime.datetime(2024, 1, 1)

    def df(rows):
        return spark.createDataFrame(
            [
                (k, t0 + datetime.timedelta(seconds=s), tag)
                for k, s, tag in rows
            ],
            "user_id long, ts timestamp, tag string",
        )

    b1_l = df([(1, 0, "LA"), (2, 5, "LB1"), (2, 5, "LB2"), (3, 30, "LC")])
    b1_r = df([(1, 10, "RA")])
    b2_l = df([(4, 70, "LD"),
               (5, 0, "LE")])   # 0 <= wm1 (0): late input, dropped
    b2_r = df([(9, 60, "RY")])
    out = stream_join_replay(
        spark, [b1_l, b2_l], [b1_r, b2_r], str(tmp_path / "i9"),
        key_col="user_id", ts_col="ts", max_gap_sec=20, watermark_sec=10,
        join_type="leftOuter",
    )
    rows = sorted((r["l_tag"], r["r_tag"]) for r in out.collect())
    assert rows == [("LA", "RA"), ("LB1", None), ("LB2", None)]


def test_stream_dedup_replay_watermark_semantics(spark, tmp_path):
    """Pins the dropDuplicatesWithinWatermark boundary rules the i5
    oracle encodes, at the exact boundaries (probed, then frozen
    here): with delay 60 s and batch-1 max event time 1000 s the
    restored watermark is 940 s —

    - a key whose state expires EXACTLY at the watermark (ts 880 s:
      880+60 = 940 ≤ 940) is evicted, so its redelivery RE-EMITS;
    - a key expiring 1 s later (ts 881 s) still has live state, so
      its redelivery is dropped;
    - a new key arriving exactly AT the watermark (940.000 s) is
      dropped as late; just above (940.0005 s, sub-ms vs the FLOORED
      watermark) is kept.
    """
    from datetime import datetime, timedelta

    from garmin_performance_analysis_spark.streaming.replay import (
        stream_dedup_replay,
    )

    t0 = datetime(2024, 1, 1)

    def T(sec, micro=0):
        return t0 + timedelta(seconds=sec, microseconds=micro)

    b1 = spark.createDataFrame(
        [(T(880), "expires_at_wm"), (T(881), "expires_after_wm"),
         (T(1000), "max_setter")],
        "ts timestamp, k string",
    )
    b2 = spark.createDataFrame(
        [(T(941), "expires_at_wm"),     # evicted -> re-emits
         (T(941), "expires_after_wm"),  # live state -> dropped
         (T(940), "late_at_wm"),        # ts == wm -> dropped
         (T(940, 500), "just_above_wm")],  # ts > floored wm -> kept
        "ts timestamp, k string",
    )
    out = stream_dedup_replay(
        spark, [b1, b2], str(tmp_path / "i5t"),
        ts_col="ts", key_cols=["k"], delay_sec=60,
    )
    got = sorted(r["k"] for r in out.collect())
    assert got == sorted(
        ["expires_at_wm", "expires_after_wm", "max_setter",  # run 1
         "expires_at_wm", "just_above_wm"]                   # run 2
    )


def test_stream_session_replay_watermark_semantics(spark, tmp_path):
    """Pins the session-window boundary rules the i6 oracle encodes
    (probed, then frozen): gap 50 s, delay 60 s, batch-1 max event
    time 1000 s → restored watermark 940 s —

    - run 1 SELF-DRAINS: a session ending exactly AT the watermark
      (rows @890 → end 940 ≤ 940) is emitted by run 1's no-data batch;
    - a batch-2 row whose tentative end lands exactly AT the watermark
      (@890 → 940) is dropped; STRICTLY above (@900 → 950) is kept
      even though the row itself is older than the watermark;
    - a kept late row overlapping an ALREADY-EMITTED session opens a
      separate (overlapping) session — evicted state never merges;
    - redeliveries merge into open sessions and double-count.
    """
    from datetime import datetime, timedelta

    from garmin_performance_analysis_spark.streaming.replay import (
        stream_session_replay,
    )

    t0 = datetime(2024, 1, 1)
    T = lambda s: t0 + timedelta(seconds=s)  # noqa: E731
    b1 = spark.createDataFrame(
        [("E", T(880), 1.0), ("D", T(935), 1.0), ("MAX", T(1000), 1.0)],
        "user_id string, ts timestamp, value double",
    )
    b2 = spark.createDataFrame(
        [
            ("E", T(900), 1.0),    # overlaps emitted [880,930): new session
            ("FB", T(890), 1.0),   # end == wm (940): dropped
            ("D", T(935), 1.0),    # redelivery into open session: merges
            ("D", T(960), 1.0),    # extension
            ("Z", T(2000), 1.0),   # wm advancer -> wm2 = 1940
        ],
        "user_id string, ts timestamp, value double",
    )
    out = stream_session_replay(
        spark, [b1, b2], str(tmp_path / "i6t"),
        ts_col="ts", key_col="user_id", value_col="value",
        gap_sec=50, watermark_sec=60,
    )
    got = sorted(
        (r["user_id"], r["window_start"], r["window_end"], r["n"], r["value_sum"])
        for r in out.collect()
    )
    assert got == sorted(
        [
            ("E", T(880), T(930), 1, 1.0),   # emitted by run 1
            ("E", T(900), T(950), 1, 1.0),   # separate overlapping session
            ("D", T(935), T(1010), 3, 3.0),  # merged + double-counted
            ("MAX", T(1000), T(1050), 1, 1.0),
        ]
    )
    # FB absent: its tentative end hit the watermark exactly
    assert not any(k == "FB" for k, *_ in got)


def test_stream_static_inferred_filter_watermark(spark, tmp_path):
    """Pins the i10 oracle's one twist: when the static dim is DEFINED
    by a predicate (user_id % 3 = 0 here, reduced to user_id = 3),
    Catalyst infers that predicate onto the stream side of the inner
    join and pushes it below the EventTimeWatermark node, so ONLY
    predicate-passing rows advance the watermark.  Scenario: a matched
    event at t=1000 and an unmatched event at t=5000 arrive; if
    unmatched rows advanced the watermark, window [900,1200) would
    finalize (wm 4880); under the inferred-filter semantics the
    watermark stays at 880 and the window is held."""
    import os

    from pyspark.sql import functions as F

    from garmin_performance_analysis_spark.streaming.replay import (
        stream_static_enrich_replay,
    )

    def df(rows):
        return spark.createDataFrame(
            rows, "sec long, user_id long, value double"
        ).select(F.timestamp_seconds("sec").alias("ts"), "user_id", "value")

    base = spark.createDataFrame(
        [(3, "a"), (7, "b"), (11, "c")], "user_id long, tier string"
    )
    # dim DEFINED by a predicate -> constraint inference kicks in
    dim = base.filter(F.col("user_id") == 3)
    b1 = df([(100, 3, 1.0), (400, 3, 2.0)])
    b2 = df([(1000, 3, 4.0), (5000, 7, 5.0)])
    work = str(tmp_path / "i10probe")
    os.makedirs(work)
    out = stream_static_enrich_replay(
        spark, [b1, b2], dim, work,
        window_sec=300, watermark_sec=120,
    )
    starts = sorted(r["window_start"].strftime("%H:%M:%S") for r in out.collect())
    # windows [0,300) and [300,600) finalized by the MATCHED event at
    # t=1000 (wm 880); [900,1200) held because the unmatched t=5000
    # row never advances the watermark under the inferred filter
    assert starts == ["00:00:00", "00:05:00"], starts


def _capture_read_backs(monkeypatch):
    """Record every ``_replay`` result with its sink directory."""
    from garmin_performance_analysis_spark.streaming import replay

    captured = []
    real = replay._replay

    def spy(spark, sides, work_dir, build, **kw):
        df = real(spark, sides, work_dir, build, **kw)
        captured.append((df, os.path.join(work_dir, "out")))
        return df

    monkeypatch.setattr(replay, "_replay", spy)
    return captured


def _names_and_types(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


def test_replay_read_back_has_the_sinks_schema(spark, tmp_path, monkeypatch):
    """Every public replay reads its sink back under the streaming
    frame's own schema (no inference job); the column names and types
    must equal a plain ``spark.read.parquet`` of that sink."""
    import datetime

    from garmin_performance_analysis_spark.streaming import replay

    captured = _capture_read_backs(monkeypatch)
    t0 = datetime.datetime(2024, 1, 1)

    def ev(rows):
        return spark.createDataFrame(
            [(u, t0 + datetime.timedelta(seconds=s), k, float(v)) for u, s, k, v in rows],
            "user_id long, ts timestamp, event_type string, value double",
        )

    b1 = ev([(3, 60, "a", 1.0), (7, 400, "b", 2.0), (3, 1000, "a", 3.0)])
    b2 = ev([(3, 1500, "a", 4.0), (7, 4000, "b", 5.0)])
    dim = spark.createDataFrame([(3, "x"), (7, "y")], "user_id long, tier string")
    runs = lambda rows: spark.createDataFrame(rows, "key string, seq long")  # noqa: E731
    work = lambda name: str(tmp_path / name)  # noqa: E731
    outputs = {
        "windowed_stats": replay.windowed_stats_replay(
            spark, [b1, b2], work("w"), key_col="event_type"
        ),
        "join": replay.stream_join_replay(
            spark, [b1, b2], [b1, b2], work("j"), max_gap_sec=600
        ),
        "dedup": replay.stream_dedup_replay(
            spark, [b1, b2], work("d"), key_cols=["user_id"]
        ),
        "session": replay.stream_session_replay(spark, [b1, b2], work("s")),
        "stateful_runs": replay.stream_stateful_runs_replay(
            spark,
            [runs([("k", s) for s in range(0, 6)]), runs([("k", s) for s in range(20, 26)])],
            work("r"),
            min_span=3,
        ),
        "static_enrich": replay.stream_static_enrich_replay(
            spark, [b1, b2], dim, work("e")
        ),
    }
    assert len(captured) == len(outputs)
    for df, sink in captured:
        assert _names_and_types(df) == _names_and_types(spark.read.parquet(sink)), sink
    for name, out in outputs.items():
        assert out.count() > 0, name


def test_replay_with_no_closed_window_is_empty_with_the_sinks_schema(
    spark, tmp_path, monkeypatch
):
    """No window ever falls behind the watermark: the replay returns 0
    rows, still with the sink's columns and types."""
    import datetime

    from garmin_performance_analysis_spark.streaming.replay import (
        windowed_stats_replay,
    )

    captured = _capture_read_backs(monkeypatch)
    batch = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1, 0, 1), "a", 1.0)],
        "ts timestamp, event_type string, value double",
    )
    out = windowed_stats_replay(spark, [batch], str(tmp_path / "none"))
    assert out.count() == 0
    ((read_back, sink),) = captured
    assert read_back.count() == 0
    assert _names_and_types(read_back) == _names_and_types(spark.read.parquet(sink))
    assert out.columns == [
        "window_start", "key", "n", "value_sum", "value_avg", "value_min", "value_max",
    ]
