"""Streaming WebDataset shard sink: micro-batches → deterministic tars.

Completes the curation loop for continuously-arriving corpora: the
batch sink (``pipelines/shards``) materializes a static table as tar
shards; this wraps it in ``foreachBatch`` so a stream (file source,
Kafka, …) drains into the same layout, one ``batch-NNNNNN/`` directory
of shards per micro-batch plus a partitioned parquet manifest.

Exactly-once story (foreachBatch is at-least-once): every artifact a
replayed batch writes is either byte-identical or atomically replaced —
tars are deterministic and published via ``os.replace``, and the
batch's manifest partition is written with per-partition overwrite —
so a retried micro-batch converges to the same on-disk state instead
of duplicating samples.  Shard ids restart at 0 in each batch; the
per-batch subdirectory keeps names collision-free, and readers just
pass ``out_dir`` to ``read_webdataset_shards``, which reads the
``batch-*/*.tar`` shards under it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..pipelines.shards import assign_shards, write_webdataset_shards


def streaming_shard_sink(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str,
    payload_col: str,
    meta_cols: list[str],
    shard_max_bytes: int,
) -> StreamingQuery:
    """Start an ``availableNow`` streaming query that packs each
    micro-batch into byte-budgeted WebDataset tar shards under
    ``out_dir``.  Returns the started query (caller awaits it).

    The per-batch work is the batch pipeline verbatim — assignment via
    the distributed prefix sum, one grouped-Arrow task per shard — so
    the scale shape and invariants (multi-doc shards fit the budget)
    carry over; the only stream-specific state is Spark's own source
    checkpoint."""

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        sized = batch_df.withColumn(
            "_n_bytes", F.octet_length(F.col(payload_col).cast("binary"))
        )
        assigned = assign_shards(sized, id_col, "_n_bytes", shard_max_bytes)
        batch_dir = os.path.join(out_dir, f"batch-{batch_id:06d}")
        manifest = write_webdataset_shards(
            assigned, batch_dir, id_col, payload_col, meta_cols
        )
        # batch_id lives ONLY in the Hive partition path: writing it as a
        # data column too would make a read of the `_manifest` root fail
        # with Spark's duplicate data/partition column error.
        (
            manifest.coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "_manifest", f"batch_id={batch_id}"))
        )

    return (
        stream_df.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_shard_manifest(spark, out_dir: str) -> DataFrame:
    """All batches' manifests as one DataFrame.  Reads the ``_manifest``
    root so Spark's partition discovery yields ``batch_id`` from the
    directory names (it is not a data column)."""
    return spark.read.parquet(os.path.join(out_dir, "_manifest"))
