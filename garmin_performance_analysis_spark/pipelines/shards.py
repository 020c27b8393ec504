"""WebDataset-style tar shard sink + source for training data.

The reference's export surface stops at flat parquet/CSV tables
(``mcp/database/readers/export.py:19-90``); a multimodal training
pipeline additionally needs its curated corpus materialized as
*sample-grouped tar shards* — the WebDataset layout (one ``.tar`` per
shard; each sample is a basename-grouped file pair ``<key>.<ext>`` +
``<key>.json``) that sequential loaders stream at training time.  This
module is the real thing, stdlib ``tarfile`` only:

- ``assign_shards``: deterministic doc→shard assignment by cumulative
  payload size over a global order, via the distributed prefix sum
  (``operators/windows.global_prefix_sum``) — NO single-task window.
- ``write_webdataset_shards``: one grouped-Arrow task per shard packs
  and writes its tar, returns a manifest DataFrame (path, samples,
  bytes, content digest).  Tars are byte-deterministic (zeroed mtime /
  uid / gid, key-sorted members) so the manifest digest is a
  reproducibility check, not just a checksum.
- ``read_webdataset_shards``: ``binaryFile`` scan (one split per
  shard) + Arrow untar back to (key, payload, meta) rows — the exact
  inverse, so roundtrip equality is testable.

Scale shape: sharding is one range shuffle + a tiny offset join; the
write is embarrassingly parallel (shard = task = one streamed tar;
shards are budgeted to 100 MB–1 GB so a task never holds more than one
shard); the read side gets split-per-shard parallelism for free from
``binaryFile``.  Executors write through the local filesystem path —
on a cluster, ``out_dir`` must be a shared mount (fuse/NFS/alluxio),
the standard WebDataset arrangement; writing tar through the Hadoop FS
API would need an output-committer integration that tarfile does not
have, so this boundary is documented rather than hidden.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import tarfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windows import global_prefix_sum

MANIFEST_SCHEMA = (
    "shard_id bigint, path string, n_samples bigint, n_bytes bigint, "
    "sha256 string"
)

SAMPLE_SCHEMA = "key string, payload binary, meta string, shard_path string"


def assign_shards(
    df: DataFrame,
    id_col: str,
    size_col: str,
    shard_max_bytes: int,
    out_col: str = "shard_id",
) -> DataFrame:
    """Deterministic shard assignment over the global ``id_col`` order,
    closed-form from the distributed prefix sum (no single-task window,
    no sequential bin-packing state):

    - a doc fully inside one ``shard_max_bytes`` window of the byte
      stream gets shard ``2*window``;
    - the (at most one) doc that STARTS in a window but spills past its
      boundary — including any doc larger than the budget — is promoted
      to its own shard ``2*window + 1``.

    Invariants: every multi-doc shard's total is <= the budget (its
    docs occupy disjoint ranges of one window), every over-budget shard
    is a single doc, and the assignment is a function of the global
    order alone (partition-count invariant).  Cost of the closed form:
    shard ids are sparse and a small straddler can get a lone shard —
    shard count is at most 2x the sequential greedy packing, the usual
    trade for a shuffle-parallel assignment."""
    cum = global_prefix_sum(df, id_col, size_col, "_cum")
    start = F.col("_cum") - F.col(size_col)
    w0 = F.floor(start / F.lit(shard_max_bytes))
    w_end = F.floor((F.col("_cum") - 1) / F.lit(shard_max_bytes))
    shard = w0 * 2 + F.when(w_end > w0, F.lit(1)).otherwise(F.lit(0))
    return cum.withColumn(out_col, shard.cast("bigint")).drop("_cum")


def _pack_tar(keys, payloads, metas) -> bytes:
    """Byte-deterministic WebDataset tar: members sorted by key, zeroed
    timestamps/ownership, ``<key>.bin`` + ``<key>.json`` per sample."""
    buf = io.BytesIO()
    # key-only sort: tuple comparison would fall through to the payload
    # bytes on equal keys (bytes-vs-None raises TypeError).  Duplicate
    # keys would silently emit colliding <key>.bin/<key>.json members,
    # so they fail the shard loudly instead.
    if len(set(keys)) != len(keys):
        dupes = sorted({k for k in keys if list(keys).count(k) > 1})[:5]
        raise ValueError(f"duplicate sample keys in shard: {dupes}")
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tar:
        for key, payload, meta in sorted(zip(keys, payloads, metas), key=lambda t: t[0]):
            for ext, data in (
                ("bin", bytes(payload) if payload is not None else b""),
                ("json", meta.encode("utf-8")),
            ):
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                tar.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def write_webdataset_shards(
    df: DataFrame,
    out_dir: str,
    id_col: str,
    payload_col: str,
    meta_cols: list[str],
    shard_col: str = "shard_id",
) -> DataFrame:
    """Write one deterministic tar per ``shard_col`` group; return the
    manifest (one row per shard: path, sample count, byte size, sha256
    of the tar bytes).

    One grouped-Arrow task per shard: ``applyInPandas`` receives the
    whole shard (shards are budgeted via ``assign_shards``, so a group
    fits an executor), packs the tar in memory, writes it once.  Sample
    keys are zero-padded ids so lexicographic tar order equals id
    order.  The manifest digest doubles as a determinism oracle: two
    runs over the same rows must produce byte-identical shards."""
    meta_cols = list(meta_cols)
    slim = df.select(
        F.col(shard_col).cast("bigint").alias("shard_id"),
        F.col(id_col).cast("string").alias("_key"),
        F.col(payload_col).cast("binary").alias("_payload"),
        F.to_json(F.struct(*[F.col(c) for c in meta_cols])).alias("_meta"),
    )

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        shard_id = int(pdf["shard_id"].iloc[0])
        keys = [k.zfill(12) for k in pdf["_key"]]
        blob = _pack_tar(keys, pdf["_payload"], pdf["_meta"])
        path = os.path.join(out_dir, f"shard-{shard_id:06d}.tar")
        os.makedirs(out_dir, exist_ok=True)
        tmp = f"{path}.inprogress"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, path)  # atomic publish: readers never see a torn tar
        return pd.DataFrame(
            {
                "shard_id": [shard_id],
                "path": [path],
                "n_samples": [len(pdf)],
                "n_bytes": [len(blob)],
                "sha256": [hashlib.sha256(blob).hexdigest()],
            }
        )

    return slim.groupBy("shard_id").applyInPandas(write_shard, schema=MANIFEST_SCHEMA)


def read_webdataset_shards(spark: SparkSession, path: str) -> DataFrame:
    """Read WebDataset tar shards back to sample rows: ``binaryFile``
    scan (one input split per shard file — the parallelism unit IS the
    shard) + Arrow-batched untar pairing ``<key>.bin`` with
    ``<key>.json``.  Unknown extensions are ignored, unpaired members
    surface with NULL on the missing side — loaders see exactly what is
    in the shard.

    ``path`` is a shard file or a directory; every ``*.tar`` under a
    directory is read, subdirectories included (the streaming sink's
    ``batch-*/``).  Give the directory rather than a ``<dir>/*.tar``
    glob: Spark probes a glob for a streaming sink's metadata log and
    logs the failed probe as a warning with a stack trace."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar")
        .option("recursiveFileLookup", "true")
        .load(path)
    )

    def untar(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, payloads, metas, paths = [], [], [], []
            for path, content in zip(pdf["path"], pdf["content"]):
                samples: dict[str, dict[str, bytes]] = {}
                with tarfile.open(fileobj=io.BytesIO(bytes(content))) as tar:
                    for member in tar.getmembers():
                        if not member.isfile():
                            continue
                        stem, dot, ext = member.name.rpartition(".")
                        if not dot or ext not in ("bin", "json"):
                            continue
                        data = tar.extractfile(member).read()
                        samples.setdefault(stem, {})[ext] = data
                for stem in sorted(samples):
                    parts = samples[stem]
                    keys.append(stem)
                    payloads.append(parts.get("bin"))
                    meta = parts.get("json")
                    metas.append(meta.decode("utf-8") if meta is not None else None)
                    paths.append(path)
            yield pd.DataFrame(
                {
                    "key": keys,
                    "payload": payloads,
                    "meta": metas,
                    "shard_path": paths,
                }
            )

    return files.select("path", "content").mapInPandas(untar, schema=SAMPLE_SCHEMA)


def shard_manifest_check(manifest: DataFrame) -> DataFrame:
    """One-row audit over a shard manifest: totals plus duplicate-digest
    count (two shards with identical bytes almost always mean an
    assignment bug upstream)."""
    return manifest.agg(
        F.count("*").alias("n_shards"),
        F.coalesce(F.sum("n_samples"), F.lit(0)).cast("bigint").alias("n_samples"),
        F.coalesce(F.sum("n_bytes"), F.lit(0)).cast("bigint").alias("n_bytes"),
        (F.count("*") - F.countDistinct("sha256")).cast("bigint").alias(
            "dup_digest_shards"
        ),
    )
