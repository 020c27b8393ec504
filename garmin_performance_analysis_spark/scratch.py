"""Scratch-directory placement and lifetime for throwaway per-call
work dirs.

The incremental-registry and streaming-replay queries (i1–i10) and the
sink/source roundtrip rows (s5/s8/s9, c9) each build a private work
directory, write real files through the production sink path, read
them back, and materialize their result (``localCheckpoint``) before
the directory goes away.  ``scratch_dir`` owns that lifecycle: it
yields a fresh dir per call and removes it when the ``with`` block
exits, whether the body returns or raises — no query's files outlive
the query.

On this host ``tempfile.mkdtemp()`` lands on a spinning/virtual disk,
so every micro-batch checkpoint commit and parquet footer pays an
fsync the query result never depends on.  ``scratch_dir`` places the
dir on a RAM-backed filesystem when one is available — pure
I/O-latency removal, no caching: nothing under the scratch dir
survives the call, and nothing is keyed on the input data.  At
cluster scale these directories would be job-scoped paths on
HDFS/object storage; ``SPARK_GRAFT_SCRATCH_DIR`` parameterises that
(guide §6 — I/O placement is a deployment knob, not a constant).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager


@contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """A fresh private directory for one query invocation's scratch,
    deleted when the block exits (normally or by exception).  Anything
    the caller returns must be materialized inside the block.

    Resolution order: ``$SPARK_GRAFT_SCRATCH_DIR`` if set, else
    ``/dev/shm`` when it exists and is writable (Linux tmpfs), else
    the platform default temp dir.
    """
    base = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if not base:
        shm = "/dev/shm"
        if os.path.isdir(shm) and os.access(shm, os.W_OK):
            base = shm
        else:
            base = None
    path = tempfile.mkdtemp(prefix=prefix, dir=base)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)
