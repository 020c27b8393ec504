"""Scratch-directory placement and lifetime: throwaway per-call work
dirs, and the artifact root that registered cross-call artifacts live
under.

The incremental-registry and streaming-replay queries (i1–i10) and the
sink/source roundtrip rows (s5/s8/s9, c9) each build a private work
directory, write real files through the production sink path, read
them back, and materialize their result (``localCheckpoint``) before
the directory goes away.  ``scratch_dir`` owns that lifecycle: it
yields a fresh dir per call and removes it when the ``with`` block
exits, whether the body returns or raises — no query's files outlive
the query.

Artifacts that DO outlive a call (s10's partitioned layout, v8b's PQ
codes, v10b's IVF assignments) are files under the artifact root,
``<base>/spark_graft_artifacts/<name>_<tag>``, handed out by
``artifact_dir`` and owned by the registry in ``sources.tables``
(``artifact``): it refreshes a dir's mtime on every hit and deletes
it on invalidation, and ``reclaim_stale`` deletes dirs left untouched
for an hour (a dead session's).  s12's ORC copy, rewritten on every
call but read lazily by the frame it returns, lives there too.

Where ``tempfile.mkdtemp()`` lands on a spinning/virtual disk, every
micro-batch checkpoint commit and parquet footer pays an fsync the
query result never depends on.  Both kinds of dir are placed on a
RAM-backed filesystem when one is available — pure I/O-latency
removal; nothing under a scratch dir survives its call, and an
artifact dir is deleted when the tables it was built from are
rewritten.  At cluster scale these directories would be job-scoped
paths on HDFS/object storage; ``SPARK_GRAFT_SCRATCH_DIR``
parameterises that (guide §6 — I/O placement is a deployment knob,
not a constant).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time
from collections.abc import Iterator
from contextlib import contextmanager

# a dir untouched this long cannot belong to a live session: every
# registry hit refreshes its dirs' mtime
_RECLAIM_AFTER_S = 3600


def _base() -> str:
    """``$SPARK_GRAFT_SCRATCH_DIR`` if set, else ``/dev/shm`` when it
    exists and is writable (Linux tmpfs), else the platform default
    temp dir."""
    base = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if base:
        return base
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return shm
    return tempfile.gettempdir()


@contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """A fresh private directory for one query invocation's scratch,
    deleted when the block exits (normally or by exception).  Anything
    the caller returns must be materialized inside the block."""
    path = tempfile.mkdtemp(prefix=prefix, dir=_base())
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def reclaim_stale(root: str, prefix: str = "") -> None:
    """Delete the entries of ``root`` whose name starts with ``prefix``
    and whose mtime is over an hour old."""
    now = time.time()
    for full in glob.glob(os.path.join(glob.escape(root), f"{prefix}*")):
        try:
            stale = now - os.path.getmtime(full) > _RECLAIM_AFTER_S
        except OSError:
            continue  # a concurrent session reclaimed it first
        if stale:
            shutil.rmtree(full, ignore_errors=True)


def artifact_dir(name: str) -> str:
    """The path ``name`` under the artifact root, empty and not yet
    created, after reclaiming the root's stale dirs."""
    root = os.path.join(_base(), "spark_graft_artifacts")
    reclaim_stale(root)
    path = os.path.join(root, name)
    shutil.rmtree(path, ignore_errors=True)
    return path
