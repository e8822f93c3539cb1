"""Session-scoped lifecycle for persisted caches and local checkpoints.

Several registry queries persist() an intermediate relation that two
downstream branches share (LSH signature tables, per-vector norms,
curation signals, the quarantine reader's parsed relation), and cut
long lineages with ``localCheckpoint``. A one-query-per-process
harness never notices — the storage dies with the session — but a
long-lived session COMPOSING many calls would accumulate storage it
cannot reclaim without the nuclear ``spark.catalog.clearCache()``,
which also drops the caller's own caches and does not touch
checkpoint blocks at all.

This module owns both lifecycles:

- producers mark caches with :func:`tracked_persist` and lineage cuts
  with :func:`tracked_checkpoint` instead of the bare calls — same
  semantics, plus registration;
- a composing session calls :func:`release_tracked` between queries
  (or wraps work in :func:`tracked_caches`) to return storage memory
  to baseline without disturbing frames IT persisted by other means;
- :func:`free_checkpoint` is the one per-frame checkpoint release,
  used by :func:`release_tracked` and by any owner that scopes a
  checkpoint itself (the pipeline frees each table's batch when that
  table's run ends, leaving every tracked frame alone).

Release ends the life of what it frees. A released cache only costs
recomputation, but a released checkpoint has no lineage behind its
blocks: any frame built on it (``with_global_position`` output, the
graph, PCA and IVF iterates) fails for good if executed afterwards.
Release between queries, once their results are consumed.

Driver-side bookkeeping only: a list of DataFrame handles per
SparkContext, so frames made on a session derived from the caller's
(``session.derived_session``) are released with the caller's. No
executor traffic until release, and a non-blocking release does not
wait for the executors.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

# keyed by id(SparkContext): the cache and checkpoint blocks are per
# context, shared by every session built on it
_TRACKED: dict[int, list[DataFrame]] = {}
# localCheckpoint results, tracked separately: their blocks live
# OUTSIDE the persist lifecycle (DataFrame.unpersist is a no-op on
# them; clearCache does not touch them)
_TRACKED_CKPT: dict[int, list[DataFrame]] = {}


def _context_key(spark) -> int:
    return id(spark.sparkContext)


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` (lazy, unchanged semantics) + register the
    handle so :func:`release_tracked` can reclaim it later."""
    out = df.persist()
    _TRACKED.setdefault(_context_key(out.sparkSession), []).append(out)
    return out


def tracked_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` + register the checkpointed frame
    so :func:`release_tracked` can free its blocks.

    Release semantics differ from a persisted cache: a checkpointed
    frame has NO lineage behind its blocks, so executing it, or any
    frame built on it, after release fails for good instead of
    recomputing. Release marks the end of a query's life: every
    registry query rebuilds its DataFrames from the source on the
    next call, so it never executes a released checkpoint."""
    out = df.localCheckpoint(eager=eager)
    _TRACKED_CKPT.setdefault(_context_key(out.sparkSession), []).append(out)
    return out


def free_checkpoint(df: DataFrame, blocking: bool = False) -> None:
    """Drop the blocks of a frame returned by ``localCheckpoint``. The
    frame must not be executed afterwards: it has no lineage to
    recompute from. The RDD leaves the session's storage listing
    before this returns; ``blocking`` only waits for the executors to
    delete the blocks. Never raises: a never-materialized checkpoint
    (``eager=False``) or a stopped session has nothing left to free.

    The persisted RDD hides behind the LogicalRDD the checkpoint
    returned (Dataset.checkpoint wraps the materialized internal
    RDD), reachable via the logical plan."""
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(blocking)
    except Exception:
        pass


def release_tracked(spark=None, blocking: bool = False) -> int:
    """Unpersist every tracked cache and free every tracked checkpoint
    (of ``spark``'s SparkContext, so also those made on sessions
    derived from it; of every context when None) and forget the
    handles. Returns how many were released.

    Not safe at any time: call it only once no frame built on a
    tracked checkpoint will execute again. A frame that read a
    released cache recomputes it, but one built on a released
    checkpoint fails for good (see tracked_checkpoint)."""
    keys = [_context_key(spark)] if spark is not None else list(
        _TRACKED
    ) + list(_TRACKED_CKPT)
    n = 0
    for k in dict.fromkeys(keys):
        for df in _TRACKED.pop(k, []):
            try:
                df.unpersist(blocking=blocking)
            except Exception:
                pass  # session already stopped — nothing left to free
            n += 1
        for df in _TRACKED_CKPT.pop(k, []):
            free_checkpoint(df, blocking)
            n += 1
    return n


@contextmanager
def tracked_caches(spark=None, blocking: bool = False) -> Iterator[None]:
    """Scope guard for a composing session: caches and checkpoints
    tracked inside the block are released on exit (including the
    error path), with :func:`release_tracked`'s contract — a frame
    built inside the block on a tracked checkpoint must not execute
    after it."""
    try:
        yield
    finally:
        release_tracked(spark, blocking=blocking)
