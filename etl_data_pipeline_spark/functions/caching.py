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

Driver-side bookkeeping only: a list of DataFrame handles per
SparkSession id. No executor traffic until release, and a
non-blocking release does not wait for the executors.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

# session-keyed so two SparkSessions in one process don't cross-release
_TRACKED: dict[int, list[DataFrame]] = {}
# localCheckpoint results, tracked separately: their blocks live
# OUTSIDE the persist lifecycle (DataFrame.unpersist is a no-op on
# them; clearCache does not touch them)
_TRACKED_CKPT: dict[int, list[DataFrame]] = {}


def _session_key(df: DataFrame) -> int:
    return id(df.sparkSession)


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` (lazy, unchanged semantics) + register the
    handle so :func:`release_tracked` can reclaim it later."""
    out = df.persist()
    _TRACKED.setdefault(_session_key(out), []).append(out)
    return out


def tracked_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` + register the checkpointed frame
    so :func:`release_tracked` can free its blocks.

    Release semantics differ from a persisted cache: a checkpointed
    frame has NO lineage behind its blocks, so re-executing the frame
    after release fails instead of recomputing. The engine's contract
    is that release_tracked marks the end of a query's life — every
    registry query rebuilds its DataFrames from the source on the
    next call — so nothing re-executes a released checkpoint."""
    out = df.localCheckpoint(eager=eager)
    _TRACKED_CKPT.setdefault(_session_key(out), []).append(out)
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
    """Unpersist every tracked cache (for ``spark`` only, or all
    sessions when None) and forget the handles. Returns how many were
    released. Safe to call at any time for PERSISTED frames:
    unpersisting a frame a plan still references only costs
    recomputation, never correctness. Tracked CHECKPOINTS are freed
    too — those must not be re-executed after release (see
    tracked_checkpoint)."""
    keys = [id(spark)] if spark is not None else list(_TRACKED) + list(
        _TRACKED_CKPT
    )
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
    """Scope guard for a composing session: caches tracked inside the
    block are released on exit (including the error path)."""
    try:
        yield
    finally:
        release_tracked(spark, blocking=blocking)


# Reduce width pinned inside aqe_off loops: every aggregate under the
# manager ends model-sized (≤ 33 LR buckets, d = 64 PCA rows), so with
# AQE's coalescing disabled the session-wide shuffle width (= core
# count locally, thousands on a cluster) would launch that many reduce
# tasks per step × N steps for a handful of groups — at 32 local cores
# classifier_train_lr ran slower than at 8 (11.6 s vs 7.1 s) for
# exactly this reason. 8 covers the largest model (64 rows) with
# healthy parallelism while staying scheduler-cheap at any core count;
# map-side parallelism (scan splits) is unaffected by this key.
AQE_OFF_REDUCE_WIDTH = 8


@contextmanager
def aqe_off(spark) -> Iterator[None]:
    """Disable adaptive query execution inside the block (restored on
    exit, error path included) — for MODEL-SIZED iterate loops (the LR
    trainer's gradient steps, PCA's power iteration): each step is a
    fixed small-state aggregate whose reduce side is bounded by the
    model, not the data, so AQE's runtime re-planning has nothing to
    improve at any scale while its per-stage materialization adds one
    extra job per step (measured 7.8 s vs 12.0 s on the 20-step LR
    loop at sf0.1, identical results). Corpus-shaped plans should
    keep AQE on — it is what turns the tiny-iterate joins into
    broadcasts locally while falling back to shuffle joins at scale
    (graph_pagerank's rounds measured FASTER with AQE for exactly that
    reason).

    Also pins ``spark.sql.shuffle.partitions`` to
    :data:`AQE_OFF_REDUCE_WIDTH` for the block: with AQE's coalescing
    off, the model-sized per-step aggregates would otherwise reduce at
    the full session width — wasteful at 32 local cores and
    pathological at cluster widths (see the constant's comment).
    Restored on exit with the AQE flag.

    NOT re-entrant by design: the manager toggles shared session conf,
    so plans must not be built concurrently on the same session while
    a loop runs (the engine's iterate loops are strictly sequential —
    full-batch GD / power iteration steps depend on the previous
    step's result). A nested entry is a no-op so an outer loop's
    settings survive an inner helper that also guards itself."""
    key = "spark.sql.adaptive.enabled"
    pkey = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    if str(prev).lower() == "false":
        # nested under another aqe_off (or a session that runs with
        # AQE globally off): leave both confs to the outer owner.
        yield
        return
    prev_parts = spark.conf.get(pkey)
    spark.conf.set(key, "false")
    spark.conf.set(pkey, str(AQE_OFF_REDUCE_WIDTH))
    try:
        yield
    finally:
        spark.conf.set(key, prev)
        spark.conf.set(pkey, prev_parts)
