"""Distributed global positions — the shared sort-and-offset recipe.

A global ``row_number()``/``ntile()`` window with no partitioning is
the chief 100 TB scale-killer: Spark executes it by moving the
window's ENTIRE input through one partition. When the sort keys form a
total order, the same dense 1-based positions come out of a
distributed range-partitioned sort + per-partition offsets (one tiny
count job) — every partition keeps working, and the positions are
bit-identical to the window's on every engine. First proven by
export_shuffle (operators/scans.py), shared by corpus_interleave and
events_rfm. The default is pure-JVM (``monotonically_increasing_id`` +
cumulative-offset lookup), measured 1.5-1.9x faster at sf1/sf10 on
the table-grain callers than the same recipe over an RDD
``zipWithIndex`` hop in an interleaved A/B.

``ntile_from_position`` is the positional half of the same story:
ntile(k)'s bucket depends only on (rank, N), so a global ntile window
becomes position + pure arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def with_global_position(
    df: DataFrame, order, pos_col: str = "pos", start: int = 1
) -> DataFrame:
    """``df`` sorted by ``order`` (a list of Column sort expressions
    that MUST form a total order — include a unique tiebreak) with a
    dense ``start``-based long position appended. Pure-JVM: one
    distributed range sort, ``monotonically_increasing_id`` to read
    off (partition-id, row-in-partition) without any shuffle or Python
    hop, a partition-count aggregate over the materialized relation
    (tiny: one row per partition), and a broadcast join of the
    cumulative offsets. No single-partition stage, and no row crosses
    the Python worker (an RDD ``zipWithIndex`` hop would pickle every
    row).

    The sorted relation is localCheckpointed (lazily) so the id
    assignment is FROZEN before the two consumers read it — without
    that, the count pass and the emit pass could re-plan the sort
    independently and disagree on partition boundaries."""
    from etl_data_pipeline_spark.functions.caching import tracked_checkpoint

    mid = "__wgp_mid"
    ordered = tracked_checkpoint(
        df.orderBy(*order).withColumn(mid, F.monotonically_increasing_id()),
        eager=False,
    )
    # monotonically_increasing_id packs the partition id in the upper
    # 31 bits and a dense 0-based per-partition counter in the lower 33
    pid = F.shiftrightunsigned(F.col(mid), 33)
    counts = (
        ordered.groupBy(pid.alias("__wgp_pid")).count().collect()
    )  # one row per partition — driver-tiny at any scale
    if not counts:
        return df.withColumn(pos_col, F.lit(None).cast(T.LongType())).filter(
            F.lit(False)
        )
    by_pid = {row["__wgp_pid"]: row["count"] for row in counts}
    offsets, acc = [], 0
    for p in range(max(by_pid) + 1):
        offsets.append(acc)
        acc += by_pid.get(p, 0)
    # cumulative offsets as a LITERAL array lookup — cheaper than a
    # broadcast join (no extra stage, stays in the same projection)
    off = F.element_at(
        F.array(*[F.lit(o).cast("long") for o in offsets]),
        (pid + 1).cast("int"),
    )
    local = F.col(mid).bitwiseAND((1 << 33) - 1)
    return ordered.withColumn(
        pos_col, (off + local + F.lit(start)).cast("long")
    ).drop(mid)


def ntile_from_position(
    pos: Column, n_total: int, n_buckets: int, start: int = 1
) -> Column:
    """The 1-based ntile(``n_buckets``) bucket for a ``start``-based
    dense position over ``n_total`` rows — Spark/ANSI ntile semantics
    exactly: the first ``n_total % n_buckets`` buckets take
    ``n_total // n_buckets + 1`` rows, the rest one fewer. Pure
    arithmetic (no window), so it composes with with_global_position
    to replace a global ntile window."""
    q, rem = divmod(n_total, n_buckets)
    cutoff = rem * (q + 1)
    zero = pos - start  # 0-based
    return (
        F.when(zero < cutoff, F.floor(zero / (q + 1)) + 1)
        .otherwise(rem + F.floor((zero - cutoff) / max(q, 1)) + 1)
        .cast("int")
    )
