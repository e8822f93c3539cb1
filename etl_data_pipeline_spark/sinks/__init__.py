"""Sink registry: append + idempotent sinks.

Replaces the reference's PostgresTargetConnector.load_table
(util.py:251-271: batched INSERT, append-only, no upsert — which
duplicates rows on replay, SURVEY.md §2.C #5/#7). We keep the plain
append for parity AND provide an idempotent merge-by-key sink — the
deliberate fix that makes crash-replay safe.

Scale notes:
- Writers are per-partition parallel; 'batchsize' maps to the
  reference's execute_batch page_size=1000 (util.py:226-232).
- The idempotent sink anti-joins NEW data against EXISTING keys. The
  sink side is a key-only scan, read with the batch's key schema (no
  inference job), and its distinct keys are the anti-join's build side:
  LeftAnti builds the right side, so the batch streams and is never
  the broadcast. When the sink's keys outgrow a hash relation the plan
  falls back to a shuffled anti-join (see idempotent_append_parquet).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from functools import reduce
from typing import Callable, Iterator, Protocol

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_data_pipeline_spark.session import parquet_first_file


class SinkFn(Protocol):
    def __call__(self, df: DataFrame, table: str, options: dict) -> None: ...


@contextmanager
def writer_lease(path: str) -> Iterator[int]:
    """Exclusive writer lease for a staged-swap target: an ``flock``-ed
    sidecar file (``<path>.lease``) that serializes every
    read-merge-swap on the target, yielding a monotonically increasing
    FENCING TOKEN persisted in the file under the lock.

    Why flock and not a lease-TTL file: the kernel releases the lock
    when the holder dies, so a crashed writer can never wedge the
    target, and there is no clock-skew/TTL-tuning failure mode. The
    token still matters as the fence: an observer comparing tokens can
    order completed swaps (strictly increasing, never reused), and a
    writer resumed after losing the CPU for longer than any TTL cannot
    be overtaken — it still holds the flock.

    Scope: one POSIX host (local FS / NFS-with-flock). On object
    stores there is no rename-based swap to protect in the first
    place — use a table format's optimistic concurrency there (see
    atomic_overwrite_parquet's docstring).

    flock is per open-file-description, so two THREADS of one process
    contend correctly too (each ``open`` here is a fresh description).
    """
    from etl_data_pipeline_spark.functions.locks import exclusive_flock

    lease_file = path + ".lease"
    with exclusive_flock(lease_file) as fd:
        raw = os.read(fd, 64)
        try:
            token = (int(raw) if raw.strip() else 0) + 1
        except ValueError:
            # A corrupted/hand-touched sidecar must not wedge every
            # future writer with an opaque int() traceback held under
            # the flock — name the file and the remedy. Auto-resetting
            # to 1 is NOT safe: it would reuse already-issued fencing
            # tokens, breaking the strictly-increasing order observers
            # rely on.
            raise RuntimeError(
                f"writer lease sidecar {lease_file!r} is corrupt "
                f"(unparseable fencing token {raw!r}). All writes to "
                f"this target are blocked until it is removed. It is "
                f"safe to delete ONLY while no writer is live on this "
                f"host; deleting it resets the fencing-token sequence, "
                f"so any external observer ordering swaps by token "
                f"must discard its recorded high-water mark."
            ) from None
        # overwrite-in-place FIRST, truncate after: a crash between a
        # truncate and a write would leave an empty file and reset the
        # fence to 1 (duplicating already-issued tokens). str(token)
        # never shrinks, so pwrite fully covers the old value and any
        # crash leaves either the old or the new token readable.
        data = str(token).encode()
        os.pwrite(fd, data, 0)
        os.ftruncate(fd, len(data))
        os.fsync(fd)
        yield token


def _recover_interrupted_swap(path: str) -> None:
    """Heal a crashed atomic_overwrite_parquet swap: the two-rename
    window can leave NO live target but a complete ``.old`` backup,
    which is restored here. Caller MUST hold ``writer_lease(path)`` —
    only then is a missing target with a ``.old`` beside it a crashed
    swap and not a live one, and only then does the restore not race a
    writer's final rename."""
    backup = path + ".old"
    if path and not os.path.exists(path) and os.path.exists(backup):
        os.replace(backup, path)


def read_parquet_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """``spark.read.parquet(path)``, or None ONLY when the path does not
    exist. Caller MUST hold ``writer_lease(path)``: a crashed swap's
    ``.old`` is restored first, and no swap can be mid-flight, so a
    missing path really is a first write.

    Any failure to read an existing target (permissions, corrupt
    footer, a directory with no parquet files) PROPAGATES. A sink that
    treats "cannot read" as "first write" silently becomes destructive
    exactly when the data is in trouble: upsert would overwrite-drop
    every unmatched sink row, and idempotent append would degrade to a
    duplicating plain append.
    """
    _recover_interrupted_swap(path)
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def _target_path(table: str, options: dict, suffix: str = "") -> str:
    """One definition of the path rule (explicit ``path`` option wins,
    else ``dir/table``); ``suffix`` covers the file-per-table formats
    (avro/xml) that previously re-implemented this inline."""
    return options.get("path") or os.path.join(options["dir"], table + suffix)


def _parquet_append(df: DataFrame, table: str, options: dict) -> None:
    df.write.mode("append").parquet(_target_path(table, options))


def _csv_append(df: DataFrame, table: str, options: dict) -> None:
    df.write.mode("append").option("header", "true").csv(_target_path(table, options))


def _jdbc_append(df: DataFrame, table: str, options: dict) -> None:
    """JDBC batched append (reference _insert_data, util.py:226-247).

    batchsize=1000 matches the reference default page_size
    (util.py:226). Per-partition transactional; for all-or-nothing
    semantics stage + swap at the DB level.
    """
    writer = (
        df.write.format("jdbc")
        .mode("append")
        .option("url", options["url"])
        .option("dbtable", options.get("dbtable", table))
        .option("batchsize", str(options.get("batchsize", 1000)))
    )
    for k in ("user", "password", "driver", "isolationLevel"):
        if k in options:
            writer = writer.option(k, str(options[k]))
    writer.save()


def _json_append(df: DataFrame, table: str, options: dict) -> None:
    df.write.mode("append").json(_target_path(table, options))


def _orc_append(df: DataFrame, table: str, options: dict) -> None:
    df.write.mode("append").orc(_target_path(table, options))


def _manifest_sink(df: DataFrame, table: str, options: dict) -> None:
    """Append through the manifest-pointer table (sinks/manifest.py):
    an O(delta) append published by a single-rename commit, so unlike
    the bare parquet append, readers get snapshot isolation and the
    table carries a version history. ``merge_keys`` makes the append
    replay-idempotent (content fence); ``partition_by`` reaches the
    table's first commit."""
    from etl_data_pipeline_spark.sinks.manifest import commit as manifest_commit

    merge_keys = options.get("merge_keys")
    partition_by = options.get("partition_by")
    manifest_commit(
        df,
        _target_path(table, options),
        mode="append",
        merge_keys=tuple(merge_keys) if merge_keys else None,
        partition_by=tuple(partition_by) if partition_by else None,
    )


def _avro_append(df: DataFrame, table: str, options: dict) -> None:
    """Avro OCF append via the pure-Python ``avro_py`` DataSource
    (sources/avro_format.py): one deflate-coded file per task, staged
    then atomically published on driver commit."""
    from etl_data_pipeline_spark.sources import avro_format

    avro_format.register(df.sparkSession)
    path = _target_path(table, options, suffix=".avro")
    writer = df.write.format(avro_format.FORMAT_NAME).mode("append")
    if "codec" in options:
        writer = writer.option("codec", str(options["codec"]))
    writer.save(path)


def _xml_append(df: DataFrame, table: str, options: dict) -> None:
    """XML append via Spark 4's native xml datasource."""
    path = _target_path(table, options, suffix=".xml")
    (
        df.write.format("xml")
        .mode("append")
        .option("rowTag", str(options.get("rowTag", "row")))
        .option("rootTag", str(options.get("rootTag", "rows")))
        .save(path)
    )


def _pglive_append(df: DataFrame, table: str, options: dict) -> None:
    """Live PostgreSQL over libpq: ``write_pg`` (sources/pg_libpq.py)
    stages the batch from every partition in parallel and publishes it
    in one transaction — all-or-nothing and exactly once per batch. It
    appends, or replaces the target with ``atomic: true``; it reads
    only ``conninfo``, ``dbtable`` and ``atomic``."""
    from etl_data_pipeline_spark.sources.pg_libpq import write_pg

    write_pg(df, table, options)


SINKS: dict[str, SinkFn] = {
    "parquet": _parquet_append,
    "csv": _csv_append,
    "json": _json_append,
    "orc": _orc_append,
    "jdbc": _jdbc_append,
    "manifest": _manifest_sink,
    "avro": _avro_append,
    "xml": _xml_append,
    "pglive": _pglive_append,
}


def register_sink(name: str, fn: SinkFn) -> None:
    SINKS[name] = fn


def write_sink(df: DataFrame, fmt: str, table: str, options: dict) -> None:
    try:
        fn = SINKS[fmt]
    except KeyError:
        raise ValueError(f"Unsupported sink format: {fmt!r} (have {sorted(SINKS)})")
    fn(df, table, options)


def _validate_batch_keys(df: DataFrame, keys: tuple[str, ...] | list[str], op: str):
    """The merge-key contract of every keyed upsert (manifest
    ``merge_upsert``, SCD1 and SCD2 parquet upserts, first writes
    included): no NULL key and no duplicate key in the batch, checked
    in one aggregate. Two batch rows for one key would make a merge or
    SCD1 keep both (breaking one-row-per-key) and SCD2 open two
    'current' versions, a chain fork nothing can repair.

    Returns the stats row: ``n`` rows plus ``kmin``/``kmax`` of the
    first key, which the manifest merge prunes directories with. For a
    TIMESTAMP first key they are integer epoch-microsecond instants
    (``unix_micros``), the unit the footer stats are normalised to —
    collected datetimes would render in the session timezone and
    mis-prune under any non-UTC session."""
    missing = [k for k in keys if k not in df.columns]
    if missing:
        raise ValueError(f"{op}: merge keys {missing} not in batch columns")
    kmin, kmax = F.min(keys[0]), F.max(keys[0])
    if df.schema[keys[0]].dataType.simpleString() == "timestamp":
        kmin, kmax = F.unix_micros(kmin), F.unix_micros(kmax)
    null_key = reduce(lambda a, b: a | b, [F.col(k).isNull() for k in keys])
    stats = df.agg(
        F.count("*").alias("n"),
        F.count_distinct(*[F.col(k) for k in keys]).alias("nk"),
        F.sum(F.when(null_key, 1).otherwise(0)).alias("n_null"),
        kmin.alias("kmin"),
        kmax.alias("kmax"),
    ).first()
    if stats["n"] and stats["n_null"]:
        # checked FIRST: count_distinct skips null-containing key
        # tuples, so a null key would otherwise surface as a
        # misleading 'duplicate keys' error
        raise ValueError(
            f"{op}: batch has {stats['n_null']} row(s) with NULL in "
            f"merge keys {tuple(keys)}; a null key can never match a "
            f"row to replace — repair upstream"
        )
    if stats["n"] != stats["nk"]:
        raise ValueError(
            f"{op}: batch has duplicate keys ({stats['n']} rows, "
            f"{stats['nk']} distinct {tuple(keys)}); deduplicate "
            f"upstream — last-write-wins needs an ordering only the "
            f"caller knows"
        )
    return stats


def atomic_overwrite_parquet(df: DataFrame, table: str, options: dict) -> None:
    """All-or-nothing overwrite: write to a staging dir, then atomically
    rename into place (POSIX rename; on object stores use a metadata
    swap/table format instead).

    The Spark-side equivalent of the reference's per-table transaction
    (commit-after-all-batches / rollback-on-error, util.py:233-242): a
    failed write leaves the CURRENT target untouched because nothing is
    moved until the staging write fully succeeds.

    CONCURRENCY CONTRACT: writers SERIALIZE on ``writer_lease(path)``
    (flock sidecar + fencing token) — two concurrent overwrites, or an
    overwrite racing an upsert/SCD2 on the same target, queue up and
    each sees the other's completed state; the target is always ONE
    writer's complete dataset, never an interleaving. Every engine read
    of a parquet state target holds the same lease
    (``read_parquet_if_exists``), so it never sees the two-rename
    window where the target path does not exist, and a crash in that
    window (data only in ``.old``) is healed by the next leased read or
    write. Ad-hoc readers that skip the lease must not race writers on
    a bare directory. For true single-rename atomicity point readers
    at a manifest/symlink swapped in one rename, or use a table format
    (Delta/Iceberg) — on object stores rename is not atomic and the
    table-format route is the only one.
    """
    path = _target_path(table, options)
    with writer_lease(path):
        _overwrite_swap_locked(df, path)


def _overwrite_swap_locked(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Staged write + two-rename swap, and the only way a parquet sink
    is first written. Caller MUST hold ``writer_lease(path)`` — this
    is the only code that touches ``.staging``/``.old``, and the lease
    is what keeps two writers from interleaving those renames.
    ``partition_by`` preserves a hive layout through the swap
    (compact_parquet).

    A first write must be staged too: a direct write creates the
    target directory at job START, so a crash mid-job leaves a
    footerless target that exists — its next read raises
    UNABLE_TO_INFER_SCHEMA instead of reporting a first write, until
    someone deletes the directory by hand. Staged, a crash leaves the
    target absent and the replay clean."""
    import shutil

    staging = path + ".staging"
    backup = path + ".old"
    # crash recovery: a previous run may have died between the two
    # renames, leaving no live target but a complete backup.
    _recover_interrupted_swap(path)
    shutil.rmtree(staging, ignore_errors=True)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(staging)  # fails => target untouched
    shutil.rmtree(backup, ignore_errors=True)
    if os.path.exists(path):
        os.replace(path, backup)
    os.replace(staging, path)
    shutil.rmtree(backup, ignore_errors=True)


def write_partitioned(
    df: DataFrame, table: str, options: dict, partition_cols: list[str]
) -> None:
    """Hive-style partitioned layout (``col=value`` directories).

    The 100 TB read-path contract: queries filtering on the partition
    columns scan ONLY matching directories (partition pruning — the
    plan shows PartitionFilters and prunes files before IO). The write
    side is the engine's data-layout decision: time-partition streams
    by event date, dimension snapshots by load date, etc.
    """
    df.write.mode("append").partitionBy(*partition_cols).parquet(
        _target_path(table, options)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
) -> None:
    """Write-time bucketing: pre-shuffle the table ONCE at write so
    every later join/agg on ``bucket_col`` is exchange-free.

    The 100 TB co-location strategy: two tables bucketed by the same
    key into the same bucket count join with NO shuffle on either side
    (Catalyst sees the matching hash distribution) — the exchange cost
    is paid once at ingest instead of per query. ``sortBy`` makes it a
    ready-sorted merge join input. Registered via saveAsTable (bucket
    metadata lives in the catalog; plain .parquet() cannot carry it).
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def _morton_spread16(col: Column) -> Column:
    """Spread the low 16 bits of an int column so a second dimension
    can interleave into the odd bits (classic Morton bit twiddling —
    pure JVM integer ops inside codegen)."""
    x = col.cast("long").bitwiseAND(F.lit(0xFFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
    return x


def morton_key(a: Column, b: Column) -> Column:
    """Morton (Z-order) interleave of two 16-bit dimensions: points
    close in BOTH dimensions get close keys, so range-partitioning by
    the key co-locates them in the same files."""
    return _morton_spread16(a).bitwiseOR(F.shiftleft(_morton_spread16(b), 1))


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
) -> None:
    """Z-order data layout: range-partition + sort by the Morton key of
    two filter columns, so every output file covers a NARROW rectangle
    of (col_a, col_b) space and parquet min/max row-group stats prune
    scans filtered on EITHER column — the multi-dimensional analog of
    sorting by one column (Delta/Iceberg OPTIMIZE ZORDER does exactly
    this; here it is a plain write-time layout choice, no table format
    needed).

    At 100 TB this is a one-off full shuffle at ingest (same cost
    class as write_bucketed) that every later selective scan repays.
    Dimensions are clamped to 16 bits — quantize/bucket wider domains
    first (layout needs locality, not exact values).
    """
    key = morton_key(F.col(col_a), F.col(col_b))
    (
        df.withColumn("__zkey", key)
        .repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def upsert_overwrite_parquet(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    options: dict,
    merge_keys: tuple[str, ...],
) -> None:
    """SCD1 upsert (last-write-wins by key): incoming rows REPLACE
    same-key sink rows; unmatched sink rows survive.

    Complements idempotent_append_parquet, which skips already-present
    keys (replay safety) but never updates them. Plan shape: sink rows
    anti-join the (small, broadcast) incoming key set, union the
    incoming batch, atomic staged swap — so an upsert is one sink scan
    regardless of batch size, and a failure mid-write leaves the
    current sink untouched. (The rewrite-whole-table cost is the
    parquet trade-off; on a table format with row-level MERGE the same
    call maps to MERGE INTO.)

    The ENTIRE read-merge-swap holds ``writer_lease(path)``: two
    concurrent upserts serialize, so the second reads the first's
    completed sink instead of the shared ancestor (a lost-update race
    the swap alone cannot prevent).
    """
    path = _target_path(table, options)
    _validate_batch_keys(df, merge_keys, "upsert_overwrite_parquet")
    with writer_lease(path):
        # first-write ONLY on a true missing path; any other read error
        # aborts the upsert (see read_parquet_if_exists — a degraded
        # read here would silently drop all unmatched sink rows).
        existing = read_parquet_if_exists(spark, path)
        if existing is None:
            _overwrite_swap_locked(df, path)
            return
        kept = existing.join(
            df.select(*merge_keys).distinct(), on=list(merge_keys), how="left_anti"
        )
        merged = kept.unionByName(df)
        _overwrite_swap_locked(merged, path)


SCD2_COLS = ("__valid_from", "__valid_to", "__is_current")


def scd2_upsert_parquet(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    options: dict,
    key_cols: tuple[str, ...],
    batch_ts: str,
    compare_cols: tuple[str, ...] | None = None,
) -> None:
    """SCD TYPE 2 upsert: full history tracking. Where SCD1
    (upsert_overwrite_parquet) REPLACES a changed row, SCD2 CLOSES the
    old version (__valid_to = batch_ts, __is_current = false) and
    appends the new one (__valid_from = batch_ts, open-ended) — the
    dimension-history pattern the reference's append-only loader
    cannot express (SURVEY §2.C #7 family).

    Change detection is NULL-safe equality over ``compare_cols``
    (default: every non-key column); an incoming row identical to the
    current version is a no-op, which makes replaying a batch with the
    same ``batch_ts`` idempotent. Plan shape: one scan of the sink,
    the (small) batch broadcast into two hash joins (change-detect +
    survivors), atomic staged swap — history rows are carried through
    untouched, never compared.

    ``batch_ts`` is caller-supplied (the load's logical timestamp) so
    reruns are deterministic — never wall-clock inside the engine.

    Like SCD1, the whole read-close-append-swap runs under
    ``writer_lease(path)``: concurrent upserts serialize, each
    building its history on the other's COMPLETED version chain —
    interleaving here would fork the chain (two "current" rows per
    key), which no amount of swap atomicity could repair after the
    fact.
    """
    path = _target_path(table, options)
    data_cols = [c for c in df.columns]
    compare = list(compare_cols or [c for c in data_cols if c not in key_cols])
    ts = F.lit(batch_ts).cast("timestamp")

    as_version = df.select(
        *data_cols,
        ts.alias("__valid_from"),
        F.lit(None).cast("timestamp").alias("__valid_to"),
        F.lit(True).alias("__is_current"),
    )
    _validate_batch_keys(df, key_cols, "scd2_upsert_parquet")
    with writer_lease(path):
        _scd2_upsert_locked(spark, df, path, as_version, key_cols, compare, data_cols, ts)


def _scd2_upsert_locked(spark, df, path, as_version, key_cols, compare, data_cols, ts):
    existing = read_parquet_if_exists(spark, path)
    if existing is None:
        _overwrite_swap_locked(as_version, path)
        return

    # persist: the merge reads `existing` through four independent
    # subtrees (history + the two join arms' filters + cur_marked) —
    # unpersisted, one upsert paid ~4x the sink-scan I/O the docstring
    # budgets as "one scan of the sink"
    existing = existing.persist()
    current = existing.filter(F.col("__is_current"))
    history = existing.filter(~F.col("__is_current"))
    keys = list(key_cols)

    # explicit match marker: a left-join hit must not be inferred from
    # value columns (a matched row may legitimately carry NULLs there)
    batch = df.select(*data_cols).withColumn("__matched", F.lit(True))
    joined = current.alias("cur").join(
        F.broadcast(batch).alias("new"), on=keys, how="left"
    )
    matched = F.coalesce(F.col("new.__matched"), F.lit(False))
    changed = F.lit(False)
    for c in compare:  # NULL-safe: any compare column differing
        changed = changed | ~F.col(f"cur.{c}").eqNullSafe(F.col(f"new.{c}"))
    close_pred = matched & changed
    closing = joined.filter(close_pred).select(
        *[F.col(f"cur.{c}").alias(c) for c in data_cols],
        F.col("cur.__valid_from").alias("__valid_from"),
        ts.alias("__valid_to"),
        F.lit(False).alias("__is_current"),
    )
    surviving = joined.filter(~close_pred).select(
        *[F.col(f"cur.{c}").alias(c) for c in data_cols],
        F.col("cur.__valid_from").alias("__valid_from"),
        F.col("cur.__valid_to").alias("__valid_to"),
        F.col("cur.__is_current").alias("__is_current"),
    )
    # batch rows that are new keys OR changed versions become current
    cur_marked = current.select(
        *keys, *[F.col(c).alias(f"__cur_{c}") for c in compare]
    ).withColumn("__cur_matched", F.lit(True))
    b = df.join(F.broadcast(cur_marked), on=keys, how="left")
    bmatched = F.coalesce(F.col("__cur_matched"), F.lit(False))
    bchanged = F.lit(False)
    for c in compare:
        bchanged = bchanged | ~F.col(c).eqNullSafe(F.col(f"__cur_{c}"))
    incoming = b.filter(~bmatched | bchanged).select(
        *data_cols,
        ts.alias("__valid_from"),
        F.lit(None).cast("timestamp").alias("__valid_to"),
        F.lit(True).alias("__is_current"),
    )
    merged = history.unionByName(surviving).unionByName(closing).unionByName(incoming)
    try:
        _overwrite_swap_locked(merged, path)
    finally:
        existing.unpersist()


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Compact a small-files parquet directory to ~target-sized files,
    atomically. Returns the new file count.

    The operational fix for the small-files problem incremental
    appends create (every micro-batch/table-run adds files; at 100 TB
    a day of 5-minute batches is ~288 files per table per partition —
    scan planning and NameNode/listing costs blow up). File count is
    computed from the CURRENT on-disk byte size (driver-side listing,
    no data read), the rewrite is one coalesce-free round-robin
    repartition (even output sizes, no lineage-narrowing skew), and
    the swap reuses the atomic staged-rename sink so readers never see
    a half-compacted directory.
    """
    with writer_lease(path):
        _recover_interrupted_swap(path)
        total = 0
        for root, _dirs, files in os.walk(path):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet")
            )
        n_files = max(1, -(-total // target_file_bytes))  # ceil division
        df = spark.read.parquet(path)
        # PRESERVE a hive-partitioned layout: the read recovers
        # col=value dirs as data columns, but a flat rewrite would
        # destroy the directory structure — partition pruning (the
        # module's stated 100 TB read contract) stops working, and a
        # later dynamic-overwrite backfill would replace only matching
        # partition dirs while the flattened root files survive,
        # duplicating every backfilled row.
        parts = _partition_cols_of(path)
        if parts:
            # Repartitioning by the partition columns ALONE would hash
            # every row of one partition value to a single task — one
            # output file per leaf dir regardless of size, silently
            # ignoring target_file_bytes for any partition larger than
            # it. Salt each partition value into
            # ~target-sized buckets instead: bucket count per value is
            # derived from its row share of the on-disk bytes (the
            # sizing scan reads only partition columns — cheap), and a
            # 1-bucket partition keeps salt 0, so small partitions
            # still compact to one file.
            bux = df.groupBy(*parts).agg(F.count(F.lit(1)).alias("_rows"))
            total_rows = bux.agg(F.sum("_rows")).first()[0]
            bytes_per_row = total / max(1, total_rows or 0)
            bux = bux.withColumn(
                "_nb",
                F.greatest(
                    F.lit(1),
                    F.ceil(
                        F.col("_rows") * F.lit(bytes_per_row)
                        / F.lit(target_file_bytes)
                    ),
                ).cast("int"),
            ).drop("_rows")
            n_files = int(
                bux.agg(F.sum("_nb")).first()[0] or 1
            )
            cond = reduce(
                lambda a, b: a & b,
                [
                    F.col(f"d.{c}").eqNullSafe(F.col(f"b.{c}"))
                    for c in parts
                ],
            )
            # The salt must be DETERMINISTIC per row: a rand() salt in
            # a repartition key recomputes differently when a failed
            # map task retries, scattering the retried rows to
            # different reducers than the original attempt — the
            # SPARK-23207 lost/duplicated-rows class. xxhash64 over
            # the data columns is retry-stable; map-typed columns
            # (unhashable) ride through to_json, which is
            # deterministic for the same row.
            from pyspark.sql.types import MapType

            def hashable(dt):
                if isinstance(dt, MapType):
                    return False
                et = getattr(dt, "elementType", None)
                if et is not None and not hashable(et):
                    return False
                fields = getattr(dt, "fields", None)
                if fields is not None:
                    return all(hashable(f.dataType) for f in fields)
                return True

            salt_cols = [
                F.col(f.name) if hashable(f.dataType)
                else F.to_json(F.col(f.name))
                for f in df.schema.fields
                if f.name not in parts
            ] or [F.lit(0)]
            df = (
                df.alias("d")
                .join(F.broadcast(bux).alias("b"), cond)
                .select("d.*", F.col("b._nb"))
                .withColumn(
                    "_salt", F.pmod(F.xxhash64(*salt_cols), F.col("_nb"))
                )
                .repartition(n_files, *[F.col(c) for c in parts], F.col("_salt"))
                .drop("_nb", "_salt")
            )
        else:
            df = df.repartition(n_files)
        # the compacted copy goes through the SAME staged swap as every
        # overwrite (staging write materializes while the original is
        # still in place, then the .old two-rename) — so a crash at any
        # point is healed by the standard .old recovery path; a private
        # rename convention here would be a backup no recovery knows.
        _overwrite_swap_locked(df, path, partition_by=parts or None)
        return sum(
            1
            for _root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )


def _partition_cols_of(path: str) -> list[str]:
    """The hive partition column chain of an on-disk layout, inferred
    from ``col=value`` directory names level by level (empty when the
    directory is flat). Driver-side listing only."""
    cols: list[str] = []
    cur = path
    while True:
        try:
            subs = [
                d
                for d in os.listdir(cur)
                if "=" in d and os.path.isdir(os.path.join(cur, d))
            ]
        except OSError:
            return cols
        if not subs:
            return cols
        names = {d.split("=", 1)[0] for d in subs}
        if len(names) != 1:
            return cols  # not a clean hive layout: stop descending
        cols.append(names.pop())
        cur = os.path.join(cur, subs[0])


def backfill_partitions(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    options: dict,
    partition_col: str,
    lo,
    hi,
) -> None:
    """Backfill a partition range idempotently: recompute rows with
    ``lo <= partition_col <= hi`` and overwrite ONLY the touched
    partitions (dynamic partition overwrite) — untouched partitions
    are never rewritten or even read.

    The day-2 ETL operation the reference cannot express (append-only,
    §2.C #7): re-running a bad day replaces that day exactly, no
    duplicates, no full-table rewrite. The range filter prunes the
    recompute to the affected input partitions too, so backfill cost
    is proportional to the range, not the table.
    """
    path = _target_path(table, options)
    # under the lease like every other writer: racing a compaction or
    # an overwrite-swap on the same table, the dynamic overwrite would
    # otherwise commit partition dirs into a directory the swap is
    # about to rename away — silently lost. The overwrite mode is a
    # PER-WRITE option, not a session conf: the previous session-level
    # set leaked "dynamic" to every concurrent write on this session
    # for the duration (turning unrelated static partitioned
    # overwrites into partial ones mid-flight).
    with writer_lease(path):
        (
            df.filter((F.col(partition_col) >= lo) & (F.col(partition_col) <= hi))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )


def idempotent_append_parquet(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    options: dict,
    merge_keys: tuple[str, ...],
) -> None:
    """Append only rows whose key is not already in the sink.

    Fixes the reference's replay-duplication (append after crash
    between load and watermark write re-inserts rows, SURVEY.md §2.C
    #5). Implemented as a left-anti join with the new batch as the
    stream side and the sink's column-pruned DISTINCT key set as the
    build side (LeftAnti only builds right, so the batch itself is
    never the broadcast — the key-only scan of the sink is what keeps
    the build side small). Honest scale bound: the build side grows
    with the SINK's distinct keys; when that no longer fits a hash
    relation the plan degrades to a shuffled anti-join. The manifest
    table's ``merge_keys`` commit (sinks/manifest.py) is the same
    anti-join against the keys of every directory of the current
    version; only its ``txn`` fence skips a replayed batch without
    reading any keys, and only ``merge_upsert`` prunes directories by
    their recorded key ranges.
    """
    path = _target_path(table, options)
    # the lease makes the read-check-append atomic: two concurrent
    # appends of overlapping batches serialize, so the second sees the
    # first's keys and skips them (racing bare appends would both pass
    # the check and double-insert).
    with writer_lease(path):
        # first-write ONLY on a true missing path; any other read error
        # aborts the append (a degraded read would replay duplicates).
        sink = _read_sink_keys(spark, path, df.select(*merge_keys).schema)
        if sink is None:
            # first write via the staged swap (see _overwrite_swap_locked);
            # later appends are safe: the commit protocol only publishes
            # files at job commit.
            _overwrite_swap_locked(df, path)
            return
        out = df.join(sink.distinct(), on=list(merge_keys), how="left_anti")
        out.write.mode("append").parquet(path)


def _read_sink_keys(
    spark: SparkSession, path: str, key_schema: StructType
) -> DataFrame | None:
    """:func:`read_parquet_if_exists` narrowed to the key columns, read
    with the batch's ``key_schema`` instead of an inference job (parquet
    resolves columns by name). The footer of the file Spark would infer
    from (``parquet_first_file``) must hold every key column first, so
    a target that is empty, corrupt or keyless raises as inference
    would; a sink key whose type the batch's cannot read fails the
    scan, and with it the append. Layouts inference reads more of
    (partitions, summaries) infer as before."""
    import pyarrow.parquet as pq

    _recover_interrupted_swap(path)
    if not os.path.exists(path):
        return None
    keys = key_schema.names
    first = parquet_first_file(spark, path)
    if first is None:
        return spark.read.parquet(path).select(*keys)
    case = spark.conf.get("spark.sql.caseSensitive", "false") == "true"
    fold = str if case else str.lower
    have = {fold(n) for n in pq.read_schema(first).names}
    missing = [k for k in keys if fold(k) not in have]
    if missing:
        raise ValueError(
            f"sink {path!r} has no merge key column(s) {missing} "
            f"(footer of {os.path.basename(first)})"
        )
    return spark.read.schema(key_schema).parquet(path)
