"""Manifest-pointer table: single-rename atomic commits over parquet.

The staged-swap sinks (sinks/__init__.py) are all-or-nothing for the
WRITER, but their two-rename swap leaves a window where the target
path does not exist — readers must either tolerate a transient miss or
take the writer lease. This module closes that last gap the way real
table formats do (Delta's _delta_log, Iceberg's metadata pointer,
Hive's symlink tables): data files live in immutable delta
directories, each VERSION is a small manifest listing the directories
it comprises, and the only mutable object is the current-version
pointer file swapped in ONE atomic rename. Readers resolve the
manifest, then read directories that COMMITS never rename or delete —
no missing-path window, with no reader-side locking.

    table/
      _versions/v00000001/        <- immutable delta dirs (one per
      _versions/v00000002/           data-writing commit)
      _manifests/v00000002.json   <- immutable per-version manifest
                                     snapshots (time travel)
      MANIFEST.json               <- current pointer: {"version": 2,
                                     "dirs": [...], "schema": {...}, ...}
      MANIFEST.json.lease         <- writer serialization (flock + fence)

A manifest (the pointer and every snapshot) is one JSON object:
``version`` (int), ``dirs`` (delta directories relative to the table),
``schema`` (ordered column -> Spark simpleString type), ``fence``
(the writer's fencing token), ``delta_rows`` and ``total_rows`` (row
counts from parquet footers), ``dir_rows`` ({dir: row count}) and
``ranges`` ({dir: {column: [lo, hi]}}, each delta directory's column
min/max), both from the footer walk that published the directory and
consulted by merge and read pruning, and, only when set,
``partition_by``, ``data_change: false`` (a layout-only commit) and
``txn`` ({app_id: highest committed version}). There is one format:
every read of a manifest file rejects one without ``version``,
``dirs``, ``schema`` or ``total_rows`` with a ``ValueError`` naming
the table and the missing keys, before any data is read or written.
A manifest without ``ranges`` or ``dir_rows`` (written before they
were recorded) reads and commits as any other; reads never prune its
unranged directories, and the first ``merge_upsert`` walks their
footers once and records both.

**Append is O(delta), not O(table)**: an append commit writes ONLY the
incoming rows as a new delta directory and publishes a manifest whose
``dirs`` list is the previous list plus that directory — the Delta/
Iceberg file-list idiom; rewriting the whole table per append would
be an O(table) write per micro-batch. The cost moves to READS as the
dir list grows — ``compact()`` folds the list back to one directory as
a new version, the standard small-files answer.

Schema lives IN the manifest (ordered column -> Spark simpleString
type), so append-time compatibility checks never touch data files:
mismatched column sets fail loudly unless ``merge_schema=True`` opts
into evolution (new columns append to the schema; old delta dirs
null-fill them at read via unionByName), and a TYPE conflict on the
same column always fails — silent cast-widening hides producer bugs.
Time travel reads each version with the schema ITS manifest recorded.

Commits serialize on the same flock/fencing-token lease as the staged
sinks; the manifest records the fencing token so the history is an
auditable total order. Old versions stay readable (time travel) until
``vacuum`` reclaims them; retention (``keep_last``) is the operator's
promise to in-flight readers — exactly Delta/Iceberg VACUUM
semantics: retain at least your longest-running reader. Because
versions share delta dirs, vacuum deletes a data dir only when NO
retained version references it.

Scope: this is the single-node / POSIX-rename instantiation of the
table-format idea — correct concurrent-writer behavior on one host via
flock. On S3-class object stores rename is not atomic and flock does
not exist; there you swap the pointer with a conditional PUT
(If-Match) or use Delta/Iceberg — the API here is deliberately shaped
so that swap is the only piece to replace.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import re
import shutil
import tempfile
from decimal import Decimal
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

from etl_data_pipeline_spark.sinks import _validate_batch_keys, writer_lease

MANIFEST = "MANIFEST.json"
# the one suffix of every manifest temp, which vacuum sweeps
_TMP_SUFFIX = ".manifest.tmp"


class FeedBrokenError(ValueError):
    """The change feed (read_changes, the manifest_table stream)
    cannot produce the requested delta because an
    overwrite/merge dropped directories inside the range — consumers
    must re-sync from a full snapshot. A TYPED class (not message
    sniffing): the message embeds the table path, and a path that
    happens to contain 'overwrite' must not be classified as a feed
    break by substring matching."""


class VacuumedError(FileNotFoundError):
    """A pinned version's snapshot was reclaimed by retention; same
    typing rationale as FeedBrokenError."""


_VERSION_RE = re.compile(r"v(\d{8})")


def _ddl(schema: dict[str, str]) -> str:
    """The recorded column->type map as a Spark DDL string — one
    definition for every schema-pinned read/empty-frame site."""
    return ", ".join(f"`{c}` {t}" for c, t in schema.items())


def _manifest_path(table_dir: str) -> str:
    return os.path.join(table_dir, MANIFEST)


def _snapshot_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, "_manifests", f"v{version:08d}.json")


_REQUIRED_KEYS = ("version", "dirs", "schema", "total_rows")


def _load(path: str, table_dir: str) -> dict:
    """One manifest file — the pointer or a version snapshot — checked
    against the format :func:`_publish` writes. A manifest is on-disk
    input the program does not control, so one outside the format is
    a ``ValueError`` naming the table and the missing keys, never a
    ``KeyError`` from deep inside a read or a commit."""
    with open(path) as f:
        m = json.load(f)
    missing = [k for k in _REQUIRED_KEYS if not isinstance(m, dict) or m.get(k) is None]
    if missing:
        raise ValueError(
            f"{path!r} of manifest table {table_dir!r} is not a manifest "
            f"this module writes: missing keys {missing}"
        )
    return m


def read_manifest(table_dir: str) -> dict | None:
    """Current manifest, or None for a table that has no commits yet.
    Pure read — no lock: the single-rename publish guarantees any
    reader sees a complete manifest."""
    try:
        return _load(_manifest_path(table_dir), table_dir)
    except FileNotFoundError:
        return None


def _schema_of(df: DataFrame) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


def _check_schema(
    cur: dict, df: DataFrame, merge_schema: bool, table_dir: str
) -> dict[str, str]:
    """Manifest-only append compatibility check (no data files read).
    Returns the merged schema the new version records."""
    prev = cur["schema"]
    new = _schema_of(df)
    conflicts = {
        c: (prev[c], new[c]) for c in new if c in prev and prev[c] != new[c]
    }
    if conflicts:
        raise ValueError(
            f"append to {table_dir!r} changes column TYPES {conflicts} — "
            f"type evolution is never implicit (a silent cast hides "
            f"producer bugs); migrate via an overwrite commit"
        )
    extra = [c for c in new if c not in prev]
    missing = [c for c in prev if c not in new]
    if (extra or missing) and not merge_schema:
        raise ValueError(
            f"append to {table_dir!r} drifts the schema "
            f"(new columns {extra}, absent columns {missing}); a typo'd "
            f"producer must fail loudly — pass merge_schema=True to opt "
            f"into evolution"
        )
    merged = dict(prev)
    for c in extra:
        merged[c] = new[c]
    return merged


def commit(
    df: DataFrame,
    table_dir: str,
    mode: str = "overwrite",
    merge_schema: bool = False,
    merge_keys: tuple[str, ...] | None = None,
    txn: tuple[str, int] | None = None,
    partition_by: tuple[str, ...] | None = None,
) -> dict:
    """Commit ``df`` as the table's next version and return the new
    manifest.

    - ``overwrite``: the new version IS the DataFrame (``dirs`` = the
      one new directory).
    - ``append``: O(delta) — ONLY the incoming rows are written, as a
      new immutable directory appended to the previous version's
      ``dirs`` list. Readers of the previous version are untouched.
      Column sets must match the manifest schema exactly unless
      ``merge_schema=True`` opts into evolution (see module doc);
      same-column type changes always fail.

    Replay idempotency, two independent fences:

    - ``merge_keys``: CONTENT fence for append — incoming rows whose
      key already exists in the current version are anti-joined away
      (the manifest twin of idempotent_append_parquet, fixing the
      reference's replay duplication, SURVEY.md §2.C #5/#7). A replay
      whose rows all already landed is a no-op: the delta is written
      first and counted from its parquet footers, and an empty one is
      removed again — NO new version is published and the current
      manifest is returned unchanged. With a ``txn`` the empty delta
      still commits, to record the mark.
    - ``txn``: TRANSACTION fence ``(app_id, version)`` for streaming
      foreachBatch — the manifest records the highest committed
      version per app_id (Delta's txnAppId/txnVersion idiom), and a
      commit at-or-below that high-water mark returns the current
      manifest without reading the batch AT ALL. This is the
      exactly-once contract: the batch data and its txn mark publish
      in the same atomic rename, so a crash between them is
      impossible and a replayed batch is always detected.

    Sequence (under the writer lease, fencing token = lease token):
    1. read current manifest (inside the lease: serializable)
    2. write the delta to _versions/v{n+1} — a failure here leaves an
       orphan directory and an UNCHANGED manifest (vacuum cleans it)
    3. write the version snapshot to _manifests/v{n+1}.json (fsynced)
    4. write the pointer the same way, a single os.replace onto
       MANIFEST.json — the commit point; crash before it = no commit,
       after it = committed. Readers never observe an intermediate
       state.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite/append, not {mode!r}")
    os.makedirs(table_dir, exist_ok=True)
    with writer_lease(_manifest_path(table_dir)) as fence:
        return _commit_locked(
            df, table_dir, mode, fence, merge_schema, merge_keys, txn,
            partition_by=partition_by,
        )


def _commit_locked(
    df: DataFrame,
    table_dir: str,
    mode: str,
    fence: int,
    merge_schema: bool = False,
    merge_keys: tuple[str, ...] | None = None,
    txn: tuple[str, int] | None = None,
    data_change: bool = True,
    partition_by: tuple[str, ...] | None = None,
) -> dict:
    """Steps 1-4 of commit(); caller holds the manifest writer lease."""
    cur = read_manifest(table_dir)
    appending = mode == "append" and cur is not None
    if appending:
        parts = _table_layout(cur, partition_by, f"append to {table_dir!r}")
    else:
        parts = tuple(partition_by or ())
    marks = _txn_fence(cur, txn)
    if marks is None:
        return cur  # replayed batch: already committed, skip
    if not appending:
        return _publish(
            table_dir, cur, fence, _parquet_writer(df, parts), [], 0,
            _schema_of(df), marks, parts, data_change,
        )
    schema = _check_schema(cur, df, merge_schema, table_dir)
    out = df
    if merge_keys:
        keys = list(merge_keys)
        prev_keys = _read_dirs(
            df.sparkSession, table_dir, cur["dirs"], cur["schema"]
        ).select(*keys).distinct()
        out = df.join(prev_keys, on=keys, how="left_anti")
    # write first, then count: the anti-joined delta is evaluated once,
    # by the write, and an empty one (every row already present, no
    # txn mark to record) publishes nothing — no version is burned
    return _publish(
        table_dir, cur, fence, _parquet_writer(out, parts),
        list(cur["dirs"]), 0, schema, marks, parts, data_change,
        skip_empty=bool(merge_keys) and txn is None,
    )


def _txn_fence(cur: dict | None, txn: tuple[str, int] | None) -> dict | None:
    """The txn marks the next version records: the table's
    ``{app_id: highest committed version}`` plus ``txn``. None when
    ``txn`` is at or below its app's mark — a replayed batch that must
    not commit again."""
    marks: dict[str, int] = dict((cur or {}).get("txn", {}))
    if txn is not None:
        app_id, txn_version = txn
        if app_id in marks and int(txn_version) <= marks[app_id]:
            return None
        marks[app_id] = int(txn_version)
    return marks


def _table_layout(
    cur: dict, partition_by: tuple[str, ...] | None, what: str
) -> tuple[str, ...]:
    """The partition columns of a write that adds to ``cur``.
    Partitioning is a table property: the first commit fixes it, and a
    later append or merge must restate it unchanged or omit it."""
    cur_parts = tuple(cur.get("partition_by") or ())
    if partition_by is not None and tuple(partition_by) != cur_parts:
        raise ValueError(
            f"{what} changes partition_by {cur_parts} -> "
            f"{tuple(partition_by)}; repartitioning the layout requires "
            f"an overwrite commit"
        )
    return cur_parts


def _parquet_writer(out: DataFrame, parts: tuple[str, ...]):
    """Delta writer for :func:`_publish`: ``out`` as parquet, hive
    partitioned by ``parts``."""

    def write(data_dir: str) -> None:
        missing = [c for c in parts if c not in out.columns]
        if missing:
            raise ValueError(
                f"partition_by columns {missing} not in the DataFrame "
                f"(columns: {out.columns})"
            )
        w = out.write.partitionBy(*parts) if parts else out.write
        w.parquet(data_dir)

    return write


def _publish(
    table_dir: str,
    cur: dict | None,
    fence: int,
    write,
    kept: list[str],
    dropped_rows: int,
    schema: dict[str, str],
    marks: dict[str, int],
    parts: tuple[str, ...] = (),
    data_change: bool = True,
    skip_empty: bool = False,
) -> dict:
    """Commit one version; the caller holds the writer lease.

    ``write(data_dir)`` fills the version's new delta directory; the
    version's ``dirs`` are ``kept`` (directories of ``cur`` it carries
    over) plus that directory. ``dropped_rows`` is the row count of the
    ``cur`` directories it does not keep. With ``skip_empty`` a
    delta that wrote no rows is removed and ``cur`` returned: nothing
    is published.

    A crash before the pointer swap leaves an orphan directory and an
    unchanged manifest (the next commit of this version clears it).
    Row counts and ranges come from one walk of the new directory's
    parquet footers: ``delta_rows`` is its rows (0 for a layout-only
    commit), ``total_rows`` the running total, and ``dir_rows`` and
    ``ranges`` carry the kept directories' entries over from ``cur``
    and add its own."""
    version = 1 if cur is None else cur["version"] + 1
    rel = os.path.join("_versions", f"v{version:08d}")
    data_dir = os.path.join(table_dir, rel)
    shutil.rmtree(data_dir, ignore_errors=True)  # crashed orphan of a failed commit
    write(data_dir)
    delta, delta_ranges = _footer_stats(data_dir, schema)
    if skip_empty and delta == 0:
        shutil.rmtree(data_dir, ignore_errors=True)
        return cur

    def carried(key: str) -> dict:
        prev = (cur or {}).get(key, {})
        return {d: prev[d] for d in kept if d in prev}

    dir_rows, ranges = carried("dir_rows"), carried("ranges")
    dir_rows[rel] = delta
    ranges[rel] = delta_ranges  # {} too: the dir's footers were walked
    manifest = {"version": version, "dirs": kept + [rel], "schema": schema, "fence": fence}
    if parts:
        manifest["partition_by"] = list(parts)
    manifest["delta_rows"] = delta if data_change else 0
    manifest["total_rows"] = (
        cur["total_rows"] - dropped_rows if kept else 0
    ) + delta
    manifest["dir_rows"] = dir_rows
    manifest["ranges"] = ranges
    if not data_change:
        # layout-only commit (compaction): logically the same rows —
        # the change feed skips it instead of re-emitting the table
        manifest["data_change"] = False
    if marks:
        manifest["txn"] = marks
    # data must be durable BEFORE the pointer is — including the
    # _versions/ dirent naming the new directory (losing that to a
    # power cut while MANIFEST.json survived would orphan the commit)
    _fsync_tree(data_dir)
    _fsync_path(os.path.dirname(data_dir))
    payload = json.dumps(manifest)
    # immutable snapshot first (time travel), then the pointer swap
    snap = _snapshot_path(table_dir, version)
    os.makedirs(os.path.dirname(snap), exist_ok=True)
    _write_durable(snap, payload)
    _write_durable(_manifest_path(table_dir), payload)  # THE commit point
    return manifest


def _write_durable(path: str, payload: str) -> None:
    """Write ``path`` atomically — a ``.manifest.tmp`` temp beside it,
    fsynced, then one os.replace — and fsync the parent dirent, so the
    rename itself survives a power loss. A crash leaves at most the
    temp, which :func:`vacuum` sweeps."""
    d = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=_TMP_SUFFIX)
    with os.fdopen(fd, "w") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    _fsync_path(d)


def _fsync_path(path: str) -> None:
    """fsync one file or directory by path."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


# the longest string end a range records: a text column's stats would
# otherwise bloat every manifest (parquet itself drops them past 4 KB)
_MAX_STAT_CHARS = 256

# Python type of a recordable footer stat per Spark column type, after
# _norm_stat (timestamps are epoch microseconds); decimals of any
# precision are Decimal, and other types are never recorded
_STAT_TYPES = {
    "tinyint": int, "smallint": int, "int": int, "bigint": int,
    "timestamp": int, "float": float, "double": float, "boolean": bool,
    "string": str, "date": dt.date, "timestamp_ntz": dt.datetime,
}


def _stat_type(dtype: str):
    return Decimal if dtype.startswith("decimal(") else _STAT_TYPES.get(dtype)


def _footer_stats(data_dir: str, schema: dict[str, str]) -> tuple[int, dict]:
    """Row count and column ranges of one delta directory from parquet
    FOOTERS only — metadata reads, no data pages, driver-side (the dir
    is one commit's output, not the table).

    The ranges are ``{col: [lo, hi]}`` over every file and row group,
    as plain JSON scalars (:func:`_encode_stat`), for the top-level
    columns of ``schema`` whose type ``_STAT_TYPES`` lists or that are
    decimals. A column is left out, so pruning keeps the dir, when any
    row group lacks min/max stats or holds a non-finite value or a
    string end longer than ``_MAX_STAT_CHARS``; binary, nested and
    hive-partition columns (absent from the files) are never
    recorded."""
    import pyarrow.parquet as pq

    rows = 0
    bounds: dict[str, list] = {}
    unknown: set[str] = set()
    for root, _dirs, files in os.walk(data_dir):
        for name in files:
            if not name.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, name)).metadata
            rows += md.num_rows
            groups = [md.row_group(rg) for rg in range(md.num_row_groups)]
            for i in range(md.num_columns):
                col = md.schema.column(i)
                want = _stat_type(schema.get(col.path, ""))
                if want is None or col.path in unknown:
                    continue
                for g in groups:
                    mm = _minmax(g.column(i), col)
                    if mm is None or not all(_recordable(v, want) for v in mm):
                        unknown.add(col.path)
                        break
                    b = bounds.setdefault(col.path, list(mm))
                    b[0], b[1] = min(b[0], mm[0]), max(b[1], mm[1])
    ranges = {
        c: [_encode_stat(v) for v in b] for c, b in bounds.items() if c not in unknown
    }
    return rows, ranges


def _minmax(chunk, col) -> tuple | None:
    """(min, max) of one column chunk's footer stats through
    :func:`_norm_stat`; None when the footer has none pyarrow can
    decode."""
    from pyarrow import ArrowException

    st = chunk.statistics
    if st is None or not st.has_min_max:
        return None
    if col.logical_type.type == "DECIMAL" and chunk.physical_type in ("INT32", "INT64"):
        # pyarrow cannot decode int-backed decimal stats: scale the raw
        # unscaled integers
        return tuple(Decimal(v).scaleb(-col.scale) for v in (st.min_raw, st.max_raw))
    try:
        return _norm_stat(st.min), _norm_stat(st.max)
    except (ArrowException, ValueError, OverflowError):
        return None


def _norm_stat(v):
    """Normalize a parquet footer stat for comparison against
    Spark-side aggregates: footer TIMESTAMP stats come back tz-AWARE
    (Spark writes isAdjustedToUTC instants) while Spark's F.min/F.max
    collect as naive session-time values — an aware-vs-naive
    comparison raises TypeError, silently disabling pruning for every
    timestamp-keyed merge. Both sides are therefore normalized to the
    INTEGER epoch-microsecond instant (the batch side via
    F.unix_micros in _validate_batch_keys): converting either side
    to a naive wall-clock rendering instead would be WRONG under a
    non-UTC session timezone (shifted ranges ⇒ a dir wrongly pruned ⇒
    silent row loss in merges) and ambiguous inside DST folds —
    integer instants have neither problem. Naive footer timestamps
    (TIMESTAMP_NTZ columns) stay naive, as the batch's are."""
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        return (v - epoch) // dt.timedelta(microseconds=1)
    return v


def _recordable(v, want: type) -> bool:
    if type(v) is not want:
        return False
    if want is float:
        return math.isfinite(v)
    return want is not str or len(v) <= _MAX_STAT_CHARS


def _encode_stat(v):
    """A recordable stat as a plain JSON scalar: dates and naive
    timestamps as ISO strings, decimals as their exact string."""
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v) if isinstance(v, Decimal) else v


_DECODE_STAT = {
    Decimal: Decimal,
    dt.date: dt.date.fromisoformat,
    dt.datetime: dt.datetime.fromisoformat,
}


def _recorded_range(m: dict, d: str, col: str) -> tuple | None:
    """(lo, hi) of ``col`` in delta dir ``d`` as manifest ``m`` records
    it, decoded by the column's type in ``m``'s schema; None when
    unrecorded, which keeps the dir."""
    rng = m.get("ranges", {}).get(d, {}).get(col)
    if rng is None:
        return None
    decode = _DECODE_STAT.get(_stat_type(m["schema"][col]))
    return tuple(map(decode, rng)) if decode else tuple(rng)


def _fsync_tree(path: str) -> None:
    """fsync every file and directory under ``path``. Spark writes
    parquet without fsync; publishing a manifest that points at
    non-durable data would let a power loss leave the COMMITTED
    version truncated. Driver-side walk — delta dirs are one commit's
    output, not the whole table history."""
    for root, dirs, files in os.walk(path, topdown=False):
        for name in files:
            _fsync_path(os.path.join(root, name))
        _fsync_path(root)


def _read_dirs(
    spark: SparkSession,
    table_dir: str,
    dirs: list[str],
    schema: dict[str, str],
) -> DataFrame:
    """Union the delta directories of one version, each read WITH the
    version's recorded schema — no inference job, and a delta dir
    holding zero parquet files (a committed empty partitioned append
    writes only _SUCCESS) reads as an empty frame instead of failing
    with UNABLE_TO_INFER_SCHEMA. Multi-dir versions unionByName, so
    post-evolution reads see old deltas null-filled in the evolved
    columns; the final select pins the manifest's column order."""
    from pyspark.sql import functions as F

    ddl = _ddl(schema)
    frames = [spark.read.schema(ddl).parquet(os.path.join(table_dir, d)) for d in dirs]
    out = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
    # CAST to the recorded schema, not just select: hive-partition
    # columns come back with DIRECTORY-INFERRED types (a string region
    # partition stays string, but '2024-01-01' infers date, '42' infers
    # int) — the manifest's recorded type is the contract
    return out.select(*[F.col(c).cast(t).alias(c) for c, t in schema.items()])


def _lt(a, b) -> bool:
    """``a < b`` as Spark's filter compares them: a double against an
    integer or decimal compares as double (Decimal('9.99') equals the
    double 9.99 in Spark, an exact compare puts it below)."""
    if float in (type(a), type(b)) and all(isinstance(v, (int, float, Decimal)) for v in (a, b)):
        return float(a) < float(b)
    return a < b


def _range_disjoint(rng, lo, hi) -> bool:
    """True when [rng.min, rng.max] provably misses [lo, hi] (either
    bound may be None = unbounded). Unknown stats (``rng`` None) and
    incomparable types keep the dir."""
    if rng is None:
        return False
    try:
        if lo is not None and _lt(rng[1], lo):
            return True
        if hi is not None and _lt(hi, rng[0]):
            return True
    except TypeError:
        return False
    return False


def prune_dirs(m: dict, ranges: dict[str, tuple]) -> list[str]:
    """Delta directories of manifest ``m`` that can contain rows
    matching every column range in ``ranges`` ({col: (lo, hi)}, None =
    unbounded side).

    Reads the per-dir min/max ``m`` records (its ``ranges``, written
    from the parquet footers when each dir was published), the same
    ranges merge pruning uses: no file is opened. A dir with no
    recorded range for a column is KEPT: pruning is an optimization,
    never the correctness boundary. This is what makes z-ordered
    writes (write_zordered) pay off on the READ side: clustered files
    give narrow per-dir ranges, so a selective filter touches a strict
    subset of dirs."""
    return [
        d
        for d in m["dirs"]
        if not any(
            _range_disjoint(_recorded_range(m, d, col), lo, hi)
            for col, (lo, hi) in ranges.items()
        )
    ]


def read_table(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    where: dict | None = None,
) -> DataFrame:
    """Read the current version (or a pinned one — time travel).

    ``where`` ({col: (lo, hi) | scalar}) both PRUNES delta directories
    by the read version's recorded ranges (prune_dirs) and applies the exact
    row filter to the result, so ``read_table(..., where=w)`` equals
    ``read_table(...)`` filtered — just cheaper: at 100 TB the scan,
    not the merge, dominates, and a selective filter on a z-ordered
    table reads a strict subset of dirs.

    Resolution is manifest -> immutable directories, so a concurrent
    COMMIT can never yield a missing path or a half-written mix: the
    reader's directories existed, complete, before its manifest was
    published. A concurrent VACUUM can delete versions past retention,
    including one being read — size ``keep_last`` to outlast the
    longest-running reader (the standard table-format retention
    contract); a pinned read that loses that race raises a clear
    "vacuumed" error, not a raw path error.
    """
    from pyspark.sql import functions as F

    cur = read_manifest(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table_dir!r}")
    if version is None or version == cur["version"]:
        m = cur
    else:
        if not 1 <= version <= cur["version"]:
            raise ValueError(
                f"version {version} not in [1, {cur['version']}] for {table_dir!r}"
            )
        m = _load_snapshot(table_dir, version, cur)
    dirs = m["dirs"]
    cond = None
    if where:
        ranges = {
            c: (v if isinstance(v, tuple) else (v, v)) for c, v in where.items()
        }
        dirs = prune_dirs(m, ranges)
        for c, (lo, hi) in ranges.items():
            for bound, op in ((lo, "__ge__"), (hi, "__le__")):
                if bound is not None:
                    term = getattr(F.col(c), op)(F.lit(bound))
                    cond = term if cond is None else (cond & term)
    if dirs:
        out = _read_dirs(spark, table_dir, dirs, m["schema"])
    else:  # every dir pruned: an empty frame with the table schema
        out = spark.createDataFrame([], _ddl(m["schema"]))
    return out.filter(cond) if cond is not None else out


def _load_snapshot(table_dir: str, version: int, cur: dict) -> dict:
    """Version snapshot, or the current manifest for the head; raises
    a 'vacuumed' error when retention dropped it. A data dir named
    v{N} can outlive version N's snapshot (newer versions still
    reference it), so only the snapshot file answers for version N."""
    if version == cur["version"]:
        return cur
    try:
        return _load(_snapshot_path(table_dir, version), table_dir)
    except FileNotFoundError:
        raise VacuumedError(
            f"version {version} of {table_dir!r} was vacuumed"
        ) from None


def read_changes(
    spark: SparkSession,
    table_dir: str,
    since_version: int,
    until_version: int | None = None,
    version_column: str | None = None,
) -> DataFrame:
    """Change feed: the rows ADDED after ``since_version`` (Delta's
    readChangeFeed for the append-only case). With dir-list versions
    this is O(delta): each append version's changes ARE the
    directories it added, so the feed is a union of exactly those
    directories — the full table is never scanned. ``since_version=0``
    means 'everything' (the feed of a table never read before).

    This is what makes a manifest table a first-class INCREMENTAL
    source without a watermark column: a consumer stores the last
    version it processed and reads forward from there — the engine's
    version-watermark pipeline mode (sources/__init__.py
    'changes_since').

    Compaction commits are layout-only (``data_change: false``) and
    are skipped — their rows were already emitted by the append
    commits that produced them. A real OVERWRITE inside the range
    breaks append-only semantics and raises :class:`FeedBrokenError`
    (the consumer must re-sync from a snapshot, exactly Delta CDF's
    contract); a snapshot already vacuumed raises
    :class:`VacuumedError` — size retention to outlast your slowest
    consumer. Both come from :func:`plan_changes`.

    ``until_version`` pins the feed's UPPER bound (default: the
    current version). An incremental consumer that records its
    progress needs this: it captures the head version FIRST, reads the
    feed bounded to it, and records exactly that version — a commit
    landing mid-read can then never produce rows the recorded
    watermark claims were not read.

    ``version_column`` names an extra long column carrying the
    manifest version whose commit ADDED each row (Delta CDF's
    ``_commit_version`` analog). A merge-keyed consumer needs it: a
    key updated in two source versions inside one feed range yields
    two delta rows, and only the feed version says which one wins —
    no data column carries that ordering. Costs nothing extra to
    read: the same delta dirs, one literal per version.
    """
    from pyspark.sql import functions as F

    by_version, schema = plan_changes(table_dir, since_version, until_version)
    if not by_version:
        # empty feed with the bound version's schema, so downstream
        # unions and writes see stable columns
        out = spark.createDataFrame([], _ddl(schema))
        if version_column:
            out = out.withColumn(version_column, F.lit(None).cast("long"))
        return out
    if version_column is None:
        added = [d for _v, dirs in by_version for d in dirs]
        return _read_dirs(spark, table_dir, added, schema)
    # one frame per COMMIT (not per dir): the version literal is the
    # same for every dir a commit added, and the commit count in a feed
    # range is small by construction (a consumer reading a 10k-version
    # backlog should snapshot-resync, not feed)
    frames = [
        _read_dirs(spark, table_dir, dirs, schema).withColumn(
            version_column, F.lit(v).cast("long")
        )
        for v, dirs in by_version
    ]
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    )


def plan_changes(
    table_dir: str, since_version: int, until_version: int | None = None
) -> tuple[list[tuple[int, list[str]]], dict[str, str]]:
    """The change feed's plan over versions (since, until]: the delta
    directories each data-changing version added, as ``[(version,
    dirs)]`` in commit order, and the table schema as of ``until``
    (default: the current version). Manifest bookkeeping only — no
    data is read. The one planner behind both :func:`read_changes` and
    the ``manifest_table`` stream (streaming/manifest_source.py).

    Layout-only versions (``data_change: false``) add nothing and only
    shift the baseline. Raises ``ValueError`` for bounds outside
    ``0 <= since <= until <= current``, :class:`FeedBrokenError` when a
    data-changing version inside the range drops a directory (an
    overwrite or merge), and :class:`VacuumedError` when a snapshot
    the plan needs was reclaimed."""
    cur = read_manifest(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table_dir!r}")
    head = cur["version"] if until_version is None else int(until_version)
    if not 0 <= since_version <= cur["version"]:
        raise ValueError(
            f"since_version {since_version} not in [0, {cur['version']}] "
            f"for {table_dir!r}"
        )
    if not since_version <= head <= cur["version"]:
        raise ValueError(
            f"until_version {head} not in [{since_version}, {cur['version']}] "
            f"for {table_dir!r}"
        )
    if since_version == 0:
        prev: set[str] = set()
    else:
        prev = set(_load_snapshot(table_dir, since_version, cur)["dirs"])
    by_version: list[tuple[int, list[str]]] = []
    for v in range(since_version + 1, head + 1):
        m = _load_snapshot(table_dir, v, cur)
        dirs = set(m["dirs"])
        if m.get("data_change", True):
            removed = prev - dirs
            if removed:
                raise FeedBrokenError(
                    f"change feed of {table_dir!r} broken by an "
                    f"overwrite/merge at version {v} (directories "
                    f"{sorted(removed)} dropped); re-sync from a full "
                    f"snapshot (a stream restarts with startingVersion={v})"
                )
            new = [d for d in m["dirs"] if d not in prev]
            if new:
                by_version.append((v, new))
        # layout-only versions shift the baseline without logical change
        prev = dirs
    # column set AS OF the feed's upper bound — cur's schema may have
    # evolved past `head`, and those columns don't exist in the fed dirs
    schema = (cur if head == 0 else _load_snapshot(table_dir, head, cur))["schema"]
    return by_version, schema


def history(table_dir: str) -> list[dict]:
    """The table's retained commit history, oldest first — version,
    dirs, fencing token, txn marks, data_change flag per entry (the
    DESCRIBE HISTORY analog). Pure manifest bookkeeping: no data read,
    no lock (snapshots are immutable; the head is one atomic read).
    Vacuumed versions are absent — history length is the retention
    window, by design."""
    cur = read_manifest(table_dir)
    if cur is None:
        return []
    out: list[dict] = []
    for v in range(1, cur["version"] + 1):
        try:
            out.append(_load_snapshot(table_dir, v, cur))
        except FileNotFoundError:
            continue  # vacuumed
    return out


def merge_upsert(
    spark: SparkSession,
    table_dir: str,
    batch: DataFrame,
    merge_keys: tuple[str, ...],
    txn: tuple[str, int] | None = None,
    partition_by: tuple[str, ...] | None = None,
) -> dict:
    """Row-level MERGE (Delta's ``whenMatchedUpdateAll /
    whenNotMatchedInsertAll``): table rows whose key matches a batch
    row are REPLACED by it, unmatched batch rows are INSERTED, and —
    the scale-defining part — delta directories that provably contain
    NO matched key are carried into the new version UNTOUCHED.

    Pruning uses the FIRST merge key's per-dir min/max that the
    current manifest records in ``ranges`` (footer statistics taken
    when each dir was published — the Delta/Iceberg file-skipping
    idiom, at directory grain, with no file opened at merge time): a
    dir whose key range cannot intersect the batch's [min, max] is
    kept as-is; everything else is rewritten as survivors (anti-join
    on the full key) unioned with the batch into ONE new directory.
    Cost is O(matched dirs + batch), not O(table) — on a table loaded
    by time- or id-ordered appends, a merge touching recent keys
    rewrites only the recent directories. Pruning degrades SAFELY:
    an unrecorded range (missing stats, a partition-column, binary or
    over-long string key) or unordered data just mean more dirs
    rewritten, never a wrong result. The rows a rewrite drops are the
    touched dirs' recorded ``dir_rows``, so the merge opens no footer
    but the new dir's. A dir with no ``ranges`` or ``dir_rows`` entry
    (published before they were recorded) has its footers walked once
    here; the new version records the result.

    Contract:
    - batch columns must match the manifest schema exactly (merge is
      not a schema-evolution path);
    - batch keys must be UNIQUE — "replace with which row?" is a
      caller bug this surfaces loudly rather than resolving silently;
    - ``txn=(app_id, version)`` gives the same exactly-once replay
      fence as commit(); merge is also IDEMPOTENT by semantics
      (replaying the same batch reproduces the same table state);
    - old versions still time-travel to pre-merge rows (rewritten
      dirs stay on disk, reference-counted by vacuum);
    - the change feed cannot express row replacement: read_changes
      across a merge version raises its re-sync error, exactly as for
      an overwrite.

    The reference has no update path at all — its sink is append-only
    and replays duplicate (util.py:251-271, SURVEY.md §2.C #5); this
    is the engine-side upsert endpoint for CDC-style workloads, the
    manifest twin of upsert_overwrite_parquet on the staged-swap sinks.
    """
    keys = list(merge_keys)
    if not keys:
        raise ValueError("merge_upsert needs at least one merge key")
    os.makedirs(table_dir, exist_ok=True)
    # the batch plan feeds up to three jobs (validation agg, anti-join
    # key side, union write side): persist so an expensive upstream
    # (windowed micro-batch, multi-join CDC source) computes once
    batch = batch.persist()
    try:
        with writer_lease(_manifest_path(table_dir)) as fence:
            return _merge_locked(
                spark, table_dir, batch, keys, txn, partition_by, fence
            )
    finally:
        batch.unpersist()


def _merge_locked(
    spark: SparkSession,
    table_dir: str,
    batch: DataFrame,
    keys: list[str],
    txn: tuple[str, int] | None,
    partition_by: tuple[str, ...] | None,
    fence: int,
) -> dict:
    cur = read_manifest(table_dir)
    if cur is None:
        # first write: merge degenerates to the initial commit — but
        # the key contract holds from birth (a first batch with
        # duplicate or NULL keys would poison every later merge)
        _validate_batch_keys(batch, keys, "merge_upsert")
        return _commit_locked(
            batch, table_dir, "overwrite", fence, txn=txn,
            partition_by=partition_by,
        )
    parts = _table_layout(cur, partition_by, f"merge into {table_dir!r}")
    marks = _txn_fence(cur, txn)
    if marks is None:
        return cur  # replayed batch: already merged
    schema = _check_schema(cur, batch, merge_schema=False, table_dir=table_dir)
    stats = _validate_batch_keys(batch, keys, "merge_upsert")
    if stats["n"] == 0 and txn is None:
        return cur  # empty batch: nothing to merge, no version burned
    # An empty batch WITH a txn still commits (an empty delta carrying
    # the mark, as commit() does): returning early would leave a hole
    # in the (app_id -> batch) sequence, and a later out-of-order replay
    # of this batch id WITH data would not be fenced. Nothing can
    # match, so every dir is kept.
    dir_rows = dict(cur.get("dir_rows", {}))
    ranges = dict(cur.get("ranges", {}))
    for d in cur["dirs"]:
        if d not in dir_rows or d not in ranges:  # published before recorded
            dir_rows[d], ranges[d] = _footer_stats(os.path.join(table_dir, d), schema)
    cur = {**cur, "dir_rows": dir_rows, "ranges": ranges}
    touched: list[str] = []
    kept: list[str] = []
    for d in cur["dirs"]:
        disjoint = stats["n"] == 0 or _range_disjoint(
            _recorded_range(cur, d, keys[0]), stats["kmin"], stats["kmax"]
        )
        (kept if disjoint else touched).append(d)
    out = batch
    if touched:
        existing = _read_dirs(spark, table_dir, touched, schema)
        survivors = existing.join(batch.select(*keys), on=keys, how="left_anti")
        out = survivors.unionByName(batch)
    return _publish(
        table_dir, cur, fence, _parquet_writer(out, parts), kept,
        sum(dir_rows[d] for d in touched), schema, marks, parts,
    )


def compact(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Rewrite the CURRENT version into ONE directory of ~target-sized
    files as a new commit — the manifest-table answer to both the
    small-files problem AND the growing ``dirs`` list O(delta) appends
    accumulate (each append adds a directory; this folds them).

    Holds the lease across read-size-rewrite-publish, so a commit
    landing mid-compaction is impossible (it would otherwise be
    silently undone by the compacted snapshot of the older version).
    Readers are untouched throughout: compaction is just another
    version; the folded delta dirs stay on disk for time travel until
    vacuum reclaims them. Returns the new manifest.
    """
    with writer_lease(_manifest_path(table_dir)) as fence:
        cur = read_manifest(table_dir)
        if cur is None:
            raise FileNotFoundError(f"no committed version in {table_dir!r}")
        total = 0
        for rel in cur["dirs"]:
            for root, _dirs, files in os.walk(os.path.join(table_dir, rel)):
                total += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files
                    if f.endswith(".parquet")
                )
        n_files = max(1, -(-total // target_file_bytes))  # ceil division
        parts = tuple(cur.get("partition_by") or ())
        df = _read_dirs(spark, table_dir, cur["dirs"], cur["schema"])
        # cluster by partition columns so the fold yields few files per
        # partition, and PRESERVE the table's layout property
        df = df.repartition(n_files, *parts) if parts else df.repartition(n_files)
        return _commit_locked(
            df, table_dir, "overwrite", fence, data_change=False,
            partition_by=parts or None,
        )


def vacuum(table_dir: str, keep_last: int = 2) -> list[int]:
    """Reclaim history past retention: drop version snapshots older
    than the newest ``keep_last``, then delete every delta directory
    NO retained version references (versions share dirs, so age alone
    never justifies deletion), plus crashed-commit debris — dirs and
    snapshots numbered ABOVE the current version (under the lease no
    commit is in flight, so anything above current is provably
    garbage) and stray ``.manifest.tmp`` files beside the pointer and
    the snapshots. Returns the dropped COMMITTED version numbers."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1: the live version is never vacuumed")
    removed: list[int] = []
    with writer_lease(_manifest_path(table_dir)):
        cur = read_manifest(table_dir)
        if cur is None:
            return removed
        cutoff = cur["version"] - keep_last + 1
        # 1. drop out-of-retention (and orphaned future) snapshots
        mdir = os.path.join(table_dir, "_manifests")
        retained: list[dict] = [cur]
        for entry in sorted(os.listdir(mdir)):
            m = re.fullmatch(r"v(\d{8})\.json", entry)
            if m is None:
                continue  # debris: never wedge retention on it
            v = int(m.group(1))
            if v < cutoff or v > cur["version"]:
                os.unlink(os.path.join(mdir, entry))
                if v < cutoff:
                    removed.append(v)
            elif v != cur["version"]:
                retained.append(_load(os.path.join(mdir, entry), table_dir))
        # 2. delete data dirs no retained version references
        referenced = {d for m in retained for d in m["dirs"]}
        vdir = os.path.join(table_dir, "_versions")
        for entry in sorted(os.listdir(vdir)):
            # strict name match: stray non-version entries (editor
            # backups, operator debris like 'v1.bak') are skipped, not
            # int()-crashed — a single piece of debris must not wedge
            # retention enforcement for the table forever
            if _VERSION_RE.fullmatch(entry) is None:
                continue
            rel = os.path.join("_versions", entry)
            if rel not in referenced:
                shutil.rmtree(os.path.join(vdir, entry))
                v = int(entry[1:])
                if v < cutoff and v not in removed:
                    removed.append(v)
        # 3. temps of crashed pointer and snapshot writes
        for d in (table_dir, mdir):
            for entry in os.listdir(d):
                if entry.endswith(_TMP_SUFFIX):
                    os.unlink(os.path.join(d, entry))
    return sorted(set(removed))
