"""Spark streaming CHANGE-FEED source over manifest tables, whose
offsets ARE manifest versions (the Python DataSource API, SPARK-44076):

    spark.dataSource.register(ManifestTableDataSource)
    # every micro-batch is the rows of newly committed versions —
    # offsets checkpoint as {"version": N}
    spark.readStream.format("manifest_table").option("path", t).load()

Batch reads and writes of a manifest table go through
sinks/manifest.py (``read_table``/``commit``, or the ``manifest``
source and sink of the registries); an exactly-once stream INTO a
manifest table is ``foreachBatch`` + ``commit(..., txn=(app_id,
batch_id))``.

Why offsets-as-versions is the right streaming contract here:

- the planner (driver) decides a batch as (start_version, end_version]
  and expands it to the DELTA DIRECTORIES those commits added with
  manifest.plan_changes — the same O(delta) bookkeeping, bounds checks
  and typed errors as manifest.read_changes, never a table scan;
- partitions are individual parquet FILES of those directories, so a
  large commit fans out across executors (each executor reads its
  file with pyarrow and yields Arrow record batches — no driver
  materialization, no Python row loop);
- replays are exact: a directory named by a committed manifest is
  immutable, so re-planning the same offset range after a crash reads
  identical bytes (the file-source guarantee, without the file-source
  bookkeeping);
- layout-only versions (compaction, ``data_change: false``) plan ZERO
  partitions — consumers never re-see compacted rows;
- an OVERWRITE inside the range fails the batch loudly with
  ``FeedBrokenError`` (append-only feeds cannot express removals —
  Delta CDF's contract), and vacuum retention must outlast the
  consumer's lag, exactly as for read_changes.

Triggers: a drain is ONE micro-batch. The reader has no admission
control (Spark 4.1's Python ``DataSourceStreamReader`` offers no hook
for it), so under ``trigger(availableNow=True)`` Spark logs that the
source does not support Trigger.AvailableNow and falls back to a
single batch — Trigger.Once semantics: the drain delivers every
version committed up to the head it sees at start, however many, in
one batch. After a crash that left a planned batch uncommitted, the
next drain replays only that batch (its offset range is already in the
checkpoint) and stops; versions committed since then arrive with the
drain after it.

Schema: resolved from the manifest (the table's recorded column ->
type map) at plan time; evolved columns are null-filled per file on
the EXECUTOR (Arrow-side), so old delta files read under the current
schema.
"""

from __future__ import annotations

import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

FORMAT_NAME = "manifest_table"


def _opt(options: dict, name: str, default=None):
    """Spark lowercases DataSource option keys; accept either form."""
    if name in options:
        return options[name]
    return options.get(name.lower(), default)


def _table_path(options: dict) -> str:
    path = _opt(options, "path")
    if not path:
        raise ValueError(f"{FORMAT_NAME}: 'path' option is required")
    return path


def _list_parquet_files(table_dir: str, rel_dirs: list[str]) -> list:
    """(file_path, partition_values) pairs. Hive-partitioned delta dirs
    encode partition values in the path (col=value segments,
    URL-escaped, __HIVE_DEFAULT_PARTITION__ = null); flat tables get
    an empty dict."""
    from urllib.parse import unquote

    out = []
    for rel in rel_dirs:
        d = os.path.join(table_dir, rel)
        for root, _dirs, names in os.walk(d):
            part_values = {}
            for seg in os.path.relpath(root, d).split(os.sep):
                if "=" in seg:
                    col, _, raw = seg.partition("=")
                    raw = unquote(raw)
                    part_values[col] = (
                        None if raw == "__HIVE_DEFAULT_PARTITION__" else raw
                    )
            for n in sorted(names):
                if n.endswith(".parquet"):
                    out.append((os.path.join(root, n), part_values))
    return out


class _FilePartition(InputPartition):
    """Carries the target ARROW schema (picklable), resolved on the
    driver — executors have no SparkContext to parse DDL with — plus
    the file's hive-partition values (raw strings from the path)."""

    def __init__(self, file_path: str, arrow_schema, part_values=None):
        self.file_path = file_path
        self.arrow_schema = arrow_schema
        self.part_values = dict(part_values or {})


def _arrow_type(simple: str):
    """Manifest simpleString type -> pyarrow type. Hand-rolled because
    EVERY hook of a Python DataSource (including partitions()) runs in
    a context-free Python worker — Spark's own DDL parser needs a
    SparkContext that does not exist there. Covers the engine's type
    surface; unknown types raise rather than guess."""
    import pyarrow as pa

    s = simple.strip()
    scalars = {
        "tinyint": pa.int8(),
        "smallint": pa.int16(),
        "int": pa.int32(),
        "bigint": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "boolean": pa.bool_(),
        "binary": pa.binary(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if s in scalars:
        return scalars[s]
    if s.startswith("decimal(") and s.endswith(")"):
        prec, scale = s[len("decimal(") : -1].split(",")
        return pa.decimal128(int(prec), int(scale))
    if s.startswith("array<") and s.endswith(">"):
        return pa.list_(_arrow_type(s[len("array<") : -1]))
    if s.startswith("map<") and s.endswith(">"):
        # split on the top-level comma (keys are scalar in this engine)
        inner = s[len("map<") : -1]
        k, v = inner.split(",", 1)
        return pa.map_(_arrow_type(k), _arrow_type(v))
    raise ValueError(
        f"{FORMAT_NAME}: unsupported manifest type {simple!r} — pass an "
        f"explicit .schema(...) or extend _arrow_type"
    )


def _arrow_schema_for(schema: dict[str, str]):
    """Manifest column->type map -> pyarrow schema (worker-safe)."""
    import pyarrow as pa

    return pa.schema([pa.field(c, _arrow_type(t)) for c, t in schema.items()])


def _const_array(raw, field, n):
    """Constant column for a hive-partition value: the raw path string
    cast through Arrow to the recorded type (None = hive null)."""
    import pyarrow as pa

    if raw is None:
        return pa.nulls(n, type=field.type)
    return pa.array([raw] * n, type=pa.string()).cast(field.type)


def _read_file_as_arrow(file_path: str, want, part_values=None) -> Iterator:
    """Executor-side: stream one parquet file as Arrow record batches
    conformed to the table schema (missing evolved columns null-filled,
    hive-partition columns injected from the path, column order
    pinned). No pandas, no Python rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    part_values = part_values or {}
    pf = pq.ParquetFile(file_path)
    have = {f.name for f in pf.schema_arrow}
    read_cols = [f.name for f in want if f.name in have]
    for batch in pf.iter_batches(columns=read_cols):
        arrays = []
        for field in want:
            if field.name in have:
                arrays.append(batch.column(read_cols.index(field.name)).cast(field.type))
            elif field.name in part_values:
                arrays.append(_const_array(part_values[field.name], field, batch.num_rows))
            else:
                arrays.append(pa.nulls(batch.num_rows, type=field.type))
        yield pa.RecordBatch.from_arrays(arrays, schema=want)


class ManifestFeedStreamReader(DataSourceStreamReader):
    """Change-feed stream: offset = manifest version."""

    def __init__(self, options: dict):
        self.table_dir = _table_path(options)
        self.start_version = int(_opt(options, "startingVersion", 0))

    # -- offset protocol ----------------------------------------------

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        from etl_data_pipeline_spark.sinks.manifest import read_manifest

        cur = read_manifest(self.table_dir)
        return {"version": self.start_version if cur is None else cur["version"]}

    # -- batch planning (driver) --------------------------------------

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        from etl_data_pipeline_spark.sinks.manifest import plan_changes

        lo, hi = int(start["version"]), int(end["version"])
        if hi <= lo:
            return []
        by_version, schema = plan_changes(self.table_dir, lo, hi)
        want = _arrow_schema_for(schema)
        return [
            _FilePartition(f, want, pv)
            for _v, dirs in by_version
            for f, pv in _list_parquet_files(self.table_dir, dirs)
        ]

    # -- executor-side read -------------------------------------------

    def read(self, partition: _FilePartition) -> Iterator:
        if partition is None:
            return iter(())  # empty micro-batch scheduled as one task
        return _read_file_as_arrow(
            partition.file_path, partition.arrow_schema, partition.part_values
        )

    def commit(self, end: dict) -> None:
        pass  # progress lives in the streaming checkpoint


class ManifestTableDataSource(DataSource):
    """``manifest_table`` format: the streaming change feed only."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType | str:
        from etl_data_pipeline_spark.sinks.manifest import _ddl, read_manifest

        cur = read_manifest(_table_path(self.options))
        if cur is None:
            raise ValueError(
                f"{FORMAT_NAME}: cannot infer schema — table has no committed "
                f"manifest (pass .schema(...) explicitly)"
            )
        return _ddl(cur["schema"])

    def streamReader(self, schema) -> ManifestFeedStreamReader:
        return ManifestFeedStreamReader(dict(self.options))


def register(spark) -> None:
    """Idempotent format registration for the current session.

    Also pins the JVM's thread-local active session so the format
    resolves from pipeline worker threads (see
    sources/avro_format.py:register for the full story — without the
    pin, Python DataSource lookup from a fresh Python thread raises
    DATA_SOURCE_NOT_FOUND even though the format is registered)."""
    spark.dataSource.register(ManifestTableDataSource)
    jss = getattr(spark, "_jsparkSession", None)
    if jss is not None:  # classic py4j session (not Spark Connect)
        spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(jss)
