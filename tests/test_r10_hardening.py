"""Round-10 hardening: version-feed multi-version deltas (ADVICE r9
medium), feed-version column on read_changes, and checkpoint
compatibility coercions."""

import os

import pytest

from etl_data_pipeline_spark.pipeline import IncrementalPipeline
from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
from etl_data_pipeline_spark.watermark import WatermarkStore


def _kv_spec(src_dir, tmp_path, **over):
    base = dict(
        name="kv",
        watermark_type="version",
        source_format="manifest",
        source_options={"dir": src_dir},
        sink_format="manifest",
        sink_options={"dir": str(tmp_path / "sink"), "mode": "upsert"},
        merge_keys=("k",),
    )
    base.update(over)
    return PipelineSpec(tables=[TableSpec(**base)])


def test_version_feed_multi_version_key_upsert(spark, tmp_path):
    """ADVICE r9 (medium): a key updated in >=2 source versions since
    the watermark used to arrive as duplicate merge keys in the
    unioned delta — the merge-key check raised and the table wedged
    permanently (every retry re-reads the same or a larger range). The
    delta is now compacted last-write-wins by the FEED VERSION before
    the merge."""
    from etl_data_pipeline_spark.sinks.manifest import commit as mcommit
    from etl_data_pipeline_spark.sinks.manifest import read_table as mread

    src_dir = str(tmp_path / "msrc")
    src_t = os.path.join(src_dir, "kv")
    mcommit(spark.createDataFrame([(1, "v1"), (2, "b")], "k long, v string"), src_t)
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, _kv_spec(src_dir, tmp_path), store)
    assert pipe.run()[0].status == "loaded"
    # key 1 updated TWICE before the consumer runs again (two commits)
    mcommit(
        spark.createDataFrame([(1, "v2")], "k long, v string"), src_t, mode="append"
    )
    mcommit(
        spark.createDataFrame([(1, "v3"), (3, "c")], "k long, v string"),
        src_t,
        mode="append",
    )
    r = pipe.run()[0]
    assert r.status == "loaded", r.error
    got = {
        (row.k, row.v)
        for row in mread(spark, str(tmp_path / "sink" / "kv")).collect()
    }
    assert got == {(1, "v3"), (2, "b"), (3, "c")}  # newest version wins
    # and the feed-version engine column never reaches the sink
    assert "_feed_version" not in mread(spark, str(tmp_path / "sink" / "kv")).columns


def test_version_feed_compacts_by_version_not_business_time(spark, tmp_path):
    """ADVICE r9: when the rows carry a business timestamp, the OLD
    compaction ordered by it — a correction re-emitting a key with an
    OLDER timestamp silently lost to the stale row. Feed-version
    ordering keeps the correction."""
    from etl_data_pipeline_spark.sinks.manifest import commit as mcommit
    from etl_data_pipeline_spark.sinks.manifest import read_table as mread

    src_dir = str(tmp_path / "msrc")
    src_t = os.path.join(src_dir, "kv")
    mcommit(
        spark.createDataFrame([(1, 100, "orig")], "k long, ts long, v string"),
        src_t,
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, _kv_spec(src_dir, tmp_path), store)
    assert pipe.run()[0].status == "loaded"
    # v2: a late event (ts 200); v3: a CORRECTION re-emitting ts 50
    mcommit(
        spark.createDataFrame([(1, 200, "late")], "k long, ts long, v string"),
        src_t,
        mode="append",
    )
    mcommit(
        spark.createDataFrame([(1, 50, "corrected")], "k long, ts long, v string"),
        src_t,
        mode="append",
    )
    r = pipe.run()[0]
    assert r.status == "loaded", r.error
    rows = mread(spark, str(tmp_path / "sink" / "kv")).collect()
    assert [(x.k, x.ts, x.v) for x in rows] == [(1, 50, "corrected")]


def test_version_feed_multi_version_plain_merge_append(spark, tmp_path):
    """The non-upsert merge-keyed paths get the same compaction: a
    multi-version delta of one NEW key appends exactly one row (the
    newest), not one per source commit."""
    from etl_data_pipeline_spark.sinks.manifest import commit as mcommit
    from etl_data_pipeline_spark.sinks.manifest import read_table as mread

    src_dir = str(tmp_path / "msrc")
    src_t = os.path.join(src_dir, "kv")
    mcommit(spark.createDataFrame([(9, "seed")], "k long, v string"), src_t)
    spec = _kv_spec(
        src_dir,
        tmp_path,
        sink_options={"dir": str(tmp_path / "sink")},  # merge-append mode
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)
    assert pipe.run()[0].status == "loaded"
    mcommit(
        spark.createDataFrame([(5, "first")], "k long, v string"),
        src_t,
        mode="append",
    )
    mcommit(
        spark.createDataFrame([(5, "second")], "k long, v string"),
        src_t,
        mode="append",
    )
    assert pipe.run()[0].status == "loaded"
    got = mread(spark, str(tmp_path / "sink" / "kv")).filter("k = 5").collect()
    assert [(x.k, x.v) for x in got] == [(5, "second")]


def test_read_changes_version_column(spark, tmp_path):
    """read_changes(version_column=...) stamps each row with the
    manifest version whose commit added it (Delta CDF's
    _commit_version analog); an empty feed still carries the column
    (null-typed long) so downstream unions see stable schema."""
    from etl_data_pipeline_spark.sinks.manifest import commit as mcommit
    from etl_data_pipeline_spark.sinks.manifest import read_changes

    t = str(tmp_path / "t")
    mcommit(spark.createDataFrame([(1,)], "k long"), t)
    mcommit(spark.createDataFrame([(2,), (3,)], "k long"), t, mode="append")
    mcommit(spark.createDataFrame([(4,)], "k long"), t, mode="append")
    out = read_changes(spark, t, 1, version_column="_v")
    assert out.schema["_v"].dataType.typeName() == "long"
    got = {(r.k, r._v) for r in out.collect()}
    assert got == {(2, 2), (3, 2), (4, 3)}
    empty = read_changes(spark, t, 3, version_column="_v")
    assert "_v" in empty.columns and empty.count() == 0
    assert empty.schema["_v"].dataType.typeName() == "long"


def test_read_changes_without_version_column_unchanged(spark, tmp_path):
    from etl_data_pipeline_spark.sinks.manifest import commit as mcommit
    from etl_data_pipeline_spark.sinks.manifest import read_changes

    t = str(tmp_path / "t")
    mcommit(spark.createDataFrame([(1,)], "k long"), t)
    mcommit(spark.createDataFrame([(2,)], "k long"), t, mode="append")
    out = read_changes(spark, t, 0)
    assert set(out.columns) == {"k"}
    assert {r.k for r in out.collect()} == {1, 2}


def test_compact_parquet_splits_oversized_partitions(spark, tmp_path):
    """ADVICE r9: hive-layout compaction repartitioned by the
    partition columns only — every partition value hashed to ONE task
    and one output file, silently ignoring target_file_bytes. Large
    partitions now salt into ~target-sized files; small ones still
    fold to a single file."""
    from etl_data_pipeline_spark.sinks import compact_parquet, write_partitioned

    path = str(tmp_path / "pt")
    big = [(i, "big", "x" * 200) for i in range(20000)]
    small = [(i, "small", "y") for i in range(5)]
    df = spark.createDataFrame(big + small, "k long, day string, v string")
    write_partitioned(df, "pt", {"path": path}, ["day"])

    def leaf_files(day):
        d = os.path.join(path, f"day={day}")
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    # target far below the big partition's on-disk size
    big_bytes = sum(
        os.path.getsize(os.path.join(path, "day=big", f))
        for f in leaf_files("big")
    )
    compact_parquet(spark, path, target_file_bytes=max(1, big_bytes // 4))
    assert len(leaf_files("big")) >= 2  # split, not one oversized file
    assert len(leaf_files("small")) == 1  # still compacted to one
    back = spark.read.parquet(path)
    assert back.count() == 20005
    assert back.filter("day = 'small'").count() == 5
