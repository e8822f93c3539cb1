"""The parquet schema memo (session.read_parquet): a read whose
inferred schema is already known runs no inference job, and the memo
gives exactly the schema ``spark.read.parquet(path).schema`` gives
wherever Spark would infer it again."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_data_pipeline_spark.session import load_table, read_parquet
from etl_data_pipeline_spark.sources import read_source
from tests.test_pipeline import _jobs_of


def _write(path, **cols):
    pq.write_table(pa.table(cols), path)


def _schema_jobs(spark, path):
    """The memo's schema of ``path``, the jobs reading it ran, and the
    schema Spark infers now."""
    schema, jobs = _jobs_of(spark, lambda: read_parquet(spark, path).schema)
    return schema, jobs, spark.read.parquet(path).schema


def test_second_read_of_unchanged_path_runs_no_job(spark, tmp_path):
    src = tmp_path / "src"
    os.makedirs(src / "t.parquet")
    _write(str(src / "t.parquet" / "part-00000.parquet"), id=[1, 2], v=["a", "b"])
    opts = {"dir": str(src)}
    first, jobs = _jobs_of(spark, lambda: read_source(spark, "parquet", "t", opts).schema)
    assert jobs == 1  # the inference job, once
    again, jobs = _jobs_of(spark, lambda: read_source(spark, "parquet", "t", opts).schema)
    assert (again, jobs) == (first, 0)
    assert read_source(spark, "parquet", "t", opts).count() == 2

    _write(str(tmp_path / "orders.parquet"), o_orderkey=[1], o_total=[2.5])
    first, _ = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "orders").schema)
    again, jobs = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "orders").schema)
    assert (again, jobs) == (first, 0)


def test_a_later_sorting_file_reuses_the_schema(spark, tmp_path):
    """Spark infers from the first file in path order only: a file that
    sorts after it, even with an extra column, changes nothing."""
    d = str(tmp_path / "t")
    os.makedirs(d)
    _write(os.path.join(d, "part-00000.parquet"), id=[1])
    read_parquet(spark, d)
    _write(os.path.join(d, "part-00001.parquet"), id=[2], extra=["x"])
    schema, jobs, inferred = _schema_jobs(spark, d)
    assert jobs == 0
    assert schema == inferred and schema.names == ["id"]
    assert sorted(r.id for r in read_parquet(spark, d).collect()) == [1, 2]


def test_a_new_first_file_is_inferred(spark, tmp_path):
    d = str(tmp_path / "t")
    os.makedirs(d)
    _write(os.path.join(d, "part-00001.parquet"), id=[2])
    read_parquet(spark, d)
    _write(os.path.join(d, "part-00000.parquet"), id=[1], extra=["x"])
    schema, jobs, inferred = _schema_jobs(spark, d)
    assert jobs == 1
    assert schema == inferred and schema.names == ["id", "extra"]


def test_a_rewritten_first_file_is_inferred(spark, tmp_path):
    d = str(tmp_path / "t")
    os.makedirs(d)
    first = os.path.join(d, "part-00000.parquet")
    _write(first, id=[1])
    read_parquet(spark, d)
    _write(first, id=["one"], v=[1.5])  # same name, new size and mtime
    schema, jobs, inferred = _schema_jobs(spark, d)
    assert jobs == 1
    assert schema == inferred
    assert [(f.name, f.dataType.simpleString()) for f in schema] == [
        ("id", "string"), ("v", "double")
    ]


def test_partitioned_layout_infers_every_time(spark, tmp_path):
    """A hive layout is outside the memo: a new partition value that
    turns ``k`` from int into string is seen at once."""
    d = str(tmp_path / "t")
    os.makedirs(os.path.join(d, "k=1"))
    _write(os.path.join(d, "k=1", "part-00000.parquet"), id=[1])
    assert dict(read_parquet(spark, d).dtypes)["k"] == "int"
    os.makedirs(os.path.join(d, "k=abc"))
    _write(os.path.join(d, "k=abc", "part-00000.parquet"), id=[2])
    schema, _, inferred = _schema_jobs(spark, d)
    assert schema == inferred
    assert schema["k"].dataType.simpleString() == "string"


def test_summary_file_and_merge_schema_infer_as_spark_does(spark, tmp_path):
    d = str(tmp_path / "t")
    os.makedirs(d)
    _write(os.path.join(d, "part-00000.parquet"), id=[1])
    _write(os.path.join(d, "part-00001.parquet"), id=[2], extra=["x"])
    merged = read_parquet(spark, d, {"mergeSchema": "true"}).schema
    assert merged == spark.read.option("mergeSchema", "true").parquet(d).schema
    assert merged.names == ["id", "extra"]
    _write(os.path.join(d, "_common_metadata"), id=[0], meta=["m"])
    schema, _, inferred = _schema_jobs(spark, d)
    assert schema == inferred and schema.names == ["id", "meta"]


def test_events_ts_is_timestamp_on_a_memo_hit(spark, tmp_path):
    """``load_table('events')`` reads through the memo under its
    ``nanosAsLong`` derived session: a TIMESTAMP(NANOS) ``ts`` still
    lands as TIMESTAMP, on the inferring read and on the memo hit."""
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns", tz="UTC"))
    pq.write_table(
        pa.table({"event_id": [1], "ts": ts}),
        str(tmp_path / "events.parquet"),
        coerce_timestamps=None,
        version="2.6",
    )
    for expect_jobs in (1, 0):
        df, jobs = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "events"))
        assert jobs == expect_jobs
        assert dict(df.dtypes)["ts"] == "timestamp"
        us = df.selectExpr("unix_micros(ts) AS us").first().us
        assert us == 1_700_000_000_123_456
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "false"


def test_missing_local_source_raises_before_any_reader(spark, tmp_path):
    """A local parquet source that does not exist is a FileNotFoundError
    naming the path, raised before Spark sees it: no job runs, and no
    failed analysis reaches the session's listeners."""

    def read():
        with pytest.raises(FileNotFoundError) as exc:
            read_source(spark, "parquet", "nope", {"dir": str(tmp_path)})
        return exc.value

    err, jobs = _jobs_of(spark, read)
    assert (err.filename, jobs) == (os.path.join(str(tmp_path), "nope.parquet"), 0)
