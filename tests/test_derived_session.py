"""Library code never changes the caller's session conf: work that
needs a different SQL conf builds on a derived session
(``session.derived_session``) and is re-rooted into the caller's
(``session.reroot``). Pipeline tables and registry queries share one
session across threads, so a conf flip by one would be read by all."""

from __future__ import annotations

import ast
import glob
import os
import threading
import time
import uuid

import pytest
from pyspark.sql import functions as F

from etl_data_pipeline_spark.functions.caching import release_tracked
from etl_data_pipeline_spark.session import derived_session, load_table
from tests.test_pipeline import _jobs_of

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "etl_data_pipeline_spark",
)
WATCHED = (
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone",
)


def test_conf_is_set_only_by_the_derived_session_helper():
    """Every ``.conf.set(`` / ``.conf.unset(`` call in the package sits
    in ``session.derived_session``, which sets conf on its own clone."""
    offenders = []
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        allowed = set()
        if os.path.relpath(path, PKG) == "session.py":
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "derived_session":
                    allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("set", "unset")
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"
                and id(node) not in allowed
            ):
                offenders.append(f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert offenders == []


def test_derived_session_carries_runtime_conf_and_leaves_caller(spark):
    from pyspark import RDD

    to_df = RDD.toDF
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    base = derived_session(spark, {key: "7"})  # a caller with runtime conf
    child = derived_session(base, {"spark.sql.adaptive.enabled": "false"})
    assert child.conf.get(key) == "7"  # set after build, still carried
    assert child.conf.get("spark.sql.adaptive.enabled") == "false"
    assert base.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get(key) == before
    assert child.sparkContext is spark.sparkContext
    # pyspark's session constructor re-points RDD.toDF at the new
    # session; rdd.toDF() must not land on a derived one
    assert RDD.toDF is to_df


def test_registry_query_under_non_utc_caller(spark, sf_dir):
    """A registry query returns the UTC rows whatever the caller's
    session time zone, and the caller's time zone is unchanged."""
    from etl_data_pipeline_spark.operators import collect_registry

    fn = collect_registry()[0]["events_peak_concurrency"]
    key = "spark.sql.session.timeZone"
    ny = derived_session(spark, {key: "America/New_York"})

    def rows(df):
        return sorted(map(repr, df.collect()))

    want = rows(fn(spark, sf_dir))
    got = fn(ny, sf_dir)
    assert got.sparkSession is ny
    assert rows(got) == want
    assert ny.conf.get(key) == "America/New_York"
    # the query is time-zone sensitive: built on New York time directly,
    # its UTC day buckets shift
    assert rows(fn.__wrapped__(ny, sf_dir)) != want


def test_load_table_reads_nanosecond_events(spark, tmp_path):
    """TIMESTAMP(NANOS) ``events.ts``: a plain read fails, load_table
    lands it as ``timestamp`` truncated to microseconds, and the
    caller's ``nanosAsLong`` is never set."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    nanos = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999, 999]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(nanos, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
        version="2.6",
        coerce_timestamps=None,
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    assert spark.conf.get(key, None) is None
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        spark.read.parquet(str(tmp_path / "events.parquet")).collect()

    ev = load_table(spark, str(tmp_path), "events")
    assert ev.sparkSession is spark
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = sorted(
        tuple(r) for r in ev.select("event_id", F.unix_micros("ts")).collect()
    )
    assert got == [(1, nanos[0] // 1000), (2, nanos[1] // 1000), (3, 0)]
    assert spark.conf.get(key, None) is None
    # nothing leaked into the caller: its own read still refuses NANOS
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        spark.read.parquet(str(tmp_path / "events.parquet")).collect()


def test_model_loop_job_counts(spark, sf_dir):
    """The derived loop session runs the same jobs the loops ran on the
    caller's session with AQE switched off: 26 for one LR training
    (2 build queries, 20 gradient steps, the design), 42 for a
    collected PCA projection."""
    from etl_data_pipeline_spark.llm import features, similarity

    release_tracked(spark, blocking=True)
    _, lr_jobs = _jobs_of(spark, lambda: features._lr_train(spark, sf_dir))
    release_tracked(spark, blocking=True)
    _, pca_jobs = _jobs_of(
        spark, lambda: similarity.embedding_pca_project(spark, sf_dir).collect()
    )
    release_tracked(spark, blocking=True)
    assert (lr_jobs, pca_jobs) == (26, 42)


def _executed_plans(spark, description):
    """Physical plans of the SQL executions run under ``description``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [
        execs.apply(i).physicalPlanDescription()
        for i in range(execs.size())
        if execs.apply(i).description() == description
    ]


def test_model_loops_leave_a_concurrent_pipeline_alone(spark, sf_dir, tmp_path):
    """classifier_train_lr and embedding_pca_project on one thread, a
    pipeline table on another, one session: the pipeline thread never
    reads a changed conf, its shuffling plans stay adaptive, and the
    LR weights are bit-identical to a single-threaded run."""
    from etl_data_pipeline_spark.llm import features, similarity
    from etl_data_pipeline_spark.pipeline import IncrementalPipeline
    from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
    from etl_data_pipeline_spark.watermark import WatermarkStore

    release_tracked(spark, blocking=True)
    want = features.classifier_train_lr(spark, sf_dir).collect()
    release_tracked(spark, blocking=True)
    before = {k: spark.conf.get(k) for k in WATCHED}

    src = str(tmp_path / "src")
    table = TableSpec(
        name="kv", merge_keys=("id",), watermark_column="id",
        watermark_type="id", source_options={"dir": src},
        sink_options={"dir": str(tmp_path / "sink")},
    )
    pipe = IncrementalPipeline(
        spark, PipelineSpec(tables=[table]), WatermarkStore(tmp_path / "wm.json")
    )

    out, errors = {}, []

    def models():
        try:
            out["lr"] = features.classifier_train_lr(spark, sf_dir).collect()
            similarity.embedding_pca_project(spark, sf_dir).collect()
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    seen = []
    done = threading.Event()

    def watch():
        while not done.is_set():
            seen.append({k: spark.conf.get(k) for k in WATCHED})
            time.sleep(0.005)

    description = f"pipeline-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    loop, watcher = threading.Thread(target=models), threading.Thread(target=watch)
    watcher.start()
    loop.start()
    sc.setJobDescription(description)
    runs = 0
    try:
        while loop.is_alive() or runs < 2:
            lo = runs * 100
            spark.range(lo, lo + 100).withColumn("x", F.col("id") % 7).write.mode(
                "append"
            ).parquet(os.path.join(src, "kv.parquet"))
            assert pipe.run_table(table).status == "loaded"
            runs += 1
    finally:
        sc.setJobDescription(None)
        loop.join()
        done.set()
        watcher.join()
    release_tracked(spark, blocking=True)

    assert errors == []
    assert len(seen) > 10
    assert [s for s in seen if s != before] == []
    assert out["lr"] == want
    plans = [p for p in _executed_plans(spark, description) if "Exchange" in p]
    assert plans
    assert [p for p in plans if "AdaptiveSparkPlan" not in p] == []
