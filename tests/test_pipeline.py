"""Golden end-to-end pipeline tests (SURVEY.md §5.2): reproduce the
reference's manual incremental scenario (README.md:202-275)
synthetically — initial load, inject new rows, re-run copies ONLY the
delta, empty re-run is a no-op."""

import os

import pytest
from pyspark.sql import functions as F

from etl_data_pipeline_spark.pipeline import IncrementalPipeline
from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec, read_table_registry
from etl_data_pipeline_spark.watermark import WatermarkStore


@pytest.fixture
def split_source(spark, sf_dir, tmp_path):
    """orders split at o_orderkey < 1000 into batch-1, rest arriving as
    batch-2 — the 'simulate new data' fixture (FIXTURES.md §C)."""
    src = str(tmp_path / "src")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    orders.filter(F.col("o_orderkey") < 1000).write.parquet(
        os.path.join(src, "orders.parquet")
    )
    return src, orders


def _spec(src, tmp_path):
    return PipelineSpec(
        tables=[
            TableSpec(
                name="orders",
                watermark_column="o_orderkey",
                watermark_type="id",
                source_options={"dir": src},
                sink_options={"dir": str(tmp_path / "sink")},
                merge_keys=("o_orderkey",),
            )
        ]
    )


def test_incremental_golden_path(spark, sf_dir, tmp_path, split_source):
    src, orders = split_source
    store = WatermarkStore(tmp_path / "state.json")
    pipe = IncrementalPipeline(spark, _spec(src, tmp_path), store)

    # run 1: initial (full) load of batch-1
    r1 = pipe.run()
    assert [(x.status, x.rows) for x in r1] == [("loaded", 1000)]
    sink = lambda: spark.read.parquet(str(tmp_path / "sink" / "orders"))
    assert sink().count() == 1000
    assert store.get("orders") == "999"

    # inject batch-2 (new rows past the watermark) into the source
    orders.filter(F.col("o_orderkey") >= 1000).write.mode("append").parquet(
        os.path.join(src, "orders.parquet")
    )

    # run 2: copies ONLY the delta (strict >)
    r2 = pipe.run()
    assert [(x.status, x.rows) for x in r2] == [("loaded", orders.count() - 1000)]
    assert sink().count() == orders.count()
    assert sink().select("o_orderkey").distinct().count() == orders.count()
    assert store.get("orders") == str(orders.agg(F.max("o_orderkey")).first()[0])

    # run 3: no new rows -> no-op, watermark unchanged (app.py:147-153)
    wm_before = store.get("orders")
    r3 = pipe.run()
    assert [x.status for x in r3] == ["skipped_empty"]
    assert sink().count() == orders.count()
    assert store.get("orders") == wm_before


def test_replay_after_crash_is_idempotent(spark, tmp_path, split_source):
    """Crash between load and watermark-write (§2.C #5): reference
    duplicates rows; our merge-key sink must not."""
    src, _ = split_source
    store = WatermarkStore(tmp_path / "state.json")
    pipe = IncrementalPipeline(spark, _spec(src, tmp_path), store)
    pipe.run()
    store.clear("orders")  # simulate lost state write
    pipe.run()  # replay of the same batch
    sink = spark.read.parquet(str(tmp_path / "sink" / "orders"))
    assert sink.count() == 1000  # no duplicates
    assert store.get("orders") == "999"


def test_full_load_vs_incremental_union_property(spark, sf_dir, tmp_path):
    """Property (SURVEY.md §5.4): full load == union of incremental
    loads for any split point, given the idempotent sink."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    for split in (1, 700, 1499):
        src = str(tmp_path / f"src{split}")
        orders.filter(F.col("o_orderkey") < split).write.parquet(
            os.path.join(src, "orders.parquet")
        )
        spec = PipelineSpec(
            tables=[
                TableSpec(
                    name="orders",
                    watermark_column="o_orderkey",
                    watermark_type="id",
                    source_options={"dir": src},
                    sink_options={"dir": str(tmp_path / f"sink{split}")},
                    merge_keys=("o_orderkey",),
                )
            ]
        )
        store = WatermarkStore(tmp_path / f"state{split}.json")
        pipe = IncrementalPipeline(spark, spec, store)
        pipe.run()
        orders.filter(F.col("o_orderkey") >= split).write.mode("append").parquet(
            os.path.join(src, "orders.parquet")
        )
        pipe.run()
        got = spark.read.parquet(str(tmp_path / f"sink{split}" / "orders"))
        assert got.count() == orders.count()
        assert got.select("o_orderkey").distinct().count() == orders.count()


def test_error_isolation(spark, sf_dir, tmp_path):
    spec = PipelineSpec(
        tables=[
            TableSpec(name="missing_table", source_options={"dir": str(tmp_path)},
                      sink_options={"dir": str(tmp_path / "sink")}),
            TableSpec(name="region", source_options={"dir": sf_dir},
                      sink_options={"dir": str(tmp_path / "sink")}),
        ]
    )
    results = IncrementalPipeline(
        spark, spec, WatermarkStore(tmp_path / "s.json")
    ).run()
    by_table = {r.table: r.status for r in results}
    assert by_table == {"missing_table": "failed", "region": "loaded"}
    # the missing source is named, not buried in a Spark analysis trace
    missing = next(r for r in results if r.table == "missing_table")
    assert str(tmp_path / "missing_table.parquet") in missing.error


def test_cli_main_reference_contract(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """python -m etl_data_pipeline_spark <env> <tables>: loads enabled
    tables, prints NEW_WATERMARK_<T>=v (app.py:168), seeds state from
    LAST_WATERMARK_<T> env vars (app.py:99-100), exits nonzero only on
    failure."""
    from etl_data_pipeline_spark.__main__ import main

    registry = tmp_path / "tables_list"
    registry.write_text(
        "table_name,to_be_loaded,watermark_column,watermark_type\n"
        "orders,yes,o_orderkey,id\n"
        "region,yes,,\n"
        "part,no,,\n"
    )
    monkeypatch.setenv("SOURCE_DB_PATH", sf_dir)
    monkeypatch.setenv("TARGET_DB_PATH", str(tmp_path / "target"))
    # orchestrator seeds the watermark: only orders > 1000 must load
    monkeypatch.setenv("LAST_WATERMARK_ORDERS", "1000")
    state = str(tmp_path / "wm.json")
    rc = main(["dev", "all", "--tables-list", str(registry), "--state", state],
              spark=spark)
    out = capsys.readouterr().out
    assert rc == 0
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    max_key = orders.agg(F.max("o_orderkey")).first()[0]
    assert f"NEW_WATERMARK_ORDERS={max_key}" in out
    sunk = spark.read.parquet(str(tmp_path / "target" / "orders"))
    assert sunk.count() == orders.filter(F.col("o_orderkey") > 1000).count()
    assert spark.read.parquet(str(tmp_path / "target" / "region")).count() > 0
    assert not os.path.exists(str(tmp_path / "target" / "part"))  # disabled


def test_atomic_overwrite_failure_leaves_target(spark, sf_dir, tmp_path):
    """atomic_overwrite_parquet: a failing write must leave the current
    target intact (reference's rollback semantics, util.py:233-242)."""
    from etl_data_pipeline_spark.sinks import atomic_overwrite_parquet

    region = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    opts = {"dir": str(tmp_path)}
    atomic_overwrite_parquet(region, "region", opts)
    assert spark.read.parquet(str(tmp_path / "region")).count() == region.count()

    # failing job: a column computed by a raising UDF
    bad = region.withColumn(
        "boom", F.udf(lambda _: 1 // 0, "int")(F.col("r_regionkey"))
    )
    with pytest.raises(Exception):
        atomic_overwrite_parquet(bad, "region", opts)
    # target unchanged, still readable
    assert spark.read.parquet(str(tmp_path / "region")).count() == region.count()

    # successful re-run replaces it
    atomic_overwrite_parquet(region.limit(2), "region", opts)
    assert spark.read.parquet(str(tmp_path / "region")).count() == 2


def test_registry_reader(tmp_path):
    """Reference tables_list format (tables_list:1-7, util.py:352-400)."""
    csv = tmp_path / "tables_list"
    csv.write_text(
        "table_name,to_be_loaded,watermark_column,watermark_type\n"
        "customers,yes,customer_id,id\n"
        "departments,yes,,\n"
        "legacy,no,old_id,id\n"
        "orders,yes,order_date,timestamp\n"
    )
    all_specs = read_table_registry(csv, "all")
    assert [s.name for s in all_specs] == ["customers", "departments", "orders"]
    assert all_specs[0].watermark_type == "id"
    assert not all_specs[1].is_incremental
    assert all_specs[2].watermark_type == "timestamp"
    subset = read_table_registry(csv, "orders,unknown,legacy")
    assert [s.name for s in subset] == ["orders"]  # disabled+unknown skipped


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from etl_data_pipeline_spark.sinks import compact_parquet

    path = str(tmp_path / "frag")
    df = spark.range(10_000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.parquet(path)
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_before >= 40
    n_after = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert n_after == 1
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]
    # the swap must use the standard .old convention (a crash window is
    # then healed by the shared recovery path) and leave no debris
    assert not os.path.exists(path + ".old")
    assert not os.path.exists(path + ".staging")
    assert not os.path.exists(path + ".precompact")
    assert not os.path.exists(path + ".compact")


def test_compact_crash_window_heals_via_standard_recovery(spark, tmp_path):
    """Crash between compact's two swap renames leaves only '.old';
    the sink read paths must restore the data — the former private
    '.precompact' convention was invisible to recovery and lost the
    whole table on the next first-write."""
    from etl_data_pipeline_spark.sinks import (
        compact_parquet,
        read_parquet_if_exists,
        writer_lease,
    )

    path = str(tmp_path / "frag")
    spark.range(100).write.parquet(path)
    compact_parquet(spark, path, target_file_bytes=1 << 30)
    os.replace(path, path + ".old")  # simulate dying mid-swap
    with writer_lease(path):
        recovered = read_parquet_if_exists(spark, path)
        assert recovered is not None and recovered.count() == 100


def test_upsert_overwrite_last_write_wins(spark, tmp_path):
    from etl_data_pipeline_spark.sinks import upsert_overwrite_parquet

    opts = {"dir": str(tmp_path)}
    first = spark.createDataFrame(
        [(i, "old") for i in range(1, 6)], "id long, v string"
    )
    upsert_overwrite_parquet(spark, first, "t", opts, ("id",))
    update = spark.createDataFrame(
        [(i, "new") for i in range(3, 8)], "id long, v string"
    )
    upsert_overwrite_parquet(spark, update, "t", opts, ("id",))
    got = {
        (r.id, r.v)
        for r in spark.read.parquet(str(tmp_path / "t")).collect()
    }
    assert got == {(1, "old"), (2, "old")} | {(i, "new") for i in range(3, 8)}


def test_backfill_replaces_only_range(spark, tmp_path):
    from etl_data_pipeline_spark.sinks import backfill_partitions, write_partitioned

    opts = {"dir": str(tmp_path)}
    days = [(d, i, "v1") for d in (1, 2, 3, 4) for i in range(d * 10, d * 10 + 3)]
    df = spark.createDataFrame(days, "day int, id long, v string")
    write_partitioned(df, "t", opts, ["day"])
    # recompute days 2-3 with new values AND one changed row count
    fixed = spark.createDataFrame(
        [(2, 99, "v2"), (3, 30, "v2"), (3, 31, "v2"), (4, 40, "IGNORED")],
        "day int, id long, v string",
    )
    backfill_partitions(spark, fixed, "t", opts, "day", 2, 3)
    got = spark.read.parquet(str(tmp_path / "t"))
    by_day = {
        r.day: r.n
        for r in got.groupBy("day").agg(F.count("*").alias("n")).collect()
    }
    assert by_day == {1: 3, 2: 1, 3: 2, 4: 3}      # days 1,4 untouched
    vals = {r.v for r in got.filter(F.col("day").isin(2, 3)).collect()}
    assert vals == {"v2"}
    assert {r.v for r in got.filter(F.col("day") == 4).collect()} == {"v1"}


def test_wiped_sink_with_recorded_watermark_degrades_to_full_load(spark, tmp_path, sf_dir):
    """Recorded watermark + missing sink target = inconsistent state
    (someone wiped the target after progress was recorded). Honoring
    the watermark would rebuild the sink from just the delta and exit
    clean with most rows absent; the run must degrade to a FULL load."""
    from etl_data_pipeline_spark.pipeline import IncrementalPipeline
    from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
    from etl_data_pipeline_spark.watermark import WatermarkStore

    target = str(tmp_path / "target")
    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="orders",
                watermark_column="o_orderkey",
                watermark_type="id",
                source_options={"dir": sf_dir},
                sink_options={"dir": target},
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)
    r1 = pipe.run()[0]
    assert r1.status == "loaded"
    n_total = spark.read.parquet(os.path.join(target, "orders")).count()

    # wipe the sink but keep the state — the inconsistency under test
    import shutil

    shutil.rmtree(target)
    r2 = pipe.run()[0]
    assert r2.status == "loaded"  # not skipped_empty
    assert spark.read.parquet(os.path.join(target, "orders")).count() == n_total
    # watermark re-recorded after the rebuild
    assert store.get("orders") == str(r1.new_watermark)


def test_intact_sink_keeps_incremental_semantics(spark, tmp_path, sf_dir):
    """The reset-guard must not fire when the sink is present: a rerun
    over an unchanged source stays an empty-batch skip."""
    from etl_data_pipeline_spark.pipeline import IncrementalPipeline
    from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
    from etl_data_pipeline_spark.watermark import WatermarkStore

    target = str(tmp_path / "target")
    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="orders",
                watermark_column="o_orderkey",
                watermark_type="id",
                source_options={"dir": sf_dir},
                sink_options={"dir": target},
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)
    assert pipe.run()[0].status == "loaded"
    assert pipe.run()[0].status == "skipped_empty"


# -- round 5: manifest tables as first-class pipeline endpoints --


def test_pipeline_with_manifest_source(spark, sf_dir, tmp_path):
    """A manifest table written by one pipeline is the SOURCE of the
    next (the r4 round-trip asymmetry, closed): incremental runs read
    through read_source('manifest') and see only committed versions."""
    from etl_data_pipeline_spark.sinks.manifest import commit as mcommit

    src_dir = str(tmp_path / "msrc")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    mcommit(orders.filter(F.col("o_orderkey") < 1000), os.path.join(src_dir, "orders"))

    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="orders",
                watermark_column="o_orderkey",
                watermark_type="id",
                source_format="manifest",
                source_options={"dir": src_dir},
                sink_options={"dir": str(tmp_path / "sink")},
                merge_keys=("o_orderkey",),
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)
    assert pipe.run()[0].status == "loaded"
    sink = lambda: spark.read.parquet(str(tmp_path / "sink" / "orders"))
    assert sink().count() == 1000

    # new data arrives as a manifest COMMIT; the next run copies only it
    mcommit(
        orders.filter(F.col("o_orderkey") >= 1000),
        os.path.join(src_dir, "orders"),
        mode="append",
    )
    assert pipe.run()[0].status == "loaded"
    assert sink().count() == orders.count()
    # third run: no new commit -> empty batch skip
    assert pipe.run()[0].status == "skipped_empty"


def test_pipeline_manifest_sink_replay_idempotent(spark, tmp_path, split_source):
    """Golden replay test (r4 VERDICT next-round #3): manifest-sink
    pipeline where a crash between load and watermark-write replays
    the batch — the content fence must yield no duplicate rows and no
    duplicate version content."""
    from etl_data_pipeline_spark.sinks.manifest import read_manifest, read_table

    src, orders = split_source
    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="orders",
                watermark_column="o_orderkey",
                watermark_type="id",
                source_options={"dir": src},
                sink_format="manifest",
                sink_options={"dir": str(tmp_path / "sink")},
                merge_keys=("o_orderkey",),
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)
    assert pipe.run()[0].status == "loaded"
    t = str(tmp_path / "sink" / "orders")
    assert read_table(spark, t).count() == 1000
    v_after_load = read_manifest(t)["version"]

    # simulate the crash window: wipe the watermark, keep the sink
    store.set("orders", None) if hasattr(store, "delete") else None
    import json as _json

    state_path = tmp_path / "wm.json"
    state_path.write_text(_json.dumps({}))
    store2 = WatermarkStore(state_path)
    pipe2 = IncrementalPipeline(spark, spec, store2)
    r = pipe2.run()[0]  # full replay of already-landed rows
    assert r.status == "loaded"
    out = read_table(spark, t)
    assert out.count() == 1000  # no duplicates
    assert out.select("o_orderkey").distinct().count() == 1000
    # full-replay batch burned NO new version (content fence no-op)
    assert read_manifest(t)["version"] == v_after_load


def test_wiped_manifest_sink_degrades_to_full_load(spark, tmp_path, sf_dir):
    """Manifest flavor of the reset guard: the table DIR exists but
    holds no committed version (rm -rf table/*) — the bare exists()
    probe would be fooled; the guard must probe the manifest and
    degrade to a full load."""
    import shutil

    from etl_data_pipeline_spark.sinks.manifest import read_table

    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="orders",
                watermark_column="o_orderkey",
                watermark_type="id",
                source_options={"dir": sf_dir},
                sink_format="manifest",
                sink_options={"dir": str(tmp_path / "sink")},
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)
    assert pipe.run()[0].status == "loaded"
    t = str(tmp_path / "sink" / "orders")
    n_total = read_table(spark, t).count()

    # wipe the table CONTENTS but leave the (empty) dir — the manifest
    # false-negative case from the r4 advice
    shutil.rmtree(t)
    os.makedirs(t)
    r2 = pipe.run()[0]
    assert r2.status == "loaded"  # degraded to full rebuild, not delta
    assert read_table(spark, t).count() == n_total


def test_pipeline_version_feed_from_manifest(spark, sf_dir, tmp_path):
    """Version-keyed incremental mode (watermark_type='version'): the
    watermark is the SOURCE's manifest version — no watermark column,
    and each run reads only the directories committed since the last
    one (O(delta) via the change feed)."""
    from etl_data_pipeline_spark.sinks.manifest import commit as mcommit
    from etl_data_pipeline_spark.sinks.manifest import compact

    src_dir = str(tmp_path / "msrc")
    src_t = os.path.join(src_dir, "orders")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    mcommit(orders.filter(F.col("o_orderkey") < 500), src_t)
    mcommit(
        orders.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1000)),
        src_t,
        mode="append",
    )

    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="orders",
                watermark_type="version",  # manifest-version watermark
                source_format="manifest",
                source_options={"dir": src_dir},
                sink_options={"dir": str(tmp_path / "sink")},
                merge_keys=("o_orderkey",),
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)
    r1 = pipe.run()[0]
    assert (r1.status, r1.rows, r1.new_watermark) == ("loaded", 1000, 2)
    sink = lambda: spark.read.parquet(str(tmp_path / "sink" / "orders"))
    assert sink().count() == 1000
    assert store.get("orders") == "2"

    # layout-only commit (compaction) advances the watermark without rows
    compact(spark, src_t)
    r2 = pipe.run()[0]
    assert r2.status == "skipped_empty" and r2.new_watermark == 3
    assert sink().count() == 1000

    # new data arrives; only the delta is read and loaded
    mcommit(orders.filter(F.col("o_orderkey") >= 1000), src_t, mode="append")
    r3 = pipe.run()[0]
    assert (r3.status, r3.rows, r3.new_watermark) == (
        "loaded", orders.count() - 1000, 4
    )
    assert sink().count() == orders.count()
    assert sink().select("o_orderkey").distinct().count() == orders.count()

    # caught up: no-op
    assert pipe.run()[0].status == "skipped_empty"


def test_pipeline_version_feed_overwrite_resync(spark, sf_dir, tmp_path):
    """An upstream OVERWRITE breaks append-only change semantics; the
    version-feed run must resync from the snapshot (idempotent via
    merge keys), not fail or silently skip."""
    from etl_data_pipeline_spark.sinks.manifest import commit as mcommit

    src_dir = str(tmp_path / "msrc")
    src_t = os.path.join(src_dir, "orders")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    mcommit(orders.filter(F.col("o_orderkey") < 800), src_t)

    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="orders",
                watermark_type="version",
                source_format="manifest",
                source_options={"dir": src_dir},
                sink_options={"dir": str(tmp_path / "sink")},
                merge_keys=("o_orderkey",),
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)
    assert pipe.run()[0].status == "loaded"

    mcommit(orders, src_t)  # upstream rebuild: OVERWRITE with the full set
    r2 = pipe.run()[0]
    assert r2.status == "loaded" and r2.new_watermark == 2
    sink = spark.read.parquet(str(tmp_path / "sink" / "orders"))
    assert sink.count() == orders.count()  # resynced, no duplicates
    assert sink.select("o_orderkey").distinct().count() == orders.count()


def test_pipeline_version_feed_behind_retention_resyncs(spark, sf_dir, tmp_path):
    """A version-feed consumer that fell behind the source's vacuum
    retention cannot get its delta from the feed; the run must resync
    from the snapshot (idempotent via merge keys), not fail."""
    from etl_data_pipeline_spark.sinks.manifest import commit as mcommit
    from etl_data_pipeline_spark.sinks.manifest import vacuum

    src_dir = str(tmp_path / "msrc")
    src_t = os.path.join(src_dir, "orders")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    mcommit(orders.filter(F.col("o_orderkey") < 500), src_t)

    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="orders",
                watermark_type="version",
                source_format="manifest",
                source_options={"dir": src_dir},
                sink_options={"dir": str(tmp_path / "sink")},
                merge_keys=("o_orderkey",),
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)
    assert pipe.run()[0].status == "loaded"  # watermark = 1

    # source advances 3 more versions, then vacuums past the consumer
    for lo, hi in ((500, 900), (900, 1200), (1200, None)):
        cond = F.col("o_orderkey") >= lo
        if hi:
            cond = cond & (F.col("o_orderkey") < hi)
        mcommit(orders.filter(cond), src_t, mode="append")
    vacuum(src_t, keep_last=2)  # drops snapshots 1..2: consumer is behind

    r = pipe.run()[0]
    assert r.status == "loaded" and r.new_watermark == 4
    sink = spark.read.parquet(str(tmp_path / "sink" / "orders"))
    assert sink.count() == orders.count()  # resynced, nothing lost
    assert sink.select("o_orderkey").distinct().count() == orders.count()


def test_pipeline_version_feed_rebuilt_source_resyncs(spark, sf_dir, tmp_path):
    """Recorded version ABOVE the source head = the source was deleted
    and rebuilt (a different table lifetime). Skipping until the new
    head catches up would silently drop the new lifetime's data; the
    run must resync from scratch."""
    import shutil

    from etl_data_pipeline_spark.sinks.manifest import commit as mcommit

    src_dir = str(tmp_path / "msrc")
    src_t = os.path.join(src_dir, "orders")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    for ver in range(3):  # three commits: watermark lands at 3
        mcommit(
            orders.filter(F.col("o_orderkey") % 3 == ver), src_t, mode="append"
            if ver else "overwrite",
        )

    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="orders",
                watermark_type="version",
                source_format="manifest",
                source_options={"dir": src_dir},
                sink_options={"dir": str(tmp_path / "sink")},
                merge_keys=("o_orderkey",),
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)
    assert pipe.run()[0].status == "loaded"
    assert store.get("orders") == "3"

    # source rebuilt from scratch: ONE commit, different content subset
    shutil.rmtree(src_t)
    mcommit(orders, src_t)  # head = 1 < recorded 3

    r = pipe.run()[0]
    assert r.status == "loaded" and r.new_watermark == 1
    sink = spark.read.parquet(str(tmp_path / "sink" / "orders"))
    assert sink.count() == orders.count()
    assert sink.select("o_orderkey").distinct().count() == orders.count()
    # subsequent run: caught up on the new lifetime
    assert pipe.run()[0].status == "skipped_empty"


def test_pipeline_version_feed_plain_append_resync_fails_loudly(
    spark, sf_dir, tmp_path
):
    """The resync degrade paths replay rows; on a plain append sink
    with existing content that would silently duplicate — the run must
    fail the table with a clear remedy instead."""
    from etl_data_pipeline_spark.sinks.manifest import commit as mcommit

    src_dir = str(tmp_path / "msrc")
    src_t = os.path.join(src_dir, "orders")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    mcommit(orders.filter(F.col("o_orderkey") < 800), src_t)

    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="orders",
                watermark_type="version",
                source_format="manifest",
                source_options={"dir": src_dir},
                sink_options={"dir": str(tmp_path / "sink")},
                # NO merge_keys: plain append sink
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)
    assert pipe.run()[0].status == "loaded"
    n_loaded = spark.read.parquet(str(tmp_path / "sink" / "orders")).count()

    mcommit(orders, src_t)  # upstream OVERWRITE breaks the feed
    r = pipe.run()[0]
    assert r.status == "failed"
    assert "merge_keys" in r.error and "duplicate" in r.error
    # nothing was written: no silent duplication
    assert (
        spark.read.parquet(str(tmp_path / "sink" / "orders")).count() == n_loaded
    )


def test_pipeline_version_feed_over_partitioned_source(spark, sf_dir, tmp_path):
    """The one remaining combination: version-keyed incremental runs
    over a hive-PARTITIONED manifest source — feed deltas carry the
    partition column with the recorded type."""
    from etl_data_pipeline_spark.sinks.manifest import commit as mcommit

    src_dir = str(tmp_path / "msrc")
    src_t = os.path.join(src_dir, "orders")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).withColumn(
        "bucket", (F.col("o_orderkey") % 4).cast("int")
    )
    mcommit(orders.filter("o_orderkey < 700"), src_t, partition_by=("bucket",))

    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="orders",
                watermark_type="version",
                source_format="manifest",
                source_options={"dir": src_dir},
                sink_options={"dir": str(tmp_path / "sink")},
                merge_keys=("o_orderkey",),
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)
    assert pipe.run()[0].status == "loaded"
    mcommit(orders.filter("o_orderkey >= 700"), src_t, mode="append")
    assert pipe.run()[0].status == "loaded"
    sink = spark.read.parquet(str(tmp_path / "sink" / "orders"))
    assert sink.count() == orders.count()
    assert dict(sink.dtypes)["bucket"] == "int"  # recorded type survives
    assert sink.filter("bucket = 3").count() == orders.filter("bucket = 3").count()


def test_version_feed_honors_upsert_mode(spark, tmp_path):
    """A CDC-configured version feed (manifest sink, mode='upsert')
    routes to the row-level merge: the content-fence append would
    anti-join CHANGED rows away by key and keep stale values forever.
    Two changes of one key inside one delta are ordered by the commit
    version, also when the spec names a data watermark column — the
    later commit wins though it carries the older business time."""
    from etl_data_pipeline_spark.sinks.manifest import commit as mcommit
    from etl_data_pipeline_spark.sinks.manifest import read_table as mread

    schema = "k long, v string, ts long"
    for wm_col in (None, "ts"):
        base = tmp_path / str(wm_col)
        src_t = str(base / "msrc" / "kv")
        mcommit(spark.createDataFrame([(1, "old", 5), (2, "b", 5)], schema), src_t)
        spec = PipelineSpec(
            tables=[
                TableSpec(
                    name="kv",
                    watermark_column=wm_col,
                    watermark_type="version",
                    source_format="manifest",
                    source_options={"dir": str(base / "msrc")},
                    sink_format="manifest",
                    sink_options={"dir": str(base / "sink"), "mode": "upsert"},
                    merge_keys=("k",),
                )
            ]
        )
        pipe = IncrementalPipeline(spark, spec, WatermarkStore(base / "wm.json"))
        assert pipe.run()[0].status == "loaded"
        for row in [(1, "mid", 9), (1, "new", 1)]:  # one delta, two versions
            mcommit(spark.createDataFrame([row], schema), src_t, mode="append")
        assert pipe.run()[0].status == "loaded"
        sunk = mread(spark, str(base / "sink" / "kv")).collect()
        got = {(r.k, r.v, r.ts) for r in sunk}
        assert got == {(1, "new", 1), (2, "b", 5)}, wm_col  # replaced, not stale


def test_parallel_run_frees_every_batch_checkpoint(spark, tmp_path):
    """Four column-watermark tables load in parallel on one session —
    parquet idempotent append, manifest content fence, manifest upsert
    and a drop-mode quarantine. Each table's batch checkpoint is freed
    when its run ends, so no RDD the run created stays in storage, with
    no GC settling; a frame the caller tracked stays cached."""
    from etl_data_pipeline_spark.expectations import Expectation
    from etl_data_pipeline_spark.functions.caching import (
        release_tracked,
        tracked_persist,
    )

    def stored():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    src = str(tmp_path / "src")
    rows = [(i, i % 5, i * 10 if i % 7 else -1) for i in range(1, 41)]
    for name in ("p", "f", "u", "d"):
        spark.createDataFrame(rows, "id long, k long, x long").write.parquet(
            os.path.join(src, f"{name}.parquet")
        )
    sink = {"dir": str(tmp_path / "sink")}
    common = dict(
        watermark_column="id", watermark_type="id", source_options={"dir": src}
    )
    spec = PipelineSpec(
        tables=[
            TableSpec(name="p", merge_keys=("id",), sink_options=sink, **common),
            TableSpec(
                name="f", merge_keys=("id",), sink_format="manifest",
                sink_options=sink, **common,
            ),
            TableSpec(
                name="u", merge_keys=("k",), sink_format="manifest",
                sink_options={**sink, "mode": "upsert"}, **common,
            ),
            TableSpec(
                name="d", sink_options=sink, expectations_mode="drop",
                expectations=(Expectation.in_range("x", lo=0),),
                **common,
            ),
        ]
    )
    # storage only gains RDDs this test creates (the cleaner may drop
    # blocks earlier tests left behind), so set differences are exact
    held = stored()
    mine = tracked_persist(spark.range(10))
    mine.count()
    before = stored()
    mine_rdds = before - held
    try:
        r = IncrementalPipeline(spark, spec, WatermarkStore(tmp_path / "wm.json")).run()
        after = stored()
        assert [x.status for x in r] == ["loaded"] * 4, r
        assert after - before == set()  # every batch checkpoint is gone
        assert mine_rdds and mine_rdds <= after  # the caller's cache survived
    finally:
        release_tracked(spark, blocking=True)
    assert spark.read.parquet(str(tmp_path / "sink" / "d")).count() == 35
    assert spark.read.parquet(str(tmp_path / "sink" / "d_quarantine")).count() == 5


def test_version_feed_runs_expectations(spark, tmp_path):
    """r9 review: the version-feed path skipped the expectations gate
    entirely — a configured quality contract was silently unenforced
    for manifest/version tables. It now runs the same gate as the
    column path."""
    from etl_data_pipeline_spark.expectations import Expectation, ExpectationError
    from etl_data_pipeline_spark.sinks.manifest import commit as mcommit

    src_dir = str(tmp_path / "msrc")
    mcommit(
        spark.createDataFrame([(1, None)], "k long, v string"),
        os.path.join(src_dir, "kv"),
    )
    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="kv",
                watermark_type="version",
                source_format="manifest",
                source_options={"dir": src_dir},
                sink_options={"dir": str(tmp_path / "sink")},
                merge_keys=("k",),
                expectations=(Expectation.not_null("v"),),
                expectations_mode="fail",
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    r = IncrementalPipeline(spark, spec, store).run()[0]
    assert r.status == "failed" and "violate expectations" in (r.error or "")
    assert store.get("kv") is None  # watermark frozen on failure


def test_merge_keys_with_non_parquet_sink_rejected(spark, tmp_path):
    """r9 review: merge_keys with sink_format='csv' silently wrote
    PARQUET under the declared CSV target (idempotent append is
    parquet-only). The combination is now rejected as pure config,
    before any data work."""
    from etl_data_pipeline_spark.sinks.manifest import commit as mcommit

    src_dir = str(tmp_path / "msrc")
    mcommit(
        spark.createDataFrame([(1, "a")], "k long, v string"),
        os.path.join(src_dir, "kv"),
    )
    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="kv",
                watermark_type="version",
                source_format="manifest",
                source_options={"dir": src_dir},
                sink_format="csv",
                sink_options={"dir": str(tmp_path / "sink")},
                merge_keys=("k",),
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    r = IncrementalPipeline(spark, spec, store).run()[0]
    assert r.status == "failed" and "merge_keys" in (r.error or "")


def test_version_feed_missing_watermark_guards_populated_sink(spark, tmp_path):
    """r9 review: a LOST watermark (store corrupted -> raw None)
    against a populated plain-append sink previously replayed the full
    feed unguarded, duplicating every row. The missing-watermark path
    now takes the same resync guard as every other replaying degrade
    path (a genuine first run still passes: its sink is absent)."""
    from etl_data_pipeline_spark.sinks.manifest import commit as mcommit

    src_dir = str(tmp_path / "msrc")
    mcommit(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        os.path.join(src_dir, "kv"),
    )
    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="kv",
                watermark_type="version",
                source_format="manifest",
                source_options={"dir": src_dir},
                sink_options={"dir": str(tmp_path / "sink")},
                # no merge_keys: plain append — replay would duplicate
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)
    assert pipe.run()[0].status == "loaded"  # first run: sink absent, fine
    assert spark.read.parquet(str(tmp_path / "sink" / "kv")).count() == 2
    store.clear("kv")  # simulate a lost/corrupted watermark store
    r = pipe.run()[0]
    assert r.status == "failed" and "duplicate" in (r.error or "")
    # sink untouched by the refused replay
    assert spark.read.parquet(str(tmp_path / "sink" / "kv")).count() == 2


def _jobs_of(spark, fn):
    """``fn()``'s result and the number of Spark jobs it ran, counted
    in a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-of-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_table_job_counts(spark, tmp_path):
    """The eager batch checkpoint is the only job that reads a column
    watermark batch before the sink write (its Observation carries the
    empty gate, the watermark max and the expectation counts), a
    source whose first file is unchanged runs no schema inference, the
    parquet sink's key scan infers nothing either, and the manifest
    content fence decides from the delta it wrote. Upper bounds on the
    jobs of one run_table call, 1000 + 1000 rows landed as parquet."""
    from etl_data_pipeline_spark.expectations import Expectation
    from etl_data_pipeline_spark.sinks.manifest import read_manifest

    src = str(tmp_path / "src")
    sink = {"dir": str(tmp_path / "sink")}
    common = dict(
        watermark_column="id", watermark_type="id", source_options={"dir": src}
    )
    plain = TableSpec(name="plain", sink_options=sink, **common)
    pm = TableSpec(name="pm", merge_keys=("id",), sink_options=sink, **common)
    mm = TableSpec(
        name="mm", merge_keys=("id",), sink_format="manifest",
        sink_options=sink, **common,
    )
    # x = id % 7, so x in {5, 6} fails: 285 rows of each landing
    dm = TableSpec(
        name="dm", sink_options=sink,
        expectations=(Expectation.in_range("x", hi=4),),
        expectations_mode="drop", **common,
    )

    def land(t, lo):
        batch = spark.range(lo, lo + 1000).withColumn("x", F.col("id") % 7)
        batch.write.mode("append").parquet(os.path.join(src, f"{t.name}.parquet"))

    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(
        spark, PipelineSpec(tables=[plain, pm, mm, dm]), store
    )

    def run(t, status, max_jobs, rows):
        r, jobs = _jobs_of(spark, lambda: pipe.run_table(t))
        assert (r.status, r.rows) == (status, rows), (t.name, r)
        assert jobs <= max_jobs, (t.name, status, jobs)
        return r

    land(plain, 0)
    run(plain, "loaded", 3, 1000)  # the first read infers the schema
    run(plain, "skipped_empty", 1, 0)
    assert store.get("plain") == "999"
    for t in (pm, mm, dm):
        land(t, 0)
        assert pipe.run_table(t).status == "loaded"
        land(t, 1000)
    # AQE runs a content fence's anti-join as 2 or 3 jobs
    run(pm, "loaded", 4, 1000)
    run(mm, "loaded", 4, 1000)
    run(dm, "loaded", 4, 1000 - 285)  # + the quarantine write
    run(dm, "skipped_empty", 1, 0)
    mm_dir = str(tmp_path / "sink" / "mm")
    version = read_manifest(mm_dir)["version"]
    store.clear("mm")  # full replay: every row already landed
    run(mm, "loaded", 5, 2000)
    assert read_manifest(mm_dir)["version"] == version
    assert spark.read.parquet(str(tmp_path / "sink" / "pm")).count() == 2000
    assert spark.read.parquet(str(tmp_path / "sink" / "dm")).count() == 2000 - 570
    assert store.get("pm") == store.get("mm") == store.get("dm") == "1999"


def test_empty_batch_over_zero_partitions_skips(spark, tmp_path):
    """A batch whose scan has no partitions at all — a source
    partitioned on the watermark column, every file pruned — skips
    without blocking on the observed metrics and leaves no RDD in
    storage."""
    import threading

    src = str(tmp_path / "src")
    path = os.path.join(src, "t.parquet")
    spark.range(1, 6).select("id", F.lit("a").alias("v")).write.partitionBy(
        "id"
    ).parquet(path)
    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="t", watermark_column="id", watermark_type="id",
                source_options={"dir": src},
                sink_options={"dir": str(tmp_path / "sink")},
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)
    assert pipe.run_table(spec.tables[0]).status == "loaded"
    assert store.get("t") == "5"
    assert spark.read.parquet(path).filter("id > 5").rdd.getNumPartitions() == 0

    def stored():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = stored()
    out = {}
    worker = threading.Thread(
        target=lambda: out.update(r=pipe.run_table(spec.tables[0])), daemon=True
    )
    worker.start()
    worker.join(120)
    assert not worker.is_alive(), "run_table blocked on an empty scan"
    assert (out["r"].status, out["r"].rows) == ("skipped_empty", 0)
    assert stored() - before == set()
    assert store.get("t") == "5"


def test_timestamp_watermark_stores_the_batch_max(spark, tmp_path):
    """The observed max of a timestamp watermark is stored exactly as
    ``max_watermark`` renders it over the same batch."""
    import datetime

    from etl_data_pipeline_spark.watermark import max_watermark

    src = str(tmp_path / "src")
    path = os.path.join(src, "t.parquet")
    spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)),
            (2, datetime.datetime(2024, 5, 6, 7, 8, 9, 1)),
            (3, None),
        ],
        "id long, ts timestamp",
    ).write.parquet(path)
    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="t", watermark_column="ts", watermark_type="timestamp",
                source_options={"dir": src},
                sink_options={"dir": str(tmp_path / "sink")},
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    assert IncrementalPipeline(spark, spec, store).run()[0].status == "loaded"
    expected = max_watermark(spark.read.parquet(path), "ts")
    assert expected is not None
    assert store.get("t") == str(expected)


def test_all_null_watermark_batch_loads_and_keeps_the_watermark(spark, tmp_path):
    """A batch whose watermark column is entirely NULL loads its rows;
    its max is NULL, so the stored watermark stays as it was."""
    src = str(tmp_path / "src")
    batch = spark.createDataFrame([(None, "a"), (None, "b")], "id long, v string")
    batch.write.parquet(os.path.join(src, "t.parquet"))
    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="t", watermark_column="id", watermark_type="id",
                source_options={"dir": src},
                sink_options={"dir": str(tmp_path / "sink")},
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    r = IncrementalPipeline(spark, spec, store).run()[0]
    assert (r.status, r.new_watermark) == ("loaded", None)
    assert spark.read.parquet(str(tmp_path / "sink" / "t")).count() == 2
    assert store.get("t") is None


def test_registered_source_and_sink_run_incrementally(spark, tmp_path):
    """register_source / register_sink plug a custom format into the
    pipeline: the source gets the table's source_options, the second
    run loads only the rows past the watermark into the custom sink,
    and both registries are restored afterwards."""
    from etl_data_pipeline_spark.sinks import SINKS, register_sink
    from etl_data_pipeline_spark.sources import SOURCES, register_source

    rows = [(i, f"r{i}") for i in range(5)]
    landed = []

    def source(spark_, table, options):
        assert (table, options) == ("events", {"tag": "mem"})
        return spark_.createDataFrame(rows, "id long, v string")

    def sink(df, table, options):
        landed.append((table, sorted(r.id for r in df.collect())))

    assert "mem" not in SOURCES and "mem" not in SINKS
    register_source("mem", source)
    register_sink("mem", sink)
    try:
        spec = PipelineSpec(
            tables=[
                TableSpec(
                    name="events",
                    watermark_column="id",
                    watermark_type="id",
                    source_format="mem",
                    source_options={"tag": "mem"},
                    sink_format="mem",
                )
            ]
        )
        store = WatermarkStore(tmp_path / "state.json")
        pipe = IncrementalPipeline(spark, spec, store)
        assert [(r.status, r.rows) for r in pipe.run()] == [("loaded", 5)]
        assert store.get("events") == "4"
        rows.extend((i, f"r{i}") for i in range(5, 8))
        assert [(r.status, r.rows) for r in pipe.run()] == [("loaded", 3)]
        assert store.get("events") == "7"
        assert landed == [("events", [0, 1, 2, 3, 4]), ("events", [5, 6, 7])]
    finally:
        SOURCES.pop("mem", None)
        SINKS.pop("mem", None)
