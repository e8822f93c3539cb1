"""Declarative data-quality expectations (expectations.py) and their
pipeline gate (TableSpec.expectations, modes fail/drop)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_data_pipeline_spark.expectations import (
    Expectation,
    ExpectationError,
    check_expectations,
)
from etl_data_pipeline_spark.pipeline import IncrementalPipeline
from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
from etl_data_pipeline_spark.watermark import WatermarkStore


def _batch(spark):
    return spark.createDataFrame(
        [
            (1, "COMPLETE", 10.0, "a@x.com"),
            (2, "PENDING", -5.0, "b@x.com"),     # range violation
            (3, None, 20.0, "c@x.com"),          # null violation
            (4, "BOGUS", 30.0, "d@x.com"),       # set violation
            (5, "COMPLETE", 40.0, "not-an-email"),  # regex violation
            (5, "COMPLETE", 41.0, "e@x.com"),    # duplicate id (both rows flagged)
            (7, "PENDING", None, None),          # NULL value/email pass range/regex
        ],
        "id long, status string, amount double, email string",
    )


RULES = (
    Expectation.not_null("status"),
    Expectation.in_range("amount", lo=0.0),
    Expectation.in_set("status", ["COMPLETE", "PENDING"]),
    Expectation.matches("email", r"^[^@ ]+@[^@ ]+$"),
    Expectation.unique("id"),
)


def test_one_pass_report_counts_and_split(spark):
    r = check_expectations(_batch(spark), RULES)
    assert r.total == 7
    assert r.counts["not_null(status)"] == 1
    assert r.counts["in_range(amount,0.0,None)"] == 1
    assert r.counts["in_set(status)"] == 1  # NULL status is not a set violation
    assert r.counts["matches(email)"] == 1
    assert r.counts["unique(id)"] == 2  # both copies of id=5 flagged
    # row 5/"not-an-email" violates TWO rules (regex + unique)
    assert r.n_violations == 5
    assert not r.ok
    passed_ids = sorted(row.id for row in r.passed.collect())
    assert passed_ids == [1, 7]  # NULLs pass range/regex (not_null's job)
    v = {row.id: sorted(row._violated) for row in r.violations.collect()}
    assert v[4] == ["in_set(status)"]
    assert "matches(email)" in v[5] or "unique(id)" in v[5]


def test_all_clean_is_ok(spark):
    df = spark.createDataFrame([(1, "COMPLETE", 1.0, "a@b.c")],
                               "id long, status string, amount double, email string")
    r = check_expectations(df, RULES)
    assert r.ok and r.total == 1 and r.passed.count() == 1


def _spec(src, sinkd, mode, rules, **extra):
    return PipelineSpec(tables=[TableSpec(
        name="orders",
        watermark_column="id",
        watermark_type="id",
        source_format="parquet",
        source_options={"dir": str(src)},
        sink_format="parquet",
        sink_options={"dir": str(sinkd)},
        expectations=rules,
        expectations_mode=mode,
        **extra,
    )])


def test_pipeline_fail_mode_freezes_watermark(spark, tmp_path):
    src = tmp_path / "src"; src.mkdir()
    sinkd = tmp_path / "sink"
    spark.createDataFrame(
        [(1, 5.0), (2, -1.0)], "id long, amount double"
    ).write.parquet(str(src / "orders.parquet"))
    store = WatermarkStore(tmp_path / "wm.json")
    rules = (Expectation.in_range("amount", lo=0.0),)
    res = IncrementalPipeline(spark, _spec(src, sinkd, "fail", rules), store).run()
    assert res[0].status == "failed"
    assert "violate expectations" in res[0].error
    assert "in_range" in res[0].error
    assert store.get("orders") is None  # watermark frozen: batch retries
    assert not os.path.exists(sinkd / "orders")  # nothing written


def test_pipeline_drop_mode_quarantines_and_advances(spark, tmp_path):
    src = tmp_path / "src"; src.mkdir()
    sinkd = tmp_path / "sink"
    spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, 7.0)], "id long, amount double"
    ).write.parquet(str(src / "orders.parquet"))
    store = WatermarkStore(tmp_path / "wm.json")
    rules = (Expectation.in_range("amount", lo=0.0),)
    pipe = IncrementalPipeline(spark, _spec(src, sinkd, "drop", rules), store)
    res = pipe.run()
    assert (res[0].status, res[0].rows) == ("loaded", 2)  # 3 read, 1 quarantined
    assert store.get("orders") == "3"  # whole-batch watermark
    loaded = spark.read.parquet(str(sinkd / "orders"))
    assert sorted(r.id for r in loaded.collect()) == [1, 3]
    quar = spark.read.parquet(str(sinkd / "orders_quarantine"))
    qrows = quar.collect()
    assert [r.id for r in qrows] == [2]
    assert qrows[0]._violated == ["in_range(amount,0.0,None)"]
    # batch 2: all rows bad -> nothing loads, watermark still advances
    spark.createDataFrame([(4, -9.0)], "id long, amount double") \
        .write.mode("append").parquet(str(src / "orders.parquet"))
    res = pipe.run()
    assert res[0].status == "loaded" and res[0].rows == 0
    assert store.get("orders") == "4"
    assert sorted(r.id for r in spark.read.parquet(str(sinkd / "orders")).collect()) == [1, 3]


def test_unknown_mode_fails_at_construction(tmp_path):
    """A typo'd mode must fail when the spec is BUILT, not on the
    first batch that happens to have violations — clean data would
    otherwise mask the misconfiguration for arbitrarily long."""
    rules = (Expectation.in_range("amount", lo=0.0),)
    with pytest.raises(ValueError, match="unknown expectations_mode"):
        _spec(tmp_path / "src", tmp_path / "sink", "warn", rules)


def test_duplicate_rule_names_rejected(spark):
    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="duplicate expectation names"):
        check_expectations(df, (Expectation.not_null("id"), Expectation.not_null("id")))


def test_referential_check_splits_orphans(spark):
    from etl_data_pipeline_spark.expectations import check_referential

    dim = spark.createDataFrame([(1,), (2,)], "custkey long")
    fact = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 99), (13, None)], "id long, custkey long"
    )
    valid, orphans = check_referential(fact, "custkey", dim, "custkey")
    assert sorted(r.id for r in valid.collect()) == [10, 11, 13]  # NULL passes
    assert [r.id for r in orphans.collect()] == [12]


def test_referential_is_broadcast_no_fact_shuffle(spark, sf_dir):
    """The dimension key set must broadcast: the fact side streams
    through BroadcastHashJoins with zero data exchanges."""
    from etl_data_pipeline_spark.expectations import check_referential
    from etl_data_pipeline_spark.plans import exchange_count, plan_str
    from etl_data_pipeline_spark.session import load_table

    spark.catalog.clearCache()
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    valid, orphans = check_referential(orders, "o_custkey", customer, "c_custkey")
    for frame in (valid, orphans):
        plan = plan_str(frame)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
    # harness integrity: every order points at a real customer
    assert orphans.count() == 0


def test_drop_mode_quarantine_replay_is_idempotent(spark, tmp_path):
    """The quarantine write is keyed on the batch's FROZEN stored
    watermark (its lower bound), never on its upper bound, so a batch
    that replays after new rows arrived overwrites the same batch=*
    subdir instead of leaving a stale sibling with duplicated rows. A
    full-load table's key is always ``full``: its second run, over a
    source that gained a bad row, is exactly such a replay."""
    src = tmp_path / "src"; src.mkdir()
    sinkd = tmp_path / "sink"
    spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, 7.0)], "id long, amount double"
    ).write.parquet(str(src / "orders.parquet"))
    t = TableSpec(
        name="orders",
        source_format="parquet",
        source_options={"dir": str(src)},
        sink_format="parquet",
        sink_options={"dir": str(sinkd)},
        expectations=(Expectation.in_range("amount", lo=0.0),),
        expectations_mode="drop",
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, PipelineSpec(tables=[t]), store)
    r = pipe.run_table(t)
    assert (r.status, r.rows) == ("loaded", 2)
    spark.createDataFrame([(4, -9.0)], "id long, amount double") \
        .write.mode("append").parquet(str(src / "orders.parquet"))
    r = pipe.run_table(t)
    assert (r.status, r.rows) == ("loaded", 2)  # 4 read, 2 quarantined
    quar = spark.read.parquet(str(sinkd / "orders_quarantine"))
    assert sorted(r.id for r in quar.collect()) == [2, 4]  # no duplicates
    subdirs = [
        d for d in os.listdir(sinkd / "orders_quarantine")
        if d.startswith("batch=")
    ]
    assert subdirs == ["batch=full"]  # one subdir, not one per replay
    assert store.get("orders") is None  # a full load records no watermark


def test_upsert_static_txn_rejected(spark, tmp_path):
    """A static txn in sink_options would fence out every batch after
    the first (silent data loss) — the pipeline must reject it."""
    src = tmp_path / "src"; src.mkdir()
    spark.createDataFrame([(1, 5.0)], "id long, amount double") \
        .write.parquet(str(src / "orders.parquet"))
    store = WatermarkStore(tmp_path / "wm.json")
    spec = PipelineSpec(tables=[TableSpec(
        name="orders",
        watermark_column="id",
        watermark_type="id",
        source_format="parquet",
        source_options={"dir": str(src)},
        sink_format="manifest",
        sink_options={"dir": str(tmp_path / "sink"),
                      "mode": "upsert", "txn": ("app", 1)},
        merge_keys=("id",),
    )])
    res = IncrementalPipeline(spark, spec, store).run()
    assert res[0].status == "failed"
    assert "'txn' in sink_options" in res[0].error
    assert store.get("orders") is None  # nothing committed


def test_upsert_tiebreak_tolerates_map_columns(spark, tmp_path):
    """MapType cannot be ORDER BY'd; the deterministic tiebreak must
    fall back to a serialized rendering instead of failing the table
    (the merge itself never needed the map ordered natively)."""
    src = tmp_path / "src"; src.mkdir()
    sinkd = tmp_path / "sink"
    spark.createDataFrame(
        [(1, 10, {"a": 1.0}), (1, 10, {"a": 2.0}), (2, 11, {"b": 3.0})],
        "id long, ver long, attrs map<string,double>",
    ).write.parquet(str(src / "orders.parquet"))
    store = WatermarkStore(tmp_path / "wm.json")
    spec = PipelineSpec(tables=[TableSpec(
        name="orders",
        watermark_column="ver",
        watermark_type="id",
        source_format="parquet",
        source_options={"dir": str(src)},
        sink_format="manifest",
        sink_options={"dir": str(sinkd), "mode": "upsert"},
        merge_keys=("id",),
    )])
    res = IncrementalPipeline(spark, spec, store).run()
    assert res[0].status == "loaded", res[0].error
    from etl_data_pipeline_spark.sinks.manifest import read_table
    got = read_table(spark, str(sinkd / "orders"))
    rows = {r.id: r for r in got.collect()}
    assert set(rows) == {1, 2}
    # same-watermark duplicate for id=1 resolved deterministically:
    # to_json desc picks {"a":2.0}
    assert rows[1].attrs == {"a": 2.0}


def test_foreign_key_rule_in_one_pass_report(spark):
    """FK rule mixed with Column rules: one report, orphans counted,
    NULL keys valid, and the _violated array names the FK rule."""
    dim = spark.createDataFrame([(1,), (2,)], "k long")
    fact = spark.createDataFrame(
        [(10, 1, 5.0), (11, 99, -1.0), (12, None, 2.0)],
        "id long, k long, amount double",
    )
    rules = (
        Expectation.foreign_key("k", dim, dim_col="k", name="fk_k"),
        Expectation.in_range("amount", lo=0.0),
    )
    r = check_expectations(fact, rules)
    assert r.total == 3
    assert r.counts["fk_k"] == 1
    assert r.counts["in_range(amount,0.0,None)"] == 1
    assert sorted(row.id for row in r.passed.collect()) == [10, 12]
    v = {row.id: sorted(row._violated) for row in r.violations.collect()}
    assert v == {11: ["fk_k", "in_range(amount,0.0,None)"]}
    # original column order preserved through the marker join
    assert r.passed.columns == ["id", "k", "amount"]


def test_foreign_key_plan_is_broadcast(spark):
    """The FK marker join must broadcast the key set — no fact-side
    shuffle regardless of rule count."""
    from etl_data_pipeline_spark.expectations import _marked
    from etl_data_pipeline_spark.plans import plan_str

    dim = spark.range(100).toDF("k")
    fact = spark.range(1000).select(
        F.col("id"), (F.col("id") % 150).alias("k")
    )
    plan = plan_str(_marked(fact, (Expectation.foreign_key("k", dim),)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _fk_spec(src, sinkd, mode, spark):
    dim_path = str(src / "dim.parquet")

    def dim():
        return spark.read.parquet(dim_path)

    return PipelineSpec(tables=[TableSpec(
        name="orders",
        watermark_column="id",
        watermark_type="id",
        source_format="parquet",
        source_options={"dir": str(src)},
        sink_format="parquet",
        sink_options={"dir": str(sinkd)},
        expectations=(Expectation.foreign_key(
            "custkey", dim, dim_col="custkey", name="fk_cust"
        ),),
        expectations_mode=mode,
    )])


def test_pipeline_fk_fail_mode(spark, tmp_path):
    src = tmp_path / "src"; src.mkdir()
    spark.createDataFrame([(1,), (2,)], "custkey long") \
        .write.parquet(str(src / "dim.parquet"))
    spark.createDataFrame(
        [(1, 1), (2, 99)], "id long, custkey long"
    ).write.parquet(str(src / "orders.parquet"))
    store = WatermarkStore(tmp_path / "wm.json")
    res = IncrementalPipeline(
        spark, _fk_spec(src, tmp_path / "sink", "fail", spark), store
    ).run()
    assert res[0].status == "failed"
    assert "fk_cust" in res[0].error
    assert store.get("orders") is None


def test_pipeline_fk_drop_mode(spark, tmp_path):
    src = tmp_path / "src"; src.mkdir()
    sinkd = tmp_path / "sink"
    spark.createDataFrame([(1,), (2,)], "custkey long") \
        .write.parquet(str(src / "dim.parquet"))
    spark.createDataFrame(
        [(1, 1), (2, 99), (3, 2)], "id long, custkey long"
    ).write.parquet(str(src / "orders.parquet"))
    store = WatermarkStore(tmp_path / "wm.json")
    res = IncrementalPipeline(
        spark, _fk_spec(src, sinkd, "drop", spark), store
    ).run()
    assert (res[0].status, res[0].rows) == ("loaded", 2)
    assert store.get("orders") == "3"
    loaded = spark.read.parquet(str(sinkd / "orders"))
    assert sorted(r.id for r in loaded.collect()) == [1, 3]
    quar = spark.read.parquet(str(sinkd / "orders_quarantine"))
    qrows = quar.collect()
    assert [r.id for r in qrows] == [2]
    assert qrows[0]._violated == ["fk_cust"]


def test_unique_rule_drop_mode_on_both_pipeline_paths(spark, tmp_path):
    """A shuffling ``unique`` rule next to a Column rule, in drop mode,
    on the column-watermark path and on the version feed: the same
    quarantine rows, sink rows, loaded count and watermark advance."""
    from etl_data_pipeline_spark.sinks.manifest import commit as mcommit

    rows = [(1, "a"), (2, "b"), (2, "c"), (3, None), (4, "d")]
    batch = spark.createDataFrame(rows, "id long, v string")
    src = tmp_path / "src"
    batch.write.parquet(str(src / "col.parquet"))
    mcommit(batch, str(src / "feed"))
    rules = (Expectation.unique("id"), Expectation.not_null("v"))
    common = dict(
        source_options={"dir": str(src)},
        sink_options={"dir": str(tmp_path / "sink")},
        expectations=rules,
        expectations_mode="drop",
    )
    spec = PipelineSpec(tables=[
        TableSpec(name="col", watermark_column="id", watermark_type="id", **common),
        TableSpec(
            name="feed", watermark_type="version", source_format="manifest", **common
        ),
    ])
    store = WatermarkStore(tmp_path / "wm.json")
    res = {r.table: r for r in IncrementalPipeline(spark, spec, store).run()}
    assert {t: (r.status, r.rows) for t, r in res.items()} == {
        "col": ("loaded", 2), "feed": ("loaded", 2)
    }
    assert (store.get("col"), store.get("feed")) == ("4", "1")
    for t in ("col", "feed"):
        sink = spark.read.parquet(str(tmp_path / "sink" / t))
        assert sorted(r.id for r in sink.collect()) == [1, 4]
        quar = spark.read.parquet(str(tmp_path / "sink" / f"{t}_quarantine"))
        assert sorted((r.id, tuple(r._violated)) for r in quar.collect()) == [
            (2, ("unique(id)",)), (2, ("unique(id)",)), (3, ("not_null(v)",))
        ]
