"""The manifest_table streaming source (streaming/manifest_source):
the version-offset change feed through spark.readStream, its agreement
with manifest.read_changes, and the batch reads and exactly-once
stream writes that go through read_table/commit."""

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from etl_data_pipeline_spark.sinks.manifest import (
    commit,
    compact,
    read_changes,
    read_manifest,
    read_table,
)
from etl_data_pipeline_spark.streaming import manifest_source


@pytest.fixture(autouse=True)
def _register(spark):
    manifest_source.register(spark)


def _frame(spark, n, tag, base=0):
    return spark.range(base, base + n).select(
        F.col("id").alias("k"), F.lit(tag).alias("v")
    )


def _drain_to_memory(spark, t, name, starting_version=0):
    """availableNow stream of the table's change feed into a memory
    table; returns the delivered rows as a DataFrame."""
    q = (
        spark.readStream.format("manifest_table")
        .option("path", t).option("startingVersion", starting_version).load()
        .writeStream.format("memory").queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_stream_read_typed_columns_roundtrip(spark, sf_dir, tmp_path):
    """Arrow-side type mapping on the executor: timestamps, arrays,
    doubles survive the change-feed stream byte-for-byte vs the
    committed frame."""
    t = str(tmp_path / "t")
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).limit(200)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).limit(50)
    joined = ev.select("event_id", "user_id", "ts", "value").crossJoin(
        emb.select("embedding").limit(1)
    )
    commit(joined, t)
    back = _drain_to_memory(spark, t, "typed_feed")
    assert back.schema == joined.schema
    a = sorted(joined.collect(), key=lambda r: r.event_id)
    b = sorted(back.collect(), key=lambda r: r.event_id)
    assert a == b


def test_stream_feed_delivers_only_new_versions(spark, tmp_path):
    """Offsets are manifest versions: a restarted query (same
    checkpoint) sees ONLY versions committed since it last ran, and a
    compaction delivers nothing."""
    t = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    commit(_frame(spark, 5, "a"), t)

    def run_once():
        q = (
            spark.readStream.format("manifest_table").option("path", t).load()
            .writeStream.format("parquet").option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(sink)

    assert run_once().count() == 5

    commit(_frame(spark, 3, "b", base=50), t, mode="append")
    compact(spark, t)  # layout-only: must deliver nothing extra
    commit(_frame(spark, 2, "c", base=90), t, mode="append")

    out2 = run_once()  # SAME checkpoint: only the new versions arrive
    assert out2.count() == 5 + 3 + 2  # no compaction re-delivery
    news = {(r.k, r.v) for r in out2.filter("v != 'a'").collect()}
    assert news == {(50, "b"), (51, "b"), (52, "b"), (90, "c"), (91, "c")}

    # caught up: an immediate re-run delivers nothing
    assert run_once().count() == 10


def test_available_now_drain_is_one_batch(spark, tmp_path):
    """The source has no admission control, so availableNow falls back
    to Trigger.Once: one drain over several committed versions delivers
    every row in a single micro-batch."""
    t = str(tmp_path / "t")
    commit(_frame(spark, 5, "a"), t)
    commit(_frame(spark, 3, "b", base=50), t, mode="append")
    commit(_frame(spark, 2, "c", base=90), t, mode="append")
    assert read_manifest(t)["version"] == 3
    q = (
        spark.readStream.format("manifest_table").option("path", t).load()
        .writeStream.format("memory").queryName("one_batch_drain")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batches = [(p.batchId, p.numInputRows) for p in q.recentProgress]
    assert batches == [(0, 10)]
    assert spark.table("one_batch_drain").count() == 10


def test_stream_feed_starting_version(spark, tmp_path):
    t = str(tmp_path / "t")
    commit(_frame(spark, 5, "a"), t)
    commit(_frame(spark, 3, "b", base=50), t, mode="append")
    q = (
        spark.readStream.format("manifest_table")
        .option("path", t).option("startingVersion", 1).load()
        .writeStream.format("memory").queryName("from_v1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.table("from_v1").count() == 3  # only version 2's delta


def test_stream_feed_overwrite_fails_loudly(spark, tmp_path):
    t = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    commit(_frame(spark, 4, "a"), t)

    def run_once():
        q = (
            spark.readStream.format("manifest_table").option("path", t).load()
            .writeStream.format("parquet").option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    commit(_frame(spark, 9, "rebuilt"), t)  # overwrite
    with pytest.raises(Exception, match="broken by an overwrite"):
        run_once()


def test_stream_writer_exactly_once(spark, tmp_path):
    """foreachBatch + commit(txn=(app_id, batch_id)): one commit per
    batch id under the txn fence; a forced replay (fresh checkpoint,
    same app id) is fenced out."""
    t = str(tmp_path / "t")
    src = str(tmp_path / "src")
    ev = _frame(spark, 20, "s").repartition(4)
    ev.write.parquet(src)

    def land(batch_df, batch_id):
        commit(batch_df, t, mode="append", txn=("ingest", int(batch_id)))

    def run(ckpt):
        stream = (
            spark.readStream.schema("k BIGINT, v STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(land)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("ck1")
    m = read_manifest(t)
    assert read_table(spark, t).count() == 20
    n_files = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert m["version"] == n_files  # one commit per micro-batch
    assert m["txn"] == {"ingest": n_files - 1}

    run("ck2")  # forced full replay with the same app
    assert read_manifest(t)["version"] == m["version"]  # nothing re-landed
    assert read_table(spark, t).count() == 20


def test_golden_path_pipeline_to_stream_composition(spark, sf_dir, tmp_path):
    """The composed system, end to end: an incremental PIPELINE loads
    parquet deltas into a manifest table (content-fenced appends); a
    STREAMING query over the manifest_table DataSource consumes the
    change feed into a downstream aggregate; compaction and vacuum run
    between micro-batches. Exactly-once everywhere: the downstream
    total equals the source exactly, across restarts."""
    from etl_data_pipeline_spark.pipeline import IncrementalPipeline
    from etl_data_pipeline_spark.sinks.manifest import vacuum
    from etl_data_pipeline_spark.sinks.manifest import compact as mcompact
    from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
    from etl_data_pipeline_spark.watermark import WatermarkStore

    src = str(tmp_path / "src")
    table = str(tmp_path / "sink" / "orders")
    down = str(tmp_path / "down")
    ckpt = str(tmp_path / "ckpt")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    orders.filter(F.col("o_orderkey") < 500).write.parquet(
        os.path.join(src, "orders.parquet")
    )

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
    pipe = IncrementalPipeline(spark, spec, WatermarkStore(tmp_path / "wm.json"))

    def drain():
        q = (
            spark.readStream.format("manifest_table").option("path", table).load()
            .writeStream.format("parquet").option("path", down)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(down)

    assert pipe.run()[0].status == "loaded"
    assert drain().count() == 500

    # wave 2 arrives; table is compacted and vacuumed behind the stream
    orders.filter(
        (F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1100)
    ).write.mode("append").parquet(os.path.join(src, "orders.parquet"))
    assert pipe.run()[0].status == "loaded"
    mcompact(spark, table)
    vacuum(table, keep_last=3)  # retention outlasts the consumer's lag

    orders.filter(F.col("o_orderkey") >= 1100).write.mode("append").parquet(
        os.path.join(src, "orders.parquet")
    )
    assert pipe.run()[0].status == "loaded"

    out = drain()
    assert out.count() == orders.count()  # exactly once, no gaps
    assert out.select("o_orderkey").distinct().count() == orders.count()
    # downstream aggregate agrees with the source of truth
    got = out.agg(F.sum("o_totalprice")).first()[0]
    want = orders.agg(F.sum("o_totalprice")).first()[0]
    assert abs(got - want) < 1e-6


def test_datasource_partitioned_table_reads_and_prunes(spark, tmp_path):
    """A hive-partitioned manifest table: read_table casts partition
    values to the recorded types (incl. the null partition) and
    filters on partition columns count right; the streaming feed
    injects partition columns from the paths too."""
    t = str(tmp_path / "t")
    df = spark.range(90).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("bucket"),
        F.lit("a").alias("v"),
    )
    commit(df, t, partition_by=("bucket",))
    # a null-partition delta
    commit(
        spark.createDataFrame([(1000, None, "n")], "k BIGINT, bucket INT, v STRING"),
        t,
        mode="append",
    )
    out = read_table(spark, t)
    assert out.schema.simpleString() == "struct<k:bigint,bucket:int,v:string>"
    assert out.count() == 91
    assert out.filter("bucket = 2").count() == 30  # typed partition compare
    assert out.filter("bucket IS NULL").count() == 1
    assert out.filter("bucket >= 1 AND k < 10").count() == 6
    # streaming feed over the partitioned deltas
    q = (
        spark.readStream.format("manifest_table").option("path", t).load()
        .writeStream.format("memory").queryName("pfeed")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    feed = spark.table("pfeed")
    assert feed.count() == 91
    assert feed.filter("bucket = 0").count() == 30


def _zordered_range_frame(spark, lo, hi):
    """One ingest batch covering [lo, hi): files laid out by the
    z-order idiom (morton key of the two filter columns), so parquet
    footer min/max on k is narrow per file AND per delta dir."""
    from etl_data_pipeline_spark.sinks import morton_key

    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 97).alias("k2"),
            F.lit(f"r{lo}").alias("v"),
        )
        .withColumn("__z", morton_key(F.col("k"), F.col("k2")))
        .repartitionByRange(2, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def test_stats_pruning_never_wrong_on_unknown_columns(spark, tmp_path):
    """read_table(where=) prunes delta dirs by footer stats and must
    never drop a dir that holds a match: string columns written across
    commits, a column older dirs predate (no stats there), mixed
    clauses — every count equals the unpruned answer."""
    t = str(tmp_path / "t")
    for lo in (0, 500):
        commit(_zordered_range_frame(spark, lo, lo + 500), t,
               mode="append" if lo else "overwrite")
    commit(
        _zordered_range_frame(spark, 1000, 1100).withColumn("extra", F.lit(1)),
        t,
        mode="append",
        merge_schema=True,
    )

    def n(where):
        return read_table(spark, t, where=where).count()

    assert n({"v": "r500"}) == 500
    assert n({"k": 250, "v": "r0"}) == 1
    assert n({"k": (10000, None)}) == 0
    assert n({"extra": 1}) == 100  # older dirs have no stats: kept
    assert n({"extra": 1, "k": (None, 1049)}) == 50


def test_stream_feed_matches_read_changes(spark, tmp_path):
    """The stream and read_changes share one planner, so they deliver
    the same rows: over a seeded sequence of appends, compactions and
    one schema-evolving append, an availableNow stream started at
    version lo while the head is hi delivers exactly
    read_changes(lo, until_version=hi) (old files null-filled in the
    evolved column). An overwrite inside the range breaks both."""
    import random

    from etl_data_pipeline_spark.sinks.manifest import FeedBrokenError

    rng = random.Random(7)
    ops = ["append", "append", "append", "compact", "compact", "evolve"]
    rng.shuffle(ops)
    t = str(tmp_path / "t")
    commit(_frame(spark, rng.randint(1, 6), "v1"), t)
    evolved = False
    for head, op in enumerate(ops, start=2):
        if op == "compact":
            compact(spark, t)
        else:
            evolved = evolved or op == "evolve"
            delta = _frame(spark, rng.randint(1, 6), f"v{head}", base=100 * head)
            if evolved:
                delta = delta.withColumn("extra", F.lit(head))
            commit(delta, t, mode="append", merge_schema=op == "evolve")
        lo = rng.randrange(0, head)
        got = _drain_to_memory(spark, t, f"feed_{lo}_{head}", lo)
        want = read_changes(spark, t, lo, until_version=head)
        assert got.columns == want.columns
        assert Counter(map(tuple, got.collect())) == Counter(
            map(tuple, want.collect())
        ), (ops, lo, head)
    commit(_frame(spark, 3, "rebuilt"), t)  # overwrite at head + 1
    lo = rng.randrange(0, head + 1)
    with pytest.raises(FeedBrokenError, match="broken by an overwrite"):
        read_changes(spark, t, lo)
    with pytest.raises(Exception, match="broken by an overwrite"):
        _drain_to_memory(spark, t, "feed_broken", lo)
