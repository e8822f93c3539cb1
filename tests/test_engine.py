"""Public facade (engine.EtlEngine): SQL surface, named operators,
pipeline runner — the single import a switching user needs."""

from etl_data_pipeline_spark.engine import EtlEngine
from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec


def test_engine_sql_and_views(spark, sf_dir):
    eng = EtlEngine(spark)
    eng.register_views(sf_dir)
    n = eng.sql("SELECT count(*) AS n FROM orders").first()["n"]
    assert n == eng.table(sf_dir, "orders").count() > 0
    top = eng.sql(
        """
        SELECT c_mktsegment, count(*) AS cnt
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY cnt DESC LIMIT 1
        """
    ).collect()
    assert len(top) == 1


def test_engine_named_query(spark, sf_dir):
    eng = EtlEngine(spark)
    out = eng.query("agg_groupby", sf_dir)
    assert out.count() > 0
    assert "sum_qty" in out.columns


def test_engine_run_pipeline(spark, sf_dir, tmp_path):
    eng = EtlEngine(spark)
    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="nation",
                source_options={"dir": sf_dir},
                sink_options={"dir": str(tmp_path / "sink")},
            )
        ]
    )
    results = eng.run_pipeline(spec, state_path=str(tmp_path / "wm.json"))
    assert [r.status for r in results] == ["loaded"]
    assert spark.read.parquet(str(tmp_path / "sink" / "nation")).count() > 0


def test_source_sink_format_round_trips(spark, sf_dir, tmp_path):
    """Every file format in the registries round-trips a frame
    losslessly (ORC/JSON/CSV alongside the default parquet)."""
    from etl_data_pipeline_spark.sinks import write_sink
    from etl_data_pipeline_spark.sources import read_source

    src = read_source(spark, "parquet", "nation", {"dir": sf_dir})
    expected = sorted(r.n_name for r in src.collect())
    for fmt in ("parquet", "orc", "json", "csv"):
        out = str(tmp_path / fmt)
        write_sink(src, fmt, "nation", {"path": out})
        back = read_source(spark, fmt, "nation", {"path": out})
        assert sorted(r.n_name for r in back.collect()) == expected


def test_engine_manifest_facade(spark, tmp_path):
    """The manifest surface through the one-import facade: commit /
    read / change feed / history / cache release."""
    from pyspark.sql import functions as F

    from etl_data_pipeline_spark.engine import EtlEngine

    eng = EtlEngine(spark)
    t = str(tmp_path / "t")
    f = lambda n, tag: spark.range(n).select(
        F.col("id").alias("k"), F.lit(tag).alias("v")
    )
    m1 = eng.commit(f(5, "a"), t)
    eng.commit(f(8, "b"), t, mode="append", merge_keys=("k",))
    assert eng.read_table(t).count() == 8  # keys 0-4 fenced out, 5-7 landed
    assert eng.read_table(t, version=1).count() == 5
    assert eng.read_changes(t, 1).count() == 3
    h = eng.history(t)
    assert [m["version"] for m in h] == [1, 2] and h[0] == m1
    assert eng.release_caches() >= 0


def test_xml_registry_round_trip_and_pipeline(spark, tmp_path):
    """'xml' as a registry format (Spark 4 native xml datasource):
    write_sink/read_source round trip, then a two-batch incremental
    pipeline with an XML source and sink — strict watermark boundary,
    no duplicates, skip-on-empty."""
    from etl_data_pipeline_spark.pipeline import IncrementalPipeline
    from etl_data_pipeline_spark.sinks import write_sink
    from etl_data_pipeline_spark.sources import read_source
    from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
    from etl_data_pipeline_spark.watermark import WatermarkStore

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    write_sink(df, "xml", "t", {"dir": str(tmp_path)})
    back = read_source(spark, "xml", "t", {"dir": str(tmp_path)})
    assert sorted((r.id, r.s) for r in back.collect()) == [(1, "a"), (2, "b")]

    src = tmp_path / "src"
    src.mkdir()
    sinkd = tmp_path / "sink"
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 6)], "order_id long, payload string"
    ).write.format("xml").option("rowTag", "row").mode("append").save(
        str(src / "orders.xml")
    )
    spec = PipelineSpec(tables=[TableSpec(
        name="orders",
        watermark_column="order_id",
        watermark_type="id",
        source_format="xml",
        source_options={"dir": str(src)},
        sink_format="xml",
        sink_options={"dir": str(sinkd)},
    )])
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)
    assert [r.status for r in pipe.run()] == ["loaded"]
    assert store.get("orders") == "5"
    spark.createDataFrame(
        [(6, "v6"), (7, "v7")], "order_id long, payload string"
    ).write.format("xml").option("rowTag", "row").mode("append").save(
        str(src / "orders.xml")
    )
    assert [r.status for r in pipe.run()] == ["loaded"]
    got = read_source(spark, "xml", "orders", {"dir": str(sinkd)})
    assert sorted(r.order_id for r in got.collect()) == list(range(1, 8))
    assert [r.status for r in pipe.run()] == ["skipped_empty"]


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """A fresh process started outside the repo, with the package only
    on the driver's sys.path: its Python workers still import the
    package, so a UDF that calls a package function returns rows."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from etl_data_pipeline_spark.session import get_spark
from etl_data_pipeline_spark.watermark import parse_watermark

spark = get_spark("cwd_probe", master="local[1]", shuffle_partitions=1)
udf = F.udf(lambda s: parse_watermark(s, "id"), "long")
rows = spark.range(3).select(udf(F.col("id").cast("string")).alias("w"))
print("ROWS", sorted(r.w for r in rows.collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "ROWS [0, 1, 2]" in out.stdout, out.stderr[-3000:]
