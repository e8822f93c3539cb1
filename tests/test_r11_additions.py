"""Positional ranking recipes (functions/ranking.py) against Spark's
own windows, and the pglive sink's option routing."""


def test_with_global_position_matches_row_number(spark):
    """The shared zipWithIndex recipe (functions/ranking.py) produces
    positions bit-identical to a global row_number() window on any
    total order — the contract export_shuffle / corpus_interleave /
    events_rfm rely on to swap the single-partition window out."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from etl_data_pipeline_spark.functions.ranking import with_global_position

    df = spark.range(997).select(
        F.col("id"),
        (F.col("id") * 2654435761 % 1000).alias("k"),  # heavy ties
    )
    order = [F.desc("k"), F.asc("id")]
    got = {
        (r.id, r.k): r.pos
        for r in with_global_position(df, order).collect()
    }
    want = {
        (r.id, r.k): r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    assert got == want


def test_ntile_from_position_matches_spark_ntile(spark):
    """ntile_from_position reproduces F.ntile exactly for every
    (n_total, n_buckets) shape, including n_total < n_buckets and the
    uneven-bucket boundary rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from etl_data_pipeline_spark.functions.ranking import ntile_from_position

    for n_total in (1, 3, 4, 5, 100, 103):
        df = spark.range(n_total)
        for k in (2, 4, 7):
            want = [
                r.nt
                for r in df.withColumn(
                    "nt", F.ntile(k).over(Window.orderBy("id"))
                ).orderBy("id").collect()
            ]
            got = [
                r.nt
                for r in df.withColumn(
                    "nt", ntile_from_position(F.col("id") + 1, n_total, k)
                ).orderBy("id").collect()
            ]
            assert got == want, (n_total, k)


def test_pglive_sink_option_routing(monkeypatch):
    """The sink reads one routing option: every legacy key
    ('distributed' either way, 'driver_side', 'staged') appends
    through the one staged publish, and only 'atomic' replaces."""
    from tests.test_pg_live import publish_tail

    for opts in (
        {},
        {"distributed": True},
        {"distributed": False},
        {"driver_side": True},
        {"staged": True},
    ):
        tail = publish_tail(monkeypatch, opts)
        assert tail[0].startswith("INSERT INTO t ("), (opts, tail)
        assert tail[1].startswith("DROP TABLE t__w"), (opts, tail)
    tail = publish_tail(monkeypatch, {"atomic": True, "driver_side": True})
    assert tail[-3] == "DROP TABLE t" and tail[-2].endswith(" RENAME TO t"), tail
