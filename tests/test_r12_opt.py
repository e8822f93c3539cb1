"""Focused pins for the r12 optimization round's internal changes:
staged-norm pair scoring, the map-only LR design matrix + driver-side
rounding, and the checkpointed iterative bases (partitioning survives
the persist→localCheckpoint swaps)."""

import math

import pytest
from pyspark.sql import functions as F

from etl_data_pipeline_spark.functions.rounding import hround
from etl_data_pipeline_spark.llm.vector import dot, scored_pairs


def test_staged_norm_cosine_bit_identical(spark):
    """scored_pairs with pre-staged norms must produce the EXACT same
    doubles as the inline cosine form — the equivalence every sim/ANN
    oracle now rests on (sqrt(dot(v,v)) is the same fold either way;
    a*b of equal doubles is equal)."""
    rows = [
        (1, [0.1, -0.2, 0.37], 10, [0.05, 0.9, -0.11]),
        (2, [1e-8, 2e9, -3.5], 20, [0.33, 0.44, 0.55]),
        (3, [-1.0, -1.0, -1.0], 30, [2.0, 2.0, 2.0]),
    ]
    pairs = spark.createDataFrame(
        rows, "query_id long, qv array<double>, vec_id long, v array<double>"
    )
    inline = scored_pairs(pairs, ["query_id", "vec_id"]).collect()
    staged_pairs = pairs.withColumn(
        "qnrm", F.sqrt(dot(F.col("qv"), F.col("qv")))
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    staged = scored_pairs(
        staged_pairs, ["query_id", "vec_id"], qnrm="qnrm", nrm="nrm"
    ).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, staged))


def test_lr_row_form_is_explode_of_set_form(spark):
    """The streaming scorer's row-form features must stay exactly the
    explode of the trainer's set form — one definition, no drift (the
    r11 docstring's hazard, now structural)."""
    from etl_data_pipeline_spark.llm.features import (
        lr_doc_features,
        lr_feature_set,
    )

    docs = spark.createDataFrame(
        [
            (1, "join scan filter join"),
            (2, ""),
            (3, None),
            (4, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["j"], r["x"]) for r in lr_doc_features(docs).collect()
    }
    sets = {r["doc_id"]: r["js"] for r in docs.select(
        "doc_id", lr_feature_set().alias("js")).collect()}
    expect = {
        (d, j, 1.0) for d, js in sets.items() for j in js
    }
    assert rows == expect
    # intercept present for EVERY doc, including empty and NULL text
    for d in (1, 2, 3, 4):
        assert sets[d][0] == -1, sets[d]
        assert sets[d] == sorted(sets[d])
        assert len(sets[d]) == len(set(sets[d]))


def test_round6_py_matches_hround(spark):
    """The driver-side weight update must round exactly like the
    executor expression it replaced: floor(x*1e6+0.5)/1e6 over a value
    sweep including tie and negative cases."""
    from etl_data_pipeline_spark.functions.rounding import _round6_py

    vals = [
        0.0, -0.0, 1.2345675, -1.2345675, 0.0000005, -0.0000005,
        12.9999995, -12.9999995, 3.14159265358979, -2.718281828459045,
        1e-9, -1e-9, 123456.654321999,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    jvm = [r[0] for r in df.select(hround(F.col("x"), 6)).collect()]
    py = [_round6_py(v) for v in vals]
    assert jvm == py


def test_lr_margin_fold_equals_row_sum_scoring(spark, sf_dir):
    """The map-only margin fold must agree (at the 6 dp contract) with
    the r11 broadcast-join row-sum scoring for the trained model —
    the scoring identity eval/score/streaming all rely on."""
    from etl_data_pipeline_spark.llm.features import (
        _lr_margin,
        _lr_train,
        _lr_wmap,
        lr_doc_features,
    )
    from etl_data_pipeline_spark.session import load_table

    X, support, w = _lr_train(spark, sf_dir)
    W = spark.createDataFrame(
        [(j, w[j]) for j in support], "j bigint, w double"
    )
    fold = {
        (r["doc_id"], r["m"])
        for r in X.select(
            "doc_id", _lr_margin(_lr_wmap(support, w)).alias("m")
        ).collect()
    }
    rowsum = {
        (r["doc_id"], r["m"])
        for r in lr_doc_features(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        )
        .join(F.broadcast(W), "j")
        .groupBy("doc_id")
        .agg(hround(F.sum(F.col("x") * F.col("w")), 6).alias("m"))
        .collect()
    }
    assert fold == rowsum


def test_pagerank_bases_stay_copartitioned(spark, sf_dir):
    """The r12 lineage cut must NOT cost the co-partitioned round
    joins: a bare localCheckpoint on top of the repartition reads
    UnknownPartitioning under AQE (found this round — the naive swap
    silently re-exchanges the edges every round at scale), so the
    shipped shape is checkpoint-under / persist-on-top. Pin that the
    edges⋈deg join adds NO exchange above the caches: in the plan
    tree, every Exchange line must sit inside an InMemoryRelation
    reprint (the cache's own build), never between the join and an
    InMemoryTableScan."""
    from etl_data_pipeline_spark.functions.caching import release_tracked
    from etl_data_pipeline_spark.operators.graph import _edges_long
    from etl_data_pipeline_spark.functions.caching import tracked_persist

    p = spark.sparkContext.defaultParallelism
    edges = tracked_persist(
        _edges_long(spark, sf_dir).localCheckpoint().repartition(p, "src")
    )
    deg = tracked_persist(
        edges.groupBy("src")
        .agg(F.count("*").alias("outdeg"))
        .withColumnRenamed("src", "node")
        .repartition(p, "node")
    )
    deg.count()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # with broadcast off, a co-partitioned SMJ reads each cache
        # directly: Sort → (Filter) → InMemoryTableScan with NO
        # Exchange in between (an exchange there means the cache
        # stopped advertising its hash partitioning — the bare-
        # checkpoint failure mode this test exists to catch)
        joined = edges.join(deg, edges.src == deg.node)
        tree = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        ).split("\n\n")[0]
        lines = tree.splitlines()
        # only the join's DIRECT branch scans (shallow indentation);
        # deeper InMemoryTableScan lines are nested cache reprints
        # whose build legitimately contains its one exchange
        scans = [
            i
            for i, l in enumerate(lines)
            if "InMemoryTableScan" in l
            and len(l) - len(l.lstrip(" :+-")) < 20
        ]
        assert len(scans) >= 2, tree
        for i in scans:
            above = "\n".join(lines[max(0, i - 3): i])
            assert "Exchange" not in above, tree
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        release_tracked(spark, blocking=True)
