"""Round-7 additions: fixed-iteration PageRank and the explicit
runtime Bloom-filter join pruning — behavioral invariants plus the
100 TB plan posture."""

from pyspark.sql import functions as F

from etl_data_pipeline_spark.operators import graph, joins
from etl_data_pipeline_spark.plans import plan_str as _plan
from etl_data_pipeline_spark.session import load_table


def test_pagerank_mass_conserved(spark, sf_dir):
    """Σ rank = 1 is the PageRank invariant on a dangling-free graph
    (the symmetrized edge set guarantees out-degree ≥ 1 everywhere);
    ranks are strictly positive and the node set is exactly the
    distinct customers + suppliers that co-occur in lineitem."""
    ranks = graph.graph_pagerank(spark, sf_dir).collect()
    total = sum(r.rank for r in ranks)
    assert abs(total - 1.0) < 1e-6
    assert all(r.rank > 0 for r in ranks)
    custs = {r.node for r in ranks if r.node.startswith("c")}
    supps = {r.node for r in ranks if r.node.startswith("s")}
    assert custs and supps
    assert len(custs) + len(supps) == len(ranks)


def test_pagerank_rank_ordering_follows_degree_pull(spark, sf_dir):
    """On the bipartite co-purchase graph the few suppliers absorb
    rank from many customers: the max supplier rank must exceed the
    max customer rank (structural sanity, not a numeric fixture)."""
    ranks = graph.graph_pagerank(spark, sf_dir).collect()
    max_s = max(r.rank for r in ranks if r.node.startswith("s"))
    max_c = max(r.rank for r in ranks if r.node.startswith("c"))
    assert max_s > max_c


def test_pagerank_plan_no_cartesian(spark, sf_dir):
    plan = _plan(graph.graph_pagerank(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_bfs_levels_are_true_shortest_paths(spark, sf_dir):
    """BFS invariants on the bipartite graph: exactly one source at
    dist 0 (a supplier node); every dist-1 node is a direct neighbor
    of the source; parity matches bipartiteness (odd hops land on
    customers, even hops on suppliers); no node appears twice."""
    out = graph.graph_bfs_levels(spark, sf_dir).collect()
    by_node = {r.node: r.dist for r in out}
    assert len(by_node) == len(out)  # each node exactly once
    sources = [n for n, d in by_node.items() if d == 0]
    assert len(sources) == 1 and sources[0].startswith("s")
    for node, dist in by_node.items():
        side = "c" if dist % 2 == 1 else "s"
        assert node.startswith(side), (node, dist)
    # dist-1 set == direct neighbors of the source
    edges = graph._edges_long(spark, sf_dir).select(
        graph._node_str(F.col("src")).alias("src"),
        graph._node_str(F.col("dst")).alias("dst"),
    ).collect()
    neigh = {e.dst for e in edges if e.src == sources[0]}
    assert {n for n, d in by_node.items() if d == 1} == neigh


def test_user_streaks_invariants(spark, sf_dir):
    """Gaps-and-islands arithmetic: longest streak ≤ active days,
    streak count ≥ 1, and Σ streak lengths equals the user's distinct
    active days (recomputed independently)."""
    from etl_data_pipeline_spark.operators import analytics

    rows = analytics.events_user_streaks(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.longest_streak <= r.n_active_days
        assert r.n_streaks >= 1
    days = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .groupBy("user_id")
        .count()
        .collect()
    )
    expected = {r.user_id: r["count"] for r in days}
    assert {r.user_id: r.n_active_days for r in rows} == expected


def test_bloom_prune_no_false_negatives_and_prunes(spark, sf_dir):
    """Every actually-joining fact row must survive the Bloom probe
    (no false negatives), and the probe must drop a real fraction of
    the non-joining rows (16 KiB bitmap, k=3: expected fp rate ≪ 1%
    at this fill)."""
    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    pruned = joins.bloom_prune(li, urgent.select("o_orderkey"), "l_orderkey")
    matching = li.join(
        urgent, li.l_orderkey == urgent.o_orderkey, "left_semi"
    )
    n_total = li.count()
    n_match = matching.count()
    n_pruned = pruned.count()
    assert n_match <= n_pruned < n_total
    # no false negatives: every matching row id is present post-prune
    missing = matching.select("l_orderkey", "l_linenumber").join(
        pruned.select("l_orderkey", "l_linenumber"),
        ["l_orderkey", "l_linenumber"],
        "left_anti",
    )
    assert missing.count() == 0


def test_bloom_probe_is_broadcast_only_on_fact_side(spark, sf_dir):
    """The probe side adds NO exchange to the fact lineage: the bitmap
    arrives as a broadcast (BroadcastNestedLoopJoin over one row), the
    bit test is a plain Filter, and the real join stays a broadcast
    hash join — no SortMergeJoin anywhere at dim scale."""
    plan = _plan(joins.join_bloom_pruned(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("lineitem.parquet") == 1


def test_quality_classifier_is_map_only(spark, sf_dir):
    """The hashed-linear-model scorer is one projection with no KEY
    shuffle — its only exchange is the explicit spread() round-robin
    CPU fan-out — and no Python evaluation node anywhere."""
    from etl_data_pipeline_spark.llm import text_analysis

    plan = _plan(text_analysis.text_quality_classifier(spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange (") == 1  # the spread() fan-out only
    assert plan.count("documents.parquet") == 1
    for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_node not in plan


def test_quality_classifier_probabilities(spark, sf_dir):
    rows = (
        __import__("etl_data_pipeline_spark.llm.text_analysis", fromlist=["x"])
        .text_quality_classifier(spark, sf_dir)
        .collect()
    )
    assert all(0.0 < r.prob < 1.0 for r in rows)
    assert all(r.keep == (r.prob >= 0.5) for r in rows)


def test_gopher_rules_flags_vary(spark, sf_dir):
    """Thresholds are tuned so each rule actually discriminates on
    this corpus: the composite keep must include both classes, and
    every per-rule column must be a real boolean split or at minimum
    non-degenerate overall."""
    from etl_data_pipeline_spark.llm import text_analysis

    rows = text_analysis.text_gopher_rules(spark, sf_dir).collect()
    keeps = {r.keep for r in rows}
    assert keeps == {True, False}
    assert all(3.0 < r.mean_word_len < 6.0 for r in rows)
    assert all(r.top_bigram_cnt >= 1 for r in rows)
