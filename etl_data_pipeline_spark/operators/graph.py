"""Graph analytics over relational edge lists (north-star extension;
the reference has no graph surface — its nearest shape is the registry
anti-join diagnostic, util.py:384-387).

``graph_pagerank`` is the canonical iterative-DataFrame algorithm:
fixed-iteration PageRank over the customer↔supplier co-purchase graph
derived from orders ⋈ lineitem. The same loop discipline as
llm/dedup.py's connected components applies — ``localCheckpoint`` per
round to truncate the logical plan (the standard iterative-DataFrame
trap), per-round state limited to (node, rank) pairs, and the only
driver-side values are two scalars (node count, loop bound).

Scale posture: each iteration is ONE shuffle join (edges ⋈ ranks on
src) plus ONE map-side-combined aggregation (sum of contributions by
dst). Edge and rank partitioning is stable across rounds, so at
cluster scale the join co-locates after the first iteration's
exchange; state per round is O(nodes), never O(edges × iterations).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_data_pipeline_spark.functions.caching import (
    tracked_checkpoint,
    tracked_persist,
)
from etl_data_pipeline_spark.functions.rounding import hround, sql_round
from etl_data_pipeline_spark.session import load_table

PR_ITERS = 5
PR_DAMPING = 0.85
BFS_MAX_DEPTH = 4

# Shared edge construction (Spark + the SQL twin the oracles embed):
# the undirected bipartite co-purchase graph — distinct
# (customer, supplier) pairs via orders ⋈ lineitem, symmetrized so
# every node has out-degree ≥ 1.
_SQL_EDGES_CTE = """e0 AS MATERIALIZED (
            SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), edges AS MATERIALIZED (
            SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
        )"""
# AS MATERIALIZED throughout the graph oracles: DuckDB inlines a CTE
# at every reference site, so the unrolled iterative chains (r_i reads
# r_{i-1}, v_i reads v_{i-1} twice) recompute EXPONENTIALLY in the
# iteration count without it — the sf1-tier oracle went >9 min inlined
# vs 7 s materialized. Semantics identical; planning hint only.


def _edges_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetrized co-purchase edge list (``_SQL_EDGES_CTE``) in a
    LONG key domain: customer ck → 2·ck, supplier sk → 2·sk + 1
    (injective, side recoverable from the low bit). The pairs are
    deduplicated on the raw int keys. The iterative consumers
    (pagerank rounds, BFS frontiers) hash, join, aggregate and
    EXCHANGE node keys once per round — carrying 8-byte longs instead
    of 'c…'/'s…' strings shrinks every per-round shuffle and replaces
    string hashing/compares in the loop's hot joins (guide §2.3
    "narrower types"). ``_node_str`` is the exact inverse, applied
    ONCE at each query's output so the public/oracle string ids are
    unchanged."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ipairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk")
        )
        .distinct()
    )
    c = (F.col("ck").cast("long") * 2).alias
    s = (F.col("sk").cast("long") * 2 + 1).alias
    return ipairs.select(c("src"), s("dst")).union(
        ipairs.select(s("src"), c("dst"))
    )


def _node_str(col: Column) -> Column:
    """Long node key → the public string id ('c'+ck / 's'+sk)."""
    half = F.shiftright(col, 1)
    return F.when(
        col % 2 == 0, F.concat(F.lit("c"), half)
    ).otherwise(F.concat(F.lit("s"), half))


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (d=0.85, 5 rounds) on the undirected
    bipartite graph customer —bought-from→ supplier (distinct
    (o_custkey, l_suppkey) pairs via orders ⋈ lineitem, symmetrized so
    every node has out-degree ≥ 1 — no dangling-mass term needed).

    r_{t+1}(v) = (1-d)/N + d · Σ_{u→v} r_t(u)/outdeg(u)

    Deterministic (fixed iteration count, no convergence test), so the
    DuckDB oracle replays the exact recurrence as five unrolled CTEs.
    Ranks are full-precision through the loop and rounded once (8 dp)
    at the end.
    """
    # One partitioning, reused every round: edges hash-partitioned on
    # src, deg (and therefore every round's ranks, which inherit deg's
    # partitioning through the join) on node. Since node/src share the
    # same hash family and partition count P, each round's edges⋈ranks
    # join AND its deg⋈summed join are both zipped co-partitioned —
    # the ONLY exchange per round is the contribution groupBy.
    p = spark.sparkContext.defaultParallelism
    # HYBRID lineage cut (r12): localCheckpoint the EXPENSIVE subtree
    # (orders⋈lineitem⋈distinct — persisted alone, its full lineage is
    # re-analyzed inside all 5 rounds' plans, measured ~1.2 s/round of
    # pure Catalyst work at sf0.1; interleaved A/B 6.7-6.9 s vs
    # 7.6-8.2 s warm), then persist the REPARTITIONED top: under AQE a
    # checkpointed frame reads UnknownPartitioning, so checkpointing
    # after the repartition would silently re-exchange the edges every
    # round at scale — the InMemoryRelation on top is what carries
    # hash(src/node, p) into the round joins
    # (tests/test_r12_opt.py pins the exchange-free join).
    #
    # Fault-tolerance posture (r13, deliberate): localCheckpoint stores
    # the EDGE SET — corpus-scale at 100 TB — in executor-local block
    # storage with lineage discarded, so an executor loss mid-query
    # fails the query instead of recomputing (the documented
    # localCheckpoint trade). Accepted because the alternatives cost
    # more at every scale tried: reliable .checkpoint() adds a full
    # distributed-FS write of the edges per run, and persist-with-
    # lineage re-analyzes the orders⋈lineitem⋈distinct subtree in all
    # 5 rounds' plans (~1.2 s/round of pure Catalyst at sf0.1, growing
    # with graph size). A deployment that cannot tolerate a rare
    # re-run swaps in .checkpoint() here — one line, same partitioning
    # contract. Model-sized checkpoints elsewhere (IVF centroids,
    # shortlists) carry no such risk.
    # LONG node keys through the loop (r13, guide §2.3): every round's
    # join/agg/exchange hashes 8-byte longs instead of strings; the
    # public string ids are rebuilt once at the output projection.
    edges = tracked_persist(
        tracked_checkpoint(_edges_long(spark, sf_dir)).repartition(p, "src")
    )
    deg = tracked_persist(
        edges.groupBy("src")
        .agg(F.count("*").alias("outdeg"))
        .withColumnRenamed("src", "node")
        .repartition(p, "node")
    )
    n = deg.count()  # scalar node count, not a data collect
    # localCheckpoint(eager=False) truncates each round's plan, but the
    # work is not deferred: taking the checkpoint executes the physical
    # plan to get its RDD, and AQE materialises every shuffle stage of
    # the round there, as jobs of their own. Measured at sf0.01, 25 of
    # the query's 26 jobs run while the frame is built; only the final
    # save runs at execute.
    ranks = tracked_checkpoint(
        deg.select("node", "outdeg", (F.lit(1.0) / n).alias("rank")),
        eager=False,
    )
    for _ in range(PR_ITERS):
        contribs = edges.join(ranks, edges.src == ranks.node).select(
            F.col("dst").alias("node"),
            (F.col("rank") / F.col("outdeg")).alias("contrib"),
        )
        summed = contribs.groupBy("node").agg(F.sum("contrib").alias("s"))
        ranks = (
            deg.join(summed, "node")
            .select(
                "node",
                "outdeg",
                (
                    F.lit((1.0 - PR_DAMPING)) / n
                    + F.lit(PR_DAMPING) * F.col("s")
                ).alias("rank"),
            )
        )
        ranks = tracked_checkpoint(ranks, eager=False)
    return ranks.select(
        _node_str(F.col("node")).alias("node"),
        "outdeg",
        hround("rank", 8).alias("rank"),
    )


def _pagerank_oracle() -> str:
    """Unrolled 5-iteration PageRank recurrence — same damping, same
    edge construction, rounding only at the end (rounding.py
    contract)."""
    d = PR_DAMPING
    ctes = [
        _SQL_EDGES_CTE
        + """, deg AS MATERIALIZED (
            SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src
        ), nn AS MATERIALIZED (SELECT count(*) AS n FROM deg),
        r0 AS MATERIALIZED (
            SELECT node, outdeg, 1.0 / n AS rank FROM deg CROSS JOIN nn
        )"""
    ]
    for i in range(1, PR_ITERS + 1):
        ctes.append(
            f"""r{i} AS MATERIALIZED (
            SELECT deg.node, deg.outdeg,
                   (1.0 - {d}) / any_value(nn.n)
                     + {d} * sum(r.rank / r.outdeg) AS rank
            FROM edges e
            JOIN r{i - 1} r ON e.src = r.node
            JOIN deg ON e.dst = deg.node
            CROSS JOIN nn
            GROUP BY deg.node, deg.outdeg
        )"""
        )
    return (
        "WITH "
        + ",\n        ".join(ctes)
        + f"""
        SELECT node, outdeg, {sql_round('rank', 8)} AS rank
        FROM r{PR_ITERS}
    """
    )


def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first search levels: minimum hop distance from a
    deterministic source (the lexicographically smallest supplier
    node) to every node reachable within BFS_MAX_DEPTH hops on the
    co-purchase graph. Fixed depth bound, so the DuckDB oracle unrolls
    one frontier CTE per level.

    The frontier pattern: per level, ONE join (edges ⋈ frontier on
    src) + distinct + anti-join against the visited set. Per-level
    state is (node, dist) pairs only; the visited set grows to
    O(nodes), never O(edges). Unreached nodes are absent from the
    output (both engines agree). Frontiers are lazily checkpointed —
    the plan stays O(1) per level instead of nesting all prior
    levels."""
    p = spark.sparkContext.defaultParallelism
    # same HYBRID lineage cut as graph_pagerank: checkpoint the edge
    # build, persist the repartitioned top (partitioning survives the
    # cache; the checkpoint alone would read UnknownPartitioning under
    # AQE and re-exchange per level at scale).
    # LONG node keys through the frontier loop (r13, as pagerank).
    edges = tracked_persist(
        tracked_checkpoint(_edges_long(spark, sf_dir)).repartition(p, "src")
    )
    # Source pick is the LEXICOGRAPHIC min of the supplier STRING ids
    # (the public contract — 's10' < 's2'), so the min runs over the
    # translated strings and only the chosen scalar maps back to the
    # long domain. Scalar source pick, not a data collect.
    src_str = (
        edges.filter(F.col("src") % 2 == 1)
        .agg(F.min(_node_str(F.col("src"))))
        .first()[0]
    )
    src = int(src_str[1:]) * 2 + 1
    visited = tracked_checkpoint(
        spark.createDataFrame([(src, 0)], "node long, dist int"),
        eager=False,
    )
    frontier = visited
    for depth in range(1, BFS_MAX_DEPTH + 1):
        neighbors = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        frontier = tracked_checkpoint(
            neighbors.join(visited, "node", "left_anti")
            .select("node", F.lit(depth).alias("dist")),
            eager=False,
        )
        visited = tracked_checkpoint(visited.union(frontier), eager=False)
    return visited.select(_node_str(F.col("node")).alias("node"), "dist")


def _bfs_oracle() -> str:
    ctes = [
        _SQL_EDGES_CTE
        + """, srcn AS (
            SELECT min(src) AS node, 0 AS dist FROM edges WHERE src LIKE 's%'
        ), v0 AS MATERIALIZED (SELECT node, dist FROM srcn)"""
    ]
    for i in range(1, BFS_MAX_DEPTH + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
            SELECT DISTINCT e.dst AS node, {i} AS dist
            FROM edges e JOIN v{i - 1} v ON e.src = v.node
            WHERE v.dist = {i - 1}
              AND e.dst NOT IN (SELECT node FROM v{i - 1})
        ), v{i} AS MATERIALIZED (
            SELECT node, dist FROM v{i - 1}
            UNION ALL SELECT node, dist FROM d{i}
        )"""
        )
    return (
        "WITH "
        + ",\n        ".join(ctes)
        + f"""
        SELECT node, dist FROM v{BFS_MAX_DEPTH}
    """
    )


def _part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected part co-order edges (u < v): distinct part pairs
    sharing an order. One self-join on l_orderkey — per-order fan-out
    is order size, small by schema."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    return (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the part co-order graph (parts are
    adjacent when some order contains both), via DEGREE-ORDERED edge
    orientation — the Cohen/compact-forward MapReduce algorithm.

    Orient every undirected edge from its lower-(degree, id) endpoint
    to the higher one: the orientation is acyclic, each triangle has
    exactly ONE wedge representation (two out-edges at its smallest
    endpoint), and — the scale property — every node's OUT-degree is
    O(√m) regardless of its raw degree, so the wedge join's fan-out is
    bounded even on power-law graphs where the naive edge³ join
    explodes on hub nodes. Pipeline: one self-join on l_orderkey,
    a broadcast degree annotation, one wedge self-join co-partitioned
    on the wedge apex, and one closure semi-check on (dst, dst) —
    three shuffles total, none keyed on a raw-degree hub.
    """
    # Checkpoint, not persist (r13): _triangles consumes pairs twice
    # (degree build + degree annotation) and the downstream wedge plan
    # re-analyzes the whole li⋈li+distinct subtree per reference under
    # a bare persist — the checkpoint truncates the lineage so every
    # consumer reads a Scan ExistingRDD, and the eager materialization
    # IS the one li⋈li pass a persist would pay anyway. (No partition
    # contract needed here: deg aggregates and ann broadcast-joins.)
    pairs = tracked_checkpoint(_part_pairs(spark, sf_dir))
    tri = _triangles(spark, pairs)
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("tri_cnt"))
    )


def _triangles(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """(a, b, c) triangle triples of an undirected (u < v) edge list
    via degree-ordered orientation + wedge closure (see
    graph_triangle_count)."""
    deg = (
        pairs.select(F.col("u").alias("node"))
        .union(pairs.select("v"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # deg is |parts| rows — broadcast; the annotation never shuffles
    # the edge list.
    ann = (
        pairs.join(
            F.broadcast(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du")),
            "u",
        )
        .join(
            F.broadcast(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv")),
            "v",
        )
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    p = spark.sparkContext.defaultParallelism
    # dst's degree rides along: wedge endpoints must be ordered by the
    # SAME (degree, id) total order that oriented the edges, or the
    # closure edge of a triangle whose two far corners sort the other
    # way by raw id points "backwards" and the triangle is missed.
    # Checkpoint-under / persist-on-top (the pagerank r12 recipe):
    # oriented appears THREE times in the closure plan (e1, e2, e3) —
    # cutting the pairs→deg→ann lineage under the repartition stops
    # Catalyst re-analyzing it per reference, while the persisted
    # repartitioned top keeps hash(src) so the wedge self-join stays
    # exchange-free (a checkpoint ABOVE the repartition reads
    # UnknownPartitioning under AQE — the r12 failure mode;
    # tests/test_r12_opt.py pins this shape for the graph bases).
    oriented = tracked_persist(
        tracked_checkpoint(
            ann.select(
                F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
                F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
                F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("dd"),
            )
        ).repartition(p, "src")
    )
    wedge_lt = (F.col("e1.dd") < F.col("e2.dd")) | (
        (F.col("e1.dd") == F.col("e2.dd")) & (F.col("e1.dst") < F.col("e2.dst"))
    )
    wedges = (
        oriented.alias("e1")
        .join(
            oriented.alias("e2"),
            (F.col("e1.src") == F.col("e2.src")) & wedge_lt,
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    return wedges.join(
        oriented.alias("e3"),
        (F.col("b") == F.col("e3.src")) & (F.col("c") == F.col("e3.dst")),
    ).select("a", "b", "c")


DOULION_PCT = 50  # keep each edge iff md5_bucket(edge, 100) < 50 (p = 0.5)


def graph_triangle_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION approximate triangle counting (Tsourakakis et al., KDD
    2009): SPARSIFY the graph by keeping each edge independently with
    probability p, count triangles exactly on the sparsified graph,
    and scale by 1/p³ — the standard answer when even the linear
    compact-forward pass (see graph_triangle_count, measured exponent
    0.99) is too much wall-clock at full scale: expected work drops by
    p² per wedge while the estimator stays unbiased with relative
    error ~1/sqrt(p³·Δ).

    'Random' here is the engine's portable deterministic hash
    (md5_bucket on the edge key), so the sampled edge set — and
    therefore the estimate itself — is REPLAYABLE and exactly
    oracle-checked (the same reason every sampler in this engine
    hashes instead of rand()). p = 0.5 makes 1/p³ = 8 integer-exact.

    Output: one row (sampled_edges, sampled_triangles, est_triangles).
    """
    from etl_data_pipeline_spark.functions.hashing import md5_bucket

    pairs = _part_pairs(spark, sf_dir)
    # Checkpoint, not persist (r13, as graph_triangle_count's pairs):
    # kept feeds the degree build, the degree annotation, AND the
    # sampled-edge count — the lineage cut stops each of the three
    # consumers re-analyzing the li⋈li+distinct+filter subtree.
    kept = tracked_checkpoint(
        pairs.filter(md5_bucket(F.concat_ws("-", "u", "v"), 100) < DOULION_PCT)
    )
    tri = _triangles(spark, kept)
    scale = int(round((100 / DOULION_PCT) ** 3))
    return (
        kept.agg(F.count("*").alias("sampled_edges"))
        .crossJoin(tri.agg(F.count("*").alias("sampled_triangles")))
        .select(
            "sampled_edges",
            "sampled_triangles",
            (F.col("sampled_triangles") * scale).alias("est_triangles"),
        )
    )


def _triangle_ctes(pairs_filter: str = "") -> str:
    """The shared li→pairs→deg→orient→tri CTE chain; pairs_filter is
    an optional WHERE-fragment applied to the edge set (the DOULION
    sampler injects its hash predicate here)."""
    return f"""li AS MATERIALIZED (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), pairs AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            {pairs_filter}
        ), deg AS MATERIALIZED (
            SELECT node, count(*) AS d FROM (
                SELECT u AS node FROM pairs
                UNION ALL SELECT v FROM pairs
            ) GROUP BY node
        ), orient AS MATERIALIZED (
            SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND p.u < p.v)
                        THEN p.u ELSE p.v END AS src,
                   CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND p.u < p.v)
                        THEN p.v ELSE p.u END AS dst,
                   CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND p.u < p.v)
                        THEN dv.d ELSE du.d END AS dd
            FROM pairs p
            JOIN deg du ON p.u = du.node
            JOIN deg dv ON p.v = dv.node
        ), tri AS MATERIALIZED (
            SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
            FROM orient e1
            JOIN orient e2 ON e1.src = e2.src
               AND ((e1.dd < e2.dd) OR (e1.dd = e2.dd AND e1.dst < e2.dst))
            JOIN orient e3 ON e3.src = e1.dst AND e3.dst = e2.dst
        )"""


_TRIANGLE_ORACLE = f"""
        WITH {_triangle_ctes()}
        SELECT node, count(*) AS tri_cnt FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    """

_DOULION_PRED = (
    "WHERE ('0x' || substr(md5((a.l_partkey || '-' || b.l_partkey)::VARCHAR),"
    f" 1, 15))::BIGINT % 100 < {DOULION_PCT}"
)

_DOULION_ORACLE = f"""
        WITH {_triangle_ctes(_DOULION_PRED)}
        SELECT (SELECT count(*) FROM pairs) AS sampled_edges,
               count(*) AS sampled_triangles,
               count(*) * {int(round((100 / DOULION_PCT) ** 3))}
                   AS est_triangles
        FROM tri
    """


QUERIES = {
    "graph_triangle_doulion": graph_triangle_doulion,
    "graph_triangle_count": graph_triangle_count,
    "graph_pagerank": graph_pagerank,
    "graph_bfs_levels": graph_bfs_levels,
}

ORACLE = {
    "graph_triangle_doulion": _DOULION_ORACLE,
    "graph_triangle_count": _TRIANGLE_ORACLE,
    "graph_pagerank": _pagerank_oracle(),
    "graph_bfs_levels": _bfs_oracle(),
}
