"""Similarity search over the ``embeddings`` table (north-star:
brute-force cosine top-k baseline + LSH-bucketed ANN scale path —
SURVEY.md §2.B ``sim_topk``).

Scale design:
- brute force: the query set is SMALL (sampled ids) and broadcast; the
  corpus side streams through executors once — O(|corpus|·|queries|)
  flops but only ONE scan and no shuffle of the corpus; ranking is the
  windowed top-k pattern on (query, sim).
- ANN: random-hyperplane LSH (Charikar 2002) — 4 fixed ±1 planes (coarse: 16 buckets — tuned so buckets are populated at harness scale; at corpus scale raise N_PLANES)
  (deterministic constants, seed 42) give a 4-bit bucket; neighbor
  search touches only same-bucket rows. At 100 TB the corpus is
  bucketed once (write-time partitioning by bucket) and each query
  probes one partition.
"""

from __future__ import annotations

import random
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_data_pipeline_spark.functions.caching import (
    tracked_checkpoint,
    tracked_persist,
)
from etl_data_pipeline_spark.functions.rounding import hround, sql_round
from etl_data_pipeline_spark.llm.vector import cosine, dot as _dot, rank_topk, scored_pairs
from etl_data_pipeline_spark.session import (
    MODEL_LOOP_CONF,
    derived_session,
    load_table,
    reroot,
    spread,
)

TOP_K = 5
QUERY_MOD = 100  # query set = vec_id % 100 == 0
# Bucket count = 2^N_PLANES. 4 planes (16 buckets) keeps buckets
# populated at harness scale (~6k vectors at sf0.1); size it so the
# expected bucket holds ~1/2^n of the corpus — at 10^9 vectors, ~20
# planes (10^6 buckets) keeps per-bucket exact search ~10^3 vectors.
# Recall falls as planes grow (P(same bucket) = (1-θ/π)^n); production
# recovers it with multi-table OR-construction — see
# dedup_embedding_cosine, which runs EMB_LSH_TABLES such tables.
N_PLANES = 4
DIM = 64
PLANES_SEED = 42


def _planes(n_planes: int = N_PLANES, seed: int = PLANES_SEED) -> list[list[float]]:
    """Deterministic ±1 hyperplanes — identical constants are inlined
    into the DuckDB oracle, so bucket assignment is cross-engine
    checkable. Parameterized so callers can scale bucket count
    (n_planes) or derive independent tables (seed)."""
    rng = random.Random(seed)
    return [[float(rng.choice((-1, 1))) for _ in range(DIM)] for _ in range(n_planes)]


def hyperplane_bucket(vcol, planes: list[list[float]]):
    """JVM-side bucket id for a vector column: one sign bit per plane,
    packed little-endian. Shared by sim_ann_lsh and the embedding
    near-dup candidate generator.

    ±1 planes are encoded as ONE sign-string literal each ('+'/'-' per
    dim) and expanded to doubles JVM-side (split + transform): the
    expression tree is O(planes) nodes instead of O(planes × dim)
    literal leaves, which keeps Catalyst analysis + codegen time flat
    as OR-construction callers stack tables (measured ~5s → sub-second
    per fresh 8-table query at dim 64). x*(±1.0) is exact and the fold
    order is unchanged, so bucket ids are bit-identical to the literal
    form — and to the oracle's inlined-constant SQL rendering."""
    bucket = None
    for i, p in enumerate(planes):
        if all(abs(x) == 1.0 for x in p):
            signs = "".join("+" if x > 0 else "-" for x in p)
            plane_arr = F.transform(
                F.split(F.lit(signs), ""), lambda c: (44 - F.ascii(c)).cast("double")
            )
        else:  # general planes: fall back to literal-array encoding
            plane_arr = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(_dot(vcol, plane_arr) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket


def sql_bucket_expr(planes: list[list[float]], vexpr: str = "v") -> str:
    """The DuckDB rendering of hyperplane_bucket for oracle SQL."""
    return " + ".join(
        f"(CASE WHEN list_dot_product({vexpr}, {_sql_plane(p)}) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )


def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: for each query vector, the K nearest
    corpus vectors (excluding itself), ranked deterministically on
    (rounded sim desc, vec_id). The query workload is the FIXED capped
    set (vec_id % 100 == 0 AND < RECALL_QUERY_CAP, same as every
    recall measurement): brute force is the ground-truth baseline, and
    with queries ∝ corpus it would be Θ(N²/100) — a quadratic stapled
    to the one query family whose whole point is exactness per query,
    not exhaustiveness of the workload. One corpus scan, broadcast
    queries, O(N·|workload|) = O(N)."""
    # spread(): the corpus side does |queries| dot products per row —
    # CPU-bound, so fan the single small parquet split across cores.
    # Norms staged per ROW (not per pair): one fold per pair at score
    # time instead of three — bit-identical (see scored_pairs).
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    queries = e.filter(
        (F.col("vec_id") % QUERY_MOD == 0)
        & (F.col("vec_id") < RECALL_QUERY_CAP)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = e.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
    scored = scored_pairs(pairs, ["query_id", "vec_id"], qnrm="qnrm", nrm="nrm")
    return rank_topk(scored, TOP_K).select("query_id", "rank", "vec_id", "cosine")


def ann_lsh(
    spark: SparkSession,
    sf_dir: str,
    n_planes: int = N_PLANES,
    seed: int = PLANES_SEED,
    k: int = 3,
) -> DataFrame:
    """LSH-bucketed ANN, parameterized: random-hyperplane signature per
    vector; per query (vec_id % 100 == 0), top-k same-bucket neighbors
    by exact cosine. ``n_planes`` is the corpus-scale knob (bucket
    count = 2^n_planes — see the N_PLANES note); ``seed`` derives
    independent tables for OR-construction callers.
    """
    planes = _planes(n_planes, seed)
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bucketed = e.select(
        "vec_id", "v", hyperplane_bucket(F.col("v"), planes).alias("bucket")
    ).withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    queries = bucketed.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = bucketed.join(
        F.broadcast(queries),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = scored_pairs(
        pairs, ["query_id", "bucket", "vec_id"], qnrm="qnrm", nrm="nrm"
    )
    return rank_topk(scored, k).select("query_id", "bucket", "rank", "vec_id", "cosine")


def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered ann_lsh at the documented harness defaults.
    Oracle-checked — the planes are shared literal constants."""
    return ann_lsh(spark, sf_dir)


CENTROID_MOD_REMAINDER = 50  # centroid set = vec_id % 100 == 50 (disjoint from queries)


def _ivf_sem_build(
    spark: SparkSession,
    sf_dir: str,
    with_label: bool = False,
    centroid_mod: int = QUERY_MOD,
    centroid_rem: int = CENTROID_MOD_REMAINDER,
):
    """ANN-ASSISTED IVF build shared by the whole registered IVF
    family (sim_ann_ivf / _filtered / both recall curves / the index
    layout): centroids are a deterministic id-sample (1/centroid_mod
    of the corpus), and every corpus vector scores only the centroids
    shortlisted by the hyperplane-bucket tables of
    ``llm.dedup.sem_scored`` — O(1) candidates per vector at any
    corpus size — NOT a dense corpus × centroids cross join. With
    K ∝ N centroids the dense form is O(N²/centroid_mod) flops and
    broadcasts 1% of the corpus: the exact shape whose 10×→30×
    segment exponent measured 1.51 on sim_ann_ivfpq before it was
    routed through this kernel (BASELINE.md "IVF,PQ knee"); round 9
    back-ports that fix to the rest of the family.

    ONE scoring pass feeds both consumers: the corpus cell is the
    rank-1 shortlisted centroid (arank = 1), and a query's nprobe
    probe cells are its arank <= nprobe centroids — queries are corpus
    members, so probe_rank 1 IS the query's own cell and nprobe=1
    reproduces single-probe IVF exactly. Bucket-miss vectors are
    UNINDEXED (no cell, sim_ann_ivfpq's cluster -1): excluded from
    candidates, and a bucket-miss query returns no rows — the
    documented recall trade of a pruned index, replayed exactly by
    the shared oracle CTEs (_ivf_sem_sql_ctes).

    Returns (e, assigned, aranked): ``e`` the persisted corpus
    (vec_id, v[, label], nrm), ``assigned`` the indexed corpus
    (vec_id, v[, label], cell), ``aranked`` the persisted scored
    shortlist (vec_id, centroid_id, cc, arank)."""
    e = _ivf_corpus(spark, sf_dir, with_label)
    return _ivf_sem_build_from(e, with_label, centroid_mod, centroid_rem)


def _ivf_sem_build_from(
    e: DataFrame,
    with_label: bool = False,
    centroid_mod: int = QUERY_MOD,
    centroid_rem: int = CENTROID_MOD_REMAINDER,
):
    """_ivf_sem_build's assignment half over a caller-supplied corpus
    (vec_id, v[, label], nrm) — the derived-corpus entry point (the
    clustered recall fixture builds its corpus from a deterministic
    transform, not a parquet load)."""
    c0 = tracked_persist(_seed_centroids(e, centroid_mod, centroid_rem))
    # Persisted over a cut lineage (see _rank_shortlist.cut_lineage):
    # consumed by BOTH the corpus assignment (arank = 1) and the query
    # probe list (arank <= nprobe) — an index structure by nature,
    # built once; the persisted top keeps hash(vec_id) partitioning.
    aranked = tracked_persist(_rank_shortlist(e, c0, cut_lineage=True))
    return e, _assigned_from(aranked, e, with_label), aranked


def _ivf_corpus(spark: SparkSession, sf_dir: str, with_label: bool = False):
    """The persisted embedding corpus (vec_id, v[, label], nrm) every
    IVF build and the index lookup start from — ONE definition so the
    family cannot drift on the cast/norm recipe."""
    cols = ["vec_id", F.col("embedding").cast("array<double>").alias("v")]
    if with_label:
        cols.append(F.col("label"))
    return tracked_persist(
        spread(load_table(spark, sf_dir, "embeddings"))
        .select(*cols)
        .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )


def _seed_centroids(
    e: DataFrame,
    centroid_mod: int = QUERY_MOD,
    centroid_rem: int = CENTROID_MOD_REMAINDER,
) -> DataFrame:
    """The deterministic id-sample seed quantizer (centroid_id, cv,
    cnrm) — unpersisted; callers decide."""
    return e.filter(F.col("vec_id") % centroid_mod == centroid_rem).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )


def _rank_shortlist(
    vectors: DataFrame,
    centroids: DataFrame,
    n_centroids: int | None = None,
    cut_lineage: bool = False,
) -> DataFrame:
    """sem_scored + the family's ONE deterministic rank window
    (cosine desc, centroid_id asc): (vec_id, centroid_id, cc, arank).
    Shared by the seed build, the trained build's BOTH Lloyd passes,
    and the index lookup's query-side probes — the tiebreak the
    oracle CTEs replay lives here and nowhere else. ``n_centroids``
    is passed through to sem_scored for callers that already hold the
    (frozen) centroid count.

    ``cut_lineage`` (r12): localCheckpoint the scored relation BEFORE
    the rank window — for the persisted index builds, whose consumers
    otherwise re-analyze the bucket-explode ⋈ centroid subtree inside
    every plan (interleaved A/B: ~10% per untrained consumer). The
    checkpoint sits UNDER the window so the persisted top keeps the
    window's hash(vec_id) partitioning (a checkpointed top reads
    UnknownPartitioning under AQE and would re-exchange downstream
    vec_id joins at scale)."""
    from etl_data_pipeline_spark.llm.dedup import sem_scored

    scored = sem_scored(vectors, centroids, n_centroids)
    if cut_lineage:
        scored = tracked_checkpoint(scored)
    return scored.withColumn(
        "arank",
        F.row_number().over(
            Window.partitionBy("vec_id").orderBy(F.desc("cc"), F.asc("centroid_id"))
        ),
    )


def _assigned_from(
    aranked: DataFrame, e: DataFrame, with_label: bool = False
) -> DataFrame:
    """The indexed corpus (vec_id, v[, label], cell, nrm) from a
    ranked shortlist: cell = the rank-1 shortlisted centroid. ``nrm``
    rides along from the corpus so candidate scoring downstream pays
    one fold per pair (scored_pairs staged-norm form)."""
    out_cols = (
        ["vec_id", "v"] + (["label"] if with_label else []) + ["cell", "nrm"]
    )
    return (
        aranked.filter(F.col("arank") == 1)
        .select("vec_id", F.col("centroid_id").alias("cell"))
        .join(e, "vec_id")
        .select(*out_cols)
    )


def _ivf_probes(
    e: DataFrame, aranked: DataFrame, nprobe: int, with_label: bool = False
) -> DataFrame:
    """The query set's probe cells from the shared shortlist scoring:
    (query_id, qv[, qlabel], qcell, probe_rank) for probe_rank <=
    nprobe. Inner join: a bucket-miss query has no probes (unindexed —
    see _ivf_sem_build)."""
    qcols = [
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    ] + ([F.col("label").alias("qlabel")] if with_label else [])
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(*qcols)
    probes = aranked.filter(F.col("arank") <= nprobe).select(
        F.col("vec_id").alias("query_id"),
        F.col("centroid_id").alias("qcell"),
        F.col("arank").alias("probe_rank"),
    )
    return q.join(probes, "query_id")


def ann_ivf(
    spark: SparkSession,
    sf_dir: str,
    centroid_mod: int = QUERY_MOD,
    centroid_rem: int = CENTROID_MOD_REMAINDER,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN, parameterized: partition the corpus into Voronoi
    cells around a deterministic centroid set via the ANN-assisted
    shortlist assignment (_ivf_sem_build — the dense alternative reads
    quadratic when centroids ∝ corpus), probe the query's ``nprobe``
    nearest shortlisted cells, exact cosine inside the probed cells.
    ``nprobe`` is THE recall/cost knob of an IVF index: candidates
    (and flops) grow linearly with it while recall climbs toward the
    brute-force answer — sim_ann_recall MEASURES that curve so the
    knob is set on evidence, not folklore.

    ``centroid_mod`` is the density knob: 1/centroid_mod of the corpus
    become centroids, so expected cell size = centroid_mod rows.
    Centroids are a fixed id-sample rather than k-means iterates so
    the oracle can reproduce them; at corpus scale cells become
    write-time partitions so a query touches one partition (the IVF
    index layout — write_ivf_index). Tie-breaks are deterministic:
    (cosine desc, centroid_id asc). The remainder must avoid the query
    residue class (vec_id % 100 == 0) so query and centroid sets stay
    disjoint."""
    e, assigned, aranked = _ivf_sem_build(
        spark, sf_dir, False, centroid_mod, centroid_rem
    )
    qcells = _ivf_probes(e, aranked, nprobe).drop("probe_rank")
    pairs = assigned.join(
        F.broadcast(qcells),
        (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    )
    # no dedup needed: a corpus vector lives in exactly ONE cell, so it
    # can match at most one of a query's (distinct) probed cells
    scored = scored_pairs(
        pairs, ["query_id", "cell", "vec_id"], qnrm="qnrm", nrm="nrm"
    )
    return rank_topk(scored, 3).select("query_id", "cell", "rank", "vec_id", "cosine")


def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered ann_ivf at the documented harness defaults."""
    return ann_ivf(spark, sf_dir)


IVF_FILTERED_NPROBE = 2


def sim_ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-FILTERED ANN — the production vector-search shape the
    plain index queries skip: each query wants its top-k among corpus
    vectors satisfying a predicate (here: same ``label`` as the query
    — the tenant/category/language filter every retrieval deployment
    has). Strategy is PRE-FILTER: the predicate joins into the
    candidate generation itself (cell match AND label match before any
    scoring), NOT post-filtering an unfiltered top-k — post-filter
    silently returns fewer than k results whenever the true neighbors
    are predicate-sparse, which is exactly when the filter matters.

    nprobe=2 because filtering thins cells: with only ~1/|labels| of
    each probed cell eligible, a filtered query needs deeper probing
    to keep candidate counts (and recall) comparable to the unfiltered
    index — the interaction this query exists to demonstrate, and that
    sim_ann_ivf_filtered_recall MEASURES against the label-constrained
    exact truth.

    Scale shape: shortlist-assisted assignment (one corpus scan, O(1)
    candidate centroids per vector — _ivf_sem_build), query-cells
    broadcast against the cell-partitioned corpus; the label predicate
    rides the same broadcast-hash join (at 100 TB with cells as
    write-time partitions and label as a secondary partition key, the
    filter becomes partition pruning — write_ivf_index/query_ivf_index
    make that concrete). Deterministic tie-breaks as everywhere
    (cosine desc, vec_id asc)."""
    e, assigned, aranked = _ivf_sem_build(spark, sf_dir, with_label=True)
    qcells = _ivf_probes(
        e, aranked, IVF_FILTERED_NPROBE, with_label=True
    ).drop("probe_rank")
    # the filter IS part of candidate generation: label equality sits
    # in the join condition next to the cell match, so ineligible
    # vectors are never scored (and never crowd out eligible ones)
    pairs = assigned.join(
        F.broadcast(qcells),
        (F.col("cell") == F.col("qcell"))
        & (F.col("label") == F.col("qlabel"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    scored = scored_pairs(
        pairs, ["query_id", "label", "vec_id"], qnrm="qnrm", nrm="nrm"
    )
    return rank_topk(scored, 3).select(
        "query_id", "label", "rank", "vec_id", "cosine"
    )


RECALL_NPROBES = (1, 2, 4)
RECALL_K = 3
# Recall is measured on a FIXED query workload: vec_id % 100 == 0 AND
# vec_id < RECALL_QUERY_CAP (same device as sim_ann_ivfpq's
# PQ_CODEBOOK_ID_CAP). Without the cap the ground-truth side is
# Θ(N·Q) with Q ∝ N — a quadratic MEASUREMENT stapled to a linear
# index (measured 1.63 segment exponent over 10×→30× in round 9,
# while the capped form probes at 0.5-0.8 with the index itself).
# A deployment estimates recall from a sampled workload for exactly
# this reason; the cap keeps the estimate deterministic and
# oracle-replayable, and leaves every harness tier ≤ sf0.01 with the
# identical query set (all its vec_ids are below the cap).
RECALL_QUERY_CAP = 5000


def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of IVF ANN against the brute-force ground
    truth, at nprobe ∈ {1, 2, 4}, in ONE pipeline — the evidence an
    ANN operator must ship with: an approximate index without a
    recall number is untunable at 100 TB (is nprobe=1 losing 2% or
    40%?). Deterministic end to end (seeded centroids, shortlist
    tables, rounded cosines, id tiebreaks), so the DuckDB oracle
    reproduces recall EXACTLY, not statistically. Measures the index
    AS REGISTERED — the ANN-assisted shortlist assignment, including
    its bucket-miss losses (an unindexed query contributes its exact
    top-k to the denominator and nothing to the hits).

    Shared-work shape: cell assignment and candidate scoring run ONCE
    at the deepest probe depth (each candidate is scored a single
    time, tagged with the probe_rank of its cell); per-nprobe result
    sets then materialize by exploding each candidate into the probe
    depths that include it (map-only — the nested candidate sets mean
    no join and no rescoring) and re-ranking per (nprobe, query). The
    brute-force truth is the sim_topk shape: broadcast query set, one
    corpus scan. Recall@k = |approx ∩ exact| / |exact|."""
    e, assigned, aranked = _ivf_sem_build(spark, sf_dir)
    return _unfiltered_recall_tail(e, assigned, aranked)


CLUSTERED_SPAN = 20     # vectors per synthetic cluster (vec_id blocks)
CLUSTERED_NOISE = 0.25  # within-cluster spread vs the +-1 center entries
# integer center-sign mix constants: pure BIGINT arithmetic, so both
# engines compute bit-identical centers (a libm sin/cos seed would
# risk 1-ulp cross-engine sign flips)
_CLUSTERED_MULT_CID = 1000003
_CLUSTERED_MULT_DIM = 7919
_CLUSTERED_PRIME = 104729


def _clustered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A DETERMINISTIC mixture-of-clusters embedding corpus derived
    from the embeddings table (r9 verdict item 1): every recall number
    the family shipped before r10 was measured on the near-uniform
    worst case, where IVF recall is structurally poor — a user
    evaluating the ANN saw only those numbers, while the regime IVF
    exists for (embeddings WITH structure) had no fixture at all.

    Construction: vec_id block c = floor(vec_id / CLUSTERED_SPAN)
    picks a cluster; its center is a +-1-entry vector whose signs come
    from integer arithmetic on (c, dim) — cross-engine bit-identical,
    unlike a seeded trig mix; the original embedding becomes the
    within-cluster noise at CLUSTERED_NOISE scale (entries ~+-0.33, so
    |noise| << |center| = sqrt(dim) and same-cluster cosines sit near
    1 while cross-center cosines scatter around +-1/sqrt(dim)). Each
    element rounds to 6 dp so the DuckDB replay matches exactly.
    Map-only columnar arithmetic — no shuffle, no UDF."""
    base = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    cid = F.floor(F.col("vec_id") / CLUSTERED_SPAN).cast("long")

    def center_sign(i):
        mix = (
            (cid + 1) * _CLUSTERED_MULT_CID + (i + 1) * _CLUSTERED_MULT_DIM
        ) % _CLUSTERED_PRIME
        return F.when(mix * 2 < _CLUSTERED_PRIME, F.lit(1.0)).otherwise(
            F.lit(-1.0)
        )

    v = F.transform(
        "x",
        lambda x, i: hround(center_sign(i) + F.lit(CLUSTERED_NOISE) * x, 6),
    )
    return tracked_persist(
        base.select("vec_id", v.alias("v")).withColumn(
            "nrm", F.sqrt(_dot(F.col("v"), F.col("v")))
        )
    )


def sim_ann_ivf_clustered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ann_recall's exact pipeline — same centroids rule, same
    shortlist kernel, same probe depths, same capped workload — run on
    the CLUSTERED derived corpus: the accountability pair's other
    half. sim_ann_recall prices the worst case (near-uniform vectors,
    where recall@3 at sf0.1 is ~0.1-0.25); this query demonstrates the
    regime the index is FOR, where cluster-mates co-bucket and
    co-assign and the probed cells contain the true neighbors.
    BASELINE.md's r10 recall table records both curves side by side."""
    e = _clustered_corpus(spark, sf_dir)
    _, assigned, aranked = _ivf_sem_build_from(e)
    return _unfiltered_recall_tail(e, assigned, aranked)


def sim_ann_ivf_clustered_trained_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The trained twin of sim_ann_ivf_clustered_recall — one Lloyd
    step over the clustered corpus before cell assignment. This is the
    configuration a deployment would actually run on structured
    embeddings, and the number it should quote: recall@3 =
    0.983/1.000/1.000 at nprobe 1/2/4 at sf0.1 (BASELINE.md r10
    matrix), hash-oracled here so the headline is driver-proven, not
    probe folklore."""
    e = _clustered_corpus(spark, sf_dir)
    _, assigned, aranked, _c1 = _ivf_trained_build_from(e)
    return _unfiltered_recall_tail(e, assigned, aranked)


def _unfiltered_recall_tail(
    e: DataFrame, assigned: DataFrame, aranked: DataFrame
) -> DataFrame:
    """The shared-work recall pipeline downstream of an (untrained or
    trained) IVF build — see sim_ann_recall's docstring."""
    qcells = _ivf_probes(e, aranked, max(RECALL_NPROBES)).filter(
        F.col("query_id") < RECALL_QUERY_CAP
    )
    cand = scored_pairs(
        assigned.join(
            F.broadcast(qcells),
            (F.col("cell") == F.col("qcell"))
            & (F.col("vec_id") != F.col("query_id")),
        ),
        ["query_id", "probe_rank", "vec_id"],
        qnrm="qnrm",
        nrm="nrm",
    )
    # candidate -> every probe depth that includes its cell (nested
    # sets: depth n sees probe_ranks 1..n), then top-k per depth
    probes = F.array(*[F.lit(n) for n in RECALL_NPROBES])
    expanded = cand.withColumn(
        "nprobe", F.explode(F.filter(probes, lambda n: n >= F.col("probe_rank")))
    )
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    approx = (
        expanded.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= RECALL_K)
        .select("nprobe", "query_id", "vec_id")
    )
    # brute-force truth (sim_topk shape, k = RECALL_K) over the FIXED
    # capped workload — O(N·|workload|) = O(N), not O(N²/100)
    q = e.filter(
        (F.col("vec_id") % QUERY_MOD == 0)
        & (F.col("vec_id") < RECALL_QUERY_CAP)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    exact = rank_topk(
        scored_pairs(
            e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")),
            ["query_id", "vec_id"],
            qnrm="qnrm",
            nrm="nrm",
        ),
        RECALL_K,
    ).select("query_id", "vec_id", F.lit(1).alias("hit"))
    n_exact = exact.groupBy().agg(F.count("*").alias("n_exact"))
    per = (
        # exact is k rows per query — broadcast it explicitly: the
        # planner can't size it behind the window over the brute-force
        # join and would fall back to a sort-merge join of two tiny
        # frames (same trap as dedup_canonical's losers side)
        approx.join(F.broadcast(exact), ["query_id", "vec_id"], "left")
        .groupBy("nprobe")
        .agg(
            F.count("*").alias("n_approx"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hit"),
        )
    )
    return per.crossJoin(n_exact).select(
        "nprobe",
        "n_exact",
        "n_approx",
        "n_hit",
        hround(F.col("n_hit") / F.col("n_exact"), 4).alias("recall_at_k"),
    )


def _ivf_trained_build(spark: SparkSession, sf_dir: str):
    """Lloyd-REFINED coarse quantizer, shortlist-assisted END TO END:
    one spherical k-means step (embedding_kmeans' algorithm) whose
    assignment runs through sem_scored — a dense Lloyd step is
    O(N·K) with K ∝ N, the exact knee the round-7/9 work removed from
    the query-time path, so the TRAINING pass must not reintroduce it.
    Vectors whose buckets hold no centroid sit out the mean update
    (and are unindexed afterwards), exactly as at query time.

    Returns (e, assigned, aranked, c1) with the same contracts as
    _ivf_sem_build plus the REFINED centroid set c1 itself (per-dim
    means of each seed cell, rounded 6 dp — deterministic in both
    engines, the embedding_kmeans recipe); c1 is what a rescue pass
    re-shortlists against (embedding_kmeans_coverage).

    Built FROM _ivf_sem_build (the seed assignment IS the untrained
    build's rank-1 shortlist) + the shared _rank_shortlist /
    _assigned_from tail — the r9 review flagged the previous
    line-for-line copy as a desynchronization hazard: every tiebreak
    and rounding here must stay bit-identical to the rest of the
    family for the shared oracle CTEs to hold."""
    return _ivf_trained_build_from(_ivf_corpus(spark, sf_dir))


def _ivf_trained_build_from(e: DataFrame):
    """_ivf_trained_build over a caller-supplied corpus (the
    derived-corpus twin of _ivf_sem_build_from — the recall matrix
    probe trains on the clustered fixture through this)."""
    _, _seed_assigned, seed_aranked = _ivf_sem_build_from(e)
    a0 = seed_aranked.filter(F.col("arank") == 1).select(
        "vec_id", F.col("centroid_id").alias("cluster")
    )
    # localCheckpoint (eager), not persist, for the REFINED centroid
    # set (r12): c1 is model-sized (k × dim rounded means) but its
    # LINEAGE is the whole seed build + Lloyd aggregation — persisted
    # lazily, that subtree is re-analyzed inside every consumer of the
    # second shortlist pass (the trained plans measured 385-414 KB
    # formatted vs ~80 KB untrained; interleaved A/B medians:
    # sim_ann_ivf_trained 7.3→4.6 s, clustered_trained_recall
    # 10.3→5.7 s at sf0.1). The eager cut also means sem_scored's
    # centroid count() job scans ≤k checkpointed rows, not the Lloyd
    # plan.
    c1 = (
        a0.join(e, "vec_id")
        .select("cluster", F.posexplode("v").alias("dim", "val"))
        .groupBy("cluster", "dim")
        .agg(hround(F.avg("val"), 6).alias("cval"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                lambda s: s.cval,
            ).alias("cv")
        )
        .select(
            F.col("cluster").alias("centroid_id"),
            "cv",
            F.sqrt(_dot(F.col("cv"), F.col("cv"))).alias("cnrm"),
        )
    )
    c1 = tracked_checkpoint(c1)
    aranked = tracked_persist(_rank_shortlist(e, c1, cut_lineage=True))
    return e, _assigned_from(aranked, e), aranked, c1


def sim_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over TRAINED centroids — the knob every recall docstring in
    this family prices: the seed id-sample is refined by one Lloyd
    step (FAISS trains its coarse quantizer the same way, just to
    convergence) before the corpus is cell-assigned, and the whole
    pipeline — training assignment included — runs through the
    shortlist kernel, so it stays sublinear where a dense Lloyd step
    is O(N·K) (see _ivf_trained_build). Output shape identical to
    sim_ann_ivf (top-3 per query at nprobe=1, deterministic
    tiebreaks); sim_ann_ivf_trained_recall measures what the training
    step buys on this corpus."""
    e, assigned, aranked, _c1 = _ivf_trained_build(spark, sf_dir)
    qcells = _ivf_probes(e, aranked, 1).drop("probe_rank")
    pairs = assigned.join(
        F.broadcast(qcells),
        (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = scored_pairs(
        pairs, ["query_id", "cell", "vec_id"], qnrm="qnrm", nrm="nrm"
    )
    return rank_topk(scored, 3).select("query_id", "cell", "rank", "vec_id", "cosine")


def sim_ann_ivf_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of the TRAINED-centroid IVF at nprobe ∈
    {1, 2, 4} vs the brute-force truth over the capped workload — the
    accountability row for sim_ann_ivf_trained, directly comparable to
    sim_ann_recall's untrained curve: their difference IS the value of
    the Lloyd step on this corpus."""
    e, assigned, aranked, _c1 = _ivf_trained_build(spark, sf_dir)
    return _unfiltered_recall_tail(e, assigned, aranked)


def write_ivf_index(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Materialize the IVF index LAYOUT the filtered-ANN docstring
    promises for 100 TB: the cell-assigned corpus (ANN-assisted
    assignment — _ivf_sem_build; bucket-miss vectors are unindexed and
    simply absent from the layout) written with ``partitionBy(cell,
    label)``, so a query's probed cells and its label predicate become
    PARTITION PRUNING at the scan instead of a full-corpus filter.
    This is the write-time half of a real IVF deployment (FAISS's
    inverted lists as a columnar layout); the read half is
    query_ivf_index below, and the pruning is asserted in tests via
    the plan's dynamic-partition-pruning subquery."""
    _, assigned, _ = _ivf_sem_build(spark, sf_dir, with_label=True)
    # repartition on the partition columns first: ONE file per
    # (cell, label) inverted list instead of one per upstream task ×
    # list (32× fewer files at local parallelism; at 100 TB this is
    # the difference between a list being a contiguous read and a
    # directory of shards). Columns pinned to IVF_INDEX_SCHEMA: the
    # in-memory `assigned` also carries the staged norm, which is a
    # query-time scoring aid, not part of the layout contract.
    (
        assigned.select("vec_id", "v", "cell", "label")
        .repartition(F.col("cell"), F.col("label"))
        .write.mode("overwrite")
        .partitionBy("cell", "label")
        .parquet(out_dir)
    )


# The read-back schema of the write_ivf_index layout. Explicit, NOT
# inferred: partition-column type inference re-derives cell/label
# types from the directory STRINGS, so a data-model change (e.g.
# alphanumeric tenant labels) would silently flip the inferred dtype
# — and with it the output schema and join cast semantics — away from
# sim_ann_ivf_filtered's. Pinning the schema makes the layout contract
# explicit (label is int32 in the harness data model) while keeping
# cell/label plain attributes, so dynamic partition pruning still
# applies.
IVF_INDEX_SCHEMA = "vec_id bigint, v array<double>, cell bigint, label int"


def query_ivf_index(
    spark: SparkSession, index_dir: str, sf_dir: str, query_ids=None
) -> DataFrame:
    """Filtered ANN over the write_ivf_index layout: identical
    semantics (and output) to sim_ann_ivf_filtered, but the corpus
    side is the (cell, label)-partitioned index — the broadcast join
    on the partition columns lets Spark insert a dynamic-partition-
    pruning subquery, so only the probed (cell, label) directories
    are ever read. Only the QUERY rows are shortlist-scored here (the
    corpus assignment lives in the index): query-side probe work is
    O(|queries|), independent of corpus size.

    ``query_ids`` restricts the workload (the production LOOKUP shape:
    one or a few queries against the index), and switches the scan to
    STATIC partition pruning: the ≤ |query_ids| × nprobe probed
    (cell, label) pairs are computed first — bounded by the REQUEST
    size, never the corpus — and pushed as a literal partition
    predicate, so the scan lists and reads only the probed
    directories (assertable via ``inputFiles``, like the manifest
    pruning tests). This is what a production vector store does for a
    point lookup: probes client-side, partition filters pushed down.
    Dynamic partition pruning is NOT the mechanism here — Spark's DPP
    rule declines to insert a pruning subquery when the filtering side
    contains a window (the rank-by-distance probe list), and the
    full-workload case wouldn't benefit anyway: every 100th vector as
    a query collectively probes ~every cell, so the aggregate run
    (query_ids=None) legitimately reads the whole index — per-LOOKUP
    pruning is what the layout buys at 100 TB."""
    qcells, probed = _probed_qcells(spark, sf_dir, query_ids)
    if probed is None:
        index = spark.read.schema(IVF_INDEX_SCHEMA).parquet(index_dir)
    else:
        # LOOKUP shape: read ONLY the probed directories (basePath
        # keeps the partition columns). File-list pruning at the
        # source: no listing of the unprobed 1 - probed/total fraction
        # of the index ever happens, and inputFiles() reflects exactly
        # the probed dirs.
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        paths = []
        for c, l in probed:
            p = f"{index_dir}/cell={c}/label={l}"
            hp = jvm.org.apache.hadoop.fs.Path(p)
            # a probed list can be empty for this label (the filter
            # thins cells) — skip dirs that were never written
            if hp.getFileSystem(hconf).exists(hp):
                paths.append(p)
        if not paths:  # every probe missed: empty result, full schema
            index = spark.createDataFrame([], IVF_INDEX_SCHEMA)
        else:
            index = (
                spark.read.schema(IVF_INDEX_SCHEMA)
                .option("basePath", index_dir)
                .parquet(*paths)
            )
    return _filtered_lookup_tail(index, qcells)


def _probed_qcells(spark: SparkSession, sf_dir: str, query_ids):
    """The query-side probe derivation shared by BOTH index lookups
    (the parquet layout's and the manifest table's): the probe recipe
    — corpus load, seed quantizer, shortlist rank, nprobe cut — must
    stay bit-identical between them and sim_ann_ivf_filtered for the
    equality contracts to hold, so it has one definition.

    Returns (qcells, probed): ``qcells`` the (query_id, qv, qlabel,
    qcell) probe relation; ``probed`` the sorted distinct (cell,
    label) pair list when ``query_ids`` restricts the workload (qcells
    is then persisted — the probe derivation is the dominant
    query-side cost and feeds both the pair collect and the final
    join), else None (full workload: no driver-side pair
    materialization)."""
    e = _ivf_corpus(spark, sf_dir, with_label=True)
    c0 = _seed_centroids(e)
    qe = e.filter(F.col("vec_id") % QUERY_MOD == 0)
    if query_ids is not None:
        qe = qe.filter(F.col("vec_id").isin(list(query_ids)))
    # Only the QUERY rows are shortlist-scored (the corpus assignment
    # lives in the index) — same kernel + rank window as the builds.
    qranked = _rank_shortlist(qe, c0)
    q = qe.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    qcells = q.join(
        qranked.filter(F.col("arank") <= IVF_FILTERED_NPROBE).select(
            F.col("vec_id").alias("query_id"),
            F.col("centroid_id").alias("qcell"),
        ),
        "query_id",
    )
    if query_ids is None:
        return qcells, None
    qcells = tracked_persist(qcells)
    probed = sorted(
        {(r.qcell, r.qlabel) for r in qcells.select("qcell", "qlabel").collect()}
    )
    return qcells, probed


def _filtered_lookup_tail(index: DataFrame, qcells: DataFrame) -> DataFrame:
    """The shared read-side tail of every index-backed filtered
    lookup: probe-join the index on (cell, label), exact cosine,
    top-3 per query — one definition so the static-pruned parquet
    lookup and the manifest-table lookup cannot drift from
    sim_ann_ivf_filtered's semantics.

    Norms are staged per ROW here (the stored layout keeps no norm —
    it is a scoring aid, not index contract): one sqrt-fold per index
    row and per query row, then one fold per candidate pair —
    bit-identical to the inline form (scored_pairs)."""
    pairs = index.withColumn(
        "nrm", F.sqrt(_dot(F.col("v"), F.col("v")))
    ).join(
        F.broadcast(
            qcells.withColumn("qnrm", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
        ),
        (F.col("cell") == F.col("qcell"))
        & (F.col("label") == F.col("qlabel"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    scored = scored_pairs(
        pairs, ["query_id", "label", "vec_id"], qnrm="qnrm", nrm="nrm"
    )
    return rank_topk(scored, 3).select(
        "query_id", "label", "rank", "vec_id", "cosine"
    )


def query_incremental_ann_index(
    spark: SparkSession, table_dir: str, sf_dir: str, query_ids=None
) -> DataFrame:
    """Filtered ANN lookup over the STREAMING-maintained index
    (streaming.jobs.run_incremental_ann_index): identical semantics to
    query_ivf_index, but the corpus side is a manifest TABLE whose
    delta directories are per-batch appends. With ``query_ids`` the
    probed (cell, label) pairs are pruned to LEAF directories: for
    each committed delta dir, only the probed ``cell=…/label=…``
    subdirectories that EXIST are read (explicit schema + per-delta
    basePath), so a point lookup reads only the probed inverted lists
    of only the batches that wrote them, no matter how many batches
    the index has absorbed. (Footer-stat dir pruning cannot do this:
    hive-partition columns are absent from the data files, so their
    per-dir ranges are unknown — directory existence IS the partition
    statistic here, exactly as in query_ivf_index's single-layout
    path.)"""
    import os

    from etl_data_pipeline_spark.sinks import manifest

    qcells, probed = _probed_qcells(spark, sf_dir, query_ids)
    if probed is None:
        index = manifest.read_table(spark, table_dir)
    else:
        m = manifest.read_manifest(table_dir)
        if m is None:
            raise FileNotFoundError(f"no committed version in {table_dir!r}")
        frames = []
        for d in m["dirs"]:
            base = os.path.join(table_dir, d)
            leaves = [
                os.path.join(base, f"cell={c}", f"label={l}")
                for c, l in probed
                if os.path.isdir(os.path.join(base, f"cell={c}", f"label={l}"))
            ]
            if leaves:
                frames.append(
                    spark.read.schema(IVF_INDEX_SCHEMA)
                    .option("basePath", base)
                    .parquet(*leaves)
                )
        if not frames:  # every probe missed: empty result, full schema
            index = spark.createDataFrame([], IVF_INDEX_SCHEMA)
        else:
            index = reduce(DataFrame.unionByName, frames)
    return _filtered_lookup_tail(
        index.select("vec_id", "v", "cell", "label"), qcells
    )


def sim_ann_ivf_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of the FILTERED ANN against the FILTERED
    brute-force truth, at nprobe ∈ {1, 2, 4} — the accountability row
    for sim_ann_ivf_filtered, and the measurement that justifies its
    nprobe=2 default: predicate filtering thins every probed cell to
    ~1/|labels| of its rows, so filtered recall at a given nprobe sits
    BELOW unfiltered recall (sim_ann_recall's curve) and the knob must
    be re-measured under the filter, not assumed. Ground truth is the
    label-constrained exact top-k (brute force over same-label
    vectors), because that is the query the user actually asked.
    Measures the index AS REGISTERED (ANN-assisted shortlist
    assignment, bucket-miss losses included).

    Same shared-work shape as sim_ann_recall: candidates scored once
    at the deepest probe depth, exploded into the probe depths that
    contain them, re-ranked per (nprobe, query)."""
    e, assigned, aranked = _ivf_sem_build(spark, sf_dir, with_label=True)
    qcells = _ivf_probes(e, aranked, max(RECALL_NPROBES), with_label=True).filter(
        F.col("query_id") < RECALL_QUERY_CAP
    )
    cand = scored_pairs(
        assigned.join(
            F.broadcast(qcells),
            (F.col("cell") == F.col("qcell"))
            & (F.col("label") == F.col("qlabel"))
            & (F.col("vec_id") != F.col("query_id")),
        ),
        ["query_id", "probe_rank", "vec_id"],
        qnrm="qnrm",
        nrm="nrm",
    )
    probes = F.array(*[F.lit(n) for n in RECALL_NPROBES])
    expanded = cand.withColumn(
        "nprobe", F.explode(F.filter(probes, lambda n: n >= F.col("probe_rank")))
    )
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    approx = (
        expanded.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= RECALL_K)
        .select("nprobe", "query_id", "vec_id")
    )
    # filtered brute-force truth over the FIXED capped workload:
    # same-label corpus scan per query, O(N·|workload|) = O(N)
    q = e.filter(
        (F.col("vec_id") % QUERY_MOD == 0)
        & (F.col("vec_id") < RECALL_QUERY_CAP)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("label").alias("qlabel"),
        F.col("nrm").alias("qnrm"),
    )
    exact = rank_topk(
        scored_pairs(
            e.join(
                F.broadcast(q),
                (F.col("vec_id") != F.col("query_id"))
                & (F.col("label") == F.col("qlabel")),
            ),
            ["query_id", "vec_id"],
            qnrm="qnrm",
            nrm="nrm",
        ),
        RECALL_K,
    ).select("query_id", "vec_id", F.lit(1).alias("hit"))
    n_exact = exact.groupBy().agg(F.count("*").alias("n_exact"))
    per = (
        approx.join(F.broadcast(exact), ["query_id", "vec_id"], "left")
        .groupBy("nprobe")
        .agg(
            F.count("*").alias("n_approx"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hit"),
        )
    )
    return per.crossJoin(n_exact).select(
        "nprobe",
        "n_exact",
        "n_approx",
        "n_hit",
        hround(F.col("n_hit") / F.col("n_exact"), 4).alias("recall_at_k"),
    )


PQ_M = 4  # subspaces (dim 64 -> 16-dim subvectors)
PQ_TOPK = 5
# Codebook = the centroid-sample ids BELOW this cap: K is FIXED (<=50)
# at every corpus size, like a real trained PQ codebook (k=256 in
# FAISS), so encode stays O(N*K) = O(N) — an uncapped K ∝ N sample
# would make encoding quadratic, the same trap dedup_semantic's
# assignment hit before its ANN-assisted fix.
PQ_CODEBOOK_ID_CAP = 5000


def _sq_dist(a, b):
    """Squared L2 distance via three sequential-fold dot products —
    the SAME expression shape in the oracle SQL, so the doubles are
    bit-identical (elementwise-fold formulations would accumulate in a
    different order).

    Reference form: the hot paths (PQ encode/LUTs via _pq_subdists,
    the ivfpq-recall exact side) inline this exact operand order with
    the dot(x,x) terms pre-staged per row — identical doubles, one
    fold per pair instead of three. Any new consumer must keep the
    ((aa − 2·ab) + bb) order or the oracle hashes drift."""
    return _dot(a, a) - F.lit(2.0) * _dot(a, b) + _dot(b, b)


def _pq_cb_row(e: DataFrame) -> DataFrame:
    """ONE-row packed codebook: column ``cb{s}`` holds every codebook
    entry of subspace s as struct(cid, cv, cvv) where cvv = dot(cv,cv)
    staged once per entry (the staged-norm recipe: every encode/LUT
    consumer folds sq-dist as svv − 2·dot(sv,cv) + cvv, the SAME
    operand order as ``_sq_dist`` so the doubles are bit-identical).

    The codebook is FIXED-size (≤50 entries, see PQ_CODEBOOK_ID_CAP),
    so packing it into one broadcastable row turns both the encode
    argmin and the per-query LUT into pure projections — r13: the
    relational form planned the encode as a SortAggregate of
    min(struct(d,cid)) over the corpus×codebook join (N·4·K rows
    SORTED) and the ADC fold as a collect_list shuffle; both are gone
    (guide §1.2 step 1, §2.4 — remove shuffles outright).

    collect_list order is nondeterministic, but every consumer is
    order-insensitive: the argmin fold computes the true lexicographic
    (d, cid) minimum of the SET, and map_from_entries keys are unique
    cids. The ``size > 0`` filter reproduces the relational form's
    empty-codebook behavior (no codebook ⇒ no output rows, not
    null codes)."""
    sub = DIM // PQ_M
    cb = e.filter(
        (F.col("vec_id") % QUERY_MOD == CENTROID_MOD_REMAINDER)
        & (F.col("vec_id") < PQ_CODEBOOK_ID_CAP)
    )
    aggs = []
    for s in range(PQ_M):
        cv = F.slice(F.col("v"), s * sub + 1, sub)
        aggs.append(
            F.collect_list(
                F.struct(
                    F.col("vec_id").alias("cid"),
                    cv.alias("cv"),
                    _dot(cv, cv).alias("cvv"),
                )
            ).alias(f"cb{s}")
        )
    return cb.groupBy().agg(*aggs).filter(F.size("cb0") > 0)


def _pq_staged(df: DataFrame, vcol: str) -> DataFrame:
    """Stage each row's subspace slice and its self-dot as REAL
    columns (_sv{s}, _svv{s}) before any codebook fold. Higher-order
    lambdas re-evaluate every captured subexpression PER ARRAY ENTRY
    (interpreted, no CSE) — without this the encode fold recomputed
    slice+dot(sv,sv) |codebook| times per row and measured 3× SLOWER
    than the relational form it replaced; with it the per-entry work
    is the one dot(sv, cv) the ADC math actually needs.

    Callers apply this UNDER their crossJoin with the packed codebook:
    CollapseProject would otherwise re-inline a used-once alias into
    the consuming lambda (un-staging it), but projections never merge
    across a join boundary."""
    sub = DIM // PQ_M
    cols = [df[c] for c in df.columns]
    for s in range(PQ_M):
        sv = F.slice(F.col(vcol), s * sub + 1, sub)
        cols.append(sv.alias(f"_sv{s}"))
    out = df.select(*cols)
    return out.select(
        "*", *[
            _dot(F.col(f"_sv{s}"), F.col(f"_sv{s}")).alias(f"_svv{s}")
            for s in range(PQ_M)
        ]
    )


def _pq_subdists(s: int):
    """struct(d, cid) per codebook entry of subspace ``s`` against the
    staged row slice — d in ``_sq_dist``'s exact operand order with
    the dot(x,x) terms pre-staged per row/entry (bit-identical)."""
    return F.transform(
        F.col(f"cb{s}"),
        lambda c: F.struct(
            (
                F.col(f"_svv{s}") - F.lit(2.0) * _dot(F.col(f"_sv{s}"), c["cv"])
                + c["cvv"]
            ).alias("d"),
            c["cid"].alias("cid"),
        ),
    )


def _pq_encode_wide(e: DataFrame, cb_row: DataFrame) -> DataFrame:
    """(vec_id, c0..c{PQ_M-1}): nearest codebook entry per subspace —
    the 64×-compressed PQ representation, computed as ONE map-only
    projection against the broadcast packed codebook. The fold is the
    lexicographic (d, cid) minimum, the same total order the
    relational min(struct(d, cid)) produced; d is never NaN/∞ (finite
    slices), so the ∞-seeded init never survives a non-empty array."""
    init = F.struct(
        F.lit(float("inf")).alias("d"), F.lit(None).cast("long").alias("cid")
    )
    out = _pq_staged(e, "v").crossJoin(F.broadcast(cb_row))
    sel = [F.col("vec_id")]
    for s in range(PQ_M):
        code = F.aggregate(
            _pq_subdists(s),
            init,
            lambda acc, x: F.when(
                (x["d"] < acc["d"])
                | ((x["d"] == acc["d"]) & (x["cid"] < acc["cid"])),
                x,
            ).otherwise(acc),
        )["cid"]
        sel.append(code.alias(f"c{s}"))
    return out.select(*sel)


def _pq_query_luts(e: DataFrame, cb_row: DataFrame) -> DataFrame:
    """(query_id, m0..m{PQ_M-1}): per-query ADC lookup tables — map
    cid → subdistance per subspace, one broadcastable row per query
    (|workload| is the fixed capped query batch). Map keys are the
    unique codebook cids; values carry ``_sq_dist``'s exact operand
    order (see _pq_cb_row)."""
    q = e.filter(
        (F.col("vec_id") % QUERY_MOD == 0)
        & (F.col("vec_id") < PQ_CODEBOOK_ID_CAP)
    ).select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    out = _pq_staged(q, "qv").crossJoin(F.broadcast(cb_row))
    sel = [F.col("query_id")]
    for s in range(PQ_M):
        m = F.map_from_entries(
            F.transform(
                _pq_subdists(s),
                lambda x: F.struct(
                    x["cid"].alias("key"), x["d"].alias("value")
                ),
            )
        )
        sel.append(m.alias(f"m{s}"))
    return out.select(*sel)


def _pq_adc_dist() -> Column:
    """The rounded ADC distance of a (codes, LUT-maps) row: PQ_M map
    lookups summed LEFT-TO-RIGHT in subspace order — the identical
    IEEE sequence the relational s-sorted fold accumulated (and the
    oracle's ordered list_reduce replays)."""
    total = F.element_at("m0", F.col("c0"))
    for s in range(1, PQ_M):
        total = total + F.element_at(f"m{s}", F.col(f"c{s}"))
    return hround(total, 6).alias("adc_dist")


def sim_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance computation
    (Jégou et al. 2011, the FAISS ``IVF,PQ`` building block): vectors
    are ENCODED as PQ_M one-byte codes (nearest codebook centroid per
    16-dim subspace); a query scans CODES, not vectors — its distance
    to any corpus vector is a sum of PQ_M table lookups from a
    per-query LUT of |codebook|·PQ_M precomputed subdistances.

    Why PQ at 100 TB: the corpus shrinks 64× (64 doubles → 4 codes),
    the scan is table-lookup bound instead of FLOP bound, and encoding
    is embarrassingly parallel (broadcast codebook, one corpus pass).
    Here the LUT join + fold IS the ADC scan, expressed relationally:
    codes ⋈ broadcast LUT on (subspace, code), then a deterministic
    s-ordered fold per (query, vector) — no all-pairs
    vector-by-vector math anywhere.

    Codebook: 'pre-trained' deterministically (the centroid sample
    vec_id % 100 == 50, as sim_ann_ivf), so the DuckDB oracle replays
    encode + LUT + ADC exactly; distances fold in the same IEEE order
    both sides and ranking uses the rounded distance with an id
    tiebreak. ADC is approximate vs true L2 by construction — the
    oracle checks the PQ pipeline itself, exactly.

    Plan shape (r13): the codebook is FIXED-size, so encode and the
    per-query LUTs are pure projections against ONE broadcast packed
    codebook row (_pq_cb_row) and the ADC scan is corpus ⋈ broadcast
    query-LUTs with the distance as PQ_M map lookups — the only
    exchange left is the top-k window's (was 5: two corpus explodes, a
    SORTED min(struct) encode aggregate, and a collect_list fold
    shuffle)."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # persisted: the 1-row packed codebook feeds BOTH the encode and
    # the query LUTs — without the pin each consumer re-runs the
    # codebook aggregate and broadcasts its own copy.
    cb_row = tracked_persist(_pq_cb_row(e))
    codes = _pq_encode_wide(e, cb_row)
    luts = _pq_query_luts(e, cb_row)
    scored = (
        codes.crossJoin(F.broadcast(luts))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _pq_adc_dist())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select("query_id", "rank", "vec_id", "adc_dist")
    )


def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF,PQ — the composed production ANN layout (FAISS
    ``IVFx,PQy``): the coarse quantizer prunes the candidate set to
    the query's Voronoi cell (sim_ann_ivf's assignment, nprobe=1) and
    ADC scores ONLY the survivors from their PQ codes (sim_ann_pq_adc's
    LUT fold). Neither half alone is the deployable index — IVF-flat
    still reads full vectors for every candidate; full-scan ADC still
    touches every code. Composed, per-query work is
    |cell| · PQ_M lookups: with ~√n cells the candidate set stays a
    vanishing corpus fraction, and candidates are 64× smaller than
    vectors.

    All determinism machinery is inherited: seeded disjoint
    centroid/query/codebook samples, rounded scores, id tiebreaks —
    the oracle replays assignment, encode, LUT and fold exactly.
    Recall of the coarse stage is MEASURED by sim_ann_recall.

    The coarse quantizer runs through ``dedup_semantic``'s shared
    ANN-ASSISTED assignment kernel (llm.dedup.sem_assign): with K ∝ N
    centroids, dense assignment is O(N·K) — measured segment exponent
    1.51 over 10×→30× before this switch, 0.4 after. Cell -1
    (bucket-miss, rare by construction) is UNINDEXED: excluded from
    candidates, and a query landing there returns no rows — the
    documented recall trade of a pruned index, replayed exactly by
    the oracle."""
    from etl_data_pipeline_spark.llm.dedup import sem_assign
    from etl_data_pipeline_spark.llm.vector import dot as _vdot

    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # Both persisted, as in dedup_semantic: sem_assign's internal
    # centroid count() plus the candidate/scoring/reattach consumers
    # would otherwise re-scan the corpus several times per build.
    en = tracked_persist(
        e.withColumn("nrm", F.sqrt(_vdot(F.col("v"), F.col("v"))))
    )
    c0 = tracked_persist(
        en.filter(
            F.col("vec_id") % QUERY_MOD == CENTROID_MOD_REMAINDER
        ).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    )
    # Persisted: consumed twice (corpus candidates + query cells) — an
    # index structure by nature, built once, like the manifest of a
    # write-time-partitioned IVF layout.
    assigned = tracked_persist(
        sem_assign(en, c0)
        .filter(F.col("cluster") != -1)
        .select("vec_id", F.col("cluster").alias("cell"))
    )
    cb_row = tracked_persist(_pq_cb_row(e))  # shared: encode + LUTs
    codes = _pq_encode_wide(e, cb_row)
    luts = _pq_query_luts(e, cb_row)
    qcells = (
        assigned.filter(
            (F.col("vec_id") % QUERY_MOD == 0)
            & (F.col("vec_id") < PQ_CODEBOOK_ID_CAP)
        )
        .select(F.col("vec_id").alias("query_id"), F.col("cell").alias("qcell"))
    )
    # codes are ONE row per vector (r13, _pq_encode_wide) — the
    # vec_id join shuffles N rows, not N·PQ_M exploded subspaces, and
    # the ADC distance is a broadcast-LUT projection instead of a
    # collect_list fold shuffle.
    cand = codes.join(assigned, "vec_id").join(
        F.broadcast(qcells), F.col("cell") == F.col("qcell")
    )
    scored = (
        cand.join(F.broadcast(luts), "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "cell", _pq_adc_dist())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "cell", "rank", "vec_id", "adc_dist")
    )


def sim_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@3 of the COMPOSED IVF,PQ index against the
    exact squared-L2 ground truth — the shipping evidence for the
    production layout, covering BOTH approximation sources at once:
    cell pruning (coarse quantizer misses, incl. unindexed bucket-miss
    queries scoring 0) and ADC quantization error (a true neighbor
    ranked out by code distance). sim_ann_recall measures the IVF-flat
    curve; this closes the loop for the index a deployment would
    actually run. Ground truth is one broadcast-queries pass over the
    corpus (Q is the fixed capped workload, so the exact side is
    O(N)); deterministic rounding + id tiebreaks make recall EXACT in
    the oracle, not statistical.

    Measured on this harness corpus: avg recall@3 ≈ 0.02 (sf0.1) /
    0.00 (sf1) — near-uniform random embeddings are the WORST case
    for coarse quantization (sim_ann_recall reads 0.08 at sf0.1 for
    IVF-flat single-probe under the same shortlist assignment) and
    the deliberately replayable id-sample codebook adds untrained-PQ
    error on top. That number is
    the point: it tells a deployment this configuration is NOT
    shippable on this distribution before any cluster time is spent —
    the knobs it prices are nprobe, a trained (k-means) codebook, and
    residual encoding."""
    got = sim_ann_ivfpq(spark, sf_dir).select("query_id", "vec_id")
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # Staged self-dots (r13, the scored_pairs staged-norm recipe): the
    # exact side scores |workload| · N pairs — dot(qv,qv) is constant
    # per query and dot(v,v) per corpus row, so staging both cuts the
    # per-pair work to ONE 64-dim fold. Operand order matches
    # _sq_dist exactly ((qvv − 2·dot) + vvv) ⇒ bit-identical doubles.
    ev = e.withColumn("vvv", _dot(F.col("v"), F.col("v")))
    q = ev.filter(
        (F.col("vec_id") % QUERY_MOD == 0)
        & (F.col("vec_id") < PQ_CODEBOOK_ID_CAP)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vvv").alias("qvv"),
    )
    exact_scored = ev.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        hround(
            F.col("qvv")
            - F.lit(2.0) * _dot(F.col("qv"), F.col("v"))
            + F.col("vvv"),
            6,
        ).alias("d"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("vec_id"))
    exact_top = (
        exact_scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 3)
        .select("query_id", "vec_id")
    )
    hits = exact_top.join(
        got.withColumn("hit", F.lit(1)), ["query_id", "vec_id"], "left"
    )
    return (
        q.select("query_id")
        .join(hits, "query_id", "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            hround(F.count("hit") / 3.0, 6).alias("recall_at_3"),
        )
    )


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding space (long
    form: dim_i <= dim_j, cov) — the input every whitening / PCA /
    Mahalanobis-outlier stage needs before it can touch a vector
    corpus. cov(i,j) = E[x_i·x_j] − E[x_i]·E[x_j] (population form).

    Scale shape: each row explodes into its dim(dim+1)/2 upper-
    triangle products (two chained generators: posexplode for i,
    sequence-explode for j>=i — no self-join of the corpus), and the
    shuffle carries scalar (i, j, product) triples with map-side
    partial aggregation into exactly dim(dim+1)/2 groups. Per-dim
    means are a second tiny aggregate over the same scan, broadcast
    back (64 rows) for the centering term. No vector is ever
    reassembled; state is O(dim²) regardless of corpus size. Means
    are rounded to 6 dp BEFORE the centering product and the result
    rounded again, so cross-engine float-sum order noise is absorbed
    at both steps (the embedding_centroids contract)."""
    return _covariance_parts(spark, sf_dir)[2]


def _covariance_parts(spark, sf_dir):
    """Shared covariance machinery: returns (persisted embeddings
    frame keyed by vec_id, rounded per-dim means, upper-triangle
    covariance). The PCA operators consume the SAME persisted corpus
    frame and means relation, so composing them costs no extra corpus
    scan or duplicate aggregation."""
    e = tracked_persist(
        spread(load_table(spark, sf_dir, "embeddings")).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    means = (
        e.select(F.posexplode("v").alias("dim", "val"))
        .groupBy("dim")
        .agg(hround(F.avg("val"), 6).alias("mean"))
    )
    n_dims = F.size("v")
    prods = (
        e.select("v", F.posexplode("v").alias("dim_i", "xi"))
        .select(
            "dim_i",
            "xi",
            F.explode(F.sequence(F.col("dim_i"), n_dims - 1)).alias("dim_j"),
            F.col("v"),
        )
        .select(
            "dim_i",
            "dim_j",
            (F.col("xi") * F.element_at("v", F.col("dim_j") + 1)).alias("p"),
        )
    )
    raw = prods.groupBy("dim_i", "dim_j").agg(F.avg("p").alias("e_ij"))
    mi = means.select(F.col("dim").alias("dim_i"), F.col("mean").alias("mean_i"))
    mj = means.select(F.col("dim").alias("dim_j"), F.col("mean").alias("mean_j"))
    cov_ut = (
        raw.join(F.broadcast(mi), "dim_i")
        .join(F.broadcast(mj), "dim_j")
        .select(
            "dim_i",
            "dim_j",
            hround(
                F.col("e_ij") - F.col("mean_i") * F.col("mean_j"), 6
            ).alias("cov"),
        )
    )
    return e, means, cov_ut


PCA_ITERS = 8        # fixed power-iteration step count (both engines)
PCA_INIT = 0.123456  # uniform start value, deliberately NON-dyadic:
# with a dyadic x0 (e.g. 1/8) the first matvec over the 1e-6-quantized
# covariance lands EXACTLY on .5 rounding boundaries for a constant
# fraction of entries (measured: 8/64 at x0=0.125 — y·1e6 = K/8 with K
# integer), where engine-dependent float-sum order decides the floor.
# 123456/1e6 shares only a factor 64 with 1e6, so K·123456 ≡ 500000
# (mod 1e6) has NO solution — exact ties are arithmetically impossible
# at every step, and the ~1e-16 sum noise sits ≥3.2e-5 away from any
# boundary. (Iterates after step 1 are 1e-6-quantized, where a tie
# needs Σk·m ≡ 500000 mod 1e6 — probability ~1e-6, measure-zero in
# practice.) The start norm is irrelevant: step 1 normalizes.


def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding space by PCA_ITERS
    fixed power-iteration steps on the covariance matrix, plus the
    Rayleigh-quotient eigenvalue — the whitening/compression direction
    a vector corpus pipeline extracts before quantization (and the
    d×d-sized step of full PCA; further components = the same loop
    with deflation).

    Exactness across engines WITHOUT convergence assumptions: the
    input matrix is embedding_covariance's 6 dp-rounded output
    (already hash-oracled, so bit-identical in both engines), the
    start vector is an exact double, and every matvec result and
    every normalized iterate is re-rounded to 6 dp — float-sum order
    noise (~1e-15) is absorbed at each step, so both engines walk the
    SAME trajectory even on a flat spectrum where the direction
    itself hasn't converged. The oracle unrolls the identical
    PCA_ITERS steps as chained CTEs.

    Scale posture: the corpus-sized work is exactly one
    embedding_covariance pass (O(dim²) state, map-side combined);
    the iteration then runs on the d² matrix — persisted once,
    re-joined per step with the d-row iterate (broadcast), never
    touching corpus rows again. Driver never sees a vector: the
    matvec is join + groupBy, the norm a 1-row broadcast aggregate.
    """
    _, _, cov_ut = _covariance_parts(spark, sf_dir)
    vec, _cov = _pca_power_iterate(cov_ut)
    return _pca_eigen_output(vec, _cov)


def _pca_power_iterate(cov_ut: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The PCA_ITERS rounded power-iteration loop; returns (final
    iterate (i, x), persisted full matrix (i, j, c)), both in
    ``cov_ut``'s session, which the loop does not touch."""
    # persist the UPPER TRIANGLE before mirroring: both union branches
    # otherwise re-run the corpus-sized covariance aggregation (the
    # dim_i < dim_j filter pushes below the aggregate, so the branches
    # are non-identical and Catalyst cannot reuse the exchange —
    # verified: 0 ReusedExchange without this).
    cov_ut = tracked_persist(cov_ut)
    lower = cov_ut.filter(F.col("dim_i") < F.col("dim_j")).select(
        F.col("dim_j").alias("i"), F.col("dim_i").alias("j"), F.col("cov").alias("c")
    )
    # repartition(1) before persisting: the union inherits ~2× the
    # covariance shuffle partitioning (64 near-empty partitions of a
    # 4096-row matrix), and every one of the 8 iteration jobs would
    # re-launch that many scan tasks. One partition = one task per
    # step — d² rows is driver-trivial but TASK COUNT is the cost here.
    cov = tracked_persist(
        cov_ut.select(
            F.col("dim_i").alias("i"), F.col("dim_j").alias("j"), F.col("cov").alias("c")
        )
        .unionAll(lower)
        .repartition(1)
    )
    # the steps run on a derived session with MODEL_LOOP_CONF (AQE
    # off, a model-sized reduce width): the iterate is d-sized (on a
    # 32-core host: 4.1→3.4 s median on embedding_pca_project at
    # sf0.1, identical output)
    mat = reroot(cov, derived_session(cov.sparkSession, MODEL_LOOP_CONF))
    vec = mat.select(F.col("i")).distinct().select("i", F.lit(PCA_INIT).alias("x"))
    for _ in range(PCA_ITERS):
        # localCheckpoint (not persist): the norm aggregate AND the
        # normalized iterate both reference the matvec, so each step
        # would otherwise DOUBLE the logical plan (2^T growth) and
        # Catalyst re-optimization explodes — the iterative-DataFrame
        # trap dedup_clusters documents; persist alone doesn't help
        # because the optimizer still walks the un-truncated lineage.
        y = tracked_checkpoint(
            mat.join(F.broadcast(vec.withColumnRenamed("i", "j")), "j")
            .groupBy("i")
            .agg(hround(F.sum(F.col("c") * F.col("x")), 6).alias("y"))
            .coalesce(1)
        )
        norm = y.agg(F.sqrt(F.sum(F.col("y") * F.col("y"))).alias("nrm"))
        vec = y.crossJoin(F.broadcast(norm)).select(
            "i", hround(F.col("y") / F.col("nrm"), 6).alias("x")
        )
    # back in the caller's session: what consumes the iterate plans
    # with the caller's conf (AQE on)
    return reroot(vec, cov.sparkSession), cov


def _pca_eigen_output(vec: DataFrame, cov: DataFrame) -> DataFrame:
    """Rayleigh-quotient eigenvalue + (dim, loading, eigenvalue)."""
    yf = (
        cov.join(F.broadcast(vec.withColumnRenamed("i", "j")), "j")
        .groupBy("i")
        .agg(F.sum(F.col("c") * F.col("x")).alias("y"))
    )
    lam = (
        yf.join(F.broadcast(vec), "i")
        .agg(
            hround(
                F.sum(F.col("y") * F.col("x")) / F.sum(F.col("x") * F.col("x")), 6
            ).alias("eigenvalue")
        )
    )
    return vec.crossJoin(F.broadcast(lam)).select(
        F.col("i").alias("dim"), F.col("x").alias("loading"), "eigenvalue"
    )


def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA applied: every vector's score along the top principal
    component (centered dot product) plus its residual norm — the
    dimensionality-reduction / outlier-scoring output a vector
    pipeline actually consumes (residual_norm is the "how much of
    this vector the 1-D compression loses" signal; unit-norm loading
    makes residual² = ‖xc‖² − score²).

    Composition contract: the loading vector IS embedding_pca_power's
    output (the oracle replays the identical unrolled trajectory via
    the shared CTE chain), and the centering means are rounded 6 dp
    exactly as the covariance stage rounds them — so the projection
    is engine-exact for the same reasons the trajectory is.

    Scale posture: ONE corpus pass — posexplode to (vec_id, dim, val)
    cells, two broadcast joins (64-row means, 64-row loading), one
    map-side-combinable groupBy(vec_id) carrying two double sums. The
    power iteration's cost is corpus-independent (see
    embedding_pca_power); nothing here shuffles vectors.
    """
    # one _covariance_parts call: the persisted corpus frame, the
    # rounded means, and the covariance feed BOTH the iteration and
    # the projection — no second corpus scan, no duplicate means agg
    e, means, cov_ut = _covariance_parts(spark, sf_dir)
    loading_vec, _ = _pca_power_iterate(cov_ut)
    pc = loading_vec.select(
        F.col("i").alias("dim"), F.col("x").alias("loading")
    )
    cells = e.select("vec_id", F.posexplode("v").alias("dim", "val"))
    xc = F.col("val") - F.col("mean")
    agg = (
        cells.join(F.broadcast(means), "dim")
        .join(F.broadcast(pc), "dim")
        .groupBy("vec_id")
        .agg(
            F.sum(xc * F.col("loading")).alias("raw_score"),
            F.sum(xc * xc).alias("ss"),
        )
    )
    return agg.select(
        "vec_id",
        hround(F.col("raw_score"), 6).alias("pc1_score"),
        hround(
            F.sqrt(
                F.greatest(
                    F.col("ss") - F.col("raw_score") * F.col("raw_score"),
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("residual_norm"),
    )


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (class centroids), long form
    (label, dim, centroid_val).

    posexplode → groupBy(label, dim) avg: the shuffle carries scalar
    (label, dim, value) triples, the partial aggregate combines
    map-side, and no vector is ever reassembled driver-side. Long form
    is deliberately the output — it joins/aggregates cheaply and
    avoids collect_list ordering hazards; wrap with array_agg at the
    consumer if a vector is needed.
    """
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    return (
        e.select("label", F.posexplode("v").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(hround(F.avg("val"), 6).alias("centroid_val"))
    )


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic Lloyd iteration of spherical k-means:
    assign to seeded centroids → recompute per-cluster mean vectors →
    final reassignment. Fully oracle-checked because every stage is
    deterministic: seeded centroid SAMPLE (not random init), rounded
    cosines with id tiebreaks, and per-dim means rounded to 6 dp
    before reuse (cross-engine float-sum noise is absorbed by the
    rounding, SURVEY.md §7.4 risk 5).

    BOTH assignment stages run through the shortlist kernel
    (_ivf_trained_build / llm.dedup.sem_scored) since round 9: with
    the centroid sample ∝ corpus size, a dense Lloyd step is O(N·K) =
    O(N²/100) — the identical knee measured at exponent 1.51 on the
    IVF family's dense assignment before its re-route, just hidden in
    the TRAINING pass. Bucket-miss vectors (no shortlisted centroid)
    report cluster -1 with NULL cosine — sem_assign's convention, and
    they sit out the mean update exactly as at assignment time.

    Scale shape per iteration: one shortlist-keyed scoring pass; the
    mean recompute shuffles scalar (cluster, dim, val) triples with
    map-side partial aggregation; centroid vectors are reassembled
    from the SMALL (k × dim) result — never from corpus rows. More
    iterations = the same stage repeated; one is enough to pin the
    algorithm end-to-end for the harness.
    """
    e, _, aranked, _c1 = _ivf_trained_build(spark, sf_dir)
    best = aranked.filter(F.col("arank") == 1).select(
        "vec_id",
        F.col("centroid_id").alias("cluster"),
        F.col("cc").alias("cosine"),
    )
    return e.select("vec_id").join(best, "vec_id", "left").select(
        "vec_id",
        F.coalesce(F.col("cluster"), F.lit(-1).cast("long")).alias("cluster"),
        "cosine",
    )


KMEANS_RESCUE_SEED_OFFSET = 300  # independent plane family for the
# rescue round: disjoint from the standard shortlist tables
# (SEM_SEED_OFFSET=100) and dedup_embedding_cosine's (offset 0), so
# the rescue draw is a genuinely second OR-construction sample


def embedding_kmeans_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACCOUNTABILITY for the shortlist assignment's bucket-miss
    semantic (r9 verdict item 3): embedding_kmeans / the IVF family
    report cluster -1 for a vector whose hyperplane buckets hold no
    centroid, but the MISS FRACTION itself was reported nowhere — a
    user can't tell whether the pruned index drops 0.1% or 15% of the
    corpus. This query prices it, and prices the RESCUE: a second
    shortlist round over ONLY the missed remainder with an independent
    hyperplane seed family (a fresh OR-construction draw —
    sem_scored(seed_offset=KMEANS_RESCUE_SEED_OFFSET)). The rescue is
    O(misses · tables), never O(N·K): assigned vectors are anti-joined
    away BEFORE the second round, which a test pins via the plan
    (tests/test_r10_additions.py).

    One row: total_vectors, n_assigned, n_missed (first round),
    n_rescued (second round found >=1 candidate), n_still_missed, and
    the two fractions a capacity plan needs — miss_frac (what -1
    semantics cost without rescue) and final_miss_frac (with it).
    Fully oracled: both rounds are deterministic seeded-plane
    arithmetic replayed by the shared CTEs + a seed-offset arm."""
    from etl_data_pipeline_spark.llm.dedup import sem_scored

    e, _assigned, aranked, c1 = _ivf_trained_build(spark, sf_dir)
    assigned_ids = aranked.filter(F.col("arank") == 1).select("vec_id")
    missed = e.join(assigned_ids, "vec_id", "left_anti").select(
        "vec_id", "v", "nrm"
    )
    rescued_ids = (
        sem_scored(missed, c1, seed_offset=KMEANS_RESCUE_SEED_OFFSET)
        .select("vec_id")
        .distinct()
    )
    flags = (
        e.select("vec_id")
        .join(assigned_ids.withColumn("a", F.lit(1)), "vec_id", "left")
        .join(rescued_ids.withColumn("r", F.lit(1)), "vec_id", "left")
    )
    return flags.agg(
        F.count("*").alias("total_vectors"),
        F.count("a").alias("n_assigned"),
        F.count(F.when(F.col("a").isNull(), 1)).alias("n_missed"),
        F.count("r").alias("n_rescued"),
        F.count(F.when(F.col("a").isNull() & F.col("r").isNull(), 1)).alias(
            "n_still_missed"
        ),
    ).select(
        "total_vectors",
        "n_assigned",
        "n_missed",
        "n_rescued",
        "n_still_missed",
        hround(F.col("n_missed") / F.col("total_vectors"), 6).alias("miss_frac"),
        hround(F.col("n_still_missed") / F.col("total_vectors"), 6).alias(
            "final_miss_frac"
        ),
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector: scale = 127/max|x|,
    q_i = floor(x_i·scale + 0.5) — the standard storage/bandwidth
    reduction before ANN serving (4 bytes → 1 byte per dim).

    Map-only columnar arithmetic (array_max + transform, JVM-side); the
    rounding uses floor(x+0.5) rather than round() because banker's-
    vs half-away rounding differs across engines while floor(+0.5) is
    the identical IEEE expression in both — the same portability rule
    as the histogram/rounding helpers.

    The quantized vector is emitted as a comma-joined string: a scalar
    form hashes stably in any result comparator (array cells are
    unhashable in pandas-based canonicalizers); split(q8, ',') recovers
    the array at a consumer.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    amax = F.array_max(F.transform("v", lambda x: F.abs(x)))
    scale = F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(0.0))
    q8 = F.transform("v", lambda x: F.floor(x * scale + F.lit(0.5)).cast("int"))
    return e.select(
        "vec_id", hround(scale, 6).alias("scale"), F.concat_ws(",", q8).alias("q8")
    )


QUERIES = {
    "sim_ann_pq_adc": sim_ann_pq_adc,
    "sim_ann_ivfpq": sim_ann_ivfpq,
    "sim_ann_ivfpq_recall": sim_ann_ivfpq_recall,
    "sim_ann_recall": sim_ann_recall,
    "sim_ann_ivf_clustered_recall": sim_ann_ivf_clustered_recall,
    "sim_ann_ivf_clustered_trained_recall": sim_ann_ivf_clustered_trained_recall,
    "embedding_covariance": embedding_covariance,
    "embedding_pca_power": embedding_pca_power,
    "embedding_pca_project": embedding_pca_project,
    "sim_topk": sim_topk,
    "embedding_kmeans": embedding_kmeans,
    "embedding_kmeans_coverage": embedding_kmeans_coverage,
    "embedding_quantize": embedding_quantize,
    "sim_ann_lsh": sim_ann_lsh,
    "sim_ann_ivf": sim_ann_ivf,
    "sim_ann_ivf_trained": sim_ann_ivf_trained,
    "sim_ann_ivf_trained_recall": sim_ann_ivf_trained_recall,
    "sim_ann_ivf_filtered": sim_ann_ivf_filtered,
    "sim_ann_ivf_filtered_recall": sim_ann_ivf_filtered_recall,
    "embedding_centroids": embedding_centroids,
}


def _sql_plane(p: list[float]) -> str:
    return "[" + ", ".join(f"{x:.1f}" for x in p) + "]"


def _oracle_sim_topk() -> str:
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e
              WHERE vec_id % {QUERY_MOD} = 0
                AND vec_id < {RECALL_QUERY_CAP}),
        scored AS (
            SELECT q.query_id, e.vec_id,
                   floor((list_dot_product(q.qv, e.v) /
                          (sqrt(list_dot_product(q.qv, q.qv)) *
                           sqrt(list_dot_product(e.v, e.v)))) * 1000000 + 0.5)
                       / 1000000 AS cosine
            FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
        ), ranked AS (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM scored)
        SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= {TOP_K}
    """


def _oracle_sim_ann_lsh() -> str:
    bucket_expr = sql_bucket_expr(_planes())
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        b AS (SELECT vec_id, v, {bucket_expr} AS bucket FROM e),
        q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket FROM b
              WHERE vec_id % {QUERY_MOD} = 0),
        scored AS (
            SELECT q.query_id, b.bucket, b.vec_id,
                   floor((list_dot_product(q.qv, b.v) /
                          (sqrt(list_dot_product(q.qv, q.qv)) *
                           sqrt(list_dot_product(b.v, b.v)))) * 1000000 + 0.5)
                       / 1000000 AS cosine
            FROM b JOIN q ON b.bucket = q.qbucket AND b.vec_id <> q.query_id
        ), ranked AS (
            SELECT query_id, bucket, vec_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM scored)
        SELECT query_id, bucket, rank, vec_id, cosine FROM ranked WHERE rank <= 3
    """


def _clustered_corpus_sql() -> str:
    """The DuckDB body of the ``e`` CTE replaying _clustered_corpus:
    same integer center-sign mix, same noise scale, same 6 dp
    rounding, reassembled in dim order."""
    return f"""SELECT vec_id,
                   list(floor((CASE WHEN ((CAST(floor(vec_id / {CLUSTERED_SPAN}) AS BIGINT) + 1) * {_CLUSTERED_MULT_CID}
                                      + (dim + 1) * {_CLUSTERED_MULT_DIM}) % {_CLUSTERED_PRIME} * 2 < {_CLUSTERED_PRIME}
                               THEN 1.0 ELSE -1.0 END
                               + {CLUSTERED_NOISE} * val) * 1000000 + 0.5) / 1000000
                        ORDER BY dim) AS v
            FROM (SELECT vec_id, unnest(range(len(embedding))) AS dim,
                         unnest(embedding::DOUBLE[]) AS val FROM embeddings)
            GROUP BY vec_id"""


def _ivf_sem_sql_ctes(
    with_label: bool = False,
    trained: bool = False,
    corpus_sql: str | None = None,
) -> str:
    """The ANN-assisted IVF assignment replay as a CTE chain ending in
    ``aranked(vec_id, centroid_id, cc, arank)`` (the scored centroid
    shortlist per vector) and ``assigned(vec_id, v[, label], cell)``
    (the indexed corpus) — ONE source shared by every IVF-family
    oracle (sim_ann_ivf / _filtered / both recall curves / the trained
    variants) so the shortlist tables, scoring, and tiebreaks cannot
    drift between them. Mirrors _ivfpq_sql_ctes, which replays the
    same llm.dedup.sem_scored kernel.

    ``trained``: insert the one-Lloyd-step refinement between the seed
    sample and the final assignment — shortlist-assign to the seeds,
    per-(cluster, dim) rounded means reassembled into c1 (the
    embedding_kmeans recipe), then the final shortlist scoring runs
    against c1 with its OWN count-derived mask."""
    from etl_data_pipeline_spark.llm.dedup import (
        SEM_ASSIGN_MASK_SQL,
        sem_assign_mask_sql,
        sem_assign_sql_arms,
        sem_bucket_sql_arms,
    )

    vk_arms, ck_arms = sem_assign_sql_arms()
    label = ", label" if with_label else ""
    elabel = ", e.label" if with_label else ""
    e_body = (
        corpus_sql
        or f"SELECT vec_id, embedding::DOUBLE[] AS v{label} FROM embeddings"
    )
    head = f"""
        WITH e AS MATERIALIZED ({e_body}),
        c0 AS MATERIALIZED (SELECT vec_id AS centroid_id, v AS cv FROM e
              WHERE vec_id % {QUERY_MOD} = {CENTROID_MOD_REMAINDER}),
        pp AS MATERIALIZED ({SEM_ASSIGN_MASK_SQL}
        ), vk AS MATERIALIZED (
            {vk_arms}
        ), ck AS MATERIALIZED (
            {ck_arms}
        ), acand AS MATERIALIZED (
            SELECT DISTINCT vk.vec_id, ck.centroid_id
            FROM vk JOIN ck ON vk.tbl = ck.tbl AND vk.bucket = ck.bucket
        ), ascored AS (
            SELECT acand.vec_id, acand.centroid_id,
                   floor((list_dot_product(c0.cv, e.v) /
                          (sqrt(list_dot_product(c0.cv, c0.cv)) *
                           sqrt(list_dot_product(e.v, e.v)))) * 1000000 + 0.5)
                       / 1000000 AS cc
            FROM acand
            JOIN e ON e.vec_id = acand.vec_id
            JOIN c0 ON c0.centroid_id = acand.centroid_id
        )"""
    if not trained:
        return f"""{head}, aranked AS MATERIALIZED (
            SELECT vec_id, centroid_id, cc,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY cc DESC, centroid_id ASC) AS arank
            FROM ascored
        ), assigned AS MATERIALIZED (
            SELECT a.vec_id, e.v{elabel}, a.centroid_id AS cell
            FROM aranked a JOIN e ON e.vec_id = a.vec_id
            WHERE a.arank = 1
        )"""
    vk1_arms = sem_bucket_sql_arms("e", "vec_id", "v", mask_cte="pp1")
    ck1_arms = sem_bucket_sql_arms("c1", "centroid_id", "cv", mask_cte="pp1")
    return f"""{head}, a0 AS MATERIALIZED (
            SELECT vec_id, centroid_id AS cluster FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cc DESC, centroid_id ASC) AS rn
                FROM ascored) WHERE rn = 1
        ), means AS (
            SELECT cluster, dim,
                   floor(avg(val) * 1000000 + 0.5) / 1000000 AS cval
            FROM (SELECT a0.cluster, unnest(range(len(e.v))) AS dim,
                         unnest(e.v) AS val
                  FROM a0 JOIN e ON e.vec_id = a0.vec_id)
            GROUP BY cluster, dim
        ), c1 AS MATERIALIZED (
            SELECT cluster AS centroid_id, list(cval ORDER BY dim) AS cv
            FROM means GROUP BY cluster
        ), pp1 AS MATERIALIZED ({sem_assign_mask_sql("c1")}
        ), vk1 AS MATERIALIZED (
            {vk1_arms}
        ), ck1 AS MATERIALIZED (
            {ck1_arms}
        ), acand1 AS MATERIALIZED (
            SELECT DISTINCT vk1.vec_id, ck1.centroid_id
            FROM vk1 JOIN ck1 ON vk1.tbl = ck1.tbl AND vk1.bucket = ck1.bucket
        ), aranked AS MATERIALIZED (
            SELECT vec_id, centroid_id, cc,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY cc DESC, centroid_id ASC) AS arank
            FROM (
                SELECT acand1.vec_id, acand1.centroid_id,
                       floor((list_dot_product(c1.cv, e.v) /
                              (sqrt(list_dot_product(c1.cv, c1.cv)) *
                               sqrt(list_dot_product(e.v, e.v)))) * 1000000 + 0.5)
                           / 1000000 AS cc
                FROM acand1
                JOIN e ON e.vec_id = acand1.vec_id
                JOIN c1 ON c1.centroid_id = acand1.centroid_id)
        ), assigned AS MATERIALIZED (
            SELECT a.vec_id, e.v{elabel}, a.centroid_id AS cell
            FROM aranked a JOIN e ON e.vec_id = a.vec_id
            WHERE a.arank = 1
        )"""


def _oracle_sim_ann_ivf(trained: bool = False) -> str:
    return f"""{_ivf_sem_sql_ctes(trained=trained)}, q AS (
            SELECT vec_id AS query_id, v AS qv, cell AS qcell FROM assigned
            WHERE vec_id % {QUERY_MOD} = 0
        ), scored AS (
            SELECT q.query_id, a.cell, a.vec_id,
                   floor((list_dot_product(q.qv, a.v) /
                          (sqrt(list_dot_product(q.qv, q.qv)) *
                           sqrt(list_dot_product(a.v, a.v)))) * 1000000 + 0.5)
                       / 1000000 AS cosine
            FROM assigned a JOIN q ON a.cell = q.qcell AND a.vec_id <> q.query_id
        ), ranked AS (
            SELECT query_id, cell, vec_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM scored)
        SELECT query_id, cell, rank, vec_id, cosine FROM ranked WHERE rank <= 3
    """


def _oracle_sim_ann_ivf_filtered() -> str:
    cos = (
        "floor((list_dot_product({x}, {y}) /"
        " (sqrt(list_dot_product({x}, {x})) *"
        " sqrt(list_dot_product({y}, {y})))) * 1000000 + 0.5) / 1000000"
    )
    return f"""{_ivf_sem_sql_ctes(with_label=True)}, q AS (
            SELECT vec_id AS query_id, v AS qv, label AS qlabel FROM e
            WHERE vec_id % {QUERY_MOD} = 0
        ), qcells AS (
            SELECT q.query_id, q.qv, q.qlabel, a.centroid_id AS qcell
            FROM q JOIN aranked a
              ON a.vec_id = q.query_id AND a.arank <= {IVF_FILTERED_NPROBE}
        ), scored AS (
            SELECT qc.query_id, a.label, a.vec_id,
                   {cos.format(x='qc.qv', y='a.v')} AS cosine
            FROM assigned a JOIN qcells qc
              ON a.cell = qc.qcell AND a.label = qc.qlabel
             AND a.vec_id <> qc.query_id
        ), ranked AS (
            SELECT query_id, label, vec_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM scored)
        SELECT query_id, label, rank, vec_id, cosine
        FROM ranked WHERE rank <= 3
    """


def _oracle_sim_ann_ivf_filtered_recall() -> str:
    cos = (
        "floor((list_dot_product({x}, {y}) /"
        " (sqrt(list_dot_product({x}, {x})) *"
        " sqrt(list_dot_product({y}, {y})))) * 1000000 + 0.5) / 1000000"
    )
    values = ", ".join(f"({n})" for n in RECALL_NPROBES)
    return f"""{_ivf_sem_sql_ctes(with_label=True)}, q AS (
            SELECT vec_id AS query_id, v AS qv, label AS qlabel FROM e
            WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {RECALL_QUERY_CAP}
        ), qcells AS (
            SELECT q.query_id, q.qv, q.qlabel, a.centroid_id AS qcell,
                   a.arank AS probe_rank
            FROM q JOIN aranked a
              ON a.vec_id = q.query_id AND a.arank <= {max(RECALL_NPROBES)}
        ), cand AS (
            SELECT qc.query_id, qc.probe_rank, a.vec_id,
                   {cos.format(x='qc.qv', y='a.v')} AS cosine
            FROM qcells qc JOIN assigned a
              ON a.cell = qc.qcell AND a.label = qc.qlabel
             AND a.vec_id <> qc.query_id
        ), expanded AS (
            SELECT n.nprobe, cd.query_id, cd.vec_id, cd.cosine
            FROM cand cd JOIN (VALUES {values}) n(nprobe)
              ON cd.probe_rank <= n.nprobe
        ), approx AS (
            SELECT nprobe, query_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY nprobe, query_id
                    ORDER BY cosine DESC, vec_id ASC) AS rk
                FROM expanded) WHERE rk <= {RECALL_K}
        ), ex_scored AS (
            SELECT q.query_id, e.vec_id, {cos.format(x='q.qv', y='e.v')} AS cosine
            FROM e JOIN q ON e.vec_id <> q.query_id AND e.label = q.qlabel
        ), exact AS (
            SELECT query_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, vec_id ASC) AS rk
                FROM ex_scored) WHERE rk <= {RECALL_K}
        ), tot AS (SELECT count(*) AS n_exact FROM exact)
        SELECT a.nprobe,
               tot.n_exact,
               count(*) AS n_approx,
               count(x.query_id) AS n_hit,
               floor(count(x.query_id) * 1.0 / tot.n_exact * 10000 + 0.5)
                   / 10000 AS recall_at_k
        FROM approx a
        LEFT JOIN exact x
          ON a.query_id = x.query_id AND a.vec_id = x.vec_id
        CROSS JOIN tot
        GROUP BY a.nprobe, tot.n_exact
    """


def _oracle_sim_ann_recall(
    trained: bool = False, corpus_sql: str | None = None
) -> str:
    cos = (
        "floor(({a} /"
        " (sqrt(list_dot_product({x}, {x})) *"
        " sqrt(list_dot_product({y}, {y})))) * 1000000 + 0.5) / 1000000"
    )

    def rounded_cos(x, y):
        return cos.format(a=f"list_dot_product({x}, {y})", x=x, y=y)

    values = ", ".join(f"({n})" for n in RECALL_NPROBES)
    return f"""{_ivf_sem_sql_ctes(trained=trained, corpus_sql=corpus_sql)}, q AS (
            SELECT vec_id AS query_id, v AS qv FROM e
            WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {RECALL_QUERY_CAP}
        ), qcells AS (
            SELECT q.query_id, q.qv, a.centroid_id AS qcell,
                   a.arank AS probe_rank
            FROM q JOIN aranked a
              ON a.vec_id = q.query_id AND a.arank <= {max(RECALL_NPROBES)}
        ), cand AS (
            SELECT qc.query_id, qc.probe_rank, a.vec_id,
                   {rounded_cos('qc.qv', 'a.v')} AS cosine
            FROM qcells qc JOIN assigned a
              ON a.cell = qc.qcell AND a.vec_id <> qc.query_id
        ), expanded AS (
            SELECT n.nprobe, cd.query_id, cd.vec_id, cd.cosine
            FROM cand cd JOIN (VALUES {values}) n(nprobe)
              ON cd.probe_rank <= n.nprobe
        ), approx AS (
            SELECT nprobe, query_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY nprobe, query_id
                    ORDER BY cosine DESC, vec_id ASC) AS rk
                FROM expanded) WHERE rk <= {RECALL_K}
        ), ex_scored AS (
            SELECT q.query_id, e.vec_id, {rounded_cos('q.qv', 'e.v')} AS cosine
            FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
        ), exact AS (
            SELECT query_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, vec_id ASC) AS rk
                FROM ex_scored) WHERE rk <= {RECALL_K}
        ), tot AS (SELECT count(*) AS n_exact FROM exact)
        SELECT a.nprobe,
               tot.n_exact,
               count(*) AS n_approx,
               count(x.query_id) AS n_hit,
               floor(count(x.query_id) * 1.0 / tot.n_exact * 10000 + 0.5)
                   / 10000 AS recall_at_k
        FROM approx a
        LEFT JOIN exact x
          ON a.query_id = x.query_id AND a.vec_id = x.vec_id
        CROSS JOIN tot
        GROUP BY a.nprobe, tot.n_exact
    """


# Squared-L2 as three dot products — the ONE SQL rendering every PQ
# oracle shares (the Spark twin is _sq_dist; both must stay the same
# IEEE op sequence).
_SQ_SQL = (
    "list_dot_product({a}, {a}) - 2.0 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b})"
)


def _pq_sql_ctes() -> str:
    """The PQ codebook/encode/LUT replay as continuing CTEs
    (``sp``/``cb``/``corp``/``codes``/``qlut``, no WITH keyword,
    expects an ``e(vec_id, v)`` CTE upstream) — ONE source shared by
    the sim_ann_pq_adc, sim_ann_ivfpq and ivfpq-recall oracles so the
    encode tiebreak and cap filters cannot drift between them."""
    sub = DIM // PQ_M
    return f"""sp AS (SELECT unnest([{", ".join(str(s) for s in range(PQ_M))}]) AS s),
        cb AS (
            SELECT vec_id AS cid, s,
                   list_slice(v, s*{sub}+1, (s+1)*{sub}) AS cv
            FROM e CROSS JOIN sp
            WHERE vec_id % {QUERY_MOD} = {CENTROID_MOD_REMAINDER}
              AND vec_id < {PQ_CODEBOOK_ID_CAP}
        ), corp AS (
            SELECT vec_id, s, list_slice(v, s*{sub}+1, (s+1)*{sub}) AS sv
            FROM e CROSS JOIN sp
        ), codes AS (
            SELECT vec_id, s, cid FROM (
                SELECT corp.vec_id, corp.s, cb.cid,
                       row_number() OVER (PARTITION BY corp.vec_id, corp.s
                           ORDER BY {_SQ_SQL.format(a="sv", b="cv")} ASC,
                                    cb.cid ASC) AS rn
                FROM corp JOIN cb ON corp.s = cb.s)
            WHERE rn = 1
        ), qlut AS (
            SELECT corp.vec_id AS query_id, corp.s, cb.cid,
                   {_SQ_SQL.format(a="sv", b="cv")} AS qd
            FROM corp JOIN cb ON corp.s = cb.s
            WHERE corp.vec_id % {QUERY_MOD} = 0
              AND corp.vec_id < {PQ_CODEBOOK_ID_CAP}
        )"""


def _oracle_sim_ann_pq_adc() -> str:
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        {_pq_sql_ctes()}, folded AS (
            SELECT q.query_id, c.vec_id,
                   list_reduce(list(q.qd ORDER BY q.s), (a, b) -> a + b)
                       AS raw
            FROM codes c JOIN qlut q ON c.s = q.s AND c.cid = q.cid
            WHERE c.vec_id <> q.query_id
            GROUP BY q.query_id, c.vec_id
        ), ranked AS (
            SELECT query_id, vec_id,
                   {sql_round("raw", 6)} AS adc_dist,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY {sql_round("raw", 6)} ASC, vec_id ASC) AS rank
            FROM folded)
        SELECT query_id, rank, vec_id, adc_dist
        FROM ranked WHERE rank <= {PQ_TOPK}
    """


def _ivfpq_sql_ctes() -> str:
    """The full IVF,PQ replay as a CTE chain ending in
    ``ranked(query_id, cell, vec_id, adc_dist, rank)`` — shared by the
    sim_ann_ivfpq oracle and the ivfpq recall oracle."""
    from etl_data_pipeline_spark.llm.dedup import (
        SEM_ASSIGN_MASK_SQL,
        sem_assign_sql_arms,
    )

    vk_arms, ck_arms = sem_assign_sql_arms()
    return f"""
        WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c0 AS MATERIALIZED (SELECT vec_id AS centroid_id, v AS cv FROM e
              WHERE vec_id % {QUERY_MOD} = {CENTROID_MOD_REMAINDER}),
        pp AS MATERIALIZED ({SEM_ASSIGN_MASK_SQL}
        ), vk AS MATERIALIZED (
            {vk_arms}
        ), ck AS MATERIALIZED (
            {ck_arms}
        ), acand AS MATERIALIZED (
            SELECT DISTINCT vk.vec_id, ck.centroid_id
            FROM vk JOIN ck ON vk.tbl = ck.tbl AND vk.bucket = ck.bucket
        ), ascored AS (
            SELECT acand.vec_id, acand.centroid_id,
                   floor((list_dot_product(c0.cv, e.v) /
                          (sqrt(list_dot_product(c0.cv, c0.cv)) *
                           sqrt(list_dot_product(e.v, e.v)))) * 1000000 + 0.5)
                       / 1000000 AS cc
            FROM acand
            JOIN e ON e.vec_id = acand.vec_id
            JOIN c0 ON c0.centroid_id = acand.centroid_id
        ), assigned AS MATERIALIZED (
            SELECT vec_id, centroid_id AS cell FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cc DESC, centroid_id ASC) AS arank
                FROM ascored) WHERE arank = 1
        ), {_pq_sql_ctes()}, qcells AS (
            SELECT vec_id AS query_id, cell AS qcell FROM assigned
            WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {PQ_CODEBOOK_ID_CAP}
        ), folded AS (
            SELECT q.query_id, cd.vec_id, a.cell,
                   list_reduce(list(q.qd ORDER BY q.s), (x, y) -> x + y)
                       AS raw
            FROM codes cd
            JOIN assigned a ON cd.vec_id = a.vec_id
            JOIN qcells qc ON a.cell = qc.qcell
            JOIN qlut q ON cd.s = q.s AND cd.cid = q.cid
                       AND q.query_id = qc.query_id
            WHERE cd.vec_id <> qc.query_id
            GROUP BY q.query_id, cd.vec_id, a.cell
        ), ranked AS (
            SELECT query_id, cell, vec_id,
                   {sql_round("raw", 6)} AS adc_dist,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY {sql_round("raw", 6)} ASC, vec_id ASC) AS rank
            FROM folded)"""


def _oracle_sim_ann_ivfpq() -> str:
    return f"""{_ivfpq_sql_ctes()}
        SELECT query_id, cell, rank, vec_id, adc_dist
        FROM ranked WHERE rank <= 3
    """


def _oracle_sim_ann_ivfpq_recall() -> str:
    sq = _SQ_SQL
    return f"""{_ivfpq_sql_ctes()},
        qv AS (
            SELECT vec_id AS query_id, v AS q FROM e
            WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {PQ_CODEBOOK_ID_CAP}
        ), exact_scored AS (
            SELECT qv.query_id, e.vec_id,
                   {sql_round(sq.format(a="qv.q", b="e.v"), 6)} AS d
            FROM qv CROSS JOIN e WHERE e.vec_id <> qv.query_id
        ), exact_top AS (
            SELECT query_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY d ASC, vec_id ASC) AS r
                FROM exact_scored) WHERE r <= 3
        ), got AS (
            SELECT query_id, vec_id FROM ranked WHERE rank <= 3
        )
        SELECT qv.query_id,
               CAST(count(got.vec_id) AS BIGINT) AS n_hits,
               {sql_round("count(got.vec_id) / 3.0", 6)} AS recall_at_3
        FROM qv
        LEFT JOIN exact_top t ON t.query_id = qv.query_id
        LEFT JOIN got ON got.query_id = t.query_id
                     AND got.vec_id = t.vec_id
        GROUP BY qv.query_id
    """


def _oracle_embedding_kmeans() -> str:
    """Replays the SAME shortlist-assisted Lloyd chain as the trained
    IVF oracles (shared CTE builder), then the every-vector output with
    the -1/NULL bucket-miss convention."""
    return f"""{_ivf_sem_sql_ctes(trained=True)}, best AS (
            SELECT vec_id, centroid_id AS cluster, cc AS cosine
            FROM aranked WHERE arank = 1
        )
        SELECT e.vec_id,
               coalesce(best.cluster, -1) AS cluster,
               best.cosine
        FROM e LEFT JOIN best ON best.vec_id = e.vec_id
    """


def _oracle_embedding_kmeans_coverage() -> str:
    """The coverage/rescue replay: the shared trained-IVF chain
    (assigned = first-round survivors), the missed remainder, then the
    rescue round's shortlist arms at the INDEPENDENT seed family
    (KMEANS_RESCUE_SEED_OFFSET) against the same refined centroids c1
    under the same count-derived mask (pp1)."""
    from etl_data_pipeline_spark.llm.dedup import sem_bucket_sql_arms

    rk_arms = sem_bucket_sql_arms(
        "missed", "vec_id", "v", mask_cte="pp1",
        seed_offset=KMEANS_RESCUE_SEED_OFFSET,
    )
    ck2_arms = sem_bucket_sql_arms(
        "c1", "centroid_id", "cv", mask_cte="pp1",
        seed_offset=KMEANS_RESCUE_SEED_OFFSET,
    )
    return f"""{_ivf_sem_sql_ctes(trained=True)}, missed AS MATERIALIZED (
            SELECT e.vec_id, e.v FROM e
            LEFT JOIN assigned a ON a.vec_id = e.vec_id
            WHERE a.vec_id IS NULL
        ), rk AS MATERIALIZED (
            {rk_arms}
        ), ck2 AS MATERIALIZED (
            {ck2_arms}
        ), rescued AS MATERIALIZED (
            SELECT DISTINCT rk.vec_id
            FROM rk JOIN ck2 ON rk.tbl = ck2.tbl AND rk.bucket = ck2.bucket
        ), n AS (
            SELECT (SELECT count(*) FROM e) AS total_vectors,
                   (SELECT count(*) FROM assigned) AS n_assigned,
                   (SELECT count(*) FROM missed) AS n_missed,
                   (SELECT count(*) FROM rescued) AS n_rescued
        )
        SELECT total_vectors, n_assigned, n_missed, n_rescued,
               n_missed - n_rescued AS n_still_missed,
               floor((n_missed::DOUBLE / total_vectors) * 1000000 + 0.5)
                   / 1000000 AS miss_frac,
               floor(((n_missed - n_rescued)::DOUBLE / total_vectors)
                     * 1000000 + 0.5) / 1000000 AS final_miss_frac
        FROM n
    """


def _pca_cte_chain() -> tuple[str, str]:
    """The shared unrolled power-iteration CTE chain: covariance
    (verbatim from the embedding_covariance oracle, mirrored to the
    full matrix), then PCA_ITERS (matvec -> round6 -> normalize ->
    round6) CTE pairs. Returns (sql_without_WITH, final_vec_cte_name).
    Chained CTEs instead of WITH RECURSIVE: the step count is a fixed
    constant and the unrolled form needs no aggregate-in-recursion
    support. Consumed by BOTH pca oracles so the trajectories cannot
    drift apart."""
    head = f"""e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
        means AS (
            SELECT dim, floor(avg(val) * 1000000 + 0.5) / 1000000 AS mean
            FROM (SELECT unnest(range(len(v))) AS dim, unnest(v) AS val
                  FROM e)
            GROUP BY dim
        ), prods AS (
            SELECT i AS dim_i, j AS dim_j, v[i + 1] * v[j + 1] AS p
            FROM (SELECT v, unnest(range(len(v))) AS i FROM e),
                 LATERAL (SELECT unnest(range(i, len(v))) AS j)
        ), raw AS (
            SELECT dim_i, dim_j, avg(p) AS e_ij
            FROM prods GROUP BY dim_i, dim_j
        ), covut AS (
            SELECT r.dim_i, r.dim_j,
                   floor((r.e_ij - mi.mean * mj.mean) * 1000000 + 0.5)
                       / 1000000 AS cov
            FROM raw r
            JOIN means mi ON mi.dim = r.dim_i
            JOIN means mj ON mj.dim = r.dim_j
        ), cov AS (
            SELECT dim_i AS i, dim_j AS j, cov AS c FROM covut
            UNION ALL
            SELECT dim_j, dim_i, cov FROM covut WHERE dim_i < dim_j
        ), v0 AS (
            SELECT DISTINCT dim_i AS i, CAST({PCA_INIT} AS DOUBLE) AS x
            FROM covut
        )"""
    steps = []
    prev = "v0"
    for t in range(1, PCA_ITERS + 1):
        steps.append(f""",
        y{t} AS (
            SELECT cov.i AS i,
                   floor(sum(cov.c * {prev}.x) * 1000000 + 0.5) / 1000000
                       AS y
            FROM cov JOIN {prev} ON cov.j = {prev}.i GROUP BY cov.i
        ), v{t} AS (
            SELECT i, floor(y / sqrt(sum(y*y) OVER ()) * 1000000 + 0.5)
                          / 1000000 AS x
            FROM y{t}
        )""")
        prev = f"v{t}"
    return head + "".join(steps), prev


def _oracle_pca_power() -> str:
    chain, prev = _pca_cte_chain()
    return f"""
        WITH {chain},
        yf AS (
            SELECT cov.i AS i, sum(cov.c * {prev}.x) AS y
            FROM cov JOIN {prev} ON cov.j = {prev}.i GROUP BY cov.i
        ), lam AS (
            SELECT floor(sum(yf.y * v.x) / sum(v.x * v.x) * 1000000 + 0.5)
                       / 1000000 AS eigenvalue
            FROM yf JOIN {prev} v ON yf.i = v.i
        )
        SELECT v.i AS dim, v.x AS loading, lam.eigenvalue
        FROM {prev} v CROSS JOIN lam"""


def _oracle_pca_project() -> str:
    chain, prev = _pca_cte_chain()
    return f"""
        WITH {chain},
        cells AS (
            SELECT vec_id, unnest(range(len(v))) AS dim,
                   unnest(v::DOUBLE[]) AS val
            FROM (SELECT vec_id, embedding AS v FROM embeddings)
        ), agg AS (
            SELECT c.vec_id,
                   sum((c.val - m.mean) * pc.x) AS raw_score,
                   sum((c.val - m.mean) * (c.val - m.mean)) AS ss
            FROM cells c
            JOIN means m ON m.dim = c.dim
            JOIN {prev} pc ON pc.i = c.dim
            GROUP BY c.vec_id
        )
        SELECT vec_id,
               floor(raw_score * 1000000 + 0.5) / 1000000 AS pc1_score,
               floor(sqrt(greatest(ss - raw_score * raw_score, 0))
                     * 1000000 + 0.5) / 1000000 AS residual_norm
        FROM agg"""


ORACLE = {
    "sim_ann_pq_adc": _oracle_sim_ann_pq_adc(),
    "sim_ann_ivfpq": _oracle_sim_ann_ivfpq(),
    "sim_ann_ivfpq_recall": _oracle_sim_ann_ivfpq_recall(),
    "embedding_kmeans": _oracle_embedding_kmeans(),
    "embedding_kmeans_coverage": _oracle_embedding_kmeans_coverage(),
    "embedding_quantize": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        m AS (SELECT vec_id, v,
                     CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                          THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
                          ELSE 0.0 END AS scale
              FROM e)
        SELECT vec_id,
               floor(scale * 1000000 + 0.5) / 1000000 AS scale,
               array_to_string(
                   list_transform(v, x -> CAST(floor(x * scale + 0.5) AS INTEGER)),
                   ',') AS q8
        FROM m
    """,
    "sim_ann_recall": _oracle_sim_ann_recall(),
    "sim_ann_ivf_clustered_recall": _oracle_sim_ann_recall(corpus_sql=_clustered_corpus_sql()),
    "sim_ann_ivf_clustered_trained_recall": _oracle_sim_ann_recall(trained=True, corpus_sql=_clustered_corpus_sql()),
    "embedding_pca_power": _oracle_pca_power(),
    "embedding_pca_project": _oracle_pca_project(),
    "embedding_covariance": """
        WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
        means AS (
            SELECT dim, floor(avg(val) * 1000000 + 0.5) / 1000000 AS mean
            FROM (SELECT unnest(range(len(v))) AS dim, unnest(v) AS val
                  FROM e)
            GROUP BY dim
        ), prods AS (
            SELECT i AS dim_i, j AS dim_j, v[i + 1] * v[j + 1] AS p
            FROM (SELECT v, unnest(range(len(v))) AS i FROM e),
                 LATERAL (SELECT unnest(range(i, len(v))) AS j)
        ), raw AS (
            SELECT dim_i, dim_j, avg(p) AS e_ij
            FROM prods GROUP BY dim_i, dim_j
        )
        SELECT r.dim_i, r.dim_j,
               floor((r.e_ij - mi.mean * mj.mean) * 1000000 + 0.5)
                   / 1000000 AS cov
        FROM raw r
        JOIN means mi ON mi.dim = r.dim_i
        JOIN means mj ON mj.dim = r.dim_j
    """,
    "sim_topk": _oracle_sim_topk(),
    "sim_ann_lsh": _oracle_sim_ann_lsh(),
    "sim_ann_ivf": _oracle_sim_ann_ivf(),
    "sim_ann_ivf_trained": _oracle_sim_ann_ivf(trained=True),
    "sim_ann_ivf_trained_recall": _oracle_sim_ann_recall(trained=True),
    "sim_ann_ivf_filtered": _oracle_sim_ann_ivf_filtered(),
    "sim_ann_ivf_filtered_recall": _oracle_sim_ann_ivf_filtered_recall(),
    "embedding_centroids": f"""
        SELECT label, dim, {sql_round('avg(v)', 6)} AS centroid_val
        FROM (SELECT label,
                     unnest(range(len(embedding))) AS dim,
                     unnest(embedding::DOUBLE[]) AS v
              FROM embeddings)
        GROUP BY label, dim
    """,
}
