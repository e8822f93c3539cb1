"""Benchmark harness: headline queries at the tier
``session.DEFAULT_SF_DIR`` names ($SPARK_GRAFT_SF_DIR) on
local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "bench_total_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1, "runs": 3,
   "loadavg": [start_1m, end_1m], "control_sec": [start, end]}

Each query is forced end-to-end with the noop sink (full distributed
execution, zero driver materialization). An untimed warm-up pass
absorbs session startup, codegen JIT and parquet footer caching; then
REPS timed passes run and each query reports its MEDIAN, which a
transient load spike landing on one pass cannot move. Persisted
intermediates and checkpoint blocks are released between runs, so no
query's next rep is served from its previous one. The 1-minute
loadavg at start and end and the in-JVM control query's time before
and after the timed passes are recorded beside the timings, so a run
on a contended host can be recognised after the fact.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_data_pipeline_spark.functions.caching import release_tracked
from etl_data_pipeline_spark.session import DEFAULT_SF_DIR, get_spark, load_table

# The headline set: 52 distinct registered queries (pinned by a test).
# It covers the shapes that dominate real pipelines at scale —
# scan+join+agg stars, windows and top-k, exact/LSH/pairwise dedup,
# similarity and ANN recall, text quality, event analytics, iterative
# jobs (PageRank, LR training, PCA) and curation pipelines — and it
# includes the registry's most expensive queries, so the total carries
# the worst tail instead of hiding it.
BENCH_QUERIES = [
    "agg_groupby",
    "join_multiway",
    "tpch_q3ish",
    "tpch_q5ish",
    "window_rank",
    "topk_per_group",
    "dedup_exact",
    "stream_tumbling",
    "text_quality",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "sim_topk",
    "sim_ann_ivf",
    "join_asof",
    "join_skew_salted",
    "join_range_binned",
    "dedup_clusters",
    "embedding_kmeans",
    "text_chunks",
    "text_tfidf",
    "events_resample_ffill",
    "events_funnel",
    "pipeline_corpus_curation",
    "pipeline_incremental",
    "text_contamination",
    "text_pii_scrub",
    "corpus_pack_sequences",
    "multimodal_decode_header",
    "pipeline_corpus_curation_v2",
    "subq_in_heavy_orders",
    "agg_promo_share",
    "udaf_grouped",
    "dedup_embedding_cosine",
    "dedup_canonical",
    "recsys_negative_samples",
    "tpch_q9ish",
    "tpch_q21ish",
    "dedup_substring_scrub",
    "sim_ann_recall",
    "multimodal_sniff_dispatch",
    "graph_pagerank",
    "join_bloom_pruned",
    "embedding_pca_project",
    "text_contamination_fuzzy",
    "basket_affinity",
    "dedup_minhash_estimate",
    "sim_ann_ivf_filtered",
    "sim_ann_ivf_trained",
    "sim_ann_ivf_clustered_recall",
    "classifier_train_lr",
    "sim_ann_ivf_clustered_trained_recall",
    "embedding_kmeans_coverage",
]

# timed passes per query; each query reports the median
REPS = 3


def spark_control(spark) -> float:
    """Time ONE fixed in-JVM shuffle+agg (noop sink) — the bench's
    machine-speed control, sized to the host: 1.5M generated rows per
    core (defaultParallelism) → 1M-group hash aggregate, in 2 map
    tasks per core. Each map task holds 750k rows, fewer than the 1M
    groups, so partial aggregation cannot collapse the exchange and
    every row genuinely crosses the shuffle — a memory-bandwidth-class
    load (on local[32]: 48M rows in 64 tasks). Deterministic (range +
    modular arithmetic), reads nothing, and is NOT part of the timed
    query set: it runs OUTSIDE the timed region, so a comparison of
    two runs on the same host shape can see host contention that
    loadavg cannot."""
    from pyspark.sql import functions as F

    cores = spark.sparkContext.defaultParallelism
    df = (
        spark.range(0, 1_500_000 * cores, 1, 2 * cores)
        .select(
            (F.col("id") % 1_000_000).alias("k"),
            ((F.col("id") * 2654435761) % 1_000_003).alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def main() -> None:
    sf_dir = DEFAULT_SF_DIR
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    load_start = os.getloadavg()[0]

    # warmup pass (untimed): JVM JIT + codegen + parquet footer caches
    load_table(spark, sf_dir, "region").count()
    for name in BENCH_QUERIES:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # the warm-up's persisted intermediates and localCheckpoint blocks
    # are dead lineage now; release_tracked frees the blocks, which
    # clearCache cannot see, so their cleanup never lands on a timed
    # query
    release_tracked(spark)
    spark.catalog.clearCache()

    # In-JVM control (see spark_control): one untimed run to absorb its
    # own codegen JIT, then the timed start-bracket sample.
    spark_control(spark)
    control_start = spark_control(spark)

    samples: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    for _ in range(REPS):
        for name in BENCH_QUERIES:
            fn = qs[name]
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(time.time() - t0)
            # outside the timer: the next rep recomputes from the source
            release_tracked(spark)
            spark.catalog.clearCache()

    timings = {
        name: round(sorted(ts)[len(ts) // 2], 3) for name, ts in samples.items()
    }
    control_end = spark_control(spark)  # end bracket, JIT already warm
    print(
        json.dumps(
            {
                "metric": "bench_total_sec",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "runs": REPS,
                "loadavg": [round(load_start, 2), round(os.getloadavg()[0], 2)],
                # in-JVM control brackets [start, end] in seconds
                "control_sec": [control_start, control_end],
            }
        )
    )


if __name__ == "__main__":
    main()
