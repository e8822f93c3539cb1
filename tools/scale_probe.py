"""One-decade scale probe (round-5 VERDICT "Next round" #6): run the
heaviest registry queries at a 1x and a 10x tier generated by the SAME
generator (tools/gen_scale_data.py) and report each query's measured
scaling factor and exponent — turning the "no all-pairs join anywhere"
shape arguments into data.

The exponent is log10(t_10x / t_1x): 1.0 = perfectly linear in rows,
<1 = sublinear (fixed overheads still amortizing at this size), >1 =
superlinear (a candidate-pair blowup or an O(n log n) sort tail —
worth a plan look if well above 1).

Usage: python tools/scale_probe.py [dir_1x] [dir_10x] [--reps N]
       # defaults: .scaledata/sf01x .scaledata/sf1 2
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the registry's measured heavy tail (floors.json) + the r5/r6 plan-
# audit set: fuzzy dedup end to end, curation chains, star joins,
# span dedup, negative sampling
PROBE_QUERIES = [
    "dedup_exact_docs",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_canonical",
    "dedup_embedding_cosine",
    "pipeline_corpus_curation",
    "pipeline_corpus_curation_v2",
    "recsys_negative_samples",
    "text_duplicate_spans",
    "tpch_q9ish",
    "tpch_q21ish",
    "events_sessionize",
    # round-7 late additions: the iterative exhibits + runtime filter
    "graph_pagerank",
    "graph_bfs_levels",
    "join_bloom_pruned",
    # round-7 final additions: wedge join, cluster-pairwise, bigram LM,
    # hashed-feature importance weights
    "graph_triangle_count",
    "dedup_semantic",
    "text_bigram_logprob",
    "corpus_dsir_weights",
    "pipeline_corpus_curation_v3",
    # second continuation: CMS shuffle cap, as-of interpolation kernel,
    # PQ encode+ADC scan (fixed codebook)
    "sketch_cms_topk_bounds",
    "asof_interpolate",
    "sim_ann_pq_adc",
    # third continuation: corpus-independent power iteration, one-pass
    # projection, broadcast-containment decontamination, bin-refine
    # interval join, basket pair expansion, global-sort interleave,
    # 2-state recurrence fold
    "embedding_pca_power",
    "embedding_pca_project",
    "text_contamination_fuzzy",
    "join_interval_overlap",
    "basket_affinity",
    "corpus_interleave",
    "timeseries_holt",
    # round-10 additions: the clustered recall fixture + the LR
    # trainer family (measured 0.58 / 0.37 / 0.53 at registration)
    "sim_ann_ivf_clustered_recall",
    "classifier_train_lr",
    "classifier_score_corpus",
    # round-11 plan swaps: the three-sort ntile rewrite (corpus_
    # interleave was already listed above)
    "events_rfm",
    "export_shuffle",
    # round-12 registrations: the domain-cap pair (whole-corpus pass +
    # doc-grain gate; measured flat sf1->sf10 at registration)
    "corpus_domain_cap",
    "corpus_domain_cap_decisions",
]


def main() -> None:
    argv = [a for a in sys.argv[1:]]
    reps = 2
    if "--reps" in argv:
        i = argv.index("--reps")
        reps = int(argv[i + 1])
        del argv[i : i + 2]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    d1 = argv[0] if argv else os.path.join(root, ".scaledata", "sf01x")
    d10 = argv[1] if len(argv) > 1 else os.path.join(root, ".scaledata", "sf1")

    import __spark_entry__ as em
    from bench import wait_for_quiet_host
    from etl_data_pipeline_spark.functions.caching import release_tracked
    from etl_data_pipeline_spark.session import get_spark

    # same quiet-window discipline as bench.py: exponents computed
    # from a hot 1x and a quiet 10x (or vice versa) are fiction
    waited, hot = wait_for_quiet_host()
    if waited or hot:
        print(f"(waited {waited}s for quiet host; hot_host={hot})")

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = em.queries()

    def run(name: str, d: str, warm: bool) -> float:
        """Median of ``reps`` timed executions; one discarded warmup
        execution only when ``warm`` (codegen/JIT is per-PLAN, so the
        1x warmup also warms the 10x run — re-warming at 10x would
        double the most expensive measurements for nothing)."""
        ts = []
        for r in range(reps + (1 if warm else 0)):
            t0 = time.time()
            qs[name](spark, d).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            # checkpoint blocks too: clearCache cannot free them
            release_tracked(spark)
            spark.catalog.clearCache()
            if r or not warm:
                ts.append(dt)
        return sorted(ts)[len(ts) // 2]

    print(f"loadavg at start: {os.getloadavg()[0]:.1f}")
    print("| query | t(1x) s | t(10x) s | factor | exponent |")
    print("|---|---|---|---|---|")
    worst: list[tuple[float, str]] = []
    for name in PROBE_QUERIES:
        t1 = run(name, d1, warm=True)
        t10 = run(name, d10, warm=False)
        factor = t10 / t1
        exp = math.log10(factor) if factor > 0 else float("nan")
        worst.append((exp, name))
        print(f"| {name} | {t1:.2f} | {t10:.2f} | {factor:.1f}x | {exp:.2f} |")
    worst.sort(reverse=True)
    over = [(e, n) for e, n in worst if e > 1.15]
    print(
        f"\n== probe done: {len(over)} quer{'y' if len(over)==1 else 'ies'} "
        f"over exponent 1.15"
        + (f": {[(n, round(e,2)) for e, n in over]}" if over else "")
        + f"; loadavg now {os.getloadavg()[0]:.1f} =="
    )


if __name__ == "__main__":
    main()
