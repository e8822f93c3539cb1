"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at a given SF and
compares with its DuckDB oracle: row count, column names, and an
order-insensitive value comparison (sorted by all columns, values
normalized to strings). Exits non-zero when any query fails.

Dtype fidelity: both sides are materialized through pandas (Spark
``toPandas()``, DuckDB ``.df()``) — the same path the driver uses —
so DuckDB's HUGEINT->float64 conversion is visible here instead of
being masked. Numeric cells are tagged by kind (``i:``/``f:``): an
oracle that yields float64 123.0 against Spark's int64 123 FAILS,
exactly as the driver's exact hash does.

Usage: python tools/check_correctness.py [sf_dir] [--heavy] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# The heavy-set answer gate, run with ``--heavy`` against a scaled tier
# (tools/gen_scale_data.py): queries whose answers must hold at 10x-100x
# the driver tier, not only at it — whole-corpus passes, multi-shuffle
# dedup and ANN pipelines, iterative model training, and the queries
# whose global window was replaced by the distributed positional
# recipe. Every name is registered (pinned by a test).
HEAVY_SET = [
    "tpch_q9ish",
    "events_sessionize",
    "pipeline_corpus_curation_v3",
    "pipeline_corpus_curation_v2",
    "pipeline_corpus_curation",
    "dedup_substring_scrub",
    "text_contamination_fuzzy",
    "join_interval_overlap",
    "basket_affinity",
    "dedup_clusters",
    "dedup_canonical",
    "dedup_minhash_lsh",
    "sim_ann_pq_adc",
    "embedding_pca_project",
    "sim_ann_ivf_trained",
    "sim_ann_ivf_trained_recall",
    "pipeline_dedup_report",
    "sim_ann_ivf_clustered_recall",
    "sim_ann_ivf_clustered_trained_recall",
    "embedding_kmeans_coverage",
    "classifier_train_lr",
    "classifier_train_lr_eval",
    "events_rfm",
    "corpus_interleave",
    "export_shuffle",
    "pareto_frontier",
    "events_attribution",
    "dedup_semantic",
    "events_pattern_match",
    "timeseries_holt",
    "corpus_domain_cap",
    "corpus_domain_cap_decisions",
]


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):  # bool before int: bool is an int subclass
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NULL"  # pandas uses NaN for missing; fold to NULL like the driver
        # round-trip repr at 12 significant digits to absorb fp noise —
        # but keep the f: tag so 123.0 never equals int 123
        return f"f:{f:.12g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if v is pd.NaT:
        return "NULL"
    return str(v)


def norm_frame(df: pd.DataFrame):
    cols = sorted(df.columns)
    out = [
        tuple(norm_cell(row[c]) for c in cols)
        for row in df.to_dict("records")
    ]
    out.sort()
    return cols, out


def main() -> int:
    argv = sys.argv[1:]
    heavy = "--heavy" in argv
    if heavy:
        argv.remove("--heavy")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:]) | (set(HEAVY_SET) if heavy else set())

    import __spark_entry__ as entrymod
    from etl_data_pipeline_spark.session import get_spark

    spark = get_spark("correctness-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        # driver tiers ship single-file tables; Spark-written tiers
        # (tools/gen_scale_data.py) are part-file DIRECTORIES — glob those
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failed, passed, rows_only = [], [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            failed.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            rows_only.append(name)
            print(
                f"ROWS  {name}: {len(spdf)} rows (no oracle) [{time.time()-t0:.1f}s]"
            )
            continue
        try:
            dpdf = con.execute(oracles[name]).df()
        except Exception as e:
            failed.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name}: oracle error: {e}")
            continue
        sc, sr = norm_frame(spdf)
        dc, dr = norm_frame(dpdf)
        if sc != dc:
            failed.append((name, f"columns differ: spark={sc} duck={dc}"))
            print(f"FAIL  {name}: columns spark={sc} vs duck={dc}")
        elif len(sr) != len(dr):
            failed.append((name, f"rowcount spark={len(sr)} duck={len(dr)}"))
            print(f"FAIL  {name}: rowcount spark={len(sr)} duck={len(dr)}")
        elif sr != dr:
            diff = next(i for i, (a, b) in enumerate(zip(sr, dr)) if a != b)
            failed.append(
                (name, f"values differ at sorted row {diff}: {sr[diff]} vs {dr[diff]}")
            )
            print(
                f"FAIL  {name}: first diff row {diff}:\n  spark={sr[diff]}\n  duck ={dr[diff]}"
            )
        else:
            passed.append(name)
            print(f"PASS  {name}: {len(sr)} rows [{time.time()-t0:.1f}s]")

    print(
        f"\n== {len(passed)} passed, {len(rows_only)} rows-only, {len(failed)} failed =="
    )
    for name, why in failed:
        print(f"  FAILED {name}: {why[:300]}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
