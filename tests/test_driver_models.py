"""Schema-bounded derivations computed on the driver: the entropy
keying's digit-position boundaries (``dedup._entropy_keyed``) and PCA's
power iteration (``similarity._pca_power_iterate``). Each collects one
small relation — at most one row per digit position, the covariance
upper triangle — and hands Spark literals or a local frame."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_data_pipeline_spark.functions.caching import release_tracked
from etl_data_pipeline_spark.llm import dedup, similarity
from etl_data_pipeline_spark.session import TPCH_TABLES, load_table
from tests.test_pipeline import _jobs_of
from tools.check_correctness import norm_frame

ZERO_PADDED = [f"Customer#{i:09d}" for i in range(1, 301)]
ENTROPY_CORPORA = {
    "digit_free": ["Alice", "Bob", "Carol", "Dave", "Eve", "Mallory"] * 5,
    "one_digit": [f"Cust#{i % 10}" for i in range(40)],
    "two_digit": [f"Cust#{i:02d}" for i in range(100)],
    "three_digit": [f"Cust#{i:03d}" for i in range(0, 1000, 7)],
    "variable_length": [f"C{i}" for i in range(1, 400)],
    "constant": ["Customer#000000042"] * 30,
    "null_names": [None if i % 7 == 0 else n for i, n in enumerate(ZERO_PADDED)],
    "zero_padded": ZERO_PADDED,
}


def _customer_dir(tmp_path, corpus: str) -> str:
    names = ENTROPY_CORPORA[corpus]
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(range(1, len(names) + 1), pa.int64()),
                "c_name": pa.array(names, pa.string()),
            }
        ),
        str(tmp_path / "customer.parquet"),
    )
    return str(tmp_path)


def _duckdb_rows(sf_dir: str, sql: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM read_parquet('{sf_dir}/customer.parquet')"
    )
    try:
        return con.execute(sql).df()
    finally:
        con.close()


@pytest.mark.parametrize("corpus", sorted(ENTROPY_CORPORA))
def test_levenshtein_entropy_matches_oracle_on_edge_corpora(spark, tmp_path, corpus):
    """dedup_levenshtein_entropy equals its DuckDB oracle on key shapes
    the TPC-H tiers never produce: fewer than 3 digit positions (the
    boundaries clamp below 1), no digit at all (an empty position list),
    keys of varying length, one constant key and NULL names."""
    d = _customer_dir(tmp_path, corpus)
    got = dedup.dedup_levenshtein_entropy(spark, d).toPandas()
    want = _duckdb_rows(d, dedup._oracle_levenshtein_entropy())
    assert norm_frame(got) == norm_frame(want)


@pytest.mark.parametrize("corpus", sorted(ENTROPY_CORPORA))
def test_entropy_keying_matches_oracle_on_edge_corpora(spark, tmp_path, corpus):
    """The oracle's ``keyed`` CTE emits the same (record, seg, seg_val)
    multiset as _entropy_keyed, NULL keys included, so the two engines
    search the same candidate blocks. Equal best matches alone cannot
    show this: on short keys the blocks differ while the matches agree."""
    from collections import Counter

    d = _customer_dir(tmp_path, corpus)
    got = Counter(
        (r.c_custkey, r.seg, r.seg_val)
        for r in dedup._entropy_keyed(spark, d).select("c_custkey", "seg", "seg_val").collect()
    )
    want_df = _duckdb_rows(
        d, dedup._oracle_entropy_keyed() + " SELECT c_custkey, seg, seg_val FROM keyed"
    )
    want = Counter(
        (int(k), int(s), None if v is None or v != v else v)
        for k, s, v in want_df.itertuples(index=False)
    )
    assert got == want


@pytest.mark.parametrize(
    "disc, want",
    [
        ([], (1, 2, None)),  # no digit position: L is NULL
        ([7], (-1, 0, 1)),  # fewer than 3 positions clamp below 1
        ([3, 4], (0, 1, 2)),
        ([0, 0, 0], (1, 2, 3)),  # no mass anywhere
        ([0, 0, 0, 0, 0, 0, 5, 5, 5], (7, 8, 9)),  # constant prefix
    ],
)
def test_entropy_thirds_clamp_as_sql(disc, want):
    """_thirds returns the values Spark's NULL-skipping
    least(greatest(b1, 1), L - 2) / least(greatest(b2, b1c + 1), L - 1)
    give for the same running sums, pinned here value by value; the
    corpora above reach each clamp only through the keys it shapes."""
    assert dedup._thirds(disc) == want


def test_driver_derivation_build_jobs(spark, sf_dir):
    """Building the two queries runs only the jobs of the one collect
    that feeds each driver-side derivation: the per-position count
    aggregate for the entropy keying, the covariance for PCA. Every
    table is read once first, so no count holds a schema-inference job."""
    for t in TPCH_TABLES:
        load_table(spark, sf_dir, t)
    release_tracked(spark, blocking=True)
    _, entropy_jobs = _jobs_of(
        spark, lambda: dedup.dedup_levenshtein_entropy(spark, sf_dir)
    )
    _, pca_jobs = _jobs_of(spark, lambda: similarity.embedding_pca_power(spark, sf_dir))
    release_tracked(spark, blocking=True)
    assert entropy_jobs <= 6 and pca_jobs <= 11, (entropy_jobs, pca_jobs)
