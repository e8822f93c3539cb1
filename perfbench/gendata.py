"""Generate the benchmark's base tables at a TPC-H-like scale factor.

Usage: python3 perfbench/gendata.py <out_dir> <sf>

Every row derives from xxhash64 of its key (the column recipes of
``tools/gen_scale_data.py``), so one ``sf`` always yields the same
tables. The tables are written to a sibling temp directory and renamed
into place, so a reader never sees a half-written tier. Row counts
follow the read-only harness tiers: sf0.01 gives 15,000 orders,
~60,000 lineitems and 10,000 events; documents and embeddings stay at
500 rows below sf0.1, as in those tiers.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import configure_env, stop_spark  # noqa: E402

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def counts(sf: float) -> dict[str, int]:
    m = sf / 0.1  # base counts are the sf0.1 tier's
    return {
        "customer": round(15_000 * m),
        "supplier": round(1_000 * m),
        "part": round(20_000 * m),
        "orders": round(150_000 * m),
        "events": round(100_000 * m),
        "users": round(1_500 * m),
        "documents": 5_000 if sf >= 0.1 else 500,
        "embeddings": 2_000 if sf >= 0.1 else 500,
    }


def write_dims(out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        ),
        os.path.join(out, "region.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        os.path.join(out, "nation.parquet"),
    )


def main() -> None:
    out, sf = sys.argv[1], float(sys.argv[2])
    configure_env()
    from tools import gen_scale_data as g

    from etl_data_pipeline_spark.session import get_spark

    n = counts(sf)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    spark = get_spark("perfbench-gendata")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        write_dims(tmp)
        frames = {
            "customer": g.gen_customer(spark, n["customer"]),
            "supplier": g.gen_supplier(spark, n["supplier"]),
            "part": g.gen_part(spark, n["part"]),
            "orders": g.gen_orders(spark, n["orders"], n["customer"]),
            "events": g.gen_events(spark, n["events"], n["users"]),
            "documents": g.gen_documents(spark, n["documents"]),
            "embeddings": g.gen_embeddings(spark, n["embeddings"]),
        }
        frames["lineitem"] = g.gen_lineitem(
            spark, frames["orders"], n["part"], n["supplier"]
        )
        for name, df in frames.items():
            # one file per table, like the harness tiers
            df.coalesce(1).write.parquet(os.path.join(tmp, f"{name}.parquet"))
    finally:
        stop_spark(spark)
    try:
        os.rename(tmp, out)
    except OSError:
        # a concurrent generator won the rename; its tier is identical
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
