"""Host context to record beside a set of benchmark runs.

Usage: python3 perfbench/context.py

Prints one JSON line: nproc, the 1-minute loadavg before and after, and
the wall seconds of an in-JVM control query (48M generated rows into a
1M-group hash aggregate, noop sink; the shape of ``bench.py``'s
``spark_control``), timed after one untimed run. Context only:
no benchmark number is normalised by it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import configure_env, nproc, program_present, stop_spark  # noqa: E402


def control_seconds(spark) -> float:
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 48_000_000, 1, 64)
        .select(
            (F.col("id") % 1_000_000).alias("k"),
            ((F.col("id") * 2654435761) % 1_000_003).alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> int:
    if not program_present():
        print("perfbench: etl_data_pipeline_spark not found", file=sys.stderr)
        return 2
    configure_env()
    from etl_data_pipeline_spark.session import get_spark

    load0 = os.getloadavg()[0]
    spark = get_spark("perfbench-context")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        control_seconds(spark)
        control = control_seconds(spark)
    finally:
        stop_spark(spark)
    print(json.dumps({"nproc": nproc(), "loadavg": [load0, os.getloadavg()[0]],
                      "control_s": control}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
