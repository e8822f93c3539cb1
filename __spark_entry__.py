"""Driver contract for the spark-graft builder (PySpark target).

A verifier runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row count + schema +
order-insensitive values; ``tools/check_correctness.py`` is the
local run of that check).

Implementation lives in the ``etl_data_pipeline_spark`` package; this
module only aggregates the per-operator registries
(etl_data_pipeline_spark/operators/__init__.py:collect_registry).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_data_pipeline_spark.operators import collect_registry

_QUERIES, _ORACLE = collect_registry()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    SURVEY.md §7.1 minimum slice: incremental watermark scan over
    orders -> broadcast join customer -> groupBy c_mktsegment agg.
    """
    return _QUERIES["pipeline_incremental"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Every callable builds its DataFrame under the UTC session time
    zone (operators/__init__.py:_pinned_utc): on the caller's session
    when it is already UTC, otherwise on a UTC session derived from it,
    with the result re-rooted into the caller's. Oracle agreement does
    not depend on the harness container's TZ, and the caller's session
    conf is never changed."""
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted entries get
    the driver's weaker rows-only check)."""
    return dict(_ORACLE)
