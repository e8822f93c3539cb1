"""Operator/query library (SURVEY.md §2.B surface).

Each submodule exposes two parallel dicts:

- ``QUERIES``: name -> fn(spark, sf_dir) -> DataFrame   (the Spark impl)
- ``ORACLE``:  name -> ANSI SQL string for DuckDB        (the oracle)

Names registered here are exactly the names ``__spark_entry__.queries()``
/ ``oracle_sql()`` return. A query with no ORACLE entry is checked for
rows only (documented per query). Registry order is the module list in
:func:`collect_registry`, then each module's own dict order; nothing
depends on it beyond being stable.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_data_pipeline_spark.session import derived_session, reroot

QueryFn = Callable[[SparkSession, str], DataFrame]


def collect_registry() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Aggregate QUERIES/ORACLE from every operator module; a name
    registered twice is a ``ValueError``, as is an oracle without a
    query."""
    from etl_data_pipeline_spark.operators import (
        aggregates,
        analytics,
        asof,
        graph,
        joins,
        reshape,
        scalars,
        scans,
        setops,
        subqueries,
        tpch,
        udfs,
        windows,
    )
    from etl_data_pipeline_spark.streaming import batch_analogs
    from etl_data_pipeline_spark.llm import (
        curation,
        dedup,
        features,
        multimodal,
        similarity,
        text_analysis,
    )

    modules = [
        graph, tpch, subqueries, features, batch_analogs, reshape, curation,
        text_analysis, multimodal, scalars, setops, windows, scans,
        aggregates, udfs, joins, asof, analytics, dedup, similarity,
    ]
    queries: dict[str, QueryFn] = {}
    oracle: dict[str, str] = {}
    for m in modules:
        dup = set(queries) & set(m.QUERIES)
        if dup:
            raise ValueError(f"duplicate query names: {dup} in {m.__name__}")
        queries.update(m.QUERIES)
        oracle.update(getattr(m, "ORACLE", {}))
    unknown = set(oracle) - set(queries)
    if unknown:
        raise ValueError(f"oracle entries without queries: {unknown}")
    return {name: _pinned_utc(fn) for name, fn in queries.items()}, oracle


def _pinned_utc(fn: QueryFn) -> QueryFn:
    """Build ``fn``'s DataFrame under the UTC session time zone. The
    DuckDB oracles format naive timestamps as stored, so Spark's
    session-TZ-dependent expressions (date_format/to_date/date_trunc)
    only agree with them under UTC. A caller already on UTC (every
    ``get_spark`` session) gets ``fn`` itself. Any other caller's query
    is built on a UTC :func:`~etl_data_pipeline_spark.session.derived_session`
    and re-rooted into the caller's session: time-zone-aware
    expressions keep the zone they were analysed with, and the caller's
    session keeps its own. Both registry consumers (__spark_entry__
    and EtlEngine) inherit this."""
    import functools

    key = "spark.sql.session.timeZone"

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        if spark.conf.get(key) == "UTC":
            return fn(spark, sf_dir)
        return reroot(fn(derived_session(spark, {key: "UTC"}), sf_dir), spark)

    return wrapped
