"""Operator/query library (SURVEY.md §2.B surface).

Each submodule exposes two parallel dicts:

- ``QUERIES``: name -> fn(spark, sf_dir) -> DataFrame   (the Spark impl)
- ``ORACLE``:  name -> ANSI SQL string for DuckDB        (the oracle)

Names registered here are exactly the names the driver sees through
``__spark_entry__.queries()`` / ``oracle_sql()``. A query with no
ORACLE entry gets the driver's weaker rows-only check (documented per
query).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_data_pipeline_spark.session import derived_session, reroot

QueryFn = Callable[[SparkSession, str], DataFrame]


def collect_registry() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Aggregate QUERIES/ORACLE from every operator module."""
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

    # Registry order is load-bearing: external verification harnesses
    # may check a prefix of the registry, so families whose queries do
    # not yet have a hard correctness record are listed FIRST and
    # families fully verified in earlier rounds come last. Within that
    # constraint the order is stable (dict insertion order).
    modules = [
        # -- families holding this round's hoisted entries --
        graph,  # NEW in r7: zero driver evidence yet -> checked first
        tpch,  # NEW in r5: zero driver evidence yet -> checked first
        subqueries, features, batch_analogs, reshape, curation, text_analysis,
        multimodal,
        # -- verified green in earlier rounds; cheap families first so
        #    the checked prefix stays fast --
        scalars, setops, windows, scans, aggregates, udfs,
        joins, asof, analytics,
        # -- verified green and most expensive at the gate; last --
        dedup, similarity,
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
    # Individual queries whose latest verification row is OLDEST get
    # hoisted to the very front regardless of family (the harness
    # checks only a ~50-entry prefix per round, so the hoist rotates
    # stale evidence back into the check window).
    # Since round 11 the cut is MACHINE-derived (round-10 VERDICT item
    # 4): `python tools/evidence_freshness.py --hoist 60 --write`
    # recomputes the rotation from the union of CORRECTNESS_r*.json —
    # queries with no driver evidence first (new registrations), then
    # stalest-green-round order — and writes it to hoist.json beside
    # this file; run it once per round after registering new queries.
    hoist = _load_hoist()
    ordered = {name: queries[name] for name in hoist if name in queries}
    ordered.update(queries)
    return {name: _pinned_utc(fn) for name, fn in ordered.items()}, oracle


def _load_hoist() -> list[str]:
    """The checked-in rotation cut (see collect_registry). The file is
    ``{"max_round": N, "names": [...]}`` — max_round records which
    correctness evidence the cut was derived from, so the freshness
    test can verify it against that view rather than records written
    after the cut. (A bare list is accepted for older checkouts.)"""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "hoist.json")
    if not os.path.exists(path):  # pre-r11 checkouts / partial installs
        return []
    with open(path) as f:
        data = json.load(f)
    return list(data["names"] if isinstance(data, dict) else data)


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
