"""Round-11 additions: machine-derived hoist rotation (round-10 VERDICT
item 4) and related registry-ordering invariants."""

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import evidence_freshness  # noqa: E402

from etl_data_pipeline_spark.operators import (  # noqa: E402
    _load_hoist,
    collect_registry,
)


def test_rotation_order_new_first_then_stalest():
    """The contract the round rotation relies on: queries with no
    driver evidence (new registrations) sort first, then red rows,
    then green rows stalest-round-first, registry order within tiers."""
    names = ["a", "b", "c", "d", "e", "f"]
    evidence = {
        "b": (9, True),   # green r9
        "c": (6, True),   # green r6 (stalest green)
        "d": (10, False),  # latest row red
        "f": (6, True),   # green r6, after c in registry order
    }
    order = evidence_freshness.rotation_order(names, evidence)
    assert order == ["a", "e", "d", "c", "f", "b"]


def test_rotation_order_empty_evidence_is_registry_order():
    names = ["x", "y", "z"]
    assert evidence_freshness.rotation_order(names, {}) == names


def test_registry_prefix_follows_hoist_file():
    """collect_registry() must order its prefix exactly as the
    checked-in hoist.json cut (names absent from the registry are
    skipped, never crash)."""
    hoist = _load_hoist()
    assert hoist, "hoist.json missing or empty — run evidence_freshness --write"
    queries, _oracle = collect_registry()
    expected_prefix = [n for n in hoist if n in queries]
    assert list(queries)[: len(expected_prefix)] == expected_prefix


def test_hoist_file_is_current_cut():
    """Regenerating the cut from the SAME evidence view it was derived
    from (CORRECTNESS_r*.json up to its recorded max_round) must
    reproduce the checked-in hoist.json — catches a round that
    registered new queries but forgot to rerun
    `evidence_freshness --hoist 60 --write`. Evidence files newer than
    the cut (the driver writes one after every round) don't invalidate
    it; a new REGISTRATION does, because it would sort first."""
    path = os.path.join(
        REPO, "etl_data_pipeline_spark", "operators", "hoist.json"
    )
    with open(path) as f:
        committed = json.load(f)
    names = evidence_freshness.registry_names()
    evidence = evidence_freshness.load_evidence(
        REPO, max_round=committed["max_round"]
    )
    fresh = evidence_freshness.rotation_order(
        names, evidence, committed.get("touched")
    )
    assert committed["names"] == fresh[: len(committed["names"])]


def test_with_global_position_matches_row_number(spark):
    """The shared zipWithIndex recipe (functions/ranking.py) produces
    positions bit-identical to a global row_number() window on any
    total order — the contract export_shuffle / corpus_interleave /
    events_rfm rely on to swap the single-partition window out."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from etl_data_pipeline_spark.functions.ranking import with_global_position

    df = spark.range(997).select(
        F.col("id"),
        (F.col("id") * 2654435761 % 1000).alias("k"),  # heavy ties
    )
    order = [F.desc("k"), F.asc("id")]
    got = {
        (r.id, r.k): r.pos
        for r in with_global_position(df, order).collect()
    }
    want = {
        (r.id, r.k): r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    assert got == want


def test_ntile_from_position_matches_spark_ntile(spark):
    """ntile_from_position reproduces F.ntile exactly for every
    (n_total, n_buckets) shape, including n_total < n_buckets and the
    uneven-bucket boundary rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from etl_data_pipeline_spark.functions.ranking import ntile_from_position

    for n_total in (1, 3, 4, 5, 100, 103):
        df = spark.range(n_total)
        for k in (2, 4, 7):
            want = [
                r.nt
                for r in df.withColumn(
                    "nt", F.ntile(k).over(Window.orderBy("id"))
                ).orderBy("id").collect()
            ]
            got = [
                r.nt
                for r in df.withColumn(
                    "nt", ntile_from_position(F.col("id") + 1, n_total, k)
                ).orderBy("id").collect()
            ]
            assert got == want, (n_total, k)


def test_pglive_sink_option_routing(monkeypatch):
    """The sink reads one routing option: every legacy key
    ('distributed' either way, 'driver_side', 'staged') appends
    through the one staged publish, and only 'atomic' replaces."""
    from tests.test_pg_live import publish_tail

    for opts in (
        {},
        {"distributed": True},
        {"distributed": False},
        {"driver_side": True},
        {"staged": True},
    ):
        tail = publish_tail(monkeypatch, opts)
        assert tail[0].startswith("INSERT INTO t ("), (opts, tail)
        assert tail[1].startswith("DROP TABLE t__w"), (opts, tail)
    tail = publish_tail(monkeypatch, {"atomic": True, "driver_side": True})
    assert tail[-3] == "DROP TABLE t" and tail[-2].endswith(" RENAME TO t"), tail


def test_rotation_order_touched_tier():
    """Queries changed this round outrank the staleness order (the
    driver must re-prove them) but never outrank never-evidenced new
    registrations."""
    names = ["new1", "old_r6", "old_r9", "touched_r10"]
    evidence = {"old_r6": (6, True), "old_r9": (9, True), "touched_r10": (10, True)}
    order = evidence_freshness.rotation_order(
        names, evidence, touched=["touched_r10", "new1"]
    )
    assert order == ["new1", "touched_r10", "old_r6", "old_r9"]
