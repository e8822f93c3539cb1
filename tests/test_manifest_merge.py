"""merge_upsert: row-level MERGE on manifest tables with footer-stats
directory pruning (sinks/manifest.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_data_pipeline_spark.sinks import manifest as M


def _rows(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.concat(F.lit(tag), F.col("id").cast("string")).alias("v"),
    )


def _table(spark, tmp_path, name="t"):
    """Three appended delta dirs with DISJOINT key ranges: [0,100),
    [100,200), [200,300)."""
    td = str(tmp_path / name)
    M.commit(_rows(spark, 0, 100), td, mode="overwrite")
    M.commit(_rows(spark, 100, 200), td, mode="append")
    M.commit(_rows(spark, 200, 300), td, mode="append")
    return td


def _content(spark, td, version=None):
    return {
        (r.k, r.v) for r in M.read_table(spark, td, version=version).collect()
    }


def test_merge_updates_inserts_preserves(spark, tmp_path):
    td = _table(spark, tmp_path)
    batch = spark.createDataFrame(
        [(150, "UPDATED"), (999, "NEW")], "k long, v string"
    )
    m = M.merge_upsert(spark, td, batch, ("k",))
    assert m["version"] == 4
    got = _content(spark, td)
    assert (150, "UPDATED") in got and (999, "NEW") in got
    assert (150, "a150") not in got
    assert (0, "a0") in got and (299, "a299") in got  # untouched rows
    assert len(got) == 301  # 300 original + 1 insert
    # time travel still shows the pre-merge row
    assert (150, "a150") in _content(spark, td, version=3)


def test_merge_prunes_disjoint_dirs(spark, tmp_path):
    """A batch whose keys hit only the middle range must leave the
    first and third delta dirs in the manifest UNTOUCHED (same rel
    paths) — the footer-stats pruning contract."""
    td = _table(spark, tmp_path)
    before = M.read_manifest(td)["dirs"]
    batch = spark.createDataFrame([(120, "X"), (180, "Y")], "k long, v string")
    m = M.merge_upsert(spark, td, batch, ("k",))
    assert before[0] in m["dirs"], "dir [0,100) wrongly rewritten"
    assert before[2] in m["dirs"], "dir [200,300) wrongly rewritten"
    assert before[1] not in m["dirs"], "matched dir must be rewritten"
    assert len(m["dirs"]) == 3  # two kept + one new
    got = _content(spark, td)
    assert (120, "X") in got and (180, "Y") in got and len(got) == 300


def test_merge_rowcount_audit(spark, tmp_path):
    td = _table(spark, tmp_path)
    batch = spark.createDataFrame([(150, "U"), (500, "N")], "k long, v string")
    m = M.merge_upsert(spark, td, batch, ("k",))
    assert m["total_rows"] == 301


def test_merge_duplicate_batch_keys_fail(spark, tmp_path):
    td = _table(spark, tmp_path)
    batch = spark.createDataFrame([(1, "x"), (1, "y")], "k long, v string")
    with pytest.raises(ValueError, match="duplicate keys"):
        M.merge_upsert(spark, td, batch, ("k",))


def test_merge_schema_drift_fails(spark, tmp_path):
    td = _table(spark, tmp_path)
    batch = spark.createDataFrame([(1, "x", 2.0)], "k long, v string, extra double")
    with pytest.raises(ValueError, match="drifts the schema"):
        M.merge_upsert(spark, td, batch, ("k",))


def test_merge_empty_batch_is_noop(spark, tmp_path):
    td = _table(spark, tmp_path)
    v = M.read_manifest(td)["version"]
    batch = spark.createDataFrame([], "k long, v string")
    m = M.merge_upsert(spark, td, batch, ("k",))
    assert m["version"] == v  # no version burned


def test_merge_on_fresh_table_is_initial_commit(spark, tmp_path):
    td = str(tmp_path / "fresh")
    batch = spark.createDataFrame([(1, "a")], "k long, v string")
    m = M.merge_upsert(spark, td, batch, ("k",))
    assert m["version"] == 1
    assert _content(spark, td) == {(1, "a")}


def test_merge_replay_is_idempotent_and_txn_fenced(spark, tmp_path):
    td = _table(spark, tmp_path)
    batch = spark.createDataFrame([(10, "U")], "k long, v string")
    m1 = M.merge_upsert(spark, td, batch, ("k",), txn=("app", 1))
    state1 = _content(spark, td)
    # fenced replay: same txn version -> NO new version, same state
    m2 = M.merge_upsert(spark, td, batch, ("k",), txn=("app", 1))
    assert m2["version"] == m1["version"]
    # unfenced replay: burns a version but reproduces the same table
    m3 = M.merge_upsert(spark, td, batch, ("k",))
    assert m3["version"] == m1["version"] + 1
    assert _content(spark, td) == state1


def test_merge_breaks_change_feed_like_overwrite(spark, tmp_path):
    td = _table(spark, tmp_path)
    batch = spark.createDataFrame([(10, "U")], "k long, v string")
    M.merge_upsert(spark, td, batch, ("k",))
    with pytest.raises(ValueError, match="overwrite/merge"):
        M.read_changes(spark, td, 1)


def test_merge_preserves_partition_layout(spark, tmp_path):
    td = str(tmp_path / "pt")
    df = spark.createDataFrame(
        [(i, f"r{i % 3}", f"v{i}") for i in range(30)],
        "k long, part string, v string",
    )
    M.commit(df, td, mode="overwrite", partition_by=("part",))
    batch = spark.createDataFrame([(5, "r2", "UPD")], "k long, part string, v string")
    m = M.merge_upsert(spark, td, batch, ("k",))
    assert m["partition_by"] == ["part"]
    new_dir = os.path.join(td, m["dirs"][-1])
    assert any(d.startswith("part=") for d in os.listdir(new_dir))
    got = {(r.k, r.part, r.v) for r in M.read_table(spark, td).collect()}
    assert (5, "r2", "UPD") in got and len(got) == 30


def test_dir_key_range_reads_footers(spark, tmp_path):
    td = _table(spark, tmp_path)
    dirs = M.read_manifest(td)["dirs"]
    lo, hi = M._dir_key_range(td, dirs[0], "k")
    assert (lo, hi) == (0, 99)
    assert M._dir_key_range(td, dirs[1], "k") == (100, 199)
    assert M._dir_key_range(td, dirs[0], "no_such_col") is None


def test_pipeline_upsert_mode_cdc(spark, tmp_path):
    """TableSpec with sink_format='manifest', mode='upsert': a CDC
    source whose later batches carry NEW VERSIONS of existing keys is
    applied as row-level MERGE — the content-fence append would
    duplicate those keys. In-batch multi-change keys compact to the
    newest change by the watermark column first."""
    from pyspark.sql import functions as F

    from etl_data_pipeline_spark.pipeline import IncrementalPipeline
    from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
    from etl_data_pipeline_spark.watermark import WatermarkStore

    src = tmp_path / "cdc"
    src.mkdir()
    sink = str(tmp_path / "state")
    # batch 1: inserts for keys 1..5 (change ids 1..5)
    spark.createDataFrame(
        [(i, i, f"v1_{i}") for i in range(1, 6)],
        "change_id long, k long, val string",
    ).write.mode("append").parquet(str(src / "cdc_users.parquet"))

    spec = PipelineSpec(tables=[TableSpec(
        name="cdc_users",
        watermark_column="change_id",
        watermark_type="id",
        source_format="parquet",
        source_options={"dir": str(src)},
        sink_format="manifest",
        sink_options={"path": sink, "mode": "upsert"},
        merge_keys=("k",),
    )])
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)

    assert [r.status for r in pipe.run()] == ["loaded"]
    assert store.get("cdc_users") == "5"
    got = {(r.k, r.val) for r in M.read_table(spark, sink).collect()}
    assert got == {(i, f"v1_{i}") for i in range(1, 6)}

    # batch 2: TWO changes for k=2 (ids 6 then 8 — newest must win)
    # and one new key 9 (id 7)
    spark.createDataFrame(
        [(6, 2, "stale"), (7, 9, "v1_9"), (8, 2, "v2_2")],
        "change_id long, k long, val string",
    ).write.mode("append").parquet(str(src / "cdc_users.parquet"))
    assert [r.status for r in pipe.run()] == ["loaded"]
    assert store.get("cdc_users") == "8"
    got = {(r.k, r.val) for r in M.read_table(spark, sink).collect()}
    assert (2, "v2_2") in got and (2, "stale") not in got
    assert (9, "v1_9") in got
    assert len(got) == 6  # keys 1..5 + 9, each exactly once

    # nothing new -> empty gate, no version burned
    v = M.read_manifest(sink)["version"]
    assert [r.status for r in pipe.run()] == ["skipped_empty"]
    assert M.read_manifest(sink)["version"] == v


def test_concurrent_merges_and_appends_no_lost_updates(spark, tmp_path):
    """8 writer threads — 4 merging disjoint key ranges, 4 appending
    fresh ranges — race on one table. The writer lease serializes
    commits, so every update and every append must land (no lost
    update from a stale read-modify-write), versions strictly
    monotone, and the final table equal to the model."""
    from concurrent.futures import ThreadPoolExecutor

    td = str(tmp_path / "race")
    M.commit(_rows(spark, 0, 400, "base"), td, mode="overwrite")

    def do_merge(i):
        lo = i * 100
        batch = spark.createDataFrame(
            [(k, f"m{i}") for k in range(lo + 10, lo + 20)], "k long, v string"
        )
        M.merge_upsert(spark, td, batch, ("k",))

    def do_append(i):
        lo = 1000 + i * 100
        M.commit(_rows(spark, lo, lo + 5, f"ap{i}"), td, mode="append")

    with ThreadPoolExecutor(8) as pool:
        futs = [pool.submit(do_merge, i) for i in range(4)]
        futs += [pool.submit(do_append, i) for i in range(4)]
        for f in futs:
            f.result()

    got = dict(_content(spark, td))
    # every merged key carries its merge tag (no lost update)
    for i in range(4):
        for k in range(i * 100 + 10, i * 100 + 20):
            assert got[k] == f"m{i}", (k, got[k])
    # untouched base rows intact
    assert got[0] == "base0" and got[399] == "base399"
    # every append landed
    for i in range(4):
        for k in range(1000 + i * 100, 1000 + i * 100 + 5):
            assert got[k] == f"ap{i}{k}"
    assert len(got) == 400 + 20
    # versions: 1 initial + 8 racing commits, strictly sequential
    assert M.read_manifest(td)["version"] == 9
    assert [h["version"] for h in M.history(td)] == list(range(1, 10))


def test_merge_null_keys_fail_clearly(spark, tmp_path):
    """NULL merge keys can never match a row to replace (SQL null
    semantics), and count_distinct would skip them — so they fail with
    a targeted message, not the misleading duplicate-keys one."""
    td = _table(spark, tmp_path)
    batch = spark.createDataFrame([(None, "x"), (1, "y")], "k long, v string")
    with pytest.raises(ValueError, match="NULL in merge keys"):
        M.merge_upsert(spark, td, batch, ("k",))


def test_pipeline_upsert_without_merge_keys_fails_loudly(spark, tmp_path):
    """mode='upsert' with no merge_keys must raise (as a failed table),
    never silently degrade to an append that would duplicate keys."""
    from etl_data_pipeline_spark.pipeline import IncrementalPipeline
    from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
    from etl_data_pipeline_spark.watermark import WatermarkStore

    src = tmp_path / "s"
    src.mkdir()
    spark.createDataFrame([(1, 1, "a")], "change_id long, k long, v string") \
        .write.parquet(str(src / "t.parquet"))
    spec = PipelineSpec(tables=[TableSpec(
        name="t",
        watermark_column="change_id",
        watermark_type="id",
        source_format="parquet",
        source_options={"dir": str(src)},
        sink_format="manifest",
        sink_options={"path": str(tmp_path / "tbl"), "mode": "upsert"},
        # merge_keys omitted — the misconfiguration
    )])
    res = IncrementalPipeline(
        spark, spec, WatermarkStore(tmp_path / "wm.json")
    ).run()
    assert res[0].status == "failed"
    assert "upsert" in res[0].error and "merge_keys" in res[0].error


def test_merge_first_write_enforces_key_contract(spark, tmp_path):
    """The FIRST write through merge_upsert validates keys too — a
    fresh table must not be born with duplicate or NULL keys that
    poison every later merge."""
    td = str(tmp_path / "fresh2")
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "k long, v string")
    with pytest.raises(ValueError, match="duplicate keys"):
        M.merge_upsert(spark, td, dup, ("k",))
    nul = spark.createDataFrame([(None, "a")], "k long, v string")
    with pytest.raises(ValueError, match="NULL in merge keys"):
        M.merge_upsert(spark, td, nul, ("k",))
    assert M.read_manifest(td) is None  # nothing committed


def test_merge_first_write_partition_by(spark, tmp_path):
    """partition_by reaches the table's first commit through
    merge_upsert (and through the pipeline sink options)."""
    td = str(tmp_path / "pfirst")
    batch = spark.createDataFrame(
        [(1, "r0", "a"), (2, "r1", "b")], "k long, part string, v string"
    )
    m = M.merge_upsert(spark, td, batch, ("k",), partition_by=("part",))
    assert m["partition_by"] == ["part"]
    new_dir = os.path.join(td, m["dirs"][-1])
    assert any(d.startswith("part=") for d in os.listdir(new_dir))
    # a later merge must not silently change the layout
    with pytest.raises(ValueError, match="changes partition_by"):
        M.merge_upsert(spark, td, batch, ("k",), partition_by=("v",))


def test_dir_key_range_cache_hits(spark, tmp_path):
    """Second range lookup reads the sidecar cache, not the footers —
    and the cached value equals the computed one."""
    td = _table(spark, tmp_path)
    d0 = M.read_manifest(td)["dirs"][0]
    first = M._dir_key_range_cached(td, d0, "k")
    assert first == (0, 99)
    cache = os.path.join(td, "_stats")
    assert os.path.isdir(cache) and len(os.listdir(cache)) == 1
    # rewrite the cache entry to a sentinel: the next call must be
    # cache-served (sentinel comes back), proving footers aren't re-read
    entry = os.path.join(cache, os.listdir(cache)[0])
    with open(entry, "w") as f:
        f.write("[7, 8]")
    assert M._dir_key_range_cached(td, d0, "k") == (7, 8)


def test_vacuum_drops_stats_of_deleted_dirs(spark, tmp_path):
    """Stats sidecars are keyed by immutable dirs; when vacuum deletes
    a dir, its cache entries go too (fresh entries for live dirs
    stay)."""
    td = _table(spark, tmp_path)
    dirs = M.read_manifest(td)["dirs"]
    for d in dirs:
        M._dir_key_range_cached(td, d, "k")
    assert len(os.listdir(os.path.join(td, "_stats"))) == 3
    # merge touching the middle range rewrites it; old versions expire
    batch = spark.createDataFrame([(150, "U")], "k long, v string")
    M.merge_upsert(spark, td, batch, ("k",))
    M.vacuum(td, keep_last=1)
    left = os.listdir(os.path.join(td, "_stats"))
    # dirs[1] (the rewritten [100,200) range) was deleted by vacuum ->
    # its sidecar is gone; the two still-referenced dirs keep theirs
    gone_prefix = dirs[1].replace(os.sep, "__") + "."
    assert not any(s.startswith(gone_prefix) for s in left)
    assert any(s.startswith(dirs[0].replace(os.sep, "__") + ".") for s in left)


def test_merge_prunes_on_date_keys(spark, tmp_path):
    """Temporal merge keys get footer-stats pruning too (r9 review):
    the sidecar previously refused to serialize date/datetime ranges,
    silently re-reading every footer per merge — and tz-aware footer
    stats vs Spark's naive aggregates made timestamp keys never prune
    at all. Dates now prune exactly like ints, through the cache."""
    import datetime as dt

    td = str(tmp_path / "dt")
    d0 = dt.date(2026, 1, 1)

    def day_rows(lo, hi, tag):
        return spark.createDataFrame(
            [(d0 + dt.timedelta(days=i), f"{tag}{i}") for i in range(lo, hi)],
            "day date, v string",
        )

    M.commit(day_rows(0, 10, "a"), td, mode="overwrite")
    M.commit(day_rows(10, 20, "a"), td, mode="append")
    M.commit(day_rows(20, 30, "a"), td, mode="append")
    dirs_before = M.read_manifest(td)["dirs"]
    batch = spark.createDataFrame(
        [(d0 + dt.timedelta(days=25), "UPD")], "day date, v string"
    )
    m = M.merge_upsert(spark, td, batch, ("day",))
    # only the [20,30) dir is rewritten; the first two survive as-is
    assert dirs_before[0] in m["dirs"] and dirs_before[1] in m["dirs"]
    assert dirs_before[2] not in m["dirs"]
    got = {(r.day, r.v) for r in M.read_table(spark, td).collect()}
    assert (d0 + dt.timedelta(days=25), "UPD") in got and len(got) == 30
    # and the range round-trips through the JSON sidecar
    rng = M._dir_key_range_cached(td, dirs_before[0], "day")
    assert rng == (d0, d0 + dt.timedelta(days=9))
    rng2 = M._dir_key_range_cached(td, dirs_before[0], "day")  # cache hit
    assert rng2 == rng


def test_malformed_stats_sidecar_is_a_cache_miss(spark, tmp_path):
    """A foreign/corrupt _stats sidecar must never crash merges or
    pruned reads — wrong-shape JSON is treated as a miss and
    recomputed (r9 review)."""
    td = _table(spark, tmp_path)
    dirs = M.read_manifest(td)["dirs"]
    sdir = os.path.join(td, "_stats")
    os.makedirs(sdir, exist_ok=True)
    name = dirs[0].replace(os.sep, "__") + ".k.json"
    for bad in ("5", "[5]", '{"x": 1}', "not json at all"):
        with open(os.path.join(sdir, name), "w") as f:
            f.write(bad)
        assert M._dir_key_range_cached(td, dirs[0], "k") == (0, 99)
    batch = spark.createDataFrame([(250, "UPD")], "k long, v string")
    m = M.merge_upsert(spark, td, batch, ("k",))
    assert dirs[0] in m["dirs"]  # pruned, not crashed


def test_empty_merge_batch_with_txn_records_mark(spark, tmp_path):
    """An empty batch carrying a txn must still advance the fence
    (commit() already does): otherwise a later out-of-order replay of
    that batch id WITH data is not fenced (r9 review)."""
    td = _table(spark, tmp_path)
    empty = spark.createDataFrame([], "k long, v string")
    m = M.merge_upsert(spark, td, empty, ("k",), txn=("app", 7))
    assert m["txn"]["app"] == 7
    state = _content(spark, td)
    assert len(state) == 300  # no rows changed
    # the replay of 7 (with data!) is fenced out
    late = spark.createDataFrame([(0, "LATE")], "k long, v string")
    m2 = M.merge_upsert(spark, td, late, ("k",), txn=("app", 7))
    assert m2["version"] == m["version"] and _content(spark, td) == state
    # without txn, an empty batch still burns no version
    m3 = M.merge_upsert(spark, td, empty, ("k",))
    assert m3["version"] == m["version"]


def test_merge_prunes_on_timestamp_keys_via_instants(spark, tmp_path):
    """Timestamp merge keys prune via integer epoch-microsecond
    instants on BOTH sides (footer stats are UTC instants; the batch
    side uses unix_micros) — wall-clock renderings would mis-prune
    under a non-UTC session timezone, and aware-vs-naive comparison
    previously disabled pruning entirely.

    Requires TIMESTAMP_MICROS output: Spark's default INT96 encoding
    writes NO footer statistics at all (stats absent ⇒ every dir kept
    ⇒ correct but unpruned — the safe degradation the docstring
    promises)."""
    import datetime as dt

    td = str(tmp_path / "ts")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def hour_rows(lo, hi, tag):
        return spark.createDataFrame(
            [(t0 + dt.timedelta(hours=i), f"{tag}{i}") for i in range(lo, hi)],
            "ts timestamp, v string",
        )

    conf = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "TIMESTAMP_MICROS")
    try:
        M.commit(hour_rows(0, 10, "a"), td, mode="overwrite")
        M.commit(hour_rows(10, 20, "a"), td, mode="append")
        M.commit(hour_rows(20, 30, "a"), td, mode="append")
    finally:
        spark.conf.set(conf, prev)
    dirs_before = M.read_manifest(td)["dirs"]
    # the cached footer range is the INTEGER instant pair
    rng = M._dir_key_range_cached(td, dirs_before[0], "ts")
    assert all(isinstance(v, int) for v in rng)
    batch = spark.createDataFrame(
        [(t0 + dt.timedelta(hours=25), "UPD")], "ts timestamp, v string"
    )
    m = M.merge_upsert(spark, td, batch, ("ts",))
    assert dirs_before[0] in m["dirs"] and dirs_before[1] in m["dirs"]
    assert dirs_before[2] not in m["dirs"]
    got = {(r.ts, r.v) for r in M.read_table(spark, td).collect()}
    assert (t0 + dt.timedelta(hours=25), "UPD") in got and len(got) == 30
