"""merge_upsert: row-level MERGE on manifest tables with directory
pruning by the key ranges each manifest records (sinks/manifest.py)."""

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


def test_merge_prunes_disjoint_dirs(spark, tmp_path, monkeypatch):
    """A batch whose keys hit only the middle range must leave the
    first and third delta dirs in the manifest UNTOUCHED (same rel
    paths). Pruning and the dropped-row count come from the manifest's
    recorded ranges and row counts, so the only parquet footers the
    merge opens are the new dir's."""
    import pyarrow.parquet as pq

    td = _table(spark, tmp_path)
    before = M.read_manifest(td)["dirs"]
    opened = []
    real = pq.ParquetFile
    monkeypatch.setattr(
        pq, "ParquetFile", lambda path, *a, **k: opened.append(path) or real(path, *a, **k)
    )
    batch = spark.createDataFrame([(120, "X"), (180, "Y")], "k long, v string")
    m = M.merge_upsert(spark, td, batch, ("k",))
    assert before[0] in m["dirs"], "dir [0,100) wrongly rewritten"
    assert before[2] in m["dirs"], "dir [200,300) wrongly rewritten"
    assert before[1] not in m["dirs"], "matched dir must be rewritten"
    assert len(m["dirs"]) == 3  # two kept + one new
    new_dir = os.path.join(td, m["dirs"][-1])
    assert opened and all(p.startswith(new_dir + os.sep) for p in opened), opened
    assert m["dir_rows"] == dict.fromkeys(m["dirs"], 100)
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
    """Each published dir's column min/max come from its parquet
    footers and are recorded in the manifest that publishes it."""
    td = _table(spark, tmp_path)
    m = M.read_manifest(td)
    dirs = m["dirs"]
    assert m["ranges"][dirs[0]] == {"k": [0, 99], "v": ["a0", "a99"]}
    assert M._recorded_range(m, dirs[1], "k") == (100, 199)
    assert M._recorded_range(m, dirs[0], "no_such_col") is None


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


def test_merge_prunes_on_date_keys(spark, tmp_path):
    """Date merge keys prune exactly like ints: the manifest records
    a date range as ISO strings and decodes it by the column's
    recorded type."""
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
    # the kept dir's range is carried over as recorded
    assert m["ranges"][dirs_before[0]]["day"] == ["2026-01-01", "2026-01-10"]
    rng = M._recorded_range(m, dirs_before[0], "day")
    assert rng == (d0, d0 + dt.timedelta(days=9))


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
    # the recorded footer range is the INTEGER instant pair
    rng = M.read_manifest(td)["ranges"][dirs_before[0]]["ts"]
    assert all(isinstance(v, int) for v in rng)
    batch = spark.createDataFrame(
        [(t0 + dt.timedelta(hours=25), "UPD")], "ts timestamp, v string"
    )
    m = M.merge_upsert(spark, td, batch, ("ts",))
    assert dirs_before[0] in m["dirs"] and dirs_before[1] in m["dirs"]
    assert dirs_before[2] not in m["dirs"]
    got = {(r.ts, r.v) for r in M.read_table(spark, td).collect()}
    assert (t0 + dt.timedelta(hours=25), "UPD") in got and len(got) == 30


@pytest.mark.parametrize(
    "typ", ["string", "decimal(10,2)", "decimal(30,2)", "timestamp_ntz"]
)
def test_merge_prunes_on_key_type(spark, tmp_path, typ):
    """String, decimal (int- and fixed-width-backed) and timestamp_ntz
    merge keys prune like ints: a batch inside the middle dir's range
    rewrites only that dir, and the merged table is exact."""
    import datetime as dt
    from decimal import Decimal

    to_key = {
        "string": lambda i: f"k{i:04d}",
        "decimal(10,2)": lambda i: Decimal(i) / 4,
        "decimal(30,2)": lambda i: Decimal(i) / 4,
        "timestamp_ntz": lambda i: dt.datetime(2026, 1, 1) + dt.timedelta(minutes=i),
    }[typ]
    td = str(tmp_path / "t")
    for lo in (0, 100, 200):
        rows = [(to_key(i), f"a{i}") for i in range(lo, lo + 100)]
        M.commit(spark.createDataFrame(rows, f"k {typ}, v string"), td,
                 mode="append" if lo else "overwrite")
    before = M.read_manifest(td)["dirs"]
    batch = spark.createDataFrame([(to_key(150), "UPD")], f"k {typ}, v string")
    m = M.merge_upsert(spark, td, batch, ("k",))
    assert before[0] in m["dirs"] and before[2] in m["dirs"]
    assert before[1] not in m["dirs"]
    got = {(r.k, r.v) for r in M.read_table(spark, td).collect()}
    assert (to_key(150), "UPD") in got and (to_key(150), "a150") not in got
    assert len(got) == 300


def test_ranges_leave_out_what_cannot_prune_safely(spark, tmp_path):
    """Only plain comparable columns get a recorded range: a NaN or
    infinite float, a string end past the length bound, binary,
    nested, INT96 timestamp (no footer stats) and hive-partition
    columns are left out, and a filter on them reads every dir."""
    import datetime as dt

    td = str(tmp_path / "t")
    conf = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "INT96")
    try:
        m = M.commit(spark.createDataFrame(
            [(1, float("nan"), 1.0, "x" * (M._MAX_STAT_CHARS + 1), "ab", b"q",
              (1, "a"), True, dt.datetime(2026, 1, 1), "p1"),
             (2, 2.0, float("inf"), "y", "cd", b"r", (2, "b"), False,
              dt.datetime(2026, 1, 2), "p2")],
            "k long, dn double, di double, longs string, s string, bi binary, "
            "st struct<x:int,y:string>, b boolean, ts timestamp, p string",
        ), td, partition_by=("p",))
    finally:
        spark.conf.set(conf, prev)
    assert m["ranges"] == {
        m["dirs"][0]: {"k": [1, 2], "s": ["ab", "cd"], "b": [False, True]}
    }
    assert M.read_table(spark, td, where={"dn": (3.0, None)}).count() == 1  # NaN
    assert M.read_table(spark, td, where={"k": (5, None)}).inputFiles() == []


def test_manifest_without_ranges_reads_merges_and_vacuums(spark, tmp_path, monkeypatch):
    """A table whose manifests carry no ``ranges`` and ``dir_rows``, or
    no ``dir_rows`` only (as written before each was recorded), still
    reads, merges and vacuums. Reads keep its unranged dirs; the first
    merge walks the old footers once, prunes by them and records both,
    so the next merge opens no footer but its new dir's."""
    import json

    walked = []
    real = M._footer_stats
    monkeypatch.setattr(
        M, "_footer_stats", lambda d, s: walked.append((d, bool(s))) or real(d, s)
    )
    for unrecorded in (("ranges", "dir_rows"), ("dir_rows",)):
        td = _table(spark, tmp_path, name="_".join(unrecorded))
        mdir = os.path.join(td, "_manifests")
        for path in [os.path.join(td, "MANIFEST.json")] + [
            os.path.join(mdir, f) for f in os.listdir(mdir)
        ]:
            with open(path) as f:
                old = json.load(f)
            for key in unrecorded:
                del old[key]
            with open(path, "w") as f:
                json.dump(old, f)
        before = M.read_manifest(td)["dirs"]
        pruned = set(M.read_table(spark, td, where={"k": 5}).inputFiles())
        everything = set(M.read_table(spark, td).inputFiles())
        assert (pruned == everything) == ("ranges" in unrecorded), unrecorded
        batch = spark.createDataFrame([(150, "UPD")], "k long, v string")
        m = M.merge_upsert(spark, td, batch, ("k",))
        assert m["dirs"][:2] == [before[0], before[2]]  # only the middle dir rewritten
        assert list(m["ranges"]) == list(m["dir_rows"]) == m["dirs"]
        assert [m["ranges"][d]["k"] for d in m["dirs"]] == [[0, 99], [200, 299], [100, 199]]
        walked.clear()
        batch = spark.createDataFrame([(250, "UPD")], "k long, v string")
        m = M.merge_upsert(spark, td, batch, ("k",))
        assert before[0] in m["dirs"] and before[2] not in m["dirs"]
        assert walked == [(os.path.join(td, m["dirs"][-1]), True)]
        got = _content(spark, td)
        assert {(150, "UPD"), (250, "UPD")} <= got and len(got) == 300
        assert M.vacuum(td, keep_last=1) == [1, 2, 3, 4]
        assert _content(spark, td) == got


def test_ranges_follow_their_dirs_through_compact_and_vacuum(spark, tmp_path):
    """Every manifest records ranges and row counts for exactly its own
    dirs: a merge carries the kept dirs' entries over unchanged,
    compaction records the folded dir's, and vacuum leaves the head's
    entries naming only dirs still on disk, with no stats store beside
    the table."""
    td = _table(spark, tmp_path)
    m = M.read_manifest(td)
    assert list(m["ranges"]) == m["dirs"]
    batch = spark.createDataFrame([(150, "UPD")], "k long, v string")
    m2 = M.merge_upsert(spark, td, batch, ("k",))
    assert list(m2["ranges"]) == m2["dirs"]
    for d in (m["dirs"][0], m["dirs"][2]):
        assert m2["ranges"][d] == m["ranges"][d]
    assert m2["ranges"][m2["dirs"][-1]]["k"] == [100, 199]
    c = M.compact(spark, td)
    assert list(c["ranges"]) == c["dirs"] and c["ranges"][c["dirs"][0]]["k"] == [0, 299]
    M.vacuum(td, keep_last=1)
    head = M.read_manifest(td)
    assert head["ranges"] == c["ranges"]
    assert head["dir_rows"] == {c["dirs"][0]: 300}
    assert all(os.path.isdir(os.path.join(td, d)) for d in head["ranges"])
    assert sorted(os.listdir(td)) == [
        "MANIFEST.json", "MANIFEST.json.lease", "_manifests", "_versions"
    ]


@pytest.mark.parametrize("merge_keys", [None, ("k",)])
def test_pipeline_manifest_append_rejects_static_txn(spark, tmp_path, merge_keys):
    """A static ``txn`` in a manifest-append table's sink_options would
    commit the first batch and fence out every later one while each
    run reports ``loaded``: the table fails before any data work, and
    the sink and the watermark are untouched."""
    from etl_data_pipeline_spark.pipeline import IncrementalPipeline
    from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
    from etl_data_pipeline_spark.watermark import WatermarkStore

    src = tmp_path / "s"
    src.mkdir()
    spark.createDataFrame([(1, 1, "a")], "change_id long, k long, v string") \
        .write.parquet(str(src / "t.parquet"))
    sink = str(tmp_path / "tbl")
    M.commit(spark.createDataFrame([(0, 0, "z")], "change_id long, k long, v string"), sink)
    before = M.read_manifest(sink)
    spec = PipelineSpec(tables=[TableSpec(
        name="t",
        watermark_column="change_id",
        watermark_type="id",
        source_format="parquet",
        source_options={"dir": str(src)},
        sink_format="manifest",
        sink_options={"path": sink, "txn": ("app", 1)},
        merge_keys=merge_keys,
    )])
    store = WatermarkStore(tmp_path / "wm.json")
    res = IncrementalPipeline(spark, spec, store).run()
    assert res[0].status == "failed" and "'txn'" in res[0].error
    assert M.read_manifest(sink) == before
    assert store.get("t") is None
