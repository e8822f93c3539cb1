"""Manifest-pointer table contract tests: single-rename commits,
gap-free readers under concurrent writes, serialized committers with a
total fencing order, time travel, orphan recovery, vacuum."""

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from etl_data_pipeline_spark.sinks.manifest import (
    commit,
    merge_upsert,
    read_manifest,
    read_table,
    vacuum,
)


def _frame(spark, n, tag):
    return spark.range(n).select(F.col("id").alias("k"), F.lit(tag).alias("v"))


def test_commit_read_roundtrip_and_versioning(spark, tmp_path):
    t = str(tmp_path / "t")
    m1 = commit(_frame(spark, 10, "a"), t)
    assert (m1["version"], m1["dirs"]) == (1, [os.path.join("_versions", "v00000001")])
    assert m1["schema"] == {"k": "bigint", "v": "string"}
    m2 = commit(_frame(spark, 20, "b"), t)
    assert m2["version"] == 2 and m2["fence"] > m1["fence"]
    assert read_manifest(t) == m2
    out = read_table(spark, t)
    assert out.count() == 20 and out.select("v").distinct().first().v == "b"


def test_append_is_copy_on_write_union(spark, tmp_path):
    t = str(tmp_path / "t")
    commit(_frame(spark, 5, "a"), t)
    commit(_frame(spark, 3, "b"), t, mode="append")
    counts = {
        r.v: r.n
        for r in read_table(spark, t).groupBy("v").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"a": 5, "b": 3}
    # the appended-to version is untouched (immutable directories)
    assert read_table(spark, t, version=1).count() == 5


def test_time_travel_and_version_bounds(spark, tmp_path):
    t = str(tmp_path / "t")
    for i, n in enumerate((4, 8, 12), start=1):
        commit(_frame(spark, n, f"v{i}"), t)
    assert read_table(spark, t, version=2).count() == 8
    assert read_table(spark, t).count() == 12
    with pytest.raises(ValueError, match=r"not in \[1, 3\]"):
        read_table(spark, t, version=4)
    with pytest.raises(FileNotFoundError):
        read_table(spark, str(tmp_path / "never_committed"))


def test_readers_never_see_a_gap_or_a_mix(spark, tmp_path):
    """The staged-swap sinks' one weakness was the missing-path window;
    the manifest table must have NONE: hammer reads while a writer
    commits distinct-size datasets, and require every single read to
    succeed and observe one of the committed sizes exactly."""
    t = str(tmp_path / "t")
    sizes = [100, 200, 300, 400]
    commit(_frame(spark, sizes[0], "w"), t)
    stop = threading.Event()
    bad: list = []

    def reader():
        while not stop.is_set():
            try:
                n = read_table(spark, t).count()
                if n not in sizes:
                    bad.append(n)
            except Exception as e:
                bad.append(repr(e))

    threads = [threading.Thread(target=reader) for _ in range(2)]
    for th in threads:
        th.start()
    try:
        for n in sizes[1:]:
            commit(_frame(spark, n, "w"), t)
    finally:
        stop.set()
        for th in threads:
            th.join()
    assert bad == []
    assert read_table(spark, t).count() == sizes[-1]


def test_concurrent_committers_serialize_with_total_fence_order(spark, tmp_path):
    t = str(tmp_path / "t")
    per_writer = 3
    results: dict[str, list] = {"A": [], "B": []}
    errors: list = []

    def writer(tag):
        try:
            for _ in range(per_writer):
                results[tag].append(commit(_frame(spark, 10, tag), t))
        except Exception as e:
            errors.append((tag, e))

    threads = [threading.Thread(target=writer, args=(tag,)) for tag in "AB"]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    manifests = results["A"] + results["B"]
    versions = sorted(m["version"] for m in manifests)
    assert versions == list(range(1, 2 * per_writer + 1))  # no lost commit
    fences = [m["fence"] for m in sorted(manifests, key=lambda m: m["version"])]
    assert fences == sorted(fences)  # fencing order == version order
    assert read_manifest(t)["version"] == 2 * per_writer
    # every version directory is a complete, readable dataset
    for v in versions:
        assert read_table(spark, t, version=v).count() == 10


def test_orphan_of_a_crashed_commit_is_reclaimed(spark, tmp_path):
    """A commit that died after writing its data dir but before the
    manifest rename leaves an orphan; the manifest is unchanged (the
    crash UNhappened, transactionally) and the next commit reuses the
    slot cleanly."""
    t = str(tmp_path / "t")
    commit(_frame(spark, 5, "a"), t)
    orphan = os.path.join(t, "_versions", "v00000002")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "w") as f:
        f.write("not parquet")
    assert read_manifest(t)["version"] == 1  # crash left no commit
    assert read_table(spark, t).count() == 5
    m2 = commit(_frame(spark, 7, "b"), t)
    assert m2["version"] == 2
    assert read_table(spark, t).count() == 7


def test_vacuum_keeps_newest_and_rejects_vacuumed_reads(spark, tmp_path):
    t = str(tmp_path / "t")
    for n in (1, 2, 3, 4):
        commit(_frame(spark, n, "w"), t)
    removed = vacuum(t, keep_last=2)
    assert removed == [1, 2]
    assert read_table(spark, t).count() == 4
    assert read_table(spark, t, version=3).count() == 3
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        read_table(spark, t, version=1)
    with pytest.raises(ValueError, match="keep_last"):
        vacuum(t, keep_last=0)


def test_manifest_file_is_the_only_mutable_object(spark, tmp_path):
    """Commit twice; v1's directory contents (file list + bytes) must
    be bit-identical before and after the second commit."""
    t = str(tmp_path / "t")
    commit(_frame(spark, 6, "a"), t)
    vdir = os.path.join(t, "_versions", "v00000001")

    def snapshot():
        out = {}
        for root, _dirs, files in os.walk(vdir):
            for fn in files:
                p = os.path.join(root, fn)
                with open(p, "rb") as f:
                    out[os.path.relpath(p, vdir)] = f.read()
        return out

    before = snapshot()
    commit(_frame(spark, 9, "b"), t, mode="append")
    assert snapshot() == before
    with open(os.path.join(t, "MANIFEST.json")) as f:
        assert json.load(f)["version"] == 2


def test_compact_folds_small_files_as_a_new_version(spark, tmp_path):
    from etl_data_pipeline_spark.sinks.manifest import compact

    t = str(tmp_path / "t")
    commit(_frame(spark, 1000, "a").repartition(12), t)
    vdir = os.path.join(t, "_versions", "v00000001")
    n_before = len([f for f in os.listdir(vdir) if f.endswith(".parquet")])
    assert n_before == 12
    m = compact(spark, t)  # 1000 tiny rows -> far below target -> 1 file
    assert m["version"] == 2
    assert len(m["dirs"]) == 1  # the whole dir list folded to one
    new_dir = os.path.join(t, m["dirs"][0])
    n_after = len([f for f in os.listdir(new_dir) if f.endswith(".parquet")])
    assert n_after == 1
    out = read_table(spark, t)
    assert out.count() == 1000 and out.select("v").distinct().first().v == "a"
    # pre-compaction version still time-travels
    assert read_table(spark, t, version=1).count() == 1000


def test_manifest_sink_registered_in_registry(spark, tmp_path):
    from etl_data_pipeline_spark.sinks import write_sink

    write_sink(_frame(spark, 4, "a"), "manifest", "t", {"dir": str(tmp_path)})
    write_sink(_frame(spark, 2, "b"), "manifest", "t", {"dir": str(tmp_path)})
    t = os.path.join(str(tmp_path), "t")
    out = read_table(spark, t)
    assert out.count() == 6  # append semantics, like every registry sink
    assert read_manifest(t)["version"] == 2


def test_vacuum_reclaims_above_current_orphans(spark, tmp_path):
    """A crashed commit's data dir (numbered above the current
    manifest version) must be reclaimed by vacuum, not leak until the
    next commit happens to reuse the slot."""
    t = str(tmp_path / "t")
    for n in (1, 2, 3):
        commit(_frame(spark, n, "w"), t)
    orphan = os.path.join(t, "_versions", "v00000009")
    os.makedirs(orphan)
    removed = vacuum(t, keep_last=3)
    assert removed == []  # nothing committed was old enough
    assert not os.path.exists(orphan)
    assert read_table(spark, t).count() == 3


def test_append_schema_evolution_opt_in(spark, tmp_path):
    """Default append must REJECT a drifted schema (typo'd producers
    fail loudly); merge_schema=True evolves the table, null-filling
    the missing side in a full-rewrite version."""
    t = str(tmp_path / "t")
    commit(_frame(spark, 3, "a"), t)
    widened = _frame(spark, 2, "b").withColumn("extra", F.lit(1))
    with pytest.raises(Exception):
        commit(widened, t, mode="append")
    assert read_manifest(t)["version"] == 1  # failed append committed nothing
    m = commit(widened, t, mode="append", merge_schema=True)
    assert m["version"] == 2
    out = read_table(spark, t)
    assert set(out.columns) == {"k", "v", "extra"}
    assert out.filter("extra IS NULL").count() == 3  # old rows null-filled
    assert out.filter("extra = 1").count() == 2


# -- round 5: source round-trip, replay fences, evolution negatives --


def test_manifest_source_registered_with_time_travel(spark, tmp_path):
    """read_source('manifest') closes the r4 write-only asymmetry: a
    manifest table written through the sink registry reads back through
    the source registry, including pinned-version time travel."""
    from etl_data_pipeline_spark.sources import read_source

    t = str(tmp_path / "t")
    commit(_frame(spark, 5, "a"), t)
    commit(_frame(spark, 9, "b"), t)
    cur = read_source(spark, "manifest", "t", {"dir": str(tmp_path)})
    assert cur.count() == 9
    pinned = read_source(spark, "manifest", "t", {"dir": str(tmp_path), "version": 1})
    assert pinned.count() == 5 and pinned.select("v").distinct().first().v == "a"
    with pytest.raises(ValueError, match="not in"):
        read_source(spark, "manifest", "t", {"dir": str(tmp_path), "version": 3})


def test_merge_keys_append_is_replay_idempotent(spark, tmp_path):
    """Content fence: replaying an already-landed batch neither
    duplicates rows NOR burns a version; a partially-new batch appends
    only the unseen keys."""
    t = str(tmp_path / "t")
    commit(_frame(spark, 5, "a"), t)
    m = commit(_frame(spark, 5, "a"), t, mode="append", merge_keys=("k",))
    assert m["version"] == 1  # full replay: no new version at all
    assert read_table(spark, t).count() == 5
    # keys 0-7: 0-4 already present, 5-7 are new
    m2 = commit(_frame(spark, 8, "b"), t, mode="append", merge_keys=("k",))
    assert m2["version"] == 2
    out = read_table(spark, t)
    assert out.count() == 8
    assert out.filter("v = 'b'").count() == 3  # only the unseen keys landed


@pytest.mark.parametrize("partition_by", [None, ("v",)])
def test_full_replay_publishes_nothing(spark, tmp_path, partition_by):
    """The content fence decides from the delta it wrote: a full
    replay returns the current manifest and leaves no directory for
    the version it did not publish."""
    t = str(tmp_path / "t")
    m1 = commit(_frame(spark, 5, "a"), t, partition_by=partition_by)
    m = commit(_frame(spark, 5, "a"), t, mode="append", merge_keys=("k",))
    assert m == m1 == read_manifest(t)
    assert not os.path.exists(os.path.join(t, "_versions", "v00000002"))
    assert read_table(spark, t).count() == 5


def test_empty_delta_with_txn_still_commits_the_mark(spark, tmp_path):
    """An empty content-fenced delta under a txn still publishes a
    version: it records the mark, so the batch is never replayed."""
    t = str(tmp_path / "t")
    commit(_frame(spark, 5, "a"), t)
    m = commit(
        _frame(spark, 5, "a"), t, mode="append", merge_keys=("k",),
        txn=("app", 0),
    )
    assert (m["version"], m["txn"], m["delta_rows"]) == (2, {"app": 0}, 0)
    assert read_manifest(t) == m
    assert read_table(spark, t).count() == 5


def test_txn_fence_is_exactly_once(spark, tmp_path):
    """Transaction fence: a (app_id, version) at-or-below the recorded
    high-water mark is skipped entirely; marks survive later commits
    (including other apps') because the manifest carries them forward."""
    t = str(tmp_path / "t")
    m1 = commit(_frame(spark, 3, "b0"), t, mode="append", txn=("appA", 0))
    assert m1["txn"] == {"appA": 0}
    # replay of batch 0 -> skipped, same manifest back
    m1r = commit(_frame(spark, 3, "b0"), t, mode="append", txn=("appA", 0))
    assert m1r == m1 and read_table(spark, t).count() == 3
    # next batch commits; an unrelated app keeps its own sequence
    m2 = commit(_frame(spark, 2, "b1"), t, mode="append", txn=("appA", 1))
    m3 = commit(_frame(spark, 4, "x0"), t, mode="append", txn=("appB", 0))
    assert m3["txn"] == {"appA": 1, "appB": 0}
    # stale replay of appA batch 1 after appB moved the table forward
    m3r = commit(_frame(spark, 2, "b1"), t, mode="append", txn=("appA", 1))
    assert m3r == m3
    assert read_table(spark, t).count() == 3 + 2 + 4
    # txn marks survive compaction (overwrite carries them forward)
    from etl_data_pipeline_spark.sinks.manifest import compact

    mc = compact(spark, t)
    assert mc["txn"] == {"appA": 1, "appB": 0}


def test_vacuum_skips_nonversion_debris(spark, tmp_path):
    """Operator debris in _versions (v1.bak, editor backups) must be
    skipped, not ValueError-crash retention enforcement forever; the
    temps of crashed pointer and snapshot writes are swept."""
    t = str(tmp_path / "t")
    for n in (1, 2, 3, 4):
        commit(_frame(spark, n, "w"), t)
    vdir = os.path.join(t, "_versions")
    os.makedirs(os.path.join(vdir, "v00000001.bak"))
    with open(os.path.join(vdir, "vnotes.txt"), "w") as f:
        f.write("debris")
    temps = [
        os.path.join(t, "tmpa1b2.manifest.tmp"),
        os.path.join(t, "_manifests", "tmpc3d4.manifest.tmp"),
    ]
    for p in temps:
        with open(p, "w") as f:
            f.write("{")
    removed = vacuum(t, keep_last=2)
    assert removed == [1, 2]
    assert os.path.isdir(os.path.join(vdir, "v00000001.bak"))  # untouched
    assert not any(os.path.exists(p) for p in temps)
    assert read_table(spark, t).count() == 4


def test_corrupt_lease_sidecar_fails_with_named_remedy(spark, tmp_path):
    """A hand-touched .lease file must raise an error naming the file
    and the remedy, not an opaque int() ValueError under the flock."""
    t = str(tmp_path / "t")
    commit(_frame(spark, 2, "a"), t)
    lease = os.path.join(t, "MANIFEST.json.lease")
    with open(lease, "w") as f:
        f.write("garbage\n")
    with pytest.raises(RuntimeError, match="lease sidecar.*corrupt"):
        commit(_frame(spark, 2, "b"), t, mode="append")
    os.unlink(lease)  # the documented remedy
    m = commit(_frame(spark, 2, "b"), t, mode="append")
    assert m["version"] == 2 and read_table(spark, t).count() == 4


def test_schema_evolution_type_conflict_fails_loudly(spark, tmp_path):
    """merge_schema evolves by ADDING columns; an incompatible type
    change on the SAME column (int -> string) must fail the commit and
    leave the manifest untouched — silent cast-widening hides producer
    bugs."""
    t = str(tmp_path / "t")
    commit(spark.range(3).select(F.col("id").alias("k"), F.lit(7).alias("m")), t)
    drifted = spark.range(2).select(
        F.col("id").alias("k"), F.lit("seven").alias("m")
    )
    with pytest.raises(Exception):
        commit(drifted, t, mode="append", merge_schema=True)
    assert read_manifest(t)["version"] == 1  # nothing committed


def test_time_travel_reads_each_versions_own_schema(spark, tmp_path):
    """After opt-in evolution, a pinned historical version reads with
    the schema IT was committed with — full-rewrite versions mean no
    per-file reconciliation."""
    t = str(tmp_path / "t")
    commit(_frame(spark, 3, "a"), t)
    commit(
        _frame(spark, 2, "b").withColumn("extra", F.lit(1)),
        t,
        mode="append",
        merge_schema=True,
    )
    v1 = read_table(spark, t, version=1)
    assert set(v1.columns) == {"k", "v"}  # pre-evolution schema, untouched
    v2 = read_table(spark, t, version=2)
    assert set(v2.columns) == {"k", "v", "extra"}
    assert v2.filter("extra IS NULL").count() == 3


def test_append_writes_only_the_delta(spark, tmp_path):
    """The 100 TB property: an append commit's new directory holds
    ONLY the incoming rows (O(delta)), never a rewrite of the table —
    the manifest's dirs list is what grows."""
    t = str(tmp_path / "t")
    commit(_frame(spark, 1000, "a"), t)
    m = commit(_frame(spark, 7, "b"), t, mode="append")
    assert len(m["dirs"]) == 2
    delta_only = spark.read.parquet(os.path.join(t, m["dirs"][-1]))
    assert delta_only.count() == 7  # not 1007
    assert read_table(spark, t).count() == 1007


def test_change_feed_reads_only_the_delta_dirs(spark, tmp_path):
    """read_changes(since=N) returns exactly the rows appended after
    version N, by unioning ONLY the delta directories those commits
    added — O(delta), never a table scan."""
    from etl_data_pipeline_spark.sinks.manifest import read_changes

    t = str(tmp_path / "t")
    commit(_frame(spark, 5, "v1"), t)
    commit(_frame(spark, 3, "v2"), t, mode="append")
    commit(_frame(spark, 2, "v3"), t, mode="append")
    assert read_changes(spark, t, 0).count() == 10  # everything
    ch = read_changes(spark, t, 1)
    assert ch.count() == 5
    assert {r.v for r in ch.select("v").distinct().collect()} == {"v2", "v3"}
    assert read_changes(spark, t, 2).count() == 2
    assert read_changes(spark, t, 3).count() == 0  # caught up: empty feed
    # empty feed keeps the table schema for stable downstream unions
    assert read_changes(spark, t, 3).columns == ["k", "v"]
    with pytest.raises(ValueError, match=r"not in \[0, 3\]"):
        read_changes(spark, t, 4)


def test_change_feed_skips_compaction_but_breaks_on_overwrite(spark, tmp_path):
    """Layout-only commits (compaction) are invisible to the feed —
    their rows were already emitted; a REAL overwrite inside the range
    raises (append-only semantics broken, consumer must re-sync)."""
    from etl_data_pipeline_spark.sinks.manifest import compact, read_changes

    t = str(tmp_path / "t")
    commit(_frame(spark, 4, "v1"), t)
    commit(_frame(spark, 3, "v2"), t, mode="append")
    compact(spark, t)  # v3, data_change: false
    commit(_frame(spark, 2, "v4"), t, mode="append")
    ch = read_changes(spark, t, 1)  # across the compaction
    assert ch.count() == 5  # v2's 3 + v4's 2 — compaction re-emits nothing
    assert {r.v for r in ch.select("v").distinct().collect()} == {"v2", "v4"}
    assert read_changes(spark, t, 3).count() == 2  # post-compaction baseline
    commit(_frame(spark, 9, "v5"), t)  # true overwrite
    # an overwrite removes rows, which an append-only feed cannot
    # express — EVERY feed crossing it raises; the consumer re-syncs
    # from the post-overwrite snapshot
    for since in (1, 4):
        with pytest.raises(
            ValueError, match="broken by an overwrite/merge at version 5"
        ):
            read_changes(spark, t, since)
    assert read_changes(spark, t, 5).count() == 0  # re-synced baseline


def test_change_feed_vacuumed_snapshot_raises_clearly(spark, tmp_path):
    from etl_data_pipeline_spark.sinks.manifest import read_changes

    t = str(tmp_path / "t")
    for i in range(1, 5):
        commit(_frame(spark, i, f"v{i}"), t, mode="append" if i > 1 else "overwrite")
    vacuum(t, keep_last=2)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        read_changes(spark, t, 1)
    # NOTE: with dir-list versions vacuum keeps every dir the retained
    # manifests reference, so the feed from a RETAINED version still works
    assert read_changes(spark, t, 3).count() == 4


def test_manifest_source_changes_since_option(spark, tmp_path):
    """The source-registry face of the change feed: a downstream
    pipeline reads only rows appended after the version it last saw —
    a version-keyed incremental source with no watermark column."""
    from etl_data_pipeline_spark.sources import read_source

    t_dir = str(tmp_path)
    t = os.path.join(t_dir, "t")
    commit(_frame(spark, 6, "a"), t)
    commit(_frame(spark, 4, "b"), t, mode="append")
    out = read_source(spark, "manifest", "t", {"dir": t_dir, "changes_since": 1})
    assert out.count() == 4
    assert out.select("v").distinct().first().v == "b"
    with pytest.raises(ValueError, match="not both"):
        read_source(
            spark, "manifest", "t", {"dir": t_dir, "changes_since": 1, "version": 2}
        )


def test_history_lists_retained_commits(spark, tmp_path):
    """DESCRIBE HISTORY analog: every retained version with its fence
    and flags, oldest first; vacuumed versions drop out."""
    from etl_data_pipeline_spark.sinks.manifest import compact, history

    t = str(tmp_path / "t")
    assert history(t) == []  # nothing committed
    commit(_frame(spark, 3, "a"), t)
    commit(_frame(spark, 2, "b"), t, mode="append", txn=("app", 0))
    compact(spark, t)
    h = history(t)
    assert [m["version"] for m in h] == [1, 2, 3]
    assert h[0]["fence"] < h[1]["fence"] < h[2]["fence"]  # auditable order
    assert h[1]["txn"] == {"app": 0}
    assert h[2].get("data_change") is False  # the compaction
    vacuum(t, keep_last=2)
    assert [m["version"] for m in history(t)] == [2, 3]


def test_vacuumed_snapshot_never_masquerades_as_the_version(spark, tmp_path):
    """Dir-list subtlety: after vacuum drops version 1's SNAPSHOT, its
    data dir can live on (still referenced by newer versions). A
    pinned read of v1 must raise 'vacuumed' — returning just that one
    shared dir would silently serve PARTIAL data as if it were the
    version."""
    t = str(tmp_path / "t")
    commit(_frame(spark, 5, "v1"), t)
    commit(_frame(spark, 3, "v2"), t, mode="append")
    commit(_frame(spark, 2, "v3"), t, mode="append")
    vacuum(t, keep_last=2)
    # v1's dir is still on disk (v2/v3 reference it)...
    assert os.path.isdir(os.path.join(t, "_versions", "v00000001"))
    # ...but the VERSION is gone, and must say so
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        read_table(spark, t, version=1)
    assert read_table(spark, t, version=2).count() == 8
    assert read_table(spark, t).count() == 10


def test_crash_before_pointer_rename_commits_nothing(spark, tmp_path, monkeypatch):
    """Fault injection at the commit point: the data dir and snapshot
    may exist, but until the ONE os.replace onto MANIFEST.json
    happens, the commit transactionally un-happened — readers see the
    old version, and the retry lands cleanly in the same slot."""
    from etl_data_pipeline_spark.sinks import manifest as mmod

    t = str(tmp_path / "t")
    commit(_frame(spark, 5, "a"), t)

    real_replace = os.replace
    calls = {"n": 0}

    def exploding_replace(src, dst):
        if dst.endswith("MANIFEST.json"):
            calls["n"] += 1
            raise OSError("injected crash at the commit point")
        return real_replace(src, dst)

    monkeypatch.setattr(mmod.os, "replace", exploding_replace)
    with pytest.raises(OSError, match="injected crash"):
        commit(_frame(spark, 3, "b"), t, mode="append")
    monkeypatch.setattr(mmod.os, "replace", real_replace)
    assert calls["n"] == 1
    # the crash un-happened: same version, same rows, feed empty
    assert read_manifest(t)["version"] == 1
    assert read_table(spark, t).count() == 5
    # retry reuses the slot; no duplicate rows, clean history
    m2 = commit(_frame(spark, 3, "b"), t, mode="append")
    assert m2["version"] == 2
    assert read_table(spark, t).count() == 8


def test_concurrent_appenders_with_txn_fences(spark, tmp_path):
    """Two apps appending concurrently under the lease: every batch
    from both lands exactly once, fences stay per-app monotone, and
    the final row count is the exact sum — no lost or doubled batch."""
    import threading

    t = str(tmp_path / "t")
    commit(_frame(spark, 0, "seed"), t)
    errors: list = []

    def appender(app, sizes):
        try:
            for i, n in enumerate(sizes):
                commit(_frame(spark, n, app), t, mode="append", txn=(app, i))
                # replay every batch immediately: must be fenced out
                commit(_frame(spark, n, app), t, mode="append", txn=(app, i))
        except Exception as e:
            errors.append((app, e))

    a = threading.Thread(target=appender, args=("appA", [3, 5, 7]))
    b = threading.Thread(target=appender, args=("appB", [2, 4]))
    a.start(); b.start(); a.join(); b.join()
    assert not errors, errors
    m = read_manifest(t)
    assert m["txn"] == {"appA": 2, "appB": 1}
    out = read_table(spark, t)
    assert out.count() == 3 + 5 + 7 + 2 + 4
    counts = {r.v: r.n for r in out.groupBy("v").agg(F.count("*").alias("n")).collect()}
    assert counts == {"appA": 15, "appB": 6}


def test_model_based_random_op_sequence(spark, tmp_path):
    """Model-based check: a seeded random interleaving of append /
    overwrite / merge / compact / vacuum against a pure-Python model
    of the table. Invariants after every op: read_table == model rows;
    version monotone; the change feed from any still-retained
    append-only suffix equals the model's appended rows (merge breaks
    the feed exactly like overwrite)."""
    import random

    from etl_data_pipeline_spark.sinks.manifest import (
        compact,
        history,
        merge_upsert,
        read_changes,
    )

    rng = random.Random(20260814)
    t = str(tmp_path / "t")
    model: list[tuple[int, str]] = []  # (k, tag) rows
    appended_at: dict[int, list[tuple[int, str]]] = {}  # version -> rows added
    overwritten_after: int = 0  # feed valid only from versions >= this
    version = 0
    next_k = 0

    def mk(n, tag):
        nonlocal next_k
        rows = [(next_k + i, tag) for i in range(n)]
        next_k += n
        return spark.createDataFrame(rows, "k BIGINT, tag STRING")

    commit(mk(3, "seed"), t)
    version = 1
    model = [(k, tag) for k, tag in [(0, "seed"), (1, "seed"), (2, "seed")]]
    appended_at[1] = list(model)

    for step in range(14):
        op = rng.choice(
            ["append", "append", "append", "compact", "vacuum",
             "overwrite", "merge", "merge"]
        )
        if op == "append":
            n = rng.randint(0, 4)
            df = mk(n, f"a{step}")
            rows = [(r.k, r.tag) for r in df.collect()]
            commit(df, t, mode="append")
            version += 1
            model.extend(rows)
            appended_at[version] = rows
        elif op == "compact":
            compact(spark, t)
            version += 1
            appended_at[version] = []  # layout-only
        elif op == "overwrite":
            n = rng.randint(1, 5)
            df = mk(n, f"o{step}")
            rows = [(r.k, r.tag) for r in df.collect()]
            commit(df, t)
            version += 1
            model = list(rows)
            appended_at = {version: rows}
            overwritten_after = version
        elif op == "merge":
            upd = (
                rng.sample([k for k, _ in model],
                           min(len(model), rng.randint(0, 3)))
                if model else []
            )
            n_new = rng.randint(0, 2)
            new_rows = [(next_k + i, f"m{step}") for i in range(n_new)]
            next_k += n_new
            batch_rows = [(k, f"m{step}") for k in upd] + new_rows
            if batch_rows:
                merge_upsert(
                    spark, t,
                    spark.createDataFrame(batch_rows, "k BIGINT, tag STRING"),
                    ("k",),
                )
                version += 1
                dead = set(upd)
                model = [r for r in model if r[0] not in dead] + batch_rows
                appended_at = {version: []}
                overwritten_after = version  # feed broken, like overwrite
        else:
            keep = rng.randint(2, 4)
            vacuum(t, keep_last=keep)
        # invariants
        m = read_manifest(t)
        assert m["version"] == version
        got = sorted((r.k, r.tag) for r in read_table(spark, t).collect())
        assert got == sorted(model), f"step {step} op {op}"
        # change feed from the newest retained baseline that is not
        # crossed by an overwrite
        retained = [mm["version"] for mm in history(t)]
        feed_from = [
            v for v in retained if v >= overwritten_after and v < version
        ]
        if feed_from:
            since = rng.choice(feed_from)
            want = sorted(
                row
                for v, rows in appended_at.items()
                if v > since
                for row in rows
            )
            feed = sorted(
                (r.k, r.tag) for r in read_changes(spark, t, since).collect()
            )
            assert feed == want, f"step {step} feed since {since}"


def test_manifest_tracks_row_counts(spark, tmp_path):
    """Audit bookkeeping: per-commit delta_rows (footer metadata, no
    data read) and a running total_rows, for every commit kind that
    shares the manifest publish step — overwrite, keyed append,
    compaction (zero delta, total preserved) and merge."""
    from etl_data_pipeline_spark.sinks.manifest import compact

    t = str(tmp_path / "t")
    m1 = commit(_frame(spark, 5, "a"), t)
    assert (m1["delta_rows"], m1["total_rows"]) == (5, 5)
    m2 = commit(_frame(spark, 8, "b"), t, mode="append", merge_keys=("k",))
    assert (m2["delta_rows"], m2["total_rows"]) == (3, 8)  # 0-4 fenced out
    mc = compact(spark, t)
    assert (mc["delta_rows"], mc["total_rows"]) == (0, 8)
    m3 = commit(_frame(spark, 2, "c"), t)  # overwrite resets
    assert (m3["delta_rows"], m3["total_rows"]) == (2, 2)
    assert read_table(spark, t).count() == 2
    # merge: the rewritten dir's survivors plus the batch are the delta;
    # the total drops the rewritten dir and adds the delta
    batch = spark.range(1, 4).select(F.col("id").alias("k"), F.lit("d").alias("v"))
    m4 = merge_upsert(spark, t, batch, ("k",))
    assert (m4["delta_rows"], m4["total_rows"]) == (4, 4)  # k=0 + k=1..3
    assert read_table(spark, t).count() == 4


def test_partitioned_table_roundtrip_and_layout_rules(spark, tmp_path):
    """Hive-partitioned manifest tables: partition_by is a TABLE
    property (first commit fixes it; appends must match; compaction
    preserves it); reads cast directory-inferred partition values back
    to the recorded schema."""
    from etl_data_pipeline_spark.sinks.manifest import compact, read_changes

    t = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("bucket"),
        F.lit("a").alias("v"),
    )
    m1 = commit(df, t, partition_by=("bucket",))
    assert m1["partition_by"] == ["bucket"]
    out = read_table(spark, t)
    assert out.schema.simpleString() == "struct<k:bigint,bucket:int,v:string>"
    assert out.count() == 100
    assert out.filter("bucket = 1").count() == 33

    # append inherits the layout (no need to restate it)...
    delta = spark.range(100, 120).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("bucket"),
        F.lit("b").alias("v"),
    )
    commit(delta, t, mode="append")
    assert read_table(spark, t).count() == 120
    # ...but restating a DIFFERENT layout fails loudly
    with pytest.raises(ValueError, match="changes partition_by"):
        commit(delta, t, mode="append", partition_by=("v",))

    # the change feed works across partitioned deltas
    assert read_changes(spark, t, 1).count() == 20

    # compaction preserves the layout property and the data
    mc = compact(spark, t)
    assert mc["partition_by"] == ["bucket"]
    assert read_table(spark, t).count() == 120
    # the compacted dir is physically hive-partitioned
    cdir = os.path.join(t, mc["dirs"][0])
    assert any(e.startswith("bucket=") for e in os.listdir(cdir))


def test_partitioned_table_null_partition_value(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "x", "p1"), (2, "y", None), (3, "z", "p1")], "k INT, v STRING, part STRING"
    )
    commit(df, t, partition_by=("part",))
    out = read_table(spark, t)
    assert out.filter("part IS NULL").count() == 1
    assert out.filter("part = 'p1'").count() == 2


def test_read_table_where_prunes_dirs_and_matches_filter(spark, tmp_path):
    """read_table(where=...) must (a) equal read_table().filter(...)
    exactly and (b) scan a strict subset of parquet files when the
    manifest's recorded ranges prove dirs dead — the read-side payoff of
    clustered/z-ordered ingest layouts."""
    from pyspark.sql import functions as F

    from etl_data_pipeline_spark.sinks import morton_key
    from etl_data_pipeline_spark.sinks.manifest import commit, read_table

    t = str(tmp_path / "t")
    for lo in (0, 1000, 2000, 3000):
        frame = (
            spark.range(lo, lo + 1000)
            .select(F.col("id").alias("k"), (F.col("id") % 97).alias("k2"))
            .withColumn("__z", morton_key(F.col("k"), F.col("k2")))
            .repartitionByRange(2, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        commit(frame, t, mode="append" if lo else "overwrite")

    full = read_table(spark, t)
    filt = read_table(spark, t, where={"k": (1200, 1300)})
    brute = full.filter("k >= 1200 AND k <= 1300")
    assert sorted(r.k for r in filt.collect()) == sorted(
        r.k for r in brute.collect()
    )
    assert set(filt.inputFiles()) < set(full.inputFiles())  # strict subset
    # scalar equality form
    one = read_table(spark, t, where={"k": 2500})
    assert [r.k for r in one.collect()] == [2500]
    assert len(one.inputFiles()) < len(full.inputFiles())
    # fully-pruned range: empty result, correct schema, no files
    none = read_table(spark, t, where={"k": (90_000, 99_000)})
    assert none.count() == 0
    assert set(none.columns) == {"k", "k2"}


def test_read_table_where_compares_float_bounds_as_spark_does(spark, tmp_path):
    """A double bound against a decimal or bigint column, and a decimal
    bound against a double column, compare as double in Spark's filter,
    so pruning must too: an exact compare would drop the dir holding
    the 9.99 / 0.30 / 2**53+1 / 0.1 edge rows the filter matches."""
    from decimal import Decimal

    from etl_data_pipeline_spark.sinks.manifest import commit, read_table

    t = str(tmp_path / "t")
    ddl = "price decimal(10,2), d double, k bigint"
    commit(spark.createDataFrame(
        [(Decimal("0.30"), 0.1, 2**53 + 1), (Decimal("9.99"), 0.5, 2**53 + 1)], ddl
    ), t)
    commit(spark.createDataFrame([(Decimal("20.00"), 5.0, 0)], ddl), t, mode="append")
    full = read_table(spark, t)
    for where in (
        {"price": (9.99, None)},
        {"price": (None, 0.3)},
        {"price": 9.99},
        {"d": (None, Decimal("0.1"))},
        {"k": (None, float(2**53))},
    ):
        c, v = next(iter(where.items()))
        lo, hi = v if isinstance(v, tuple) else (v, v)
        brute = full
        if lo is not None:
            brute = brute.filter(F.col(c) >= F.lit(lo))
        if hi is not None:
            brute = brute.filter(F.col(c) <= F.lit(hi))
        expect = sorted(brute.collect())
        assert expect, where
        assert sorted(read_table(spark, t, where=where).collect()) == expect, where
    # the dirs still prune where the bound clears them
    high = read_table(spark, t, where={"price": (15.0, None)})
    assert set(high.inputFiles()) < set(full.inputFiles())


def test_reads_build_with_no_spark_job(spark, tmp_path):
    """Every reader builds its frame from the recorded schema: head and
    time-travel reads, pruned reads and the change feed (empty, plain
    and version-tagged) run no schema-inference job on a multi-dir,
    schema-evolved table."""
    from etl_data_pipeline_spark.sinks.manifest import read_changes
    from tests.test_pipeline import _jobs_of

    t = str(tmp_path / "t")  # three versions, three dirs, one added column
    commit(_frame(spark, 4, "a"), t)
    commit(_frame(spark, 2, "b").withColumn("x", F.lit(1)), t, mode="append",
           merge_schema=True)
    commit(_frame(spark, 3, "c").withColumn("x", F.lit(2)), t, mode="append")
    builds = {
        "head": lambda: read_table(spark, t),
        "v1": lambda: read_table(spark, t, version=1),
        "v2": lambda: read_table(spark, t, version=2),
        "pruned": lambda: read_table(spark, t, where={"k": 100}),
        "feed": lambda: read_changes(spark, t, 1),
        "feed_v": lambda: read_changes(spark, t, 0, version_column="_v"),
        "feed_empty": lambda: read_changes(spark, t, 3),
    }
    frames = {}
    for name, build in builds.items():
        frames[name], jobs = _jobs_of(spark, build)
        assert jobs == 0, name
    assert frames["head"].columns == ["k", "v", "x"]
    assert frames["v1"].columns == ["k", "v"]
    assert frames["head"].count() == 9 and frames["v2"].count() == 6
    assert frames["pruned"].count() == 0
    assert frames["feed"].filter("x IS NOT NULL").count() == 5
    assert frames["feed_v"].groupBy("_v").count().count() == 3
    assert frames["feed_empty"].columns == ["k", "v", "x"]


def _tree(t):
    """Every file under ``t`` but the writer-lease sidecar, by bytes."""
    out = {}
    for root, _dirs, files in os.walk(t):
        for fn in files:
            if not fn.endswith(".lease"):
                p = os.path.join(root, fn)
                with open(p, "rb") as f:
                    out[os.path.relpath(p, t)] = f.read()
    return out


def test_first_cut_manifest_is_rejected_untouched(spark, tmp_path):
    """A manifest outside the one format — here the first-cut
    {"version", "dir"} form — is a ValueError naming the table and
    the missing keys from every reader and writer, raised before any
    data is read, written or deleted."""
    t = str(tmp_path / "t")
    _frame(spark, 4, "a").write.parquet(os.path.join(t, "_versions", "v00000001"))
    _frame(spark, 6, "b").write.parquet(os.path.join(t, "_versions", "v00000002"))
    with open(os.path.join(t, "MANIFEST.json"), "w") as f:
        json.dump({"version": 2, "dir": os.path.join("_versions", "v00000002")}, f)
    before = _tree(t)
    batch = _frame(spark, 3, "c")
    for name, call in {
        "read_table": lambda: read_table(spark, t),
        "commit": lambda: commit(batch, t, mode="append"),
        "merge_upsert": lambda: merge_upsert(spark, t, batch, ("k",)),
        "vacuum": lambda: vacuum(t, keep_last=1),
    }.items():
        with pytest.raises(ValueError) as exc:
            call()
        msg = str(exc.value)
        assert t in msg and "['dirs', 'schema', 'total_rows']" in msg, name
        assert _tree(t) == before, name


def test_manifest_key_set_is_stable(spark, tmp_path):
    """The on-disk keys of a written manifest (readers outside the
    package parse MANIFEST.json directly): eight always, and
    partition_by, txn and data_change only when set. Each version's
    snapshot is byte-for-byte its pointer."""
    from etl_data_pipeline_spark.sinks.manifest import compact

    base = {
        "version", "dirs", "schema", "fence", "delta_rows", "total_rows",
        "dir_rows", "ranges",
    }
    t = str(tmp_path / "t")

    def keys():
        with open(os.path.join(t, "MANIFEST.json")) as f:
            pointer = f.read()
        m = json.loads(pointer)
        snap = os.path.join(t, "_manifests", f"v{m['version']:08d}.json")
        with open(snap) as f:
            assert f.read() == pointer
        return set(m)

    commit(_frame(spark, 4, "a"), t)
    assert keys() == base
    commit(_frame(spark, 2, "b"), t, mode="append", txn=("app", 0))
    assert keys() == base | {"txn"}
    compact(spark, t)
    assert keys() == base | {"txn", "data_change"}
    commit(_frame(spark, 3, "c"), t, partition_by=("v",))
    assert keys() == base | {"txn", "partition_by"}
