"""Safety-contract tests for the idempotent/atomic sinks: a sink must
never mistake a broken read for a first write, a crashed swap must
heal, and the as-of join must carry a matched row's NULLs.
"""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from etl_data_pipeline_spark.operators.asof import asof_join
from etl_data_pipeline_spark.sinks import (
    atomic_overwrite_parquet,
    idempotent_append_parquet,
    read_parquet_if_exists,
    upsert_overwrite_parquet,
    writer_lease,
)


def test_read_parquet_if_exists_missing_path_is_none(spark):
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "nope")
        with writer_lease(path):
            assert read_parquet_if_exists(spark, path) is None


def test_first_write_makes_no_parquet_read(spark, tmp_path, monkeypatch):
    """A first write into an absent target is decided by a filesystem
    check under the lease, not by a Spark read that fails analysis."""
    from pyspark.sql.readwriter import DataFrameReader

    calls = []
    real = DataFrameReader.parquet

    def counting(self, *paths, **options):
        calls.append(paths)
        return real(self, *paths, **options)

    df = spark.range(3).withColumnRenamed("id", "k")
    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    idempotent_append_parquet(spark, df, "t", {"dir": str(tmp_path)}, ("k",))
    monkeypatch.undo()
    assert calls == []
    assert spark.read.parquet(str(tmp_path / "t")).count() == 3


def test_existing_dir_without_parquet_is_not_a_first_write(spark, tmp_path):
    """A target directory that exists but holds no parquet files (say,
    debris of a direct write that died) raises; it is never reported
    as absent, so no sink overwrites it as a first write."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    with writer_lease(path):
        with pytest.raises(Exception) as exc:
            read_parquet_if_exists(spark, path)
    assert "PATH_NOT_FOUND" not in str(exc.value)
    df = spark.range(3).withColumnRenamed("id", "k")
    with pytest.raises(Exception):
        idempotent_append_parquet(spark, df, "t", {"path": path}, ("k",))
    assert os.listdir(path) == []


def test_read_parquet_if_exists_corrupt_sink_raises(spark):
    """A sink directory that EXISTS but cannot be read must raise —
    treating it as first-write would let upsert drop unmatched rows."""
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "t")
        os.makedirs(path)
        with open(os.path.join(path, "part-0000.parquet"), "w") as f:
            f.write("this is not parquet")
        with writer_lease(path), pytest.raises(Exception) as exc:
            df = read_parquet_if_exists(spark, path)
            if df is not None:  # reads that defer analysis: force it
                df.collect()
        assert "PATH_NOT_FOUND" not in str(exc.value)


def _data_files(path):
    return sorted(f for f in os.listdir(path) if not f.startswith(("_", ".")))


def test_idempotent_append_scans_keys_without_inference(spark, tmp_path):
    """The sink's key scan reads with the batch's key schema: no
    inference job, and a replayed key is still skipped."""
    from tests.test_pipeline import _jobs_of

    path = str(tmp_path / "t")
    df = spark.range(4).select(F.col("id").alias("k"), F.lit("a").alias("v"))
    idempotent_append_parquet(spark, df.filter("k < 2"), "t", {"path": path}, ("k",))
    _, jobs = _jobs_of(
        spark,
        lambda: idempotent_append_parquet(spark, df, "t", {"path": path}, ("k",)),
    )
    assert jobs <= 3  # the anti-join's AQE stages; no parquet inference
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == [0, 1, 2, 3]


def test_idempotent_append_into_sink_without_key_column_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).withColumnRenamed("id", "other").write.parquet(path)
    before = _data_files(path)
    df = spark.range(3).withColumnRenamed("id", "k")
    with pytest.raises(Exception, match="k"):
        idempotent_append_parquet(spark, df, "t", {"path": path}, ("k",))
    assert _data_files(path) == before


def test_idempotent_append_key_type_clash_raises(spark, tmp_path):
    """Sink keys are strings, the batch's are bigint: the key scan
    cannot read them as the batch's type, and the append fails whole."""
    path = str(tmp_path / "t")
    spark.createDataFrame([("1",), ("2",)], "k string").write.parquet(path)
    before = _data_files(path)
    df = spark.range(5).withColumnRenamed("id", "k")
    with pytest.raises(Exception):
        idempotent_append_parquet(spark, df, "t", {"path": path}, ("k",))
    assert _data_files(path) == before
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == ["1", "2"]


def test_upsert_aborts_on_corrupt_sink(spark):
    df = spark.range(3).withColumnRenamed("id", "k")
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "t")
        os.makedirs(path)
        with open(os.path.join(path, "junk.parquet"), "w") as f:
            f.write("garbage")
        with pytest.raises(Exception):
            upsert_overwrite_parquet(spark, df, "t", {"dir": tmp}, ("k",))
        # the corrupt sink was NOT silently overwritten
        with open(os.path.join(path, "junk.parquet")) as f:
            assert f.read() == "garbage"


def test_idempotent_append_aborts_on_corrupt_sink(spark):
    df = spark.range(3).withColumnRenamed("id", "k")
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "t")
        os.makedirs(path)
        with open(os.path.join(path, "junk.parquet"), "w") as f:
            f.write("garbage")
        with pytest.raises(Exception):
            idempotent_append_parquet(spark, df, "t", {"dir": tmp}, ("k",))


def test_interrupted_swap_recovers_on_next_read(spark):
    """Crash between the two swap renames leaves only '.old'; the next
    sink read must restore it instead of reporting first-write."""
    df = spark.range(5).withColumnRenamed("id", "k")
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "t")
        atomic_overwrite_parquet(df, "t", {"dir": tmp})
        # simulate the crash window: target renamed away, swap died
        os.replace(path, path + ".old")
        assert not os.path.exists(path)
        with writer_lease(path):
            recovered = read_parquet_if_exists(spark, path)
            assert recovered is not None and recovered.count() == 5
        assert os.path.exists(path) and not os.path.exists(path + ".old")


def test_interrupted_swap_recovers_before_upsert(spark):
    """After a crashed swap, an upsert must merge against the backup,
    not treat the sink as brand new (which would drop unmatched keys)."""
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "t")
        atomic_overwrite_parquet(base, "t", {"dir": tmp})
        os.replace(path, path + ".old")  # crash window
        batch = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
        upsert_overwrite_parquet(spark, batch, "t", {"dir": tmp}, ("k",))
        out = {
            (r.k, r.v) for r in spark.read.parquet(path).collect()
        }
        # unmatched key 1 survived the crash + upsert
        assert out == {(1, "a"), (2, "B"), (3, "c")}


def test_writer_lease_mutual_exclusion_and_fencing(spark):
    """The lease must (a) admit exactly one holder at a time — probed
    by a critical-section counter no concurrent holder may see move —
    and (b) hand out strictly increasing, never-reused fencing tokens."""
    import threading
    import time

    from etl_data_pipeline_spark.sinks import writer_lease

    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "t")
        tokens = []
        state = {"inside": 0, "max_inside": 0}
        guard = threading.Lock()

        def hold():
            with writer_lease(path) as token:
                with guard:
                    state["inside"] += 1
                    state["max_inside"] = max(state["max_inside"], state["inside"])
                    tokens.append(token)
                time.sleep(0.01)
                with guard:
                    state["inside"] -= 1

        threads = [threading.Thread(target=hold) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert state["max_inside"] == 1  # never two holders
        assert sorted(tokens) == list(range(1, 9))  # strict, gap-free fence
        assert tokens == sorted(tokens)  # issued in acquisition order


def test_concurrent_atomic_overwrite_cannot_corrupt_target(spark):
    """Two writers hammering one target with DISTINCT datasets: after
    every interleaving the target must be exactly ONE writer's complete
    dataset (no mixes, no missing target, no stray swap debris)."""
    import threading

    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "t")
        frames = {
            "A": spark.range(200).select(F.col("id").alias("k"), F.lit("A").alias("v")),
            "B": spark.range(300).select(F.col("id").alias("k"), F.lit("B").alias("v")),
        }
        errors = []

        def writer(tag):
            try:
                for _ in range(3):
                    atomic_overwrite_parquet(frames[tag], "t", {"dir": tmp})
            except Exception as e:  # surfaced after join — threads must not die silently
                errors.append((tag, e))

        threads = [threading.Thread(target=writer, args=(t,)) for t in "AB"]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        out = spark.read.parquet(path)
        counts = {r.v: r.cnt for r in out.groupBy("v").agg(F.count("*").alias("cnt")).collect()}
        assert counts in ({"A": 200}, {"B": 300})  # one COMPLETE dataset
        assert not os.path.exists(path + ".staging")
        assert not os.path.exists(path + ".old")


def test_concurrent_scd2_upserts_serialize(spark):
    """Two SCD2 upserts on one dimension (disjoint keys) racing: the
    lease serializes them, so BOTH batches' keys exist afterward with
    exactly one current row each — an interleaving would fork the
    version chain or drop the slower writer's keys."""
    import threading

    from etl_data_pipeline_spark.sinks import scd2_upsert_parquet

    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "dim")
        opts = {"dir": tmp}
        seed = spark.createDataFrame([(1, "base")], "k long, v string")
        scd2_upsert_parquet(spark, seed, "dim", opts, ("k",), "2026-01-01 00:00:00")
        batches = {
            "left": spark.createDataFrame([(1, "new"), (2, "two")], "k long, v string"),
            "right": spark.createDataFrame([(3, "three")], "k long, v string"),
        }
        errors = []

        def upsert(tag):
            try:
                scd2_upsert_parquet(
                    spark, batches[tag], "dim", opts, ("k",), "2026-02-01 00:00:00"
                )
            except Exception as e:
                errors.append((tag, e))

        threads = [threading.Thread(target=upsert, args=(t,)) for t in batches]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        out = spark.read.parquet(path)
        current = {
            (r.k, r.v) for r in out.filter("__is_current").collect()
        }
        assert current == {(1, "new"), (2, "two"), (3, "three")}
        # k=1 history: the base version closed exactly once
        closed = out.filter("k = 1 AND NOT __is_current").collect()
        assert len(closed) == 1 and closed[0].v == "base"


def test_concurrent_idempotent_append_no_duplicates(spark):
    """The SAME batch appended from two racing threads must land once:
    the lease makes read-check-append atomic, so the loser of the race
    sees the winner's keys and skips them."""
    import threading

    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "t")
        batch = spark.range(50).withColumnRenamed("id", "k")
        errors = []

        def append():
            try:
                idempotent_append_parquet(spark, batch, "t", {"dir": tmp}, ("k",))
            except Exception as e:
                errors.append(e)

        threads = [threading.Thread(target=append) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        assert spark.read.parquet(path).count() == 50


def test_asof_join_carries_matched_rows_nulls(spark):
    """The matched right row's own NULL must be carried (row-atomic
    match), never back-filled from an older right row."""
    left = spark.createDataFrame([(1, 10, "L")], "by long, ts long, tag string")
    right = spark.createDataFrame(
        [(1, 5, "old", 1.0), (1, 9, None, 2.0)],
        "by long, ts long, name string, score double",
    )
    out = asof_join(left, right, on="ts", by="by", value_cols=["name", "score"]).collect()
    assert len(out) == 1
    row = out[0]
    # match is the ts=9 row: name must stay NULL, score from the SAME row
    assert row.score == 2.0
    assert row.name is None


def test_morton_key_matches_python_reference(spark):
    from etl_data_pipeline_spark.sinks import morton_key

    def py_spread(x):
        x &= 0xFFFF
        x = (x | (x << 8)) & 0x00FF00FF
        x = (x | (x << 4)) & 0x0F0F0F0F
        x = (x | (x << 2)) & 0x33333333
        x = (x | (x << 1)) & 0x55555555
        return x

    cases = [(0, 0), (1, 0), (0, 1), (255, 255), (65535, 65535), (12345, 54321)]
    df = spark.createDataFrame(cases, "a long, b long")
    out = {
        (r.a, r.b): r.z
        for r in df.select("a", "b", morton_key(F.col("a"), F.col("b")).alias("z")).collect()
    }
    for a, b in cases:
        assert out[(a, b)] == py_spread(a) | (py_spread(b) << 1)


def test_zorder_layout_narrows_per_file_spans(spark):
    """Z-ordered files must each cover a small rectangle of the keyed
    space: the average per-file span of BOTH dimensions shrinks vs a
    round-robin layout (this locality is exactly what parquet min/max
    row-group pruning exploits). Uses a full 64x64 grid so both
    dimensions have comparable domains — with wildly asymmetric
    domains the Morton key is dominated by the wider dimension, which
    is why write_zordered documents quantizing dimensions first."""
    import glob

    from etl_data_pipeline_spark.sinks import write_zordered

    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("a"), (F.col("id") / 64).cast("long").alias("b")
    )
    with tempfile.TemporaryDirectory() as tmp:
        zpath = os.path.join(tmp, "z")
        rpath = os.path.join(tmp, "r")
        write_zordered(grid, zpath, "a", "b", n_files=16)
        grid.repartition(16).write.parquet(rpath)  # round-robin baseline

        def mean_span(path, col):
            spans = []
            for f in glob.glob(os.path.join(path, "*.parquet")):
                stats = spark.read.parquet(f).agg(
                    F.min(col).alias("lo"), F.max(col).alias("hi")
                ).first()
                if stats.lo is not None:
                    spans.append(stats.hi - stats.lo)
            return sum(spans) / len(spans)

        for col in ("a", "b"):
            # 16 z-range files over a 64x64 grid = ~16x16 rectangles;
            # round-robin files span the whole ~63 either way
            assert mean_span(zpath, col) < mean_span(rpath, col) * 0.5, col


def test_upsert_rejects_duplicate_and_null_batch_keys(spark, tmp_path):
    """r9 review: a batch with two rows for one key previously left
    TWO rows in the SCD1 sink (breaking one-row-per-key), and SCD2
    would fork the version chain with two open 'current' rows — the
    corruption its own docstring calls unrepairable. Both upserts now
    reject duplicate or NULL batch keys loudly, the manifest merge's
    contract."""
    from etl_data_pipeline_spark.sinks import scd2_upsert_parquet

    path = str(tmp_path / "t")
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "k long, v string")
    with pytest.raises(ValueError, match="duplicate keys"):
        upsert_overwrite_parquet(spark, dup, "t", {"path": path}, ("k",))
    with pytest.raises(ValueError, match="duplicate keys"):
        scd2_upsert_parquet(
            spark, dup, "t", {"path": path}, ("k",), "2024-01-01 00:00:00"
        )
    nul = spark.createDataFrame([(None, "a")], "k long, v string")
    with pytest.raises(ValueError, match="NULL"):
        upsert_overwrite_parquet(spark, nul, "t", {"path": path}, ("k",))
    assert not os.path.exists(path)  # nothing was written


def test_first_write_failure_leaves_target_absent(spark, tmp_path):
    """r9 review: first writes went straight to the target, so a crash
    mid-job left a footerless directory whose next read is
    UNABLE_TO_INFER_SCHEMA — not first-write — bricking the sink until
    manual deletion. First writes are now staged + renamed: a failed
    write leaves the target ABSENT and the replay clean."""
    path = str(tmp_path / "t")

    @F.udf("long")
    def boom(x):
        raise RuntimeError("boom")

    bad = spark.range(3).select(F.col("id").alias("k"), boom("id").alias("v"))
    with pytest.raises(Exception):
        upsert_overwrite_parquet(spark, bad, "t", {"path": path}, ("k",))
    assert not os.path.exists(path)  # crashed first write: no debris target
    good = spark.createDataFrame([(1, 2)], "k long, v long")
    upsert_overwrite_parquet(spark, good, "t", {"path": path}, ("k",))
    assert read_parquet_if_exists(spark, path).count() == 1


def test_compact_preserves_partition_layout(spark, tmp_path):
    """r9 review: compaction read a hive-partitioned table (partition
    dirs recovered as data columns) but rewrote it FLAT, destroying
    partition pruning and priming later dynamic-overwrite backfills to
    duplicate rows. Compaction now re-infers the col=value chain and
    rewrites through partitionBy."""
    from etl_data_pipeline_spark.sinks import compact_parquet, write_partitioned

    path = str(tmp_path / "pt")
    df = spark.createDataFrame(
        [(i, f"d{i % 3}", f"v{i}") for i in range(30)],
        "k long, day string, v string",
    )
    write_partitioned(df, "pt", {"path": path}, ["day"])
    compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert sorted(
        d for d in os.listdir(path) if d.startswith("day=")
    ) == ["day=d0", "day=d1", "day=d2"]
    back = spark.read.parquet(path)
    assert back.count() == 30
    assert {r.day for r in back.select("day").distinct().collect()} == {
        "d0", "d1", "d2",
    }
