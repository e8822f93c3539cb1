"""Round-12 additions: exactly-once staged PG publish, atomic-swap
concurrency/identifier guards, read-path SQLSTATE fallback, bound
coercion + integer stride, balanced-paren window-spec counting, and
the pglive sink's option routing."""

from __future__ import annotations

import datetime as dt
import threading
import uuid
import warnings

import pytest

from tests.test_pg_live import _SKIP, pg  # noqa: F401  (fixture reuse)

pg_required = pytest.mark.skipif(_SKIP is not None, reason=_SKIP or "")


# ---- write_pg: distributed + exactly-once -----------------------------


@pg_required
def test_staged_write_round_trip(pg, spark):
    """The staged publish lands exactly the frame's rows in the target
    (creating it when absent) and leaves no per-run stage behind."""
    from etl_data_pipeline_spark.sinks import write_sink
    from etl_data_pipeline_spark.sources import read_source
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    df = spark.range(120).selectExpr("id", "concat('s-', id) AS v").repartition(4)
    write_sink(df, "pglive", "staged_t", {"conninfo": pg, "staged": True})
    back = read_source(spark, "pglive", "staged_t", {"conninfo": pg})
    assert sorted((r.id, r.v) for r in back.collect()) == [
        (i, f"s-{i}") for i in range(120)
    ]
    with PgConnection(pg) as c:
        _, rows = c.execute(
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_name LIKE 'staged_t__w%'"
        )
        assert rows == []  # per-run stage dropped in the publish txn

    # append semantics: a second staged write adds, not replaces
    df2 = spark.createDataFrame([(900, "late")], "id bigint, v string")
    write_sink(df2, "pglive", "staged_t", {"conninfo": pg, "staged": True})
    back = read_source(spark, "pglive", "staged_t", {"conninfo": pg})
    assert back.count() == 121


@pg_required
def test_staged_replayed_partition_publishes_exactly_once(pg, spark, monkeypatch):
    """A task whose COMMIT landed but whose success never reached the
    driver replays — and still publishes EXACTLY ONCE through the
    staged path: the replay's xact-locked DELETE wipes its
    predecessor's rows."""
    import etl_data_pipeline_spark.sources.pg_libpq as pgmod
    from etl_data_pipeline_spark.sources import read_source

    df = spark.range(40).selectExpr("id", "concat('r-', id) AS v").repartition(3)
    real = pgmod._stage_partitions

    def with_replay(frame, stage, options):
        real(frame, stage, options)
        # simulate the replayed committed task: rerun ONE partition's
        # exact per-task body a second time against the same stage
        part0 = frame.rdd.glom().collect()[0]
        pgmod._write_staged_partition(
            options["conninfo"],
            stage,
            frame.columns,
            pgmod._instant_fixers(frame.schema),
            0,
            part0,
        )

    monkeypatch.setattr(pgmod, "_stage_partitions", with_replay)
    pgmod.write_pg(df, "replay_t", {"conninfo": pg})
    back = read_source(spark, "pglive", "replay_t", {"conninfo": pg})
    got = sorted((r.id, r.v) for r in back.collect())
    assert got == [(i, f"r-{i}") for i in range(40)]  # no duplicates


@pg_required
def test_staged_failure_leaves_target_untouched(pg, spark, monkeypatch):
    """A crash before the publish transaction leaves the target
    byte-identical and drops the per-run stage (no orphans)."""
    import etl_data_pipeline_spark.sources.pg_libpq as pgmod
    from etl_data_pipeline_spark.sources import read_source
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    v1 = spark.createDataFrame([(1, "keep")], "id bigint, v string")
    pgmod.write_pg(v1, "staged_crash_t", {"conninfo": pg})

    def boom(frame, stage, options):
        raise RuntimeError("simulated executor loss before publish")

    monkeypatch.setattr(pgmod, "_stage_partitions", boom)
    v2 = spark.createDataFrame([(2, "lost")], "id bigint, v string")
    with pytest.raises(RuntimeError, match="simulated executor loss"):
        pgmod.write_pg(v2, "staged_crash_t", {"conninfo": pg})
    monkeypatch.undo()

    back = read_source(spark, "pglive", "staged_crash_t", {"conninfo": pg})
    assert [(r.id, r.v) for r in back.collect()] == [(1, "keep")]
    with PgConnection(pg) as c:
        _, rows = c.execute(
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_name LIKE 'staged_crash_t__w%'"
        )
        assert rows == []  # best-effort cleanup dropped the stage


@pg_required
def test_incremental_pipeline_with_staged_sink(pg, spark, tmp_path):
    """The reference's incremental loop with the exactly-once staged
    sink, with the legacy 'staged' key still in the spec options —
    PipelineSpec -> write_sink -> write_pg end to end, each batch
    publishing atomically and appending (not replacing)."""
    import uuid

    from etl_data_pipeline_spark.pipeline import IncrementalPipeline
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection
    from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
    from etl_data_pipeline_spark.watermark import WatermarkStore

    src_tbl = f"src_{uuid.uuid4().hex[:8]}"
    dst_tbl = f"dst_{uuid.uuid4().hex[:8]}"
    with PgConnection(pg) as c:
        c.execute(f"CREATE TABLE {src_tbl} (id BIGINT, v TEXT)")
        for i in range(3):
            c.execute(f"INSERT INTO {src_tbl} VALUES ($1, $2)", (i, f"v{i}"))

    spec = PipelineSpec(
        tables=[
            TableSpec(
                name=src_tbl,
                watermark_column="id",
                watermark_type="id",
                source_format="pglive",
                source_options={"conninfo": pg},
                sink_format="pglive",
                sink_options={"conninfo": pg, "dbtable": dst_tbl, "staged": True},
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)
    r = pipe.run()[0]
    assert r.status == "loaded" and r.new_watermark == 2, (r.status, r.error)
    with PgConnection(pg) as c:
        c.execute(f"INSERT INTO {src_tbl} VALUES (3, 'v3'), (4, 'v4')")
    r = pipe.run()[0]
    assert r.status == "loaded" and r.new_watermark == 4, (r.status, r.error)
    with PgConnection(pg) as c:
        _, rows = c.execute(f"SELECT id, v FROM {dst_tbl} ORDER BY id")
        assert rows == [(i, f"v{i}") for i in range(5)]
        _, leftover = c.execute(
            "SELECT table_name FROM information_schema.tables "
            f"WHERE table_name LIKE '{dst_tbl}__w%'"
        )
        assert leftover == []  # every batch's stage published and dropped


# ---- write_pg hardening -----------------------------------------------


def test_atomic_and_staged_reject_overlong_stage_names(spark):
    """A target whose stage name would pass PostgreSQL's 63-byte
    NAMEDATALEN limit is rejected up front, for appends and replaces
    alike — the server would silently truncate it and the later
    statements would address a different identifier. Raised before
    any connection is opened."""
    from etl_data_pipeline_spark.sources.pg_libpq import write_pg

    df = spark.createDataFrame([(1,)], "id bigint")
    long_target = "t" + "x" * 60  # 61 bytes; +13 for __w<token> > 63
    for atomic in (False, True):
        with pytest.raises(ValueError, match="63-byte identifier limit"):
            write_pg(
                df, long_target, {"conninfo": "host=/nowhere", "atomic": atomic}
            )


@pg_required
def test_atomic_concurrent_writers_serialize(pg, spark):
    """Two concurrent atomic writers to one absent target: each stages
    into its own per-run table, one creates the target under the
    first-write lock, and the publishes serialize on the target's
    lock — the survivor is one COMPLETE batch, never mixed or
    duplicated rows."""
    import etl_data_pipeline_spark.sources.pg_libpq as pgmod
    from etl_data_pipeline_spark.sources import read_source

    a = spark.createDataFrame([(i, "a") for i in range(50)], "id bigint, v string")
    b = spark.createDataFrame([(i, "b") for i in range(30)], "id bigint, v string")
    errs = []

    def run(frame):
        try:
            pgmod.write_pg(frame, "contended_t", {"conninfo": pg, "atomic": True})
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    threads = [threading.Thread(target=run, args=(f,)) for f in (a, b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    back = read_source(spark, "pglive", "contended_t", {"conninfo": pg})
    rows = [(r.id, r.v) for r in back.collect()]
    tags = {v for _, v in rows}
    assert tags in ({"a"}, {"b"})  # one complete batch, never a mix
    assert len(rows) == (50 if tags == {"a"} else 30)


@pg_required
@pytest.mark.parametrize("atomic", [False, True], ids=["append", "replace"])
def test_concurrent_first_writes_create_the_target_once(pg, spark, atomic):
    """Two writers into an ABSENT target: the existence check and the
    CREATE run in one transaction under an advisory lock on the target
    name, so one writer creates the table and the other finds it —
    neither fails on a duplicate relation or type. Appends land both
    batches; replaces leave one complete batch."""
    import etl_data_pipeline_spark.sources.pg_libpq as pgmod
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    a = spark.createDataFrame([(i, "a") for i in range(50)], "id bigint, v string")
    b = spark.createDataFrame([(i, "b") for i in range(30)], "id bigint, v string")
    for _ in range(3):
        target = f"first_{uuid.uuid4().hex[:8]}"
        errs = []

        def run(frame):
            try:
                pgmod.write_pg(frame, target, {"conninfo": pg, "atomic": atomic})
            except Exception as e:  # pragma: no cover - failure detail
                errs.append(e)

        threads = [threading.Thread(target=run, args=(f,)) for f in (a, b)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs, errs
        with PgConnection(pg) as c:
            _, rows = c.execute(f"SELECT v, count(*) FROM {target} GROUP BY v")
        if atomic:
            assert sorted(rows) in ([("a", 50)], [("b", 30)])
        else:
            assert sorted(rows) == [("a", 50), ("b", 30)]


# ---- _range_predicates: bound coercion + integer stride ---------------


def test_range_predicates_accept_numeric_string_bounds():
    """Config-sourced bounds arrive as strings; '5'/'105' coerce to
    ints (the pre-r11 int() behavior) instead of raising the
    shared-type error."""
    from etl_data_pipeline_spark.sources.pg_libpq import _range_predicates

    preds = _range_predicates("id", "5", "105", 4)
    assert len(preds) == 4
    assert preds[0] == '"id" < 31 OR "id" IS NULL'
    assert preds[-1] == '"id" >= 83'


def test_range_predicates_accept_iso_string_bounds():
    from etl_data_pipeline_spark.sources.pg_libpq import _range_predicates

    preds = _range_predicates("d", "2024-01-01", "2024-01-05", 2)
    assert preds == [
        '"d" < DATE \'2024-01-03\' OR "d" IS NULL',
        '"d" >= DATE \'2024-01-03\'',
    ]


def test_range_predicates_datetime_stride_is_integer_exact():
    """The stride derives from integer timedelta division — a range
    wide enough that float total_seconds() loses microseconds still
    slices on exact boundaries."""
    from etl_data_pipeline_spark.sources.pg_libpq import _range_predicates

    lo = dt.datetime(1, 1, 1)
    hi = dt.datetime(9999, 12, 31, 23, 59, 59, 654321)
    total_us = (hi - lo) // dt.timedelta(microseconds=1)
    preds = _range_predicates("ts", lo, hi, 3)
    want1 = lo + dt.timedelta(microseconds=total_us // 3)
    want2 = lo + dt.timedelta(microseconds=total_us * 2 // 3)
    assert f"TIMESTAMP '{want1.isoformat(sep=' ')}'" in preds[0]
    assert f"TIMESTAMP '{want2.isoformat(sep=' ')}'" in preds[2]


# ---- plans.global_window_count: balanced-paren capture ----------------


def test_global_window_count_balanced_parens():
    """Two DISTINCT unpartitioned specs that share every byte up to
    the first ')' (inside specifiedwindowframe) must count as two —
    the old [^)]* capture truncated both to one."""
    from etl_data_pipeline_spark.plans import global_window_count

    plan = (
        "Window [row_number() windowspecdefinition(a#1 ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))]\n"
        "Window [sum(x#9) windowspecdefinition(a#1 ASC NULLS FIRST, "
        "specifiedwindowframe(RangeFrame, unboundedpreceding$(), currentrow$()))]\n"
    )
    assert global_window_count(plan) == 2


def test_global_window_count_no_false_positive_on_nested_asc():
    """A PARTITIONED spec whose partition expression merely contains
    ' ASC' inside a nested call must not count; the direction test is
    a top-level suffix match."""
    from etl_data_pipeline_spark.plans import global_window_count

    plan = (
        "Window [rank() windowspecdefinition(somefn(b#2 ASC, c#3)#7, "
        "ts#4 ASC NULLS FIRST, specifiedwindowframe(RowFrame, "
        "unboundedpreceding$(), currentrow$()))]\n"
    )
    assert global_window_count(plan) == 0


def test_global_window_count_still_counts_partitioned_as_zero():
    from etl_data_pipeline_spark.plans import global_window_count

    plan = (
        "Window [row_number() windowspecdefinition(user#5L, ts#6 ASC "
        "NULLS FIRST, specifiedwindowframe(RowFrame, "
        "unboundedpreceding$(), currentrow$()))]\n"
    )
    assert global_window_count(plan) == 0


# ---- pglive default-change warning ------------------------------------


def test_pglive_default_emits_no_warning(monkeypatch):
    """The default config (conninfo only, as the CLI builds it) has one
    write path with one failure contract, so nothing is left to warn
    about — repeated writes and legacy keys alike stay silent."""
    from tests.test_pg_live import publish_tail

    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        publish_tail(monkeypatch, {})
        publish_tail(monkeypatch, {})
        publish_tail(monkeypatch, {"distributed": True})
    assert seen == []


def test_pglive_staged_routing(monkeypatch):
    """'staged' appends like the default; 'atomic' replaces with or
    without it."""
    from tests.test_pg_live import publish_tail

    assert publish_tail(monkeypatch, {"staged": True})[0].startswith(
        "INSERT INTO t ("
    )
    tail = publish_tail(monkeypatch, {"staged": True, "atomic": True})
    assert tail[-2].endswith(" RENAME TO t"), tail


# ---- corpus_domain_cap -------------------------------------------------


def test_domain_cap_invariants(spark, sf_dir):
    """Over-cap sources are downsampled toward the cap, under-cap
    sources are kept WHOLE (threshold exactly 1e6), the kept set is
    deterministic across runs, and no source's post-cap token count
    exceeds its pre-cap count."""
    from etl_data_pipeline_spark.llm.curation import (
        DOMAIN_CAP_SHARE,
        corpus_domain_cap,
    )

    rows = {r["source"]: r for r in corpus_domain_cap(spark, sf_dir).collect()}
    assert rows, "no sources"
    total = sum(r["tokens_pre"] for r in rows.values())
    capped = uncapped = 0
    for r in rows.values():
        assert 0 < r["keep_frac"] <= 1.0
        assert r["docs_kept"] <= r["docs_pre"]
        assert r["tokens_kept"] <= r["tokens_pre"]
        if r["tokens_pre"] <= DOMAIN_CAP_SHARE * total:
            # under the cap -> kept whole
            assert r["keep_frac"] == 1.0
            assert (r["docs_kept"], r["tokens_kept"]) == (
                r["docs_pre"],
                r["tokens_pre"],
            )
            uncapped += 1
        else:
            assert r["keep_frac"] < 1.0
            capped += 1
    # the pinned 0.05 share must exercise BOTH branches on the fixture
    assert capped > 0 and uncapped > 0, (capped, uncapped)
    # deterministic: a second run returns byte-identical audit rows
    again = {r["source"]: r for r in corpus_domain_cap(spark, sf_dir).collect()}
    assert rows == again


# ---- bench r1 subtotal ---------------------------------------------------


def test_bench_r1_headline_slice():
    """The self-adjudicating r1 subtotal must cover EXACTLY the 24
    round-1 queries (everything before the round-2 marker) — a
    reordering of BENCH_QUERIES that silently changed the floor's
    denominator would make the BASELINE comparison meaningless."""
    import bench

    assert len(bench.R1_HEADLINE) == 24
    assert bench.R1_HEADLINE[0] == "agg_groupby"
    assert bench.R1_HEADLINE[-1] == "pipeline_incremental"
    assert "text_contamination" not in bench.R1_HEADLINE
    assert set(bench.R1_HEADLINE) <= set(bench.BENCH_QUERIES)


# ---- with_global_position edge shapes (the pure-JVM r12 default) ----------


def test_global_position_edge_shapes(spark):
    """The JVM recipe's three fragile spots, pinned: (a) EMPTY range
    partitions (the offsets loop must skip missing partition ids
    without shifting later offsets), (b) heavy skew (one key owning
    most rows — positions still dense), (c) the degenerate 0- and
    1-row inputs. Each compared bit-for-bit against a global
    row_number() window."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from etl_data_pipeline_spark.functions.ranking import with_global_position

    # (a)+(b): 90% of rows share one sort key; pre-shuffled to many
    # partitions so the range sort sees a lopsided distribution and
    # some output partitions can come up empty
    df = spark.range(500).repartition(16).select(
        "id", F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k")
    )
    order = [F.asc("k"), F.desc("id")]
    got = {r.id: r.pos for r in with_global_position(df, order).collect()}
    want = {
        r.id: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    assert got == want

    # (c) degenerate sizes
    one = spark.range(1).select(F.col("id").alias("k"))
    assert [
        (r.k, r.pos)
        for r in with_global_position(one, [F.asc("k")]).collect()
    ] == [(0, 1)]
    empty = one.filter(F.lit(False))
    assert with_global_position(empty, [F.asc("k")]).collect() == []
    # empty input keeps the contract schema (pos column present)
    assert "pos" in with_global_position(empty, [F.asc("k")]).columns


# ---- run_incremental_domain_cap ------------------------------------------


def test_incremental_domain_cap_stream(spark, tmp_path):
    """Streaming domain capping: documents arrive in 3 chunks with one
    dominant source; every doc gets exactly one decision row judged
    under the threshold CURRENT at its arrival (state totals including
    its own batch); state totals never depend on keep decisions, so
    the final state thresholds equal the batch operator's audit on the
    same rows and the LAST batch's decisions match applying the final
    thresholds; a replayed run is a no-op."""
    import glob as _glob
    import hashlib
    import math
    import os
    import shutil

    from pyspark.sql import functions as F

    from etl_data_pipeline_spark.streaming import jobs

    share = 0.3
    rows = []  # (doc_id, chunk, source, n_words)
    did = 0
    for chunk in range(3):
        # s_big floods every chunk; s0..s3 trickle
        for _ in range(12):
            rows.append((did, chunk, "s_big", 10)); did += 1
        for s in range(4):
            for _ in range(2):
                rows.append((did, chunk, f"s{s}", 10)); did += 1

    src = str(tmp_path / "docs_src")
    tgt = str(tmp_path / "domcap_tgt")
    stage = str(tmp_path / "docs_stage")
    os.makedirs(src)
    df = spark.createDataFrame(
        [
            (d, " ".join(f"w{d}_{i}" for i in range(n)), "en", s, n)
            for d, c, s, n in rows
        ],
        "doc_id long, text string, lang string, source string, n_chars bigint",
    )
    for c in range(3):
        ids = [d for d, cc, _, _ in rows if cc == c]
        part = df.filter(F.col("doc_id").isin(ids)).coalesce(1)
        stage_d = os.path.join(stage, f"c{c}")
        part.write.mode("overwrite").parquet(stage_d)
        pf = _glob.glob(os.path.join(stage_d, "part-*.parquet"))[0]
        shutil.move(pf, os.path.join(src, f"chunk_{c}.parquet"))

    q = jobs.run_incremental_domain_cap(spark, src, tgt, cap_share=share)
    q.awaitTermination(180)

    def py_hash(doc_id):
        h = hashlib.md5(f"domcap:{doc_id}".encode()).hexdigest()[:15]
        return int(h, 16) % 1000000

    def py_thresholds(upto_chunk):
        per = {}
        for d, c, s, n in rows:
            if c <= upto_chunk:
                per[s] = per.get(s, 0) + n
        total = sum(per.values())
        return {
            s: math.floor(min(1.0, share * float(total) / t) * 1000000 + 0.5)
            for s, t in per.items()
        }

    dec = {
        r.doc_id: r
        for r in spark.read.parquet(
            os.path.join(tgt, "domcap_decisions")
        ).collect()
    }
    assert sorted(dec) == [d for d, *_ in rows]  # every doc decided once

    # each decision was judged under the threshold current at arrival
    for d, c, s, n in rows:
        want_t = py_thresholds(c)[s]
        assert dec[d].keep_thresh == want_t, (d, c, s)
        want = "keep" if py_hash(d) < want_t else "skip_over_cap"
        assert dec[d].decision == want, (d, c, s)

    # both branches exercised: the flood source capped, trickles whole
    final_t = py_thresholds(2)
    assert final_t["s_big"] < 1000000
    assert all(final_t[f"s{s}"] == 1000000 for s in range(4))

    # state thresholds equal the batch operator's audit arithmetic on
    # the full corpus (the convergence contract)
    state = {
        r.source: r
        for r in spark.read.parquet(os.path.join(tgt, "domcap_state")).collect()
    }
    assert {s: r.keep_thresh for s, r in state.items()} == final_t
    per_docs = {}
    for d, c, s, n in rows:
        per_docs[s] = per_docs.get(s, 0) + 1
    assert {s: r.docs_pre for s, r in state.items()} == per_docs

    # replay: same source, same checkpoint — a no-op
    before = sorted(
        map(tuple, spark.read.parquet(os.path.join(tgt, "domcap_decisions")).collect())
    )
    q2 = jobs.run_incremental_domain_cap(spark, src, tgt, cap_share=share)
    q2.awaitTermination(180)
    after = sorted(
        map(tuple, spark.read.parquet(os.path.join(tgt, "domcap_decisions")).collect())
    )
    assert after == before


def test_domain_cap_decisions_consistent_with_audit(spark, sf_dir):
    """The doc-grain decisions roll up EXACTLY to the audit twin's
    per-source kept counts/tokens — both read _domain_cap_parts, so a
    drift here means the shared lineage was broken."""
    from etl_data_pipeline_spark.llm.curation import (
        corpus_domain_cap,
        corpus_domain_cap_decisions,
    )

    audit = {r["source"]: r for r in corpus_domain_cap(spark, sf_dir).collect()}
    rolled = {}
    for r in corpus_domain_cap_decisions(spark, sf_dir).collect():
        d, t = rolled.get(r["source"], (0, 0))
        if r["decision"] == "keep":
            rolled[r["source"]] = (d + 1, t + r["n_tokens"])
        else:
            rolled.setdefault(r["source"], (d, t))
    for s, a in audit.items():
        assert rolled[s] == (a["docs_kept"], a["tokens_kept"]), s


def test_incremental_domain_cap_kill_restart_sf01(spark, tmp_path):
    """Kill-restart soak for the domain-cap gate at sf0.1 scale (5000
    docs, 5 chunk files, maxFilesPerTrigger=1 so batching is
    deterministic): kill the query mid-stream under a processingTime
    trigger with the RocksDB store configured (exactly-once lives in
    the state artifact + batch-id fence, so the store must be inert),
    restart from the checkpoint, and require the final decisions AND
    state to equal a straight-through availableNow reference run
    byte-for-byte — and the final state thresholds to equal the batch
    operator's audit on the same corpus."""
    import glob as _glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from etl_data_pipeline_spark.llm.curation import corpus_domain_cap
    from etl_data_pipeline_spark.session import load_table
    from etl_data_pipeline_spark.streaming import jobs

    sfd = "/root/testdata/sf0.1"
    docs = load_table(spark, sfd, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    chunks = [ids[i::5] for i in range(5)]  # 5 interleaved chunks

    def deliver(src, stage, chunk_no):
        d = os.path.join(stage, f"c{chunk_no}")
        docs.filter(F.col("doc_id").isin(chunks[chunk_no])).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        part = _glob.glob(os.path.join(d, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src, f"chunk_{chunk_no}.parquet"))

    def decided_count(tgt):
        try:
            return (
                spark.read.parquet(os.path.join(tgt, "domcap_decisions"))
                .select("doc_id").distinct().count()
            )
        except Exception:
            return -1

    def state_rows(tgt):
        return sorted(
            (r.source, r.docs_pre, r.tokens_pre, r.keep_thresh)
            for r in spark.read.parquet(os.path.join(tgt, "domcap_state")).collect()
        )

    def decisions(tgt):
        return sorted(
            (r.doc_id, r.source, r.n_tokens, r.decision, r.keep_thresh)
            for r in spark.read.parquet(
                os.path.join(tgt, "domcap_decisions")
            ).collect()
        )

    # --- kill-restart run under processingTime + RocksDB ---
    src = str(tmp_path / "soak_src"); stage = str(tmp_path / "soak_stage")
    tgt = str(tmp_path / "soak_tgt")
    os.makedirs(src); os.makedirs(tgt)
    rocks = jobs.state_store_session(spark, "rocksdb")
    for i in range(3):
        deliver(src, stage, i)
    q1 = jobs.run_incremental_domain_cap(
        rocks, src, tgt, trigger={"processingTime": "200 milliseconds"}
    )
    deadline = time.time() + 180
    while time.time() < deadline:
        if decided_count(tgt) >= len(chunks[0]):  # >=1 batch committed
            break
        time.sleep(0.3)
    else:
        q1.stop()
        raise AssertionError("domcap soak phase 1: no progress in 180s")
    q1.stop()  # kill mid-stream
    q1.awaitTermination(60)
    for i in range(3, 5):
        deliver(src, stage, i)
    q2 = jobs.run_incremental_domain_cap(
        rocks, src, tgt, trigger={"processingTime": "200 milliseconds"}
    )

    def fully_settled():
        """All docs decided AND the state swap for the LAST batch
        landed (decisions are written before the state swap)."""
        if decided_count(tgt) != len(ids):
            return False
        try:
            st = spark.read.parquet(os.path.join(tgt, "domcap_state"))
            return (
                st.agg(F.sum("docs_pre")).first()[0] == len(ids)
            )
        except Exception:
            return False

    deadline = time.time() + 180
    while time.time() < deadline:
        if fully_settled():
            break
        time.sleep(0.3)
    q2.stop()
    q2.awaitTermination(60)
    assert decided_count(tgt) == len(ids)

    # --- straight-through reference run (availableNow, default store) ---
    src2 = str(tmp_path / "ref_src"); tgt2 = str(tmp_path / "ref_tgt")
    os.makedirs(src2); os.makedirs(tgt2)
    for i in range(5):
        deliver(src2, str(tmp_path / "ref_stage"), i)
    qr = jobs.run_incremental_domain_cap(spark, src2, tgt2)
    qr.awaitTermination(300)

    assert decisions(tgt) == decisions(tgt2)
    assert state_rows(tgt) == state_rows(tgt2)

    # final state thresholds == the batch operator's audit (same corpus)
    audit = {
        r["source"]: round(r["keep_frac"] * 1000000)
        for r in corpus_domain_cap(spark, sfd).collect()
    }
    assert {s: t for s, _, _, t in state_rows(tgt)} == audit
