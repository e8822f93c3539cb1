"""LIVE PostgreSQL integration: the reference's ACTUAL target engine
(util.py:190-271) executing the engine's generated SQL.

Rounds 1-9 verified the Postgres dialect contracts on stand-in
engines (DuckDB parses the quoting/DDL, Derby runs the JDBC loop)
because no PG driver was importable. The sandbox ships the full
PostgreSQL 15 server and libpq.so.5, so these tests boot a real
postgres (initdb + pg_ctl under an unprivileged user, unix socket,
no network) and run:

- the DDL type contract (jdbc_create_table_ddl dialect='postgres'),
  including the TIMESTAMP WITH TIME ZONE choice and microsecond
  round-trips;
- the identifier-case fold contract LIVE (unquoted folds DOWN on PG —
  the jdbc_ident_round_trips table's claim);
- error classification fed REAL server SQLSTATEs;
- the watermark pushdown subquery (jdbc_incremental_dbtable) for both
  id and timestamp watermark types, filtering ON THE SERVER;
- the reference's entire incremental loop END TO END: PG -> PG
  two-batch copy through IncrementalPipeline with the 'pglive'
  source/sink;
- the sink's one write path: partitions stage rows in parallel and
  one transaction publishes the batch (append, or replace with
  ``atomic: true``), so a failed batch leaves nothing behind and its
  replay loads every row once;
- the two read plans (driver-side and range-sliced), which share one
  typed decoder.

Skipped wholesale when the server binaries / libpq / the unprivileged
user are unavailable.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import subprocess
import types
import uuid

import pytest

PG_BIN = "/usr/lib/postgresql/15/bin"


def _can_run_pg() -> str | None:
    if not os.path.exists(os.path.join(PG_BIN, "initdb")):
        return "postgres binaries not installed"
    try:
        import ctypes

        ctypes.CDLL("libpq.so.5")
    except OSError:
        return "libpq.so.5 not loadable"
    if os.geteuid() == 0:
        # initdb refuses root; we need an unprivileged user to su to
        if shutil.which("su") is None:
            return "running as root with no su"
    return None


_SKIP = _can_run_pg()
pytestmark = pytest.mark.skipif(_SKIP is not None, reason=_SKIP or "")


def _run_as_pg_user(cmd: str) -> subprocess.CompletedProcess:
    if os.geteuid() == 0:
        return subprocess.run(
            ["su", "-s", "/bin/sh", "nobody", "-c", cmd],
            capture_output=True, text=True, cwd="/tmp",
        )
    return subprocess.run(
        ["/bin/sh", "-c", cmd], capture_output=True, text=True, cwd="/tmp"
    )


def publish_tail(monkeypatch, options: dict) -> list[str]:
    """The publish transaction ``_pglive_append`` sends for one write
    with ``options`` into an existing target ``t``, without a server:
    a stub connection records the statements and the partition leg is
    a no-op. Returns the statements after the last BEGIN."""
    from pyspark.sql import types as T

    import etl_data_pipeline_spark.sources.pg_libpq as pgmod
    from etl_data_pipeline_spark.sinks import _pglive_append

    sent: list[str] = []

    class Recorder:
        def __init__(self, conninfo):
            pass

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            pass

        def execute(self, sql, params=()):
            sent.append(sql)
            return None, [(1,)]  # the existence probe finds the target

    monkeypatch.setattr(pgmod, "PgConnection", Recorder)
    monkeypatch.setattr(pgmod, "_stage_partitions", lambda df, st, o: None)
    frame = types.SimpleNamespace(
        columns=["id"],
        schema=T.StructType([T.StructField("id", T.LongType())]),
    )
    _pglive_append(frame, "t", {"conninfo": "x", **options})
    return sent[len(sent) - sent[::-1].index("BEGIN"):]


@pytest.fixture(scope="module")
def pg(tmp_path_factory):
    """One real PostgreSQL server per module; yields the conninfo.
    Unix socket only (listen_addresses=''), trust auth, data dir owned
    by the unprivileged server user."""
    root = tmp_path_factory.mktemp("pglive")
    data = root / "data"
    sock = root / "sock"
    sock.mkdir()
    data.mkdir()
    if os.geteuid() == 0:
        shutil.chown(data, "nobody")
        shutil.chown(sock, "nobody")
        # su'd processes need to traverse the pytest tmp chain
        for p in (root, *root.parents):
            try:
                os.chmod(p, 0o755)
            except OSError:
                break
    r = _run_as_pg_user(
        f"{PG_BIN}/initdb -D {data} -A trust -U postgres"
    )
    if r.returncode != 0:
        pytest.skip(f"initdb failed: {r.stderr[-300:]}")
    r = _run_as_pg_user(
        f"{PG_BIN}/pg_ctl -D {data} -w "
        f"-o \"-k {sock} -c listen_addresses=''\" "
        f"-l {data}/server.log start"
    )
    if r.returncode != 0:
        pytest.skip(f"pg_ctl start failed: {r.stderr[-300:]}")
    try:
        yield f"host={sock} user=postgres dbname=postgres"
    finally:
        _run_as_pg_user(f"{PG_BIN}/pg_ctl -D {data} -m immediate stop")


def test_ddl_contract_executes_on_postgres(pg, spark):
    """jdbc_create_table_ddl(dialect='postgres') runs on the real
    engine; a microsecond TIMESTAMPTZ instant survives the round trip
    through the pglive sink + source."""
    from etl_data_pipeline_spark.sources import jdbc_create_table_ddl, read_source
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    ddl = jdbc_create_table_ddl(
        "typed_orders",
        "order_id bigint not null, price decimal(12,2), note string, "
        "ts timestamp, ratio double, blob binary, flag boolean",
        dialect="postgres",
    )
    with PgConnection(pg) as c:
        c.execute(ddl)
    from etl_data_pipeline_spark.sinks import write_sink

    df = spark.createDataFrame(
        [
            (
                1,
                __import__("decimal").Decimal("12.34"),
                "n",
                dt.datetime(2026, 1, 15, 7, 0, 0, 123456),
                0.5,
                b"\x00\xffpg",
                True,
            )
        ],
        "order_id bigint, price decimal(12,2), note string, ts timestamp, "
        "ratio double, blob binary, flag boolean",
    )
    write_sink(df, "pglive", "typed_orders", {"conninfo": pg})
    back = read_source(
        spark, "pglive", "typed_orders", {"conninfo": pg}
    ).collect()
    assert len(back) == 1
    r = back[0]
    assert r.order_id == 1 and float(r.price) == 12.34 and r.flag is True
    assert r.ts.microsecond == 123456  # TIMESTAMPTZ keeps micros
    assert bytes(r.blob) == b"\x00\xffpg"


def test_ident_case_fold_live_on_postgres(pg):
    """PG folds unquoted identifiers DOWN — exactly what
    jdbc_ident_round_trips('postgres') claims; quoted names preserve
    case and round-trip through the quoted reference."""
    from etl_data_pipeline_spark.sources import (
        jdbc_ident_round_trips,
        jdbc_quote_ident,
    )
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    with PgConnection(pg) as c:
        assert jdbc_ident_round_trips("CamelCase", "postgres") is False
        c.execute("CREATE TABLE CamelFold (x INTEGER)")
        _, rows = c.execute(
            "SELECT relname FROM pg_class WHERE relname = 'camelfold'"
        )
        assert rows == [("camelfold",)]  # folded down, the contract
        q = jdbc_quote_ident("CamelKeep", "postgres")
        c.execute(f"CREATE TABLE {q} (x INTEGER)")
        c.execute(f"INSERT INTO {q} VALUES (7)")
        _, rows = c.execute(f"SELECT x FROM {q}")
        assert rows == [(7,)]


def test_error_classification_on_real_pg_sqlstates(pg):
    """jdbc_error_class fed REAL PostgreSQL SQLSTATEs from provoked
    failures — the classification table verified against codes the
    actual engine emits."""
    from etl_data_pipeline_spark.sources import jdbc_error_class
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection, PgError

    with PgConnection(pg) as c:
        c.execute("CREATE TABLE errclass (k INTEGER PRIMARY KEY)")
        c.execute("INSERT INTO errclass VALUES (1)")
        with pytest.raises(PgError) as e:
            c.execute("INSERT INTO errclass VALUES (1)")
        assert e.value.sqlstate == "23505"
        assert jdbc_error_class(e.value.sqlstate, dialect="postgres") == "fatal"
        with pytest.raises(PgError) as e:
            c.execute("SELECT * FROM no_such_table_xyz")
        assert e.value.sqlstate == "42P01"
        assert jdbc_error_class(e.value.sqlstate, dialect="postgres") == "fatal"
        with pytest.raises(PgError) as e:
            c.execute("SELECT 'notanint'::integer")
        assert e.value.sqlstate == "22P02"
        assert jdbc_error_class(e.value.sqlstate, dialect="postgres") == "fatal"


def test_watermark_pushdown_filters_on_server(pg, spark):
    """The jdbc_incremental_dbtable subquery (dialect='postgres')
    executes on the real server for BOTH watermark types — the strict
    > boundary and the ANSI timestamp literal PG actually parses."""
    from etl_data_pipeline_spark.sources import (
        jdbc_incremental_dbtable,
        read_source,
    )
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    with PgConnection(pg) as c:
        c.execute("CREATE TABLE wm_src (id BIGINT, ts TIMESTAMP)")
        for i in range(5):
            c.execute(
                "INSERT INTO wm_src VALUES ($1, $2)",
                (i, dt.datetime(2026, 1, 1, 0, 0, i, 500000)),
            )
    sub = jdbc_incremental_dbtable("wm_src", "id", "id", "2", "postgres")
    got = read_source(spark, "pglive", "wm_src", {"conninfo": pg, "dbtable": sub})
    assert sorted(r.id for r in got.collect()) == [3, 4]  # strict >
    sub = jdbc_incremental_dbtable(
        "wm_src", "ts", "timestamp", "2026-01-01 00:00:02.500000", "postgres"
    )
    got = read_source(spark, "pglive", "wm_src", {"conninfo": pg, "dbtable": sub})
    assert sorted(r.id for r in got.collect()) == [3, 4]


def test_full_incremental_pipeline_pg_to_pg(pg, spark, tmp_path):
    """The reference's whole loop on its real target engine: a PG
    source table copied incrementally into a PG sink table through
    IncrementalPipeline — batch 1 loads all, new rows arrive, batch 2
    copies ONLY the delta (server-side pushdown), empty batch 3 skips
    and never touches the sink."""
    from etl_data_pipeline_spark.pipeline import IncrementalPipeline
    from etl_data_pipeline_spark.sources import jdbc_create_table_ddl
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection
    from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
    from etl_data_pipeline_spark.watermark import WatermarkStore

    src_tbl = f"src_{uuid.uuid4().hex[:8]}"
    dst_tbl = f"dst_{uuid.uuid4().hex[:8]}"
    with PgConnection(pg) as c:
        c.execute(f"CREATE TABLE {src_tbl} (id BIGINT, v TEXT)")
        c.execute(
            jdbc_create_table_ddl(dst_tbl, "id bigint, v string", "postgres")
        )
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
                sink_options={"conninfo": pg, "dbtable": dst_tbl},
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)
    r = pipe.run()[0]
    assert r.status == "loaded" and r.new_watermark == 2, (r.status, r.error)
    # delta arrives
    with PgConnection(pg) as c:
        c.execute(f"INSERT INTO {src_tbl} VALUES (3, 'v3'), (4, 'v4')")
    r = pipe.run()[0]
    assert r.status == "loaded" and r.new_watermark == 4
    # no new rows: skip, watermark frozen
    r = pipe.run()[0]
    assert r.status == "skipped_empty"
    with PgConnection(pg) as c:
        _, rows = c.execute(f"SELECT id, v FROM {dst_tbl} ORDER BY id")
    assert rows == [(0, "v0"), (1, "v1"), (2, "v2"), (3, "v3"), (4, "v4")]


def test_cli_contract_against_live_pg(pg, spark, tmp_path, monkeypatch, capsys):
    """The reference's CLI contract (`python app.py dev all`,
    app.py:31-46) executed against live PostgreSQL: env-configured
    pglive source/sink, tables_list registry, LAST_WATERMARK seeding,
    NEW_WATERMARK_<T>= stdout emission — the full operational surface
    on the real engine."""
    from etl_data_pipeline_spark.__main__ import main
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    src_tbl = f"cli_src_{uuid.uuid4().hex[:8]}"
    with PgConnection(pg) as c:
        c.execute(f"CREATE TABLE {src_tbl} (id BIGINT, v TEXT)")
        c.execute(f"CREATE TABLE {src_tbl}_dst (id BIGINT, v TEXT)")
        for i in range(4):
            c.execute(f"INSERT INTO {src_tbl} VALUES ($1, $2)", (i, f"v{i}"))
    registry = tmp_path / "tables_list"
    registry.write_text(
        "table_name,to_be_loaded,watermark_column,watermark_type\n"
        f"{src_tbl},yes,id,id\n"
    )
    monkeypatch.setenv("SOURCE_DB_TYPE", "pglive")
    monkeypatch.setenv("SOURCE_PG_CONNINFO", pg)
    monkeypatch.setenv("TARGET_DB_TYPE", "pglive")
    monkeypatch.setenv("TARGET_PG_CONNINFO", pg)
    # seed the watermark like the DAG does (app.py:99-100): rows <= 1
    # were already loaded by a previous life — copy only the delta
    monkeypatch.setenv(f"LAST_WATERMARK_{src_tbl.upper()}", "1")
    # the CLI's generic target naming: table name == sink dbtable, so
    # point the sink at the _dst table via the registry name? The CLI
    # writes to the TABLE NAME on the target — copy table-to-same-name
    # across engines is the reference's contract; here source and
    # target are one server, so pre-create a same-named sink is the
    # src table itself. Use a DEDICATED target database instead.
    with PgConnection(pg) as c:
        c.execute("CREATE DATABASE cli_target")
    tgt = pg.replace("dbname=postgres", "dbname=cli_target")
    with PgConnection(tgt) as c:
        c.execute(f"CREATE TABLE {src_tbl} (id BIGINT, v TEXT)")
    monkeypatch.setenv("TARGET_PG_CONNINFO", tgt)
    rc = main(
        ["dev", src_tbl, "--tables-list", str(registry),
         "--state", str(tmp_path / "wm.json")],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert f"NEW_WATERMARK_{src_tbl.upper()}=3" in out
    with PgConnection(tgt) as c:
        _, rows = c.execute(f"SELECT id FROM {src_tbl} ORDER BY id")
    assert [r[0] for r in rows] == [2, 3]  # only the post-seed delta


def test_retryable_sqlstate_live_serialization_conflict(pg):
    """The 'retryable' half of the classification proven on REAL
    codes: two SERIALIZABLE transactions with a write-skew cycle — the
    loser raises SQLSTATE 40001 (serialization_failure), which
    jdbc_error_class calls retryable (deadlock victims retry by
    definition)."""
    from etl_data_pipeline_spark.sources import jdbc_error_class
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection, PgError

    with PgConnection(pg) as setup:
        setup.execute("CREATE TABLE ser (k INT PRIMARY KEY, v INT)")
        setup.execute("INSERT INTO ser VALUES (1, 0), (2, 0)")
    c1, c2 = PgConnection(pg), PgConnection(pg)
    try:
        c1.execute("BEGIN ISOLATION LEVEL SERIALIZABLE")
        c2.execute("BEGIN ISOLATION LEVEL SERIALIZABLE")
        # classic write skew: each reads the row the other writes
        c1.execute("SELECT v FROM ser WHERE k = 2")
        c2.execute("SELECT v FROM ser WHERE k = 1")
        c1.execute("UPDATE ser SET v = 1 WHERE k = 1")
        c2.execute("UPDATE ser SET v = 1 WHERE k = 2")
        c1.execute("COMMIT")
        with pytest.raises(PgError) as e:
            c2.execute("COMMIT")
        assert e.value.sqlstate == "40001"
        assert (
            jdbc_error_class(e.value.sqlstate, dialect="postgres")
            == "retryable"
        )
    finally:
        c1.close()
        c2.close()


def test_pipeline_error_class_from_live_pg_failure(pg, spark, tmp_path):
    """A pglive table failing on a REAL server error surfaces
    error_class through the pipeline's isolation handler — the
    python-side (PgError.sqlstate) branch of the classification walk,
    the live twin of the Derby Java-chain test."""
    from etl_data_pipeline_spark.pipeline import IncrementalPipeline
    from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
    from etl_data_pipeline_spark.watermark import WatermarkStore

    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="absent_pg_table",
                source_format="pglive",
                source_options={"conninfo": pg},
                sink_options={"dir": str(tmp_path / "sink")},
            )
        ]
    )
    r = IncrementalPipeline(
        spark, spec, WatermarkStore(tmp_path / "wm.json")
    ).run()[0]
    assert r.status == "failed"
    assert r.error_class == "fatal", (r.error_class, r.error)


def test_partitioned_distributed_read(pg, spark):
    """The DISTRIBUTED live-PG read: N range slices, each task its own
    libpq connection (Spark-JDBC partitioned semantics — first slice
    unbounded below, last unbounded above, NULLs in slice 0). The
    union equals the driver-side read exactly, types included."""
    from etl_data_pipeline_spark.sources import read_source
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    with PgConnection(pg) as c:
        c.execute("CREATE TABLE part_src (id BIGINT, v DOUBLE PRECISION)")
        for i in range(50):
            c.execute(
                "INSERT INTO part_src VALUES ($1, $2)", (i, i * 0.5)
            )
        c.execute("INSERT INTO part_src VALUES (NULL, -1.0)")
    dist = read_source(
        spark,
        "pglive",
        "part_src",
        {
            "conninfo": pg,
            "partition_column": "id",
            "num_partitions": 4,
        },
    )
    assert dist.rdd.getNumPartitions() == 4
    got = sorted(
        ((r.id, r.v) for r in dist.collect()),
        key=lambda t: (t[0] is None, t[0]),
    )
    plain = read_source(spark, "pglive", "part_src", {"conninfo": pg})
    want = sorted(
        ((r.id, r.v) for r in plain.collect()),
        key=lambda t: (t[0] is None, t[0]),
    )
    assert got == want and len(got) == 51
    assert dist.schema == plain.schema


def test_distributed_write_round_trip(pg, spark):
    """The parallel write path: N partitions each stage their rows
    over their own connection; the table ends with exactly the
    frame's rows. The legacy 'distributed' key is ignored."""
    from pyspark.sql import functions as F

    from etl_data_pipeline_spark.sinks import write_sink
    from etl_data_pipeline_spark.sources import read_source
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    with PgConnection(pg) as c:
        c.execute("CREATE TABLE dist_sink (id BIGINT, v TEXT)")
    df = spark.range(200).select(
        "id", F.concat_ws("-", F.lit("v"), "id").alias("v")
    ).repartition(4)
    write_sink(df, "pglive", "dist_sink", {"conninfo": pg, "distributed": True})
    back = read_source(spark, "pglive", "dist_sink", {"conninfo": pg})
    got = sorted((r.id, r.v) for r in back.collect())
    assert got == [(i, f"v-{i}") for i in range(200)]


def test_complex_columns_rejected_loudly(pg, spark):
    """A list column must never silently land as its Python repr in a
    text parameter — the sink rejects complex types as pure config."""
    from pyspark.sql import functions as F

    from etl_data_pipeline_spark.sinks import write_sink

    df = spark.range(3).select("id", F.array(F.lit(1), F.lit(2)).alias("a"))
    with pytest.raises(ValueError, match="complex-typed"):
        write_sink(df, "pglive", "whatever", {"conninfo": pg})


# ---- round 11: atomic swap, tz safety, typmod fidelity, bounds -------


def test_atomic_swap_replaces_all_or_nothing(pg, spark):
    """``atomic: true``: the reference's per-table commit/rollback
    (util.py:233-242) as a staged table + ONE transactional
    DROP+RENAME on the live server — readers see complete old or
    complete new, never a mix; the stage table is gone afterwards."""
    from etl_data_pipeline_spark.sinks import write_sink
    from etl_data_pipeline_spark.sources import read_source
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, s string")
    write_sink(v1, "pglive", "atomic_t", {"conninfo": pg, "atomic": True})
    got = read_source(spark, "pglive", "atomic_t", {"conninfo": pg})
    assert sorted((r.id, r.s) for r in got.collect()) == [(1, "a"), (2, "b")]

    v2 = spark.createDataFrame([(9, "z")], "id bigint, s string")
    write_sink(v2, "pglive", "atomic_t", {"conninfo": pg, "atomic": True})
    got = read_source(spark, "pglive", "atomic_t", {"conninfo": pg})
    assert [(r.id, r.s) for r in got.collect()] == [(9, "z")]
    assert got.columns == ["id", "s"]  # the stage's __pid is dropped
    with PgConnection(pg) as c:
        _, rows = c.execute(
            "SELECT 1 FROM information_schema.tables "
            "WHERE table_name LIKE 'atomic_t__w%'"
        )
        assert rows == []  # stage renamed away, no orphan


def test_atomic_swap_crash_window_leaves_target_intact(pg, spark, monkeypatch):
    """A failure after the stage is written but BEFORE the publish
    transaction leaves the target untouched and drops the per-run
    stage; the next atomic run succeeds."""
    import etl_data_pipeline_spark.sources.pg_libpq as pgmod
    from etl_data_pipeline_spark.sources import read_source
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    replace = {"conninfo": pg, "atomic": True}
    v1 = spark.createDataFrame([(1, "keep")], "id bigint, s string")
    pgmod.write_pg(v1, "crash_t", replace)

    v2 = spark.createDataFrame([(2, "lost")], "id bigint, s string")
    real = pgmod._stage_partitions

    def boom(df, stage, options):
        real(df, stage, options)  # stage IS written...
        raise RuntimeError("simulated crash before the publish txn")

    monkeypatch.setattr(pgmod, "_stage_partitions", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        pgmod.write_pg(v2, "crash_t", replace)
    monkeypatch.undo()

    got = read_source(spark, "pglive", "crash_t", {"conninfo": pg})
    assert [(r.id, r.s) for r in got.collect()] == [(1, "keep")]  # intact
    with PgConnection(pg) as c:
        _, rows = c.execute(
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_name LIKE 'crash_t__w%'"
        )
        assert rows == []  # the dead batch's stage was dropped

    v3 = spark.createDataFrame([(3, "new")], "id bigint, s string")
    pgmod.write_pg(v3, "crash_t", replace)
    got = read_source(spark, "pglive", "crash_t", {"conninfo": pg})
    assert [(r.id, r.s) for r in got.collect()] == [(3, "new")]


def test_timestamptz_instant_survives_non_utc_driver_tz(pg, spark):
    """ADVICE r10: with the session pinned to UTC on connect and
    timestamps rendered/parsed as UTC instants, a driver host in ANY
    timezone round-trips the same instant. Simulated by flipping the
    Python process TZ to America/New_York for the whole write+read;
    the partition writer also runs in-process, so its instant fixers
    meet the non-UTC zone as they would on a non-UTC executor."""
    import time

    import etl_data_pipeline_spark.sources.pg_libpq as pgmod
    from etl_data_pipeline_spark.sinks import write_sink
    from etl_data_pipeline_spark.sources import (
        jdbc_create_table_ddl,
        read_source,
    )
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    instant = "2024-06-01 12:34:56.789012+00"
    with PgConnection(pg) as c:
        c.execute("CREATE TABLE tz_src (ts timestamptz)")
        c.execute(f"INSERT INTO tz_src VALUES ('{instant}')")
        c.execute(
            jdbc_create_table_ddl("tz_dst", "ts timestamp", dialect="postgres")
        )
        c.execute("CREATE TABLE tz_stage (LIKE tz_dst)")
        c.execute('ALTER TABLE tz_stage ADD COLUMN "__pid" integer')
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        df = read_source(spark, "pglive", "tz_src", {"conninfo": pg})
        write_sink(df, "pglive", "tz_dst", {"conninfo": pg})
        pgmod._write_staged_partition(
            pg, "tz_stage", df.columns, pgmod._instant_fixers(df.schema),
            0, df.collect(),
        )
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    with PgConnection(pg) as c:  # session tz pinned UTC -> text is UTC
        c.execute("INSERT INTO tz_dst SELECT ts FROM tz_stage")
        _, rows = c.execute("SELECT ts::text FROM tz_dst")
        assert rows == [(instant,), (instant,)]


def test_numeric_typmod_precision_scale(pg, spark):
    """ADVICE r10: NUMERIC columns read with their DECLARED
    precision/scale (PQfmod), so scale-7 digits are not silently
    rounded by a fixed DecimalType(38,6); unparameterized numeric
    falls back to lossless strings."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from etl_data_pipeline_spark.sources import read_source
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    with PgConnection(pg) as c:
        c.execute(
            "CREATE TABLE nums (a numeric(12,4), b numeric(20,8), c numeric)"
        )
        c.execute(
            "INSERT INTO nums VALUES "
            "(12345678.1234, 999999999999.12345678, 1.000000000000000001)"
        )
    df = read_source(spark, "pglive", "nums", {"conninfo": pg})
    by_name = {f.name: f.dataType for f in df.schema.fields}
    assert by_name["a"] == T.DecimalType(12, 4)
    assert by_name["b"] == T.DecimalType(20, 8)
    assert by_name["c"] == T.StringType()
    r = df.collect()[0]
    assert r.a == Decimal("12345678.1234")
    assert r.b == Decimal("999999999999.12345678")  # scale 8 intact
    assert r.c == "1.000000000000000001"  # every digit preserved


def test_partitioned_read_timestamp_bounds(pg, spark):
    """read_pg_partitioned accepts a timestamp partition_column (the
    Spark-JDBC parity the int-only version crashed on) — N server-side
    range scans, no row lost at the slice edges."""
    from etl_data_pipeline_spark.sources import read_source
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    with PgConnection(pg) as c:
        c.execute("CREATE TABLE ts_part (id int, ts timestamp)")
        c.execute(
            "INSERT INTO ts_part "
            "SELECT g, TIMESTAMP '2024-01-01' + g * INTERVAL '7 hours' "
            "FROM generate_series(0, 99) g"
        )
    got = read_source(
        spark,
        "pglive",
        "ts_part",
        {
            "conninfo": pg,
            "partitioned": True,
            "partition_column": "ts",
            "num_partitions": 4,
        },
    )
    assert got.rdd.getNumPartitions() >= 1
    rows = got.collect()
    assert sorted(r.id for r in rows) == list(range(100))


def test_partitioned_read_rejects_text_partition_column(pg, spark):
    """A text partition_column is a CLEAR config-time ValueError, not a
    raw int()/arithmetic TypeError after the bounds probe."""
    from etl_data_pipeline_spark.sources import read_source
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    with PgConnection(pg) as c:
        c.execute("CREATE TABLE txt_part (id int, name text)")
        c.execute("INSERT INTO txt_part VALUES (1, 'a'), (2, 'b')")
    with pytest.raises(ValueError, match="integral, date or timestamp"):
        read_source(
            spark,
            "pglive",
            "txt_part",
            {
                "conninfo": pg,
                "partitioned": True,
                "partition_column": "name",
                "num_partitions": 2,
            },
        )


def test_connection_failures_carry_retryable_sqlstate():
    """ADVICE r10: connection-level PgErrors carry a synthetic class-08
    SQLSTATE so the pipeline's transient-retry classifier fires for
    the most canonical transient failure (server unreachable)."""
    from etl_data_pipeline_spark.sources import jdbc_error_class
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection, PgError

    with pytest.raises(PgError) as e:
        PgConnection("host=/nonexistent-socket-dir user=postgres dbname=x")
    assert e.value.sqlstate == "08001"
    assert jdbc_error_class(e.value.sqlstate, dialect="postgres") == "retryable"


def test_literal_insert_matches_parameterized_write(pg, spark):
    """The recorded-wire-format renderer's POSTGRES branch executes on
    the live server and stores values IDENTICAL to the parameterized
    pglive writer — the live half of the MySQL wire-format goldens
    (tests/test_jdbc_dialects.py): both dialects share one renderer
    skeleton, so proving the postgres branch against a real engine
    backs the recorded MySQL byte strings."""
    import datetime as dt
    from decimal import Decimal

    from etl_data_pipeline_spark.sinks import write_sink
    from etl_data_pipeline_spark.sources import (
        jdbc_create_table_ddl,
        jdbc_insert_statement,
    )
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    schema = (
        "order_id bigint not null, price decimal(12,2), note string, "
        "ts timestamp, ratio double, blob binary, flag boolean"
    )
    cols = ["order_id", "price", "note", "ts", "ratio", "blob", "flag"]
    row = (
        7,
        Decimal("99.01"),
        "O'Brien \\ backslash",
        dt.datetime(2026, 2, 28, 23, 59, 59, 999999),
        0.25,
        b"\x00\xffpg",
        False,
    )
    with PgConnection(pg) as c:
        c.execute(jdbc_create_table_ddl("wire_lit", schema, "postgres"))
        c.execute(jdbc_create_table_ddl("wire_par", schema, "postgres"))
        c.execute(jdbc_insert_statement("wire_lit", cols, [row], "postgres"))
    df = spark.createDataFrame([row], schema.replace(" not null", ""))
    write_sink(df, "pglive", "wire_par", {"conninfo": pg})
    with PgConnection(pg) as c:
        _, lit = c.execute("SELECT * FROM wire_lit")
        _, par = c.execute("SELECT * FROM wire_par")
    assert lit == par  # byte-rendered and $n-parameterized agree
    assert lit[0][2] == "O'Brien \\ backslash"  # escaping survived
    assert lit[0][3].microsecond == 999999


def test_full_refresh_pipeline_atomic_replace_no_duplicates(pg, spark, tmp_path):
    """A FULL-LOAD table (no watermark — the reference registry's
    non-incremental shape) on the pglive sink with ``atomic: true``
    REPLACES the target each run instead of append-duplicating: two
    pipeline runs leave exactly one copy, and upstream deletes
    propagate (append semantics can never remove a row)."""
    from etl_data_pipeline_spark.pipeline import IncrementalPipeline
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection
    from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
    from etl_data_pipeline_spark.watermark import WatermarkStore

    src_tbl = f"fr_src_{uuid.uuid4().hex[:8]}"
    dst_tbl = f"{src_tbl}_dst"
    with PgConnection(pg) as c:
        c.execute(f"CREATE TABLE {src_tbl} (id BIGINT, v TEXT)")
        c.execute(f"INSERT INTO {src_tbl} VALUES (1, 'a'), (2, 'b')")

    spec = PipelineSpec(
        tables=[
            TableSpec(
                name=src_tbl,
                source_format="pglive",
                source_options={"conninfo": pg},
                sink_format="pglive",
                sink_options={"conninfo": pg, "dbtable": dst_tbl, "atomic": True},
            )
        ]
    )
    pipe = IncrementalPipeline(spark, spec, WatermarkStore(tmp_path / "wm.json"))
    assert pipe.run()[0].status == "loaded"
    assert pipe.run()[0].status == "loaded"  # full refresh re-runs
    with PgConnection(pg) as c:
        _, rows = c.execute(f"SELECT id, v FROM {dst_tbl} ORDER BY id")
    assert rows == [(1, "a"), (2, "b")]  # ONE copy after two runs

    with PgConnection(pg) as c:  # upstream delete + insert propagate
        c.execute(f"DELETE FROM {src_tbl} WHERE id = 1")
        c.execute(f"INSERT INTO {src_tbl} VALUES (3, 'c')")
    assert pipe.run()[0].status == "loaded"
    with PgConnection(pg) as c:
        _, rows = c.execute(f"SELECT id, v FROM {dst_tbl} ORDER BY id")
    assert rows == [(2, "b"), (3, "c")]


def test_distributed_write_rolls_back_failed_partition(pg, spark):
    """The stage carries the target's constraints: a partition failing
    mid-write (constraint violation in a later chunk) fails the whole
    write before the publish, so the target holds ZERO rows — neither
    the chunks that landed before the failure nor the partitions that
    finished cleanly."""
    from pyspark.sql import functions as F

    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection, write_pg

    with PgConnection(pg) as c:
        c.execute("CREATE TABLE txn_t (id bigint CHECK (id >= 0))")
    # three partitions of >2 insert chunks (500 rows/statement), with
    # the violating row in the LAST chunk of the last partition
    df = spark.range(0, 3600, numPartitions=3).select(
        F.when(F.col("id") == 3550, F.lit(-1)).otherwise(F.col("id")).alias("id")
    )
    with pytest.raises(Exception, match="check|violates|23514"):
        write_pg(df, "txn_t", {"conninfo": pg})
    with PgConnection(pg) as c:
        _, rows = c.execute("SELECT count(*) FROM txn_t")
        assert rows == [(0,)]  # nothing of the failed batch survived
        _, rows = c.execute(
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_name LIKE 'txn_t__w%'"
        )
        assert rows == []


def test_atomic_swap_schema_qualified_target(pg, spark):
    """A schema-qualified atomic target stages and swaps inside ITS
    schema (the existence probe must not consult current_schema for a
    qualified name), and mixed-case targets are rejected up front."""
    import etl_data_pipeline_spark.sources.pg_libpq as pgmod
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    with PgConnection(pg) as c:
        c.execute("CREATE SCHEMA IF NOT EXISTS aux")
    v1 = spark.createDataFrame([(1, "a")], "id bigint, s string")
    qual = {"conninfo": pg, "dbtable": "aux.qual_t", "atomic": True}
    pgmod.write_pg(v1, "x", qual)
    v2 = spark.createDataFrame([(2, "b")], "id bigint, s string")
    pgmod.write_pg(v2, "x", qual)
    with PgConnection(pg) as c:
        _, rows = c.execute("SELECT id, s FROM aux.qual_t")
        assert rows == [(2, "b")]  # replaced in the right schema
        _, leftover = c.execute(
            "SELECT 1 FROM information_schema.tables "
            "WHERE table_schema = 'aux' AND table_name LIKE 'qual_t__w%'"
        )
        assert leftover == []
    with pytest.raises(ValueError, match="plain lower-case"):
        pgmod.write_pg(v1, "x", {"conninfo": pg, "dbtable": '"Mixed"'})


def test_atomic_replace_keeps_serial_sequence(pg, spark):
    """Replacing a target whose ``serial`` column owns a sequence: the
    stage's copied default calls that sequence, so the publish hands
    it to the stage before dropping the target. Two replaces succeed
    and a later default insert draws from the same sequence."""
    import etl_data_pipeline_spark.sources.pg_libpq as pgmod
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    with PgConnection(pg) as c:
        c.execute("CREATE TABLE ser_t (id serial, v text)")
        _, rows = c.execute("INSERT INTO ser_t (v) VALUES ('a') RETURNING id")
        assert rows == [(1,)]
    replace = {"conninfo": pg, "atomic": True}
    for i, v in ((100, "x"), (200, "y")):
        batch = spark.createDataFrame([(i, v)], "id int, v string")
        pgmod.write_pg(batch, "ser_t", replace)
    with PgConnection(pg) as c:
        _, rows = c.execute("INSERT INTO ser_t (v) VALUES ('z') RETURNING id")
        assert rows == [(2,)]  # the sequence carried on, not reset
        _, rows = c.execute("SELECT pg_get_serial_sequence('ser_t', 'id')")
        assert rows == [("public.ser_t_id_seq",)]
        _, rows = c.execute("SELECT id, v FROM ser_t ORDER BY id")
        assert rows == [(2, "z"), (200, "y")]


def test_atomic_replace_keeps_identity_sequence(pg, spark):
    """Replacing a target with a ``GENERATED … AS IDENTITY`` column: the
    stage gets its own identity sequence, so the publish moves it to
    the target's position. After 3 default inserts and a replace with
    id 1, the next default insert does not return 1."""
    import etl_data_pipeline_spark.sources.pg_libpq as pgmod
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection

    with PgConnection(pg) as c:
        c.execute(
            "CREATE TABLE idt (id int GENERATED BY DEFAULT AS IDENTITY, v text)"
        )
        for v in ("a", "b", "c"):
            c.execute("INSERT INTO idt (v) VALUES ($1)", (v,))
    batch = spark.createDataFrame([(1, "x")], "id int, v string")
    pgmod.write_pg(batch, "idt", {"conninfo": pg, "atomic": True})
    with PgConnection(pg) as c:
        _, rows = c.execute("INSERT INTO idt (v) VALUES ('z') RETURNING id")
        assert rows == [(4,)]
        _, rows = c.execute("SELECT id, v FROM idt ORDER BY id")
        assert rows == [(1, "x"), (4, "z")]


def test_failed_batch_publishes_nothing_and_replays_once(pg, spark, tmp_path):
    """With the CLI's sink options (conninfo, dbtable) a batch lands
    all-or-nothing: a row that violates the target's CHECK fails the
    run with the target still empty and the watermark unset, so the
    next run loads every row exactly once instead of appending again
    the partitions that landed before the failure."""
    from etl_data_pipeline_spark.pipeline import IncrementalPipeline
    from etl_data_pipeline_spark.sources.pg_libpq import PgConnection
    from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
    from etl_data_pipeline_spark.watermark import WatermarkStore

    src_tbl = f"rp_src_{uuid.uuid4().hex[:8]}"
    dst_tbl = f"{src_tbl}_dst"
    with PgConnection(pg) as c:
        c.execute(f"CREATE TABLE {src_tbl} (id BIGINT, v TEXT)")
        c.execute(
            f"INSERT INTO {src_tbl} "
            "SELECT g, 'v' || g FROM generate_series(0, 399) g"
        )
        c.execute(
            f"CREATE TABLE {dst_tbl} "
            "(id BIGINT CONSTRAINT not_350 CHECK (id <> 350), v TEXT)"
        )
    spec = PipelineSpec(
        tables=[
            TableSpec(
                name=src_tbl,
                watermark_column="id",
                watermark_type="id",
                source_format="pglive",
                source_options={"conninfo": pg},
                sink_format="pglive",
                sink_options={"conninfo": pg, "dbtable": dst_tbl},
            )
        ]
    )
    store = WatermarkStore(tmp_path / "wm.json")
    pipe = IncrementalPipeline(spark, spec, store)
    r = pipe.run()[0]
    assert r.status == "failed", (r.status, r.error)
    with PgConnection(pg) as c:
        _, rows = c.execute(f"SELECT count(*) FROM {dst_tbl}")
        assert rows == [(0,)]  # nothing published
        c.execute(f"ALTER TABLE {dst_tbl} DROP CONSTRAINT not_350")
    r = pipe.run()[0]
    assert r.status == "loaded" and r.new_watermark == 399, (r.status, r.error)
    with PgConnection(pg) as c:
        _, rows = c.execute(
            f"SELECT count(*), count(DISTINCT id) FROM {dst_tbl}"
        )
    assert rows == [(400, 400)]  # every id once
