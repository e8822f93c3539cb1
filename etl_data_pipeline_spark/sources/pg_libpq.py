"""Live PostgreSQL connector over libpq via ctypes — no pip installs.

The reference's target engine is PostgreSQL (util.py:190-271:
psycopg2 connect, execute_batch appends, fetchall reads). This module
is the thinnest client for it: ctypes bindings for the dozen libpq
calls the pipeline needs (connect, parameterized exec, text-mode
results, SQLSTATE extraction), plus the source and sink adapters the
connector registry mounts as format ``"pglive"``. The adapters share
every dialect contract (jdbc_incremental_dbtable /
jdbc_create_table_ddl / jdbc_error_class with dialect='postgres') with
the JDBC path, so the two cannot drift.

Reads have two plans. ``read_pg`` runs one SELECT on the driver (the
reference's fetchall shape, util.py:170); ``read_pg_partitioned``
splits the table into range slices over a user-named
``partition_column``, each read by its own Spark task over its own
connection. Both decode results with one typed decoder
(``PgConnection.query``), so they return the same schema and values.

Writes have one path, ``write_pg``: every Spark partition writes into
a per-run stage table, and one driver transaction publishes the stage
into the target — an append, or a replace with ``atomic: true``. A
batch lands all-or-nothing and exactly once.

Values cross in TEXT format both ways: PQexecParams with $n
placeholders (no literal escaping, no injection surface) and text
result parsing by type OID. Timestamps keep microseconds, and every
session runs with its timezone pinned to UTC.
"""

from __future__ import annotations

import ctypes
import datetime as dt
import re
import uuid
from decimal import Decimal

CONNECTION_OK = 0
PGRES_COMMAND_OK = 1
PGRES_TUPLES_OK = 2
PG_DIAG_SQLSTATE = ord("C")

# result-parse table by type OID (the common scalar types the harness
# tables use; anything unlisted stays a string — safe, lossless)
_OID_BOOL = 16
_OID_BYTEA = 17
_OID_INT8 = 20
_OID_INT2 = 21
_OID_INT4 = 23
_OID_FLOAT4 = 700
_OID_FLOAT8 = 701
_OID_DATE = 1082
_OID_TIMESTAMP = 1114
_OID_TIMESTAMPTZ = 1184
_OID_NUMERIC = 1700


class PgError(RuntimeError):
    """A libpq failure; carries ``sqlstate`` (may be None for
    connection-level errors) so callers can classify it with
    sources.jdbc_error_class(dialect='postgres')."""

    def __init__(self, message: str, sqlstate: str | None = None):
        super().__init__(message)
        self.sqlstate = sqlstate


_lib = None


def _libpq():
    global _lib
    if _lib is None:
        lib = ctypes.CDLL("libpq.so.5")
        lib.PQconnectdb.restype = ctypes.c_void_p
        lib.PQconnectdb.argtypes = [ctypes.c_char_p]
        lib.PQstatus.argtypes = [ctypes.c_void_p]
        lib.PQerrorMessage.restype = ctypes.c_char_p
        lib.PQerrorMessage.argtypes = [ctypes.c_void_p]
        lib.PQfinish.argtypes = [ctypes.c_void_p]
        lib.PQexecParams.restype = ctypes.c_void_p
        lib.PQexecParams.argtypes = [
            ctypes.c_void_p, ctypes.c_char_p, ctypes.c_int,
            ctypes.c_void_p, ctypes.POINTER(ctypes.c_char_p),
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_int,
        ]
        lib.PQresultStatus.argtypes = [ctypes.c_void_p]
        lib.PQresultErrorMessage.restype = ctypes.c_char_p
        lib.PQresultErrorMessage.argtypes = [ctypes.c_void_p]
        lib.PQresultErrorField.restype = ctypes.c_char_p
        lib.PQresultErrorField.argtypes = [ctypes.c_void_p, ctypes.c_int]
        lib.PQntuples.argtypes = [ctypes.c_void_p]
        lib.PQnfields.argtypes = [ctypes.c_void_p]
        lib.PQfname.restype = ctypes.c_char_p
        lib.PQfname.argtypes = [ctypes.c_void_p, ctypes.c_int]
        lib.PQftype.restype = ctypes.c_uint
        lib.PQftype.argtypes = [ctypes.c_void_p, ctypes.c_int]
        lib.PQfmod.restype = ctypes.c_int
        lib.PQfmod.argtypes = [ctypes.c_void_p, ctypes.c_int]
        lib.PQgetisnull.argtypes = [ctypes.c_void_p, ctypes.c_int, ctypes.c_int]
        lib.PQgetvalue.restype = ctypes.c_char_p
        lib.PQgetvalue.argtypes = [ctypes.c_void_p, ctypes.c_int, ctypes.c_int]
        lib.PQclear.argtypes = [ctypes.c_void_p]
        _lib = lib
    return _lib


def _parse_ts(s: str) -> dt.datetime:
    # "YYYY-MM-DD HH:MM:SS[.ffffff]" (naive)
    return dt.datetime.fromisoformat(s)


def _parse_tstz(s: str) -> dt.datetime:
    # "...+HH[:MM]" — normalize to naive UTC (engine session tz is UTC)
    d = dt.datetime.fromisoformat(s)
    return d.astimezone(dt.timezone.utc).replace(tzinfo=None)


def _parse_tstz_aware(s: str) -> dt.datetime:
    """UTC-AWARE variant for the Spark read adapters: createDataFrame
    interprets a NAIVE datetime in the driver-local timezone, so the
    naive-UTC convention of ``_parse_tstz`` would shift every instant
    on a non-UTC driver host; an aware value is unambiguous."""
    return dt.datetime.fromisoformat(s).astimezone(dt.timezone.utc)


_PARSERS = {
    _OID_BOOL: lambda s: s == "t",
    _OID_BYTEA: lambda s: bytes.fromhex(s[2:]) if s.startswith("\\x") else s.encode(),
    _OID_INT2: int,
    _OID_INT4: int,
    _OID_INT8: int,
    _OID_FLOAT4: float,
    _OID_FLOAT8: float,
    _OID_NUMERIC: Decimal,
    _OID_DATE: dt.date.fromisoformat,
    _OID_TIMESTAMP: _parse_ts,
    _OID_TIMESTAMPTZ: _parse_tstz,
}


def _render_param(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:  # aware → the UTC instant, naive
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "\\x" + bytes(v).hex()
    return str(v)


def _spark_type_for_oid(oid: int, fmod: int = -1):
    """Spark type for a result column. NUMERIC consults the typmod
    (PQfmod) for the declared precision/scale — ``numeric(p,s)`` packs
    them as ``((p << 16) | s) + 4``; an unparameterized ``numeric``
    (fmod == -1) or one beyond DecimalType's 38-digit ceiling falls
    back to StringType so no digit is silently rounded away (a fixed
    DecimalType(38,6) would truncate scale > 6 via Catalyst's
    changePrecision with no warning)."""
    from pyspark.sql import types as T

    if oid == _OID_NUMERIC:
        if fmod < 4:
            return T.StringType()
        precision = ((fmod - 4) >> 16) & 0xFFFF
        scale = (fmod - 4) & 0xFFFF
        if not (0 < precision <= 38 and 0 <= scale <= precision):
            return T.StringType()
        return T.DecimalType(precision, scale)
    return {
        _OID_BOOL: T.BooleanType(),
        _OID_BYTEA: T.BinaryType(),
        _OID_INT2: T.ShortType(),
        _OID_INT4: T.IntegerType(),
        _OID_INT8: T.LongType(),
        _OID_FLOAT4: T.FloatType(),
        _OID_FLOAT8: T.DoubleType(),
        _OID_DATE: T.DateType(),
        _OID_TIMESTAMP: T.TimestampNTZType(),
        _OID_TIMESTAMPTZ: T.TimestampType(),
    }.get(oid, T.StringType())


def _parser_for(oid: int, dtype):
    """Text parser matching ``dtype`` (``_spark_type_for_oid``'s
    answer): a StringType column — any unlisted OID, or a NUMERIC that
    fell back — keeps the server's text exactly, and timestamptz
    parses UTC-AWARE so Spark cannot re-read it in the local
    timezone."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.StringType):
        return str
    if oid == _OID_TIMESTAMPTZ:
        return _parse_tstz_aware
    return _PARSERS[oid]


def _decode_rows(lib, res, parsers) -> list[tuple]:
    return [
        tuple(
            None
            if lib.PQgetisnull(res, i, j)
            else parsers[j](lib.PQgetvalue(res, i, j).decode())
            for j in range(len(parsers))
        )
        for i in range(lib.PQntuples(res))
    ]


def _decode_plain(lib, res):
    """``(column names, rows)``, values parsed by ``_PARSERS``."""
    nf = lib.PQnfields(res)
    names = [lib.PQfname(res, j).decode() for j in range(nf)]
    parsers = [_PARSERS.get(lib.PQftype(res, j), str) for j in range(nf)]
    return names, _decode_rows(lib, res, parsers)


def _decode_typed(lib, res):
    """``(StructType, rows)``: each column's Spark type from its OID
    and typmod, each value parsed to match that type."""
    from pyspark.sql import types as T

    fields, parsers = [], []
    for j in range(lib.PQnfields(res)):
        oid = lib.PQftype(res, j)
        dtype = _spark_type_for_oid(oid, lib.PQfmod(res, j))
        fields.append(T.StructField(lib.PQfname(res, j).decode(), dtype, True))
        parsers.append(_parser_for(oid, dtype))
    return T.StructType(fields), _decode_rows(lib, res, parsers)


class PgConnection:
    """One libpq connection. ``execute`` runs one statement with $n
    text parameters and returns (columns, rows) for row-returning
    statements or (None, None) for commands; ``query`` runs one
    SELECT and returns it typed for Spark. Errors raise PgError with
    the server SQLSTATE attached."""

    def __init__(self, conninfo: str):
        lib = _libpq()
        self._lib = lib
        self._conn = lib.PQconnectdb(conninfo.encode())
        if not self._conn or lib.PQstatus(self._conn) != CONNECTION_OK:
            msg = (
                lib.PQerrorMessage(self._conn).decode(errors="replace")
                if self._conn
                else "PQconnectdb returned NULL"
            )
            if self._conn:
                lib.PQfinish(self._conn)
                self._conn = None
            # synthetic SQLSTATE 08001 (sqlclient_unable_to_establish_
            # sqlconnection): libpq attaches no state to connect-level
            # failures, but the pipeline's transient-retry classifier
            # keys on class 08 — without it a dropped server would
            # classify as fatal and never retry.
            raise PgError(f"postgres connect failed: {msg}", sqlstate="08001")
        # Pin the SESSION timezone: write paths render timestamp
        # parameters as naive-UTC wall clocks and timestamptz results
        # normalize to UTC — both are only instant-correct when the
        # server interprets/renders in UTC too. Without this, a remote
        # server with TimeZone != the driver host tz silently shifts
        # every timestamptz instant.
        self.execute("SET TIME ZONE 'UTC'")

    def execute(self, sql: str, params: tuple = ()):
        out = self._run(sql, params, _decode_plain)
        return (None, None) if out is None else out

    def query(self, sql: str):
        """Run one SELECT and return ``(StructType, rows)`` decoded by
        ``_decode_typed`` — the one decoder both read plans use, so a
        driver-side read and a sliced read of one table agree."""
        return self._run(sql, (), _decode_typed)

    def _run(self, sql: str, params: tuple, decode):
        lib = self._lib
        if self._conn is None:
            raise PgError("connection is closed")
        n = len(params)
        values = (ctypes.c_char_p * n)(
            *[
                None if (r := _render_param(p)) is None else r.encode()
                for p in params
            ]
        ) if n else None
        res = lib.PQexecParams(
            self._conn, sql.encode(), n, None, values, None, None, 0
        )
        if not res:
            # NULL result = libpq could not even allocate/send — the
            # canonical dropped-connection shape. Synthetic 08006
            # (connection_failure) so the retry classifier fires.
            msg = lib.PQerrorMessage(self._conn).decode(errors="replace")
            raise PgError(msg.strip() or "libpq returned NULL result",
                          sqlstate="08006")
        try:
            status = lib.PQresultStatus(res)
            if status == PGRES_COMMAND_OK:
                return None
            if status == PGRES_TUPLES_OK:
                return decode(lib, res)
            msg = lib.PQresultErrorMessage(res).decode(errors="replace")
            state = lib.PQresultErrorField(res, PG_DIAG_SQLSTATE)
            # a result error with NO server SQLSTATE is a client-side
            # failure (connection died mid-query before the server
            # could answer) — synthesize class-08 so retries fire
            raise PgError(
                msg.strip() or f"libpq status {status}",
                state.decode() if state else "08006",
            )
        finally:
            lib.PQclear(res)

    def close(self) -> None:
        if self._conn is not None:
            self._lib.PQfinish(self._conn)
            self._conn = None

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


# ---- connector-registry adapters (format "pglive") -------------------


def read_pg(spark, table: str, options: dict):
    """Source adapter: ONE text-mode SELECT on the driver, decoded by
    ``PgConnection.query`` and handed to Spark as a local DataFrame —
    the reference's fetchall shape (util.py:170). ``dbtable`` may be a
    table name or a ``(subquery) alias`` pushdown
    (jdbc_incremental_dbtable output) — either way the FILTER executes
    on the PostgreSQL server, not in Spark."""
    conninfo = options.get("conninfo")
    if not conninfo:
        raise ValueError("pglive source requires options['conninfo']")
    dbtable = options.get("dbtable", table)
    with PgConnection(conninfo) as c:
        schema, rows = c.query(f"SELECT * FROM {dbtable}")
    return spark.createDataFrame(rows, schema)


def read_pg_partitioned(spark, table: str, options: dict):
    """DISTRIBUTED live-PostgreSQL read — the Spark-JDBC partitioned
    shape on the real engine: N range predicates over
    ``partition_column`` (first slice unbounded below, last unbounded
    above — Spark's own jdbc semantics, so no row is lost outside the
    bounds), each executed by its OWN task over its OWN libpq
    connection via mapInPandas. The server sees N concurrent range
    scans and rows never funnel through the Spark driver. The schema
    probe and every slice decode with ``PgConnection.query``, the
    decoder ``read_pg`` uses. Requires libpq.so.5 on the executors
    (true in local mode and on any node with the postgres client
    library).

    options: conninfo, dbtable?, partition_column, num_partitions,
    lower_bound?, upper_bound? (bounds probed with one MIN/MAX query
    when absent — the same one-row probe Spark JDBC issues)."""
    import pandas as pd
    from pyspark.sql import functions as F

    conninfo = options.get("conninfo")
    if not conninfo:
        raise ValueError("pglive source requires options['conninfo']")
    dbtable = options.get("dbtable", table)
    pcol = options["partition_column"]
    n = int(options["num_partitions"])
    if n < 1:
        raise ValueError("num_partitions must be >= 1")

    with PgConnection(conninfo) as c:
        schema, _ = c.query(f"SELECT * FROM {dbtable} WHERE false")
        lo = options.get("lower_bound")
        hi = options.get("upper_bound")
        if lo is None or hi is None:
            _, rows = c.execute(
                f'SELECT min("{pcol}"), max("{pcol}") FROM {dbtable}'
            )
            lo = rows[0][0] if lo is None else lo
            hi = rows[0][1] if hi is None else hi
    if lo is None or hi is None or n == 1:  # empty table or one slice
        preds = [None] * 1
    else:
        preds = _range_predicates(pcol, lo, hi, n)
    seeds = spark.createDataFrame(
        [(i, p) for i, p in enumerate(preds)], "pid int, pred string"
    ).repartitionByRange(len(preds), F.col("pid"))

    def gen(pdfs):
        for pdf in pdfs:
            for pred in pdf["pred"]:
                where = f" WHERE {pred}" if pred and not pd.isna(pred) else ""
                with PgConnection(conninfo) as conn:
                    _, rows = conn.query(f"SELECT * FROM {dbtable}{where}")
                if rows:
                    yield pd.DataFrame(rows, columns=schema.names, dtype=object)

    return seeds.mapInPandas(gen, schema)


def _coerce_bound(v):
    """Typed form of a config-string bound: int, else ISO date, else
    ISO timestamp; any other string falls through unchanged and the
    shared-type check rejects it with the clear config error."""
    if not isinstance(v, str):
        return v
    try:
        return int(v)
    except ValueError:
        pass
    try:
        return dt.date.fromisoformat(v)
    except ValueError:
        pass
    try:
        return dt.datetime.fromisoformat(v)
    except ValueError:
        return v


def _range_predicates(pcol: str, lo, hi, n: int) -> list[str]:
    """Spark-JDBC-shaped range predicates over an integral, date or
    timestamp partition column: n slices, first unbounded below (+ IS
    NULL), last unbounded above, so no row escapes the bounds. A
    partition column of any other type is a config error, raised
    clearly instead of a raw int() TypeError after the bounds probe.

    User-supplied bounds arrive from env-keyed config as STRINGS —
    integer and ISO date/timestamp strings coerce to their typed form
    (``_coerce_bound``) before the shared-type check."""
    q = f'"{pcol}"'
    lo, hi = _coerce_bound(lo), _coerce_bound(hi)
    if isinstance(lo, bool) or isinstance(hi, bool) or not (
        type(lo) is type(hi)
        or (isinstance(lo, int) and isinstance(hi, int))
    ):
        raise ValueError(
            f"partition_column bounds must share a supported type; got "
            f"{type(lo).__name__}/{type(hi).__name__}"
        )
    if isinstance(lo, (int, dt.date, dt.datetime)) and hi < lo:
        # inverted user-supplied bounds would produce OVERLAPPING
        # slices (rows read twice) — a clear config error instead
        raise ValueError(
            f"partition bounds inverted: lower_bound {lo!r} > "
            f"upper_bound {hi!r}"
        )
    if isinstance(lo, int):
        lo, hi = int(lo), int(hi)
        stride = max(1, (hi - lo) // n + 1)
        bounds = [lo + i * stride for i in range(1, n)]
        fmt = str
    elif isinstance(lo, dt.datetime):
        # integer timedelta division, NOT float total_seconds(): a
        # float*1e6 round-trip loses sub-microsecond exactness on
        # extreme ranges (> ~292 years), skewing every slice boundary
        total_us = (hi - lo) // dt.timedelta(microseconds=1)
        bounds = [
            lo + dt.timedelta(microseconds=total_us * i // n)
            for i in range(1, n)
        ]
        fmt = lambda b: f"TIMESTAMP '{b.isoformat(sep=' ')}'"  # noqa: E731
    elif isinstance(lo, dt.date):
        total_days = (hi - lo).days
        bounds = [
            lo + dt.timedelta(days=total_days * i // n) for i in range(1, n)
        ]
        fmt = lambda b: f"DATE '{b.isoformat()}'"  # noqa: E731
    else:
        raise ValueError(
            f"partition_column must be integral, date or timestamp "
            f"(bounds probe returned {type(lo).__name__}); use a "
            f"different partition_column or the driver-side read"
        )
    preds = [f"{q} < {fmt(bounds[0])} OR {q} IS NULL"]
    for i in range(1, n - 1):
        preds.append(f"{q} >= {fmt(bounds[i - 1])} AND {q} < {fmt(bounds[i])}")
    preds.append(f"{q} >= {fmt(bounds[-1])}")
    return preds


def _reject_complex_columns(df) -> None:
    """The pglive sink speaks the reference's RELATIONAL shape: scalar
    columns only. A list/map/struct value would silently render as its
    Python repr inside a text parameter — reject at config time."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    if bad:
        raise ValueError(
            f"pglive sink: complex-typed columns {bad} are not writable as "
            f"text parameters — serialize them first (to_json) or use a "
            f"file-format sink"
        )


def _instant_fixers(schema):
    """Per-column converters for the write path: Spark hands
    TimestampType (instant) values to Python as NAIVE datetimes in the
    collecting process's LOCAL timezone — rendering that wall clock at
    a pinned-UTC server session would shift every instant on a
    non-UTC driver/executor host. Convert to the naive-UTC wall clock
    of the same instant. TimestampNTZType is a literal wall clock and
    passes through untouched (None converter)."""
    from pyspark.sql import types as T

    def to_utc(v):
        if v is None or v.tzinfo is not None:  # aware → _render_param
            return v
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)

    return [
        to_utc if isinstance(f.dataType, T.TimestampType) else None
        for f in schema.fields
    ]


def _fix_row(row, fixers):
    return tuple(
        v if fx is None else fx(v) for v, fx in zip(tuple(row), fixers)
    )


def write_pg(df, table: str, options: dict) -> None:
    """Sink adapter: publish ``df`` into ``options['dbtable']``
    (default ``table``) all-or-nothing and exactly once — the
    reference's per-table commit/rollback (util.py:233-242) without
    funnelling rows through the driver.

    1. One driver transaction, under ``pg_advisory_xact_lock`` on the
       target name, creates the target when absent (the shared
       postgres DDL contract) and a per-run stage
       ``<target>__w<token>`` shaped ``LIKE target INCLUDING ALL``
       plus an ``__pid integer`` column. The lock makes two first
       writers to an absent target create it once.
    2. Every Spark partition writes its rows into the stage
       (``_write_staged_partition``): one transaction per task attempt
       that wipes the partition id's earlier rows first, so a retried
       or speculative attempt replaces its predecessor.
    3. One driver transaction publishes. An append (the default) runs
       ``INSERT INTO target SELECT .. FROM stage`` and drops the stage;
       ``atomic: true`` replaces the target — drops ``__pid``, hands
       every sequence the target owns (a ``serial`` column's) to the
       stage's same column, drops the target and renames the stage
       into place (DDL is transactional here). Readers see the whole
       batch or none of it.

    The stage carries the target's constraints, so a violating row
    fails the write before anything is published. A failure before the
    publish commits leaves the target untouched and drops the stage
    best-effort; a killed driver can leave a ``__w<token>`` stage
    behind. Exactly-once holds when partition contents are
    deterministic across attempts — Spark's standing requirement for
    any transactional sink.

    The target must be a plain lower-case name, optionally
    schema-qualified: the statements use it unquoted, where PostgreSQL
    folds identifiers down. Its bare name must be at most 50 bytes so
    the stage name fits PostgreSQL's 63-byte identifier limit, past
    which the server silently truncates."""
    from etl_data_pipeline_spark.sources import jdbc_create_table_ddl

    conninfo = options.get("conninfo")
    if not conninfo:
        raise ValueError("pglive sink requires options['conninfo']")
    _reject_complex_columns(df)
    target = options.get("dbtable", table)
    if not re.fullmatch(r"[a-z_][a-z0-9_]*(\.[a-z_][a-z0-9_]*)?", target):
        raise ValueError(
            f"pglive sink requires a plain lower-case table name "
            f"(got {target!r}): the stage statements use the name "
            f"unquoted, where PostgreSQL folds identifiers down"
        )
    schema_name, _, bare_target = target.rpartition(".")
    bare_stage = f"{bare_target}__w{uuid.uuid4().hex[:10]}"
    if len(bare_stage.encode()) > 63:
        raise ValueError(
            f"pglive sink: stage name {bare_stage!r} exceeds "
            f"PostgreSQL's 63-byte identifier limit (target names must "
            f"be <= 50 bytes) — the server would silently truncate it"
        )
    stage = f"{schema_name}.{bare_stage}" if schema_name else bare_stage
    quoted = ", ".join(f'"{c}"' for c in df.columns)
    if options.get("atomic"):
        publish = [
            f'ALTER TABLE {stage} DROP COLUMN "__pid"',
            # a serial column's sequence is owned by the target, and the
            # stage's copied default still calls it: hand it to the
            # stage's column, or dropping the target fails (2BP01)
            f"DO $$ DECLARE r record; BEGIN FOR r IN "
            f"SELECT s.oid::regclass AS seq, a.attname AS col "
            f"FROM pg_depend d "
            f"JOIN pg_class s ON s.oid = d.objid AND s.relkind = 'S' "
            f"JOIN pg_attribute a "
            f"ON a.attrelid = d.refobjid AND a.attnum = d.refobjsubid "
            f"WHERE d.classid = 'pg_class'::regclass "
            f"AND d.refobjid = '{target}'::regclass AND d.deptype = 'a' "
            f"LOOP EXECUTE format('ALTER SEQUENCE %s OWNED BY {stage}.%I', "
            f"r.seq, r.col); END LOOP; END $$",
            f"DROP TABLE {target}",
            f"ALTER TABLE {stage} RENAME TO {bare_target}",
        ]
    else:
        publish = [
            f"INSERT INTO {target} ({quoted}) SELECT {quoted} FROM {stage}",
            f"DROP TABLE {stage}",
        ]
    # PQexecParams runs ONE statement per call; a BEGIN..COMMIT bracket
    # on one connection is still one transaction, and closing the
    # connection before COMMIT rolls it back
    with PgConnection(conninfo) as c:
        c.execute("BEGIN")
        c.execute(
            "SELECT pg_advisory_xact_lock(hashtextextended($1, 0))", (target,)
        )
        _, rows = c.execute(
            "SELECT 1 FROM information_schema.tables "
            "WHERE table_name = $1 "
            "AND table_schema = coalesce($2, current_schema())",
            (bare_target, schema_name or None),
        )
        if not rows:
            c.execute(jdbc_create_table_ddl(target, df.schema, dialect="postgres"))
        c.execute(f"CREATE TABLE {stage} (LIKE {target} INCLUDING ALL)")
        c.execute(f'ALTER TABLE {stage} ADD COLUMN "__pid" integer')
        c.execute("COMMIT")
    try:
        _stage_partitions(df, stage, options)
        with PgConnection(conninfo) as c:
            c.execute("BEGIN")
            for sql in publish:
                c.execute(sql)
            c.execute("COMMIT")
    except Exception:
        try:
            with PgConnection(conninfo) as c:
                c.execute(f"DROP TABLE IF EXISTS {stage}")
        except Exception:
            pass  # best-effort orphan cleanup; the original error wins
        raise


def _stage_partitions(df, stage: str, options: dict) -> None:
    """The distributed leg of ``write_pg``: each partition's task runs
    ``_write_staged_partition`` with its TaskContext partition id.
    Split out so the replay test can invoke the exact per-partition
    body twice for one pid."""
    conninfo = options["conninfo"]
    cols = df.columns
    fixers = _instant_fixers(df.schema)

    def write_partition(rows):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        _write_staged_partition(conninfo, stage, cols, fixers, pid, rows)

    df.foreachPartition(write_partition)


def _write_staged_partition(
    conninfo: str, stage: str, cols, fixers, pid: int, rows
) -> None:
    """One task attempt's stage write: xact-lock (stage, pid), wipe the
    pid's prior rows, insert this attempt's rows tagged with pid — all
    in ONE transaction, so a mid-write death rolls back cleanly and a
    completed replay leaves exactly one copy."""
    quoted = ", ".join(f'"{c}"' for c in cols) + ', "__pid"'
    ncols = len(cols) + 1
    per_stmt = max(1, min(500, 60000 // ncols))
    chunk: list[tuple] = []
    conn = None
    try:
        for row in rows:
            if conn is None:
                conn = PgConnection(conninfo)
                conn.execute("BEGIN")
                conn.execute(
                    "SELECT pg_advisory_xact_lock(hashtextextended($1, 0))",
                    (f"{stage}:{pid}",),
                )
                conn.execute(
                    f'DELETE FROM {stage} WHERE "__pid" = $1', (pid,)
                )
            chunk.append(_fix_row(row, fixers) + (pid,))
            if len(chunk) >= per_stmt:
                _insert_chunk(conn, stage, quoted, ncols, chunk)
                chunk = []
        if conn is not None:
            if chunk:
                _insert_chunk(conn, stage, quoted, ncols, chunk)
            conn.execute("COMMIT")
    finally:
        if conn is not None:
            conn.close()


def _insert_chunk(conn: PgConnection, target, quoted, ncols, chunk) -> None:
    values = ", ".join(
        "(" + ", ".join(f"${i * ncols + j + 1}" for j in range(ncols)) + ")"
        for i in range(len(chunk))
    )
    params = tuple(v for r in chunk for v in r)
    conn.execute(f'INSERT INTO {target} ({quoted}) VALUES {values}', params)
