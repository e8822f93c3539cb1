"""Live PostgreSQL connector over libpq via ctypes — no pip installs.

The reference's TARGET engine is PostgreSQL (util.py:190-271:
psycopg2 connect / execute_batch append / fetchall reads). Every
prior round verified the Postgres DIALECT contracts (quoting,
timestamp literals, DDL types, case folds) on stand-in engines
because no PG driver was importable — but the sandbox ships the full
PostgreSQL 15 server AND ``libpq.so.5``, so the generated SQL can be
executed on the real engine after all. This module is the thinnest
possible client: ctypes bindings for the dozen libpq calls the
pipeline needs (connect, parameterized exec, text-mode results,
SQLSTATE extraction), plus the source/sink adapters the connector
registry mounts as format ``"pglive"``.

SCALE HONESTY: the source adapter materializes the result set on the
DRIVER and hands Spark a local DataFrame — exactly the reference's
own shape (cursor.fetchall(), util.py:170), kept deliberately. The
100 TB path for a JDBC-speaking RDBMS is Spark's parallel JDBC source
(sources/__init__.py 'jdbc', partitioned reads, server-side pushdown)
— this adapter exists to run the REFERENCE-PARITY loop against a real
PostgreSQL (tests/test_pg_live.py boots one), sharing every dialect
contract (jdbc_incremental_dbtable / jdbc_create_table_ddl /
jdbc_error_class with dialect='postgres') with the JDBC path so the
two can never drift.

Values cross in TEXT format both ways: PQexecParams with $n
placeholders (no literal escaping, no injection surface) and text
result parsing by type OID — timestamps keep microseconds,
timestamptz normalizes to naive UTC (Spark's internal convention
under the engine's pinned UTC session timezone).
"""

from __future__ import annotations

import ctypes
import datetime as dt
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
_OID_TEXT = 25
_OID_FLOAT4 = 700
_OID_FLOAT8 = 701
_OID_VARCHAR = 1043
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


class PgConnection:
    """One libpq connection. ``execute`` runs one statement with $n
    text parameters and returns (columns, rows) for row-returning
    statements or (None, rowcount-ish None) for commands. Errors raise
    PgError with the server SQLSTATE attached."""

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
                return None, None
            if status == PGRES_TUPLES_OK:
                nf = lib.PQnfields(res)
                nt = lib.PQntuples(res)
                names = [lib.PQfname(res, j).decode() for j in range(nf)]
                parsers = [
                    _PARSERS.get(lib.PQftype(res, j), lambda s: s)
                    for j in range(nf)
                ]
                rows = [
                    tuple(
                        None
                        if lib.PQgetisnull(res, i, j)
                        else parsers[j](lib.PQgetvalue(res, i, j).decode())
                        for j in range(nf)
                    )
                    for i in range(nt)
                ]
                return names, rows
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

_SPARK_TO_PY = None  # (import pyspark lazily; this module is pure-ctypes)


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


def _parser_for(oid: int, fmod: int = -1):
    """Text parser matching ``_spark_type_for_oid``: a NUMERIC column
    that fell back to StringType must stay a string (not a Decimal),
    and timestamptz parses UTC-AWARE so createDataFrame can't
    re-interpret it in the driver-local timezone."""
    from pyspark.sql import types as T

    if oid == _OID_TIMESTAMPTZ:
        return _parse_tstz_aware
    if oid == _OID_NUMERIC and isinstance(
        _spark_type_for_oid(oid, fmod), T.StringType
    ):
        return lambda s: s
    return _PARSERS.get(oid, lambda s: s)


def read_pg(spark, table: str, options: dict):
    """Source adapter: run ONE text-mode SELECT on the driver and hand
    Spark the materialized rows — the reference's fetchall shape
    (util.py:170), see the module docstring for why that is kept.
    ``dbtable`` may be a table name or a ``(subquery) alias`` pushdown
    (jdbc_incremental_dbtable output) — either way the FILTER executes
    on the PostgreSQL server, not in Spark."""
    from pyspark.sql import types as T

    conninfo = options.get("conninfo")
    if not conninfo:
        raise ValueError("pglive source requires options['conninfo']")
    dbtable = options.get("dbtable", table)
    sql = f"SELECT * FROM {dbtable}"
    lib = _libpq()
    with PgConnection(conninfo) as c:
        res = lib.PQexecParams(c._conn, sql.encode(), 0, None, None, None, None, 0)
        try:
            if lib.PQresultStatus(res) != PGRES_TUPLES_OK:
                msg = lib.PQresultErrorMessage(res).decode(errors="replace")
                state = lib.PQresultErrorField(res, PG_DIAG_SQLSTATE)
                # no server SQLSTATE = the connection died mid-read —
                # synthesize class-08 like PgConnection.execute so the
                # retry classifier fires (was None pre-r12)
                raise PgError(msg.strip(), state.decode() if state else "08006")
            nf = lib.PQnfields(res)
            nt = lib.PQntuples(res)
            fields = []
            parsers = []
            for j in range(nf):
                oid = lib.PQftype(res, j)
                fmod = lib.PQfmod(res, j)
                fields.append(
                    T.StructField(
                        lib.PQfname(res, j).decode(),
                        _spark_type_for_oid(oid, fmod),
                        True,
                    )
                )
                parsers.append(_parser_for(oid, fmod))
            rows = [
                tuple(
                    None
                    if lib.PQgetisnull(res, i, j)
                    else parsers[j](lib.PQgetvalue(res, i, j).decode())
                    for j in range(nf)
                )
                for i in range(nt)
            ]
        finally:
            lib.PQclear(res)
    return spark.createDataFrame(rows, T.StructType(fields))


def _reject_complex_columns(df, where: str) -> None:
    """The pglive sinks speak the reference's RELATIONAL shape: scalar
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
            f"{where}: complex-typed columns {bad} are not writable as "
            f"text parameters — serialize them first (to_json) or use a "
            f"file-format sink"
        )


def _instant_fixers(schema):
    """Per-column converters for the write paths: Spark hands
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
    """Sink adapter: batched multi-row parameterized INSERTs — the
    reference's execute_batch append (util.py:226-247) with $n
    parameters instead of string-formatted literals. Collects the
    batch driver-side (reference parity; the Spark-parallel path is
    the 'jdbc' sink). Rows per statement are sized so the parameter
    count stays under libpq's 65535 limit."""
    conninfo = options.get("conninfo")
    if not conninfo:
        raise ValueError("pglive sink requires options['conninfo']")
    _reject_complex_columns(df, "pglive sink")
    target = options.get("dbtable", table)
    cols = df.columns
    quoted = ", ".join(f'"{c}"' for c in cols)
    fixers = _instant_fixers(df.schema)
    rows = [_fix_row(r, fixers) for r in df.collect()]
    if not rows:
        return
    per_stmt = max(1, min(500, 60000 // max(1, len(cols))))
    with PgConnection(conninfo) as c:
        # ONE transaction for the whole batch — the reference's
        # commit-at-end / rollback-on-error semantics (util.py:233-242,
        # psycopg2's implicit transaction): a mid-batch failure leaves
        # zero rows, not a partial prefix (connection close aborts).
        c.execute("BEGIN")
        for lo in range(0, len(rows), per_stmt):
            chunk = rows[lo : lo + per_stmt]
            values = ", ".join(
                "("
                + ", ".join(
                    f"${i * len(cols) + j + 1}" for j in range(len(cols))
                )
                + ")"
                for i in range(len(chunk))
            )
            params = tuple(v for r in chunk for v in r)
            c.execute(
                f'INSERT INTO {target} ({quoted}) VALUES {values}', params
            )
        c.execute("COMMIT")


def read_pg_partitioned(spark, table: str, options: dict):
    """DISTRIBUTED live-PostgreSQL read — the Spark-JDBC partitioned
    shape on the real engine: N range predicates over
    ``partition_column`` (first slice unbounded below, last unbounded
    above — Spark's own jdbc semantics, so no row is lost outside the
    bounds), each executed by its OWN task over its OWN libpq
    connection via mapInPandas. This is the scale path the driver-side
    ``read_pg`` adapter deliberately is not: the server sees N
    concurrent range scans and rows never funnel through the Spark
    driver. Requires libpq.so.5 on the executors (true in local mode
    and on any node with the postgres client library).

    options: conninfo, dbtable?, partition_column, num_partitions,
    lower_bound?, upper_bound? (bounds probed with one MIN/MAX query
    when absent — the same one-row probe Spark JDBC issues)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    conninfo = options.get("conninfo")
    if not conninfo:
        raise ValueError("pglive source requires options['conninfo']")
    dbtable = options.get("dbtable", table)
    pcol = options["partition_column"]
    n = int(options["num_partitions"])
    if n < 1:
        raise ValueError("num_partitions must be >= 1")

    lib = _libpq()
    with PgConnection(conninfo) as c:
        # schema probe: zero rows, full OID set
        res = lib.PQexecParams(
            c._conn,
            f"SELECT * FROM {dbtable} WHERE false".encode(),
            0, None, None, None, None, 0,
        )
        try:
            if lib.PQresultStatus(res) != PGRES_TUPLES_OK:
                msg = lib.PQresultErrorMessage(res).decode(errors="replace")
                state = lib.PQresultErrorField(res, PG_DIAG_SQLSTATE)
                # same class-08 fallback as read_pg / PgConnection.execute
                raise PgError(msg.strip(), state.decode() if state else "08006")
            nf = lib.PQnfields(res)
            names = [lib.PQfname(res, j).decode() for j in range(nf)]
            oids = [lib.PQftype(res, j) for j in range(nf)]
            fmods = [lib.PQfmod(res, j) for j in range(nf)]
        finally:
            lib.PQclear(res)
        lo = options.get("lower_bound")
        hi = options.get("upper_bound")
        if lo is None or hi is None:
            _, rows = c.execute(
                f'SELECT min("{pcol}"), max("{pcol}") FROM {dbtable}'
            )
            lo = rows[0][0] if lo is None else lo
            hi = rows[0][1] if hi is None else hi
    schema = T.StructType(
        [
            T.StructField(nm, _spark_type_for_oid(oid, fmod), True)
            for nm, oid, fmod in zip(names, oids, fmods)
        ]
    )
    # columns whose parse-by-OID value (Decimal) must be re-rendered as
    # text because the schema fell back to StringType (see _parser_for)
    stringify = [
        nm
        for nm, oid, fmod in zip(names, oids, fmods)
        if oid == _OID_NUMERIC
        and isinstance(_spark_type_for_oid(oid, fmod), T.StringType)
    ]
    # conn.execute parses timestamptz naive-UTC; Arrow would interpret
    # naive values in the session timezone — make them UTC-aware
    awareify = [
        nm for nm, oid in zip(names, oids) if oid == _OID_TIMESTAMPTZ
    ]
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
                    cols, rows = conn.execute(
                        f"SELECT * FROM {dbtable}{where}"
                    )
                if rows:
                    out = pd.DataFrame(rows, columns=cols, dtype=object)
                    for nm in stringify:
                        # format 'f', not str(): str(Decimal('1E-8'))
                        # is scientific notation, but the server's raw
                        # text (what driver-side read_pg returns for
                        # the same cell) never is — keep the two read
                        # paths byte-identical
                        out[nm] = out[nm].map(
                            lambda v: None if v is None else format(v, "f")
                        )
                    for nm in awareify:
                        out[nm] = out[nm].map(
                            lambda v: None
                            if v is None
                            else v.replace(tzinfo=dt.timezone.utc)
                        )
                    yield out

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
    numeric and ISO date/timestamp strings coerce to their typed form
    (the pre-r11 int() cast accepted \"5\"; r12 restores that and adds
    the temporal forms) before the shared-type check."""
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


def write_pg_distributed(df, table: str, options: dict) -> None:
    """DISTRIBUTED live-PostgreSQL append — the parallel twin of
    ``write_pg``: every Spark partition opens its OWN libpq connection
    and streams its rows as batched $n-parameterized multi-row
    INSERTs, so N tasks write concurrently and rows never funnel
    through the driver (Spark's own JDBC writer shape).

    Each partition writes inside ONE transaction: a task that dies
    mid-write rolls back (closing a libpq connection aborts its open
    transaction), so the ordinary task-retry path re-inserts its rows
    exactly once — stronger than Spark JDBC's autocommit-per-batch.
    The residual at-least-once window is a task whose COMMIT landed
    but whose success never reached the driver (stage retry after
    fetch failure, or speculative duplicates): callers needing
    exactly-once under those use an idempotent downstream (merge keys
    / staged swap), the engine's standing sink contract. The
    per-statement row count keeps parameters under libpq's 65535
    limit."""
    conninfo = options.get("conninfo")
    if not conninfo:
        raise ValueError("pglive sink requires options['conninfo']")
    _reject_complex_columns(df, "pglive distributed sink")
    target = options.get("dbtable", table)
    cols = df.columns
    quoted = ", ".join(f'"{c}"' for c in cols)
    ncols = len(cols)
    per_stmt = max(1, min(500, 60000 // max(1, ncols)))
    fixers = _instant_fixers(df.schema)

    def write_partition(rows):
        chunk: list[tuple] = []
        conn = None
        try:
            for row in rows:
                if conn is None:
                    conn = PgConnection(conninfo)
                    conn.execute("BEGIN")
                chunk.append(_fix_row(row, fixers))
                if len(chunk) >= per_stmt:
                    _insert_chunk(conn, target, quoted, ncols, chunk)
                    chunk = []
            if conn is not None:
                if chunk:
                    _insert_chunk(conn, target, quoted, ncols, chunk)
                conn.execute("COMMIT")
        finally:
            if conn is not None:
                conn.close()

    df.foreachPartition(write_partition)


def write_pg_atomic(df, table: str, options: dict) -> None:
    """All-or-nothing live-PostgreSQL REPLACE — the reference's
    per-table commit/rollback (util.py:233-242) upgraded to the real
    engine's transactional DDL: the batch lands in a staged table
    (distributed parallel INSERTs, no driver funnel), and ONE
    transaction drops the old target and renames the stage into place.
    PostgreSQL DDL is transactional, so readers see either the
    complete old table or the complete new one — a crash anywhere
    before the COMMIT leaves the target untouched (at worst an
    orphaned ``<target>__stage`` that the next run clears). Mirrors
    the file sinks' staged-swap contract (_overwrite_swap_locked) on
    the server side.

    The stage is created from the target's own shape when the target
    exists (``CREATE TABLE .. (LIKE .. INCLUDING ALL)``), else from
    the DataFrame schema via the shared postgres DDL contract.

    The target must be a plain (lower-case, optionally
    schema-qualified) name: every statement here names the stage
    unquoted, so a mixed-case or quoted dbtable would case-fold
    inconsistently between the DDL and the rename — rejected up front
    instead of failing with undefined_table mid-swap. The stage's bare
    name must also fit PostgreSQL's 63-byte identifier limit (NAMEDATALEN
    - 1) — past it the server SILENTLY truncates, so the later
    DROP/RENAME would address a different identifier; rejected up
    front too.

    Concurrency: two atomic writers to the same target share the fixed
    ``<target>__stage`` name, so the whole stage-write-swap sequence
    runs under a session-level advisory lock keyed on the target
    (``pg_advisory_lock(hashtextextended(target, 0))``, held on a
    dedicated connection whose close releases it even on a crash) —
    concurrent writers serialize instead of interleaving DROP/CREATE/
    INSERT on one stage."""
    import re

    from etl_data_pipeline_spark.sources import jdbc_create_table_ddl

    conninfo = options.get("conninfo")
    if not conninfo:
        raise ValueError("pglive sink requires options['conninfo']")
    _reject_complex_columns(df, "pglive atomic sink")
    target = options.get("dbtable", table)
    if not re.fullmatch(r"[a-z_][a-z0-9_]*(\.[a-z_][a-z0-9_]*)?", target):
        raise ValueError(
            f"pglive atomic sink requires a plain lower-case table name "
            f"(got {target!r}): the staged-rename statements use the name "
            f"unquoted, where PostgreSQL folds identifiers down"
        )
    stage = f"{target}__stage"
    # RENAME TO takes a bare name (the schema is kept), so split any
    # schema qualifier off the target for the final statement — and
    # check existence in THAT schema, not blindly current_schema()
    if "." in target:
        schema_name, bare_target = target.rsplit(".", 1)
    else:
        schema_name, bare_target = None, target
    bare_stage = f"{bare_target}__stage"
    if len(bare_stage.encode()) > 63:
        raise ValueError(
            f"pglive atomic sink: stage name {bare_stage!r} exceeds "
            f"PostgreSQL's 63-byte identifier limit (target names must "
            f"be <= 56 bytes) — the server would silently truncate it "
            f"and the rename would address a different identifier"
        )
    with PgConnection(conninfo) as lock_conn:
        # session-level lock: released by pg_advisory_unlock below or,
        # on any crash in between, by the server when this connection
        # drops — no orphaned lock
        lock_conn.execute(
            "SELECT pg_advisory_lock(hashtextextended($1, 0))", (target,)
        )
        try:
            with PgConnection(conninfo) as c:
                c.execute(f"DROP TABLE IF EXISTS {stage}")
                _, rows = c.execute(
                    "SELECT 1 FROM information_schema.tables "
                    "WHERE table_name = $1 "
                    "AND table_schema = coalesce($2, current_schema())",
                    (bare_target, schema_name),
                )
                if rows:
                    c.execute(
                        f"CREATE TABLE {stage} (LIKE {target} INCLUDING ALL)"
                    )
                else:
                    ddl = jdbc_create_table_ddl(
                        stage, df.schema, dialect="postgres"
                    )
                    c.execute(ddl)
            opts = dict(options)
            opts["dbtable"] = stage
            write_pg_distributed(df, stage, opts)
            with PgConnection(conninfo) as c:
                # PQexecParams runs ONE statement per call; the
                # BEGIN..COMMIT bracket on the same connection is
                # still a single transaction
                c.execute("BEGIN")
                try:
                    c.execute(f"DROP TABLE IF EXISTS {target}")
                    c.execute(f"ALTER TABLE {stage} RENAME TO {bare_target}")
                    c.execute("COMMIT")
                except Exception:
                    c.execute("ROLLBACK")
                    raise
        finally:
            lock_conn.execute(
                "SELECT pg_advisory_unlock(hashtextextended($1, 0))",
                (target,),
            )


def write_pg_staged(df, table: str, options: dict) -> None:
    """EXACTLY-ONCE distributed live-PostgreSQL append — closes
    ``write_pg_distributed``'s at-least-once window (a task whose
    COMMIT landed but whose success never reached the driver replays
    under stage retry / speculation) with a per-run stage table:

    1. the driver creates ``<target>__w<run-token>`` shaped like the
       target plus a ``__pid int`` column (and the target itself when
       absent, via the shared postgres DDL contract);
    2. every Spark partition writes its rows INTO THE STAGE in one
       transaction that first takes ``pg_advisory_xact_lock`` on
       (stage, partition-id) and DELETEs that partition's prior rows —
       a replayed or speculative attempt wipes its predecessor instead
       of duplicating it, and the xact lock serializes two live
       attempts of the same partition;
    3. the driver publishes with ONE transaction — ``INSERT INTO
       target SELECT <cols> FROM stage`` + ``DROP TABLE stage`` (DDL
       is transactional here) — so readers see all rows or none, and
       any pre-publish failure leaves the target untouched (the stage
       is dropped best-effort on the way out).

    Exactly-once holds when partition contents are deterministic
    across attempts — Spark's standing requirement for any
    transactional sink. Same plain-name and 63-byte identifier rules
    as ``write_pg_atomic``."""
    import re
    import uuid

    from etl_data_pipeline_spark.sources import jdbc_create_table_ddl

    conninfo = options.get("conninfo")
    if not conninfo:
        raise ValueError("pglive sink requires options['conninfo']")
    _reject_complex_columns(df, "pglive staged sink")
    target = options.get("dbtable", table)
    if not re.fullmatch(r"[a-z_][a-z0-9_]*(\.[a-z_][a-z0-9_]*)?", target):
        raise ValueError(
            f"pglive staged sink requires a plain lower-case table name "
            f"(got {target!r}): the stage statements use the name "
            f"unquoted, where PostgreSQL folds identifiers down"
        )
    if "." in target:
        schema_name, bare_target = target.rsplit(".", 1)
    else:
        schema_name, bare_target = None, target
    token = uuid.uuid4().hex[:10]
    bare_stage = f"{bare_target}__w{token}"
    if len(bare_stage.encode()) > 63:
        raise ValueError(
            f"pglive staged sink: stage name {bare_stage!r} exceeds "
            f"PostgreSQL's 63-byte identifier limit (target names must "
            f"be <= 50 bytes) — the server would silently truncate it"
        )
    stage = (
        f"{schema_name}.{bare_stage}" if schema_name is not None else bare_stage
    )
    cols = df.columns
    quoted = ", ".join(f'"{c}"' for c in cols)
    with PgConnection(conninfo) as c:
        _, rows = c.execute(
            "SELECT 1 FROM information_schema.tables "
            "WHERE table_name = $1 "
            "AND table_schema = coalesce($2, current_schema())",
            (bare_target, schema_name),
        )
        if not rows:
            c.execute(jdbc_create_table_ddl(target, df.schema, dialect="postgres"))
        c.execute(f"CREATE TABLE {stage} (LIKE {target})")
        c.execute(f'ALTER TABLE {stage} ADD COLUMN "__pid" integer')
    try:
        _stage_partitions(df, stage, options)
        with PgConnection(conninfo) as c:
            c.execute("BEGIN")
            try:
                c.execute(
                    f"INSERT INTO {target} ({quoted}) "
                    f"SELECT {quoted} FROM {stage}"
                )
                c.execute(f"DROP TABLE {stage}")
                c.execute("COMMIT")
            except Exception:
                c.execute("ROLLBACK")
                raise
    except Exception:
        try:
            with PgConnection(conninfo) as c:
                c.execute(f"DROP TABLE IF EXISTS {stage}")
        except Exception:
            pass  # best-effort orphan cleanup; the original error wins
        raise


def _stage_partitions(df, stage: str, options: dict) -> None:
    """The distributed leg of ``write_pg_staged``: each partition's
    task runs ``_write_staged_partition`` with its TaskContext
    partition id. Split out so the replay test can invoke the exact
    per-partition body twice for one pid."""
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
