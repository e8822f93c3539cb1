"""Pure-Python Avro Object Container File (OCF) support as a Spark
DataSource — closes the engine's one missing file format.

The spark-avro module is an external jar this environment cannot
fetch, but the FORMAT is public and simple (Avro 1.12 spec: binary
encoding + object container files), so the engine implements it
directly on Spark 4's Python DataSource API, the same mechanism as
the ``manifest_table`` stream source (streaming/manifest_source.py):

- ``spark.read.format("avro_py").load(path)`` — schema inferred from
  the file header; reads are SPLIT BY BYTE RANGE with Hadoop-style
  sync-marker scanning, so ONE large .avro file parallelizes across
  executors exactly like the native formats (a 100 TB posture
  requirement: per-file partitions would serialize on big files);
- ``df.write.format("avro_py").mode(...).save(path)`` — one file per
  task staged then atomically published on driver commit, deflate
  codec by default.

Type coverage (both directions): null/boolean/int/long/float/double/
bytes/string, record (struct), array, map (string keys), enum->string,
fixed->binary, union-with-null (nullability), logical types date and
timestamp-millis/micros. Unions of multiple non-null branches and
decimal logical types are rejected with a clear error — they have no
faithful Spark mapping at this layer.

Interop is tested against the JVM Avro implementation bundled with
Spark (jars/avro-1.12.1.jar) via py4j: files written here are read by
``org.apache.avro.file.DataFileReader`` and vice versa
(tests/test_avro.py) — cross-implementation, not self-consistent-only.

Throughput: flat records decode COLUMNAR — a structural scan finds
field boundaries (compiled C helper when a system cc exists, built
once per host and ctypes-loaded; generated-Python fallback otherwise),
then numpy gathers build whole Arrow columns which the reader yields
as RecordBatches, skipping Spark's per-row conversion entirely.
Measured on the 3-column record: ~2.5M rows/s/core with the C scan
(~7x the per-row closure tree, which remains the path for nested
schemas and the documented fallback — ~0.7M rows/s columnar without a
compiler). The WRITE path is columnar too: the Spark Arrow writer
encodes each flat-record batch as one Avro block with numpy varint
matrices + offset scatters (~2.3M rows/s/core, ~3x the per-row
encoder; JVM DataFileReader-verified), falling back per-row for
nested kinds. Still a compatibility format: convert to parquet for
hot-path analytics, where the native vectorized readers apply.

Reference parity note: the reference pipeline copies rows between
DBMSes and has no file formats at all (util.py:132-271); formats are
part of this engine's widened source/sink registry (SURVEY.md §2.A
#21).
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from dataclasses import dataclass
from datetime import date, datetime, timedelta, timezone
from typing import Any, Callable, Iterator, Sequence

MAGIC = b"Obj\x01"
SYNC_SIZE = 16
_EPOCH_DATE = date(1970, 1, 1)
_EPOCH_DT = datetime(1970, 1, 1)
# Decoders MUST build timestamps from a tz-aware UTC epoch: PySpark's
# TimestampType converter treats a NAIVE datetime as OS-local time
# (time.mktime), so naive decode silently shifts every value by the
# host's UTC offset on any non-UTC machine — aware-UTC values go
# through calendar.timegm and are host-tz-independent.
_EPOCH_DT_UTC = datetime(1970, 1, 1, tzinfo=timezone.utc)
FORMAT_NAME = "avro_py"
DEFAULT_SPLIT_BYTES = 128 * 1024 * 1024


# ---------------------------------------------------------------------
# binary primitives
# ---------------------------------------------------------------------


def zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _read_varint(buf, pos: int) -> tuple[int, int]:
    acc = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            return acc, pos
        shift += 7


def read_long(buf, pos: int) -> tuple[int, int]:
    raw, pos = _read_varint(buf, pos)
    return zigzag_decode(raw), pos


def write_long(out: bytearray, n: int) -> None:
    # two's-complement zigzag over unbounded Python ints
    u = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


# ---------------------------------------------------------------------
# schema: Avro JSON <-> decoder/encoder trees and Spark DDL
# ---------------------------------------------------------------------


class AvroUnsupported(ValueError):
    """Avro construct with no faithful Spark mapping at this layer."""


def _is_null_union(sch) -> tuple[bool, Any]:
    """(is nullable-union, the single non-null branch).

    Branch ORDER is schema-author's choice: ``["null", T]`` and
    ``["long", "null"]`` are both spec-legal, and a single-branch
    union ``["T"]`` is legal too (NOT nullable). Callers that decode
    bytes must use :func:`_union_parts` instead — the wire index of
    the null branch matters there; this helper only answers the type
    question."""
    if isinstance(sch, list):
        nullable, _null_idx, inner = _union_parts(sch)
        return nullable, inner
    return False, sch


def _union_parts(sch: list) -> tuple[bool, int, Any]:
    """(has null branch, index of the null branch or -1, the single
    non-null branch). Raises for >1 non-null branch."""
    non_null = [s for s in sch if s != "null"]
    if len(non_null) > 1:
        raise AvroUnsupported(
            f"union with {len(non_null)} non-null branches has no Spark type: {sch!r}"
        )
    if not non_null:
        return True, 0, "null"
    null_idx = sch.index("null") if "null" in sch else -1
    return null_idx >= 0, null_idx, non_null[0]


def _register_named(named: dict, sch: dict, value) -> None:
    """Register a named type under BOTH its short name and its Avro
    fullname (namespace.name): writers reference named types by
    FULLNAME when a namespace is declared (the JVM writer always
    does), and a short-name-only registry turned such spec-legal
    files into opaque KeyErrors. Nested namespace INHERITANCE is not
    modeled — only explicit namespace attributes — which covers what
    real writers emit; anything unresolved raises AvroUnsupported,
    never KeyError."""
    named[sch["name"]] = value
    ns = sch.get("namespace")
    if ns:
        named[f"{ns}.{sch['name']}"] = value


def avro_to_spark_type(sch, named: dict | None = None):
    """Avro schema (parsed JSON) -> pyspark DataType, built directly
    with type constructors — NOT via the DDL parser, because the
    DataSource ``schema()`` hook runs in a Python worker process with
    no SparkContext, where ``StructType.fromDDL`` cannot work."""
    from pyspark.sql import types as T

    named = named if named is not None else {}
    _, sch = _is_null_union(sch)  # nullability is per-field in Spark
    if isinstance(sch, str):
        if sch in named:
            return named[sch]
        prim = {
            "null": T.NullType(),
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "bytes": T.BinaryType(),
            "string": T.StringType(),
        }
        if sch not in prim:
            raise AvroUnsupported(f"unresolved Avro type reference: {sch!r}")
        return prim[sch]
    t = sch["type"]
    logical = sch.get("logicalType")
    if logical == "date" and t == "int":
        return T.DateType()
    if logical in ("timestamp-millis", "timestamp-micros") and t == "long":
        return T.TimestampType()
    if logical == "decimal":
        raise AvroUnsupported("decimal logical type not supported")
    if t == "record":
        st = T.StructType(
            [
                T.StructField(f["name"], avro_to_spark_type(f["type"], named), True)
                for f in sch["fields"]
            ]
        )
        _register_named(named, sch, st)
        return st
    if t == "array":
        return T.ArrayType(avro_to_spark_type(sch["items"], named), True)
    if t == "map":
        return T.MapType(T.StringType(), avro_to_spark_type(sch["values"], named), True)
    if t == "enum":
        _register_named(named, sch, T.StringType())
        return T.StringType()
    if t == "fixed":
        _register_named(named, sch, T.BinaryType())
        return T.BinaryType()
    if isinstance(t, (str, dict, list)):
        return avro_to_spark_type(t, named)
    raise AvroUnsupported(f"unsupported Avro schema: {sch!r}")


def spark_to_avro(dt, name: str = "record", ns: list | None = None) -> Any:
    """Spark DataType -> Avro schema (JSON-able). Every field is made
    nullable (union with null) — Spark columns are nullable by default
    and a tighter writer schema buys nothing on read-back."""
    from pyspark.sql import types as T

    ns = ns if ns is not None else [0]
    if isinstance(dt, T.StructType):
        ns[0] += 1
        return {
            "type": "record",
            "name": f"{name}_{ns[0]}" if name != "record" else "topLevelRecord",
            "fields": [
                {"name": f.name, "type": ["null", spark_to_avro(f.dataType, f.name, ns)]}
                for f in dt.fields
            ],
        }
    if isinstance(dt, T.ArrayType):
        return {"type": "array", "items": ["null", spark_to_avro(dt.elementType, name, ns)]}
    if isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise AvroUnsupported("Avro maps require string keys")
        return {"type": "map", "values": ["null", spark_to_avro(dt.valueType, name, ns)]}
    if isinstance(dt, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dt, T.TimestampType) or isinstance(dt, T.TimestampNTZType):
        return {"type": "long", "logicalType": "timestamp-micros"}
    simple = {
        T.BooleanType: "boolean",
        T.IntegerType: "int",
        T.ShortType: "int",
        T.ByteType: "int",
        T.LongType: "long",
        T.FloatType: "float",
        T.DoubleType: "double",
        T.BinaryType: "bytes",
        T.StringType: "string",
    }.get(type(dt))
    if simple is None:
        raise AvroUnsupported(f"no Avro mapping for Spark type {dt.simpleString()}")
    return simple


# -- decoder tree -----------------------------------------------------

Decoder = Callable[[Any, int], tuple[Any, int]]


def build_decoder(sch, named: dict | None = None) -> Decoder:
    """Compile the writer schema into a closure tree once per
    partition; per-row decoding then does no schema dispatch."""
    named = named if named is not None else {}
    if isinstance(sch, list):
        # union: the wire carries the BRANCH INDEX, and branch order is
        # the schema author's ("null" may be first, second, or absent —
        # ["long","null"] is spec-legal and common from other writers).
        # Decoding by position, not by assuming null-first, is what
        # keeps foreign files from desyncing the stream.
        has_null, null_idx, inner_sch = _union_parts(sch)
        inner = build_decoder(inner_sch, named)
        if len(sch) == 1:
            # single-branch union: index prefix, then the value
            def dec_single(buf, pos, _inner=inner):
                _, pos = read_long(buf, pos)
                return _inner(buf, pos)

            return dec_single

        def dec_nullable(buf, pos, _null=null_idx, _inner=inner):
            idx, pos = read_long(buf, pos)
            if idx == _null:
                return None, pos
            return _inner(buf, pos)

        return dec_nullable
    nullable, sch = _is_null_union(sch)
    if isinstance(sch, str) and sch in named:
        ref = named[sch]
        return lambda buf, pos: ref(buf, pos)
    if isinstance(sch, str):
        if sch not in _PRIMITIVE_DECODERS:
            raise AvroUnsupported(f"unresolved Avro type reference: {sch!r}")
        return _PRIMITIVE_DECODERS[sch]
    t = sch["type"]
    logical = sch.get("logicalType")
    if logical == "date" and t == "int":

        def dec_date(buf, pos):
            v, pos = read_long(buf, pos)
            return _EPOCH_DATE + timedelta(days=v), pos

        return dec_date
    if logical == "timestamp-micros" and t == "long":

        def dec_ts_us(buf, pos):
            v, pos = read_long(buf, pos)
            return _EPOCH_DT_UTC + timedelta(microseconds=v), pos

        return dec_ts_us
    if logical == "timestamp-millis" and t == "long":

        def dec_ts_ms(buf, pos):
            v, pos = read_long(buf, pos)
            return _EPOCH_DT_UTC + timedelta(milliseconds=v), pos

        return dec_ts_ms
    if t == "record":
        field_decoders: list[Decoder] = []

        def dec_record(buf, pos, _fd=field_decoders):
            out = []
            for d in _fd:
                v, pos = d(buf, pos)
                out.append(v)
            return tuple(out), pos

        _register_named(named, sch, dec_record)  # registered BEFORE fields: recursion-safe
        field_decoders.extend(build_decoder(f["type"], named) for f in sch["fields"])
        return dec_record
    if t == "array":
        item = build_decoder(sch["items"], named)

        def dec_array(buf, pos):
            out = []
            while True:
                n, pos = read_long(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:  # block with byte-size prefix
                    n = -n
                    _, pos = read_long(buf, pos)
                for _ in range(n):
                    v, pos = item(buf, pos)
                    out.append(v)

        return dec_array
    if t == "map":
        val = build_decoder(sch["values"], named)

        def dec_map(buf, pos):
            out = {}
            while True:
                n, pos = read_long(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    n = -n
                    _, pos = read_long(buf, pos)
                for _ in range(n):
                    k, pos = _dec_string(buf, pos)
                    v, pos = val(buf, pos)
                    out[k] = v

        return dec_map
    if t == "enum":
        symbols = sch["symbols"]

        def dec_enum(buf, pos):
            i, pos = read_long(buf, pos)
            return symbols[i], pos

        _register_named(named, sch, dec_enum)
        return dec_enum
    if t == "fixed":
        size = sch["size"]

        def dec_fixed(buf, pos):
            return bytes(buf[pos : pos + size]), pos + size

        _register_named(named, sch, dec_fixed)
        return dec_fixed
    if isinstance(t, (str, dict, list)):
        return build_decoder(t, named)
    raise AvroUnsupported(f"unsupported Avro schema: {sch!r}")


def _dec_null(buf, pos):
    return None, pos


def _dec_boolean(buf, pos):
    return buf[pos] != 0, pos + 1


def _dec_float(buf, pos):
    return struct.unpack_from("<f", buf, pos)[0], pos + 4


def _dec_double(buf, pos):
    return struct.unpack_from("<d", buf, pos)[0], pos + 8


def _dec_bytes(buf, pos):
    n, pos = read_long(buf, pos)
    return bytes(buf[pos : pos + n]), pos + n


def _dec_string(buf, pos):
    n, pos = read_long(buf, pos)
    return str(buf[pos : pos + n], "utf-8"), pos + n


_PRIMITIVE_DECODERS: dict[str, Decoder] = {
    "null": _dec_null,
    "boolean": _dec_boolean,
    "int": read_long,
    "long": read_long,
    "float": _dec_float,
    "double": _dec_double,
    "bytes": _dec_bytes,
    "string": _dec_string,
}


# -- encoder tree -----------------------------------------------------

Encoder = Callable[[bytearray, Any], None]


def build_encoder(sch) -> Encoder:
    if isinstance(sch, list):
        # encode the BRANCH INDEX the schema declares — a consumer
        # decodes against this same schema, so ["long","null"] must
        # write null as index 1, not assume null-first
        has_null, null_idx, inner_sch = _union_parts(sch)
        inner = build_encoder(inner_sch)
        value_idx = next(i for i, s in enumerate(sch) if s != "null") if len(sch) > 1 else 0
        null_zz = bytearray()
        write_long(null_zz, max(null_idx, 0))
        val_zz = bytearray()
        write_long(val_zz, value_idx)
        null_b, val_b = bytes(null_zz), bytes(val_zz)

        def enc_union(out, v, _has_null=has_null):
            if v is None:
                if not _has_null:
                    raise ValueError(f"None for non-nullable union {sch!r}")
                out.extend(null_b)
            else:
                out.extend(val_b)
                inner(out, v)

        return enc_union
    if isinstance(sch, str):
        return _PRIMITIVE_ENCODERS[sch]
    t = sch["type"]
    logical = sch.get("logicalType")
    if logical == "date":

        def enc_date(out, v: date):
            write_long(out, (v - _EPOCH_DATE).days)

        return enc_date
    if logical == "timestamp-micros":

        def enc_ts(out, v: datetime):
            if v.tzinfo is not None:
                v = v.astimezone(timezone.utc).replace(tzinfo=None)
            write_long(out, (v - _EPOCH_DT) // timedelta(microseconds=1))

        return enc_ts
    if t == "record":
        fields = [(f["name"], build_encoder(f["type"])) for f in sch["fields"]]

        def enc_record(out, v):
            # v: dict (arrow to_pylist row / nested struct) or tuple
            if isinstance(v, dict):
                for name, enc in fields:
                    enc(out, v.get(name))
            else:
                for (name, enc), item in zip(fields, v):
                    enc(out, item)

        return enc_record
    if t == "array":
        item = build_encoder(sch["items"])

        def enc_array(out, v):
            if v:
                write_long(out, len(v))
                for x in v:
                    item(out, x)
            write_long(out, 0)

        return enc_array
    if t == "map":
        val = build_encoder(sch["values"])

        def enc_map(out, v):
            # arrow's to_pylist renders MapType as a list of (k, v)
            # tuples; plain dicts appear from hand-built rows
            items = v.items() if isinstance(v, dict) else v
            if v:
                write_long(out, len(v))
                for k, x in items:
                    _enc_string(out, k)
                    val(out, x)
            write_long(out, 0)

        return enc_map
    raise AvroUnsupported(f"unsupported Avro write schema: {sch!r}")


def _enc_boolean(out, v):
    out.append(1 if v else 0)


def _enc_float(out, v):
    out.extend(struct.pack("<f", v))


def _enc_double(out, v):
    out.extend(struct.pack("<d", v))


def _enc_bytes(out, v):
    write_long(out, len(v))
    out.extend(v)


def _enc_string(out, v):
    b = v.encode("utf-8")
    write_long(out, len(b))
    out.extend(b)


_PRIMITIVE_ENCODERS: dict[str, Encoder] = {
    "null": lambda out, v: None,
    "boolean": _enc_boolean,
    "int": write_long,
    "long": write_long,
    "float": _enc_float,
    "double": _enc_double,
    "bytes": _enc_bytes,
    "string": _enc_string,
}


# ---------------------------------------------------------------------
# OCF container
# ---------------------------------------------------------------------


@dataclass
class OcfHeader:
    schema: Any  # parsed writer schema JSON
    codec: str
    sync: bytes
    data_start: int  # byte offset of the first block


def read_header(f: io.BufferedReader) -> OcfHeader:
    """Parse the OCF header from an open file positioned anywhere."""
    f.seek(0)
    head = f.read(4)
    if head != MAGIC:
        raise ValueError(f"not an Avro object container file (magic {head!r})")
    # metadata is an Avro map<bytes>; read incrementally with a growing buffer
    buf = bytearray(f.read(1 << 16))
    while True:
        try:
            meta, pos = _try_parse_meta(buf)
            break
        except IndexError:
            more = f.read(1 << 20)
            if not more:
                raise ValueError("truncated Avro header")
            buf.extend(more)
    sync = bytes(buf[pos : pos + SYNC_SIZE])
    if len(sync) < SYNC_SIZE:
        f.seek(4 + pos)
        sync = f.read(SYNC_SIZE)
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise AvroUnsupported(
            f"Avro codec {codec!r} not supported (null/deflate only; "
            f"snappy/zstd need external libraries this build excludes)"
        )
    schema = json.loads(meta["avro.schema"])
    return OcfHeader(schema=schema, codec=codec, sync=sync, data_start=4 + pos + SYNC_SIZE)


def _try_parse_meta(buf) -> tuple[dict[str, bytes], int]:
    meta: dict[str, bytes] = {}
    pos = 0
    while True:
        n, pos = read_long(buf, pos)
        if n == 0:
            return meta, pos
        if n < 0:
            n = -n
            _, pos = read_long(buf, pos)
        for _ in range(n):
            k, pos = _dec_string(buf, pos)
            nb, pos = read_long(buf, pos)
            if pos + nb > len(buf):
                raise IndexError
            meta[k] = bytes(buf[pos : pos + nb])
            pos += nb


def _inflate(data: bytes, codec: str) -> bytes:
    if codec == "deflate":
        return zlib.decompress(data, -15)
    return data


def _find_sync(f, sync: bytes, start: int, bound: int) -> int | None:
    """First offset >= ``start`` where the 16-byte sync marker begins
    (Hadoop-style split alignment). Chunked scan with overlap so a
    marker straddling a chunk boundary is still found.

    ``bound`` caps the scan: callers discard any anchor >= their split
    end, so scanning past end + SYNC_SIZE is pure waste — on a file
    whose blocks are larger than the split size, an unbounded scan
    made every in-block split read forward to the block's trailing
    sync (up to quadratic redundant I/O across splits)."""
    overlap = SYNC_SIZE - 1
    pos = start
    f.seek(pos)
    prev_tail = b""
    while pos < bound:
        chunk = f.read(1 << 20)
        if not chunk:
            return None
        hay = prev_tail + chunk
        i = hay.find(sync)
        if i != -1:
            return pos - len(prev_tail) + i
        prev_tail = hay[-overlap:]
        pos += len(chunk)
    return None


def iter_block_rows(
    path: str, start: int, end: int, decoder: Decoder | None = None
) -> Iterator[tuple]:
    """Decode the rows of every block ANCHORED in ``[start, end)``.

    Anchor rule (matches Hadoop's container input format): EVERY block
    — including the first — is anchored at the start of the sync
    marker that precedes it (the header ends with the sync, so the
    first block's anchor is ``data_start - 16``). Each byte range
    therefore claims a disjoint, exhaustive set of blocks, and a
    single huge file reads in parallel.

    The uniform rule matters: an earlier draft special-cased the first
    block as "anchored at 0", and a split boundary falling INSIDE the
    header then made the first block claimable twice — once by the
    [0, ...) split via the special case and once by the split
    containing the header's trailing sync via the scan. Found by the
    hypothesis round-trip property (tests/test_property.py)."""
    if start >= end:
        return  # empty range (incl. the (0, 0) empty-file sentinel):
        # no blocks, and no header parse that would crash on a
        # zero-byte leftover file
    with open(path, "rb") as f:
        header = read_header(f)
        dec = decoder or build_decoder(header.schema)
        for _nrows, data in _iter_raw_blocks(f, header, start, end, path):
            buf = memoryview(data)
            pos = 0
            for _ in range(_nrows):
                row, pos = dec(buf, pos)
                yield row


def _iter_raw_blocks(
    f, header: "OcfHeader", start: int, end: int, path: str
) -> Iterator[tuple[int, bytes]]:
    """Yield ``(nrows, inflated_payload)`` for every block anchored in
    ``[start, end)`` — the shared split walk under both the per-row
    decoder (iter_block_rows) and the columnar batch decoder
    (iter_record_batches)."""
    file_size = os.fstat(f.fileno()).st_size
    header_sync_at = header.data_start - SYNC_SIZE
    if start <= header_sync_at:
        # the first block's preceding sync is the header's tail —
        # known exactly, no scan (and no false positive on sync
        # bytes coincidentally inside the metadata). The anchor must
        # ALSO fall inside [start, end): with a header larger than
        # the split step, several splits satisfy start <=
        # header_sync_at, and without the end check each of them
        # would claim the first block — duplicated rows.
        if header_sync_at >= end:
            return  # this split lies entirely inside the header
        anchor = header_sync_at
    else:
        # a sync at or beyond end is never used: cap the scan there
        # (+SYNC_SIZE so a marker STARTING at end-1 is fully read)
        s = _find_sync(f, header.sync, start, min(file_size, end + SYNC_SIZE))
        if s is None or s >= end:
            return
        anchor = s
    block_at = anchor + SYNC_SIZE
    while anchor < end and block_at < file_size:
        f.seek(block_at)
        fixed = f.read(20)  # enough for two varints
        if len(fixed) < 2:
            return
        nrows, p = read_long(fixed, 0)
        nbytes, p = read_long(fixed, p)
        f.seek(block_at + p)
        data = _inflate(f.read(nbytes), header.codec)
        got_sync = f.read(SYNC_SIZE)
        if got_sync != header.sync:
            raise ValueError(f"corrupt Avro block at {block_at} in {path!r}")
        yield nrows, data
        anchor = block_at + p + nbytes  # this block's trailing sync
        block_at = anchor + SYNC_SIZE


# ---------------------------------------------------------------------
# vectorized columnar decode (flat records) — the batch read hot path
# ---------------------------------------------------------------------
#
# Avro's binary encoding is row-oriented (varints + length-prefixed
# payloads), so a fully-columnar decode needs two phases:
#   1. a STRUCTURAL SCAN — one tight generated-Python loop per block
#      that only finds field boundaries (varint ends, payload spans)
#      and appends byte positions, decoding no values;
#   2. a VECTORIZED EXTRACTION — numpy gathers turn the recorded
#      positions into whole columns at C speed (varints via a masked
#      byte-matrix dot, fixed-width via strided views, strings/bytes
#      via one offsets+payload gather straight into Arrow buffers).
# The scan is amortized over many blocks per Arrow batch so the numpy
# per-call overhead disappears. Falls back to the per-row closure tree
# (build_decoder) for nested/unsupported schemas.

# kind -> natural Arrow type (lazy factories: pyarrow imports on use)
_NATURAL_ARROW = {
    "long": lambda: __import__("pyarrow").int64(),
    "int": lambda: __import__("pyarrow").int32(),
    "date": lambda: __import__("pyarrow").date32(),
    "ts_us": lambda: __import__("pyarrow").timestamp("us", tz="UTC"),
    "ts_ms": lambda: __import__("pyarrow").timestamp("us", tz="UTC"),
    "double": lambda: __import__("pyarrow").float64(),
    "float": lambda: __import__("pyarrow").float32(),
    "boolean": lambda: __import__("pyarrow").bool_(),
    "string": lambda: __import__("pyarrow").string(),
    "bytes": lambda: __import__("pyarrow").binary(),
}

# kind -> wire layout class
_COLUMNAR_KINDS = {
    "long": "varint",
    "int": "varint",
    "date": "varint",
    "ts_us": "varint",
    "ts_ms": "varint",
    "double": "fixed8",
    "float": "fixed4",
    "boolean": "fixed1",
    "string": "varlen",
    "bytes": "varlen",
}


def columnar_plan(schema) -> list | None:
    """Per-field decode plan when the writer schema is a FLAT record
    of primitives/logical types (the common tabular case): a list of
    ``(name, kind, null_byte)`` where ``null_byte`` is the encoded
    union-branch byte that means NULL (zigzag of the null branch
    index: 0x00 or 0x02), or None for non-nullable fields. Returns
    None for any schema needing the general per-row decoder (nested
    records/arrays/maps, enums, fixed, multi-branch unions)."""
    if not isinstance(schema, dict) or schema.get("type") != "record":
        return None
    plan = []
    for field in schema.get("fields", []):
        sch = field["type"]
        null_byte = None
        if isinstance(sch, list):
            has_null, null_idx, inner = _union_parts(sch)
            if not has_null or len(sch) != 2:
                return None
            null_byte = null_idx * 2  # zigzag(0)=0x00, zigzag(1)=0x02
            sch = inner
        if isinstance(sch, dict):
            t, logical = sch.get("type"), sch.get("logicalType")
            if logical == "date" and t == "int":
                kind = "date"
            elif logical == "timestamp-micros" and t == "long":
                kind = "ts_us"
            elif logical == "timestamp-millis" and t == "long":
                kind = "ts_ms"
            else:
                return None
        elif isinstance(sch, str) and sch in ("int", "long", "float",
                                              "double", "boolean",
                                              "string", "bytes"):
            kind = sch
        else:
            return None
        plan.append((field["name"], kind, null_byte))
    return plan or None


def _new_scan_state(plan) -> list:
    state = []
    for _, kind, _nb in plan:
        layout = _COLUMNAR_KINDS[kind]
        if layout == "varint":
            state.append(([], []))  # starts, ends (-1/-2 = null)
        elif layout == "varlen":
            state.append(([], []))  # starts, lens (-1 = null)
        else:
            state.append(([],))  # positions (-1 = null)
    return state


def build_block_scanner(plan) -> Callable:
    """Generate ``scan(data, nrows, pos, state) -> pos`` with a
    straight-line per-row body (no per-field dispatch, no function
    calls) — the structural phase of the columnar decode."""
    head: list[str] = []
    body: list[str] = []
    for i, (_name, kind, null_byte) in enumerate(plan):
        layout = _COLUMNAR_KINDS[kind]
        if layout == "varint":
            head += [f"a{i}s = S[{i}][0].append", f"a{i}e = S[{i}][1].append"]
            val = [
                "e = pos",
                "while data[e] >= 128: e += 1",
                f"a{i}s(pos); a{i}e(e); pos = e + 1",
            ]
            nul = [f"a{i}s(-1); a{i}e(-2)"]
        elif layout == "varlen":
            head += [f"a{i}s = S[{i}][0].append", f"a{i}l = S[{i}][1].append"]
            val = [
                "b = data[pos]",
                "if b < 128:",
                "    L = b >> 1; pos += 1",
                "else:",
                "    raw = b & 127; sh = 7; pos += 1; b = data[pos]",
                "    while b >= 128:",
                "        raw |= (b & 127) << sh; sh += 7; pos += 1; b = data[pos]",
                "    raw |= b << sh; pos += 1",
                "    L = raw >> 1",
                f"a{i}s(pos); a{i}l(L); pos += L",
            ]
            nul = [f"a{i}s(-1); a{i}l(-1)"]
        else:
            width = {"fixed8": 8, "fixed4": 4, "fixed1": 1}[layout]
            head += [f"a{i}p = S[{i}][0].append"]
            val = [f"a{i}p(pos); pos += {width}"]
            nul = [f"a{i}p(-1)"]
        if null_byte is None:
            body += val
        else:
            body += [f"b = data[pos]; pos += 1", f"if b == {null_byte}:"]
            body += ["    " + ln for ln in nul]
            body += ["else:"]
            body += ["    " + ln for ln in val]
    src = "def _scan(data, nrows, pos, S):\n"
    for ln in head:
        src += f"    {ln}\n"
    src += "    for _ in range(nrows):\n"
    for ln in body:
        src += f"        {ln}\n"
    src += "    return pos\n"
    ns: dict = {}
    exec(src, ns)  # noqa: S102 — generated from the closed kind table above
    return ns["_scan"]


# -- optional compiled structural scan ---------------------------------
#
# The structural scan is an irreducibly sequential per-byte walk; pure
# Python tops out near 2M rows/s on a 3-field record. A ~60-line C
# helper (compiled ONCE per host with the system cc into a content-
# addressed temp cache, loaded via ctypes) does the same walk at
# memory speed. Strictly optional: no compiler, a failed compile, or
# any load error silently falls back to the generated-Python scanner —
# results are bit-identical (tests pin both backends against each
# other). Executors each compile on first use; the .so is published
# with an atomic rename so concurrent workers race safely.

_CSCAN_SRC = r"""
#include <stdint.h>

int64_t scan_block(const uint8_t* data, int64_t data_len, int64_t pos,
                   int64_t nrows, int32_t nfields, const int32_t* layouts,
                   const int32_t* null_bytes, int64_t** out_a,
                   int64_t** out_b, int64_t row_base) {
    for (int64_t r = 0; r < nrows; r++) {
        int64_t row = row_base + r;
        for (int32_t f = 0; f < nfields; f++) {
            int32_t lay = layouts[f];
            int32_t nb = null_bytes[f];
            if (nb >= 0) {
                if (pos >= data_len) return -1;
                int32_t b = data[pos++];
                if (b == nb) {
                    out_a[f][row] = -1;
                    if (lay == 0) out_b[f][row] = -2;
                    else if (lay == 4) out_b[f][row] = -1;
                    continue;
                }
            }
            switch (lay) {
                case 0: { /* varint: record [start, end] */
                    int64_t s = pos;
                    while (pos < data_len && data[pos] >= 128) pos++;
                    if (pos >= data_len) return -1;
                    out_a[f][row] = s;
                    out_b[f][row] = pos;
                    pos++;
                    break;
                }
                case 1: out_a[f][row] = pos; pos += 8; break;
                case 2: out_a[f][row] = pos; pos += 4; break;
                case 3: out_a[f][row] = pos; pos += 1; break;
                case 4: { /* varlen: decode length, record [start, len] */
                    uint64_t raw = 0;
                    int32_t sh = 0;
                    for (;;) {
                        if (pos >= data_len) return -1;
                        uint8_t b = data[pos++];
                        raw |= (uint64_t)(b & 127) << sh;
                        if (b < 128) break;
                        sh += 7;
                    }
                    int64_t L = (int64_t)(raw >> 1);
                    out_a[f][row] = pos;
                    out_b[f][row] = L;
                    pos += L;
                    break;
                }
            }
            if (pos > data_len) return -1;
        }
    }
    return pos;
}
"""

_LAYOUT_CODE = {"varint": 0, "fixed8": 1, "fixed4": 2, "fixed1": 3, "varlen": 4}
_CSCAN_LIB: list = []  # [] = not tried, [None] = unavailable, [lib] = ready


def _load_cscan():
    """Compile-on-first-use loader for the C scanner; never raises."""
    if _CSCAN_LIB:
        return _CSCAN_LIB[0]
    lib = None
    try:
        import ctypes
        import hashlib
        import shutil
        import subprocess
        import tempfile

        cc = shutil.which("cc") or shutil.which("gcc")
        if cc is None:
            raise OSError("no C compiler on PATH")
        tag = hashlib.md5(_CSCAN_SRC.encode()).hexdigest()[:12]
        # Cache the compiled .so in a PER-USER mode-0700 directory, not
        # the shared tempdir: a world-writable predictable path would
        # let another local user pre-plant a malicious library that a
        # bare os.path.exists() check then CDLLs into every executor
        # (classic /tmp preload, CWE-427). The uid in the name plus the
        # 0700 mkdir plus the post-hoc ownership check make the cache
        # single-user end to end; any mismatch falls back to a fresh
        # private compile (and ultimately to the Python scanner).
        cache_root = os.environ.get("XDG_CACHE_HOME") or os.path.join(
            os.path.expanduser("~"), ".cache"
        )
        sodir = os.path.join(cache_root, f"etl_avro_colscan_{os.getuid()}")
        os.makedirs(sodir, mode=0o700, exist_ok=True)
        st = os.stat(sodir)
        if st.st_uid != os.getuid() or (st.st_mode & 0o077):
            # Directory hijacked or group/world accessible: do not trust
            # it — compile into a throwaway private dir instead.
            sodir = tempfile.mkdtemp(prefix="etl_avro_colscan_")
        so = os.path.join(sodir, f"colscan_{tag}.so")
        if not (os.path.exists(so) and os.stat(so).st_uid == os.getuid()):
            work = tempfile.mkdtemp(prefix="avro_colscan_")
            csrc = os.path.join(work, "scan.c")
            with open(csrc, "w") as f:
                f.write(_CSCAN_SRC)
            out = os.path.join(work, "scan.so")
            subprocess.run(
                [cc, "-O2", "-shared", "-fPIC", "-o", out, csrc],
                check=True,
                capture_output=True,
                timeout=60,
            )
            os.replace(out, so)  # atomic vs concurrent compilers
        final = os.stat(so)
        if final.st_uid != os.getuid():
            raise OSError("refusing to load .so not owned by current user")
        lib = ctypes.CDLL(so)
        LL, PI64 = ctypes.c_int64, ctypes.POINTER(ctypes.c_int64)
        lib.scan_block.restype = LL
        lib.scan_block.argtypes = [
            ctypes.c_char_p, LL, LL, LL, ctypes.c_int32,
            ctypes.POINTER(ctypes.c_int32), ctypes.POINTER(ctypes.c_int32),
            ctypes.POINTER(PI64), ctypes.POINTER(PI64), LL,
        ]
    except Exception:
        lib = None
    _CSCAN_LIB.append(lib)
    return lib


def _new_scan_state_np(plan, total: int) -> list:
    """numpy-backed scan state for the C backend (same layout and null
    sentinels as the list state)."""
    import numpy as np

    state = []
    for _, kind, _nb in plan:
        layout = _COLUMNAR_KINDS[kind]
        if layout in ("varint", "varlen"):
            state.append((np.empty(total, np.int64), np.empty(total, np.int64)))
        else:
            state.append((np.empty(total, np.int64),))
    return state


def _c_scan_runs(lib, data: bytes, runs, plan, state) -> list[int]:
    """Run the compiled scanner over every (base, nrows) run, filling
    ``state`` in place. Returns the end position of each run."""
    import ctypes

    import numpy as np

    PI64 = ctypes.POINTER(ctypes.c_int64)
    nf = len(plan)
    layouts = (ctypes.c_int32 * nf)(
        *[_LAYOUT_CODE[_COLUMNAR_KINDS[k]] for _, k, _nb in plan]
    )
    null_bytes = (ctypes.c_int32 * nf)(
        *[-1 if nb is None else nb for _, _k, nb in plan]
    )
    out_a = (PI64 * nf)()
    out_b = (PI64 * nf)()
    zero = np.zeros(1, np.int64)  # dummy for fields with no second array
    for f, st in enumerate(state):
        out_a[f] = st[0].ctypes.data_as(PI64)
        out_b[f] = (st[1] if len(st) > 1 else zero).ctypes.data_as(PI64)
    ends = []
    row_base = 0
    for base, nrows in runs:
        got = lib.scan_block(
            data, len(data), base, nrows, nf, layouts, null_bytes,
            out_a, out_b, row_base,
        )
        ends.append(int(got))
        row_base += nrows
    return ends


def _decode_varints(arr, starts, ends):
    """Vectorized zigzag-varint decode: gather each value's bytes into
    a (n, maxwidth) matrix, mask past each end, combine 7-bit groups.
    Returns (int64 values, null bool mask)."""
    import numpy as np

    s = np.asarray(starts, np.int64)
    e = np.asarray(ends, np.int64)
    null = s < 0
    w = np.maximum(e - s + 1, 0)
    maxw = int(w.max()) if len(w) else 1
    idx = np.clip(s, 0, None)[:, None] + np.arange(max(maxw, 1))
    np.clip(idx, 0, len(arr) - 1, out=idx)
    m = arr[idx].astype(np.uint64)
    keep = np.arange(max(maxw, 1)) < w[:, None]
    vals7 = (m & np.uint64(0x7F)) * keep
    shifts = (np.arange(max(maxw, 1), dtype=np.uint64) * np.uint64(7))
    raw = (vals7 << shifts).sum(axis=1, dtype=np.uint64)
    val = (raw >> np.uint64(1)).astype(np.int64) ^ -(
        (raw & np.uint64(1)).astype(np.int64)
    )
    return val, null


def _extract_arrays(buf, plan, state) -> "list":
    """Phase 2: positions -> Arrow arrays (natural types: int64/int32/
    date32/timestamp[us,UTC]/float/double/bool/string/binary)."""
    import numpy as np
    import pyarrow as pa

    arr = np.frombuffer(buf, np.uint8)
    out = []
    for (name, kind, _nb), st in zip(plan, state):
        layout = _COLUMNAR_KINDS[kind]
        if layout == "varint":
            val, null = _decode_varints(arr, st[0], st[1])
            mask = null if null.any() else None
            if kind == "long":
                a = pa.array(val, mask=mask)
            elif kind == "int":
                a = pa.array(val.astype(np.int32), mask=mask)
            elif kind == "date":
                a = pa.array(val.astype(np.int32), mask=mask).cast(pa.date32())
            else:
                us = val if kind == "ts_us" else val * 1000
                a = pa.array(us, mask=mask).cast(
                    pa.timestamp("us", tz="UTC")
                )
        elif layout in ("fixed8", "fixed4"):
            width = 8 if layout == "fixed8" else 4
            p = np.asarray(st[0], np.int64)
            null = p < 0
            idx = np.clip(p, 0, None)[:, None] + np.arange(width)
            np.clip(idx, 0, len(arr) - 1, out=idx)
            vs = (
                np.ascontiguousarray(arr[idx])
                .reshape(-1)
                .view("<f8" if width == 8 else "<f4")
            )
            a = pa.array(vs, mask=null if null.any() else None)
        elif layout == "fixed1":
            p = np.asarray(st[0], np.int64)
            null = p < 0
            vals = arr[np.clip(p, 0, None)] != 0
            a = pa.array(vals, mask=null if null.any() else None)
        else:  # varlen: one offsets+payload gather, no per-row objects
            s = np.asarray(st[0], np.int64)
            ln = np.asarray(st[1], np.int64)
            null = ln < 0
            L = np.where(null, 0, ln)
            n = len(s)
            # Cumsum in int64 FIRST: max_batch_bytes only caps payload
            # between blocks, so one externally-written jumbo block can
            # carry >2 GiB of string data — an int32 cumsum would wrap
            # silently and surface later as an opaque numpy broadcast
            # error. Detect and diagnose instead.
            offs64 = np.zeros(n + 1, np.int64)
            np.cumsum(L, out=offs64[1:])
            total = int(offs64[-1])
            if total > np.iinfo(np.int32).max:
                raise ValueError(
                    f"avro block string/binary payload is {total} bytes, "
                    "which exceeds the 2 GiB int32 offset limit of Arrow "
                    "string arrays; rewrite the file with smaller blocks "
                    "or reduce batch_rows/max_batch_bytes"
                )
            offs = offs64.astype(np.int32)
            out_idx = np.repeat(s, L) + (
                np.arange(total) - np.repeat(offs[:-1].astype(np.int64), L)
            )
            payload = arr[out_idx]
            validity = None
            if null.any():
                # a bool Array's VALUE buffer is bit-packed — reuse it
                # as the validity bitmap (True = valid)
                validity = pa.array(~null).buffers()[1]
            a = pa.Array.from_buffers(
                pa.string() if kind == "string" else pa.binary(),
                n,
                [validity, pa.py_buffer(offs), pa.py_buffer(payload)],
            )
        out.append(a)
    return out


def iter_record_batches(
    path: str,
    start: int,
    end: int,
    batch_rows: int = 65536,
    max_batch_bytes: int = 32 << 20,
    header: "OcfHeader | None" = None,
    plan: list | None = None,
) -> Iterator["object"]:
    """Columnar twin of iter_block_rows: yield pyarrow RecordBatches
    for the blocks anchored in ``[start, end)``. Requires a flat
    schema (columnar_plan non-None — callers check). Blocks accumulate
    into one contiguous buffer until ``batch_rows``/``max_batch_bytes``
    so the numpy extraction amortizes across many blocks; the byte cap
    also keeps string offsets within int32.

    ``header``/``plan`` accept the already-parsed values when the
    caller did the probing itself (AvroBatchReader._arrow_plan) — at
    100 TB / 128 MiB splits that is one header parse and one plan
    build per partition instead of two."""
    import pyarrow as pa

    if start >= end:
        return  # empty range / empty-file sentinel: nothing anchored
    with open(path, "rb") as f:
        if header is None:
            header = read_header(f)
        if plan is None:
            plan = columnar_plan(header.schema)
        if plan is None:
            raise AvroUnsupported(
                f"iter_record_batches: schema of {path!r} is not a flat "
                "record — use iter_block_rows"
            )
        clib = _load_cscan()
        scan = build_block_scanner(plan) if clib is None else None
        names = [nm for nm, _k, _nb in plan]

        buf = bytearray()
        runs: list[tuple[int, int]] = []  # (base, nrows)
        nrows_acc = 0

        def flush():
            data = bytes(buf)
            if clib is not None:
                state = _new_scan_state_np(plan, nrows_acc)
                ends = _c_scan_runs(clib, data, runs, plan, state)
            else:
                state = _new_scan_state(plan)
                ends = [
                    scan(data, nrows, base, state) for base, nrows in runs
                ]
            # structural self-check: a scan that does not land exactly
            # on the next block's base desynced — corrupt file or a
            # schema the plan mis-modeled; fail loudly
            for i, got in enumerate(ends):
                expected = runs[i + 1][0] if i + 1 < len(runs) else len(data)
                if got != expected:
                    raise ValueError(
                        f"avro columnar scan desync in {path!r}: block at "
                        f"{runs[i][0]} ended at {got}, expected {expected}"
                    )
            arrays = _extract_arrays(data, plan, state)
            return pa.RecordBatch.from_arrays(arrays, names)

        for nrows, data in _iter_raw_blocks(f, header, start, end, path):
            if nrows == 0 or not data:
                continue
            runs.append((len(buf), nrows))
            buf += data
            nrows_acc += nrows
            if nrows_acc >= batch_rows or len(buf) >= max_batch_bytes:
                yield flush()
                buf = bytearray()
                runs = []
                nrows_acc = 0
        if nrows_acc:
            yield flush()


# ---------------------------------------------------------------------
# vectorized columnar ENCODE (flat records) — the batch write hot path
# ---------------------------------------------------------------------
#
# Mirror of the columnar decode: per field, build a fixed-width byte
# matrix (branch byte + varint/fixed bytes, or branch + length-varint
# header) plus per-row lengths; string/bytes payloads stay in their
# Arrow buffers. One cumsum then computes every piece's destination
# offset and numpy scatters assemble the row-major Avro block body at
# C speed — no per-row Python, no per-value objects.

_VARINT_THRESHOLDS = None  # built lazily (needs numpy)


def _varint_matrix(u, prefix: int):
    """uint64 values -> (bytes matrix with ``prefix`` leading slots,
    per-row varint byte counts). Continuation bits set."""
    import numpy as np

    global _VARINT_THRESHOLDS
    if _VARINT_THRESHOLDS is None:
        _VARINT_THRESHOLDS = np.array(
            [1 << (7 * k) for k in range(1, 10)], dtype=np.uint64
        )
    n = len(u)
    counts = np.searchsorted(_VARINT_THRESHOLDS, u, side="right") + 1
    w = int(counts.max()) if n else 1  # actual max width, not 10
    B = np.zeros((n, prefix + w), np.uint8)
    ks = np.arange(w, dtype=np.uint64)
    groups = ((u[:, None] >> (ks * np.uint64(7))) & np.uint64(0x7F)).astype(
        np.uint8
    )
    cont = np.arange(w) < (counts - 1)[:, None]
    B[:, prefix:] = groups | (cont.astype(np.uint8) << 7)
    return B, counts.astype(np.int64)


def _column_values(col, kind):
    """Arrow column -> int64/float/bool numpy values (nulls filled
    with 0 — the branch byte masks them out of the stream)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if kind in ("long", "int"):
        return pc.fill_null(col, 0).cast(pa.int64()).to_numpy()
    if kind == "date":
        return pc.fill_null(col.cast(pa.int32()), 0).cast(pa.int64()).to_numpy()
    if kind == "ts_us":
        return pc.fill_null(col.cast(pa.int64()), 0).to_numpy()
    if kind == "double":
        return pc.fill_null(col, 0.0).cast(pa.float64()).to_numpy()
    if kind == "float":
        return pc.fill_null(col, 0.0).cast(pa.float32()).to_numpy()
    if kind == "boolean":
        return pc.fill_null(col, False).to_numpy(zero_copy_only=False)
    raise AvroUnsupported(f"no columnar encode for kind {kind}")


def encode_batch_block(batch, plan) -> bytes:
    """Encode a pyarrow RecordBatch as one Avro block body (rows
    concatenated, no block framing) for a flat-record ``plan``
    (columnar_plan of the WRITER schema). Raises AvroUnsupported for
    kinds the vectorized path does not cover (callers fall back to
    the per-row encoder)."""
    import numpy as np

    n = batch.num_rows
    # each piece: (kind_tag, per-row lengths, payload-specific data)
    pieces = []
    for i, (_name, kind, null_byte) in enumerate(plan):
        col = batch.column(i)
        layout = _COLUMNAR_KINDS[kind]
        prefix = 0 if null_byte is None else 1
        value_byte = None if null_byte is None else 2 - null_byte
        null = np.zeros(n, bool)
        if col.null_count:
            if null_byte is None:
                # Non-nullable Avro field with Arrow nulls: the per-row
                # encoder errors on None here, so the vectorized path
                # must too — silently writing 0/false/"" would make the
                # two write paths disagree. ValueError (not
                # AvroUnsupported) so callers do NOT fall back per-row.
                raise ValueError(
                    f"null value in non-nullable avro field {_name!r}"
                )
            null = ~np.asarray(col.is_valid()).astype(bool)
        if kind == "ts_ms":
            raise AvroUnsupported("columnar encode writes timestamp-micros")
        if layout == "varint":
            v = _column_values(col, kind)
            u = (
                (v.astype(np.int64) << np.int64(1))
                ^ (v.astype(np.int64) >> np.int64(63))
            ).astype(np.uint64)
            B, counts = _varint_matrix(u, prefix)
            L = counts + prefix
        elif layout in ("fixed8", "fixed4", "fixed1"):
            width = {"fixed8": 8, "fixed4": 4, "fixed1": 1}[layout]
            v = _column_values(col, kind)
            B = np.zeros((n, prefix + width), np.uint8)
            if layout == "fixed1":
                B[:, prefix] = v.astype(np.uint8)
            else:
                B[:, prefix:] = (
                    np.ascontiguousarray(
                        v.astype("<f8" if width == 8 else "<f4")
                    )
                    .view(np.uint8)
                    .reshape(n, width)
                )
            L = np.full(n, prefix + width, np.int64)
        else:  # varlen: header piece now, payload piece after it
            import pyarrow as pa

            if col.type not in (pa.string(), pa.binary()):
                raise AvroUnsupported(
                    f"columnar encode: unexpected arrow type {col.type}"
                )
            bufs = col.buffers()
            offs = (
                np.frombuffer(bufs[1], np.int32, count=n + 1 + col.offset)[
                    col.offset :
                ].astype(np.int64)
            )
            data = np.frombuffer(bufs[2], np.uint8) if bufs[2] else np.zeros(
                0, np.uint8
            )
            starts = offs[:-1]
            lens = offs[1:] - offs[:-1]
            lens = np.where(null, 0, lens)
            B, counts = _varint_matrix(
                (lens.astype(np.uint64) << np.uint64(1)), prefix
            )
            L = counts + prefix
            if prefix:
                B[:, 0] = value_byte
                B[null, 0] = null_byte
                L = np.where(null, 1, L)
            pieces.append(("mat", B, L))
            pieces.append(("payload", data, starts, lens))
            continue
        if prefix:
            B[:, 0] = value_byte
            B[null, 0] = null_byte
            L = np.where(null, 1, L)
        pieces.append(("mat", B, L))

    # destination offsets: row-major interleave of all pieces
    lengths = [p[2] if p[0] == "mat" else p[3] for p in pieces]
    per_row = np.sum(lengths, axis=0)
    row_off = np.zeros(n, np.int64)
    np.cumsum(per_row[:-1], out=row_off[1:])
    total = int(per_row.sum())
    out = np.zeros(total, np.uint8)
    run = row_off.copy()
    for p in pieces:
        if p[0] == "mat":
            _tag, B, L = p
            w = B.shape[1]
            idx = run[:, None] + np.arange(w)
            mask = np.arange(w) < L[:, None]
            out[idx[mask]] = B[mask]
            run = run + L
        else:
            _tag, data, starts, lens = p
            tp = int(lens.sum())
            if tp:
                excl = np.zeros(n, np.int64)
                np.cumsum(lens[:-1], out=excl[1:])
                ramp = np.arange(tp) - np.repeat(excl, lens)
                out[np.repeat(run, lens) + ramp] = data[
                    np.repeat(starts, lens) + ramp
                ]
            run = run + lens
    return out.tobytes()


class OcfWriter:
    """Streaming OCF writer: rows are buffered and flushed as blocks."""

    def __init__(self, f, avro_schema, codec: str = "deflate", block_rows: int = 4096):
        self.f = f
        self.codec = codec
        self.block_rows = block_rows
        self.encoder = build_encoder(avro_schema)
        self.sync = os.urandom(SYNC_SIZE)
        self._buf = bytearray()
        self._rows = 0
        meta = bytearray()
        write_long(meta, 2)
        _enc_string(meta, "avro.schema")
        _enc_bytes(meta, json.dumps(avro_schema).encode())
        _enc_string(meta, "avro.codec")
        _enc_bytes(meta, codec.encode())
        write_long(meta, 0)
        f.write(MAGIC + bytes(meta) + self.sync)

    def write_row(self, row) -> None:
        self.encoder(self._buf, row)
        self._rows += 1
        if self._rows >= self.block_rows:
            self.flush_block()

    def flush_block(self) -> None:
        if not self._rows:
            return
        self._emit(self._rows, bytes(self._buf))
        self._buf.clear()
        self._rows = 0

    def write_block(self, nrows: int, body: bytes) -> None:
        """Frame an externally-encoded block body (the columnar
        encoder's output). Buffered per-row writes flush FIRST so row
        order is preserved when the two paths interleave."""
        self.flush_block()
        if nrows:
            self._emit(nrows, body)

    def _emit(self, nrows: int, data: bytes) -> None:
        if self.codec == "deflate":
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            data = c.compress(data) + c.flush()
        head = bytearray()
        write_long(head, nrows)
        write_long(head, len(data))
        self.f.write(bytes(head) + data + self.sync)

    def close(self) -> None:
        self.flush_block()
        self.f.flush()


# ---------------------------------------------------------------------
# Spark DataSource
# ---------------------------------------------------------------------

from pyspark.sql.datasource import (  # noqa: E402
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)


def _opt(options: dict, name: str, default=None):
    """Spark lowercases DataSource option keys; accept either form."""
    if name in options:
        return options[name]
    return options.get(name.lower(), default)


def _avro_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, n)
            for n in os.listdir(path)
            if n.endswith(".avro") and not n.startswith((".", "_"))
        )
    return [path]


@dataclass
class _SplitPartition(InputPartition):
    path: str
    start: int
    end: int


def _writer_projection(path: str, spark_schema) -> list | None:
    """Writer-order -> read-schema-order index map for the per-row
    paths, or None when they already agree. Spark maps yielded tuples
    to the declared read schema POSITIONALLY while iter_block_rows
    decodes in the FILE's writer order — without this reorder, a
    user-supplied schema (or a directory whose files disagree on field
    order) silently lands values in the wrong columns. A read-schema
    column absent from the writer null-fills, the parquet
    schema-on-read convention. Shared by the batch and streaming
    readers so they cannot drift."""
    if spark_schema is None:
        return None
    with open(path, "rb") as f:
        header = read_header(f)
    _, sch = _is_null_union(header.schema)
    if not (isinstance(sch, dict) and sch.get("type") == "record"):
        return None
    writer = [f["name"] for f in sch["fields"]]
    want = list(spark_schema.fieldNames())
    if writer == want:
        return None
    pos = {n: i for i, n in enumerate(writer)}
    return [pos.get(n) for n in want]


def _project_rows(rows: Iterator[tuple], proj: list | None) -> Iterator[tuple]:
    if proj is None:
        return rows
    return (tuple(r[i] if i is not None else None for i in proj) for r in rows)


class _ProjectionCache:
    """Per-reader-instance memo of _writer_projection keyed by file
    path (the read schema is fixed per reader). Splits of one file are
    separate partitions, and without the memo each split's read() paid
    a second full header open+parse on top of iter_block_rows' own —
    an extra parse per 128 MiB split even when writer order already
    matches (ADVICE r9). The cache only helps splits that land on the
    same deserialized reader (same worker task batch), which is the
    common local case; it is never required for correctness."""

    def __init__(self):
        self._memo: dict[str, list | None] = {}

    def get(self, path: str, spark_schema) -> list | None:
        if path not in self._memo:
            self._memo[path] = _writer_projection(path, spark_schema)
        return self._memo[path]


class AvroBatchReader(DataSourceReader):
    def __init__(self, options: dict, schema=None):
        self.path = _opt(options, "path")
        if not self.path:
            raise ValueError("avro_py: .load(path) is required")
        self.split_bytes = int(_opt(options, "splitBytes", DEFAULT_SPLIT_BYTES))
        # vectorized=false forces the per-row closure-tree path — the
        # comparison/debug escape hatch for the columnar decoder
        self.vectorized = (
            str(_opt(options, "vectorized", "true")).lower() != "false"
        )
        self.spark_schema = schema
        self._proj_cache = _ProjectionCache()

    def partitions(self) -> Sequence[InputPartition]:
        files = _avro_files(self.path)
        if not files:
            raise FileNotFoundError(f"no .avro files under {self.path!r}")
        parts = []
        step = max(self.split_bytes, 1 << 20)
        for fp in files:
            size = os.path.getsize(fp)
            if size == 0:
                continue  # another producer's crashed/empty leftover:
                # zero bytes hold zero blocks — reading it would only
                # fail the header parse and abort the whole job
            for off in range(0, size, step):
                parts.append(_SplitPartition(fp, off, min(off + step, size)))
        if not parts:  # only empty files: one sentinel, read() yields
            parts.append(_SplitPartition(files[0], 0, 0))
        return parts

    def read(self, partition: _SplitPartition) -> Iterator[tuple]:
        if partition.start >= partition.end:
            return iter(())  # empty-file sentinel
        if self.vectorized:
            probed = self._arrow_plan(partition.path)
            if probed is not None:
                header, plan = probed
                return iter_record_batches(
                    partition.path,
                    partition.start,
                    partition.end,
                    header=header,
                    plan=plan,
                )
        rows = iter_block_rows(partition.path, partition.start, partition.end)
        return _project_rows(
            rows, self._proj_cache.get(partition.path, self.spark_schema)
        )

    def _arrow_plan(self, path: str):
        """(header, columnar plan) when the file's natural Arrow
        schema is exactly the Arrow rendering of the Spark read schema
        — else None and the per-row path (whose tuples Spark converts
        itself, reordered by _projection) keeps correctness for
        user-supplied schemas and nested types. Returning the parsed
        values lets read() hand them to iter_record_batches instead of
        parsing the header twice per partition."""
        if self.spark_schema is None:
            return None
        try:
            from pyspark.sql.pandas.types import to_arrow_schema

            with open(path, "rb") as f:
                header = read_header(f)
            plan = columnar_plan(header.schema)
            if plan is None:
                return None
            expected = to_arrow_schema(self.spark_schema)
            if len(expected) != len(plan):
                return None
            for field, (name, kind, _nb) in zip(expected, plan):
                if field.name != name or field.type != _NATURAL_ARROW[kind]():
                    return None
            return header, plan
        except Exception:
            return None


@dataclass
class _WrittenFile(WriterCommitMessage):
    staged: str
    rows: int


class AvroArrowWriter(DataSourceArrowWriter):
    """Stage one .avro file per task (fsynced); publish by rename at
    commit.

    Durability honesty (vs the class's earlier claim of manifest-like
    atomicity): a MULTI-FILE directory sink cannot be atomic without a
    pointer object — Spark's own file sinks share this property. The
    commit therefore orders operations to fail SAFE, never lossy:
    staged files are fsynced before publish, renames happen BEFORE old
    files are unlinked in overwrite mode, and the directory entry is
    fsynced last. A crash mid-commit leaves a superset (old + some new
    files — duplicates a reader can detect) rather than an empty or
    truncated directory. For an atomic swap, commit to a manifest
    table instead (sinks.manifest.commit: one pointer rename)."""

    def __init__(self, options: dict, schema, overwrite: bool):
        self.path = _opt(options, "path")
        if not self.path:
            raise ValueError("avro_py: .save(path) is required")
        self.overwrite = overwrite
        self.codec = _opt(options, "codec", "deflate")
        if self.codec not in ("null", "deflate"):
            raise AvroUnsupported(f"avro_py: codec {self.codec!r} (null/deflate only)")
        self.avro_schema = spark_to_avro(schema)

    def write(self, iterator) -> _WrittenFile:
        import uuid

        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        staged = os.path.join(staging, f"{uuid.uuid4().hex}.avro")
        rows = 0
        plan = columnar_plan(self.avro_schema)
        with open(staged, "wb") as f:
            w = OcfWriter(f, self.avro_schema, codec=self.codec)
            for batch in iterator:
                if plan is not None and batch.num_rows:
                    try:
                        # columnar fast path: one Arrow batch -> one
                        # Avro block, no per-row Python
                        w.write_block(
                            batch.num_rows, encode_batch_block(batch, plan)
                        )
                        rows += batch.num_rows
                        continue
                    except AvroUnsupported:
                        pass  # kind outside the fast path: row encode
                for row in batch.to_pylist():
                    w.write_row(row)
                    rows += 1
            w.close()
            os.fsync(f.fileno())  # durable BEFORE the commit renames it
        return _WrittenFile(staged=staged, rows=rows)

    def commit(self, messages) -> None:
        msgs = [m for m in messages if m and m.staged]
        old = _avro_files(self.path) if self.overwrite else []
        # publish new files FIRST: a crash between these steps leaves
        # old+new coexisting (recoverable duplication), never data loss
        for i, m in enumerate(msgs):
            final = os.path.join(self.path, f"part-{i:05d}-{os.path.basename(m.staged)}")
            os.replace(m.staged, final)
        for f in old:
            os.unlink(f)
        dfd = os.open(self.path, os.O_RDONLY)
        try:
            os.fsync(dfd)  # persist the renames/unlinks themselves
        finally:
            os.close(dfd)
        self._rm_staging()

    def abort(self, messages) -> None:
        for m in messages or []:
            if m and getattr(m, "staged", ""):
                try:
                    os.unlink(m.staged)
                except FileNotFoundError:
                    pass
        self._rm_staging()

    def _rm_staging(self) -> None:
        try:
            os.rmdir(os.path.join(self.path, "_staging"))
        except OSError:
            pass  # concurrent writer still staging


class AvroStreamReader(DataSourceStreamReader):
    """Streaming source over a directory of .avro files: the offset is
    the SET of files already delivered, so discovery is correct for
    ANY file-naming scheme (a `last-name` watermark would silently
    skip files that sort before it — uuid part names do exactly that).

    The offset therefore grows O(#files); a guard raises past
    ``maxTrackedFiles`` (default 10k) with the standard remedy
    (compact the landing dir, or convert to parquet / manifest — the
    manifest stream's version offsets are O(1)). Files must be
    IMMUTABLE once visible — writers must stage + rename, which this
    module's own writer does.
    """

    MAX_DEFAULT = 10_000

    def __init__(self, options: dict, schema=None):
        self.path = _opt(options, "path")
        if not self.path:
            raise ValueError("avro_py stream: 'path' option is required")
        self.split_bytes = int(_opt(options, "splitBytes", DEFAULT_SPLIT_BYTES))
        self.max_tracked = int(_opt(options, "maxTrackedFiles", self.MAX_DEFAULT))
        self.spark_schema = schema

    def _names(self) -> list[str]:
        if not os.path.isdir(self.path):
            return []
        return sorted(
            n
            for n in os.listdir(self.path)
            if n.endswith(".avro") and not n.startswith((".", "_"))
        )

    def initialOffset(self) -> dict:
        return {"seen": []}

    def latestOffset(self) -> dict:
        names = self._names()
        if len(names) > self.max_tracked:
            raise ValueError(
                f"avro_py stream over {self.path!r} tracks {len(names)} files "
                f"(> maxTrackedFiles={self.max_tracked}); offsets store the "
                f"seen-file set, so compact the landing directory or switch "
                f"to the manifest_table stream (O(1) version offsets)"
            )
        return {"seen": names}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        new = sorted(set(end["seen"]) - set(start["seen"]))
        parts: list[InputPartition] = []
        step = max(self.split_bytes, 1 << 20)
        for n in new:
            fp = os.path.join(self.path, n)
            size = os.path.getsize(fp)
            if size == 0:
                continue  # empty leftover: zero blocks, skip (an empty
                # partitions list is a legal no-new-data microbatch)
            for off in range(0, size, step):
                parts.append(_SplitPartition(fp, off, min(off + step, size)))
        return parts

    def read(self, partition: _SplitPartition) -> Iterator[tuple]:
        rows = iter_block_rows(partition.path, partition.start, partition.end)
        if not hasattr(self, "_proj_cache"):  # checkpoint-restored instance
            self._proj_cache = _ProjectionCache()
        return _project_rows(
            rows, self._proj_cache.get(partition.path, self.spark_schema)
        )

    def commit(self, end: dict) -> None:
        pass  # progress lives in the streaming checkpoint


class AvroDataSource(DataSource):
    """``avro_py``: pure-Python Avro OCF batch reader/writer plus a
    file-discovery streaming source."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        from pyspark.sql.types import StructType

        files = _avro_files(self.options.get("path", ""))
        if not files:
            raise ValueError("avro_py: cannot infer schema — no files")
        # infer from the first NON-empty file: a zero-byte leftover
        # (crashed foreign producer) holds no header to parse, and the
        # read path already skips it as zero blocks
        nonempty = [fp for fp in files if os.path.getsize(fp) > 0]
        if not nonempty:
            raise ValueError(
                "avro_py: cannot infer schema — every file is empty; "
                "pass .schema(...) explicitly"
            )
        with open(nonempty[0], "rb") as f:
            header = read_header(f)
        st = avro_to_spark_type(header.schema)
        if not isinstance(st, StructType):
            raise AvroUnsupported("top-level Avro schema must be a record")
        return st

    def reader(self, schema) -> AvroBatchReader:
        return AvroBatchReader(dict(self.options), schema)

    def writer(self, schema, overwrite: bool) -> AvroArrowWriter:
        return AvroArrowWriter(dict(self.options), schema, overwrite)

    def streamReader(self, schema) -> AvroStreamReader:
        return AvroStreamReader(dict(self.options), schema)


def register(spark) -> None:
    """Idempotent registration of the avro_py format.

    Also pins the JVM's THREAD-LOCAL active session: Python DataSource
    lookup resolves through SparkSession.getActiveSession, which a
    fresh Python thread (the pipeline's per-table ThreadPoolExecutor)
    does not have — without this, a format registered and visible on
    the main thread raises DATA_SOURCE_NOT_FOUND from a worker thread.
    Callers invoke register() immediately before read/write, so the
    pin lands on the executing thread."""
    spark.dataSource.register(AvroDataSource)
    jss = getattr(spark, "_jsparkSession", None)
    if jss is not None:  # classic py4j session (not Spark Connect)
        spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(jss)
