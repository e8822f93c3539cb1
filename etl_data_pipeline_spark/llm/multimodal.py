"""Multimodal column plumbing (north-star: image/audio/video as opaque
binary columns with typed metadata — SURVEY.md extension spec).

Two decode paths:

1. ``multimodal_decode_header`` — a REAL byte-level parse of a tiny
   self-describing container format (SMF1): magic + format char +
   fixed-width header fields, parsed JVM-side with substring/cast
   (whole-stage codegen, no Python). The payloads are synthesized
   deterministically from the documents table (the testdata ships no
   binary media column), and the DuckDB oracle re-runs BOTH the pack
   and the parse — so decode and its downstream stages (resize plan,
   frame sampling) are hash-checked end-to-end.
2. ``multimodal_decode_stub`` — the Arrow-batched mapInPandas shape a
   real image decoder (PIL/librosa) plugs into; the container has no
   imaging libraries, so the decode stops at the container header,
   parsed vectorized in pandas with the SAME semantics as path 1
   (invalid magic -> NULL fields). This keeps the Python batch
   plumbing (schema, batching, partition behavior) exercised AND
   hash-checked against the same DuckDB oracle as the JVM parse.

At 100 TB: binary payloads stay columnar in parquet; header-only
analytics read 15 bytes per row JVM-side (path 1); full decodes run as
Arrow-batched mapInPandas (path 2) with
spark.sql.files.maxPartitionBytes tuned so a batch of payloads fits
executor memory; metadata-only queries never touch the payload column
(column pruning).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_data_pipeline_spark.functions.rounding import hround
from etl_data_pipeline_spark.session import load_table

DECODED_SCHEMA = (
    "doc_id long, byte_len int, format string, width int, height int, "
    "n_frames int, decoder string"
)

# SMF1 ("synthetic media format"): 'SMF1' + format char (p/j/w) +
# width (4 ASCII digits) + height (4) + n_frames (2) + body bytes.
SMF_MAGIC = "SMF1"
SMF_HEADER_LEN = 4 + 1 + 4 + 4 + 2  # = 15 bytes


def _hexbyte(hexcol: Column, i: int) -> Column:
    """i-th byte (1-based) of a hex digest string, as int — portable
    (Spark conv(hex,16,10) ≡ DuckDB ('0x'||..)::INT)."""
    return F.conv(F.substring(hexcol, 2 * i - 1, 2), 16, 10).cast("int")


def _packed_payloads(docs: DataFrame) -> DataFrame:
    """Synthesize (doc_id, payload binary) in SMF1: header fields are
    md5-derived (deterministic, same derivation as the stub decoder),
    body is the document text bytes. Pure JVM expressions."""
    d = F.md5(F.col("text"))
    width = 64 + _hexbyte(d, 2) % 192
    height = 64 + _hexbyte(d, 3) % 192
    n_frames = 1 + _hexbyte(d, 4) % 4
    fmt_char = F.element_at(
        F.array(F.lit("p"), F.lit("j"), F.lit("w")), _hexbyte(d, 1) % 3 + 1
    )
    header = F.concat(
        F.lit(SMF_MAGIC),
        fmt_char,
        F.lpad(width.cast("string"), 4, "0"),
        F.lpad(height.cast("string"), 4, "0"),
        F.lpad(n_frames.cast("string"), 2, "0"),
    )
    return docs.select(
        "doc_id", F.concat(header, F.col("text")).cast("binary").alias("payload")
    )


def multimodal_decode_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level header decode of SMF1 payloads: validate the magic,
    parse format/width/height/n_frames from fixed offsets — all inside
    whole-stage codegen (substring + cast on the payload bytes), no
    Python anywhere. Invalid-magic rows surface as NULL fields rather
    than errors (bad bytes are data, not exceptions, at 100 TB).

    This is the production shape for header-only media analytics: the
    scan reads 15 bytes per row of the payload column and never pays a
    Python/Arrow round trip; only a FULL decode (pixels/samples) needs
    the mapInPandas path (multimodal_decode_stub).
    """
    p = _packed_payloads(load_table(spark, sf_dir, "documents"))
    s = F.col("payload").cast("string")
    valid = F.substring(s, 1, 4) == SMF_MAGIC
    fmt_char = F.substring(s, 5, 1)
    return p.select(
        "doc_id",
        F.length("payload").alias("byte_len"),
        F.when(valid & (fmt_char == "p"), "png")
        .when(valid & (fmt_char == "j"), "jpeg")
        .when(valid & (fmt_char == "w"), "webp")
        .alias("format"),
        F.when(valid, F.substring(s, 6, 4).cast("int")).alias("width"),
        F.when(valid, F.substring(s, 10, 4).cast("int")).alias("height"),
        F.when(valid, F.substring(s, 14, 2).cast("int")).alias("n_frames"),
        F.lit("smf1").alias("decoder"),
    )


def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata over an opaque binary column: byte length + content
    digest, computed JVM-side. (documents.text cast to binary stands in
    for an image/audio payload column.)"""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.length(payload).alias("byte_len"),
        F.md5(payload).alias("content_md5"),
        F.substring(F.base64(payload), 1, 16).alias("b64_prefix"),
    )


def _decode_batch(batch_iter):
    """mapInPandas worker: decode SMF1 payloads into typed metadata.

    A real pixel/sample decoder (PIL / librosa / av) plugs in right
    after the header parse — `payload[SMF_HEADER_LEN:]` is the media
    body. The container ships no imaging libraries, so decode stops at
    the header: parsed VECTORIZED in pandas (no per-row Python), with
    the same semantics as the JVM path (invalid magic -> NULL fields,
    never exceptions — bad bytes are data, not errors, at 100 TB).
    """
    import pandas as pd

    for pdf in batch_iter:
        payload = pdf["payload"]
        hdr = payload.str[:SMF_HEADER_LEN].str.decode("ascii", errors="replace")
        valid = hdr.str[:4] == SMF_MAGIC
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "byte_len": payload.str.len().astype("int32"),
                "format": hdr.str[4].map({"p": "png", "j": "jpeg", "w": "webp"}).where(
                    valid
                ),
                "width": pd.to_numeric(hdr.str[5:9], errors="coerce").where(valid),
                "height": pd.to_numeric(hdr.str[9:13], errors="coerce").where(valid),
                "n_frames": pd.to_numeric(hdr.str[13:15], errors="coerce").where(valid),
                "decoder": "arrow-python",
            }
        )


def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode pipeline over binary payloads via mapInPandas
    (Arrow-batched) — the slot a real image/audio decoder occupies.
    Header fields are parsed in Python (see _decode_batch) and
    hash-checked against the same DuckDB oracle as the JVM parse, so
    the Arrow plumbing itself is correctness-gated."""
    payloads = _packed_payloads(load_table(spark, sf_dir, "documents"))
    return payloads.mapInPandas(_decode_batch, DECODED_SCHEMA)


def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage DOWNSTREAM of decode: fit each decoded image into a
    224×224 box preserving aspect ratio.

    Consumes the byte-parsed header decode, so the whole lineage is
    JVM-side and oracle-checked. Once payloads are decoded to typed
    metadata, downstream stages are plain columnar expressions —
    only a FULL pixel decode pays the Arrow-batch round trip. Output
    dims use floor(x+0.5) (identical IEEE expression cross-engine)
    rather than round() (half-even vs half-away varies by engine)."""
    decoded = multimodal_decode_header(spark, sf_dir)
    scale = F.least(F.lit(224.0) / F.col("width"), F.lit(224.0) / F.col("height"))
    return decoded.select(
        "doc_id",
        "width",
        "height",
        F.floor(F.col("width") * scale + 0.5).cast("int").alias("out_width"),
        F.floor(F.col("height") * scale + 0.5).cast("int").alias("out_height"),
        hround(scale, 6).alias("scale"),
    )


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling stage for video-like payloads: every 2nd frame of
    each decoded clip, one output row per sampled frame (posexplode
    over a frame-index sequence — the row-expansion shape of real frame
    extraction, with per-frame ids derived deterministically).
    Consumes the byte-parsed header decode — oracle-checked."""
    decoded = multimodal_decode_header(spark, sf_dir)
    return decoded.select(
        "doc_id",
        "n_frames",
        F.posexplode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(2))).alias(
            "sample_idx", "frame_idx"
        ),
    ).select(
        "doc_id",
        "n_frames",
        "sample_idx",
        "frame_idx",
        F.md5(F.concat_ws(":", F.col("doc_id"), F.col("frame_idx"))).alias("frame_key"),
    )


# ---------------------------------------------------------------------------
# REAL public container formats: PNG (ISO/IEC 15948 §5.2/§11.2.2) and
# WAV (RIFF, Microsoft/IBM multimedia spec). Unlike SMF1 these are the
# actual byte layouts real files use — big-endian chunk fields + CRC32
# for PNG, little-endian RIFF fields for WAV — so the decode
# expressions below work unchanged on genuine files (proved in
# tests/test_llm.py on stdlib-generated PNG/WAV bytes). The testdata
# ships no media column, so registered queries synthesize payloads
# deterministically from documents (same discipline as SMF1: the
# DuckDB oracle re-derives the expected OUTPUT from the generation
# parameters, while Spark goes pack -> real bytes -> real parse — any
# error in either step breaks the value hash).
# ---------------------------------------------------------------------------

_PNG_SIG_HEX = "89504E470D0A1A0A"
# 10 legal (bit_depth, color_type) combos per the PNG spec table 11.1;
# channels per color type: 0=gray 1ch, 2=rgb 3ch, 3=palette 1ch,
# 4=gray+alpha 2ch, 6=rgba 4ch.
_PNG_DEPTHS = [8, 8, 16, 8, 1, 8, 4, 16, 8, 16]
_PNG_COLORS = [2, 6, 2, 0, 0, 3, 3, 0, 4, 4]
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

_WAV_RATES = [8000, 16000, 22050, 44100, 48000]
_WAV_BITS = [8, 16, 24]


def _be_hex(col: Column, nbytes: int) -> Column:
    """Integer column -> big-endian fixed-width hex string."""
    return F.lpad(F.hex(col.cast("bigint")), 2 * nbytes, "0")


def _le_hex(col: Column, nbytes: int) -> Column:
    """Integer column -> little-endian fixed-width hex string (byte-
    swapped: least-significant byte first, as RIFF stores fields)."""
    c = col.cast("bigint")
    return F.concat(
        *[
            F.lpad(F.hex(F.shiftright(c, 8 * i).bitwiseAND(255)), 2, "0")
            for i in range(nbytes)
        ]
    )


def _le_int(h: Column, byte_off: int, nbytes: int) -> Column:
    """Parse a little-endian unsigned int from a hex-string view of a
    payload. ``byte_off`` is the 1-based BYTE offset in the payload."""
    total = None
    for i in range(nbytes):
        b = F.conv(F.substring(h, 2 * (byte_off + i) - 1, 2), 16, 10).cast("bigint")
        term = b * F.lit(256**i)
        total = term if total is None else total + term
    return total


def _packed_png(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", _png_payload_col().alias("payload"))


def _png_payload_col() -> Column:
    """Synthesize genuine minimal PNG bytes (signature + IHDR with a
    REAL CRC32 + IEND) per document, entirely in JVM expressions:
    the hex image is assembled with concat/lpad and materialized to
    binary with unhex; the IHDR CRC is Spark's built-in crc32 over the
    exact chunk bytes (type+data), as the spec demands. Two md5-seeded
    corruption classes make validation data-dependent: ~6% of rows get
    a broken signature byte, and a disjoint ~6% get their stored CRC
    incremented (mod 2^32) so the chunk no longer checksums."""
    d = F.md5(F.col("text"))
    width = 16 + F.conv(F.substring(d, 1, 3), 16, 10).cast("int") % 4080
    height = 16 + F.conv(F.substring(d, 4, 3), 16, 10).cast("int") % 4080
    combo = _hexbyte(d, 4) % 10
    depth = F.element_at(F.array(*[F.lit(v) for v in _PNG_DEPTHS]), combo + 1)
    color = F.element_at(F.array(*[F.lit(v) for v in _PNG_COLORS]), combo + 1)
    corrupt_sig = _hexbyte(d, 5) % 16 == 0
    corrupt_crc = _hexbyte(d, 6) % 16 == 0
    ihdr_data = F.concat(
        _be_hex(width, 4), _be_hex(height, 4), _be_hex(depth, 1),
        _be_hex(color, 1), F.lit("000000"),  # compression, filter, interlace
    )
    chunk_hex = F.concat(F.lit("49484452"), ihdr_data)  # "IHDR" + data
    crc = F.crc32(F.unhex(chunk_hex))
    crc_stored = F.pmod(crc + F.when(corrupt_crc, 1).otherwise(0), F.lit(2**32))
    sig = F.when(corrupt_sig, F.lit("00" + _PNG_SIG_HEX[2:])).otherwise(
        F.lit(_PNG_SIG_HEX)
    )
    payload_hex = F.concat(
        sig,
        F.lit("0000000D"),  # IHDR length = 13
        chunk_hex,
        _be_hex(crc_stored, 4),
        F.lit("0000000049454E44AE426082"),  # empty IEND + its constant CRC
    )
    return F.unhex(payload_hex)


def decode_png_headers(payloads: DataFrame) -> DataFrame:
    """Parse (doc_id, payload binary) rows as PNG: validate the 8-byte
    signature + IHDR chunk framing, pull width/height/bit-depth/
    color-type from their spec offsets (big-endian), derive the channel
    count, and VERIFY the IHDR CRC32 by recomputing it over the chunk
    bytes. All whole-stage-codegen expressions over a hex view of the
    payload — 33 header bytes read per row, no Python. Works on
    genuine PNG files (tests feed zlib-built ones); invalid rows
    surface as NULL fields, crc_ok=false (bad bytes are data)."""
    h = F.hex(F.col("payload"))
    valid = (
        (F.substring(h, 1, 16) == _PNG_SIG_HEX)
        & (F.substring(h, 17, 8) == "0000000D")
        & (F.substring(h, 25, 8) == "49484452")
    )
    color = F.conv(F.substring(h, 51, 2), 16, 10).cast("int")
    chan = F.create_map(
        *[F.lit(x) for kv in _PNG_CHANNELS.items() for x in kv]
    )[color]
    crc_match = F.crc32(F.unhex(F.substring(h, 25, 34))) == F.conv(
        F.substring(h, 59, 8), 16, 10
    ).cast("bigint")
    return payloads.select(
        "doc_id",
        F.length("payload").alias("byte_len"),
        F.when(valid, "png").alias("format"),
        F.when(valid, F.conv(F.substring(h, 33, 8), 16, 10).cast("int")).alias("width"),
        F.when(valid, F.conv(F.substring(h, 41, 8), 16, 10).cast("int")).alias("height"),
        F.when(valid, F.conv(F.substring(h, 49, 2), 16, 10).cast("int")).alias("bit_depth"),
        F.when(valid, color).alias("color_type"),
        F.when(valid, chan).alias("channels"),
        F.coalesce(valid & crc_match, F.lit(False)).alias("crc_ok"),
    )


def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header decode of REAL PNG bytes (signature + IHDR + CRC check)
    synthesized per document. Spark's lineage is pack -> genuine bytes
    -> byte-offset parse with CRC32 re-verification; the oracle
    re-derives the expected fields from the md5 generation parameters,
    so a mistake anywhere in the byte assembly, the offsets, or the
    CRC arithmetic breaks the value hash."""
    return decode_png_headers(
        _packed_png(load_table(spark, sf_dir, "documents"))
    )


def _packed_wav(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", _wav_payload_col().alias("payload"))


def _wav_payload_col() -> Column:
    """Synthesize genuine WAV bytes (RIFF/WAVE + 16-byte PCM fmt chunk
    + data chunk, all fields little-endian per the RIFF spec) per
    document; the data payload is the document text bytes. Corruption
    classes: ~6% get signature 'RIFX' (the big-endian variant this
    decoder intentionally rejects), a disjoint ~6% get an off-by-one
    stored byte-rate so internal-consistency validation fails."""
    d = F.md5(F.col("text"))
    ch = 1 + _hexbyte(d, 1) % 2
    rate = F.element_at(F.array(*[F.lit(v) for v in _WAV_RATES]), _hexbyte(d, 2) % 5 + 1)
    bits = F.element_at(F.array(*[F.lit(v) for v in _WAV_BITS]), _hexbyte(d, 3) % 3 + 1)
    corrupt_sig = _hexbyte(d, 5) % 16 == 0
    corrupt_rate = _hexbyte(d, 6) % 16 == 0
    block_align = ch * bits / F.lit(8)
    byte_rate = rate * block_align + F.when(corrupt_rate, 1).otherwise(0)
    body = F.col("text").cast("binary")
    data_size = F.length(body)
    header_hex = F.concat(
        F.when(corrupt_sig, "52494658").otherwise("52494646"),  # RIFX / RIFF
        _le_hex(data_size + 36, 4),
        F.lit("57415645"),  # WAVE
        F.lit("666D7420"),  # 'fmt '
        _le_hex(F.lit(16), 4),  # PCM fmt chunk size
        _le_hex(F.lit(1), 2),  # audio format 1 = PCM
        _le_hex(ch, 2),
        _le_hex(rate, 4),
        _le_hex(byte_rate, 4),
        _le_hex(block_align, 2),
        _le_hex(bits, 2),
        F.lit("64617461"),  # 'data'
        _le_hex(data_size, 4),
    )
    return F.concat(F.unhex(header_hex), body)


def decode_wav_headers(payloads: DataFrame) -> DataFrame:
    """Parse (doc_id, payload binary) rows as PCM WAV: validate
    RIFF/WAVE/'fmt ' framing, parse channels / sample-rate / bit-depth
    / byte-rate / data-size from their little-endian offsets, check
    the byte-rate's internal consistency (rate*channels*bits/8), and
    compute the clip duration from data_size/byte_rate. Whole-stage
    codegen over a hex view, 44 header bytes per row, no Python.
    Works on genuine files (tests feed wave-module output)."""
    h = F.hex(F.col("payload"))
    valid = (
        (F.substring(h, 1, 8) == "52494646")  # RIFF
        & (F.substring(h, 17, 8) == "57415645")  # WAVE
        & (F.substring(h, 25, 8) == "666D7420")  # 'fmt '
        & (_le_int(h, 21, 2) == 1)  # PCM only
    )
    ch = _le_int(h, 23, 2).cast("int")
    rate = _le_int(h, 25, 4).cast("int")
    byte_rate = _le_int(h, 29, 4).cast("int")
    bits = _le_int(h, 35, 2).cast("int")
    data_size = _le_int(h, 41, 4).cast("int")
    return payloads.select(
        "doc_id",
        F.length("payload").alias("byte_len"),
        F.when(valid, "wav").alias("format"),
        F.when(valid, ch).alias("channels"),
        F.when(valid, rate).alias("sample_rate"),
        F.when(valid, bits).alias("bits_per_sample"),
        F.when(valid, data_size).alias("data_size"),
        F.coalesce(
            valid & (byte_rate == rate * ch * bits / F.lit(8)), F.lit(False)
        ).alias("rate_consistent"),
        F.when(
            valid, hround(data_size * F.lit(1000.0) / byte_rate, 3)
        ).alias("duration_ms"),
    )


def multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header decode of REAL WAV bytes (RIFF little-endian fields)
    synthesized per document — see decode_wav_headers. Oracle
    re-derives expected fields from the generation parameters."""
    return decode_wav_headers(
        _packed_wav(load_table(spark, sf_dir, "documents"))
    )


# JPEG is the hard header format: the SOF frame header sits at a
# VARIABLE offset behind a chain of variable-length segments (APPn,
# COM, DQT, ...), so unlike PNG/WAV/SMF1 a fixed-offset parse cannot
# work — the decoder must WALK segments. _JPEG_MAX_SEGMENTS bounds the
# walk (an F.aggregate fold, still whole-stage codegen); real camera
# files front-load EXIF/ICC segments, so production would raise it
# (each step is a couple of codegen ops — 64 is still cheap).
_JPEG_MAX_SEGMENTS = 8


def _be16(h: Column, p: Column) -> Column:
    """Big-endian u16 at 1-based BYTE offset ``p`` (a Column) of a
    hex-string payload view."""
    return F.conv(h.substr(p * 2 - 1, F.lit(4)), 16, 10).cast("int")


def _packed_jpeg(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", _jpeg_payload_col().alias("payload"))


def _jpeg_payload_col() -> Column:
    """Synthesize genuine JFIF/JPEG header bytes per document: SOI,
    the standard 18-byte APP0/JFIF segment, a COM segment of
    md5-derived VARIABLE length (0-15 payload bytes — this is what
    forces the decoder to walk, not peek), an SOF0 (baseline) or SOF2
    (progressive, ~25% of rows) frame header carrying real big-endian
    dimensions and a 3-component YCbCr layout, then EOI. ~6% of rows
    get a corrupted SOI byte. (No entropy-coded scan data — header
    fixture, same scope as the PNG/WAV packers.)"""
    d = F.md5(F.col("text"))
    height = 16 + F.conv(F.substring(d, 1, 3), 16, 10).cast("int") % 4080
    width = 16 + F.conv(F.substring(d, 4, 3), 16, 10).cast("int") % 4080
    pad = _hexbyte(d, 4) % 16
    progressive = _hexbyte(d, 5) % 4 == 0
    corrupt_sig = _hexbyte(d, 6) % 16 == 0
    app0 = "FFE00010" + "4A46494600" + "0101" + "00" + "00010001" + "0000"
    com = F.concat(
        F.lit("FFFE"), _be_hex(pad + 2, 2),
        F.lit("41" * 15).substr(F.lit(1), pad * 2),
    )
    sof = F.concat(
        F.when(progressive, "FFC2").otherwise("FFC0"),
        F.lit("0011" + "08"),  # length 17, precision 8
        _be_hex(height, 2), _be_hex(width, 2),
        F.lit("03" + "012200" + "021101" + "031101"),  # 3-comp YCbCr
    )
    payload_hex = F.concat(
        F.when(corrupt_sig, "00D8").otherwise("FFD8"),
        F.lit(app0), com, sof, F.lit("FFD9"),
    )
    return F.unhex(payload_hex)


def _jpeg_byte_at(h: Column):
    def byte_at(p: Column) -> Column:
        return h.substr(p * 2 - 1, F.lit(2))

    return byte_at


def _jpeg_is_sof(h: Column):
    byte_at = _jpeg_byte_at(h)

    def is_sof(p: Column) -> Column:
        return (byte_at(p) == "FF") & byte_at(p + 1).isin("C0", "C2")

    return is_sof


def _jpeg_sof_offset(h: Column) -> Column:
    """1-based byte offset of the SOF0/SOF2 marker: a bounded fold that
    stays once on an SOF marker, else hops 2 (marker) + the segment's
    big-endian length. Shared by decode_jpeg_headers and the sniffing
    dispatcher."""
    is_sof = _jpeg_is_sof(h)
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(_JPEG_MAX_SEGMENTS)),
        F.lit(3).cast("int"),  # first segment starts right after SOI
        lambda acc, _: F.when(is_sof(acc), acc).otherwise(
            (acc + 2 + _be16(h, acc + 2)).cast("int")
        ),
    )


def decode_jpeg_headers(payloads: DataFrame) -> DataFrame:
    """Parse (doc_id, payload binary) rows as JPEG: validate the SOI
    marker, then WALK the segment chain — each step reads the marker
    and its big-endian length field and hops to the next — until an
    SOF0/SOF2 frame header is found, and parse height/width/precision/
    component-count from the frame header's fixed layout. The walk is
    an F.aggregate fold over a bounded step sequence with dynamic
    ``Column.substr`` offsets: per-row iterative parsing that still
    compiles into whole-stage codegen, no Python. Rows with a bad
    signature, or whose SOF lies beyond the walk bound, surface as
    NULL fields."""
    h = F.hex(F.col("payload"))
    byte_at, is_sof = _jpeg_byte_at(h), _jpeg_is_sof(h)
    sof_off = _jpeg_sof_offset(h)
    valid = F.coalesce(
        (h.substr(1, 4) == "FFD8") & is_sof(sof_off), F.lit(False)
    )
    return payloads.select(
        "doc_id",
        F.length("payload").alias("byte_len"),
        F.when(valid, "jpeg").alias("format"),
        F.when(valid, _be16(h, sof_off + 7)).alias("width"),
        F.when(valid, _be16(h, sof_off + 5)).alias("height"),
        F.when(valid, F.conv(byte_at(sof_off + 4), 16, 10).cast("int")).alias(
            "bit_precision"
        ),
        F.when(valid, F.conv(byte_at(sof_off + 9), 16, 10).cast("int")).alias(
            "n_components"
        ),
        F.when(valid, byte_at(sof_off + 1) == "C2").alias("progressive"),
        F.when(valid, sof_off).alias("sof_offset"),
    )


def multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header decode of REAL JPEG bytes (segment-walk to a variable-
    offset SOF frame header) synthesized per document — see
    decode_jpeg_headers. The oracle re-derives every field INCLUDING
    the SOF byte offset from the generation parameters, so the walk
    arithmetic itself is value-hashed."""
    return decode_jpeg_headers(
        _packed_jpeg(load_table(spark, sf_dir, "documents"))
    )


def sniff_dispatch(payloads: DataFrame) -> DataFrame:
    """Format-sniffing dispatch over ONE mixed-format binary column —
    the real ingest shape: a crawled media corpus is never
    homogeneous, so the first decode stage sniffs each payload's magic
    (PNG signature / JPEG SOI / RIFF) and routes it to the matching
    parser, normalizing into one schema (images get width/height,
    audio gets channels/sample_rate; channels is shared — PNG derives
    it from color type, JPEG from SOF component count). Unrecognized
    bytes get sniffed=NULL with everything else NULL — never an
    exception. All three parsers and the sniff run as gated
    expressions in ONE whole-stage-codegen projection: a single scan,
    no per-format passes, no Python."""
    h = F.hex(F.col("payload"))
    sniffed = (
        F.when(h.substr(1, 16) == _PNG_SIG_HEX, "png")
        .when(h.substr(1, 4) == "FFD8", "jpeg")
        .when(
            (h.substr(1, 8) == "52494646") & (h.substr(17, 8) == "57415645"),
            "wav",
        )
    )
    # PNG fields (fixed offsets behind the 8-byte signature)
    png_ok = (h.substr(17, 8) == "0000000D") & (h.substr(25, 8) == "49484452")
    png_w = F.conv(h.substr(33, 8), 16, 10).cast("int")
    png_h = F.conv(h.substr(41, 8), 16, 10).cast("int")
    png_chan = F.create_map(
        *[F.lit(x) for kv in _PNG_CHANNELS.items() for x in kv]
    )[F.conv(h.substr(51, 2), 16, 10).cast("int")]
    # JPEG fields (variable offset via the bounded segment walk)
    sof = _jpeg_sof_offset(h)
    jpeg_ok = F.coalesce(_jpeg_is_sof(h)(sof), F.lit(False))
    # WAV fields (little-endian fmt chunk)
    wav_ok = (h.substr(25, 8) == "666D7420") & (_le_int(h, 21, 2) == 1)
    is_png = sniffed == "png"
    is_jpeg = sniffed == "jpeg"
    is_wav = sniffed == "wav"
    return payloads.select(
        "doc_id",
        F.length("payload").alias("byte_len"),
        sniffed.alias("sniffed"),
        F.when(is_png & png_ok, png_w)
        .when(is_jpeg & jpeg_ok, _be16(h, sof + 7))
        .alias("width"),
        F.when(is_png & png_ok, png_h)
        .when(is_jpeg & jpeg_ok, _be16(h, sof + 5))
        .alias("height"),
        F.when(is_png & png_ok, png_chan)
        .when(is_jpeg & jpeg_ok, F.conv(_jpeg_byte_at(h)(sof + 9), 16, 10).cast("int"))
        .when(is_wav & wav_ok, _le_int(h, 23, 2).cast("int"))
        .alias("channels"),
        F.when(is_wav & wav_ok, _le_int(h, 25, 4).cast("int")).alias("sample_rate"),
        F.coalesce(
            F.when(is_png, png_ok)
            .when(is_jpeg, jpeg_ok)
            .when(is_wav, wav_ok),
            F.lit(False),
        ).alias("parsed_ok"),
    )


def multimodal_sniff_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sniff_dispatch over a synthesized MIXED corpus: each document's
    payload is packed as PNG, JPEG, or WAV (md5-chosen, so roughly a
    third each — including each format's corrupted-signature rows,
    which must surface as sniffed=NULL). The oracle re-derives format
    choice and expected fields from the generation parameters."""
    docs = load_table(spark, sf_dir, "documents")
    choice = _hexbyte(F.md5(F.col("text")), 7) % 3
    payload = (
        F.when(choice == 0, _png_payload_col())
        .when(choice == 1, _jpeg_payload_col())
        .otherwise(_wav_payload_col())
    )
    return sniff_dispatch(docs.select("doc_id", payload.alias("payload")))


def _packed_gif(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", _gif_payload_col().alias("payload"))


def _gif_payload_col() -> Column:
    """Synthesize genuine GIF bytes (GIF87a/GIF89a signature + Logical
    Screen Descriptor per the spec: width/height little-endian at
    bytes 7-10, packed byte at 11 carrying the global-color-table flag
    and size bits) per document; body is the document text bytes.
    ~6% of rows get a corrupted first signature byte (validation is
    data-dependent, the PNG/WAV discipline)."""
    d = F.md5(F.col("text"))
    width = 16 + F.conv(F.substring(d, 1, 3), 16, 10).cast("int") % 4080
    height = 16 + F.conv(F.substring(d, 4, 3), 16, 10).cast("int") % 4080
    ver89 = _hexbyte(d, 4) % 2 == 0
    corrupt_sig = _hexbyte(d, 5) % 16 == 0
    gct_flag = _hexbyte(d, 7) % 4 > 0
    gct_bits = _hexbyte(d, 8) % 8
    # packed: GCT flag (bit 7) | color resolution 7 (bits 6-4) |
    # sort 0 (bit 3) | GCT size bits (2-0, table holds 2^(n+1) colors)
    packed = (
        F.when(gct_flag, 128).otherwise(0)
        + F.lit(0x70)
        + F.when(gct_flag, gct_bits).otherwise(0)
    )
    header_hex = F.concat(
        F.when(corrupt_sig, F.lit("00494638")).otherwise(F.lit("47494638")),
        F.when(ver89, F.lit("3961")).otherwise(F.lit("3761")),  # '9a'/'7a'
        _le_hex(width, 2),
        _le_hex(height, 2),
        F.lpad(F.hex(packed), 2, "0"),
        F.lit("0000"),  # background color index + pixel aspect ratio
    )
    return F.concat(F.unhex(header_hex), F.col("text").cast("binary"))


def decode_gif_headers(payloads: DataFrame) -> DataFrame:
    """Parse (doc_id, payload binary) rows as GIF: validate the
    'GIF87a'/'GIF89a' signature, pull width/height from their
    little-endian Logical-Screen-Descriptor offsets, and unpack the
    global-color-table flag + table size (2^(bits+1) colors) from the
    packed byte at offset 10. Whole-stage codegen over a hex view —
    13 header bytes per row, no Python. Works on genuine files (the
    tests feed the canonical 43-byte 1×1 transparent GIF89a)."""
    h = F.hex(F.col("payload"))
    valid = (F.substring(h, 1, 8) == "47494638") & F.substring(h, 9, 4).isin(
        "3761", "3961"
    )
    packed = F.conv(F.substring(h, 21, 2), 16, 10).cast("int")
    gct_flag = packed.bitwiseAND(128) != 0
    gct_colors = F.when(
        gct_flag,
        F.pow(F.lit(2.0), packed.bitwiseAND(7) + 1).cast("int"),
    ).otherwise(0)
    return payloads.select(
        "doc_id",
        F.length("payload").alias("byte_len"),
        F.when(valid, "gif").alias("format"),
        F.when(
            valid,
            F.when(F.substring(h, 9, 4) == "3961", "89a").otherwise("87a"),
        ).alias("version"),
        F.when(valid, _le_int(h, 7, 2).cast("int")).alias("width"),
        F.when(valid, _le_int(h, 9, 2).cast("int")).alias("height"),
        F.when(valid, gct_flag).alias("gct_flag"),
        F.when(valid, gct_colors).alias("gct_colors"),
    )


def multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header decode of REAL GIF bytes (signature + Logical Screen
    Descriptor) synthesized per document — see decode_gif_headers.
    Oracle re-derives expected fields from the generation
    parameters."""
    return decode_gif_headers(
        _packed_gif(load_table(spark, sf_dir, "documents"))
    )


def _packed_bmp(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", _bmp_payload_col().alias("payload"))


def _bmp_payload_col() -> Column:
    """Synthesize genuine BMP bytes per document: 14-byte file header
    ('BM', little-endian file size, pixel-data offset 54) + 40-byte
    BITMAPINFOHEADER (width LE i32; height LE i32 — NEGATIVE height is
    the spec's top-down marker, stored two's-complement; planes=1;
    bpp ∈ {8, 24, 32}; compression BI_RGB=0). Body is the document
    text bytes. ~6% of rows get a corrupted signature (the PNG/WAV
    data-dependent-validation discipline). Pure JVM expressions."""
    d = F.md5(F.col("text"))
    width = 16 + F.conv(F.substring(d, 1, 3), 16, 10).cast("int") % 4080
    height = 16 + F.conv(F.substring(d, 4, 3), 16, 10).cast("int") % 4080
    top_down = _hexbyte(d, 4) % 4 == 0
    bpp = F.array(F.lit(8), F.lit(24), F.lit(32))[_hexbyte(d, 5) % 3]
    corrupt_sig = _hexbyte(d, 6) % 16 == 0
    tlen = F.length(F.col("text").cast("binary"))
    # stored height: two's-complement u32 of (top_down ? -h : h)
    h_u32 = F.when(top_down, F.lit(2**32).cast("bigint") - height).otherwise(
        height.cast("bigint")
    )
    header_hex = F.concat(
        F.when(corrupt_sig, F.lit("004D")).otherwise(F.lit("424D")),  # 'BM'
        _le_hex(F.lit(54) + tlen, 4),       # file size
        F.lit("00000000"),                  # reserved
        _le_hex(F.lit(54), 4),              # pixel-data offset
        _le_hex(F.lit(40), 4),              # DIB header size
        _le_hex(width, 4),
        _le_hex(h_u32, 4),
        F.lit("0100"),                      # planes = 1 (LE u16)
        _le_hex(bpp, 2),
        _le_hex(F.lit(0), 4),               # compression BI_RGB
        _le_hex(F.lit(0), 4),               # image size (0 ok for BI_RGB)
        F.lit("00" * 16),                   # ppm x/y, colors used/important
    )
    return F.concat(F.unhex(header_hex), F.col("text").cast("binary"))


def decode_bmp_headers(payloads: DataFrame) -> DataFrame:
    """Parse (doc_id, payload binary) rows as BMP: validate the 'BM'
    signature + BITMAPINFOHEADER size 40 + planes 1, parse width,
    SIGNED height (u32 two's-complement: values >= 2^31 are negative —
    the top-down marker), bpp, compression, and derive the spec's
    4-byte-aligned row stride floor((bpp*w + 31) / 32) * 4. Whole-
    stage codegen over a hex view — 54 header bytes, no Python."""
    h = F.hex(F.col("payload"))
    valid = (
        (F.substring(h, 1, 4) == "424D")
        & (_le_int(h, 15, 4) == 40)
        & (_le_int(h, 27, 2) == 1)
    )
    h_raw = _le_int(h, 23, 4)
    signed_h = F.when(
        h_raw >= F.lit(2**31).cast("bigint"), h_raw - F.lit(2**32).cast("bigint")
    ).otherwise(h_raw)
    width = _le_int(h, 19, 4).cast("int")
    bpp = _le_int(h, 29, 2).cast("int")
    stride = (((bpp.cast("bigint") * width + 31) / 32).cast("bigint") * 4).cast(
        "int"
    )
    return payloads.select(
        "doc_id",
        F.length("payload").alias("byte_len"),
        F.when(valid, "bmp").alias("format"),
        F.when(valid, width).alias("width"),
        F.when(valid, F.abs(signed_h).cast("int")).alias("height"),
        F.when(valid, signed_h < 0).alias("top_down"),
        F.when(valid, bpp).alias("bpp"),
        F.when(valid, _le_int(h, 31, 4).cast("int")).alias("compression"),
        F.when(valid, stride).alias("row_stride"),
    )


def multimodal_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header decode of REAL BMP bytes (file header + BITMAPINFOHEADER)
    synthesized per document — signed little-endian height (top-down
    flag) and the 4-byte row-stride rule are the parts a naive parser
    gets wrong, which is why they are in the hash. Oracle re-derives
    expected fields from the generation parameters."""
    return decode_bmp_headers(
        _packed_bmp(load_table(spark, sf_dir, "documents"))
    )


QUERIES = {
    "multimodal_decode_gif": multimodal_decode_gif,
    "multimodal_decode_bmp": multimodal_decode_bmp,
    "multimodal_sniff_dispatch": multimodal_sniff_dispatch,
    "multimodal_decode_jpeg": multimodal_decode_jpeg,
    "multimodal_decode_png": multimodal_decode_png,
    "multimodal_decode_wav": multimodal_decode_wav,
    "multimodal_decode_header": multimodal_decode_header,
    "multimodal_resize_plan": multimodal_resize_plan,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_binary_meta": multimodal_binary_meta,
    "multimodal_decode_stub": multimodal_decode_stub,
}

# DuckDB rerun of the SMF1 pack + header parse (same md5-derived
# fields, same fixed offsets) — CTE ending in decoded(...).
_SMF_DECODE_CTE = f"""f AS (
            SELECT doc_id, text,
                   ('0x' || substr(md5(text), 1, 2))::INT % 3 AS fmt_code,
                   64 + ('0x' || substr(md5(text), 3, 2))::INT % 192 AS w,
                   64 + ('0x' || substr(md5(text), 5, 2))::INT % 192 AS h,
                   1 + ('0x' || substr(md5(text), 7, 2))::INT % 4 AS nf
            FROM documents
        ), packed AS (
            SELECT doc_id,
                   '{SMF_MAGIC}'
                   || (CASE fmt_code WHEN 0 THEN 'p' WHEN 1 THEN 'j' ELSE 'w' END)
                   || lpad(w::VARCHAR, 4, '0') || lpad(h::VARCHAR, 4, '0')
                   || lpad(nf::VARCHAR, 2, '0') || text AS payload
            FROM f
        ), decoded AS (
            SELECT doc_id,
                   octet_length(payload::BLOB) AS byte_len,
                   CASE WHEN substr(payload, 1, 4) = '{SMF_MAGIC}' THEN
                       CASE substr(payload, 5, 1)
                            WHEN 'p' THEN 'png' WHEN 'j' THEN 'jpeg'
                            WHEN 'w' THEN 'webp' END
                   END AS format,
                   CASE WHEN substr(payload, 1, 4) = '{SMF_MAGIC}'
                        THEN substr(payload, 6, 4)::INT END AS width,
                   CASE WHEN substr(payload, 1, 4) = '{SMF_MAGIC}'
                        THEN substr(payload, 10, 4)::INT END AS height,
                   CASE WHEN substr(payload, 1, 4) = '{SMF_MAGIC}'
                        THEN substr(payload, 14, 2)::INT END AS n_frames,
                   'smf1' AS decoder
            FROM packed
        )"""

ORACLE = {
    # PNG/WAV oracles re-derive the expected decode OUTPUT from the
    # md5 generation parameters (the SMF1 discipline): Spark's lineage
    # is pack -> genuine container bytes -> offset parse (+ CRC32
    # re-verification for PNG), so any error in byte assembly, endian
    # handling, offsets, or the CRC arithmetic breaks the value hash.
    "multimodal_decode_gif": """
        WITH g AS (
            SELECT doc_id, md5(text) AS d,
                   octet_length(text::BLOB) AS tlen
            FROM documents
        ), p AS (
            SELECT doc_id, tlen,
                   16 + ('0x' || substr(d, 1, 3))::INT % 4080 AS w,
                   16 + ('0x' || substr(d, 4, 3))::INT % 4080 AS h,
                   ('0x' || substr(d, 7, 2))::INT % 2 = 0 AS ver89,
                   ('0x' || substr(d, 9, 2))::INT % 16 = 0 AS corrupt,
                   ('0x' || substr(d, 13, 2))::INT % 4 > 0 AS gctf,
                   ('0x' || substr(d, 15, 2))::INT % 8 AS gbits
            FROM g
        )
        SELECT doc_id, tlen + 13 AS byte_len,
               CASE WHEN NOT corrupt THEN 'gif' END AS format,
               CASE WHEN NOT corrupt THEN
                   CASE WHEN ver89 THEN '89a' ELSE '87a' END END AS version,
               CASE WHEN NOT corrupt THEN w END AS width,
               CASE WHEN NOT corrupt THEN h END AS height,
               CASE WHEN NOT corrupt THEN gctf END AS gct_flag,
               CASE WHEN NOT corrupt THEN
                   CASE WHEN gctf THEN CAST(pow(2, gbits + 1) AS INT)
                        ELSE 0 END END AS gct_colors
        FROM p
    """,
    "multimodal_decode_bmp": """
        WITH g AS (
            SELECT doc_id, md5(text) AS d,
                   octet_length(text::BLOB) AS tlen
            FROM documents
        ), p AS (
            SELECT doc_id, tlen,
                   16 + ('0x' || substr(d, 1, 3))::INT % 4080 AS w,
                   16 + ('0x' || substr(d, 4, 3))::INT % 4080 AS h,
                   ('0x' || substr(d, 7, 2))::INT % 4 = 0 AS topdown,
                   [8, 24, 32][('0x' || substr(d, 9, 2))::INT % 3 + 1] AS bpp,
                   ('0x' || substr(d, 11, 2))::INT % 16 = 0 AS corrupt
            FROM g
        )
        SELECT doc_id, tlen + 54 AS byte_len,
               CASE WHEN NOT corrupt THEN 'bmp' END AS format,
               CASE WHEN NOT corrupt THEN w END AS width,
               CASE WHEN NOT corrupt THEN h END AS height,
               CASE WHEN NOT corrupt THEN topdown END AS top_down,
               CASE WHEN NOT corrupt THEN bpp END AS bpp,
               CASE WHEN NOT corrupt THEN 0 END AS compression,
               CASE WHEN NOT corrupt THEN
                   ((bpp * w + 31) // 32) * 4 END AS row_stride
        FROM p
    """,
    "multimodal_sniff_dispatch": """
        WITH g AS (
            SELECT doc_id, md5(text) AS d,
                   octet_length(text::BLOB) AS tlen
            FROM documents
        ), p AS (
            SELECT doc_id,
                   ('0x' || substr(d, 13, 2))::INT % 3 AS c,
                   16 + ('0x' || substr(d, 1, 3))::INT % 4080 AS f1,
                   16 + ('0x' || substr(d, 4, 3))::INT % 4080 AS f2,
                   ('0x' || substr(d, 7, 2))::INT AS b4,
                   1 + ('0x' || substr(d, 1, 2))::INT % 2 AS wav_ch,
                   [8000,16000,22050,44100,48000][
                       ('0x' || substr(d, 3, 2))::INT % 5 + 1] AS wav_rate,
                   ('0x' || substr(d, 9, 2))::INT % 16 = 0 AS bad5,
                   ('0x' || substr(d, 11, 2))::INT % 16 = 0 AS bad6,
                   tlen
            FROM g
        )
        SELECT doc_id,
               CASE c WHEN 0 THEN 45 WHEN 1 THEN 45 + (b4 % 16)
                      ELSE 44 + tlen END AS byte_len,
               CASE WHEN c = 0 AND NOT bad5 THEN 'png'
                    WHEN c = 1 AND NOT bad6 THEN 'jpeg'
                    WHEN c = 2 AND NOT bad5 THEN 'wav' END AS sniffed,
               CASE WHEN c = 0 AND NOT bad5 THEN f1
                    WHEN c = 1 AND NOT bad6 THEN f2 END AS width,
               CASE WHEN c = 0 AND NOT bad5 THEN f2
                    WHEN c = 1 AND NOT bad6 THEN f1 END AS height,
               CASE WHEN c = 0 AND NOT bad5
                        THEN [3,4,3,1,1,1,1,1,2,2][(b4 % 10) + 1]
                    WHEN c = 1 AND NOT bad6 THEN 3
                    WHEN c = 2 AND NOT bad5 THEN wav_ch END AS channels,
               CASE WHEN c = 2 AND NOT bad5 THEN wav_rate END AS sample_rate,
               CASE WHEN c = 1 THEN NOT bad6 ELSE NOT bad5 END AS parsed_ok
        FROM p
    """,
    "multimodal_decode_jpeg": """
        WITH g AS (
            SELECT doc_id,
                   16 + ('0x' || substr(md5(text), 1, 3))::INT % 4080 AS h,
                   16 + ('0x' || substr(md5(text), 4, 3))::INT % 4080 AS w,
                   ('0x' || substr(md5(text), 7, 2))::INT % 16 AS pad,
                   ('0x' || substr(md5(text), 9, 2))::INT % 4 = 0 AS prog,
                   ('0x' || substr(md5(text), 11, 2))::INT % 16 = 0 AS bad_sig
            FROM documents
        )
        SELECT doc_id,
               45 + pad AS byte_len,
               CASE WHEN NOT bad_sig THEN 'jpeg' END AS format,
               CASE WHEN NOT bad_sig THEN w END AS width,
               CASE WHEN NOT bad_sig THEN h END AS height,
               CASE WHEN NOT bad_sig THEN 8 END AS bit_precision,
               CASE WHEN NOT bad_sig THEN 3 END AS n_components,
               CASE WHEN NOT bad_sig THEN prog END AS progressive,
               CASE WHEN NOT bad_sig THEN 25 + pad END AS sof_offset
        FROM g
    """,
    "multimodal_decode_png": """
        WITH g AS (
            SELECT doc_id,
                   16 + ('0x' || substr(md5(text), 1, 3))::INT % 4080 AS w,
                   16 + ('0x' || substr(md5(text), 4, 3))::INT % 4080 AS h,
                   ('0x' || substr(md5(text), 7, 2))::INT % 10 AS combo,
                   ('0x' || substr(md5(text), 9, 2))::INT % 16 = 0 AS bad_sig,
                   ('0x' || substr(md5(text), 11, 2))::INT % 16 = 0 AS bad_crc
            FROM documents
        )
        SELECT doc_id,
               45 AS byte_len,
               CASE WHEN NOT bad_sig THEN 'png' END AS format,
               CASE WHEN NOT bad_sig THEN w END AS width,
               CASE WHEN NOT bad_sig THEN h END AS height,
               CASE WHEN NOT bad_sig
                    THEN [8,8,16,8,1,8,4,16,8,16][combo + 1] END AS bit_depth,
               CASE WHEN NOT bad_sig
                    THEN [2,6,2,0,0,3,3,0,4,4][combo + 1] END AS color_type,
               CASE WHEN NOT bad_sig
                    THEN [3,4,3,1,1,1,1,1,2,2][combo + 1] END AS channels,
               (NOT bad_sig AND NOT bad_crc) AS crc_ok
        FROM g
    """,
    "multimodal_decode_wav": """
        WITH g AS (
            SELECT doc_id,
                   1 + ('0x' || substr(md5(text), 1, 2))::INT % 2 AS ch,
                   [8000,16000,22050,44100,48000][
                       ('0x' || substr(md5(text), 3, 2))::INT % 5 + 1] AS rate,
                   [8,16,24][('0x' || substr(md5(text), 5, 2))::INT % 3 + 1] AS bits,
                   ('0x' || substr(md5(text), 9, 2))::INT % 16 = 0 AS bad_sig,
                   ('0x' || substr(md5(text), 11, 2))::INT % 16 = 0 AS bad_rate,
                   octet_length(text::BLOB) AS ds
            FROM documents
        )
        SELECT doc_id,
               44 + ds AS byte_len,
               CASE WHEN NOT bad_sig THEN 'wav' END AS format,
               CASE WHEN NOT bad_sig THEN ch END AS channels,
               CASE WHEN NOT bad_sig THEN rate END AS sample_rate,
               CASE WHEN NOT bad_sig THEN bits END AS bits_per_sample,
               CASE WHEN NOT bad_sig THEN ds END AS data_size,
               (NOT bad_sig AND NOT bad_rate) AS rate_consistent,
               CASE WHEN NOT bad_sig THEN
                   floor(ds * 1000.0
                         / (rate * ch * bits / 8
                            + CASE WHEN bad_rate THEN 1 ELSE 0 END)
                         * 1000 + 0.5) / 1000
               END AS duration_ms
        FROM g
    """,
    "multimodal_binary_meta": """
        SELECT doc_id,
               octet_length(text::BLOB) AS byte_len,
               md5(text) AS content_md5,
               substring(to_base64(text::BLOB), 1, 16) AS b64_prefix
        FROM documents
    """,
    "multimodal_decode_header": f"""
        WITH {_SMF_DECODE_CTE}
        SELECT doc_id, byte_len, format, width, height, n_frames, decoder
        FROM decoded
    """,
    "multimodal_resize_plan": f"""
        WITH {_SMF_DECODE_CTE}
        SELECT doc_id, width, height,
               CAST(floor(width * least(224.0 / width, 224.0 / height) + 0.5)
                    AS INTEGER) AS out_width,
               CAST(floor(height * least(224.0 / width, 224.0 / height) + 0.5)
                    AS INTEGER) AS out_height,
               floor(least(224.0 / width, 224.0 / height) * 1000000 + 0.5)
                   / 1000000 AS scale
        FROM decoded
    """,
    "multimodal_frame_sample": f"""
        WITH {_SMF_DECODE_CTE}
        SELECT doc_id, n_frames,
               frame_idx // 2 AS sample_idx,
               frame_idx,
               md5(doc_id::VARCHAR || ':' || frame_idx::VARCHAR) AS frame_key
        FROM (SELECT doc_id, n_frames,
                     unnest(range(0, n_frames, 2)) AS frame_idx
              FROM decoded)
    """,
    "multimodal_decode_stub": f"""
        WITH {_SMF_DECODE_CTE}
        SELECT doc_id, byte_len, format, width, height, n_frames,
               'arrow-python' AS decoder
        FROM decoded
    """,
}
