"""LLM-pipeline operator tests: LSH recall vs exact ground truth,
SimHash behavior on controlled inputs, decode-stub determinism."""

import pytest
from pyspark.sql import functions as F

from etl_data_pipeline_spark.llm import dedup, similarity
from etl_data_pipeline_spark.llm.multimodal import multimodal_decode_stub


def test_minhash_lsh_matches_exact_pairs(spark, sf_dir):
    """LSH candidates + exact verification must equal the exact
    all-pairs result at the threshold (recall check; bands are tuned
    for ~0.99 candidate probability at s=0.5)."""
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = docs.select("doc_id", dedup._shingles().alias("sh"))
    a, b = d.alias("a"), d.alias("b")
    jac = F.size(F.array_intersect("a.sh", "b.sh")) / F.greatest(
        F.size(F.array_union("a.sh", "b.sh")), F.lit(1)
    )
    exact = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("j"),
        )
        .filter(F.col("j") >= dedup.JACCARD_THRESHOLD)
        .collect()
    }
    assert lsh == exact  # full recall at this corpus scale


def test_simhash_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different words entirely unrelated content here")],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("_simhash_in")
    # reuse the operator's UDF machinery by calling it on a temp dir
    import tempfile, os

    with tempfile.TemporaryDirectory() as tmp:
        df.withColumn("lang", F.lit("en")).withColumn(
            "source", F.lit("t")
        ).withColumn("n_chars", F.length("text")).write.parquet(
            os.path.join(tmp, "documents.parquet")
        )
        pairs = dedup.dedup_simhash(spark, tmp).collect()
    assert {(p.doc_a, p.doc_b, p.hamming) for p in pairs} == {(1, 2, 0)}


def test_embedding_cosine_self_similarity(spark, sf_dir):
    out = dedup.dedup_embedding_cosine(spark, sf_dir)
    rows = out.collect()
    for r in rows:
        assert r.vec_a < r.vec_b
        assert r.cosine >= 0.4


def test_sim_topk_shape_and_order(spark, sf_dir):
    rows = similarity.sim_topk(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        sims = [r.cosine for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(r.vec_id != q for r in rs)


def test_decode_header_matches_python_derivation(spark, sf_dir):
    """SMF1 pack → parse round trip, cross-engine: the JVM byte-parse
    (substring/cast codegen) and the Arrow-batched Python parse
    (_decode_batch) must decode identical header fields from the same
    payload bytes."""
    from etl_data_pipeline_spark.llm.multimodal import multimodal_decode_header

    hdr = multimodal_decode_header(spark, sf_dir).alias("h")
    stub = multimodal_decode_stub(spark, sf_dir).alias("s")
    j = hdr.join(stub, "doc_id")
    mismatches = j.filter(
        (F.col("h.width") != F.col("s.width"))
        | (F.col("h.height") != F.col("s.height"))
        | (F.col("h.n_frames") != F.col("s.n_frames"))
        | (F.col("h.format") != F.col("s.format"))
    ).count()
    assert mismatches == 0
    n = hdr.count()
    assert j.count() == n and n > 0


def test_decode_bmp_builds_without_future_warning(spark, sf_dir):
    """The BMP payload indexes an array with a Column key through
    ``column[key]``; ``getItem(<Column>)`` is deprecated and prints a
    FutureWarning on every build."""
    import warnings

    from etl_data_pipeline_spark.llm.multimodal import multimodal_decode_bmp

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        multimodal_decode_bmp(spark, sf_dir)
    assert not [w for w in caught if issubclass(w.category, FutureWarning)]


def test_decode_stub_deterministic(spark, sf_dir):
    a = multimodal_decode_stub(spark, sf_dir).orderBy("doc_id").limit(5).collect()
    b = multimodal_decode_stub(spark, sf_dir).orderBy("doc_id").limit(5).collect()
    assert a == b
    for r in a:
        assert r.byte_len > 0
        assert r.format in ("png", "jpeg", "webp")
        assert 64 <= r.width < 256 and 64 <= r.height < 256
        assert r.decoder == "arrow-python"


def _write_docs(spark, tmp, rows):
    import os

    spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text")
    ).write.parquet(os.path.join(tmp, "documents.parquet"))


def test_dedup_clusters_transitive(spark):
    """a≈b and b≈c with a̸≈c directly must still land in ONE cluster —
    the transitivity pairwise filtering can't express."""
    import tempfile

    t1 = "a b c d e f g h i j"            # ∩(t1,t2)=8/12=0.67
    t2 = "c d e f g h i j k l"            # ∩(t2,t3)=8/12=0.67
    t3 = "e f g h i j k l m n"            # ∩(t1,t3)=6/14=0.43 < 0.5
    t4 = "zz yy xx ww vv uu tt ss rr qq"  # isolated
    with tempfile.TemporaryDirectory() as tmp:
        _write_docs(spark, tmp, [(1, t1), (2, t2), (3, t3), (4, t4)])
        pairs = {
            (r.doc_a, r.doc_b)
            for r in dedup.dedup_ngram_jaccard(spark, tmp)
            .select("doc_a", "doc_b")
            .collect()
        }
        out = {r.doc_id: r for r in dedup.dedup_clusters(spark, tmp).collect()}
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) not in pairs
    assert set(out) == {1, 2, 3}  # isolated doc 4 is not in any cluster
    assert {r.component_id for r in out.values()} == {1}
    assert all(r.cluster_size == 3 for r in out.values())


def test_text_chunks_invariants(spark, sf_dir):
    from etl_data_pipeline_spark.llm import text_analysis as ta

    chunks = ta.text_chunks(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    j = chunks.join(docs, "doc_id")
    bad = j.filter(
        (F.col("chunk_start") != 1 + F.col("chunk_idx") * ta.CHUNK_STRIDE)
        | (F.col("chunk_len") > ta.CHUNK_SIZE)
        | (F.col("chunk_len") <= 0)
        | (F.col("chunk_start") > F.greatest(F.col("n_chars"), F.lit(1)))
    ).count()
    assert bad == 0
    # every doc is fully covered: last chunk reaches the end of the text
    cover = (
        j.groupBy("doc_id", "n_chars")
        .agg(F.max(F.col("chunk_start") + F.col("chunk_len") - 1).alias("covered"))
        .filter(F.col("covered") < F.col("n_chars"))
        .count()
    )
    assert cover == 0


def test_embedding_quantize_bounds(spark, sf_dir):
    q = similarity.embedding_quantize(spark, sf_dir)
    # q8 is emitted as a comma-joined string (hash-stable scalar form);
    # recover the int array to check the quantization bound.
    arr = F.transform(F.split("q8", ","), lambda x: F.abs(x.cast("int")))
    bad = q.filter(
        (F.array_max(arr) > 127) | (F.array_max(arr) < 127)
    ).count()
    # the max-|x| dim quantizes to exactly ±127 in every vector
    assert bad == 0


def test_dedup_canonical_partition(spark, sf_dir):
    """canonical ∪ cluster-losers == corpus, and every cluster's
    representative (min doc_id) IS kept."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = dedup.dedup_canonical(spark, sf_dir)
    clusters = dedup.dedup_clusters(spark, sf_dir).collect()
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    losers = {r.doc_id for r in clusters if r.doc_id != r.component_id}
    reps = {r.component_id for r in clusters}
    assert kept_ids == all_ids - losers
    assert reps <= kept_ids


def test_embedding_kmeans_assignment(spark, sf_dir):
    rows = similarity.embedding_kmeans(spark, sf_dir).collect()
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = e.count()
    centroid_ids = {
        r.vec_id
        for r in e.filter(
            F.col("vec_id") % similarity.QUERY_MOD
            == similarity.CENTROID_MOD_REMAINDER
        ).collect()
    }
    assert len(rows) == n                      # every vector decided once
    # -1 = bucket-miss (no shortlisted centroid), the sem_assign
    # convention; every other cluster label is a seed centroid id
    assert {r.cluster for r in rows} <= centroid_ids | {-1}
    assert all(
        (-1.0 <= r.cosine <= 1.0) if r.cluster != -1 else r.cosine is None
        for r in rows
    )
    assert sum(1 for r in rows if r.cluster != -1) > n // 2  # misses are rare


def _np_embeddings(spark, sf_dir):
    import numpy as np

    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    vecs = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, vecs


def _np_cos6(a, b):
    import numpy as np

    c = float(np.dot(a, b) / (np.sqrt(np.dot(a, a)) * np.sqrt(np.dot(b, b))))
    import math

    return math.floor(c * 1_000_000 + 0.5) / 1_000_000


def test_embedding_cosine_second_setting_matches_numpy_reference(spark, sf_dir):
    """dedup_embedding_cosine at a NON-default knob (4 tables × 4
    planes) must equal an independent NumPy reference of the whole
    pipeline: per-table bucketing, OR-construction candidate union,
    exact cosine ≥ threshold with the shared floor-rounding. Pins the
    knob wiring and the staged-norm verify, not just the default path."""
    import itertools

    import numpy as np

    n_tables, n_planes = 4, 4
    out = {
        (r.vec_a, r.vec_b): r.cosine
        for r in dedup.dedup_embedding_cosine(
            spark, sf_dir, n_tables=n_tables, n_planes=n_planes
        ).collect()
    }
    ids, vecs = _np_embeddings(spark, sf_dir)
    cand = set()
    for t in range(n_tables):
        planes = np.array(similarity._planes(n_planes, seed=similarity.PLANES_SEED + t))
        b = ((vecs @ planes.T > 0) * (1 << np.arange(n_planes))).sum(axis=1)
        buckets = {}
        for i in range(len(ids)):
            buckets.setdefault(b[i], []).append(i)
        for members in buckets.values():
            for i, j in itertools.combinations(members, 2):
                lo, hi = sorted((int(ids[i]), int(ids[j])))
                cand.add((lo, hi))
    idx = {int(v): i for i, v in enumerate(ids)}
    expected = {}
    for va, vb in cand:
        c = _np_cos6(vecs[idx[va]], vecs[idx[vb]])
        if c >= dedup.EMB_COS_THRESHOLD:
            expected[(va, vb)] = c
    assert out == expected


def test_ann_lsh_second_setting_matches_numpy_reference(spark, sf_dir):
    """ann_lsh at a NON-default knob (n_planes=6) must equal an
    independent NumPy reference: same buckets, same in-bucket exact
    top-3 with (cosine desc, vec_id) tie-break. Pins the knob wiring,
    not just the default path."""
    import numpy as np

    n_planes = 6
    out = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in similarity.ann_lsh(spark, sf_dir, n_planes=n_planes).collect()
    }
    ids, vecs = _np_embeddings(spark, sf_dir)
    planes = np.array(similarity._planes(n_planes))
    buckets = ((vecs @ planes.T > 0) * (1 << np.arange(n_planes))).sum(axis=1)
    expected = {}
    for qi, qid in enumerate(ids):
        if qid % similarity.QUERY_MOD != 0:
            continue
        cand = [
            (-_np_cos6(vecs[qi], vecs[ci]), int(cid))
            for ci, cid in enumerate(ids)
            if cid != qid and buckets[ci] == buckets[qi]
        ]
        for rank, (negc, cid) in enumerate(sorted(cand)[:3], start=1):
            expected[(int(qid), rank)] = (cid, -negc)
    assert out == expected


def test_ann_ivf_denser_centroids_matches_numpy_reference(spark, sf_dir):
    """ann_ivf at a denser centroid setting (centroid_mod=50 -> ~2x the
    cells, half the expected cell size) must equal an independent NumPy
    reference of the ANN-ASSISTED assignment (hyperplane-bucket
    shortlist with a count-derived mask, argmax over shortlisted
    centroids only, bucket-miss -> unindexed) + in-cell exact search.
    Pins the knob wiring — the centroid-count-dependent mask included,
    since a denser centroid set changes the bucket mask."""
    import numpy as np

    from etl_data_pipeline_spark.llm.dedup import (
        SEM_LSH_MAX_PLANES,
        SEM_LSH_TABLES,
        SEM_SEED_OFFSET,
        _sem_planes_used,
    )

    mod, rem = 50, 25
    out = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in similarity.ann_ivf(spark, sf_dir, centroid_mod=mod, centroid_rem=rem).collect()
    }
    ids, vecs = _np_embeddings(spark, sf_dir)
    cents = [(int(cid), vecs[i]) for i, cid in enumerate(ids) if cid % mod == rem]
    assert len(cents) > len([c for c, _ in cents if c % 100 == 50])  # denser than default

    mask = 1 << _sem_planes_used(len(cents))
    table_planes = [
        similarity._planes(
            SEM_LSH_MAX_PLANES, seed=similarity.PLANES_SEED + SEM_SEED_OFFSET + t
        )
        for t in range(SEM_LSH_TABLES)
    ]

    def buckets(v):
        return {
            (t, sum(1 << i for i, p in enumerate(planes)
                    if float(np.dot(v, np.array(p))) > 0) % mask)
            for t, planes in enumerate(table_planes)
        }

    cent_buckets = {cid: buckets(cv) for cid, cv in cents}
    cvecs = dict(cents)

    def cell_of(v):
        vb = buckets(v)
        shortlist = [c for c, bs in cent_buckets.items() if bs & vb]
        if not shortlist:
            return None
        return min((-_np_cos6(cvecs[c], v), c) for c in shortlist)[1]

    cells = {int(vid): cell_of(vecs[i]) for i, vid in enumerate(ids)}
    expected = {}
    for qi, qid in enumerate(ids):
        if qid % similarity.QUERY_MOD != 0:
            continue
        qcell = cells[int(qid)]
        if qcell is None:  # bucket-miss query: unindexed, no rows
            continue
        cand = [
            (-_np_cos6(vecs[qi], vecs[ci]), int(cid))
            for ci, cid in enumerate(ids)
            if cid != qid and cells[int(cid)] == qcell
        ]
        for rank, (negc, cid) in enumerate(sorted(cand)[:3], start=1):
            expected[(int(qid), rank)] = (cid, -negc)
    assert out == expected


def test_pii_scrub_detects_and_masks(spark):
    """Injected PII fixtures: emails/phones/IPs are counted and masked
    (the harness corpus itself contains none)."""
    import tempfile, os
    from etl_data_pipeline_spark.llm import text_analysis as ta

    rows = [
        (1, "contact bob.smith+x@example.co.uk for details"),
        (2, "call +1 555-123-4567 or 555-987-6543 today"),
        (3, "server at 192.168.10.1 responded"),
        (4, "clean text with no personal data at all"),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        _write_docs(spark, tmp, rows)
        out = {r.doc_id: r for r in ta.text_pii_scrub(spark, tmp).collect()}
    assert out[1].n_emails == 1 and out[1].has_pii
    assert out[2].n_phones == 2 and out[2].has_pii
    assert out[3].n_ips == 1 and out[3].has_pii
    assert not out[4].has_pii
    # masking changes the digest only where something was found
    base = {r[0]: r[1] for r in rows}
    import hashlib

    assert out[4].scrubbed_md5 == hashlib.md5(base[4].encode()).hexdigest()
    assert out[1].scrubbed_md5 != hashlib.md5(base[1].encode()).hexdigest()


def test_repetition_flags_repetitive_doc(spark):
    import tempfile
    from etl_data_pipeline_spark.llm import text_analysis as ta

    rows = [
        (1, "spam spam spam spam spam spam spam spam"),
        (2, "all these tokens are completely different words here"),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        _write_docs(spark, tmp, rows)
        out = {r.doc_id: r for r in ta.text_repetition(spark, tmp).collect()}
    assert out[1].is_repetitive and out[1].top_token_share == 1.0
    assert not out[2].is_repetitive and out[2].dup_3gram_frac == 0.0


def test_contamination_finds_planted_overlap(spark):
    import tempfile
    from etl_data_pipeline_spark.llm import text_analysis as ta

    shared = "alpha beta gamma delta epsilon"
    rows = [
        (97, f"eval doc begins {shared} and then ends"),      # 97 % 97 == 0 -> eval
        (5, f"train doc contains {shared} inside it"),        # overlapping train doc
        (6, "totally unrelated training text with no overlap here"),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        _write_docs(spark, tmp, rows)
        out = ta.text_contamination(spark, tmp).collect()
    pairs = {(r.train_doc, r.eval_doc): r.n_shared_ngrams for r in out}
    assert (5, 97) in pairs and pairs[(5, 97)] >= 1
    assert all(t != 6 for t, _ in pairs)


def test_corpus_split_deterministic_and_complete(spark, sf_dir):
    from etl_data_pipeline_spark.llm import curation

    a = {r.doc_id: (r.split_bucket, r.split) for r in curation.corpus_split(spark, sf_dir).collect()}
    b = {r.doc_id: (r.split_bucket, r.split) for r in curation.corpus_split(spark, sf_dir).collect()}
    assert a == b  # stable across runs
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(a) == n_docs
    for bucket, split in a.values():
        expected = "train" if bucket < 98 else ("val" if bucket == 98 else "test")
        assert split == expected


def test_corpus_pack_sequences_invariants(spark, sf_dir):
    """Per domain: offsets stay inside the context window, packing is
    gapless (each doc starts where the previous one ended), and the
    first doc starts at (seq 0, offset 0)."""
    from etl_data_pipeline_spark.llm import curation

    rows = curation.corpus_pack_sequences(spark, sf_dir).collect()
    by_domain = {}
    for r in rows:
        by_domain.setdefault((r.lang, r.source), []).append(r)
    ctx = curation.CTX_TOKENS
    for docs in by_domain.values():
        docs.sort(key=lambda r: r.doc_id)
        pos = 0
        for r in docs:
            assert 0 <= r.seq_offset < ctx
            assert r.seq_id * ctx + r.seq_offset == pos
            pos += r.n_tokens


def _genuine_png(width, height, bit_depth=8, color_type=2):
    """Build a fully valid PNG with ONLY the stdlib (struct+zlib):
    signature, IHDR with a real CRC32, one zlib-compressed IDAT of
    zero-filled scanlines, IEND. A reference implementation the engine
    decoder must agree with — built independently of the engine code."""
    import struct
    import zlib

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, bit_depth, color_type, 0, 0, 0)
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    stride = (width * channels * bit_depth + 7) // 8
    raw = b"".join(b"\x00" + b"\x00" * stride for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_png_decoder_parses_genuine_files(spark):
    """decode_png_headers must parse REAL PNG bytes (built by an
    independent stdlib implementation), verify the CRC, reject a
    corrupted CRC, and NULL out garbage — the engine parser is not
    allowed to only understand its own synthesized payloads."""
    from etl_data_pipeline_spark.llm.multimodal import decode_png_headers

    good = _genuine_png(640, 480, 8, 2)
    big = _genuine_png(3840, 2160, 16, 6)
    bad_crc = bytearray(_genuine_png(32, 32))
    bad_crc[29] ^= 0xFF  # first byte of the stored IHDR CRC (offset 30, 1-based)
    rows = [
        (1, good),
        (2, big),
        (3, bytes(bad_crc)),
        (4, b"not a png at all, just text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r.doc_id: r
        for r in decode_png_headers(df).collect()
    }
    assert (out[1].width, out[1].height) == (640, 480)
    assert (out[1].bit_depth, out[1].color_type, out[1].channels) == (8, 2, 3)
    assert out[1].crc_ok and out[1].format == "png"
    assert (out[2].width, out[2].height) == (3840, 2160)
    assert (out[2].bit_depth, out[2].color_type, out[2].channels) == (16, 6, 4)
    assert out[2].crc_ok
    # corrupted CRC byte: fields still parse, checksum verification fails
    assert (out[3].width, out[3].height) == (32, 32) and not out[3].crc_ok
    # garbage: NULL fields, crc_ok false, byte_len still reported
    assert out[4].format is None and out[4].width is None
    assert out[4].crc_ok is False and out[4].byte_len == 27


def test_wav_decoder_parses_genuine_files(spark):
    """decode_wav_headers must parse REAL WAV bytes written by the
    stdlib wave module (an independent RIFF implementation), confirm
    internal byte-rate consistency, and NULL out garbage."""
    import io
    import wave

    from etl_data_pipeline_spark.llm.multimodal import decode_wav_headers

    def genuine_wav(channels, rate, sampwidth, n_frames):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setframerate(rate)
            w.setsampwidth(sampwidth)
            w.writeframes(b"\x00" * (n_frames * channels * sampwidth))
        return buf.getvalue()

    mono = genuine_wav(1, 16000, 2, 16000)  # exactly 1 s of 16-bit mono
    stereo = genuine_wav(2, 44100, 3, 4410)  # 100 ms of 24-bit stereo
    rows = [(1, mono), (2, stereo), (3, b"RIFFnope")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in decode_wav_headers(df).collect()}
    assert (out[1].channels, out[1].sample_rate, out[1].bits_per_sample) == (
        1, 16000, 16)
    assert out[1].data_size == 32000 and out[1].rate_consistent
    assert out[1].duration_ms == 1000.0
    assert (out[2].channels, out[2].sample_rate, out[2].bits_per_sample) == (
        2, 44100, 24)
    assert out[2].rate_consistent and out[2].duration_ms == 100.0
    assert out[3].format is None and out[3].rate_consistent is False


def test_gif_decoder_parses_genuine_files(spark):
    """decode_gif_headers must parse REAL GIF bytes — the canonical
    43-byte 1×1 transparent GIF89a (a real-world artifact, not built
    by this repo's packer) and a spec-assembled GIF87a — and NULL out
    garbage."""
    import base64
    import struct

    from etl_data_pipeline_spark.llm.multimodal import decode_gif_headers

    onebyone = base64.b64decode(
        "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7"
    )
    # GIF87a, 320x200, no global color table (packed=0x70)
    gif87 = b"GIF87a" + struct.pack("<HH", 320, 200) + bytes([0x70, 0, 0])
    rows = [(1, onebyone), (2, gif87), (3, b"GIFfy but not a gif")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in decode_gif_headers(df).collect()}
    assert out[1].format == "gif" and out[1].version == "89a"
    assert (out[1].width, out[1].height) == (1, 1)
    assert out[1].gct_flag is True and out[1].gct_colors == 2
    assert out[2].version == "87a"
    assert (out[2].width, out[2].height) == (320, 200)
    assert out[2].gct_flag is False and out[2].gct_colors == 0
    assert out[3].format is None and out[3].width is None
    assert out[3].byte_len == 19


def test_substring_scrub_removes_duplicate_mass(spark):
    """Lee-et-al-style scrub on a planted corpus: the lowest-doc_id
    owner keeps its copy of the duplicated span; every other document
    loses every occurrence; unique text is untouched; and re-running
    duplicate-span discovery on the scrubbed corpus finds NOTHING —
    the before/after duplicate-mass assertion."""
    import hashlib

    from etl_data_pipeline_spark.llm.text_analysis import (
        DUP_SPAN_N,
        substring_scrub,
    )

    boiler = " ".join(f"b{i}" for i in range(DUP_SPAN_N))  # 6-token span
    docs = [
        (10, f"alpha beta {boiler} gamma delta"),        # keeper (min id)
        (20, f"{boiler} epsilon zeta eta theta iota"),   # loses the span
        (30, f"kappa {boiler} lam mu {boiler} nu xi"),   # loses BOTH copies
        (40, "totally unique words only here nothing shared"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in substring_scrub(df).collect()}

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    # keeper + unique docs: byte-identical round trip, zero removed
    assert out[10].n_removed == 0 and out[10].scrubbed_md5 == md5(docs[0][1])
    assert out[40].n_removed == 0 and out[40].scrubbed_md5 == md5(docs[3][1])
    # non-keepers: exactly the span tokens removed, rest reassembled
    assert out[20].n_removed == DUP_SPAN_N
    assert out[20].scrubbed_md5 == md5("epsilon zeta eta theta iota")
    assert out[30].n_removed == 2 * DUP_SPAN_N
    assert out[30].scrubbed_md5 == md5("kappa lam mu nu xi")
    # after: duplicate-span discovery over the scrubbed corpus is dry
    scrubbed = [
        (10, docs[0][1]),
        (20, "epsilon zeta eta theta iota"),
        (30, "kappa lam mu nu xi"),
        (40, docs[3][1]),
    ]
    after = substring_scrub(
        spark.createDataFrame(scrubbed, "doc_id long, text string")
    ).collect()
    assert all(r.n_removed == 0 for r in after)


def test_ann_ivf_nprobe_knob_improves_neighbors(spark, sf_dir):
    """nprobe is the IVF recall knob: probing more cells can only grow
    each query's candidate set (nested sets), so the best-found
    neighbor similarity is monotonically nondecreasing per query, and
    nprobe=1 must reproduce the original single-probe behavior."""
    from etl_data_pipeline_spark.llm.similarity import ann_ivf

    def top1(nprobe):
        return {
            r.query_id: r.cosine
            for r in ann_ivf(spark, sf_dir, nprobe=nprobe)
            .filter(F.col("rank") == 1)
            .collect()
        }

    t1, t2 = top1(1), top1(2)
    assert set(t1) <= set(t2)  # more probes never lose a query
    assert all(t2[q] >= t1[q] for q in t1)
    assert any(t2[q] > t1[q] for q in t1) or t1 == t2


def test_sim_ann_recall_curve_monotone(spark, sf_dir):
    """recall@k must be monotonically nondecreasing in nprobe, with
    sane accounting: n_approx <= n_exact (top-k per query both sides),
    n_hit <= n_approx."""
    from etl_data_pipeline_spark.llm.similarity import sim_ann_recall

    rows = {r.nprobe: r for r in sim_ann_recall(spark, sf_dir).collect()}
    assert set(rows) == {1, 2, 4}
    assert rows[1].recall_at_k <= rows[2].recall_at_k <= rows[4].recall_at_k
    for r in rows.values():
        assert 0.0 <= r.recall_at_k <= 1.0
        assert r.n_hit <= r.n_approx <= r.n_exact


def test_jpeg_decoder_walks_real_segment_chains(spark):
    """decode_jpeg_headers must find SOF behind an INDEPENDENTLY-built
    segment chain (struct-packed, not the engine's own hex assembly):
    multiple APPn/COM/DQT segments of varying lengths before the frame
    header, baseline and progressive markers, and NULL out garbage or
    files whose SOF lies beyond the walk bound."""
    import struct

    from etl_data_pipeline_spark.llm.multimodal import (
        _JPEG_MAX_SEGMENTS,
        decode_jpeg_headers,
    )

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def sof(height, width, marker=0xC0, ncomp=3):
        comp = b"".join(bytes([i + 1, 0x11, 0x00]) for i in range(ncomp))
        return seg(marker, struct.pack(">BHHB", 8, height, width, ncomp) + comp)

    soi, eoi = b"\xff\xd8", b"\xff\xd9"
    exif = seg(0xE1, b"Exif\x00\x00" + b"\x00" * 40)  # APP1, 48-byte
    jfif = seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    dqt = seg(0xDB, bytes(range(65)))
    com = seg(0xFE, b"made by a camera")
    rows = [
        (1, soi + jfif + sof(480, 640) + eoi),                      # minimal
        (2, soi + exif + com + dqt + sof(2160, 3840, 0xC2) + eoi),  # deep chain
        (3, b"GIF89a not a jpeg"),                                  # garbage
        # SOF pushed past the walk bound: MAX+1 filler segments first
        (4, soi + com * (_JPEG_MAX_SEGMENTS + 1) + sof(10, 10) + eoi),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in decode_jpeg_headers(df).collect()}
    assert (out[1].width, out[1].height) == (640, 480)
    assert out[1].format == "jpeg" and out[1].progressive is False
    assert out[1].bit_precision == 8 and out[1].n_components == 3
    assert out[1].sof_offset == 3 + len(jfif)  # 1-based byte offset
    assert (out[2].width, out[2].height) == (3840, 2160)
    assert out[2].progressive is True
    assert out[2].sof_offset == 3 + len(exif) + len(com) + len(dqt)
    assert out[3].format is None and out[3].width is None
    assert out[4].format is None  # beyond the bound -> NULL, not garbage


def test_sniff_dispatch_routes_genuine_mixed_corpus(spark):
    """One binary column holding a REAL PNG, a REAL WAV (wave module),
    an independently built JPEG, and garbage: the sniffing dispatcher
    must route each to the right parser and normalize the fields."""
    import io
    import struct
    import wave

    from etl_data_pipeline_spark.llm.multimodal import sniff_dispatch

    png = _genuine_png(800, 600, 8, 6)  # RGBA -> 4 channels
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setframerate(22050)
        w.setsampwidth(2)
        w.writeframes(b"\x00" * 400)
    wav = buf.getvalue()

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    jpeg = (
        b"\xff\xd8"
        + seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xC0, struct.pack(">BHHB", 8, 240, 320, 3) + b"\x01\x11\x00" * 3)
        + b"\xff\xd9"
    )
    rows = [(1, png), (2, wav), (3, jpeg), (4, b"neither fish nor fowl")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in sniff_dispatch(df).collect()}
    assert out[1].sniffed == "png" and out[1].parsed_ok
    assert (out[1].width, out[1].height, out[1].channels) == (800, 600, 4)
    assert out[1].sample_rate is None
    assert out[2].sniffed == "wav" and out[2].parsed_ok
    assert (out[2].channels, out[2].sample_rate) == (2, 22050)
    assert out[2].width is None
    assert out[3].sniffed == "jpeg" and out[3].parsed_ok
    assert (out[3].width, out[3].height, out[3].channels) == (320, 240, 3)
    assert out[4].sniffed is None and out[4].parsed_ok is False


def test_unigram_logprob_invariants(spark, sf_dir):
    """Unigram-LM scoring: every mean_logprob is negative (probs < 1),
    docs made of rare tokens score below docs of common tokens, and
    the self-calibrating keep flag splits the corpus non-trivially."""
    from etl_data_pipeline_spark.llm.text_analysis import text_unigram_logprob

    rows = text_unigram_logprob(spark, sf_dir).collect()
    assert all(r.mean_logprob < 0 for r in rows)
    kept = sum(1 for r in rows if r.keep)
    assert 0 < kept < len(rows)
    # corpus-relative threshold: kept docs all score >= every dropped doc's
    # score is NOT required (threshold is the mean), but min(kept) must
    # be >= max over the threshold boundary: verify against recomputed mean
    import math
    m = sum(r.mean_logprob for r in rows) / len(rows)
    for r in rows:
        assert r.keep == (r.mean_logprob >= math.floor(m * 1e6 + 0.5) / 1e6) or \
            abs(r.mean_logprob - m) < 1e-9


def test_embedding_covariance_matrix_properties(spark, sf_dir):
    """Covariance output: exactly dim(dim+1)/2 upper-triangle entries,
    non-negative variances on the diagonal, and the diagonal equals a
    numpy reference within rounding."""
    import numpy as np

    from etl_data_pipeline_spark.llm.similarity import embedding_covariance

    rows = embedding_covariance(spark, sf_dir).collect()
    dims = max(r.dim_j for r in rows) + 1
    assert len(rows) == dims * (dims + 1) // 2
    assert all(r.dim_i <= r.dim_j for r in rows)
    diag = {r.dim_i: r.cov for r in rows if r.dim_i == r.dim_j}
    assert all(v >= 0 for v in diag.values())
    X = np.array(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("embedding").toPandas()["embedding"].tolist(),
        dtype=np.float64,
    )
    ref = X.var(axis=0)  # population variance, matches E[x^2]-E[x]^2
    for d in range(dims):
        assert abs(diag[d] - ref[d]) < 1e-4


def test_corpus_token_budget_invariants(spark, sf_dir):
    """Token-budget selection: whole buckets are in or out, the
    selected token mass fits the budget, adding the next (best
    unselected) bucket would exceed it, and selection is monotone in
    quality (no selected bucket below an unselected one)."""
    from etl_data_pipeline_spark.llm.curation import (
        TOKEN_BUDGET_FRACTION,
        corpus_token_budget,
    )

    rows = corpus_token_budget(spark, sf_dir).collect()
    total = sum(r.n_tokens for r in rows)
    budget = total * TOKEN_BUDGET_FRACTION
    sel = [r for r in rows if r.selected]
    unsel = [r for r in rows if not r.selected]
    assert sel and unsel
    assert sum(r.n_tokens for r in sel) <= budget
    # bucket-atomicity + monotonicity
    sel_buckets = {r.q_bucket for r in sel}
    unsel_buckets = {r.q_bucket for r in unsel}
    assert not (sel_buckets & unsel_buckets)
    assert min(sel_buckets) > max(unsel_buckets)
    # greedy-maximality: the best unselected bucket would not fit
    next_b = max(unsel_buckets)
    next_mass = sum(r.n_tokens for r in unsel if r.q_bucket == next_b)
    assert sum(r.n_tokens for r in sel) + next_mass > budget


def test_char_entropy_orders_texts_sensibly(spark):
    """Entropy ordering on controlled inputs: uniform-random-ish text
    scores above natural prose, which scores above single-char
    padding (H = 0)."""
    from etl_data_pipeline_spark.llm.text_analysis import text_char_entropy
    import os, tempfile

    rows = [
        (1, "aaaaaaaaaaaaaaaaaaaaaaaa"),                    # H = 0
        (2, "the quick brown fox jumps over the lazy dog"),  # prose
        (3, "q8Zx2vK9mW4pL7nB3cJ6tY1rD5gH0sF"),              # base64-ish
    ]
    with tempfile.TemporaryDirectory() as tmp:
        _write_docs(spark, tmp, rows)
        out = {r.doc_id: r for r in text_char_entropy(spark, tmp).collect()}
    assert out[1].char_entropy == 0.0 and out[1].n_distinct_chars == 1
    assert 0 < out[2].char_entropy < out[3].char_entropy


def test_lr_wmap_is_typed_for_empty_and_non_finite_weights(spark, monkeypatch):
    """The LR weight map stays ``map<bigint,double>`` on the edge
    cases: an empty support and non-finite weights both evaluate,
    while a finite map keeps its literal rendering exactly."""
    import math

    from etl_data_pipeline_spark.llm import features
    from etl_data_pipeline_spark.llm.features import _lr_wmap

    def evaluate(support, w):
        df = spark.range(1).select(_lr_wmap(support, w).alias("m"))
        return df.dtypes[0][1], df.first()["m"]

    assert evaluate([], {}) == ("map<bigint,double>", {})
    dtype, m = evaluate([1, 2, 3], {1: math.inf, 2: -math.inf, 3: math.nan})
    assert dtype == "map<bigint,double>"
    assert m[1] == math.inf and m[2] == -math.inf and math.isnan(m[3])
    finite = {4: 0.1, 7: -2.5e-300}
    assert evaluate([4, 7], finite) == ("map<bigint,double>", finite)
    with monkeypatch.context() as mp:
        mp.setattr(features.F, "expr", lambda text: text)
        assert _lr_wmap([4, 7], finite) == "map(4L, 0.1D, 7L, -2.5e-300D)"
