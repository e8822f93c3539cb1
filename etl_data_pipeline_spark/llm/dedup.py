"""Deduplication operators over ``documents`` / ``embeddings``
(north-star: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup — SURVEY.md §2.B).

Scale design (the whole point of these at 100 TB):
- exact dedup: hash-groupBy on a digest — one shuffle of (digest, id),
  never of full documents;
- n-gram Jaccard: *blocked* self-join (here on (lang, source)) —
  retained as the exact BASELINE/oracle generator; the production
  pair path is MinHash-LSH (a dominant block degrades this to O(n²));
- MinHash-LSH: shingle → K minhashes → band signatures → candidates
  via band-bucket groupBy (shuffle on tiny signatures), exact-Jaccard
  verification only on candidates — the classic way to avoid O(n²).
  Also the EDGE SOURCE for dedup_clusters / dedup_canonical, so the
  end-to-end dedup pipeline contains no all-pairs join;
- SimHash: 60-bit signature per doc via a vectorized pandas UDF, then
  banded hamming join;
- embedding cosine: label-blocked pair join, JVM-side zip_with dot
  product.

Public-technique citations: MinHash/LSH (Broder 1997; Leskovec et al.,
Mining of Massive Datasets ch.3), SimHash (Charikar 2002; Manku et al.
2007 near-dup detection).
"""

from __future__ import annotations

import itertools

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_data_pipeline_spark.functions.caching import (
    tracked_checkpoint,
    tracked_persist,
)
from etl_data_pipeline_spark.functions.rounding import hround, sql_round
from etl_data_pipeline_spark.session import load_table, spread
# no cycle: text_analysis does not import this module
from etl_data_pipeline_spark.llm.text_analysis import DUP_SPAN_N, _sql_ngrams

MINHASH_K = 32          # minhash functions
LSH_BANDS = 16          # bands of 2 rows each (r=2): P(candidate) = 1-(1-s^2)^16
JACCARD_THRESHOLD = 0.5

# Cross-engine minhash arithmetic: base hash = first 15 hex chars of
# md5 (60 bits — identical in Spark `conv(substr(md5(s),1,15),16,10)`
# and DuckDB `('0x' || substr(md5(s),1,15))::BIGINT`), reduced mod the
# Mersenne prime P; per-seed permutation h -> (A*h + B) % P with fixed
# seeded constants. Everything stays < 2^62, so int64 arithmetic is
# exact in both engines and the WHOLE LSH pipeline is oracle-checkable.
MINHASH_P = 2_147_483_647  # 2^31 - 1
import random as _random

_rng = _random.Random(1234)
MINHASH_AB = [
    (_rng.randrange(1, MINHASH_P), _rng.randrange(0, MINHASH_P))
    for _ in range(MINHASH_K)
]


# Hard ceiling on block size for the two DELIBERATELY-quadratic
# exhibits (dedup_ngram_jaccard, dedup_levenshtein). Within-block pair
# volume is rows²/2, so 50k rows caps a block at ~1.25B candidate pairs
# — heavy but finite; at 100 TB blocks reach millions of rows and the
# exhibits must refuse to run rather than silently attempt Θ(block²)
# work. Comfortably above every measured tier (sf10 max documents
# block ≈ 11.2k rows), so the shipped gates/probes are unaffected.
# Bypass: call with exhibit=True (an explicit "I know it's quadratic").
EXHIBIT_BLOCK_CAP = 50_000


def _block_cap_guard(
    df: DataFrame, block_keys: list[str], fold_col: str, query: str, scale_path: str
) -> DataFrame:
    """Plan-embedded guard that fails the job when any block exceeds
    EXHIBIT_BLOCK_CAP rows, evaluated lazily with the query itself.

    Mechanics: a tiny per-block count aggregate is broadcast back onto
    the rows (no extra exchange of ``df``; the counts relation has one
    row per block), and an ``assert_true`` is folded into the consumed
    ``fold_col`` via a NULL-typed coalesce — value-preserving, but
    column pruning cannot drop it, so EVERY row of EVERY block checks
    its block's size before any pairwise work starts.
    """
    blk = df.groupBy(*block_keys).agg(F.count("*").alias("_blk_n"))
    guard = F.assert_true(
        F.col("_blk_n") <= F.lit(EXHIBIT_BLOCK_CAP),
        F.concat(
            F.lit(
                f"{query}: a {tuple(block_keys)} block has "
            ),
            F.col("_blk_n").cast("string"),
            F.lit(
                f" rows (> {EXHIBIT_BLOCK_CAP}); refusing to run the "
                f"blocked-quadratic exhibit at this scale — use "
                f"{scale_path}, or pass exhibit=True to override"
            ),
        ),
    )
    folded = F.coalesce(guard.cast(df.schema[fold_col].dataType), F.col(fold_col))
    return (
        df.join(F.broadcast(blk), block_keys)
        .withColumn(fold_col, folded)
        .drop("_blk_n")
    )


def _shingles() -> Column:
    """Distinct 3-gram token shingles (guarded for short docs: Spark
    sequence(1, n<1) would count DOWN, and ANSI element_at errors)."""
    toks = F.split(F.col("text"), " ")
    return F.when(
        F.size(toks) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i),
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest: canonical (min) doc per digest.

    Only (md5, doc_id) pairs shuffle — at 100 TB the document bodies
    never move.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("content_md5"), "doc_id")
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_copies"))
    )


def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, exhibit: bool = False
) -> DataFrame:
    """Blocked pairwise Jaccard: word-set and 3-gram-shingle-set
    similarity for same-(lang,source) pairs above threshold.

    Sets are pre-hashed to int64 (xxhash64) so the per-pair
    intersections compare longs, not strings — at 125k+ pairs the
    string→long move is a ~2× win and collision risk is ~|set|²/2⁶⁴
    (irrelevant; the DuckDB oracle on raw strings still matches).

    QUADRATIC EXHIBIT: within-block pair volume is Θ(block²) by
    design (this is the exact baseline/oracle generator; the
    production near-dup path is dedup_minhash_lsh, measured exponent
    0.41). A plan-embedded guard refuses any (lang, source) block
    over EXHIBIT_BLOCK_CAP rows unless ``exhibit=True``.
    """
    # spread(): shingle/hash compute and the per-pair verify are
    # CPU-bound — fan the single small parquet split across all cores.
    docs = spread(load_table(spark, sf_dir, "documents"))
    hash_set = lambda arr: F.array_distinct(
        F.transform(arr, lambda t: F.xxhash64(t))
    )
    # Shingle hashes come from the TOKEN TRIPLE directly (multi-arg
    # xxhash64), not from a concat_ws-built 3-gram string (r12): no
    # per-shingle string allocation, and tokens cannot contain the
    # separator (they come from splitting on it), so triple ↔ joined
    # string is a bijection — the distinct-set sizes and intersections
    # are unchanged (collision class identical; the raw-string DuckDB
    # oracle still matches).
    toks = F.split(F.col("text"), " ")
    shingle_hashes = F.when(
        F.size(toks) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 2),
                lambda i: F.xxhash64(
                    F.element_at(toks, i),
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # persist: the hashed-set table feeds BOTH sides of the self-join;
    # without it each side re-tokenizes and re-hashes the corpus (at
    # 100 TB: two extra full text scans). Tiny relative to the corpus —
    # ids + int64 arrays, no text.
    d = tracked_persist(
        docs.select(
            "doc_id", "lang", "source",
            hash_set(F.split(F.col("text"), " ")).alias("words"),
            shingle_hashes.alias("shingles"),
        ).withColumn("n_words", F.size("words"))
    )
    if not exhibit:
        d = _block_cap_guard(
            d, ["lang", "source"], "n_words",
            "dedup_ngram_jaccard", "dedup_minhash_lsh",
        )
    # EXPLICIT fixed-count repartition on the block keys before the
    # self-join: the join's shuffle INPUT is tiny (ids + hashed sets),
    # so AQE's coalescing would legally collapse it to ~1 partition —
    # but the join OUTPUT is the pair expansion, ~100x the input, and
    # a collapsed exchange serializes the whole pairwise verify on one
    # core (observed: 1.9s vs 13s bimodal on identical data). A
    # user-specified partition count is exempt from AQE coalescing and
    # keeps the expansion spread across the cluster; at 100 TB this is
    # the difference between pair work scaling with cores and not.
    n_par = d.sparkSession.sparkContext.defaultParallelism
    blocked = d.repartition(n_par, "lang", "source")
    a, b = blocked.alias("a"), blocked.alias("b")
    # Size prefilter INSIDE the join condition: Jaccard ≥ t requires
    # min(|A|,|B|) ≥ t·max(|A|,|B|) (since |A∩B| ≤ min and
    # |A∪B| ≥ max). An int comparison that prunes pairs BEFORE the
    # per-pair array_intersect — the standard length-filter from
    # set-similarity-join literature; result set is provably unchanged
    # (the oracle stays the brute-force SQL).
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (
            F.least("a.n_words", "b.n_words")
            >= JACCARD_THRESHOLD * F.greatest("a.n_words", "b.n_words")
        ),
    )
    # |A∪B| = |A| + |B| - |A∩B|: one intersect per pair instead of
    # intersect + materialized union array — halves the per-pair array
    # work (the dominant cost of pairwise Jaccard at scale).
    w_int = F.size(F.array_intersect("a.words", "b.words"))
    word_jac = w_int / (
        F.size("a.words") + F.size("b.words") - w_int
    )
    s_int = F.size(F.array_intersect("a.shingles", "b.shingles"))
    sh_jac = s_int / F.greatest(
        F.size("a.shingles") + F.size("b.shingles") - s_int, F.lit(1)
    )
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hround(word_jac, 6).alias("word_jaccard"),
            hround(sh_jac, 6).alias("shingle_jaccard"),
        )
        .filter(F.col("word_jaccard") >= JACCARD_THRESHOLD)
    )


def _md5_long60(col: Column) -> Column:
    """Portable 60-bit md5 hash (see MINHASH_AB note) — shared helper
    in functions/hashing.py."""
    from etl_data_pipeline_spark.functions.hashing import md5_long60

    return md5_long60(col)


def _md5_long(col: Column) -> Column:
    """The 60-bit md5 hash reduced mod MINHASH_P (minhash domain)."""
    return _md5_long60(col) % MINHASH_P


def _minhash_cols() -> list[Column]:
    """K minhash values over the 3-gram shingle set: min over shingles
    of the seeded affine permutation (A_i*h + B_i) % P of the shared
    md5-derived base hash.

    Each shingle STRING is md5-hashed once (``sh_hash``); the K
    minhashes are pure int64 arithmetic on those — far cheaper than K
    string hashes, and exactly reproducible in the DuckDB oracle.
    Shingles (not raw word sets) because this corpus has a tiny
    vocabulary — word-set Jaccard saturates, 3-gram Jaccard stays
    discriminative. (Broder 1997 minwise permutations.)
    """
    return [
        F.array_min(
            F.transform(
                F.col("sh_hash"), lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P
            )
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_AB)
    ]


def _lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verify →
    (doc_a, doc_b, shingle_jaccard) pairs above threshold.

    The shared scale-safe pair generator: consumed by
    ``dedup_minhash_lsh`` (the pair listing itself) AND by
    ``dedup_clusters`` / ``dedup_canonical`` as their edge source, so
    the whole dedup pipeline has NO all-pairs join anywhere — the only
    self-join is on band signatures (bucket-local).
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    sh_hashed = F.array_distinct(
        F.transform(_shingles(), lambda t: _md5_long(t))
    )
    # persist: (doc_id, sh_hash) feeds the band-signature path AND both
    # verification sides — three shingle+hash passes over the corpus
    # otherwise (at 100 TB these signatures would be written to a table
    # once at ingest; persist is the in-session equivalent).
    sh = tracked_persist(docs.select("doc_id", sh_hashed.alias("sh_hash")))
    with_mh = sh.select("doc_id", "sh_hash", *_minhash_cols())
    bands = F.array(
        *[
            (F.col(f"mh{2 * b}") * MINHASH_P + F.col(f"mh{2 * b + 1}"))
            for b in range(LSH_BANDS)
        ]
    )
    # Band join on BARE ids+signatures (shingle arrays would otherwise
    # be shuffled through the exploded join and the dedup); arrays are
    # re-attached only to the few surviving candidate pairs.
    # persist: BOTH sides of the band self-join read sigs — without it
    # each side recomputes the K=32 minhash transforms (the dominant
    # CPU of the pipeline) from the persisted shingle table. The
    # persisted relation is (doc_id, band_id, band_sig) — three ints
    # per band, corpus-text-free, so it stays tiny even at 100 TB.
    sigs = tracked_persist(
        with_mh.select("doc_id", F.posexplode(bands).alias("band_id", "band_sig"))
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    verified = (
        candidates.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("sh_hash").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("sh_hash").alias("sh_b")),
            "doc_b",
        )
    )
    s_int = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = s_int / F.greatest(
        F.size("sh_a") + F.size("sh_b") - s_int, F.lit(1)
    )
    return (
        verified.select(
            "doc_a", "doc_b", hround(jac, 6).alias("shingle_jaccard")
        )
        .filter(F.col("shingle_jaccard") >= JACCARD_THRESHOLD)
    )


def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash as an ESTIMATOR, shipped with its own error
    measurement: for every LSH candidate pair, the sketch-estimated
    Jaccard (fraction of the K=32 minhashes that agree — the unbiased
    Broder estimator, Var = J(1-J)/K) NEXT TO the exact shingle
    Jaccard and the absolute error. The sketch-accountability pattern
    of the IVF/PQ recall queries and the CMS/HLL ``_bounds`` twins,
    applied to the dedup family's own sketch: a user deciding whether
    minhash agreement alone (no exact verify) is good enough for
    their threshold reads this table, not a formula.

    Scale shape: identical to dedup_minhash_lsh through candidate
    generation (band-bucket join on bare ids+signatures, no all-pairs
    anywhere); the estimate adds one K-int array comparison per
    candidate pair — cheaper than the exact verify it sits beside,
    which is the point being measured. Pairs are NOT threshold-
    filtered: sub-threshold candidates are exactly where the
    estimator's false-positive behavior lives.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    sh_hashed = F.array_distinct(
        F.transform(_shingles(), lambda t: _md5_long(t))
    )
    sh = tracked_persist(docs.select("doc_id", sh_hashed.alias("sh_hash")))
    # persist: the (id, shingles, K minhashes) relation feeds the band
    # path AND both per-pair sides; text never moves past this point
    with_mh = tracked_persist(sh.select("doc_id", "sh_hash", *_minhash_cols()))
    bands = F.array(
        *[
            (F.col(f"mh{2 * b}") * MINHASH_P + F.col(f"mh{2 * b + 1}"))
            for b in range(LSH_BANDS)
        ]
    )
    sigs = tracked_persist(
        with_mh.select("doc_id", F.posexplode(bands).alias("band_id", "band_sig"))
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    mh_arr = F.array(*[F.col(f"mh{i}") for i in range(MINHASH_K)])
    side = lambda tag: with_mh.select(
        F.col("doc_id").alias(f"doc_{tag}"),
        F.col("sh_hash").alias(f"sh_{tag}"),
        mh_arr.alias(f"mh_{tag}"),
    )
    paired = candidates.join(side("a"), "doc_a").join(side("b"), "doc_b")
    matches = F.size(
        F.filter(F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda v: v)
    )
    est = matches / F.lit(float(MINHASH_K))
    s_int = F.size(F.array_intersect("sh_a", "sh_b"))
    exact = s_int / F.greatest(
        F.size("sh_a") + F.size("sh_b") - s_int, F.lit(1)
    )
    return paired.select(
        "doc_a",
        "doc_b",
        hround(est, 6).alias("est_jaccard"),
        hround(exact, 6).alias("exact_jaccard"),
        hround(F.abs(est - exact), 6).alias("abs_err"),
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs, exact-Jaccard verified.

    Pipeline: per-doc K=32 shingle minhashes → 16 band signatures
    (mh_even*P + mh_odd, P(candidate)=1-(1-s²)¹⁶ ≈ .99 at s=0.5) →
    explode bands → band-bucket join → candidate pairs → verify exact
    shingle Jaccard ≥ 0.5. ORACLE-CHECKED end-to-end: the md5-derived
    base hash and affine permutations are engine-portable, so the
    DuckDB oracle reruns the entire LSH pipeline in SQL; recall vs
    exact pairwise is additionally asserted in tests.
    """
    return _lsh_verified_pairs(spark, sf_dir)


def pipeline_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-stop corpus duplication report — the first thing a curator
    runs before choosing a dedup strategy: one row per signal family
    with the corpus-level duplication mass it sees.

    - exact:     documents whose full content digest repeats (how much
                 a digest groupBy alone would remove);
    - near_lsh:  documents appearing in at least one verified
                 MinHash-LSH near-dup pair at the shared threshold
                 (doc-level near-duplication beyond exact copies);
    - substring: documents containing at least one cross-document
                 duplicated 6-gram span, and the total token mass a
                 span-level scrub would remove (Lee et al. 2021 —
                 duplication that doc-level signals cannot see).

    Columns: signal, n_docs (corpus size — same in every row, so the
    report is self-contained), affected_docs, dup_mass (docs beyond
    one survivor per exact group / near-dup docs / removed tokens),
    pct_affected. Scale shape: each signal is the already-audited
    lineage of its standalone query (digest groupBy; LSH banding +
    verify; span discovery + positional join) folded to a 1-row
    aggregate, unioned — no new join shapes, and the report output is
    3 rows regardless of corpus size."""
    from etl_data_pipeline_spark.llm.text_analysis import substring_scrub

    docs = spread(load_table(spark, sf_dir, "documents"))
    n_docs = docs.groupBy().agg(F.count("*").alias("n_docs"))

    exact = (
        docs.select(F.md5("text").alias("d"), "doc_id")
        .groupBy("d")
        .agg(F.count("*").alias("n"))
        .agg(
            F.coalesce(F.sum(F.when(F.col("n") > 1, F.col("n"))), F.lit(0))
            .cast("long")
            .alias("affected_docs"),
            F.coalesce(F.sum(F.when(F.col("n") > 1, F.col("n") - 1)), F.lit(0))
            .cast("long")
            .alias("dup_mass"),
        )
        .select(F.lit("exact").alias("signal"), "affected_docs", "dup_mass")
    )
    pairs = _lsh_verified_pairs(spark, sf_dir)
    near = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .agg(F.count_distinct("doc_id").cast("long").alias("affected_docs"))
        .select(
            F.lit("near_lsh").alias("signal"),
            "affected_docs",
            F.col("affected_docs").alias("dup_mass"),
        )
    )
    scrub = substring_scrub(docs).agg(
        F.coalesce(
            F.sum(F.when(F.col("n_removed") > 0, 1)), F.lit(0)
        ).cast("long").alias("affected_docs"),
        F.coalesce(F.sum("n_removed"), F.lit(0)).cast("long").alias("dup_mass"),
    ).select(F.lit("substring").alias("signal"), "affected_docs", "dup_mass")

    return (
        exact.unionByName(near)
        .unionByName(scrub)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "signal",
            "n_docs",
            "affected_docs",
            "dup_mass",
            hround(F.col("affected_docs") / F.col("n_docs"), 6).alias(
                "pct_affected"
            ),
        )
    )


INCR_BATCH_MOD = 10  # "new batch" = doc_id % 10 == 0; the rest is the index


def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup: dedup a NEW batch of documents against an
    already-indexed corpus — the form a production ingest actually
    runs (the reference's whole reason to exist is incremental loads,
    app.py:96-132; this is that idea applied to LSH dedup). The corpus
    side's band signatures are the persisted artifact a real pipeline
    writes at ingest; the arriving batch (here: doc_id % 10 == 0, the
    same kind of deterministic split the recall queries use) computes
    its own signatures and PROBES the index — a batch-to-index join,
    never a corpus self-join, so incremental cost is
    O(batch + matched buckets), not O(corpus).

    Output: for each batch doc with a near-dup already in the index,
    its best match (highest exact shingle Jaccard, ties to smallest
    index doc_id) — the decision row an ingest pipeline needs ("skip
    this document, it is a copy of X").

    Scale: signatures are ids+ints (text never moves); the band join
    shuffles only the batch's buckets; the exact verify re-attaches
    shingle sets to surviving candidates alone. Same engine-portable
    md5 minhash arithmetic as the LSH family, so the DuckDB oracle
    replays the entire incremental pipeline.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    sh_hashed = F.array_distinct(
        F.transform(_shingles(), lambda t: _md5_long(t))
    )
    sh = tracked_persist(docs.select("doc_id", sh_hashed.alias("sh_hash")))
    with_mh = sh.select("doc_id", "sh_hash", *_minhash_cols())
    bands = F.array(
        *[
            (F.col(f"mh{2 * b}") * MINHASH_P + F.col(f"mh{2 * b + 1}"))
            for b in range(LSH_BANDS)
        ]
    )
    sigs = tracked_persist(
        with_mh.select("doc_id", F.posexplode(bands).alias("band_id", "band_sig"))
    )
    is_batch = F.col("doc_id") % INCR_BATCH_MOD == 0
    index_sigs = sigs.filter(~is_batch).select(
        F.col("doc_id").alias("index_doc"), "band_id", "band_sig"
    )
    batch_sigs = sigs.filter(is_batch).select(
        F.col("doc_id").alias("batch_doc"), "band_id", "band_sig"
    )
    candidates = (
        batch_sigs.join(index_sigs, ["band_id", "band_sig"])
        .select("batch_doc", "index_doc")
        .dropDuplicates(["batch_doc", "index_doc"])
    )
    paired = candidates.join(
        sh.select(F.col("doc_id").alias("batch_doc"), F.col("sh_hash").alias("sh_b")),
        "batch_doc",
    ).join(
        sh.select(F.col("doc_id").alias("index_doc"), F.col("sh_hash").alias("sh_i")),
        "index_doc",
    )
    s_int = F.size(F.array_intersect("sh_b", "sh_i"))
    jac = s_int / F.greatest(
        F.size("sh_b") + F.size("sh_i") - s_int, F.lit(1)
    )
    verified = paired.select(
        "batch_doc", "index_doc", hround(jac, 6).alias("shingle_jaccard")
    ).filter(F.col("shingle_jaccard") >= JACCARD_THRESHOLD)
    best = Window.partitionBy("batch_doc").orderBy(
        F.desc("shingle_jaccard"), F.asc("index_doc")
    )
    return (
        verified.withColumn("rn", F.row_number().over(best))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


SIMHASH_BITS = 60       # md5-derived portable token hashes (see _md5_long60)
SIMHASH_CHUNKS = 4      # 4 × 15-bit chunks: exact recall for hamming ≤ 3
SIMHASH_CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS
SIMHASH_MAX_HAMMING = 3


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit signature per doc (vectorized
    pandas UDF bit-majority vote), banded hamming-distance join.

    Bands: 4 × 15-bit chunks, threshold hamming ≤ 3. By pigeonhole,
    ≤ 3 differing bits cannot touch all 4 chunks, so chunk equality is
    an EXACT-recall candidate filter (Manku et al. 2007: k+1 chunks
    for distance k), verified with bit_count(xor) ≤ 3. Token hashes
    are the engine-portable 60-bit md5 prefix, so the signature — and
    therefore the whole pipeline — is ORACLE-CHECKED: the DuckDB
    oracle recomputes the majority vote, banding, and hamming verify
    in SQL.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def simhash_sig(tok_hashes: pd.Series) -> pd.Series:
        """Fold per-token 60-bit hashes into the SimHash signature.

        Token hashing happens JVM-side (md5 inside codegen); this UDF
        only does the bit-majority vote, fully vectorized: for each
        doc, a |tokens|×60 bit matrix summed along axis 0.
        """
        shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
        out = np.empty(len(tok_hashes), dtype=np.int64)
        for i, hashes in enumerate(tok_hashes):
            h = np.asarray(hashes, dtype=np.int64).astype(np.uint64)
            bits = (h[:, None] >> shifts) & np.uint64(1)
            maj = (bits.sum(axis=0) * 2 > len(h)).astype(np.uint64)
            out[i] = np.int64((maj << shifts).sum(dtype=np.uint64))
        return pd.Series(out)

    docs = spread(load_table(spark, sf_dir, "documents"))
    tok_hashes = F.array_distinct(
        F.transform(F.split(F.col("text"), " "), lambda t: _md5_long60(t))
    )
    sigs = docs.select("doc_id", simhash_sig(tok_hashes).alias("simhash"))
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    (
                        F.shiftrightunsigned("simhash", SIMHASH_CHUNK_BITS * c)
                        % (1 << SIMHASH_CHUNK_BITS)
                    ).alias(f"c{c}")
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("chunk_id", "chunk_val"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .dropDuplicates(["doc_a", "doc_b"])
    )


LEVENSHTEIN_MAX = 2


CLUSTER_MAX_ITERS = 12


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the near-dup pair
    graph (MinHash-LSH verified pairs, shingle-Jaccard ≥ 0.5), labeling
    each involved doc with its component id = min reachable doc_id,
    plus cluster size.

    This is the step every dedup pipeline needs after pair generation:
    pairs (a,b),(b,c) must collapse to ONE canonical survivor for
    {a,b,c}, which pairwise filtering alone can't express. The edge
    source is ``_lsh_verified_pairs`` — banded bucket join + verify,
    never an all-pairs join — so the full clusters pipeline survives a
    corpus where one (lang, source) block dominates. Algorithm:
    iterative min-label propagation — each round, every node takes the
    min label among itself and its neighbors (one join + one groupBy
    per round), converging in O(component diameter) rounds; dup
    clusters are shallow (diameter ≪ 12), and the loop exits early on
    a converged sum(label) scalar (1-row aggregate, no collect). The
    same technique scales out as GraphX/GraphFrames-style large-star /
    small-star CC; per-round state is only (node, label) pairs — never
    document content.
    """
    pairs = _lsh_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.union(pairs.select("doc_b", "doc_a")).toDF("src", "dst").persist()
    )
    # localCheckpoint (not just persist): each round's plan references
    # the previous round's; without truncation the logical plan grows
    # linearly and re-optimization time blows up by round ~4 — the
    # standard iterative-DataFrame trap.
    labels = tracked_checkpoint(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    label_sum = labels.agg(F.sum("label")).first()[0]
    for _ in range(CLUSTER_MAX_ITERS):
        msgs = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), "label"
        )
        new_labels = tracked_checkpoint(
            labels.union(msgs).groupBy("node").agg(F.min("label").alias("label"))
        )
        new_sum = new_labels.agg(F.sum("label")).first()[0]
        labels = new_labels
        if new_sum == label_sum:  # min-label is monotone ⇒ sum converges
            break
        label_sum = new_sum
    edges.unpersist()
    w = Window.partitionBy("component_id")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component_id")
    ).select(
        "doc_id", "component_id", F.count("*").over(w).alias("cluster_size")
    )


def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself: every document except the
    non-canonical members of each near-dup cluster (one survivor — the
    min doc_id — per component from dedup_clusters).

    This is the actual OUTPUT of a dedup pipeline: pairs (the other
    dedup_* ops) are the evidence, this is the kept set. Anti-join of
    the corpus against the small clustered-losers relation — the
    corpus streams through once; only (doc_id, component_id) pairs
    ever shuffle. Cluster edges come from MinHash-LSH verified pairs
    (see dedup_clusters) — no all-pairs join anywhere in the lineage.
    """
    docs = load_table(spark, sf_dir, "documents")
    losers = dedup_clusters(spark, sf_dir).filter(
        F.col("doc_id") != F.col("component_id")
    ).select("doc_id")
    # explicit broadcast: losers is bounded by the number of near-dup
    # cluster members — tiny vs the corpus — but its size is opaque to
    # the planner (it sits behind the iterative localCheckpoint), so
    # without the hint this anti-join plans as a SortMergeJoin that
    # shuffles the ENTIRE corpus by doc_id. Broadcasting makes the
    # corpus side stream through map-side with zero shuffle.
    return docs.join(F.broadcast(losers), "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


LEVENSHTEIN_SEGMENTS = LEVENSHTEIN_MAX + 1  # pigeonhole: τ+1 segments
LEVENSHTEIN_SEG_LEN = 3                     # 3 digits per segment


def dedup_levenshtein(
    spark: SparkSession, sf_dir: str, exhibit: bool = False
) -> DataFrame:
    """Edit-distance entity resolution: customer pairs whose names are
    within 2 edits — the fuzzy-name-matching flavor of dedup (record
    linkage), vs the content-similarity flavors above.

    QUADRATIC EXHIBIT: within-block candidate volume is Θ(block²) in
    the worst case (constant segment values); a plan-embedded guard
    refuses any (seg, seg_val) block over EXHIBIT_BLOCK_CAP rows
    unless ``exhibit=True``. The LSH/banding family is the scale path
    for content dedup; for record linkage at scale, entropy-aware
    segment selection (docstring below) is the production mitigation.

    Blocking is a CONTENT-DERIVED pigeonhole key, not a metadata
    column: the name's digit part (the distinctive portion — the
    alphabetic prefix is near-constant across the corpus and would
    make one block ≈ the corpus) is split into τ+1 = 3 segments; ≤ τ
    substitutions cannot touch all 3, so two names within τ
    substitutions share ≥ 1 (segment_idx, segment_value) key — EXACT
    recall for substitution typos (the PassJoin partition principle,
    Li et al. 2011; general indels shift segment frames and need
    PassJoin's shifted-substring matching, documented out of scope).

    Block-size bound: for i.i.d. digits a block is ~n / 10^seg_len
    rows, and seg_len scales with ⌈log10 n⌉ to hold per-block pair
    counts constant. Zero-padded SEQUENTIAL ids (this corpus) are the
    adversarial case: leading segments are near-constant ('000'), so
    the prefix blocks are large — the verify is cheap codegen
    levenshtein, but the RAW match set is Θ(n·k) on such ids (every id
    is within 2 digit-edits of ~2·k·10 others). The production
    mitigation for constant regions is entropy-aware split selection
    (place segment boundaries by sampled per-position entropy); the
    guarantee is unaffected because segmentation only generates
    candidates — the exact verify step decides membership.

    Output bound: record linkage wants each record's BEST match, not
    the full match graph, so the result keeps only the nearest
    neighbor per left record (min edit_dist, ties to the smallest
    cust_b) via a rank-1 window — Catalyst rewrites the rn=1 filter
    into WindowGroupLimit, so each block retains one row per cust_a
    during the shuffle instead of materializing Θ(n·k) pairs.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    digits = F.regexp_replace(F.col("c_name"), "[^0-9]", "")
    keyed = cust.select(
        "c_custkey",
        "c_name",
        F.posexplode(
            F.array(
                *[
                    F.substring(digits, 1 + LEVENSHTEIN_SEG_LEN * i, LEVENSHTEIN_SEG_LEN)
                    for i in range(LEVENSHTEIN_SEGMENTS)
                ]
            )
        ).alias("seg", "seg_val"),
    )
    if not exhibit:
        keyed = _block_cap_guard(
            keyed, ["seg", "seg_val"], "seg_val",
            "dedup_levenshtein", "dedup_levenshtein_entropy / LSH blocking",
        )
    return _levenshtein_best_match(keyed)


def _levenshtein_best_match(keyed: DataFrame) -> DataFrame:
    """Shared tail of the record-linkage queries: block self-join on
    (seg, seg_val), codegen levenshtein verify, rank-1 best match per
    left record. See dedup_levenshtein's docstring for why there is no
    dropDuplicates (rank-1 absorbs the multi-segment duplicates) and
    how WindowGroupLimit bounds the shuffle."""
    # spread the probe side: the join is broadcast, so the streamed
    # side's partitioning decides parallelism — a small-file scan would
    # otherwise run the whole candidate verify (the CPU cost) in 1 task
    a, b = spread(keyed).alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("cust_a"),
            F.col("b.c_custkey").alias("cust_b"),
            F.col("a.c_name").alias("name_a"),
            F.col("b.c_name").alias("name_b"),
        )
        # no dropDuplicates: a pair found via 2 segments yields identical
        # rows, and the rank-1 window below keeps one row per cust_a
        # anyway — deduping first would add a full candidate-set shuffle
    )
    matched = cand.withColumn(
        "edit_dist", F.levenshtein("name_a", "name_b")
    ).filter(F.col("edit_dist") <= LEVENSHTEIN_MAX)
    best = Window.partitionBy("cust_a").orderBy("edit_dist", "cust_b")
    return (
        matched.withColumn("rn", F.row_number().over(best))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def dedup_levenshtein_entropy(
    spark: SparkSession, sf_dir: str, exhibit: bool = False
) -> DataFrame:
    """The PRODUCTION path dedup_levenshtein's docstring promises:
    pigeonhole segmentation with DATA-DERIVED, entropy-aware segment
    boundaries, so constant regions (the zero-padded prefix that makes
    the fixed split's leading blocks huge) stop dominating block sizes.

    Boundary derivation — deterministic and engine-portable: per digit
    position p, the DISCRIMINATIVE MASS disc_p = n_p² − Σ_c
    c_p(c)² (twice the number of record pairs position p distinguishes
    — the collision-counting / Rényi-2 form of entropy, chosen over
    Shannon's because it is ALL-INTEGER arithmetic: no ln(), so the
    DuckDB oracle reproduces the boundaries bit-exactly, where a
    float-entropy cumsum could flip a boundary on a last-ulp
    disagreement). Boundaries split the cumulative disc at 1/3 and
    2/3 of the total, clamped to keep three non-empty contiguous
    segments. A constant position has disc = 0 and consumes no budget,
    so boundaries land where the data varies — the fix for the
    adversarial sequential-id case.

    The pigeonhole guarantee is derivation-independent (ANY contiguous
    τ+1-partition works: ≤ τ substitutions cannot touch all 3
    segments), so the GUARANTEED recall class — every pair within
    τ = 2 substitutions, the class the fixed split's own docstring
    promises — is identical to the fixed split; only block sizes
    change. Candidate coverage OUTSIDE that class is narrower than
    the fixed split's under the two-level keys (_entropy_keyed):
    a position-shifting (indel) pair that incidentally kept one
    fixed segment aligned could surface under the 3 one-level keys
    but may share none of the 9 composite keys. Neither scheme ever
    guaranteed indel pairs (that takes PassJoin's shifted-substring
    machinery); the oracle replays the same keying, so cross-engine
    equality is unaffected.

    Collect contract: the derivation's input is bounded by the schema,
    not the data — one row per digit position — so that relation is
    collected once and the boundaries are computed on the driver in
    Python integers; nothing corpus-sized is collected. The corpus
    work is one map-side-combined (position, digit) count aggregate;
    candidate generation and verify are the shared
    _levenshtein_best_match tail. The block-cap guard stays (a corpus
    whose digits are constant EVERYWHERE still degenerates; refuse
    rather than run quadratic).

    Honest bound: with only τ+1 = 3 CONTIGUOUS segments over a key
    whose varying region is ~log10(n) digit positions, the best
    possible balance still leaves one ~1-digit segment, i.e. a block
    floor of ~n/10 on sequential-id corpora (measured: the derived
    split is [1-6][7-8][9] here — 3.3× faster than the fixed split at
    sf0.1, but the tail segment's blocks grow linearly and trip the
    cap guard at ~500k+ records, by design). The fully-general scale
    path is PassJoin's machinery (shifted substring matching +
    per-length inverted indexes, Li et al. 2011), out of scope; for
    corpora with richer keys (names, addresses) the varying region is
    wider and the derived segments carry multiple characters each,
    restoring the n/|Σ|^(v/3) block bound.

    HEAVY-GATE NOTE (why sf3 is deliberately excluded from
    check_correctness.py HEAVY_SET for this query): the sf3 tier's
    SEQUENTIAL ids put ~10⁸ true pairs inside τ = 2 (every id within
    two substitutions of ~100 neighbors) — the OUTPUT is quadratic,
    not the plan. The engine side was measured green at 2,045 s wall
    and hash-equal; re-running that proves only that emitting 10⁸
    rows is slow. The operative scale evidence is a realistic-key
    run: 450 k rows with richer keys finished in 27.4 s, because
    richer keys keep the true-pair count linear; plus the sf0.01
    oracle hash in the full correctness gate.
    """
    keyed = _entropy_keyed(spark, sf_dir)
    if not exhibit:
        keyed = _block_cap_guard(
            keyed, ["seg", "seg_val"], "seg_val",
            "dedup_levenshtein_entropy", "LSH blocking on a richer key",
        )
    return _levenshtein_best_match(keyed)


def _entropy_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The entropy-aware (seg, seg_val) keying relation — separate so
    tests can measure its block-size distribution directly.

    TWO-LEVEL: level 1 splits the digits into τ+1 = 3 entropy-balanced
    segments; level 2 re-applies the same derivation to each segment's
    COMPLEMENT (the positions a pair agreeing on that segment can
    still differ in), splitting it into 3 more entropy-balanced
    sub-segments. A record emits 9 keys — (s, t) for s, t ∈ {0,1,2}
    with value val_s ':' subval_{s,t} — and the pigeonhole survives
    both levels FOR SUBSTITUTIONS: ≤ τ = 2 substitutions leave ≥ 1
    level-1 segment untouched (val_s equal), and all of them land in
    that segment's complement, where they leave ≥ 1 of the 3
    sub-segments untouched (subval equal), so every true pair shares
    ≥ 1 composite key. (Substitutions don't shift position frames, so
    the sub-partition need not be contiguous in the original string —
    the complement is concatenated across the level-1 gap and split in
    complement coordinates.) This is PassJoin's recursive-partition
    idea (Li et al. 2011) restricted to the substitution case the
    level-1 scheme already documents.

    Why: one level bounds blocks at ~n/10 on zero-padded SEQUENTIAL
    ids (the tail segment is ~1 digit), which crosses the block cap at
    ~500k records. Each composite key covers segment ∪ sub-segment ≈
    5/9 of the discriminative mass, so blocks shrink to ~n/10³ on the
    same adversarial ids — bounded well past the 30× tier.

    Plan: the per-position collision masses (≤ one row per digit
    position) are collected once; both levels' boundaries are plain
    Python integers (_thirds), all-integer as in the DuckDB oracle, so
    every boundary is bit-exact across engines; the 9 keys are
    substrings at literal offsets, a map-only projection of the
    customer scan."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    digits = F.regexp_replace(F.col("c_name"), "[^0-9]", "")
    base = cust.select("c_custkey", "c_name", digits.alias("digits"))
    # per-(position, digit) counts: |positions| × 10 rows, map-side
    # combined — the "sampled per-position entropy" table
    # digit-free names must contribute NO (pos, ch) rows: Spark's
    # sequence(1, 0) counts DOWN to [1, 0] while the oracle's
    # range(1, len+1) is empty — guard the explode like _shingles does
    chars = base.filter(F.length("digits") >= 1).select(
        "digits", F.explode(F.sequence(F.lit(1), F.length("digits"))).alias("pos")
    ).select("pos", F.col("digits").substr(F.col("pos"), F.lit(1)).alias("ch"))
    pc = chars.groupBy("pos", "ch").agg(F.count("*").alias("n"))
    p = pc.groupBy("pos").agg(
        F.sum("n").alias("n_p"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    # positions are 1..L with no gap (each name explodes 1..its length),
    # so list index + 1 is the position
    disc = [
        r.disc
        for r in sorted(
            p.select("pos", (F.col("n_p") * F.col("n_p") - F.col("s2")).alias("disc"))
            .collect()
        )
    ]
    b1c, b2c, L = _thirds(disc)
    # level 2: each segment's COMPLEMENT, in original position order
    pos_disc = list(enumerate(disc, 1))
    comp_disc = [
        [d for i, d in pos_disc if i > b1c],
        [d for i, d in pos_disc if i <= b1c or i > b2c],
        [d for i, d in pos_disc if i <= b2c],
    ]
    # per-record key emission: 9 composite keys (3 level-1 segments ×
    # 3 complement sub-segments), seg = s*3 + t, value = val_s ':' sub
    dg = F.col("digits")
    lv1_vals = _split3(dg, b1c, b2c, L)
    comps = [
        _span(dg, b1c + 1, L),
        F.concat(lv1_vals[0], lv1_vals[2]),
        _span(dg, 1, b2c),
    ]
    keys = [
        F.concat(lv1_vals[s], F.lit(":"), sub)
        for s in range(3)
        for sub in _split3(comps[s], *_thirds(comp_disc[s]))
    ]
    return base.select(
        "c_custkey",
        "c_name",
        F.posexplode(F.array(*keys)).alias("seg", "seg_val"),
    )


def _thirds(disc: list[int]) -> tuple[int, int, int | None]:
    """(b1c, b2c, L) for a run of per-position collision masses, in
    the run's own 1-based coordinates: b1/b2 are the first positions
    whose running sum reaches 1/3 and 2/3 of the total, clamped as the
    oracle's SQL clamps them — b1c = least(greatest(b1, 1), L − 2),
    b2c = least(greatest(b2, b1c + 1), L − 1) — with SQL's
    NULL-skipping least/greatest: an empty run gives (1, 2, NULL), and
    a run shorter than 3 clamps below 1."""
    if not disc:
        return 1, 2, None
    cum = list(itertools.accumulate(disc))
    total, L = cum[-1], len(disc)
    b1 = next(i for i, c in enumerate(cum, 1) if 3 * c >= total)
    b2 = next(i for i, c in enumerate(cum, 1) if 3 * c >= 2 * total)
    b1c = min(b1, L - 2)
    return b1c, min(max(b2, b1c + 1), L - 1), L


def _span(col: Column, first: int, last: int | None) -> Column:
    """SQL substr of positions first..last at literal offsets; a NULL
    ``last`` gives a NULL length, so NULL."""
    length = None if last is None else last - first + 1
    return col.substr(F.lit(first), F.lit(length).cast("int"))


def _split3(col: Column, b1c: int, b2c: int, L: int | None) -> list[Column]:
    """The three contiguous pieces [1, b1c], (b1c, b2c], (b2c, L]."""
    return [_span(col, 1, b1c), _span(col, b1c + 1, b2c), _span(col, b2c + 1, L)]


EMB_LSH_TABLES = 8      # OR-construction: candidate if same-bucket in ANY table
EMB_LSH_PLANES = 6      # planes per table (bucket count = 2^planes)
EMB_COS_THRESHOLD = 0.4


def dedup_embedding_cosine(
    spark: SparkSession,
    sf_dir: str,
    n_tables: int = EMB_LSH_TABLES,
    n_planes: int = EMB_LSH_PLANES,
) -> DataFrame:
    """Embedding near-dup: pairs with cosine ≥ 0.4, candidates via
    multi-table random-hyperplane LSH (not an all-pairs join).

    Candidate generation: ``n_tables`` independent hyperplane tables
    (``n_planes`` planes each, seeds derived from the shared constant)
    — a pair is a candidate iff it lands in the same bucket in ANY
    table (the classic OR-construction); the self-join is bucket-local
    on bare (table, bucket, vec_id) rows, vectors re-attached only to
    the deduped candidates for the exact-cosine verify. Recall is the
    AND/OR LSH formula 1-(1-p^k)^L with p = 1-θ/π: at the 8×6 default
    ≈ 0.997 at cosine 0.9 (true near-dup territory) and ≈ 0.44 at this
    harness's deliberately loose 0.4 threshold — for loose thresholds
    drop n_planes / raise n_tables (the 8×4 setting gives ≈ 0.78 at
    0.4 but triples the verify volume; measured on this corpus, which
    has no true pairs above cosine 0.6). At 10^9 vectors raise
    n_planes further to keep bucket size ~constant (see
    similarity.N_PLANES note) — table count × one corpus scan each
    stays the total cost, never corpus².

    Verify is STAGED: per-vector norms are computed once on the
    embeddings relation (n rows), so the per-pair work is a single
    64-dim dot product — not dot + two norms. sqrt(dot(v,v)) is the
    same sequential fold either way, so staged values are bit-identical
    to per-pair norms and the oracle needs no restaging. Cosine in
    pure Catalyst (zip_with + aggregate, double accumulation) —
    sequential fold matches DuckDB's list functions, and the plane
    constants are shared literals, so the WHOLE pipeline (bucketing
    included) is oracle-checked.
    """
    from etl_data_pipeline_spark.llm.similarity import (
        PLANES_SEED,
        _planes,
        hyperplane_bucket,
    )
    from etl_data_pipeline_spark.llm.vector import dot

    e = tracked_persist(
        spread(load_table(spark, sf_dir, "embeddings")).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
        ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    )
    buckets = F.array(
        *[
            hyperplane_bucket(F.col("v"), _planes(n_planes, seed=PLANES_SEED + t))
            for t in range(n_tables)
        ]
    )
    keyed = e.select("vec_id", F.posexplode(buckets).alias("tbl", "bucket"))
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    verified = cand.join(
        e.select(
            F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
            F.col("nrm").alias("na"),
        ),
        "vec_a",
    ).join(
        e.select(
            F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
            F.col("nrm").alias("nb"),
        ),
        "vec_b",
    )
    return (
        verified.select(
            "vec_a",
            "vec_b",
            hround(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= EMB_COS_THRESHOLD)
    )


SEM_COS_THRESHOLD = EMB_COS_THRESHOLD  # same loose harness threshold
SEM_LSH_TABLES = 4       # OR-construction tables for centroid shortlisting
SEM_LSH_MAX_PLANES = 12  # sign bits computed; count-derived prefix used
SEM_SEED_OFFSET = 100    # plane seeds PLANES_SEED+100+t (disjoint from
                         # dedup_embedding_cosine's PLANES_SEED+t tables)


def _sem_planes_used(n_centroids: int) -> int:
    """Effective plane count p from the centroid count: floor(log2(k))
    clamped to [2, SEM_LSH_MAX_PLANES] — keeps expected centroid
    density per bucket at ~1-2 for ANY corpus size, which is what
    makes the shortlist size (and so the whole assignment) O(1) per
    vector. Integer arithmetic (bit_length), matched exactly by the
    oracle's length(format('{:b}', k)) - 1 — no cross-engine log2
    rounding risk."""
    return min(max(max(n_centroids, 1).bit_length() - 1, 2), SEM_LSH_MAX_PLANES)


def sem_bucket_array(vcol, mask: int, seed_offset: int = SEM_SEED_OFFSET):
    """ALL shortlist tables' hyperplane buckets for one vector, as ONE
    array expression: per-element sign bit · 2^(i mod P), then
    per-table slice sums mod ``mask``. Batching every table's planes
    into a single array-of-sign-string literal and one nested-HOF
    expression removes the ~3.3 s/relation DRIVER-side py4j cost of
    building 4×12 separate hyperplane_bucket trees (measured); the
    JVM-side arithmetic, fold order and resulting bucket ids are
    identical to the unbatched form — and to the oracle's inlined
    rendering (sem_assign_sql_arms)."""
    from etl_data_pipeline_spark.llm.similarity import PLANES_SEED, _planes
    from etl_data_pipeline_spark.llm.vector import dot as _dot

    P = SEM_LSH_MAX_PLANES
    sign_strs = [
        "".join("+" if x > 0 else "-" for x in plane)
        for t in range(SEM_LSH_TABLES)
        for plane in _planes(P, seed=PLANES_SEED + seed_offset + t)
    ]
    weighted = F.transform(
        F.array(*[F.lit(x) for x in sign_strs]),
        lambda sstr, i: F.when(
            _dot(
                vcol,
                F.transform(
                    F.split(sstr, ""),
                    lambda c: (44 - F.ascii(c)).cast("double"),
                ),
            )
            > 0,
            F.pow(F.lit(2.0), (i % P).cast("double")).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.array(
        *[
            F.aggregate(
                F.slice(weighted, t * P + 1, P),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            % mask
            for t in range(SEM_LSH_TABLES)
        ]
    )


def sem_scored(
    e: DataFrame,
    c0: DataFrame,
    n_centroids: int | None = None,
    seed_offset: int = SEM_SEED_OFFSET,
) -> DataFrame:
    """The shortlist + scoring half of ``sem_assign``: hyperplane-
    bucket candidate generation followed by rounded-cosine scoring of
    ONLY the same-bucket (vector, centroid) pairs. Exposed separately
    so the IVF family (llm.similarity) can derive both the corpus cell
    assignment (rank 1) and the query probe list (rank <= nprobe) from
    ONE scoring pass — the same kernel, two consumers.

    ``e`` must carry (vec_id, v, nrm) (extra columns are ignored);
    ``c0`` (centroid_id, cv, cnrm). Returns (vec_id, centroid_id, cc)
    for every shortlisted pair; a vector whose buckets hold no
    centroid yields NO rows (callers map that to cluster -1 /
    unindexed). Deterministic: seeded planes, integer plane-count
    arithmetic, 6 dp rounded cosines.

    ``n_centroids``: the centroid count, for callers that already know
    it — the streaming ingest scores every micro-batch against the
    SAME frozen quantizer, and re-deriving the constant here would run
    a blocking count() job per batch. None (the default) counts.

    ``seed_offset``: the hyperplane seed family. The default is the
    standard shortlist; a RESCUE pass over bucket-miss vectors (r10,
    embedding_kmeans_coverage) re-shortlists with an independent seed
    family — a second OR-construction draw over only the missed
    remainder, O(misses) not O(N·K)."""
    from etl_data_pipeline_spark.llm.vector import dot as _vdot

    # scalar centroid count, not a data collect
    k = c0.count() if n_centroids is None else n_centroids
    mask = 1 << _sem_planes_used(k)
    vkeys = e.select(
        "vec_id",
        F.posexplode(sem_bucket_array(F.col("v"), mask, seed_offset)).alias(
            "tbl", "bucket"
        ),
    )
    ckeys = c0.select(
        "centroid_id",
        F.posexplode(sem_bucket_array(F.col("cv"), mask, seed_offset)).alias(
            "tbl", "bucket"
        ),
    )
    cand = (
        vkeys.join(ckeys, ["tbl", "bucket"])
        .select("vec_id", "centroid_id")
        .dropDuplicates(["vec_id", "centroid_id"])
    )
    return (
        cand.join(e.select("vec_id", "v", "nrm"), "vec_id")
        .join(c0, "centroid_id")
        .select(
            "vec_id",
            "centroid_id",
            hround(
                _vdot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm")),
                6,
            ).alias("cc"),
        )
    )


def sem_assign(e: DataFrame, c0: DataFrame) -> DataFrame:
    """ANN-ASSISTED nearest-centroid assignment — the O(1)-candidates-
    per-vector kernel shared by dedup_semantic (SemDeDup clustering)
    and the IVF coarse quantizers (sim_ann_ivfpq and, since round 9,
    the whole llm.similarity IVF family): centroids are shortlisted
    through SEM_LSH_TABLES hyperplane tables whose bucket count
    derives from the CENTROID COUNT (2^floor(log2 k), expected
    centroid density ~1-2 per bucket at any scale), each vector scores
    only its same-bucket candidates, and a vector whose buckets hold
    no centroid becomes cluster -1. This replaces the dense O(N·K)
    scoring that reads quadratic when K ∝ N (measured: dedup_semantic
    1.65, sim_ann_ivfpq 1.51 segment exponents before their switches).

    ``e`` must carry (vec_id, v, nrm); ``c0`` (centroid_id, cv, cnrm).
    Returns (vec_id, v, nrm, cluster), deterministic end-to-end
    (seeded planes, integer plane-count arithmetic, 6 dp rounded
    cosines, id tiebreaks)."""
    best_w = Window.partitionBy("vec_id").orderBy(
        F.desc("cc"), F.asc("centroid_id")
    )
    best = (
        sem_scored(e, c0)
        .withColumn("rn", F.row_number().over(best_w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("centroid_id").alias("cluster"))
    )
    return e.join(best, "vec_id", "left").select(
        "vec_id",
        "v",
        "nrm",
        F.coalesce(F.col("cluster"), F.lit(-1).cast("long")).alias("cluster"),
    )


def sem_bucket_sql_arms(
    table: str,
    id_col: str,
    vexpr: str,
    mask_cte: str = "pp",
    seed_offset: int = SEM_SEED_OFFSET,
) -> str:
    """The DuckDB rendering of sem_bucket_array over any relation:
    UNION ALL arms ``SELECT {id_col}, t AS tbl, bucket FROM {table}``
    referencing a mask CTE ``{mask_cte}(mask)`` — the single source of
    the shortlist-table constants for every oracle that replays the
    kernel (dedup_semantic, sim_ann_ivfpq, the IVF family, trained
    centroids), so the replays cannot drift."""
    from etl_data_pipeline_spark.llm.similarity import (
        PLANES_SEED,
        _planes,
        sql_bucket_expr,
    )

    return "\n            UNION ALL ".join(
        f"SELECT {id_col}, {t} AS tbl,"
        f" ({sql_bucket_expr(_planes(SEM_LSH_MAX_PLANES, seed=PLANES_SEED + seed_offset + t), vexpr=vexpr)})"
        f" % (SELECT mask FROM {mask_cte}) AS bucket FROM {table}"
        for t in range(SEM_LSH_TABLES)
    )


def sem_assign_sql_arms() -> tuple[str, str]:
    """The (vector-side, centroid-side) arms at the historical CTE
    names ``e(vec_id, v)`` / ``c0(centroid_id, cv)`` — see
    sem_bucket_sql_arms."""
    return (
        sem_bucket_sql_arms("e", "vec_id", "v"),
        sem_bucket_sql_arms("c0", "centroid_id", "cv"),
    )


def sem_assign_mask_sql(cte: str = "c0") -> str:
    """The count-derived bucket-mask CTE body over an arbitrary
    centroid relation. Parameterized on the CTE name (like
    sem_bucket_sql_arms' ``mask_cte``) rather than string-replaced by
    callers: a textual ``.replace("FROM c0", ...)`` on the rendered
    constant is a silent no-op the moment the constant is reworded,
    leaving the oracle counting the WRONG relation — a cross-engine
    mask divergence that only fires when the two counts straddle a
    power of two."""
    return f"""
            SELECT CAST(pow(2, least(greatest(
                       length(format('{{:b}}', greatest(count(*), 1))) - 1,
                       2), {SEM_LSH_MAX_PLANES})) AS BIGINT) AS mask
            FROM {cte}
"""


SEM_ASSIGN_MASK_SQL = sem_assign_mask_sql()


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    dedup by CLUSTER-then-prune — k-means-assign every embedding to
    its nearest centroid, compare pairs only WITHIN a cluster, and
    drop every vector whose cosine to a lower-id cluster-mate exceeds
    the threshold (keep-lowest-id is the deterministic stand-in for
    the paper's keep-farthest-from-centroid).

    This is the third point in the near-dup design space alongside
    ``dedup_embedding_cosine`` (LSH buckets) and
    ``dedup_ngram_jaccard`` (brute force): clustering gives LARGER,
    semantically-coherent candidate blocks than LSH buckets — higher
    recall at loose thresholds — while still never forming corpus²
    pairs. Candidate volume is Σ(cluster size²); the mod-sampled
    centroid rule keeps cluster size ~QUERY_MOD constant, so the
    pairwise stage is LINEAR in the corpus.

    Assignment is ANN-ASSISTED, exactly as the paper runs it at scale:
    with k ∝ n centroids, scoring every vector against every centroid
    is O(n·k) = quadratic (measured: segment exponent 1.65 over
    10×→30× before this design). Instead, centroids are shortlisted
    through SEM_LSH_TABLES hyperplane tables whose bucket count is
    DERIVED FROM THE CENTROID COUNT (2^floor(log2 k), so expected
    centroids per bucket stays ~1-2 at any scale) — each vector scores
    only its same-bucket candidates, O(1) of them, and the whole
    assignment is one bucket join. A vector whose buckets hold no
    centroid in any table (rare by construction) becomes cluster -1, a
    kept singleton excluded from the pairwise stage. The loser join is
    deliberately UN-hinted: at a loose threshold the losers are a
    corpus FRACTION, not dim-sized — the planner/AQE picks broadcast
    only when the set is actually small.

    Deterministic end-to-end (seeded mod-sampled centroids, seeded
    planes, integer-arithmetic plane count, 6 dp rounded cosines, id
    tiebreaks), so the full pipeline — bucketing included — is
    oracle-checked.
    """
    from etl_data_pipeline_spark.llm.similarity import (
        CENTROID_MOD_REMAINDER,
        QUERY_MOD,
    )
    from etl_data_pipeline_spark.llm.vector import dot as _vdot

    e = tracked_persist(
        spread(load_table(spark, sf_dir, "embeddings"))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", F.sqrt(_vdot(F.col("v"), F.col("v"))))
    )
    c0 = tracked_persist(
        e.filter(F.col("vec_id") % QUERY_MOD == CENTROID_MOD_REMAINDER).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    )
    assigned = tracked_persist(sem_assign(e, c0))
    x, y = assigned.alias("x"), assigned.alias("y")
    losers = (
        x.join(
            y,
            (F.col("x.cluster") == F.col("y.cluster"))
            & (F.col("x.cluster") != -1)
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("y.vec_id").alias("loser"),
            hround(
                _vdot(F.col("x.v"), F.col("y.v"))
                / (F.col("x.nrm") * F.col("y.nrm")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") > SEM_COS_THRESHOLD)
        .select("loser")
        .distinct()
    )
    return assigned.join(
        losers, assigned.vec_id == losers.loser, "left"
    ).select("vec_id", "cluster", F.col("loser").isNull().alias("kept"))


def _oracle_semantic() -> str:
    """DuckDB rerun of the FULL pipeline — count-derived bucket mask,
    per-table hyperplane bucketing, candidate shortlist, nearest-
    candidate assignment (-1 fallback), within-cluster pairwise prune
    — same centroid sampling, plane constants, integer plane-count
    arithmetic, 6 dp rounding, and id tiebreaks as the Spark side;
    staged norms are bit-identical to per-pair norms."""
    from etl_data_pipeline_spark.llm.similarity import (
        CENTROID_MOD_REMAINDER,
        QUERY_MOD,
    )

    cos = (
        "floor((list_dot_product({a}.v, {b}.v) /"
        " (sqrt(list_dot_product({a}.v, {a}.v)) *"
        " sqrt(list_dot_product({b}.v, {b}.v)))) * 1000000 + 0.5) / 1000000"
    )
    vk_arms, ck_arms = sem_assign_sql_arms()
    return f"""
        WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c0 AS MATERIALIZED (SELECT vec_id AS centroid_id, v AS cv FROM e
               WHERE vec_id % {QUERY_MOD} = {CENTROID_MOD_REMAINDER}),
        pp AS MATERIALIZED ({SEM_ASSIGN_MASK_SQL}
        ), vk AS MATERIALIZED (
            {vk_arms}
        ), ck AS MATERIALIZED (
            {ck_arms}
        ), cand AS MATERIALIZED (
            SELECT DISTINCT vk.vec_id, ck.centroid_id
            FROM vk JOIN ck ON vk.tbl = ck.tbl AND vk.bucket = ck.bucket
        ), scored AS (
            SELECT cand.vec_id, cand.centroid_id,
                   floor((list_dot_product(c0.cv, e.v) /
                          (sqrt(list_dot_product(c0.cv, c0.cv)) *
                           sqrt(list_dot_product(e.v, e.v)))) * 1000000 + 0.5)
                       / 1000000 AS cc
            FROM cand
            JOIN e ON e.vec_id = cand.vec_id
            JOIN c0 ON c0.centroid_id = cand.centroid_id
        ), a0 AS MATERIALIZED (
            SELECT e.vec_id, e.v,
                   COALESCE(best.cluster, CAST(-1 AS BIGINT)) AS cluster
            FROM e LEFT JOIN (
                SELECT vec_id, centroid_id AS cluster FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cc DESC, centroid_id ASC) AS r FROM scored)
                WHERE r = 1
            ) best ON best.vec_id = e.vec_id
        ), losers AS MATERIALIZED (
            SELECT DISTINCT y.vec_id AS loser
            FROM a0 x JOIN a0 y
              ON x.cluster = y.cluster AND x.cluster <> -1
                 AND x.vec_id < y.vec_id
            WHERE {cos.format(a='x', b='y')} > {SEM_COS_THRESHOLD}
        )
        SELECT vec_id, cluster,
               vec_id NOT IN (SELECT loser FROM losers) AS kept
        FROM a0
    """


def _lsh_pairs_cte() -> str:
    """DuckDB rerun of the ENTIRE LSH pipeline (same md5-derived base
    hash, same affine permutations, same banding, same verify): a CTE
    chain ending in ``lshp(doc_a, doc_b, shingle_jaccard)`` — shared by
    the minhash, clusters, and canonical oracles, mirroring how the
    Spark side shares ``_lsh_verified_pairs``."""
    p = MINHASH_P
    shingle_sql = """
        CASE WHEN len(string_split(text, ' ')) >= 3 THEN
            list_distinct(list_transform(
                range(1, len(string_split(text, ' ')) - 1),
                i -> concat_ws(' ', string_split(text, ' ')[i],
                               string_split(text, ' ')[i+1],
                               string_split(text, ' ')[i+2])))
        ELSE [] END
    """
    mh_cols = ",\n               ".join(
        f"list_min(list_transform(sh_hash, h -> ({a} * h + {b}) % {p})) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_AB)
    )
    band_arms = "\n            UNION ALL ".join(
        f"SELECT doc_id, {bnd} AS band_id, mh{2*bnd} * {p} + mh{2*bnd+1} AS band_sig FROM mh"
        for bnd in range(LSH_BANDS)
    )
    jac_expr = sql_round(
        '''CAST(len(list_intersect(sa.sh_hash, sb.sh_hash)) AS DOUBLE)
                   / greatest(len(sa.sh_hash) + len(sb.sh_hash)
                              - len(list_intersect(sa.sh_hash, sb.sh_hash)), 1)''',
        6,
    )
    return f"""sh AS (
            SELECT doc_id,
                   list_distinct(list_transform({shingle_sql},
                       s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {p}))
                       AS sh_hash
            FROM documents
        ), mh AS (
            SELECT doc_id, sh_hash,
               {mh_cols}
            FROM sh
        ), sigs AS (
            {band_arms}
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sigs a JOIN sigs b
              ON a.band_id = b.band_id AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id
        ), lshp AS (
            SELECT doc_a, doc_b, {jac_expr} AS shingle_jaccard
            FROM cand
            JOIN sh sa ON sa.doc_id = doc_a
            JOIN sh sb ON sb.doc_id = doc_b
            WHERE {jac_expr} >= {JACCARD_THRESHOLD}
        )"""


def _oracle_simhash() -> str:
    """DuckDB rerun of the ENTIRE SimHash pipeline (same md5-derived
    token hashes, same 60-bit majority vote, same 4-chunk banding)."""
    sig_terms = "\n                 + ".join(
        f"(CASE WHEN 2 * len(list_filter(th, h -> ((h >> {b}) & 1) = 1))"
        f" > len(th) THEN {1 << b} ELSE 0 END)::BIGINT"
        for b in range(SIMHASH_BITS)
    )
    chunk_arms = "\n            UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS chunk_id,"
        f" (simhash >> {SIMHASH_CHUNK_BITS * c}) & {(1 << SIMHASH_CHUNK_BITS) - 1}"
        f" AS chunk_val FROM sig"
        for c in range(SIMHASH_CHUNKS)
    )
    return f"""
        WITH t AS (
            SELECT doc_id,
                   list_distinct(list_transform(string_split(text, ' '),
                       s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS th
            FROM documents
        ), sig AS (
            SELECT doc_id,
                   {sig_terms}
                   AS simhash
            FROM t
        ), chunks AS (
            {chunk_arms}
        ), pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            a.simhash AS sig_a, b.simhash AS sig_b
            FROM chunks a JOIN chunks b
              ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
             AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b)) AS hamming
        FROM pairs
        WHERE bit_count(xor(sig_a, sig_b)) <= {SIMHASH_MAX_HAMMING}
    """


def _oracle_levenshtein() -> str:
    """DuckDB rerun of the pigeonhole-segment blocking + exact verify."""
    seg_arms = "\n            UNION ALL ".join(
        f"SELECT c_custkey, c_name, {i} AS seg,"
        f" substr(digits, {1 + LEVENSHTEIN_SEG_LEN * i}, {LEVENSHTEIN_SEG_LEN})"
        f" AS seg_val FROM c"
        for i in range(LEVENSHTEIN_SEGMENTS)
    )
    return f"""
        WITH c AS (
            SELECT c_custkey, c_name,
                   regexp_replace(c_name, '[^0-9]', '', 'g') AS digits
            FROM customer
        ), keyed AS (
            {seg_arms}
        ), cand AS (
            SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
                   a.c_name AS name_a, b.c_name AS name_b
            FROM keyed a JOIN keyed b
              ON a.seg = b.seg AND a.seg_val = b.seg_val
             AND a.c_custkey < b.c_custkey
        )
        SELECT cust_a, cust_b, name_a, name_b,
               levenshtein(name_a, name_b) AS edit_dist
        FROM cand
        WHERE levenshtein(name_a, name_b) <= {LEVENSHTEIN_MAX}
        QUALIFY row_number() OVER (
            PARTITION BY cust_a
            ORDER BY levenshtein(name_a, name_b), cust_b) = 1
    """


def _sql_substr(s: str, pos: str, length: str) -> str:
    """DuckDB SQL for Spark's ``substr(s, pos, length)`` at a start
    ``pos >= 0``, the only starts the entropy keying produces. Spark
    reads a start of 0 as 1 and a negative length as empty; DuckDB
    reads the first as the position before the string and runs the
    second backwards. A NULL length gives NULL in both."""
    return (
        f"substr({s}, greatest({pos}, 1)::INT,"
        f" (CASE WHEN {length} < 0 THEN 0 ELSE {length} END)::INT)"
    )


def _oracle_entropy_keyed() -> str:
    """The CTEs of the DuckDB entropy keying, ending in ``keyed``
    (c_custkey, c_name, seg, seg_val): the all-integer collision-mass
    boundary derivation at BOTH levels (bit-exact across engines — the
    reason Rényi-2 replaced Shannon here) and the 9 keys, replaying
    ``_entropy_keyed`` key by key — Spark's ``substr`` (_sql_substr),
    and _thirds' (1, 2, NULL) bounds for a complement with no digit
    position, so a key a segment cannot fill is NULL as in Spark."""
    sub = _sql_substr
    return f"""
        WITH c AS (
            SELECT c_custkey, c_name,
                   regexp_replace(c_name, '[^0-9]', '', 'g') AS digits
            FROM customer
        ), chars AS (
            -- list-valued range + lateral UNNEST (the table function
            -- form rejects lateral column parameters in DuckDB)
            SELECT t.pos AS pos, substr(c.digits, t.pos::INT, 1) AS ch
            FROM c, UNNEST(range(1, length(c.digits) + 1)) AS t(pos)
        ), pc AS (
            SELECT pos, ch, count(*) AS n FROM chars GROUP BY 1, 2
        ), p AS (
            SELECT pos, sum(n) AS n_p, sum(n * n) AS s2 FROM pc GROUP BY 1
        ), posd AS (
            SELECT pos, n_p * n_p - s2 AS disc FROM p
        ), cum AS (
            SELECT pos, sum(disc) OVER (ORDER BY pos) AS cumdisc FROM posd
        ), tot AS (
            SELECT max(cumdisc) AS total, max(pos) AS L FROM cum
        ), b1t AS (
            SELECT min(pos) AS b1 FROM cum, tot WHERE 3 * cumdisc >= total
        ), b2t AS (
            SELECT min(pos) AS b2 FROM cum, tot WHERE 3 * cumdisc >= 2 * total
        ), b1c_t AS (
            SELECT least(greatest(b1, 1), L - 2) AS b1c, L FROM b1t, tot
        ), bounds AS (
            SELECT b1c, least(greatest(b2, b1c + 1), L - 1) AS b2c, L
            FROM b1c_t, b2t
        ), segs AS (
            SELECT * FROM (VALUES (0), (1), (2)) s(s)
        ), compd AS (
            -- level 2: each segment's complement re-indexed in
            -- complement coordinates (original position order)
            SELECT segs.s, d.disc,
                   row_number() OVER (PARTITION BY segs.s ORDER BY d.pos) AS rn
            FROM posd d, bounds, segs
            WHERE (segs.s = 0 AND d.pos > b1c)
               OR (segs.s = 1 AND (d.pos <= b1c OR d.pos > b2c))
               OR (segs.s = 2 AND d.pos <= b2c)
        ), ccum AS (
            SELECT s, rn,
                   sum(disc) OVER (PARTITION BY s ORDER BY rn) AS cd
            FROM compd
        ), ctot AS (
            -- one row per segment, an empty complement included
            SELECT segs.s, max(cd) AS ctotal, max(rn) AS cl
            FROM segs LEFT JOIN ccum ON ccum.s = segs.s GROUP BY segs.s
        ), csb AS (
            SELECT ctot.s, ctotal, cl,
                   min(rn) FILTER (WHERE 3 * cd >= ctotal) AS sb1,
                   min(rn) FILTER (WHERE 3 * cd >= 2 * ctotal) AS sb2
            FROM ctot LEFT JOIN ccum ON ccum.s = ctot.s
            GROUP BY ctot.s, ctotal, cl
        ), csb1c AS (
            SELECT s, least(greatest(sb1, 1), cl - 2) AS sb1c, sb2, cl FROM csb
        ), cbounds AS (
            SELECT s, sb1c, least(greatest(sb2, sb1c + 1), cl - 1) AS sb2c, cl
            FROM csb1c
        ), lv1 AS (
            SELECT c.c_custkey, c.c_name, segs.s,
                   CASE segs.s
                       WHEN 0 THEN {sub("digits", "1", "b1c")}
                       WHEN 1 THEN {sub("digits", "b1c + 1", "b2c - b1c")}
                       ELSE {sub("digits", "b2c + 1", "L - b2c")}
                   END AS val_s,
                   CASE segs.s
                       WHEN 0 THEN {sub("digits", "b1c + 1", "L - b1c")}
                       WHEN 1 THEN {sub("digits", "1", "b1c")}
                                   || {sub("digits", "b2c + 1", "L - b2c")}
                       ELSE {sub("digits", "1", "b2c")}
                   END AS comp
            FROM c, bounds, segs
        ), keyed AS (
            SELECT l.c_custkey, l.c_name, l.s * 3 + t.t AS seg,
                   l.val_s || ':' ||
                   CASE t.t
                       WHEN 0 THEN {sub("l.comp", "1", "cb.sb1c")}
                       WHEN 1 THEN {sub("l.comp", "cb.sb1c + 1", "cb.sb2c - cb.sb1c")}
                       ELSE {sub("l.comp", "cb.sb2c + 1", "cb.cl - cb.sb2c")}
                   END AS seg_val
            FROM lv1 l
            JOIN cbounds cb ON cb.s = l.s, (VALUES (0), (1), (2)) t(t)
        )"""


def _oracle_levenshtein_entropy() -> str:
    """DuckDB rerun of the FULL two-level entropy-aware pipeline: the
    keying of _oracle_entropy_keyed, then the same blocking + verify +
    rank as the fixed-segment oracle."""
    return f"""{_oracle_entropy_keyed()}, cand AS (
            SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
                   a.c_name AS name_a, b.c_name AS name_b
            FROM keyed a JOIN keyed b
              ON a.seg = b.seg AND a.seg_val = b.seg_val
             AND a.c_custkey < b.c_custkey
        )
        SELECT cust_a, cust_b, name_a, name_b,
               levenshtein(name_a, name_b) AS edit_dist
        FROM cand
        WHERE levenshtein(name_a, name_b) <= {LEVENSHTEIN_MAX}
        QUALIFY row_number() OVER (
            PARTITION BY cust_a
            ORDER BY levenshtein(name_a, name_b), cust_b) = 1
    """


def _oracle_embedding_cosine() -> str:
    """DuckDB rerun of the multi-table hyperplane bucketing + exact
    cosine verify (same plane constants, same OR-construction)."""
    from etl_data_pipeline_spark.llm.similarity import (
        PLANES_SEED,
        _planes,
        sql_bucket_expr,
    )

    table_arms = "\n            UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl,"
        f" {sql_bucket_expr(_planes(EMB_LSH_PLANES, seed=PLANES_SEED + t))}"
        f" AS bucket FROM e"
        for t in range(EMB_LSH_TABLES)
    )
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        keyed AS (
            {table_arms}
        ), cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM keyed a JOIN keyed b
              ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        ), verified AS (
            SELECT cand.vec_a, cand.vec_b,
                   floor((list_dot_product(ea.v, eb.v) /
                          (sqrt(list_dot_product(ea.v, ea.v)) *
                           sqrt(list_dot_product(eb.v, eb.v)))) * 1000000 + 0.5)
                       / 1000000 AS cosine
            FROM cand
            JOIN e ea ON ea.vec_id = cand.vec_a
            JOIN e eb ON eb.vec_id = cand.vec_b
        )
        SELECT vec_a, vec_b, cosine FROM verified
        WHERE cosine >= {EMB_COS_THRESHOLD}
    """


# DuckDB CTE: same-(lang,source) blocked pairs with word/shingle
# Jaccard — the oracle behind dedup_ngram_jaccard (the exact baseline).
_NGRAM_PAIRS_CTE = f"""d AS (
            SELECT doc_id, lang, source,
                   list_distinct(string_split(text, ' ')) AS words,
                   CASE WHEN len(string_split(text, ' ')) >= 3 THEN
                       list_distinct(list_transform(
                           range(1, len(string_split(text, ' ')) - 1),
                           i -> concat_ws(' ', string_split(text, ' ')[i],
                                          string_split(text, ' ')[i+1],
                                          string_split(text, ' ')[i+2])))
                   ELSE [] END AS shingles
            FROM documents
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   {sql_round('''CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
                       / len(list_distinct(list_concat(a.words, b.words)))''', 6)}
                       AS word_jaccard,
                   {sql_round('''CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                       / greatest(len(list_distinct(list_concat(a.shingles, b.shingles))), 1)''', 6)}
                       AS shingle_jaccard
            FROM d a JOIN d b
              ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        )"""

QUERIES = {
    "dedup_exact_docs": dedup_exact_docs,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_clusters": dedup_clusters,
    "dedup_canonical": dedup_canonical,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_estimate": dedup_minhash_estimate,
    "dedup_minhash_incremental": dedup_minhash_incremental,
    "pipeline_dedup_report": pipeline_dedup_report,
    "dedup_simhash": dedup_simhash,
    "dedup_levenshtein": dedup_levenshtein,
    "dedup_levenshtein_entropy": dedup_levenshtein_entropy,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_semantic": dedup_semantic,
}

ORACLE = {
    "dedup_exact_docs": """
        SELECT md5(text) AS content_md5,
               min(doc_id) AS canonical_doc_id,
               count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    "dedup_ngram_jaccard": f"""
        WITH {_NGRAM_PAIRS_CTE}
        SELECT doc_a, doc_b, word_jaccard, shingle_jaccard
        FROM pairs WHERE word_jaccard >= {JACCARD_THRESHOLD}
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE {_lsh_pairs_cte()},
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM lshp
            UNION
            SELECT doc_b, doc_a FROM lshp
        ), nodes AS (
            SELECT DISTINCT src AS node FROM edges
        ), walk(node, label) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
        ), comp AS (
            SELECT node AS doc_id, min(label) AS component_id
            FROM walk GROUP BY node
        )
        SELECT doc_id, component_id,
               count(*) OVER (PARTITION BY component_id) AS cluster_size
        FROM comp
    """,
    "dedup_minhash_lsh": f"""
        WITH {_lsh_pairs_cte()}
        SELECT doc_a, doc_b, shingle_jaccard FROM lshp
    """,
    # three 1-row folds over the standalone queries' own oracle
    # lineages (digest groups, lshp pairs, scrub coverage), unioned
    "pipeline_dedup_report": f"""
        WITH {_lsh_pairs_cte()},
        nd AS (SELECT count(*) AS n_docs FROM documents),
        exact_g AS (
            SELECT count(*) AS n FROM documents GROUP BY md5(text)
        ),
        exact_row AS (
            SELECT 'exact' AS signal,
                   coalesce(sum(CASE WHEN n > 1 THEN n END), 0)::BIGINT
                       AS affected_docs,
                   coalesce(sum(CASE WHEN n > 1 THEN n - 1 END), 0)::BIGINT
                       AS dup_mass
            FROM exact_g
        ),
        near_row AS (
            SELECT 'near_lsh' AS signal,
                   count(DISTINCT doc_id)::BIGINT AS affected_docs,
                   count(DISTINCT doc_id)::BIGINT AS dup_mass
            FROM (SELECT doc_a AS doc_id FROM lshp
                  UNION ALL SELECT doc_b FROM lshp)
        ),
        tok AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), dup AS (
            SELECT span, min(doc_id) AS keeper
            FROM (SELECT doc_id,
                         unnest({_sql_ngrams(DUP_SPAN_N)}) AS span
                  FROM documents)
            GROUP BY span HAVING count(*) >= 2
        ), pos AS (
            SELECT doc_id,
                   unnest(range(1, greatest(len(toks) - {DUP_SPAN_N - 2}, 1)))
                       AS start,
                   toks
            FROM tok
        ), hits AS (
            SELECT p.doc_id, p.start
            FROM (SELECT doc_id, start,
                         concat_ws(' ', {", ".join(
                             f"toks[start+{j}]" for j in range(DUP_SPAN_N))})
                             AS span
                  FROM pos) p
            JOIN dup d USING (span)
            WHERE p.doc_id <> d.keeper
        ), cov AS (
            SELECT doc_id, count(DISTINCT tok_idx) AS n_removed
            FROM (SELECT doc_id,
                         unnest(range(start, start + {DUP_SPAN_N}))
                             AS tok_idx
                  FROM hits)
            GROUP BY doc_id
        ),
        scrub_row AS (
            SELECT 'substring' AS signal,
                   count(*)::BIGINT AS affected_docs,
                   coalesce(sum(n_removed), 0)::BIGINT AS dup_mass
            FROM cov WHERE n_removed > 0
        ),
        unioned AS (
            SELECT * FROM exact_row
            UNION ALL SELECT * FROM near_row
            UNION ALL SELECT * FROM scrub_row
        )
        SELECT signal, n_docs, affected_docs, dup_mass,
               {sql_round('affected_docs * 1.0 / n_docs', 6)} AS pct_affected
        FROM unioned CROSS JOIN nd
    """,
    # reuses the sh/mh/sigs CTEs (cand/lshp go unreferenced and DuckDB
    # never evaluates unreferenced CTEs); batch probes index, best
    # match per batch doc — the same incremental split as the Spark side
    "dedup_minhash_incremental": f"""
        WITH {_lsh_pairs_cte()},
        bidx AS (SELECT doc_id AS index_doc, band_id, band_sig
                 FROM sigs WHERE doc_id % {INCR_BATCH_MOD} <> 0),
        bbat AS (SELECT doc_id AS batch_doc, band_id, band_sig
                 FROM sigs WHERE doc_id % {INCR_BATCH_MOD} = 0),
        icand AS (SELECT DISTINCT batch_doc, index_doc
                  FROM bbat JOIN bidx USING (band_id, band_sig)),
        ver AS (
            SELECT batch_doc, index_doc,
                   {sql_round('''CAST(len(list_intersect(sb.sh_hash, si.sh_hash)) AS DOUBLE)
                       / greatest(len(sb.sh_hash) + len(si.sh_hash)
                                  - len(list_intersect(sb.sh_hash, si.sh_hash)), 1)''', 6)}
                       AS shingle_jaccard
            FROM icand
            JOIN sh sb ON sb.doc_id = batch_doc
            JOIN sh si ON si.doc_id = index_doc
        )
        SELECT batch_doc, index_doc, shingle_jaccard FROM ver
        WHERE shingle_jaccard >= {JACCARD_THRESHOLD}
        QUALIFY row_number() OVER (PARTITION BY batch_doc
            ORDER BY shingle_jaccard DESC, index_doc ASC) = 1
    """,
    # reuses the generator CTEs through cand (estimator measured on ALL
    # LSH candidates, including sub-threshold false positives); the
    # estimate is the count of agreeing minhash columns / K and the
    # error is computed from the RAW ratios in the same IEEE order as
    # the Spark expression, rounded once at the end
    "dedup_minhash_estimate": f"""
        WITH {_lsh_pairs_cte()}
        SELECT doc_a, doc_b,
               {sql_round(f"(({' + '.join(f'CASE WHEN ma.mh{i} = mb.mh{i} THEN 1 ELSE 0 END' for i in range(MINHASH_K))}) / {float(MINHASH_K)})", 6)}
                   AS est_jaccard,
               {sql_round("(CAST(len(list_intersect(ma.sh_hash, mb.sh_hash)) AS DOUBLE) / greatest(len(ma.sh_hash) + len(mb.sh_hash) - len(list_intersect(ma.sh_hash, mb.sh_hash)), 1))", 6)}
                   AS exact_jaccard,
               {sql_round(f"abs((({' + '.join(f'CASE WHEN ma.mh{i} = mb.mh{i} THEN 1 ELSE 0 END' for i in range(MINHASH_K))}) / {float(MINHASH_K)}) - (CAST(len(list_intersect(ma.sh_hash, mb.sh_hash)) AS DOUBLE) / greatest(len(ma.sh_hash) + len(mb.sh_hash) - len(list_intersect(ma.sh_hash, mb.sh_hash)), 1)))", 6)}
                   AS abs_err
        FROM cand
        JOIN mh ma ON ma.doc_id = doc_a
        JOIN mh mb ON mb.doc_id = doc_b
    """,
    "dedup_simhash": _oracle_simhash(),
    "dedup_canonical": f"""
        WITH RECURSIVE {_lsh_pairs_cte()},
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM lshp
            UNION
            SELECT doc_b, doc_a FROM lshp
        ), nodes AS (
            SELECT DISTINCT src AS node FROM edges
        ), walk(node, label) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
        ), comp AS (
            SELECT node AS doc_id, min(label) AS component_id
            FROM walk GROUP BY node
        )
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component_id)
    """,
    "dedup_levenshtein": _oracle_levenshtein(),
    "dedup_levenshtein_entropy": _oracle_levenshtein_entropy(),
    "dedup_embedding_cosine": _oracle_embedding_cosine(),
    "dedup_semantic": _oracle_semantic(),
}
