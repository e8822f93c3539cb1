"""Training-data feature engineering (SURVEY.md §2.B.1, round-3
additions): the ops that turn raw interaction/event/document tables
into model-ready training sets — negative sampling, recency-decayed
features, quality-weighted resampling. All map-only or
aggregate-shaped; none materializes a user x item or doc x doc
product anywhere.

Determinism contract: anything "random" is the portable 60-bit md5
hash (functions/hashing.py) so every engine, every run, and the
DuckDB oracle draw the SAME samples; anything transcendental (exp) is
rounded BEFORE entering a sum, the same pre-rounding discipline
text_tfidf uses for ln().
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_data_pipeline_spark.functions.hashing import md5_long60, sql_md5_long60
from etl_data_pipeline_spark.functions.rounding import _round6_py, hround, sql_round
from etl_data_pipeline_spark.session import (
    MODEL_LOOP_CONF,
    derived_session,
    load_table,
    reroot,
)

NEG_K = 4  # negative samples drawn per user
DECAY_TAU_DAYS = 7.0  # recency half-life scale for decayed features
RESAMPLE_MOD = 1_000_000  # hash-bucket resolution for keep decisions
RESAMPLE_FLOOR = 0.1  # minimum keep probability (low-quality trickle)


def recsys_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for recommender-style training:
    for every customer, NEG_K candidate part keys drawn by portable
    hash, minus anything the customer actually bought.

    The scalable shape: candidate generation is MAP-ONLY (explode K
    slots per user; the item universe is never enumerated per user —
    a candidate is hash-arithmetic into [0, n_items)), and the
    positives are removed by ONE anti-join on (user, item). A hash
    collision with a true interaction yields fewer than K negatives
    for that user — the standard accept-undersampling tradeoff, NOT a
    resample loop (a loop would serialize; at 100 TB you draw K+slack
    slots instead). n_items rides in as a 1-row broadcast; part keys
    are contiguous from 0, so every draw is a real item.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    inter = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    n_items = load_table(spark, sf_dir, "part").agg(
        (F.max("p_partkey") + 1).alias("n_items")
    )
    cand = (
        o.select(F.col("o_custkey").alias("user_id"))
        .distinct()
        .crossJoin(F.broadcast(n_items))
        .select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(NEG_K - 1))).alias("slot"),
            "n_items",
        )
        .select(
            "user_id",
            F.col("slot").cast("long").alias("slot"),
            (
                md5_long60(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit(":"),
                        F.col("slot").cast("string"),
                    )
                )
                % F.col("n_items")
            ).alias("neg_item"),
        )
    )
    return cand.join(
        inter,
        (cand.user_id == inter.user_id) & (cand.neg_item == inter.item),
        "left_anti",
    )


def events_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted per-user features: exponentially time-decayed
    value mass (tau = 7 days against the corpus' newest event) plus
    event count and days-since-last-seen — the standard
    feature-engineering aggregate a plain windowless sum cannot
    express (old activity must count less).

    One scan + one shuffle: the reference timestamp is a 1-row
    broadcast; the decay factor is computed per row in codegen. exp()
    is engine-libm-dependent in its last ulp, so the factor is rounded
    (6dp) BEFORE the multiply-sum — the same portability discipline as
    tfidf's ln() — and the order-dependent sum is rounded at the
    output boundary."""
    ev = load_table(spark, sf_dir, "events")
    ref = ev.agg(F.max(F.unix_micros("ts")).alias("max_us"))
    age_days = (F.col("max_us") - F.unix_micros(F.col("ts"))) / F.lit(86400e6)
    w = hround(F.exp(-age_days / F.lit(DECAY_TAU_DAYS)), 6)
    return (
        ev.join(F.broadcast(ref))
        .select("user_id", F.col("value"), w.alias("w"), age_days.alias("age_days"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            hround(F.sum(F.col("value") * F.col("w")), 2).alias("decayed_value"),
            hround(F.min("age_days"), 6).alias("days_since_seen"),
        )
    )


def corpus_quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus resampling: keep each document with
    probability proportional to its quality score (floored at
    RESAMPLE_FLOOR so low-quality strata keep a trickle), emitting the
    inverse-probability importance weight a loss-weighted trainer
    needs — the DoReMi/quality-upsampling flavor of curation, distinct
    from corpus_split (uniform) and sample_stratified (fixed
    per-language rates).

    Map-only: the keep decision is an integer compare between the
    doc's md5 bucket and its quality-derived threshold — replayable,
    join-free, pushes down like any predicate. Reuses text_quality's
    exact score expression (one source of truth)."""
    from etl_data_pipeline_spark.llm.text_analysis import quality_cols

    docs = load_table(spark, sf_dir, "documents")
    q = hround(quality_cols()["quality_score"], 6)
    keep_prob = F.greatest(F.lit(RESAMPLE_FLOOR), F.least(F.lit(1.0), q))
    thresh = F.floor(keep_prob * RESAMPLE_MOD).cast("long")
    bucket = md5_long60(
        F.concat(F.lit("resample:"), F.col("doc_id").cast("string"))
    ) % F.lit(RESAMPLE_MOD)
    return (
        docs.select(
            "doc_id",
            keep_prob.alias("keep_prob"),
            thresh.alias("thresh"),
            bucket.alias("bucket"),
        )
        .filter(F.col("bucket") < F.col("thresh"))
        .select(
            "doc_id",
            "keep_prob",
            hround(F.lit(1.0) / F.col("keep_prob"), 6).alias("sample_weight"),
        )
    )


LR_BUCKETS = 32   # hashed bag-of-words dimensionality (fastText-style)
LR_STEPS = 20     # fixed full-batch gradient steps (unrolled in the oracle)
LR_RATE = 10.0    # learning rate — fixed, so the trajectory is replayable
# (lr, K) chosen by measured descent on the fixture: (2, 5) stalls at
# the base rate on every tier, (5, 10) separates sf0.01 (0.996) but
# stalls at sf0.1, (10, 20) reaches train accuracy 1.0 at both —
# the eval query pins it


def lr_feature_set() -> "F.Column":
    """The classifier's FEATURE RECIPE as a MAP-ONLY column expression
    over ``text``: the sorted array of distinct md5-hashed token
    buckets the doc's tokens hit, with the j = −1 intercept first
    (−1 < every bucket, so one array_sort orders both). ONE definition
    shared by the trainer's doc-grain design matrix and (via
    lr_doc_features' explode) the streaming scorer — a scoring path
    with its own tokenize/hash would silently drift from the weights'
    training recipe.

    r12: the recipe is an expression, not an explode→groupBy pipeline
    — the r11 row-form build shuffled every (doc_id, token-bucket)
    pair twice (distinct groupBy + label re-join); the set form is
    array_distinct inside the row, so the design build has NO exchange
    at all and its partitioning follows the input splits (scan-split
    parallelism at any scale)."""
    # coalesce: a NULL text must still yield the intercept-only set
    # (the r11 union form emitted the intercept row unconditionally)
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "),
        lambda t: F.length(t) > 0,
    )
    js = F.array_distinct(
        F.transform(toks, lambda t: md5_long60(t) % LR_BUCKETS)
    )
    return F.array_sort(
        F.concat(F.array(F.lit(-1).cast("long")), js)
    )


def lr_doc_features(docs: DataFrame) -> DataFrame:
    """Row form of lr_feature_set — (doc_id, j, x) binary-presence
    rows, x ≡ 1.0 (including the j = −1 intercept row): exactly the
    r11 shape the streaming scorer's broadcast-join scoring consumes,
    now DERIVED from the shared set expression (explode of the same
    array), so the two forms cannot drift."""
    return docs.select(
        "doc_id", F.explode(lr_feature_set()).alias("j"), F.lit(1.0).alias("x")
    )


def _lr_design(spark: SparkSession, sf_dir: str):
    """The shared design matrix of the LR trainer, DOC-grain:
    (doc_id, js, y, is_train) with ``js`` the sorted array of
    md5-hashed token buckets the doc's tokens hit (binary PRESENCE —
    exact, and immune to the doc-length confounding raw counts carry:
    longer docs hit more buckets AND are likelier to contain any given
    word, which a count design conflates with the label) plus the
    j = −1 intercept. Features come from the SHARED recipe
    (lr_doc_features — every x there is exactly 1.0, so sum(x·w) over
    a doc's rows ≡ the fold of w over ``js``); the doc-grain array
    form lets every consumer compute a margin as a MAP-ONLY fold
    instead of a broadcast join + per-doc shuffle (r12 optimization;
    guide §2.4 — the groupBy(doc_id) exchange per consumer, ×20 in
    the trainer loop, is gone). The fixture label is
    deterministic and LEARNABLE: y = 1.0 iff the doc mentions the
    token 'join' — its hash bucket is then a (collision-noised)
    separating feature, so the trainer's eval row can PROVE descent
    (the corpus generator reuses one vocabulary across languages, so
    a language label carries no BoW signal at all — measured: 3-step
    accuracy == base rate — and would demonstrate nothing; a
    quality-score label (round6(quality_score) >= 0.6, the CCNet-style
    distillation target) is equally unlearnable from PRESENCE features
    here — measured offline at (10, 20): accuracy <= base rate at
    sf0.01 AND sf0.1, because the rule battery keys on length/ratio
    signals that presence of 31 shared words cannot carry — so the
    registered fixture stays the one label this corpus makes
    separable).

    Every row also carries ``is_train`` — a 90/10 hash split
    (corpus_split's portable-md5 recipe, its own salt) so the eval
    query reports HELD-OUT accuracy, not just train: gradients see
    only is_train rows.
    Returns X persisted (doc-grain). The whole build is ONE map-only
    projection (label, split, and the shared feature-set expression
    over one scan — no explode, no groupBy, no join; r12)."""
    from etl_data_pipeline_spark.functions.caching import tracked_persist

    X = tracked_persist(
        load_table(spark, sf_dir, "documents").select(
            "doc_id",
            lr_feature_set().alias("js"),
            F.when(
                F.array_contains(F.split(F.col("text"), " "), "join"), 1.0
            ).otherwise(0.0).alias("y"),
            (
                md5_long60(
                    F.concat(F.lit("lrsplit:"), F.col("doc_id").cast("string"))
                ) % 10 < 9
            ).alias("is_train"),
        )
    )
    return X


def _lr_margin(wmap, js="js"):
    """The doc margin as a map-only fold: Σ_{j ∈ js} w[j], rounded
    6 dp. ``wmap`` is a LITERAL map expression over the ≤ 33-entry
    model — margin evaluation touches no second relation, so no join
    and no per-doc exchange. Sum order (sorted js) differs from the
    r11 row-sum's hash-agg order, which is exactly the float-sum
    order noise the per-step 6 dp rounding exists to absorb (same
    contract the DuckDB oracle already relies on — its own sum order
    matches neither)."""
    return hround(
        F.aggregate(
            F.transform(js, lambda j: F.element_at(wmap, j)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _lr_trained_weights(spark: SparkSession, sf_dir: str):
    """LR_STEPS rounded full-batch gradient-descent steps from w = 0;
    returns (X doc-grain design, final weights (j, w) as a ≤ 33-row
    DataFrame). Every margin, probability, gradient, and weight is
    re-rounded to 6 dp so float-sum order noise is absorbed per step
    and both engines walk the SAME trajectory —
    embedding_pca_power's exactness recipe applied to a supervised
    trainer.

    The model (≤ 33 (j, w) pairs) is DRIVER-held through the loop, the
    MLlib pattern (gradient aggregate → driver update); each step is
    ONE distributed pass — a map-only margin fold over the persisted
    doc-grain design (weights enter as a literal map, no broadcast
    join, no groupBy(doc_id) exchange), explode(js) → 33-group
    partial-aggregated gradient, 33 rows collected. Driver state is
    O(LR_BUCKETS) scalars — model-sized, never corpus-sized; the
    corpus-grain passes stay fully distributed."""
    X, support, w = _lr_train(spark, sf_dir)
    W = spark.createDataFrame(
        [(j, w[j]) for j in support], "j bigint, w double"
    )
    return X, W


def _lr_wmap(support: list[int], w: dict[int, float]):
    """The trained model as a literal map expression (≤ 33 entries) —
    how a consumer attaches weights without a join.

    Built as ONE sql-parsed expression instead of per-entry F.lit
    calls: the trainer rebuilds this map EVERY STEP, and the
    ~70 py4j round-trips of the column-API form cost ~50 ms/step of
    pure driver-side Python — measured 1.07 s vs 0.013 s for 20
    builds. repr(float) round-trips exactly and the D suffix parses
    as DOUBLE, so the literal map is bit-identical to the F.lit form
    (asserted before the swap; the oracle replays the same values).

    Always typed ``map<bigint,double>``: a non-finite weight renders
    as a cast string (``infD``/``nanD`` would not parse) and an empty
    support as a cast empty map (bare ``map()`` is untyped,
    ``map<void,void>``)."""

    def lit(v: float) -> str:
        return f"{v!r}D" if math.isfinite(v) else f"CAST('{v}' AS DOUBLE)"

    if not support:
        return F.expr("CAST(map() AS map<bigint,double>)")
    entries = ", ".join(f"{j}L, {lit(w[j])}" for j in support)
    return F.expr(f"map({entries})")


def _lr_train(spark: SparkSession, sf_dir: str):
    """The training loop shared by the trainer/eval/score queries:
    returns (X doc-grain design, feature support, trained w dict) —
    see _lr_trained_weights for the algorithm and its contract. The
    gradient steps run on a derived session with MODEL_LOOP_CONF
    (AQE off, a model-sized reduce width): each is a fixed 2-stage
    aggregate ending in ≤ 33 rows. ``spark`` itself is not touched."""
    X = _lr_design(spark, sf_dir)
    Xt = X.filter("is_train")
    # two scalar build queries over the persisted design: the train
    # count and the feature support
    n = Xt.count()
    support = sorted(
        r[0] for r in X.select(F.explode("js").alias("j")).distinct().collect()
    )
    w = {j: 0.0 for j in support}
    Xt = reroot(Xt, derived_session(spark, MODEL_LOOP_CONF))
    for _step in range(LR_STEPS):
        m = _lr_margin(_lr_wmap(support, w))
        p = hround(F.lit(1.0) / (F.lit(1.0) + F.exp(-m)), 6)
        grad = (
            Xt.select((p - F.col("y")).alias("d"), F.explode("js").alias("j"))
            .groupBy("j")
            .agg(hround(F.sum("d") / F.lit(n), 6).alias("g"))
            .collect()
        )
        g = {r["j"]: r["g"] for r in grad}
        w = {j: _round6_py(w[j] - LR_RATE * g.get(j, 0.0)) for j in support}
    return X, support, w


def classifier_train_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN a quality/language classifier — the step every LLM data
    pipeline runs after the rule-based filters (CCNet/GPT-3 lineage:
    hash token bag-of-words, fit a linear model, score the corpus):
    logistic regression over LR_BUCKETS md5-hashed token-share
    features + intercept, LR_STEPS deterministic full-batch gradient
    steps from w = 0 predicting the English label. Returns the learned
    weight vector (feature_bucket, weight) — the broadcastable 'model'
    a corpus-scoring pass consumes, exactly like corpus_dsir_weights'
    importance model.

    Fully DuckDB-oracled: the whole trajectory (margins → sigmoid →
    gradient → update, each rounded 6 dp) is deterministic and the
    oracle unrolls the identical LR_STEPS as chained CTEs — an
    ITERATIVE SUPERVISED TRAINER under the hash gate, not a heuristic.

    Scale posture: the design matrix is one tokenize+groupBy pass
    (persisted, doc-grain); each step costs ONE distributed pass —
    map-only margin fold (weights enter as a ≤ 33-entry literal map)
    + a 33-group partial-aggregated gradient — O(K·corpus) with K
    fixed. Model state is O(LR_BUCKETS) scalars on the driver between
    steps (the MLlib gradient-aggregate pattern); the corpus never
    leaves the executors. The same shape trains on 100 TB: nothing
    materializes per-doc state beyond one tiny aggregate exchange."""
    _X, W = _lr_trained_weights(spark, sf_dir)
    return W.select(
        F.col("j").alias("feature_bucket"), F.col("w").alias("weight")
    )


def classifier_train_lr_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The trainer's accountability row: train AND HELD-OUT accuracy
    of the LR_STEPS-step model vs each split's base rate — 'did the
    trainer learn, and does it generalize past the rows it saw' are
    both numbers under the oracle gate, not assumptions (gradients
    never touch the 10% held-out split — _lr_design). One MAP-ONLY
    margin fold over the persisted doc-grain design (literal-map
    weights — no join, no per-doc exchange; r12) + a 2-group
    aggregate."""
    X, support, w = _lr_train(spark, sf_dir)
    scored = X.select(
        "y", "is_train", _lr_margin(_lr_wmap(support, w)).alias("m")
    )
    hit = F.when((F.col("m") >= 0) == (F.col("y") >= 0.5), 1.0).otherwise(0.0)
    return scored.groupBy("is_train").agg(
        F.count("*").alias("n_docs"),
        hround(F.greatest(F.avg("y"), 1 - F.avg("y")), 6).alias("base_rate"),
        hround(F.avg(hit), 6).alias("accuracy"),
    )


def classifier_score_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer's CONSUMPTION side — score every document with the
    trained model (the corpus-filtering pass CCNet-style pipelines run
    with their quality classifier): per-doc sigmoid probability and
    the >= 0.5 decision, deterministic end to end because the weights
    are classifier_train_lr's exact (oracled) trajectory endpoint.
    One MAP-ONLY margin fold over the persisted doc-grain design
    (literal-map weights — no join, no per-doc exchange; r12) — the
    same single-pass shape corpus_quality_resample scores with, so
    this is the drop-in learned replacement for its rule-based
    keep_prob."""
    X, support, w = _lr_train(spark, sf_dir)
    return X.select(
        "doc_id", _lr_margin(_lr_wmap(support, w)).alias("m")
    ).select(
        "doc_id",
        hround(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m"))), 6
        ).alias("score"),
        (F.col("m") >= 0).alias("keep"),
    )


QUERIES = {
    "recsys_negative_samples": recsys_negative_samples,
    "events_decayed_value": events_decayed_value,
    "corpus_quality_resample": corpus_quality_resample,
    "classifier_train_lr": classifier_train_lr,
    "classifier_train_lr_eval": classifier_train_lr_eval,
    "classifier_score_corpus": classifier_score_corpus,
}


def _quality_prob_cte() -> str:
    """DuckDB CTE reducing the SHARED quality-score SQL (single source
    of truth in text_analysis: sql_quality_cte + SQL_QUALITY_SCORE,
    the same rendering text_quality's own oracle uses) to keep_prob."""
    from etl_data_pipeline_spark.llm.text_analysis import (
        SQL_QUALITY_SCORE,
        sql_quality_cte,
    )

    return f"""
        {sql_quality_cte()}, kp AS (
            SELECT doc_id,
                   greatest({RESAMPLE_FLOOR},
                            least(1.0, {sql_round(SQL_QUALITY_SCORE, 6)})) AS keep_prob
            FROM r
        )"""


def _lr_sql_ctes() -> str:
    """The LR trainer's DuckDB replay: design matrix (same md5 token
    buckets, same 6 dp normalized shares, same intercept rows), then
    LR_STEPS unrolled (margin → sigmoid → gradient → update) CTE
    blocks generated by the SAME loop count as the Spark trainer —
    the PCA-chain unrolling recipe. Ends at ``w{LR_STEPS}(j, w)``."""
    head = f"""
        WITH docs AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN list_contains(string_split(text, ' '), 'join')
                        THEN 1.0 ELSE 0.0 END AS y,
                   string_split(text, ' ') AS ts,
                   {sql_md5_long60("'lrsplit:' || doc_id::VARCHAR")} % 10 < 9
                       AS is_train
            FROM documents
        ), tok AS (
            SELECT doc_id, y, is_train, unnest(ts) AS tok FROM docs
        ), x AS MATERIALIZED (
            SELECT doc_id, y, is_train,
                   {sql_md5_long60("tok")} % {LR_BUCKETS} AS j,
                   1.0 AS x
            FROM tok WHERE length(tok) > 0 GROUP BY doc_id, y, is_train, j
            UNION ALL
            SELECT doc_id, y, is_train, -1 AS j, 1.0 AS x FROM docs
        ), xt AS MATERIALIZED (SELECT * FROM x WHERE is_train
        ), nn AS (SELECT count(*) AS n FROM docs WHERE is_train
        ), w0 AS (SELECT DISTINCT j, 0.0 AS w FROM x)"""
    steps = []
    for k in range(1, LR_STEPS + 1):
        steps.append(f""", m{k} AS (
            SELECT xt.doc_id, xt.y,
                   {sql_round(f"sum(xt.x * w{k-1}.w)", 6)} AS m
            FROM xt JOIN w{k-1} USING (j) GROUP BY xt.doc_id, xt.y
        ), p{k} AS (
            SELECT doc_id, y, {sql_round("1.0 / (1.0 + exp(-m))", 6)} AS p
            FROM m{k}
        ), g{k} AS (
            SELECT xt.j,
                   {sql_round(
                       f"sum(xt.x * (p{k}.p - xt.y)) / (SELECT n FROM nn)", 6)}
                       AS g
            FROM xt JOIN p{k} ON xt.doc_id = p{k}.doc_id GROUP BY xt.j
        ), w{k} AS MATERIALIZED (
            SELECT w{k-1}.j,
                   {sql_round(
                       f"w{k-1}.w - {LR_RATE} * coalesce(g{k}.g, 0.0)", 6)}
                       AS w
            FROM w{k-1} LEFT JOIN g{k} USING (j)
        )""")
    return head + "".join(steps)


ORACLE = {
    "classifier_train_lr": f"""{_lr_sql_ctes()}
        SELECT j AS feature_bucket, w AS weight FROM w{LR_STEPS}
    """,
    "classifier_train_lr_eval": f"""{_lr_sql_ctes()}, scored AS (
            SELECT x.doc_id, x.y, x.is_train,
                   {sql_round(f"sum(x.x * w{LR_STEPS}.w)", 6)} AS m
            FROM x JOIN w{LR_STEPS} USING (j)
            GROUP BY x.doc_id, x.y, x.is_train
        )
        SELECT is_train,
               count(*) AS n_docs,
               {sql_round("greatest(avg(y), 1 - avg(y))", 6)} AS base_rate,
               {sql_round(
                   "avg(CASE WHEN (m >= 0) = (y >= 0.5)"
                   " THEN 1.0 ELSE 0.0 END)", 6)} AS accuracy
        FROM scored GROUP BY is_train
    """,
    "classifier_score_corpus": f"""{_lr_sql_ctes()}, scored AS (
            SELECT x.doc_id, {sql_round(f"sum(x.x * w{LR_STEPS}.w)", 6)} AS m
            FROM x JOIN w{LR_STEPS} USING (j) GROUP BY x.doc_id
        )
        SELECT doc_id,
               {sql_round("1.0 / (1.0 + exp(-m))", 6)} AS score,
               m >= 0 AS keep
        FROM scored
    """,
    "recsys_negative_samples": f"""
        WITH inter AS (
            SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ), u AS (
            SELECT DISTINCT o_custkey AS user_id FROM orders
        ), p AS (
            SELECT max(p_partkey) + 1 AS n_items FROM part
        ), cand AS (
            SELECT u.user_id,
                   r.range AS slot,
                   {sql_md5_long60("u.user_id::VARCHAR || ':' || r.range::VARCHAR")}
                       % p.n_items AS neg_item
            FROM u CROSS JOIN range({NEG_K}) r CROSS JOIN p
        )
        SELECT c.user_id, c.slot, c.neg_item
        FROM cand c
        WHERE NOT EXISTS (
            SELECT 1 FROM inter i
            WHERE i.user_id = c.user_id AND i.item = c.neg_item
        )
    """,
    "events_decayed_value": f"""
        WITH ref AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
        w AS (
            SELECT user_id, value,
                   (ref.max_us - epoch_us(ts)) / 86400e6 AS age_days,
                   {sql_round(f"exp(-((ref.max_us - epoch_us(ts)) / 86400e6) / {DECAY_TAU_DAYS})", 6)} AS w
            FROM events CROSS JOIN ref
        )
        SELECT user_id,
               count(*) AS n_events,
               {sql_round("sum(value * w)", 2)} AS decayed_value,
               {sql_round("min(age_days)", 6)} AS days_since_seen
        FROM w
        GROUP BY user_id
    """,
    "corpus_quality_resample": f"""
        WITH {_quality_prob_cte()}
        SELECT doc_id, keep_prob,
               {sql_round("1.0 / keep_prob", 6)} AS sample_weight
        FROM kp
        WHERE {sql_md5_long60("'resample:' || doc_id::VARCHAR")}
                  % {RESAMPLE_MOD}
              < CAST(floor(keep_prob * {RESAMPLE_MOD}) AS BIGINT)
    """,
}
