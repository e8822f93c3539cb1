"""SparkSession construction tuned for the engine.

The reference runs a single eager Python process per table copy
(app.py:88-177); our equivalent is ONE long-lived SparkSession with
FAIR scheduling so per-table jobs run in parallel inside it
(replacing the Airflow ``concurrency=4`` fan-out,
dags/data_pipeline_with_incremental.py:89-90).

Scale posture (100 TB): AQE on (runtime coalesce + skew-join
handling), explicit shuffle-partition sizing, Arrow enabled for every
pandas-UDF exchange, UTC session time zone so timestamp semantics are
deployment-independent.
"""

from __future__ import annotations

import os
import threading

from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# the directory that holds the etl_data_pipeline_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CLONE_LOCK = threading.Lock()

# Conf of the model-sized iterate loops (the LR trainer's gradient
# steps, PCA's power iteration), which build on a derived_session of
# their own. Each step is a fixed small-state aggregate whose reduce
# side is bounded by the model, not the data, so AQE's runtime
# re-planning has nothing to improve at any scale while its per-stage
# materialisation adds one job per step (on a 32-core host: 7.8 s vs
# 12.0 s for the 20-step LR loop at sf0.1, identical weights). With
# AQE's coalescing off, the steps would reduce at the full session
# width (= core count locally, thousands on a cluster) for a handful
# of groups — at 32 local cores classifier_train_lr ran slower than at
# 8 (11.6 s vs 7.1 s) — so the width is pinned to AQE_OFF_REDUCE_WIDTH,
# which covers the largest model (64 rows). Without AQE's skew split,
# a shuffled-hash join could not spill, so the loops prefer sort-merge
# (their joins are broadcasts anyway). Corpus-shaped plans keep AQE:
# it is what turns the tiny-iterate joins into broadcasts locally
# while falling back to shuffle joins at scale.
AQE_OFF_REDUCE_WIDTH = 8
MODEL_LOOP_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": str(AQE_OFF_REDUCE_WIDTH),
    "spark.sql.join.preferSortMergeJoin": "true",
}


def get_spark(
    app_name: str = "etl_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    In production this would be cluster-managed; locally we default to
    ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(4, int(cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # In local mode the driver JVM IS the executor; pyspark's 1g
        # default heap silently caps every shuffle/agg at toy scale
        # (32 task threads OOM a 1g heap at ~6M-row shuffles while the
        # host has 128 GiB). 8g, not bigger: an A/B on the iterative
        # label-propagation query showed a 48g G1 heap DEGRADES
        # steadily across runs (4.5s -> 33s; old-gen accumulation of
        # checkpoint blocks between lazier collections) while 1g/8g
        # stay flat, and 8g comfortably clears the 10x scale-probe
        # shuffles that OOM 1g. Env-overridable; only effective for
        # the process that launches the JVM.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Inter-table parallelism: FAIR pools instead of FIFO so 4 table
        # jobs share the cluster like the reference's 4 Airflow slots.
        .config("spark.scheduler.mode", "FAIR")
        # Arrow for pandas UDF / toPandas exchanges.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown (manifest_table reader
        # prunes parquet row groups executor-side); default-off in 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Keep broadcast autodetection on; dims like region/nation/part
        # broadcast automatically, we also force it where we know better.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Shuffled-hash over sort-merge when the planner's size
        # conditions are met, plus the AQE runtime SMJ→SHJ rewrite for
        # small post-shuffle partitions (guide §3.1/§9; bench-wide
        # interleaved A/B: 52-query total 119.6→114.8 s, biggest wins
        # on the hash-heavy dedup/graph family — dedup_embedding_cosine
        # 7.7→5.3, graph_pagerank 10.3→8.9 — a handful of sub-second
        # paths pay ≤0.1 s). Production posture: the planner still
        # requires the build side to fit its per-partition bound (it
        # falls back to SMJ otherwise) and AQE skew-join continues to
        # split oversized partitions; the 128m rewrite threshold only
        # fires when EVERY post-shuffle partition is below it, so a
        # skewed build side keeps the spill-safe SMJ. A deployment
        # that wants Spark's defaults passes them via extra_conf.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
        # Python workers import this package (UDFs call its functions):
        # put its parent directory on their path so they start from any
        # working directory. Spark merges it with the worker's own PYTHONPATH.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def derived_session(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A session derived from ``spark``: a clone carrying ``spark``'s
    current runtime SQL conf (and temp views and functions) with
    ``conf`` applied on top. It shares the SparkContext, the cache and
    the FAIR pools with ``spark``, which is left untouched, so threads
    building on ``spark`` concurrently never see ``conf``. This is the
    engine's one way to run work under a different SQL conf: build it
    on the derived session, and :func:`reroot` the result back if the
    caller should plan it under its own conf.

    ``newSession`` would not do: it starts from the conf the session
    was built with and drops what was set on ``spark`` since."""
    with _CLONE_LOCK:
        # the constructor points RDD.toDF at the newest session; keep
        # it on the caller's
        to_df = RDD.toDF
        clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
        RDD.toDF = to_df
    for k, v in conf.items():
        clone.conf.set(k, v)
    return clone


def reroot(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s analysed plan as a frame of ``spark``: later operators
    and the execution plan under ``spark``'s conf. What analysis fixed
    stays fixed: the schema and the session time zone of
    time-zone-aware expressions; ``df``'s file relations keep reading
    with the conf of the session they were read on. Persisted and
    checkpointed subplans keep serving from their blocks (the cache is
    shared by every session of a context)."""
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jdf, spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one harness table (TESTDATA.md) as a DataFrame.

    Parquet scan: Catalyst handles column pruning + predicate pushdown
    into the scan (reference hand-builds its one pushdown as SQL text,
    util.py:148-161 — here it is free for every query).

    ``events.ts`` has shipped in two physical spellings across harness
    dataset generations, and both must land as session-TZ (UTC)
    TimestampType so downstream expressions (``unix_micros``, window
    RANGE frames) see ONE type:

    - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it.
      The raw read is analysed on a :func:`derived_session` with
      ``nanosAsLong`` on, so ``ts`` reads as long nanos, and re-rooted
      into ``spark``, where ``ts`` converts by exact integer division
      (``DIV 1000`` — no double round-trip, which would lose precision
      above 2^53 ns). ``spark``'s own ``nanosAsLong`` is never set:
      set session-wide it would turn TIMESTAMP(NANOS) columns of any
      unrelated parquet read into bigint.
    - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
      TIMESTAMP_NTZ, which ``unix_micros`` rejects; cast to TIMESTAMP
      (bit-identical wall-clock values — the session TZ is pinned UTC
      in get_spark, so the NTZ→TZ reinterpretation is the identity).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return spark.read.parquet(path)
    nanos = derived_session(spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"})
    df = reroot(nanos.read.parquet(path), spark)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a compute-heavy input across all cores.

    Parquet splits are sized for IO (``maxPartitionBytes`` = 128 MB),
    not per-row CPU cost: a small-file input feeding an expensive
    transform (shingling, minhash, pairwise similarity, pandas UDF)
    otherwise runs in a single task no matter how many cores exist.
    At 100 TB inputs arrive in many splits and this repartition is a
    cheap no-op-sized shuffle; on skewed/compacted inputs it is the
    difference between 1 busy core and all of them.
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(partitions or sc.defaultParallelism)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every harness table as a temp view for ``spark.sql``."""
    for t in TPCH_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
