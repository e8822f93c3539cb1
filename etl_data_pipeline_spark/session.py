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

from pyspark.sql import DataFrame, SparkSession

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one harness table (TESTDATA.md) as a DataFrame.

    Parquet scan: Catalyst handles column pruning + predicate pushdown
    into the scan (reference hand-builds its one pushdown as SQL text,
    util.py:148-161 — here it is free for every query).

    ``events.ts`` has shipped in two physical spellings across harness
    dataset generations, and both must land as session-TZ (UTC)
    TimestampType so downstream expressions (``unix_micros``, window
    RANGE frames) see ONE type:

    - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it;
      read as long nanos (``nanosAsLong``) and convert by exact
      integer division (``DIV 1000`` — no double round-trip, which
      would lose precision above 2^53 ns). The option is SCOPED to
      this read (the schema is captured at analysis, so restoring
      immediately is safe): left set session-wide it would silently
      turn TIMESTAMP(NANOS) columns of any UNRELATED later parquet
      read into bigint.
    - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
      TIMESTAMP_NTZ, which ``unix_micros`` rejects; cast to TIMESTAMP
      (bit-identical wall-clock values — the session TZ is pinned UTC
      in get_spark, so the NTZ→TZ reinterpretation is the identity).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        key = "spark.sql.legacy.parquet.nanosAsLong"
        try:
            prev: str | None = spark.conf.get(key)
        except Exception:
            prev = None
        spark.conf.set(key, "true")
        try:
            df = spark.read.parquet(path)
            # force analysis inside the scoped window
            ts_type = dict(df.dtypes).get("ts")
            if ts_type == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
            elif ts_type == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        return df
    return spark.read.parquet(path)


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


def load_all_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TPCH_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every harness table as a temp view for ``spark.sql``."""
    for t in TPCH_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
