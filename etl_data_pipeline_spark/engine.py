"""Public library facade — the single import a user needs.

The reference's library seam is its connector API (util.py:276-335:
``create_source_connector(cfg)`` / ``create_target_connector(cfg)``
around config dicts); this is the Spark-native equivalent plus the
query surface on top:

    from etl_data_pipeline_spark.engine import EtlEngine

    eng = EtlEngine.local()                  # or EtlEngine(existing_spark)
    eng.register_views("/root/testdata/sf0.01")
    eng.sql("SELECT count(*) FROM orders")   # full Spark SQL surface
    eng.query("agg_groupby", "/root/testdata/sf0.01")  # named operator
    eng.run_pipeline(spec, state_path="state/wm.json") # incremental copy
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_data_pipeline_spark.pipeline import IncrementalPipeline, TableRunResult
from etl_data_pipeline_spark.session import (
    get_spark,
    load_table,
    register_views,
)
from etl_data_pipeline_spark.spec import PipelineSpec
from etl_data_pipeline_spark.watermark import WatermarkStore


class EtlEngine:
    """One engine instance per SparkSession; everything else is
    stateless registries."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    @classmethod
    def local(cls, app_name: str = "etl_data_pipeline_spark", **kw) -> "EtlEngine":
        return cls(get_spark(app_name, **kw))

    # -- data access ---------------------------------------------------

    def table(self, sf_dir: str, name: str) -> DataFrame:
        return load_table(self.spark, sf_dir, name)

    def register_views(self, sf_dir: str) -> None:
        """Expose every harness table as a temp view for .sql()."""
        register_views(self.spark, sf_dir)

    def sql(self, query: str) -> DataFrame:
        """Full Spark SQL — the engine's parser IS Spark's
        (SURVEY.md §7.3: deliberately not rebuilt)."""
        return self.spark.sql(query)

    # -- operator registry ---------------------------------------------

    def queries(self) -> dict:
        """Name -> fn(spark, sf_dir) for every registered operator."""
        from etl_data_pipeline_spark.operators import collect_registry

        return collect_registry()[0]

    def query(self, name: str, sf_dir: str) -> DataFrame:
        return self.queries()[name](self.spark, sf_dir)

    # -- incremental pipeline ------------------------------------------

    def run_pipeline(
        self, spec: PipelineSpec, state_path: str
    ) -> list[TableRunResult]:
        store = WatermarkStore(state_path)
        return IncrementalPipeline(self.spark, spec, store).run()

    # -- manifest tables ----------------------------------------------

    def read_table(self, table_dir: str, version: int | None = None) -> DataFrame:
        """Read a manifest table (current or pinned version)."""
        from etl_data_pipeline_spark.sinks.manifest import read_table

        return read_table(self.spark, table_dir, version=version)

    def commit(self, df: DataFrame, table_dir: str, **kw) -> dict:
        """Commit a DataFrame to a manifest table (sinks/manifest.py:
        modes, merge_keys content fence, txn fence, merge_schema)."""
        from etl_data_pipeline_spark.sinks.manifest import commit

        return commit(df, table_dir, **kw)

    def read_changes(
        self, table_dir: str, since_version: int, until_version: int | None = None
    ) -> DataFrame:
        """O(delta) change feed of a manifest table."""
        from etl_data_pipeline_spark.sinks.manifest import read_changes

        return read_changes(
            self.spark, table_dir, since_version, until_version=until_version
        )

    def history(self, table_dir: str) -> list[dict]:
        """Retained commit history of a manifest table."""
        from etl_data_pipeline_spark.sinks.manifest import history

        return history(table_dir)

    def merge(
        self,
        batch: DataFrame,
        table_dir: str,
        merge_keys: tuple[str, ...],
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """Row-level MERGE (upsert) into a manifest table: matched rows
        replaced, unmatched inserted, and delta dirs whose key range
        (recorded in the manifest when each dir was published) misses
        the batch carried over untouched (sinks/manifest.py:merge_upsert)."""
        from etl_data_pipeline_spark.sinks.manifest import merge_upsert

        return merge_upsert(self.spark, table_dir, batch, merge_keys, txn=txn)

    def release_caches(self, blocking: bool = False) -> int:
        """Return this session's tracked storage memory to baseline
        (functions/caching.py) — for long-lived sessions composing
        many registry queries. Call it once the queries' results are
        consumed: a frame they returned that was built on a tracked
        checkpoint fails for good if executed afterwards."""
        from etl_data_pipeline_spark.functions.caching import release_tracked

        return release_tracked(self.spark, blocking=blocking)
