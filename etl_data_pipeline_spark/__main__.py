"""CLI entry point — the reference's ``python app.py <env> <tables>``
contract (app.py:31-46), Spark-native:

    python -m etl_data_pipeline_spark dev all
    python -m etl_data_pipeline_spark dev orders,customer --state /tmp/wm.json

Behavioral parity with the reference main() (app.py:88-185):
- env selects the connection registry entry (config.db_details);
- tables is 'all' or a comma-separated subset of the tables_list CSV;
- per-table ``LAST_WATERMARK_<TABLE>`` env vars seed the watermark
  store (the DAG passes state this way, dags/…:138, app.py:99-100);
- after each successful load the new watermark is printed as
  ``NEW_WATERMARK_<TABLE>=<value>`` on stdout (app.py:168) so an outer
  orchestrator can capture it (XCom-style), while the engine ALSO
  persists it in its own state file;
- a failing table logs and continues; the process exits 0 if every
  enabled table either loaded or skipped, 1 if any failed.
"""

from __future__ import annotations

import argparse
import os
import sys

from etl_data_pipeline_spark.config import db_details
from etl_data_pipeline_spark.pipeline import IncrementalPipeline
from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec, read_table_registry
from etl_data_pipeline_spark.watermark import WatermarkStore


def build_spec(env: str, table_list: str, tables_list_path: str) -> PipelineSpec:
    """Registry CSV + env config -> runnable PipelineSpec."""
    cfg = db_details(env)
    src, tgt = cfg["SOURCE_DB"], cfg["TARGET_DB"]
    specs = []
    for s in read_table_registry(tables_list_path, table_list):
        specs.append(
            TableSpec(
                name=s.name,
                watermark_column=s.watermark_column,
                watermark_type=s.watermark_type,
                source_format=src["DB_TYPE"],
                source_options=(
                    {"url": src["JDBC_URL"], "user": src["USER"],
                     "password": src["PASSWORD"]}
                    if src["DB_TYPE"] == "jdbc"
                    else {"conninfo": src["CONNINFO"]}
                    if src["DB_TYPE"] == "pglive"
                    else {"dir": src["PATH"]}
                ),
                sink_format=tgt["DB_TYPE"],
                sink_options=(
                    {"url": tgt["JDBC_URL"], "user": tgt["USER"],
                     "password": tgt["PASSWORD"]}
                    if tgt["DB_TYPE"] == "jdbc"
                    else {"conninfo": tgt["CONNINFO"]}
                    if tgt["DB_TYPE"] == "pglive"
                    else {"dir": tgt["PATH"]}
                ),
                # merge on the watermark key is a parquet/manifest
                # capability; DB sinks take no merge_keys
                # (_validate_sink_config rejects them). A pglive sink
                # publishes each batch all-or-nothing, so a failed run
                # leaves nothing to duplicate; the replay window left
                # there is a crash between the publish and the
                # watermark write (§2.C #5).
                merge_keys=(
                    (s.watermark_column,)
                    if s.watermark_column
                    and tgt["DB_TYPE"] in ("manifest", "parquet")
                    else None
                ),
            )
        )
    return PipelineSpec(tables=specs)


def main(argv: list[str] | None = None, spark=None) -> int:
    p = argparse.ArgumentParser(
        prog="etl_data_pipeline_spark",
        description="Config-driven incremental Spark pipeline "
        "(reference CLI parity: app.py dev all)",
    )
    p.add_argument("env", help="environment key, e.g. dev (config.db_details)")
    p.add_argument("tables", help="'all' or comma-separated table subset")
    p.add_argument("--tables-list", default="tables_list",
                   help="path to the reference-format registry CSV")
    p.add_argument("--state", default="state/watermarks.json",
                   help="watermark store path")
    args = p.parse_args(argv)

    spec = build_spec(args.env, args.tables, args.tables_list)
    store = WatermarkStore(args.state)
    # env-var watermark seeding (orchestrator override, app.py:99-100);
    # seeded tables are marked authoritative so the pipeline's
    # sink-reset guard defers to the operator's asserted value
    seeded_tables = set()
    for t in spec.tables:
        seeded = os.environ.get(f"LAST_WATERMARK_{t.name.upper()}")
        if seeded is not None:
            store.set(t.name, seeded)
            seeded_tables.add(t.name)

    if spark is None:
        from etl_data_pipeline_spark.session import get_spark

        spark = get_spark("etl_data_pipeline_spark-cli")
    results = IncrementalPipeline(
        spark, spec, store, authoritative_watermarks=frozenset(seeded_tables)
    ).run()

    failed = False
    for r in results:
        if r.status == "loaded" and r.new_watermark is not None:
            print(f"NEW_WATERMARK_{r.table.upper()}={r.new_watermark}")
        elif r.status == "failed":
            failed = True
            print(f"FAILED_{r.table.upper()}={r.error}", file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
