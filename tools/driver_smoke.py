"""Mimic the driver: import __spark_entry__, smoke entry(spark), then
exercise the IncrementalPipeline end-to-end (two runs + no-op run)."""

import sys, tempfile, os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as em
from etl_data_pipeline_spark.session import get_spark
from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
from etl_data_pipeline_spark.watermark import WatermarkStore
from etl_data_pipeline_spark.pipeline import IncrementalPipeline

spark = get_spark("driver-smoke", shuffle_partitions=4)

# 1. entry() smoke — exactly what the driver does
df = em.entry(spark)
rows = df.collect()
print("entry() ->", df.schema.simpleString())
for r in rows:
    print("  ", r)
assert len(rows) > 0

# 2. registry sanity
qs, osql = em.queries(), em.oracle_sql()
print(f"queries: {len(qs)}, oracles: {len(osql)}, rows-only: {sorted(set(qs)-set(osql))}")

# 3. pipeline end-to-end: incremental copy of orders into a temp sink
tmp = tempfile.mkdtemp(prefix="etl_sink_")
store = WatermarkStore(os.path.join(tmp, "state.json"))
spec = PipelineSpec(tables=[
    TableSpec(name="orders", watermark_column="o_orderkey", watermark_type="id",
              source_options={"dir": "/root/testdata/sf0.001"},
              sink_options={"dir": tmp}, merge_keys=("o_orderkey",)),
    TableSpec(name="nation",  # full-load table
              source_options={"dir": "/root/testdata/sf0.001"},
              sink_options={"dir": tmp}),
])
pipe = IncrementalPipeline(spark, spec, store)
r1 = pipe.run()
print("run1:", r1)
n1 = spark.read.parquet(os.path.join(tmp, "orders")).count()
wm1 = store.get("orders")
print(f"  sink rows={n1}, watermark={wm1}")
assert n1 == 1500 and wm1 == "1499", (n1, wm1)

# second run: no new source rows -> empty gate, watermark unchanged
r2 = pipe.run()
print("run2:", r2)
assert [x.status for x in r2 if x.table == "orders"] == ["skipped_empty"]
n2 = spark.read.parquet(os.path.join(tmp, "orders")).count()
assert n2 == 1500, n2
assert store.get("orders") == "1499"

# replay-safety probe: clear the watermark (simulates crash before
# state write) -> rerun -> idempotent sink must NOT duplicate
store.clear("orders")
r3 = pipe.run()
n3 = spark.read.parquet(os.path.join(tmp, "orders")).count()
print("run3 (replay):", [x.status for x in r3], "rows:", n3)
assert n3 == 1500, f"replay duplicated rows: {n3}"

# error-isolation probe: one bad table must not stop others
spec2 = PipelineSpec(tables=[
    TableSpec(name="nonexistent", source_options={"dir": "/root/testdata/sf0.001"},
              sink_options={"dir": tmp}),
    TableSpec(name="region", source_options={"dir": "/root/testdata/sf0.001"},
              sink_options={"dir": tmp}),
])
r4 = IncrementalPipeline(spark, spec2, store).run()
print("run4 (isolation):", [(x.table, x.status) for x in r4])
statuses = {x.table: x.status for x in r4}
assert statuses["nonexistent"] == "failed" and statuses["region"] == "loaded"


# 5. manifest round-trip smoke: commit -> read_table -> version-keyed
# pipeline over the change feed
from pyspark.sql import functions as F

from etl_data_pipeline_spark.sinks.manifest import commit as mcommit
from etl_data_pipeline_spark.sinks.manifest import (
    merge_upsert, read_manifest, read_table, vacuum,
)

mt = os.path.join(tmp, "morders")
src_orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
mcommit(src_orders.filter("o_orderkey < 1000"), mt)
mcommit(src_orders.filter("o_orderkey >= 1000"), mt, mode="append")
m = read_manifest(mt)
back = read_table(spark, mt)
assert back.count() == 1500 and m["version"] == 2 and m["total_rows"] == 1500
vpipe = IncrementalPipeline(
    spark,
    PipelineSpec(tables=[TableSpec(
        name="morders", watermark_type="version", source_format="manifest",
        source_options={"dir": tmp}, sink_options={"dir": os.path.join(tmp, "down")},
        merge_keys=("o_orderkey",))]),
    WatermarkStore(os.path.join(tmp, "vstate.json")),
)
rv = vpipe.run()
assert rv[0].status == "loaded" and rv[0].new_watermark == 2, rv
assert spark.read.parquet(os.path.join(tmp, "down", "morders")).count() == 1500
assert vpipe.run()[0].status == "skipped_empty"
# a merge whose keys lie only in the second commit's range rewrites that
# dir alone: the first commit's dir is carried over by its recorded range
upd = src_orders.filter("o_orderkey >= 1000 AND o_orderkey < 1100").withColumn(
    "o_orderpriority", F.lit("merged")
)
m3 = merge_upsert(spark, mt, upd, ("o_orderkey",))
assert m3["dirs"][0] == m["dirs"][0] and m["dirs"][1] not in m3["dirs"], m3["dirs"]
assert read_table(spark, mt).filter("o_orderpriority = 'merged'").count() == upd.count() > 0
# retention over the same table: v1 and v2 are reclaimed, the head
# time-travels, the carried-over dir survives and no stats store exists
assert vacuum(mt, keep_last=1) == [1, 2]
assert read_table(spark, mt, version=3).count() == 1500
assert os.path.isdir(os.path.join(mt, m["dirs"][0]))
assert not os.path.exists(os.path.join(mt, "_stats"))
print("manifest round-trip: OK (v3, 1500 rows, version-feed caught up, "
      "merge pruned to one dir, vacuumed to v3)")


# 6. streaming state smoke: two landed event files, two availableNow runs
# of the incremental rollup over one checkpoint; the state is a manifest
# table whose txn mark is the last micro-batch folded in
import glob
import shutil

from etl_data_pipeline_spark.session import load_table
from etl_data_pipeline_spark.streaming.jobs import run_incremental_rollup

events = load_table(spark, "/root/testdata/sf0.001", "events")
src, rollup = os.path.join(tmp, "events_src"), os.path.join(tmp, "rollup")
os.makedirs(src)
landed = 0
for batch_id in (0, 1):
    part = events.filter(F.col("event_id") % 2 == batch_id)
    stage = os.path.join(tmp, f"events_stage{batch_id}")
    part.coalesce(1).write.parquet(stage)
    shutil.move(glob.glob(os.path.join(stage, "part-*.parquet"))[0],
                os.path.join(src, f"events_{batch_id}.parquet"))
    landed += part.count()
    run_incremental_rollup(spark, src, rollup).awaitTermination(300)
    state = os.path.join(rollup, "rollup_hourly")
    n = read_table(spark, state).agg(F.sum("n_events")).first()[0]
    mark = read_manifest(state)["txn"]["rollup_hourly"]
    print(f"stream run{batch_id}: n_events={n} landed={landed} txn mark={mark}")
    assert n == landed and mark == batch_id, (n, landed, mark)
print("streaming rollup: OK (two batches folded once each)")

print("DRIVER SMOKE: ALL OK")
