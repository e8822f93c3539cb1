"""Real Structured Streaming tests: file-stream replay of events with
availableNow triggers; batch/stream parity; foreachBatch incremental
sink (the streaming form of the reference loop)."""

import os

import pytest
from pyspark.sql import functions as F

from etl_data_pipeline_spark.session import load_table
from etl_data_pipeline_spark.streaming import jobs
from etl_data_pipeline_spark.watermark import WatermarkStore


@pytest.fixture
def event_chunks(spark, sf_dir, tmp_path):
    """events replayed as 4 parquet chunk files (a file-source feed)."""
    src = str(tmp_path / "stream_src")
    ev = load_table(spark, sf_dir, "events")
    ev.withColumn("chunk", F.col("event_id") % 4).repartition(4, "chunk").drop(
        "chunk"
    ).write.parquet(src)
    return src, ev


def _run_to_memory(spark, stream_df, name, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_file_stream_schema_default_runs_zero_batch_jobs(spark, event_chunks):
    """schema=None must derive the schema from ONE footer on the
    driver — the job-group probe proves no batch read happens, and the
    derived schema must equal what a full batch inference would give."""
    src, ev = event_chunks
    sc = spark.sparkContext
    sc.setJobGroup("stream-schema-probe", "laziness probe")
    try:
        stream = jobs.events_file_stream(spark, src)
        job_ids = sc.statusTracker().getJobIdsForGroup("stream-schema-probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(job_ids) == []
    assert stream.schema == ev.schema


def test_file_stream_empty_dir_demands_explicit_schema(spark, tmp_path):
    empty = str(tmp_path / "empty_src")
    os.makedirs(empty)
    with pytest.raises(ValueError, match="explicit schema"):
        jobs.events_file_stream(spark, empty)


def test_tumbling_batch_stream_parity(spark, event_chunks, tmp_path):
    src, ev = event_chunks
    stream = jobs.events_file_stream(spark, src)
    got = _run_to_memory(
        spark, jobs.tumbling_counts(stream), "t_tumbling", mode="complete"
    )
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    g = {(r.window_start, r.event_type): r.n_events for r in got.collect()}
    b = {(r.window_start, r.event_type): r.n_events for r in batch.collect()}
    assert g == b


def test_stream_dedup_drops_replays(spark, event_chunks, tmp_path):
    src, ev = event_chunks
    # replay the same files again -> duplicate events in the stream dir
    spark.read.parquet(src).write.mode("append").parquet(src)
    stream = jobs.events_file_stream(spark, src, max_files_per_trigger=2)
    got = _run_to_memory(spark, jobs.dedup_stream(stream), "t_dedup")
    assert got.select("event_id").distinct().count() == got.count()
    assert got.count() == ev.count()


def test_session_window_runs(spark, event_chunks):
    src, _ = event_chunks
    stream = jobs.events_file_stream(spark, src)
    got = _run_to_memory(
        spark, jobs.session_counts(stream), "t_session", mode="complete"
    )
    assert got.count() > 0
    assert set(got.columns) == {"user_id", "session_start", "n_events"}


def test_running_user_totals_stateful(spark, event_chunks):
    """applyInPandasWithState: per-user running totals accumulate
    across micro-batches; the max emitted total per user equals the
    batch ground truth."""
    src, ev = event_chunks
    stream = jobs.events_file_stream(spark, src, max_files_per_trigger=2)
    got = _run_to_memory(spark, jobs.running_user_totals(stream), "t_state")
    final = (
        got.groupBy("user_id").agg(F.max("n_events").alias("n_events")).collect()
    )
    truth = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert {r.user_id: r.n_events for r in final} == truth
    # more than one emission per user proves cross-batch statefulness
    assert got.count() > len(truth)


def test_incremental_rollup_matches_batch(spark, event_chunks, tmp_path):
    """Micro-batch-merged rollup == one-shot batch aggregate; a second
    availableNow run over the same source changes nothing (batch-id
    idempotence + checkpoint)."""
    src, ev = event_chunks
    target = str(tmp_path / "rollup_target")
    q = jobs.run_incremental_rollup(spark, src, target)
    q.awaitTermination(120)
    got = spark.read.parquet(os.path.join(target, "rollup_hourly")).drop(
        "last_batch_id"
    )
    truth = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour_bucket"), "event_type"
    ).agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    g = {(r.hour_bucket, r.event_type): (r.n_events, round(r.sum_value, 6))
         for r in got.collect()}
    t = {(r.hour_bucket, r.event_type): (r.n_events, round(r.sum_value, 6))
         for r in truth.collect()}
    assert g == t
    q2 = jobs.run_incremental_rollup(spark, src, target)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(os.path.join(target, "rollup_hourly"))
    assert got2.count() == got.count()
    assert got2.agg(F.sum("n_events")).first()[0] == ev.count()


def test_stream_stream_join_matches_batch(spark, event_chunks):
    """Stream-stream join result == the same join run in batch."""
    src, ev = event_chunks
    stream = jobs.events_file_stream(spark, src, max_files_per_trigger=2)
    purchases = stream.filter(F.col("event_type") == "purchase")
    views = stream.filter(F.col("event_type") == "view")
    got = _run_to_memory(
        spark,
        jobs.stream_stream_attribution_join(purchases, views),
        "t_ssjoin",
    )
    bp = ev.filter(F.col("event_type") == "purchase")
    bv = ev.filter(F.col("event_type") == "view")
    batch = jobs.stream_stream_attribution_join(bp, bv)  # same fn works on batch dfs
    assert got.count() > 0
    assert got.count() == batch.count()


def test_foreach_batch_incremental_sink(spark, event_chunks, tmp_path):
    """Micro-batch incremental load: appends + watermark-store advance
    per batch (streaming replacement of app.py:141-172)."""
    src, ev = event_chunks
    target = str(tmp_path / "target")
    state = str(tmp_path / "state.json")
    q = jobs.run_incremental_micro_batch(spark, src, target, state)
    q.awaitTermination(120)
    store = WatermarkStore(state)
    sunk = spark.read.parquet(os.path.join(target, "events"))
    assert sunk.count() == ev.count()
    assert store.get("events") == str(ev.agg(F.max("event_id")).first()[0])
    # second availableNow run over the same source: checkpoint says
    # nothing new -> no duplicates
    q2 = jobs.run_incremental_micro_batch(spark, src, target, state)
    q2.awaitTermination(120)
    assert spark.read.parquet(os.path.join(target, "events")).count() == ev.count()


def _time_quartile_chunks(ev):
    """Split events into 4 time-quartile DataFrames (arrival order ==
    event-time order when replayed 0..3)."""
    q = ev.selectExpr(
        "percentile(unix_timestamp(ts), array(0.25, 0.5, 0.75)) p"
    ).first().p
    u = F.unix_timestamp("ts")
    return [
        ev.filter(u <= q[0]),
        ev.filter((u > q[0]) & (u <= q[1])),
        ev.filter((u > q[1]) & (u <= q[2])),
        ev.filter(u > q[2]),
    ]


def _write_stream_file(df, src_dir, seq):
    """Write one micro-batch file with a CONTROLLED modification time:
    the file stream source processes pending files oldest-mtime-first,
    so setting mtimes is how a test dictates micro-batch arrival order
    (including out-of-order-in-event-time replays)."""
    import shutil

    os.makedirs(src_dir, exist_ok=True)
    stage = f"{src_dir}_stage{seq}"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(
        p for p in os.listdir(stage) if p.startswith("part-") and p.endswith(".parquet")
    )
    dst = os.path.join(src_dir, f"chunk-{seq:03d}.parquet")
    shutil.copyfile(os.path.join(stage, part), dst)
    t = 1_000_000_000 + seq * 100
    os.utime(dst, (t, t))
    shutil.rmtree(stage)


def _conv_sessions_reference(rows, gap_secs=1800):
    """Python reference for conversion_sessions over a per-user
    time-ordered event log. Trailing open sessions are never emitted —
    state holds them."""
    from itertools import groupby

    expected = set()
    rows = sorted(rows, key=lambda r: (r.user_id, r.ts, r.event_id))
    for uid, it in groupby(rows, key=lambda r: r.user_id):
        start = last = None
        n = 0
        for r in it:
            if start is not None and (r.ts - last).total_seconds() > gap_secs:
                expected.add((uid, str(start), str(last), n, "gap"))
                start = None
            if start is None:
                start, n = r.ts, 0
            last = r.ts
            n += 1
            if r.event_type == "purchase":
                expected.add((uid, str(start), str(r.ts), n, "purchase"))
                start, n = None, 0
    return expected


def test_incremental_scd2_dimension(spark, tmp_path):
    """Streaming CDC -> SCD2: after replaying time-ordered chunks, the
    CURRENT version per user must equal the global latest event's
    attributes; closed versions carry __valid_to; a second availableNow
    run over the same source (checkpoint + idempotent sink) changes
    nothing."""
    from etl_data_pipeline_spark.session import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = os.path.join(str(tmp_path), "scd2_src")
    for i, c in enumerate(_time_quartile_chunks(ev)):
        _write_stream_file(c, src, i)
    target = str(tmp_path / "scd2_target")

    q = jobs.run_incremental_scd2(spark, src, target)
    q.awaitTermination(180)
    dim = spark.read.parquet(os.path.join(target, "dim_users"))

    latest = {
        r.user_id: (r.event_type, r.value)
        for r in ev.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("user_id")
                .orderBy(F.desc("ts"), F.desc("event_id"))
            ),
        )
        .filter(F.col("rn") == 1)
        .collect()
    }
    current = {
        r.user_id: (r.event_type, r.value)
        for r in dim.filter(F.col("__is_current")).collect()
    }
    assert current == latest
    # history rows are all closed
    closed = dim.filter(~F.col("__is_current"))
    assert closed.filter(F.col("__valid_to").isNull()).count() == 0
    # users with >1 version have history
    assert closed.count() > 0

    n_before = dim.count()
    q2 = jobs.run_incremental_scd2(spark, src, target)
    q2.awaitTermination(180)
    assert spark.read.parquet(os.path.join(target, "dim_users")).count() == n_before


def test_conversion_sessions_stateful(spark, tmp_path):
    """Custom gap-OR-purchase sessionizer: closed sessions across
    TIME-ORDERED micro-batches must equal a Python reference run over
    the full per-user ordered event log (sessions straddling batch
    boundaries prove the cross-batch state)."""
    from etl_data_pipeline_spark.session import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src = os.path.join(str(tmp_path), "ordered_src")
    for i, c in enumerate(_time_quartile_chunks(ev)):
        _write_stream_file(c, src, i)

    stream = jobs.events_file_stream(spark, src, max_files_per_trigger=1)
    got = _run_to_memory(
        spark, jobs.conversion_sessions(stream, gap_secs=1800), "t_conv_sessions"
    )
    got_set = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events, r.ended_by)
        for r in got.collect()
    }
    expected = _conv_sessions_reference(ev.collect())
    assert got_set == expected
    assert any(e[4] == "purchase" for e in expected)
    assert any(e[4] == "gap" for e in expected)


def test_conversion_sessions_intra_batch_disorder(spark, tmp_path):
    """conversion_sessions documents: cross-batch arrival must be
    time-ordered, but WITHIN a micro-batch rows may arrive in any
    order (the operator sorts each Arrow batch by ts). Scramble every
    chunk internally and assert the output still equals the ordered
    reference."""
    from etl_data_pipeline_spark.session import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src = os.path.join(str(tmp_path), "scrambled_src")
    for i, c in enumerate(_time_quartile_chunks(ev)):
        # deterministic intra-file scramble: order by a hash of the id
        _write_stream_file(c.orderBy(F.xxhash64("event_id")), src, i)

    stream = jobs.events_file_stream(spark, src, max_files_per_trigger=1)
    got = _run_to_memory(
        spark,
        jobs.conversion_sessions(stream, gap_secs=1800),
        "t_conv_scrambled",
    )
    got_set = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events, r.ended_by)
        for r in got.collect()
    }
    assert got_set == _conv_sessions_reference(ev.collect())


def test_conversion_sessions_ooo_reordered_replay(spark, tmp_path):
    """Event-time-timeout sessionizer under DISORDERED arrival:
    deterministic timeline, watermark 10 min, gap 30 min.

    - f0: u1 views 10:00, 10:20          (both buffered: wm still 0)
    - f1: u1 view 10:05 — arrives AFTER 10:20 but within the horizon
      (f1's late-filter watermark is 0) -> buffered, later released in
      correct order between 10:00 and 10:20
    - f2: u1 view 10:09 — beyond the horizon by then (filter wm 10:10)
      -> DROPPED by Spark before the operator; u1 purchase 10:45
    - f3: u1 view 12:00 (advances wm to 10:35, releasing 10:20)
    - f4: u2 view 14:00 (advances wm to 11:50, releasing the 10:45
      purchase -> emits the first session CLOSED BY PURCHASE with
      n=4: 10:00, 10:05, 10:20, 10:45 — NOT the dropped 10:09)
    - trailing availableNow batch: wm 13:50 releases 12:00 and then
      passes its gap deadline 12:30 -> emits the singleton session
      CLOSED BY TIMEOUT — the case the ordered variant can never emit.

    u2's lone event stays above the final watermark: buffered, no
    emission."""
    rows = {
        0: [(1, "10:00:00", "view"), (1, "10:20:00", "view")],
        1: [(1, "10:05:00", "view")],
        2: [(1, "10:09:00", "view"), (1, "10:45:00", "purchase")],
        3: [(1, "12:00:00", "view")],
        4: [(2, "14:00:00", "view")],
    }
    src = os.path.join(str(tmp_path), "ooo_src")
    eid = 0
    for seq, evs in rows.items():
        data = []
        for uid, t, etype in evs:
            data.append((eid, f"2024-03-01 {t}", uid, etype, 1.0, "{}"))
            eid += 1
        df = spark.createDataFrame(
            data, "event_id long, ts_s string, user_id long, event_type string,"
            " value double, props string"
        ).select(
            "event_id",
            F.to_timestamp("ts_s").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        _write_stream_file(df, src, seq)

    stream = jobs.events_file_stream(spark, src, max_files_per_trigger=1)
    got = _run_to_memory(
        spark,
        jobs.conversion_sessions_ooo(stream, gap_secs=1800, watermark="10 minutes"),
        "t_conv_ooo",
    )
    got_set = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events, r.ended_by)
        for r in got.collect()
    }
    assert got_set == {
        (1, "2024-03-01 10:00:00", "2024-03-01 10:45:00", 4, "purchase"),
        (1, "2024-03-01 12:00:00", "2024-03-01 12:00:00", 1, "gap"),
    }


def test_conversion_sessions_ooo_full_table(spark, tmp_path):
    """ooo sessionizer over the full sf0.001 events table, each
    time-quartile chunk internally SCRAMBLED: the final emission set
    must equal a Python reference over the watermark-visible prefix.

    Why the reference is exact: chunks partition time, so every event
    in chunk k is newer than everything in chunks <= k-1 — the
    late-filter watermark (one batch older still) can never drop
    anything. Events above the final watermark W = max(ts) - horizon
    stay in the reorder buffer unprocessed, so the reference is the
    ordered state machine over events with ts <= W, emitting purchase
    closures, in-sequence gap closures, AND trailing gap closures
    where W has passed last_event + gap (the timeout path)."""
    from etl_data_pipeline_spark.session import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src = os.path.join(str(tmp_path), "ooo_full_src")
    for i, c in enumerate(_time_quartile_chunks(ev)):
        _write_stream_file(c.orderBy(F.xxhash64("event_id")), src, i)

    gap = 1800
    stream = jobs.events_file_stream(spark, src, max_files_per_trigger=1)
    got = _run_to_memory(
        spark,
        jobs.conversion_sessions_ooo(stream, gap_secs=gap, watermark="10 minutes"),
        "t_conv_ooo_full",
    )
    got_set = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events, r.ended_by)
        for r in got.collect()
    }

    import datetime

    w_final = ev.agg(F.max("ts")).first()[0] - datetime.timedelta(minutes=10)
    visible = [r for r in ev.collect() if r.ts <= w_final]
    expected = _conv_sessions_reference(visible, gap_secs=gap)
    # timeout path: trailing open sessions whose gap deadline the final
    # watermark has passed are ALSO emitted by the ooo variant
    from itertools import groupby

    rows = sorted(visible, key=lambda r: (r.user_id, r.ts, r.event_id))
    for uid, it in groupby(rows, key=lambda r: r.user_id):
        start = last = None
        n = 0
        for r in it:
            if start is not None and (r.ts - last).total_seconds() > gap:
                start = None
            if start is None:
                start, n = r.ts, 0
            last = r.ts
            n += 1
            if r.event_type == "purchase":
                start, n = None, 0
        if start is not None and (w_final - last).total_seconds() >= gap:
            expected.add((uid, str(start), str(last), n, "gap"))
    assert got_set == expected


def test_running_totals_reverse_time_replay(spark, tmp_path):
    """running_user_totals has NO watermark, so an out-of-order replay
    (time quartiles arriving LATEST-first) must still converge to the
    exact per-user totals — nothing is ever dropped; emissions per
    user stay monotonically non-decreasing across micro-batches."""
    from etl_data_pipeline_spark.session import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    src = os.path.join(str(tmp_path), "reversed_src")
    for seq, c in enumerate(reversed(_time_quartile_chunks(ev))):
        _write_stream_file(c, src, seq)

    stream = jobs.events_file_stream(spark, src, max_files_per_trigger=1)
    got = _run_to_memory(spark, jobs.running_user_totals(stream), "t_state_rev")
    final = got.groupBy("user_id").agg(F.max("n_events").alias("n_events")).collect()
    truth = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert {r.user_id: r.n_events for r in final} == truth
    # >1 emission for some user proves cross-batch statefulness survived
    # the disordered replay
    assert got.count() > len(truth)


def test_stream_hll_rollup_sketch_parity_and_replay(spark, event_chunks, tmp_path):
    """Union-of-batch-sketches must produce the IDENTICAL estimate as a
    one-shot sketch over all data (HLL union is register-wise max —
    associative, order-independent), the estimate must sit within 5%
    of the exact weekly distinct, and a second availableNow run over
    the same source must change nothing (batch-id dedup)."""
    src, ev = event_chunks
    target = str(tmp_path / "hll_target")
    q = jobs.run_stream_hll_rollup(spark, src, target)
    q.awaitTermination(120)
    got = spark.read.parquet(os.path.join(target, "hll_weekly")).select(
        "week", F.hll_sketch_estimate("sk").alias("est"), "last_batch_id"
    )
    got_rows = {r.week: r.est for r in got.collect()}
    oneshot = {
        r.week: r.est
        for r in ev.groupBy(F.date_trunc("week", "ts").alias("week"))
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14))).alias("est"))
        .collect()
    }
    assert got_rows == oneshot  # exact sketch parity, not approximate
    exact = {
        r.week: r.n
        for r in ev.groupBy(F.date_trunc("week", "ts").alias("week"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for wk, est in got_rows.items():
        assert abs(est - exact[wk]) / exact[wk] <= 0.05
    before = sorted(map(tuple, spark.read.parquet(os.path.join(target, "hll_weekly")).collect()))
    q2 = jobs.run_stream_hll_rollup(spark, src, target)
    q2.awaitTermination(120)
    after = sorted(map(tuple, spark.read.parquet(os.path.join(target, "hll_weekly")).collect()))
    assert before == after


def test_stream_cms_exact_parity_and_replay(spark, event_chunks, tmp_path):
    """CMS is a LINEAR sketch: the batch-wise maintained sketch must be
    the IDENTICAL table (every cell counter equal) to a from-scratch
    sketch over all data — stronger than the HLL estimate parity — and
    a second availableNow run over the same source must change nothing
    (batch-id dedup)."""
    from etl_data_pipeline_spark.operators.aggregates import cms_cell_array

    src, ev = event_chunks
    target = str(tmp_path / "cms_target")
    q = jobs.run_stream_cms(spark, src, target)
    q.awaitTermination(120)
    got = {
        (r.j, r.bucket): r.cell_cnt
        for r in spark.read.parquet(os.path.join(target, "cms_sketch")).collect()
    }
    oneshot = {
        (r.j, r.bucket): r.cell_cnt
        for r in ev.select(
            F.explode(cms_cell_array(F.col("event_type"))).alias("c")
        )
        .groupBy("c.j", "c.bucket")
        .agg(F.count("*").alias("cell_cnt"))
        .collect()
    }
    assert got == oneshot and got  # exact cell-wise parity
    before = sorted(
        map(tuple, spark.read.parquet(os.path.join(target, "cms_sketch")).collect())
    )
    q2 = jobs.run_stream_cms(spark, src, target)
    q2.awaitTermination(120)
    after = sorted(
        map(tuple, spark.read.parquet(os.path.join(target, "cms_sketch")).collect())
    )
    assert before == after


def test_dedup_within_watermark_catches_retimed_replays(spark, tmp_path):
    """A replay of the same event_id with a DIFFERENT event time must
    be dropped by dropDuplicatesWithinWatermark (identity-only key,
    bounded state) — exactly the duplicate the (event_id, ts)-keyed
    dedup_stream cannot see."""
    from etl_data_pipeline_spark.session import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").limit(200)
    src = os.path.join(str(tmp_path), "ddww_src")
    _write_stream_file(ev, src, 0)
    # replay: same ids, event time nudged 5 seconds (a re-ingest)
    retimed = ev.withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 SECONDS"))
    _write_stream_file(retimed, src, 1)

    stream = jobs.events_file_stream(spark, src, max_files_per_trigger=1)
    out = _run_to_memory(
        spark, jobs.dedup_stream_within_watermark(stream), "t_ddww"
    )
    ids = [r.event_id for r in out.select("event_id").collect()]
    assert sorted(ids) == sorted(set(ids))  # every replay suppressed
    assert len(ids) == 200
    # contrast: the (event_id, ts)-keyed variant passes both copies
    stream2 = jobs.events_file_stream(spark, src, max_files_per_trigger=1)
    out2 = _run_to_memory(spark, jobs.dedup_stream(stream2), "t_ddww2")
    assert out2.count() == 400


def test_observation_metrics_ride_the_action(spark):
    """with_quality_observation must (a) not change the observed
    result, (b) deliver counts/null-rates computed by the SAME action
    — no second scan issued by the helper itself."""
    from etl_data_pipeline_spark.functions.observe import (
        with_quality_observation,
    )
    from etl_data_pipeline_spark.session import load_table
    from tests.conftest import SF_DIR

    orders = load_table(spark, SF_DIR, "orders")
    observed, obs = with_quality_observation(
        orders,
        null_cols=("o_custkey",),
        extra={"max_price": F.max("o_totalprice")},
    )
    plain = orders.collect()
    got = observed.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, plain))
    m = obs.get
    assert m["n_rows"] == len(plain)
    assert m["nulls_o_custkey"] == sum(1 for r in plain if r.o_custkey is None)
    assert m["max_price"] == max(r.o_totalprice for r in plain)


def test_running_ewma_matches_batch_exactly(spark, tmp_path):
    """The streaming EWMA twin replayed over time-ordered micro-batches
    must converge to BIT-IDENTICAL per-user values as the batch
    timeseries_ewma fold (same IEEE op sequence, same (ts, event_id)
    ordering, same first-observation seed) — the O(1)-state scale path
    provably computes the same recurrence."""
    from etl_data_pipeline_spark.operators import analytics
    from etl_data_pipeline_spark.session import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    src = os.path.join(str(tmp_path), "ewma_src")
    for seq, c in enumerate(_time_quartile_chunks(ev)):
        _write_stream_file(c, src, seq)

    stream = jobs.events_file_stream(spark, src, max_files_per_trigger=1)
    got = _run_to_memory(spark, jobs.running_user_ewma(stream), "t_ewma")
    rows = got.collect()
    # the final emission per user = the row at that user's max n_events
    final = {}
    for r in rows:
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, r.ewma)
    truth = {
        r.user_id: (r.n_events, r.ewma)
        for r in analytics.timeseries_ewma(spark, SF_DIR).collect()
    }
    assert final == truth
    # cross-batch statefulness: some user emitted more than once
    assert got.count() > len(truth)


def test_tumbling_watermark_drops_late_events(spark, tmp_path):
    """Event-time watermark late-drop through a REAL out-of-order
    micro-batch replay — the streaming twin of the batch analog
    ``stream_watermark_late`` (only data newer than the watermark is
    still mutable).

    Deterministic synthetic timeline, 1 file per micro-batch, 1h
    tumbling windows, 10-min watermark, append mode. NOTE the
    one-batch lag (Spark 3.4+, SPARK-42376): late-record FILTERING
    uses the previous batch's watermark while state EVICTION uses the
    current one — so a drop is only guaranteed once the watermark
    passed the window end a full batch before the late row arrives:

    - batch0: 3 events in [10:00,11:00)   -> window 10:00 open, wm 0
    - batch1: 12:00,12:10                 -> post-batch wm := 12:00
    - batch2: 12:20                       -> eviction wm 12:00 ≥ 11:00:
      window 10:00 FINALIZED, emitted n=3; post-batch wm := 12:10
    - batch3 (late data): 10:30 — late-filter wm is batch2's 12:00 ≥
      its window end 11:00 -> DROPPED (were it merged, the closed
      window would re-emit: a duplicate); 12:15 — window [12:00,13:00)
      end > wm -> accepted into open state
    - batch4: 13:30                       -> post-batch wm := 13:20;
      availableNow's trailing empty batch evicts window 12:00 with n=4
      (12:00,12:10,12:20,12:15 — and NOT the dropped 10:30)

    Window 13:00 stays open (wm never passes 14:00) and must NOT appear
    in append output.
    """
    rows = {
        0: ["10:00:00", "10:10:00", "10:20:00"],
        1: ["12:00:00", "12:10:00"],
        2: ["12:20:00"],
        3: ["10:30:00", "12:15:00"],
        4: ["13:30:00"],
    }
    src = os.path.join(str(tmp_path), "late_src")
    eid = 0
    for seq, times in rows.items():
        data = []
        for t in times:
            data.append((eid, f"2024-03-01 {t}", 1, "view", 1.0, "{}"))
            eid += 1
        df = spark.createDataFrame(
            data, "event_id long, ts_s string, user_id long, event_type string,"
            " value double, props string"
        ).select(
            "event_id",
            F.to_timestamp("ts_s").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        _write_stream_file(df, src, seq)

    stream = jobs.events_file_stream(spark, src, max_files_per_trigger=1)
    got = _run_to_memory(
        spark, jobs.tumbling_counts(stream, watermark="10 minutes"), "t_late_drop"
    )
    emitted = {
        str(r.window_start): r.n_events for r in got.collect()
    }
    assert emitted == {
        "2024-03-01 10:00:00": 3,  # late 10:30 arrival NOT counted
        "2024-03-01 12:00:00": 4,  # within-watermark 12:15 late row IS counted
    }


def test_session_funnel_ooo_matches_batch_operator(spark, tmp_path):
    """Streaming funnel twin vs the BATCH events_session_funnel on the
    same events, replayed as scrambled time-quartile chunks (the ooo
    harness). A far-future sentinel event (user -1) rides in the last
    chunk so the final watermark strictly passes every real session's
    gap deadline — every real session therefore CLOSES and emits,
    making exact whole-table parity possible; the sentinel's own event
    stays above the final watermark (never released, never emitted).
    Aggregating the emitted per-session depths with the batch
    operator's own expressions must reproduce its output row-for-row."""
    import datetime

    from etl_data_pipeline_spark.functions.rounding import hround
    from etl_data_pipeline_spark.operators.analytics import events_session_funnel
    from etl_data_pipeline_spark.session import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src = os.path.join(str(tmp_path), "funnel_ooo_src")
    for i, c in enumerate(_time_quartile_chunks(ev)):
        _write_stream_file(c.orderBy(F.xxhash64("event_id")), src, i)
    sentinel_ts = ev.agg(F.max("ts")).first()[0] + datetime.timedelta(days=10)
    sentinel = spark.createDataFrame(
        [(10_000_000, sentinel_ts, -1, "view")],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    _write_stream_file(sentinel, src, 4)

    stream = jobs.events_file_stream(spark, src, max_files_per_trigger=1)
    got = _run_to_memory(
        spark,
        jobs.session_funnel_ooo(stream, gap_secs=1800, watermark="10 minutes"),
        "t_funnel_ooo",
    )
    assert got.filter("user_id = -1").count() == 0  # sentinel never emits
    got_agg = {
        (r.funnel_depth, r.n_sessions, r.avg_session_events)
        for r in got.groupBy("funnel_depth")
        .agg(
            F.count("*").alias("n_sessions"),
            hround(F.avg("n_events"), 4).alias("avg_session_events"),
        )
        .collect()
    }
    want = {
        (r.funnel_depth, r.n_sessions, r.avg_session_events)
        for r in events_session_funnel(spark, SF_DIR).collect()
    }
    assert got_agg == want
    # sf0.001 yields depths {0, 1, 2}; deeper progressions are covered
    # by the synthetic-timeline test below
    assert {d for d, _, _ in want} >= {0, 1, 2}


def test_session_funnel_ooo_depths_under_disorder(spark, tmp_path):
    """Synthetic timeline for the depths sf0.001 lacks (full
    view->click->purchase) plus the twin's edge semantics:

    - u1's click 10:20 arrives BEFORE the 10:05 view (reorder buffer
      restores order); a 10:09 click arrives beyond the horizon and is
      dropped by Spark's late filter (n=4 proves it); the session
      closes by GAP (not purchase — unlike conversion_sessions) with
      depth 3.
    - u1's 12:00 singleton closes by TIMEOUT in the trailing batch.
    - u3's click at the SAME timestamp as its only view must NOT count
      (strictly-after): depth 1.
    - u2's 14:00 view stays above the final watermark: never emitted."""
    rows = {
        0: [(1, "10:00:00", "view"), (3, "10:00:00", "view"),
            (3, "10:00:00", "click"), (1, "10:20:00", "click")],
        1: [(1, "10:05:00", "view")],
        2: [(1, "10:09:00", "click"), (1, "10:45:00", "purchase")],
        3: [(1, "12:00:00", "view")],
        4: [(2, "14:00:00", "view")],
    }
    src = os.path.join(str(tmp_path), "funnel_depth_src")
    eid = 0
    for seq, evs in rows.items():
        data = []
        for uid, t, etype in evs:
            data.append((eid, f"2024-03-01 {t}", uid, etype))
            eid += 1
        df = spark.createDataFrame(
            data, "event_id long, ts_s string, user_id long, event_type string"
        ).select(
            "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type"
        )
        _write_stream_file(df, src, seq)

    stream = jobs.events_file_stream(spark, src, max_files_per_trigger=1)
    got = _run_to_memory(
        spark,
        jobs.session_funnel_ooo(stream, gap_secs=1800, watermark="10 minutes"),
        "t_funnel_depths",
    )
    got_set = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events, r.funnel_depth)
        for r in got.collect()
    }
    assert got_set == {
        (1, "2024-03-01 10:00:00", "2024-03-01 10:45:00", 4, 3),
        (1, "2024-03-01 12:00:00", "2024-03-01 12:00:00", 1, 1),
        (3, "2024-03-01 10:00:00", "2024-03-01 10:00:00", 2, 1),
    }


def test_file_stream_partitioned_dir_demands_explicit_schema(spark, tmp_path):
    """Partition columns live in directory names, not footers — a
    footer-derived schema would silently drop them, so the default
    must refuse with a clear message instead."""
    src = str(tmp_path / "part_src")
    spark.range(10).selectExpr(
        "id", "id % 2 AS part_col"
    ).write.partitionBy("part_col").parquet(src)
    with pytest.raises(ValueError, match="hive-partitioned"):
        jobs.events_file_stream(spark, src)


def test_file_stream_nested_unpartitioned_dir_derives_schema(spark, tmp_path):
    src = str(tmp_path / "nested_src")
    inner = os.path.join(src, "batch_0")
    spark.range(10).selectExpr("id", "id * 2 AS v").write.parquet(inner)
    stream = jobs.events_file_stream(spark, src)
    assert set(stream.schema.fieldNames()) == {"id", "v"}


def test_stream_to_manifest_exactly_once(spark, event_chunks, tmp_path):
    """Streaming → manifest with the txn fence: one commit per batch
    id; a checkpoint-restarted run re-delivers nothing; a FORCED
    replay of an already-committed batch (crash-after-write window,
    simulated by re-running with a fresh checkpoint and the same
    app_id) is detected by the fence and skipped — row counts and
    version history stay exactly-once."""
    from etl_data_pipeline_spark.sinks.manifest import read_manifest, read_table

    src, ev = event_chunks
    table = str(tmp_path / "mtable")

    q = jobs.run_stream_to_manifest(spark, src, table, app_id="ingest")
    q.awaitTermination(120)
    m = read_manifest(table)
    assert read_table(spark, table).count() == ev.count()
    # 4 chunk files at maxFilesPerTrigger=1 -> one commit per batch id
    assert m["txn"] == {"ingest": m["version"] - 1}  # batch ids 0..n-1

    # restart with the SAME checkpoint: source exhausted, no new commits
    q2 = jobs.run_stream_to_manifest(spark, src, table, app_id="ingest")
    q2.awaitTermination(120)
    assert read_manifest(table) == m
    assert read_table(spark, table).count() == ev.count()

    # forced re-execution: fresh checkpoint replays every batch with
    # the same ids — the manifest fence must skip them all
    q3 = jobs.run_stream_to_manifest(
        spark, src, table, app_id="ingest",
        checkpoint_dir=str(tmp_path / "ckpt_replay"),
    )
    q3.awaitTermination(120)
    m3 = read_manifest(table)
    assert m3["version"] == m["version"]  # not one duplicate version
    assert read_table(spark, table).count() == ev.count()

    # a DIFFERENT app over the same table is not fenced out
    q4 = jobs.run_stream_to_manifest(
        spark, src, table, app_id="backfill",
        checkpoint_dir=str(tmp_path / "ckpt_backfill"),
    )
    q4.awaitTermination(120)
    assert read_table(spark, table).count() == 2 * ev.count()
    assert read_manifest(table)["txn"]["ingest"] == m["txn"]["ingest"]


def test_stream_to_manifest_periodic_compaction(spark, event_chunks, tmp_path):
    """compact_every folds the growing dir list inline (layout-only
    commits); row counts, exactly-once, and the change feed for a
    version-keyed consumer are all preserved across compactions."""
    from etl_data_pipeline_spark.sinks.manifest import (
        read_changes,
        read_manifest,
        read_table,
    )

    src, ev = event_chunks
    table = str(tmp_path / "mtable")
    q = jobs.run_stream_to_manifest(
        spark, src, table, app_id="ingest", compact_every=2
    )
    q.awaitTermination(120)
    m = read_manifest(table)
    assert read_table(spark, table).count() == ev.count()
    assert len(m["dirs"]) <= 2  # folded: never grows past compact_every
    # one batch per source file (maxFilesPerTrigger=1), ids 0..n-1,
    # every one committed exactly once
    n_files = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert m["txn"]["ingest"] == n_files - 1

    # a version-keyed incremental consumer that waited until now and
    # reads the whole feed catches up across the compactions:
    assert read_changes(spark, table, 0).count() == ev.count()
    # and the feed from the head is empty (caught up)
    assert read_changes(spark, table, m["version"]).count() == 0


def test_stream_merge_current_state(spark, sf_dir, tmp_path):
    """run_stream_merge: the manifest table holds exactly the LATEST
    event per user after the stream drains — the streaming
    foreachBatch+MERGE upsert idiom — and a forced full replay (fresh
    checkpoint, same app_id) changes nothing: txn-fenced AND
    semantically idempotent.

    The feed is chunked BY USER (user_id % 4), so every user lives in
    exactly one micro-batch and the expected final state is the global
    latest-per-user — independent of the file source's delivery order
    (merge is last-batch-wins across batches by design; a test keyed
    to delivery order would pin source scheduling, not merge
    semantics)."""
    from pyspark.sql.window import Window

    from etl_data_pipeline_spark.sinks.manifest import read_manifest, read_table

    src = str(tmp_path / "merge_src")
    ev = load_table(spark, sf_dir, "events")
    ev.withColumn("chunk", F.col("user_id") % 4).repartition(4, "chunk").drop(
        "chunk"
    ).write.parquet(src)
    table = str(tmp_path / "current")

    q = jobs.run_stream_merge(
        spark, src, table, app_id="cdc", key_cols=("user_id",),
        order_cols=("ts", "event_id"),
    )
    q.awaitTermination(120)

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    expect = {
        r.user_id: r.event_id
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    got = {
        r.user_id: r.event_id for r in read_table(spark, table).collect()
    }
    assert got == expect
    assert len(got) == ev.select("user_id").distinct().count()

    m = read_manifest(table)
    # forced replay with a fresh checkpoint: fence skips every batch
    q2 = jobs.run_stream_merge(
        spark, src, table, app_id="cdc", key_cols=("user_id",),
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(120)
    assert read_manifest(table)["version"] == m["version"]
    assert {
        r.user_id: r.event_id for r in read_table(spark, table).collect()
    } == expect


def test_conversion_sessions_rocksdb_state_store_parity(spark, tmp_path):
    """The stateful sessionizer under the RocksDB state-store provider
    (the at-scale backend: keyed state on local disk, not executor
    heap) must produce EXACTLY the sessions the default HDFS-backed
    provider produces — and both must equal the Python reference. Also
    pins that the provider is set on the derived session only: the
    caller's conf is never changed."""
    from etl_data_pipeline_spark.session import load_table
    from tests.conftest import SF_DIR

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src = os.path.join(str(tmp_path), "rocks_src")
    for i, c in enumerate(_time_quartile_chunks(ev)):
        _write_stream_file(c, src, i)

    rocks = jobs.state_store_session(spark, "rocksdb")
    assert "RocksDB" in rocks.conf.get(key)
    stream = jobs.events_file_stream(rocks, src, max_files_per_trigger=1)
    got = _run_to_memory(
        rocks, jobs.conversion_sessions(stream, gap_secs=1800), "t_rocks"
    )
    got_set = {
        (r.user_id, str(r.session_start), str(r.session_end),
         r.n_events, r.ended_by)
        for r in got.collect()
    }
    assert spark.conf.get(key, None) == before  # caller untouched
    expected = _conv_sessions_reference(ev.collect())
    assert got_set == expected


def test_state_store_session_rejects_unknown_provider(spark):
    with pytest.raises(ValueError, match="unknown state store"):
        jobs.state_store_session(spark, "cassandra")


def test_transform_with_state_parity_with_apply_in_pandas(spark, event_chunks):
    """The transformWithStateInPandas twin must emit EXACTLY what the
    applyInPandasWithState operator emits for the same chunked replay
    — per-user per-batch running totals — proving the successor API
    carries the same semantics (and the final totals equal the batch
    ground truth). Skipped where the TWS wire protocol's protobuf
    dependency is absent (the operator raises a clear ImportError
    there — asserted below instead)."""
    src, ev = event_chunks
    try:
        import google.protobuf.descriptor  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="protobuf"):
            jobs.running_user_totals_tws(
                jobs.events_file_stream(spark, src, max_files_per_trigger=2)
            )
        pytest.skip("protobuf not available: TWS gated, ImportError contract verified")
    a = _run_to_memory(
        spark,
        jobs.running_user_totals(
            jobs.events_file_stream(spark, src, max_files_per_trigger=2)
        ),
        "t_tws_a",
    )
    b = _run_to_memory(
        spark,
        jobs.running_user_totals_tws(
            jobs.events_file_stream(spark, src, max_files_per_trigger=2)
        ),
        "t_tws_b",
    )
    rows_a = {(r.user_id, r.n_events, r.sum_value) for r in a.collect()}
    rows_b = {(r.user_id, r.n_events, r.sum_value) for r in b.collect()}
    assert rows_a == rows_b and rows_b
    truth = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    final = {}
    for u, n, _ in rows_b:
        final[u] = max(final.get(u, 0), n)
    assert final == truth


def test_processing_time_soak_rocksdb_kill_restart(spark, sf_dir, tmp_path):
    """Continuous-trigger soak (round-7 verdict item 6): the stateful
    running-totals job under a processingTime trigger with the RocksDB
    state store, killed mid-stream and restarted from the checkpoint,
    must converge to EXACTLY the batch twin's per-user totals — a
    replayed or lost micro-batch would show up as inflated or missing
    (n_events, sum_value) because the state is cumulative.

    Exactly-once mechanics under test: the file source's offset log
    (which files each batch id covers), the RocksDB state snapshots,
    and an idempotent per-batch-id foreachBatch sink (overwrite of
    batch=<id>, so a post-crash replay of the same batch id cannot
    double-append)."""
    import time

    import glob as _glob
    import shutil

    src = str(tmp_path / "soak_src")
    sink = str(tmp_path / "soak_sink")
    ckpt = str(tmp_path / "soak_ckpt")
    stage = str(tmp_path / "soak_stage")
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events")
    total_events = ev.count()

    def deliver_chunk(i):
        """FileStreamSource lists flat files, not nested write dirs:
        stage the chunk, then drop its part-file into src atomically
        (same-fs rename), the way a real feed lands files."""
        d = os.path.join(stage, f"c{i}")
        ev.filter(F.col("event_id") % 8 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        part = _glob.glob(os.path.join(d, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src, f"chunk_{i}.parquet"))

    def start_query():
        stream = jobs.events_file_stream(rocks, src, max_files_per_trigger=1)
        out = jobs.running_user_totals(stream)

        def _collect(df, bid):
            df.write.mode("overwrite").parquet(os.path.join(sink, f"batch={bid}"))

        return (
            out.writeStream.foreachBatch(_collect)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    def events_seen():
        """Σ over users of the LATEST cumulative n_events — equals the
        number of source events the state has absorbed exactly once."""
        try:
            latest = spark.read.parquet(sink)
        except Exception:
            return -1
        w = __import__("pyspark").sql.window.Window.partitionBy("user_id").orderBy(
            F.desc("batch")
        )
        return (
            latest.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .agg(F.sum("n_events"))
            .first()[0]
        )

    rocks = jobs.state_store_session(spark, "rocksdb")
    # phase 1: 4 chunk files arrive; kill after >=2 committed batches
    for i in range(4):
        deliver_chunk(i)
    q1 = start_query()
    deadline = time.time() + 120
    while time.time() < deadline:
        p = q1.lastProgress
        if p is not None and p["batchId"] >= 2:
            break
        time.sleep(0.2)
    else:
        q1.stop()
        raise AssertionError("soak phase 1: no progress within 120s")
    q1.stop()  # kill mid-stream: some of the 4 files may be unprocessed
    q1.awaitTermination(60)

    # phase 2: 4 more files arrive while down; restart from checkpoint
    for i in range(4, 8):
        deliver_chunk(i)
    q2 = start_query()
    deadline = time.time() + 120
    while time.time() < deadline:
        if events_seen() == total_events:
            break
        time.sleep(0.3)
    q2.stop()
    q2.awaitTermination(60)

    assert events_seen() == total_events, "state lost or double-counted events"
    # exactly-once equality with the batch twin, value-level
    w = __import__("pyspark").sql.window.Window.partitionBy("user_id").orderBy(
        F.desc("batch")
    )
    got = sorted(
        (r.user_id, r.n_events, r.sum_value)
        for r in spark.read.parquet(sink)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_value")
        .collect()
    )
    want = sorted(
        (r.user_id, r.n_events, r.sum_value)
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .collect()
    )
    assert got == want


def test_incremental_dedup_stream(spark, tmp_path):
    """Streaming incremental dedup: documents arrive in 3 ordered
    chunks; every doc gets exactly one decision row; exact duplicates
    of EARLIER-ingested docs are skipped with jaccard 1.0 and their
    keeper as the match; the index holds exactly the kept docs; a
    second availableNow run over the same source changes nothing."""
    import glob as _glob
    import shutil

    src = str(tmp_path / "docs_src")
    tgt = str(tmp_path / "dedup_tgt")
    stage = str(tmp_path / "docs_stage")
    os.makedirs(src)

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = []
    # chunk 0: originals 1..10
    for i in range(1, 11):
        rows.append((i, 0, f"{base} doc{i} " + " ".join(f"w{i}{j}" for j in range(6))))
    # chunk 1: 11..15 new + 16,17 EXACT copies of docs 3 and 7
    for i in range(11, 16):
        rows.append((i, 1, f"{base} doc{i} " + " ".join(f"x{i}{j}" for j in range(6))))
    rows.append((16, 1, rows[2][2]))
    rows.append((17, 1, rows[6][2]))
    # chunk 2: 18 new + 19 exact copy of 11 + 20,21 identical twins (within-batch)
    rows.append((18, 2, f"{base} doc18 " + " ".join(f"y{j}" for j in range(6))))
    rows.append((19, 2, rows[10][2]))
    twin = f"{base} twin " + " ".join(f"z{j}" for j in range(6))
    rows.append((20, 2, twin))
    rows.append((21, 2, twin))

    df = spark.createDataFrame(
        [(d, t) for d, c, t in rows], "doc_id long, text string"
    )
    for c in range(3):
        ids = [d for d, cc, _ in rows if cc == c]
        part = df.filter(F.col("doc_id").isin(ids)).coalesce(1)
        stage_d = os.path.join(stage, f"c{c}")
        part.write.mode("overwrite").parquet(stage_d)
        pf = _glob.glob(os.path.join(stage_d, "part-*.parquet"))[0]
        shutil.move(pf, os.path.join(src, f"chunk_{c}.parquet"))

    q = jobs.run_incremental_dedup(spark, src, tgt)
    q.awaitTermination(180)

    dec = {
        r.doc_id: r
        for r in spark.read.parquet(os.path.join(tgt, "dedup_decisions")).collect()
    }
    assert sorted(dec) == list(range(1, 22))  # every doc decided once
    for i in list(range(1, 16)) + [18, 20]:
        assert dec[i].decision == "keep", i
    # exact copies of earlier docs: skipped, matched to the original
    assert (dec[16].decision, dec[16].match_doc, dec[16].match_jaccard) == (
        "skip_duplicate", 3, 1.0,
    )
    assert (dec[17].decision, dec[17].match_doc) == ("skip_duplicate", 7)
    assert (dec[19].decision, dec[19].match_doc) == ("skip_duplicate", 11)
    # within-batch twins: digest keeper (min doc_id) wins
    assert (dec[21].decision, dec[21].match_doc, dec[21].match_jaccard) == (
        "skip_duplicate", 20, 1.0,
    )
    idx = spark.read.parquet(os.path.join(tgt, "dedup_index"))
    kept_ids = sorted(r.doc_id for r in idx.select("doc_id").collect())
    assert kept_ids == sorted(
        d for d in dec if dec[d].decision == "keep"
    )

    # replay: same source, same checkpoint — a no-op
    before = sorted(map(tuple, spark.read.parquet(
        os.path.join(tgt, "dedup_decisions")).collect()))
    q2 = jobs.run_incremental_dedup(spark, src, tgt)
    q2.awaitTermination(180)
    after = sorted(map(tuple, spark.read.parquet(
        os.path.join(tgt, "dedup_decisions")).collect()))
    assert after == before
    assert spark.read.parquet(os.path.join(tgt, "dedup_index")).count() == len(
        kept_ids
    )


def test_incremental_dedup_soak_sf01_kill_restart(spark, tmp_path):
    """Round-9 soak (round-8 verdict item 5): run the streaming
    incremental dedup against a PERSISTED sf0.1-scale signature index
    (4500 indexed docs), feeding the 500 batch-side docs in 5
    micro-batches under a processingTime trigger with the RocksDB
    store configured (the job's exactly-once state lives in the index
    artifact + batch-id fence, so the store choice must be inert), and
    KILL the query mid-stream, restarting from the checkpoint.

    Asserted: every batch doc decided exactly once; the kill-restart
    run's final decisions AND index equal a straight-through
    availableNow reference run byte-for-byte; and for every batch doc
    free of batch-batch interference (no digest twin and no verified
    near-dup among the batch docs themselves — those can match
    earlier-kept batch docs, which the one-shot batch query by design
    cannot see), the decision equals dedup_minhash_incremental's
    row: same match_doc, same rounded jaccard, keep when the twin has
    no row."""
    import glob as _glob
    import shutil
    import time

    from etl_data_pipeline_spark.llm import dedup as dd

    sfd = "/root/testdata/sf0.1"
    docs = load_table(spark, sfd, "documents").select("doc_id", "text")
    is_batch = F.col("doc_id") % dd.INCR_BATCH_MOD == 0

    sh_hashed = F.array_distinct(
        F.transform(dd._shingles(), lambda t: dd._md5_long(t))
    )
    bands = F.array(
        *[
            (F.col(f"mh{2 * b}") * dd.MINHASH_P + F.col(f"mh{2 * b + 1}"))
            for b in range(dd.LSH_BANDS)
        ]
    )

    def seed_index(tgt):
        (
            docs.filter(~is_batch)
            .select("doc_id", sh_hashed.alias("sh_hash"))
            .select("doc_id", "sh_hash", *dd._minhash_cols())
            .select(
                "doc_id", bands.alias("bands"), "sh_hash",
                F.lit(-1).cast("long").alias("last_batch_id"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(tgt, "dedup_index"))
        )

    batch_ids = sorted(
        r.doc_id for r in docs.filter(is_batch).select("doc_id").collect()
    )
    assert len(batch_ids) == 500  # sf0.1: the soak is at real index scale

    def deliver(src, stage, chunk_no, ids):
        d = os.path.join(stage, f"c{chunk_no}")
        docs.filter(F.col("doc_id").isin(ids)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        part = _glob.glob(os.path.join(d, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src, f"chunk_{chunk_no}.parquet"))

    chunks = [batch_ids[i * 100 : (i + 1) * 100] for i in range(5)]

    def decided_count(tgt):
        try:
            return (
                spark.read.parquet(os.path.join(tgt, "dedup_decisions"))
                .select("doc_id").distinct().count()
            )
        except Exception:
            return -1

    # --- kill-restart run under processingTime + RocksDB ---
    src = str(tmp_path / "soak_src")
    stage = str(tmp_path / "soak_stage")
    tgt = str(tmp_path / "soak_tgt")
    os.makedirs(src)
    os.makedirs(tgt)
    seed_index(tgt)
    rocks = jobs.state_store_session(spark, "rocksdb")
    for i in range(3):
        deliver(src, stage, i, chunks[i])
    q1 = jobs.run_incremental_dedup(
        rocks, src, tgt, trigger={"processingTime": "200 milliseconds"}
    )
    deadline = time.time() + 180
    while time.time() < deadline:
        if decided_count(tgt) >= 100:  # >=1 batch committed
            break
        time.sleep(0.3)
    else:
        q1.stop()
        raise AssertionError("dedup soak phase 1: no progress in 180s")
    q1.stop()  # kill mid-stream
    q1.awaitTermination(60)
    for i in range(3, 5):
        deliver(src, stage, i, chunks[i])
    q2 = jobs.run_incremental_dedup(
        rocks, src, tgt, trigger={"processingTime": "200 milliseconds"}
    )

    def fully_settled():
        """All 500 decided AND every keep has landed in the index —
        decisions are written BEFORE the index swap inside a batch,
        so polling decisions alone can stop the query mid-merge."""
        if decided_count(tgt) != 500:
            return False
        try:
            dec = spark.read.parquet(os.path.join(tgt, "dedup_decisions"))
            keeps = dec.filter(F.col("decision") == "keep").count()
            idx_n = spark.read.parquet(
                os.path.join(tgt, "dedup_index")
            ).count()
        except Exception:
            return False
        return idx_n == 4500 + keeps

    deadline = time.time() + 180
    while time.time() < deadline:
        if fully_settled():
            break
        time.sleep(0.3)
    q2.stop()
    q2.awaitTermination(60)
    assert decided_count(tgt) == 500

    # --- straight-through reference run (availableNow, default store) ---
    src2 = str(tmp_path / "ref_src")
    tgt2 = str(tmp_path / "ref_tgt")
    os.makedirs(src2)
    os.makedirs(tgt2)
    seed_index(tgt2)
    for i in range(5):
        deliver(src2, str(tmp_path / "ref_stage"), i, chunks[i])
    qr = jobs.run_incremental_dedup(spark, src2, tgt2)
    qr.awaitTermination(300)

    def decisions(tgt):
        return sorted(
            (r.doc_id, r.decision, r.match_doc, r.match_jaccard)
            for r in spark.read.parquet(
                os.path.join(tgt, "dedup_decisions")
            ).collect()
        )

    def index_rows(tgt):
        return sorted(
            (r.doc_id, tuple(r.bands), tuple(sorted(r.sh_hash)))
            for r in spark.read.parquet(os.path.join(tgt, "dedup_index")).collect()
        )

    got = decisions(tgt)
    assert got == decisions(tgt2)  # kill-restart == straight-through
    assert index_rows(tgt) == index_rows(tgt2)

    # --- equality with the batch twin outside interference ---
    twin = {
        r.batch_doc: (r.index_doc, r.shingle_jaccard)
        for r in dd.dedup_minhash_incremental(spark, sfd).collect()
    }
    # batch-batch interference: digest twins + verified near-dup pairs
    b = docs.filter(is_batch)
    digests = b.select("doc_id", F.md5("text").alias("dg"))
    dup_dg = (
        digests.groupBy("dg").count().filter(F.col("count") > 1).select("dg")
    )
    interfered = {
        r.doc_id
        for r in digests.join(dup_dg, "dg").select("doc_id").collect()
    }
    bsig = b.select("doc_id", sh_hashed.alias("sh_hash")).select(
        "doc_id", "sh_hash", *dd._minhash_cols()
    ).select("doc_id", "sh_hash", F.posexplode(bands).alias("band_id", "band_sig"))
    bb = (
        bsig.alias("x")
        .join(
            bsig.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_sig") == F.col("y.band_sig"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"),
            F.col("x.sh_hash").alias("sh_a"), F.col("y.sh_hash").alias("sh_b"),
        )
        .dropDuplicates(["a", "b"])
    )
    s_int = F.size(F.array_intersect("sh_a", "sh_b"))
    jacc = s_int / F.greatest(F.size("sh_a") + F.size("sh_b") - s_int, F.lit(1))
    for r in bb.select("a", "b", jacc.alias("j")).filter(
        F.col("j") >= dd.JACCARD_THRESHOLD
    ).collect():
        interfered |= {r.a, r.b}

    checked = 0
    for doc_id, decision, match_doc, match_jac in got:
        if doc_id in interfered:
            continue
        if doc_id in twin:
            assert (decision, match_doc, match_jac) == (
                "skip_duplicate", twin[doc_id][0], twin[doc_id][1],
            ), doc_id
        else:
            assert decision == "keep", doc_id
        checked += 1
    assert checked >= 450  # interference is the rare case, not the rule
