"""Real Structured Streaming jobs (SURVEY.md §2.B "Streaming", §7.2
phase 4).

The streaming analog of the reference's incremental batch loop: where
the reference re-runs daily and filters on a stored watermark
(app.py:96-132, dags/…:85), Structured Streaming incrementalizes the
same queries continuously with event-time watermarks and checkpointed
state. These jobs are driven by tests/test_streaming.py with
``availableNow`` triggers (process-everything-then-stop), which is
also the production pattern for periodic incremental runs at scale:
one cron-started availableNow run replaces the reference's whole
watermark machinery — state lives in the checkpoint.

All jobs take a *streaming* DataFrame (from ``events_file_stream``)
and return the transformed streaming DataFrame; callers attach the
sink. The transformations are the SAME operators as
streaming/batch_analogs.py — Spark guarantees batch/stream parity.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_data_pipeline_spark.functions.rounding import hround
from etl_data_pipeline_spark.session import derived_session
from etl_data_pipeline_spark.sinks import manifest
from etl_data_pipeline_spark.watermark import WatermarkStore, parse_watermark


STATE_STORE_PROVIDERS = {
    # HDFS-backed provider keeps every key in executor heap with
    # snapshot files in the checkpoint — fine while state fits memory.
    "memory": (
        "org.apache.spark.sql.execution.streaming.state"
        ".HDFSBackedStateStoreProvider"
    ),
    # RocksDB spills state to local disk (native LSM, bounded heap) —
    # the 100 TB posture for the stateful operators here: a
    # sessionizer over billions of users cannot hold its keyed state
    # in executor memory, and RocksDB is the stock Spark answer
    # (spark.sql.streaming.stateStore.providerClass, bundled JNI).
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state"
        ".RocksDBStateStoreProvider"
    ),
}


def state_store_session(spark: SparkSession, provider: str) -> SparkSession:
    """A session derived from ``spark`` (``session.derived_session``)
    whose streaming queries keep their state in ``provider``'s store
    (a key of STATE_STORE_PROVIDERS). Start a query from a frame of
    this session to select the backend; ``spark`` keeps its own, and
    a query captures its provider when it starts.

    ``state_store_session(spark, "rocksdb")`` is the scale switch for
    the applyInPandasWithState jobs in this module — behavior is
    identical by contract (tests pin parity), only the state residency
    changes: executor heap + checkpoint snapshots (default) vs local
    RocksDB instances checkpointed to the same location."""
    if provider not in STATE_STORE_PROVIDERS:
        raise ValueError(
            f"unknown state store {provider!r}"
            f" (use one of {sorted(STATE_STORE_PROVIDERS)})"
        )
    return derived_session(
        spark,
        {"spark.sql.streaming.stateStore.providerClass": STATE_STORE_PROVIDERS[provider]},
    )


def _schema_from_one_footer(source_dir: str):
    """Stream-source schema from ONE parquet footer, read driver-side
    with pyarrow — zero Spark jobs, zero directory-wide footer scans.
    The schema=None convenience used to batch-read the whole directory
    (spark.read.parquet), which on a huge stream dir means listing and
    footer-sampling every file before the stream even starts; one
    footer is sufficient because a file stream's files share a schema
    by contract (the stream would fail on drift anyway).

    The search recurses (sorted, first footer wins) so nested layouts
    work — but a Hive-PARTITIONED layout (``col=value`` directories)
    is refused with a clear error: partition columns live in directory
    names, not footers, so a footer-derived schema would silently drop
    them; pass an explicit schema (including the typed partition
    columns) for such sources."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    for root, dirs, files in os.walk(source_dir):
        part_dirs = [d for d in dirs if "=" in d and not d.startswith((".", "_"))]
        if part_dirs:
            raise ValueError(
                f"cannot derive stream schema: {source_dir!r} is"
                f" hive-partitioned ({part_dirs[0]!r}); partition-column"
                " types are not in any footer — pass an explicit schema"
                " (the run_incremental_* jobs forward their schema"
                " argument)"
            )
        # prune what Spark's file listing ignores: _temporary/_spark
        # metadata dirs, dotted dirs, hidden files — an in-flight
        # write's partial footer or a stale .staging leftover must
        # never be the schema source
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
        for entry in sorted(files):
            if entry.endswith(".parquet") and not entry.startswith((".", "_")):
                return from_arrow_schema(
                    pq.read_schema(os.path.join(root, entry))
                )
    raise ValueError(
        f"cannot derive stream schema: no .parquet file in {source_dir!r};"
        " pass an explicit schema/DDL"
    )


def events_file_stream(
    spark: SparkSession, source_dir: str, schema=None, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over parquet chunk files (the harness replay
    of a Kafka-like feed). ``maxFilesPerTrigger`` bounds micro-batch
    size — at scale this is the backpressure knob.

    Prefer passing ``schema`` (DDL string or StructType) explicitly;
    with None it is derived from a single parquet footer on the driver
    (never a batch read of the directory)."""
    if schema is None:
        schema = _schema_from_one_footer(source_dir)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def tumbling_counts(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Tumbling 1h window counts with event-time watermark: late events
    beyond the watermark are dropped, closed windows emit finals
    (append mode)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), hround(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def session_counts(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows (stateful; state store per user+session)."""
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events"
        )
    )


def dedup_stream(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Stateful streaming dedup on event_id: replayed/duplicate events
    within the watermark horizon are dropped exactly-once-style — the
    streaming form of the engine's idempotent sink (SURVEY.md §2.C #5)."""
    return stream.withWatermark("ts", watermark).dropDuplicates(["event_id", "ts"])


def dedup_stream_within_watermark(
    stream: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Bounded-state streaming dedup on IDENTITY ALONE
    (``dropDuplicatesWithinWatermark``): duplicates are dropped even
    when the replay carries a DIFFERENT event time — the case
    ``dedup_stream`` (key = event_id+ts) misses, and the common one in
    practice: at-least-once producers re-emit with a fresh ingest
    timestamp. The event-time column stays OUT of the key; state for
    an id expires once the watermark passes its last sighting, so
    state is bounded by the id arrival rate × watermark horizon —
    the contract that keeps a 100 TB/day stream's dedup state finite.
    """
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_stream_attribution_join(
    purchases: DataFrame, views: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: purchases joined to same-user views
    within a bounded event-time horizon (view before purchase, at most
    ``horizon`` older) — the streaming analog of the batch as-of join
    (operators/asof.py), except streaming joins need a BOUNDED range
    condition so Spark can expire state: both sides are watermarked and
    buffered only within the horizon, keeping state O(events-in-horizon)
    instead of unbounded."""
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", "10 minutes")
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", "10 minutes")
    return p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select("purchase_id", F.col("p_user").alias("user_id"), "purchase_ts", "view_id", "view_ts")


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    RUNNING (n_events, sum_value) totals, one row emitted per user per
    micro-batch — semantics Spark's built-in streaming aggs can't
    express in append mode (update-mode emission of a never-closing
    aggregate).

    State is a single (n, s) pair per user in the state store —
    checkpointed, partition-distributed, recoverable; at 100 TB the
    state size is O(|users|), not O(|events|).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 2)]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, s double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_ewma(stream: DataFrame, alpha: float | None = None) -> DataFrame:
    """Streaming twin of the batch ``timeseries_ewma`` operator
    (operators/analytics.py): per-user exponentially-weighted moving
    average maintained as ONE (ewma, n) pair per user in the state
    store — the scale path the batch operator's docstring promises for
    unbounded histories. The batch form carries the user's whole value
    list through a collect; this form's state is O(1) per user forever.

    Semantics contract: over a time-ordered micro-batch replay the
    final emission per user is BIT-IDENTICAL to the batch fold — rows
    are sorted (ts, event_id) within each micro-batch and the update
    is the same IEEE sequence ``0.8*acc + 0.2*x`` seeded with the
    first observation (deliberately a sequential Python-float loop,
    not a vectorized closed form: ``(1-a)^k``-weighted dot products
    regroup the arithmetic and drift in the last ulp; the exhibit
    keeps exact batch parity, and per-batch row counts bound the loop).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    import math

    from etl_data_pipeline_spark.operators.analytics import EWMA_ALPHA

    a = EWMA_ALPHA if alpha is None else alpha

    def update(key, pdf_iter, state: GroupState):
        ewma, n = state.get if state.exists else (0.0, 0)
        frames = list(pdf_iter)  # NoTimeout => invoked only with data,
        batch = (                # but an all-empty chunk list is cheap
            pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()
        )
        if len(batch):
            batch = batch.sort_values(["ts", "event_id"])
            for x in batch["value"]:
                x = float(x)
                ewma = x if n == 0 else (1.0 - a) * ewma + a * x
                n += 1
            state.update((ewma, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "ewma": [math.floor(ewma * 1e8 + 0.5) / 1e8],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, ewma double",
        stateStructType="ewma double, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_holt(
    stream: DataFrame, alpha: float | None = None, beta: float | None = None
) -> DataFrame:
    """Streaming twin of the batch ``timeseries_holt`` operator
    (operators/analytics.py): per-user Holt level+trend smoothing
    maintained as ONE (level, trend, n) triple per user — O(1) state
    forever, the scale path for unbounded per-entity histories (the
    running_user_ewma contract extended to 2-component state).

    Semantics contract: over a time-ordered micro-batch replay the
    final emission per user is BIT-IDENTICAL to the batch fold. The
    update is the same IEEE sequence as the batch F.aggregate lambda
    (nl = a*x + (1-a)*(level+trend); trend' = b*(nl-level) +
    (1-b)*trend), seeded across the first TWO observations: the first
    value parks in the level slot, the second completes the
    Hyndman-init (l₂ = x₂, b₂ = x₂ − x₁) — state encodes the seeding
    phase in n, so the recurrence survives any micro-batch split,
    including one that separates x₁ from x₂.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    import math

    from etl_data_pipeline_spark.operators.analytics import HOLT_ALPHA, HOLT_BETA

    a = HOLT_ALPHA if alpha is None else alpha
    b = HOLT_BETA if beta is None else beta

    def update(key, pdf_iter, state: GroupState):
        level, trend, n = state.get if state.exists else (0.0, 0.0, 0)
        frames = list(pdf_iter)
        batch = (
            pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()
        )
        if len(batch):
            batch = batch.sort_values(["ts", "event_id"])
            for x in batch["value"]:
                x = float(x)
                if n == 0:
                    level, trend = x, 0.0  # park x1; not yet a state
                elif n == 1:
                    trend = x - level  # b2 = x2 - x1
                    level = x          # l2 = x2
                else:
                    nl = a * x + (1.0 - a) * (level + trend)
                    trend = b * (nl - level) + (1.0 - b) * trend
                    level = nl
                n += 1
            state.update((level, trend, n))
        # emit only once the init is complete (n >= 2): the batch twin
        # filters series shorter than two observations, and parity
        # means matching its ROW SET too, not just its values
        if n >= 2:
            r8 = lambda v: math.floor(v * 1e8 + 0.5) / 1e8  # noqa: E731
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "level": [r8(level)],
                    "trend": [r8(trend)],
                    "forecast_next": [r8(level + trend)],
                }
            )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, n_events long, level double, trend double,"
            " forecast_next double"
        ),
        stateStructType="level double, trend double, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_totals_tws(stream: DataFrame) -> DataFrame:
    """running_user_totals on ``transformWithStateInPandas`` — the
    Spark-4 successor API to applyInPandasWithState (SPARK-49564
    family: named state variables on a handle, explicit processor
    lifecycle, timers; the direction stateful Python streaming is
    moving). Semantics are IDENTICAL to running_user_totals — the
    parity test replays the same chunks through both operators and
    asserts equal emissions — so the engine offers both the
    established and the successor API for custom stateful operators.

    State: one named ValueState ("totals": n, s) per user — same
    O(|users|) residency, same checkpoint/recovery contract, and it
    runs on a state_store_session(spark, "rocksdb") like any other
    stateful operator.

    RUNTIME REQUIREMENT: the transformWithState protocol speaks
    protobuf between the JVM and the Python stateful-processor driver
    (pyspark.sql.streaming.proto) — environments without
    ``google.protobuf`` get a clear ImportError here instead of an
    opaque mid-query worker crash. applyInPandasWithState
    (running_user_totals) has no such dependency."""
    try:
        import google.protobuf.descriptor  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas requires the protobuf package "
            "(pyspark.sql.streaming.proto wire protocol); use "
            "running_user_totals (applyInPandasWithState) instead"
        ) from e
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n long, s double")

        def handleInputRows(self, key, rows, timerValues):
            n, s = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self._totals.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 2)]}
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id long, n_events long, sum_value double",
        outputMode="Update",
        timeMode="None",
    )


def conversion_sessions(stream: DataFrame, gap_secs: int = 1800) -> DataFrame:
    """Custom stateful sessionizer via applyInPandasWithState: a
    user's session closes on an inactivity gap OR on a conversion
    ('purchase') event — the second close condition is what the
    built-in ``session_window`` cannot express (it only knows gaps).
    Emits one row per CLOSED session (append mode); open sessions live
    in the state store until their closing event arrives.

    State per user is three scalars (session start, last event time as
    epoch micros, event count) — O(|active users|) total, partitioned
    and checkpointed by the engine. Timestamps cross the Arrow
    boundary as epoch-micros longs (exact integer arithmetic, no
    tz/unit coercion surface) and are rehydrated JVM-side with
    timestamp_micros.

    ASSUMES per-user event-time-ordered arrival across micro-batches
    (true of log-shipped file streams, which deliver files in order;
    each batch is additionally sorted internally). Out-of-order
    delivery needs an event-time timeout + reorder buffer — documented
    out of scope here.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_secs * 1_000_000

    def update(key, pdf_iter, state: GroupState):
        (user_id,) = key
        start_us, last_us, n = state.get if state.exists else (None, None, 0)
        out: list[tuple] = []
        batches = [pdf for pdf in pdf_iter if len(pdf)]
        if batches:
            ev = pd.concat(batches).sort_values(["ts", "event_id"])
            for ts, etype in zip(ev["ts"], ev["event_type"]):
                ts_us = ts.value // 1000  # pandas ns -> epoch micros
                if start_us is not None and ts_us - last_us > gap_us:
                    out.append((user_id, start_us, last_us, n, "gap"))
                    start_us = None
                if start_us is None:
                    start_us, n = ts_us, 0
                last_us = ts_us
                n += 1
                if etype == "purchase":
                    out.append((user_id, start_us, ts_us, n, "purchase"))
                    start_us, n = None, 0
        if start_us is not None:
            state.update((int(start_us), int(last_us), int(n)))
        elif state.exists:
            state.remove()
        yield pd.DataFrame(
            out, columns=["user_id", "start_us", "end_us", "n_events", "ended_by"]
        )

    raw = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, start_us long, end_us long, n_events int, ended_by string"
        ),
        stateStructType="start_us long, last_us long, n int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return raw.select(
        "user_id",
        F.timestamp_micros("start_us").alias("session_start"),
        F.timestamp_micros("end_us").alias("session_end"),
        "n_events",
        "ended_by",
    )


def conversion_sessions_ooo(
    stream: DataFrame, gap_secs: int = 1800, watermark: str = "10 minutes"
) -> DataFrame:
    """OUT-OF-ORDER-tolerant gap-OR-conversion sessionizer: the same
    close-on-gap-or-purchase semantics as ``conversion_sessions``, but
    correct under disordered arrival within the watermark horizon —
    the reorder-buffer + event-time-timeout pattern its docstring
    declares out of scope.

    Mechanics (applyInPandasWithState + EventTimeTimeout):

    - Arriving events are BUFFERED in state, not processed: an earlier
      event may still be in flight. Only events STRICTLY below the
      current event-time watermark (``state.getCurrentWatermarkMs``)
      are released — in timestamp order — into the session state
      machine, because Spark's late filter drops only rows strictly
      below the watermark: an event with ts EQUAL to it can still
      arrive, so releasing at-the-boundary events would let such a
      straggler process out of order.
    - A session with no successor event still closes: once the
      watermark strictly passes ``last_event + gap``, no arrivable
      event (ts >= watermark) can land at-or-inside the gap deadline
      (an event AT last+gap would extend the session), so the
      gap-closure is emitted by TIMEOUT — something the ordered
      variant cannot do (it holds trailing sessions forever).
    - The registered timeout is the EARLIEST future obligation: the
      oldest buffered event (process it once the watermark clears it)
      or the open session's gap deadline, clamped above the current
      watermark as the API requires.

    State per user is the open-session triple plus the reorder buffer;
    buffer size is bounded by events-per-user within one watermark
    horizon — O(rate x horizon), the same bound streaming joins carry.
    Emission order across users is nondeterministic (append mode);
    emitted VALUES are deterministic given the replay's batch/watermark
    schedule.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_secs * 1_000_000

    def update(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            # None-valued long fields, NOT a -1 sentinel. (Pre-1970
            # event times — negative epoch micros — can never reach
            # this operator: Spark's initial watermark is epoch zero
            # and the late filter drops rows strictly below it, so the
            # old -1 sentinel was unreachable-but-fragile rather than
            # wrong; None removes the trap outright.)
            start_us, last_us, n, buf_ts, buf_id, buf_et = state.get
            # READ-side compat coercion (ADVICE r9): checkpoints
            # written by the pre-None code stored -1 routinely (any
            # state persisted while all events were still buffered).
            # A resume across that upgrade must not treat -1 as a real
            # timestamp and emit bogus sessions; valid negatives are
            # unreachable (see above), so -1 is unambiguous here.
            if start_us is not None and start_us < 0:
                start_us = None
            if last_us is not None and last_us < 0:
                last_us = None
            buf = list(zip(buf_ts, buf_id, buf_et))
        else:
            start_us = last_us = None
            n = 0
            buf = []
        for pdf in pdf_iter:
            if len(pdf):
                ts_us = (pdf["ts"].astype("int64") // 1000).tolist()
                buf.extend(zip(ts_us, pdf["event_id"].tolist(), pdf["event_type"].tolist()))
        wm_us = state.getCurrentWatermarkMs() * 1000
        # (ts, event_id) order — the SAME tie-break as the ordered
        # variant's sort_values(["ts", "event_id"]), so same-timestamp
        # events process identically in both operators
        buf.sort(key=lambda e: (e[0], e[1]))
        out: list[tuple] = []
        released = 0
        # Strict boundary: Spark's late filter drops only rows STRICTLY
        # below the watermark, so an event with ts == wm can still
        # arrive in a later batch. Releasing it now would let that
        # tie-timestamp straggler process out of order — hold it until
        # the watermark strictly passes it.
        for ts_us, _eid, etype in buf:
            if ts_us >= wm_us:
                break
            released += 1
            if start_us is not None and ts_us - last_us > gap_us:
                out.append((user_id, start_us, last_us, n, "gap"))
                start_us = None
            if start_us is None:
                start_us, n = ts_us, 0
            last_us = ts_us
            n += 1
            if etype == "purchase":
                out.append((user_id, start_us, ts_us, n, "purchase"))
                start_us, n = None, 0
        buf = buf[released:]
        # watermark-driven gap closure, strict for the same reason: an
        # event with ts == last + gap would EXTEND the session
        # (the open test is ts - last > gap), and ts == wm can still
        # arrive — so closing is safe only once wm > last + gap, when
        # every arrivable ts (>= wm) is strictly past the gap deadline
        if start_us is not None and wm_us > last_us + gap_us:
            out.append((user_id, start_us, last_us, n, "gap"))
            start_us, n = None, 0
        if start_us is None and not buf:
            if state.exists:
                state.remove()
        else:
            state.update(
                (
                    None if start_us is None else int(start_us),
                    None if last_us is None else int(last_us),
                    int(n if start_us is not None else 0),
                    [t for t, _, _ in buf],
                    [int(i) for _, i, _ in buf],
                    [e for _, _, e in buf],
                )
            )
            deadlines = []
            if start_us is not None:
                deadlines.append((last_us + gap_us) // 1000)
            if buf:
                deadlines.append(buf[0][0] // 1000)
            state.setTimeoutTimestamp(
                max(min(deadlines), state.getCurrentWatermarkMs() + 1)
            )
        yield pd.DataFrame(
            out, columns=["user_id", "start_us", "end_us", "n_events", "ended_by"]
        )

    raw = (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, start_us long, end_us long, n_events int,"
                " ended_by string"
            ),
            stateStructType=(
                "start_us long, last_us long, n int,"
                " buf_ts array<long>, buf_id array<long>, buf_et array<string>"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return raw.select(
        "user_id",
        F.timestamp_micros("start_us").alias("session_start"),
        F.timestamp_micros("end_us").alias("session_end"),
        "n_events",
        "ended_by",
    )


def session_funnel_ooo(
    stream: DataFrame, gap_secs: int = 1800, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming twin of the batch ``events_session_funnel``
    (operators/analytics.py): emit each session's FUNNEL DEPTH when
    the session closes, correct under out-of-order arrival within the
    watermark horizon.

    Sessionization is the batch operator's exactly: a session is a run
    of per-user events with no silence > gap (functions/sessions.py
    boundary — closes on GAP ONLY, never on purchase, unlike
    ``conversion_sessions_ooo``). Depth is the strictly-after
    progression, folded incrementally as events release in (ts,
    event_id) order — the in-order fold computes the identical values
    to the batch window aggregates (first view = min view; first
    click strictly after it = min qualifying click; purchase likewise):

    - 1 = viewed; 2 = first click strictly after the session's first
      view; 3 = first purchase strictly after THAT click; 0 = session
      with no view.

    Shares ``conversion_sessions_ooo``'s reorder-buffer mechanics and
    its STRICT boundaries: buffered events release only once ts < wm
    (a tie-timestamp straggler can still arrive), and a gap closure
    fires only once wm > last + gap (an event AT last+gap would extend
    the session). State per user: open-session funnel triple + the
    bounded reorder buffer — O(rate x horizon), same as any
    stream-stream join.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_secs * 1_000_000

    def depth_of(t_view, t_click, t_purchase):
        if t_purchase is not None:
            return 3
        if t_click is not None:
            return 2
        if t_view is not None:
            return 1
        return 0

    def update(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            # None-valued long fields, NOT -1 sentinels — see
            # conversion_sessions_ooo (the -1 trap is unreachable
            # under Spark's epoch-zero initial watermark, removed
            # anyway)
            (start_us, last_us, n, t_view, t_click, t_purchase,
             buf_ts, buf_id, buf_et) = state.get
            # READ-side compat coercion for pre-None checkpoints
            # (ADVICE r9): old code stored -1; -1 is never a valid
            # event time here, so coerce on read
            start_us, last_us, t_view, t_click, t_purchase = (
                None if v is not None and v < 0 else v
                for v in (start_us, last_us, t_view, t_click, t_purchase)
            )
            buf = list(zip(buf_ts, buf_id, buf_et))
        else:
            start_us = last_us = t_view = t_click = t_purchase = None
            n = 0
            buf = []
        for pdf in pdf_iter:
            if len(pdf):
                ts_us = (pdf["ts"].astype("int64") // 1000).tolist()
                buf.extend(zip(ts_us, pdf["event_id"].tolist(), pdf["event_type"].tolist()))
        wm_us = state.getCurrentWatermarkMs() * 1000
        # same (ts, event_id) tie-break as the batch sessionizer's
        # orderBy(ts, event_id)
        buf.sort(key=lambda e: (e[0], e[1]))
        out: list[tuple] = []
        released = 0
        for ts_us, _eid, etype in buf:
            if ts_us >= wm_us:  # strict: ts == wm can still arrive
                break
            released += 1
            if start_us is not None and ts_us - last_us > gap_us:
                out.append(
                    (user_id, start_us, last_us, n,
                     depth_of(t_view, t_click, t_purchase))
                )
                start_us = None
            if start_us is None:
                start_us, n = ts_us, 0
                t_view = t_click = t_purchase = None
            last_us = ts_us
            n += 1
            # strictly-after funnel fold, in release order
            if etype == "view" and t_view is None:
                t_view = ts_us
            elif (
                etype == "click"
                and t_click is None
                and t_view is not None
                and ts_us > t_view
            ):
                t_click = ts_us
            elif (
                etype == "purchase"
                and t_purchase is None
                and t_click is not None
                and ts_us > t_click
            ):
                t_purchase = ts_us
        buf = buf[released:]
        # watermark-driven gap closure (strict — see conversion_sessions_ooo)
        if start_us is not None and wm_us > last_us + gap_us:
            out.append(
                (user_id, start_us, last_us, n,
                 depth_of(t_view, t_click, t_purchase))
            )
            start_us, n = None, 0
        if start_us is None and not buf:
            if state.exists:
                state.remove()
        else:
            state.update(
                (
                    None if start_us is None else int(start_us),
                    None if last_us is None else int(last_us),
                    int(n if start_us is not None else 0),
                    None if t_view is None else int(t_view),
                    None if t_click is None else int(t_click),
                    None if t_purchase is None else int(t_purchase),
                    [t for t, _, _ in buf],
                    [int(i) for _, i, _ in buf],
                    [e for _, _, e in buf],
                )
            )
            deadlines = []
            if start_us is not None:
                deadlines.append((last_us + gap_us) // 1000)
            if buf:
                deadlines.append(buf[0][0] // 1000)
            state.setTimeoutTimestamp(
                max(min(deadlines), state.getCurrentWatermarkMs() + 1)
            )
        yield pd.DataFrame(
            out,
            columns=["user_id", "start_us", "end_us", "n_events", "funnel_depth"],
        )

    raw = (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, start_us long, end_us long, n_events int,"
                " funnel_depth int"
            ),
            stateStructType=(
                "start_us long, last_us long, n int, t_view long,"
                " t_click long, t_purchase long, buf_ts array<long>,"
                " buf_id array<long>, buf_et array<string>"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return raw.select(
        "user_id",
        F.timestamp_micros("start_us").alias("session_start"),
        F.timestamp_micros("end_us").alias("session_end"),
        "n_events",
        "funnel_depth",
    )


def _commit_state(
    spark: SparkSession,
    table_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    build,
) -> None:
    """The exactly-once micro-batch body of every sink whose state is
    one manifest table rewritten per batch: the hourly rollup, the
    weekly HLL, the CMS, the dedup index and the domain-cap state.

    foreachBatch replays a batch, with the same ``batch_id``, after a
    crash between the sink's commit and the checkpoint's; folding it
    in twice would double-count. The table's txn mark, keyed by the
    table's own name, is the last batch folded in, and it publishes in
    the same single-rename commit as the state it describes. A batch
    at or below the mark returns before any Spark job runs; so does an
    empty batch, which leaves the mark where it is.

    ``build(batch_df, state)`` returns the new state from the batch
    and the current version (None before the first commit); it may
    also write per-batch outputs that a replay overwrites. The new
    state commits as the next version with ``txn=(name, batch_id)``,
    and the table is vacuumed down to that version and the one before
    it. Readers of the state see whole versions through
    ``manifest.read_table``.

    One stream per state table: batch ids restart at 0 under a new
    checkpoint, and a second stream's ids would be compared against
    the first one's mark."""
    app = os.path.basename(table_dir)
    cur = manifest.read_manifest(table_dir)
    if cur is not None and batch_id <= cur.get("txn", {}).get(app, -1):
        return
    if batch_df.isEmpty():
        return
    state = None if cur is None else manifest.read_table(spark, table_dir)
    manifest.commit(
        build(batch_df, state), table_dir, mode="overwrite",
        txn=(app, int(batch_id)),
    )
    manifest.vacuum(table_dir, keep_last=2)


def _fold(state: DataFrame | None, partial: DataFrame, keys, *merges) -> DataFrame:
    """``partial`` folded into ``state`` (None before the first batch):
    their union regrouped on ``keys`` with the mergeable ``merges``."""
    if state is None:
        return partial
    return state.unionByName(partial).groupBy(*keys).agg(*merges)


def _hourly_rollup(batch: DataFrame, state: DataFrame | None) -> DataFrame:
    partial = batch.groupBy(
        F.date_trunc("hour", "ts").alias("hour_bucket"), "event_type"
    ).agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    return _fold(
        state, partial, ["hour_bucket", "event_type"],
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value").alias("sum_value"),
    )


def run_incremental_rollup(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    schema=None,
) -> StreamingQuery:
    """Incremental materialized-view maintenance: an hourly
    (event_type × hour) rollup table refreshed per micro-batch by
    MERGING partial aggregates — never rescanning history.

    The reference's incremental idea (only new rows move, app.py:96-132)
    applied to AGGREGATES: each batch contributes mergeable partials
    (count/sum), combined with the existing rollup and committed as the
    manifest table's next version. At 100 TB the rollup table is tiny
    relative to events, so refresh cost is O(batch + rollup), not
    O(history).

    Exactly-once WITHOUT a separate state file (_commit_state): the
    last merged batch id is the table's txn mark, so data and dedup
    state publish in one commit. (A sidecar state file would reopen
    the crash window between data write and state write — the same
    §2.C #5 gap the reference has, but non-idempotent for aggregates.)
    """
    agg_path = os.path.join(target_dir, "rollup_hourly")
    # schema forwarded so hive-partitioned sources (whose partition
    # columns a footer cannot type) can pass an explicit DDL
    stream = events_file_stream(spark, source_dir, schema=schema)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        _commit_state(spark, agg_path, batch_df, batch_id, _hourly_rollup)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", os.path.join(target_dir, "_rollup_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def run_stream_hll_rollup(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    schema=None,
) -> StreamingQuery:
    """Incremental DISTINCT-count maintenance — the streaming twin of
    ``agg_hll_rollup_bounds``: per-week DataSketches HLL user sketches
    kept current across micro-batches by SKETCH UNION, never recounting
    history. This is the one aggregate the count/sum-merging rollup
    (run_incremental_rollup) cannot maintain — distinct doesn't sum —
    and exactly why mergeable sketches exist: each batch contributes a
    (week, sketch) partial; merge = register-wise max via
    ``hll_union_agg``, associative and order-independent, so the
    maintained sketch is IDENTICAL to a from-scratch sketch over all
    data (the parity test asserts estimate equality, not closeness).

    State is the manifest table ``hll_weekly`` (weeks × ~2^lgK bytes),
    committed per batch by _commit_state — replayed batches are
    no-ops."""
    agg_path = os.path.join(target_dir, "hll_weekly")
    stream = events_file_stream(spark, source_dir, schema=schema)

    def _sketch(batch: DataFrame, state: DataFrame | None) -> DataFrame:
        partial = batch.groupBy(F.date_trunc("week", "ts").alias("week")).agg(
            F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
        )
        return _fold(state, partial, ["week"], F.hll_union_agg("sk").alias("sk"))

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        _commit_state(spark, agg_path, batch_df, batch_id, _sketch)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option(
            "checkpointLocation", os.path.join(target_dir, "_hll_checkpoint")
        )
        .trigger(availableNow=True)
        .start()
    )


def run_stream_cms(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    token_col: str = "event_type",
    schema=None,
) -> StreamingQuery:
    """Incremental FREQUENCY-sketch maintenance — the streaming twin of
    ``sketch_cms_topk_bounds``: a Count-Min sketch over the streamed
    ``token_col`` kept current across micro-batches by CELL-WISE SUM.
    CMS is a LINEAR sketch (each cell is a plain counter), so the merge
    is exact addition — unlike HLL's register-max the maintained sketch
    EQUALS the from-scratch sketch over all data bit-for-bit, which the
    parity test asserts as full-frame equality, not estimate equality.

    Cell derivation is the SAME shared expression as the batch
    operator (operators.aggregates.cms_cell_array), so seeds/width
    cannot drift. State is the d×w manifest table ``cms_sketch`` (8 K
    rows at the shipped parameters, constant at any stream volume),
    committed per batch by _commit_state — replayed batches are
    no-ops."""
    from etl_data_pipeline_spark.operators.aggregates import cms_cell_array
    agg_path = os.path.join(target_dir, "cms_sketch")
    stream = events_file_stream(spark, source_dir, schema=schema)

    def _sketch(batch: DataFrame, state: DataFrame | None) -> DataFrame:
        partial = (
            batch.select(F.explode(cms_cell_array(F.col(token_col))).alias("c"))
            .groupBy("c.j", "c.bucket")
            .agg(F.count("*").alias("cell_cnt"))
        )
        return _fold(
            state, partial, ["j", "bucket"], F.sum("cell_cnt").alias("cell_cnt")
        )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        _commit_state(spark, agg_path, batch_df, batch_id, _sketch)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option(
            "checkpointLocation", os.path.join(target_dir, "_cms_checkpoint")
        )
        .trigger(availableNow=True)
        .start()
    )


def run_incremental_scd2(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    table: str = "dim_users",
    key_cols: tuple[str, ...] = ("user_id",),
    schema=None,
) -> StreamingQuery:
    """Streaming CDC → SCD2 dimension maintenance: each micro-batch is
    compacted to its LATEST change per key (row_number over ts,
    event_id — the cdc_compact_latest pattern) and applied as ONE SCD2
    upsert, so the dimension table carries full version history while
    the stream runs continuously.

    Exactly-once without a sidecar: foreachBatch is at-least-once (a
    crash between sink write and checkpoint commit replays the batch),
    and the SCD2 sink is idempotent for a REPLAYED batch by
    construction — change detection is a no-op when the incoming row
    equals the current version, and ``batch_ts`` is derived
    deterministically from ``batch_id`` (never wall-clock), so the
    replay closes/opens nothing new. Ordering across batches comes
    from the file stream's oldest-first delivery; within a batch the
    compaction picks the newest change.
    """
    import datetime

    from pyspark.sql.window import Window

    from etl_data_pipeline_spark.sinks import scd2_upsert_parquet

    # schema forwarded so hive-partitioned sources (whose partition
    # columns a footer cannot type) can pass an explicit DDL
    stream = events_file_stream(spark, source_dir, schema=schema)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        w = Window.partitionBy(*key_cols).orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(*key_cols, "event_type", "value")
        )
        batch_ts = (
            datetime.datetime(2030, 1, 1) + datetime.timedelta(seconds=batch_id)
        ).strftime("%Y-%m-%d %H:%M:%S")
        scd2_upsert_parquet(
            spark,
            latest,
            table,
            {"dir": target_dir},
            key_cols,
            batch_ts=batch_ts,
        )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", os.path.join(target_dir, "_scd2_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def run_incremental_micro_batch(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    state_path: str,
    table: str = "events",
    watermark_column: str = "event_id",
    watermark_type: str = "id",
    schema=None,
) -> StreamingQuery:
    """foreachBatch incremental sink: each micro-batch appends to
    parquet AND advances the engine watermark store — the exact
    streaming replacement of the reference's read→load→advance loop
    (app.py:141-172), with the checkpoint providing crash consistency.

    Unlike the reference's sequential daily runs, micro-batches are
    NOT ordered by the watermark column (file order ≠ key order), so
    the store advances monotonically: max(stored, batch max).

    Exactly-once: each micro-batch writes to its own ``batch=<id>``
    partition directory with OVERWRITE — foreachBatch offers
    at-least-once delivery (a crash after write but before checkpoint
    commit replays the batch), so a plain append would duplicate rows
    on retry; the deterministic per-batch path makes the replayed write
    land on top of itself instead.
    """
    store = WatermarkStore(state_path)
    # schema forwarded so hive-partitioned sources (whose partition
    # columns a footer cannot type) can pass an explicit DDL
    stream = events_file_stream(spark, source_dir, schema=schema)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return  # empty batch => no write, watermark unchanged (app.py:147-153)
        # persist: the watermark agg and the write are two ACTIONS over
        # the batch frame — unpersisted, the source files are read
        # twice per micro-batch
        batch_df = batch_df.persist()
        try:
            new_wm = batch_df.agg(F.max(watermark_column)).first()[0]
            batch_df.write.mode("overwrite").parquet(
                os.path.join(target_dir, table, f"batch={batch_id}")
            )
        finally:
            batch_df.unpersist()
        if new_wm is not None:  # only after successful write
            current = parse_watermark(store.get(table), watermark_type)
            if current is None or new_wm > current:
                store.set(table, new_wm)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(target_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def run_stream_to_manifest(
    spark: SparkSession,
    source_dir: str,
    table_dir: str,
    app_id: str,
    schema=None,
    checkpoint_dir: str | None = None,
    compact_every: int | None = None,
) -> StreamingQuery:
    """foreachBatch → manifest table with the transaction fence: each
    micro-batch appends as one atomic manifest commit carrying
    ``txn=(app_id, batch_id)`` (sinks/manifest.py).

    Exactly-once the way Delta's txnAppId/txnVersion does it:
    foreachBatch is at-least-once (a crash after the sink write but
    before the streaming checkpoint commits re-executes the batch with
    the SAME batch_id), and the manifest records the highest committed
    batch id per app — the data and its fence publish in the same
    single-rename commit, so a replayed batch is detected and skipped
    before reading it at all. Unlike run_incremental_micro_batch's
    per-batch partition directories, the result is ONE versioned table
    with snapshot isolation, history, and compaction.

    ``app_id`` must be stable across restarts of the SAME logical job
    (it keys the fence) and unique per checkpoint — restarting with a
    fresh checkpoint but the same app_id would wrongly skip batches.

    ``compact_every=N`` folds the version's dir list every N batches
    (a layout-only ``data_change: false`` commit): O(delta) appends
    grow one directory per micro-batch, and unbounded that makes reads
    union thousands of deltas — inline periodic compaction is the
    streaming table's small-files hygiene. Change-feed consumers are
    unaffected (read_changes skips layout-only versions).
    """
    stream = events_file_stream(spark, source_dir, schema=schema)
    ckpt = checkpoint_dir or os.path.join(table_dir, "_checkpoint")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # empty micro-batches still advance the fence: a replay of an
        # empty batch is a no-op either way, and recording it keeps
        # the (app_id -> batch) mark contiguous for observers
        m = manifest.commit(
            batch_df, table_dir, mode="append", txn=(app_id, int(batch_id))
        )
        if (
            compact_every
            and len(m.get("dirs", ())) >= compact_every
            # replayed (fenced-out) batches return the old manifest;
            # only compact after a commit this batch actually made
            and m.get("txn", {}).get(app_id) == int(batch_id)
        ):
            manifest.compact(batch_df.sparkSession, table_dir)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def run_stream_merge(
    spark: SparkSession,
    source_dir: str,
    table_dir: str,
    app_id: str,
    key_cols: tuple[str, ...] = ("user_id",),
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    schema=None,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Streaming CDC → CURRENT-STATE table: each micro-batch is
    compacted to its latest change per key (row_number over the order
    columns — the cdc_compact_latest pattern) and applied as ONE
    row-level MERGE into a manifest table (manifest.merge_upsert), so
    the table always holds exactly the newest version of every key —
    the Delta `foreachBatch + MERGE` streaming-upsert idiom, and the
    SCD TYPE 1 counterpart of run_incremental_scd2's history-keeping
    TYPE 2.

    Exactly-once is DOUBLE-fenced: the manifest txn mark
    ``(app_id, batch_id)`` skips a replayed batch before reading it,
    and merge itself is idempotent by semantics (replacing a row with
    the same row). The merge's footer-stats pruning keeps per-batch
    cost O(matched dirs + batch) as the table grows — a hot-keys batch
    rewrites only the directories containing those keys.

    Upsert-only: deletes/tombstones are out of scope here (the change
    feed cannot express them either); route deletions through a full
    recompute or an SCD2 history table.
    """
    from pyspark.sql.window import Window

    stream = events_file_stream(spark, source_dir, schema=schema)
    ckpt = checkpoint_dir or os.path.join(table_dir, "_checkpoint")
    keys = list(key_cols)
    order = [F.col(c).desc() for c in order_cols]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return  # nothing to merge; fence advances on data batches only
        w = Window.partitionBy(*keys).orderBy(*order)
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        manifest.merge_upsert(
            batch_df.sparkSession, table_dir, latest, tuple(keys),
            txn=(app_id, int(batch_id)),
        )

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def run_incremental_dedup(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    schema=None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Streaming incremental near-dup ingest — the continuous form of
    ``llm.dedup.dedup_minhash_incremental``: each micro-batch of
    arriving documents is probed against the PERSISTED signature index
    of everything ingested before it, every document gets a keep /
    skip_duplicate decision row (with its best match and exact
    Jaccard), and the kept documents' signatures are appended to the
    index — the "don't re-ingest copies" gate a production corpus
    pipeline runs at the door.

    State layout: ONE index row per kept doc — (doc_id, band
    signatures array, shingle-hash set) — in the manifest table
    ``dedup_index``, rewritten per batch as index ∪ kept by
    _commit_state, so data and exactly-once dedup state are a single
    commit (a replayed batch after a crash between write and
    checkpoint-commit is a no-op, and the per-batch-id decision
    directories are overwrite-idempotent). Probing explodes
    the index's band arrays per batch — O(index × bands) at this
    scale; a production layout materializes the banded table as the
    persisted artifact instead (llm.dedup.dedup_minhash_incremental's
    shape) and this job's contract is unchanged.

    Within-batch duplicates: the batch is first exact-deduped on a
    content digest (min doc_id kept; the dropped rows get
    skip_duplicate decisions against the batch-local keeper), so two
    identical documents arriving together cannot both enter the
    index. NEAR-dup pairs arriving in one batch both pass (the
    window a streaming dedup can miss by design — a nightly
    dedup_minhash_lsh sweep over the index closes it).
    """
    from etl_data_pipeline_spark.llm.dedup import (
        JACCARD_THRESHOLD,
        LSH_BANDS,
        MINHASH_P,
        _md5_long,
        _minhash_cols,
        _shingles,
    )
    from pyspark.sql.window import Window

    index_path = os.path.join(target_dir, "dedup_index")
    decisions_dir = os.path.join(target_dir, "dedup_decisions")
    stream = events_file_stream(spark, source_dir, schema=schema)

    def _probe(batch_df: DataFrame, batch_id: int) -> None:
        persisted: list[DataFrame] = []

        def build(batch: DataFrame, index: DataFrame | None) -> DataFrame:
            # within-batch exact dedup: digest keeper wins, losers get
            # batch-local skip decisions
            w_dig = Window.partitionBy("digest").orderBy("doc_id")
            by_digest = batch.select(
                "doc_id", "text", F.md5("text").alias("digest")
            ).withColumn("keeper_doc", F.first("doc_id").over(w_dig))
            exact_skips = (
                by_digest.filter(F.col("doc_id") != F.col("keeper_doc"))
                .select(
                    "doc_id",
                    F.lit("skip_duplicate").alias("decision"),
                    F.col("keeper_doc").alias("match_doc"),
                    F.lit(1.0).alias("match_jaccard"),
                )
            )
            uniq = by_digest.filter(F.col("doc_id") == F.col("keeper_doc"))
            sh_hashed = F.array_distinct(
                F.transform(_shingles(), lambda t: _md5_long(t))
            )
            ms = uniq.select(
                "doc_id", sh_hashed.alias("sh_hash")
            ).select("doc_id", "sh_hash", *_minhash_cols())
            bands = F.array(
                *[
                    (F.col(f"mh{2 * b}") * MINHASH_P + F.col(f"mh{2 * b + 1}"))
                    for b in range(LSH_BANDS)
                ]
            )
            # persist: consumed by the probe AND (filtered) the index
            # merge — without it the shingle+minhash compute runs twice
            batch_sigs = ms.select("doc_id", "sh_hash", bands.alias("bands")).persist()
            persisted.append(batch_sigs)
            uniq_ids = batch_sigs.select("doc_id")
            if index is not None:
                b_band = batch_sigs.select(
                    F.col("doc_id").alias("batch_doc"),
                    F.col("sh_hash").alias("sh_b"),
                    F.posexplode("bands").alias("band_id", "band_sig"),
                )
                i_band = index.select(
                    F.col("doc_id").alias("index_doc"),
                    F.col("sh_hash").alias("sh_i"),
                    F.posexplode("bands").alias("band_id", "band_sig"),
                )
                cand = (
                    b_band.join(i_band, ["band_id", "band_sig"])
                    .select("batch_doc", "index_doc", "sh_b", "sh_i")
                    .dropDuplicates(["batch_doc", "index_doc"])
                )
                s_int = F.size(F.array_intersect("sh_b", "sh_i"))
                jac = s_int / F.greatest(
                    F.size("sh_b") + F.size("sh_i") - s_int, F.lit(1)
                )
                # round BEFORE the threshold filter and the
                # best-match window, exactly like the batch twin
                # (dedup_minhash_incremental, llm/dedup.py): with
                # rounding only at output, a raw jaccard in
                # [threshold - 5e-7, threshold) was kept by batch
                # and dropped here (and ulp-apart candidates could
                # rank differently) — divergent decisions between
                # two documented-identical paths
                verified = cand.select(
                    "batch_doc", "index_doc", hround(jac, 6).alias("jaccard")
                ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
                best = Window.partitionBy("batch_doc").orderBy(
                    F.desc("jaccard"), F.asc("index_doc")
                )
                matches = (
                    verified.withColumn("rn", F.row_number().over(best))
                    .filter(F.col("rn") == 1)
                    .select(
                        F.col("batch_doc").alias("doc_id"),
                        F.col("index_doc").alias("match_doc"),
                        F.col("jaccard").alias("match_jaccard"),
                    )
                )
                decided = uniq_ids.join(matches, "doc_id", "left").select(
                    "doc_id",
                    F.when(F.col("match_doc").isNotNull(), "skip_duplicate")
                    .otherwise("keep")
                    .alias("decision"),
                    "match_doc",
                    "match_jaccard",
                )
            else:
                decided = uniq_ids.select(
                    "doc_id",
                    F.lit("keep").alias("decision"),
                    F.lit(None).cast("long").alias("match_doc"),
                    F.lit(None).cast("double").alias("match_jaccard"),
                )
            # persist: `decided` embeds the O(index) band join +
            # exact-jaccard verify, and it feeds TWO actions (the
            # decision write and the index commit's kept filter) —
            # unpersisted, the dominant per-batch cost ran twice
            decided = decided.persist()
            persisted.append(decided)
            decisions = decided.unionByName(exact_skips)
            # idempotent per-batch sink: replay overwrites, never appends
            decisions.write.mode("overwrite").parquet(
                os.path.join(decisions_dir, f"batch={batch_id}")
            )
            kept = batch_sigs.join(
                decided.filter(F.col("decision") == "keep").select("doc_id"),
                "doc_id",
            ).select("doc_id", "bands", "sh_hash")
            return kept if index is None else index.unionByName(kept)

        try:
            _commit_state(spark, index_path, batch_df, batch_id, build)
        finally:
            for df in persisted:
                df.unpersist()

    return (
        stream.writeStream.foreachBatch(_probe)
        .option("checkpointLocation", os.path.join(target_dir, "_dedup_checkpoint"))
        # availableNow by default (drain-and-stop, the test/replay
        # shape); pass e.g. {"processingTime": "1 second"} for the
        # continuous soak form — the exactly-once story is identical
        # (txn mark + overwrite-idempotent decisions), only the
        # scheduler differs
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


ANN_BATCH_SCHEMA = "vec_id bigint, embedding array<double>, label int"


def run_incremental_ann_index(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    sf_dir: str,
    schema=None,
    trigger: dict | None = None,
    app_id: str = "ann_index",
    compact_every: int | None = None,
) -> StreamingQuery:
    """Streaming IVF index MAINTENANCE — the continuous form of
    ``llm.similarity.write_ivf_index``: each micro-batch of newly
    arriving vectors is cell-assigned against a FROZEN coarse
    quantizer (the same deterministic seed-centroid set the batch
    build uses — a production deployment trains its quantizer offline
    and only re-trains with a full index rebuild, FAISS's
    train-once/add-many contract) and APPENDED to the partitioned
    index, so the index a point lookup prunes is always current
    without ever rebuilding it. The missing half of the r8/r9 index
    story: write_ivf_index builds the 100 TB layout once;
    this job keeps it fresh as the corpus grows.

    Exactly-once without full-index rewrites: the index is a manifest
    TABLE (sinks.manifest) partitioned by (cell, label) — each batch
    is ONE O(delta) append commit carrying the Delta-style
    ``txn=(app_id, batch_id)`` transaction fence, so the batch data
    and its replay mark publish in a single atomic rename, and a
    replayed batch after a crash between write and checkpoint-commit
    is detected without reading the batch at all. Contrast
    run_incremental_dedup, whose per-batch state commit REWRITES its
    (small, signature-only) index: an ANN index is the corpus, so
    maintenance must be O(batch), never O(index).

    Every batch vector gets a decision row — ``indexed`` with its
    cell, or ``unindexed`` for bucket-miss vectors (no shortlisted
    centroid: sem_assign's convention, identical to the batch build,
    where such vectors are absent from the layout) — written
    overwrite-idempotent per batch id like the dedup decisions.

    Reads: ``query_incremental_ann_index`` (llm.similarity) — probed
    (cell, label) pairs are pruned to the LEAF directories that exist
    under each committed delta dir, so a lookup touches only the
    probed inverted lists of only the batches that wrote them.

    ``app_id`` namespaces the txn fence and is coupled to the
    CHECKPOINT, not the table: batch ids restart at 0 under a fresh
    checkpoint, so resuming the same table with a new checkpoint (or
    feeding it from a second source) REQUIRES a new app_id — reusing
    one would make the fence silently skip every batch up to the old
    high-water mark (the same contract as run_incremental_events).

    ``compact_every=N`` folds the delta-dir list whenever it reaches N
    (a layout-only commit, run_incremental_events' hygiene knob): a
    point lookup reads ≤ nprobe probed leaf dirs PER delta dir, so an
    uncompacted long-running index makes lookups union one tiny file
    per batch per probed list — compaction folds them back to one
    file per inverted list, restoring write_ivf_index's read shape.
    """
    from etl_data_pipeline_spark.llm.similarity import (
        _dot,
        _rank_shortlist,
        _seed_centroids,
    )
    from etl_data_pipeline_spark.functions.caching import tracked_persist
    from etl_data_pipeline_spark.session import load_table, spread

    index_table = os.path.join(target_dir, "ann_index")
    decisions_dir = os.path.join(target_dir, "ann_decisions")
    # The quantizer is frozen at job start (and identical across
    # restarts: a deterministic id-sample of the BASE corpus) — per
    # batch it is only re-read from cache, never re-derived. Its
    # COUNT is frozen with it: sem_scored would otherwise rerun a
    # blocking count() job per micro-batch for a constant. The base
    # corpus frame is deliberately NOT persisted (unlike the batch
    # builds' _ivf_corpus): a long-running ingest would otherwise pin
    # O(corpus) executor memory for the query's lifetime while every
    # batch touches only the small centroid subset — the corpus is
    # scanned once, when c0 materializes.
    base = (
        spread(load_table(spark, sf_dir, "embeddings"))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    c0 = tracked_persist(_seed_centroids(base))
    n_centroids = c0.count()

    stream = events_file_stream(spark, source_dir, schema=schema or ANN_BATCH_SCHEMA)

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # persist BOTH batch-derived frames: inside foreachBatch the
        # batch source is re-read per ACTION, and this function runs
        # two (decisions write, index commit) over frames that each
        # reference b and cells more than once — unpersisted, the
        # ingest-probe measured the 2 000-row source read 7× per
        # micro-batch (numInputRows 14 000), with the shortlist
        # scoring re-executed alongside
        b = (
            batch_df.select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("v"),
                "label",
            )
            .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
            .persist()
        )
        cells = (
            _rank_shortlist(b.select("vec_id", "v", "nrm"), c0, n_centroids)
            .filter(F.col("arank") == 1)
            .select("vec_id", F.col("centroid_id").alias("cell"))
            .persist()
        )
        try:
            indexed = b.join(cells, "vec_id").select("vec_id", "v", "cell", "label")
            decisions = (
                b.select("vec_id")
                .join(cells, "vec_id", "left")
                .select(
                    "vec_id",
                    F.when(F.col("cell").isNotNull(), "indexed")
                    .otherwise("unindexed")
                    .alias("decision"),
                    "cell",
                )
            )
            # idempotent per-batch decision sink: replay overwrites
            decisions.write.mode("overwrite").parquet(
                os.path.join(decisions_dir, f"batch={batch_id}")
            )
            # An ALL-bucket-miss batch has nothing to append — and an
            # empty partitionBy write produces a delta dir with ZERO
            # parquet files, which would make every later read of the
            # union fail schema inference (reproduced in review). The
            # decisions above are the durable record for such a batch;
            # skipping the commit (and its txn mark) is safe because a
            # replay re-derives the same empty append and the decision
            # overwrite is idempotent.
            if cells.isEmpty():
                return
            # ONE atomic O(delta) append; the txn fence makes a replayed
            # batch a read-nothing no-op. One file per touched inverted
            # list (repartition on the partition columns — the same 32×
            # file-count fix write_ivf_index carries).
            m = manifest.commit(
                indexed.repartition(F.col("cell"), F.col("label")),
                index_table,
                mode="append",
                txn=(app_id, int(batch_id)),
                partition_by=("cell", "label"),
            )
            if (
                compact_every
                and len(m.get("dirs", ())) >= compact_every
                # replayed (fenced-out) batches return the old manifest;
                # only compact after a commit this batch actually made
                and m.get("txn", {}).get(app_id) == int(batch_id)
            ):
                manifest.compact(spark, index_table)
        finally:
            cells.unpersist()
            b.unpersist()

    return (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", os.path.join(target_dir, "_ann_checkpoint"))
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


DOC_BATCH_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def run_incremental_classifier_scores(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    sf_dir: str,
    schema=None,
    trigger: dict | None = None,
    app_id: str = "clf_scores",
) -> StreamingQuery:
    """Continuous corpus scoring with the TRAINED classifier — the
    streaming twin of ``llm.features.classifier_score_corpus``, and
    the deployment shape of a learned quality filter: the model is
    trained ONCE at job start on the base corpus
    (classifier_train_lr's exact oracled trajectory, ≤ 33 rows,
    frozen — the train-once/score-many contract
    run_incremental_ann_index's quantizer follows), then every
    micro-batch of newly arriving documents is featurized with the
    SAME recipe (llm.features.lr_doc_features — one definition, so the
    scoring path cannot drift from what the weights were trained on)
    and scored with one broadcast join + per-doc aggregate.

    Exactly-once: per-batch scores land in a manifest table via one
    O(delta) append carrying the Delta-style ``txn=(app_id,
    batch_id)`` fence — a replayed batch after a crash between write
    and checkpoint-commit is a read-nothing no-op, identical to the
    ANN index maintenance sink. Because featurization is per-row
    (tokens of one doc only), a document's streamed score is
    bit-identical to its batch score — test-pinned against
    classifier_score_corpus over the same corpus.

    ``app_id`` is coupled to the CHECKPOINT, not the table: batch ids
    restart at 0 under a fresh checkpoint, so a new checkpoint (or a
    second feeding source) requires a new app_id — the standing fence
    contract of every txn-fenced sink here."""
    from etl_data_pipeline_spark.functions.rounding import hround
    from etl_data_pipeline_spark.llm.features import (
        _lr_trained_weights,
        lr_doc_features,
    )

    _X, W = _lr_trained_weights(spark, sf_dir)  # frozen, localCheckpointed
    scores_table = os.path.join(target_dir, "clf_scores")
    stream = events_file_stream(
        spark, source_dir, schema=schema or DOC_BATCH_SCHEMA
    )

    def _score(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # persist: lr_doc_features' union reads its input twice
        # (bucket rows + intercept rows) — unpersisted, the batch
        # source files re-read per branch (the ANN ingest probe's
        # finding, same mechanism)
        b = batch_df.select("doc_id", "text").persist()
        try:
            scored = (
                lr_doc_features(b)
                .join(F.broadcast(W), "j")
                .groupBy("doc_id")
                .agg(hround(F.sum(F.col("x") * F.col("w")), 6).alias("m"))
                .select(
                    "doc_id",
                    hround(
                        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m"))), 6
                    ).alias("score"),
                    (F.col("m") >= 0).alias("keep"),
                )
            )
            # one small file per batch: scores are doc-grain scalars
            # (coalesce(1) keeps the delta-dir file count at one; a
            # long-running job folds history with manifest.compact)
            manifest.commit(
                scored.coalesce(1),
                scores_table,
                mode="append",
                txn=(app_id, int(batch_id)),
            )
        finally:
            b.unpersist()

    return (
        stream.writeStream.foreachBatch(_score)
        .option(
            "checkpointLocation", os.path.join(target_dir, "_clf_checkpoint")
        )
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def run_incremental_domain_cap(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    cap_share: float | None = None,
    schema=None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Streaming incremental domain capping — the continuous form of
    ``llm.curation.corpus_domain_cap``: each micro-batch of arriving
    documents is door-gated against the per-source token-share cap
    computed over EVERYTHING ingested so far (this batch included),
    every document gets a keep / skip_over_cap decision row carrying
    the threshold it was judged under, and the per-source running
    totals advance. This is exactly why the batch operator's keep
    rule is a salted content-independent hash THRESHOLD and not a
    rank: the threshold for a source only shrinks as its share grows
    (monotone), so the streaming gate needs no per-doc state at all —
    state is ONE row per source, O(|sources|) forever, and the
    decision is a map-side hash compare whatever the arrival order.

    Convergence contract (test-pinned): running totals never depend
    on keep decisions (capping audits the FULL ingested corpus, as in
    the batch op), so after any ingest the state-derived thresholds
    are IDENTICAL to ``corpus_domain_cap``'s audit on the same rows,
    and the final batch's decisions match the batch operator's kept
    set exactly. Early-batch keeps may sit above a LATER (smaller)
    threshold — inherent to door-gating (a doc once emitted cannot be
    un-emitted); a periodic batch re-cap over the kept store closes
    that window, same division of labor as the dedup job's nightly
    LSH sweep.

    Exactly-once: the state is the manifest table ``domcap_state``,
    committed per batch by _commit_state, and the per-batch decision
    directories are overwrite-idempotent — the run_incremental_dedup
    recipe. A batch replayed after a crash before its state commit
    rewrites the same decisions; one replayed after it is a no-op.
    """
    from etl_data_pipeline_spark.functions.hashing import md5_long60
    from etl_data_pipeline_spark.llm.curation import (
        DOMAIN_CAP_SALT,
        DOMAIN_CAP_SHARE,
    )

    share = DOMAIN_CAP_SHARE if cap_share is None else cap_share
    state_path = os.path.join(target_dir, "domcap_state")
    decisions_dir = os.path.join(target_dir, "domcap_decisions")
    stream = events_file_stream(
        spark, source_dir, schema=schema or DOC_BATCH_SCHEMA
    )

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        persisted: list[DataFrame] = []

        def build(batch: DataFrame, state: DataFrame | None) -> DataFrame:
            docs = batch.select(
                "doc_id",
                "source",
                F.size(F.split("text", " ")).alias("n_tokens"),
            ).persist()
            persisted.append(docs)
            batch_stats = docs.groupBy("source").agg(
                F.count("*").alias("docs_b"),
                F.sum("n_tokens").alias("tokens_b"),
            )
            if state is not None:
                merged = (
                    state.select("source", "docs_pre", "tokens_pre")
                    .join(batch_stats, "source", "full")
                    .select(
                        "source",
                        (
                            F.coalesce("docs_pre", F.lit(0))
                            + F.coalesce("docs_b", F.lit(0))
                        ).alias("docs_pre"),
                        (
                            F.coalesce("tokens_pre", F.lit(0))
                            + F.coalesce("tokens_b", F.lit(0))
                        ).alias("tokens_pre"),
                    )
                )
            else:
                merged = batch_stats.select(
                    "source",
                    F.col("docs_b").alias("docs_pre"),
                    F.col("tokens_b").alias("tokens_pre"),
                )
            total = merged.agg(F.sum("tokens_pre").alias("total_tokens"))
            # same quantized-threshold arithmetic as the batch op
            # (exact IEEE doubles, same operation order) so the
            # convergence contract is bit-level, not approximate
            thresh = merged.crossJoin(F.broadcast(total)).select(
                "source",
                "docs_pre",
                "tokens_pre",
                F.floor(
                    F.least(
                        F.lit(1.0),
                        F.lit(share)
                        * F.col("total_tokens").cast("double")
                        / F.col("tokens_pre"),
                    )
                    * 1000000
                    + 0.5
                )
                .cast("long")
                .alias("keep_thresh"),
            )
            doc_hash = (
                md5_long60(F.concat(F.lit(DOMAIN_CAP_SALT), F.col("doc_id")))
                % 1000000
            )
            decisions = docs.join(
                F.broadcast(thresh.select("source", "keep_thresh")),
                "source",
            ).select(
                "doc_id",
                "source",
                "n_tokens",
                F.when(doc_hash < F.col("keep_thresh"), "keep")
                .otherwise("skip_over_cap")
                .alias("decision"),
                "keep_thresh",
            )
            # idempotent per-batch sink: replay overwrites, never appends
            decisions.write.mode("overwrite").parquet(
                os.path.join(decisions_dir, f"batch={batch_id}")
            )
            return thresh

        try:
            _commit_state(spark, state_path, batch_df, batch_id, build)
        finally:
            for df in persisted:
                df.unpersist()

    return (
        stream.writeStream.foreachBatch(_gate)
        .option(
            "checkpointLocation", os.path.join(target_dir, "_domcap_checkpoint")
        )
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
