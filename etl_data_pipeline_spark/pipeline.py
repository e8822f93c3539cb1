"""Incremental pipeline runner.

The Spark-native replacement for the reference's two orchestration
layers at once:

- the per-table CLI loop (app.py:88-177): resolve watermark -> read ->
  empty-gate -> load -> advance watermark, with per-table error
  isolation (app.py:175-177);
- the Airflow DAG's parallel fan-out (dags/…:116-187) with its
  concurrency cap of 4 (dags/…:89-90), replaced by a ThreadPoolExecutor
  submitting per-table DataFrame jobs into one FAIR-scheduled
  SparkSession.

Semantics preserved exactly (SURVEY.md §2.C):
1. strict ``>`` watermark filter;
2. degrade-to-full-load on bad/unknown watermark state;
3. empty batch => load skipped, watermark unchanged (app.py:147-153);
4. watermark advanced only after a successful load (app.py:157-172);
5. one table's failure never stops the others.

Deliberate fix over the reference: the sink can be idempotent
(merge_keys) so a crash between load and watermark-write replays
safely instead of duplicating rows (§2.C #5/#7).

A table takes one of two paths, by its watermark: a data column, or
the version feed of a manifest-table source. The paths differ only in
how they resolve the watermark, read the batch and gate an empty
batch; both then hand the batch to one load step — expectations gate,
latest-per-key compaction, sink write, watermark advance.
"""

from __future__ import annotations

import logging
import os
import re
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

from etl_data_pipeline_spark.functions.caching import free_checkpoint
from etl_data_pipeline_spark.schema import validate_schema
from etl_data_pipeline_spark.sinks import (
    _target_path,
    idempotent_append_parquet,
    write_sink,
)
from etl_data_pipeline_spark.sources import jdbc_incremental_dbtable, read_source
from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
from etl_data_pipeline_spark.watermark import (
    WatermarkStore,
    apply_watermark,
    max_watermark,
    parse_watermark,
)

log = logging.getLogger(__name__)

# engine column carrying each version-feed row's source commit version;
# it orders the latest-per-key compaction and never reaches a sink
_FEED_VERSION = "_feed_version"


def incremental_source_options(t: TableSpec, raw_watermark: str | None) -> dict:
    """Source options for this run — for an incremental JDBC table
    with a live watermark, embed the strict-> predicate SERVER-SIDE as
    a dbtable subquery (jdbc_incremental_dbtable), so the database
    never ships already-loaded rows even where Spark's own pushdown
    cannot translate the filter. The Catalyst-side apply_watermark
    still runs (harmless on pre-filtered rows; sole filter for every
    other source format). A caller-provided dbtable wins — it may
    already be a custom pushdown subquery. 'dialect' picks the
    identifier quoting and is consumed here (jdbc_reader_options does
    not forward unknown keys to the JVM); when absent it is INFERRED
    from the JDBC URL subprotocol (dialect_for_url) — a MySQL URL
    must never get ANSI double-quoting by default, because MySQL reads
    it as a string literal and the predicate silently matches nothing."""
    from etl_data_pipeline_spark.sources import dialect_for_url

    opts = dict(t.source_options)
    if (
        t.source_format in ("jdbc", "pglive")
        and t.is_incremental
        and t.watermark_column
        and "dbtable" not in opts
    ):
        # pglive is PostgreSQL by definition; jdbc infers from the URL
        dialect = opts.pop("dialect", None) or (
            "postgres"
            if t.source_format == "pglive"
            else dialect_for_url(opts.get("url"))
        ) or "ansi"
        opts["dbtable"] = jdbc_incremental_dbtable(
            t.name,
            t.watermark_column,
            t.watermark_type,
            raw_watermark,
            dialect=dialect,
        )
    return opts


@dataclass
class TableRunResult:
    table: str
    status: str  # 'loaded' | 'skipped_empty' | 'failed'
    rows: int | None = None
    new_watermark: Any | None = None
    error: str | None = None
    # 'retryable' | 'fatal' when the failure carried a JDBC SQLSTATE /
    # vendor code (sources.jdbc_error_class); None for non-JDBC errors
    error_class: str | None = None


class IncrementalPipeline:
    """Config-driven incremental copy pipeline over Spark DataFrames."""

    def __init__(
        self,
        spark: SparkSession,
        spec: PipelineSpec,
        store: WatermarkStore,
        authoritative_watermarks: frozenset[str] = frozenset(),
    ):
        self.spark = spark
        self.spec = spec
        self.store = store
        # tables whose watermark was EXPLICITLY seeded for this run
        # (LAST_WATERMARK_<T> env, app.py:99-100): the operator is
        # asserting the value, so the sink-reset full-load guard must
        # not override it — a seeded watermark against a fresh target
        # is the documented delta-export pattern, not state drift.
        self.authoritative_watermarks = authoritative_watermarks

    # -- single table -------------------------------------------------

    def run_table(self, t: TableSpec) -> TableRunResult:
        self._validate_sink_config(t)
        if t.source_format == "manifest" and t.watermark_type == "version":
            return self._run_table_version_feed(t)
        return self._run_table_column_watermark(t)

    @staticmethod
    def _validate_sink_config(t: TableSpec) -> None:
        """Pure-config sink contract, checked BEFORE any data work, so
        an empty or all-quarantined batch cannot advance the watermark
        while masking a static misconfiguration until some later batch
        happens to carry clean rows.

        - mode 'upsert' requires manifest + merge_keys: a silent
          append degrade would duplicate every updated key — the exact
          corruption upsert exists to prevent.
        - merge_keys with a non-manifest sink require parquet: the
          idempotent append WRITES parquet, so csv/json/orc/avro/xml
          with merge_keys would silently produce parquet files under
          the declared format's path (and jdbc would die on a
          KeyError) — reject the combination loudly instead."""
        if t.sink_options.get("mode") == "upsert" and (
            t.sink_format != "manifest" or not t.merge_keys
        ):
            raise ValueError(
                f"table {t.name}: sink mode 'upsert' requires "
                f"sink_format='manifest' AND merge_keys "
                f"(got format={t.sink_format!r}, "
                f"merge_keys={t.merge_keys!r})"
            )
        if t.merge_keys and t.sink_format not in ("manifest", "parquet"):
            raise ValueError(
                f"table {t.name}: merge_keys are honored via the manifest "
                f"content fence or the parquet idempotent append; "
                f"sink_format={t.sink_format!r} with merge_keys would "
                f"silently write parquet under the declared format's "
                f"target — use sink_format 'manifest' or 'parquet', or "
                f"drop merge_keys"
            )

    def _run_table_version_feed(self, t: TableSpec) -> TableRunResult:
        """Version-keyed incremental copy from a manifest-table source:
        the watermark is the source's MANIFEST VERSION, not a data
        column — no watermark column needed, no strict-> scan of the
        table, and the read is O(delta) (manifest.read_changes unions
        only the directories committed since the recorded version).

        Ordering of the three reads is load-bearing: the head version
        is captured FIRST and both the feed and the recorded progress
        are pinned to it (read_changes until_version), so a commit
        landing mid-run is simply next run's delta — never skipped,
        never double-read. No checkpoint is needed, unlike the
        column-watermark path: the feed resolves to IMMUTABLE
        directories, so every action over it reads identical bytes by
        construction.

        Degrade paths mirror §2.C: unparseable recorded version → full
        feed; recorded version but wiped sink → full feed (rebuild);
        an OVERWRITE in the un-consumed range breaks append-only
        change semantics → full snapshot resync (warn loudly; with
        merge_keys the resync is idempotent, rows deleted upstream are
        retained downstream — the documented append-only contract).
        """
        from etl_data_pipeline_spark.sinks.manifest import (
            FeedBrokenError,
            VacuumedError,
            read_changes,
            read_manifest,
            read_table,
        )

        opts = dict(t.source_options)
        src_path = _target_path(t.name, opts)
        raw = self.store.get(t.name)
        if raw is None:
            # EITHER the genuine first run (sink absent — the guard
            # passes and the replay builds it) OR a lost/corrupted
            # watermark store against a populated sink, where a
            # full-feed plain append would duplicate every row: the
            # same guard every other replaying degrade path takes.
            self._guard_resync_duplication(t, "missing version watermark")
        try:
            # a NEGATIVE recorded version is corruption, not progress:
            # treat it like any unparseable value
            since = int(raw) if raw is not None else 0
            if since < 0:
                raise ValueError(f"negative version watermark {raw!r}")
        except (TypeError, ValueError):
            log.warning(
                "table %s: unparseable version watermark %r — degrading to"
                " full feed",
                t.name,
                raw,
            )
            self._guard_resync_duplication(
                t, f"unparseable version watermark {raw!r}"
            )
            since = 0
        cur = read_manifest(src_path)
        if cur is None:
            raise FileNotFoundError(f"no committed version in {src_path!r}")
        head = cur["version"]
        if since > head:
            # the source was REBUILT (its history restarted below our
            # recorded progress): the watermark is from a different
            # table lifetime. Skipping until head catches up would
            # silently drop everything the new lifetime holds —
            # resync from scratch instead (idempotent under merge
            # keys), the same safe-side answer as every other
            # inconsistent-state path (§2.C #2).
            log.warning(
                "table %s: recorded version %s exceeds source head %s —"
                " source was rebuilt; resyncing from scratch",
                t.name,
                since,
                head,
            )
            self._guard_resync_duplication(t, "source-rebuild resync")
            since = 0
        if (
            since > 0
            and t.name not in self.authoritative_watermarks
            and self._sink_reset_since_watermark(t)
        ):
            log.warning(
                "table %s: version watermark %r recorded but sink target is"
                " missing — degrading to full feed to rebuild it",
                t.name,
                raw,
            )
            since = 0
        if since >= head:
            log.info("table %s: no new versions, skipping load", t.name)
            return TableRunResult(t.name, "skipped_empty", rows=0)
        # Merge-keyed sinks need the feed VERSION per row: a key
        # updated in >=2 source versions inside one range yields
        # duplicate merge keys in the unioned delta, and only the
        # commit version orders them (a data watermark column, if any,
        # orders by business time — which can keep a stale row when a
        # correction re-emits a key with an older timestamp). The
        # column is compacted away again before any sink write.
        ver_col = _FEED_VERSION if t.merge_keys else None
        try:
            df = read_changes(
                self.spark,
                src_path,
                since,
                until_version=head,
                version_column=ver_col,
            )
        except (FeedBrokenError, VacuumedError) as e:
            # two recoverable feed breaks, one recovery: an OVERWRITE
            # in range (append-only semantics gone) or the consumer
            # falling behind retention (its since-snapshot VACUUMED).
            # Either way the feed cannot produce the delta; the only
            # consistent answer is the SNAPSHOT at the pinned head
            # (idempotent under merge keys). Anything else propagates:
            # the classes are typed, so a table path that happens to
            # contain 'overwrite' never routes an unrelated error here.
            log.warning(
                "table %s: %s — resyncing from the full snapshot", t.name, e
            )
            self._guard_resync_duplication(t, "feed-break snapshot resync")
            df = read_table(self.spark, src_path, version=head)
            if ver_col:
                # one snapshot = one version; per-key ordering inside
                # it is unknowable, so same-key duplicates (if the
                # overwritten source kept any) still fail merge loudly
                df = df.withColumn(ver_col, F.lit(head).cast("long"))
        if t.expected_schema:
            # validate_schema PROJECTS to the declared columns — keep
            # the engine-attached feed-version column alongside them
            validated = validate_schema(df, t.expected_schema, allow_extra=True)
            df = (
                df.select(*validated.columns, ver_col) if ver_col else validated
            )
        if df.limit(1).count() == 0:
            # only layout/empty commits since the watermark: advance it
            # anyway so those manifests are never rescanned
            self.store.set(t.name, head)
            return TableRunResult(
                t.name, "skipped_empty", rows=0, new_watermark=head
            )
        # batch key = the frozen SINCE version: stable across replays
        # of the same delta, so quarantine overwrites the same subdir
        return self._load(t, df, since, head, ver_col)

    def _guard_resync_duplication(self, t: TableSpec, reason: str) -> None:
        """Every version-feed degrade path that REPLAYS rows (full
        feed / snapshot resync) is only safe when the sink can absorb
        them idempotently (merge_keys) or is provably empty. A plain
        append sink with existing content would silently duplicate —
        the loud failure here is the §2.C safe side."""
        if t.merge_keys:
            return
        if self._sink_reset_since_watermark(t):
            return  # sink target missing/empty: the replay rebuilds it
        raise RuntimeError(
            f"table {t.name}: {reason} must replay rows that may already "
            f"be loaded, but the sink has existing content and the spec "
            f"has no merge_keys — a plain append would silently duplicate. "
            f"Add merge_keys to the table spec, or clear the sink target "
            f"to let the replay rebuild it."
        )

    def _run_table_column_watermark(self, t: TableSpec) -> TableRunResult:
        """One table's read -> gate -> load -> watermark-advance cycle
        (app.py:96-172).

        The cycle runs three actions over the batch: a cheap empty
        gate on the live source, then watermark max + sink write over
        ONE pinned snapshot. On a non-snapshot source (a live JDBC
        table), rows arriving between the max scan and the write scan
        would be written with keys ABOVE the recorded watermark and
        re-read next run — duplicates on non-idempotent sinks. The
        reference never had this window only because it fetched rows
        once into memory; we pin the max/write pair with
        localCheckpoint(): unlike persist() (best-effort — eviction or
        executor loss silently recomputes partitions from the live
        source, reopening the window), a checkpoint cuts lineage, so a
        lost block FAILS the run instead of silently re-reading — and
        a failed run never advances the watermark, which is the safe
        side. The gate stays OUTSIDE the snapshot deliberately: it
        only decides skip-vs-load, and checkpointing first would
        materialize the whole batch just to discover it is empty. For
        batches too large for executor storage, stage to a temp
        parquet and re-read instead (same guarantee, disk cost).

        The checkpoint belongs to this table's run alone: its blocks
        are freed when the run ends, on success and on error, and no
        other frame in the session is touched — tables share one
        session and run concurrently.
        """
        raw = self.store.get(t.name)
        wm_value = parse_watermark(raw, t.watermark_type) if t.is_incremental else None
        if (
            wm_value is not None
            and t.name not in self.authoritative_watermarks
            and self._sink_reset_since_watermark(t)
        ):
            # A recorded watermark with a MISSING sink target means the
            # sink was wiped after progress was recorded (target rebuild,
            # botched cleanup). Honoring the watermark would "load" only
            # the delta into an empty sink and exit 0 with most of the
            # table silently absent — the one failure mode worse than
            # recomputing. Degrade to FULL LOAD, the same safe-side
            # answer every other bad-state path takes (§2.C #2).
            log.warning(
                "table %s: watermark %r recorded but sink target is missing"
                " — degrading to full load to rebuild it",
                t.name,
                raw,
            )
            raw, wm_value = None, None
        df = read_source(
            self.spark, t.source_format, t.name, incremental_source_options(t, raw)
        )
        if t.expected_schema:
            df = validate_schema(df, t.expected_schema, allow_extra=True)
        df = apply_watermark(df, t.watermark_column, wm_value)
        # Empty-gate FIRST, on the live source, without a full count:
        # limit(1) touches at most one partition at 100 TB, unlike the
        # reference's len(data) which materialized everything
        # (app.py:147-153, util.py:170). It must run BEFORE the
        # checkpoint: localCheckpoint is eager, so gating after it
        # would pay a full batch materialization on the no-new-data
        # path — the common case for a frequently-polled incremental
        # table. (Rows arriving between this probe and the checkpoint
        # simply load now instead of next run — same batch, one max.)
        if df.limit(1).count() == 0:
            log.info("table %s: no new data, skipping load", t.name)
            return TableRunResult(t.name, "skipped_empty", rows=0)
        # Eager local checkpoint: materializes the batch once and cuts
        # lineage — every action below reads these blocks, never the
        # live source.
        df = df.localCheckpoint()
        try:
            # Compute the batch max BEFORE the write so a mid-write
            # failure leaves the watermark untouched (app.py:157->168).
            # Also before the expectations gate: in drop mode the
            # watermark covers the WHOLE batch (quarantined rows
            # included), so a fixed row re-arrives with a NEW watermark
            # instead of replaying forever.
            new_wm = (
                max_watermark(df, t.watermark_column) if t.is_incremental else None
            )
            # Batch key = the FROZEN stored watermark (raw), not new_wm:
            # the upper bound changes when rows arrive between a failed
            # write and its replay, which would scatter the same batch's
            # violations across two batch=* subdirs. An upsert batch is
            # compacted by the watermark column, the only ordering the
            # spec declares (None on a full-load table: its batch must
            # already be key-unique or merge fails loudly).
            upsert = t.sink_options.get("mode") == "upsert"
            return self._load(
                t, df, raw, new_wm, t.watermark_column if upsert else None
            )
        finally:
            free_checkpoint(df)

    def _load(
        self,
        t: TableSpec,
        df: DataFrame,
        batch_key: Any,
        new_wm: Any,
        order_by: str | None,
    ) -> TableRunResult:
        """The load step both paths share: expectations gate →
        latest-per-key compaction by ``order_by`` (skipped when None) →
        sink write → watermark advance to ``new_wm`` (skipped when
        None). ``batch_key`` names the quarantine subdir.

        The watermark is recorded only after the write returns, so a
        failed write leaves it untouched and the next run replays the
        batch. In drop mode a batch whose every row was quarantined
        writes nothing, yet the watermark still advances over it and
        the result is ``loaded`` with 0 rows."""
        if t.expectations:
            df = self._apply_expectations(t, df, batch_key)
        if df is not None:  # None: drop mode quarantined every row
            if order_by:
                df = self._latest_per_key(t, df, order_by)
            # sink config already validated in run_table
            if t.sink_options.get("mode") == "upsert":
                self._merge_upsert_sink(t, df)
            elif t.merge_keys and t.sink_format == "manifest":
                # manifest's own content fence: anti-join inside the
                # lease-held commit, no duplicate rows on replay and no
                # wasted version when the whole batch already landed
                write_sink(
                    df,
                    "manifest",
                    t.name,
                    {**t.sink_options, "merge_keys": t.merge_keys},
                )
            elif t.merge_keys:
                idempotent_append_parquet(
                    self.spark, df, t.name, dict(t.sink_options), t.merge_keys
                )
            else:
                write_sink(df, t.sink_format, t.name, dict(t.sink_options))
        if new_wm is not None:
            self.store.set(t.name, new_wm)
        return TableRunResult(
            t.name, "loaded", rows=0 if df is None else None, new_watermark=new_wm
        )

    def _apply_expectations(self, t: TableSpec, df, batch_wm=None):
        """Run the declarative quality gate (expectations.py) on the
        batch. 'fail' raises with per-rule counts (the table fails
        isolated, watermark frozen → retry after upstream fix); 'drop'
        quarantines violating rows to parquet beside the sink and
        returns the clean subset (None when nothing passed).

        Quarantine writes are IDEMPOTENT per batch: rows land in a
        deterministic ``batch=<stored-watermark>`` subdir in overwrite
        mode. The key is the batch's frozen LOWER bound (the stored
        watermark at batch start) — stable across replays even when
        new rows arrive between a failed sink write and the retry —
        so the replay overwrites the same subdir instead of leaving a
        stale sibling with duplicated violation rows."""
        from etl_data_pipeline_spark.expectations import (
            ExpectationError,
            check_expectations,
        )

        report = check_expectations(df, t.expectations)
        if report.ok:
            return df
        mode = t.expectations_mode
        if mode == "fail":
            raise ExpectationError(
                f"table {t.name}: {report.n_violations}/{report.total} rows "
                f"violate expectations "
                f"{ {k: v for k, v in report.counts.items() if v} }"
            )
        if mode != "drop":
            raise ValueError(
                f"table {t.name}: unknown expectations_mode {mode!r} "
                f"(use 'fail' or 'drop')"
            )
        opts = t.sink_options
        qdir = opts.get("quarantine_dir") or (
            _target_path(t.name, {"dir": ".", **opts}) + "_quarantine"
        )
        batch_key = (
            re.sub(r"[^0-9A-Za-z._-]", "_", str(batch_wm))
            if batch_wm is not None
            else "full"
        )
        report.violations.write.mode("overwrite").parquet(
            os.path.join(qdir, f"batch={batch_key}")
        )
        log.warning(
            "table %s: quarantined %d/%d rows to %s (%s)",
            t.name,
            report.n_violations,
            report.total,
            qdir,
            {k: v for k, v in report.counts.items() if v},
        )
        return None if report.total == report.n_violations else report.passed

    @staticmethod
    def _latest_per_key(t: TableSpec, df: DataFrame, order_by: str) -> DataFrame:
        """Last-write-wins compaction: one row per merge key, the one
        with the greatest ``order_by``. Sinks that merge need unique
        keys, and a batch can carry several changes of one key. Ties
        break on the remaining columns, so a replay after a mid-write
        crash commits the same winner. Spark cannot ORDER BY a map, so
        a column whose type contains one sorts by its JSON rendering
        (the same row always serializes the same way). The engine's
        feed-version column is dropped once it has ordered the batch.
        One window over the batch only — it never touches the sink."""

        def orderable(dt):
            if isinstance(dt, MapType):
                return False
            if isinstance(dt, ArrayType):
                return orderable(dt.elementType)
            if isinstance(dt, StructType):
                return all(orderable(f.dataType) for f in dt.fields)
            return True

        tiebreak = [
            (F.col(c) if orderable(df.schema[c].dataType) else F.to_json(c)).desc()
            for c in df.columns
            if c != order_by and c not in t.merge_keys
        ]
        w = Window.partitionBy(*t.merge_keys).orderBy(
            F.col(order_by).desc(), *tiebreak
        )
        out = df.withColumn("_rn", F.row_number().over(w))
        out = out.filter("_rn = 1").drop("_rn")
        return out.drop(_FEED_VERSION) if order_by == _FEED_VERSION else out

    def _merge_upsert_sink(self, t: TableSpec, df) -> None:
        """CDC upsert sink: ``sink_options={'mode': 'upsert'}`` on a
        manifest table with merge_keys routes the batch through
        row-level MERGE (manifest.merge_upsert) instead of the
        content-fence append — the append fence de-duplicates REPLAYS
        of identical rows, but a CDC source emits NEW versions of an
        existing key, which an append would duplicate and only a merge
        can replace. Merge needs unique keys: an incremental batch
        arrives compacted to one row per key (see _latest_per_key),
        deterministically, which keeps a replay after a mid-write
        crash idempotent; a full-load batch has no ordering, so it
        must already be key-unique or merge fails loudly.

        ``partition_by`` in sink_options reaches the table's FIRST
        commit (it is a table property thereafter). A ``txn`` option
        is rejected: see below."""
        from etl_data_pipeline_spark.sinks.manifest import merge_upsert

        opts = t.sink_options
        if "txn" in opts:
            # A static (app_id, version) in per-table config would mark
            # every batch after the first as a replay — _merge_locked
            # silently skips the merge and the table silently stops
            # updating. The pipeline's own replay safety comes from
            # whole-batch compaction + merge idempotency, so a txn
            # fence here must be PER-RUN, which static config cannot
            # express. Reject loudly instead of losing data quietly.
            raise ValueError(
                f"table {t.name}: 'txn' in sink_options is static "
                "per-table config and would fence out every batch "
                "after the first; upsert merges are replay-idempotent "
                "without it (remove 'txn', or call "
                "sinks.manifest.merge_upsert directly with a per-run "
                "version)"
            )
        partition_by = opts.get("partition_by")
        merge_upsert(
            self.spark,
            _target_path(t.name, opts),
            df,
            t.merge_keys,
            partition_by=tuple(partition_by) if partition_by else None,
        )

    def _sink_reset_since_watermark(self, t: TableSpec) -> bool:
        """True when the sink target provably no longer exists for a
        table whose watermark says it was loaded. Only decidable for
        path-based sinks; a ``.old`` backup counts as present (the
        staged-swap recovery will restore it on first read). JDBC and
        custom sinks return False — no cheap existence probe."""
        if t.sink_format not in ("parquet", "csv", "json", "orc", "manifest"):
            return False
        opts = t.sink_options
        path = _target_path(t.name, opts)
        if t.sink_format == "manifest":
            # A bare path-exists probe is a false negative here: the
            # table dir can exist with no committed version (rm -rf
            # table/*, or a failed commit recreated the empty dir via
            # makedirs) and manifest.commit would then treat the next
            # append as a FIRST write — committing only the delta as
            # v1 and exiting 0 with most rows silently absent, the
            # exact loss mode this guard targets. "Wiped" for a
            # manifest table means "no committed version".
            from etl_data_pipeline_spark.sinks.manifest import read_manifest

            return read_manifest(path) is None
        return not os.path.exists(path) and not os.path.exists(path + ".old")

    # -- whole pipeline ----------------------------------------------

    def run(self) -> list[TableRunResult]:
        """Run all enabled tables in parallel (bounded), isolating
        failures per table (app.py:175-177; dags/…:89-90)."""
        tables = self.spec.enabled_tables()
        results: list[TableRunResult] = []
        with ThreadPoolExecutor(max_workers=self.spec.max_parallel_tables) as pool:
            futures = {}
            for t in tables:
                # Each table job in its own FAIR pool so long tables
                # don't starve short ones (spark.scheduler.mode=FAIR).
                futures[pool.submit(self._run_table_isolated, t)] = t.name
            for fut in as_completed(futures):
                results.append(fut.result())
        return sorted(results, key=lambda r: r.table)

    def _run_table_isolated(self, t: TableSpec) -> TableRunResult:
        self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", t.name)
        try:
            attempts = max(0, self.spec.transient_retries) + 1
            for attempt in range(1, attempts + 1):
                try:
                    return self.run_table(t)
                except Exception as e:  # isolation: log, classify, continue
                    cls = self._jdbc_failure_class(t, e)
                    if cls == "retryable" and attempt < attempts:
                        # deadlock victim / dropped connection / lock
                        # timeout: the run advanced no watermark and
                        # the sinks absorb replays, so retrying in-run
                        # is the same as the next scheduled run — just
                        # sooner (see PipelineSpec.transient_retries)
                        log.warning(
                            "table %s: transient JDBC failure (%s), "
                            "retry %d/%d: %s",
                            t.name, cls, attempt, attempts - 1, e,
                        )
                        continue
                    log.exception("table %s failed", t.name)
                    return TableRunResult(
                        t.name, "failed", error=str(e), error_class=cls
                    )
            raise AssertionError("unreachable")  # loop always returns
        finally:
            self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

    def _jdbc_failure_class(self, t: TableSpec, e: Exception) -> str | None:
        """'retryable' | 'fatal' when a java.sql.SQLException (with a
        SQLSTATE or vendor code) is found in the failure's Java cause
        chain, classified per the table's JDBC dialect
        (sources.jdbc_error_class); None when the failure carries no
        JDBC signal (python errors, non-JDBC sinks). Never raises —
        classification must not mask the original failure."""
        from etl_data_pipeline_spark.sources import (
            dialect_for_url,
            jdbc_error_class,
        )

        try:
            # python-side drivers first: pg_libpq raises PgError with
            # the server SQLSTATE attached (and __cause__ chains count)
            pe = e
            for _ in range(10):
                if pe is None:
                    break
                state = getattr(pe, "sqlstate", None)
                if state:
                    opts = {**t.sink_options, **t.source_options}
                    dialect = opts.get("dialect") or (
                        "postgres" if "conninfo" in opts else None
                    ) or dialect_for_url(opts.get("url")) or "ansi"
                    return jdbc_error_class(state, None, dialect)
                pe = getattr(pe, "__cause__", None)
            je = getattr(e, "java_exception", None)
            for _ in range(10):  # bounded cause walk (cycles exist)
                if je is None:
                    return None
                try:
                    # py4j resolves methods lazily: probe by calling —
                    # a non-SQLException node raises and we walk on
                    state = je.getSQLState()
                    code = je.getErrorCode()
                except Exception:
                    state, code = None, 0
                if state is not None or code:
                    opts = {**t.sink_options, **t.source_options}
                    dialect = opts.get("dialect") or dialect_for_url(
                        opts.get("url")
                    ) or "ansi"
                    return jdbc_error_class(state, code, dialect)
                je = je.getCause() if hasattr(je, "getCause") else None
        except Exception:
            return None
        return None
