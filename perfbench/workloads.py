"""The benchmark's workloads and their output checks.

A workload is a fixed list of ops. One pass runs every op once, in an
order drawn from the seed. Each op is timed on its own; the untimed
work around it (cache release, landing files, resetting sinks) runs
between ops. ``check`` runs once per process before the timed passes
and ``after_pass`` runs after every pass; both are untimed and decide
which ops count as failed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

# one driver-bound iterate chain and one executor-bound consumer of the
# sem_assign kernel; the pipeline workload bypasses both
QUERY_WORKLOADS = {"iterate_ann": ["graph_pagerank", "dedup_semantic"]}

# tables each workload reads; set-up registers them
INPUTS = {
    "iterate_ann": ["orders", "lineitem", "embeddings"],
    "incr_pipeline": ["orders", "lineitem", "events", "customer"],
}

def _seeded(seed: int, salt: int) -> random.Random:
    return random.Random(seed * 1_000_003 + salt)


# -- query workloads ----------------------------------------------------


def _frame_digest(pdf) -> dict:
    """Row count, sorted column names and an order-insensitive value
    hash, using the oracle checker's cell normalisation."""
    from tools.check_correctness import norm_frame

    cols, rows = norm_frame(pdf)
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return {"rows": len(rows), "columns": cols, "hash": h.hexdigest()}


def oracle_digests(names, data_dir: str, cache_dir: str) -> dict[str, dict]:
    """DuckDB oracle digest per query. The oracle depends only on its SQL
    text and the generated tier, so digests are cached in the tier's
    ``cache_dir`` under a hash of the SQL; the first run in a checkout
    pays for them."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_correctness import TABLES

    sqls = entry.oracle_sql()
    out, con = {}, None
    os.makedirs(cache_dir, exist_ok=True)
    for name in names:
        key = hashlib.sha256(sqls[name].encode()).hexdigest()[:20]
        path = os.path.join(cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                out[name] = json.load(f)
            continue
        if con is None:
            con = duckdb.connect()
            for t in TABLES:
                p = os.path.join(data_dir, f"{t}.parquet")
                if os.path.isdir(p):
                    p = os.path.join(p, "*.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out[name] = _frame_digest(con.execute(sqls[name]).df())
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(out[name], f)
        os.replace(tmp, path)
    return out


class QueryWorkload:
    """Registry queries forced through the noop sink, one op each."""

    timed_build = True  # building the DataFrame is part of the query

    def __init__(self, name: str, spark, data_dir: str, cache_dir: str, seed: int):
        import __spark_entry__ as entry

        self.name, self.spark, self.data_dir = name, spark, data_dir
        self.cache_dir, self.seed = cache_dir, seed
        self.names = list(QUERY_WORKLOADS[name])
        self.fns = {n: entry.queries()[n] for n in self.names}
        self.corrupt = None  # self-test hook: query whose result is tampered

    def check(self) -> tuple[set[str], float]:
        """Untimed first pass: collect every query, compare it with its
        DuckDB oracle, and return the names that failed and the seconds
        the queries took (oracle and comparison excluded). It is also
        the warm-up pass."""
        want = oracle_digests(self.names, self.data_dir, self.cache_dir)
        failed, seconds = set(), 0.0
        for n in self.names:
            try:
                t0 = time.perf_counter()
                pdf = self.fns[n](self.spark, self.data_dir).toPandas()
                seconds += time.perf_counter() - t0
                if n == self.corrupt and len(pdf):
                    pdf = pdf.iloc[1:]
                if _frame_digest(pdf) != want[n]:
                    failed.add(n)
            except Exception:
                failed.add(n)
            self.release()
        return failed, seconds

    def release(self) -> None:
        """Free the op's caches and checkpoints and wait until they are
        gone, so no release work spills into the next op's timing."""
        from etl_data_pipeline_spark.functions.caching import release_tracked

        release_tracked(self.spark, blocking=True)
        self.spark.catalog.clearCache()

    def pass_ops(self, pass_idx: int):
        order = list(self.names)
        _seeded(self.seed, pass_idx).shuffle(order)
        return [(n, self._op(n)) for n in order]

    def _op(self, n: str):
        def build():
            return self.fns[n](self.spark, self.data_dir)

        def execute(df):
            df.write.format("noop").mode("overwrite").save()

        return build, execute

    def after_op(self) -> None:
        self.release()

    def after_pass(self, pass_idx: int) -> bool:
        return True


# -- incremental pipeline ---------------------------------------------

N_LANDINGS = 2
POLL_AFTER = (1,)  # no-new-data runs after these landings
INJECT_SHARE = 0.005  # events rows per batch given a negative value


def _cuts(n: int, rng: np.random.Generator, boundaries=None) -> list[int]:
    """Batch end offsets: a 40% initial load, then seeded slices.
    ``boundaries`` (sorted offsets where the watermark value changes)
    restricts every cut to a value change, so a strict ``>`` watermark
    never strands rows equal to it."""
    shares = np.concatenate([[0.4], 0.6 * rng.dirichlet(np.full(N_LANDINGS - 1, 4.0))])
    ends = [int(round(x)) for x in np.cumsum(shares)[:-1] * n]
    if boundaries is not None:
        ends = [int(boundaries[min(np.searchsorted(boundaries, e), len(boundaries) - 1)])
                for e in ends]
    ends.append(n)
    return ends


def _to_utc_us(table: pa.Table) -> pa.Table:
    """Timestamp columns as microsecond UTC instants, which Spark reads
    back as TIMESTAMP (nanosecond parquet timestamps it rejects)."""
    for f in table.schema:
        if pa.types.is_timestamp(f.type):
            table = table.set_column(
                table.schema.get_field_index(f.name), f.name,
                pc.cast(pc.cast(table[f.name], pa.timestamp("us")),
                        pa.timestamp("us", tz="UTC")),
            )
    return table


def _read_base(data_dir: str, name: str) -> pa.Table:
    # drop the Spark schema kept in the footer metadata: Spark would
    # read it back instead of the columns the batches actually carry
    t = ds.dataset(os.path.join(data_dir, f"{name}.parquet")).to_table()
    return _to_utc_us(t.replace_schema_metadata(None))


class PipelineBatches:
    """Seeded landing sequence for the four pipeline tables, staged once
    per process as parquet files and hard-linked into the source
    directory at each landing."""

    SORT = {"orders": "o_orderkey", "lineitem": "l_shipdate",
            "events": "event_id", "customer": "c_custkey"}

    def __init__(self, data_dir: str, stage_dir: str, seed: int):
        rng = np.random.default_rng(seed)
        self.stage_dir = stage_dir
        shutil.rmtree(stage_dir, ignore_errors=True)
        os.makedirs(stage_dir)
        self.tables: dict[str, pa.Table] = {}
        self.ends: dict[str, list[int]] = {}
        for name, key in self.SORT.items():
            t = _read_base(data_dir, name)
            if name == "lineitem":
                # (l_orderkey, l_linenumber) is not unique in every
                # tier; linenumber < 8, so this id always is
                t = t.append_column(
                    "l_lineid",
                    pc.add(pc.multiply(t["l_orderkey"], 8),
                           pc.cast(t["l_linenumber"], pa.int64())),
                )
            t = t.sort_by([(key, "ascending")])
            bounds = None
            if name == "lineitem":
                v = pc.cast(t[key], pa.int64()).to_numpy()
                bounds = np.flatnonzero(v[1:] != v[:-1]) + 1
            self.ends[name] = _cuts(t.num_rows, rng, bounds)
            if name == "events":
                t, self.injected = self._inject(t, self.ends[name], rng)
            self.tables[name] = t
            start = 0
            for k, end in enumerate(self.ends[name]):
                pq.write_table(t.slice(start, end - start),
                               self._staged(name, k))
                start = end

    @staticmethod
    def _inject(t: pa.Table, ends, rng) -> tuple[pa.Table, set[int]]:
        """Give a seeded few rows of every batch a negative ``value``
        (the generated tier has none), so the drop-mode expectation
        quarantines exactly these rows."""
        value = t["value"].to_numpy().copy()
        picked, start = [], 0
        for end in ends:
            k = max(1, int((end - start) * INJECT_SHARE))
            picked.extend(rng.choice(np.arange(start, end), size=k, replace=False))
            start = end
        picked = np.array(sorted(picked))
        value[picked] = -(value[picked] + 1.0)
        t = t.set_column(t.schema.get_field_index("value"), "value", pa.array(value))
        return t, set(t["event_id"].to_numpy()[picked].tolist())

    def _staged(self, name: str, k: int) -> str:
        return os.path.join(self.stage_dir, f"{name}-{k}.parquet")

    def land(self, src_dir: str, k: int) -> None:
        for name in self.SORT:
            d = os.path.join(src_dir, f"{name}.parquet")
            os.makedirs(d, exist_ok=True)
            os.link(self._staged(name, k), os.path.join(d, f"part-{k:05d}.parquet"))

    def rows_committed(self, k: int) -> int:
        """Rows that landing ``k`` adds to the sinks (quarantined rows
        excluded; the upsert table counts every clean row it merged)."""
        n = 0
        for name, ends in self.ends.items():
            start = ends[k - 1] if k else 0
            n += ends[k] - start
        ev = self.tables["events"]["event_id"].to_numpy()
        start = self.ends["events"][k - 1] if k else 0
        n -= len(self.injected.intersection(ev[start:self.ends["events"][k]].tolist()))
        return n

    # -- expected sink state after the whole sequence --

    def expected(self) -> dict:
        ev = self.tables["events"]
        clean = ev.filter(pc.invert(pc.is_in(ev["event_id"],
                                             pa.array(sorted(self.injected)))))
        latest = {}
        for uid, eid in zip(clean["user_id"].to_pylist(), clean["event_id"].to_pylist()):
            latest[uid] = max(eid, latest.get(uid, eid))
        us = pc.max(pc.cast(self.tables["lineitem"]["l_shipdate"], pa.int64())).as_py()
        # the pipeline stores str() of the value PySpark returns: a
        # naive datetime in the process's local time zone
        ship_max = datetime.fromtimestamp(us // 10**6).replace(microsecond=us % 10**6)
        return {
            "orders": set(self.tables["orders"]["o_orderkey"].to_pylist()),
            "lineitem": set(self.tables["lineitem"]["l_lineid"].to_pylist()),
            "customer": set(self.tables["customer"]["c_custkey"].to_pylist()),
            "events": set(latest.items()),
            "quarantine": set(self.injected),
            "watermarks": {
                "orders": str(pc.max(self.tables["orders"]["o_orderkey"]).as_py()),
                "lineitem": str(ship_max),
                "events": str(pc.max(ev["event_id"]).as_py()),
                "customer": None,
            },
        }


def _parquet_column(path: str, cols: list[str]) -> pa.Table:
    return ds.dataset(path, format="parquet").to_table(columns=cols)


def _manifest_column(table_dir: str, cols: list[str]) -> pa.Table:
    with open(os.path.join(table_dir, "MANIFEST.json")) as f:
        dirs = json.load(f)["dirs"]
    return pa.concat_tables(
        [_parquet_column(os.path.join(table_dir, d), cols) for d in dirs]
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class PipelineWorkload:
    """The reference's incremental copy job: land a batch, run the
    pipeline, repeat, with no-new-data polls in between. Every pass
    starts from empty sinks and replays the same landing sequence."""

    timed_build = False  # landing is harness work: only the run is timed

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int):
        self.spark, self.work_dir = spark, work_dir
        self.batches = PipelineBatches(data_dir, os.path.join(work_dir, "stage"), seed)
        self.want = self.batches.expected()
        self.src = os.path.join(work_dir, "src")
        self.sink = os.path.join(work_dir, "sink")
        self.store_path = os.path.join(work_dir, "watermarks.json")
        self.corrupt = False  # self-test hook: tamper with one sink row
        self.rows_per_pass = sum(self.batches.rows_committed(k) for k in range(N_LANDINGS))
        self.sink_bytes: list[int] = []

    def spec(self):
        from etl_data_pipeline_spark.expectations import Expectation
        from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec

        src, sink = {"dir": self.src}, {"dir": self.sink}
        return PipelineSpec(
            tables=[
                TableSpec("orders", watermark_column="o_orderkey", watermark_type="id",
                          source_options=src, sink_options=sink,
                          merge_keys=("o_orderkey",)),
                TableSpec("lineitem", watermark_column="l_shipdate",
                          watermark_type="timestamp", source_options=src,
                          sink_format="manifest", sink_options=sink,
                          merge_keys=("l_lineid",)),
                TableSpec("events", watermark_column="event_id", watermark_type="id",
                          source_options=src, sink_format="manifest",
                          sink_options={**sink, "mode": "upsert"},
                          merge_keys=("user_id",),
                          expectations=(Expectation.in_range("value", lo=0.0),),
                          expectations_mode="drop"),
                TableSpec("customer", source_options=src, sink_options=sink,
                          merge_keys=("c_custkey",)),
            ],
            max_parallel_tables=4,
        )

    def _reset(self) -> None:
        for p in (self.src, self.sink):
            shutil.rmtree(p, ignore_errors=True)
            os.makedirs(p)
        for p in (self.store_path, self.store_path + ".lock"):
            if os.path.exists(p):
                os.unlink(p)

    def pass_ops(self, pass_idx: int):
        from etl_data_pipeline_spark.pipeline import IncrementalPipeline
        from etl_data_pipeline_spark.watermark import WatermarkStore

        self._reset()
        pipe = IncrementalPipeline(self.spark, self.spec(), WatermarkStore(self.store_path))
        ops = []
        for k in range(N_LANDINGS):
            ops.append((f"run{k + 1}", self._run_op(pipe, k)))
            if k + 1 in POLL_AFTER:
                ops.append((f"poll{k + 1}", self._run_op(pipe, None)))
        return ops

    def _run_op(self, pipe, landing):
        def build():
            if landing is not None:
                self.batches.land(self.src, landing)
            return landing

        def execute(landing):
            results = pipe.run()
            bad = [r for r in results if r.status == "failed"]
            if bad:
                raise RuntimeError(f"tables failed: {[(r.table, r.error) for r in bad]}")
            skipped = {r.table for r in results if r.status == "skipped_empty"}
            want = set() if landing is not None else {"orders", "lineitem", "events"}
            if skipped != want:
                raise RuntimeError(f"skipped {sorted(skipped)}, expected {sorted(want)}")

        return build, execute

    def after_op(self) -> None:
        pass

    def after_pass(self, pass_idx: int) -> bool:
        """Compare every sink, the quarantine and the watermarks with the
        generator's expectation."""
        from etl_data_pipeline_spark.watermark import WatermarkStore

        s, want = self.sink, self.want
        if self.corrupt:
            self._corrupt_one_row()
        try:
            tables = {
                "orders": _parquet_column(os.path.join(s, "orders"), ["o_orderkey"]),
                "customer": _parquet_column(os.path.join(s, "customer"), ["c_custkey"]),
                "lineitem": _manifest_column(os.path.join(s, "lineitem"), ["l_lineid"]),
                "events": _manifest_column(os.path.join(s, "events"),
                                           ["user_id", "event_id"]),
                "quarantine": _parquet_column(os.path.join(s, "events_quarantine"),
                                              ["event_id"]),
            }
        except (OSError, KeyError, ValueError, pa.ArrowException):
            return False  # a sink or the quarantine is missing or unreadable
        counts = {k: t.num_rows for k, t in tables.items()}
        got = {k: set(t.column(0).to_pylist()) for k, t in tables.items()}
        got["events"] = set(zip(tables["events"]["user_id"].to_pylist(),
                                tables["events"]["event_id"].to_pylist()))
        store = WatermarkStore(self.store_path)
        got["watermarks"] = {t: store.get(t) for t in want["watermarks"]}
        self.sink_bytes.append(_dir_bytes(s))
        return got == want and all(counts[k] == len(want[k]) for k in counts)

    def _corrupt_one_row(self) -> None:
        """Rewrite one orders sink file without its first row."""
        d = os.path.join(self.sink, "orders")
        f = sorted(x for x in os.listdir(d) if x.endswith(".parquet"))[0]
        t = pq.read_table(os.path.join(d, f))
        pq.write_table(t.slice(1), os.path.join(d, f))

    def cleanup(self) -> None:
        shutil.rmtree(self.work_dir, ignore_errors=True)
