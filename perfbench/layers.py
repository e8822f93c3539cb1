"""Per-layer tracing for ``run.py --trace 1``, from outside the package.

The tracer wraps the layers' public functions wherever the package
bound them (a module that did ``from x import f`` holds its own
reference, so every loaded ``etl_data_pipeline_spark`` module is
patched), records spans (name, start, end, parent, op id) in memory and
writes them out at the end with their self time. Spark's side comes
from the SQL status store (``statusStore()`` over py4j) and the
driver's ``/api/v1``: jobs, stages and SQL executions are attributed to
ops by submission time, and pipeline jobs to tables by the FAIR pool
the pipeline names after each table.

Metrics are per pass (summed over a pass's ops, median over the traced
passes); layers a workload never calls report 0.
"""

from __future__ import annotations

import functools
import json
import os
import re
import statistics
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

PKG = "etl_data_pipeline_spark"

# (module, attribute, span name): functions wrapped wherever bound
FUNCTIONS = [
    ("etl_data_pipeline_spark.functions.caching", "release_tracked", "caching.release"),
    ("etl_data_pipeline_spark.llm.dedup", "sem_assign", "llm.sem_assign"),
    ("etl_data_pipeline_spark.sources", "read_source", "sources.read"),
    ("etl_data_pipeline_spark.watermark", "max_watermark", "watermark.max"),
    ("etl_data_pipeline_spark.expectations", "check_expectations", "expectations.check"),
    ("etl_data_pipeline_spark.sinks", "write_sink", "sinks.write"),
    ("etl_data_pipeline_spark.sinks", "idempotent_append_parquet", "sinks.idempotent_append"),
    ("etl_data_pipeline_spark.sinks.manifest", "commit", "manifest.commit"),
    ("etl_data_pipeline_spark.sinks.manifest", "merge_upsert", "manifest.merge_upsert"),
]
SESSION_FUNCTIONS = [
    ("etl_data_pipeline_spark.session", "get_spark", "session.get_spark"),
    ("etl_data_pipeline_spark.session", "load_table", "session.load_table"),
]
# (module, class, method, span name)
METHODS = [
    ("etl_data_pipeline_spark.pipeline", "IncrementalPipeline", "run", "pipeline.run"),
    ("etl_data_pipeline_spark.pipeline", "IncrementalPipeline", "run_table", "pipeline.run_table"),
    ("etl_data_pipeline_spark.watermark", "WatermarkStore", "get", "watermark.store_get"),
    ("etl_data_pipeline_spark.watermark", "WatermarkStore", "set", "watermark.store_set"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "localCheckpoint", "caching.checkpoint"),
]

PER_LAYER = {
    # name: unit
    "session.get_spark_s": "s",
    "session.load_table_s": "s",
    "session.load_table_calls": "count",
    "operators.build_s": "s",
    "operators.exec_s": "s",
    "operators.build_share": "ratio",
    "caching.checkpoint_calls": "count",
    "caching.checkpoint_s": "s",
    "caching.release_s": "s",
    "caching.retained_mb": "MB",
    "llm.sem_assign_calls": "count",
    "llm.sem_assign_s": "s",
    "spark.sql_executions": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.utilisation": "ratio",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.exchanges": "count",
    "pipeline.run_table_s": "s",
    "pipeline.parallelism": "ratio",
    "pipeline.jobs_per_loaded_table": "count",
    "pipeline.jobs_per_skipped_table": "count",
    "pipeline.run_s.p50": "s",
    "pipeline.poll_s.p50": "s",
    "pipeline.rows_per_s": "1/s",
    "sources.read_calls": "count",
    "sources.read_s": "s",
    "watermark.store_get_s": "s",
    "watermark.store_set_s": "s",
    "watermark.max_calls": "count",
    "watermark.max_s": "s",
    "expectations.check_s": "s",
    "expectations.quarantined_rows": "count",
    "sinks.write_s": "s",
    "sinks.idempotent_append_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.bytes_per_row": "bytes",
    "manifest.commits": "count",
    "manifest.commit_s": "s",
    "manifest.merge_upsert_s": "s",
    "manifest.bytes_rewritten": "bytes",
    "trace.overhead_s": "s",
    "driver.peak_rss_mb": "MB",
}

# span name -> metric prefix timed by it (inclusive wall seconds)
SPAN_SECONDS = {
    "session.load_table": "session.load_table_s",
    "operators.build": "operators.build_s",
    "operators.exec": "operators.exec_s",
    "caching.checkpoint": "caching.checkpoint_s",
    "caching.release": "caching.release_s",
    "llm.sem_assign": "llm.sem_assign_s",
    "pipeline.run_table": "pipeline.run_table_s",
    "sources.read": "sources.read_s",
    "watermark.store_get": "watermark.store_get_s",
    "watermark.store_set": "watermark.store_set_s",
    "watermark.max": "watermark.max_s",
    "expectations.check": "expectations.check_s",
    "sinks.write": "sinks.write_s",
    "sinks.idempotent_append": "sinks.idempotent_append_s",
    "manifest.commit": "manifest.commit_s",
    "manifest.merge_upsert": "manifest.merge_upsert_s",
}
SPAN_CALLS = {
    "session.load_table": "session.load_table_calls",
    "caching.checkpoint": "caching.checkpoint_calls",
    "llm.sem_assign": "llm.sem_assign_calls",
    "sources.read": "sources.read_calls",
    "watermark.max": "watermark.max_calls",
    "manifest.commit": "manifest.commits",
}

_TREE_NODE = re.compile(r"^[\s:|+\-*]*(\w+)")


def count_exchanges(plan: str) -> int:
    """Exchange nodes in the executed plan tree (the AQE final plan when
    there is one), read from the status store's plan description."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    else:
        plan = plan.split("\n\n", 1)[0]
    return sum(
        1 for line in plan.splitlines()
        if (m := _TREE_NODE.match(line)) and m.group(1) in ("Exchange", "BroadcastExchange")
    )


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def _union_seconds(intervals, lo, hi) -> float:
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self, nproc: int):
        self.nproc = nproc
        self.spans: list[dict] = []
        self.detail: dict = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: dict | None = None

    # -- spans -----------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else (self._op["idx"] if self._op else None)
        rec = {"name": name, "start": time.time(), "end": None, "parent": parent,
               "op": self._op["id"] if self._op else None, **attrs}
        with self._lock:
            rec["idx"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["idx"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def op(self, name: str, pass_idx: int, sink_dir: str | None = None):
        before = _parquet_files(sink_dir) if sink_dir else None
        with self.span("op", op_name=name, pass_idx=pass_idx) as rec:
            rec["op"] = rec["id"] = f"{pass_idx}:{name}"
            self._op = rec
            try:
                yield rec
            finally:
                rec["retained_mb"] = self._retained_mb()
                self._op = None
        if before is not None:
            after = _parquet_files(sink_dir)
            new = {p: s for p, s in after.items() if p not in before}
            rec["files_written"] = len(new)
            rec["bytes_written"] = sum(new.values())
            merged = os.path.join(sink_dir, "events") + os.sep
            rec["bytes_rewritten"] = sum(s for p, s in new.items() if p.startswith(merged))

    def _retained_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    # -- patching --------------------------------------------------------

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = {}
            if name == "pipeline.run_table":
                attrs["table"] = args[1].name
            with tracer.span(name, **attrs) as rec:
                out = fn(*args, **kwargs)
                if name == "pipeline.run_table":
                    rec["status"] = out.status
                elif name == "expectations.check":
                    rec["violations"] = out.n_violations
                return out

        traced.__perfbench_original__ = fn
        return traced

    def _patch_function(self, modname, attr, name):
        __import__(modname)
        orig = getattr(sys.modules[modname], attr)
        orig = getattr(orig, "__perfbench_original__", orig)
        traced = self._wrap(orig, name)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not (mname.startswith(PKG) or mname == "__spark_entry__"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, traced)

    def _patch_method(self, modname, cls, meth, name):
        __import__(modname)
        klass = getattr(sys.modules[modname], cls)
        orig = klass.__dict__[meth]
        setattr(klass, meth, self._wrap(orig, name))

    def install_session(self) -> None:
        """Wrap set-up's layer before the first session starts."""
        for spec in SESSION_FUNCTIONS:
            self._patch_function(*spec)

    def install(self, spark) -> None:
        """Wrap every other layer, once the registry is imported."""
        self.spark = spark
        for spec in SESSION_FUNCTIONS + FUNCTIONS:
            self._patch_function(*spec)
        for spec in METHODS:
            self._patch_method(*spec)

    # -- Spark side ------------------------------------------------------

    def _spark_records(self):
        sc = self.spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        jobs = []
        for _ in range(50):  # the UI listener is asynchronous: wait for it
            jobs = json.load(urllib.request.urlopen(f"{base}/jobs"))
            if all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.1)
        stages = json.load(urllib.request.urlopen(f"{base}/stages"))
        by_stage = {s["stageId"]: s for s in stages if s["status"] != "SKIPPED"}
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        sql = [(execs.apply(i).submissionTime() / 1000.0,
                count_exchanges(execs.apply(i).physicalPlanDescription()))
               for i in range(execs.size())]
        out = []
        for j in jobs:
            st = [by_stage[s] for s in j["stageIds"] if s in by_stage]
            out.append({
                "start": _rest_time(j["submissionTime"]),
                "end": _rest_time(j.get("completionTime")) or time.time(),
                "pool": st[0]["schedulingPool"] if st else None,
                "stages": len(st),
                "tasks": sum(s["numTasks"] for s in st),
                "run_s": sum(s["executorRunTime"] for s in st) / 1e3,
                "cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
                "shuffle_read": sum(s["shuffleReadBytes"] for s in st),
                "shuffle_write": sum(s["shuffleWriteBytes"] for s in st),
                "spill": sum(s["diskBytesSpilled"] for s in st),
            })
        return out, sql

    # -- metrics ---------------------------------------------------------

    def metrics(self, overhead_s, peak_rss_mb, rows_per_pass=None, sink_bytes=None) -> dict:
        jobs, sql = self._spark_records()
        spans = self.spans
        for s in spans:
            s["self_s"] = s["end"] - s["start"]
        for s in spans:
            if s["parent"] is not None:
                spans[s["parent"]]["self_s"] -= s["end"] - s["start"]
        ops = [s for s in spans if s["name"] == "op"]
        per_pass: dict[int, dict] = {}
        op_jobs: dict[str, list[int]] = {}
        for o in ops:
            lo, hi = o["start"], o["end"]
            mine = [j for j in jobs if lo <= j["start"] <= hi]
            m = per_pass.setdefault(o["pass_idx"], {k: 0.0 for k in PER_LAYER})
            m["spark.jobs"] += len(mine)
            op_jobs.setdefault(o["op_name"], []).append(len(mine))
            m["spark.sql_executions"] += sum(1 for t, _ in sql if lo <= t <= hi)
            m["spark.exchanges"] += sum(x for t, x in sql if lo <= t <= hi)
            for key, field in (("spark.stages", "stages"), ("spark.tasks", "tasks"),
                               ("spark.executor_run_s", "run_s"),
                               ("spark.executor_cpu_s", "cpu_s")):
                m[key] += sum(j[field] for j in mine)
            for key, field in (("spark.shuffle_read_mb", "shuffle_read"),
                               ("spark.shuffle_write_mb", "shuffle_write"),
                               ("spark.spill_mb", "spill")):
                m[key] += sum(j[field] for j in mine) / 2**20
            m["spark.job_gap_s"] += (hi - lo) - _union_seconds(
                [(j["start"], j["end"]) for j in mine], lo, hi)
            m["caching.retained_mb"] = max(m["caching.retained_mb"], o["retained_mb"])
            for key in ("files_written", "bytes_written", "bytes_rewritten"):
                layer = "manifest" if key == "bytes_rewritten" else "sinks"
                m[f"{layer}.{key}"] += o.get(key, 0)
            m["_wall"] = m.get("_wall", 0.0) + (hi - lo)
        loaded, skipped, run_s, poll_s, table_s, run_wall = [], [], [], [], 0.0, 0.0
        op_build: dict[str, list[float]] = {}  # op name -> [build s, exec s]
        for s in spans:
            if s["op"] is None or s["name"] == "op":
                continue
            m = per_pass[spans[_root(spans, s)]["pass_idx"]]
            dur = s["end"] - s["start"]
            if s["name"] in SPAN_SECONDS:
                m[SPAN_SECONDS[s["name"]]] += dur
            if s["name"] in ("operators.build", "operators.exec"):
                acc = op_build.setdefault(spans[_root(spans, s)]["op_name"], [0.0, 0.0])
                acc[s["name"] == "operators.exec"] += dur
            if s["name"] in SPAN_CALLS:
                m[SPAN_CALLS[s["name"]]] += 1
            if s["name"] == "expectations.check":
                m["expectations.quarantined_rows"] += s.get("violations", 0)
            if s["name"] == "pipeline.run_table":
                n = sum(1 for j in jobs if j["pool"] == s["table"]
                        and s["start"] <= j["start"] <= s["end"])
                (loaded if s["status"] == "loaded" else skipped).append(n)
                table_s += dur
            if s["name"] == "pipeline.run":
                run_wall += dur
                name = spans[_root(spans, s)]["op_name"]
                (poll_s if name.startswith("poll") else run_s).append(dur)
        n = len(per_pass)
        out = {k: statistics.median(m[k] for m in per_pass.values()) for k in PER_LAYER}
        out["operators.build_share"] = _ratio(
            out["operators.build_s"], out["operators.build_s"] + out["operators.exec_s"])
        walls = [m["_wall"] for m in per_pass.values()]
        out["spark.utilisation"] = _ratio(out["spark.executor_run_s"],
                                          statistics.median(walls) * self.nproc)
        out["pipeline.parallelism"] = _ratio(table_s, run_wall)
        out["pipeline.jobs_per_loaded_table"] = _mean(loaded)
        out["pipeline.jobs_per_skipped_table"] = _mean(skipped)
        out["pipeline.run_s.p50"] = statistics.median(run_s) if run_s else 0.0
        out["pipeline.poll_s.p50"] = statistics.median(poll_s) if poll_s else 0.0
        out["pipeline.rows_per_s"] = (
            _ratio(rows_per_pass * n, sum(run_s) + sum(poll_s)) if rows_per_pass else 0.0)
        out["sinks.bytes_per_row"] = (
            statistics.median(sink_bytes) / rows_per_pass if sink_bytes else 0.0)
        get_spark = [s["end"] - s["start"] for s in spans if s["name"] == "session.get_spark"]
        out["session.get_spark_s"] = statistics.median(get_spark) if get_spark else 0.0
        out["trace.overhead_s"] = overhead_s
        out["driver.peak_rss_mb"] = peak_rss_mb
        tail = sorted(run_s)
        self.detail = {
            "traced_passes": n,
            "op_jobs": op_jobs,
            "op_build_share": {k: _ratio(b, b + e) for k, (b, e) in op_build.items()},
            "run_s_samples": len(run_s),
            "poll_s_samples": len(poll_s),
            "run_s_max": tail[-1] if tail else None,
            "self_s": _self_by_layer(spans),
        }
        return {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in out.items()}

    def dump(self, path: str) -> str:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
        return path


def _root(spans, s) -> int:
    while s["parent"] is not None:
        s = spans[s["parent"]]
    return s["idx"]


def _ratio(a, b) -> float:
    return a / b if b else 0.0


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def _self_by_layer(spans) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        if s["op"] is not None:
            out[s["name"]] = out.get(s["name"], 0.0) + max(s["self_s"], 0.0)
    return out


def _parquet_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out
