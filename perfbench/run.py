"""Benchmark for the incremental pipeline and the query registry.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: incr_pipeline, iterate_ann (see perfbench/README.md). One
process, one SparkSession on ``local[nproc]``, one closed-loop client.
A run:

1. sets the session up once, cold: the JVM launch, ``get_spark``,
   ``load_table`` for the workload's inputs and the first job;
2. runs the check pass: every query against its DuckDB oracle, or one
   whole pipeline pass against the generator's expected sinks. It is
   also the warm-up. ``setup_s`` is step 1 plus the program's time in
   this pass, so work moved into start-up or first use shows there;
3. runs timed passes until ``--seconds`` would be exceeded (at least
   ``MIN_PASSES``), checking each pipeline pass's sinks afterwards.
   Timings are per-op medians.

The last stdout line is the result JSON. With ``--trace 1`` it carries
the per-layer metrics of perfbench/layers.py instead of the end-to-end
ones. Exits 2 without a result when the program is not in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import threading
import time
from contextlib import nullcontext

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    BUILD,
    configure_env,
    ensure_tier,
    jvm_process,
    nproc,
    program_present,
    stop_spark,
)

WORKLOADS = ("incr_pipeline", "iterate_ann")
MIN_PASSES = 2  # timed samples per op, however long a pass takes
DEFAULT_SF = 0.01


class RssSampler(threading.Thread):
    """Peak of (driver JVM RSS + this process's RSS), read from /proc
    every 20 ms while running."""

    def __init__(self, pids):
        super().__init__(daemon=True)
        self.pids, self.peak_kb = pids, 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self):
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))
            self._stop_evt.wait(0.02)

    def finish(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024.0


def cpu_times() -> list[int]:
    """The host's aggregate CPU times from /proc/stat, in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before, after) -> float:
    """Share of host CPU time the hypervisor stole between two samples."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def setup_session(tables, data_dir):
    """The cold set-up: launch the JVM and start the session, register
    the workload's input tables and run the first job. Returns (spark,
    seconds)."""
    from etl_data_pipeline_spark.session import get_spark, load_table

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    frames = [load_table(spark, data_dir, t) for t in tables]
    frames[0].count()
    dt = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dt


def make_workload(name, spark, data_dir, seed):
    from workloads import PipelineWorkload, QueryWorkload

    if name == "incr_pipeline":
        work = os.path.join(BUILD, "work", f"{name}-{os.getpid()}")
        return PipelineWorkload(spark, data_dir, work, seed)
    return QueryWorkload(name, spark, data_dir, data_dir + ".oracle", seed)


def run_pass(wl, pass_idx, tracer=None):
    """One pass over the workload's ops. Returns [(op, seconds, ok)] and
    whether the pass's output check held."""
    out = []
    sink = getattr(wl, "sink", None)
    for name, (build, execute) in wl.pass_ops(pass_idx):
        op = tracer.op(name, pass_idx, sink) if tracer else nullcontext()
        with op:
            ok = True
            t0 = time.perf_counter()
            try:
                if wl.timed_build:
                    with tracer.span("operators.build") if tracer else nullcontext():
                        arg = build()
                else:
                    arg = build()
                    t0 = time.perf_counter()
                with tracer.span("operators.exec") if tracer and wl.timed_build else nullcontext():
                    execute(arg)
            except Exception as e:  # noqa: BLE001 — a failed op is a result
                ok = False
                print(f"perfbench: op {name} failed: {e!r}"[:500], file=sys.stderr)
            dt = time.perf_counter() - t0
            wl.after_op()
        out.append((name, dt, ok))
    return out, wl.after_pass(pass_idx)


def measure(wl, seconds, first_pass, tracer=None, min_passes=MIN_PASSES):
    """Closed loop: run at least ``min_passes`` passes, then more while
    the next one is expected to end within ``seconds``. Returns the
    passes as (ops, check_ok)."""
    passes, walls = [], []
    t_start = time.perf_counter()
    idx = first_pass
    while True:
        t0 = time.perf_counter()
        passes.append(run_pass(wl, idx, tracer))
        walls.append(time.perf_counter() - t0)
        idx += 1
        elapsed = time.perf_counter() - t_start
        if len(passes) >= min_passes and elapsed + statistics.median(walls) > seconds:
            return passes


def summarise(passes, bad_ops):
    """Per-op latencies, pass sums and failure counts of timed passes."""
    per_op, pass_sums, attempted, failed = {}, [], 0, 0
    for ops, check_ok in passes:
        pass_sums.append(sum(dt for _, dt, _ in ops))
        for name, dt, ok in ops:
            per_op.setdefault(name, []).append(dt)
            attempted += 1
            if not ok or not check_ok or name in bad_ops or "*" in bad_ops:
                failed += 1
    return per_op, pass_sums, attempted, failed


def end_to_end(setup_s, per_op):
    op_medians = [statistics.median(v) for v in per_op.values()]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        # a pass built from each op's median, robust to one slow sample
        "pass_s": {"value": sum(op_medians), "unit": "s"},
        "op_s.geomean": {
            "value": math.exp(statistics.fmean(math.log(m) for m in op_medians)),
            "unit": "s",
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF,
                    help="generated tier scale (the self-test uses 0.001)")
    ap.add_argument("--corrupt", choices=("sink", "query"),
                    help="self-test: tamper with one output to prove the checks")
    args = ap.parse_args(argv)
    if not program_present():
        print("perfbench: the program (etl_data_pipeline_spark, __spark_entry__.py, "
              "tools/) is not in the checkout", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    configure_env()
    from workloads import INPUTS

    data_dir = ensure_tier(args.sf)
    load0, cpu0 = os.getloadavg()[0], cpu_times()
    tracer = None
    if args.trace:
        from layers import Tracer

        tracer = Tracer(nproc())
        tracer.install_session()

    t_setup = time.perf_counter()
    spark, session_s = setup_session(INPUTS[args.workload], data_dir)
    phases = {"start": t_setup - t_start, "session": session_s}

    wl = None
    try:
        wl = make_workload(args.workload, spark, data_dir, args.seed)
        if args.corrupt == "query" and hasattr(wl, "names"):
            wl.corrupt = wl.names[0]
        if args.corrupt == "sink" and args.workload == "incr_pipeline":
            wl.corrupt = True
        t_check = time.perf_counter()
        if args.workload == "incr_pipeline":
            ops, ok = run_pass(wl, 0)  # the check pass: a whole checked pass
            bad = set() if ok else {"*"}
            check_s = sum(dt for _, dt, _ in ops)
        else:
            bad, check_s = wl.check()
        phases["check"] = time.perf_counter() - t_check
        phases["check_ops"] = check_s
        setup_s = session_s + check_s
        t_timed = time.perf_counter()

        rss = RssSampler([os.getpid(), jvm_process(spark).pid])
        rss.start()
        if tracer is None:
            passes = measure(wl, args.seconds, first_pass=1)
        else:
            # one untraced pass, for the tracing overhead, then traced ones
            t0 = time.perf_counter()
            untraced = measure(wl, 0, first_pass=1, min_passes=1)
            tracer.install(spark)
            passes = measure(wl, args.seconds - (time.perf_counter() - t0),
                             first_pass=2, tracer=tracer)
        peak_mb = rss.finish()
        phases["timed"] = time.perf_counter() - t_timed

        per_op, pass_sums, attempted, failed = summarise(passes, bad)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": nproc(),
            "peak_rss_mb": peak_mb,
            "loadavg": [load0, os.getloadavg()[0]],
            "steal_share": steal_share(cpu0, cpu_times()),
            "pass_s_samples": pass_sums,
            "op_samples_s": per_op,
            "op_median_s": {k: statistics.median(v) for k, v in per_op.items()},
            "failed_checks": sorted(bad),
            "phase_s": phases,
        }
        if tracer is None:
            metrics = end_to_end(setup_s, per_op)
        else:
            _, untraced_sums, _, _ = summarise(untraced, bad)
            metrics = tracer.metrics(
                overhead_s=statistics.median(pass_sums) - untraced_sums[0],
                peak_rss_mb=peak_mb,
                rows_per_pass=getattr(wl, "rows_per_pass", None),
                sink_bytes=getattr(wl, "sink_bytes", None),
            )
            detail.update(tracer.detail)
            detail["spans_file"] = tracer.dump(os.path.join(
                BUILD, "traces", f"{args.workload}-{args.seed}-{os.getpid()}.json"))
    finally:
        if hasattr(wl, "cleanup"):
            wl.cleanup()
        stop_spark(spark)

    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
