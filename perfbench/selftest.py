"""Self-test of the benchmark on the small sf0.001 tier.

Usage: python3 perfbench/selftest.py

For every workload, one pass untraced and one pass traced: every metric
that BENCHMARK.json names must print with its unit, and no op may fail.
Then a corrupted pipeline sink row and a corrupted query result must
each make ``failed`` greater than 0. Exits non-zero on the first miss.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "0", "--trace", str(trace), "--sf", "0.001",
           *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.exit(f"FAIL {' '.join(cmd[1:])}: exit {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                sys.exit(f"FAIL {w['name']} trace={trace}: metrics {got} != {want}")
            if res["failed"] or not res["correct"] or res["attempted"] < 1:
                sys.exit(f"FAIL {w['name']} trace={trace}: {res['failed']} of "
                         f"{res['attempted']} ops failed")
            print(f"ok   {w['name']} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} ops")
    for workload, corrupt in (("incr_pipeline", "sink"), ("iterate_ann", "query")):
        res = run(workload, 0, "--corrupt", corrupt)
        if res["failed"] == 0 or res["correct"]:
            sys.exit(f"FAIL {workload}: a corrupted {corrupt} went unnoticed")
        print(f"ok   {workload}: corrupted {corrupt} -> {res['failed']} of "
              f"{res['attempted']} ops failed")
    print("selftest passed")


if __name__ == "__main__":
    main()
