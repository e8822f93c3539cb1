"""Paths, process environment and Spark process lifetime for the benchmark.

Everything the benchmark writes — generated tiers, oracle digests,
pipeline work directories, Spark scratch, JVM temp files, trace spans —
lives under ``.bench_build/perfbench`` in the checkout.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# the sources a generated tier is made from; the tier's directory name
# carries their hash, so editing either one regenerates it
GENERATOR_SOURCES = ("perfbench/gendata.py", "tools/gen_scale_data.py")


def program_present() -> bool:
    """The package, its driver contract and the tools the benchmark
    imports are all in the checkout."""
    need = ("etl_data_pipeline_spark/__init__.py", "__spark_entry__.py",
            "tools/check_correctness.py", *GENERATOR_SOURCES)
    return all(os.path.isfile(os.path.join(ROOT, rel)) for rel in need)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env() -> None:
    """Point every scratch location at the checkout before any JVM
    starts, and size the engine's local master to this host."""
    tmp = os.path.join(BUILD, "tmp")
    local = os.path.join(BUILD, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def jvm_process(spark):
    return getattr(spark.sparkContext._gateway, "proc", None)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (it exits when its stdin closes; its Python workers follow)."""
    gateway = spark.sparkContext._gateway
    proc = jvm_process(spark)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def generator_hash() -> str:
    h = hashlib.sha256()
    for rel in GENERATOR_SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ensure_tier(sf: float) -> str:
    """Path of the generated tier for ``sf``, generating it on first use
    in a separate process so its JVM warm-up never reaches a run."""
    out = os.path.join(BUILD, "data", f"sf{sf:g}-{generator_hash()}")
    if not os.path.isdir(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "gendata.py"), out, str(sf)],
            check=True,
            timeout=600,
            stdout=sys.stderr,
        )
    return out
