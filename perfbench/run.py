#!/usr/bin/env python3
"""Lakehouse benchmark: one workload, one seed, one process, one client.

    python3 perfbench/run.py --workload medallion_incremental --seed 1 \
        --seconds 15 --trace 0

Runs from the root of a source checkout on ``local[<nproc>]``.  Inputs
are generated from ``--seed`` before any timing starts; everything the
run writes lives under ``.bench_work/`` in the checkout and is removed
at the end.  The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics (from spans recorded
around the engine's public calls) with ``--trace 1``.  Workloads,
metrics and the layer map are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("medallion_incremental", "query_mix")


def pin_environment(work: Path) -> int:
    """One process on every core this box gives us; every scratch file
    (Spark local dirs, JVM and Python temp, warehouse) under ``work``.

    The driver heap is 1 GB, not ``get_spark``'s 8 GB default: the
    workloads' data is a few MB, and the benchmark's memory stays small
    on a box it may share."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # every JVM (the launcher's too) keeps its temp files in the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the driver heap starts at its maximum, so peak RSS does not
        # depend on when the JVM chose to grow it
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options -Xms1g pyspark-shell",
        "PYSPARK_PYTHON": sys.executable,
    })
    os.chdir(work)
    return cpus


def java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = [ln for ln in out.stderr.splitlines() if "version" in ln]
    return lines[0].strip() if lines else "unknown"


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=60)


def make_workload(name: str, tracer, work: str, seed: int):
    if name == "medallion_incremental":
        from medallion import Medallion

        return Medallion(tracer, work, seed)
    from querymix import QueryMix

    return QueryMix(tracer, work, seed)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    try:
        return measure(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run left files there
        except OSError:
            pass


def measure(args, work: Path) -> int:
    cpus = pin_environment(work)
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import dataengineeringworkshop_spark  # noqa: F401  the program under test
        import pyspark
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from harness import Tracer, cpu_steal_share, cpu_times, peak_rss_mb

    tracer = Tracer(enabled=bool(args.trace))
    wl = make_workload(args.workload, tracer, str(work), args.seed)
    wl.generate()  # untimed

    steal0 = cpu_times()
    t0 = time.perf_counter()
    from dataengineeringworkshop_spark.engine import Lakehouse
    from dataengineeringworkshop_spark.session import get_spark

    with tracer.span("session.get_spark", op="setup"):
        spark = get_spark(app_name="perfbench")
    tracer.spark = spark
    wl.lh = Lakehouse(storage_dir=str(work / "lake"), spark=spark, table_backend="versioned")
    try:
        with tracer.span("setup", op="setup"):
            wl.setup()
        setup_s = time.perf_counter() - t0
        if hasattr(wl, "prepare_checks"):
            wl.prepare_checks()  # untimed
        wl.run(args.seconds)
        report = wl.check()
    except Exception:
        traceback.print_exc()
        stop_spark(spark)
        return 1
    py_mb, jvm_mb = peak_rss_mb()
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (report["p50"], "s"),
        "latency_tail_s": (report["tail"], "s"),
        "rows_per_s": (report["rows_per_s"], "rows/s"),
        "storage_bytes_per_input_byte": (report["storage"], "ratio"),
        "peak_rss_mb": (py_mb + jvm_mb, "MB"),
    }
    if args.trace:
        metrics = wl.layer_metrics()
        metrics["proc.py_rss_mb"] = (py_mb, "MB")
        metrics["proc.jvm_rss_mb"] = (jvm_mb, "MB")
        metrics["session.get_spark_s"] = (tracer.by_name()["session.get_spark"]["total_s"], "s")
        metrics["trace.bookkeeping_s"] = (tracer.bookkeeping_s / report["attempted"], "s")
        tracer.dump(str(work.parent / f"spans-{args.workload}-s{args.seed}.jsonl"))
    info = {
        "workload": args.workload, "seed": args.seed, "nproc": cpus,
        "spark": pyspark.__version__, "java": java_version(),
        "cpu_steal_share": round(cpu_steal_share(steal0, cpu_times()), 4),
        **report["info"],
    }
    stop_spark(spark)
    print(json.dumps({"info": info}), file=sys.stderr)
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
