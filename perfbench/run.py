"""Benchmark entry point.

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. Starts a `local[nproc]` Spark
session through `ela_lib_spark.session.get_spark`, runs one workload
(see workloads.py) and prints, as the last line of stdout, one JSON
object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer metrics and
writes the run's spans to .perfbench_out/. The line before it
(`run-info: {...}`) records the session sizing, versions and sample
counts. Everything the run writes stays under .perfbench_work/ and
.perfbench_out/ in the checkout; the work directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "3g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["search_mix", "near_dup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _start_spark(work: str, nproc: int):
    from ela_lib_spark.session import get_spark

    return get_spark(
        "perfbench", master=f"local[{nproc}]", driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.local.dir": work,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import ela_lib_spark  # noqa: F401
        import pyspark
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import workloads

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = work  # the session ships the engine as a zip via tempfile
    tempfile.tempdir = None
    nproc = len(os.sched_getaffinity(0))

    spark, started = None, time.perf_counter()
    try:
        spark = _start_spark(work, nproc)
        session_s = time.perf_counter() - started
        run = workloads.Run(spark, work, args.seed, args.seconds, bool(args.trace))
        result = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            run.tracer.write(os.path.join(
                out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
            missing = sorted(set(workloads.LAYER_UNITS) - set(run.layer))
            if missing:
                raise RuntimeError(f"per-layer metrics not measured: {missing}")
            result["metrics"] = {
                k: {"value": float(run.layer[k]), "unit": u}
                for k, u in workloads.LAYER_UNITS.items()
            }
        info = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "master": f"local[{nproc}]", "driver_memory": DRIVER_MEMORY,
            "spark": pyspark.__version__, "python": platform.python_version(),
            "session_s": round(session_s, 3), **run.info,
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    info["wall_s"] = round(time.perf_counter() - started, 3)
    print("run-info: " + json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
