#!/usr/bin/env python3
"""Benchmark of the full-text index engine: one closed-loop client on
local[4], driving the engine only through its public entry points and
checking every answer against `oracle.OracleIndex`.

    python3 idxbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Workloads (see README.md): `interactive` sends single `search_collect`
queries, `batch` sends `search_batch` calls of 64 queries. Both set up by
starting Spark and building the index in the chunked two-level shape.
`--trace 1` additionally wraps the engine's layer boundaries, runs the
fixed check set and one ingest cycle (add -> refresh -> reload -> query),
and prints per-layer metrics instead of end-to-end ones. The last line of
stdout is the JSON result; run records go to stdout before it, warnings
to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=["interactive", "batch"], required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    sys.path.insert(0, ROOT)
    try:
        import text_indexing_and_retrieval_system_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    if args.trace:
        os.environ["TIRS_KERNEL_TIMELOG"] = os.path.join(work, "kernel_times.csv")
    try:
        from idxbench import bench

        os.environ["SPARK_GRAFT_CPUS"] = str(bench.CORES)
        result = bench.run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
