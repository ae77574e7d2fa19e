"""Benchmark entry point.

    python3 perfbench/run.py --workload small_exports --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Prepares the workload's inputs from
the tables in ``perfbench/data`` and the seed, starts a local Spark session on every core, runs the
workload for about ``--seconds`` of measured time, checks every
output, and prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones (see perfbench/README.md). Spark's own logging goes to
stderr. Everything the run writes stays under ``.perfbench/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("small_exports", "curation")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def environment(work: str, state: str) -> None:
    """Keep every file Spark, the JVM, Derby and Python create inside
    the checkout, and size the session to this host's cores."""
    tmp = f"{state}/tmp"  # persistent: reuses the compiled kernel jar
    for d in (work, tmp, f"{work}/spark-local"):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell",
        ]
    )


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "exporter_spark", "__init__.py")):
        print(
            "perfbench: exporter_spark/ not found next to perfbench/;"
            " run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    environment(work, state)

    from perfbench.workloads import Bench

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                  work, state, T_START)
    try:
        result = bench.run()
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
