"""Benchmark command for elasticsearch_spark.

    python3 perfbench/run.py --workload bulk|nrt --seed N --seconds S --trace 0|1

Runs one workload (see workloads.py and README.md) against the package in
the checkout this file sits in, checks the answers, and prints as its last
stdout line one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it holds diagnostics
(host capacity before and after, warm-up count, sample counts). Everything
the run writes, Spark's scratch space included, stays in a work directory
inside the checkout that is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _isolate(workdir: str) -> None:
    """Point every temporary and scratch path of Python, the JVM and Spark
    into ``workdir``. Must run before pyspark starts the JVM."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # the JVM spark-submit starts first
    # The driver's heap is bounded, as the host is shared, and fixed and
    # touched at start, as servers commonly run it: otherwise G1 grows it by
    # anywhere from 1.0 to 1.4 GB in a run, and peak_rss_mb with it. Heap
    # demand shows in session.jvm_gc_ms instead.
    heap = "2g"
    os.environ["SPARK_DRIVER_MEM"] = heap
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{jvm_opts} -Xms{heap} -XX:+AlwaysPreTouch" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("bulk", "nrt"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="shrink corpus and sample counts (smoke tests only)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "elasticsearch_spark")):
        print(f"no elasticsearch_spark package under {ROOT}", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _isolate(workdir)
    sys.path.insert(0, ROOT)
    try:
        from perfbench.workloads import Run

        run = Run(args.workload, args.seed, args.seconds, bool(args.trace), workdir, args.scale)
        result = run.run()
        print(json.dumps({"diagnostics": run.diag}))
        print(json.dumps(result))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
