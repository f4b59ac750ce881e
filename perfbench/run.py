"""Benchmark launcher: one run of one workload.

    python3 perfbench/run.py --workload warehouse_queries --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The launcher pins the run environment
(recorded on the first output line), makes a fresh temp root under
``.bench_runs/`` in the checkout for everything the run writes, runs the
workload and prints, as its last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` prints the per-layer ones.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
#: Driver heap: the program's default (16g) is more than a small box has.
DRIVER_MEMORY = "2g"
#: A run still going after this many seconds is stopped: a run must end
#: within 180 s.
WATCHDOG_S = 170


def pin_environment(root: str) -> dict[str, str]:
    """Fix everything the program reads from the environment, before it
    is imported: session parallelism, driver heap, where Spark spills and
    where Python workers find the package."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(root, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (CHECKOUT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "TMPDIR": tmp,
        # every JVM the run starts (the Spark launcher and the Spark driver)
        # keeps its temp files in the run's root, and writes no
        # hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TZ": "UTC",
    }
    os.environ.update(pinned)
    os.environ.pop("SPARK_MASTER", None)
    time.tzset()
    return pinned


def _abort(root: str) -> None:
    """Watchdog: print every thread's stack, stop the driver JVM and wait
    for it, remove the run's temp root and exit without a result."""
    print(f"run still going after {WATCHDOG_S} s; stopping it", file=sys.stderr, flush=True)
    faulthandler.dump_traceback(all_threads=True)
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        SparkContext._gateway.proc.kill()
        SparkContext._gateway.proc.wait()
    shutil.rmtree(root, ignore_errors=True)
    os._exit(3)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.stdout.reconfigure(line_buffering=True)

    root = os.path.join(CHECKOUT, ".bench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(root)
    watchdog = threading.Timer(WATCHDOG_S, _abort, (root,))
    watchdog.daemon = True
    watchdog.start()
    try:
        env = pin_environment(root)
        sys.path[:0] = [CHECKOUT, HERE]
        import workloads  # the program is imported here, after pinning

        if args.workload not in workloads.WORKLOADS:
            ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        run = workloads.Run(root, args.seed, args.seconds, bool(args.trace))
        print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace, "env": env}))
        try:
            out = workloads.WORKLOADS[args.workload](run)
        finally:
            run.close()
        print(json.dumps({"host": {"steal_ratio": run.steal_ratio}}))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(workloads.result(out, bool(args.trace), workloads.OWNS[args.workload])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
