#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 perfbench/run.py --workload export|live --seed N --seconds S --trace 0|1

Run it from the root of a checkout: it imports the program
(``core_etl_spark``) from there and works in ``.perfbench_work/`` under it,
which it removes at exit. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics (see README.md). The workloads do fixed
numbers of operations; ``--seconds`` is recorded but does not bound them.
Without the program beside it the script exits with code 2.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "2g"  # JVM heap, initial and maximum

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ingest_cpu_ms_per_block": "ms",
    "lake_bytes_per_block": "bytes",
    "view_cpu_ms": "ms",
}


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("busy_share", "_per_row")):
        return "ratio"
    return "count"


def start_session(work: str):
    from core_etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # A heap of fixed size, every page of it touched at start: its
            # resident size is then the same in every run, where otherwise
            # it follows how far the collector happened to spread into it.
            # A fixed set of JIT compiler threads: the CPU figures leave
            # them out, which a thread that exits between two readings
            # would defeat.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch"
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("export", "live"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: expect one wrong answer, so the run must fail")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("core_etl_spark") is None:
        print(f"perfbench: the program (core_etl_spark) is not in {ROOT}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # set before the program is imported: session.py reads them at import
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # a fixed-size JVM heap (see start_session), far below the program's
    # 8 GB default, keeps the footprint modest on a shared host
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP

    from perfbench import trace, workloads

    fn, params = workloads.WORKLOADS[args.workload]
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "seconds": args.seconds, "trace": args.trace,
                      "cores": cores, "params": params}), flush=True)
    tracer = trace.Trace(cores) if args.trace else trace.NoTrace()
    run = workloads.Run(PROCESS_START)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        fn(spark, run, args.seed, work, tracer, args.corrupt_expected)
        tracer.calibrate(spark)
        e2e = run.metrics
        if args.trace:
            values = tracer.metrics(session_s, os.path.join(work, "lake"))
            metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in values.items()}
            metrics.update({f"traced.{k}": {"value": e2e[k], "unit": u}
                            for k, u in END_TO_END.items()})
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass
    print(f"perfbench: run took {time.perf_counter() - PROCESS_START:.1f} s", file=sys.stderr)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
