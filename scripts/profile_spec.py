#!/usr/bin/env python
"""Per-spec profiling harness for the optimization round.

`python scripts/profile_spec.py l07 l12 ...` runs each named spec (exact
name or prefix; no names = every spec) with the bench methodology (warmup
+ N timed count() runs, clearCache between runs) and prints per-run
walls, then dumps the AQE-FINAL executed plan (after the action) to
stdout so ReusedExchange / runtime join rewrites are visible — `explain()`
before execution only shows the initial plan.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     PROFILE_RUNS (default 5), PROFILE_PLAN (default 1; 0 = skip plan dump).
"""
from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from core_etl_spark.plans import all_specs  # noqa: E402
from core_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("PROFILE_RUNS", "5"))
    dump_plan = os.environ.get("PROFILE_PLAN", "1") != "0"
    prefixes = sys.argv[1:]
    spark = get_spark(app_name="profile_spec")
    specs = {
        n: s for n, s in all_specs().items()
        if not prefixes or any(n.startswith(p) for p in prefixes)
    }
    for name, spec in sorted(specs.items()):
        spark.sparkContext.setJobDescription(f"profile:{name}:warmup")
        spec.builder(spark, sf_dir).count()
        walls = []
        for i in range(runs):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"profile:{name}:run{i}")
            t0 = time.perf_counter()
            df = spec.builder(spark, sf_dir)
            df.count()
            walls.append(round(time.perf_counter() - t0, 4))
        print(f"{name}: min={min(walls)} runs={walls}", flush=True)
        if dump_plan:
            # final (post-AQE) executed plan of the LAST run
            print(f"--- {name} AQE-final executed plan ---", flush=True)
            print(df._jdf.queryExecution().executedPlan().toString(), flush=True)


if __name__ == "__main__":
    main()
