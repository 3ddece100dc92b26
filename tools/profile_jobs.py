#!/usr/bin/env python
"""Per-query Spark-job-count + wall-time profiler (guide §1: measure
first). For each named query, reports:

  build_jobs / build_sec — Spark jobs and wall time during fn() (the
      eager lifecycle work: commits, index builds, iterative rounds)
  exec_jobs / exec_sec   — jobs and wall time of one .count() of the
      built frame

Job counts come from the DAGScheduler's monotonically increasing job
id (numTotalJobs) — exact, no listener plumbing.

Usage: python tools/profile_jobs.py [--sf DIR] q1 q2 ...
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from stupp_exclusion_etl_spark.plans import REGISTRY  # noqa: E402
from stupp_exclusion_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and args[0] == "--sf":
        sf_dir = args[1]
        args = args[2:]
    spark = get_spark(app_name="profile-jobs")
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def njobs() -> int:
        return jsc.dagScheduler().numTotalJobs()

    # warm up: one plan build and one Python worker start
    REGISTRY["point_lookup"].fn(spark, sf_dir).count()
    spark.range(64).repartition(8).mapInPandas(lambda it: it, "id long").count()

    out = {}
    for name in args:
        sc.setJobDescription(f"profile:{name}:build")
        j0, t0 = njobs(), time.perf_counter()
        df = REGISTRY[name].fn(spark, sf_dir)
        j1, t1 = njobs(), time.perf_counter()
        sc.setJobDescription(f"profile:{name}:exec")
        df.count()
        j2, t2 = njobs(), time.perf_counter()
        out[name] = {
            "build_jobs": j1 - j0,
            "build_sec": round(t1 - t0, 3),
            "exec_jobs": j2 - j1,
            "exec_sec": round(t2 - t1, 3),
        }
        print(name, json.dumps(out[name]), flush=True)
    sc.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
