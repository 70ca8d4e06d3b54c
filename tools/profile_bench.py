#!/usr/bin/env python3
"""Per-query time attribution for the bench set (guide §1: measure first).

Splits each bench query's wall time into:
  construct — Python DataFrame construction (py4j plan building)
  analyze   — schema resolution (Catalyst analysis)
  plan      — optimization + physical planning (executedPlan, pre-AQE)
  exec_N    — N timed executions of the checksummed plan (includes AQE
              replanning + job scheduling + compute)

Usage: python tools/profile_bench.py [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES, checksum_plan  # noqa: E402


def profile_query(spark, spec, sf_dir, n_runs=5):
    out = {}
    t0 = time.perf_counter()
    df = spec.fn(spark, sf_dir)
    out["construct"] = round(time.perf_counter() - t0, 4)

    cs = checksum_plan(df)
    t0 = time.perf_counter()
    cs.schema  # force analysis
    out["analyze"] = round(time.perf_counter() - t0, 4)

    t0 = time.perf_counter()
    cs._jdf.queryExecution().executedPlan()
    out["plan"] = round(time.perf_counter() - t0, 4)

    runs = []
    for _ in range(n_runs):
        # fresh DataFrame per run, exactly like bench.py (no shuffle reuse)
        t0 = time.perf_counter()
        checksum_plan(spec.fn(spark, sf_dir)).collect()
        runs.append(round(time.perf_counter() - t0, 4))
    out["exec_runs"] = runs
    out["exec_min"] = min(runs)
    return out


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from travel_data_ingestion_spark.queries import member_queries
    from travel_data_ingestion_spark.session import default_parallelism, get_spark

    spark = get_spark(
        app_name="profile_bench",
        extra_conf={
            "spark.sql.legacy.allowHashOnMapType": "true",
            "spark.sql.shuffle.partitions": str(default_parallelism()),
        },
    )
    specs = member_queries()
    names = sys.argv[1:] or BENCH_QUERIES

    # global warmup, same as bench.py
    for n in names:
        checksum_plan(specs[n].fn(spark, sf_dir)).collect()

    results = {}
    for n in names:
        spark.sparkContext.setJobDescription(f"profile:{n}")
        results[n] = profile_query(spark, specs[n], sf_dir)
        spark.sparkContext.setJobDescription(None)
        print(json.dumps({n: results[n]}), flush=True)

    print(json.dumps({"profile": results}))
    spark.stop()


if __name__ == "__main__":
    main()
