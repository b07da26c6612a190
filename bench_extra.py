#!/usr/bin/env python
"""Optimization-round measurement harness (bench.py is frozen for grading).

Per-query noop-sink timing (guide section 1.4) with repeat control, plus
.explain('formatted') capture to plans/<query>_<tag>.txt. Mirrors the
frozen bench.py methodology exactly: same session shape (local[CPUS],
shuffle_partitions=CPUS), same inputs ($SPARK_GRAFT_SF_DIR), same noop sink.

Usage:
  python bench_extra.py [--tag before|after] [--reps 2] [query ...]
With no query names, runs every BENCH_QUERIES entry from bench.py.
Writes one JSON line to stdout and plans to plans/ (untracked).
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    args = sys.argv[1:]
    tag = "probe"
    reps = 2
    names: list[str] = []
    it = iter(args)
    for a in it:
        try:
            if a == "--tag":
                tag = next(it)
            elif a == "--reps":
                reps = int(next(it))
            else:
                names.append(a)
        except StopIteration:
            raise SystemExit(f"missing value for {a}") from None

    from bench import BENCH_QUERIES
    from puddin_spark.queries import ALL_QUERIES
    from puddin_spark.session import get_spark

    if not names:
        names = list(BENCH_QUERIES)

    plans_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans")
    os.makedirs(plans_dir, exist_ok=True)

    spark = get_spark(master=f"local[{CPUS}]", app_name="bench_extra")
    results: dict[str, float] = {}
    for name in names:
        q = ALL_QUERIES[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            q(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        results[name] = round(best, 3)
        # plan capture for the judge (the declared query's physical plan)
        df = q(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
    spark.sparkContext.setJobDescription(None)
    spark.stop()
    print(json.dumps({"tag": tag, "reps": reps, "queries": results}))


if __name__ == "__main__":
    main()
