#!/usr/bin/env python
"""Per-query A/B timing harness for the r14 optimization round.

Usage: python scripts/bench_ab_r14.py <query> [<query> ...] [--n N | --n=N]

Same timer contract as bench.py (constructor + noop sink, warm-up then
best-of-N, cache cleared between runs), but per-query so an isolated
change can be measured without paying a full bench sweep.  Prints one
JSON line per query with best / median / all samples for both total
and construct.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hypertension_dashboard_pipeline_spark import registry
from hypertension_dashboard_pipeline_spark.session import build_session, cpu_count

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def run_once(spark, name: str) -> tuple[float, float]:
    t0 = time.perf_counter()
    df = registry.QUERIES[name](spark, SF_DIR)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, t1 - t0


def main() -> None:
    parser = argparse.ArgumentParser(
        description="Per-query A/B timing: warm-up, then N timed runs.")
    parser.add_argument("queries", nargs="+", metavar="query")
    parser.add_argument("--n", type=int, default=5,
                        help="timed runs per query (--n N or --n=N)")
    opts = parser.parse_intermixed_args()
    args, n = opts.queries, opts.n
    registry.load_all()
    spark = build_session(app_name="ab_r14", shuffle_partitions=cpu_count())
    spark.sparkContext.setLogLevel("ERROR")
    for name in args:
        spark.sparkContext.setJobDescription(f"ab:{name}")
        run_once(spark, name)  # warm-up
        spark.catalog.clearCache()
        totals, constructs = [], []
        for _ in range(n):
            total, construct = run_once(spark, name)
            totals.append(round(total, 4))
            constructs.append(round(construct, 4))
            spark.catalog.clearCache()
        print(json.dumps({
            "query": name,
            "best": min(totals),
            "median": statistics.median(totals),
            "construct_median": statistics.median(constructs),
            "totals": totals,
            "constructs": constructs,
        }))
    spark.stop()


if __name__ == "__main__":
    main()
