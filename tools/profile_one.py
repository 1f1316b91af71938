"""Profile one or more registered queries in isolation.

Usage:
    python tools/profile_one.py QUERY [QUERY ...] [--runs N] [--plan OUT.txt]
        [--sf DIR]

Per query: RUNS timed executions (first discarded as warm-up, median of
the rest reported) of ``fn(spark, sf_dir).collect()`` — the same timed
action as bench.py (``bench.time_query``) so numbers are comparable with BASELINE.md — plus an
optional ``.explain('formatted')`` capture for plans/r14 evidence.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=4)
    ap.add_argument("--plan", default=None, help="dir to write <query>.txt plans")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from bench import time_query
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.session import get_spark

    spark = get_spark("profile_one")
    spark.sparkContext.setLogLevel("ERROR")
    for name in args.queries:
        fn = QUERIES[name]
        if args.plan:
            os.makedirs(args.plan, exist_ok=True)
            df = fn(spark, args.sf)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(args.plan, f"{name}.txt"), "w") as f:
                f.write(txt)
        samples = [
            time_query(spark, fn, args.sf, f"profile:{name}#{i}")
            for i in range(args.runs)
        ]
        med = statistics.median(samples[1:]) if len(samples) > 1 else samples[0]
        print(
            f"{name}: median {med:.3f}s  samples "
            + " ".join(f"{s:.3f}" for s in samples),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
