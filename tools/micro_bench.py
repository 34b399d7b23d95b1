"""Per-query micro-benchmark: the same protocol as bench.py (local[N],
noop sink, untimed pandas-UDF warmup, best-of-2) over just the queries
named on the command line — the iteration loop for perf work, so a
single query's plan can be tuned without paying the full headline run.

Usage: python tools/micro_bench.py [--sf-dir DIR] [--cpus N]
           [--trials 2] query [query ...]

--cpus defaults to the CPUs this process may run on.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--cpus", type=int, default=len(os.sched_getaffinity(0))
    )
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from pdf_extractor_spark.session import build_session

    spark = build_session(
        "micro-bench", master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.LongType())
    def _noop_udf(s):
        return s

    _force(
        spark.range(0, args.cpus * 4, 1, args.cpus)
        .select(_noop_udf("id").alias("x"))
    )

    qmap = entry.queries()
    out = {}
    for name in args.queries:
        fn = qmap[name]
        best = float("inf")
        per = []
        for _ in range(args.trials):
            t0 = time.perf_counter()
            _force(fn(spark, args.sf_dir))
            dt = time.perf_counter() - t0
            per.append(round(dt, 3))
            best = min(best, dt)
        out[name] = round(best, 3)
        print(f"[micro] {name}: best={out[name]}s trials={per}",
              file=sys.stderr, flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
