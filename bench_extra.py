#!/usr/bin/env python
"""Per-query isolation bench (guide §1.4) — bench.py stays FROZEN for
the driver; this harness times individual registry queries with the
same force() methodology (count + xxhash over every output column so
Catalyst cannot prune the computation), plus an optional noop sink.

Usage:
  SPARK_GRAFT_SF_DIR=<sf dir> python bench_extra.py q1 q2 ...  # default: bench.py's
  python bench_extra.py --noop q1        # noop sink instead of force()
  python bench_extra.py --reps 3 q1      # report all reps (first=warm-up)
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import SF_DIR  # noqa: E402  (the frozen suite's data dir)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+", help="registry query names")
    ap.add_argument("--noop", action="store_true",
                    help="noop sink instead of force()")
    ap.add_argument("--reps", type=int, default=2,
                    help="repetitions per query (the first is a warm-up)")
    return ap.parse_args(argv)


def main() -> None:
    args = parse_args()
    from pyspark.sql import functions as F
    from mobilitydb_spark.queries import registry
    from mobilitydb_spark.session import get_spark

    spark = get_spark("mobilitydb-spark-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()

    def force(df):
        cols = [F.col(c) for c in df.columns]
        return df.select(F.count(F.lit(1)).alias("n"),
                         F.bit_xor(F.xxhash64(*cols)).alias("chk")).collect()

    out = {}
    for name in args.queries:
        fn, _ = reg[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        times = []
        for _ in range(args.reps):
            t0 = time.time()
            df = fn(spark, SF_DIR)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                force(df)
            times.append(round(time.time() - t0, 3))
        out[name] = times
        print(name, times, flush=True)
    print(json.dumps({"sf": os.path.basename(SF_DIR.rstrip('/')),
                      "noop": args.noop, "times": out}))
    spark.stop()


if __name__ == "__main__":
    main()
