#!/usr/bin/env python
"""Per-query isolation bench (guide §1.4) — bench.py stays FROZEN for
the driver; this harness times individual registry queries with the
same force() methodology (count + xxhash over every output column so
Catalyst cannot prune the computation), plus an optional noop sink.

Usage:
  SPARK_GRAFT_SF_DIR=<sf dir> python bench_extra.py q1 q2 ...  # default: bench.py's
  python bench_extra.py --noop q1        # noop sink instead of force()
  python bench_extra.py --reps 3 q1      # report all reps (first=warm-up)

Each rep reports wall seconds and CPU seconds over the process tree
(driver, JVM, Python workers).
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import SF_DIR, _proc_sample  # noqa: E402  (frozen suite)
from perfbench.run import tree_cpu_s  # noqa: E402


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+", help="registry query names")
    ap.add_argument("--noop", action="store_true",
                    help="noop sink instead of force()")
    ap.add_argument("--reps", type=int, default=2,
                    help="repetitions per query (the first is a warm-up)")
    return ap.parse_args(argv)


def timed(run, *args) -> tuple[float, float]:
    """(wall s, process-tree CPU s) of ``run(*args)``; the CPU samples
    are taken outside the wall-clock window."""
    c0 = tree_cpu_s(_proc_sample())
    t0 = time.time()
    run(*args)
    wall = round(time.time() - t0, 3)
    return wall, round(tree_cpu_s(_proc_sample()) - c0, 3)


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

    def rep(fn):
        df = fn(spark, SF_DIR)
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            force(df)

    out, cpu = {}, {}
    for name in args.queries:
        fn, _ = reg[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        times, cpus = [], []
        for _ in range(args.reps):
            wall, cpu_s = timed(rep, fn)
            times.append(wall)
            cpus.append(cpu_s)
        out[name], cpu[name] = times, cpus
        print(name, times, "cpu_s", cpus, flush=True)
    res = {"sf": os.path.basename(SF_DIR.rstrip('/')), "noop": args.noop,
           "times": out, "cpu_s": cpu}
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
