"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench and
spark-submit entrypoints share one configuration story:

- AQE on (runtime coalescing + skew-join splitting — the dynamic
  complement to our explicit hot-cell salting)
- Arrow execution for every pandas UDF (all kernels are Arrow-batched)
- local mode on every core of the host unless SPARK_GRAFT_CPUS says
  otherwise; shuffle partitions sized to it; a real cluster overrides
  via spark-submit --conf (documented in README)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_master() -> str:
    """``SPARK_GRAFT_MASTER``, else ``local[SPARK_GRAFT_CPUS]``, else
    local mode on every core the host reports."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1
    return os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"


def get_spark(app: str = "mobilitydb-spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """``extra_conf`` lets callers set master-specific knobs (e.g.
    ``local-cluster[n,c,mem]`` needs spark.executor.memory and an
    executor-side PYTHONPATH) without duplicating the defaults."""
    master = master or default_master()
    if shuffle_partitions is None:
        # local mode: match core count; on a cluster this is overridden
        n = master[master.find("[") + 1:master.find("]")] if "[" in master else "32"
        if n == "*":
            shuffle_partitions = 32
        elif "," in n:  # local-cluster[N,cores,mem] -> N*cores
            execs, cores = n.split(",")[:2]
            shuffle_partitions = max(8, int(execs) * int(cores))
        else:
            shuffle_partitions = max(8, int(n))
    b = (SparkSession.builder.appName(app).master(master)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
         # 32 MB input splits (not the 128 MB default): the bench
         # fixtures are ~6 MB parquet files that pack into ~20 read
         # partitions at 128 MB — a 16/32-core run then starves on the
         # scan stage (r4: flagship 4->16 efficiency 0.52 -> 0.8+ after
         # this change).  On a real cluster the input is thousands of
         # files and this knob is overridden via spark-submit --conf.
         .config("spark.sql.files.maxPartitionBytes", "33554432")
         .config("spark.ui.enabled", "false"))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
