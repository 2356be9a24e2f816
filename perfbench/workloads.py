"""The benchmark workloads.

Each workload registers its inputs (part of set-up), runs one
iteration as a fixed list of operations, and checks its outputs
against an independent oracle once per run, outside timing.  An
operation is a call into one library function (``build``, which
returns a DataFrame or, for eager calls, a result) followed by the
action that forces it; the action returns the output's (row count,
``bit_xor(xxhash64(all columns))``), which must repeat across
iterations.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mobilitydb_spark import fixtures, pipeline, queries, tiles

from . import oracles

ZOOM = 12
ADMIN_POLYS = 64  # the layer also holds one hot-cluster polygon: 65 rows
TRAJECTORY_OPS = [
    "traj_metrics",        # spark_temporal vectorized numpy kernel
    "tagg_tcount_seq",     # aggs: temporal count over sequences
    "traj_ever_in_box",    # per-group _per_key_kernel
    "geog_dwithin_join",   # joins: grid-disk prefilter + haversine refine
]


def force(df: DataFrame) -> tuple[int, int]:
    """Evaluate every output column: (row count, xor of row hashes)."""
    row = df.select(F.count(F.lit(1)).alias("n"),
                    F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns]))
                    .alias("chk")).collect()[0]
    return int(row["n"]), int(row["chk"] or 0)


class Flagship:
    """Pages -> geotags -> broadcast PIP against the admin layer -> tiles
    (``pipeline.flagship``, the headline pages/s path, entirely in the
    JVM), then the zoom 12..0 tile pyramid of the same geotags written
    partitioned by zoom (``tiles.write_pyramid``)."""
    name = "flagship"
    ops = ["pipeline.flagship", "tiles.write_pyramid"]
    warmup_iters = 2  # warm iterations still speeding up as the JIT settles

    def __init__(self, spark, pages_path: str, n_pages: int, work_dir: str):
        self.spark = spark
        self.pages_path = pages_path
        self.pages = spark.read.parquet(pages_path)
        self.admin = fixtures.polygons_pd("admin", ADMIN_POLYS)
        self.work_dir = work_dir
        self.input_bytes = sum(
            os.path.getsize(os.path.join(pages_path, f))
            for f in os.listdir(pages_path) if f.endswith(".parquet"))
        self.source_rows = n_pages
        self._iter = 0

    def build(self) -> DataFrame:
        return pipeline.flagship(self.pages, self.admin, zoom=ZOOM)

    def _write(self, pyramid: DataFrame, path: str) -> tuple[int, int]:
        tiles.write_pyramid(pyramid, path)
        return force(self.spark.read.parquet(path))

    def iteration(self, op) -> None:
        self._iter += 1
        path = os.path.join(self.work_dir, f"pyramid-{self._iter}")
        op("pipeline.flagship", self.build)
        op("tiles.write_pyramid",
           lambda: tiles.build_pyramid(pipeline.extract_points(self.pages),
                                       max_zoom=ZOOM, min_zoom=0),
           lambda pyramid: self._write(pyramid, path))
        shutil.rmtree(path, ignore_errors=True)

    def check(self, report) -> None:
        got = self.build().select("url", "tag_idx", "poly_id").toPandas()
        report("flagship_vs_numpy_pip",
               oracles.flagship_mismatches(self.pages_path, self.admin, got))

    def close(self) -> None:
        shutil.rmtree(self.work_dir, ignore_errors=True)


class TrajectoryOps:
    """MobilityDB temporal operators from the query registry over a
    seeded events table, and the geography dwithin join."""
    name = "trajectory_ops"
    ops = [f"queries.{q}" for q in TRAJECTORY_OPS]
    warmup_iters = 1

    def __init__(self, spark, sf_dir: str, n_events: int, work_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self.registry = queries.registry()
        self.source_rows = n_events
        self.collected: dict[str, pd.DataFrame] = {}

    def _collect(self, q: str):
        """The cold iteration's action: the same (count, hash) as
        ``force``, computed over the collected rows (a few hundred), which
        are kept for the oracle check instead of running the op again."""
        def action(df: DataFrame) -> tuple[int, int]:
            pdf = df.withColumn("_row_hash", F.xxhash64(
                *[F.col(c) for c in df.columns])).toPandas()
            self.collected[q] = pdf.drop(columns="_row_hash")
            hashes = pdf["_row_hash"].to_numpy(dtype=np.int64)
            chk = int(np.bitwise_xor.reduce(hashes)) if len(pdf) else 0
            return len(pdf), chk
        return action

    def iteration(self, op) -> None:
        for q in TRAJECTORY_OPS:
            fn = self.registry[q][0]
            op(f"queries.{q}", lambda fn=fn: fn(self.spark, self.sf_dir),
               None if q in self.collected else self._collect(q))

    def check(self, report) -> None:
        with oracles.Duck(self.sf_dir) as duck:
            for q in TRAJECTORY_OPS:
                report(f"{q}_vs_duckdb", oracles.frame_mismatches(
                    self.collected.get(q), duck.sql(self.registry[q][1])))

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (Flagship, TrajectoryOps)}
ALL_OPS = [o for w in WORKLOADS.values() for o in w.ops]
