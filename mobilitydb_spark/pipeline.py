"""Flagship pipeline: pages → geotag points → PIP join → tiles.

The end-to-end slice from SURVEY §7: for each web page, extract
``geo:lat,lon`` geotags from ``text`` (JVM-side regexp — no Python in
the extraction hot path), encode each point into the hierarchical
cell grid, spatially join against a polygon layer (broadcast
PolygonIndex path for small layers), and assign web-mercator tiles.

Semantics parity: the join predicate is the reference's
``intersects(geom, tgeompoint)`` filter+refine pattern
(`point/src/sql/66_tpoint_spatialrels.in.sql:32-48`): phase 1 is the
cell/bucket prefilter (replacing the ``&&`` GiST probe), phase 2 the
exact point-in-polygon kernel (replacing GEOS ``intersects``).

Resumability (north rule): ``run_partitioned`` processes the pages
table in deterministic url-hash buckets and records one lineage row
per completed bucket (bucket id, rows in/out, wall time) in a
lineage/metrics table; re-running skips completed buckets — the
Iceberg-style per-partition checkpoint, implemented over parquet in
the sandbox.
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cells, geo, tiles

GEOTAG_RE = r"geo:(-?\d+\.\d+),(-?\d+\.\d+)"
DEFAULT_RES = 12  # ~10 km cells at the equator — candidate-filter grain


def extract_points(pages: DataFrame) -> DataFrame:
    """pages → one row per geotag (url, warc_ts, lang, tag_idx, lon, lat).

    Stays entirely in whole-stage codegen: regexp_extract_all +
    posexplode + casts.  Column pruning pushes (url, warc_ts, lang,
    text) into the scan; ``html`` is never read.
    """
    tags = pages.select(
        "url", "warc_ts", "lang",
        F.posexplode(F.regexp_extract_all("text", F.lit(GEOTAG_RE), 0))
         .alias("tag_idx", "tag"))
    return tags.select(
        "url", "warc_ts", "lang", "tag_idx",
        F.regexp_extract("tag", GEOTAG_RE, 2).cast("double").alias("lon"),
        F.regexp_extract("tag", GEOTAG_RE, 1).cast("double").alias("lat"))


def with_cell(points: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    return points.withColumn("cell", cells.cell_col(F.col("lon"), F.col("lat"), res))


def pip_join_broadcast(points: DataFrame, polygons_pdf: pd.DataFrame,
                       index_res: int = 7) -> DataFrame:
    """Spatial join against a small polygon layer (broadcast path).

    The polygon layer is turned into a PolygonIndex once on the driver
    and shipped inside the UDF closure (Spark broadcasts closures per
    task; for very large dims use the shuffle path in joins.py).  No
    shuffle at all — a map-only join, the plan you want when the dim
    side fits in executor memory (north rule broadcast phase).
    """
    polys = list(zip(polygons_pdf["poly_id"].tolist(),
                     polygons_pdf["geom_wkb"].tolist()))
    from pyspark.sql.types import LongType, StructField, StructType
    names = [f.name for f in points.schema.fields]
    out_schema = StructType(list(points.schema.fields)
                            + [StructField("poly_id", LongType())])

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = geo.PolygonIndex(polys, res=index_res)  # built once per task
        for pdf in batches:
            if not len(pdf):
                continue
            pt, pid = idx.contains_points(pdf["lon"].to_numpy(),
                                          pdf["lat"].to_numpy())
            out = pdf.iloc[pt].reset_index(drop=True)
            out["poly_id"] = pid
            yield out[names + ["poly_id"]]

    return points.mapInPandas(refine, out_schema)


def flagship(pages: DataFrame, polygons_pdf: pd.DataFrame,
             zoom: int = tiles.MAX_ZOOM, res: int = DEFAULT_RES,
             method: str = "jvm") -> DataFrame:
    """(url, warc_ts, lang, lon, lat, cell, poly_id, zoom, tile_x, tile_y).

    Default refine is the fully-JVM ray cast (``pip_join_broadcast_jvm``
    — scales with the scan; the pandas kernel is Arrow-feed-bound in
    single-JVM local mode).  ``method='pandas'`` keeps the PolygonIndex
    kernel for geometries that need its boundary-eps semantics; a
    result-identity test gates the two paths."""
    pts = with_cell(extract_points(pages), res)
    join = pip_join_broadcast_jvm if method == "jvm" else pip_join_broadcast
    joined = join(pts, polygons_pdf)
    return tiles.assign_tiles(joined, zoom=zoom)


# ---------------------------------------------------------------------------
# resumable partitioned run with lineage/metrics
# ---------------------------------------------------------------------------

def _lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    p = _lineage_path(out_dir)
    try:
        rows = spark.read.json(p).where(F.col("status") == "done") \
            .select("bucket").collect()
        return {r["bucket"] for r in rows}
    except Exception:
        return set()


def run_partitioned(spark: SparkSession, pages: DataFrame,
                    polygons_pdf: pd.DataFrame, out_dir: str,
                    n_buckets: int = 16, zoom: int = tiles.MAX_ZOOM,
                    parallelism: int = 4) -> dict:
    """Resumable flagship run: url-hash buckets + per-bucket lineage rows.

    Each bucket writes to its own output partition directory and then
    appends a lineage row; a re-run consults the lineage table and
    skips finished buckets (checkpoint semantics per the north rule).

    Buckets are submitted CONCURRENTLY (``parallelism`` driver
    threads — Spark's scheduler interleaves their jobs across
    executors), so wall-clock tracks max(bucket), not sum(bucket);
    per-bucket lineage rows keep checkpoint granularity.  Set
    ``parallelism=1`` for strictly serial submission."""
    from concurrent.futures import ThreadPoolExecutor
    done = completed_buckets(spark, out_dir)
    lineage_dir = _lineage_path(out_dir)
    os.makedirs(lineage_dir, exist_ok=True)
    stats = {"buckets_total": n_buckets, "buckets_skipped": len(done),
             "rows_out": 0}
    bucketed = pages.withColumn(
        "_bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)))

    def run_bucket(b: int) -> int:
        t0 = time.time()
        started = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        part = bucketed.where(F.col("_bucket") == b).drop("_bucket")
        result = flagship(part, polygons_pdf, zoom=zoom)
        path = os.path.join(out_dir, f"bucket={b}")
        result.write.mode("overwrite").parquet(path)
        n_out = spark.read.parquet(path).count()
        row = {"bucket": b, "status": "done", "rows_out": n_out,
               "wall_sec": round(time.time() - t0, 3),
               "started_epoch": round(t0, 3),
               "finished_epoch": round(time.time(), 3),
               "started_at": started,
               "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                            time.gmtime())}
        with open(os.path.join(lineage_dir, f"bucket-{b}.json"), "w") as f:
            f.write(json.dumps(row) + "\n")
        return n_out

    todo = [b for b in range(n_buckets) if b not in done]
    if parallelism <= 1:
        for b in todo:
            stats["rows_out"] += run_bucket(b)
    else:
        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            for n_out in pool.map(run_bucket, todo):
                stats["rows_out"] += n_out
    return stats


def pip_join_broadcast_jvm(points: DataFrame, polygons_pdf: pd.DataFrame,
                           index_res: int | None = None) -> DataFrame:
    """Broadcast PIP join with a FULLY-JVM refine (no Python at all).

    The even-odd ray cast runs as Catalyst expressions over a
    broadcast per-polygon edge array: candidates come from a
    broadcast equi-join on the polygon's cell cover, the crossing
    count is ``size(filter(edges, crossing_test))`` — one
    whole-stage-codegen pipeline from parquet scan to join output.
    Semantics equal the numpy kernel except exact-boundary points
    (the kernel counts them inside via BOUNDARY_EPS; the expression
    uses pure parity) — measure-zero for real coordinates.

    Scale note: this is the preferred flagship path — the pandas
    variant (`pip_join_broadcast`) is Arrow-feed-bound in local mode;
    this one scales with the scan.

    The cover and edge tables are built from pandas frames, which
    Arrow turns into driver-side ``LocalRelation``s: a Python list
    would become a pickled Python RDD whose broadcast runs a
    Python-worker job on every call.
    """
    from . import cells as C

    spark = points.sparkSession
    geoms = []
    for pid, wkb in zip(polygons_pdf["poly_id"], polygons_pdf["geom_wkb"]):
        g = geo.from_wkb(wkb)
        b = g.bounds()
        if b is None:
            continue
        geoms.append((int(pid), g, b))
    if not geoms:
        # every polygon empty → empty join, not an IndexError in the
        # auto index_res median computation (limit 0 optimizes to an
        # empty LocalRelation: no scan, no job)
        return points.limit(0).select(
            *points.columns, F.lit(None).cast("bigint").alias("poly_id"))
    if index_res is None:
        # size the cover grid to the MEDIAN polygon dimension: a cell
        # much larger than the polygons multiplies candidates per point
        # (each point cell overlaps many polygons), a cell much smaller
        # blows up the broadcast cover list
        dims = sorted(min(b[2] - b[0], b[3] - b[1]) for _, _, b in geoms)
        med = max(dims[len(dims) // 2], 1e-6)
        index_res = int(np.clip(round(np.log2(180.0 / med)), 4, 12))
    cover_rows = []
    edge_rows = []
    for pid, g, b in geoms:
        for c in C.cover_bbox_np(*b, res=index_res):
            cover_rows.append((int(c), pid))
        edges = []
        for ring, _ in g.rings():
            for i in range(len(ring) - 1):
                edges.append({"x1": float(ring[i, 0]), "y1": float(ring[i, 1]),
                              "x2": float(ring[i + 1, 0]),
                              "y2": float(ring[i + 1, 1])})
        edge_rows.append((pid, edges, float(b[0]), float(b[1]),
                          float(b[2]), float(b[3])))
    cover = spark.createDataFrame(
        pd.DataFrame(cover_rows, columns=["jcell", "poly_id"]),
        "jcell bigint, poly_id bigint")
    edges_df = spark.createDataFrame(
        pd.DataFrame(edge_rows, columns=["poly_id", "edges", "bx0", "by0",
                                         "bx1", "by1"]),
        "poly_id bigint, edges array<struct<x1:double,y1:double,"
        "x2:double,y2:double>>, bx0 double, by0 double, "
        "bx1 double, by1 double")

    out_parts = []
    res_list = sorted({c >> C.R_BITS for c, _ in cover_rows})
    for r in res_list:
        cov_r = cover.where(F.shiftright("jcell", C.R_BITS) == r)
        pts_r = points.withColumn(
            "jcell", C.cell_col(F.col("lon"), F.col("lat"), int(r)))
        px, py = F.col("lon"), F.col("lat")
        # bbox prefilter FIRST: plain comparisons stay in whole-stage
        # codegen and reject most candidates before the (interpreted)
        # higher-order edge filter ever runs
        cand = (pts_r.join(F.broadcast(cov_r), "jcell")
                .join(F.broadcast(edges_df), "poly_id")
                .where((px >= F.col("bx0")) & (px <= F.col("bx1"))
                       & (py >= F.col("by0")) & (py <= F.col("by1"))))
        crossing = lambda e: (
            ((e["y1"] > py) != (e["y2"] > py))
            & (px < e["x1"] + (py - e["y1"]) / (e["y2"] - e["y1"])
               * (e["x2"] - e["x1"])))
        inside = F.pmod(F.size(F.filter(F.col("edges"), crossing)),
                        F.lit(2)) == 1
        out_parts.append(cand.where(inside)
                         .select(*points.columns, "poly_id"))
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    return out
