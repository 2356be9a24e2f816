"""Independent answers the benchmark checks the library's outputs against.

- Flagship PIP: the geotags are re-parsed in Python and tested with the
  ``geo.points_in_polygon`` numpy kernel.
- Registry operators: their DuckDB oracle SQL, compared the way the
  oracle parity test compares them.
"""

from __future__ import annotations

import math
import os
import re

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from mobilitydb_spark import geo, pipeline

def _pairs(df: pd.DataFrame) -> set[tuple]:
    return set(zip(df["url"], df["tag_idx"].astype(int),
                   df["poly_id"].astype(int)))


def geotags(pages_path: str) -> pd.DataFrame:
    """(url, tag_idx, lon, lat) for every geotag, in text order."""
    pattern = re.compile(pipeline.GEOTAG_RE)
    t = pq.read_table(pages_path, columns=["url", "text"]).to_pydict()
    rows = [(url, i, float(m.group(2)), float(m.group(1)))
            for url, text in zip(t["url"], t["text"])
            for i, m in enumerate(pattern.finditer(text))]
    return pd.DataFrame(rows, columns=["url", "tag_idx", "lon", "lat"])


def flagship_mismatches(pages_path: str, polygons: pd.DataFrame,
                        got: pd.DataFrame) -> int:
    pts = geotags(pages_path)
    lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
    eps = geo.BOUNDARY_EPS
    want = []
    for pid, wkb in zip(polygons["poly_id"], polygons["geom_wkb"]):
        g = geo.from_wkb(wkb)
        b = g.bounds()
        if b is None:
            continue
        near = pts[(lon >= b[0] - eps) & (lon <= b[2] + eps)
                   & (lat >= b[1] - eps) & (lat <= b[3] + eps)]
        hit = near[geo.points_in_polygon(near["lon"].to_numpy(),
                                         near["lat"].to_numpy(), g)]
        want.append(hit.assign(poly_id=int(pid)))
    return len(_pairs(pd.concat(want)) ^ _pairs(got))


class Duck:
    """DuckDB views over a scale-factor-style directory."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir

    def __enter__(self):
        self.con = duckdb.connect()
        for f in sorted(os.listdir(self.sf_dir)):
            name = f.removesuffix(".parquet")
            path = os.path.join(self.sf_dir, f)
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                             f"read_parquet('{path}')")
        return self

    def sql(self, text: str) -> pd.DataFrame:
        return self.con.sql(text).df()

    def __exit__(self, *exc) -> None:
        self.con.close()


def _canon(df: pd.DataFrame) -> list[str]:
    """Order-insensitive rows, floats rounded to 6 places, as the
    oracle parity test compares them."""
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        rows.append(tuple(
            (round(v, 6) if math.isfinite(v) else str(v))
            if isinstance(v, float) else v for v in tup))
    return sorted(map(repr, rows))


def frame_mismatches(got: pd.DataFrame | None, want: pd.DataFrame) -> int:
    """Rows that differ (or the larger frame's size if the columns or
    row counts differ); an empty or missing answer counts as one."""
    if got is None:
        return max(len(want), 1)
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return max(len(got), len(want), 1)
    if len(got) == 0:
        return 1
    return sum(a != b for a, b in zip(_canon(got), _canon(want)))
