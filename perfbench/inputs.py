"""Seeded benchmark inputs, generated once and cached on disk.

Every table is a pure function of (table, seed, size), so a cached copy
is reused by any later run with the same key and a new seed gives new
inputs.  Generation runs before the Spark session starts, in a few
worker processes, so it is outside both the timed loop
and ``setup_s``.

- ``pages``: rows of the library's own fixtures generator
  (``mobilitydb_spark.fixtures._pages_batch``) over a seed-chosen id
  range; ranges of different seeds are disjoint.
- ``events``: the shape of the ``events`` test table (``event_id``,
  ``ts``, ``user_id``, ``event_type``, ``value``, ``props``): one month
  of events, time-ordered, about 67 events per user.
- ``documents``: the ``documents`` test table's columns over a
  seed-chosen ``doc_id`` range (the geography join derives its points
  from ``doc_id``).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np

# id stride between seeds: disjoint ranges for any size below it
PAGE_ID_STRIDE = 10 ** 8
DOC_ID_STRIDE = 10 ** 5
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EVENTS_PER_USER = 67
GEN_WORKERS = 4
PAGES_PER_FILE = 2500


def page_id_start(seed: int) -> int:
    return PAGE_ID_STRIDE * (1 + seed % 10 ** 6)


def _write_pages_files(jobs: list[tuple[int, int, str]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mobilitydb_spark import fixtures
    for start, n, path in jobs:
        pdf = fixtures._pages_batch(np.arange(start, start + n,
                                              dtype=np.int64))
        pdf["warc_ts"] = (pdf["warc_ts"].astype("datetime64[us]")
                          .dt.tz_localize("UTC"))
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


def _events(seed: int, n_users: int):
    import pandas as pd
    rng = np.random.default_rng([seed % 2 ** 63, 1])
    n = n_users * EVENTS_PER_USER
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10 ** 6
    ts = t0 + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(seed: int, n_docs: int):
    import pandas as pd
    rng = np.random.default_rng([seed % 2 ** 63, 2])
    words = np.array("route stop track fleet point zone map trip".split())
    text = [" ".join(words[rng.integers(0, len(words), 6)])
            for _ in range(n_docs)]
    return pd.DataFrame({
        "doc_id": DOC_ID_STRIDE * (1 + seed % 5000)
        + np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": np.array(["en", "de", "fr"])[rng.integers(0, 3, n_docs)],
        "source": np.array(["web", "news"])[rng.integers(0, 2, n_docs)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def _publish(tmp: str, final: str) -> None:
    """Atomic rename so an interrupted generation never looks cached."""
    if os.path.exists(final):
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.rename(tmp, final)


def pages(cache_dir: str, seed: int, n_pages: int) -> str:
    """Directory of parquet files holding ``n_pages`` fixture pages."""
    final = os.path.join(cache_dir, f"pages-s{seed}-n{n_pages}.parquet")
    if os.path.exists(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    start = page_id_start(seed)
    jobs = [(start + off, min(PAGES_PER_FILE, n_pages - off),
             os.path.join(tmp, f"part-{i:05d}.parquet"))
            for i, off in enumerate(range(0, n_pages, PAGES_PER_FILE))]
    workers = [subprocess.Popen(
        [sys.executable, os.path.abspath(__file__),
         json.dumps(jobs[i::GEN_WORKERS])]) for i in range(GEN_WORKERS)]
    if any([w.wait() != 0 for w in workers]):
        raise RuntimeError("pages generation failed")
    _publish(tmp, final)
    return final


def sf_dir(cache_dir: str, seed: int, n_users: int, n_docs: int) -> str:
    """A scale-factor-style directory with ``events`` and ``documents``
    parquet tables, as the registry operators read them."""
    final = os.path.join(cache_dir, f"sf-s{seed}-u{n_users}-d{n_docs}")
    if os.path.exists(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _events(seed, n_users).to_parquet(os.path.join(tmp, "events.parquet"),
                                      index=False)
    _documents(seed, n_docs).to_parquet(
        os.path.join(tmp, "documents.parquet"), index=False)
    _publish(tmp, final)
    return final


if __name__ == "__main__":
    # worker: python3 inputs.py '<json list of [start, n, path]>'
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    _write_pages_files(json.loads(sys.argv[1]))
