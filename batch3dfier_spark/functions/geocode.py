"""Deterministic geocoding of web pages onto the planar territory.

The reference materializes building centroids as the join key for tile
assignment (batch3dfier/footprints.py:93-150).  Our payload is web pages
(url, warc_ts, ...); the analog of the centroid is a deterministic
geocode (x, y) derived from sha256(url + "|" + warc_ts).

Two twin implementations that agree bit-for-bit:

- Spark: `operators/tiler.with_geocode` hashes `geocode_key` with sha2
  and maps the halves through `TWO32` — JVM-side inside whole-stage
  codegen, no Python in the hot path.
- `geocode_np`: hashlib + numpy — used by datagen and the test oracles.

The 64-bit hash splits into two 32-bit halves: the first 8 hex chars
drive x, the next 8 drive y.  x,y are affine maps of those fractions
onto the territory rectangle, so the distribution is uniform and the
derivation is expressible in ANSI SQL for the duckdb oracle too.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..geo import Rect

GEOCODE_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"  # java.time pattern
_GEOCODE_TS_FMT_PY = "%Y-%m-%dT%H:%M:%SZ"

TWO32 = float(1 << 32)


def geocode_key(url: Column, warc_ts: Column) -> Column:
    """The hashed geocode key, url + "|" + warc_ts (GEOCODE_TS_FMT)."""
    return F.concat(url, F.lit("|"), F.date_format(warc_ts, GEOCODE_TS_FMT))


def _keys_np(urls, warc_ts) -> list[bytes]:
    import pandas as pd

    ts = pd.to_datetime(pd.Series(warc_ts))
    if ts.dt.tz is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    ts_str = ts.dt.strftime(_GEOCODE_TS_FMT_PY)
    return [
        (u + "|" + t).encode("utf-8")
        for u, t in zip(pd.Series(urls).astype(str), ts_str)
    ]


def geocode_np(urls, warc_ts, territory: Rect) -> tuple[np.ndarray, np.ndarray]:
    """Twin of `tiler.with_geocode` (hashlib + numpy)."""
    hexes = [hashlib.sha256(k).hexdigest() for k in _keys_np(urls, warc_ts)]
    hx = np.array([int(h[0:8], 16) for h in hexes], dtype=np.float64)
    hy = np.array([int(h[8:16], 16) for h in hexes], dtype=np.float64)
    x = territory.xmin + hx / TWO32 * (territory.xmax - territory.xmin)
    y = territory.ymin + hy / TWO32 * (territory.ymax - territory.ymin)
    return x, y
