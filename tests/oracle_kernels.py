"""Test oracles and fixtures: numpy/pandas reference kernels that the
library's Spark paths are checked against, and the reference's example
tile indexes.  Nothing in the library calls these; tests import them
(the tests directory is on PYTHONPATH, see conftest.py).
"""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np
import pandas as pd

from batch3dfier_spark.datagen import REF_TERRITORY, gen_pages_range
from batch3dfier_spark.functions.text import _BODY_RE, _TITLE_RE
from batch3dfier_spark.operators.tiler import TileIndex


# ---------------------------------------------------------------------------
# The reference's example_data indexes: bag_index.geojson splits the
# territory 2x2 at x=120937.5 / y=486328.125.
# ---------------------------------------------------------------------------

_SPLIT_X = 120937.5
_SPLIT_Y = 486328.125

# The large clip polygon, vertex-for-vertex from the reference's
# example_data (extent_large.geojson).
EXTENT_LARGE = np.array([
    [120749.61260330578, 486674.3607954546],
    [120697.31404958678, 486593.0074896695],
    [120691.50309917355, 486404.15160123975],
    [120665.35382231405, 486014.81792355375],
    [120712.80991735538, 485952.8344524794],
    [121081.80526859504, 485954.7714359505],
    [121148.63119834711, 486132.00542355375],
    [121207.70919421488, 486420.61596074386],
    [121208.67768595042, 486672.42381198355],
    [120995.60950413223, 486698.573088843],
    [120749.61260330578, 486674.3607954546],
])

# FIXTURES.md section 5 — hand-placed border-case points with expected
# buffer-0 tile under the half-open rule.
BORDER_CORPUS = [
    # (case, x, y, expected_unit_or_None)
    ("interior", 120700.0, 486000.0, "25gn1_c1"),
    ("shared_vertical_edge", 120937.5, 486000.0, "25gn1_c2"),
    ("shared_horizontal_edge", 120700.0, 486328.125, "25gn1_c4"),
    ("four_corner_point", 120937.5, 486328.125, "25gn1_c3"),
    ("territory_sw_corner", 120625.0, 485937.5, "25gn1_c1"),
    ("territory_right_edge", 121250.0, 486000.0, None),
]


def ref_tile_index() -> pd.DataFrame:
    """The reference's 4 footprint tiles verbatim (bag_index.geojson)."""
    t = REF_TERRITORY
    rows = [
        (1, "25gn1_c1", t.xmin, t.ymin, _SPLIT_X, _SPLIT_Y),  # SW
        (2, "25gn1_c2", _SPLIT_X, t.ymin, t.xmax, _SPLIT_Y),  # SE
        (3, "25gn1_c3", _SPLIT_X, _SPLIT_Y, t.xmax, t.ymax),  # NE
        (4, "25gn1_c4", t.xmin, _SPLIT_Y, _SPLIT_X, t.ymax),  # NW
    ]
    return pd.DataFrame(rows, columns=["gid", "unit", "xmin", "ymin", "xmax", "ymax"])


def ref_asset_index(unavailable: tuple[str, ...] = ()) -> pd.DataFrame:
    """The reference's 2 point-cloud tiles (ahn_index.geojson): `25gn1_a`
    = north half, `25gn1_b` = south half; file_date per bag3d.py:96-106;
    `available` supports skip-bookkeeping tests (config.py:102-109)."""
    t = REF_TERRITORY
    rows = [
        (1, "25gn1_a", t.xmin, _SPLIT_Y, t.xmax, t.ymax),
        (2, "25gn1_b", t.xmin, t.ymin, t.xmax, _SPLIT_Y),
    ]
    df = pd.DataFrame(rows, columns=["gid", "unit", "xmin", "ymin", "xmax", "ymax"])
    base = datetime(2024, 6, 1)
    df["file_date"] = [base + timedelta(days=int(g)) for g in df["gid"]]
    df["available"] = ~df["unit"].isin(unavailable)
    return df


# ---------------------------------------------------------------------------
# Pages fixtures
# ---------------------------------------------------------------------------

def write_pages_parquet(path: str, n: int, **kw) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = gen_pages_range(0, n, **kw)
    # Spark's vectorized parquet reader rejects NANOS timestamps
    df["warc_ts"] = df["warc_ts"].astype("datetime64[us]")
    tbl = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(tbl, path)


def extract_text_np(html: pd.Series) -> pd.Series:
    """Twin of extract_text_cols (vectorized pandas, no per-row Python)."""
    s = html.map(lambda b: b.decode("utf-8") if isinstance(b, (bytes, bytearray)) else b)
    title = s.str.extract(_TITLE_RE, expand=False)
    body = s.str.extract(_BODY_RE, expand=False)
    return title + "\n" + body.str.replace(". ", ".\n", regex=False)


# ---------------------------------------------------------------------------
# Point-in-rectangle (the tile-membership rule)
#
# Half-open membership, xmin <= x < xmax AND ymin <= y < ymax, exactly
# reproduces the reference rule "centroid strictly inside the tile OR on
# its lower/left border" (footprints.py:256-265) for all non-corner
# points, and resolves the reference's latent corner ambiguity to
# exactly-one tile (see SURVEY.md section 7.3).
# ---------------------------------------------------------------------------

def points_in_rects_buffered(
    x: np.ndarray,
    y: np.ndarray,
    rects: np.ndarray,
    buffer: float = 0.0,
) -> tuple[np.ndarray, np.ndarray]:
    """All (point_idx, rect_idx) pairs with the point inside the rect
    expanded by `buffer` (half-open on the expanded bounds).

    buffer=0 reproduces the reference's exactly-one-tile invariant for
    grid tilings; buffer>0 yields multi-tile border assignments (the
    clip-with-overlap mode).  `rects` is an (n, 4) float array of
    (xmin, ymin, xmax, ymax).
    """
    x = np.asarray(x, dtype=np.float64)[:, None]
    y = np.asarray(y, dtype=np.float64)[:, None]
    r = np.asarray(rects, dtype=np.float64)
    hit = (
        (x >= r[None, :, 0] - buffer)
        & (x < r[None, :, 2] + buffer)
        & (y >= r[None, :, 1] - buffer)
        & (y < r[None, :, 3] + buffer)
    )
    return np.nonzero(hit)


def rects_overlap_pairs(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """All (i, j) with rect a[i] intersecting rect b[j] (closed bounds).

    The interval-overlap join the reference does as st_intersects between
    footprint-tile and pointcloud-tile indexes (config.py:202-259).
    """
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    hit = (
        (a[:, None, 0] <= b[None, :, 2])
        & (b[None, :, 0] <= a[:, None, 2])
        & (a[:, None, 1] <= b[None, :, 3])
        & (b[None, :, 1] <= a[:, None, 3])
    )
    return np.nonzero(hit)


def tile_neighbor_pairs(a: TileIndex, b: TileIndex) -> pd.DataFrame:
    """Driver-side interval-overlap join of two small indexes (closed
    bounds — PostGIS st_intersects counts shared edges; see the
    reference golden: footprint tile 25gn1_c1 -> [25gn1_a, 25gn1_b],
    tests/test_config.py:78-95).  Uses the STRtree of `b` per `a` rect
    when `b` is large; dense pairs otherwise."""
    if len(b.frame) > 256:
        rows = []
        for i, r in enumerate(a.rects):
            hits = b.tree.query_rect(r[0], r[1], r[2], r[3])
            rows.extend((i, j) for j in hits)
        ai = np.array([r[0] for r in rows], dtype=np.int64)
        bi = np.array([r[1] for r in rows], dtype=np.int64)
    else:
        ai, bi = rects_overlap_pairs(a.rects, b.rects)
    return pd.DataFrame(
        {
            "ftpr_gid": a.frame["gid"].to_numpy()[ai],
            "ftpr_unit": a.frame["unit"].to_numpy()[ai],
            "asset_gid": b.frame["gid"].to_numpy()[bi],
            "asset_unit": b.frame["unit"].to_numpy()[bi],
        }
    )


# ---------------------------------------------------------------------------
# Per-document shingling (the minhash / ngram-jaccard verify oracle)
# ---------------------------------------------------------------------------

def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct k-char shingle hashes (int64) of a document, vectorized:
    one python-level pass builds the byte matrix, hashing is numpy."""
    b = text.encode("utf-8", "ignore")
    if len(b) < k:
        b = b + b"\x00" * (k - len(b))
    arr = np.frombuffer(b, dtype=np.uint8)
    n = len(arr) - k + 1
    # polynomial rolling hash over a sliding window, fully vectorized:
    # h[i] = sum_j arr[i+j] * P^(k-1-j) mod 2^64 (wrapping)
    P = 1099511628211
    weights = np.empty(k, dtype=np.uint64)
    w = 1
    for j in range(k - 1, -1, -1):
        weights[j] = w
        w = (w * P) & 0xFFFFFFFFFFFFFFFF  # wrap mod 2^64 in python ints
    idx = np.arange(n)[:, None] + np.arange(k)[None, :]
    with np.errstate(over="ignore"):  # mod-2^64 wrap is intended
        h = (arr[idx].astype(np.uint64) * weights[None, :]).sum(axis=1)
    return np.unique(h.astype(np.int64))


def shingle_set(text: str, k: int = 5) -> set[int]:
    return set(_shingle_hashes(text, k).tolist())
