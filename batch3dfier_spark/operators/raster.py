"""Raster-tile <-> vector-footprint overlay: per-tile extent masks.

The reference delegates raster work to its external worker (the 3dfier
binary reads LAZ point clouds gridded per tile; batch3dfier itself only
resolves which raster tiles cover which vector tiles,
batch3dfier/config.py:202-259).  Our engine makes the raster side a
first-class relational citizen:

- a *raster tile* is a res x res pixel grid laid over one tile-index
  rectangle (pixel width = tile width / res);
- an *extent mask* marks each pixel whose CENTER lies inside the clip
  polygon (the classic center-sampling rasterization rule);
- the overlay joins vector features (geocoded points) to mask pixels:
  a feature survives iff its pixel is masked.

Representation is deliberately relational, not binary blobs: a mask is
the SET of inside pixels `(tile_gid, pix_id)`.  That makes the overlay
a broadcast equi-join that Catalyst plans like any other join (and it
is exactly reproducible in ANSI SQL for the oracle).  At 100 TB the
mask set for an extent covering K tiles is K * res^2 rows upper-bound
(64 x 256 = 16k rows for a res-16 mask over 64 tiles) — always
broadcastable; the fact table is never shuffled.

Rasterization itself is vectorized numpy (all pixel centers of the
candidate tiles tested against the polygon in one even-odd pass), run
on the driver over the STRtree-selected tiles (mirroring select_tiles).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import point_in_polygon
from .tiler import GridSpec, TileIndex, select_tiles

__all__ = [
    "rasterize_extent",
    "pixel_cols",
    "overlay_extent_mask",
    "mask_coverage",
]


def _mask_rows_for_tiles(
    tiles: pd.DataFrame, poly: np.ndarray, res: int
) -> pd.DataFrame:
    """Vectorized center-sampling rasterization for a batch of tiles:
    one even-odd pass over all (n_tiles * res * res) pixel centers."""
    n = len(tiles)
    if n == 0:
        return pd.DataFrame({"tile_gid": np.array([], dtype=np.int64),
                             "pix_id": np.array([], dtype=np.int64)})
    xmin = tiles["xmin"].to_numpy(dtype=np.float64)
    ymin = tiles["ymin"].to_numpy(dtype=np.float64)
    pw = (tiles["xmax"].to_numpy(dtype=np.float64) - xmin) / res
    ph = (tiles["ymax"].to_numpy(dtype=np.float64) - ymin) / res
    pc = np.arange(res, dtype=np.float64) + 0.5
    # centers: (n, res_y, res_x)
    cx = np.broadcast_to(
        xmin[:, None, None] + pw[:, None, None] * pc[None, None, :], (n, res, res)
    )
    cy = np.broadcast_to(
        ymin[:, None, None] + ph[:, None, None] * pc[None, :, None], (n, res, res)
    )
    inside = point_in_polygon(cx.ravel(), cy.ravel(), poly).reshape(n, res, res)
    t_idx, pr, pcx = np.nonzero(inside)
    return pd.DataFrame({
        "tile_gid": tiles["gid"].to_numpy(dtype=np.int64)[t_idx],
        "pix_id": (pr * res + pcx).astype(np.int64),
    })


def rasterize_extent(
    index: TileIndex, extent_poly, res: int = 16
) -> pd.DataFrame:
    """Driver-side mask build: candidate tiles via the STRtree prefilter
    (only tiles intersecting the extent bbox can have masked pixels),
    then the vectorized center test.  Returns (tile_gid, pix_id)."""
    poly = np.asarray(extent_poly, dtype=np.float64)
    cand = select_tiles(index, poly)
    return _mask_rows_for_tiles(cand, poly, res)


def pixel_cols(
    df: DataFrame, grid: GridSpec, res: int = 16, x: str = "x", y: str = "y"
) -> DataFrame:
    """Attach (pix_col, pix_row, pix_id) — the feature's pixel within
    its tile, pure JVM arithmetic (no UDF).  Uses the same half-open
    floor rule as tile assignment, clamped on BOTH edges: points on a
    tile's far edge land in the last pixel (mirrors tiler grid
    clamping), and float round-off on the near edge (where tile_col's
    floor rounded up, making x - tx0 slightly negative) lands in pixel
    0 instead of aliasing into the previous pixel row via pix_id = -1."""
    pw = grid.wx / res
    ph = grid.wy / res
    tx0 = F.lit(grid.territory.xmin) + F.col("tile_col") * F.lit(grid.wx)
    ty0 = F.lit(grid.territory.ymin) + F.col("tile_row") * F.lit(grid.wy)
    pc = F.greatest(
        F.least(
            F.floor((F.col(x) - tx0) / F.lit(pw)).cast("bigint"), F.lit(res - 1)
        ),
        F.lit(0).cast("bigint"),
    )
    pr = F.greatest(
        F.least(
            F.floor((F.col(y) - ty0) / F.lit(ph)).cast("bigint"), F.lit(res - 1)
        ),
        F.lit(0).cast("bigint"),
    )
    return (
        df.withColumn("pix_col", pc)
        .withColumn("pix_row", pr)
        .withColumn("pix_id", (F.col("pix_row") * F.lit(res) + F.col("pix_col")))
    )


def overlay_extent_mask(
    features: DataFrame, masks: DataFrame, grid: GridSpec, res: int = 16
) -> DataFrame:
    """The raster<->vector overlay: keep features whose pixel is masked.

    Features must carry (x, y, tile_col, tile_row, tile_gid) — i.e. be
    tile-assigned.  `masks` is (tile_gid, pix_id) from rasterize_*.
    Physical plan: pixel-id projection (codegen) + broadcast LEFT SEMI
    join on (tile_gid, pix_id) — the fact table never shuffles."""
    f = pixel_cols(features, grid, res)
    return f.join(
        F.broadcast(masks), on=["tile_gid", "pix_id"], how="left_semi"
    )


def mask_coverage(masks: DataFrame, res: int = 16) -> DataFrame:
    """Per-tile mask statistics: pixels inside + coverage fraction —
    the per-tile extent-mask summary (a tile fully inside the extent
    has coverage 1.0)."""
    return masks.groupBy("tile_gid").agg(
        F.count(F.lit(1)).alias("pix_inside"),
        F.round(F.count(F.lit(1)) / F.lit(float(res * res)), 6).alias("coverage"),
    )
