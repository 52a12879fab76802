"""The tiling engine: tile-index model + tile assignment + extent ops.

Re-creates, Spark-first, the reference's core semantics:

- J1 tile-assignment join (footprints.py:247-266): centroid strictly
  inside the tile OR on its lower/left border == half-open membership
  `xmin <= x < xmax AND ymin <= y < ymax`.  For regular grids this is
  pure JVM column arithmetic (floor division — no join, no shuffle, no
  Python); for irregular rectangle indexes it is a broadcast STRtree
  probe inside an Arrow-batched pandas UDF.
- buffered multi-assignment (clip-with-overlap): each point lands in
  every tile whose buffer-expanded rect contains it; buffer=0 restores
  the reference's exactly-one rule.  Grid fast path generates the
  candidate col/row ranges with `sequence()` + `explode` — still JVM.
- P4 tile selection (config.py:304-347): extent polygon -> intersecting
  tile units, computed driver-side over the (small) index with the
  numpy kernel, returning both the unit list and a pushdown predicate.
- P3 extent filter (config.py:447-461): select-not-clip membership of
  geocoded points in the extent polygon — vectorized pandas UDF over a
  broadcast vertex array.
- O9 union-vs-split heuristic (batch3dfierapp.py:160-167).

Scale notes (100 TB): the grid fast path is embarrassingly parallel map
work inside whole-stage codegen — zero shuffle for assignment itself.
The STRtree path broadcasts only packed numpy arrays (a 1e6-tile index
is ~32 MB of float64 bounds).  Downstream per-tile work repartitions by
tile gid; hot cells are salted in dispatch.py.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen import grid_tile_index
from ..geo import (
    Rect,
    STRtree,
    point_in_polygon,
    polygon_area,
    polygon_bbox,
    rect_intersects_polygon,
)

__all__ = [
    "GridSpec",
    "TileIndex",
    "with_geocode",
    "assign_tiles",
    "select_tiles",
    "extent_filter",
    "union_or_split",
]


@dataclass(frozen=True)
class GridSpec:
    """A regular nx x ny grid over a territory — the fast path."""

    territory: Rect
    nx: int
    ny: int

    @property
    def wx(self) -> float:
        return (self.territory.xmax - self.territory.xmin) / self.nx

    @property
    def wy(self) -> float:
        return (self.territory.ymax - self.territory.ymin) / self.ny

    def gid_expr(self, col: Column, row: Column) -> Column:
        """Row-major 1-based gid, matching datagen.grid_tile_index."""
        return (row * F.lit(self.nx) + col + F.lit(1)).cast("bigint")

    def unit_expr(self, col: Column, row: Column) -> Column:
        return F.format_string("t_%d_%d", row.cast("int"), col.cast("int"))


class TileIndex:
    """A tile index: pandas frame (gid, unit, xmin, ymin, xmax, ymax)
    plus an optional GridSpec fast path.  Small enough to broadcast
    (the reference's country-scale index is ~1e6 rows ~= 50 MB)."""

    def __init__(self, frame: pd.DataFrame, grid: GridSpec | None = None):
        need = {"gid", "unit", "xmin", "ymin", "xmax", "ymax"}
        if not need <= set(frame.columns):
            raise ValueError(f"tile index needs columns {sorted(need)}")
        self.frame = frame.reset_index(drop=True)
        self.grid = grid
        self._tree: STRtree | None = None

    @classmethod
    def regular_grid(cls, territory: Rect, nx: int, ny: int) -> "TileIndex":
        return cls(grid_tile_index(territory, nx, ny), GridSpec(territory, nx, ny))

    @property
    def rects(self) -> np.ndarray:
        return self.frame[["xmin", "ymin", "xmax", "ymax"]].to_numpy()

    @property
    def tree(self) -> STRtree:
        if self._tree is None:
            self._tree = STRtree(self.rects)
        return self._tree

    def spark_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.frame)

    def tile_area(self) -> float:
        """The reference assumes all tiles equal area (config.py:350-378)
        and probes one row — same here."""
        r = self.frame.iloc[0]
        return float((r.xmax - r.xmin) * (r.ymax - r.ymin))


def with_geocode(
    df: DataFrame,
    territory: Rect,
    url: str = "url",
    warc_ts: str = "warc_ts",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Attach the deterministic geocode columns (pure JVM expressions —
    the centroid-materialization analog, footprints.py:93-150).

    The sha256 is computed behind a Generate-node barrier
    (inline(array(struct(...)))): CollapseProject cannot inline
    expressions through a Generate, so downstream filters/projections
    that reference x and y many times re-evaluate only the cheap
    substring/conv arithmetic, never the hash.  Without the barrier a
    bbox-filter + assignment plan evaluates sha2 up to 8x per row
    (measured: 2.7x slowdown on the extent workload).
    """
    from ..functions.geocode import TWO32, geocode_key

    key = geocode_key(F.col(url), F.col(warc_ts))
    barrier = df.select(
        "*",
        F.inline(F.array(F.struct(F.sha2(key, 256).alias("_geohex")))),
    )
    h = F.col("_geohex")
    hx = F.conv(F.substring(h, 1, 8), 16, 10).cast("double")
    hy = F.conv(F.substring(h, 9, 8), 16, 10).cast("double")
    return (
        barrier.withColumn(
            x,
            F.lit(territory.xmin)
            + hx / F.lit(TWO32) * F.lit(territory.xmax - territory.xmin),
        )
        .withColumn(
            y,
            F.lit(territory.ymin)
            + hy / F.lit(TWO32) * F.lit(territory.ymax - territory.ymin),
        )
        .drop("_geohex")
    )


def _assign_grid(
    df: DataFrame, grid: GridSpec, buffer: float, x: str, y: str
) -> DataFrame:
    """Grid fast path: pure column arithmetic, no shuffle, no Python."""
    t = grid.territory
    xc, yc = F.col(x), F.col(y)
    if buffer == 0.0:
        col = F.floor((xc - F.lit(t.xmin)) / F.lit(grid.wx))
        row = F.floor((yc - F.lit(t.ymin)) / F.lit(grid.wy))
        # half-open territory bounds; clamp float round-off at the top edge
        col = F.least(col, F.lit(grid.nx - 1)).cast("bigint")
        row = F.least(row, F.lit(grid.ny - 1)).cast("bigint")
        inside = (
            (xc >= F.lit(t.xmin)) & (xc < F.lit(t.xmax))
            & (yc >= F.lit(t.ymin)) & (yc < F.lit(t.ymax))
        )
        return (
            df.withColumn("tile_col", F.when(inside, col))
            .withColumn("tile_row", F.when(inside, row))
            .withColumn(
                "tile_gid",
                F.when(inside, grid.gid_expr(col, row)),
            )
            .withColumn(
                "tile_unit",
                F.when(inside, grid.unit_expr(col, row)),
            )
        )
    # buffered: candidate col range = tiles whose expanded rect contains x.
    # tile c covers [xmin + c*wx - b, xmin + (c+1)*wx + b) =>
    # c in [ceil((x - xmin - b)/wx) - 1 .. floor((x - xmin + b)/wx)]
    # (then clipped to [0, n-1]); generated JVM-side with sequence+explode.
    def rng(coord: Column, origin: float, w: float, n: int) -> tuple[Column, Column]:
        lo = F.greatest(
            F.lit(0),
            (F.ceil((coord - F.lit(origin) - F.lit(buffer)) / F.lit(w)) - F.lit(1)),
        ).cast("int")
        hi = F.least(
            F.lit(n - 1),
            F.floor((coord - F.lit(origin) + F.lit(buffer)) / F.lit(w)),
        ).cast("int")
        return lo, hi

    clo, chi = rng(xc, t.xmin, grid.wx, grid.nx)
    rlo, rhi = rng(yc, t.ymin, grid.wy, grid.ny)
    out = (
        df.withColumn("_clo", clo).withColumn("_chi", chi)
        .withColumn("_rlo", rlo).withColumn("_rhi", rhi)
        .where(F.col("_chi") >= F.col("_clo"))
        .where(F.col("_rhi") >= F.col("_rlo"))
        .withColumn(
            "tile_col",
            F.explode(F.sequence(F.col("_clo"), F.col("_chi"))),
        )
        .withColumn(
            "tile_row",
            F.explode(F.sequence(F.col("_rlo"), F.col("_rhi"))),
        )
        .drop("_clo", "_chi", "_rlo", "_rhi")
    )
    # exact membership re-check against the expanded tile rect (the
    # range bound above is exact for half-open expanded rects, but keep
    # the predicate explicit so Catalyst can prune on it)
    tx = F.lit(t.xmin) + F.col("tile_col") * F.lit(grid.wx)
    ty = F.lit(t.ymin) + F.col("tile_row") * F.lit(grid.wy)
    out = out.where(
        (xc >= tx - F.lit(buffer)) & (xc < tx + F.lit(grid.wx) + F.lit(buffer))
        & (yc >= ty - F.lit(buffer)) & (yc < ty + F.lit(grid.wy) + F.lit(buffer))
    )
    return out.withColumn(
        "tile_gid", grid.gid_expr(F.col("tile_col").cast("bigint"), F.col("tile_row").cast("bigint"))
    ).withColumn(
        "tile_unit", grid.unit_expr(F.col("tile_col"), F.col("tile_row"))
    )


def _assign_rtree(
    df: DataFrame, index: TileIndex, buffer: float, x: str, y: str
) -> DataFrame:
    """Irregular rectangle index: broadcast packed STRtree, probed in an
    Arrow-batched mapInPandas (one output row per (point, tile) hit —
    zero rows for points outside every tile, like the grid path)."""
    spark = df.sparkSession
    rects = index.rects
    if buffer != 0.0:
        rects = rects + np.array([-buffer, -buffer, buffer, buffer])
    gids = index.frame["gid"].to_numpy()
    units = index.frame["unit"].to_numpy()
    bc = spark.sparkContext.broadcast((rects, gids, units))

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("tile_gid", LongType()), StructField("tile_unit", StringType())]
    )

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        r, g, u = bc.value
        tree = STRtree(r)  # built once per python worker per task
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pi, ri = tree.query_points_bulk(
                pdf[x].to_numpy(dtype=np.float64),
                pdf[y].to_numpy(dtype=np.float64),
            )
            out = pdf.iloc[pi].reset_index(drop=True)
            out["tile_gid"] = g[ri].astype("int64")
            out["tile_unit"] = u[ri]
            yield out

    return df.mapInPandas(probe, schema=out_schema)


def assign_tiles(
    df: DataFrame,
    index: TileIndex,
    buffer: float = 0.0,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Tile assignment (the reference's per-tile views, one transform).

    buffer=0 -> exactly one tile per in-territory point (half-open
    rule); buffer>0 -> multi-tile border assignment.  Points outside
    every tile are dropped in buffered/rtree mode and NULL-tagged in
    grid buffer=0 mode (callers filter or keep for skip accounting).
    """
    if index.grid is not None:
        return _assign_grid(df, index.grid, buffer, x, y)
    return _assign_rtree(df, index, buffer, x, y)


def select_tiles(index: TileIndex, extent_poly: np.ndarray) -> pd.DataFrame:
    """P4: tiles whose rect intersects the extent polygon (driver-side
    over the small index — the reference's get_2Dtiles round-trip,
    config.py:304-347).  Uses the STRtree for the bbox prefilter, exact
    polygon-rectangle test after."""
    bbox = polygon_bbox(extent_poly)
    cand = index.tree.query_rect(bbox.xmin, bbox.ymin, bbox.xmax, bbox.ymax)
    if len(cand) == 0:
        return index.frame.iloc[:0]
    hit = rect_intersects_polygon(index.rects[cand], extent_poly)
    return index.frame.iloc[cand[hit]].sort_values("gid").reset_index(drop=True)


def extent_filter(
    df: DataFrame, extent_poly: np.ndarray, x: str = "x", y: str = "y"
) -> DataFrame:
    """P3: select-not-clip — keep rows whose geocode lies inside the
    extent polygon (reference clip_2Dtiles semantics: st_within keeps
    whole features, geometry is never cut; config.py:447-461).

    Vectorized pandas UDF over a broadcast vertex array; pair with
    select_tiles + partition pruning so the UDF only sees candidate
    cells, not the full table.
    """
    from pyspark.sql.functions import pandas_udf

    poly = np.asarray(extent_poly, dtype=np.float64)

    @pandas_udf("boolean")
    def _inside(xs: pd.Series, ys: pd.Series) -> pd.Series:
        return pd.Series(point_in_polygon(xs.to_numpy(), ys.to_numpy(), poly))

    return df.where(_inside(F.col(x), F.col(y)))


def union_or_split(
    selected_tiles: pd.DataFrame, index: TileIndex, extent_poly: np.ndarray
) -> bool:
    """O9: True -> union (treat the whole extent as ONE work unit), the
    reference's heuristic `len(tiles) > 1 and extent_area < tile_area`
    (batch3dfierapp.py:160-167, get_2Dtile_area config.py:350-378)."""
    return len(selected_tiles) > 1 and polygon_area(extent_poly) < index.tile_area()
