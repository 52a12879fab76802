"""Neighbor resolution: interval-overlap joins + grid-partitioned kNN.

- J2 (config.py:202-259): for each footprint tile, every asset
  (point-cloud) tile whose rectangle st_intersects it.  Both indexes
  are small (<=1e6 rows); this is a broadcast range/interval join,
  precomputed once into a `tile_neighbors(ftpr_gid, asset_gid)` frame
  exactly like the reference resolves pc tiles per footprint tile.
- J3 (config.py:215-216): extent polygon vs asset index == select_tiles
  against the asset index.
- kNN (new capability, per north_rule): k nearest tiles for each
  feature point (point-to-rectangle distance), used to resolve
  neighbor tiles for boundary features.  Runs as a broadcast STRtree/
  distance probe inside an Arrow-batched mapInPandas: for each point,
  search expanding cell rings until k rects are found, then exact
  top-k by distance.  No shuffle: the tile index is broadcast; the
  point side streams.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import point_rect_distance
from .tiler import TileIndex

__all__ = ["tile_neighbors_spark", "knn_tiles"]


def tile_neighbors_spark(df_a: DataFrame, df_b: DataFrame) -> DataFrame:
    """The same interval join as a Spark broadcast range join, for when
    the footprint index itself is a DataFrame (1e6-tile scale): each
    side keeps (gid, unit, xmin..ymax); the small side is broadcast and
    the overlap predicate stays inside codegen."""
    b = F.broadcast(df_b.select(
        F.col("gid").alias("asset_gid"),
        F.col("unit").alias("asset_unit"),
        F.col("xmin").alias("bxmin"), F.col("ymin").alias("bymin"),
        F.col("xmax").alias("bxmax"), F.col("ymax").alias("bymax"),
    ))
    a = df_a.select(
        F.col("gid").alias("ftpr_gid"),
        F.col("unit").alias("ftpr_unit"),
        "xmin", "ymin", "xmax", "ymax",
    )
    cond = (
        (a.xmin <= b.bxmax) & (b.bxmin <= a.xmax)
        & (a.ymin <= b.bymax) & (b.bymin <= a.ymax)
    )
    return a.join(b, cond, "inner").select(
        "ftpr_gid", "ftpr_unit", "asset_gid", "asset_unit"
    )


def _topk_by_dist_gid(
    d: np.ndarray, cand_gid: np.ndarray, kk: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Deterministic (dist, gid) top-kk per row of a candidate-distance
    matrix.  REQUIRES candidates in ascending gid order along axis 1:
    a STABLE argsort by distance then breaks distance ties by gid
    automatically.  (argpartition would pick an ARBITRARY subset of
    tied candidates at the kth boundary and lose the smaller gid.)
    d: (n, m) float64 (np.inf = invalid slot); cand_gid: (n, m) int64.
    Returns (row_idx, gid, dist), each (n*kk,), sorted (row, dist, gid).
    """
    n = d.shape[0]
    order = np.argsort(d, axis=1, kind="stable")[:, :kk]
    rows = np.repeat(np.arange(n), kk)
    flat = order.ravel()
    dist = d[rows, flat]
    gid = cand_gid[rows, flat]
    return rows, gid, dist


# Tile count up to which knn_tiles probes a dense (n_pts, n_tiles)
# distance matrix per Arrow batch; larger indexes use the ring or
# coarse-cell search.
KNN_DENSE_MAX = 4096


def knn_tiles(
    df: DataFrame,
    index: TileIndex,
    k: int = 3,
    x: str = "x",
    y: str = "y",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """k nearest tiles per feature point by point-to-rectangle distance
    (ties broken by gid, deterministic).  Output: keep-cols + x, y,
    nn_rank (1-based), nn_gid, nn_unit, nn_dist.

    Implementation: the tile index (packed rect bounds) is broadcast;
    each Arrow batch computes distances vectorized; no shuffle.  Three
    candidate-generation tiers keep memory bounded at the 1e6-tile
    scale (a dense matrix there would be ~80 GB per 10k-row batch):

    - n_tiles <= KNN_DENSE_MAX: dense (n_pts, n_tiles) distance matrix.
    - regular grid: vectorized ring search — every point gets the
      (2R+1)^2 cell window around its own cell in ONE numpy pass; R
      doubles only for points whose kth distance exceeds the ring
      guarantee ``R*min(wx,wy) - e_p`` (e_p = the point's distance to
      its clamped cell, nonzero only outside the territory; excluded
      tiles sit >= R cells away, so any tile outside the window is
      strictly farther than that bound).
    - irregular large index: points are grouped by a coarse uniform
      cell (~8 median tile sides); each group queries the broadcast
      STRtree with an expanding margin m, exact top-k on candidates,
      escalating while any kth distance exceeds m (tiles outside the
      queried box are strictly farther than m from every point in the
      cell).
    """
    spark = df.sparkSession
    rects = index.rects
    gids = index.frame["gid"].to_numpy()
    units = index.frame["unit"].to_numpy()
    grid = index.grid
    bc = spark.sparkContext.broadcast((rects, gids, units))
    cols = [*keep, x, y]

    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StringType, StructField, StructType,
    )

    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [in_fields[c] for c in cols]
        + [
            StructField("nn_rank", IntegerType()),
            StructField("nn_gid", LongType()),
            StructField("nn_unit", StringType()),
            StructField("nn_dist", DoubleType()),
        ]
    )

    def _emit(pdf: pd.DataFrame, rows: np.ndarray, gid: np.ndarray,
              dist: np.ndarray, unit_of_gid, kk: int) -> pd.DataFrame:
        """The single output-assembly block for all three tiers;
        `unit_of_gid` maps a gid array -> unit array."""
        out = pdf[cols].iloc[rows].reset_index(drop=True)
        out["nn_rank"] = np.tile(np.arange(1, kk + 1), len(pdf))
        out["nn_gid"] = gid.astype("int64")
        out["nn_unit"] = unit_of_gid(gid)
        out["nn_dist"] = dist
        return out

    def _units_by_pos(g, u):
        # gids may be arbitrary (non-grid indexes): map via position
        pos = {int(gg): i for i, gg in enumerate(g)}
        return lambda gid: u[[pos[int(gg)] for gg in gid]]

    def _dense_batch(pdf, px, py, r, g, u):
        og = np.argsort(g, kind="stable")  # gid-ascending candidate order
        d = point_rect_distance(px, py, r[og])  # (n_pts, n_tiles)
        kk = min(k, d.shape[1])
        cand_gid = np.broadcast_to(g[og], d.shape)
        rows, gid, dist = _topk_by_dist_gid(d, cand_gid, kk)
        return _emit(pdf, rows, gid, dist, _units_by_pos(g, u), kk)

    def _grid_ring_batch(pdf, px, py, u):
        t = grid.territory
        nx, ny, wx, wy = grid.nx, grid.ny, grid.wx, grid.wy
        min_w = min(wx, wy)
        n = len(px)
        pcol = np.clip(np.floor((px - t.xmin) / wx).astype(np.int64), 0, nx - 1)
        prow = np.clip(np.floor((py - t.ymin) / wy).astype(np.int64), 0, ny - 1)
        # e_p: distance from the point to its clamped cell (0 inside)
        cx0 = t.xmin + pcol * wx
        cy0 = t.ymin + prow * wy
        ex = np.maximum(np.maximum(cx0 - px, px - (cx0 + wx)), 0.0)
        ey = np.maximum(np.maximum(cy0 - py, py - (cy0 + wy)), 0.0)
        e_p = np.sqrt(ex * ex + ey * ey)

        acc_row: list[np.ndarray] = []
        acc_gid: list[np.ndarray] = []
        acc_dist: list[np.ndarray] = []
        active = np.arange(n)
        R = max(1, int(np.ceil(np.sqrt(k))))
        while len(active):
            offs = np.arange(-R, R + 1)
            oc, orw = np.meshgrid(offs, offs)
            oc, orw = oc.ravel(), orw.ravel()
            ax, ay = px[active], py[active]
            cc = pcol[active][:, None] + oc[None, :]
            rr = prow[active][:, None] + orw[None, :]
            valid = (cc >= 0) & (cc < nx) & (rr >= 0) & (rr < ny)
            ccc = np.clip(cc, 0, nx - 1)
            rrc = np.clip(rr, 0, ny - 1)
            rx0 = t.xmin + ccc * wx
            ry0 = t.ymin + rrc * wy
            # far edges as xmin + (c+1)*w — the SAME expression the
            # dense tier and the SQL oracle evaluate; (xmin + c*w) + w
            # can differ by one ulp and flip near-exact distance ties
            rx1 = t.xmin + (ccc + 1) * wx
            ry1 = t.ymin + (rrc + 1) * wy
            dx = np.maximum(np.maximum(rx0 - ax[:, None], ax[:, None] - rx1), 0.0)
            dy = np.maximum(np.maximum(ry0 - ay[:, None], ay[:, None] - ry1), 0.0)
            d = np.sqrt(dx * dx + dy * dy)
            d[~valid] = np.inf
            gid_m = (rrc * nx + ccc + 1).astype(np.int64)
            kth = np.partition(d, k - 1, axis=1)[:, k - 1]
            # Guarantee: every excluded tile is >= R cells (Chebyshev)
            # from the point's CLAMPED cell, and since each axis gap
            # from p is >= the corresponding gap of its clamp q plus
            # the overshoot on the out-of-territory axes, one shows
            # dist(p, excluded)^2 >= e_p^2 + (R*min_w)^2.  The squared
            # form converges in O(1) rings even for points far outside
            # the territory (whose kth ~ e_p: the old linear bound
            # R*min_w - e_p would have escalated R to ~distance and
            # blown the (2R+1)^2 window).  Strict: equality is
            # attainable, and the (dist, gid) tie-break could then
            # prefer an out-of-window gid.
            ok = (valid.sum(axis=1) >= k) & (
                kth * kth < e_p[active] * e_p[active] + (R * min_w) ** 2
            )
            if R >= max(nx, ny):  # window spans the whole grid: exact
                ok[:] = True
            if ok.any():
                rows_l, gid_l, dist_l = _topk_by_dist_gid(d[ok], gid_m[ok], k)
                acc_row.append(active[ok][rows_l])
                acc_gid.append(gid_l)
                acc_dist.append(dist_l)
            active = active[~ok]
            R *= 2
        rows = np.concatenate(acc_row)
        gid = np.concatenate(acc_gid)
        dist = np.concatenate(acc_dist)
        order = np.lexsort((gid, dist, rows))
        # regular_grid/grid_tile_index guarantee frame order == gid
        # order (row-major 1-based), so unit lookup is gid-1
        return _emit(pdf, rows[order], gid[order], dist[order],
                     lambda gg: u[gg - 1], k)

    def _coarse_cell_batch(pdf, px, py, r, g, u, tree, side):
        cell = 8.0 * side
        n_tiles = len(g)
        ci = np.floor(px / cell).astype(np.int64)
        cj = np.floor(py / cell).astype(np.int64)
        uniq, inv = np.unique(np.stack([ci, cj], axis=1), axis=0,
                              return_inverse=True)
        acc_row: list[np.ndarray] = []
        acc_gid: list[np.ndarray] = []
        acc_dist: list[np.ndarray] = []
        for gi in range(len(uniq)):
            sel = np.nonzero(inv == gi)[0]
            gx, gy = px[sel], py[sel]
            x0, y0 = uniq[gi, 0] * cell, uniq[gi, 1] * cell
            x1, y1 = x0 + cell, y0 + cell
            m = side * max(1.0, float(np.ceil(np.sqrt(k))))
            while True:
                cand = tree.query_rect(x0 - m, y0 - m, x1 + m, y1 + m)
                if len(cand) < min(k, n_tiles):
                    m *= 2.0
                    continue
                cand = cand[np.argsort(g[cand], kind="stable")]
                d = point_rect_distance(gx, gy, r[cand])
                kk = min(k, len(cand))
                kth = np.partition(d, kk - 1, axis=1)[:, kk - 1]
                if (kth <= m).all() or len(cand) == n_tiles:
                    break
                m *= 2.0
            cand_gid = np.broadcast_to(g[cand], d.shape)
            rows_l, gid_l, dist_l = _topk_by_dist_gid(d, cand_gid, kk)
            acc_row.append(sel[rows_l])
            acc_gid.append(gid_l)
            acc_dist.append(dist_l)
        rows = np.concatenate(acc_row)
        gid = np.concatenate(acc_gid)
        dist = np.concatenate(acc_dist)
        order = np.lexsort((gid, dist, rows))
        return _emit(pdf, rows[order], gid[order], dist[order],
                     _units_by_pos(g, u), min(k, n_tiles))

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        r, g, u = bc.value
        n_tiles = len(g)
        tree = None
        side = None
        if n_tiles > KNN_DENSE_MAX and grid is None:
            from ..geo import STRtree

            tree = STRtree(r)  # built once per task
            areas = (r[:, 2] - r[:, 0]) * (r[:, 3] - r[:, 1])
            side = float(np.sqrt(np.median(areas)))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            px = pdf[x].to_numpy(dtype=np.float64)
            py = pdf[y].to_numpy(dtype=np.float64)
            if n_tiles <= KNN_DENSE_MAX:
                yield _dense_batch(pdf, px, py, r, g, u)
            elif grid is not None:
                yield _grid_ring_batch(pdf, px, py, u)
            else:
                yield _coarse_cell_batch(pdf, px, py, r, g, u, tree, side)

    return df.select(*cols).mapInPandas(probe, schema=out_schema)
