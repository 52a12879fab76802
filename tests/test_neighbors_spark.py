"""Neighbor resolution: interval-overlap join (J2) + grid kNN."""

import numpy as np
import pandas as pd
import pytest

from batch3dfier_spark import datagen
from batch3dfier_spark.geo import point_rect_distance
from batch3dfier_spark.operators.neighbors import knn_tiles, tile_neighbors_spark
from batch3dfier_spark.operators.tiler import TileIndex, with_geocode
from oracle_kernels import (
    ref_asset_index,
    ref_tile_index,
    rects_overlap_pairs,
    tile_neighbor_pairs,
)

T = datagen.REF_TERRITORY


def test_neighbor_pairs_reference_golden():
    """Golden from the reference (tests/test_config.py:78-95): footprint
    tile 25gn1_c1 resolves pc tiles [25gn1_a, 25gn1_b]."""
    ftpr = TileIndex(ref_tile_index())
    assets = TileIndex(ref_asset_index())
    pairs = tile_neighbor_pairs(ftpr, assets)
    c1 = sorted(pairs[pairs["ftpr_unit"] == "25gn1_c1"]["asset_unit"])
    assert c1 == ["25gn1_a", "25gn1_b"]
    assert len(pairs) == 8  # every footprint tile touches both halves


def test_spark_join_matches_driver_side(spark):
    ftpr = TileIndex.regular_grid(T, 6, 4)
    assets = TileIndex.regular_grid(T, 2, 2)
    got = (
        tile_neighbors_spark(ftpr.spark_df(spark), assets.spark_df(spark))
        .toPandas()
        .sort_values(["ftpr_gid", "asset_gid"])
        .reset_index(drop=True)
    )
    exp = (
        tile_neighbor_pairs(ftpr, assets)
        .sort_values(["ftpr_gid", "asset_gid"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"ftpr_gid": "int64", "asset_gid": "int64"}),
        exp.astype({"ftpr_gid": "int64", "asset_gid": "int64"}),
    )


def test_neighbor_pairs_strtree_path():
    """>256 tiles on the b side flips to the STRtree path; must agree
    with the dense kernel."""
    a = TileIndex.regular_grid(T, 3, 3)
    b = TileIndex.regular_grid(T, 20, 20)  # 400 > 256
    got = set(map(tuple, tile_neighbor_pairs(a, b)[["ftpr_gid", "asset_gid"]].to_numpy()))
    ai, bi = rects_overlap_pairs(a.rects, b.rects)
    exp = set(
        zip(a.frame["gid"].to_numpy()[ai], b.frame["gid"].to_numpy()[bi])
    )
    assert got == exp


def _knn_bruteforce(xs, ys, idx, k):
    """(n, k) expected gid matrix + dist matrix by dense (dist, gid) sort."""
    d = point_rect_distance(xs, ys, idx.rects)
    gids = idx.frame["gid"].to_numpy()
    exp_gid = np.empty((len(xs), k), dtype=np.int64)
    exp_dist = np.empty((len(xs), k), dtype=np.float64)
    for i in range(len(xs)):
        order = np.lexsort((gids, d[i]))[:k]
        exp_gid[i] = gids[order]
        exp_dist[i] = d[i][order]
    return exp_gid, exp_dist


def _sample_points(nx, ny, n_random=150):
    """Deterministic probe points: random interior + edge/corner/outside
    cases that stress the ring-guarantee math."""
    rng = np.random.RandomState(7)
    xs = T.xmin + rng.rand(n_random) * (T.xmax - T.xmin)
    ys = T.ymin + rng.rand(n_random) * (T.ymax - T.ymin)
    wx = (T.xmax - T.xmin) / nx
    wy = (T.ymax - T.ymin) / ny
    extra_x = [T.xmin, T.xmax, T.xmin - 3 * wx, T.xmax + 3 * wx,
               T.xmin + wx, (T.xmin + T.xmax) / 2]
    extra_y = [T.ymin, T.ymax + 2 * wy, T.ymin - wy, T.ymax,
               T.ymin + wy, (T.ymin + T.ymax) / 2]
    xs = np.concatenate([xs, np.array(extra_x)])
    ys = np.concatenate([ys, np.array(extra_y)])
    return xs, ys


def _check_knn_tier(spark, idx, k, nx, ny):
    xs, ys = _sample_points(nx, ny)
    pdf = pd.DataFrame({"pid": np.arange(len(xs)), "x": xs, "y": ys})
    df = spark.createDataFrame(pdf)
    out = (
        knn_tiles(df, idx, k=k, keep=("pid",))
        .toPandas()
        .sort_values(["pid", "nn_rank"])
        .reset_index(drop=True)
    )
    assert (out.groupby("pid")["nn_rank"].count() == k).all()
    exp_gid, exp_dist = _knn_bruteforce(xs, ys, idx, k)
    got_gid = out["nn_gid"].to_numpy().reshape(len(xs), k)
    got_dist = out["nn_dist"].to_numpy().reshape(len(xs), k)
    np.testing.assert_array_equal(got_gid, exp_gid)
    np.testing.assert_allclose(got_dist, exp_dist, rtol=0, atol=0)


def test_knn_grid_ring_path_matches_bruteforce(spark):
    """128x128 = 16384 tiles > KNN_DENSE_MAX -> exercises the vectorized
    grid-ring search, incl. outside-territory points (e_p > 0)."""
    idx = TileIndex.regular_grid(T, 128, 128)
    _check_knn_tier(spark, idx, k=5, nx=128, ny=128)


def test_knn_coarse_cell_strtree_path_matches_bruteforce(spark):
    """An index without a GridSpec and > KNN_DENSE_MAX tiles -> exercises the
    coarse-cell + STRtree expanding-margin search."""
    frame = datagen.grid_tile_index(T, 80, 80)  # 6400 > 4096
    idx = TileIndex(frame)  # no grid: irregular path
    assert idx.grid is None
    _check_knn_tier(spark, idx, k=3, nx=80, ny=80)


def test_knn_million_tile_index_bounded(spark):
    """The advertised 1e6-tile scale: the ring search must complete with
    bounded candidate windows (a dense matrix would be ~50 GB) and match
    brute force on a sample of points — INCLUDING points 50-500
    tile-widths outside the territory, where the squared ring guarantee
    must converge in O(1) rings instead of escalating R to ~distance
    (which would allocate a ~(2R+1)^2-wide window per point)."""
    idx = TileIndex.regular_grid(T, 1000, 1000)
    xs, ys = _sample_points(1000, 1000, n_random=40)
    w = (T.xmax - T.xmin) / 1000
    h = (T.ymax - T.ymin) / 1000
    far_x = np.array([T.xmax + 50 * w, T.xmin - 500 * w, T.xmax + 500 * w,
                      (T.xmin + T.xmax) / 2, T.xmin - 50 * w])
    far_y = np.array([(T.ymin + T.ymax) / 2, T.ymax + 50 * h, T.ymax + 500 * h,
                      T.ymin - 500 * h, T.ymin - 50 * h])
    xs = np.concatenate([xs, far_x])
    ys = np.concatenate([ys, far_y])
    pdf = pd.DataFrame({"pid": np.arange(len(xs)), "x": xs, "y": ys})
    out = (
        knn_tiles(spark.createDataFrame(pdf), idx, k=3, keep=("pid",))
        .toPandas()
        .sort_values(["pid", "nn_rank"])
        .reset_index(drop=True)
    )
    exp_gid, _ = _knn_bruteforce(xs, ys, idx, 3)
    got_gid = out["nn_gid"].to_numpy().reshape(len(xs), 3)
    np.testing.assert_array_equal(got_gid, exp_gid)


def test_knn_matches_bruteforce(spark, pages_df, pages_pdf):
    idx = TileIndex.regular_grid(T, 5, 5)
    k = 4
    geocoded = with_geocode(pages_df, T).limit(200)
    out = knn_tiles(geocoded, idx, k=k, keep=("url",)).toPandas()
    assert (out.groupby("url")["nn_rank"].count() == k).all()
    xy = out.drop_duplicates("url")[["url", "x", "y"]]
    d = point_rect_distance(xy["x"].to_numpy(), xy["y"].to_numpy(), idx.rects)
    gids = idx.frame["gid"].to_numpy()
    for i, url in enumerate(xy["url"]):
        order = np.lexsort((gids, d[i]))[:k]
        exp = gids[order].tolist()
        got = out[out["url"] == url].sort_values("nn_rank")["nn_gid"].tolist()
        assert got == exp, url
    # rank-1 distance is 0 for points inside a tile
    assert (out[out["nn_rank"] == 1]["nn_dist"] == 0).all()
