"""Raster-tile <-> vector-footprint overlay (center-sampling masks)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from batch3dfier_spark import datagen
from batch3dfier_spark.geo import point_in_polygon
from batch3dfier_spark.operators import tiler
from batch3dfier_spark.operators.raster import (
    mask_coverage,
    overlay_extent_mask,
    pixel_cols,
    rasterize_extent,
)
from batch3dfier_spark.operators.tiler import TileIndex
from oracle_kernels import EXTENT_LARGE

RES = 8
T = datagen.REF_TERRITORY


@pytest.fixture(scope="module")
def idx():
    return TileIndex.regular_grid(T, 4, 4)


@pytest.fixture(scope="module")
def poly():
    return np.asarray(EXTENT_LARGE, dtype=np.float64)


def brute_force_mask(idx, poly, res):
    rows = []
    for t in idx.frame.itertuples():
        pw = (t.xmax - t.xmin) / res
        ph = (t.ymax - t.ymin) / res
        for pr in range(res):
            for pc in range(res):
                cx = t.xmin + (pc + 0.5) * pw
                cy = t.ymin + (pr + 0.5) * ph
                if point_in_polygon(np.array([cx]), np.array([cy]), poly)[0]:
                    rows.append((t.gid, pr * res + pc))
    return pd.DataFrame(rows, columns=["tile_gid", "pix_id"])


def test_rasterize_matches_per_pixel_bruteforce(idx, poly):
    got = rasterize_extent(idx, poly, res=RES)
    exp = brute_force_mask(idx, poly, RES)
    key = ["tile_gid", "pix_id"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    assert len(got) > 0
    pd.testing.assert_frame_equal(got[key], exp[key])


def test_overlay_keeps_exactly_masked_pixel_features(spark, idx, poly):
    pages = datagen.gen_pages_range(0, 2000)
    df = spark.createDataFrame(pages[["url", "warc_ts"]])
    feats = tiler.assign_tiles(
        tiler.with_geocode(df, T), idx
    ).select("url", "x", "y", "tile_col", "tile_row", "tile_gid")
    masks = spark.createDataFrame(
        rasterize_extent(idx, poly, res=RES),
        schema="tile_gid bigint, pix_id bigint",
    )
    kept = overlay_extent_mask(feats, masks, idx.grid, res=RES).toPandas()

    # oracle: recompute each feature's pixel center and test the polygon
    all_feats = feats.toPandas()
    pw = idx.grid.wx / RES
    ph = idx.grid.wy / RES
    tx0 = T.xmin + all_feats["tile_col"].to_numpy() * idx.grid.wx
    ty0 = T.ymin + all_feats["tile_row"].to_numpy() * idx.grid.wy
    pc = np.maximum(
        np.minimum(np.floor((all_feats["x"].to_numpy() - tx0) / pw), RES - 1), 0
    )
    pr = np.maximum(
        np.minimum(np.floor((all_feats["y"].to_numpy() - ty0) / ph), RES - 1), 0
    )
    cx = tx0 + (pc + 0.5) * pw
    cy = ty0 + (pr + 0.5) * ph
    inside = point_in_polygon(cx, cy, poly)
    exp_urls = set(all_feats.loc[inside, "url"])
    assert set(kept["url"]) == exp_urls
    assert 0 < len(exp_urls) < len(all_feats)


def test_overlay_plan_broadcasts_and_never_shuffles_fact(spark, idx, poly):
    pages = datagen.gen_pages_range(0, 200)
    df = spark.createDataFrame(pages[["url", "warc_ts"]])
    feats = tiler.assign_tiles(tiler.with_geocode(df, T), idx)
    masks = spark.createDataFrame(
        rasterize_extent(idx, poly, res=RES),
        schema="tile_gid bigint, pix_id bigint",
    )
    plan = (
        overlay_extent_mask(feats, masks, idx.grid, res=RES)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_mask_coverage_full_tile_is_one(spark, idx):
    # a polygon covering the whole territory -> every tile coverage 1.0
    m = T
    full = np.array([
        [m.xmin - 1, m.ymin - 1], [m.xmax + 1, m.ymin - 1],
        [m.xmax + 1, m.ymax + 1], [m.xmin - 1, m.ymax + 1],
        [m.xmin - 1, m.ymin - 1],
    ])
    masks = spark.createDataFrame(
        rasterize_extent(idx, full, res=RES),
        schema="tile_gid bigint, pix_id bigint",
    )
    cov = mask_coverage(masks, res=RES).toPandas()
    assert len(cov) == 16
    assert (cov["coverage"] == 1.0).all()
    assert (cov["pix_inside"] == RES * RES).all()


def test_pixel_cols_pure_jvm(spark, idx):
    pages = datagen.gen_pages_range(0, 50)
    df = spark.createDataFrame(pages[["url", "warc_ts"]])
    feats = tiler.assign_tiles(tiler.with_geocode(df, T), idx)
    plan = (
        pixel_cols(feats, idx.grid, res=RES)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapsInPandas"):
        assert marker not in plan, plan
