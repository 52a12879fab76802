"""Spark-side tiling engine tests against numpy/pandas oracles:
the J1 tile-assignment join, buffered multi-assignment, P3/P4 extent
semantics, O9 heuristic, and the byte-identical text invariant."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from batch3dfier_spark import datagen
from batch3dfier_spark.functions.geocode import geocode_np
from batch3dfier_spark.functions.text import extract_text_cols
from batch3dfier_spark.geo import point_in_polygon
from batch3dfier_spark.operators import tiler
from batch3dfier_spark.operators.tiler import GridSpec, TileIndex
from oracle_kernels import (
    BORDER_CORPUS,
    EXTENT_LARGE,
    points_in_rects_buffered,
    ref_tile_index,
)

T = datagen.REF_TERRITORY


@pytest.fixture(scope="module")
def geocoded(pages_df):
    return tiler.with_geocode(pages_df, T).cache()


@pytest.fixture(scope="module")
def oracle_xy(pages_pdf):
    return geocode_np(pages_pdf["url"], pages_pdf["warc_ts"], T)


def test_geocode_cols_match_numpy(geocoded, pages_pdf, oracle_xy):
    got = geocoded.select("url", "x", "y").toPandas().set_index("url")
    x, y = oracle_xy
    exp = pd.DataFrame({"x": x, "y": y}, index=pages_pdf["url"])
    merged = got.join(exp, rsuffix="_np")
    # bit-identical: same IEEE ops in the same order on both sides
    assert (merged["x"] == merged["x_np"]).all()
    assert (merged["y"] == merged["y_np"]).all()


def test_extract_text_byte_identical(pages_df):
    bad = pages_df.where(extract_text_cols(F.col("html")) != F.col("text")).count()
    assert bad == 0


class TestAssignGrid:
    def test_exactly_one_tile(self, geocoded):
        n = geocoded.count()
        out = tiler.assign_tiles(geocoded, TileIndex.regular_grid(T, 4, 4))
        assert out.where(F.col("tile_gid").isNotNull()).count() == n
        # distinct (url, tile) pairs == rows: no multi-assignment
        assert out.select("url", "tile_gid").distinct().count() == n

    def test_matches_numpy_oracle(self, geocoded, pages_pdf, oracle_xy):
        idx = TileIndex.regular_grid(T, 5, 3)
        got = (
            tiler.assign_tiles(geocoded, idx)
            .select("url", "tile_unit")
            .toPandas()
            .set_index("url")["tile_unit"]
        )
        x, y = oracle_xy
        pi, ri = points_in_rects_buffered(x, y, idx.rects, 0.0)
        exp = pd.Series(
            idx.frame["unit"].to_numpy()[ri], index=pages_pdf["url"].to_numpy()[pi]
        )
        assert got.sort_index().equals(exp.sort_index())

    def test_border_corpus_grid(self, spark):
        # hand-placed border cases through the 2x2 grid fast path
        pdf = pd.DataFrame(
            [(c, x, y) for c, x, y, _ in BORDER_CORPUS],
            columns=["case", "x", "y"],
        )
        out = (
            tiler.assign_tiles(
                spark.createDataFrame(pdf), TileIndex.regular_grid(T, 2, 2)
            )
            .select("case", "tile_col", "tile_row")
            .toPandas()
            .set_index("case")
        )
        # expected (col,row) per FIXTURES.md §5 under the half-open rule
        expected = {
            "interior": (0, 0),
            "shared_vertical_edge": (1, 0),
            "shared_horizontal_edge": (0, 1),
            "four_corner_point": (1, 1),
            "territory_sw_corner": (0, 0),
            "territory_right_edge": None,
        }
        for case, exp in expected.items():
            row = out.loc[case]
            if exp is None:
                assert pd.isna(row.tile_col)
            else:
                assert (row.tile_col, row.tile_row) == exp


class TestAssignRtree:
    def test_ref_index_matches_grid_path(self, geocoded):
        """The reference 4-tile index (irregular path) must agree with
        the 2x2 grid fast path tile-for-tile."""
        ref = TileIndex(ref_tile_index())  # no GridSpec -> STRtree
        grid = TileIndex.regular_grid(T, 2, 2)
        got_ref = (
            tiler.assign_tiles(geocoded, ref)
            .select("url", "tile_unit").toPandas().set_index("url")["tile_unit"]
        )
        got_grid = (
            tiler.assign_tiles(geocoded, grid)
            .select("url", "tile_col", "tile_row").toPandas().set_index("url")
        )
        unit_of_colrow = {(0, 0): "25gn1_c1", (1, 0): "25gn1_c2",
                          (1, 1): "25gn1_c3", (0, 1): "25gn1_c4"}
        exp = got_grid.apply(
            lambda r: unit_of_colrow[(r.tile_col, r.tile_row)], axis=1
        )
        assert got_ref.sort_index().equals(exp.sort_index())

    def test_rtree_buffered_multi_assignment(self, spark):
        pdf = pd.DataFrame({"x": [120936.0], "y": [486000.0]})
        ref = TileIndex(ref_tile_index())
        out = tiler.assign_tiles(spark.createDataFrame(pdf), ref, buffer=2.0)
        assert sorted(r.tile_unit for r in out.collect()) == ["25gn1_c1", "25gn1_c2"]


class TestAssignBufferedGrid:
    def test_matches_numpy_oracle(self, geocoded, pages_pdf, oracle_xy):
        idx = TileIndex.regular_grid(T, 4, 4)
        buffer = 15.0
        got = (
            tiler.assign_tiles(geocoded, idx, buffer=buffer)
            .select("url", "tile_gid")
            .toPandas()
        )
        x, y = oracle_xy
        pi, ri = points_in_rects_buffered(x, y, idx.rects, buffer)
        exp = pd.DataFrame(
            {
                "url": pages_pdf["url"].to_numpy()[pi],
                "tile_gid": idx.frame["gid"].to_numpy()[ri],
            }
        )
        key = lambda d: sorted(map(tuple, d[["url", "tile_gid"]].to_numpy()))
        assert key(got) == key(exp)

    def test_buffer_zero_equals_plain(self, geocoded):
        idx = TileIndex.regular_grid(T, 4, 4)
        plain = set(
            map(tuple, tiler.assign_tiles(geocoded, idx)
                .select("url", "tile_gid").toPandas().to_numpy())
        )
        buffered = set(
            map(tuple, tiler.assign_tiles(geocoded, idx, buffer=0.0)
                .select("url", "tile_gid").toPandas().to_numpy())
        )
        assert plain == buffered


class TestExtent:
    def test_select_tiles_golden(self):
        """The reference golden: extent_small intersects all 4 tiles
        (tests/test_config.py:70-75)."""
        ref = TileIndex(ref_tile_index())
        sel = tiler.select_tiles(ref, datagen.EXTENT_SMALL)
        assert sel["unit"].tolist() == ["25gn1_c1", "25gn1_c2", "25gn1_c3", "25gn1_c4"]

    def test_union_or_split_heuristic(self):
        """O9 (batch3dfierapp.py:160-167): small extent -> union, large
        extent -> per-tile split."""
        ref = TileIndex(ref_tile_index())
        sel_small = tiler.select_tiles(ref, datagen.EXTENT_SMALL)
        sel_large = tiler.select_tiles(ref, EXTENT_LARGE)
        assert tiler.union_or_split(sel_small, ref, datagen.EXTENT_SMALL) is True
        assert tiler.union_or_split(sel_large, ref, EXTENT_LARGE) is False

    def test_extent_filter_matches_numpy(self, geocoded, pages_pdf, oracle_xy):
        got = set(
            r.url
            for r in tiler.extent_filter(geocoded, datagen.EXTENT_SMALL)
            .select("url")
            .collect()
        )
        x, y = oracle_xy
        inside = point_in_polygon(x, y, datagen.EXTENT_SMALL)
        exp = set(pages_pdf["url"].to_numpy()[inside])
        assert got == exp
        assert 0 < len(exp) < len(pages_pdf)  # non-trivial filter


class TestGridSpecExprs:
    def test_unit_gid_consistent_with_frame(self, spark):
        idx = TileIndex.regular_grid(T, 3, 2)
        df = spark.createDataFrame(pd.DataFrame({"c": [0, 1, 2, 0], "r": [0, 0, 1, 1]}))
        g = GridSpec(T, 3, 2)
        out = df.select(
            g.gid_expr(F.col("c"), F.col("r")).alias("gid"),
            g.unit_expr(F.col("c"), F.col("r")).alias("unit"),
        ).toPandas()
        merged = out.merge(idx.frame, on="gid")
        assert (merged["unit_x"] == merged["unit_y"]).all()
