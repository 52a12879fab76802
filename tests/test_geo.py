"""Pure-numpy geometry kernel tests (no JVM) — the reference's golden
semantics (SURVEY.md §5, FIXTURES.md §5)."""

import numpy as np
import pytest

from batch3dfier_spark import datagen
from batch3dfier_spark.geo import (
    Rect,
    STRtree,
    point_in_polygon,
    point_rect_distance,
    polygon_area,
    polygon_bbox,
    rect_intersects_polygon,
)
from oracle_kernels import (
    BORDER_CORPUS,
    EXTENT_LARGE,
    points_in_rects_buffered,
    rects_overlap_pairs,
    ref_asset_index,
    ref_tile_index,
)

TILES = ref_tile_index()
RECTS = TILES[["xmin", "ymin", "xmax", "ymax"]].to_numpy()


def assigned_units(x, y, buffer=0.0):
    pi, ri = points_in_rects_buffered([x], [y], RECTS, buffer)
    return sorted(TILES["unit"].iloc[ri].tolist())


class TestBorderCorpus:
    """FIXTURES.md §5 golden table — the reference's exactly-one-tile
    membership rule (footprints.py:256-265) as half-open intervals."""

    @pytest.mark.parametrize("case,x,y,expected", BORDER_CORPUS)
    def test_buffer0_exactly_one(self, case, x, y, expected):
        units = assigned_units(x, y)
        if expected is None:
            assert units == []
        else:
            assert units == [expected]

    def test_buffer_case_multi_tile(self):
        # (120936, 486000) with buffer 2.0 -> c1 and c2 (FIXTURES.md §5)
        assert assigned_units(120936.0, 486000.0, buffer=2.0) == [
            "25gn1_c1",
            "25gn1_c2",
        ]

    def test_every_interior_point_exactly_one(self):
        rng = np.random.RandomState(42)
        t = datagen.REF_TERRITORY
        x = rng.uniform(t.xmin, t.xmax, 2000)
        y = rng.uniform(t.ymin, t.ymax, 2000)
        pi, ri = points_in_rects_buffered(x, y, RECTS, 0.0)
        counts = np.bincount(pi, minlength=len(x))
        assert (counts == 1).all()


class TestPolygon:
    def test_area_centroid_square(self):
        sq = np.array([[0, 0], [2, 0], [2, 2], [0, 2]])
        assert polygon_area(sq) == 4.0

    def test_extent_small_area_less_than_tile(self):
        # the union-path trigger (batch3dfierapp.py:160-167): extent_small
        # spans all 4 tiles but its area < one tile's area
        tile_area = Rect(*RECTS[0]).area
        assert polygon_area(datagen.EXTENT_SMALL) < tile_area

    def test_extent_large_area_greater_than_tile(self):
        tile_area = Rect(*RECTS[0]).area
        assert polygon_area(EXTENT_LARGE) > tile_area

    def test_point_in_polygon_basic(self):
        poly = np.array([[0, 0], [4, 0], [4, 4], [0, 4]])
        inside = point_in_polygon(
            np.array([2.0, 5.0, -1.0, 0.5]), np.array([2.0, 2.0, 2.0, 3.9]), poly
        )
        assert inside.tolist() == [True, False, False, True]

    def test_point_in_concave_polygon(self):
        # L-shape
        poly = np.array([[0, 0], [4, 0], [4, 2], [2, 2], [2, 4], [0, 4]])
        inside = point_in_polygon(
            np.array([1.0, 3.0, 3.0]), np.array([3.0, 3.0, 1.0]), poly
        )
        assert inside.tolist() == [True, False, True]


class TestTileSelection:
    """The reference's golden: extent_small intersects all 4 tiles
    (tests/test_config.py:70-75); extent vs asset index -> both pc tiles
    (tests/test_config.py:78-95)."""

    def test_small_extent_selects_all_4_tiles(self):
        hit = rect_intersects_polygon(RECTS, datagen.EXTENT_SMALL)
        assert sorted(TILES["unit"][hit]) == [
            "25gn1_c1", "25gn1_c2", "25gn1_c3", "25gn1_c4",
        ]

    def test_large_extent_selects_all_4_tiles(self):
        hit = rect_intersects_polygon(RECTS, EXTENT_LARGE)
        assert hit.all()

    def test_extent_selects_both_asset_tiles(self):
        assets = ref_asset_index()
        arects = assets[["xmin", "ymin", "xmax", "ymax"]].to_numpy()
        hit = rect_intersects_polygon(arects, datagen.EXTENT_SMALL)
        assert sorted(assets["unit"][hit]) == ["25gn1_a", "25gn1_b"]

    def test_disjoint_rect_not_selected(self):
        far = np.array([[0.0, 0.0, 1.0, 1.0]])
        assert not rect_intersects_polygon(far, datagen.EXTENT_SMALL).any()

    def test_rect_containing_polygon_selected(self):
        t = datagen.REF_TERRITORY
        big = np.array([[t.xmin - 1e4, t.ymin - 1e4, t.xmax + 1e4, t.ymax + 1e4]])
        assert rect_intersects_polygon(big, datagen.EXTENT_SMALL).all()


class TestNeighborJoin:
    def test_footprint_vs_asset_overlap(self):
        # each asset tile (north/south half) overlaps all 4 footprint
        # tiles at closed bounds (shared edge y=486328.125 touches)
        assets = ref_asset_index()
        arects = assets[["xmin", "ymin", "xmax", "ymax"]].to_numpy()
        ai, fi = rects_overlap_pairs(arects, RECTS)
        pairs = {(assets["unit"].iloc[a], TILES["unit"].iloc[f]) for a, f in zip(ai, fi)}
        # closed-bound st_intersects: shared edges count (reference golden:
        # footprint tile 25gn1_c1 -> pc tiles [25gn1_a, 25gn1_b],
        # tests/test_config.py:78-95)
        c1_assets = sorted(a for a, f in pairs if f == "25gn1_c1")
        assert c1_assets == ["25gn1_a", "25gn1_b"]
        assert len(pairs) == 8  # every tile touches both halves

    def test_point_rect_distance(self):
        d = point_rect_distance(
            np.array([0.0, 5.0]), np.array([0.0, 5.0]),
            np.array([[1.0, 1.0, 2.0, 2.0]]),
        )
        assert d[0, 0] == pytest.approx(np.sqrt(2))
        assert d[1, 0] == pytest.approx(np.sqrt(18))


class TestSTRtree:
    def test_matches_bruteforce(self):
        rng = np.random.RandomState(3)
        n = 500
        x0 = rng.uniform(0, 100, n)
        y0 = rng.uniform(0, 100, n)
        rects = np.stack([x0, y0, x0 + rng.uniform(1, 5, n), y0 + rng.uniform(1, 5, n)], axis=1)
        tree = STRtree(rects)
        qx = rng.uniform(-5, 105, 300)
        qy = rng.uniform(-5, 105, 300)
        pi, ri = tree.query_points_bulk(qx, qy)
        got = set(zip(pi.tolist(), ri.tolist()))
        bpi, bri = points_in_rects_buffered(qx, qy, rects, 0.0)
        assert got == set(zip(bpi.tolist(), bri.tolist()))

    def test_query_rect(self):
        tiles = datagen.grid_tile_index(datagen.REF_TERRITORY, 10, 10)
        rects = tiles[["xmin", "ymin", "xmax", "ymax"]].to_numpy()
        tree = STRtree(rects, leaf_size=4)
        bbox = polygon_bbox(datagen.EXTENT_SMALL)
        got = sorted(tree.query_rect(bbox.xmin, bbox.ymin, bbox.xmax, bbox.ymax).tolist())
        brute = [
            i for i, r in enumerate(rects)
            if r[0] <= bbox.xmax and bbox.xmin <= r[2]
            and r[1] <= bbox.ymax and bbox.ymin <= r[3]
        ]
        assert got == brute

    def test_single_rect_tree(self):
        tree = STRtree(np.array([[0.0, 0.0, 1.0, 1.0]]))
        assert tree.query_point(0.5, 0.5).tolist() == [0]
        assert tree.query_point(1.0, 0.5).tolist() == []  # half-open
