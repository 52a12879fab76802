"""Quadtree cell index tests (pure numpy, no JVM)."""

import numpy as np

from batch3dfier_spark import datagen
from batch3dfier_spark.cells import cell_encode, cell_parent

T = datagen.REF_TERRITORY


def test_outside_is_minus_one():
    cid = cell_encode(
        np.array([T.xmax, T.xmin - 1.0]), np.array([T.ymin, T.ymin]), 5, T
    )
    assert cid.tolist() == [-1, -1]


def test_parent_is_prefix():
    rng = np.random.RandomState(2)
    x = rng.uniform(T.xmin, T.xmax, 500)
    y = rng.uniform(T.ymin, T.ymax, 500)
    fine = cell_encode(x, y, 10, T)
    coarse = cell_encode(x, y, 4, T)
    assert (cell_parent(fine, 4) == coarse).all()
