"""S2/H3-style hierarchical cell ids over a planar territory (from scratch).

A quadtree (Morton / Z-order) cell index: at resolution r the territory
is a 2^r x 2^r grid; the cell id interleaves the column/row bits so that
parent ids are prefixes of child ids.  The cell_encode contract query
(plans/queries.q_cell_encode) encodes geocoded documents and rolls them
up to a coarse parent cell.

Id layout (fits in a signed int64 for r <= 28):
    cell_id = (r << 58) | morton(col, row)
so ids at the same resolution sort in Z-order and `cell_parent` is a
bit-shift.  Encoding is fully vectorized numpy (used via pandas UDFs).

This is documented as "H3/S2-style": same API shape (encode, parent),
planar quadtree rather than the official icosahedral
indexing (no external libs in this environment).
"""

from __future__ import annotations

import numpy as np

from .geo import Rect

__all__ = [
    "MAX_RES",
    "cell_encode",
    "cell_parent",
]

MAX_RES = 28  # 2*28 location bits + 5 resolution bits < 63


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of v so there is a 0 bit between each."""
    v = v.astype(np.uint64) & np.uint64(0xFFFFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _morton(col: np.ndarray, row: np.ndarray) -> np.ndarray:
    return _part1by1(col) | (_part1by1(row) << np.uint64(1))


def cell_encode(
    x: np.ndarray, y: np.ndarray, res: int, territory: Rect
) -> np.ndarray:
    """Vectorized (x, y) -> int64 cell id at resolution `res`.

    Points outside the half-open territory get id -1.
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = 1 << res
    fx = (x - territory.xmin) / (territory.xmax - territory.xmin)
    fy = (y - territory.ymin) / (territory.ymax - territory.ymin)
    inside = (fx >= 0) & (fx < 1) & (fy >= 0) & (fy < 1)
    col = np.clip(np.nan_to_num(fx * n, nan=-1.0).astype(np.int64), 0, n - 1)
    row = np.clip(np.nan_to_num(fy * n, nan=-1.0).astype(np.int64), 0, n - 1)
    cid = (np.uint64(res) << np.uint64(58)) | _morton(
        col.astype(np.uint64), row.astype(np.uint64)
    )
    out = cid.astype(np.int64)
    out[~inside] = -1
    return out


def cell_parent(cell_id: np.ndarray, parent_res: int) -> np.ndarray:
    """Ancestor id at a coarser resolution (vectorized bit-shift)."""
    c = np.asarray(cell_id, dtype=np.int64).astype(np.uint64)
    res = (c >> np.uint64(58)).astype(np.int64)
    if np.any(res < parent_res):
        raise ValueError("parent_res must be <= cell res")
    shift = (2 * (res - parent_res)).astype(np.uint64)
    loc = (c & np.uint64((1 << 58) - 1)) >> shift
    out = ((np.uint64(parent_res) << np.uint64(58)) | loc).astype(np.int64)
    out[np.asarray(cell_id, dtype=np.int64) == -1] = -1
    return out
