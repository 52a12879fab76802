"""Vectorized planar geometry kernels (numpy, no external geo libs).

These re-create, from scratch, the geometric predicates the reference
delegates to PostGIS (balazsdukai/batch3dfier):

- half-open tile membership  <- st_containsproperly(tile, pt) OR
  st_contains(tile.geom_border, pt) with geom_border = the lower+left
  edges (reference: batch3dfier/footprints.py:40-79, 256-265)
- polygon intersects rectangle  <- st_intersects (config.py:333-341)
- point in polygon              <- st_within (config.py:447-461)
- area                          <- st_area (config.py:372)
- STRtree                       <- the GiST indexes (db.sql:3357-3391)

All kernels operate on numpy arrays (Arrow-batch friendly) and are used
inside pandas UDFs; none are per-row Python.  Coordinates are planar
(the reference hard-codes EPSG:28992, a planar CRS in meters).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

__all__ = [
    "Rect",
    "point_in_polygon",
    "polygon_area",
    "polygon_bbox",
    "rect_intersects_polygon",
    "point_rect_distance",
    "STRtree",
]


@dataclass(frozen=True)
class Rect:
    """Axis-aligned rectangle [xmin, xmax) x [ymin, ymax) (half-open)."""

    xmin: float
    ymin: float
    xmax: float
    ymax: float

    @property
    def area(self) -> float:
        return (self.xmax - self.xmin) * (self.ymax - self.ymin)

    def buffered(self, b: float) -> "Rect":
        return Rect(self.xmin - b, self.ymin - b, self.xmax + b, self.ymax + b)


# ---------------------------------------------------------------------------
# Polygon kernels
# ---------------------------------------------------------------------------

def _ring(poly: np.ndarray) -> np.ndarray:
    """Normalize an (n,2) vertex list to an open ring (drop repeated
    closing vertex if present)."""
    poly = np.asarray(poly, dtype=np.float64)
    if poly.ndim != 2 or poly.shape[1] != 2:
        raise ValueError("polygon must be an (n, 2) array")
    if len(poly) > 1 and np.array_equal(poly[0], poly[-1]):
        poly = poly[:-1]
    return poly


def point_in_polygon(x: np.ndarray, y: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Vectorized even-odd (crossing-number) point-in-polygon test.

    Boundary points follow the crossing-number convention (lower edges
    in, upper edges out) -- consistent and deterministic, which is what
    the select-not-clip extent filter needs (reference semantics:
    st_within keeps whole features inside the extent, config.py:447-461).
    """
    poly = _ring(poly)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    x1, y1 = poly[:, 0], poly[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    xp = x[:, None]
    yp = y[:, None]
    # edge straddles the horizontal ray through yp (half-open in y)
    straddle = (y1[None, :] > yp) != (y2[None, :] > yp)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at_y = x1[None, :] + (yp - y1[None, :]) / (y2[None, :] - y1[None, :]) * (
            x2[None, :] - x1[None, :]
        )
    crossings = straddle & (xp < x_at_y)
    return crossings.sum(axis=1) % 2 == 1


def polygon_area(poly: np.ndarray) -> float:
    """Shoelace area (absolute value) — the st_area analog."""
    p = _ring(poly)
    x, y = p[:, 0], p[:, 1]
    return float(abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) / 2.0)


def polygon_bbox(poly: np.ndarray) -> Rect:
    p = _ring(poly)
    return Rect(
        float(p[:, 0].min()), float(p[:, 1].min()),
        float(p[:, 0].max()), float(p[:, 1].max()),
    )


def _segments_intersect(p1, p2, q1, q2) -> np.ndarray:
    """Vectorized proper/improper segment intersection.

    p1,p2: (n,2) segment endpoints; q1,q2: (m,2).  Returns (n,m) bool.
    """
    def orient(a, b, c):
        return (b[..., 0] - a[..., 0]) * (c[..., 1] - a[..., 1]) - (
            b[..., 1] - a[..., 1]
        ) * (c[..., 0] - a[..., 0])

    p1 = p1[:, None, :]
    p2 = p2[:, None, :]
    q1 = q1[None, :, :]
    q2 = q2[None, :, :]
    d1 = orient(q1, q2, p1)
    d2 = orient(q1, q2, p2)
    d3 = orient(p1, p2, q1)
    d4 = orient(p1, p2, q2)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))

    def on_seg(a, b, c, d):
        # d == orient(a,b,c) == 0 -> c collinear with ab; check bbox
        return (
            (d == 0)
            & (c[..., 0] >= np.minimum(a[..., 0], b[..., 0]))
            & (c[..., 0] <= np.maximum(a[..., 0], b[..., 0]))
            & (c[..., 1] >= np.minimum(a[..., 1], b[..., 1]))
            & (c[..., 1] <= np.maximum(a[..., 1], b[..., 1]))
        )

    touch = (
        on_seg(q1, q2, p1, d1)
        | on_seg(q1, q2, p2, d2)
        | on_seg(p1, p2, q1, d3)
        | on_seg(p1, p2, q2, d4)
    )
    return proper | touch


def rect_intersects_polygon(rects: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """st_intersects(rect, polygon) for each rect in an (n,4) array.

    True iff boundaries cross, a rect corner is inside the polygon, or a
    polygon vertex is inside the rect (closed rect for this predicate —
    PostGIS st_intersects is boundary-inclusive; used for tile selection,
    reference config.py:304-347).
    """
    r = np.asarray(rects, dtype=np.float64)
    p = _ring(poly)
    n = len(r)
    out = np.zeros(n, dtype=bool)

    # polygon vertex inside (closed) rect
    vx, vy = p[:, 0], p[:, 1]
    inside_rect = (
        (vx[None, :] >= r[:, 0:1])
        & (vx[None, :] <= r[:, 2:3])
        & (vy[None, :] >= r[:, 1:2])
        & (vy[None, :] <= r[:, 3:4])
    ).any(axis=1)
    out |= inside_rect

    # rect corner inside polygon (any of 4 corners)
    for cx_idx, cy_idx in ((0, 1), (2, 1), (2, 3), (0, 3)):
        out |= point_in_polygon(r[:, cx_idx], r[:, cy_idx], p)

    # edge crossings: rect edges x polygon edges (only for undecided)
    todo = ~out
    if todo.any():
        q1 = p
        q2 = np.roll(p, -1, axis=0)
        rr = r[todo]
        corners = np.stack(
            [
                np.stack([rr[:, 0], rr[:, 1]], axis=1),
                np.stack([rr[:, 2], rr[:, 1]], axis=1),
                np.stack([rr[:, 2], rr[:, 3]], axis=1),
                np.stack([rr[:, 0], rr[:, 3]], axis=1),
            ],
            axis=1,
        )  # (k, 4, 2)
        hit = np.zeros(len(rr), dtype=bool)
        for i in range(4):
            a = corners[:, i, :]
            b = corners[:, (i + 1) % 4, :]
            hit |= _segments_intersect(a, b, q1, q2).any(axis=1)
        out[np.nonzero(todo)[0]] = hit
    return out


def point_rect_distance(x: np.ndarray, y: np.ndarray, rects: np.ndarray) -> np.ndarray:
    """Euclidean distance from each point to each rect (0 if inside).

    Returns an (n_points, n_rects) matrix; used by grid-partitioned kNN
    neighbor-tile resolution.
    """
    x = np.asarray(x, dtype=np.float64)[:, None]
    y = np.asarray(y, dtype=np.float64)[:, None]
    r = np.asarray(rects, dtype=np.float64)
    dx = np.maximum(np.maximum(r[None, :, 0] - x, x - r[None, :, 2]), 0.0)
    dy = np.maximum(np.maximum(r[None, :, 1] - y, y - r[None, :, 3]), 0.0)
    # sqrt(dx*dx + dy*dy) rather than hypot: mul/add/sqrt are correctly
    # rounded IEEE ops, so SQL oracles (SQRT(dx*dx + dy*dy)) reproduce
    # the result bit-for-bit; hypot's internal scaling would not.
    return np.sqrt(dx * dx + dy * dy)


# ---------------------------------------------------------------------------
# Packed STRtree (sort-tile-recursive R-tree) over rectangles
# ---------------------------------------------------------------------------

class STRtree:
    """Packed sort-tile-recursive R-tree over an (n,4) rect array.

    Replaces the reference's GiST indexes (db.sql:3357-3391).  Built once
    on the driver over the (small) tile index and broadcast; queried in
    bulk inside pandas UDFs.  Storage is flat numpy arrays, so pickling
    for Spark broadcast is cheap.
    """

    def __init__(self, rects: np.ndarray, leaf_size: int = 16):
        rects = np.asarray(rects, dtype=np.float64)
        if rects.ndim != 2 or rects.shape[1] != 4:
            raise ValueError("rects must be (n, 4)")
        self.rects = rects
        n = len(rects)
        self.leaf_size = leaf_size
        # STR packing: sort by x-center, slice into vertical strips,
        # sort each strip by y-center.
        cx = (rects[:, 0] + rects[:, 2]) / 2.0
        cy = (rects[:, 1] + rects[:, 3]) / 2.0
        n_leaves = max(1, -(-n // leaf_size))
        n_strips = max(1, int(np.ceil(np.sqrt(n_leaves))))
        per_strip = -(-n // n_strips)
        order_x = np.argsort(cx, kind="stable")
        order = np.empty(n, dtype=np.int64)
        for s in range(n_strips):
            sl = order_x[s * per_strip : (s + 1) * per_strip]
            order[s * per_strip : s * per_strip + len(sl)] = sl[
                np.argsort(cy[sl], kind="stable")
            ]
        self.order = order  # leaf-ordered original indices
        sorted_rects = rects[order]
        # leaf bounding boxes
        levels = []
        cur = sorted_rects
        while len(cur) > 1:
            n_nodes = -(-len(cur) // leaf_size)
            boxes = np.empty((n_nodes, 4), dtype=np.float64)
            for i in range(n_nodes):
                blk = cur[i * leaf_size : (i + 1) * leaf_size]
                boxes[i] = (
                    blk[:, 0].min(), blk[:, 1].min(),
                    blk[:, 2].max(), blk[:, 3].max(),
                )
            levels.append(boxes)
            cur = boxes
        self.levels = levels  # levels[0] = leaf boxes ... levels[-1] = root(s)

    def query_point(self, x: float, y: float) -> np.ndarray:
        """Original-rect indices whose rect contains (x, y) half-open."""
        idx = self.query_rect(x, y, x, y)
        r = self.rects[idx]
        keep = (
            (x >= r[:, 0]) & (x < r[:, 2]) & (y >= r[:, 1]) & (y < r[:, 3])
        )
        return idx[keep]

    def query_rect(self, xmin, ymin, xmax, ymax) -> np.ndarray:
        """Original-rect indices whose rect intersects the closed query box."""
        if not self.levels:  # single rect
            r = self.rects
            hit = (
                (r[:, 0] <= xmax) & (xmin <= r[:, 2])
                & (r[:, 1] <= ymax) & (ymin <= r[:, 3])
            )
            return np.nonzero(hit)[0]
        # descend from root level to leaves
        top = len(self.levels) - 1
        nodes = np.arange(len(self.levels[top]))
        for lvl in range(top, -1, -1):
            boxes = self.levels[lvl][nodes]
            hit = (
                (boxes[:, 0] <= xmax) & (xmin <= boxes[:, 2])
                & (boxes[:, 1] <= ymax) & (ymin <= boxes[:, 3])
            )
            nodes = nodes[hit]
            if len(nodes) == 0:
                return np.empty(0, dtype=np.int64)
            if lvl > 0:
                children = (
                    nodes[:, None] * self.leaf_size
                    + np.arange(self.leaf_size)[None, :]
                ).ravel()
                nodes = children[children < len(self.levels[lvl - 1])]
        # `nodes` are leaf-box ids; expand to sorted-rect slots
        slots = (
            nodes[:, None] * self.leaf_size + np.arange(self.leaf_size)[None, :]
        ).ravel()
        slots = slots[slots < len(self.rects)]
        r = self.rects[self.order[slots]]
        hit = (
            (r[:, 0] <= xmax) & (xmin <= r[:, 2])
            & (r[:, 1] <= ymax) & (ymin <= r[:, 3])
        )
        return self.order[slots][hit]

    def query_points_bulk(self, x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Bulk half-open point containment: returns (point_idx, rect_idx)
        pair arrays.  Recursively partitions the point set against node
        boxes — vectorized, no per-point tree walks.
        """
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        pts = np.arange(len(x))
        out_p: list[np.ndarray] = []
        out_r: list[np.ndarray] = []

        def leaf_test(p_idx: np.ndarray, rect_ids: np.ndarray) -> None:
            r = self.rects[rect_ids]
            hit = (
                (x[p_idx][:, None] >= r[None, :, 0])
                & (x[p_idx][:, None] < r[None, :, 2])
                & (y[p_idx][:, None] >= r[None, :, 1])
                & (y[p_idx][:, None] < r[None, :, 3])
            )
            pi, ri = np.nonzero(hit)
            out_p.append(p_idx[pi])
            out_r.append(rect_ids[ri])

        if not self.levels:
            leaf_test(pts, np.arange(len(self.rects)))
        else:
            def descend(p_idx: np.ndarray, lvl: int, node: int) -> None:
                if len(p_idx) == 0:
                    return
                if lvl < 0:
                    lo = node * self.leaf_size
                    hi = min(lo + self.leaf_size, len(self.rects))
                    leaf_test(p_idx, self.order[np.arange(lo, hi)])
                    return
                lo = node * self.leaf_size
                hi = min(lo + self.leaf_size, len(self.levels[lvl]))
                for child in range(lo, hi):
                    b = self.levels[lvl][child]
                    m = (x[p_idx] >= b[0]) & (x[p_idx] < b[2]) & (
                        y[p_idx] >= b[1]
                    ) & (y[p_idx] < b[3])
                    descend(p_idx[m], lvl - 1, child)

            top = len(self.levels) - 1
            for root in range(len(self.levels[top])):
                b = self.levels[top][root]
                m = (x >= b[0]) & (x < b[2]) & (y >= b[1]) & (y < b[3])
                descend(pts[m], top - 1, root)

        if not out_p:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        return np.concatenate(out_p), np.concatenate(out_r)
