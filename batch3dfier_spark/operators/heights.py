"""The heights-table analog: percentile aggregates + the equi-join back.

Reference: the external 3dfier worker emits per-building ground/roof
percentiles (6 ground 0.00-0.50, 8 roof 0.00-0.99 — bag3d.py:30-45),
loaded into a `heights` table and inner-joined back onto footprints on
the id (bag3d.py:143-176), with a date-validity filter
(bag3d.py:188-194).

Spark-first: the percentiles are one `groupBy().agg()` with the exact
`percentile()` aggregate (map-side partial aggregation is free), and
the join back is a plain equi-join that AQE turns into broadcast when
the agg side is small.  No external worker, no CSV round-trip
(the reference's gawk/COPY stage S7 collapses into `withColumn`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "GROUND_PERCENTILES",
    "ROOF_PERCENTILES",
    "percentile_heights",
    "join_heights",
]

# the reference's CSV-BUILDINGS-MULTIPLE output columns (bag3d.py:30-45)
GROUND_PERCENTILES = [0.00, 0.10, 0.20, 0.30, 0.40, 0.50]
ROOF_PERCENTILES = [0.00, 0.10, 0.25, 0.50, 0.75, 0.90, 0.95, 0.99]


def pct_name(prefix: str, p: float) -> str:
    # the reference names columns "ground-0.00" .. "roof-0.99"; SQL-safe
    # variant here: ground_00 .. roof_99
    return f"{prefix}_{int(round(p * 100)):02d}"


def percentile_heights(
    df: DataFrame,
    key: str,
    value: str,
    ground: list[float] | None = None,
    roof: list[float] | None = None,
    exact: bool = True,
    round_to: int | None = 4,
) -> DataFrame:
    """groupBy(key).agg(exact percentiles of `value`) — the A1 analog.

    exact=True uses `percentile()` (oracle parity); exact=False uses
    `percentile_approx` (the 100 TB path — single-pass sketch).
    round_to rounds results so float noise can't break value-hash
    comparison against SQL oracles.
    """
    ground = GROUND_PERCENTILES if ground is None else ground
    roof = ROOF_PERCENTILES if roof is None else roof
    fn = "percentile" if exact else "percentile_approx"
    aggs = []
    for prefix, ps in (("ground", ground), ("roof", roof)):
        for p in ps:
            e = F.expr(f"{fn}({value}, {p!r})")
            if round_to is not None:
                e = F.round(e, round_to)
            aggs.append(e.alias(pct_name(prefix, p)))
    aggs.append(F.count(F.lit(1)).alias("n_rows"))
    return df.groupBy(key).agg(*aggs)


def join_heights(
    features: DataFrame,
    heights: DataFrame,
    key: str,
    broadcast_heights: bool = False,
) -> DataFrame:
    """J4: features ⋈ heights on the key (inner), the bag3d assembly
    join (bag3d.py:143-176).  At scale this is a shuffle hash/sort-merge
    join on the key; pass broadcast_heights=True when the agg side is a
    per-tile rollup (small)."""
    h = F.broadcast(heights) if broadcast_heights else heights
    return features.join(h, on=key, how="inner")
