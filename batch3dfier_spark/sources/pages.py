"""Pages table ingest: the geocode-materialization pass.

The reference materializes building centroids as a dedicated table with
a GiST index because the tile-assignment join is run many times against
it (batch3dfier/footprints.py:93-150).  The 100 TB equivalent: one scan
over the raw pages that computes geocode (x, y) and tile assignment,
then writes a spatially CLUSTERED copy — `repartitionByRange(tile_gid)`
+ sort within partitions — so that

- every downstream query gets x/y/tile_gid as stored columns (no
  re-hashing), and
- parquet row-group min/max stats on x, y, tile_gid make extent/tile
  predicates prune at scan time (the partition-pruning analog of the
  reference's per-tile views).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..geo import Rect
from ..operators.tiler import TileIndex, assign_tiles, with_geocode

__all__ = ["ingest_pages", "read_geocoded"]


def ingest_pages(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    index: TileIndex,
    territory: Rect,
    n_buckets: int = 64,
) -> None:
    """One pass: raw pages -> geocode -> tile assign -> cluster by tile
    -> parquet.  `n_buckets` bounds output file count (range-partitioned
    by tile_gid, sorted within — Z-order-lite clustering)."""
    df = spark.read.parquet(in_path)
    a = assign_tiles(with_geocode(df, territory), index)
    (
        a.repartitionByRange(n_buckets, "tile_gid")
        .sortWithinPartitions("tile_gid")
        .write.mode("overwrite")
        .parquet(out_path)
    )


def read_geocoded(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)

