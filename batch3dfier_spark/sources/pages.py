"""Pages table ingest: the geocode-materialization pass.

The reference materializes building centroids as a dedicated table with
a GiST index because the tile-assignment join is run many times against
it (batch3dfier/footprints.py:93-150).  The 100 TB equivalent: one scan
over the raw pages that computes geocode (x, y) and tile assignment,
then writes a spatially CLUSTERED copy — `repartitionByRange(tile_gid)`
+ sort within partitions; the range shuffle has no count, so AQE sizes
the file count from the data (at most `spark.sql.shuffle.partitions`) —
so that

- every downstream query gets x/y/tile_gid as stored columns, and
- once a file holds several row groups, their min/max stats on x, y,
  tile_gid make extent/tile predicates prune at scan time (the analog
  of the reference's per-tile views).
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
) -> None:
    """One pass: raw pages -> geocode -> tile assign -> cluster by tile
    -> parquet: files over disjoint tile_gid ranges, each sorted, their
    count set by the data (bounded by shuffle partitions)."""
    df = spark.read.parquet(in_path)
    a = assign_tiles(with_geocode(df, territory), index)
    (
        a.repartitionByRange("tile_gid")
        .sortWithinPartitions("tile_gid")
        .write.mode("overwrite")
        .parquet(out_path)
    )


def read_geocoded(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
