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

__all__ = [
    "ingest_pages",
    "read_geocoded",
    "ingest_pages_bucketed",
]


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


def ingest_pages_bucketed(
    spark: SparkSession,
    in_path: str,
    table: str,
    index: TileIndex,
    territory: Rect,
    n_buckets: int = 64,
    analyze: bool = True,
) -> None:
    """Like ingest_pages, but writes a bucketed catalog table
    (bucketBy(tile_gid) + sortBy) — Spark's durable hash-partitioning
    metadata.  Every later groupBy('tile_gid') / self-join / rollup
    join-back over this table is SHUFFLE-FREE: the scan reports
    HashPartitioning(tile_gid) and Catalyst drops the Exchange
    (asserted in tests/test_bucketed.py).

    This is the 100 TB steady-state layout for per-tile dispatch —
    the analog of the reference keeping per-tile views permanently
    materialized over a GiST-indexed table (footprints.py:153-284):
    pay one clustering shuffle at ingest, never again.
    """
    df = spark.read.parquet(in_path)
    a = assign_tiles(with_geocode(df, territory), index)
    (
        a.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "tile_gid")
        .sortBy("tile_gid")
        .saveAsTable(table)
    )
    if analyze:
        # D4 parity (reference: ANALYZE after index build, db.py:67-77):
        # table-level rowCount/sizeInBytes plus tile_gid column stats
        # (distinct count, min/max) feed Catalyst's cost-based optimizer
        # — broadcast-vs-sort-merge decisions and join reordering read
        # these instead of guessing from file sizes
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
        spark.sql(
            f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS tile_gid"
        )
