"""Result assembly: per-tile worker CSVs -> file-date stamp -> full
footprints ⋈ heights table -> date-validity filter -> CSV export.

This is the reference's `bag3d` console entry point (its entire
result-assembly pipeline), re-expressed Spark-first:

- S7 CSV -> table loader   <- batch3dfier/bag3d.py:56-137 (csv2db:
  per-tile CSVs are gawk-stamped with `ahn_file_date` and COPYed into
  one table; the gawk/sed text-fu collapses into `spark.read.csv` +
  a broadcast join)
- J6 file-date lookup join <- batch3dfier/bag3d.py:96-106 (per CSV,
  `SELECT file_date FROM ahn_index WHERE unit_name = tile`)
- J4 assembly join         <- batch3dfier/bag3d.py:143-176
  (`pandactueelbestaand INNER JOIN heights` -> the 27-column bag3d
  table; here: every footprint column + 14 percentile columns +
  ahn_file_date)
- P5 date-validity filter  <- batch3dfier/bag3d.py:188-194
  (`bouwjaar <= date_part('YEAR', ahn_file_date) AND
  begindatumtijdvakgeldigheid < ahn_file_date` — the
  bag3d_valid_height view)
- S8 CSV export            <- batch3dfier/bag3d.py:199-236
  (`COPY ... TO STDOUT CSV HEADER`): the caller's
  `df.write.option("header", True).csv(path)`, no wrapper

Scale notes (100 TB): worker CSVs arrive as many small files — Spark's
CSV scan parallelizes over files and `spark.sql.files.maxPartitionBytes`
splits; the file-date stamp is a broadcast join against the (small)
asset index, so the heights table never shuffles for it; the assembly
join shuffles on the join key once (or broadcasts when the rollup side
is small); the validity filter is a codegen predicate pushed onto the
join output.  The CSV reader is schema-explicit (no schema inference
pass over 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .heights import GROUND_PERCENTILES, ROOF_PERCENTILES, pct_name

__all__ = [
    "write_worker_csvs",
    "load_worker_csvs",
    "stamp_file_date",
    "assemble_bag3d",
    "valid_height_filter",
]

# the reference heights-table column set (bag3d.py:28-47): key + 6
# ground + 8 roof percentiles + row count; ahn_file_date is stamped on
# load (J6), exactly like the reference's gawk step
_PCT_COLS = [pct_name("ground", p) for p in GROUND_PERCENTILES] + [
    pct_name("roof", p) for p in ROOF_PERCENTILES
]
# data columns as stored IN the CSVs (tile_gid lives in the directory
# layout, so the loader parses exactly this)
_CSV_DATA_SCHEMA = ", ".join(f"{c} DOUBLE" for c in _PCT_COLS) + ", n_rows BIGINT"


def write_worker_csvs(heights: DataFrame, out_dir: str) -> None:
    """S6/S8: write the per-tile worker output as header CSVs,
    one directory per tile (partitioned write — the analog of each
    external worker writing `<tile>.csv`)."""
    (
        heights.write.mode("overwrite")
        .option("header", True)
        .partitionBy("tile_gid")
        .csv(out_dir)
    )


def load_worker_csvs(spark: SparkSession, path: str) -> DataFrame:
    """S7: load the per-tile CSV tree back into one DataFrame with an
    explicit schema (no inference scan).  The partition column
    `tile_gid` comes from the directory layout."""
    return (
        spark.read.option("header", True)
        .schema(_CSV_DATA_SCHEMA)
        .option("basePath", path)
        .csv(f"{path}/tile_gid=*")
    )


def stamp_file_date(
    heights: DataFrame,
    asset_index: DataFrame,
    on: str = "asset_gid",
    date_col: str = "file_date",
) -> DataFrame:
    """J6: stamp every heights row with its point-cloud tile's
    file_date via a broadcast lookup join (bag3d.py:96-106 does one
    SQL round-trip per CSV; here it is one joined column and the fact
    side never shuffles)."""
    lookup = F.broadcast(
        asset_index.select(on, F.col(date_col).alias("ahn_file_date"))
    )
    return heights.join(lookup, on=on, how="left")


def assemble_bag3d(
    footprints: DataFrame,
    heights: DataFrame,
    key: str = "tile_gid",
    broadcast_heights: bool = True,
) -> DataFrame:
    """J4 at full fidelity: EVERY footprint column + the 14 percentile
    columns + n_rows + ahn_file_date (the reference's 27-column bag3d
    table, bag3d.py:143-176).  Inner join like the reference — rows
    without heights drop out."""
    h = F.broadcast(heights) if broadcast_heights else heights
    return footprints.join(h, on=key, how="inner")


def valid_height_filter(
    df: DataFrame,
    year_col: str = "bouwjaar",
    begin_col: str = "begin_ts",
    date_col: str = "ahn_file_date",
) -> DataFrame:
    """P5: the bag3d_valid_height rule (bag3d.py:188-194) —
    `bouwjaar <= year(ahn_file_date) AND begin < ahn_file_date`.
    Pure codegen predicate; Catalyst pushes it below the assembly
    join's projection."""
    return df.where(
        (F.col(year_col) <= F.year(F.col(date_col)))
        & (F.col(begin_col) < F.col(date_col))
    )

