"""`sources/pages.ingest_pages`: the tile-clustered pages copy holds
every page once, with the geocode and tile columns of `assign_tiles`,
in files that are each sorted by tile_gid over disjoint ranges and
whose count follows the data (at most `spark.sql.shuffle.partitions`)."""

import glob
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

from batch3dfier_spark import datagen
from batch3dfier_spark.operators.tiler import TileIndex, assign_tiles, with_geocode
from batch3dfier_spark.sources.pages import ingest_pages

T = datagen.REF_TERRITORY
COLS = ["url", "x", "y", "tile_gid", "tile_unit"]


@pytest.fixture(scope="module")
def raw_path(pages_df, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("pages") / "raw")
    pages_df.write.parquet(p)
    return p


def _ingest(spark, raw_path, out, small_files):
    """Ingest over an 8x8 grid; `small_files` lowers AQE's target and
    minimum partition sizes for this call so that a small input still
    spans several files."""
    conf = {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "32k",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1k"}
    old = {k: spark.conf.get(k) for k in conf}
    if small_files:
        for k, v in conf.items():
            spark.conf.set(k, v)
    try:
        idx = TileIndex.regular_grid(T, 8, 8)
        ingest_pages(spark, raw_path, out, idx, T)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    return idx


@pytest.mark.parametrize("small_files", [False, True])
def test_ingest_pages_clusters_by_tile(spark, raw_path, pages_pdf, tmp_path,
                                       small_files):
    out = str(tmp_path / "geo")
    idx = _ingest(spark, raw_path, out, small_files)
    files = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
    parts = [pq.read_table(f).to_pandas() for f in files]

    # the file count follows the data, bounded by shuffle partitions
    assert 1 <= len(files) <= int(spark.conf.get("spark.sql.shuffle.partitions"))
    if small_files:
        assert len(files) > 1  # the range checks below see several files

    got = pd.concat(parts, ignore_index=True)
    # every page exactly once
    assert len(got) == len(pages_pdf)
    assert got["url"].is_unique
    assert set(got["url"]) == set(pages_pdf["url"])

    # same geocode and tile columns as the lazy transform of the input
    exp = (assign_tiles(with_geocode(spark.read.parquet(raw_path), T), idx)
           .select(*COLS).toPandas())
    pd.testing.assert_frame_equal(
        got[COLS].sort_values("url").reset_index(drop=True),
        exp.sort_values("url").reset_index(drop=True),
    )

    # each file sorted by tile_gid; the files' ranges do not overlap
    ranges = []
    for p in parts:
        assert p["tile_gid"].is_monotonic_increasing
        ranges.append((p["tile_gid"].iloc[0], p["tile_gid"].iloc[-1]))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo
