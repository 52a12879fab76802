"""bag3d result assembly: CSV round-trip (S7/S8), file-date stamp (J6),
full assembly join (J4), date-validity filter (P5)."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from batch3dfier_spark.operators.bag3d import (
    assemble_bag3d,
    load_worker_csvs,
    stamp_file_date,
    valid_height_filter,
    write_worker_csvs,
)


@pytest.fixture(scope="module")
def heights_pdf():
    rng = np.random.RandomState(11)
    return pd.DataFrame(
        {
            "tile_gid": np.arange(1, 9, dtype=np.int64),
            "ground_00": np.round(rng.rand(8) * 100, 4),
            "ground_10": np.round(rng.rand(8) * 100, 4),
            "ground_20": np.round(rng.rand(8) * 100, 4),
            "ground_30": np.round(rng.rand(8) * 100, 4),
            "ground_40": np.round(rng.rand(8) * 100, 4),
            "ground_50": np.round(rng.rand(8) * 100, 4),
            "roof_00": np.round(rng.rand(8) * 100, 4),
            "roof_10": np.round(rng.rand(8) * 100, 4),
            "roof_25": np.round(rng.rand(8) * 100, 4),
            "roof_50": np.round(rng.rand(8) * 100, 4),
            "roof_75": np.round(rng.rand(8) * 100, 4),
            "roof_90": np.round(rng.rand(8) * 100, 4),
            "roof_95": np.round(rng.rand(8) * 100, 4),
            "roof_99": np.round(rng.rand(8) * 100, 4),
            "n_rows": np.arange(10, 18, dtype=np.int64),
        }
    )


def test_worker_csv_roundtrip_bit_exact(spark, heights_pdf, tmp_path):
    """S6 write -> S7 read must preserve every double bit-for-bit
    (Spark writes shortest-unique decimal; reparse is exact)."""
    d = str(tmp_path / "csvs")
    write_worker_csvs(spark.createDataFrame(heights_pdf), d)
    # one directory per tile, like one worker output file per tile
    dirs = [p for p in os.listdir(d) if p.startswith("tile_gid=")]
    assert len(dirs) == 8
    got = (
        load_worker_csvs(spark, d)
        .withColumn("tile_gid", F.col("tile_gid").cast("long"))
        .toPandas()
        .sort_values("tile_gid")
        .reset_index(drop=True)
    )
    exp = heights_pdf.sort_values("tile_gid").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[exp.columns.tolist()], exp, check_dtype=False
    )


def test_stamp_file_date_broadcast_join(spark, heights_pdf):
    """J6: every heights row gets its asset tile's file_date; the plan
    broadcasts the asset index (no fact shuffle)."""
    h = spark.createDataFrame(heights_pdf).withColumn(
        "asset_gid", ((F.col("tile_gid") - 1) % 2 + 1).cast("bigint")
    )
    assets = spark.createDataFrame(
        pd.DataFrame(
            {
                "asset_gid": pd.array([1, 2], dtype="int64"),
                "file_date": pd.to_datetime(["2024-06-02", "2024-06-03"]),
            }
        )
    )
    out = stamp_file_date(h, assets)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    pdf = out.toPandas()
    assert pdf["ahn_file_date"].notna().all()
    exp = pdf["asset_gid"].map(
        {1: pd.Timestamp("2024-06-02"), 2: pd.Timestamp("2024-06-03")}
    )
    assert (pdf["ahn_file_date"] == exp).all()


def test_assembly_keeps_every_footprint_column(spark, heights_pdf):
    """J4 full fidelity: all footprint columns + 14 percentiles +
    n_rows + ahn_file_date survive the join."""
    feats = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": np.arange(40, dtype=np.int64),
                "tile_gid": (np.arange(40, dtype=np.int64) % 8) + 1,
                "lang": ["en"] * 40,
                "bouwjaar": 1980 + (np.arange(40) % 60),
            }
        )
    )
    h = spark.createDataFrame(heights_pdf).withColumn(
        "ahn_file_date", F.lit("2024-06-03 00:00:00").cast("timestamp")
    )
    out = assemble_bag3d(feats, h)
    assert set(out.columns) >= set(feats.columns) | set(heights_pdf.columns) | {
        "ahn_file_date"
    }
    assert out.count() == 40  # inner join, all tiles have heights


def test_valid_height_filter_both_conditions(spark):
    """P5: bouwjaar <= year(ahn) AND begin < ahn — each condition must
    independently reject rows (reference bag3d.py:188-194)."""
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "bouwjaar": [2000, 2025, 2000, 2024],
            "begin_ts": pd.to_datetime(
                ["2020-01-01", "2020-01-01", "2024-07-01", "2024-06-03"]
            ),
            "ahn_file_date": pd.to_datetime(["2024-06-03"] * 4),
        }
    )
    out = valid_height_filter(spark.createDataFrame(pdf)).toPandas()
    # row 2: bouwjaar 2025 > 2024 -> out; row 3: begin after ahn -> out
    # row 4: begin == ahn (strict <) -> out
    assert sorted(out["doc_id"]) == [1]


def test_bag3d_contract_queries_run(spark):
    """Smoke: the two contract queries produce rows and the valid
    subset is a strict subset."""
    from batch3dfier_spark.plans.queries import q_bag3d_assembly, q_bag3d_valid

    sf = "/root/testdata/sf0.001"
    full = q_bag3d_assembly(spark, sf).count()
    valid = q_bag3d_valid(spark, sf).count()
    assert 0 < valid < full
