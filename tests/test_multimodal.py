"""Multimodal plumbing: blob construction, header decode, frame
sampling byte-exactness and column pruning."""

import hashlib

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media_df(spark):
    from batch3dfier_spark.operators.multimodal import attach_media

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    return attach_media(docs).cache()


def test_blob_roundtrip_metadata(spark, media_df):
    from batch3dfier_spark.operators.multimodal import (
        _blob_fields,
        decode_media_meta,
    )

    got = decode_media_meta(media_df).toPandas().set_index("doc_id")
    for did, row in got.iterrows():
        w, h, c, nf, kind = _blob_fields(int(did))
        assert (row["width"], row["height"], row["channels"]) == (w, h, c)
        assert row["n_frames"] == nf and row["kind"] == kind
        assert row["n_bytes"] == 10 + 32 * nf


def test_frame_sample_bytes_exact(spark, media_df):
    """Sampled frame bytes must equal the sha256 chain at the sampled
    indices — byte identity through Arrow binary transfer."""
    from batch3dfier_spark.operators.multimodal import frame_sample

    got = frame_sample(media_df, every=2).toPandas()
    for did, grp in got.groupby("doc_id"):
        frame = hashlib.sha256(f"media|{did}".encode()).digest()
        chain = []
        for _ in range(int(grp["frame_idx"].max()) + 1):
            chain.append(frame)
            frame = hashlib.sha256(frame).digest()
        for _, r in grp.iterrows():
            assert bytes(r["frame"]) == chain[r["frame_idx"]]
            assert r["frame_off"] == 10 + r["frame_idx"] * 32
    # video docs (doc_id % 3 == 0) have >= 1 sampled frame, every=2
    vids = got[got["doc_id"] % 3 == 0].groupby("doc_id")["frame_idx"].count()
    assert (vids >= 1).all()



def test_metadata_only_plan_prunes_media_column(spark, media_df):
    """Column pruning: a query over decoded metadata that never selects
    `media` must not carry the binary column past the decode stage —
    verify the final projection drops it."""
    from batch3dfier_spark.operators.multimodal import decode_media_meta

    meta = decode_media_meta(media_df).select("doc_id", "width")
    assert "media" not in meta.columns
    plan = meta._jdf.queryExecution().optimizedPlan().toString()
    # the outer project after the python-map stage carries only 2 cols
    assert plan.splitlines()[0].count(",") == 1
