"""Multimodal columns: image/audio/video as opaque `binary` payloads
with typed metadata, processed by Arrow-batched `mapInPandas` stages.

Design (100 TB):
- media travels as one `binary` column next to its typed metadata
  struct; Spark never interprets the bytes except inside explicit
  decode stages, so column pruning drops the heavy bytes whenever a
  query only touches metadata.
- header decode and frame sampling are `mapInPandas` stages:
  one Python worker per partition, Arrow transfer, numpy over the
  batch.  Partitioning is inherited — media rows stay co-located with
  their tile/doc partitions, so no extra shuffle is introduced by a
  decode stage.
- there is no codec step (JPEG/PNG/opus decode): the container format
  (header parse, frame offsets, byte slicing) is the tested surface.

Blob format (deterministic stand-in for a WARC media record, pure
function of doc_id so DuckDB can recompute every metadata field):

    offset 0..3   magic b"MMB1"
    offset 4..5   width  u16 BE   = 64 + (sha256(doc_id)[hex 0:4]  % 960)
    offset 6..7   height u16 BE   = 64 + (sha256(doc_id)[hex 4:8]  % 960)
    offset 8      channels u8     = 1  + (sha256(doc_id)[hex 8:10] % 4)
    offset 9      n_frames u8     = 1 for image; 2 + (hex 10:12 % 7) video
    offset 10..   n_frames x 32-byte frames (sha256 digest stream)

kind = 'video' when doc_id % 3 == 0 else 'image'.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

__all__ = [
    "attach_media",
    "decode_media_meta",
    "frame_sample",
]

MAGIC = b"MMB1"
HEADER_LEN = 10
FRAME_LEN = 32


def _blob_fields(doc_id: int) -> tuple[int, int, int, int, str]:
    h = hashlib.sha256(str(doc_id).encode()).hexdigest()
    width = 64 + (int(h[0:4], 16) % 960)
    height = 64 + (int(h[4:8], 16) % 960)
    channels = 1 + (int(h[8:10], 16) % 4)
    kind = "video" if doc_id % 3 == 0 else "image"
    n_frames = (2 + (int(h[10:12], 16) % 7)) if kind == "video" else 1
    return width, height, channels, n_frames, kind


def make_blob(doc_id: int) -> bytes:
    """Build the deterministic media blob for a doc (driver/oracle use)."""
    width, height, channels, n_frames, _ = _blob_fields(doc_id)
    body = b""
    seed = hashlib.sha256(f"media|{doc_id}".encode()).digest()
    frame = seed
    for _ in range(n_frames):
        body += frame
        frame = hashlib.sha256(frame).digest()
    return (
        MAGIC
        + width.to_bytes(2, "big")
        + height.to_bytes(2, "big")
        + bytes([channels, n_frames])
        + body
    )


def attach_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Add (media: binary, media_kind: string) columns — the
    deterministic WARC-payload stand-in, built per Arrow batch."""
    cols = df.columns

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out["media"] = [make_blob(int(i)) for i in pdf[id_col]]
            out["media_kind"] = [
                "video" if int(i) % 3 == 0 else "image" for i in pdf[id_col]
            ]
            yield out

    schema = df.schema.simpleString()[7:-1] + ",media binary,media_kind string"
    return df.mapInPandas(gen, schema=schema)


def decode_media_meta(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Parse the blob header into typed metadata (the cheap, always-
    available decode stage).  Vectorized header parse: the fixed-width
    prefix of every blob in the batch is staged into one uint8 matrix."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf["media"]
            n = len(pdf)
            hdr = np.zeros((n, HEADER_LEN), dtype=np.uint8)
            sizes = np.empty(n, dtype=np.int64)
            for i, b in enumerate(blobs):
                hdr[i] = np.frombuffer(b[:HEADER_LEN], dtype=np.uint8)
                sizes[i] = len(b)
            if n and not (hdr[:, :4] == np.frombuffer(MAGIC, np.uint8)).all():
                raise ValueError("bad media magic")
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "kind": pdf["media_kind"].to_numpy(),
                    "width": (hdr[:, 4].astype(np.int32) << 8) | hdr[:, 5],
                    "height": (hdr[:, 6].astype(np.int32) << 8) | hdr[:, 7],
                    "channels": hdr[:, 8].astype(np.int32),
                    "n_frames": hdr[:, 9].astype(np.int32),
                    "n_bytes": sizes,
                }
            )

    return df.select(id_col, "media", "media_kind").mapInPandas(
        parse,
        schema=(
            f"{id_col} bigint, kind string, width int, height int, "
            "channels int, n_frames int, n_bytes bigint"
        ),
    )


def frame_sample(
    df: DataFrame, every: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """Sample every `every`-th frame of each blob: emits one row per
    sampled frame with its byte offset/length and the frame bytes.
    The UDTF analog — rows out != rows in, still one pass, no shuffle."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, lens, frames = [], [], [], [], []
            for did, blob in zip(pdf[id_col], pdf["media"]):
                n_frames = blob[9]
                for fi in range(0, n_frames, every):
                    off = HEADER_LEN + fi * FRAME_LEN
                    ids.append(did)
                    idxs.append(fi)
                    offs.append(off)
                    lens.append(FRAME_LEN)
                    frames.append(blob[off : off + FRAME_LEN])
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_off": pd.Series(offs, dtype="int64"),
                    "frame_len": pd.Series(lens, dtype="int64"),
                    "frame": pd.Series(frames, dtype=object),
                }
            )

    return df.select(id_col, "media").mapInPandas(
        sample,
        schema=(
            f"{id_col} bigint, frame_idx int, frame_off bigint, "
            "frame_len bigint, frame binary"
        ),
    )

