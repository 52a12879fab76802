"""Deterministic synthetic fixtures (FIXTURES.md; seed-free pure functions).

Generates the Common-Crawl-style pages table (url, warc_ts, html, text,
lang) plus the territory, grid tile indexes and clip extents that
mirror the reference's example_data corpus:

- territory                           <- example_data/bag_index.geojson
  ([120625,121250] x [485937.5,486718.75], EPSG:28992; its 4-tile and
  2-tile asset indexes are test fixtures, tests/oracle_kernels.py)
- small/large clip extents            <- example_data/extent_{small,large}.geojson
- border-case golden corpus           <- the st_containsproperly-OR-border
  rule (footprints.py:256-265), FIXTURES.md section 5

Everything is a pure function of its inputs (sha256-derived), so the
same call always produces byte-identical tables — the per-url
byte-identical `text` invariant depends on this.
"""

from __future__ import annotations

import hashlib
from datetime import datetime

import numpy as np
import pandas as pd

from .functions.text import render_html_np
from .geo import Rect

__all__ = [
    "REF_TERRITORY",
    "EXTENT_SMALL",
    "grid_tile_index",
    "gen_pages_range",
]

# The reference's territory: example_data/bag_index.geojson covers
# exactly this rectangle.
REF_TERRITORY = Rect(120625.0, 485937.5, 121250.0, 486718.75)

# Clip polygon, vertex-for-vertex from the reference's example_data
# (extent_small.geojson; also tests/test_config.py:26).
EXTENT_SMALL = np.array([
    [120903.6027892562, 486429.3323863637],
    [120880.35898760331, 486353.7900309918],
    [120813.53305785124, 486280.18465909094],
    [120841.61931818182, 486170.74509297527],
    [121006.26291322314, 486175.587551653],
    [120992.70402892563, 486259.8463326447],
    [121040.16012396694, 486350.88455578516],
    [121026.60123966943, 486414.80501033063],
    [120945.2479338843, 486445.7967458678],
    [120903.6027892562, 486429.3323863637],
])


def grid_tile_index(territory: Rect, nx: int, ny: int) -> pd.DataFrame:
    """Carve the territory into an nx x ny tile index (bench scale: up to
    1000x1000 = 1e6 tiles).  Unit naming `t_{row}_{col}`; gid row-major,
    1-based like the reference's index."""
    wx = (territory.xmax - territory.xmin) / nx
    wy = (territory.ymax - territory.ymin) / ny
    cols, rows = np.meshgrid(np.arange(nx), np.arange(ny))
    cols = cols.ravel()
    rows = rows.ravel()
    return pd.DataFrame(
        {
            "gid": np.arange(1, nx * ny + 1, dtype=np.int64),
            "unit": [f"t_{r}_{c}" for r, c in zip(rows, cols)],
            "xmin": territory.xmin + cols * wx,
            "ymin": territory.ymin + rows * wy,
            "xmax": territory.xmin + (cols + 1) * wx,
            "ymax": territory.ymin + (rows + 1) * wy,
        }
    )


_WORDS = (
    "the quick brown fox jumps over lazy dog data page crawl web spark tile "
    "index join river stone cloud light maple harbor signal copper meadow "
    "lantern orchard timber velvet anchor breeze canyon drift ember forge "
    "glacier hollow iris juniper kestrel ledger marsh nectar onyx prairie "
    "quartz raven sable thicket umber vale willow zephyr basin crest dune "
    "fjord grove heath inlet knoll lagoon mesa notch"
).split()
assert len(_WORDS) == 64

_LANGS = ["en", "nl", "de", "fr"]
_EPOCH = datetime(2025, 1, 1)
_MASK64 = (1 << 64) - 1
_MIX = 0x9E3779B97F4A7C15


def _bodies_from_digests(digests: list[bytes], max_sentences: int) -> list[str]:
    """Page bodies, 1..max_sentences sentences of 3..12 words, all
    indices derived from the sha256 digest via a 64-bit LCG — a pure
    function of the url.  One numpy pass over all rows' sentences/words
    instead of per-row loops (the generator is on the bench critical
    path; the per-row version was ~10x slower).  Byte-identical to the
    per-row spec kept in tests/test_datagen.py."""
    n = len(digests)
    if n == 0:
        return []
    D = np.frombuffer(b"".join(digests), dtype=np.uint8).reshape(n, 32)
    seeds = np.ascontiguousarray(D[:, :8]).view(">u8").ravel().astype(np.uint64)
    n_sent = (1 + D[:, 1] % max_sentences).astype(np.int64)

    # flatten sentences: row id + position-within-row for every sentence
    total_sents = int(n_sent.sum())
    sent_row = np.repeat(np.arange(n, dtype=np.int64), n_sent)
    sent_starts = np.concatenate(([0], np.cumsum(n_sent)[:-1]))
    sent_j = np.arange(total_sents, dtype=np.int64) - np.repeat(sent_starts, n_sent)
    lens = (3 + D[sent_row, sent_j % 32].astype(np.int64) % 10)

    # flatten words: per-row word counter k feeds the LCG
    words_per_row = np.add.reduceat(lens, sent_starts)
    total_words = int(lens.sum())
    word_row_starts = np.concatenate(([0], np.cumsum(words_per_row)[:-1]))
    ks = (
        np.arange(total_words, dtype=np.int64)
        - np.repeat(word_row_starts, words_per_row)
    ).astype(np.uint64)
    seed_w = np.repeat(seeds, words_per_row)
    idx = ((seed_w + ks * np.uint64(_MIX)) & np.uint64(_MASK64)) >> np.uint64(58)
    words = np.array(_WORDS)[idx.astype(np.int64)]

    # suffix per word: " " inside a sentence, ". " at sentence end,
    # "." at the row's final sentence end (== " ".join semantics)
    sent_end_pos = np.cumsum(lens) - 1          # global pos of each sentence's last word
    row_end_pos = np.cumsum(words_per_row) - 1  # global pos of each row's last word
    suffix = np.full(total_words, " ", dtype="U2")
    suffix[sent_end_pos] = ". "
    suffix[row_end_pos] = "."
    tokens = np.char.add(words, suffix).tolist()

    starts = word_row_starts.tolist()
    ends = (word_row_starts + words_per_row).tolist()
    return ["".join(tokens[s:e]) for s, e in zip(starts, ends)]


def gen_pages_range(
    lo: int,
    hi: int,
    n_hosts: int = 100,
    max_sentences: int = 50,
) -> pd.DataFrame:
    """Rows lo..hi-1 of the pages table — a pure function of the row
    index, so distributed generation over arbitrary ranges produces the
    same table as a single sequential pass."""
    i = np.arange(lo, hi, dtype=np.int64)
    urls = pd.Series([f"https://site{k % n_hosts}.example/page/{k}" for k in i])
    digests = [hashlib.sha256(u.encode("utf-8")).digest() for u in urls]
    langs = pd.Series([_LANGS[d[0] % 4] for d in digests])
    # offset wraps inside a 190-year window: i*137s overflows the ns
    # int64 timestamp past ~67M rows, and every corpus generated before
    # the wrap point (i < ~43.8M) is unchanged by the modulo
    warc_ts = pd.Series(
        pd.to_datetime(_EPOCH)
        + pd.to_timedelta((i * 137) % 6_000_000_000, unit="s")
    )
    titles = pd.Series([f"p{k}" for k in i])
    bodies = pd.Series(_bodies_from_digests(digests, max_sentences))
    html_str = render_html_np(titles, bodies)
    html = html_str.map(lambda s: s.encode("utf-8"))
    # text == extract_text_cols(html) by construction (render is the exact
    # inverse of the extraction regexes; asserted in tests/test_datagen.py)
    text = titles + "\n" + bodies.str.replace(". ", ".\n", regex=False)
    return pd.DataFrame(
        {"url": urls, "warc_ts": warc_ts, "html": html, "text": text, "lang": langs}
    )


def gen_pages_spark(spark, n: int, out_path: str, n_hosts: int = 1000,
                    max_sentences: int = 8, partitions: int = 64) -> None:
    """Distributed corpus generation: spark.range -> mapInPandas over
    index ranges -> parquet.  Deterministic under any partitioning
    because gen_pages_range is a pure function of the row index."""
    from pyspark.sql.types import (
        BinaryType, StringType, StructField, StructType, TimestampType,
    )

    schema = StructType([
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ])

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids) == 0:
                continue
            # ids from spark.range are contiguous per batch slice; handle
            # arbitrary sets by chunking contiguous runs
            splits = np.nonzero(np.diff(ids) != 1)[0] + 1
            for chunk in np.split(ids, splits):
                yield gen_pages_range(
                    int(chunk[0]), int(chunk[-1]) + 1,
                    n_hosts=n_hosts, max_sentences=max_sentences,
                )

    (
        spark.range(0, n, 1, partitions)
        .mapInPandas(gen, schema=schema)
        .write.mode("overwrite")
        .parquet(out_path)
    )
