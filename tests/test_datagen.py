"""Deterministic datagen + byte-identical text invariant (no JVM)."""

import numpy as np
import pandas as pd

from batch3dfier_spark import datagen
from batch3dfier_spark.datagen import _MASK64, _MIX, _WORDS
from batch3dfier_spark.functions.geocode import geocode_np
from oracle_kernels import extract_text_np, ref_asset_index, ref_tile_index


def _body_from_digest(digest: bytes, max_sentences: int) -> str:
    """1..max_sentences sentences of 3..12 words, all indices derived
    from the sha256 digest via a 64-bit LCG — pure function of the url.
    Single-row twin of `datagen._bodies_from_digests` (kept as the
    readable spec; the batch path must stay byte-identical to this)."""
    n_sent = 1 + digest[1] % max_sentences
    seed = int.from_bytes(digest[:8], "big")
    lens = 3 + np.frombuffer(digest, dtype=np.uint8)[
        np.arange(n_sent) % 32
    ].astype(np.int64) % 10
    total = int(lens.sum())
    ks = np.arange(total, dtype=np.uint64)
    idx = ((np.uint64(seed) + ks * np.uint64(_MIX)) & np.uint64(_MASK64)) >> np.uint64(58)
    words = np.array(_WORDS)[idx.astype(np.int64)]
    sentences = []
    pos = 0
    for ln in lens:
        sentences.append(" ".join(words[pos : pos + int(ln)]) + ".")
        pos += int(ln)
    return " ".join(sentences)


def test_pages_deterministic():
    a = datagen.gen_pages_range(0, 200)
    b = datagen.gen_pages_range(0, 200)
    pd.testing.assert_frame_equal(a, b)


def test_text_is_extraction_of_html():
    df = datagen.gen_pages_range(0, 300)
    assert (extract_text_np(df["html"]) == df["text"]).all()


def test_text_shape():
    df = datagen.gen_pages_range(0, 50)
    t0 = df["text"].iloc[0]
    assert t0.startswith("p0\n")
    # every sentence line ends with '.'
    for ln in t0.split("\n")[1:]:
        assert ln.endswith(".")


def test_vectorized_bodies_match_per_row_spec():
    # _bodies_from_digests is the batch path on the bench critical path;
    # this is the regression guard pinning it byte-identical to the
    # readable per-row spec across several max_sentences settings,
    # including ms>32 to cover the digest-index %32 wrap.
    import hashlib

    digests = [
        hashlib.sha256(f"spec-doc-{i}".encode()).digest() for i in range(300)
    ]
    for ms in (1, 2, 8, 31, 32, 40, 50):
        batch = datagen._bodies_from_digests(digests, ms)
        per_row = [_body_from_digest(d, ms) for d in digests]
        assert batch == per_row, f"divergence at max_sentences={ms}"


def test_lang_distribution():
    df = datagen.gen_pages_range(0, 2000)
    assert set(df["lang"].unique()) <= {"en", "nl", "de", "fr"}
    assert df["lang"].nunique() == 4


def test_geocode_uniform_and_deterministic():
    df = datagen.gen_pages_range(0, 3000)
    t = datagen.REF_TERRITORY
    x, y = geocode_np(df["url"], df["warc_ts"], t)
    x2, y2 = geocode_np(df["url"], df["warc_ts"], t)
    assert (x == x2).all() and (y == y2).all()
    assert (x >= t.xmin).all() and (x < t.xmax).all()
    assert (y >= t.ymin).all() and (y < t.ymax).all()
    # roughly uniform: each quadrant gets 15-35%
    qx = x > (t.xmin + t.xmax) / 2
    qy = y > (t.ymin + t.ymax) / 2
    for m in (qx & qy, qx & ~qy, ~qx & qy, ~qx & ~qy):
        assert 0.15 < m.mean() < 0.35


def test_grid_tile_index():
    g = datagen.grid_tile_index(datagen.REF_TERRITORY, 4, 3)
    assert len(g) == 12
    assert g["gid"].tolist() == list(range(1, 13))
    t = datagen.REF_TERRITORY
    assert np.isclose(g["xmin"].min(), t.xmin) and np.isclose(g["xmax"].max(), t.xmax)
    # tiles partition the territory (areas sum)
    areas = ((g["xmax"] - g["xmin"]) * (g["ymax"] - g["ymin"])).sum()
    assert np.isclose(areas, t.area)


def test_ref_indexes():
    tiles = ref_tile_index()
    assert tiles["unit"].tolist() == ["25gn1_c1", "25gn1_c2", "25gn1_c3", "25gn1_c4"]
    assets = ref_asset_index(unavailable=("25gn1_b",))
    assert assets["available"].tolist() == [True, False]
