"""Winnowing document fingerprinting (Schleimer, Wilkerson, Aiken,
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03)
— the rolling-hash fingerprint layer of the training-data surface,
alongside textstats' whole-doc sha fingerprint and the minhash/simhash
signature families.

Algorithm: hash every word n-gram of a document, slide a window of
`w` consecutive gram hashes over the sequence, and in each window
select the MINIMUM hash (ties broken by the RIGHTMOST position — the
paper's robust-winnowing rule, which makes consecutive windows reuse
the same selection).  The distinct selected (position, hash) pairs are
the document's fingerprints: any shared substring of length >=
n + w - 1 tokens between two documents is GUARANTEED to produce at
least one shared fingerprint, while the fingerprint density is ~2/(w+1)
of the grams — the storage/recall dial MOSS-style copy detection
tunes.

Hashing (the cross-engine exactness scheme this repo pins):
- token hash = dedup.token_hashes — sum of the first 32 UTF-8 bytes
  times ascending powers of the FNV prime, mod 2^64 (a plain SUM the
  DuckDB oracle recomputes from hex(encode(token))).
- gram hash = sum_j token_hash[i+j] * G^j mod 2^64 with G the 64-bit
  golden-gamma constant (0x9E3779B97F4A7C15); positions past the last
  token contribute 0 (zero-padding, same rule as the minhash shingle
  pad).  uint64 wraparound in numpy == the oracle's HUGEINT
  split-multiply mod 2^64 (see plans.queries._sql_mul64).

Short docs: a doc with fewer than n tokens still hashes one zero-padded
gram; a doc with fewer than w grams is one window covering all of them
(every doc with at least one token yields at least one fingerprint —
the guarantee threshold just degrades).  Empty/NULL docs yield none.

Scale shapes (100 TB):
- fingerprint extraction is MAP-ONLY: one Arrow-batched pass, no
  shuffle, no window — each doc's selection depends on nothing outside
  the doc.
- `winnow_dup_pairs` follows the lsh_candidates discipline exactly:
  distinct (fp, doc) — a groupBy whose key includes doc_id, so a
  boilerplate fingerprint shared by 1e9 docs never forms one hot
  group — then a deterministic per-fp cap (lowest `bucket_cap` ids,
  ROW_NUMBER mirrored by the oracle's QUALIFY) bounds the O(k^2) pair
  blowup of a hot fingerprint before the self-join; the join itself is
  an equi-join AQE can skew-split.

Reference analog: none (the reference has no text surface); this is
the "document fingerprinting (rolling hash)" item of the engine's
text-analysis inventory.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import ensure_parallel
from .dedup import token_hashes

__all__ = ["winnow_fingerprints", "winnow_dup_pairs", "GRAM_P"]

# 64-bit golden-gamma multiplier (Knuth / SplitMix64 increment) — the
# polynomial base combining token hashes into gram hashes.  Distinct
# from dedup._POLY_P so a 1-gram's hash differs from the raw token sum.
GRAM_P = 0x9E3779B97F4A7C15


def gram_weights(n: int) -> np.ndarray:
    """[G^0, G^1, ..., G^(n-1)] mod 2^64 as uint64."""
    out = np.empty(n, dtype=np.uint64)
    v = 1
    for j in range(n):
        out[j] = v
        v = (v * GRAM_P) & 0xFFFFFFFFFFFFFFFF
    return out


def winnow_fingerprints(
    df: DataFrame,
    n: int = 4,
    w: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, pos, fp) — the winnowing fingerprints of each document:
    pos is the 0-based token index of the selected n-gram, fp its
    signed-64 gram hash.  Map-only (no shuffle); docs with no tokens
    emit no rows."""
    if n < 1 or w < 1:
        raise ValueError("winnow_fingerprints needs n >= 1 and w >= 1")
    qpow = gram_weights(n)

    def fps(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, poss, vals = [], [], []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                toks = (t or "").split()
                m = len(toks)
                if m == 0:
                    continue
                th = token_hashes(toks)
                g_cnt = max(m - n + 1, 1)
                if m < g_cnt - 1 + n:  # zero-pad the tail grams
                    thp = np.zeros(g_cnt - 1 + n, dtype=np.uint64)
                    thp[:m] = th
                else:
                    thp = th
                wins = np.lib.stride_tricks.sliding_window_view(thp, n)[
                    :g_cnt
                ]
                with np.errstate(over="ignore"):  # mod-2^64 wrap intended
                    gh = (wins * qpow[None, :]).sum(
                        axis=1, dtype=np.uint64
                    )
                width = min(w, g_cnt)
                sw = np.lib.stride_tricks.sliding_window_view(gh, width)
                # rightmost minimum: argmin over the reversed window is
                # the FIRST minimum there, i.e. the LAST in the original
                rarg = sw[:, ::-1].argmin(axis=1)
                sel = (
                    np.arange(sw.shape[0], dtype=np.int64)
                    + (width - 1 - rarg)
                )
                upos = np.unique(sel)
                ids.append(np.full(upos.size, did, dtype=np.int64))
                poss.append(upos)
                vals.append(gh[upos].view(np.int64))
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: np.concatenate(ids),
                        "pos": np.concatenate(poss),
                        "fp": np.concatenate(vals),
                    }
                )

    return ensure_parallel(df.select(id_col, text_col)).mapInPandas(
        fps, schema=f"{id_col} bigint, pos bigint, fp bigint"
    )


def winnow_dup_pairs(
    df: DataFrame,
    n: int = 4,
    w: int = 5,
    min_shared: int = 2,
    bucket_cap: int | None = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_a, id_b, n_shared) — unordered doc pairs sharing at least
    `min_shared` DISTINCT fingerprint values (the MOSS-style overlap
    report).  Per-fp buckets are capped to the lowest `bucket_cap` ids
    (deterministic, oracle-mirrored) so a boilerplate fingerprint
    cannot produce an unbounded pair set; the cap itself is the salted
    two-level selection (operators/topk — r6: a raw per-fp window held
    every holder of a boilerplate fingerprint on one task)."""
    fps = (
        winnow_fingerprints(df, n, w, text_col, id_col)
        .select(id_col, "fp")
        .distinct()
    )
    if bucket_cap is not None:
        from .topk import salted_top_k

        fps = salted_top_k(
            fps, ["fp"], [F.col(id_col).asc()], k=bucket_cap,
            salt_col=F.col(id_col), rank_name="_rn",
        ).drop("_rn")
    a = fps.withColumnRenamed(id_col, "id_a")
    b = fps.withColumnRenamed(id_col, "id_b")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
