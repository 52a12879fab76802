"""Deduplication for the training-data pipeline: exact, MinHash+LSH,
SimHash, and n-gram Jaccard verification.

Scale design (100 TB):
- exact dedup: `min_id_groups` keyed on sha2(text) — the one min-id
  survivor rule (groupBy(key).agg(min, count) joined back on the key;
  see its docstring for why that shape is skew-safe).
- MinHash: signatures are computed in one Arrow-batched pandas UDF
  (numpy matrix ops per batch, no per-row Python math); LSH banding
  explodes each doc into `bands` rows and groupBys on (band, band_hash)
  — candidate generation is a single shuffle whose width is controlled
  by the band count.  Signatures ride that shuffle, so the estimate
  screen runs inside each bucket and only surviving pairs leave it;
  those are verified with exact shingle Jaccard (the
  cheap-filter/expensive-verify funnel).  `minhash_near_dups` is the
  full pipeline: exact-dedup
  prefilter (identical docs would otherwise collide in EVERY band and
  make one hot bucket emit O(k^2) pairs x bands), deterministic
  bucket cap (lowest `bucket_cap` ids kept per bucket — mirrored by
  the SQL oracle's ROW_NUMBER), then LSH + verify.  Under
  `session.SMALL_SCAN_BYTES` of input files the steps after the
  prefilter run in ONE executor task over the same numpy kernels
  (no shuffle, no job per step), as connected_components does for
  small graphs.
- SimHash: 64-bit signature from polynomial token hashes (same UDF
  pattern); `simhash_near_dups` bands it into 4x16-bit keys for
  Hamming-neighbor candidate generation and verifies candidates with
  bit_count(xor) <= max_hamming.

Determinism: all hash seeds are fixed constants; signatures are pure
functions of the text, so resume/retry cannot change assignments.
Jaccard/cosine values are emitted UNROUNDED: numerator/denominator are
exact integers, so the single IEEE division is bit-identical between
numpy and the SQL oracle, whereas rounding would reintroduce half-even
(numpy) vs half-away (SQL) tie mismatches.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from .. import session
from ..session import ensure_parallel

__all__ = [
    "min_id_groups",
    "min_id_survivors",
    "exact_dedup",
    "exact_dup_pairs",
    "line_dedup",
    "paragraph_dedup",
    "minhash_signatures",
    "band_rows",
    "cap_band_buckets",
    "lsh_candidates",
    "verified_near_dups",
    "signature_matches",
    "minhash_near_dups",
    "simhash_signatures",
    "simhash_near_dups",
    "ngram_jaccard_pairs",
    "embedding_near_dups",
    "embedding_near_dups_lsh",
    "word_ngram_hashes",
    "decontaminate",
    "connected_components",
]

MERSENNE = (1 << 61) - 1
_NUM_PERM_DEFAULT = 64


def min_id_groups(
    df: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """The min-id survivor rule: `df`'s columns (with `key_col`) plus
    `keeper_id`, the lowest id sharing the row's key, and `group_size`.
    Survivors are the rows whose id equals `keeper_id`: filtering them,
    unlike joining a keep set back on the id, never multiplies a
    repeated id (a mixture upweight).  NULL keys are dropped.

    Skew: the min/count hash aggregation combines map-side, so a hot key
    (an error page or redirect target repeated 1e9x in a web corpus) is
    one row per input partition before the shuffle, and the join back on
    the key is an equi-join AQE can skew-split.  A window keyed on the
    same column would ship every occurrence of a hot key to ONE task:
    AQE splits skewed joins and aggregates, never window partitions."""
    groups = df.groupBy(key_col).agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return df.join(groups, key_col)


def min_id_survivors(
    df: DataFrame,
    key: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """The rows of `df` (its columns only) whose id is the lowest among
    the rows with the same `key` value: the `min_id_groups` survivors."""
    return (
        min_id_groups(df.withColumn("_min_id_key", key), "_min_id_key", id_col)
        .where(F.col(id_col) == F.col("keeper_id"))
        .select(*df.columns)
    )


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact near-zero-cost dedup: keeper = min id per sha2(text) group
    (`min_id_groups`, skew-safe).  Returns (id, text_sha, group_size,
    is_dup) — is_dup marks rows to drop.  Pure JVM."""
    with_h = df.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("text_sha")
    )
    return min_id_groups(with_h, "text_sha", id_col).select(
        id_col,
        "text_sha",
        "group_size",
        (F.col(id_col) != F.col("keeper_id")).alias("is_dup"),
    )


def exact_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_a, id_b) edges linking every byte-identical duplicate to its
    group's min-id keeper (id_a = keeper < id_b; `min_id_groups`) — the
    star-graph form of exact duplication, to union into a near-dup pair
    graph: minhash_near_dups PREFILTERS exact dups out of the LSH
    funnel, so its pairs never name them (round-3 ADVICE)."""
    with_h = df.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("text_sha")
    )
    return (
        min_id_groups(with_h, "text_sha", id_col)
        .where(F.col(id_col) != F.col("keeper_id"))
        .select(F.col("keeper_id").alias("id_a"), F.col(id_col).alias("id_b"))
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 10,
) -> DataFrame:
    """CORPUS-level exact line dedup (the C4 / RefinedWeb rule): every
    line of >= min_chars characters may appear ONCE across the whole
    corpus — the occurrence with the lowest (doc_id, line_no) survives,
    all other occurrences are deleted from their documents; shorter
    lines (blanks, separators, headings) always stay.  Returns
    (id_col, text_col) with every input document reassembled from its
    surviving lines in order (possibly '' if all lines were dropped).

    Scale shape — two shuffles, all JVM, no Python, no HOF lambdas,
    and crucially NO window over the line string:
    1. survivor selection is `groupBy(line).agg(min(struct(id,
       line_no)))` — the lexicographic-min struct IS the first
       occurrence by (doc_id, line_no), and hash aggregation does
       PARTIAL map-side combine, so a boilerplate line repeated 1e9
       times ("All rights reserved...") collapses to one row per input
       partition before the shuffle.  A row_number window partitioned
       by the line value (the naive shape) would instead ship every
       occurrence of the hot line to ONE task — AQE's skew splitting
       covers joins and aggregates, never window partitions — and
       straggle/OOM at 100 TB.  The <min_chars stream (the corpus's
       giant ''/'---' groups) never enters the aggregate either;
    2. the groupBy(id) reassembly: sort_array over (line_no, line)
       structs + concat_ws, array field extraction instead of a
       transform lambda.
    At 100 TB this is the same two-pass shape C4 runs, with the hot
    boilerplate lines absorbed map-side by partial aggregation."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n", -1)
        ).alias("line_no", "line"),
    )
    long = lines.where(F.length("line") >= min_chars)
    short = lines.where(F.length("line") < min_chars)
    survivors = long.groupBy("line").agg(
        F.min(F.struct(F.col(id_col), F.col("line_no"))).alias("_s")
    )
    kept = (
        survivors.select(
            F.col("_s")[id_col].alias(id_col),
            F.col("_s")["line_no"].alias("line_no"),
            F.col("line"),
        )
        .unionByName(short)
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list(F.struct("line_no", "line"))).alias("_ls")
        )
        .select(
            F.col(id_col),
            F.concat_ws("\n", F.col("_ls")["line"]).alias(text_col),
        )
    )
    # every input doc appears in the output, even if fully deleted
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 30,
    mode: str = "keep_first",
) -> DataFrame:
    """CORPUS-level exact paragraph dedup — the granularity between
    line_dedup (C4's per-line rule) and exact_dedup (whole documents).
    Paragraphs are blank-line-separated blocks; those of >= min_chars
    characters are deduplicated across the whole corpus, shorter blocks
    (headings, separators) always stay.  Two policies:

      mode='keep_first'  the lowest (doc_id, par_no) occurrence
                         survives, all later occurrences are deleted
                         (the line_dedup rule lifted to paragraphs);
      mode='drop_all'    EVERY occurrence of a paragraph whose corpus
                         frequency is >= 2 is deleted (the CCNet rule:
                         repeated boilerplate — cookie banners, nav
                         blocks, license footers — carries no signal
                         even once, so no copy is kept).

    Returns (id_col, text_col) with every input document reassembled
    from its surviving paragraphs in order ('' if none survive).

    Scale shape — identical to line_dedup's (its round-4 skew lesson):
    survivor selection is `groupBy(paragraph).agg(min(struct(id,
    par_no)), count)` — hash aggregation does PARTIAL map-side combine,
    so a cookie banner repeated 1e9 times collapses to one row per
    input partition before the shuffle; no window ever partitions by
    the paragraph value (AQE can skew-split joins and aggregates, never
    window partitions).  drop_all only changes the post-aggregation
    filter (count == 1 instead of taking the min occurrence) — the
    shuffle shape is the same.  Reassembly is the same groupBy(id) +
    sort_array + concat_ws second pass."""
    if mode not in ("keep_first", "drop_all"):
        raise ValueError(f"unknown paragraph_dedup mode: {mode!r}")
    paras = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n\n", -1)
        ).alias("par_no", "par"),
    )
    long = paras.where(F.length("par") >= min_chars)
    short = paras.where(F.length("par") < min_chars)
    groups = long.groupBy("par").agg(
        F.min(F.struct(F.col(id_col), F.col("par_no"))).alias("_s"),
        F.count(F.lit(1)).alias("_n"),
    )
    if mode == "keep_first":
        surv = groups.select(
            F.col("_s")[id_col].alias(id_col),
            F.col("_s")["par_no"].alias("par_no"),
            F.col("par"),
        )
    else:  # drop_all: only corpus-unique paragraphs survive
        surv = groups.where(F.col("_n") == 1).select(
            F.col("_s")[id_col].alias(id_col),
            F.col("_s")["par_no"].alias("par_no"),
            F.col("par"),
        )
    rebuilt = (
        surv.unionByName(short)
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list(F.struct("par_no", "par"))).alias("_ps")
        )
        .select(
            F.col(id_col),
            F.concat_ws("\n\n", F.col("_ps")["par"]).alias(text_col),
        )
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
        )
    )


def _shingle_hashes_batch(
    texts, k: int, distinct: bool = True
) -> tuple[np.ndarray, np.ndarray]:
    """k-char shingle hashes for a WHOLE batch of documents in one
    vectorized pass (round-7: a per-doc loop — one fancy-index matrix
    per doc — dominated minhash_signatures; it survives as the per-doc
    test oracle in tests/oracle_kernels.py).  The batch form computes
    the same polynomial rolling hash, h = sum_j b[i+j] * P^(k-1-j)
    mod 2^64, over one concatenated byte buffer with windows never
    crossing doc boundaries.  Bit-identical hashes: the mod-2^64
    multiply/add arithmetic is element-wise and order-independent.

    Returns (hashes, counts): per-doc contiguous hash runs plus the
    per-doc count; with distinct=True each doc's run is its sorted
    distinct set (what np.unique per doc produced); with distinct=False
    duplicates stay (min-reductions don't care, and the lexsort-dedup
    pass is ~40% of the batch cost).  Every doc has >= 1 shingle
    (short/empty docs are zero-padded to k)."""
    bufs = []
    for t in texts:
        b = (t or "").encode("utf-8", "ignore")
        if len(b) < k:
            b = b + b"\x00" * (k - len(b))
        bufs.append(b)
    n_docs = len(bufs)
    if n_docs == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n_docs)
    buf = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    P = 1099511628211
    weights = np.empty(k, dtype=np.uint64)
    w = 1
    for j in range(k - 1, -1, -1):
        weights[j] = w
        w = (w * P) & 0xFFFFFFFFFFFFFFFF
    total_w = len(buf) - k + 1
    H = np.zeros(total_w, dtype=np.uint64)
    with np.errstate(over="ignore"):  # mod-2^64 wrap is intended
        for j in range(k):
            H += buf[j:j + total_w].astype(np.uint64) * weights[j]
    n_windows = lens - k + 1
    # ragged arange: global window positions of every doc's windows
    w_off = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(n_windows[:-1], out=w_off[1:])
    total = int(n_windows.sum())
    pos = (np.arange(total, dtype=np.int64)
           + np.repeat(starts - w_off, n_windows))
    hashes = H[pos].astype(np.int64)
    if not distinct:
        return hashes, n_windows
    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), n_windows)
    order = np.lexsort((hashes, doc_of))
    d_s = doc_of[order]
    h_s = hashes[order]
    keep = np.ones(total, dtype=bool)
    keep[1:] = (d_s[1:] != d_s[:-1]) | (h_s[1:] != h_s[:-1])
    counts = np.bincount(d_s[keep], minlength=n_docs).astype(np.int64)
    return h_s[keep], counts


def perm_params(num_perm: int) -> tuple[np.ndarray, np.ndarray]:
    """Fixed-seed affine permutation parameters over the Mersenne field."""
    rng = np.random.RandomState(1234567)
    a = rng.randint(1, MERSENNE, size=num_perm, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, MERSENNE, size=num_perm, dtype=np.int64).astype(np.uint64)
    return a, b


def _mersenne_affine(a: np.ndarray, b: np.ndarray, s: np.ndarray) -> np.ndarray:
    """(a * s + b) mod M EXACTLY (M = 2^61 - 1), vectorized, for
    a, b, s < M.  A plain uint64 product wraps at 2^64 (and
    2^64 ≡ 8 mod M, so wrap-then-mod is NOT mod) — the affine map must
    instead split the 128-bit product into exact uint64 pieces and fold
    the power-of-two carries with 2^61 ≡ 1 (mod M).  Broadcasting
    shapes pass through (a[:, None] x s[None, :] etc.)."""
    M = np.uint64(MERSENNE)
    mask61 = np.uint64((1 << 61) - 1)
    mask32 = np.uint64(0xFFFFFFFF)
    a = np.asarray(a, dtype=np.uint64)
    s = np.asarray(s, dtype=np.uint64)
    a_hi, a_lo = a >> np.uint64(32), a & mask32
    s_hi, s_lo = s >> np.uint64(32), s & mask32
    p0 = a_lo * s_lo                    # < 2^64: exact
    p1 = a_lo * s_hi + a_hi * s_lo      # < 2^62: exact
    p2 = a_hi * s_hi                    # < 2^58: exact
    # product = p2*2^64 + p1*2^32 + p0; fold mod M:
    #   p2*2^64 ≡ p2*8;  p1*2^32 = (p1>>29)*2^61 + (p1&(2^29-1))*2^32
    #                  ≡ (p1>>29) + (p1 & (2^29-1))*2^32
    #   p0 ≡ (p0 & (2^61-1)) + (p0 >> 61)
    total = (
        (p0 & mask61) + (p0 >> np.uint64(61))
        + (p2 << np.uint64(3))
        + (p1 >> np.uint64(29))
        + ((p1 & np.uint64((1 << 29) - 1)) << np.uint64(32))
        + np.asarray(b, dtype=np.uint64)
    )  # < 5*2^61 < 2^64: exact
    total = (total & mask61) + (total >> np.uint64(61))
    total = (total & mask61) + (total >> np.uint64(61))
    return np.where(total >= M, total - M, total)


# unique shingle values per _mersenne_affine call of _signatures_np:
# the map materializes ~10 temporaries of its shape, 512 KiB each here
_AFFINE_CHUNK = 65_536


def _signatures_np(
    sh: np.ndarray, counts: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """(n_docs x num_perm) int64 MinHash signatures of per-doc shingle
    runs (`_shingle_hashes_batch` output; duplicates inside a doc may
    stay: min over duplicates == min over the distinct set).

    The EXACT affine map mod the Mersenne prime is evaluated once per
    DISTINCT shingle value of the batch (shared shingles are the common
    case in a near-dup corpus), in cache-sized chunks: big flat chunks
    measured 6-12x slower from cache/allocation pressure at 32
    concurrent workers.  Permutation by permutation, the mapped values
    are reduced into the per-doc minima (one gather + minimum.reduceat
    over the contiguous doc runs), so peak memory is O(shingles): a
    num_perm x n_unique table would take 101 MB for 1 260 textpipe
    documents and GBs for a 10 000-page Arrow batch."""
    n, num_perm = counts.size, a.size
    sigs = np.empty((n, num_perm), dtype=np.int64)
    if n == 0:
        return sigs
    u_vals, inv = np.unique(sh, return_inverse=True)
    s_u = u_vals.astype(np.uint64) % np.uint64(MERSENNE)
    seg = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=seg[1:])
    row = np.empty(s_u.size, dtype=np.uint64)
    for p in range(num_perm):
        for lo in range(0, s_u.size, _AFFINE_CHUNK):
            hi = lo + _AFFINE_CHUNK
            row[lo:hi] = _mersenne_affine(a[p], b[p], s_u[lo:hi])
        sigs[:, p] = np.minimum.reduceat(row[inv], seg)
    return sigs


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = _NUM_PERM_DEFAULT,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, signature: array<bigint>[num_perm]) via an Arrow-batched UDF.

    minhash_i(doc) = min over shingles s of (a_i * s + b_i mod M); per
    batch, one vectorized shingling pass (round-7 shape) and one
    `_signatures_np` call."""
    a, b = perm_params(num_perm)

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sh, counts = _shingle_hashes_batch(
                pdf[text_col], shingle_k, distinct=False
            )
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "signature": list(_signatures_np(sh, counts, a, b)),
            })

    return ensure_parallel(df.select(id_col, text_col)).mapInPandas(
        sig, schema=f"{id_col} bigint, signature array<bigint>"
    )


def band_rows(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
) -> DataFrame:
    """LSH banding rows (id, band_id, band_hash, signature): each
    signature is split into `bands` contiguous slices and every slice
    is hashed JVM-side (xxhash64 over band_id + the slice rendered as a
    string) — the single join key every LSH consumer (in-corpus
    candidates, the incremental corpus state) buckets or shuffles on.
    The signature rides along for the bucket-local screen of
    lsh_candidates; consumers that only need the postings select it
    away and column pruning drops it before any shuffle.  Pure JVM:
    sequence-explode + slice + xxhash64, no Python, no HOF lambdas."""
    num_perm_col = F.size(F.col("signature"))
    rows_per_band = (num_perm_col / F.lit(bands)).cast("int")
    return (
        signatures.select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band_id"),
            "signature",
        )
        .select(
            id_col,
            "band_id",
            F.xxhash64(
                F.col("band_id"),
                F.slice(
                    F.col("signature"),
                    F.col("band_id") * rows_per_band + 1,
                    rows_per_band,
                ).cast("string"),
            ).alias("band_hash"),
            "signature",
        )
    )


def cap_band_buckets(
    banded: DataFrame, id_col: str, bucket_cap: int | None
) -> DataFrame:
    """Keep the lowest `bucket_cap` ids of every (band_id, band_hash)
    bucket of `band_rows` output (ROW_NUMBER by id — deterministic, and
    reproduced exactly by the SQL oracle); None keeps every row.  A
    groupBy on the bucket keys that follows reuses the window's hash
    partitioning, so the cap adds no Exchange."""
    if bucket_cap is None:
        return banded
    from pyspark.sql import Window

    w = Window.partitionBy("band_id", "band_hash").orderBy(id_col)
    return (
        banded.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= bucket_cap)
        .drop("_rn")
    )


# pairs compared per numpy step of the bucket screen: two gathered
# (pairs x num_perm) int64 blocks, 16 MB at 64 permutations
_SCREEN_PAIRS_CHUNK = 16_384


def _bucket_pair_chunks(
    sizes: np.ndarray,
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """(ia, ib) flat member positions of every i<j pair inside each
    bucket of a batch whose members lie contiguous, bucket after
    bucket, `sizes[b]` of them each.  Buckets of one size share one
    triu pattern, so the expansion is vectorized per size class and
    yielded in chunks of about _SCREEN_PAIRS_CHUNK pairs."""
    starts = np.zeros(sizes.size, dtype=np.int64)
    np.cumsum(sizes[:-1], out=starts[1:])
    for m in np.unique(sizes):
        if m < 2:
            continue
        iu, ju = np.triu_indices(int(m), k=1)
        s = starts[sizes == m]
        step = max(1, _SCREEN_PAIRS_CHUNK // iu.size)
        for lo in range(0, s.size, step):
            blk = s[lo:lo + step, None]
            yield (blk + iu).ravel(), (blk + ju).ravel()


def _screened_bucket_pairs(
    ids: np.ndarray, sigs: np.ndarray, sizes: np.ndarray, min_matches: int
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """(id_a, id_b) of every i<j pair inside each bucket whose
    signatures agree in >= `min_matches` components (0 keeps every
    pair): the bucket-local estimate screen.  Members lie contiguous,
    bucket after bucket, in id order inside each bucket, with `sigs`
    row-aligned to `ids`."""
    for ia, ib in _bucket_pair_chunks(sizes):
        if min_matches > 0:
            keep = _match_counts(sigs[ia], sigs[ib]) >= min_matches
            ia, ib = ia[keep], ib[keep]
        yield ids[ia], ids[ib]


def _pair_jaccard(sa, sb) -> np.ndarray:
    """Exact Jaccard of each pair (sa[i], sb[i]) of sorted distinct
    shingle sets (`doc_shingles` arrays): one sorted-array intersection
    per pair, the verify kernel.  Measured 5-10x faster than one lexsort
    over the concatenated sets of all pairs.  UNROUNDED: inter/union are
    exact ints, so the IEEE division is bit-identical to the SQL twin's;
    rounding would diverge at half-even (numpy) vs half-away (SQL)
    ties."""
    jac = np.empty(len(sa), dtype=np.float64)
    for i, (a, b) in enumerate(zip(sa, sb)):
        inter = np.intersect1d(a, b, assume_unique=True).size
        union = len(a) + len(b) - inter
        jac[i] = inter / union if union else 1.0
    return jac


def lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    bucket_cap: int | None = 128,
    min_matches: int = 0,
) -> DataFrame:
    """LSH banding plus the estimate screen, bucket-local: split each
    signature into `bands` rows, hash each band (JVM: slice +
    xxhash64), cap each (band_id, band_hash) bucket to its lowest
    `bucket_cap` ids with a row_number window, bucket the survivors
    WITH their signatures via a groupBy/collect_list on the same keys
    (no second Exchange — the window already partitioned on them),
    prune singleton buckets JVM-side, then, in one numpy kernel per
    batch of buckets, expand each bucket's i<j pairs and keep those
    whose signatures agree in >= `min_matches` components
    (est_jaccard = matches / num_perm; 0 keeps every pair).  Returns
    the surviving (id_a, id_b), id_a < id_b, deduplicated across bands.

    Screening inside the bucket (the 3D-hash-join move: do the work
    inside each non-unique key group) replaces the pair-level shape
    — expand ids, distinct, join the signature of each side back, then
    screen — whose two pair-sized joins carried num_perm*8 bytes per
    side and, unpersisted, re-ran the signature pass per join side.  A pair
    colliding in several bands is screened once per band with the
    same outcome (the count is a pure function of the two signatures),
    so screening before the distinct yields exactly the pairs of
    screening after it.

    bucket_cap bounds the O(k^2)-pairs blowup of a hot bucket (at web
    scale a cluster of near-identical docs collides in every band):
    only the lowest `bucket_cap` ids per (band_id, band_hash) bucket
    pair up — a DETERMINISTIC truncation (ROW_NUMBER by id) that the
    SQL oracle reproduces exactly.  Run `exact_dedup` first (see
    `minhash_near_dups`) so byte-identical clusters never reach the
    buckets at all; the cap is the safety net for near-identical ones.
    """
    # ONE effective shuffle builds capped buckets: the row_number window
    # (partitioned on the bucket key, ordered by id) caps each bucket to
    # its lowest `bucket_cap` ids BEFORE any bucket is materialized as an
    # array — a hot bucket (near-identical cluster colliding in every
    # band) therefore never becomes an unbounded collect_list buffer or a
    # single giant Arrow row (round-3 ADVICE).  The follow-up groupBy is
    # on the SAME keys, so it reuses the window's hash partitioning and
    # adds NO second Exchange — cost vs the uncapped shape is just the
    # within-partition sort the cap needs anyway to be deterministic.
    # Singleton buckets — the vast majority — are pruned JVM-side before
    # any Python runs; the screen kernel sees arrays that are
    # <= bucket_cap long BY CONSTRUCTION.
    banded = cap_band_buckets(
        band_rows(signatures, id_col=id_col, bands=bands), id_col, bucket_cap
    )
    # ids and signatures are read out of ONE struct list, so member i of
    # `_ids` owns slice i of the flattened `_sigs`
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.collect_list(F.struct(id_col, "signature")).alias("_m"))
        .where(F.size("_m") >= 2)
        .select(
            F.col("_m")[id_col].alias("_ids"),
            F.flatten(F.col("_m")["signature"]).alias("_sigs"),
        )
    )

    def screen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sizes = pdf["_ids"].map(len).to_numpy(dtype=np.int64)
            ids = np.concatenate(pdf["_ids"].to_numpy()).astype(np.int64)
            sigs = np.concatenate(pdf["_sigs"].to_numpy()).reshape(ids.size, -1)
            # id order inside each bucket, so every i<j pair has id_a < id_b
            order = np.lexsort((ids, np.repeat(np.arange(sizes.size), sizes)))
            outs = [
                pd.DataFrame({"id_a": a, "id_b": b})
                for a, b in _screened_bucket_pairs(
                    ids[order], sigs[order], sizes, min_matches)
            ]
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return (
        buckets.mapInPandas(screen, schema="id_a bigint, id_b bigint")
        .distinct()
    )


def doc_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
) -> DataFrame:
    """(id, shingles: array<bigint>) — each doc's DISTINCT sorted
    shingle hashes, computed ONCE (the verify stage joins these onto
    candidate pairs instead of re-hashing text per pair — at 274k
    candidate pairs over 5k docs that is a ~100x cut in hashing work)."""

    def sh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # whole-batch vectorized shingling (round-7, same pass as
            # minhash_signatures); distinct=True yields each doc's
            # sorted distinct set — exactly what np.unique per doc
            # produced before
            h_u, counts = _shingle_hashes_batch(
                pdf[text_col], shingle_k, distinct=True
            )
            arrs = np.split(h_u, np.cumsum(counts)[:-1]) if len(pdf) else []
            yield pd.DataFrame({id_col: pdf[id_col], "shingles": arrs})

    return ensure_parallel(df.select(id_col, text_col)).mapInPandas(
        sh, schema=f"{id_col} bigint, shingles array<bigint>"
    )


def verified_near_dups(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate pairs (the
    expensive step runs only inside LSH buckets).  Shingle arrays are
    precomputed per DOC (doc_shingles) and joined onto the pairs; the
    per-pair work is one sorted-array intersection.  Returns
    (id_a, id_b, jaccard) for pairs >= threshold.

    Shingles all of `df` rather than semi-joining down to candidate
    docs first: deriving the candidate-id set would re-execute the
    whole (unpersisted) screen pipeline a second time — measured 2x
    SLOWER than the extra shingling it saves (round-7).  The id exchange
    under both renames lets the two joins share one shingling pass
    (two renamed broadcasts would each run it)."""
    sh = doc_shingles(df, text_col, id_col, shingle_k).repartition(id_col)
    paired = (
        candidates.join(
            sh.withColumnsRenamed({id_col: "id_a", "shingles": "_sha"}), "id_a"
        ).join(
            sh.withColumnsRenamed({id_col: "id_b", "shingles": "_shb"}), "id_b"
        )
    )

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["id_a", "id_b"]].copy()
            out["jaccard"] = _pair_jaccard(pdf["_sha"].to_numpy(),
                                           pdf["_shb"].to_numpy())
            yield out[out["jaccard"] >= threshold]

    # no repartition: `paired` is a join output and already carries
    # shuffle-partition parallelism
    return paired.mapInPandas(
        verify, schema="id_a bigint, id_b bigint, jaccard double"
    )


TOKEN_MAX_BYTES = 32
_POLY_P = 1099511628211  # FNV prime reused as the polynomial base


def token_weights(n: int) -> np.ndarray:
    """[P^0, P^1, ..., P^(n-1)] mod 2^64 as uint64."""
    w = np.empty(n, dtype=np.uint64)
    v = 1
    for j in range(n):
        w[j] = v
        v = (v * _POLY_P) & 0xFFFFFFFFFFFFFFFF
    return w


def token_hashes(tokens: list[str]) -> np.ndarray:
    """Vectorized polynomial token hashes (uint64):
    h(t) = sum_j byte_j * P^j mod 2^64 over the first 32 utf-8 bytes
    (ascending powers).  Unlike a sequential FNV fold, this is a plain
    SUM — recomputable by the SQL oracle as ascii(ch)*W_j literals with
    no list_reduce.  One python pass builds the byte matrix; hashing is
    numpy."""
    n = len(tokens)
    B = np.zeros((n, TOKEN_MAX_BYTES), dtype=np.uint64)
    for i, t in enumerate(tokens):
        b = t.encode("utf-8", "ignore")[:TOKEN_MAX_BYTES]
        B[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    W = token_weights(TOKEN_MAX_BYTES)
    with np.errstate(over="ignore"):  # mod-2^64 wrap is intended
        return (B * W[None, :]).sum(axis=1)


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """64-bit SimHash over whitespace tokens (weight 1): bit j of the
    signature = majority vote of token-hash bit j.  Arrow-batched UDF;
    token hashing and the per-doc vote are numpy (reduceat over doc
    boundaries — no per-doc python loops)."""

    def sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            tok_lists = [(t or "").split() for t in pdf[text_col]]
            counts = np.array([len(x) for x in tok_lists], dtype=np.int64)
            out = np.zeros(len(pdf), dtype=np.int64)
            flat = [tok for lst in tok_lists for tok in lst]
            if flat:
                hs = token_hashes(flat)
                bits = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
                starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
                nz = counts > 0
                sums = np.add.reduceat(bits, starts[nz], axis=0)
                votes = (sums * 2 >= counts[nz, None]).astype(np.uint64)
                out[nz] = (votes << shifts[None, :]).sum(
                    axis=1, dtype=np.uint64
                ).astype(np.int64)
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": out})

    return ensure_parallel(df.select(id_col, text_col)).mapInPandas(
        sig, schema=f"{id_col} bigint, simhash bigint"
    )


def _match_counts(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Matching-component counts of two row-aligned (rows x num_perm)
    minhash signature matrices — THE estimate-screen kernel
    (est_jaccard = matches / num_perm), shared by the bucket-local
    screen of lsh_candidates and the pair-level signature_matches."""
    return (a == b).sum(axis=1)


@F.pandas_udf(IntegerType())  # a DataType: DDL strings need a session
def signature_matches(a: pd.Series, b: pd.Series) -> pd.Series:
    """_match_counts over two equal-length signature columns of pair
    rows — the batch-vs-corpus screen of near_dedup_increment, whose
    corpus signatures live in a bucketed table and so cannot ride the
    batch's LSH buckets.  One numpy equality sum over the stacked Arrow
    batch: a JVM expression needs num_perm chained element_at terms,
    which evaluate at only ~80k rows/s (46 s over a 3.8M-candidate
    screen, measured round 7)."""
    if len(a) == 0:
        return pd.Series(np.array([], dtype=np.int32))
    return pd.Series(
        _match_counts(np.stack(a.to_numpy()), np.stack(b.to_numpy()))
        .astype(np.int32)
    )


# Estimated-Jaccard screen slack of minhash_near_dups: bucket pairs need
# >= ceil(num_perm * (threshold - MINHASH_EST_MARGIN)) matching
# signature components before exact verification.
MINHASH_EST_MARGIN = 0.15


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = _NUM_PERM_DEFAULT,
    shingle_k: int = 5,
    bands: int = 16,
    threshold: float = 0.5,
    bucket_cap: int | None = 128,
) -> DataFrame:
    """The full MinHash near-dup funnel, skew-safe at web scale:

    1. exact prefilter: byte-identical docs (guaranteed at 100 TB)
       would collide in EVERY band; only the keepers
       (`min_id_survivors` on sha2(text)) enter the signature stage.
       Their pair relationships are captured by exact_dup_pairs.
    2. minhash_signatures -> lsh_candidates with a deterministic
       bucket_cap (lowest ids win) bounding any residual hot bucket.
    3. estimated-Jaccard screen, inside the LSH buckets: a banding
       match at low true similarity is common (a 4-row band matches
       with prob j^4), so lsh_candidates keeps only bucket pairs with
       >= ceil(num_perm*(threshold - MINHASH_EST_MARGIN)) matching signature
       components.  The signatures ride the band shuffle, so no
       pair-level join ever carries them and the signature pass runs
       once.  Deterministic, exactly mirrored by the SQL oracle, and it
       cuts the exact-verify stage by ~99% on web-ish corpora.
    4. exact shingle-Jaccard verification of the distinct survivors
       only (verified_near_dups joins shingles onto those pairs).

    Two paths run these steps, picked from the size of the files `df`
    scans (`session.scan_bytes`, no job), as connected_components picks
    its one-task path:

    - under session.SMALL_SCAN_BYTES (2 MB, set from the measured
      crossover beside it): the keepers go through
      coalesce(1) into ONE mapInPandas task (_near_dups_one_task) that
      runs steps 2-4 in numpy, with no shuffle and no Spark job per
      step;
    - larger, unknown (no input files: an in-memory or checkpointed
      frame) or non-local inputs: the distributed funnel above.  Its
      keeper set feeds both the signature pass and the verify
      shingling and is NOT materialized: each consumer re-reads the
      documents against one shared per-hash groups exchange.  A
      checkpoint (the session.py lifetime rule) measured slower on the
      textpipe benchmark: +2 jobs, 7.0 -> 7.9 s for the near_dedup
      step (median of 3 alternating traced runs, 4 vCPU).

    Both paths share every kernel (shingling, signatures, the bucket
    screen, the pair Jaccard); only bucket formation differs.  The
    one-task path groups on the exact band slice, as the SQL oracle's
    band key does; the distributed path groups on its xxhash64, so the
    two can differ only where two different slices of one band collide
    in 64 bits (the cap and the pairs then see one merged bucket).

    Returns (id_a, id_b, jaccard) for near-dup keeper pairs."""
    keepers = min_id_survivors(
        df.select(id_col, text_col), F.sha2(F.col(text_col), 256), id_col
    )
    est_min = int(np.ceil(num_perm * max(0.0, threshold - MINHASH_EST_MARGIN)))
    size = session.scan_bytes(df)
    if size is not None and size < session.SMALL_SCAN_BYTES:
        return _near_dups_one_task(keepers, text_col, id_col, num_perm,
                                   shingle_k, bands, threshold, bucket_cap,
                                   est_min)
    sigs = minhash_signatures(keepers, text_col, id_col, num_perm, shingle_k)
    screened = lsh_candidates(sigs, id_col, bands, bucket_cap, est_min)
    return verified_near_dups(
        keepers, screened, text_col, id_col, shingle_k, threshold
    ).select("id_a", "id_b", "jaccard")


def _exact_band_buckets(
    sigs: np.ndarray, bands: int, bucket_cap: int | None
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Per band, (members, sizes): the row positions of `sigs` grouped
    by their exact band slice, contiguous bucket after bucket and in
    position order inside each bucket, each bucket cut to its first
    `bucket_cap` members (None keeps all) — band_rows +
    cap_band_buckets in numpy, keyed on the slice instead of its
    hash."""
    n, num_perm = sigs.shape
    r = num_perm // bands
    for band in range(bands):
        key = sigs[:, band * r:(band + 1) * r]
        # stable: ties keep position order
        order = np.lexsort(key.T[::-1])
        ks = key[order]
        starts = np.flatnonzero(np.r_[True, (ks[1:] != ks[:-1]).any(axis=1)])
        sizes = np.diff(np.r_[starts, n])
        if bucket_cap is not None:
            rank = np.arange(n) - np.repeat(starts, sizes)
            order = order[rank < bucket_cap]
            sizes = np.minimum(sizes, bucket_cap)
        yield order, sizes


def _near_dups_one_task(
    keepers: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    shingle_k: int,
    bands: int,
    threshold: float,
    bucket_cap: int | None,
    est_min: int,
) -> DataFrame:
    """minhash_near_dups steps 2-4 over a small keeper set in one
    executor task: signatures, exact-slice LSH buckets with the cap,
    the bucket screen, distinct pairs and the exact Jaccard."""
    a, b = perm_params(num_perm)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(batches), ignore_index=True)
        if len(pdf) == 0:
            return
        # position order == id order, so a bucket's i<j pairs have
        # id_a <= id_b (equal for the copies of a repeated id)
        pdf = pdf.sort_values(id_col, kind="stable")
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        n = ids.size
        sh, counts = _shingle_hashes_batch(pdf[text_col], shingle_k,
                                           distinct=False)
        sigs = _signatures_np(sh, counts, a, b)
        codes = [
            pa * n + pb
            for members, sizes in _exact_band_buckets(sigs, bands, bucket_cap)
            for pa, pb in _screened_bucket_pairs(members, sigs[members],
                                                 sizes, est_min)
        ]
        pairs = np.unique(np.concatenate([np.empty(0, np.int64), *codes]))
        pa, pb = np.divmod(pairs, n)
        # distinct sets only for the docs in a pair: sorting every
        # doc's shingles took 4.2 s of a 13.9 s kernel at 20 160 docs
        ends = np.cumsum(counts)
        sets = {i: np.unique(sh[ends[i] - counts[i]:ends[i]])
                for i in np.union1d(pa, pb).tolist()}
        jac = _pair_jaccard([sets[i] for i in pa.tolist()],
                            [sets[i] for i in pb.tolist()])
        keep = jac >= threshold
        yield pd.DataFrame({
            "id_a": ids[pa[keep]], "id_b": ids[pb[keep]], "jaccard": jac[keep],
        }).drop_duplicates(["id_a", "id_b"])

    return keepers.coalesce(1).mapInPandas(
        run, schema="id_a bigint, id_b bigint, jaccard double"
    )


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    bands: int = 4,
    band_bits: int = 16,
) -> DataFrame:
    """SimHash near-dup pairs via banded Hamming candidate generation:
    the 64-bit signature splits into `bands` x `band_bits` keys; docs
    sharing ANY band value become candidates (a pair within Hamming
    distance d survives banding with certainty when d < bands, by
    pigeonhole); candidates are verified with the exact popcount
    bit_count(sig_a ^ sig_b) <= max_hamming.  All the banding/join/
    verify arithmetic is JVM expressions — one shuffle on the band key.
    Returns (id_a, id_b, hamming)."""
    sigs = simhash_signatures(df, text_col, id_col)
    mask = (1 << band_bits) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftrightunsigned(F.col("simhash"), b * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(
        id_col, "simhash", F.explode(band_structs).alias("_bv")
    ).select(id_col, "simhash", F.col("_bv.band_id"), F.col("_bv.band_val"))
    a = banded.alias("a")
    b = banded.alias("b")
    # verify BEFORE the distinct (round-7): the popcount screen is a
    # cheap scalar per candidate row, so running it ahead of the
    # multi-band dedup shrinks the distinct's shuffle to the surviving
    # pairs and narrows its rows to (id_a, id_b, hamming) — same
    # result, filter commutes with distinct
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    block_cols: tuple[str, ...] = ("lang",),
    len_block_col: str = "n_chars",
    len_block_width: int = 64,
    block_cap: int | None = 4096,
    pair_chunk_budget: int = 16_000_000,
) -> DataFrame:
    """Word n-gram Jaccard near-dup pairs.

    Blocking (the scale lever): candidate pairs exist only within
    (block_cols..., floor(len/len_block_width)) buckets — ONE shuffle of
    docs on the block key instead of an O(N^2) cross product.
    Near-identical docs agree on language and rough length, so the
    blocks lose almost no recall while cutting the pair count by orders
    of magnitude; at 100 TB this is the same cheap-filter/expensive-
    verify funnel as MinHash LSH with the block key playing the band
    hash.

    The whole operator is ONE narrow JVM projection + one shuffle on the
    block key + one Arrow-batched grouped kernel.  Gram building and
    verification both live in the kernel: grams are hashed to stable
    64-bit ints (`pd.util.hash_array` siphash, PYTHONHASHSEED-free) —
    Jaccard on distinct hashes equals Jaccard on distinct strings
    (collisions ~1e-13/doc; the SQL oracle intersects the strings
    directly, counts agree) — then verified by a vectorized
    inverted-index co-occurrence count (sort-group the concatenated
    grams, bulk-expand each shared gram's i<j doc pairs, bincount into
    an intersection matrix): O(total co-occurrences) numpy work, peak
    scratch bounded by `pair_chunk_budget` pairs, no per-pair Python.
    A previous revision built grams JVM-side with higher-order
    `transform` lambdas; lambda exprs defeat the codegen cache, costing
    multiple seconds of janino compilation on EVERY fresh plan — far
    more than this operator's execution — so gram work moved to the
    kernel where it is batch-vectorized anyway.
    """
    blk = F.floor(F.col(len_block_col) / F.lit(len_block_width)).alias("_blk")
    t = df.select(
        F.col(id_col), *[F.col(c) for c in block_cols], blk, F.col(text_col)
    )
    # Hot-block cap: keep the lowest `block_cap` ids per block —
    # deterministic, mirrored by the SQL oracle's ROW_NUMBER.  Applied
    # INSIDE the grouped kernel (after the one shuffle on the block key)
    # rather than via a row_number window: the window would ride the
    # same exchange, so it saves no network, but it adds a whole
    # codegen'd Sort+Window stage whose per-query planning cost dwarfs
    # this operator's execution at interactive scales.
    # pair + verify per block group: each doc's text ships ONCE (not
    # once per candidate pair), then gram build + set intersection in
    # numpy inside the group.  Jaccard is left UNROUNDED: i and u are
    # exact integers, so one IEEE division gives a bit-identical double
    # in numpy and in the SQL twin — rounding would only reintroduce
    # tie-rule mismatches (half-even vs half-up at exact-binary ties
    # like 1/128).
    def pair_verify(key, pdf):
        empty = pd.DataFrame({"id_a": [], "id_b": [], "jaccard": []}).astype(
            {"id_a": "int64", "id_b": "int64", "jaccard": "float64"}
        )
        n_docs = len(pdf)
        if n_docs < 2:
            return empty
        order = np.argsort(pdf[id_col].to_numpy())
        if block_cap is not None and n_docs > block_cap:
            order = order[:block_cap]
            n_docs = block_cap
        ids = pdf[id_col].to_numpy()[order]
        # gram build: O(docs) Python tokenization (NOT O(pairs)), then
        # one vectorized stable hash over every gram string at once —
        # pd.util.hash_array's fixed-key siphash is deterministic across
        # workers/processes, unlike builtin hash()
        gram_strs: list[str] = []
        per_doc = np.zeros(n_docs, dtype=np.int64)
        for k, txt in enumerate(pdf[text_col].iloc[order]):
            toks = txt.split() if isinstance(txt, str) else []
            # str.split() == split(trim(text), '\s+') on ASCII corpora
            m = len(toks) - (n - 1)
            if m > 0:
                gram_strs.extend(
                    " ".join(toks[i:i + n]) for i in range(m))
                per_doc[k] = m
        total = len(gram_strs)
        if total == 0:
            return empty
        h = pd.util.hash_array(
            np.asarray(gram_strs, dtype=object)).view(np.int64)
        doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), per_doc)
        # within-doc distinct (Jaccard is over gram SETS): sort by
        # (doc, hash), drop adjacent duplicates
        o_dd = np.lexsort((h, doc_of))
        h, doc_of = h[o_dd], doc_of[o_dd]
        keep_dd = np.r_[True, (h[1:] != h[:-1]) | (doc_of[1:] != doc_of[:-1])]
        h, doc_of = h[keep_dd], doc_of[keep_dd]
        sizes = np.bincount(doc_of, minlength=n_docs)
        # Inverted-index co-occurrence count, fully vectorized (no
        # per-pair Python): sort all distinct gram hashes so each shared
        # gram becomes one contiguous group whose doc indices stay
        # ASCENDING, then expand each group's i<j index pairs in bulk
        # and bincount them into a dense doc x doc intersection matrix.
        # |grams_a ∩ grams_b| == number of gram groups containing both
        # docs, because grams are distinct within a doc.
        o = np.lexsort((doc_of, h))
        g_sorted, d_sorted = h[o], doc_of[o]
        bounds = np.flatnonzero(
            np.r_[True, g_sorted[1:] != g_sorted[:-1], True]
        )
        g_starts, g_lens = bounds[:-1], np.diff(bounds)
        multi = g_lens >= 2  # grams held by a single doc pair with no one
        g_starts, g_lens = g_starts[multi], g_lens[multi]
        counts = np.zeros(n_docs * n_docs, dtype=np.int64)
        if g_starts.size:
            pair_per_group = g_lens * (g_lens - 1) // 2
            cum = np.cumsum(pair_per_group)
            # bound peak pair-expansion memory: slice the group list so
            # each chunk expands at most ~16M (a,b) pairs (256 MB of
            # int64 scratch), accumulating into `counts` between chunks
            budget = pair_chunk_budget
            cut_idx = np.searchsorted(cum, np.arange(budget, cum[-1], budget))
            chunks = np.r_[0, cut_idx + 1, g_starts.size]
            chunks = np.unique(chunks)
            for lo, hi in zip(chunks[:-1], chunks[1:]):
                ls, ll, lp = g_starts[lo:hi], g_lens[lo:hi], pair_per_group[lo:hi]
                n_pairs = int(lp.sum())
                if n_pairs == 0:
                    continue
                grp = np.repeat(np.arange(ls.size), lp)
                # rank of each pair within its group, 0..lp[grp]-1
                off = np.cumsum(lp) - lp
                r = np.arange(n_pairs, dtype=np.int64) - off[grp]
                # triangular inverse: enumerate pairs as (i<j) ordered by
                # j — rank r -> j = max m with m(m-1)/2 <= r, i = rest;
                # float sqrt + integer correction keeps it exact
                j = ((1.0 + np.sqrt(1.0 + 8.0 * r)) / 2.0).astype(np.int64)
                j -= j * (j - 1) // 2 > r
                j += (j + 1) * j // 2 <= r
                i = r - j * (j - 1) // 2
                a = d_sorted[ls[grp] + i]
                b = d_sorted[ls[grp] + j]
                counts += np.bincount(a * n_docs + b, minlength=n_docs * n_docs)
        nz = np.flatnonzero(counts)
        if nz.size == 0:
            return empty
        a_idx, b_idx = nz // n_docs, nz % n_docs
        inter = counts[nz]
        union = sizes[a_idx] + sizes[b_idx] - inter
        # Jaccard from exact integers: one IEEE division, bit-identical
        # to the SQL twin (same rationale as the loop it replaces)
        jac = inter / union
        keep = jac >= threshold
        return pd.DataFrame(
            {
                "id_a": pd.Series(ids[a_idx[keep]], dtype="int64"),
                "id_b": pd.Series(ids[b_idx[keep]], dtype="int64"),
                "jaccard": pd.Series(jac[keep], dtype="float64"),
            }
        )

    return t.groupBy(*block_cols, "_blk").applyInPandas(
        pair_verify, schema="id_a bigint, id_b bigint, jaccard double"
    )


QUANT = 1048576.0  # 2^20


def quantize_half_away(M: np.ndarray) -> np.ndarray:
    """round(x * 2^20) with HALF-AWAY-FROM-ZERO ties — the rule Spark
    F.round and DuckDB ROUND share (np.round would banker's-round).
    THE one copy of the cross-engine rounding rule: similarity.py
    imports it too, so the embedding-dedup and ANN paths cannot drift.
    Kernel-side so no F.transform lambda reaches the plan: JVM
    higher-order-function lambdas defeat the codegen cache and cost
    seconds of janino compile per fresh plan (round-3 discovery)."""
    V = M * QUANT
    return np.sign(V) * np.floor(np.abs(V) + 0.5)


_quantize = quantize_half_away  # internal alias


def _unpack_block(vecs) -> tuple[np.ndarray, np.ndarray]:
    """list<struct{_id,_q}> Arrow column element -> (ids, matrix),
    quantizing the raw doubles on the way out."""
    ids = np.fromiter((e["_id"] for e in vecs), dtype=np.int64, count=len(vecs))
    M = _quantize(np.stack([np.asarray(e["_q"], dtype=np.float64) for e in vecs]))
    return ids, M


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
    block_rows: int = 4096,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine >= threshold).

    Scoring is EXACT and order-independent by construction: vectors are
    quantized to integers (round(x * 2^20)); dot products and squared
    norms are then integer-valued and fit exactly in float64 (64 dims x
    ~2^40-magnitude products < 2^53), so a numpy matmul, a sequential
    SQL fold, and any parallel reduction all produce bit-identical
    cosines — the cross-engine determinism trick that lets BLAS do the
    heavy lifting while DuckDB recomputes the same values.

    Shape (all-pairs mode, candidates=None): fully distributed block-
    pair cross scoring — NO driver collect.  Vectors land in
    ceil(N/block_rows) blocks by id; each of the B(B+1)/2 block pairs
    is one row holding two packed blocks (executor-side collect_list),
    scored with a chunked matmul (peak ~= chunk x block_rows doubles);
    a task takes as many pairs as fit 2 x 4096 vectors.  Total work is O(N^2) — inherent to exact all-pairs; at
    100 TB pass `candidates` (e.g. bucketed pairs from
    `similarity.hyperplane_signatures`) and only those pairs are
    rescored — the cheap-filter/expensive-verify funnel.
    """
    # raw doubles here; quantization happens inside the Arrow kernels
    # (_quantize) so the plan carries no F.transform lambda
    q = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_q"),
    )

    if candidates is not None:
        paired = (
            candidates.select("id_a", "id_b")
            .join(q.withColumnsRenamed({"_id": "id_a", "_q": "_qa"}), "id_a")
            .join(q.withColumnsRenamed({"_id": "id_b", "_q": "_qb"}), "id_b")
        )

        def rescore(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                A = _quantize(np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["_qa"]]))
                B = _quantize(np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["_qb"]]))
                dots = np.einsum("ij,ij->i", A, B)
                cos = dots / (
                    np.sqrt(np.einsum("ij,ij->i", A, A))
                    * np.sqrt(np.einsum("ij,ij->i", B, B))
                )
                out = pdf[["id_a", "id_b"]].copy()
                out["cosine"] = cos
                yield out[out["cosine"] >= threshold]

        # join output: already shuffle-partitioned
        return paired.mapInPandas(
            rescore, schema="id_a bigint, id_b bigint, cosine double"
        )

    spark = embeddings.sparkSession
    n = q.count()
    n_blocks = max(1, -(-n // block_rows))
    if n_blocks > 1024:
        # B(B+1)/2 block-pair tasks: beyond ~1024 blocks (≈4M vectors at
        # the default block_rows) exact all-pairs is no longer the right
        # tool — generate candidates (e.g. similarity.hyperplane_signatures
        # buckets) and rescore those instead of brute-forcing O(N^2)
        raise ValueError(
            f"{n} vectors -> {n_blocks} blocks -> "
            f"{n_blocks * (n_blocks + 1) // 2} block-pair tasks; pass "
            "`candidates` for the LSH-funneled path at this scale"
        )
    # one default-size pair (2 x 4096 vectors) bounds a task's memory;
    # smaller blocks are packed up to that many vectors per task, since
    # a Python task per tiny pair is pure start-up cost (2 628 tasks for
    # 500 vectors at block_rows=7), keeping >= 4 tasks per core
    n_pairs = n_blocks * (n_blocks + 1) // 2
    pairs_per_task = max(1, 4096 // max(1, -(-n // n_blocks)))
    n_tasks = min(n_pairs, max(4 * spark.sparkContext.defaultParallelism,
                               -(-n_pairs // pairs_per_task)))
    blocked = q.withColumn(
        "_blk", F.pmod(F.col("_id"), F.lit(n_blocks)).cast("int")
    )
    packed = blocked.groupBy("_blk").agg(
        F.collect_list(F.struct("_id", "_q")).alias("_vecs")
    )
    block_pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        schema="bi int, bj int",
    )
    joined = (
        block_pairs
        .join(
            packed.withColumnsRenamed({"_blk": "bi", "_vecs": "_va"}), "bi"
        )
        .join(
            packed.withColumnsRenamed({"_blk": "bj", "_vecs": "_vb"}), "bj"
        )
        .repartition(n_tasks)
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunk = 1024  # bounds the D slice to chunk x block_rows doubles
        for pdf in batches:
            for _, row in pdf.iterrows():
                same_block = int(row["bi"]) == int(row["bj"])
                ids_a, Ma = _unpack_block(row["_va"])
                ids_b, Mb = _unpack_block(row["_vb"])
                norms_a = np.sqrt((Ma * Ma).sum(axis=1))
                norms_b = np.sqrt((Mb * Mb).sum(axis=1))
                for lo in range(0, len(ids_a), chunk):
                    hi = lo + chunk
                    D = Ma[lo:hi] @ Mb.T  # exact integer dot products
                    # unrounded: inputs are exact integers, so the IEEE
                    # division is bit-identical to the SQL twin's
                    cos = D / (norms_a[lo:hi, None] * norms_b[None, :])
                    hit = cos >= threshold
                    if same_block:
                        # within a block each unordered pair appears
                        # twice (and as a self-pair); keep lower < upper
                        hit &= ids_a[lo:hi, None] < ids_b[None, :]
                    ii, jj = np.nonzero(hit)
                    if len(ii) == 0:
                        continue
                    ia, ib = ids_a[lo:hi][ii], ids_b[jj]
                    if not same_block:
                        # a cross-block unordered pair appears exactly
                        # once; normalize so id_a < id_b regardless of
                        # which block holds the smaller id
                        ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)
                    yield pd.DataFrame(
                        {"id_a": ia, "id_b": ib, "cosine": cos[ii, jj]}
                    )

    return joined.mapInPandas(
        score, schema="id_a bigint, id_b bigint, cosine double"
    )


def embedding_near_dups_lsh(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.4,
    n_planes: int = 4,
    tables: int = 24,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The 100 TB embedding near-dup pipeline, end to end: hyperplane
    LSH buckets (similarity.hyperplane_signatures) -> unordered
    same-bucket candidate pairs -> exact quantized re-scoring via
    `embedding_near_dups(candidates=...)`.  The O(N^2) all-pairs path is
    never constructed — corpus size only affects the bucket join, which
    shuffles on (table_id, bucket) keys.

    Collision math (see lsh_ann_topk): a pair at angle theta collides in
    one table with p = (1 - theta/pi)^n_planes; recall ~= 1-(1-p)^tables.
    The defaults (4 planes x 24 tables) measure 0.97 recall at cosine
    0.4 on the fixture corpus (gated >= 0.95 in
    tests/test_similarity.py) — LOW thresholds need FEW planes (p
    collapses as theta grows), which is why this is 4 planes where the
    ANN top-k path uses 6.  The flip side: random (orthogonal) pairs
    collide with 1-(1-2^-4)^24 ~= 0.79 at these settings, so a 0.4
    threshold prunes only ~22% — that IS the theory optimum for so
    loose a cut.  Real near-dup thresholds (>= 0.9, theta <= 26deg)
    support 8-12 planes, where random-pair collision drops to ~1% and
    the funnel prunes ~99% of pairs."""
    from .similarity import hyperplane_signatures  # deferred: circular

    sig = hyperplane_signatures(
        embeddings, dim, n_planes, tables, id_col, vec_col
    )
    a = sig.withColumnsRenamed({id_col: "id_a"})
    b = sig.withColumnsRenamed({id_col: "id_b"})
    cands = (
        a.join(b, ["table_id", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return embedding_near_dups(
        embeddings, threshold=threshold, id_col=id_col, vec_col=vec_col,
        candidates=cands,
    )


def word_ngram_hashes(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, gram) — each doc's DISTINCT word n-gram hashes, one row per
    gram.  One Arrow-batched kernel: O(docs) Python tokenization, one
    vectorized stable hash (pd.util.hash_array fixed-key siphash) over
    every gram string, per-doc dedup by sort — the same gram pipeline as
    ngram_jaccard_pairs, exposed row-wise for join-shaped consumers
    (decontamination, inverted indexes)."""

    def grams(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            gram_strs: list[str] = []
            per_doc = np.zeros(len(pdf), dtype=np.int64)
            for k, txt in enumerate(pdf[text_col]):
                toks = txt.split() if isinstance(txt, str) else []
                m = len(toks) - (n - 1)
                if m > 0:
                    gram_strs.extend(
                        " ".join(toks[i:i + n]) for i in range(m))
                    per_doc[k] = m
            if not gram_strs:
                continue
            h = pd.util.hash_array(
                np.asarray(gram_strs, dtype=object)).view(np.int64)
            doc_of = np.repeat(pdf[id_col].to_numpy(), per_doc)
            o = np.lexsort((h, doc_of))
            h, doc_of = h[o], doc_of[o]
            keep = np.r_[True,
                         (h[1:] != h[:-1]) | (doc_of[1:] != doc_of[:-1])]
            yield pd.DataFrame({id_col: doc_of[keep], "gram": h[keep]})

    return ensure_parallel(df.select(id_col, text_col)).mapInPandas(
        grams, schema=f"{id_col} bigint, gram bigint"
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination — the training-data hygiene op: flag
    every training doc sharing at least one word n-gram with the
    evaluation corpus (the standard n-gram-overlap rule used to scrub
    eval leakage from web-scale training sets).  Returns
    (id, n_shared_grams) for contaminated docs only.

    Scale shape: the benchmark gram set is tiny next to a 100 TB corpus
    (an eval suite is ~1e6-1e8 grams), so the join broadcasts it and
    the training side never shuffles — one map-side semi-join pass plus
    the per-doc count aggregation on the (small) surviving rows.  Set
    broadcast_benchmark=False to let AQE pick when the eval set is
    genuinely large."""
    tg = word_ngram_hashes(train, n, text_col, id_col)
    bg = word_ngram_hashes(benchmark, n, text_col, id_col).select(
        "gram"
    ).distinct()
    if broadcast_benchmark:
        bg = F.broadcast(bg)
    return (
        tg.join(bg, "gram")  # tg is distinct per doc already
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


# Bidirected edge rows (two per input pair) under which
# connected_components labels the whole graph in ONE executor-side numpy
# task instead of the Spark round loop.  At this bound the task holds
# the src/dst columns plus a few index arrays: ~190 MB extra peak,
# measured 0.93 s on a 4-vCPU VM, where each Spark round costs several
# jobs of fixed scheduling overhead.  Larger graphs keep the loop, the
# only path that scales past one task's memory.
CC_ONE_TASK_EDGES_MAX = 2_000_000
# Node count up to which the round loop broadcasts its label side.
CC_BROADCAST_NODES_MAX = 2_000_000


def _cc_propagate(
    src: np.ndarray, dst: np.ndarray, max_iter: int
) -> tuple[np.ndarray, np.ndarray, int, bool]:
    """The round loop of connected_components in numpy over a
    bidirected edge list: seed min(id, min neighbour), then per round
    neighbour-min step + pointer jump, until the label sum stops
    changing.  Returns (ids, component, rounds, converged) with rounds
    counted exactly as the Spark loop counts them.  Works in node-index
    space (ids sorted, so index order == id order and every label is
    an index <= its own)."""
    order = np.argsort(src, kind="stable")
    src, dst = src[order], dst[order]
    starts = np.flatnonzero(np.r_[True, src[1:] != src[:-1]])
    ids = src[starts]  # bidirected: every node is a src
    nbr = np.searchsorted(ids, dst)
    lab = np.minimum(np.arange(ids.size), np.minimum.reduceat(nbr, starts))
    prev = lab.sum()
    for rounds in range(1, max_iter + 1):
        stepped = np.minimum(lab, np.minimum.reduceat(lab[nbr], starts))
        lab = stepped[stepped]
        cur = lab.sum()
        if cur == prev:
            return ids, ids[lab], rounds, True
        prev = cur
    return ids, ids[lab], max_iter, False


def _cc_one_task(edges: DataFrame, max_iter: int) -> tuple[DataFrame, int, bool]:
    """Labels of a small bidirected edge list from one executor task
    (coalesce(1) + mapInPandas over _cc_propagate; no label row is
    collected).  Every label row carries the round count, 0 when
    the propagation did not converge; an Observation reads it during
    the checkpoint, so the task is the path's only job."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = list(batches)
        n = sum(len(p) for p in pdfs)
        if n == 0:
            return
        src = np.concatenate([p["src"].to_numpy(dtype=np.int64) for p in pdfs])
        dst = np.concatenate([p["dst"].to_numpy(dtype=np.int64) for p in pdfs])
        del pdfs
        ids, comp, rounds, converged = _cc_propagate(src, dst, max_iter)
        yield pd.DataFrame({
            "id": ids, "component": comp,
            "_rounds": np.full(ids.size, rounds if converged else 0, np.int32),
        })

    seen = Observation()
    out = (
        edges.coalesce(1)
        .mapInPandas(run, schema="id bigint, component bigint, _rounds int")
        .observe(seen, F.max("_rounds").alias("rounds"))
        .localCheckpoint(eager=True)
    )
    rounds = seen.get["rounds"]
    if rounds is None:  # no edges: the empty set is round 1's fixpoint
        rounds = 1
    # at most n_edges label rows, under the round loop's broadcast bound:
    # the hint spares a consumer's join a shuffle of its other side,
    # which a checkpoint without size statistics would otherwise cost
    labels = F.broadcast(out.select("id", "component"))
    return labels, rounds or max_iter, rounds > 0


def _cc_round_loop(edges: DataFrame, max_iter: int) -> tuple[DataFrame, int, bool]:
    """Min-label propagation as a Spark loop: two joins + one groupBy
    per round over the checkpointed edge list, one checkpoint and one
    scalar sum per round."""
    # seed labels at min(id, min direct neighbor): the same single
    # aggregation pass the old distinct() cost, but it bakes round 1's
    # neighbor-min into the initialization (one fewer ~|E|-scan round
    # to the fixpoint); label_0(v) <= v and is a node id, so the
    # pointer-jump invariants hold unchanged
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("_mn"))
        .select("id", F.least(F.col("id"), F.col("_mn")).alias("component"))
        .localCheckpoint(eager=True)
    )
    # size-ADAPTIVE join shape (round-7): each round joins the full
    # bidirected edge list against the label table.  The checkpointed
    # label side carries no size statistics, so the planner falls back
    # to sort-merge and re-shuffles+sorts EVERY edge row EVERY round —
    # ~5 s/round on a 19.7M-edge graph whose label table is 48.8k rows.
    # The node count is known exactly here (one count over the
    # checkpointed table), so broadcast the label side whenever it is
    # provably small; a web-scale graph (nodes >> CC_BROADCAST_NODES_MAX)
    # keeps the shuffle join — the decision derives from the data, not
    # from local-mode tuning.
    small = labels.count() <= CC_BROADCAST_NODES_MAX

    def _bc(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    prev_sum = labels.agg(F.sum("component")).collect()[0][0]
    for rounds in range(1, max_iter + 1):
        nb_min = (
            edges.join(
                _bc(labels.select(F.col("id").alias("dst"),
                                  F.col("component").alias("_nb"))),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("_nb").alias("_min_nb"))
        )
        stepped = (
            labels.join(nb_min, labels["id"] == nb_min["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("_min_nb"), F.col("component")),
                ).alias("component"),
            )
        )
        # pointer jump: component <- label(component); the lookup always
        # matches (a label is a node id) and label(x) <= x, so this can
        # only tighten.  NOT broadcast: building a broadcast of stepped
        # would execute its whole edge-join subtree a second time.
        labels = stepped.join(
            stepped.select(F.col("id").alias("component"),
                           F.col("component").alias("_c2")),
            "component",
        ).select("id", F.col("_c2").alias("component"))
        # lazy checkpoint: the convergence agg below is the action that
        # materializes it — one job per round instead of two
        labels = labels.localCheckpoint(eager=False)
        cur_sum = labels.agg(F.sum("component")).collect()[0][0]
        if cur_sum == prev_sum:
            return labels, rounds, True
        prev_sum = cur_sum
        # NOTE (round-7): per-round edge CONTRACTION (re-keying edges
        # to current labels, dropping loops) was prototyped here — it
        # preserves the fixpoint exactly and would shrink later rounds
        # on clique-heavy graphs, but the chained lazy checkpoints +
        # per-round broadcasts made long-chain graphs pathologically
        # slow (a 2000-node path went from seconds to minutes), so it
        # was reverted; rounds re-scan the fixed edge list instead.
    return labels, max_iter, False


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """(id bigint, component bigint) for every id appearing in `pairs`,
    where component = the MINIMUM id reachable through the pair graph —
    the canonical cluster id that turns near-dup PAIRS into dedup
    GROUPS (keeper = the row whose id equals its component).

    Algorithm: iterative min-label propagation with pointer jumping —
    each round every node takes min(own label, neighbors' labels), then
    compresses by replacing its label with that node's label
    (label-of-label; valid because a node's label never exceeds its id
    and only decreases), so reach roughly doubles per round:
    O(log diameter) rounds instead of O(diameter).  Convergence is the
    cheapest possible test: labels are non-increasing, so
    sum(component) is strictly decreasing until the fixpoint.

    The input is bidirected by ONE Generate (each pair emits both
    directions) and checkpointed, so a lazy funnel above it — the
    near-dup screen and verify — is evaluated exactly once; a
    self-union would run it once per union branch.  The checkpointed
    edge rows are counted, and the count picks the path:

    - under CC_ONE_TASK_EDGES_MAX rows: one executor-side numpy task
      runs the same propagation (_cc_propagate) — no per-round jobs;
    - otherwise the Spark round loop: two joins + one groupBy per round
      on the edge list, `localCheckpoint` truncating the growing plan
      lineage so round N+1 does not re-analyze N stacked joins (the
      classic iterative-DataFrame trap), one scalar agg per round.

    Both paths execute the same rounds and yield the same labels.
    max_iter is a guard, not a tuning knob: a graph that has not
    reached its fixpoint after max_iter rounds raises RuntimeError
    rather than return unconverged labels.

    `stats`, if given, receives {"rounds": n, "edge_rows": e} — the
    executed round count INCLUDING the final no-change round that
    proves convergence (the O(log diameter) claim is asserted against
    it on a 1e5-edge chains+stars fixture in tests/test_dedup.py), and
    the bidirected edge-row count that chose the path."""
    a, b = F.col(id_a).cast("bigint"), F.col(id_b).cast("bigint")
    # bidirect WITHOUT a distinct: the near-dup funnels emit distinct
    # i<j pairs, so both directions are duplicate-free by construction,
    # and min-label propagation is insensitive to duplicate edges anyway
    # — the old distinct() was a full 2|E|-row shuffle+dedup (7.3 s on
    # a 9.9M-pair graph) buying nothing.  Callers feeding heavily
    # duplicated edge lists should distinct upstream.
    # the row count is observed during the checkpoint: no extra job
    counted = Observation()
    edges = (
        pairs.select(
            F.inline(F.array(
                F.struct(a.alias("src"), b.alias("dst")),
                F.struct(b.alias("src"), a.alias("dst")),
            ))
        )
        .observe(counted, F.count(F.lit(1)).alias("rows"))
        .localCheckpoint(eager=True)
    )
    n_edges = counted.get["rows"]
    if n_edges < CC_ONE_TASK_EDGES_MAX:
        labels, rounds, converged = _cc_one_task(edges, max_iter)
    else:
        labels, rounds, converged = _cc_round_loop(edges, max_iter)
    if stats is not None:
        stats["rounds"] = rounds
        stats["edge_rows"] = n_edges
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within "
            f"max_iter={max_iter} rounds ({n_edges} bidirected edge rows); "
            f"raise max_iter — the labels would not be final components"
        )
    return labels


def cluster_survivors(
    labels: DataFrame,
    docs: DataFrame,
    score,
    id_col: str = "doc_id",
    keep_col: str = "is_kept",
) -> DataFrame:
    """Survivor-policy selection over near-dup clusters: given the
    (id, component) labels from connected_components, keep the BEST
    document of each cluster by `score` (a Column over `docs`) instead
    of the min-id default — the RefinedWeb/C4 practice of retaining
    the longest / highest-quality copy of a duplicated page.  Ties are
    broken by LOWEST id, so the choice is total and deterministic.

    Returns `docs` + component + the score + `keep_col`.  Docs in no
    cluster (no near-dup edges touch them) are their own component and
    are kept.

    Shape: one equi-join docs⋈labels on id (labels side is the small
    side per near-dup funnel contract — broadcastable), then a
    groupBy(component).max(struct) whose partial aggregation combines
    map-side; like every survivor rule in this engine there is no
    window over raw cluster members, so a giant boilerplate cluster
    cannot straggle a single task."""
    scored = docs.withColumn("_score", score)
    lbl = labels.select(
        F.col("id").alias(id_col), F.col("component").alias("component")
    )
    j = scored.join(lbl, id_col, "left").withColumn(
        "component", F.coalesce(F.col("component"), F.col(id_col))
    )
    # argmax by (score DESC, id ASC) == max of (score, -id)
    best = j.groupBy("component").agg(
        F.max(F.struct(F.col("_score"), (-F.col(id_col)).alias("_nid")))
        .alias("_best")
    ).select(
        "component",
        (-F.col("_best._nid")).alias("_best_id"),
    )
    return (
        j.join(best, "component")
        .withColumn(keep_col, F.col(id_col) == F.col("_best_id"))
        .drop("_best_id")
        .withColumnRenamed("_score", "score")
    )
