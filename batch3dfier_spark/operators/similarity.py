"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the correctness baseline.  The query matrix
  is broadcast; scoring runs in an Arrow-batched kernel with
  sequential-fold accumulation (bit-identical to the SQL oracle) that
  emits per-batch partial top-k; the final ranking window is tiny.  No
  JVM higher-order-function lambdas anywhere in this module — they
  defeat Spark's codegen cache and cost seconds of janino compile per
  fresh plan (round-3 discovery).
- LSH-bucketed ANN (the scale path): deterministic random-hyperplane
  signs from a fixed-seed projection matrix; candidates = same bucket
  in >=1 of `tables` hash tables; exact re-scoring only within buckets.
  At 100 TB the bucket join replaces the O(N*Q) cross product with a
  shuffle on (table, bucket) keys.

Determinism: similarities are computed on float->double-cast values and
rounded before ranking; ties broken by vec_id — so results are stable
across partitionings and match the SQL oracle exactly.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import ensure_parallel

__all__ = [
    "cosine_topk",
    "lsh_ann_topk",
    "hyperplane_signatures",
    "ivf_seed_centroids",
    "ivf_topk_frozen",
    "quantize_int8",
]


def _seq_cosine(A: np.ndarray, B: np.ndarray, round_to: int) -> np.ndarray:
    """Row-wise cosine with SEQUENTIAL-over-dims accumulation
    (vectorized over rows): acc_{j+1} = acc_j + a_j*b_j — the exact
    left-fold order of DuckDB's LIST_DOT_PRODUCT, so every value is
    bit-identical to the SQL oracle (a numpy pairwise/SIMD dot would
    drift in the last ulp and flip rank ties).  Rounding is half-away
    on the binary double, the rule C/DuckDB ROUND applies."""
    n, dim = A.shape
    dot = np.zeros(n)
    na = np.zeros(n)
    nb = np.zeros(n)
    for j in range(dim):
        a = A[:, j]
        b = B[:, j]
        dot += a * b
        na += a * a
        nb += b * b
    cos = dot / (np.sqrt(na) * np.sqrt(nb))
    p = 10.0 ** round_to
    return np.sign(cos) * np.floor(np.abs(cos) * p + 0.5) / p


def _score_pairs(paired: DataFrame, round_to: int = 6) -> DataFrame:
    """(query_id, cand_id, cosine) from a frame carrying query_vec /
    cand_vec columns — one Arrow-batched kernel, NO JVM higher-order-
    function lambdas.  Round-3 discovery: every fresh plan containing
    F.aggregate/zip_with lambdas pays seconds of UNCACHEABLE janino
    codegen; the kernel costs one Arrow hop instead and its values stay
    bit-identical to the oracle (see _seq_cosine)."""

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["query_vec"]])
            B = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["cand_vec"]])
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "cand_id": pdf["cand_id"].to_numpy(),
                    "cosine": _seq_cosine(A, B, round_to),
                }
            )

    return paired.select(
        "query_id", "cand_id", "query_vec", "cand_vec"
    ).mapInPandas(score, schema="query_id bigint, cand_id bigint, cosine double")


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector (self-pairs
    excluded).  The query matrix (small by contract) is broadcast as
    numpy; ONE Arrow kernel per candidate batch scores all pairs with
    sequential-fold accumulation (bit-identical to the SQL oracle — see
    _seq_cosine) and emits only the batch's per-query top-k, so the
    ranking window sees O(n_batches * queries * k) rows instead of the
    full n*q cross product — no JVM HOF lambdas, no pair
    materialization."""
    spark = embeddings.sparkSession
    qpdf = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("query_vec"),
        )
        .toPandas()
    )
    if qpdf.empty:
        # no queries -> empty result in the output schema (np.stack
        # would raise on an empty sequence)
        return spark.createDataFrame(
            [], "query_id bigint, rank int, cand_id bigint, cosine double"
        )
    q_ids = qpdf["query_id"].to_numpy()
    Q = np.stack([np.asarray(v, dtype=np.float64)
                  for v in qpdf["query_vec"]])
    bc = spark.sparkContext.broadcast((q_ids, Q))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qi, Qm = bc.value
        m, dim = Qm.shape
        nq = np.zeros(m)
        for j in range(dim):
            nq += Qm[:, j] * Qm[:, j]
        qn = np.sqrt(nq)
        p = 10.0 ** round_to
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["cand_id"].to_numpy()
            V = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["cand_vec"]])
            n = V.shape[0]
            # tiled over rows with reused scratch (round-7): the flat
            # loop allocated a fresh (n, m) temp per dim — ~1 GB of
            # allocation churn per 10k-row batch; tiles keep the
            # accumulator cache-resident.  Element-wise op order is
            # unchanged, so every value stays the oracle's left fold.
            cos = np.empty((n, m))
            blk = max(1, 2_000_000 // max(m, 1))
            for lo in range(0, n, blk):
                hi = min(lo + blk, n)
                Vb = V[lo:hi]
                nb = hi - lo
                dot = np.zeros((nb, m))
                tmp = np.empty_like(dot)
                nv = np.zeros(nb)
                tv = np.empty(nb)
                for j in range(dim):  # sequential fold == oracle order
                    vj = Vb[:, j]
                    np.multiply(vj[:, None], Qm[None, :, j], out=tmp)
                    dot += tmp
                    np.multiply(vj, vj, out=tv)
                    nv += tv
                cos[lo:hi] = dot / (np.sqrt(nv)[:, None] * qn[None, :])
            cos = np.sign(cos) * np.floor(np.abs(cos) * p + 0.5) / p
            outs = []
            for c in range(m):
                col = cos[:, c]
                keep = ids != qi[c]  # self-pair excluded
                cid = ids[keep]
                cc = col[keep]
                if cid.size == 0:
                    continue
                # per-batch partial top-k (same comparator as the final
                # ranking window: cosine desc, cand_id asc) — a valid
                # partial reduction for top-k
                order = np.lexsort((cid, -cc))[:k]
                outs.append(
                    pd.DataFrame(
                        {"query_id": qi[c], "cand_id": cid[order],
                         "cosine": cc[order]}
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    scored = ensure_parallel(
        embeddings.select(
            F.col(id_col).alias("cand_id"),
            F.col(vec_col).cast("array<double>").alias("cand_vec"),
        )
    ).mapInPandas(
        score, schema="query_id bigint, cand_id bigint, cosine double"
    )
    return _rank_topk(scored, k)


# single source of the 2^20 quantum AND the half-away rounding rule —
# one copy of the cross-engine (Spark F.round == DuckDB ROUND)
# determinism contract, shared with the embedding-dedup path
from .dedup import quantize_half_away as _quantize_half_away

# splitmix64 finalizer constants (closed form shared with the SQL oracle)
SM_C0 = 0x9E3779B97F4A7C15
SM_K1 = 0xBF58476D1CE4E5B9
SM_K2 = 0x94D049BB133111EB


def _projection(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic integer hyperplane weights from the splitmix64
    finalizer over the counter d*2^20 + c — a closed form an ANSI-SQL
    oracle can recompute exactly (DuckDB: HUGEINT arithmetic with
    staged mod-2^64 multiplies), unlike a seeded Mersenne-Twister
    gaussian.  w[d, c] = mix(d, c) >> 44 - 2^19, uniform over
    [-2^19, 2^19) — integer-valued in float64, so quantized-vector dot
    products are exact and sign tests are bit-identical across engines.

    History: a weaker two-round LCG stood here through round 2.  Its
    flaw: for fixed d, consecutive planes differed by the CONSTANT
    B*M mod 2^32, i.e. every plane was the previous plane plus a fixed
    offset vector — near-parallel hash tables (measured mean |corr|
    0.37, max 1.0 between normalized planes!), which silently destroyed
    LSH pruning (~0.9 of all pairs became candidates) and capped
    recall.  splitmix64 measures mean |corr| 0.10 — the random-gaussian
    expectation sqrt(2/(pi*dim)) — and restores the collision math the
    docstrings advertise."""
    d = np.arange(dim, dtype=np.uint64)[:, None]
    c = np.arange(n_planes, dtype=np.uint64)[None, :]
    with np.errstate(over="ignore"):  # uint64 wrap == mod 2^64
        z = d * np.uint64(1 << 20) + c + np.uint64(SM_C0)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(SM_K1)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(SM_K2)
        z = z ^ (z >> np.uint64(31))
    return (z >> np.uint64(44)).astype(np.float64) - 524288.0


def hyperplane_signatures(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table_id, bucket) random-hyperplane LSH buckets — one row
    per hash table.  Signs computed in one Arrow-batched numpy matmul
    per batch; vectors and weights are both integer-quantized so every
    dot product is exact in float64 (64 dims x 2^20 x 2^20 < 2^53) and
    the bucket assignment is reproducible bit-for-bit by the SQL
    oracle regardless of accumulation order."""
    proj = _projection(dim, n_planes * tables)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(proj)

    def buckets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        P = bc.value
        weights = (1 << np.arange(n_planes, dtype=np.int64))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _quantize_half_away(
                np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            )
            signs = (V @ P) > 0  # (n, planes*tables), exact int dots
            out = []
            for t in range(tables):
                block = signs[:, t * n_planes : (t + 1) * n_planes]
                bucket = (block.astype(np.int64) * weights).sum(axis=1)
                out.append(
                    pd.DataFrame(
                        {
                            id_col: pdf[id_col].to_numpy(),
                            "table_id": t,
                            "bucket": bucket,
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    return ensure_parallel(df.select(id_col, vec_col)).mapInPandas(
        buckets, schema=f"{id_col} bigint, table_id int, bucket bigint"
    )


def lsh_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 6,
    tables: int = 24,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket with the query
    in any table; exact cosine re-scoring on candidates only.

    Parameter intuition: a pair at angle theta collides in one table
    with prob (1 - theta/pi)^n_planes; recall ~= 1-(1-p)^tables.  The
    defaults (6 planes x 24 tables) give ~0.97 recall at cosine 0.5
    while still pruning ~98% of the corpus per table at 64 dims."""
    cand_sig = hyperplane_signatures(
        embeddings, dim, n_planes, tables, id_col, vec_col
    ).withColumnRenamed(id_col, "cand_id")
    q_sig = hyperplane_signatures(
        queries, dim, n_planes, tables, id_col, vec_col
    ).withColumnRenamed(id_col, "query_id")
    pairs = (
        cand_sig.join(F.broadcast(q_sig), ["table_id", "bucket"])
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    cand = embeddings.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).cast("array<double>").alias("cand_vec"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("query_vec"),
    )
    scored = _score_pairs(
        pairs.join(cand, "cand_id").join(F.broadcast(q), "query_id")
    )
    return _rank_topk(scored, k)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared ranking tail: top-k per query by (cosine desc, cand_id)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "cand_id", "cosine")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path next to LSH
# ---------------------------------------------------------------------------

def assign_centroids(df: DataFrame, centroids: np.ndarray,
                     id_col: str, vec_col: str,
                     quantize: bool = False) -> DataFrame:
    """(id, cid) — nearest centroid per vector by squared L2, ties by
    centroid id (argmin returns the first).  One Arrow-batched matmul
    per batch against the broadcast centroid matrix.

    quantize=True rounds vectors to the 2^20 integer grid first (the
    centroids must already be quantized): every -2 v.c + ||c||^2 term is
    then an exact integer in float64, so the argmin is bit-reproducible
    by a HUGEINT SQL oracle regardless of accumulation order."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        c_sq = (C * C).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if quantize:
                V = _quantize_half_away(V)
            # ||v - c||^2 = ||v||^2 - 2 v.c + ||c||^2; ||v||^2 constant
            # per row, so argmin over (-2 v.c + ||c||^2) suffices
            d = -2.0 * (V @ C.T) + c_sq[None, :]
            yield pd.DataFrame(
                {id_col: pdf[id_col], "cid": d.argmin(axis=1).astype("int32")}
            )

    return ensure_parallel(df.select(id_col, vec_col)).mapInPandas(
        assign, schema=f"{id_col} bigint, cid int"
    )


def _probe_centroids(queries: DataFrame, centroids: np.ndarray,
                     nprobe: int, id_col: str, vec_col: str,
                     quantize: bool = False) -> DataFrame:
    """(query_id, cid) — each query's `nprobe` nearest centroids by the
    same exact metric/tie rule as assign_centroids.  Runs as a
    mapInPandas over the query DataFrame against the broadcast centroid
    matrix — NO driver collect, so a large query set streams through
    executors like any other stage."""
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        c_sq = (C * C).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if quantize:
                V = _quantize_half_away(V)
            d = -2.0 * (V @ C.T) + c_sq[None, :]
            near = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf[id_col].to_numpy(), nprobe),
                    "cid": near.ravel().astype("int32"),
                }
            )

    return queries.select(id_col, vec_col).mapInPandas(
        probe, schema="query_id bigint, cid int"
    )


def ivf_seed_centroids(
    embeddings: DataFrame,
    n_centroids: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Frozen coarse quantizer: the `n_centroids` lowest-id vectors,
    quantized to the 2^20 integer grid (half-away rounding == Spark
    F.round == DuckDB ROUND).  No Lloyd rounds — deterministic and, with
    every distance term an exact integer, fully SQL-reproducible."""
    seed = (
        embeddings.orderBy(F.col(id_col)).limit(n_centroids)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .toPandas()["v"]
    )
    return _quantize_half_away(np.stack(seed.to_numpy()).astype(np.float64))


def ivf_topk_frozen(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 64,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k cosine: candidates = vectors assigned to
    each query's `nprobe` nearest centroids (inverted lists selected by
    an equi-join on cid — the classic IVF probe); exact cosine
    re-scoring + ranking window on candidates only.  `nprobe/n_centroids`
    trades recall for the fraction of the corpus scanned.

    The coarse quantizer is FROZEN at the quantized seed vectors
    (ivf_seed_centroids), not Lloyd-iterated means: k-means float
    averages are not bit-reproducible in ANSI SQL, while with frozen
    centroids every stage — assignment argmin, probe selection,
    candidate join, cosine re-score — is exactly recomputable by the
    DuckDB HUGEINT oracle (integer-quantized distances; raw-double
    cosine identical in list order).  The probe equi-join scans
    ~nprobe/n_centroids of the corpus."""
    C = ivf_seed_centroids(embeddings, n_centroids, id_col, vec_col)
    q_dbl = queries.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    e_dbl = embeddings.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    assigned = assign_centroids(e_dbl, C, id_col, "_v", quantize=True)
    probes = _probe_centroids(q_dbl, C, nprobe, id_col, "_v", quantize=True)
    cand_ids = (
        assigned.withColumnRenamed(id_col, "cand_id")
        .join(F.broadcast(probes), "cid")
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
    )
    cand = embeddings.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).cast("array<double>").alias("cand_vec"),
    )
    qv = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("query_vec"),
        )
    )
    scored = _score_pairs(cand_ids.join(cand, "cand_id").join(qv, "query_id"))
    return _rank_topk(scored, k)


def quantize_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/bandwidth
    workhorse of a 100 TB embedding store (4x smaller than float32,
    8x smaller than float64; int8 dot products SIMD-accelerate
    downstream rescoring).  Returns (id_col, scale DOUBLE, q
    ARRAY<TINYINT>) where q_i = round_half_away(v_i * 127 / scale) and
    scale = max(|v|) — so dequantization is q_i * scale / 127 with
    worst-case error scale/254.  An all-zero (or NULL) vector gets
    scale 0 and an all-zero code.

    Scale shape: MAP-ONLY — one Arrow kernel pass, no shuffle, no
    driver collect; the kernel is vectorized over the whole batch
    (np.stack on uniform dims).  Cross-engine determinism: math is
    float64 ((x * 127.0) / scale, one multiply then one divide — the
    oracle's exact op order) and rounding is sign * floor(abs + 0.5),
    the half-away rule numpy's bankers'-rounding round() would
    violate on exact .5 ties."""
    src = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            try:
                V = np.stack([
                    np.asarray(v, dtype=np.float64)
                    for v in pdf["_v"]
                ])
            except (ValueError, TypeError):
                V = None  # ragged or NULL vectors in the batch
            if V is None or V.ndim != 2 or V.shape[1] == 0:
                out_ids, scales, codes = [], [], []
                for i, v in enumerate(pdf["_v"]):
                    x = np.asarray(v if v is not None else [],
                                   dtype=np.float64)
                    s = float(np.abs(x).max()) if x.size else 0.0
                    if s == 0.0:
                        q = np.zeros(x.size, dtype=np.int8)
                    else:
                        t = (x * 127.0) / s
                        q = (np.sign(t)
                             * np.floor(np.abs(t) + 0.5)).astype(np.int8)
                    out_ids.append(ids[i])
                    scales.append(s)
                    codes.append(q.tolist())
                yield pd.DataFrame(
                    {id_col: out_ids, "scale": scales, "q": codes})
                continue
            s = np.abs(V).max(axis=1)
            safe = np.where(s == 0.0, 1.0, s)
            t = (V * 127.0) / safe[:, None]
            q = (np.sign(t) * np.floor(np.abs(t) + 0.5)).astype(np.int8)
            q[s == 0.0, :] = 0
            yield pd.DataFrame({
                id_col: ids,
                "scale": s,
                "q": [row.tolist() for row in q],
            })

    # deliberately NOT ensure_parallel'd: this operator's contract is
    # map-only / zero-shuffle (asserted in tests); the kernel is a
    # cheap elementwise pass, so scan parallelism is not the bottleneck
    return src.mapInPandas(
        kern, schema=f"{id_col} bigint, scale double, q array<tinyint>"
    )
