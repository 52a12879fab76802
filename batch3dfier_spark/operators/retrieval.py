"""Hybrid retrieval: reciprocal-rank fusion of ranked lists.

RRF (Cormack, Clarke & Buettcher 2009, "Reciprocal rank fusion
outperforms Condorcet and individual rank learning methods", SIGIR)
combines rankings from heterogeneous retrievers — here the engine's
sparse path (operators/bm25.bm25_topk) and dense path
(operators/similarity.cosine_topk / ivf_topk_frozen) — by summing
1 / (c + rank) over the lists each candidate appears in.  It needs no
score calibration between the retrievers, which is why it is the
standard first fusion in hybrid search.

Determinism contract: contributions are computed in SCALED INTEGER
arithmetic — floor(scale / (c + rank)) — so the fused score is a
BIGINT that Spark's DIV and DuckDB's // reproduce bit-identically
(same trick as the quantized BM25 scores).  With scale = 10^6 and
c = 60 every distinct rank in [1, ~940] maps to a distinct
contribution, so fusion order is exactly the real-valued RRF order
for any practical k.

Scale shape (100 TB): the fuse is ONE full-outer equi-join on
(query_id, cand_id) between two already-top-k lists — O(queries * k)
rows a side, never the corpus — followed by the two-level salted
top-k selection of operators/topk.py (total order by
(rrf_q DESC, cand_id ASC), so salted-then-final row_number equals a
single global ranking and no window partition exceeds
max(k_in * 2 / salt_buckets, k * salt_buckets) rows per query).

Reference analog: none (the reference has no retrieval surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .topk import salted_top_k

__all__ = ["rrf_fuse"]


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 5,
    c: int = 60,
    scale: int = 1_000_000,
    salt_buckets: int = 32,
    qid_col: str = "query_id",
    cand_col: str = "cand_id",
    rank_col: str = "rank",
) -> DataFrame:
    """(query_id, cand_id, rrf_q, rank) — top-k fused candidates per
    query.  Each input is a ranked list (query_id, cand_id, rank with
    rank starting at 1); a candidate missing from one list contributes
    0 from it.  Ties in rrf_q break by cand_id ASC."""
    contrib = F.expr(f"CAST({scale} DIV ({c} + {rank_col}) AS BIGINT)")

    def _side(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.col(qid_col).alias("query_id"),
            F.col(cand_col).alias("cand_id"),
            contrib.alias(name),
        )

    fused = (
        _side(ranked_a, "_ca")
        .join(_side(ranked_b, "_cb"), ["query_id", "cand_id"], "full_outer")
        .select(
            "query_id",
            "cand_id",
            (F.coalesce(F.col("_ca"), F.lit(0))
             + F.coalesce(F.col("_cb"), F.lit(0))).alias("rrf_q"),
        )
    )
    order = [F.col("rrf_q").desc(), F.col("cand_id").asc()]
    return salted_top_k(
        fused, ["query_id"], order, k, F.col("cand_id"), salt_buckets
    ).select("query_id", "cand_id", "rrf_q", F.col("rank").cast("bigint"))
