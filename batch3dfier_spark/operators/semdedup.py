"""SemDeDup-style semantic deduplication over an embedding column.

Semantic dedup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication", arXiv:2303.09540) prunes
documents whose EMBEDDINGS are near-identical even when their text is
not: cluster the corpus with a coarse quantizer, then compare pairs
only WITHIN a cluster and drop every member that is cosine-similar to
a kept member.  The cluster step is what makes it tractable — the
pairwise stage is O(sum cluster^2) instead of O(N^2).

Spark shape (100 TB):
- assignment is a single map-only pass: one Arrow-batched matmul per
  batch against the broadcast centroid matrix
  (similarity.assign_centroids) — no shuffle, no per-row Python.
- cluster membership is capped to `cluster_cap` lowest-id members via
  the TWO-LEVEL SALTED selection of operators/topk.py (the
  (id ASC) order is total, so salted-then-final row_number equals a
  single global ranking): no window partition ever holds more than
  max(members/salt_buckets, cap * salt_buckets) NARROW (id, cid)
  rows, so a boilerplate mega-cluster cannot straggle one task.
- candidate pairs come from a cid-equi self-join of the capped
  membership (AQE can skew-split an equi-join; it can never split a
  window partition), and only those pairs are rescored by
  dedup.embedding_near_dups(candidates=...) — the same
  cheap-filter/expensive-verify funnel as the MinHash path.
- the quadratic term is bounded by cluster_cap^2/2 pairs per cluster
  BY CONSTRUCTION; at 100 TB you raise n_centroids (so mean cluster
  size stays ~constant) rather than the cap.

Determinism contract (the reason this has a full rows+schema+hash
oracle): centroids are the FROZEN seed quantizer
(similarity.ivf_seed_centroids — the n_centroids lowest-id vectors on
the 2^20 integer grid), so assignment argmin, the membership cap and
every pairwise cosine are exact-integer arithmetic that DuckDB
recomputes bit-identically (see plans/queries.SQL_SEMDEDUP).

Reference analog: none (balazsdukai/batch3dfier has no embedding
surface); this extends the engine's training-data layer alongside
operators/dedup.py.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["semdedup"]


def _centroid_cosines(
    e: DataFrame, asg: DataFrame, C: np.ndarray, id_col: str
) -> DataFrame:
    """(id, _ccos) — each vector's cosine to ITS assigned centroid:
    quantized-integer dot over the broadcast centroid matrix, one
    map-only Arrow pass (the far_centroid survivor-priority input)."""
    from .dedup import quantize_half_away

    spark = e.sparkSession
    bc = spark.sparkContext.broadcast(C)
    joined = e.join(asg, id_col)

    def cos(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Cm = bc.value
        c_nrm = np.sqrt((Cm * Cm).sum(axis=1))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = quantize_half_away(np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]))
            cid = pdf["cid"].to_numpy()
            dots = np.einsum("ij,ij->i", V, Cm[cid])
            nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "_ccos": dots / (nrm * c_nrm[cid]),
            })

    return joined.mapInPandas(cos, schema=f"{id_col} bigint, _ccos double")


def semdedup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_centroids: int = 64,
    cluster_cap: int = 4096,
    salt_buckets: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "min_id",
) -> DataFrame:
    """(id, cid, is_dup) — one row per input vector: its frozen-seed
    cluster and whether a kept member of the same (capped) cluster is
    cosine-similar >= threshold to it.  Filter `~is_dup` downstream.

    `keep` picks the survivor of a duplicate pair:
    - 'min_id' (default, the oracle contract): the lower id keeps —
      the same deterministic survivor rule as dedup.exact_dedup.
    - 'far_centroid' (the SemDeDup paper's rule): the member with the
      LOWER cosine to its cluster centroid keeps — the paper keeps
      the least-typical example of each duplicate group because it
      carries the most marginal information; centroid cosines come
      from the same quantized-integer arithmetic, ties break to the
      lower id, so the rule stays deterministic (pytest-gated — the
      contract query runs min_id).

    Known composition cost: the candidate self-join evaluates the
    assignment+cap subplan on BOTH sides (Arrow-UDF subplans defeat
    Spark's exchange reuse — plan-visible in the pytest).  The
    assignment is a map-only matmul so the second pass is cheap at
    bench scale; a 100 TB pipeline materializes the assignment table
    once (the textpipe pattern used for near-dup labels) and feeds
    both sides from parquet.
    """
    if keep not in ("min_id", "far_centroid"):
        raise ValueError(f"keep must be min_id|far_centroid, got {keep}")
    from .dedup import embedding_near_dups
    from .similarity import assign_centroids, ivf_seed_centroids
    from .topk import salted_top_k

    C = ivf_seed_centroids(embeddings, n_centroids, id_col, vec_col)
    e = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    asg = assign_centroids(e, C, id_col, "_v", quantize=True)

    # salted cap: keep the cluster_cap LOWEST ids per cid.  (id ASC) is
    # a total order, so this equals one global row_number while
    # bounding every window partition.
    capped = salted_top_k(
        asg, ["cid"], [F.col(id_col).asc()], cluster_cap, F.col(id_col),
        salt_buckets, "_rn",
    ).select(id_col, "cid")

    pairs = (
        capped.select(F.col(id_col).alias("id_a"), "cid")
        .join(
            capped.select(F.col(id_col).alias("id_b"),
                          F.col("cid").alias("_cid_b")),
            (F.col("cid") == F.col("_cid_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
    )
    hits = embedding_near_dups(
        embeddings, threshold, id_col, vec_col, candidates=pairs
    )
    if keep == "min_id":
        marked = hits.select(F.col("id_b").alias(id_col))
    else:
        # paper rule: per hit pair, the member MORE similar to its
        # centroid is the duplicate (tie -> the higher id); centroid
        # cosines are one extra map-only Arrow pass
        cc = _centroid_cosines(e, asg, C, id_col)
        marked = (
            hits.join(cc.withColumnsRenamed(
                {id_col: "id_a", "_ccos": "_ca"}), "id_a")
            .join(cc.withColumnsRenamed(
                {id_col: "id_b", "_ccos": "_cb"}), "id_b")
            .select(
                F.when(
                    (F.col("_ca") > F.col("_cb"))
                    | ((F.col("_ca") == F.col("_cb"))
                       & (F.col("id_a") > F.col("id_b"))),
                    F.col("id_a"),
                ).otherwise(F.col("id_b")).alias(id_col)
            )
        )
    dup_ids = marked.distinct().withColumn("_dup", F.lit(True))
    return (
        asg.join(dup_ids, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cid"),
            F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
        )
    )
