"""Salted two-level top-k selection — the house pattern, factored.

One global ranking window per group holds EVERY row of the group on a
single task (AQE can never split a window partition); when the order
is TOTAL, the same result falls out of a two-level selection whose
partitions are bounded: keep k per (group, salt) — at most rows/salt
per partition — then rank the <= k * salt_buckets survivors per
group.  Proof: the global top-k of a totally-ordered set is contained
in the union of per-salt top-ks (any row outside its salt's top-k has
k better rows in the SAME salt, hence >= k better rows globally).

operators/bm25.py introduced the pattern (its top-k is pre-reduced per
chunk, so it keeps its own single window); every per-group top-k
whose group can be hot calls this helper: weighted sampling, KMV
sketches, RRF fusion, the semdedup cluster cap, winnow's bucket cap
and the top_events query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["salted_top_k"]


def salted_top_k(
    df: DataFrame,
    part_cols: list,
    order: list,
    k: int,
    salt_col: Column,
    salt_buckets: int = 32,
    rank_name: str = "rank",
) -> DataFrame:
    """Top-k rows per `part_cols` group under `order` (MUST be a total
    order — include a unique tie-break column), with bounded window
    partitions via `salt_col % salt_buckets`."""
    salted = Window.partitionBy(
        *part_cols, salt_col % salt_buckets
    ).orderBy(*order)
    final = Window.partitionBy(*part_cols).orderBy(*order)
    return (
        df.withColumn("_srn", F.row_number().over(salted))
        .where(F.col("_srn") <= k)
        .withColumn(rank_name, F.row_number().over(final))
        .where(F.col(rank_name) <= k)
        .drop("_srn")
    )
