"""Deterministic sampling for training-data pipelines.

A 100 TB corpus is never sampled with rand(): resumed/retried tasks
would draw different rows, and two pipelines could not agree on the
same subset.  The standard pattern is HASH sampling — a row is selected
iff hash(stable_key) falls under a threshold — which is reproducible
across runs, engines, partitionings, and cluster sizes, and composes
(a 1% sample of a 10% sample is the same rows every time).

The hash here is the first 15 hex digits of sha2-256 of the key (60
bits, uniform), mapped to a fraction in [0, 1) — pure JVM expression
(sha2 + substring + conv: whole-stage codegen, no Python, no lambda),
and exactly recomputable by an ANSI-SQL oracle from the same hex
digits.  A seed string is concatenated into the key so different
samples of the same table are independent.

The reference has no sampling operator (it processes every tile); this
module is part of the engine's training-data surface (brief: "the
operations a large-scale training-data pipeline would need").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["hash_fraction_col", "hash_sample", "hash_split",
           "stratified_sample", "weighted_mixture", "cap_per_key",
           "epoch_shuffle", "sql_epoch_shuffle",
           "weighted_priority_sample", "sql_weighted_priority_sample"]

# 16^15 — the denominator for the 15-hex-digit uniform draw
_DENOM = 1 << 60


def hash_fraction_col(key: Column, seed: str = "") -> Column:
    """Uniform [0, 1) draw as a DOUBLE, derived deterministically from
    `key` (and `seed`): conv(substr(sha2(key||seed), 1, 15), 16, 10)
    / 16^15.  60 bits is exact in both bigint and float64."""
    h = F.sha2(F.concat(key.cast("string"), F.lit(seed)), 256)
    return (
        F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint")
        / F.lit(float(_DENOM))
    )


def hash_sample(
    df: DataFrame,
    fraction: float,
    key_col: str = "url",
    seed: str = "",
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose hash fraction is
    < `fraction`.  Same rows on every run/engine/cluster size; the
    filter is a map-only JVM predicate that pushes no shuffle."""
    return df.where(hash_fraction_col(F.col(key_col), seed) < F.lit(fraction))


def hash_split(
    df: DataFrame,
    splits: list[tuple[str, float]] | None = None,
    key_col: str = "url",
    seed: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: adds `split_col`
    labelling each row by where its hash draw falls in the cumulative
    split boundaries — e.g. [("train", .98), ("val", .01)] labels draws
    <.98 train, <.99 val, everything else the LAST split ("test" by
    default when two named splits leave a remainder... the last listed
    split takes the tail, so list the residual split last with its
    nominal weight; weights must sum to 1 within float tolerance).

    Why hash, not rand(): the assignment must be stable under retries,
    resumes, repartitioning, engine swaps, and corpus growth — a doc's
    split NEVER changes when other docs are added or the cluster is
    resized, which is what prevents silent eval-set leakage into a
    retrained model.  Map-only JVM expression (sha2+conv CASE chain):
    no shuffle, no Python, fully pushdown-friendly."""
    if splits is None:
        splits = [("train", 0.98), ("val", 0.01), ("test", 0.01)]
    if len(splits) < 2:
        raise ValueError("need at least two splits")
    total = sum(w for _, w in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    draw = hash_fraction_col(F.col(key_col), seed)
    expr = F.lit(splits[-1][0])  # tail split absorbs rounding residue
    cum = 0.0
    bounds = []
    for name, w in splits[:-1]:
        cum += w
        bounds.append((name, cum))
    for name, b in reversed(bounds):
        expr = F.when(draw < F.lit(b), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    key_col: str = "url",
    seed: str = "",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic stratified sample: per-stratum keep-fractions (the
    training-mixture knob — e.g. keep 100% of rare languages, 5% of the
    dominant one).  Still map-only: the per-stratum threshold is a CASE
    expression over the broadcast-small `fractions` literal map."""
    thr = F.lit(float(default_fraction))
    for value, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col) == F.lit(value), F.lit(float(frac))
        ).otherwise(thr)
    return df.where(hash_fraction_col(F.col(key_col), seed) < thr)


def cap_per_key(
    df: DataFrame,
    cap: int,
    key_col: str = "source",
    row_key_col: str = "doc_id",
    seed: str = "",
    _margin: float = 12.0,
) -> DataFrame:
    """Deterministic per-key quota: keep at most `cap` rows per
    `key_col`, chosen as the `cap` smallest hash draws over
    `row_key_col` (which must be row-unique) — the per-domain cap every
    web-corpus pipeline applies so a handful of giant hosts cannot
    dominate the training mixture.

    Semantics (exactly what the SQL oracle computes):
        ROW_NUMBER() OVER (PARTITION BY key ORDER BY draw, row_key) <= cap

    but WITHOUT a window over the raw groups: on a real corpus the hot
    domains are exactly the ones being capped, each would be a single
    window partition a lone task must sort (AQE cannot split window
    partitions — the round-4 line_dedup lesson).  Instead:

    1. per-key counts via groupBy (partial map-side aggregation absorbs
       hot keys before the shuffle);
    2. keys with n <= cap keep every row — no ordering work at all;
    3. for capped keys, the cap-th smallest of n uniform draws
       concentrates at cap/n, so the flag
       draw < (cap + 12*sqrt(cap) + 40) / n
       marks ~cap + O(sqrt(cap)) candidate rows per key (a map-only
       JVM predicate); the exact row_number window then runs on groups
       whose size is ~cap by construction — bounded, skew-free;
    4. short-key rescue: a key with fewer than `cap` flagged rows
       (astronomically unlikely, or none at all) keeps EVERY row as a
       candidate.  The flagged rows of a key are a prefix of its
       (draw, row_key) order, so a key with >= cap of them has its top
       `cap` among them; the result is EXACT for every input, never
       approximate.  The per-key flagged counts are left-joined back
       (a key with zero flagged rows is absent from them and counts
       as 0) in the same lazy plan — no driver action, no re-plan.

    The hashed base is checkpointed (session.py lifetime rule), so the
    counts, the flagged counts and the final rows all read one
    materialized scan instead of re-hashing the input; the returned
    frame owns those blocks.  Nothing runs when this is called (for an
    input without shuffles; with AQE, the checkpoint runs an input's
    shuffle stages at the call).

    The draw is the same sha2-hex-prefix uniform as hash_sample —
    60-bit integer / 2^60, exact in float64, bit-identical in any
    engine — and ties are broken by row_key, so the kept set is
    reproducible across runs, engines, partitionings, cluster sizes.
    """
    from pyspark.sql import Window

    out_cols = [F.col(c) for c in df.columns]
    base = df.withColumn(
        "_draw", hash_fraction_col(F.col(row_key_col), seed)
    ).localCheckpoint(eager=False)

    def join_key(left: DataFrame, right: DataFrame, how: str) -> DataFrame:
        # null-safe (<=>): NULL keys form one group, as in the window's
        # PARTITION BY; a plain equi-join would drop them
        r = right.withColumnRenamed(key_col, "_k")
        return left.join(
            r, F.col(key_col).eqNullSafe(F.col("_k")), how
        ).drop("_k")

    counts = base.groupBy(key_col).agg(F.count("*").alias("_n"))
    joined = join_key(base, counts, "inner")

    small = joined.where(F.col("_n") <= F.lit(cap)).select(*out_cols)
    big = joined.where(F.col("_n") > F.lit(cap))

    thr = F.least(
        F.lit(1.0),
        (F.lit(float(cap)) + F.lit(_margin) * F.lit(float(cap)) ** 0.5
         + F.lit(40.0)) / F.col("_n").cast("double"),
    )
    flagged = big.withColumn("_in", F.col("_draw") < thr)
    n_flagged = flagged.where(F.col("_in")).groupBy(key_col).agg(
        F.count("*").alias("_c")
    )
    cand = join_key(flagged, n_flagged, "left").where(
        F.col("_in") | (F.coalesce(F.col("_c"), F.lit(0)) < F.lit(cap))
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col("_draw").asc(), F.col(row_key_col).asc())
    )
    capped = (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.lit(cap))
        .select(*out_cols)
    )
    return small.unionByName(capped)


def weighted_mixture(
    df: DataFrame,
    weights: dict[str, float],
    strata_col: str = "lang",
    key_col: str = "url",
    seed: str = "",
    default_weight: float = 1.0,
) -> DataFrame:
    """Deterministic fractional up/down-sampling — the training-mixture
    epoch knob (e.g. weight 'zh' 2.5x, 'en' 0.4x): every row appears
    floor(w) times plus one more iff its hash draw falls under frac(w),
    tagged with copy_id = 1..n.  Same hash-threshold determinism as
    hash_sample, so the materialized mixture is identical on every
    run/engine/cluster size.  Map-only: a CASE weight, one comparison,
    one sequence-explode — no shuffle, no Python.

    A frame that already has copy_id (an earlier mixture) keeps its
    copies apart: every copy of a row draws the same n, so the k-th
    copy of copy c gets copy_id (c - 1) * n + k, again 1..N per row."""
    w = F.lit(float(default_weight))
    for value, wt in sorted(weights.items()):
        w = F.when(
            F.col(strata_col) == F.lit(value), F.lit(float(wt))
        ).otherwise(w)
    base = F.floor(w).cast("bigint")
    extra = (hash_fraction_col(F.col(key_col), seed) < (w - base)).cast("bigint")
    copy_id = F.col("_k")
    if "copy_id" in df.columns:
        copy_id = (F.col("copy_id") - 1) * F.col("_n") + copy_id
    return (
        df.withColumn("_n", base + extra)
        .where(F.col("_n") > 0)
        .withColumn(
            "_k", F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("_n")))
        )
        .withColumn("copy_id", copy_id)
        .drop("_n", "_k")
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    n_shards: int = 1024,
    key_col: str = "doc_id",
    seed: str = "",
) -> DataFrame:
    """Deterministic per-epoch training order: every row gets a
    (shard, pos) address for this epoch — readers stream shards in id
    order and rows in pos order and every run/engine/cluster size sees
    the SAME permutation, while different epochs see independent ones.
    rand()-based shuffles lose all three properties on retry/resume.

    Mechanics: a 48-bit draw h = sha2(key || '#' || epoch || seed)
    (sketches.hash48 — the 12-hex-digit scheme an ANSI oracle
    recomputes digit-by-digit); shard = h % n_shards; pos =
    ROW_NUMBER within the shard ordered by (h, key) — the key
    tie-break makes 48-bit collisions harmless.  The per-shard window
    is the pack_sequences shape: shards are uniform (hash-assigned),
    so no hot key exists and per-task volume is rows/n_shards — size
    n_shards ~ corpus_rows / 1e6 at scale (the documented packing
    sizing rule)."""
    from .sketches import hash48

    h = hash48(F.concat(F.col(key_col).cast("string"),
                         F.lit(f"#{epoch}")), seed)
    from pyspark.sql import Window

    win = Window.partitionBy("shard").orderBy("_h", key_col)
    return (
        df.select(F.col(key_col), h.alias("_h"))
        .withColumn("shard", (F.col("_h") % n_shards).cast("bigint"))
        .withColumn("pos", F.row_number().over(win).cast("bigint"))
        .select(key_col, "shard", "pos")
    )


def sql_epoch_shuffle(
    epoch: int,
    n_shards: int = 1024,
    table: str = "documents",
    key_col: str = "doc_id",
    seed: str = "",
) -> str:
    """DuckDB twin of epoch_shuffle."""
    from .sketches import sql_hexint12

    h = sql_hexint12(f"CAST({key_col} AS VARCHAR) || '#{epoch}'", seed)
    return f"""
WITH drawn AS (
  SELECT {key_col}, {h} AS h FROM {table}
)
SELECT {key_col},
       CAST(h % {n_shards} AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY h % {n_shards}
                               ORDER BY h, {key_col}) AS BIGINT) AS pos
FROM drawn
"""


def weighted_priority_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    group_col: str | None = None,
    key_col: str = "doc_id",
    seed: str = "",
    salt_buckets: int = 32,
) -> DataFrame:
    """Deterministic weighted top-k sample (per group, or global when
    `group_col` is None): each row draws the 48-bit hash
    h = sha2(key || seed) and competes with integer priority

        prio = h div max(weight, 1)

    — smaller wins, so a row's selection chance rises monotonically
    with its weight, zero/negative weights degrade to weight 1, and
    equal weights reduce to plain hash sampling (hash_sample's
    determinism contract: same rows on every run/engine/partitioning).
    This is the ln-free integer sibling of Efraimidis–Spirakis
    priority sampling — the exponential-key transform would need
    float pow/ln the cross-engine oracle cannot pin, so the priority
    LAW differs from E-S (documented variant) while keeping the
    properties pipelines rely on: determinism, weight-monotonicity,
    and composability under corpus growth (an unselected row's
    priority never changes).

    Selection is topk.salted_top_k salted by key % salt_buckets —
    (prio, key) is a total order, so it equals a single global
    ranking; the oracle verifies with one QUALIFY."""
    from .sketches import hash48
    from .topk import salted_top_k

    g = F.coalesce(F.col(group_col).cast("string"), F.lit("")) \
        if group_col else F.lit("")
    w = F.greatest(F.col(weight_col).cast("bigint"), F.lit(1))
    base = (
        df.withColumn("_grp", g)
        .withColumn("_h", hash48(F.col(key_col), seed))
        .withColumn("_w", w)
        .withColumn("_prio", F.expr("_h div _w"))
    )
    return (
        salted_top_k(base, ["_grp"], ["_prio", key_col], k,
                     F.col(key_col), salt_buckets, "sample_rank")
        .withColumn("sample_rank", F.col("sample_rank").cast("bigint"))
        .drop("_grp", "_h", "_w", "_prio")
    )


def sql_weighted_priority_sample(
    k: int,
    weight_expr: str,
    group_expr: str | None = None,
    table: str = "documents",
    key_col: str = "doc_id",
    seed: str = "",
    cols: str = "doc_id, lang, source, n_chars",
) -> str:
    """DuckDB twin (single QUALIFY — equal to the engine's two-level
    selection because (prio, key) is a total order)."""
    from .sketches import sql_hexint12

    g = f"COALESCE(CAST({group_expr} AS VARCHAR), '')" if group_expr \
        else "''"
    return f"""
WITH drawn AS (
  SELECT {cols},
         {g} AS grp,
         {sql_hexint12(key_col, seed)}
           // GREATEST(CAST({weight_expr} AS BIGINT), 1) AS prio
  FROM {table}
)
SELECT {cols},
       CAST(ROW_NUMBER() OVER (PARTITION BY grp
                               ORDER BY prio, {key_col}) AS BIGINT)
         AS sample_rank
FROM drawn
QUALIFY sample_rank <= {k}
"""
