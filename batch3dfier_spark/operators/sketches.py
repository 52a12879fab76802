"""KMV (k-minimum-values) distinct-cardinality sketches.

Corpus accounting at 100 TB needs per-stratum distinct counts (unique
tokens per source, unique urls per snapshot, vocabulary growth curves)
where exact COUNT(DISTINCT) would shuffle every distinct value.  The
KMV estimator (Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07) keeps
only the k smallest hash values per group: if the k-th smallest of n
uniform draws over [0, D) lands at h_k, then n ≈ (k-1) * D / h_k.

Exactness discipline: the hash is the first 12 hex digits of
sha2-256(token || seed) — a 48-bit uniform integer the DuckDB oracle
recomputes digit-by-digit (same scheme as sampling.hash_fraction_col,
12 digits instead of 15 so (k-1) * 2^48 stays inside bigint for any
k <= 2^15).  The estimate is the pure-integer

    est = n_ret                          if n_ret < k   (exact regime)
    est = ((k-1) * 2^48) div h_k         otherwise

so Spark and DuckDB agree bit-for-bit.  The estimated quantity is
"distinct 48-bit token hashes" — indistinguishable from distinct
tokens until cardinalities approach 2^24 per group, and an estimator
either way.

Scale shapes (100 TB):
- distinct (group, h) is a hash-agg whose key INCLUDES the hash, so a
  hot group never forms one reduce key.
- k-smallest selection is topk.salted_top_k (the hash order is
  total): a (group, h % salt_buckets) window
  keeps k per salt, the final per-group window ranks <= k*salt_buckets
  survivors.  Per-salt window volume is distinct/salt_buckets — size
  salt_buckets ~ expected_distinct / 1e6 (the pack_sequences sizing
  rule) so no task sorts more than ~1e6 rows.
- output is one row per group: the sketch itself (k 48-bit values) is
  never materialized wider than k rows per group.

Reference analog: none (the reference has no statistics surface); this
sits with vocab_topk / corpus_stats in the corpus-analysis layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .topk import salted_top_k

__all__ = [
    "kmv_distinct", "sql_kmv_distinct",
    "bloom_build", "bloom_probe", "sql_bloom_probe",
    "cms_build", "cms_estimate", "sql_cms_estimate",
]

_BITS = 48
_D = 1 << _BITS  # hash space


def hash48(col, seed: str):
    return F.conv(
        F.substring(F.sha2(F.concat(col.cast("string"), F.lit(seed)), 256),
                    1, 12),
        16, 10,
    ).cast("bigint")


def kmv_distinct(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 64,
    seed: str = "",
    salt_buckets: int = 16,
) -> DataFrame:
    """(group, n_retained, kth_hash, est_distinct) per group: KMV
    distinct-token estimate.  Groups with < k distinct hashes report
    their exact count (kth_hash = the largest retained hash)."""
    if k < 2:
        raise ValueError("k must be >= 2")
    t = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    toks = F.when(
        F.length(t) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(t, r"\s+"))
    # distinct tokens FIRST, sha-hash second (round-7): the 48-bit hash
    # is a sha256 per row, so hashing after the (grp, token) distinct
    # computes it once per distinct token instead of once per
    # occurrence; the h-level distinct stays so a (rare) token-hash
    # collision still collapses to one row exactly as before
    hashes = (
        df.select(F.col(group_col).alias("grp"),
                  F.explode(toks).alias("token"))
        .distinct()
        .select("grp", hash48(F.col("token"), seed).alias("h"))
        .distinct()
    )
    kept = salted_top_k(hashes, ["grp"], ["h"], k, F.col("h"),
                        salt_buckets, "_rn")
    return (
        kept.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_retained"),
            F.max("h").cast("bigint").alias("kth_hash"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_retained",
            "kth_hash",
            F.when(
                F.col("n_retained") < k, F.col("n_retained")
            ).otherwise(
                F.expr(f"({k - 1} * cast({_D} as bigint)) div kth_hash")
            ).cast("bigint").alias("est_distinct"),
        )
    )


def sql_hexint12(key_expr: str, seed: str) -> str:
    """First 12 hex digits of sha256(key || seed) as a BIGINT (DuckDB
    has no hex->int conv; positional ascii terms, the _sql_hex15
    scheme at 12 digits)."""
    terms = " + ".join(
        f"(ascii(substr(h, {j + 1}, 1)) - CASE WHEN "
        f"ascii(substr(h, {j + 1}, 1)) <= 57 THEN 48 ELSE 87 END)"
        f" * CAST({16 ** (11 - j)} AS BIGINT)"
        for j in range(12)
    )
    return (f"(SELECT ({terms}) FROM (SELECT sha256(CAST({key_expr} AS "
            f"VARCHAR) || '{seed}') AS h))")


def sql_kmv_distinct(
    k: int = 64,
    seed: str = "",
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
) -> str:
    """DuckDB twin: single-level ROW_NUMBER per group (equal to the
    engine's two-level selection because the hash order is total)."""
    t = f"TRIM(COALESCE({text_col}, ''))"
    return f"""
WITH occ AS (
  SELECT {group_col} AS grp,
         UNNEST(CASE WHEN LENGTH({t}) = 0 THEN CAST([] AS VARCHAR[])
                     ELSE REGEXP_SPLIT_TO_ARRAY({t}, '\\s+') END) AS token
  FROM {table}
), hashes AS (
  SELECT DISTINCT grp, {sql_hexint12("token", seed)} AS h FROM occ
), kept AS (
  SELECT grp, h FROM hashes
  QUALIFY ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) <= {k}
)
SELECT grp AS {group_col},
       CAST(COUNT(*) AS BIGINT) AS n_retained,
       CAST(MAX(h) AS BIGINT) AS kth_hash,
       CAST(CASE WHEN COUNT(*) < {k} THEN COUNT(*)
                 ELSE ({k - 1} * CAST({_D} AS BIGINT)) // MAX(h)
            END AS BIGINT) AS est_distinct
FROM kept GROUP BY grp
"""


# ---------------------------------------------------------------------------
# Bloom filter membership sketch
#
# The dedup/decontamination companion to KMV: a set-membership sketch
# with one-sided error (no false negatives, deterministic false
# positives), the structure a 100 TB pipeline broadcasts to cheaply
# pre-filter "have we seen this key?" before an exact anti-join —
# Spark itself uses the same idea for runtime row-group filtering.
#
# Representation: the DISTINCT set-bit indices, one row per bit — at
# most m rows regardless of input size, built by a hash-agg whose key
# IS the bit (a hot key sets the same bit; map-side combine absorbs
# it).  A production sink packs the <= m rows into m/64 words on
# write; the row form is what keeps the DuckDB oracle exact (DuckDB
# BIGINT << 63 overflows, so packed words would need HUGEINT staging
# for zero semantic gain).  Probing joins the (broadcast) filter on
# bit and declares maybe_member when all k probes hit — false
# positives are REQUIRED to match the oracle bit-for-bit, which the
# shared 48-bit sha2 hash law guarantees (same scheme as KMV above).
# ---------------------------------------------------------------------------



def _bloom_bits(col, m_bits: int, k: int, seed: str):
    return F.array(
        *[(hash48(col, f"{seed}bloom{i}") % m_bits) for i in range(k)]
    )


def bloom_build(
    df: DataFrame,
    key_col: str = "text",
    m_bits: int = 4096,
    k: int = 4,
    seed: str = "",
) -> DataFrame:
    """(bit) — the filter's distinct set-bit indices.  Mergeable by
    construction: bloom(A ∪ B) = DISTINCT(bloom(A) ∪ bloom(B))."""
    return (
        df.select(
            F.explode(_bloom_bits(F.col(key_col), m_bits, k, seed))
            .alias("bit")
        )
        .distinct()
    )


def bloom_probe(
    probes: DataFrame,
    bloom: DataFrame,
    key_col: str = "key",
    id_col: str = "probe_id",
    m_bits: int = 4096,
    k: int = 4,
    seed: str = "",
    broadcast_filter: bool = True,
) -> DataFrame:
    """(id, maybe_member) — maybe_member is true iff all k probe bits
    are set.  The filter side is broadcast by default (<= m rows); the
    per-probe explode is map-only and the count-hits groupBy keys on
    the probe id, so a hot probe key is k rows, never a hot group."""
    f = F.broadcast(bloom) if broadcast_filter else bloom
    exploded = probes.select(
        id_col,
        F.explode(_bloom_bits(F.col(key_col), m_bits, k, seed)).alias("bit"),
    )
    hits = (
        exploded.join(f.withColumn("_set", F.lit(1)), "bit", "left")
        .groupBy(id_col)
        .agg(F.sum(F.coalesce(F.col("_set"), F.lit(0))).alias("_n_hit"))
    )
    return probes.join(hits, id_col, "left").select(
        probes["*"],
        (F.coalesce(F.col("_n_hit"), F.lit(0)) >= F.lit(k))
        .alias("maybe_member"),
    )


def sql_bloom_probe(
    build_keys_sql: str,
    probes_sql: str,
    key_col: str = "key",
    id_col: str = "probe_id",
    m_bits: int = 4096,
    k: int = 4,
    seed: str = "",
    select_cols: str = "probe_id",
) -> str:
    """DuckDB twin: identical 48-bit sha2 bit law, identical distinct
    set-bit representation, identical all-k-hit membership rule —
    false positives reproduce exactly."""
    def bits(src: str, cols: str) -> str:
        pos = ", ".join(
            f"({sql_hexint12(key_col, f'{seed}bloom{i}')}) % {m_bits}"
            for i in range(k)
        )
        return (f"SELECT {cols} UNNEST([{pos}]) AS bit "
                f"FROM ({src})")
    return f"""
WITH bloom AS (
  SELECT DISTINCT bit FROM ({bits(build_keys_sql, '')})
),
probe_bits AS (
  {bits(probes_sql, id_col + ',')}
),
hits AS (
  SELECT {id_col}, COUNT(b.bit) AS n_hit
  FROM probe_bits p LEFT JOIN bloom b USING (bit)
  GROUP BY {id_col}
)
SELECT {select_cols}, (COALESCE(h.n_hit, 0) >= {k}) AS maybe_member
FROM ({probes_sql}) pr LEFT JOIN hits h USING ({id_col})
"""


# ---------------------------------------------------------------------------
# Count-min sketch — frequency estimation in sublinear space
# ---------------------------------------------------------------------------

def _cms_cells(col, depth: int, width: int, seed: str):
    return F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (hash48(col, f"{seed}cms{d}") % width).alias("w"),
            )
            for d in range(depth)
        ]
    )


def cms_build(
    df: DataFrame,
    key_col: str = "token",
    depth: int = 4,
    width: int = 1024,
    seed: str = "",
) -> DataFrame:
    """(d, w, n) — the depth x width counter table of the count-min
    sketch (Cormode & Muthukrishnan 2005) as sparse rows: every input
    occurrence increments one cell per depth row.  Estimates are
    one-sided (never under the true count); errors are DETERMINISTIC
    functions of the 48-bit sha2 cell law, so the DuckDB oracle
    reproduces even the collision overestimates bit-for-bit.
    Mergeable: cms(A ∪ B) = (cms(A) ∪ cms(B)).groupBy(d, w).sum(n).

    Scale shape: one map-only explode (depth rows per occurrence) +
    one partial-aggregating groupBy over at most depth*width cells —
    a hot token combines map-side into its cells like any hash agg."""
    return (
        df.select(
            F.explode(
                _cms_cells(F.col(key_col), depth, width, seed)
            ).alias("c")
        )
        .groupBy(
            F.col("c.d").alias("d"), F.col("c.w").alias("w")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def cms_estimate(
    probes: DataFrame,
    cms: DataFrame,
    key_col: str = "token",
    depth: int = 4,
    width: int = 1024,
    seed: str = "",
    broadcast_sketch: bool = True,
) -> DataFrame:
    """(probe cols..., est) — est = min over depth rows of the probed
    cells (0 if any cell is absent).  The sketch side is broadcast by
    default (<= depth*width rows); the per-probe explode is map-only
    and the min-agg keys on the probe key, so a hot probe is depth
    rows, never a hot group."""
    s = F.broadcast(cms) if broadcast_sketch else cms
    exploded = probes.select(
        key_col,
        F.explode(
            _cms_cells(F.col(key_col), depth, width, seed)
        ).alias("c"),
    ).select(key_col, F.col("c.d").alias("d"), F.col("c.w").alias("w"))
    cells = (
        exploded.join(s, ["d", "w"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("est"))
    )
    return probes.join(cells, key_col).select(probes["*"], "est")


def sql_cms_estimate(
    build_keys_sql: str,
    probes_sql: str,
    key_col: str = "token",
    depth: int = 4,
    width: int = 1024,
    seed: str = "",
) -> str:
    """DuckDB twin: identical 48-bit sha2 cell law, identical sparse
    counter table, identical min-over-rows estimate — collision
    overestimates reproduce exactly."""
    def cells(src: str, extra: str) -> str:
        pos = ", ".join(
            f"{{'d': {d}, 'w': ({sql_hexint12(key_col, f'{seed}cms{d}')})"
            f" % {width}}}"
            for d in range(depth)
        )
        return (f"SELECT {extra} UNNEST([{pos}], recursive := true) "
                f"FROM ({src})")

    return f"""
WITH cms AS (
  SELECT d, w, CAST(COUNT(*) AS BIGINT) AS n
  FROM ({cells(build_keys_sql, '')})
  GROUP BY d, w
),
probe_cells AS (
  {cells(probes_sql, key_col + ',')}
)
SELECT p.{key_col},
       CAST(MIN(COALESCE(c.n, 0)) AS BIGINT) AS est
FROM probe_cells p LEFT JOIN cms c USING (d, w)
GROUP BY p.{key_col}
"""
