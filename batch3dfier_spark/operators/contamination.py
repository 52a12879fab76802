"""Benchmark-contamination scoring by n-gram overlap — the
GPT-3/Gopher/GPT-4-style soft decontamination that flags training
documents sharing word n-grams with an evaluation set (GPT-3 App. C
uses 13-gram overlap; Gopher and GPT-4 use close variants), sitting
beside the exact-match `decontaminate` the way fuzzy dedup sits
beside exact dedup.

Per document: the fraction of its DISTINCT word n-grams that also
occur anywhere in the benchmark corpus, as exact integer ppm —

    contam_ppm = (1e6 * n_hit) div n_grams      (0 for gram-less docs)
    contaminated = contam_ppm >= threshold_ppm AND n_grams > 0

Gram construction reuses the dup_spans posting law
(`operators/spans.py`): whitespace tokens, gram = the n-token window
at each valid start, xxhash64 of the space-joined window — only the
64-bit hash ever shuffles, never the gram text.  The oracle replays
the pipeline on gram STRINGS, so a hash-green match also certifies
the posting hash introduced no collision on the corpus (same
certificate dup_spans carries).

Scale shape (100 TB):
1. doc grams: map-only posexplode (positions never leave their task),
   then DISTINCT (doc_id, gram) — the key includes doc_id, so a
   boilerplate gram in 1e9 docs is 1e9 different keys, never one hot
   group (house rule).
2. benchmark grams: distinct over the eval corpus — benchmarks are
   MBs, not TBs, so this side is broadcast by default; the overlap
   probe is then a map-side semi-join and the only shuffles are the
   two distincts.  Pass broadcast_benchmark=False for a pathological
   benchmark and the semi-join degrades to a shuffled equi-join that
   AQE can skew-split.
3. per-doc counts: groupBy(doc_id) — uniform keys; left join back so
   gram-less (short) documents report 0 grams, ppm 0, clean.

Reference analog: none (the reference has no text surface); mandated
by the build brief's decontamination line.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .spans import gram_positions

__all__ = ["contamination", "sql_contamination", "DEFAULT_CONTAM_PPM"]

# GPT-3-style: any meaningful overlap flags the page; 5% of distinct
# grams is far above chance for n >= 6 yet catches partial inclusions
DEFAULT_CONTAM_PPM = 50_000


def contamination(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_ppm: int = DEFAULT_CONTAM_PPM,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """(id, n_grams, n_hit, contam_ppm, contaminated) — per-document
    distinct-n-gram overlap with the benchmark corpus; all counts and
    the ppm are exact BIGINT.  See module docstring for the law and
    the 100 TB shape."""
    doc_grams = (
        gram_positions(df.select(id_col, text_col), n, text_col, id_col)
        .select(id_col, "gram")
        .distinct()
    )
    bench_grams = (
        gram_positions(
            benchmark.select(F.col(text_col)).withColumn("_bid", F.lit(0)),
            n, text_col, "_bid",
        )
        .select("gram")
        .distinct()
    )
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    hits = (
        doc_grams.join(bench_grams, "gram", "leftsemi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    totals = doc_grams.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"))
    per_doc = (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(hits, id_col, "left")
        .withColumn("n_grams",
                    F.coalesce(F.col("n_grams"), F.lit(0)).cast("long"))
        .withColumn("n_hit",
                    F.coalesce(F.col("n_hit"), F.lit(0)).cast("long"))
    )
    num = F.lit(1_000_000) * F.col("n_hit")
    den = F.col("n_grams")
    ppm = F.when(den > 0, ((num - num % den) / den).cast("long")
                 ).otherwise(F.lit(0).cast("long"))
    return per_doc.withColumn("contam_ppm", ppm).withColumn(
        "contaminated",
        (F.col("n_grams") > 0) & (F.col("contam_ppm") >= F.lit(threshold_ppm)),
    )


def sql_contamination(
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_ppm: int = DEFAULT_CONTAM_PPM,
    corpus_sql: str = "SELECT doc_id, text FROM documents",
    benchmark_sql: str = "SELECT text FROM documents",
) -> str:
    """DuckDB twin replaying the pipeline on gram STRINGS (no hash):
    a hash-green match therefore certifies both the overlap law and
    the collision-freeness of the Spark-side xxhash64 postings."""
    def grams(src: str, cols: str) -> str:
        return f"""
  SELECT {cols} ARRAY_TO_STRING(toks[i : i + {n} - 1], ' ') AS gram
  FROM (
    SELECT *, REGEXP_SPLIT_TO_ARRAY(TRIM(COALESCE({text_col}, '')),
                                    '\\s+') AS toks
    FROM ({src})
  ), UNNEST(RANGE(1, GREATEST(LEN(toks) - {n - 1}, 0) + 1)) AS t(i)
"""
    return f"""
WITH corpus AS ({corpus_sql}),
doc_grams AS (
  SELECT DISTINCT {id_col}, gram FROM ({grams('SELECT * FROM corpus',
                                              id_col + ',')})
),
bench_grams AS (
  SELECT DISTINCT gram FROM ({grams(benchmark_sql, '')})
),
totals AS (
  SELECT {id_col}, COUNT(*)::BIGINT AS n_grams
  FROM doc_grams GROUP BY {id_col}
),
hits AS (
  SELECT {id_col}, COUNT(*)::BIGINT AS n_hit
  FROM doc_grams SEMI JOIN bench_grams USING (gram)
  GROUP BY {id_col}
)
SELECT d.{id_col},
       COALESCE(t.n_grams, 0)::BIGINT AS n_grams,
       COALESCE(h.n_hit, 0)::BIGINT AS n_hit,
       CASE WHEN COALESCE(t.n_grams, 0) > 0
            THEN (1000000 * COALESCE(h.n_hit, 0)) // t.n_grams
            ELSE 0 END::BIGINT AS contam_ppm,
       (COALESCE(t.n_grams, 0) > 0
        AND (CASE WHEN COALESCE(t.n_grams, 0) > 0
                  THEN (1000000 * COALESCE(h.n_hit, 0)) // t.n_grams
                  ELSE 0 END) >= {threshold_ppm}) AS contaminated
FROM corpus d
LEFT JOIN totals t USING ({id_col})
LEFT JOIN hits h USING ({id_col})
"""
