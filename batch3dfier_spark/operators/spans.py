"""Duplicate-span detection: find the maximal token runs of each
document that also appear verbatim elsewhere in the corpus — the
distributed form of exact-substring deduplication (the suffix-array
dedup of Lee et al., "Deduplicating Training Data Makes Language
Models Better", re-expressed as n-gram postings so it shards).

A span is reported, not silently removed: downstream policy decides
whether to strip spans, drop docs whose duplicated fraction is high,
or keep one canonical copy.  `strip_duplicate_spans` implements the
strip policy.

Pipeline (all pure JVM expression + three skew-safe shuffles):
1. positions: split each doc into whitespace tokens, posexplode the
   valid gram starts, gram = array_join(slice(tokens, pos+1, n)),
   hashed to 64 bits JVM-side (xxhash64) so only (doc_id, pos, hash)
   ever shuffles — never the gram text.
2. duplicated grams: distinct (gram, doc) pairs — a groupBy whose key
   includes doc_id, so a boilerplate gram shared by 1e9 docs is 1e9
   DIFFERENT keys, not one hot group — then count docs per gram and
   keep grams in >= min_docs docs.
3. duplicated positions: semi-join positions against the duplicated
   gram set (an equi-join on the hash; AQE's skew-join split applies
   if one gram dominates).
4. spans: per doc, merge overlapping gram intervals [pos, pos+n) with
   the islands-and-gaps idiom — lag(pos) + running sum of breaks.
   The window partitions by doc_id, whose group size is bounded by the
   document's own token count — bounded by construction, the only kind
   of window key this engine allows (AQE cannot split window
   partitions).

Determinism: token positions and gram equality are pure functions of
the text; the oracle replays the same pipeline on gram STRINGS (no
hash), so a 64-bit xxhash collision could in principle mark a
non-duplicated position — the same accepted 2^-64-per-pair risk the
decontamination operator documents.

Same non-ASCII-whitespace boundary as every tokenizer in this engine:
Spark's \\s and DuckDB's \\s agree on ASCII whitespace; exotic Unicode
spaces may tokenize differently (documented in textstats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["duplicate_spans", "strip_duplicate_spans", "sql_duplicate_spans"]


def gram_positions(df: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    return (
        df.select(F.col(id_col), toks.alias("_toks"))
        .select(
            id_col,
            "_toks",
            F.posexplode(
                F.slice(
                    F.col("_toks"),
                    1,
                    F.greatest(F.size("_toks") - (n - 1), F.lit(0)),
                )
            ).alias("pos", "_tok"),
        )
        .select(
            id_col,
            "pos",
            F.xxhash64(
                F.array_join(F.slice("_toks", F.col("pos") + 1, n), " ")
            ).alias("gram"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, span_id, start_tok, end_tok, n_dup_grams) — the maximal
    merged token intervals of each doc covered by word n-grams that
    occur in >= min_docs distinct docs.  end_tok is exclusive;
    span_id is 1-based in pos order within the doc.  The gram
    positions are checkpointed (session.py lifetime rule), which runs
    any shuffle stages of `df` when this is called."""
    # positions feeds BOTH the gram-count branch and the semi-join
    # probe; without a checkpoint the tokenize + posexplode + per-gram
    # array_join/xxhash pass over the whole corpus runs twice (round-7)
    pos = gram_positions(df, n, text_col, id_col).localCheckpoint(
        eager=False
    )
    dup_grams = (
        pos.select("gram", id_col)
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .where(F.col("_nd") >= F.lit(min_docs))
        .select("gram")
    )
    dp = pos.join(dup_grams, "gram", "leftsemi").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull()
        | (F.col("pos") > F.lag("pos").over(w) + F.lit(n)),
        F.lit(1),
    ).otherwise(F.lit(0))
    run = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        dp.withColumn("_brk", brk)
        .withColumn("span_id", F.sum("_brk").over(run))
        .groupBy(id_col, "span_id")
        .agg(
            F.min("pos").alias("start_tok"),
            (F.max("pos") + F.lit(n)).alias("end_tok"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
    )


def strip_duplicate_spans(
    df: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rewrite each doc's text with every duplicated span's tokens
    removed (the strip policy of exact-substring dedup).  Docs with no
    duplicated span keep their text verbatim — but note the rewrite
    path re-joins tokens with single spaces, so stripped docs are
    whitespace-normalized.  Same shape as line_dedup's reassembly:
    posexplode tokens, anti-join the covered positions, groupBy-doc
    ordered re-concat."""
    spans = duplicate_spans(df, n, min_docs, text_col, id_col)
    covered = spans.select(
        id_col,
        F.explode(
            F.sequence(F.col("start_tok"), F.col("end_tok") - 1)
        ).alias("pos"),
    ).distinct()
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    all_pos = df.select(F.col(id_col), toks.alias("_toks")).select(
        id_col, F.posexplode("_toks").alias("pos", "tok")
    )
    kept = all_pos.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("pos", "tok"))
                ).getField("tok"),
                " ",
            ).alias(text_col)
        )
    )
    return (
        df.drop(text_col)
        .join(rebuilt, id_col, "left")
        .withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    )


def sql_duplicate_spans(
    n: int = 8,
    min_docs: int = 2,
    text: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB twin of duplicate_spans: same pipeline over gram STRINGS
    (list-comprehension grams, LAG + running-SUM islands)."""
    return f"""
WITH toks AS (
  SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(COALESCE({text}, '')), '\\s+') AS t
  FROM {table}
),
g AS (
  SELECT doc_id, u.i - 1 AS pos,
         ARRAY_TO_STRING(t[u.i:u.i + {n - 1}], ' ') AS gram
  FROM toks,
       UNNEST(RANGE(1, GREATEST(LEN(t) - {n - 1}, 0) + 1)) AS u(i)
),
dup AS (
  SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM g)
  GROUP BY gram HAVING COUNT(*) >= {min_docs}
),
dp AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)
),
brk AS (
  SELECT doc_id, pos,
         CASE WHEN LAG(pos) OVER w IS NULL
                OR pos > LAG(pos) OVER w + {n} THEN 1 ELSE 0 END AS b
  FROM dp
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl AS (
  SELECT doc_id, pos,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS span_id
  FROM brk
)
SELECT doc_id, span_id,
       MIN(pos) AS start_tok,
       MAX(pos) + {n} AS end_tok,
       COUNT(*) AS n_dup_grams
FROM isl
GROUP BY doc_id, span_id
"""
