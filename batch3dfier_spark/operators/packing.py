"""Sequence packing: place every document into fixed-size training
sequences (the GPT-style pretraining layout — concatenate the corpus
shard-by-shard and cut every `n_ctx` tokens, letting documents span a
cut).  The packer does not materialize token arrays; it computes, per
document, WHERE its tokens land: (shard, seq_id, seq_off) plus whether
it spans a sequence boundary.  A writer can then group by (shard,
seq_id) to emit the actual token blocks.

Distribution/scale:
- the shard is `doc_id % n_shards` — uniform by construction, so the
  one window this operator needs (a running token-count sum per shard,
  ordered by doc_id) runs over same-sized groups; there is no hot key
  for the window to straggle on (the round-4 lesson: AQE cannot split
  window partitions, so windows are only allowed over keys whose group
  size is bounded by construction).
- n_shards SIZING RULE (round-5 verdict #7): each shard's full row set
  sorts on ONE task, so per-task volume is corpus_tokens / n_shards —
  choose n_shards = ceil(corpus_tokens / tokens_per_shard) with
  tokens_per_shard a few times 1e7 (a few hundred MB of text).  Pass
  n_shards=None to have the packer derive exactly that from one cheap
  SUM aggregation instead of defaulting a 100 TB corpus into
  1024 x 100 GB window partitions.
- tokenizer pluggability: `n_tokens_col` (pack_sequences) /
  `tokens_col` (emit_sequences) accept a PRECOMPUTED BPE count /
  token array from an upstream tokenizer, so the layout is faithful
  to real token budgets; the built-in whitespace tokenization is the
  self-contained default.
- everything is a pure JVM expression (token_count's split + size, one
  windowed SUM) — whole-stage codegen, no Python.

Determinism: (shard, seq_id, seq_off) depend only on (doc_id, copy_id)
order and token counts, so the layout is identical on every run, engine,
partitioning, and cluster size — and exactly reproducible by an
ANSI-SQL oracle (SUM OVER ... ROWS UNBOUNDED PRECEDING).

The reference has no packing analog (its unit of work is a tile); this
module is part of the engine's training-data surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import sql_token_count, token_count

__all__ = ["pack_sequences", "emit_sequences", "chunk_docs",
           "sql_pack_sequences", "sql_emit_sequences", "sql_chunk_docs"]


def pack_sequences(
    df: DataFrame,
    n_ctx: int,
    n_shards: int | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_tokens_col: str | None = None,
    tokens_per_shard: int = 50_000_000,
) -> DataFrame:
    """Assign every document its place in the packed layout.

    `n_tokens_col` names a PRECOMPUTED per-document token count (e.g.
    from an upstream BPE tokenizer) that drives the layout instead of
    the built-in whitespace count — real pretraining packs tokenizer
    tokens, not words.  `n_shards=None` derives the shard count from
    one SUM aggregation as ceil(total_tokens / tokens_per_shard), the
    sizing rule that bounds each shard's window partition to
    tokens_per_shard tokens on one task.

    Returns the input's columns plus:
      shard     — doc_id % n_shards (uniform; the packing unit)
      n_tokens  — token count of the document (whitespace or supplied)
      seq_id    — index (within the shard) of the n_ctx-token sequence
                  the document STARTS in
      seq_off   — token offset of the document inside that sequence
      spans     — true iff the document crosses into the next sequence
                  (its tail is cut there, exactly like GPT packing)

    Copies of a document (the rows sampling.weighted_mixture tags with
    copy_id) each take their own span, in copy_id order.
    """
    tok = (
        F.col(n_tokens_col).cast("bigint")
        if n_tokens_col is not None
        else token_count(F.col(text_col))
    )
    if n_shards is None:
        total = df.agg(F.sum(tok.cast("bigint"))).first()[0] or 0
        n_shards = max(1, -(-int(total) // int(tokens_per_shard)))
    shard = F.pmod(F.col(id_col), F.lit(n_shards)).cast("int")
    order = [id_col] + (["copy_id"] if "copy_id" in df.columns else [])
    w = (
        Window.partitionBy("shard")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn("shard", shard)
        .withColumn("n_tokens", tok.cast("bigint"))
        .withColumn(
            "_cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .withColumn(
            "seq_id", F.floor(F.col("_cum_before") / F.lit(n_ctx)).cast("bigint")
        )
        .withColumn(
            "seq_off", F.pmod(F.col("_cum_before"), F.lit(n_ctx)).cast("bigint")
        )
        .withColumn(
            "spans",
            (F.col("seq_off") + F.col("n_tokens")) > F.lit(n_ctx),
        )
        .drop("_cum_before")
    )


def emit_sequences(
    df: DataFrame,
    n_ctx: int,
    n_shards: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """The writer half of packing: materialize the actual training
    sequences — (shard, seq_id, seq_text, n_tokens) where seq_text is
    the space-joined run of exactly n_ctx tokens cut from the shard's
    doc_id-ordered concatenation (the final sequence of a shard may be
    shorter).  Documents spanning a cut are split across two rows,
    exactly as the layout from `pack_sequences` promises.

    `tokens_col` names a PRECOMPUTED array<string> token column (e.g.
    stringified BPE ids from an upstream tokenizer) to pack instead of
    the built-in whitespace split — the layout then matches
    pack_sequences(n_tokens_col=size(tokens_col)) exactly.

    Scale shape: the same uniform-shard window as pack_sequences, then
    one posexplode (one row per TOKEN — this is the step that
    materializes the corpus, unavoidable for a writer) and a groupBy
    (shard, seq_id) whose groups are exactly n_ctx rows — bounded by
    construction, no skew possible.  collect_list here is legitimate:
    each group is one training sequence, n_ctx tokens, the unit the
    writer must hold anyway.  Everything JVM-side."""
    tok_arr = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks_expr = (
        F.coalesce(F.col(tokens_col), F.array().cast("array<string>"))
        if tokens_col is not None
        else F.when(
            F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) == 0,
            F.array().cast("array<string>"),
        ).otherwise(tok_arr)
    )
    toks = (
        df.select(
            F.col(id_col),
            F.pmod(F.col(id_col), F.lit(n_shards)).cast("int").alias("shard"),
            toks_expr.alias("_toks"),
        )
        .withColumn(
            "_cum_before",
            F.coalesce(F.sum(F.size("_toks")).over(w), F.lit(0)),
        )
    )
    pos = toks.select(
        "shard",
        "_cum_before",
        F.posexplode("_toks").alias("_p", "_tok"),
    ).select(
        "shard",
        (F.col("_cum_before") + F.col("_p")).alias("_idx"),
        "_tok",
    )
    return (
        pos.groupBy(
            "shard",
            F.floor(F.col("_idx") / F.lit(n_ctx)).cast("bigint").alias("seq_id"),
        )
        .agg(
            F.array_join(
                F.array_sort(F.collect_list(F.struct("_idx", "_tok"))).getField(
                    "_tok"
                ),
                " ",
            ).alias("seq_text"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        )
    )


def chunk_docs(
    df: DataFrame,
    n_ctx: int,
    stride: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Overlapping-chunk layout — the OTHER common training/embedding
    preparation (vs pack_sequences' concatenate-and-cut): each
    document is cut into windows of n_ctx tokens starting every
    `stride` tokens (stride < n_ctx ⇒ overlap of n_ctx - stride), the
    last window clamped to the document end.  Token-less documents
    emit no chunks.

    Returns (id, chunk_id, start_tok, end_tok, n_chunk_tokens).

    Scale shape: MAP-ONLY — token count, a sequence() explode, and
    integer arithmetic; no shuffle, no window, no Python anywhere, so
    it scales embarrassingly to any corpus size.  `n_tokens_col`
    plugs in a precomputed tokenizer count like pack_sequences."""
    if stride <= 0:
        raise ValueError(f"stride must be positive, got {stride}")
    tok = (
        F.col(n_tokens_col).cast("bigint")
        if n_tokens_col is not None
        else token_count(F.col(text_col)).cast("bigint")
    )
    with_n = df.select(F.col(id_col), tok.alias("_nt")).where(F.col("_nt") > 0)
    # chunk starts: 0, stride, 2*stride, ... < n_tokens
    n_chunks = F.expr(f"(_nt + {stride} - 1) div {stride}").cast("bigint")
    return (
        with_n.select(
            F.col(id_col),
            F.col("_nt"),
            F.explode(F.sequence(F.lit(0).cast("bigint"),
                                 (n_chunks - 1).cast("bigint"))).alias(
                "chunk_id"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            (F.col("chunk_id") * stride).cast("bigint").alias("start_tok"),
            F.least(F.col("chunk_id") * stride + n_ctx, F.col("_nt"))
            .cast("bigint").alias("end_tok"),
        )
        .withColumn(
            "n_chunk_tokens",
            (F.col("end_tok") - F.col("start_tok")).cast("bigint"),
        )
    )


def sql_chunk_docs(
    n_ctx: int,
    stride: int,
    text: str = "text",
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of chunk_docs (RANGE unnest = sequence explode)."""
    return f"""
WITH n AS (
  SELECT {id_col}, CAST({sql_token_count(text)} AS BIGINT) AS nt
  FROM {table}
),
c AS (
  SELECT {id_col}, nt,
         UNNEST(RANGE(0, (nt + {stride} - 1) // {stride})) AS chunk_id
  FROM n WHERE nt > 0
)
SELECT {id_col},
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * {stride} AS BIGINT) AS start_tok,
       CAST(LEAST(chunk_id * {stride} + {n_ctx}, nt) AS BIGINT) AS end_tok,
       CAST(LEAST(chunk_id * {stride} + {n_ctx}, nt)
            - chunk_id * {stride} AS BIGINT) AS n_chunk_tokens
FROM c
"""


def sql_pack_sequences(
    n_ctx: int,
    n_shards: int,
    text: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB twin of pack_sequences over `table(doc_id, {text})`."""
    return f"""
SELECT doc_id, shard, n_tokens,
       CAST(FLOOR(cum_before / {n_ctx}) AS BIGINT) AS seq_id,
       CAST(cum_before % {n_ctx} AS BIGINT) AS seq_off,
       (cum_before % {n_ctx}) + n_tokens > {n_ctx} AS spans
FROM (
  SELECT doc_id, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM (
    SELECT doc_id, CAST(doc_id % {n_shards} AS INT) AS shard,
           {sql_token_count(text)} AS n_tokens
    FROM {table}))
"""


def sql_emit_sequences(
    n_ctx: int,
    n_shards: int,
    text: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB twin of emit_sequences: same shard window, UNNEST-RANGE
    token positions, STRING_AGG ORDER BY global index."""
    t = f"TRIM(COALESCE({text}, ''))"
    return f"""
WITH toks AS (
  SELECT doc_id, CAST(doc_id % {n_shards} AS INT) AS shard,
         CASE WHEN LENGTH({t}) = 0 THEN CAST([] AS VARCHAR[])
              ELSE REGEXP_SPLIT_TO_ARRAY({t}, '\\s+') END AS tk
  FROM {table}
),
cum AS (
  SELECT shard, tk,
         COALESCE(SUM(LEN(tk)) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM toks
),
pos AS (
  SELECT shard, cb + u.i - 1 AS idx, tk[u.i] AS tok
  FROM cum, UNNEST(RANGE(1, LEN(tk) + 1)) AS u(i)
)
SELECT shard, CAST(idx // {n_ctx} AS BIGINT) AS seq_id,
       STRING_AGG(tok, ' ' ORDER BY idx) AS seq_text,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM pos
GROUP BY shard, seq_id
"""
