"""BM25 top-k retrieval (Robertson/Sparck Jones probabilistic
weighting, the Okapi BM25 form) over the documents table — the
retrieval companion to tfidf_topk (per-doc keywords) and ann_*
(dense-vector search): given a small query set, score every document
containing at least one query term and return each query's top-k.

Integer quantization (the cross-engine exactness scheme this repo pins
— no ln, no float multiply anywhere):

    N       = corpus doc count,  T = total token count,  dl = doc len
    reldl   = (1000 * dl * N) div T            -- dl in 1/1000 of avgdl
    idf_q   = (10000 * (2N - 2df + 1)) div (2df + 1)
              -- the Robertson (N - df + 0.5)/(df + 0.5) odds ratio,
              -- made rational by doubling, scaled 1e4; the standard ln
              -- is dropped (it is monotone, so per-term ORDERING is
              -- preserved; cross-term sums weigh rare terms harder
              -- than ln-BM25 would — a documented, deterministic
              -- variant, not an approximation error)
    denom   = 10000*tf + 3000 + 9*reldl
              -- = 1e4 * (tf + k1*(1 - b + b*dl/avgdl)), k1=1.2 b=0.75
    tfc_q   = (220000000 * tf) div denom       -- 1e4 * k1+1 saturation,
                                               -- bounded <= 22000
    score_q = sum over matched terms of idf_q * tfc_q
    pair (q, d) exists iff q and d share >= 1 term (score_q may be 0)

Every step is integer div on exact positive integers, so Spark, numpy
and DuckDB agree bit-for-bit.  Overflow bound: score_q <
n_query_terms * 4.4e8 * N — int64-safe to ~1e9 docs for 10-term
queries (the DuckDB twin sums in HUGEINT and casts the final value,
erroring rather than wrapping if a deployment exceeds it).

Scale shape (100 TB) — the round-7 rewrite.  The previous shape
broadcast the query terms and joined them against the per-(doc, token)
scored stream, then grouped the exploded pairs on (query_id, doc_id).
With Q queries over an N-doc corpus sharing a compact vocabulary that
explodes to O(sum_t qf(t) * df(t)) rows — 462M at the 50k-doc bench
scale, and the pair hash-aggregation (25.8M groups) was 163 s of the
run.  The decisions only need small per-doc metadata (guide §8:
shuffle keys and metadata, not exploded payloads), so now:

- ONE tokenize pass -> groupBy (doc, token) term frequencies (partial
  map-side combine; key contains doc_id so a hot token cannot skew);
- groupBy doc folds that into one row per doc: dl plus the doc's
  matched (token_index, tf) entries packed as int64s — the corpus
  never explodes past its distinct (doc, token) pairs;
- doc-frequency per query token and the corpus scalars (N, T) are
  vocabulary-sized aggregates collected to the driver (the query set
  is SMALL BY CONTRACT — the same contract the old shape used to
  broadcast it) and broadcast with the query-term incidence matrix;
- an Arrow kernel scores each doc batch against ALL queries with two
  integer matrix products (term_q matrix x 0/1 query incidence;
  presence x incidence for the >=1-shared-term rule) and emits only
  the batch's per-query top-k by the total order (score DESC, doc_id
  ASC) — a valid partial reduction, so the final ranking window sees
  O(n_batches * Q * k) rows instead of Q x N pairs.  The matmul runs
  in float64 BLAS when every partial sum is provably < 2^53 (exact),
  falling back to int64 otherwise.

Reference analog: none (the reference has no text surface); this is
the engine's sparse-retrieval layer.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["bm25_topk", "sql_bm25_topk", "token_occurrences"]

# matched (token_index, tf) entries ride one int64: tidx * 2^44 + tf.
# tf < 2^44 always (a doc would need 17.6e12 copies of one token);
# tidx < 2^19 bounds the query vocabulary at 524k distinct terms —
# far beyond any "small by contract" query set, checked at build.
_PACK_SHIFT = 44
_TIDX_MAX = 1 << 19
# the query incidence matrix is dense (n_vocab x n_queries): int8 in
# the broadcast, one float64 copy per scoring task.  2^24 cells bounds
# those at 16 MiB and 128 MiB; a query set past it raises instead of
# exhausting executor memory.
_INCIDENCE_MAX = 1 << 24


def token_occurrences(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, token) — one row per whitespace-separated token occurrence
    of the trimmed text; NULL or blank text yields no rows."""
    t = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    toks = F.when(
        F.length(t) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(t, r"\s+"))
    return df.select(F.col(id_col), F.explode(toks).alias("token"))


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
) -> DataFrame:
    """(query_id, doc_id, score_q, rank) — each query's top-k docs by
    quantized BM25 (set-of-words queries; ties broken by doc_id ASC).
    Docs sharing no term with a query never appear.  The partial top-k
    happens inside the scoring kernel (see module docstring), so no
    salted window is needed.

    Runs work when called: the queries are collected, and the per-doc
    state is checkpointed (session.py lifetime rule) and aggregated
    into the corpus statistics the kernel needs.  Raises ValueError
    when n_vocab x n_queries exceeds _INCIDENCE_MAX."""
    spark = docs.sparkSession
    out_schema = (f"query_id bigint, {id_col} bigint, "
                  "score_q bigint, rank bigint")

    # query-term incidence, driver-side (queries are SMALL BY CONTRACT)
    qpdf = (
        token_occurrences(queries, qtext_col, qid_col)
        .withColumnRenamed(qid_col, "query_id")
        .distinct()
        .toPandas()
    )
    if qpdf.empty:
        return spark.createDataFrame([], out_schema)
    vocab = sorted(qpdf["token"].unique())
    n_vocab = len(vocab)
    q_ids = np.sort(qpdf["query_id"].unique()).astype(np.int64)
    if n_vocab >= _TIDX_MAX or n_vocab * len(q_ids) > _INCIDENCE_MAX:
        raise ValueError(
            f"bm25_topk: {n_vocab} query terms x {len(q_ids)} queries "
            f"exceeds the small-by-contract bound ({_INCIDENCE_MAX} "
            f"incidence cells, < {_TIDX_MAX} terms); split the query set"
        )
    vidx = {t: i for i, t in enumerate(vocab)}
    qpos = {q: j for j, q in enumerate(q_ids)}
    incidence = np.zeros((n_vocab, len(q_ids)), dtype=np.int8)
    incidence[qpdf["token"].map(vidx).to_numpy(),
              qpdf["query_id"].map(qpos).to_numpy()] = 1

    vocab_df = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame({
                "token": vocab,
                "_tidx": np.arange(n_vocab, dtype=np.int64),
            })
        )
    )

    # one tokenize pass -> (doc, token) tf -> one row per doc carrying
    # dl + the packed matched entries.  The repartition parallelizes
    # the tokenize+partial-agg map stage when the source arrives as a
    # single small file.
    occ = token_occurrences(
        docs.repartition(spark.sparkContext.defaultParallelism),
        text_col, id_col,
    )
    full_tf = occ.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    packed = (F.col("_tidx") * F.lit(1 << _PACK_SHIFT) + F.col("tf"))
    per_doc = (
        full_tf.join(vocab_df, "token", "left")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("dl"),
            # collect_list skips nulls: unmatched tokens count toward
            # dl but contribute no packed entry
            F.collect_list(
                F.when(F.col("_tidx").isNotNull(), packed)
            ).alias("_terms"),
        )
        .localCheckpoint(eager=False)
    )

    # vocabulary-sized stats to the driver (reuse the checkpointed
    # per-doc state — no second corpus pass)
    n_docs, t_tokens = per_doc.agg(
        F.count(F.lit(1)).cast("bigint"), F.sum("dl").cast("bigint")
    ).first()
    dfr = (
        per_doc.select(F.explode("_terms").alias("_p"))
        .select(F.shiftrightunsigned(F.col("_p"), _PACK_SHIFT)
                .alias("_tidx"))
        .groupBy("_tidx").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .toPandas()
    )
    df_docs = np.zeros(n_vocab, dtype=np.int64)
    if len(dfr):
        df_docs[dfr["_tidx"].to_numpy()] = dfr["df"].to_numpy()

    bc = spark.sparkContext.broadcast(
        (q_ids, incidence, df_docs, int(n_docs), int(t_tokens or 0))
    )
    kk = int(k)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qi, inc, dfd, n, t = bc.value
        n_q = qi.shape[0]
        n_v = inc.shape[0]
        # idf per token index, once per task (integers, floor div on
        # positives == truncation in Spark/DuckDB)
        idf = (10000 * (2 * n - 2 * dfd + 1)) // (2 * dfd + 1)
        # exact-in-float64 proof: every A entry <= idf_max * 22000 and
        # every partial sum <= n_v * that; below 2^53 both are exact
        # under BLAS reassociation, so dgemm == integer matmul
        max_term = int(idf.max()) * 22000 if n_v else 0
        use_blas = n_v > 0 and max_term * max(n_v, 1) < (1 << 53)
        inc_f = inc.astype(np.float64)
        inc_i = None if use_blas else inc.astype(np.int64)
        # bound the dense scratch at ~4M cells per chunk: A and P are
        # (chunk, n_v), S and M are (chunk, n_q)
        chunk = max(1, 4_000_000 // max(n_v, n_q, 1))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            all_ids = pdf[id_col].to_numpy()
            all_dl = pdf["dl"].to_numpy()
            terms = pdf["_terms"]
            for lo in range(0, len(pdf), chunk):
                ids = all_ids[lo:lo + chunk]
                dl = all_dl[lo:lo + chunk]
                tl = terms.iloc[lo:lo + chunk]
                m = ids.shape[0]
                lens = np.fromiter((len(x) for x in tl), dtype=np.int64,
                                   count=m)
                if lens.sum() == 0:
                    continue
                rows = np.repeat(np.arange(m), lens)
                flat = np.concatenate([np.asarray(x, dtype=np.int64)
                                       for x in tl if len(x)])
                tidx = flat >> _PACK_SHIFT
                tf = flat & ((1 << _PACK_SHIFT) - 1)
                reldl = (1000 * dl.astype(np.int64) * n) // t
                tfc = (220000000 * tf) // (10000 * tf + 3000
                                           + 9 * reldl[rows])
                term_q = idf[tidx] * tfc
                A = np.zeros((m, n_v), dtype=np.int64)
                A[rows, tidx] = term_q
                P = np.zeros((m, n_v), dtype=np.float64)
                P[rows, tidx] = 1.0
                if use_blas:
                    S = (A.astype(np.float64) @ inc_f).astype(np.int64)
                else:
                    S = A @ inc_i
                M = P @ inc_f
                outs = []
                for c in range(n_q):
                    hit = M[:, c] > 0.0
                    cid = ids[hit]
                    if cid.size == 0:
                        continue
                    sc_ = S[hit, c]
                    # per-chunk partial top-k under the final total
                    # order (score DESC, doc_id ASC) — a valid partial
                    # reduction for global top-k
                    order = np.lexsort((cid, -sc_))[:kk]
                    outs.append(pd.DataFrame({
                        "query_id": qi[c],
                        id_col: cid[order],
                        "score_q": sc_[order],
                    }))
                if outs:
                    yield pd.concat(outs, ignore_index=True)

    ranked = per_doc.select(id_col, "dl", "_terms").mapInPandas(
        score, schema=f"query_id bigint, {id_col} bigint, score_q bigint"
    )
    final = Window.partitionBy("query_id").orderBy(
        F.col("score_q").desc(), F.col(id_col).asc()
    )
    return (
        ranked.withColumn("rank", F.row_number().over(final).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "score_q", "rank")
    )


def sql_bm25_topk(
    k: int = 5,
    table: str = "documents",
    queries_sql: str = "SELECT doc_id AS query_id, text AS qtext"
                       " FROM documents WHERE doc_id % 97 = 0",
) -> str:
    """DuckDB twin (single ROW_NUMBER over all matched pairs — the
    engine's kernel-side partial top-k provably selects the same rows
    because both use the total order (score DESC, doc_id ASC))."""
    return f"""
WITH occ AS (
  SELECT doc_id,
         UNNEST(CASE WHEN LENGTH(TRIM(COALESCE(text, ''))) = 0
                     THEN CAST([] AS VARCHAR[])
                     ELSE REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+')
                END) AS token
  FROM {table}
), q AS (
  SELECT DISTINCT query_id, UNNEST(
           CASE WHEN LENGTH(TRIM(COALESCE(qtext, ''))) = 0
                THEN CAST([] AS VARCHAR[])
                ELSE REGEXP_SPLIT_TO_ARRAY(TRIM(qtext), '\\s+') END
         ) AS token
  FROM ({queries_sql})
), mocc AS (
  SELECT occ.* FROM occ SEMI JOIN q ON occ.token = q.token
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM mocc GROUP BY doc_id, token
), dfreq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df_docs
  FROM tf GROUP BY token
), dl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM occ GROUP BY doc_id
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS t
  FROM dl
), scored AS (
  SELECT tf.doc_id, tf.token,
         ((10000 * (2 * s.n - 2 * dfreq.df_docs + 1))
            // (2 * dfreq.df_docs + 1))
         * ((220000000 * tf.tf)
            // (10000 * tf.tf + 3000
                + 9 * ((1000 * dl.dl * s.n) // s.t))) AS term_q
  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN s
), pair AS (
  SELECT q.query_id, scored.doc_id,
         CAST(SUM(term_q) AS BIGINT) AS score_q
  FROM q JOIN scored USING (token)
  GROUP BY q.query_id, scored.doc_id
)
SELECT query_id, doc_id, score_q, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score_q DESC, doc_id ASC) AS rank
  FROM pair)
WHERE rank <= {k}
"""
