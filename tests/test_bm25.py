"""Quantized BM25 retrieval (operators/bm25): hand-computed scores for
the documented integer formulas, tie/empty-query rules, the contract
query's rank bound, the broadcast scale shape and the query-set bound."""

import pandas as pd

SF = "/root/testdata/sf0.001"


def _df(spark, rows, cols):
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols))


def test_bm25_hand_checked(spark):
    from batch3dfier_spark.operators.bm25 import bm25_topk

    docs = _df(spark, [
        (1, "cat dog"),
        (2, "cat cat cat dog unrelated words here"),
        (3, "elephant zebra"),
    ], ["doc_id", "text"])
    qs = _df(spark, [(10, "cat"), (11, "")], ["query_id", "qtext"])
    got = (
        bm25_topk(docs, qs, k=5)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    # N=3, T=11; df(cat)=2 -> idf_q = (10000*3)//5 = 6000
    # d1: reldl=(1000*2*3)//11=545, denom=17905,
    #     tfc=(220000000*1)//17905=12287 -> 6000*12287
    # d2: reldl=1909, denom=50181, tfc=(660000000)//50181=13152
    assert list(got.query_id) == [10, 10]
    assert list(got.doc_id) == [2, 1]          # tf wins over length here
    assert list(got.score_q) == [6000 * 13152, 6000 * 12287]
    assert list(got["rank"]) == [1, 2]            # empty query -> no rows


def test_bm25_tie_breaks_by_doc_id(spark):
    from batch3dfier_spark.operators.bm25 import bm25_topk

    docs = _df(spark, [
        (7, "cat dog"), (5, "cat dog"), (9, "bird")
    ], ["doc_id", "text"])
    qs = _df(spark, [(0, "cat dog")], ["query_id", "qtext"])
    got = bm25_topk(docs, qs, k=2).toPandas().sort_values("rank")
    assert list(got["doc_id"]) == [5, 7]


def test_bm25_matches_oracle(spark):
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["bm25_topk"][0](spark, SF).toPandas()
    assert (got.groupby("query_id")["rank"].max() <= 5).all()


def test_bm25_scale_shape(spark):
    from batch3dfier_spark.operators.bm25 import bm25_topk
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    qs = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext")
    )
    out = bm25_topk(docs, qs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # round-7 shape: scoring is one Arrow kernel over per-doc metadata
    # against the broadcast query incidence matrix — the Q x N pair
    # explosion and its (query_id, doc_id) hash aggregation are gone
    assert "MapInPandas" in plan
    # exactly one ranking window (over O(n_batches * Q * k) kernel
    # output; WindowGroupLimit pre-filters are fine), no salted
    # pre-window, no pair-level sort-merge join in the plan
    import re

    assert len(re.findall(r"\bWindow \[", plan)) == 1
    assert "SortMergeJoin" not in plan


def test_bm25_many_queries_small_vocab(spark):
    """An adversarial query count over a tiny vocabulary: the kernel's
    (chunk, n_queries) score matrices are sized by the query count, and
    every query still gets the twin's exact top-k."""
    import duckdb

    from batch3dfier_spark.operators.bm25 import bm25_topk, sql_bm25_topk
    from batch3dfier_spark.plans.oracle import compare

    words = ["cat", "dog", "emu"]
    docs = pd.DataFrame({
        "doc_id": range(60),
        "text": [" ".join(words[j % 3] for j in range(i % 7 + 1))
                 for i in range(60)],
    })
    qs = pd.DataFrame({
        "doc_id": range(3000),
        "text": [words[i % 3] + " " + words[(i // 3) % 3]
                 for i in range(3000)],
    })
    got = bm25_topk(
        _df(spark, docs.values.tolist(), ["doc_id", "text"]),
        _df(spark, qs.values.tolist(), ["query_id", "qtext"]),
        k=4,
    ).toPandas()
    con = duckdb.connect()
    con.register("documents", docs)
    con.register("queries", qs)
    exp = con.sql(sql_bm25_topk(
        k=4, queries_sql="SELECT doc_id AS query_id, text AS qtext"
                         " FROM queries")).df()
    assert len(exp) == 3000 * 4
    assert compare(got, exp) == []


def test_bm25_query_set_bound_raises(spark):
    """n_vocab x n_queries past the documented incidence bound raises a
    ValueError naming both counts, before any corpus work."""
    import pytest

    from batch3dfier_spark.operators.bm25 import bm25_topk

    n = 2900  # 5800 terms x 2900 queries > 2^24 cells
    docs = _df(spark, [(1, "cat")], ["doc_id", "text"])
    qs = _df(spark, [(i, f"a{i} b{i}") for i in range(n)],
             ["query_id", "qtext"])
    with pytest.raises(ValueError, match="5800 query terms x 2900 queries"):
        bm25_topk(docs, qs)
