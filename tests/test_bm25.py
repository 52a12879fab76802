"""Quantized BM25 retrieval (operators/bm25): hand-computed scores for
the documented integer formulas, tie/empty-query rules, the contract
query vs its DuckDB twin and its rank bound, and the broadcast scale shape."""

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
    from batch3dfier_spark.plans.oracle import compare, connect
    from batch3dfier_spark.plans.queries import REGISTRY

    fn, sql = REGISTRY["bm25_topk"]
    got = fn(spark, SF).toPandas()
    assert compare(got, connect(SF).sql(sql).df()) == []
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
    for h in getattr(out, "_persisted_intermediates", []):
        h.unpersist()
