"""tf-idf top-k, commonness quality proxy, corpus stats, and chunk
layout: hand-checked semantics + DuckDB oracle parity +
scale-shape probes (no window over corpus-sized groups anywhere)."""

import duckdb
import pandas as pd

SF = "/root/testdata/sf0.001"


def _con(pdf):
    con = duckdb.connect()
    con.register("documents", pdf)
    return con


def test_tfidf_topk_hand_checked(spark):
    from batch3dfier_spark.operators.tfidf import tfidf_topk

    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            "apple apple banana",     # apple tf=2 rare-ish
            "banana banana banana",   # banana everywhere
            "apple cherry",           # cherry unique -> highest idf
            "",                       # token-less -> no rows
        ],
    })
    out = (
        tfidf_topk(spark.createDataFrame(pdf), k=2)
        .toPandas().sort_values(["doc_id", "rank"]).reset_index(drop=True)
    )
    # doc 3 emits nothing
    assert set(out["doc_id"]) == {0, 1, 2}
    # N=4: idf_q(apple, df=2) = 2_000_000; idf_q(banana, df=2) =
    # 2_000_000; idf_q(cherry, df=1) = 4_000_000
    d0 = out[out["doc_id"] == 0].set_index("rank")
    assert d0.loc[1, "token"] == "apple" and d0.loc[1, "score_q"] == 4_000_000
    assert d0.loc[2, "token"] == "banana" and d0.loc[2, "score_q"] == 2_000_000
    d2 = out[out["doc_id"] == 2].set_index("rank")
    assert d2.loc[1, "token"] == "cherry" and d2.loc[1, "score_q"] == 4_000_000


def test_tfidf_topk_matches_oracle(spark):
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["tfidf_topk"][0](spark, SF).toPandas()
    assert (got.groupby("doc_id")["rank"].max() <= 3).all()


def test_commonness_hand_checked_and_oracle(spark):
    from batch3dfier_spark.operators.tfidf import (
        commonness_score,
        sql_commonness_score,
    )

    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["the the the", "the zyx", ""],
    })
    got = (
        commonness_score(spark.createDataFrame(pdf))
        .toPandas().set_index("doc_id").sort_index()
    )
    # corpus: the x4, zyx x1, total 5 -> the=800000 ppm, zyx=200000 ppm
    assert got.loc[0, "sum_commonness_ppm"] == 3 * 800_000
    assert got.loc[0, "commonness"] == 800_000.0
    assert got.loc[1, "sum_commonness_ppm"] == 800_000 + 200_000
    assert got.loc[1, "commonness"] == 500_000.0
    assert got.loc[2, "n_tokens"] == 0 and pd.isna(got.loc[2, "commonness"])
    con = _con(pdf)
    exp = (
        con.sql(sql_commonness_score()).df()
        .set_index("doc_id").sort_index()
    )
    for c in ("n_tokens", "sum_commonness_ppm"):
        assert (got[c] == exp[c]).all()
    assert (got["commonness"].fillna(-1) == exp["commonness"].fillna(-1)).all()


def test_corpus_stats_matches_oracle(spark):
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["corpus_stats"][0](spark, SF).toPandas()
    assert len(got) > 1  # several languages in the fixture


def test_chunk_docs_hand_checked(spark):
    from pyspark.sql import functions as F

    from batch3dfier_spark.operators.packing import chunk_docs

    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [" ".join(f"t{i}" for i in range(10)),  # 10 tokens
                 "one two",                             # 2 tokens
                 ""],                                   # none -> no chunks
    })
    out = (
        chunk_docs(spark.createDataFrame(pdf), n_ctx=4, stride=3)
        .toPandas().sort_values(["doc_id", "chunk_id"])
        .reset_index(drop=True)
    )
    d0 = out[out["doc_id"] == 0]
    # starts 0,3,6,9; ends min(start+4, 10)
    assert list(d0["start_tok"]) == [0, 3, 6, 9]
    assert list(d0["end_tok"]) == [4, 7, 10, 10]
    assert list(d0["n_chunk_tokens"]) == [4, 4, 4, 1]
    d1 = out[out["doc_id"] == 1]
    assert list(d1["start_tok"]) == [0] and list(d1["end_tok"]) == [2]
    assert (out["doc_id"] != 2).all()
    # map-only: the executed plan has no Exchange at all
    plan = (
        chunk_docs(spark.createDataFrame(pdf), n_ctx=4, stride=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
    # custom token counts drive the layout
    pdf2 = pdf.assign(bpe=[7, 3, 0])
    out2 = (
        chunk_docs(spark.createDataFrame(pdf2), n_ctx=4, stride=3,
                   n_tokens_col="bpe")
        .toPandas()
    )
    assert list(out2[out2["doc_id"] == 0]["end_tok"]) == [4, 7, 7]
