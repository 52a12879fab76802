"""DSIR-style target affinity (operators/affinity): hand-computed
ppm-difference weights (including negative-sum truncation semantics,
checked against the DuckDB twin), the contract query vs its DuckDB
twin, and the no-window scale shape."""

import duckdb
import pandas as pd
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _df(spark, rows, cols):
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols))


def test_affinity_hand_checked(spark):
    from batch3dfier_spark.operators.affinity import target_affinity

    docs = _df(spark, [
        (1, "good good", "en"),    # target: 2 tokens
        (2, "bad bad bad", "de"),  # raw: 3 tokens
        (3, "good bad", "de"),     # mixed raw doc
        (4, "", "en"),             # token-less
    ], ["doc_id", "text", "lang"])
    got = (
        target_affinity(docs, F.col("lang") == "en")
        .toPandas().set_index("doc_id").sort_index()
    )
    # totals: t_tgt=2 ('good','good'), t_raw=5
    # aff(good) = (1e6*2)//2 - (1e6*1)//5 = 1000000 - 200000 = 800000
    # aff(bad)  = 0 - (1e6*4)//5 = -800000
    assert got.loc[1, "sum_affinity_q"] == 1_600_000
    assert got.loc[1, "mean_affinity_q"] == 800_000 and got.loc[1, "kept"]
    assert got.loc[2, "sum_affinity_q"] == -2_400_000
    assert got.loc[2, "mean_affinity_q"] == -800_000
    assert not got.loc[2, "kept"]
    # doc 3: 800000 - 800000 = 0 -> mean 0 -> kept at threshold 0
    assert got.loc[3, "sum_affinity_q"] == 0 and got.loc[3, "kept"]
    # token-less: 0 sum, NULL mean, never kept
    assert got.loc[4, "n_tokens"] == 0
    assert pd.isna(got.loc[4, "mean_affinity_q"])
    assert not got.loc[4, "kept"]


def test_affinity_negative_division_truncates_like_oracle(spark):
    from batch3dfier_spark.operators.affinity import (
        sql_target_affinity,
        target_affinity,
    )
    from batch3dfier_spark.plans.oracle import compare

    # sum=-800000*1 + 800000*2 over 3 tokens etc. — craft a doc whose
    # sum is negative and not divisible by n_tokens, so trunc-vs-floor
    # divergence would change mean_affinity_q
    # doc 2: aff(bb) = -(2e6//3) = -666666, aff(aa) = 1e6 - 333333
    # sum = -666665 over 3 tokens -> trunc -222221 vs floor -222222
    rows = [
        (1, "aa aa aa", "en"),
        (2, "bb bb aa", "de"),
    ]
    docs = _df(spark, rows, ["doc_id", "text", "lang"])
    got = (
        target_affinity(docs, F.col("lang") == "en")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR,"
                " lang VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    assert compare(got, con.sql(sql_target_affinity("lang = 'en'")).df()) == []
    assert (got.sum_affinity_q < 0).any()
    assert (got.sum_affinity_q % got.n_tokens != 0).any()


def test_affinity_matches_oracle(spark):
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["target_affinity"][0](spark, SF).toPandas()
    assert len(got) == 500
    assert got.kept.any() and (~got.kept).any()


def test_affinity_scale_shape(spark):
    from batch3dfier_spark.operators.affinity import target_affinity

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        target_affinity(docs, F.col("lang") == "en")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # no window anywhere; totals broadcast, not collected
    assert "Window" not in plan
    assert "BroadcastExchange" in plan
