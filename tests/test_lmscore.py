"""CCNet-style LM scorer: cost-law semantics, edge cases,
broadcast-path equivalence, and plan-shape contracts."""

import pandas as pd

from batch3dfier_spark.operators.lmscore import (
    DEFAULT_LM_THRESHOLD, lm_score, lm_train)

SF = "/root/testdata/sf0.001"


def test_rare_tokens_cost_more_bits(spark):
    # train: 'common' 7 times, 'rare' once -> N=8, V=2, smoothed
    # pool 10; cost(common)=bits(10//8)=1, cost(rare)=bits(10//2)=3,
    # cost(unseen)=bits(10//1)=4
    train = spark.createDataFrame(
        [(0, "common " * 7 + "rare")], "doc_id int, text string")
    vocab = lm_train(train)
    score = spark.createDataFrame(
        [(1, "common common"), (2, "rare"), (3, "unseen")],
        "doc_id int, text string")
    got = lm_score(score, vocab).toPandas().set_index("doc_id")
    assert int(got.loc[1, "lm_bits"]) == 2
    assert int(got.loc[2, "lm_bits"]) == 3
    assert int(got.loc[3, "lm_bits"]) == 4
    assert int(got.loc[1, "lm_mbits_tok"]) == 1000
    assert int(got.loc[3, "lm_mbits_tok"]) == 4000


def test_empty_and_null_docs_score_zero_and_drop(spark):
    train = spark.createDataFrame(
        [(0, "a b c")], "doc_id int, text string")
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "   ")], "doc_id int, text string")
    got = lm_score(df, lm_train(train)).toPandas().set_index("doc_id")
    assert (got["lm_bits"] == 0).all()
    assert (got["lm_mbits_tok"] == 0).all()
    assert not got["lm_kept"].any()  # token-less docs are never kept


def test_broadcast_vocab_path_is_identical(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text").limit(100)
    vocab = lm_train(docs)
    a = (lm_score(docs, vocab, broadcast_vocab=False)
         .select("doc_id", "lm_bits").toPandas()
         .sort_values("doc_id").reset_index(drop=True))
    b = (lm_score(docs, vocab, broadcast_vocab=True)
         .select("doc_id", "lm_bits").toPandas()
         .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)


def test_plan_has_no_window_and_no_python(spark):
    # hot tokens meet joins and aggregates (AQE-splittable), never a
    # window; the whole operator stays JVM-side
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text")
    plan = (lm_score(docs, lm_train(docs))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan
    assert "Python" not in plan


def test_default_threshold_splits_the_fixture(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text")
    pdf = lm_score(docs, lm_train(docs),
                   threshold_mbits=DEFAULT_LM_THRESHOLD).select(
        "lm_kept").toPandas()
    frac = pdf["lm_kept"].mean()
    assert 0.05 <= frac <= 0.95


def test_lm2_hand_computed_costs(spark):
    """Tiny corpus, hand-checked bigram bits: train 'a b a b' ->
    cnt1(a)=2, cnt1(b)=2, V=2, cnt2('a b')=2, cnt2('b a')=1."""
    from batch3dfier_spark.operators.lmscore import (
        lm2_score, lm2_train, lm_train)

    train = spark.createDataFrame(
        [(0, "a b a b")], "doc_id bigint, text string")
    score = spark.createDataFrame(
        [(1, "a b"), (2, "b a"), (3, "a c"), (4, "x")],
        "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in lm2_score(
        score, lm_train(train), lm2_train(train),
        threshold_mbits=2000).collect()}
    # 'a b': bits((2+2) div (2+1)) = bits(1) = 1
    assert got[1]["lm2_bits"] == 1
    # 'b a': bits((2+2) div (1+1)) = bits(2) = 2
    assert got[2]["lm2_bits"] == 2
    # 'a c' unseen bigram, seen context: bits((2+2) div 1) = 3
    assert got[3]["lm2_bits"] == 3
    # single token: no bigram -> 0 bits, not kept
    assert got[4]["lm2_bits"] == 0 and not got[4]["lm2_kept"]
    assert got[1]["lm2_kept"] and not got[3]["lm2_kept"]


def test_lm2_unseen_context_pays_vocab_bits(spark):
    from batch3dfier_spark.operators.lmscore import (
        lm2_score, lm2_train, lm_train)

    train = spark.createDataFrame(
        [(0, "a b c d")], "doc_id bigint, text string")
    score = spark.createDataFrame(
        [(1, "zz qq")], "doc_id bigint, text string")
    got = lm2_score(score, lm_train(train), lm2_train(train)).collect()[0]
    # unseen context: bits((0+4) div (0+1)) = bits(4) = 3
    assert got["lm2_bits"] == 3


def test_lm2_bigram_plan_is_lambda_free(spark):
    """Bigram construction is arrays_zip over slices — no HOF lambda
    (which would defeat the codegen cache) and no per-position join."""
    from batch3dfier_spark.plans.queries import q_lm2_score

    plan = (q_lm2_score(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "lambdafunction" not in plan.lower()
    assert "Python" not in plan
