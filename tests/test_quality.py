"""Linear quality classifier: oracle parity, weight plumbing, edge cases, and the
zero-shuffle plan contract."""

from batch3dfier_spark.operators.quality import (
    DEFAULT_THRESHOLD_Q, quality_score)

SF = "/root/testdata/sf0.001"


def test_quality_matches_oracle(spark):
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["quality_score"][0](spark, SF).toPandas()
    # both classes occur on the fixture, else the threshold is vacuous
    assert got["quality_kept"].nunique() == 2


def test_custom_weights_change_the_head_not_the_features(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    w = {"stop_ppm": 0, "alpha_ppm": 0, "punct_ppm": 0,
         "avgtok_mil": 0, "len_cred": 1, "bias": 7}
    got = (quality_score(docs, weights=w, threshold_q=7)
           .select("doc_id", "quality_q", "quality_kept").toPandas())
    # score degenerates to min(n_tokens, cap) + 7, so kept is always
    # true (>= 7 even for empty docs)
    assert bool(got["quality_kept"].all())
    assert int(got["quality_q"].min()) >= 7


def test_empty_and_null_text_score_bias_only(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "   ")], "doc_id int, text string")
    got = quality_score(df, weights={"bias": 5}).toPandas().set_index(
        "doc_id")
    assert (got["quality_q"] == 5).all()
    assert not got["quality_kept"].any()


def test_plan_is_one_stateless_projection(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (quality_score(docs).select("doc_id", "quality_q")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_default_threshold_splits_reasonably(spark):
    # the illustrative head must not be a constant classifier on the
    # synthetic corpus: both kept and dropped fractions are >= 5%
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pdf = quality_score(docs, threshold_q=DEFAULT_THRESHOLD_Q).select(
        "quality_kept").toPandas()
    frac = pdf["quality_kept"].mean()
    assert 0.05 <= frac <= 0.95
