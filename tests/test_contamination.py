"""Benchmark-contamination scorer: the contract query vs its DuckDB
twin and self-overlap of benchmark members,
overlap-law semantics, short docs, and the broadcast/shuffle path
equivalence."""

import pandas as pd

from batch3dfier_spark.operators.contamination import contamination

SF = "/root/testdata/sf0.001"


def test_contamination_matches_oracle(spark):
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["contamination"][0](spark, SF).toPandas()
    # benchmark members overlap themselves fully
    members = got[got["doc_id"] % 19 == 0]
    assert (members.loc[members["n_grams"] > 0, "contam_ppm"]
            == 1_000_000).all()


def test_overlap_law_on_a_pinned_fixture(spark):
    # doc 1 contains the benchmark verbatim plus a suffix; doc 2 is
    # disjoint; doc 3 is shorter than n and must report 0 grams
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),  # grams(3): 6 total, 4 hit abc..def
            (2, "p q r s t u"),
            (3, "x y"),
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [(0, "a b c d e f")], "doc_id int, text string")
    got = contamination(docs, bench, n=3).toPandas().set_index("doc_id")
    assert int(got.loc[1, "n_grams"]) == 6
    assert int(got.loc[1, "n_hit"]) == 4
    assert int(got.loc[1, "contam_ppm"]) == 666_666
    assert bool(got.loc[1, "contaminated"])
    assert int(got.loc[2, "n_hit"]) == 0
    assert not bool(got.loc[2, "contaminated"])
    assert int(got.loc[3, "n_grams"]) == 0
    assert int(got.loc[3, "contam_ppm"]) == 0
    assert not bool(got.loc[3, "contaminated"])


def test_shuffle_join_path_is_identical(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text").limit(80)
    bench = docs.where((docs.doc_id % 7) == 0)
    a = (contamination(docs, bench, n=6, broadcast_benchmark=True)
         .toPandas().sort_values("doc_id").reset_index(drop=True))
    b = (contamination(docs, bench, n=6, broadcast_benchmark=False)
         .toPandas().sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)


def test_plan_has_no_window_and_no_python(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text")
    bench = docs.where((docs.doc_id % 19) == 0)
    plan = (contamination(docs, bench, n=6)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan
    assert "Python" not in plan
