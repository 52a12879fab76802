"""ROLLUP / PIVOT / exact-integer statistics coverage: internal
consistency plus numpy ground truth (oracle parity is
tests/test_oracle_contract.py, over the whole registry)."""

import numpy as np
import pandas as pd

SF = "/root/testdata/sf0.001"


def test_rollup_super_aggregates_are_consistent(spark):
    from batch3dfier_spark.plans.queries import q_corpus_rollup

    pdf = q_corpus_rollup(spark, SF).toPandas()
    grand = pdf[(pdf.lang_g == "ALL") & (pdf.source_g == "ALL")]
    assert grand.n_docs.tolist() == [500]
    per_lang = pdf[(pdf.lang_g != "ALL") & (pdf.source_g == "ALL")]
    leaves = pdf[(pdf.lang_g != "ALL") & (pdf.source_g != "ALL")]
    assert per_lang.n_docs.sum() == 500
    assert leaves.n_docs.sum() == 500
    rollup_of_en = leaves[leaves.lang_g == "en"].n_docs.sum()
    assert per_lang[per_lang.lang_g == "en"].n_docs.tolist() == [
        rollup_of_en
    ]


def test_rollup_is_one_pass(spark):
    from batch3dfier_spark.plans.queries import q_corpus_rollup

    plan = (q_corpus_rollup(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    # Catalyst expands grouping sets inside one aggregation — a
    # union-of-groupBys would scan the table three times
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_pivot_rows_sum_to_source_counts(spark):
    from batch3dfier_spark.plans.queries import q_lang_pivot

    pdf = q_lang_pivot(spark, SF).toPandas().set_index("source")
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    exp = docs.groupby("source").size()
    got = pdf[["de", "en", "es", "fr", "zh"]].sum(axis=1)
    assert got.sort_index().tolist() == exp.sort_index().tolist()
    # no negative / null cells
    assert (pdf[["de", "en", "es", "fr", "zh"]] >= 0).all().all()


def test_value_stats_matches_numpy(spark):
    from batch3dfier_spark.plans.queries import q_value_stats

    got = (q_value_stats(spark, SF).toPandas()
           .set_index("event_type").sort_index())
    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    for et, grp in ev.groupby("event_type"):
        cents = np.round(grp.value.to_numpy() * 100).astype(np.int64)
        n = len(cents)
        assert got.loc[et, "n"] == n
        assert np.isclose(got.loc[et, "mean_value"],
                          cents.sum() / (n * 100), rtol=1e-12)
        var = (n * (cents.astype(object) ** 2).sum()
               - int(cents.sum()) ** 2) / (n * (n - 1) * 10000.0)
        assert np.isclose(got.loc[et, "var_value"], var, rtol=1e-12)
