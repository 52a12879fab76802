"""MAD outlier flagging: hand-built fixture semantics, zero-MAD rule,
and broadcast plan shape."""

SF = "/root/testdata/sf0.001"


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "event_id bigint, event_type string, value double"
    )


def test_mad_flags_planted_outlier(spark):
    from batch3dfier_spark.operators.robust import mad_outliers

    # 9 values near 10 plus one at 1000: med=10, MAD small, 1000 flags
    rows = [(i, "a", 10.0 + i * 0.1) for i in range(9)]
    rows.append((9, "a", 1000.0))
    got = {r["event_id"]: r["is_outlier"]
           for r in mad_outliers(_df(spark, rows)).collect()}
    assert got[9] is True
    assert sum(got.values()) == 1


def test_mad_zero_flags_any_deviation(spark):
    from batch3dfier_spark.operators.robust import mad_outliers

    # >half identical -> MAD 0 -> every deviating value is an outlier
    rows = [(i, "b", 5.0) for i in range(6)] + [(6, "b", 5.01)]
    got = {r["event_id"]: r["is_outlier"]
           for r in mad_outliers(_df(spark, rows)).collect()}
    assert got[6] is True
    assert sum(got.values()) == 1


def test_mad_groups_are_independent(spark):
    from batch3dfier_spark.operators.robust import mad_outliers

    # the same value can be normal in one group, outlier in another
    rows = [(i, "wide", float(i * 100)) for i in range(10)]
    rows += [(10 + i, "tight", 10.0 + i * 0.01) for i in range(9)]
    rows.append((19, "tight", 900.0))
    got = {r["event_id"]: r for r in
           mad_outliers(_df(spark, rows)).collect()}
    assert got[19]["is_outlier"] is True
    assert not any(got[i]["is_outlier"] for i in range(10))


def test_mad_plan_broadcasts_both_medians(spark):
    from batch3dfier_spark.plans.queries import q_value_outliers

    plan = (q_value_outliers(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    # med joins onto the fact (x2 — the MAD branch re-derives dev) and
    # mad joins once more: all three broadcast, the fact table never
    # shuffles (its only Exchanges are the tiny per-key percentile aggs)
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
