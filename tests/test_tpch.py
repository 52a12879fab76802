"""TPC-H-shaped relational coverage (Q3/Q5 beside the Q1-shaped
pricing_summary): the broadcast/top-k plan shapes the 100 TB design
relies on (oracle parity is tests/test_oracle_contract.py)."""

SF = "/root/testdata/sf0.001"


def test_ship_priority_plan_shape(spark):
    from batch3dfier_spark.plans.queries import REGISTRY

    df = REGISTRY["ship_priority"][0](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # filtered customers broadcast; the top-10 is per-partition heaps,
    # never a global sort
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan
    assert df.count() == 10


def test_local_supplier_volume_plan_shape(spark):
    from batch3dfier_spark.plans.queries import REGISTRY

    plan = (REGISTRY["local_supplier_volume"][0](spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    # the region->nation->supplier dimension chain travels broadcast
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Python" not in plan


def test_big_spenders_plan_shape(spark):
    from batch3dfier_spark.plans.queries import REGISTRY

    plan = (REGISTRY["big_spenders"][0](spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    # the customer dim broadcasts; top-100 is per-partition heaps
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


def test_big_spenders_having_filters_fact_groups(spark):
    """Every surviving order's summed quantity exceeds the threshold,
    and at least one order was filtered out by the HAVING."""
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["big_spenders"][0](spark, SF).toPandas()
    assert (got["sum_qty"] > 250).all()
    n_orders = (spark.read.parquet(f"{SF}/lineitem.parquet")
                .select("l_orderkey").distinct().count())
    assert len(got) < n_orders


def test_exists_customers_decorrelates(spark):
    """Correlated EXISTS/NOT EXISTS become semi/anti hash joins — no
    per-row subquery machinery in the executed plan."""
    from batch3dfier_spark.plans.queries import q_exists_customers

    df = q_exists_customers(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Semi" in plan and "Anti" in plan
