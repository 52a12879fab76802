"""operators/topk.salted_top_k: the two-level salted selection equals one
global ROW_NUMBER ranking per group, whatever the salt count."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

K = 10


@pytest.fixture(scope="module")
def groups(spark):
    """One hot group (3 000 rows), 40 groups smaller than K (1..9 rows)
    and a value column with many ties, so the unique id decides."""
    rng = np.random.default_rng(7)
    sizes = [3000] + [1 + i % (K - 1) for i in range(40)]
    g = np.repeat(np.arange(len(sizes)), sizes)
    pdf = pd.DataFrame({
        "id": rng.permutation(len(g)).astype(np.int64),
        "g": g.astype(np.int64),
        "v": rng.integers(0, 5, len(g)).astype(np.int64),
    })
    return spark.createDataFrame(pdf).repartition(4)


def _reference(df, order):
    w = Window.partitionBy("g").orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= K)
        .toPandas().sort_values(["g", "rank"]).reset_index(drop=True)
    )


@pytest.mark.parametrize("salt_buckets", [1, 7, 32])
@pytest.mark.parametrize("desc", [False, True])
def test_salted_top_k_equals_global_row_number(spark, groups, salt_buckets,
                                                desc):
    from batch3dfier_spark.operators.topk import salted_top_k

    v = F.col("v").desc() if desc else F.col("v").asc()
    order = [v, F.col("id").asc()]
    got = (
        salted_top_k(groups, ["g"], order, K, F.col("id"), salt_buckets)
        .toPandas().sort_values(["g", "rank"]).reset_index(drop=True)
    )
    exp = _reference(groups, order)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    per = got.groupby("g").size()
    assert per[0] == K  # the hot group is cut to K
    # groups smaller than K keep every row
    assert (per.drop(0) == groups.groupBy("g").count().toPandas()
            .set_index("g")["count"].drop(0).sort_index()).all()
    # ties on v really occur inside the kept set, so the id decides
    assert got.duplicated(["g", "v"]).any()
