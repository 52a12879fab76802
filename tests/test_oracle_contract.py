"""The oracle contract: every registry query matches its DuckDB twin on
rows, column names, values and dtypes at sf0.001 and sf0.01, through
the one compare helper tools/check_oracle.py also uses."""

import os

import pandas as pd
import pytest

from batch3dfier_spark.plans.oracle import compare, connect
from batch3dfier_spark.plans.queries import REGISTRY
from test_relational_agg import SF

DATA = os.path.dirname(SF)  # the test-data root, one dir per scale

# queries that write a catalog table or a scratch dir outside the query:
# a second run in the same process must give the same answer
RERUN = {
    "dedup_incremental", "near_dedup_incremental", "events_dedup_stream",
    "jsonl_roundtrip", "orc_roundtrip", "bag3d_assembly", "raster_overlay",
}


@pytest.fixture(scope="module", params=["sf0.001", "sf0.01"])
def scale(request):
    sf_dir = os.path.join(DATA, request.param)
    con = connect(sf_dir)
    yield sf_dir, con
    con.close()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, scale, name):
    sf_dir, con = scale
    fn, sql = REGISTRY[name]
    exp = con.sql(sql).df()
    assert len(exp) > 0
    spark.catalog.clearCache()
    for _ in range(2 if name in RERUN else 1):
        assert compare(fn(spark, sf_dir).toPandas(), exp) == []
    # lifetime rule (session.py): a query leaves no cache entry behind
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("values", [[1, 2, 3], ["a", "b", "c"]])
def test_compare_reports_row_count_mismatch(values):
    got = pd.DataFrame({"v": values})
    assert compare(got, got.iloc[:2]) == ["rows: spark=3 oracle=2"]


def test_compare_reports_columns_values_and_dtype():
    got = pd.DataFrame({"k": [1, 2], "v": [1.0, None]})
    assert compare(got, got.copy()) == []
    assert compare(got, got.rename(columns={"v": "w"})) == [
        "cols: spark=['k', 'v'] oracle=['k', 'w']"
    ]
    assert compare(got, got.assign(v=[1.0, 3.0])) == [
        "col v: 1 mismatches, e.g. spark=nan oracle=3.0"
    ]
    assert compare(got, got.assign(k=got.k.astype("int32"))) == [
        "col k: dtype spark=int64 oracle=int32"
    ]
