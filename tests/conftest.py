import os
import sys

import pytest

_ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
_TESTS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)
# executor python workers are separate processes: they need the repo and
# tests dirs importable to unpickle UDF closures defined here
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (_ROOT, _TESTS, os.environ.get("PYTHONPATH", "")) if p
)


@pytest.fixture(scope="session")
def spark():
    from batch3dfier_spark.session import get_spark

    s = get_spark(app_name="tests", cores=4, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_pdf():
    from batch3dfier_spark import datagen

    return datagen.gen_pages_range(0, 1500)


@pytest.fixture(scope="session")
def pages_df(spark, pages_pdf):
    return spark.createDataFrame(pages_pdf).cache()
