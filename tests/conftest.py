import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import tabsdata_spark as td  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = td.get_spark(app_name="tabsdata-spark-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture()
def tiny(spark):
    """Small frame with nulls, NaNs, and mixed types.  Built from tuples —
    pandas/from_dict would conflate None and NaN in float columns."""
    rows = [
        (1, 10.0, "x"),
        (2, float("nan"), "y"),
        (3, 30.0, None),
        (4, None, "x"),
        (5, 50.0, "zz"),
    ]
    return td.TableFrame.from_spark(
        spark.createDataFrame(rows, "a long, b double, s string")
    )


@pytest.fixture()
def cache_state(spark):
    """Release the cached frames and persistent RDDs earlier tests left in
    the shared session, then return a probe of the current cache state:
    (CacheManager empty, number of persistent RDDs)."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    cache_manager = spark._jsparkSession.sharedState().cacheManager()

    def probe():
        return cache_manager.isEmpty(), jsc.getPersistentRDDs().size()

    assert probe() == (True, 0)
    return probe
