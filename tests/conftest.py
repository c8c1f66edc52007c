from __future__ import annotations

import pytest

from yat_geo_db_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="yat_geo_db_spark_tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def shapes(spark):
    from yat_geo_db_spark.geo.fixture import shapes_df
    from yat_geo_db_spark.testdata import register_views

    register_views(spark, SF_SMOKE, tables=("customer",))
    df = shapes_df(spark).cache()
    df.count()
    return df
