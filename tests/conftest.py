import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from logboost_spark.session import get_spark

    return get_spark(
        app_name="logboost_tests",
        cores=8,
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )


@pytest.fixture(scope="session")
def lookups(spark):
    from logboost_spark.fixtures.lookups import build_lookup_dfs

    return build_lookup_dfs(spark)
