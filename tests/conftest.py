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


@pytest.fixture(scope="session")
def flatten_mismatches(spark):
    """lines -> the lines whose parsed ``fields`` differ from the Python
    oracle's, compared as ordered map entries (``collect`` turns a map
    into a dict; the data itself keeps insertion order). A line the
    oracle rejects must keep ``{"line": text}``."""
    from pyspark.sql import functions as F

    from logboost_spark.oracle import flatten_json_line
    from logboost_spark.parsers.formats import parse_stage

    def mismatches(lines):
        df = parse_stage(spark.createDataFrame([(t,) for t in lines], "text string"))
        bad = []
        for r in df.select("text", F.map_entries("fields").alias("e")).collect():
            want = flatten_json_line(r.text)
            want = list(({"line": r.text} if want is None else want).items())
            got = [(e.key, e.value) for e in r.e]
            if got != want:
                bad.append((r.text, got, want))
        return bad

    return mismatches
