"""TI-build entry point (S8/A2-A4) + EXTRA_KEYS shallow overflow."""

from pyspark.sql import functions as F

from logboost_spark.operators.ti_build import (
    build_ti_table,
    ingest_intel_lines,
    summarize_ti,
    ti_category_counts,
)
from logboost_spark.parsers.extra_keys import shallow_project
from logboost_spark.parsers.formats import parse_stage
from logboost_spark.semantics import EXTRA_KEYS_COL

FEED_LINES = [
    "# comment line, skipped",
    "",
    "8.8.8.8",
    "8.8.8.8",  # duplicate → insert-or-ignore
    "bad line no ip",
    "192.168.1.1",  # private → skipped
    "prefix text 1.1.1.1 suffix",
    "255.255.255.255",  # private special
]


def test_ingest_intel_lines(spark):
    lines = spark.createDataFrame([(s,) for s in FEED_LINES], "line string")
    out = ingest_intel_lines(lines, "feedA", "tor").collect()
    ips = sorted(r.ip for r in out)
    assert ips == ["1.1.1.1", "8.8.8.8"]
    assert all(r.feed_name == "feedA" and r.category == "tor" for r in out)


def test_build_ti_table_multi_feed(spark):
    l1 = spark.createDataFrame([("8.8.8.8",), ("1.1.1.1",)], "line string")
    l2 = spark.createDataFrame([("8.8.8.8",), ("9.9.9.9",)], "line string")
    ti = build_ti_table([("f1", "tor", l1), ("f2", "proxy", l2)])
    assert ti.count() == 4
    s = summarize_ti(ti).collect()[0]
    assert s.distinct_ips == 3
    cats = {r.category: r.cnt for r in ti_category_counts(ti).collect()}
    assert cats == {"tor": 2, "proxy": 2}


def test_extra_keys_overflow(spark):
    rows = [
        ('{"a":"1","b":"2"}',),  # first record defines the schema
        ('{"a":"9","c":"7","d":"8"}',),  # c,d overflow
    ]
    df = parse_stage(spark.createDataFrame(rows, "text string"))
    out = shallow_project(df, ["a", "b"]).orderBy("a").collect()
    assert out[0][EXTRA_KEYS_COL] == ""
    assert out[1]["a"] == "9" and out[1]["b"] is None
    assert out[1][EXTRA_KEYS_COL] == "c:7, d:8, "
