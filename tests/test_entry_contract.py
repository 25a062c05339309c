"""The driver contract in ``__spark_entry__.py``: every oracle has a
query to check, and the flagship entry returns rows."""

import __spark_entry__ as E


def test_every_oracle_has_a_query():
    queries, oracles = E.queries(), E.oracle_sql()
    assert oracles
    assert sorted(set(oracles) - set(queries)) == []


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    assert "lb_IP" in df.columns and "sink" in df.columns
    assert df.count() > 0
