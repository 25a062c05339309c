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


def test_queries_literal_has_no_duplicate_keys():
    """A key repeated in the ``QUERIES`` literal keeps its first position
    and silently takes the later value, so the entry count overstates
    the gates."""
    import ast

    from logboost_spark import entry_queries

    with open(entry_queries.__file__) as f:
        tree = ast.parse(f.read())
    (literal,) = [
        node.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and [getattr(t, "id", None) for t in node.targets] == ["QUERIES"]
    ]
    keys = [ast.literal_eval(k) for k in literal.keys]
    assert sorted({k for k in keys if keys.count(k) > 1}) == []
