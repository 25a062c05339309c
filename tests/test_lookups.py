"""The lookup tables enrich probes: the committed derived fixtures stay in
step with their base tables, the in-memory fallback derives the same
rows, and the shared lookups mapping cannot be written into."""

import pytest

from logboost_spark.fixtures.lookups import base_lookup_dfs, build_lookup_dfs
from logboost_spark.operators.enrich import derive_lookups


def _rows(df, key):
    return df.orderBy(key).collect()


@pytest.mark.parametrize("name,key", [("ip_combined", "ip"), ("geo_merged", "net_start")])
def test_derived_fixture_matches_derivation(spark, lookups, name, key):
    """A base fixture edited without re-running tools/build_fixtures.py
    leaves the committed derived table stale; this catches it."""
    want = derive_lookups(base_lookup_dfs(spark))[name]
    got = lookups[name]
    assert got.columns == want.columns
    assert _rows(got, key) == _rows(want, key)


def test_inmemory_fallback_matches_fixtures(spark, lookups, tmp_path):
    mem = build_lookup_dfs(spark, parquet_dir=str(tmp_path / "absent"))
    assert set(mem) == set(lookups)
    for name, key in [("ip_combined", "ip"), ("geo_merged", "net_start")]:
        assert _rows(mem[name], key) == _rows(lookups[name], key), name


def test_lookups_mapping_is_read_only(spark):
    lk = build_lookup_dfs(spark)
    with pytest.raises(TypeError):
        lk["ti"] = lk["geo_asn"]
    with pytest.raises(TypeError):
        del lk["ti"]
    # a caller's copy is writable and leaves the shared mapping alone
    mine = dict(lk)
    mine["ti"] = lk["geo_asn"]
    assert build_lookup_dfs(spark)["ti"] is lk["ti"]
