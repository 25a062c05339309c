"""The lookup tables: every committed base fixture holds its generator's
rows, the committed derived fixtures stay in step with their base tables,
and the shared lookups mapping cannot be written into."""

import os

import pyarrow.parquet as pq
import pytest

from logboost_spark.fixtures import lookups as L
from logboost_spark.fixtures.lookups import base_lookup_dfs, build_lookup_dfs
from logboost_spark.operators.enrich import derive_lookups

#: base fixture → (columns, generator rows) as tools/build_fixtures.py writes it
BASE_FIXTURES = {
    "geo_asn": (
        ["net_start", "net_end", "asn_org", "asn_number", "is_dc"],
        lambda: [(*r, r[3] in L.DC_ASN_NUMBERS) for r in L.geo_asn_rows()],
    ),
    "geo_city": (["net_start", "net_end", "country", "city"], L.geo_city_rows),
    "ti": (["ip", "feed_name", "category"], L.ti_rows),
    "dns_ptr": (["ip", "domains", "domains_joined", "tld"], L.dns_ptr_table_rows),
    "whois_domain": (["domain", "created", "updated", "country", "org"], L.whois_domain_rows),
    "whois_ip": (
        ["ip", "cidr", "netname", "nettype", "org", "created", "updated", "country", "parent"],
        L.whois_ip_rows,
    ),
    "shodan_idb": (["ip", "cpes", "hostnames", "ports", "tags", "vulns"], L.shodan_idb_rows),
    "dc_asn": (["asn_number"], lambda: [(n,) for n in L.DC_ASN_NUMBERS]),
}


def _rows(df, key):
    return df.orderBy(key).collect()


@pytest.mark.parametrize("name", sorted(BASE_FIXTURES))
def test_base_fixture_matches_generator(name):
    """A generator edited without re-running tools/build_fixtures.py
    leaves the committed base table stale; this catches it (Spark-free)."""
    cols, gen = BASE_FIXTURES[name]
    table = pq.read_table(os.path.join(L.LOOKUP_PARQUET_DIR, f"{name}.parquet"))
    assert table.column_names == cols
    got = list(zip(*(table.column(c).to_pylist() for c in cols)))
    assert got == [tuple(r) for r in gen()]


@pytest.mark.parametrize("name,key", [("ip_combined", "ip"), ("geo_merged", "net_start")])
def test_derived_fixture_matches_derivation(spark, lookups, name, key):
    """A base fixture edited without re-running tools/build_fixtures.py
    leaves the committed derived table stale; this catches it."""
    want = derive_lookups(base_lookup_dfs(spark))[name]
    got = lookups[name]
    assert got.columns == want.columns
    assert _rows(got, key) == _rows(want, key)


def test_lookups_mapping_is_read_only(spark):
    lk = build_lookup_dfs(spark)
    assert set(lk) == {"ti", "geo_merged", "ip_combined"}
    with pytest.raises(TypeError):
        lk["ti"] = lk["ip_combined"]
    with pytest.raises(TypeError):
        del lk["ti"]
    # a caller's copy is writable and leaves the shared mapping alone
    mine = dict(lk)
    mine["ti"] = lk["ip_combined"]
    assert build_lookup_dfs(spark)["ti"] is lk["ti"]


def test_missing_fixture_raises(spark, tmp_path, monkeypatch):
    """No fallback: a checkout without the fixtures fails loudly."""
    from pyspark.errors import AnalysisException

    monkeypatch.setattr(L, "LOOKUP_PARQUET_DIR", str(tmp_path))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        base_lookup_dfs(spark)
