"""Materialize the committed deterministic fixtures:

* data/transcripts_sf{0.001,0.01,0.1}.parquet — seeded transcript tables
* data/lookups/*.parquet — the enrichment dimension tables, in the
  flattened form the DuckDB oracle SQL joins against, plus the two tables
  enrich probes (``geo_merged`` with ``is_dc``, and ``ip_combined``),
  derived from them by ``operators.enrich.derive_lookups`` in a local
  Spark session.

Byte-stable: re-running produces identical files (pure function of the
seed; no RNG state, no timestamps).

    python tools/build_fixtures.py
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq

from logboost_spark.fixtures import lookups as L
from logboost_spark.fixtures import transcripts as TR

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data")
LOOK = os.path.join(OUT, "lookups")
os.makedirs(LOOK, exist_ok=True)

for sf in TR.FIXTURE_SIZES:
    p = TR.materialize_fixture(sf)
    print("transcripts", sf, "->", p)


def write(name: str, cols: dict):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(LOOK, f"{name}.parquet"))
    print("lookup", name, table.num_rows, "rows")


ga = L.geo_asn_rows()
write(
    "geo_asn",
    {
        "net_start": [r[0] for r in ga],
        "net_end": [r[1] for r in ga],
        "asn_org": [r[2] for r in ga],
        "asn_number": [r[3] for r in ga],
        "is_dc": [r[3] in set(L.DC_ASN_NUMBERS) for r in ga],
    },
)
gc = L.geo_city_rows()
write(
    "geo_city",
    {
        "net_start": [r[0] for r in gc],
        "net_end": [r[1] for r in gc],
        "country": [r[2] for r in gc],
        "city": [r[3] for r in gc],
    },
)
ti = L.ti_rows()
write(
    "ti",
    {"ip": [r[0] for r in ti], "feed_name": [r[1] for r in ti], "category": [r[2] for r in ti]},
)
dp = L.dns_ptr_table_rows()
write(
    "dns_ptr",
    {k: [r[i] for r in dp] for i, k in enumerate(["ip", "domains", "domains_joined", "tld"])},
)
wd = L.whois_domain_rows()
write(
    "whois_domain",
    {
        "domain": [r[0] for r in wd],
        "created": [r[1] for r in wd],
        "updated": [r[2] for r in wd],
        "country": [r[3] for r in wd],
        "org": [r[4] for r in wd],
    },
)
wi = L.whois_ip_rows()
write(
    "whois_ip",
    {
        k: [r[i] for r in wi]
        for i, k in enumerate(
            ["ip", "cidr", "netname", "nettype", "org", "created", "updated", "country", "parent"]
        )
    },
)
# Array form — the schema derive_lookups reads (base_lookup_dfs);
# the DuckDB oracle pipe-joins with array_to_string in SQL.
idb = L.shodan_idb_rows()
write(
    "shodan_idb",
    {
        "ip": [r[0] for r in idb],
        "cpes": [list(r[1]) for r in idb],
        "hostnames": [list(r[2]) for r in idb],
        "ports": [[int(p) for p in r[3]] for r in idb],
        "tags": [list(r[4]) for r in idb],
        "vulns": [list(r[5]) for r in idb],
    },
)
write("dc_asn", {"asn_number": list(L.DC_ASN_NUMBERS)})

# The derived tables enrich probes: the SAME DataFrame function that
# main.py --intelfile runs, here over the base tables just written (geo_merged's base comes from
# the offline interval merge — at real GeoLite2 size, ~3M intervals, that
# runs here once, never in a per-session driver).
from logboost_spark.operators.enrich import derive_lookups  # noqa: E402
from logboost_spark.session import get_spark  # noqa: E402

spark = get_spark(app_name="build_fixtures")
base = {
    k: spark.read.parquet(os.path.join(LOOK, f"{k}.parquet"))
    for k in L.DERIVATION_INPUTS
    if k != "geo_merged"
}
base["geo_merged"] = spark.createDataFrame(L.geo_merged_rows(), L.GEO_MERGED_DDL)
derived = derive_lookups(base)
for name, key in [("geo_merged", "net_start"), ("ip_combined", "ip")]:
    table = derived[name].orderBy(key).toArrow()
    pq.write_table(table, os.path.join(LOOK, f"{name}.parquet"))
    print("lookup", name, table.num_rows, "rows")
spark.stop()
print("DONE")
