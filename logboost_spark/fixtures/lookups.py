"""Deterministic lookup (dimension) tables.

Stand-ins for the reference's live sources (FIXTURES.md §2):

* ``geo_asn`` / ``geo_city`` — MaxMind-style CIDR interval tables
  (helpers/helpers.go:369-391). Stored as [net_start, net_end] integer
  ranges; the engine joins them with a /16-prefix-bucketed broadcast
  range join (operators/geo_join.py).
* ``ti`` — threat-intel (ip, feed_name, category) rows, the SQLite
  ips⋈feeds⋈categories star flattened (helpers/threatIntel.go:195-206).
* ``dc_asn`` — datacenter ASN membership (vars/vars.go:91).
* ``dns_ptr`` — reverse-DNS PTR results (helpers/network.go:114-122).
* ``whois_domain`` / ``whois_ip`` — WHOIS parse results
  (helpers/helpers.go:560-762).
* ``shodan_idb`` — InternetDB responses (helpers/helpers.go:523-557).

Enrich probes two tables derived from these (``operators.enrich.
derive_lookups``): ``geo_merged`` (geo_asn ∪ geo_city as one disjoint
interval table, plus ``is_dc``) and ``ip_combined`` (one row per IP key
across ti, dns_ptr, whois_domain via the TLD, whois_ip and shodan_idb).

All content is generated from a fixed seed; IP keys deliberately overlap
the transcript generator's IP pool so a fixed fraction of turns hit each
table.
"""

from __future__ import annotations

import ipaddress
import os
from collections.abc import Mapping
from functools import lru_cache
from types import MappingProxyType

# ---------------------------------------------------------------------------
# IP pools (shared with the transcript generator)
# ---------------------------------------------------------------------------

# 1024 public IPv4s across four documentation/public ranges.
PUBLIC_V4_POOL = (
    [f"203.0.113.{i}" for i in range(256)]
    + [f"198.51.100.{i}" for i in range(256)]
    + [f"8.8.8.{i}" for i in range(256)]
    + [f"13.107.42.{i}" for i in range(256)]
)

PRIVATE_V4_POOL = (
    [f"10.0.0.{i}" for i in range(64)]
    + [f"192.168.1.{i}" for i in range(64)]
    + [f"172.16.5.{i}" for i in range(64)]
    + ["127.0.0.1"] * 64
)

PUBLIC_V6_POOL = [f"2001:db8:85a3::8a2e:370:{i:x}" for i in range(1, 257)]

# Public-suffix subset used by fixture domains (tldparserr stand-in).
PSL_SUFFIXES = ["com", "net", "org", "io", "dev", "co.uk", "ac.uk", "com.au", "de", "fr", "jp", "co.jp"]

_DOMAIN_WORDS = ["example", "contoso", "fabrikam", "initech", "umbrella", "hooli", "acme", "globex"]


def _cidr_range(cidr: str) -> tuple[int, int]:
    net = ipaddress.ip_network(cidr)
    return int(net.network_address), int(net.broadcast_address)


# ---------------------------------------------------------------------------
# geo tables — CIDR intervals with deliberate granularity differences
# ---------------------------------------------------------------------------

# Subset of the reference's hardcoded datacenter ASN list (vars/vars.go:91)
# — 16509/15169/14618/8075 are members there; 64501/64502 are not.
DC_ASN_NUMBERS = [16509, 15169, 14618, 8075, 20473, 63949]
NON_DC_ASN_NUMBERS = [64501, 64502, 64503, 7018]


@lru_cache(maxsize=1)
def geo_asn_rows() -> list[tuple]:
    """(net_start, net_end, asn_org, asn_number) — CIDR intervals."""
    blocks = [
        ("203.0.113.0/25", "EXAMPLE-NET-A", 64501),
        ("203.0.113.128/25", "AMAZON-02", 16509),  # DC ASN
        ("198.51.100.0/24", "GOOGLE", 15169),  # DC ASN
        ("8.8.8.0/24", "GOOGLE", 15169),  # DC ASN
        ("13.107.42.0/26", "MICROSOFT-CORP", 8075),  # DC ASN
        ("13.107.42.64/26", "EXAMPLE-NET-B", 64502),
        # 13.107.42.128/25 intentionally uncovered → geo miss ("")
    ]
    return [(*_cidr_range(c), org, num) for c, org, num in blocks]


@lru_cache(maxsize=1)
def geo_city_rows() -> list[tuple]:
    """(net_start, net_end, country, city) — different granularity than ASN."""
    blocks = [
        ("203.0.113.0/26", "United States", "Ashburn"),
        ("203.0.113.64/26", "United States", "Boardman"),
        ("203.0.113.128/25", "Ireland", "Dublin"),
        ("198.51.100.0/25", "Germany", "Frankfurt"),
        ("198.51.100.128/25", "Japan", "Tokyo"),
        ("8.8.8.0/24", "United States", "Mountain View"),
        ("13.107.42.0/25", "Netherlands", "Amsterdam"),
        # 13.107.42.128/25 uncovered → miss
    ]
    return [(*_cidr_range(c), country, city) for c, country, city in blocks]


# ---------------------------------------------------------------------------
# threat intel — ~12% of the public pool, 1-3 (feed, category) rows each
# ---------------------------------------------------------------------------

TI_FEEDS = ["feodo", "sslbl", "urlhaus", "cins-badguys", "tor-exits"]
TI_CATEGORIES = ["tor", "proxy", "suspicious", "vpn", "scanner"]


@lru_cache(maxsize=1)
def ti_rows() -> list[tuple]:
    """(ip, feed_name, category) — deterministic pseudo-random membership."""
    rows = []
    for i, ip in enumerate(PUBLIC_V4_POOL):
        h = (i * 2654435761) % 97
        if h < 12:  # ~12% of pool IPs are "bad"
            n = 1 + (i % 3)
            for j in range(n):
                feed = TI_FEEDS[(i + j * 7) % len(TI_FEEDS)]
                cat = TI_CATEGORIES[(i * 3 + j * 11) % len(TI_CATEGORIES)]
                rows.append((ip, feed, cat))
    return rows


# ---------------------------------------------------------------------------
# reverse DNS + TLD source domains
# ---------------------------------------------------------------------------


def _domain_for(i: int, j: int) -> str:
    word = _DOMAIN_WORDS[(i + j) % len(_DOMAIN_WORDS)]
    suffix = PSL_SUFFIXES[(i * 5 + j) % len(PSL_SUFFIXES)]
    return f"host{i % 50}.{word}.{suffix}"


@lru_cache(maxsize=1)
def dns_ptr_rows() -> list[tuple]:
    """(ip, domains list) — ~55% of the public pool has PTR records."""
    rows = []
    for i, ip in enumerate(PUBLIC_V4_POOL):
        h = (i * 40503) % 100
        if h < 55:
            n = 1 + (i % 3)
            rows.append((ip, [_domain_for(i, j) for j in range(n)]))
    return rows


@lru_cache(maxsize=1)
def whois_domain_rows() -> list[tuple]:
    """(domain, created, updated, country, org) for the 'main.tld' domains
    derivable from dns_ptr first records (the only ones the engine asks for,
    helpers/helpers.go:560-605)."""
    seen = {}
    for i, (_ip, domains) in enumerate(dns_ptr_rows()):
        first = domains[0]
        parsed = parse_psl_domain(first)
        if parsed == "none" or parsed in seen:
            continue
        if (i * 7) % 10 < 7:  # 70% of domains have whois data
            seen[parsed] = (
                parsed,
                f"200{i % 10}-0{1 + i % 9}-15",
                f"202{i % 4}-1{i % 2}-01",
                ["US", "DE", "JP", "GB", "AU"][i % 5],
                f"{_DOMAIN_WORDS[i % len(_DOMAIN_WORDS)].title()} Inc.",
            )
    return list(seen.values())


@lru_cache(maxsize=1)
def whois_ip_rows() -> list[tuple]:
    """(ip, cidr, netname, nettype, org, created, updated, country, parent)."""
    rows = []
    for i, ip in enumerate(PUBLIC_V4_POOL):
        if (i * 17) % 100 < 40:  # 40% coverage
            rows.append(
                (
                    ip,
                    ip.rsplit(".", 1)[0] + ".0/24",
                    f"NET-{i % 100}",
                    ["Direct Allocation", "Reallocated", "Direct Assignment"][i % 3],
                    f"{_DOMAIN_WORDS[i % len(_DOMAIN_WORDS)].title()} LLC",
                    f"19{90 + i % 10}-01-01",
                    f"201{i % 10}-06-30",
                    ["US", "IE", "NL", "SG"][i % 4],
                    "NET-PARENT-1",
                )
            )
    return rows


@lru_cache(maxsize=1)
def shodan_idb_rows() -> list[tuple]:
    """(ip, cpes, hostnames, ports, tags, vulns) arrays."""
    rows = []
    for i, ip in enumerate(PUBLIC_V4_POOL):
        if (i * 29) % 100 < 30:  # 30% coverage
            rows.append(
                (
                    ip,
                    [f"cpe:/a:vendor{i % 7}:prod{i % 5}"],
                    [_domain_for(i, 0)],
                    sorted({22, 80 + (i % 3) * 363, 8080}),
                    ["cloud"] if i % 2 else ["cdn", "cloud"],
                    [f"CVE-202{i % 4}-{1000 + i % 500}"] if i % 3 == 0 else [],
                )
            )
    return rows


@lru_cache(maxsize=1)
def geo_merged_rows() -> list[tuple]:
    """(net_start, net_end, asn_org, asn_number, country, city): geo_asn and
    geo_city outer-merged into one disjoint interval table (the ONE
    range-join side enrich uses). At real GeoLite2 size (~3M intervals)
    this is an offline fixture build, never a per-session driver job."""
    from ..operators.geo_join import flatten_intervals, merge_disjoint_interval_tables

    return merge_disjoint_interval_tables(
        flatten_intervals(geo_asn_rows()),
        flatten_intervals(geo_city_rows()),
        n_a=2,
        n_b=2,
    )


# ---------------------------------------------------------------------------
# Public-suffix parse: the real PSL matcher lives in functions/psl.py
# (wildcards, exceptions, multi-label suffixes); re-exported here because
# the fixture generators were built around this name.
# Every PSL_SUFFIXES entry above is a genuine public-suffix rule, so
# fixture domains parse identically under the full list.
# ---------------------------------------------------------------------------

from ..functions.psl import parse_psl_domain  # noqa: E402,F401


# ---------------------------------------------------------------------------
# Spark-side constructors
# ---------------------------------------------------------------------------


#: committed parquet fixtures (tools/build_fixtures.py) — same rows as
#: the in-memory generators, byte-stable, and what the DuckDB oracle
#: reads
LOOKUP_PARQUET_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "data",
    "lookups",
)


#: the base tables ``operators.enrich.derive_lookups`` reads. Enrich
#: itself reads only the derived ``geo_merged``/``ip_combined``; the
#: DuckDB oracle reads these base tables directly.
DERIVATION_INPUTS = (
    "geo_merged", "ti", "dc_asn", "dns_ptr", "whois_domain", "whois_ip", "shodan_idb",
)

GEO_MERGED_DDL = (
    "net_start bigint, net_end bigint, asn_org string, "
    "asn_number bigint, country string, city string"
)

#: one read-only lookups mapping per (session, dir): nobody can write
#: into it, so every build_lookup_dfs() caller of a session can share it
_SESSION_LOOKUPS: dict[tuple, Mapping] = {}


def build_lookup_dfs(spark, parquet_dir: str | None = None) -> Mapping:
    """The tables enrich and the TI reports read, as a read-only mapping of
    small Spark DataFrames (broadcast-join sides): ``geo_asn``,
    ``geo_city``, ``ti`` and the derived ``geo_merged`` (with ``is_dc``)
    and ``ip_combined`` (``operators.enrich.derive_lookups``).

    Prefers the committed parquet fixtures (tools/build_fixtures.py,
    byte-stable): a parquet scan is JVM-native, while a DataFrame built
    with ``createDataFrame(list_of_rows)`` scans through a pickled Python
    RDD on every broadcast build. The derived tables are committed too,
    so a CLI call starts no lookup-side Spark job. The in-memory path
    remains as fallback for environments without the fixture checkout;
    it derives the tables once per session.

    Writes raise ``TypeError``. A caller that replaces an entry (main.py's
    --intelfile TI merge) takes a ``dict(...)`` copy first.
    """
    if parquet_dir is None:
        parquet_dir = LOOKUP_PARQUET_DIR
    cache_key = (id(spark), parquet_dir)
    if cache_key in _SESSION_LOOKUPS:
        return _SESSION_LOOKUPS[cache_key]
    if os.path.isdir(parquet_dir):
        def rd(name):
            return spark.read.parquet(os.path.join(parquet_dir, f"{name}.parquet"))

        out = {
            # engine schema excludes builder-only extras (geo_asn.is_dc)
            "geo_asn": rd("geo_asn").select(
                "net_start", "net_end", "asn_org", "asn_number"
            ),
            "geo_city": rd("geo_city"),
            "geo_merged": rd("geo_merged"),
            "ti": rd("ti"),
            "ip_combined": rd("ip_combined"),
        }
    else:
        from ..operators.enrich import derive_lookups

        base = _base_lookup_dfs_inmemory(spark)
        derived = derive_lookups(base)
        out = {
            "geo_asn": base["geo_asn"],
            "geo_city": base["geo_city"],
            "ti": base["ti"],
            # materialized once: the derivation aggregates and joins, and
            # would otherwise re-run in every broadcast build
            **{k: v.localCheckpoint() for k, v in derived.items()},
        }
    frozen = MappingProxyType(out)
    _SESSION_LOOKUPS[cache_key] = frozen
    return frozen


def base_lookup_dfs(spark, parquet_dir: str | None = None) -> dict:
    """The ``DERIVATION_INPUTS`` tables as Spark DataFrames: the committed
    parquet fixtures, else the in-memory generator rows."""
    if parquet_dir is None:
        parquet_dir = LOOKUP_PARQUET_DIR
    if not os.path.isdir(parquet_dir):
        base = _base_lookup_dfs_inmemory(spark)
        return {k: base[k] for k in DERIVATION_INPUTS}
    return {
        k: spark.read.parquet(os.path.join(parquet_dir, f"{k}.parquet"))
        for k in DERIVATION_INPUTS
    }


def dns_ptr_table_rows() -> list[tuple]:
    """(ip, domains, domains_joined, tld): the PTR rows with the pipe-joined
    domain list and the public-suffix parse of the first domain, as the
    committed ``dns_ptr`` fixture stores them."""
    return [
        (ip, domains, "|".join(domains), parse_psl_domain(domains[0]))
        for ip, domains in dns_ptr_rows()
    ]


def _base_lookup_dfs_inmemory(spark):
    """Fallback constructor from the in-memory row generators."""
    from pyspark.sql import types as T

    geo_asn = spark.createDataFrame(
        geo_asn_rows(), "net_start bigint, net_end bigint, asn_org string, asn_number bigint"
    )
    geo_city = spark.createDataFrame(
        geo_city_rows(), "net_start bigint, net_end bigint, country string, city string"
    )
    ti = spark.createDataFrame(ti_rows(), "ip string, feed_name string, category string")
    dc_asn = spark.createDataFrame([(n,) for n in DC_ASN_NUMBERS], "asn_number bigint")
    dns_ptr = spark.createDataFrame(
        dns_ptr_table_rows(),
        T.StructType(
            [
                T.StructField("ip", T.StringType()),
                T.StructField("domains", T.ArrayType(T.StringType())),
                T.StructField("domains_joined", T.StringType()),
                T.StructField("tld", T.StringType()),
            ]
        ),
    )
    whois_domain = spark.createDataFrame(
        whois_domain_rows(), "domain string, created string, updated string, country string, org string"
    )
    whois_ip = spark.createDataFrame(
        whois_ip_rows(),
        "ip string, cidr string, netname string, nettype string, org string, "
        "created string, updated string, country string, parent string",
    )
    shodan_idb = spark.createDataFrame(
        shodan_idb_rows(),
        T.StructType(
            [
                T.StructField("ip", T.StringType()),
                T.StructField("cpes", T.ArrayType(T.StringType())),
                T.StructField("hostnames", T.ArrayType(T.StringType())),
                T.StructField("ports", T.ArrayType(T.IntegerType())),
                T.StructField("tags", T.ArrayType(T.StringType())),
                T.StructField("vulns", T.ArrayType(T.StringType())),
            ]
        ),
    )
    geo_merged = spark.createDataFrame(geo_merged_rows(), GEO_MERGED_DDL)
    out = {
        "geo_asn": geo_asn,
        "geo_city": geo_city,
        "geo_merged": geo_merged,
        "ti": ti,
        "dc_asn": dc_asn,
        "dns_ptr": dns_ptr,
        "whois_domain": whois_domain,
        "whois_ip": whois_ip,
        "shodan_idb": shodan_idb,
    }
    # single-slice dimension frames: createDataFrame spreads even a
    # 50-row lookup over defaultParallelism partitions, so every
    # broadcast BUILD was a many-task job per Spark action. One
    # partition makes each build one trivial task; values unchanged.
    return {k: v.coalesce(1) for k, v in out.items()}
