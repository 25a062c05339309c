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
table. ``tools/build_fixtures.py`` writes every table as a committed
parquet fixture under ``data/lookups/``; Spark reads lookups from those
files only (``build_lookup_dfs``, ``base_lookup_dfs``).
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


#: committed parquet fixtures (tools/build_fixtures.py): byte-stable, the
#: one source of lookup DataFrames, and what the DuckDB oracle reads
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

#: one read-only lookups mapping per session: nobody can write into it,
#: so every build_lookup_dfs() caller of a session can share it
_SESSION_LOOKUPS: dict[int, Mapping] = {}


def _read_lookups(spark, names) -> dict:
    """The named committed fixtures as Spark DataFrames; a missing file
    raises Spark's path-not-found error."""
    return {
        k: spark.read.parquet(os.path.join(LOOKUP_PARQUET_DIR, f"{k}.parquet"))
        for k in names
    }


def build_lookup_dfs(spark) -> Mapping:
    """The tables program code reads, as a read-only mapping of small
    Spark DataFrames (broadcast-join sides) read once per session from
    the committed parquet fixtures: ``ti`` (the TI reports) and the two
    tables enrich probes, ``geo_merged`` (with ``is_dc``) and
    ``ip_combined`` (``operators.enrich.derive_lookups``). The derived
    tables are committed, so a CLI call derives nothing.

    Writes raise ``TypeError``. A caller that replaces an entry (main.py's
    --intelfile TI merge) takes a ``dict(...)`` copy first.
    """
    key = id(spark)
    if key not in _SESSION_LOOKUPS:
        _SESSION_LOOKUPS[key] = MappingProxyType(
            _read_lookups(spark, ("ti", "geo_merged", "ip_combined"))
        )
    return _SESSION_LOOKUPS[key]


def base_lookup_dfs(spark) -> dict:
    """The ``DERIVATION_INPUTS`` tables as Spark DataFrames, read from the
    committed parquet fixtures."""
    return _read_lookups(spark, DERIVATION_INPUTS)


def dns_ptr_table_rows() -> list[tuple]:
    """(ip, domains, domains_joined, tld): the PTR rows with the pipe-joined
    domain list and the public-suffix parse of the first domain, as the
    committed ``dns_ptr`` fixture stores them."""
    return [
        (ip, domains, "|".join(domains), parse_psl_domain(domains[0]))
        for ip, domains in dns_ptr_rows()
    ]
