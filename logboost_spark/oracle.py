"""Pure-Python row-at-a-time oracle of the reference enrichment semantics
and of its JSON line flatten.

This is the stand-in for running the Go reference itself (SURVEY.md §5):
an independent, direct transcription of ``enrichRecord``
(helpers/helpers.go:295-480) + ``RegexFirstPublicIPFromString``
(helpers/helpers.go:850-893) + ``IsPrivateIP`` (helpers/network.go:124-142)
+ ``CheckIPinTI`` (helpers/threatIntel.go:381-423) over the deterministic
fixture lookup tables, and of the JSON parsers' parent_child flatten
(parsers/parse_json_multi.go:322-432), which the engine runs as the JVM
function ``jvm/JsonFlatten.java``. Tests assert the Spark engine's output equals this
oracle's output row-for-row.

Deliberately written with plain-Python data structures — no Spark, no
shared code with the engine's column expressions (the regex *patterns*
are shared so both sides parse identically; the *logic* is independent).
"""

from __future__ import annotations

import json
import math
import re
from decimal import Decimal
from functools import lru_cache

from .fixtures import lookups as L
from .functions.ip import IPV4_RE, IPV6_RE, STRICT_V6_RE, _PRIVATE_V4_RANGES

_IPV4 = re.compile(IPV4_RE)
_IPV6 = re.compile(IPV6_RE)
_STRICT_V6 = re.compile(STRICT_V6_RE)


def ipv4_to_int(ip: str) -> int | None:
    parts = ip.split(".")
    if len(parts) != 4:
        return None
    try:
        vals = [int(p) for p in parts]
    except ValueError:
        return None
    if any(v < 0 or v > 255 for v in vals):
        return None
    n = 0
    for v in vals:
        n = n * 256 + v
    return n


def is_private(ip: str) -> bool:
    if ":" in ip:
        s = ip.lower()
        return (
            s in ("::1", "::")
            or bool(re.match(r"^fe[89ab]", s))
            or bool(re.match(r"^f[cd]", s))
            or s.startswith("ff")
            or s.startswith("64:ff9b:1:")
        )
    n = ipv4_to_int(ip)
    if n is None:
        return False
    return any(lo <= n <= hi for lo, hi in _PRIVATE_V4_RANGES)


def first_public_ip(text: str) -> str | None:
    """first public IPv4 → first IPv4 → first IPv6 → None."""
    v4s = _IPV4.findall(text)
    if v4s:
        for v in v4s:
            if not is_private(v):
                return v
        return v4s[0]
    m = _IPV6.search(text)
    if m:
        return m.group(0)
    return None


def is_valid_ip(ip: str) -> bool:
    if ":" in ip:
        return bool(_STRICT_V6.match(ip))
    return ipv4_to_int(ip) is not None


# ---------------------------------------------------------------------------
# lookup-side dictionaries built from the fixtures
# ---------------------------------------------------------------------------


@lru_cache(maxsize=1)
def _geo_asn():
    return sorted(L.geo_asn_rows())


@lru_cache(maxsize=1)
def _geo_city():
    return sorted(L.geo_city_rows())


def _interval_lookup(table, n: int):
    for start, end, *attrs in table:
        if start <= n <= end:
            return attrs
    return None


@lru_cache(maxsize=1)
def _ti():
    d: dict[str, tuple[set, set]] = {}
    for ip, feed, cat in L.ti_rows():
        cats, feeds = d.setdefault(ip, (set(), set()))
        cats.add(cat)
        feeds.add(feed)
    return d


@lru_cache(maxsize=1)
def _dns():
    return {ip: domains for ip, domains in L.dns_ptr_rows()}


@lru_cache(maxsize=1)
def _whois_domain():
    return {r[0]: r[1:] for r in L.whois_domain_rows()}


@lru_cache(maxsize=1)
def _whois_ip():
    return {r[0]: r[1:] for r in L.whois_ip_rows()}


@lru_cache(maxsize=1)
def _idb():
    return {
        r[0]: (
            "|".join(r[1]),
            "|".join(r[2]),
            "|".join(str(p) for p in r[3]),
            "|".join(r[4]),
            "|".join(r[5]),
        )
        for r in L.shodan_idb_rows()
    }


_DC_SET = set(L.DC_ASN_NUMBERS)

_FIELDS = (
    ["lb_class", "lb_IP", "lb_ASN", "lb_ASN_Number", "lb_Country", "lb_City"]
    + ["lb_ThreatCategories", "lb_ThreatFeedCount", "lb_ThreatFeeds"]
    + ["lb_Domains", "lb_TLD"]
    + [
        "lb_DomainWhois_CreatedDate",
        "lb_DomainWhois_UpdatedDate",
        "lb_DomainWhois_Country",
        "lb_DomainWhois_Organization",
    ]
    + [
        "lb_IPWhois_CIDR",
        "lb_IPWhois_NetName",
        "lb_IPWhois_NetType",
        "lb_IPWhois_Organization",
        "lb_IPWhois_Created",
        "lb_IPWhois_Updated",
        "lb_IPWhois_Country",
        "lb_IPWhois_Parent",
    ]
    + ["lb_IDB_cpes", "lb_IDB_hostnames", "lb_IDB_ports", "lb_IDB_tags", "lb_IDB_vulns"]
)


def enrich_text(text: str) -> dict[str, str]:
    """Full enrichment of one turn's text → {column: value} (all flags on)."""
    n_enrich = len(_FIELDS) - 2  # everything after lb_IP

    ip = first_public_ip(text)
    if ip is None or not is_valid_ip(ip):
        return dict(zip(_FIELDS, ["noip", "NoIP"] + ["NoIP"] * n_enrich))
    if is_private(ip):
        return dict(zip(_FIELDS, ["pvt", ip] + ["PVT"] * n_enrich))

    out = {"lb_class": "pub", "lb_IP": ip}

    # geo
    n = ipv4_to_int(ip)
    asn = _interval_lookup(_geo_asn(), n) if n is not None else None
    city = _interval_lookup(_geo_city(), n) if n is not None else None
    is_dc = bool(asn) and asn[1] in _DC_SET
    out["lb_ASN"] = asn[0] if asn else ""
    out["lb_ASN_Number"] = str(asn[1]) if asn else ""
    out["lb_Country"] = city[0] if city else ""
    out["lb_City"] = city[1] if city else ""

    # threat intel (+ dc merge, dedupe+sort, pipe-join)
    cats, feeds = (set(c) for c in _ti().get(ip, (set(), set())))
    if is_dc:
        cats.add("dc")
        feeds.add("internal datacenter list")
    if feeds:
        out["lb_ThreatCategories"] = "|".join(sorted(cats))
        out["lb_ThreatFeedCount"] = str(len(feeds))
        out["lb_ThreatFeeds"] = "|".join(sorted(feeds))
    else:
        out["lb_ThreatCategories"] = "none"
        out["lb_ThreatFeedCount"] = "0"
        out["lb_ThreatFeeds"] = "none"

    # DNS + TLD
    domains = _dns().get(ip)
    out["lb_Domains"] = "|".join(domains) if domains else "none"
    tld = L.parse_psl_domain(domains[0]) if domains else "none"
    out["lb_TLD"] = tld

    # WHOIS domain
    if tld != "none":
        wd = _whois_domain().get(tld)
        vals = wd if wd else ("err",) * 4
    else:
        vals = ("NA",) * 4
    for f, v in zip(_FIELDS[11:15], vals):
        out[f] = v

    # WHOIS IP
    wi = _whois_ip().get(ip, ("err",) * 8)
    for f, v in zip(_FIELDS[15:23], wi):
        out[f] = v

    # IDB
    idb = _idb().get(ip, ("err",) * 5)
    for f, v in zip(_FIELDS[23:28], idb):
        out[f] = v
    return out


def route_category(row: dict) -> str:
    """Routing rule f(threat-class, ip-class, role/tool) — see plans/route.py.
    A row without ``lb_ThreatFeeds`` (threat intel off) never routes to
    ``threat``."""
    if row["lb_class"] == "pub" and row.get("lb_ThreatFeeds", "none") != "none":
        return "threat"
    if row["lb_class"] == "pvt":
        return "internal"
    if row["lb_class"] == "noip":
        return "noip"
    if row["role"] == "tool" or row["tool"] != "none":
        return "tool_activity"
    return "general"


# --- JSON line flatten (P3-P5) ------------------------------------------------

_SURROGATE = re.compile("[\ud800-\udfff]")


def _valid_utf16(s: str) -> str:
    """Go's encoding/json decodes an unpaired surrogate escape as U+FFFD
    (``json.loads`` has joined every valid pair already)."""
    return _SURROGATE.sub("\ufffd", s)


def _go_str(v) -> str:
    """Go-style stringification (parsers/parse_json_multi.go:369-432): a
    string as is, nil → ErrorNil, bool → true/false, an int in full,
    float → FormatFloat('E',-1,64), an array → fmt.Sprint's ``[a b]``, an
    object → fmt's ``map[k:v]`` with sorted keys."""
    if isinstance(v, str):
        return _valid_utf16(v)
    if v is None:
        return "ErrorNil"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        # the shortest digits that round-trip, as repr and Go's -1
        # precision pick them; the exponent has at least two digits
        d = Decimal(repr(v))
        digits = "".join(map(str, d.as_tuple().digits)).rstrip("0") or "0"
        mant = digits[0] + ("." + digits[1:] if digits[1:] else "")
        exp = d.adjusted() if v else 0
        return f"{'-' if d.is_signed() else ''}{mant}E{exp:+03d}"
    if isinstance(v, list):
        return "[" + " ".join(map(_go_str, v)) + "]"
    if isinstance(v, dict):
        items = {_valid_utf16(k): _go_str(x) for k, x in v.items()}
        return "map[" + " ".join(f"{k}:{s}" for k, s in sorted(items.items())) + "]"
    return str(v)


def _reject_constant(token: str):
    raise ValueError(f"non-finite JSON number {token}")


def _finite_float(token: str) -> float:
    v = float(token)
    if math.isinf(v):
        raise ValueError(f"JSON number out of float64 range: {token}")
    return v


def _flatten_json(obj: dict, prefix: str = "") -> dict[str, str]:
    """parent_child underscore flattening (parse_json_multi.go:322-367)."""
    out: dict[str, str] = {}
    for key, v in obj.items():
        key = _valid_utf16(key)
        name = f"{prefix}_{key}" if prefix else key
        if isinstance(v, dict):
            out.update(_flatten_json(v, name))
        else:
            out[name] = _go_str(v)
    return out


def flatten_json_line(s: str) -> dict[str, str] | None:
    """The ``fields`` of one JSON line, or None when the line is not one
    JSON object: bad syntax, trailing data, NaN, ±Infinity or a number
    past float64, all of which Go's encoding/json rejects. A
    ``{"Records":[...]}`` line flattens ``Records[0]``."""
    try:
        obj = json.loads(s, parse_constant=_reject_constant, parse_float=_finite_float)
    except (ValueError, RecursionError):
        return None
    if not isinstance(obj, dict):
        return None
    recs = obj.get("Records")
    if isinstance(recs, list) and recs and isinstance(recs[0], dict):
        return _flatten_json(recs[0])
    return _flatten_json(obj)
