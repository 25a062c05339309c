"""IP extraction and classification as native Column expressions.

Reproduces the reference's semantics with zero Python in the hot path:

* ``RegexFirstPublicIPFromString`` (helpers/helpers.go:850-893): all IPv4
  matches; return the first *public* one, else the first match of any
  kind, else the first IPv6 match, else not-found.
* ``IsPrivateIP`` (helpers/network.go:29-52,124-142): loopback/link-local/
  multicast + the 12 hardcoded CIDR blocks + RFC1918 + string specials
  (``0.0.0.0``, ``::``, ``::1``, ``255.`` prefix).

Everything compiles to JVM regexp / arithmetic expressions inside
whole-stage codegen — no UDFs. IPv4 privacy is decided on the integer
form with range compares; IPv6 privacy on canonical textual prefixes
(the regex extractor only ever yields well-formed textual IPs, so prefix
classification is exact for extracted values).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java-regex-compatible IPv4 matcher, same shape as vars/vars.go:64.
IPV4_RE = r"\b(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\b"

# IPv6 matcher covering full, compressed, and v4-mapped forms
# (same coverage as vars/vars.go:58; Java-compatible alternation).
# The loose `(?:[0-9a-fA-F]{0,4}:){2,7}[0-9a-fA-F]{1,4}` branch comes FIRST,
# mirroring the reference's alternation order, so compressed forms like
# `fe80::1` capture in full (and, like the reference, timestamp-ish tokens
# `14:12:51` can match — parity bug kept on purpose; IPv6 extraction only
# runs when no IPv4 matched anywhere in the line).
IPV6_RE = (
    r"(?:"
    r"(?:[0-9a-fA-F]{0,4}:){2,7}[0-9a-fA-F]{1,4}"  # loose branch (reference-first)
    r"|(?:[0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}"  # full 8 groups
    r"|(?:[0-9a-fA-F]{1,4}:){1,7}:"  # 1..7 groups then ::
    r"|(?:[0-9a-fA-F]{1,4}:){1,6}:[0-9a-fA-F]{1,4}"
    r"|(?:[0-9a-fA-F]{1,4}:){1,5}(?::[0-9a-fA-F]{1,4}){1,2}"
    r"|(?:[0-9a-fA-F]{1,4}:){1,4}(?::[0-9a-fA-F]{1,4}){1,3}"
    r"|(?:[0-9a-fA-F]{1,4}:){1,3}(?::[0-9a-fA-F]{1,4}){1,4}"
    r"|(?:[0-9a-fA-F]{1,4}:){1,2}(?::[0-9a-fA-F]{1,4}){1,5}"
    r"|[0-9a-fA-F]{1,4}:(?::[0-9a-fA-F]{1,4}){1,6}"
    r"|:(?:(?::[0-9a-fA-F]{1,4}){1,7}|:)"
    r"|::(?:ffff(?::0{1,4})?:)?(?:(?:25[0-5]|(?:2[0-4]|1?[0-9])?[0-9])\.){3}(?:25[0-5]|(?:2[0-4]|1?[0-9])?[0-9])"
    r"|(?:[0-9a-fA-F]{1,4}:){1,4}:(?:(?:25[0-5]|(?:2[0-4]|1?[0-9])?[0-9])\.){3}(?:25[0-5]|(?:2[0-4]|1?[0-9])?[0-9])"
    r")"
)


# Strict (anchored) IPv6 validator approximating Go's net.ParseIP
# acceptance: full 8-group form, exactly-one-``::`` compressed forms, and
# v4-suffixed forms. Used to reject pseudo-v6 captures like "18:19:37"
# (the reference rejects them via ParseIP → nil → NoIP path,
# helpers/helpers.go:342-345).
STRICT_V6_RE = (
    r"^(?:"
    r"(?:[0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}"
    r"|(?:[0-9a-fA-F]{1,4}:){1,7}:"
    r"|(?:[0-9a-fA-F]{1,4}:){1,6}:[0-9a-fA-F]{1,4}"
    r"|(?:[0-9a-fA-F]{1,4}:){1,5}(?::[0-9a-fA-F]{1,4}){1,2}"
    r"|(?:[0-9a-fA-F]{1,4}:){1,4}(?::[0-9a-fA-F]{1,4}){1,3}"
    r"|(?:[0-9a-fA-F]{1,4}:){1,3}(?::[0-9a-fA-F]{1,4}){1,4}"
    r"|(?:[0-9a-fA-F]{1,4}:){1,2}(?::[0-9a-fA-F]{1,4}){1,5}"
    r"|[0-9a-fA-F]{1,4}:(?::[0-9a-fA-F]{1,4}){1,6}"
    r"|:(?:(?::[0-9a-fA-F]{1,4}){1,7}|:)"
    r"|::(?:ffff(?::0{1,4})?:)?(?:(?:25[0-5]|(?:2[0-4]|1?[0-9])?[0-9])\.){3}(?:25[0-5]|(?:2[0-4]|1?[0-9])?[0-9])"
    r"|(?:[0-9a-fA-F]{1,4}:){1,4}:(?:(?:25[0-5]|(?:2[0-4]|1?[0-9])?[0-9])\.){3}(?:25[0-5]|(?:2[0-4]|1?[0-9])?[0-9])"
    r")$"
)


def ipv4_to_long(ip: Column) -> Column:
    """Dotted-quad string → 32-bit value in a BIGINT (null if malformed).

    Deliberately regex-free and HOF-free: higher-order functions
    (transform/aggregate/forall) fall out of whole-stage codegen into
    interpreted eval, and a regex `split` inside them put all executor
    threads in StringSplit.nullSafeEval (measured 10-20× slowdown of the
    whole enrich stage). substring_index chains stay in codegen.
    """
    o = [
        F.substring_index(ip, ".", 1),
        F.substring_index(F.substring_index(ip, ".", 2), ".", -1),
        F.substring_index(F.substring_index(ip, ".", 3), ".", -1),
        F.substring_index(ip, ".", -1),
    ]
    v = [x.try_cast("bigint") for x in o]
    four_parts = (F.length(ip) - F.length(F.replace(ip, F.lit("."), F.lit("")))) == 3
    ok = four_parts
    for x in v:
        ok = ok & x.isNotNull() & (x >= 0) & (x <= 255)
    val = ((v[0] * 256 + v[1]) * 256 + v[2]) * 256 + v[3]
    return F.when(ok, val)


# Private IPv4 ranges as (start, end) on the integer form. Mirrors
# helpers/network.go:31-44 plus the multicast/linklocal predicates and
# string specials of helpers/network.go:124-142.
_PRIVATE_V4_RANGES = [
    (0x7F000000, 0x7FFFFFFF),  # 127.0.0.0/8 loopback
    (0x0A000000, 0x0AFFFFFF),  # 10.0.0.0/8
    (0xAC100000, 0xAC1FFFFF),  # 172.16.0.0/12
    (0xC0A80000, 0xC0A8FFFF),  # 192.168.0.0/16
    (0xC0000000, 0xC00000FF),  # 192.0.0.0/24
    (0xC0000200, 0xC00002FF),  # 192.0.2.0/24
    (0xA9FE0000, 0xA9FEFFFF),  # 169.254.0.0/16 link-local
    (0xE0000000, 0xEFFFFFFF),  # 224.0.0.0/4 multicast
    (0xFF000000, 0xFFFFFFFF),  # "255." string-prefix special
    (0x00000000, 0x00000000),  # "0.0.0.0" special
]


def is_private_ipv4_long(ip_long: Column) -> Column:
    """Privacy predicate on the integer IPv4 form (null-safe → false).

    NOTE: references ``ip_long`` ~20×. Pass an ATTRIBUTE (a staged
    column), never a computed expression — inlining a conversion tree
    here multiplies it 20× and the optimizer then spends minutes
    copying the blown-up tree (measured).
    """
    cond = F.lit(False)
    for lo, hi in _PRIVATE_V4_RANGES:
        cond = cond | ip_long.between(F.lit(lo), F.lit(hi))
    return F.coalesce(cond, F.lit(False))


def is_private_ipv4_str_compact(x: Column) -> Column:
    """String-form privacy test for canonical dotted quads — one
    octet-prefix pass, ~50 expression nodes total. Used inside the
    rare-path array lambda where attribute staging isn't possible.
    Range-equivalent to is_private_ipv4_long for regex-extracted
    candidates (canonical quads)."""
    o1 = F.substring_index(x, ".", 1).try_cast("int")
    o2 = F.substring_index(F.substring_index(x, ".", 2), ".", -1).try_cast("int")
    p2 = F.substring_index(x, ".", 2)
    p3 = F.substring_index(x, ".", 3)
    return (
        o1.isin(127, 10, 255)
        | o1.between(224, 239)
        | ((o1 == 172) & o2.between(16, 31))
        | p2.isin("192.168", "169.254")
        | p3.isin("192.0.0", "192.0.2")
        | (x == "0.0.0.0")
    )


def is_private_ipv6_str(ip: Column) -> Column:
    """Privacy predicate on canonical textual IPv6.

    Covers ::1/128, ::, fe80::/10 (fe80-febf), fc00::/7 (fc/fd),
    ff00::/8 multicast, 64:ff9b:1::/48 — helpers/network.go:38-43,124-142.
    IPv4-mapped forms (::ffff:a.b.c.d and bare ::a.b.c.d) classify by the
    embedded dotted quad: Go's net.ParseIP resolves them to the 4-byte
    form, so RFC1918 inside a mapped address is private (reachable via
    the -ipcol direct-value path)."""
    s = F.lower(ip)
    mapped_quad = F.regexp_extract(
        s, r"^::(?:ffff(?::0{1,4})?:)?((?:\d{1,3}\.){3}\d{1,3})$", 1
    )
    return (
        (s == "::1")
        | (s == "::")
        | s.rlike(r"^fe[89ab]")
        | s.rlike(r"^f[cd]")
        | s.startswith("ff")
        | s.startswith("64:ff9b:1:")
        | ((F.length(mapped_quad) > 0) & is_private_ipv4_str_compact(mapped_quad))
    )


def extract_all_ipv4(text: Column) -> Column:
    """All IPv4 literals in a string, in order (array<string>)."""
    return F.regexp_extract_all(text, F.lit("(" + IPV4_RE + ")"), 1)


def extract_first_ipv6(text: Column) -> Column:
    """First IPv6 literal in a string, null if none."""
    m = F.regexp_extract(text, "(" + IPV6_RE + ")", 1)
    return F.when(F.length(m) > 0, m)


def is_valid_ip(ip: Column) -> Column:
    """Would Go's ``net.ParseIP`` accept this textual value?"""
    return F.when(
        ip.contains(":"), ip.rlike(STRICT_V6_RE)
    ).otherwise(ipv4_to_long(ip).isNotNull())


# Azure audit ClientIP probe (vars/vars.go:14, helpers/helpers.go:274-293)
AZURE_CLIENT_IP_RE = r'(ClientIP|ClientIPAddress)":"(.*?)",'


def ip_extract_stage(
    df,
    ip_col_name: str | None = None,
    json_col_name: str | None = None,
):
    """Append ``_ip`` (IP extracted from ``text``, or null) + ``_cls``
    (noip|pvt|pub) via STAGED withColumns.

    F4 source precedence (helpers/helpers.go:304-345): with
    ``ip_col_name``, that column's value wins when it parses as an IP,
    else the regex runs over that cell only; with ``json_col_name``, the
    Azure ClientIP probe wins when it matches, else the regex runs over
    the whole row; default is regex over the whole row.

    Performance-critical shape: every heavy expression (the two regex
    scans) is computed exactly once into its own column; downstream
    expressions reference previous *attributes*, never re-inline the
    subtree. Building this as one nested expression multiplies the
    regex tree ~200× across the enrichment's 28 sentinel columns —
    measured: 12 MiB codegen task binaries and minutes of Catalyst
    tree-walking. Staged, the plan stays linear.
    """
    if ip_col_name is not None:
        src = F.col(ip_col_name)
        df = df.withColumn("_direct", F.when(is_valid_ip(src), src))
        t = src
    elif json_col_name is not None:
        probe = F.regexp_extract(F.col(json_col_name), AZURE_CLIENT_IP_RE, 2)
        df = df.withColumn("_direct", F.when(F.length(probe) > 0, probe))
        t = F.col("text")
    else:
        df = df.withColumn("_direct", F.lit(None).cast("string"))
        t = F.col("text")
    # Common case first, fully codegen'd: if the FIRST IPv4 match is
    # public it IS the answer ("first public else first"). Only rows
    # whose first match is private pay the extract-all + interpreted
    # per-element filter (higher-order functions never codegen).
    # staged separately: nullif()/when() would duplicate the regex child
    df = df.withColumn(
        "_m1raw",
        F.when(F.col("_direct").isNull(), F.regexp_extract(t, "(" + IPV4_RE + ")", 1)),
    )
    df = df.withColumn("_m1", F.when(F.length("_m1raw") > 0, F.col("_m1raw")))
    df = df.withColumn("_m1_v4l", ipv4_to_long(F.col("_m1")))
    df = df.withColumn("_m1_pub", ~is_private_ipv4_long(F.col("_m1_v4l")))
    df = df.withColumn(
        "_ips4",
        F.when(F.col("_m1").isNotNull() & ~F.col("_m1_pub"), extract_all_ipv4(t)),
    )
    df = df.withColumn(
        "_pub4", F.filter(F.col("_ips4"), lambda x: ~is_private_ipv4_str_compact(x))
    )
    df = df.withColumn(
        "_ip6",
        F.when(F.col("_direct").isNull() & F.col("_m1").isNull(), extract_first_ipv6(t)),
    )
    df = df.withColumn(
        "_ip",
        F.coalesce(
            F.col("_direct"),
            F.when(F.col("_m1_pub"), F.col("_m1")),
            F.get("_pub4", 0),
            F.col("_m1"),
            F.col("_ip6"),
        ),
    )
    ip = F.col("_ip")
    # reuse _m1_v4l when the answer IS _m1 (common); recompute otherwise
    df = df.withColumn(
        "_v4l",
        F.when(ip == F.col("_m1"), F.col("_m1_v4l")).otherwise(
            F.when(~ip.contains(":"), ipv4_to_long(ip))
        ),
    )
    df = df.withColumn(
        "_valid",
        F.when(ip.isNull(), F.lit(False))
        .when(ip.contains(":"), ip.rlike(STRICT_V6_RE))
        .otherwise(F.col("_v4l").isNotNull()),
    )
    df = df.withColumn(
        "_priv",
        F.when(ip.contains(":"), is_private_ipv6_str(ip)).otherwise(
            is_private_ipv4_long(F.col("_v4l"))
        ),
    )
    df = df.withColumn(
        "_cls",
        F.when(~F.col("_valid"), F.lit("noip"))
        .when(F.col("_priv"), F.lit("pvt"))
        .otherwise(F.lit("pub")),
    )
    return df.drop(
        "_ips4", "_pub4", "_ip6", "_valid", "_priv", "_direct",
        "_m1raw", "_m1", "_m1_v4l", "_m1_pub",
    )
