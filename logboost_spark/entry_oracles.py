"""DuckDB oracle SQL builders for the driver's correctness gate.

Each function returns an ANSI-SQL string DuckDB can run against the
driver's pre-registered views (region nation customer supplier part
orders lineitem events documents embeddings) plus this repo's committed
fixture parquet (transcripts + lookup tables, read by absolute path).

The transcript-pipeline oracles re-implement the reference semantics
*in SQL from scratch* — independent of the Spark engine's column
expressions — sharing only the regex PATTERNS (so both sides tokenize
identically; the logic is separate).
"""

from __future__ import annotations

import os

from .functions.ip import IPV4_RE, IPV6_RE, STRICT_V6_RE
from .functions.hashing import MERSENNE_P, minhash_params
from .functions.textfns import LANG_MARKERS, STOPWORDS
from .fixtures.transcripts import fixture_path

DATA_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data")
LOOKUP_DIR = os.path.join(DATA_DIR, "lookups")

# Default oracle input: the driver's correctness gate runs at sf=0.01.
# build_oracles(sf=...) rebuilds every SQL string against another fixture
# so tools/check_correctness.py compares like with like at any sf_dir.
DEFAULT_SF = "sf0.01"
TRANSCRIPTS_DEFAULT = fixture_path(DEFAULT_SF)


def _lk(name: str) -> str:
    return f"read_parquet('{os.path.join(LOOKUP_DIR, name + '.parquet')}')"


# --- IP predicate fragments (mirror helpers/network.go:124-142) -------------


def _o(x: str, i: int) -> str:
    return f"TRY_CAST(string_split({x},'.')[{i}] AS INT)"


def sql_priv4(x: str) -> str:
    o1, o2, o3 = _o(x, 1), _o(x, 2), _o(x, 3)
    return (
        f"({o1}=127 OR {o1}=10 OR ({o1}=172 AND {o2} BETWEEN 16 AND 31)"
        f" OR ({o1}=192 AND {o2}=168) OR ({o1}=192 AND {o2}=0 AND ({o3}=0 OR {o3}=2))"
        f" OR ({o1}=169 AND {o2}=254) OR {o1} BETWEEN 224 AND 239 OR {o1}=255"
        f" OR {x}='0.0.0.0')"
    )


def sql_priv6(x: str) -> str:
    # v4-mapped forms classify by the embedded quad (functions/ip.py
    # is_private_ipv6_str — both engines must agree on the -ipcol path)
    quad = f"regexp_extract(lower({x}), '^::(?:ffff(?::0{{1,4}})?:)?((?:\\d{{1,3}}\\.){{3}}\\d{{1,3}})$', 1)"
    return (
        f"(lower({x}) IN ('::1','::') OR regexp_matches(lower({x}),'^fe[89ab]')"
        f" OR regexp_matches(lower({x}),'^f[cd]') OR lower({x}) LIKE 'ff%'"
        f" OR lower({x}) LIKE '64:ff9b:1:%'"
        f" OR (len({quad}) > 0 AND {sql_priv4(quad)}))"
    )


def sql_priv(x: str) -> str:
    return f"(CASE WHEN contains({x},':') THEN {sql_priv6(x)} ELSE {sql_priv4(x)} END)"


def sql_ip4_int(x: str) -> str:
    # TRY_CAST: join predicates are evaluated eagerly on every row (no
    # short-circuit), so IPv6 values must become NULL, not a cast error
    return (
        f"(TRY_CAST(string_split({x},'.')[1] AS BIGINT)*16777216"
        f" + TRY_CAST(string_split({x},'.')[2] AS BIGINT)*65536"
        f" + TRY_CAST(string_split({x},'.')[3] AS BIGINT)*256"
        f" + TRY_CAST(string_split({x},'.')[4] AS BIGINT))"
    )


def transcript_cls_cte(path: str | None = None, json_probe: bool = False) -> str:
    """Shared CTE chain: transcripts → extracted ip → lb_class.

    ``json_probe=True`` mirrors the F4 -jsoncol precedence
    (helpers/helpers.go:274-293): the Azure ClientIP probe over the JSON
    cell wins when it matches; the whole-row regex is the fallback.
    """
    p = path or TRANSCRIPTS_DEFAULT
    probe = (
        """CASE WHEN regexp_extract(text, '(ClientIP|ClientIPAddress)":"(.*?)",', 2) <> ''
             THEN regexp_extract(text, '(ClientIP|ClientIPAddress)":"(.*?)",', 2) END"""
        if json_probe
        else "CAST(NULL AS VARCHAR)"
    )
    return f"""
WITH tr AS (SELECT * FROM read_parquet('{p}')),
x AS (SELECT conv_id, turn_idx, role, tool, ts, text,
        {probe} AS direct,
        regexp_extract_all(text, '({IPV4_RE})', 1) AS v4s,
        regexp_extract(text, '({IPV6_RE})', 1) AS v6raw
      FROM tr),
e AS (SELECT *, COALESCE(direct, list_filter(v4s, q -> NOT {sql_priv4('q')})[1], v4s[1],
        CASE WHEN v6raw <> '' THEN v6raw END) AS ip FROM x),
cls AS (SELECT *, CASE
        WHEN ip IS NULL THEN 'noip'
        WHEN contains(ip,':') AND NOT regexp_matches(ip, '{STRICT_V6_RE}') THEN 'noip'
        WHEN NOT contains(ip,':') AND NOT regexp_matches(ip, '^{IPV4_RE}$') THEN 'noip'
        WHEN {sql_priv('ip')} THEN 'pvt' ELSE 'pub' END AS lb_class
      FROM e)"""


def enriched_cte(path: str | None = None, full: bool = False) -> str:
    """cls → full lb_* columns via lookup parquet joins (SQL oracle of the
    enrichment stage). ``full=True`` adds the WHOIS-domain / WHOIS-IP /
    Shodan-IDB joins (J7-J9) with the reference's NA-vs-err sentinel split
    (helpers/helpers.go:469-473, 523-557, 560-762)."""
    geo_asn, geo_city, ti, dns = _lk("geo_asn"), _lk("geo_city"), _lk("ti"), _lk("dns_ptr")
    wd, wi, idb = _lk("whois_domain"), _lk("whois_ip"), _lk("shodan_idb")
    ipint = sql_ip4_int("c.ip")
    whois_joins = (
        f"""
  LEFT JOIN {wd} wd ON c.lb_class='pub' AND d.tld IS NOT NULL
       AND d.tld <> 'none' AND d.tld = wd.domain
  LEFT JOIN {wi} wi ON c.lb_class='pub' AND c.ip = wi.ip
  LEFT JOIN {idb} ib ON c.lb_class='pub' AND c.ip = ib.ip"""
        if full
        else ""
    )
    whois_cols = (
        """,
         wd.created AS wd_created, wd.updated AS wd_updated,
         wd.country AS wd_country, wd.org AS wd_org,
         wi.cidr AS wi_cidr, wi.netname AS wi_netname, wi.nettype AS wi_nettype,
         wi.org AS wi_org, wi.created AS wi_created, wi.updated AS wi_updated,
         wi.country AS wi_country, wi.parent AS wi_parent,
         CASE WHEN ib.ip IS NOT NULL THEN COALESCE(array_to_string(ib.cpes,'|'),'') END AS idb_cpes,
         CASE WHEN ib.ip IS NOT NULL THEN COALESCE(array_to_string(ib.hostnames,'|'),'') END AS idb_hostnames,
         CASE WHEN ib.ip IS NOT NULL THEN COALESCE(array_to_string(ib.ports,'|'),'') END AS idb_ports,
         CASE WHEN ib.ip IS NOT NULL THEN COALESCE(array_to_string(ib.tags,'|'),'') END AS idb_tags,
         CASE WHEN ib.ip IS NOT NULL THEN COALESCE(array_to_string(ib.vulns,'|'),'') END AS idb_vulns"""
        if full
        else ""
    )
    # NA when the row never had a domain to look up; err when a valid
    # domain's live lookup returned nothing (helpers/helpers.go:469-473)
    whois_out = ""
    if full:
        has_dom = "(tld IS NOT NULL AND tld <> 'none')"
        parts = []
        for src, name in [
            ("wd_created", "lb_DomainWhois_CreatedDate"),
            ("wd_updated", "lb_DomainWhois_UpdatedDate"),
            ("wd_country", "lb_DomainWhois_Country"),
            ("wd_org", "lb_DomainWhois_Organization"),
        ]:
            parts.append(
                f"""CASE lb_class WHEN 'noip' THEN 'NoIP' WHEN 'pvt' THEN 'PVT'
         ELSE CASE WHEN NOT {has_dom} THEN 'NA' ELSE COALESCE({src},'err') END END AS {name}"""
            )
        for src, name in [
            ("wi_cidr", "lb_IPWhois_CIDR"),
            ("wi_netname", "lb_IPWhois_NetName"),
            ("wi_nettype", "lb_IPWhois_NetType"),
            ("wi_org", "lb_IPWhois_Organization"),
            ("wi_created", "lb_IPWhois_Created"),
            ("wi_updated", "lb_IPWhois_Updated"),
            ("wi_country", "lb_IPWhois_Country"),
            ("wi_parent", "lb_IPWhois_Parent"),
            ("idb_cpes", "lb_IDB_cpes"),
            ("idb_hostnames", "lb_IDB_hostnames"),
            ("idb_ports", "lb_IDB_ports"),
            ("idb_tags", "lb_IDB_tags"),
            ("idb_vulns", "lb_IDB_vulns"),
        ]:
            parts.append(
                f"""CASE lb_class WHEN 'noip' THEN 'NoIP' WHEN 'pvt' THEN 'PVT'
         ELSE COALESCE({src},'err') END AS {name}"""
            )
        whois_out = ",\n    " + ",\n    ".join(parts)
    return (
        transcript_cls_cte(path)
        + f""",
ti_by_ip AS (SELECT ip,
      list_sort(list(DISTINCT category)) AS cats,
      list_sort(list(DISTINCT feed_name)) AS feeds
    FROM {ti} GROUP BY ip),
joined AS (
  SELECT c.*, ga.asn_org, ga.asn_number, ga.is_dc, gc.country, gc.city,
         t.cats AS ti_cats, t.feeds AS ti_feeds, d.domains_joined, d.tld{whois_cols}
  FROM cls c
  LEFT JOIN {geo_asn} ga ON c.lb_class='pub' AND NOT contains(c.ip,':')
       AND {ipint} BETWEEN ga.net_start AND ga.net_end
  LEFT JOIN {geo_city} gc ON c.lb_class='pub' AND NOT contains(c.ip,':')
       AND {ipint} BETWEEN gc.net_start AND gc.net_end
  LEFT JOIN ti_by_ip t ON c.lb_class='pub' AND c.ip = t.ip
  LEFT JOIN {dns} d ON c.lb_class='pub' AND c.ip = d.ip{whois_joins}
),
merged AS (
  SELECT *,
    CASE WHEN COALESCE(is_dc, FALSE)
         THEN list_sort(list_distinct(list_append(COALESCE(ti_cats, []::VARCHAR[]), 'dc')))
         ELSE ti_cats END AS mcats,
    CASE WHEN COALESCE(is_dc, FALSE)
         THEN list_sort(list_distinct(list_append(COALESCE(ti_feeds, []::VARCHAR[]), 'internal datacenter list')))
         ELSE ti_feeds END AS mfeeds
  FROM joined
),
enr AS (
  SELECT conv_id, turn_idx, role, tool, ts, text, lb_class,
    CASE WHEN lb_class='noip' THEN 'NoIP' ELSE ip END AS lb_IP,
    CASE lb_class WHEN 'noip' THEN 'NoIP' WHEN 'pvt' THEN 'PVT'
         ELSE COALESCE(asn_org,'') END AS lb_ASN,
    CASE lb_class WHEN 'noip' THEN 'NoIP' WHEN 'pvt' THEN 'PVT'
         ELSE COALESCE(CAST(asn_number AS VARCHAR),'') END AS lb_ASN_Number,
    CASE lb_class WHEN 'noip' THEN 'NoIP' WHEN 'pvt' THEN 'PVT'
         ELSE COALESCE(country,'') END AS lb_Country,
    CASE lb_class WHEN 'noip' THEN 'NoIP' WHEN 'pvt' THEN 'PVT'
         ELSE COALESCE(city,'') END AS lb_City,
    CASE lb_class WHEN 'noip' THEN 'NoIP' WHEN 'pvt' THEN 'PVT'
         WHEN 'pub' THEN CASE WHEN mfeeds IS NULL OR len(mfeeds)=0 THEN 'none'
              ELSE array_to_string(mcats,'|') END END AS lb_ThreatCategories,
    CASE lb_class WHEN 'noip' THEN 'NoIP' WHEN 'pvt' THEN 'PVT'
         WHEN 'pub' THEN CASE WHEN mfeeds IS NULL OR len(mfeeds)=0 THEN '0'
              ELSE CAST(len(mfeeds) AS VARCHAR) END END AS lb_ThreatFeedCount,
    CASE lb_class WHEN 'noip' THEN 'NoIP' WHEN 'pvt' THEN 'PVT'
         WHEN 'pub' THEN CASE WHEN mfeeds IS NULL OR len(mfeeds)=0 THEN 'none'
              ELSE array_to_string(mfeeds,'|') END END AS lb_ThreatFeeds,
    CASE lb_class WHEN 'noip' THEN 'NoIP' WHEN 'pvt' THEN 'PVT'
         ELSE COALESCE(domains_joined,'none') END AS lb_Domains,
    CASE lb_class WHEN 'noip' THEN 'NoIP' WHEN 'pvt' THEN 'PVT'
         ELSE COALESCE(tld,'none') END AS lb_TLD{whois_out}
  FROM merged
),
routed AS (
  SELECT *, CASE
      WHEN lb_class='pub' AND lb_ThreatFeeds <> 'none' THEN 'threat'
      WHEN lb_class='pvt' THEN 'internal'
      WHEN lb_class='noip' THEN 'noip'
      WHEN role='tool' OR tool<>'none' THEN 'tool_activity'
      ELSE 'general' END AS sink
  FROM enr
)"""
    )


# --- parse-family fragments (P2-P11 oracle side) ----------------------------
#
# Independent SQL re-implementation of the parse stage: shares only the
# regex PATTERN STRINGS with parsers/formats.py (both engines must
# tokenize identically); the extraction logic is separate DuckDB SQL.

from .parsers.formats import (  # noqa: E402  (pattern constants only)
    CLF_COMBINED_RE,
    CLF_COMMON_RE,
    KV_PAIR_RE,
    SYSLOG_3164_RE,
    SYSLOG_5424_RE,
    SYSLOG_GENERIC_RE,
    _CLF_COMBINED_GROUPS,
    _CLF_COMMON_GROUPS,
)


def detect_format_sql(t: str) -> str:
    """The P11 router precedence chain as a DuckDB CASE expression
    (same order as parsers/formats.py detect_format)."""
    return f"""CASE
  WHEN starts_with({t}, '#Fields:') THEN 'iis_w3c'
  WHEN starts_with({t}, '{{"Records":[') THEN 'json_multi'
  WHEN starts_with({t}, '{{') AND {t} LIKE '%}}' THEN 'json'
  WHEN regexp_matches({t}, '(^|\\s|>)CEF:\\d+\\|') THEN 'cef'
  WHEN regexp_matches({t}, '^{CLF_COMBINED_RE}$') THEN 'clf_combined'
  WHEN regexp_matches({t}, '^{CLF_COMMON_RE}$') THEN 'clf_common'
  WHEN regexp_matches({t}, '^{SYSLOG_5424_RE}') THEN 'syslog_rfc5424'
  WHEN regexp_matches({t}, '^{SYSLOG_3164_RE}') THEN 'syslog_rfc3164'
  WHEN regexp_matches({t}, '{SYSLOG_GENERIC_RE}') THEN 'syslog_generic'
  WHEN regexp_matches({t}, '{KV_PAIR_RE}.*{KV_PAIR_RE}') THEN 'kv'
  ELSE 'raw' END"""


def _grok_entries_sql(t: str, pattern: str, groups: list[str]) -> str:
    """Sorted 'k=v' entry list for a regex-grok format.

    Uses the named-group struct form — DuckDB's integer-index
    regexp_extract caps at group 9 and CLF-combined has 11 groups."""
    names = ", ".join(f"'{g}'" for g in groups)
    s = f"regexp_extract({t}, '{pattern}', [{names}])"
    parts = [f"'{k}=' || {s}['{k}']" for k in groups]
    return f"list_sort([{', '.join(parts)}])"


def _kv_entries_sql(t: str) -> str:
    """Comma-delimited k=v pairs, quotes stripped (parse_kv.go:18)."""
    return (
        f"list_sort(list_transform(string_split_regex({t}, ',\\s*'), "
        f"p -> regexp_extract(p, '^([^=]+)=', 1) || '=' || "
        f"regexp_replace(regexp_extract(p, '^[^=]+=(.*)$', 1), '^\"|\"$', '', 'g')))"
    )


def _cef_entries_sql(t: str) -> str:
    """CEF 7 fixed headers + extension k=v pairs (parse_cef.go:270-364).
    Extension split on whitespace (oracle-side simplification: fixture
    extension values contain no spaces; the engine's lookahead split is
    pytest-verified)."""
    body = f"regexp_extract({t}, '(CEF:.*)$', 1)"
    parts = f"string_split({body}, '|')"
    headers = ", ".join(
        [
            f"'CEF_VERSION=' || regexp_replace({parts}[1], '^CEF:', '')",
            f"'CEF_VENDOR=' || COALESCE({parts}[2], '')",
            f"'CEF_PRODUCT=' || COALESCE({parts}[3], '')",
            f"'CEF_PRODUCT_VERSION=' || COALESCE({parts}[4], '')",
            f"'CEF_EVENT_ID=' || COALESCE({parts}[5], '')",
            f"'CEF_EVENT_NAME=' || COALESCE({parts}[6], '')",
            f"'CEF_EVENT_SEVERITY=' || COALESCE({parts}[7], '')",
        ]
    )
    ext = f"COALESCE({parts}[8], '')"
    ext_entries = (
        f"list_transform(list_filter(string_split_regex({ext}, '\\s+'), p -> contains(p, '=')), "
        f"p -> regexp_extract(p, '^([^=]+)=', 1) || '=' || regexp_extract(p, '^[^=]+=(.*)$', 1))"
    )
    return f"list_sort(list_concat([{headers}], {ext_entries}))"


def _iis_entries_sql(t: str) -> str:
    """#Fields directive names zipped with the first data row
    (parse_iis_w3c.go:15-54); comma = IIS, space = W3C."""
    header = f"regexp_extract({t}, '#Fields:\\s*([^\\n]*)', 1)"
    delim = f"CASE WHEN contains({header}, ',') THEN ',\\s*' ELSE '\\s+' END"
    names = f"string_split_regex(trim({header}), {delim})"
    vals = f"string_split_regex(trim(regexp_extract({t}, '\\n([^\\n]*)', 1)), {delim})"
    return (
        f"list_sort(list_transform(range(1, len({names}) + 1), "
        f"i -> {names}[i] || '=' || {vals}[i]))"
    )


def parse_entries_sql(t: str) -> str:
    """Per-format sorted 'k=v;...' entries string — the oracle twin of
    parse_stage + a sorted map_entries projection (non-JSON formats)."""
    cases = {
        "clf_common": _grok_entries_sql(t, f"^{CLF_COMMON_RE}$", _CLF_COMMON_GROUPS),
        "clf_combined": _grok_entries_sql(t, f"^{CLF_COMBINED_RE}$", _CLF_COMBINED_GROUPS),
        "syslog_rfc3164": _grok_entries_sql(
            t, f"^{SYSLOG_3164_RE}$", ["PRI", "TIMESTAMP", "HOST", "MESSAGE"]
        ),
        "syslog_rfc5424": _grok_entries_sql(
            t, f"^{SYSLOG_5424_RE}$", ["PRI", "VERSION", "TIMESTAMP", "HOST", "MESSAGE"]
        ),
        "syslog_generic": _grok_entries_sql(
            t,
            f"^{SYSLOG_GENERIC_RE.lstrip('^')}$",
            ["TIMESTAMP", "HOST", "PROCESS", "PROCID", "MESSAGE"],
        ),
        "kv": _kv_entries_sql(t),
        "cef": _cef_entries_sql(t),
        "iis_w3c": _iis_entries_sql(t),
    }
    whens = "\n  ".join(f"WHEN '{k}' THEN array_to_string({v}, ';')" for k, v in cases.items())
    return f"""CASE format
  {whens}
  ELSE 'line=' || {t} END"""


def parsed_host_sql(t: str) -> str:
    """Per-format host/IP field — oracle twin of t_parse_fields' coalesce."""
    kv_ip = (
        f"COALESCE(list_transform(list_filter(string_split_regex({t}, ',\\s*'), "
        f"p -> regexp_extract(p, '^([^=]+)=', 1) = 'ip'), "
        f"p -> regexp_replace(regexp_extract(p, '^[^=]+=(.*)$', 1), '^\"|\"$', '', 'g'))[1], '')"
    )
    iis_names = f"string_split_regex(trim(regexp_extract({t}, '#Fields:\\s*([^\\n]*)', 1)), '\\s+')"
    iis_vals = f"string_split_regex(trim(regexp_extract({t}, '\\n([^\\n]*)', 1)), '\\s+')"
    return f"""CASE format
  WHEN 'clf_common' THEN regexp_extract({t}, '^{CLF_COMMON_RE}$', 1)
  WHEN 'clf_combined' THEN regexp_extract({t}, '^{CLF_COMBINED_RE}$', 1)
  WHEN 'syslog_rfc3164' THEN regexp_extract({t}, '^{SYSLOG_3164_RE}$', 3)
  WHEN 'syslog_rfc5424' THEN regexp_extract({t}, '^{SYSLOG_5424_RE}$', 4)
  WHEN 'syslog_generic' THEN regexp_extract({t}, '^{SYSLOG_GENERIC_RE.lstrip('^')}$', 2)
  WHEN 'kv' THEN {kv_ip}
  WHEN 'cef' THEN COALESCE(regexp_extract({t}, 'src=(\\S+)', 1), '')
  WHEN 'json' THEN COALESCE(json_extract_string({t}, '$.remoteIP'),
                            json_extract_string({t}, '$.ClientIP'), '')
  WHEN 'json_multi' THEN COALESCE(json_extract_string({t}, '$.Records[0].sourceIPAddress'), '')
  WHEN 'iis_w3c' THEN COALESCE({iis_vals}[list_position({iis_names}, 'c-ip')], '')
  ELSE '' END"""


# --- dedup/text fragments ---------------------------------------------------


def sql_md5_long(x: str) -> str:
    return f"(('0x' || substr(md5({x}),1,15))::BIGINT)"


def sql_tokens(x: str, distinct: bool = True) -> str:
    base = f"string_split_regex(lower(trim({x})), '\\s+')"
    return f"list_distinct({base})" if distinct else base


def sql_shingles(x: str, n: int) -> str:
    """Distinct word n-gram list, guarded for docs shorter than n tokens
    (mirrors operators.dedup.shingles)."""
    toks = f"string_split_regex(lower(trim({x})), '\\s+')"
    if n <= 1:
        return f"list_distinct({toks})"
    grams = (
        f"list_distinct(list_transform(range(1, len({toks}) - {n} + 2), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' ')))"
    )
    return f"(CASE WHEN len({toks}) >= {n} THEN {grams} ELSE []::VARCHAR[] END)"


def minhash_band_union_sql(k: int, bands: int) -> str:
    """UNION ALL selecting (doc_id, band, bkey) per band from the ``sig``
    signature CTE."""
    r = k // bands
    selects = []
    for b in range(bands):
        key = " || '_' || ".join(f"CAST(mh{b * r + j} AS VARCHAR)" for j in range(r))
        selects.append(f"SELECT doc_id, {b} AS band, {key} AS bkey FROM sig")
    return " UNION ALL ".join(selects)


def plane_dot_sql(vec: str, plane: list[float]) -> str:
    """vec · plane as an explicit left-assoc chain — bit-identical to the
    engine's left-fold (both accumulate doubles in index order)."""
    return "(" + " + ".join(f"{vec}[{i + 1}]::DOUBLE * {x!r}" for i, x in enumerate(plane)) + ")"


def hyperplane_band_union_sql(
    vec: str,
    id_alias: str,
    src_sql: str,
    n_planes: int,
    bands: int,
    dim: int,
) -> str:
    """(id, band, bkey) per band via sign-bit keys over deterministic
    hyperplanes (mirrors operators.similarity.banded_signature_buckets)."""
    from .operators.similarity import deterministic_planes

    planes = deterministic_planes(n_planes, dim)
    r = n_planes // bands
    selects = []
    for b in range(bands):
        bits = " + ".join(
            f"(CASE WHEN {plane_dot_sql(vec, planes[b * r + j])} > 0 THEN {2 ** j} ELSE 0 END)"
            for j in range(r)
        )
        selects.append(f"SELECT {id_alias}, {b} AS band, ({bits}) AS bkey FROM ({src_sql})")
    return " UNION ALL ".join(selects)


def ivf_scores_sql(vec: str, codebook: list[list[float]]) -> str:
    """[s1, .., sC] centroid inner products as a SQL list literal of
    plane_dot_sql chains — bit-identical to the engine's literal folds."""
    return "[" + ", ".join(plane_dot_sql(vec, c) for c in codebook) + "]"


def ivf_assign_sql(vec: str, codebook: list[list[float]]) -> str:
    """1-based argmax cell: list_position returns the FIRST index of the
    max, matching Spark's array_position(s, array_max(s)) tie-break."""
    s = ivf_scores_sql(vec, codebook)
    return f"list_position({s}, list_aggregate({s}, 'max'))"


def ivf_probe_structs_sql(vec: str, codebook: list[list[float]]) -> str:
    """[{cell, s}] struct list to unnest for per-query probe ranking."""
    return "[" + ", ".join(
        f"struct_pack(cell := {i + 1}, s := {plane_dot_sql(vec, c)})"
        for i, c in enumerate(codebook)
    ) + "]"


def minhash_select_terms(hv: str = "hv", k: int = 8) -> list[str]:
    return [
        f"min((({a}*({hv}%{MERSENNE_P})+{b}))%{MERSENNE_P}) AS mh{i}"
        for i, (a, b) in enumerate(minhash_params(k))
    ]


def lang_score_sql(text: str, words: list[str]) -> str:
    arr = "[" + ",".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter({sql_tokens(text, False)}, t -> list_contains({arr}, t)))"


def lang_id_sql(text: str) -> str:
    """Marker-vote language id — same tie-breaking as functions.textfns."""
    expr = "'und'"
    best = "0"
    for code, words in sorted(LANG_MARKERS.items()):
        s = lang_score_sql(text, words)
        expr = f"CASE WHEN {s} > {best} THEN '{code}' ELSE {expr} END"
        best = f"greatest({s}, {best})"
    return expr


STOPWORD_ARR = "[" + ",".join(f"'{w}'" for w in STOPWORDS) + "]"
