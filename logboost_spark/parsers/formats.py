"""Multi-format log parsing as a Catalyst `when`-cascade.

The reference classifies each *file* with a fixed detector precedence
(IIS/W3C → multi-line JSON → JSON → CEF → CLF → syslog → KV → raw,
main.go:333-450) and then runs a per-format line parser. Here the unit is
one transcript turn's ``text``, so detection and extraction are per-row
column expressions; the router is a single ``when`` cascade over detector
predicates, evaluated in the same precedence order.

Extraction produces a uniform ``fields: map<string,string>`` column
(dynamic schemas don't exist in a DataFrame; the map is the columnar
equivalent of the reference's per-file header set — project
``fields['key']`` or pivot to columns at a sink). Column content mirrors
each reference parser:

* CLF (parsers/parse_clf.go:16-17): the exact common/combined regexes,
  one ``regexp_extract`` per named group.
* syslog (parsers/parse_syslog.go:16-18): RFC3164 / RFC5424 / generic.
* CEF (parsers/parse_cef.go:22-24,51): optional syslog prefix stripped,
  ``split(...,'\\|',8)`` into the 7 fixed headers + extension
  ``str_to_map``.
* KV (parsers/parse_kv.go:18): ``str_to_map`` + quote strip.
* IIS/W3C (parsers/parse_iis_w3c.go:15-54): ``#Fields:`` directive names
  zipped with the data row (space=W3C, comma=IIS).
* JSON / multi-line JSON / Azure blob (parsers/parse_json*.go): deep
  ``parent_child`` flatten with Go-style value stringification, a Java
  UDF (``jvm/JsonFlatten.java``, compiled from source on first use):
  recursive variable-shape JSON is not a static column expression, and
  Go's shortest float digits need JVM code. Its Python twin is
  ``oracle.flatten_json_line``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import jvm

FORMATS = [
    "iis_w3c",
    "json_multi",
    "json",
    "cef",
    "clf_combined",
    "clf_common",
    "syslog_rfc5424",
    "syslog_rfc3164",
    "syslog_generic",
    "kv",
    "raw",
]

# Reference regexes, translated to Java syntax (Go (?P<name>) → (name))
CLF_COMMON_RE = r'(.*?)\s(.*?)\s(.*?)\s\[(.*?)\]\s"(.*?)\s(.*?)\s(.*?)"\s(.*?)\s(.*)'
CLF_COMBINED_RE = r'(.*?)\s(.*?)\s(.*?)\s\[(.*?)\]\s"(.*?)\s(.*?)\s(.*?)"\s(.*?)\s(.*?)\s"(.*?)"\s"(.*)"'
SYSLOG_3164_RE = r"(<\d{1,5}>)([A-Za-z]{3}\s\d{2}\s\d{2}:\d{2}:\d{2})\s(?:<.+>\s)?(.*?)\s(.*)"
SYSLOG_5424_RE = r"(<\d{1,5}>)(\d)\s(\d{4}-\d{1,2}-\d{1,2}T\d{2}:\d{2}:\d{2}\.\d{3}Z)\s(?:<.+>\s)?(.*?)\s(.*)"
SYSLOG_GENERIC_RE = r"^([a-zA-Z]{3}\s{1,3}\d{1,2}\s\d{1,2}:\d{2}:\d{2})\s(?:<.+>\s)?([^\s].*?)\s(.*?)\[?(\d{0,6})\]?:\s(.*)"
KV_PAIR_RE = r'([^=\s]+)="?([^,]+?)"?(?:,|$)'

#: KV template knobs (reference parse_kv.go:18-21 builds the pair regex
#: from -separator/-delimiter, main.go:52-54; defaults '=' and ',')
KV_SEPARATOR_DEFAULT = "="
KV_DELIMITER_DEFAULT = ","


def kv_pair_re(separator: str = KV_SEPARATOR_DEFAULT,
               delimiter: str = KV_DELIMITER_DEFAULT) -> str:
    """The reference's KV pair regex template instantiated for a custom
    separator/delimiter (parse_kv.go:21:
    ``(?P<key>[^%v\\s]+)%v\"{0,1}(?P<value>[^%v]+)\"{0,1}%v?``).

    Single-character knobs only (ADVICE r06): the detection regex embeds
    the separator in a character CLASS while ``_kv``'s str_to_map splits
    on the literal SEQUENCE, so a multi-char value would make detection
    and parsing disagree — same shape as the reference template. Fail
    loudly instead of mis-parsing.
    """
    if len(separator) != 1 or len(delimiter) != 1:
        raise ValueError(
            f"kv separator/delimiter must be single characters, got "
            f"separator={separator!r} delimiter={delimiter!r}"
        )
    s, d = re.escape(separator), re.escape(delimiter)
    return rf'([^{s}\s]+){s}"?([^{d}]+?)"?(?:{d}|$)'

_CLF_COMMON_GROUPS = [
    "client", "identity", "user", "timestamp", "httpmethod",
    "httpresource", "httpversion", "httpstatus", "bytes",
]
_CLF_COMBINED_GROUPS = _CLF_COMMON_GROUPS + ["referer", "useragent"]


def _anchored(r: str) -> str:
    return "^" + r + "$"


def detect_format(
    text: Column,
    kv_separator: str = KV_SEPARATOR_DEFAULT,
    kv_delimiter: str = KV_DELIMITER_DEFAULT,
) -> Column:
    """The P11 router: detector precedence chain as a when-cascade.

    Each expensive (lazy-quantifier / unanchored) regex is gated behind a
    substring test STRICTLY IMPLIED by the regex itself (CEF needs the
    literal ``CEF:``, CLF needs ``[`` and ``"``, syslog RFC forms start
    with ``<``, KV needs ``=``), so raw lines — the common case in a
    transcript workload — fail on cheap `contains` probes instead of
    walking seven backtracking regexes. Codegen ANDs short-circuit, and
    an implied gate can never change the routing decision (verified by
    t_parse_formats which covers every branch, plus a gate-vs-ungated
    property test in tests/test_parsers.py).
    """
    t = F.trim(text)
    clf_gate = t.contains("[") & t.contains('"')
    syslog_pfx = t.startswith("<")
    kv_re = kv_pair_re(kv_separator, kv_delimiter)
    return (
        F.when(t.startswith("#Fields:"), F.lit("iis_w3c"))
        .when(t.startswith('{"Records":['), F.lit("json_multi"))
        .when(t.startswith("{") & t.endswith("}"), F.lit("json"))
        .when(t.contains("CEF:") & t.rlike(r"(^|\s|>)CEF:\d+\|"), F.lit("cef"))
        .when(clf_gate & t.rlike(_anchored(CLF_COMBINED_RE)), F.lit("clf_combined"))
        .when(clf_gate & t.rlike(_anchored(CLF_COMMON_RE)), F.lit("clf_common"))
        .when(syslog_pfx & t.rlike("^" + SYSLOG_5424_RE), F.lit("syslog_rfc5424"))
        .when(syslog_pfx & t.rlike("^" + SYSLOG_3164_RE), F.lit("syslog_rfc3164"))
        .when(t.rlike(SYSLOG_GENERIC_RE), F.lit("syslog_generic"))
        .when(t.contains(kv_separator) & t.rlike(kv_re + r".*" + kv_re), F.lit("kv"))
        .otherwise(F.lit("raw"))
    )


def _grok_map(text: Column, pattern: str, groups: list[str]) -> Column:
    """regexp per named group → map<string,string> (misses → absent)."""
    return F.map_from_arrays(
        F.array(*[F.lit(g) for g in groups]),
        F.array(*[F.regexp_extract(text, _anchored(pattern), i + 1) for i in range(len(groups))]),
    )


def _clf(text: Column, combined: bool) -> Column:
    groups = _CLF_COMBINED_GROUPS if combined else _CLF_COMMON_GROUPS
    return _grok_map(text, CLF_COMBINED_RE if combined else CLF_COMMON_RE, groups)


def _syslog(text: Column, variant: str) -> Column:
    if variant == "rfc3164":
        return _grok_map(text, SYSLOG_3164_RE, ["PRI", "TIMESTAMP", "HOST", "MESSAGE"])
    if variant == "rfc5424":
        return _grok_map(
            text, SYSLOG_5424_RE, ["PRI", "VERSION", "TIMESTAMP", "HOST", "MESSAGE"]
        )
    return _grok_map(
        text, SYSLOG_GENERIC_RE.lstrip("^"), ["TIMESTAMP", "HOST", "PROCESS", "PROCID", "MESSAGE"]
    )


_CEF_HEADERS = [
    "CEF_VERSION", "CEF_VENDOR", "CEF_PRODUCT", "CEF_PRODUCT_VERSION",
    "CEF_EVENT_ID", "CEF_EVENT_NAME", "CEF_EVENT_SEVERITY",
]

# CEF syslog-prefix variants (parse_cef.go:22-24, identifySyslogHeader
# :366-387): 0 = bare CEF, 1 = RFC3164 prefix, 2 = RFC5424 prefix,
# 3 = generic-syslog prefix — detected in that order.
CEF_3164_RE = r"(<\d{1,5}>)([A-Za-z]{3}\s\d{2}\s\d{2}:\d{2}:\d{2})\s(?:<.+>\s)?(.*?)\s(CEF.*)"
CEF_5424_RE = r"(<\d{1,5}>)(\d)\s(\d{4}-\d{1,2}-\d{1,2}T\d{2}:\d{2}:\d{2}\.\d{3}Z)\s(?:<.+>\s)?(.*?)\s(CEF.*)"
CEF_GENERIC_RE = r"([a-zA-Z]{3}\s{1,3}\d{1,2}\s\d{1,2}:\d{2}:\d{2})\s(?:<.+>\s)?(.*?)\s(.*?)\[?(\d{0,6})\]?:\s(CEF.*)"

def _empty_map():
    # built lazily: a module-level Column needs a SparkContext at import
    return F.map_from_arrays(F.array(), F.array())


def _cef_prefix(text: Column) -> Column:
    """Syslog-prefix fields of a CEF line as columns (parse_cef.go:
    340-358 appends the prefix match groups before the CEF headers)."""
    t = F.trim(text)
    return (
        F.when(t.startswith("CEF"), _empty_map())
        .when(
            t.rlike("^" + CEF_3164_RE),
            F.map_from_arrays(
                F.array(F.lit("PRI"), F.lit("TIMESTAMP"), F.lit("HOST")),
                F.array(*[F.regexp_extract(t, "^" + CEF_3164_RE + "$", i) for i in (1, 2, 3)]),
            ),
        )
        .when(
            t.rlike("^" + CEF_5424_RE),
            F.map_from_arrays(
                F.array(F.lit("PRI"), F.lit("VER"), F.lit("TIMESTAMP"), F.lit("HOST")),
                F.array(*[F.regexp_extract(t, "^" + CEF_5424_RE + "$", i) for i in (1, 2, 3, 4)]),
            ),
        )
        .when(
            t.rlike("^" + CEF_GENERIC_RE),
            F.map_from_arrays(
                F.array(F.lit("TIMESTAMP"), F.lit("HOST"), F.lit("PROCESS"), F.lit("PROCID")),
                F.array(*[F.regexp_extract(t, "^" + CEF_GENERIC_RE + "$", i) for i in (1, 2, 3, 4)]),
            ),
        )
        .otherwise(_empty_map())
    )


def _cef(text: Column) -> Column:
    """CEF syslog-prefix fields + headers + extension k=v pairs
    (parsers/parse_cef.go:270-364)."""
    body = F.regexp_extract(text, r"(CEF:.*)$", 1)
    parts = F.split(body, r"\|", 8)
    version = F.regexp_replace(F.get(parts, 0), "^CEF:", "")
    headers = F.map_from_arrays(
        F.array(*[F.lit(h) for h in _CEF_HEADERS]),
        F.array(version, *[F.coalesce(F.get(parts, i), F.lit("")) for i in range(1, 7)]),
    )
    # extension: space-delimited k=v (values may contain spaces — the
    # reference splits on the next "key=" token; str_to_map with a
    # lookahead split reproduces that)
    ext = F.coalesce(F.get(parts, 7), F.lit(""))
    ext_map = F.str_to_map(ext, F.lit(r"\s+(?=\S+=)"), F.lit("="))
    return F.map_concat(_cef_prefix(text), headers, F.coalesce(ext_map, _empty_map()))


def _kv(
    text: Column,
    separator: str = KV_SEPARATOR_DEFAULT,
    delimiter: str = KV_DELIMITER_DEFAULT,
) -> Column:
    """k=v pairs, delimiter-separated, optional quotes — the reference's
    configurable template (parse_kv.go:18-21; -separator/-delimiter
    flags main.go:52-54), defaults k=v comma-delimited."""
    m = F.str_to_map(
        text,
        F.lit(re.escape(delimiter) + r"\s*"),
        F.lit(re.escape(separator)),
    )
    return F.transform_values(m, lambda _, v: F.regexp_replace(v, r'^"|"$', ""))


def _iis_w3c(text: Column) -> Column:
    """#Fields directive + first data row; comma=IIS, space=W3C
    (parse_iis_w3c.go:15-54)."""
    header = F.regexp_extract(text, r"#Fields:\s*([^\n]*)", 1)
    is_iis = header.contains(",")
    delim = F.when(is_iis, F.lit(",\\s*")).otherwise(F.lit("\\s+"))
    names = F.split(F.trim(header), delim)
    data = F.trim(F.regexp_extract(text, r"\n([^\n]*)", 1))
    vals = F.split(data, delim)
    ok = (F.size(names) == F.size(vals)) & (F.size(names) > 0)
    return F.when(ok, F.map_from_arrays(names, vals)).otherwise(
        F.map_from_arrays(F.array(F.lit("line")), F.array(data))
    )


# --- JSON deep flatten (P3/P4/P5): a JVM function ---------------------------

JSON_FLATTEN = "json_flatten"


def _register_json_flatten(spark) -> None:
    """Put ``jvm/JsonFlatten.java`` in this session's function registry
    unless it holds it already: a new session, or a new JVM in the same
    process, registers again."""
    if spark.catalog.functionExists(JSON_FLATTEN):
        return
    spark.sql(f"ADD JAR '{jvm.jar(spark)}'")
    spark.udf.registerJavaFunction(
        JSON_FLATTEN,
        "logboost_spark.jvm.JsonFlatten",
        T.MapType(T.StringType(), T.StringType()),
    )


def parse_stage(
    df: DataFrame,
    kv_separator: str = KV_SEPARATOR_DEFAULT,
    kv_delimiter: str = KV_DELIMITER_DEFAULT,
) -> DataFrame:
    """Append ``format`` + ``fields`` columns parsed from ``text`` (the
    P1-P11 parse stage). The plan is JVM code only: JSON rows go through
    the ``json_flatten`` JVM function, which the ``when`` evaluates on
    those rows alone; a line it rejects keeps ``{"line": text}``.
    """
    _register_json_flatten(df.sparkSession)
    t = F.col("text")
    df = df.withColumn("format", detect_format(t, kv_separator, kv_delimiter))
    fmt = F.col("format")
    is_json = fmt.isin("json", "json_multi")
    empty = F.map_from_arrays(
        F.array(F.lit("line")), F.array(F.coalesce(t, F.lit("")))
    )
    fields = (
        F.when(fmt == "iis_w3c", _iis_w3c(t))
        .when(is_json, F.call_function(JSON_FLATTEN, t))
        .when(fmt == "cef", _cef(t))
        .when(fmt == "clf_combined", _clf(t, combined=True))
        .when(fmt == "clf_common", _clf(t, combined=False))
        .when(fmt == "syslog_rfc5424", _syslog(t, "rfc5424"))
        .when(fmt == "syslog_rfc3164", _syslog(t, "rfc3164"))
        .when(fmt == "syslog_generic", _syslog(t, "generic"))
        .when(fmt == "kv", _kv(t, kv_separator, kv_delimiter))
        .otherwise(empty)
    )
    return df.withColumn("fields", F.coalesce(fields, empty))

