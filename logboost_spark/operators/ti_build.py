"""Threat-intel table build — the reference's second entry point
(-buildti/-updateti, main.go:503-515 → helpers/threatIntel.go:117-156).

The reference downloads ~97 HTTP feeds into text files, then per line:
regex-extract an IP, skip comments/blank/private, insert-or-ignore into
SQLite (IngestFile, threatIntel.go:272-313). VPN/DC CIDR lists are
expanded IP-by-IP (IPNetGenerator, ipNetGen.go:22-69).

Spark shape: read feed fixture text → one regexp extract → private
filter → dropDuplicates → a (ip, feed_name, category) table. CIDR lists
are not expanded IP by IP: datacenter membership is the ``is_dc``
column of the ``geo_merged`` interval table, probed by the broadcast
range join (operators/geo_join.py).
The SQLite star schema (ips/feeds/categories with integer FKs,
threatIntel.go:195-206) collapses into the flat table — the dimension
normalization bought SQLite disk savings, not semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ip import IPV4_RE, ipv4_to_long, is_private_ipv4_long


def ingest_intel_lines(
    lines: DataFrame,
    feed_name: str,
    category: str,
) -> DataFrame:
    """One feed file's ``line`` rows → deduped (ip, feed_name, category)
    rows.

    Mirrors ingestRecord (threatIntel.go:286-313): skip blank/#-comment
    lines, first IPv4 per line, skip private IPs.
    """
    t = F.trim(F.col("line"))
    ip = F.regexp_extract(t, "(" + IPV4_RE + ")", 1)
    return (
        lines.filter((F.length(t) > 0) & ~t.startswith("#"))
        .select(ip.alias("ip"))
        .filter(F.length("ip") > 0)
        .filter(~is_private_ipv4_long(ipv4_to_long(F.col("ip"))))
        .dropDuplicates(["ip"])
        .select(
            "ip", F.lit(feed_name).alias("feed_name"), F.lit(category).alias("category")
        )
    )


def build_ti_table(feeds: list[tuple[str, str, DataFrame]]) -> DataFrame:
    """All feeds → the flat TI table (insert-or-ignore = dropDuplicates)."""
    from functools import reduce

    parts = [ingest_intel_lines(df, name, cat) for name, cat, df in feeds]
    return reduce(DataFrame.unionByName, parts).dropDuplicates(
        ["ip", "feed_name", "category"]
    )


# --- summaries (A2-A4, threatIntel.go:48-115) -------------------------------


def summarize_ti(ti: DataFrame) -> DataFrame:
    """A2: distinct indicator count."""
    return ti.agg(F.countDistinct("ip").alias("distinct_ips"))


def ti_category_counts(ti: DataFrame) -> DataFrame:
    """A3: per-category row counts — the verified aggregate shape."""
    return ti.groupBy("category").agg(F.count(F.lit(1)).alias("cnt"))


def ti_feed_listing(ti: DataFrame) -> DataFrame:
    """A4: feed listing with indicator counts."""
    return ti.groupBy("feed_name").agg(
        F.countDistinct("ip").alias("distinct_ips"), F.count(F.lit(1)).alias("rows")
    )
